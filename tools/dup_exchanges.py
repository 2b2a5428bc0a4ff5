#!/usr/bin/env python3
"""List exchanges that differ only by inferred null filters.

Reads PLANS.txt (the graft.Explain audit) and, in each query's final
plan, compares every pair of exchange subtrees twice:

  written -- the subtree text with expression ids, plan ids, codegen
             stage ids and query-stage numbers removed;
  loose   -- the same, also without `isnotnull(...)` conjuncts of
             Filter nodes (a Filter left empty is dropped) and without
             a scan's `DataFilters`/`PushedFilters` lists.

A pair that is equal loose but not written is one computation planned
twice: the optimizer inferred `isnotnull` on one consumer's copy only
(from a join key or a comparison), so AQE cannot reuse the exchange and
the subtree runs twice. An explicit null filter on the shared frame
makes the copies equal again.

Usage: tools/dup_exchanges.py [PLANS.txt]
Prints one line per pair and a summary line; always exits 0 (a report).
"""
import re
import sys

NODE = re.compile(r"^[ :|+\-]*")
EXCHANGE = re.compile(r"^(?:\*\(\d+\) )?(?:Exchange|BroadcastExchange) ")


def split_tree(line):
    """(column where the node text starts, node text)."""
    m = NODE.match(line)
    return m.end(), line[m.end():]


def strip_ids(text):
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r", \[plan_id=\d+\]", "", text)
    text = re.sub(r"^\*\(\d+\) ", "", text)
    return re.sub(r"^(\w*QueryStage) \d+", r"\1", text)


def conjuncts(cond):
    """Top-level AND operands of a condition, outer parentheses removed."""
    cond = cond.strip()
    while cond.startswith("(") and closing(cond, 0) == len(cond) - 1:
        cond = cond[1:-1].strip()
    parts, depth, start, i = [], 0, 0, 0
    while i < len(cond):
        c = cond[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and cond.startswith(" AND ", i):
            parts.append(cond[start:i])
            start = i + 5
            i += 4
        i += 1
    parts.append(cond[start:])
    if len(parts) == 1:
        return parts
    return [p for part in parts for p in conjuncts(part)]


def closing(s, i):
    """Index of the parenthesis closing the one opened at s[i]."""
    depth = 0
    for j in range(i, len(s)):
        depth += {"(": 1, ")": -1}.get(s[j], 0)
        if depth == 0:
            return j
    return -1


def loosen(text):
    """Drop inferred null filters; None when nothing of the node is left."""
    if text.startswith("Filter "):
        kept = [c for c in conjuncts(text[len("Filter "):])
                if not c.strip().startswith("isnotnull(")]
        return "Filter " + " AND ".join(kept) if kept else None
    if text.startswith("FileScan "):
        for key in ("DataFilters", "PushedFilters"):
            text = re.sub(key + r": \[.*?\](?=, \w+: )", key + ": []", text)
    return text


def final_plans(lines):
    """{query: [plan lines]} of each section's final AQE plan."""
    plans, name, body, inside = {}, None, [], False
    for line in lines:
        m = re.match(r"^===== (\S+) =====$", line)
        if m:
            name, body, inside = m.group(1), [], False
            plans[name] = body
        elif name and "== Final Plan ==" in line:
            inside = True
        elif name and "== Initial Plan ==" in line:
            inside = False
        elif inside:
            body.append(line.rstrip("\n"))
    return plans


def exchanges(plan):
    """[(line index, written form, loose form)] per exchange subtree."""
    nodes = [split_tree(l) for l in plan]
    out = []
    for i, (col, text) in enumerate(nodes):
        if not EXCHANGE.match(text):
            continue
        sub = [(col, text)]
        for c, t in nodes[i + 1:]:
            if c <= col:
                break
            sub.append((c, t))
        written = [(c - col, strip_ids(t)) for c, t in sub]
        loose = [(c, l) for c, l in ((c, loosen(t)) for c, t in written)
                 if l is not None]
        # a dropped Filter shifts its subtree left by one level: compare
        # the loose form by node order and text, not by column
        out.append((i, written, [t for _, t in loose]))
    return out


def pairs(plan):
    ex = exchanges(plan)
    for a in range(len(ex)):
        for b in range(a + 1, len(ex)):
            (ia, wa, la), (ib, wb, lb) = ex[a], ex[b]
            if la == lb and wa != wb:
                yield ia, ib, wa[0][1]


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.txt"
    with open(path) as f:
        plans = final_plans(f)
    found = {}
    for q in sorted(plans):
        for ia, ib, head in pairs(plans[q]):
            found[q] = found.get(q, 0) + 1
            print(f"{q}: final-plan lines {ia + 1} and {ib + 1}: {head[:100]}")
    total = sum(found.values())
    print(f"dup_exchanges: {total} pair(s) in {len(found)} quer"
          f"{'y' if len(found) == 1 else 'ies'} differ only by inferred "
          f"null filters" + (f": {', '.join(sorted(found))}" if found else ""))


if __name__ == "__main__":
    main()
