#!/usr/bin/env python3
"""Median and spread of benchmark results over seeds.

Usage: python3 perfbench/summarize.py <runs.jsonl>...

Each input line is one run: {"seed": n, "secs": wall seconds of the
whole command, "res": <the JSON line run.py printed last>}. For every
metric this prints the median over the runs and the spread: the
distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median.
"""
import json
import statistics
import sys


def summarize(path):
    runs = [json.loads(ln) for ln in open(path) if ln.strip()]
    print(f"== {path}: {len(runs)} runs, "
          f"correct {sum(r['res']['correct'] for r in runs)}/{len(runs)}, "
          f"median run {statistics.median(r['secs'] for r in runs):.0f} s")
    names = list(runs[0]["res"]["metrics"])
    for n in names:
        vs = [r["res"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        unit = runs[0]["res"]["metrics"][n]["unit"]
        print(f"  {n:<38} median {med:>12.6g} {unit:<8} spread {spread:6.3f}")


if __name__ == "__main__":
    for p in sys.argv[1:]:
        summarize(p)
