"""Compare the benchmark's correctness dump with the DuckDB oracle.

The JVM side writes, for every query of the workload, its result as one
parquet file under <check_dir>/<query>/ and the query's oracle SQL
(SparkEntry.oracleSqlFor on the same corpus) into
<check_dir>/oracle_sql.json. Each oracle runs in DuckDB over views of
the corpus tables. A query passes when the column names (sorted), the
row count, each column's dtype and every value in emitted row order
are equal -- the comparison the library's own gate makes.
"""
import glob
import json
import os

import duckdb

# the query raised before writing; the run already counts that failure
NO_RESULT = "no result written"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(corpus_dir, check_dir, queries):
    """{query: None if it matches the oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # keep any spill inside the run's directory
    tmp = os.path.join(check_dir, "duckdb_tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle_path = os.path.join(check_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    out = {}
    for name in queries:
        if name not in oracle:
            out[name] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            out[name] = NO_RESULT
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetch_df()
            exp = con.execute(oracle[name]).fetch_df()
        except Exception as e:  # a broken oracle or result is a failure
            out[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        out[name] = _diff(got, exp)
    con.close()
    return out


def _diff(got, exp):
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got[gc].reset_index(drop=True)
    e = exp[ec].reset_index(drop=True)
    for c in gc:
        if str(g[c].dtype) != str(e[c].dtype):
            return f"dtype[{c}] {g[c].dtype} != {e[c].dtype}"
    if len(g):
        neq = (g != e) & ~(g.isna() & e.isna())
        if neq.any().any():
            bad = neq.any(axis=1)
            return f"{int(bad.sum())} mismatched rows; first at {bad.idxmax()}"
    return None
