"""Compares the analytics workload's query results with DuckDB running each
query's oracle SQL over the same generated tables, the way the engine's
correctness gate does: sorted column names, dtypes, row count, and exact
values in order (floats bit for bit).

    python3 perfbench/oracle.py <results dir>

The results dir holds one parquet directory per query and `oracle.json`
({"data": <tables dir>, "sql": {query: sql}}), both written by the
benchmark's JVM. Prints one line per query; exits 1 if any differs.
"""
import json
import os
import sys

import duckdb
import numpy as np


def equal(a, b):
    if a.dtype.kind == "f" and b.dtype.kind == "f":
        return np.array_equal(a, b, equal_nan=True)
    if a.dtype == object or b.dtype == object:
        return all(x == y or (x is None and y is None) or
                   (isinstance(x, float) and isinstance(y, float) and
                    np.isnan(x) and np.isnan(y))
                   for x, y in zip(a.tolist(), b.tolist()))
    return np.array_equal(a, b)


def compare(results):
    """Returns {query: None if equal, else what differs}."""
    with open(os.path.join(results, "oracle.json")) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in sorted(os.listdir(spec["data"])):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{spec['data']}/{t}/*.parquet')")
    verdict = {}
    for name, sql in sorted(spec["sql"].items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a missing result or an oracle error
            verdict[name] = f"error: {str(e)[:200]}"
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            verdict[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdict[name] = f"rows {len(got)} != {len(want)}"
        else:
            bad = [c for c in got.columns
                   if str(got[c].dtype) != str(want[c].dtype)
                   or not equal(got[c].values, want[c].values)]
            verdict[name] = f"columns differ: {bad}" if bad else None
        if verdict[name] is None and len(got) == 0:
            verdict[name] = "empty result"
    return verdict


def main():
    verdict = compare(sys.argv[1])
    for name, why in verdict.items():
        print(f"{'ok  ' if why is None else 'FAIL'} {name}" + (f": {why}" if why else ""))
    sys.exit(0 if all(v is None for v in verdict.values()) else 1)


if __name__ == "__main__":
    main()
