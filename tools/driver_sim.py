"""Exact driver-environment simulation for the correctness gate.

tools/check_oracle.py runs in OUR session (native jar on the
classpath, repo CWD, tuned confs). The external driver instead builds
its own stock SparkSession from a foreign working directory and
imports __spark_entry__ by path — a different environment in exactly
the ways that have bitten before (worker sys.path, session confs,
jarless fallbacks). This harness reproduces that environment:

- stock ``SparkSession.builder.master("local[32]")`` — NO crawlspark
  jar, NO pre-tuned confs beyond shuffle partitions, default TZ;
- process CWD switched to a temp dir before any Spark/crawlspark
  import;
- __spark_entry__ loaded from its file path (not the CWD);
- every queries()/oracle_sql() pair compared like the driver does
  (row count / column names / order-insensitive canonical values).

Usage: python tools/driver_sim.py [sf_dir] [name_filter ...]
(defaults to sf0.01 and the first 50 registry entries + all oracled
tail queries).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    # foreign CWD before anything imports
    os.chdir(tempfile.mkdtemp(prefix="driver-sim-cwd-"))

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as E

    # the one comparator, by absolute path (the CWD is foreign by now)
    sys.path.insert(0, str(REPO / "tools"))
    from check_oracle import TABLES, canon_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # smoke: the flagship entry
    n_entry = E.entry(spark).count()
    print(f"entry(): {n_entry} rows")

    qs, oracles = E.queries(), E.oracle_sql()
    names = list(qs)
    run_set = set(names[:50]) | {n for n in names if n in oracles}
    n_pass = n_fail = 0
    for name in names:
        if name not in run_set:
            continue
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:200]}")
            n_fail += 1
            continue
        s_canon, s_sorted_cols = canon_rows(s_cols, s_rows)
        d_canon, d_sorted_cols = canon_rows(d_cols, d_rows)
        repr_bad = []
        for sr, dr in zip(s_canon[:50], d_canon[:50]):
            for i, (a, b) in enumerate(zip(sr, dr)):
                if {type(a), type(b)} == {int, float}:
                    repr_bad.append(s_sorted_cols[i])
        if repr_bad:
            print(f"FAIL {name}: int/float mismatch in {sorted(set(repr_bad))}")
            n_fail += 1
        elif s_sorted_cols != d_sorted_cols:
            print(f"FAIL {name}: columns {s_sorted_cols} != {d_sorted_cols}")
            n_fail += 1
        elif s_canon != d_canon:
            diff = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:2]
            print(f"FAIL {name}: values differ ({len(s_canon)} vs {len(d_canon)} rows); first: {str(diff)[:300]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_canon)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
