"""Driver-mimic correctness harness.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the SQL on DuckDB over the same parquet
views, then compares row-count + column-name set + order-insensitive
values (floats to 1e-9 after in-query rounding). This is a local
stand-in for the driver's CORRECTNESS_r{N}.json gate so query/oracle
pairs can be iterated quickly.

A crawl query's finished crawl (``crawlq.scenario``, memoized per
preset) is run and timed on its own before the query, so each line
reports a ``crawl`` time (the first reader of a preset pays it, later
readers show ~0) apart from the ``query`` time.

Usage: python tools/check_oracle.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, list):
        return tuple(canon_value(x) for x in v)
    return v


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(canon_value(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


def crawl_of(name):
    """(preset, sidecar) of the scenario crawl a query reads, or None."""
    from crawlspark.queries import crawlq
    from crawlspark.synth import UNIT

    if name in crawlq.CRAWLS:
        return crawlq.CRAWLS[name].preset, crawlq.CRAWLS[name].sidecar
    if name == "q93_crawl_stream_rates":  # streams the UNIT crawl's log
        return UNIT, "bloom"
    return None


def took(t_crawl, t0):
    crawl = "-" if t_crawl is None else f"{t_crawl:.1f}s"
    return f"crawl {crawl}, query {time.time() - t0:.1f}s"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    import __spark_entry__ as E
    from crawlspark.queries.crawlq import scenario
    from crawlspark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t_crawl = None
        try:
            crawl = crawl_of(name)
            if crawl is not None:
                t0 = time.time()
                scenario(spark, *crawl)
                t_crawl = time.time() - t0
            t0 = time.time()
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, {took(t_crawl, t0)})")
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
        # Representation check: the driver's value-hash distinguishes
        # int64 from float64 (r1 q53: DuckDB sum(BIGINT)→HUGEINT→float64
        # hash-mismatched Spark's LONG with numerically equal values).
        # Flag any column where one side yields int and the other float.
        repr_bad = []
        for sr, dr in zip(s_canon[:50], d_canon[:50]):
            for i, (a, b) in enumerate(zip(sr, dr)):
                kinds = {type(a), type(b)}
                if kinds == {int, float}:
                    repr_bad.append(s_sorted_cols[i])
        if repr_bad:
            print(f"FAIL {name}: int/float representation mismatch in {sorted(set(repr_bad))}")
            n_fail += 1
        elif s_sorted_cols != d_sorted_cols:
            print(f"FAIL {name}: columns {s_sorted_cols} != {d_sorted_cols}")
            n_fail += 1
        elif len(s_canon) != len(d_canon):
            print(f"FAIL {name}: rowcount {len(s_canon)} != {len(d_canon)}")
            n_fail += 1
        elif s_canon != d_canon:
            diff = [
                (a, b) for a, b in zip(s_canon, d_canon) if a != b
            ][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_canon)} rows, {took(t_crawl, t0)})")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
