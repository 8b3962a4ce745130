"""The query registry without a crawl: importing and registering the
queries runs no refsim, ``oracle_sql()`` builds every crawl oracle from
the refsim alone without starting Spark, and every crawl query has one.
Runs in a fresh interpreter so no other test's Spark session can hide a
session the registry would start."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import json

import duckdb
from pyspark import SparkContext

import __spark_entry__ as E
from crawlspark.refsim import RefSim

run = RefSim.run
RefSim.run = None  # registration must not run the refsim
queries = list(E.queries())
RefSim.run = run
oracles = E.oracle_sql()
from crawlspark.queries import crawlq

crawl = [*crawlq.QUERIES, "q93_crawl_stream_rates"]
con = duckdb.connect()
rows = {n: len(con.execute(oracles[n]).fetchall()) for n in crawl if n in oracles}
print(json.dumps({
    "queries": queries, "oracles": list(oracles), "crawl": crawl,
    "rows": rows, "spark": SparkContext._active_spark_context is not None,
}))
"""


def test_crawl_oracles_build_without_spark():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, capture_output=True,
        text=True, timeout=600, check=True,
    )
    reg = json.loads(out.stdout.splitlines()[-1])
    assert not reg["spark"]
    assert [n for n in reg["crawl"] if n not in reg["oracles"]] == []
    assert set(reg["oracles"]) <= set(reg["queries"])
    # every crawl oracle reads a refsim table that exists and has rows
    assert all(reg["rows"][n] > 0 for n in reg["crawl"])


def test_no_oracle_column_is_hugeint_or_decimal():
    """Registry lint: DuckDB types an unguarded integer sum or product
    HUGEINT (Arrow decimal128) where Spark types it LONG, so the two
    sides' values hash apart (q133's old failure mode). DESCRIBE every
    oracle's output over the sf0.001 views; no column may be HUGEINT
    or DECIMAL."""
    import duckdb

    import __spark_entry__ as E
    from crawlspark.queries.relational import _write_seed_files
    from tests.test_curation import SF

    _write_seed_files()  # the q35/q36 oracles scan these files
    con = duckdb.connect()
    for p in sorted(Path(SF).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracles = E.oracle_sql()
    wide = {
        (name, col, typ)
        for name, sql in oracles.items()
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if typ.startswith(("HUGEINT", "DECIMAL"))
    }
    assert len(oracles) > 150
    assert wide == set()
