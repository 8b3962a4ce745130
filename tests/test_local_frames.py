"""Driver-built frames are JVM LocalRelations (session.local_frame):
the same schema, nullability included, and the same rows as the
pickled createDataFrame path; reading an empty catalog table runs no
Spark job, and the planner drops an anti join against it."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from crawlspark.catalog import Catalog
from crawlspark.gen import SEEDS_SCHEMA, host_config_df, seeds_df
from crawlspark.schemas import CLOCK_STATE, HOST_CONFIG, METRICS, TABLE_SCHEMAS
from crawlspark.session import local_frame
from crawlspark.synth import UNIT

PKG = Path(__file__).resolve().parents[1] / "crawlspark"


def _host_rows(g):
    return [
        (g.host(i), g.robots_rules(i), g.crawl_delay_ms(i), g.token_capacity(i),
         g.refill_per_cycle(i), g.site_priority(i))
        for i in range(g.n_sites)
    ]


CASES = {
    "seeds": (SEEDS_SCHEMA, [(i, u) for i, u in enumerate(UNIT.seeds())]),
    "host_config": (HOST_CONFIG, _host_rows(UNIT)),
    "metrics": (METRICS, [(3, 1, 10, 2, 5, 4, 0), (3, -1, 0, 2, 5, 4, 1234)]),
    "clock_state": (CLOCK_STATE, [(17, 3)]),
    **{f"empty_{t}": (s, []) for t, s in TABLE_SCHEMAS.items()},
}


def _same_local_frame(spark, got, schema, rows):
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    assert got._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    schema, rows = CASES[case]
    _same_local_frame(spark, local_frame(spark, rows, schema), schema, rows)


def test_gen_frames_are_local(spark):
    _same_local_frame(spark, seeds_df(spark, UNIT), *CASES["seeds"])
    _same_local_frame(spark, host_config_df(spark, UNIT), *CASES["host_config"])


def _new_jobs(spark, action):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    action()
    return set(tracker.getJobIdsForGroup(None)) - before


def test_empty_table_reads_run_no_job_and_prune_joins(spark):
    cat = Catalog(spark, tempfile.mkdtemp())
    # the probe sees a job when one runs: the pickled path starts one
    assert _new_jobs(
        spark, spark.createDataFrame([], TABLE_SCHEMAS["resolved"]).collect
    )
    assert _new_jobs(spark, cat.read("resolved").collect) == set()

    keys = ["url_hash", "url_norm"]
    frontier = spark.range(100).selectExpr(
        "id AS url_hash", "CAST(id AS STRING) AS url_norm"
    )
    anti = frontier.join(cat.read("resolved").select(*keys), keys, "left_anti")
    plan = anti._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert anti.count() == 100


def test_create_dataframe_only_at_known_sites():
    """Every driver-built frame on the crawl path goes through
    local_frame. The remaining createDataFrame calls are on the
    headline-query path (textstats, textq), outside the crawl."""
    sites = sorted(
        (str(p.relative_to(PKG)), s.count("createDataFrame("))
        for p in PKG.rglob("*.py")
        for s in [p.read_text()]
        if "createDataFrame(" in s
    )
    assert sites == [
        ("operators/textstats.py", 3),
        ("queries/textq.py", 1),
        ("session.py", 2),
    ]
    # both session.py occurrences (docstring and call) are inside
    # local_frame, the module's last function
    head, body = (PKG / "session.py").read_text().split("def local_frame(")
    assert "createDataFrame(" not in head and "\ndef " not in body
