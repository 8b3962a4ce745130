"""The engine's session window (CrawlEngine._tuned) on a graph above the
unit tier: AQE is off while an engine call runs, the caller's confs
come back exactly, and no call leaves behind a cache it made — the
early-return cycle that finds nothing to schedule included."""

from __future__ import annotations

import tempfile

from crawlspark.engine import UNIT_TIER_PAGES_MAX, CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import GraphConfig

# 5 × 1000 pages is just above the unit tier. Depth 1 and a frontier
# cap of 8 drain the crawl in three cycles, two of them with clock
# sweeps (which read the cached queued frame); cycle 4 schedules
# nothing and takes the early return.
G = GraphConfig(n_sites=5, max_pages=1000, batch_size=16, max_cycles=8,
                max_depth=1, frontier_cap=8)
CONFS = {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "5"}


def test_window_restores_confs_and_releases_caches(spark):
    assert G.n_sites * G.max_pages > UNIT_TIER_PAGES_MAX
    conf = spark.conf
    saved = {k: conf.get(k) for k in CONFS}
    jsc = spark.sparkContext._jsc

    def confs():
        return {k: conf.get(k) for k in CONFS}

    def cached():
        return set(jsc.getPersistentRDDs().keys())

    try:
        for k, v in CONFS.items():
            conf.set(k, v)
        eng = CrawlEngine(spark, EngineConfig(graph=G, warehouse=tempfile.mkdtemp()))
        with eng._tuned():
            # AQE off at every tier; the width clamp is unit-tier only
            assert confs() == {**CONFS, "spark.sql.adaptive.enabled": "false"}
        assert confs() == CONFS

        # a call leaks a cache iff it leaves an RDD persisted that was
        # not before it; RDDs other tests left behind may be dropped
        # (by Spark's ContextCleaner) at any point, so no count is exact
        before = cached()
        eng.bootstrap()
        assert confs() == CONFS
        assert cached() <= before, "bootstrap leaked a cache"
        stats = []
        for c in range(1, G.max_cycles + 1):
            before = cached()
            stats.append(eng.run_cycle(c))
            assert confs() == CONFS
            assert cached() <= before, f"cycle {c} leaked a cache"
            if stats[-1]["stop"]:
                break
        assert [s["scheduled"] > 0 for s in stats] == [True, True, True, False]

        ref = RefSim(G).run()
        assert ref.evictions  # the sweeps ran
        got = [
            (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
             r["seq"], r["depth"], r["attempt"], r["ok"])
            for r in eng.crawl_order().collect()
        ]
        assert got == [tuple(t) for t in ref.order]
        assert {
            r["url_norm"]: r["first_cycle"] for r in eng.seen_set().collect()
        } == ref.seen
        ev = sorted(
            (r["url_norm"], r["cycle_id"], r["lap"])
            for r in eng.cat.read("evictions").collect()
        )
        assert ev == sorted(ref.evictions)
    finally:
        for k, v in saved.items():
            conf.set(k, v)
