"""C40 per-host frontier quota: the engine's declarative cap (the C23
two-phase pattern_cap with the TRANSIENT ring occupancy as prior)
matches the refsim's sequential admission rule; the quota genuinely
bites (the mega-host's flood is spread across cycles and dropped URLs
re-candidate and admit later); the per-host pending bound holds; and
the C40 ∘ C39 composition (quota-shaped ring, clock-bounded total)
reproduces the sequential twin exactly."""

from __future__ import annotations

import dataclasses
import tempfile

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import UNIT_QCLK, UNIT_QUOTA


def _order(eng):
    return [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
         r["seq"], r["depth"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]


def test_quota_bites_and_recandidates():
    """Scenario sanity on the sequential twin alone: the quota changes
    the crawl, and at least one URL is fetched LATER than the
    unbounded twin fetches it — it was dropped while the host's ring
    share was full and re-candidated after a drain (the transient-
    vs-lifetime distinction from C38, whose drops never return)."""
    ref = RefSim(UNIT_QUOTA).run()
    off = RefSim(
        dataclasses.replace(UNIT_QUOTA, host_frontier_quota=None)
    ).run()
    assert ref.order != off.order
    first = {u: c for (c, _p, u, *_r) in reversed(ref.order)}
    first_off = {u: c for (c, _p, u, *_r) in reversed(off.order)}
    delayed = [u for u, c in first.items() if c > first_off.get(u, 99)]
    assert delayed, "some dropped URL must re-candidate and admit later"


def test_engine_matches_refsim(spark):
    ref = RefSim(UNIT_QUOTA).run()
    eng = CrawlEngine(
        spark, EngineConfig(graph=UNIT_QUOTA, warehouse=tempfile.mkdtemp())
    )
    eng.run()
    assert _order(eng) == [tuple(t) for t in ref.order]
    # per-host pending bound at the final state: quota admissions can
    # never push a host's live ring share over the quota
    keys = ["url_hash", "url_norm"]
    pending = eng.cat.read("frontier").join(
        eng.cat.read("resolved").select(*keys), keys, "left_anti"
    )
    import pyspark.sql.functions as F

    per_host = {
        r["host"]: r["n"]
        for r in pending.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert all(n <= UNIT_QUOTA.host_frontier_quota for n in per_host.values())


def test_quota_clock_composition(spark):
    """C40 ∘ C39: both admission points active — the quota shapes the
    ring's per-host mix, then the clock sweep bounds its total — and
    the engine reproduces the sequential twin's order AND eviction
    log."""
    ref = RefSim(UNIT_QCLK).run()
    assert ref.evictions, "composition scenario must still evict"
    eng = CrawlEngine(
        spark, EngineConfig(graph=UNIT_QCLK, warehouse=tempfile.mkdtemp())
    )
    eng.run()
    assert _order(eng) == [tuple(t) for t in ref.order]
    assert sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng.cat.read("evictions").collect()
    ) == sorted(ref.evictions)


def test_domain_keyed_quota(spark):
    """C33 ∘ C40: under domain grouping the quota bucket is the
    registered domain — grouped sub-hosts jointly hold one ring
    share, the order diverges from the HOST-keyed twin, and the
    engine (full-PSL registered_domain expression feeding
    pattern_cap) matches the sequential twin (pol_key_of_host
    feeding the same rule)."""
    from crawlspark.synth import UNIT_QDOM

    ref = RefSim(UNIT_QDOM).run()
    hostkey = RefSim(
        dataclasses.replace(UNIT_QDOM, domain_politeness=False)
    ).run()
    assert ref.order != hostkey.order, "domain keying must bite"
    eng = CrawlEngine(
        spark, EngineConfig(graph=UNIT_QDOM, warehouse=tempfile.mkdtemp())
    )
    eng.run()
    assert _order(eng) == [tuple(t) for t in ref.order]
    # per-bucket pending bound: registered-domain shares ≤ quota
    import pyspark.sql.functions as F

    keys = ["url_hash", "url_norm"]
    pending = eng.cat.read("frontier").join(
        eng.cat.read("resolved").select(*keys), keys, "left_anti"
    )
    per_bucket = {
        r["k"]: r["n"]
        for r in pending.groupBy(
            eng._pol_expr().alias("k")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert all(
        n <= UNIT_QDOM.host_frontier_quota for n in per_bucket.values()
    )
