"""C39 second-chance/clock frontier eviction: the distributed sweep
(operators/clock.py) matches the sequential rule (refsim.clock_sweep_py)
bit-for-bit on constructed ring states — both laps, wrap-around, empty
bits — the UNIT_CLOCK scenario visibly bites (evictions happen, second
chances matter, the cap holds), and the engine reproduces the refsim's
order/evictions/seen set and resumes exactly."""

from __future__ import annotations

import dataclasses
import random
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.operators import clock
from crawlspark.queries.crawlq import scenario
from crawlspark.refsim import RefSim, clock_sweep_py
from crawlspark.synth import UNIT_CLOCK


def _run_case(spark, entries, bits, n_evict, hand, distributed):
    pend = spark.createDataFrame(
        [(hash(u) & 0x7FFFFFFF, u, s) for u, s in entries],
        "url_hash long, url_norm string, seq long",
    )
    ref = spark.createDataFrame(
        [(hash(u) & 0x7FFFFFFF, u) for u in bits] or [(0, "_")],
        "url_hash long, url_norm string",
    )
    if not bits:
        ref = ref.filter(F.lit(False))
    ev, kept, nh = clock.clock_sweep(pend, ref, n_evict, hand, distributed)
    got_ev = sorted((r["url_norm"], r["lap"]) for r in ev.collect())
    got_kept = sorted(r["url_norm"] for r in kept.collect())
    rb = set(bits)
    exp_ev, _prot, exp_nh = clock_sweep_py(entries, rb, n_evict, hand)
    assert got_ev == sorted(exp_ev)
    assert got_kept == sorted(rb - {u for u, _ in exp_ev})
    assert nh == exp_nh


CASES = [
    # lap 1 only, no bits
    ([("a", 1), ("b", 2), ("c", 3), ("d", 4)], [], 2, 0),
    # bits protect ahead of the hand
    ([("a", 1), ("b", 2), ("c", 3), ("d", 4)], ["a", "b"], 2, 0),
    # first lap runs dry -> lap 2 takes just-cleared entries
    ([("a", 1), ("b", 2), ("c", 3), ("d", 4)], ["a", "b", "c"], 3, 0),
    # z = 0: everything referenced, all evictions are lap 2
    ([("a", 1), ("b", 2), ("c", 3)], ["a", "b", "c"], 2, 0),
    # hand mid-ring: wrapped entries follow in cyclic order
    ([("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5)], ["c"], 2, 3),
    # hand beyond every seq degrades to plain seq order
    ([("a", 1), ("b", 2), ("c", 3)], ["b"], 1, 10),
]


@pytest.mark.parametrize("case", CASES)
def test_sweep_matches_sequential_rule(spark, case):
    entries, bits, n_evict, hand = case
    _run_case(spark, entries, bits, n_evict, hand, distributed=False)


def test_sweep_distributed_path_identical(spark):
    # the two-phase distributed rank must agree with the window path
    for entries, bits, n_evict, hand in CASES:
        _run_case(spark, entries, bits, n_evict, hand, distributed=True)


def test_sweep_random_states(spark):
    rng = random.Random(11)
    for _ in range(12):
        n = rng.randint(2, 12)
        seqs = rng.sample(range(1, 40), n)
        entries = [(f"u{s}", s) for s in seqs]
        bits = [u for u, _ in entries if rng.random() < 0.4]
        n_evict = rng.randint(1, n - 1)
        _run_case(
            spark, entries, bits, n_evict, rng.randint(0, 42),
            distributed=rng.random() < 0.5,
        )


def test_scenario_bites():
    on = RefSim(UNIT_CLOCK).run()
    off = RefSim(dataclasses.replace(UNIT_CLOCK, frontier_cap=None)).run()
    assert on.evictions and on.order != off.order
    # second chances happen AND matter: every protected entry is
    # later fetched (the bit rescued real work)
    fetched = {u for (_c, _p, u, *_r) in on.order}
    protected = {u for u, _c in on.protections}
    assert protected and protected <= fetched
    # an evicted URL is never fetched after its eviction cycle (an
    # attempt IN that cycle is legal — the sweep runs at cycle end,
    # e.g. a retryable failure re-queues and is then swept)
    evicted_at = {u: c for (u, c, _l) in on.evictions}
    for (c, _p, u, *_r) in on.order:
        assert evicted_at.get(u, 10**9) >= c
    # evicted URLs STAY seen (accepted once, never fetched)
    assert all(u in on.seen for u in evicted_at)


def test_engine_matches_refsim_and_holds_cap(spark):
    # the q153/q154 harness crawl (read only: other tests fork it)
    eng = scenario(spark, UNIT_CLOCK)
    ref = RefSim(UNIT_CLOCK).run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
         r["seq"], r["depth"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    assert got == [tuple(t) for t in ref.order]
    ev = sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng.cat.read("evictions").collect()
    )
    assert ev == sorted(ref.evictions)
    assert {
        r["url_norm"]: r["first_cycle"] for r in eng.seen_set().collect()
    } == ref.seen
    # the cap held: pending after the last cycle is within the cap
    keys = ["url_hash", "url_norm"]
    pending = (
        eng.cat.read("frontier")
        .join(eng.cat.read("resolved").select(*keys), keys, "left_anti")
        .join(eng.cat.read("evictions").select(*keys), keys, "left_anti")
    )
    assert pending.count() <= UNIT_CLOCK.frontier_cap


def test_reseed_revives_evicted_incarnation(spark):
    """C39 ∘ C21: tombstones are incarnation-keyed (url + seq) — a
    reseeded victim that was evicted earlier re-queues as its fresh
    incarnation and is re-fetched. A url-keyed tombstone would shadow
    the re-injection forever (the divergence this test pins)."""
    from crawlspark.synth import UNIT_CLKRS

    ref = RefSim(UNIT_CLKRS).run()
    # the scenario genuinely exercises the path: some victim was
    # evicted before the reseed and fetched after it
    ev_urls = {u for (u, c, _l) in ref.evictions if c <= UNIT_CLKRS.reseed_after}
    refetched = {
        u for (c, _p, u, *_r) in ref.order
        if c > UNIT_CLKRS.reseed_after and u in ev_urls
    }
    assert refetched
    eng = CrawlEngine(
        spark, EngineConfig(graph=UNIT_CLKRS, warehouse=tempfile.mkdtemp())
    )
    eng.run(max_cycles=UNIT_CLKRS.reseed_after)
    victims = [
        r["url_norm"]
        for r in eng.seen_set().orderBy("url_norm")
        .limit(UNIT_CLKRS.reseed_k).collect()
    ]
    eng.reseed(victims)
    eng.run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
         r["seq"], r["depth"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    assert got == [tuple(t) for t in ref.order]
    assert sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng.cat.read("evictions").collect()
    ) == sorted(ref.evictions)


def test_low_water_mark_variant(spark):
    """C39 frontier_slack: the engine matches the refsim under the
    evict-to-(cap − slack) rule, the cap invariant still holds, and
    the hysteresis actually amortizes — sweeps fire on strictly fewer
    cycles than the slack-0 twin while the scenario still evicts."""
    from crawlspark.synth import UNIT_CLOCKLW

    ref = RefSim(UNIT_CLOCKLW).run()
    ref0 = RefSim(UNIT_CLOCK).run()
    lw_cycles = {c for (_u, c, _l) in ref.evictions}
    base_cycles = {c for (_u, c, _l) in ref0.evictions}
    assert ref.evictions, "scenario must evict"
    assert len(lw_cycles) < len(base_cycles), "hysteresis must cut cadence"
    eng = CrawlEngine(
        spark, EngineConfig(graph=UNIT_CLOCKLW, warehouse=tempfile.mkdtemp())
    )
    eng.run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"])
        for r in eng.crawl_order().collect()
    ]
    assert got == [(c, p, u) for (c, p, u, *_r) in ref.order]
    assert sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng.cat.read("evictions").collect()
    ) == sorted(ref.evictions)
    # cap invariant: pending (queued-at-merge minus evictions) ≤ cap
    keys = ["url_hash", "url_norm"]
    frontier = eng.cat.read("frontier")
    pending = (
        frontier.join(eng.cat.read("resolved").select(*keys), keys, "left_anti")
        .join(eng.cat.read("evictions").select(*keys), keys, "left_anti")
    )
    assert pending.count() <= UNIT_CLOCKLW.frontier_cap


def test_branch_from_equals_from_scratch(spark):
    """C22 ∘ C39: forking a completed UNIT_CLOCK crawl at the reseed
    cycle (CrawlEngine.branch_from) and continuing under UNIT_CLKRS
    reproduces the from-scratch UNIT_CLKRS run exactly (refsim order +
    eviction log — the same oracle test_reseed_revives_evicted_
    incarnation pins for the from-scratch path). This is the fork the
    q155 harness crawl is. The fork also purges staged dirs of
    snapshot ids past 999999, and refuses a config that is not a valid
    continuation of the base."""
    from crawlspark.synth import UNIT_CLKRS

    eng = scenario(spark, UNIT_CLKRS)
    ref = RefSim(UNIT_CLKRS).run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
         r["seq"], r["depth"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    assert got == [tuple(t) for t in ref.order]
    assert sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng.cat.read("evictions").collect()
    ) == sorted(ref.evictions)

    base, cycle = scenario(spark, UNIT_CLOCK), UNIT_CLKRS.reseed_after
    # a staged dir of snapshot 1000000 (7-digit id) is later than the
    # fork snapshot, so the purge must drop it
    dst = Path(tempfile.mkdtemp())
    stray = dst / "data" / "frontier" / "s1000000-001"
    stray.mkdir(parents=True)
    CrawlEngine.branch_from(base, cycle, dataclasses.replace(eng.cfg, warehouse=str(dst)))
    assert not stray.exists()
    # refused: a graph field the shared prefix depends on, and a
    # script step due before the fork cycle
    for bad in (
        dataclasses.replace(UNIT_CLOCK, batch_size=9),
        dataclasses.replace(UNIT_CLKRS, reseed_after=cycle - 2),
    ):
        dst = tempfile.mkdtemp()
        with pytest.raises(ValueError):
            CrawlEngine.branch_from(
                base, cycle, dataclasses.replace(base.cfg, graph=bad, warehouse=dst)
            )
        assert not list(Path(dst).iterdir())


def test_resume_exact(spark):
    wh = tempfile.mkdtemp()
    eng1 = CrawlEngine(spark, EngineConfig(graph=UNIT_CLOCK, warehouse=wh))
    eng1.run(max_cycles=4)
    eng2 = CrawlEngine(spark, EngineConfig(graph=UNIT_CLOCK, warehouse=wh))
    eng2.run()
    ref = RefSim(UNIT_CLOCK).run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"])
        for r in eng2.crawl_order().collect()
    ]
    assert got == [(c, p, u) for (c, p, u, *_r) in ref.order]
    assert sorted(
        (r["url_norm"], r["cycle_id"], r["lap"])
        for r in eng2.cat.read("evictions").collect()
    ) == sorted(ref.evictions)
