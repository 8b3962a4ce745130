"""Cuckoo-filter sidecar (operators/cuckoo.py) + engine forget():
no-false-negatives, bounded FP, deterministic layout, sound deletion,
overflow fail-safe, and bloom==cuckoo engine equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.operators import cuckoo, seen
from crawlspark.operators.cuckoo import Cuckoo
from crawlspark.queries.crawlq import fork, scenario
from crawlspark.synth import UNIT

N_PARTS = 4
CK = Cuckoo(nbuckets=1 << 12)


def _keys_df(spark, hashes: np.ndarray):
    # python/numpy % with a positive divisor is non-negative == pmod
    return spark.createDataFrame(
        [(int(h) % N_PARTS, int(h)) for h in hashes],
        "part int, url_hash long",
    )


def _rand_hashes(seed: int, n: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(
        -(2**63), 2**63 - 1, size=n, dtype=np.int64
    )


@pytest.fixture(scope="module")
def folded(spark):
    ins = _rand_hashes(1, 5000)
    ck = seen.fold(CK, _keys_df(spark, ins), _empty(spark), 1)
    rows = {r["part"]: r for r in ck.collect()}
    return ins, rows


def _empty(spark):
    from crawlspark.schemas import CUCKOO_SEEN

    return spark.createDataFrame([], CUCKOO_SEEN)


def _probe_rows(rows, hashes):
    out = np.zeros(len(hashes), dtype=bool)
    parts = hashes % N_PARTS
    for p, r in rows.items():
        m = parts == p
        out[m] = cuckoo._contains(
            np.frombuffer(r["bits"], dtype=np.uint16),
            hashes[m], int(r["nbuckets"]), int(r["bucket_size"]),
            bool(r["overflow"]),
        )
    return out


def test_no_false_negatives(folded):
    ins, rows = folded
    assert not any(r["overflow"] for r in rows.values())
    assert _probe_rows(rows, ins).all()


def test_false_positive_rate_bounded(folded):
    ins, rows = folded
    probe = _rand_hashes(2, 5000)
    probe = probe[~np.isin(probe, ins)]
    fp = _probe_rows(rows, probe).mean()
    # 5000 keys in 4 parts x 4096 buckets x 4 slots, 16-bit fps:
    # expected FP ~= 2*load/65536 ~= 0.0002 — assert an order above
    assert fp < 0.01, fp


def test_layout_deterministic_across_partitionings(spark, folded):
    ins, rows = folded
    df = _keys_df(spark, ins).repartition(7)
    rows2 = {
        r["part"]: r
        for r in seen.fold(CK, df, _empty(spark), 1).collect()
    }
    assert set(rows) == set(rows2)
    for p in rows:
        assert rows[p]["bits"] == rows2[p]["bits"]


def test_iterated_fold_membership_equals_oneshot(spark, folded):
    ins, oneshot = folded
    a, b = ins[:2500], ins[2500:]
    step1 = seen.fold(CK, _keys_df(spark, a), _empty(spark), 1)
    rows2 = {
        r["part"]: r
        for r in seen.fold(CK, _keys_df(spark, b), step1, 2).collect()
    }
    assert _probe_rows(rows2, ins).all()
    probe = _rand_hashes(3, 3000)
    probe = probe[~np.isin(probe, ins)]
    # same membership answers as the one-shot fold on a disjoint set
    # is NOT required bit-for-bit (different insert order can park fps
    # in i1 vs i2) — but both must stay within the FP envelope
    assert _probe_rows(rows2, probe).mean() < 0.01


def test_delete_preserves_other_keys(spark):
    ins = _rand_hashes(4, 6000)
    keep, drop = ins[:3000], ins[3000:]
    ck = seen.fold(CK, _keys_df(spark, ins), _empty(spark), 1)
    after = {
        r["part"]: r
        for r in seen.fold(CK, _keys_df(spark, drop), ck, 2, op="delete").collect()
    }
    assert _probe_rows(after, keep).all()  # duplicates retained => sound
    assert _probe_rows(after, drop).mean() < 0.01  # actually removed


def test_overflow_failsafe(spark):
    ins = _rand_hashes(5, 500)
    rows = {
        r["part"]: r
        for r in seen.fold(Cuckoo(2), _keys_df(spark, ins), _empty(spark), 1).collect()
    }
    assert any(r["overflow"] for r in rows.values())
    # degraded parts answer all-maybe: still zero false negatives
    assert _probe_rows(rows, ins).all()


def test_spark_probe_paths_match_local(spark, folded):
    ins, rows = folded
    ck = spark.createDataFrame(list(rows.values()))
    probe = np.concatenate([ins[:1000], _rand_hashes(6, 1000)])
    cand = _keys_df(spark, probe)
    expected = {
        (int(r["part"]), int(r["url_hash"])): bool(m)
        for r, m in zip(cand.collect(), _probe_rows(rows, probe))
    }
    for probed in (
        seen.bloom_prefilter_broadcast(cand, ck),
        seen.bloom_prefilter(cand, ck),
    ):
        got = {
            (int(r["part"]), int(r["url_hash"])): bool(r["maybe_seen"])
            for r in probed.collect()
        }
        assert got == expected


@pytest.fixture(scope="module")
def unit_engines(spark):
    # the shared UNIT crawls (q80/q87 read the same ones); tests that
    # change a crawl work on a fork
    return {flavor: scenario(spark, UNIT, flavor) for flavor in ("bloom", "cuckoo")}


def test_engine_cuckoo_matches_bloom(unit_engines):
    cols = ["cycle_id", "batch_pos", "url_norm", "url_hash", "seq", "ok"]
    a = [tuple(r) for r in unit_engines["bloom"].crawl_order().select(*cols).collect()]
    b = [tuple(r) for r in unit_engines["cuckoo"].crawl_order().select(*cols).collect()]
    assert a == b
    sa = sorted(tuple(r) for r in unit_engines["bloom"].seen_set().collect())
    sb = sorted(tuple(r) for r in unit_engines["cuckoo"].seen_set().collect())
    assert sa == sb


@pytest.mark.parametrize("flavor", ["bloom", "cuckoo"])
def test_forget_allows_recrawl(spark, unit_engines, flavor):
    eng = fork(unit_engines[flavor])
    snap = eng.cat.current_snapshot()
    victims = [
        r["url_norm"]
        for r in eng.seen_set().orderBy("url_norm").limit(3).collect()
    ]
    kept = eng.seen_set().count()
    assert eng.forget(victims)["forgotten"] == 3
    assert eng.forget(["http://never-crawled.example/x"])["forgotten"] == 0
    remaining = {r["url_norm"] for r in eng.seen_set().collect()}
    assert not (set(victims) & remaining)
    assert eng.seen_set().count() == kept - 3

    # the forgotten URL now passes the full C4 path as novel; a kept one doesn't
    keep_url = sorted(remaining)[0]
    cand = spark.createDataFrame(
        [(u,) for u in [*victims, keep_url]], "url_norm string"
    ).withColumn("url_hash", F.xxhash64("url_norm")).withColumn(
        "part", F.pmod("url_hash", F.lit(eng.cfg.n_seen_parts)).cast("int")
    )
    snap2 = eng.cat.current_snapshot()
    novel = seen.seen_filter(
        cand, eng.cat.read("url_seen", snap2), eng.cat.read(eng.sidecar.table, snap2)
    )
    got = {r["url_norm"] for r in novel.collect()}
    assert got == set(victims)
    seen.release_broadcasts(spark)
    # max_seq monotone: re-crawled discoveries get strictly newer seqs
    assert int((snap.get("meta") or {}).get("max_seq", 0)) <= eng.max_seq


@pytest.mark.parametrize("name", ["Cuckoo", "blom", ""])
def test_unknown_sidecar_refused(spark, tmp_path, name):
    with pytest.raises(ValueError, match="seen_sidecar"):
        CrawlEngine(spark, EngineConfig(warehouse=str(tmp_path / "wh"), seen_sidecar=name))
    assert not (tmp_path / "wh").exists()


# --- JVM-native fold/probe/delete parity (CuckooFilter.scala) ------------

def _force_python(monkeypatch):
    monkeypatch.setenv("CRAWLSPARK_NO_NATIVE", "1")


def test_native_fold_matches_python(spark, monkeypatch):
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    ins = _rand_hashes(7, 4000)
    nat = {
        r["part"]: r
        for r in seen.fold(CK, _keys_df(spark, ins), _empty(spark), 1).collect()
    }
    _force_python(monkeypatch)
    py = {
        r["part"]: r
        for r in seen.fold(CK, _keys_df(spark, ins), _empty(spark), 1).collect()
    }
    assert set(nat) == set(py)
    for p in py:
        assert nat[p]["bits"] == py[p]["bits"]
        assert nat[p]["overflow"] == py[p]["overflow"]


def test_native_iterated_fold_and_delete_match_python(spark, monkeypatch):
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    a, b = _rand_hashes(8, 2000), _rand_hashes(9, 2000)

    def run():
        step = seen.fold(CK, _keys_df(spark, a), _empty(spark), 1)
        step = seen.fold(CK, _keys_df(spark, b), step, 2)
        step = seen.fold(CK, _keys_df(spark, b[:500]), step, 3, op="delete")
        return {r["part"]: r for r in step.collect()}

    nat = run()
    _force_python(monkeypatch)
    py = run()
    for p in py:
        assert nat[p]["bits"] == py[p]["bits"]
        assert nat[p]["overflow"] == py[p]["overflow"]


def test_native_probe_matches_python_and_has_no_python_stage(spark):
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    ins = _rand_hashes(10, 3000)
    ck = seen.fold(CK, _keys_df(spark, ins), _empty(spark), 1)
    probe = np.concatenate([ins[:500], _rand_hashes(11, 500)])
    cand = _keys_df(spark, probe)
    nat = seen.bloom_prefilter_native(cand, ck)
    got = {(r["part"], r["url_hash"]): r["maybe_seen"] for r in nat.collect()}
    exp = {
        (r["part"], r["url_hash"]): r["maybe_seen"]
        for r in seen.bloom_prefilter_broadcast(cand, ck).collect()
    }
    assert got == exp
    plan = nat._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # probe never crosses into Python
    seen.release_broadcasts(spark)


def test_native_fold_plan_has_no_python_stage(spark):
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    df = seen.fold(CK, _keys_df(spark, _rand_hashes(12, 100)), _empty(spark), 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


# --- reseed (active re-crawl) --------------------------------------------

@pytest.mark.parametrize("flavor", ["bloom", "cuckoo"])
def test_reseed_requeues_and_refetches(spark, tmp_path_factory, flavor):
    from crawlspark.synth import GraphConfig

    g = GraphConfig(n_sites=4, max_pages=12, batch_size=8, max_cycles=3)
    wh = tmp_path_factory.mktemp(f"wh-reseed-{flavor}")
    eng = CrawlEngine(
        spark,
        EngineConfig(graph=g, warehouse=str(wh), seen_sidecar=flavor,
                     cuckoo_nbuckets=1 << 10),
    )
    stats = eng.run()
    last_c = stats[-1]["cycle"]
    fetched = [
        r["url_norm"]
        for r in eng.crawl_order().filter("ok").orderBy("url_norm").limit(2).collect()
    ]
    pre = eng.crawl_order().select("url_norm", "seq", "cycle_id").collect()
    pre_attempts = {u: [r for r in pre if r["url_norm"] == u] for u in fetched}
    pre_max_seq = eng.max_seq
    assert eng.reseed(fetched)["reseeded"] == 2
    assert eng.max_seq == pre_max_seq + 2
    # unknown-host URLs are robots-dropped, not errors (after forgetting
    # nothing, the reseed side sees no eligible rows)
    assert eng.reseed(["http://unknown-host.example/x"])["reseeded"] == 0

    # politeness still governs re-crawls: same-host reseeds may be
    # token-capped across several cycles — drain until both re-fetches
    # land (bounded)
    for c in range(last_c + 1, last_c + 8):
        eng.run_cycle(c)
        order = eng.crawl_order().select(
            "url_norm", "seq", "cycle_id", "ok"
        ).collect()
        if all(
            any(r["ok"] and r["cycle_id"] > last_c for r in order
                if r["url_norm"] == u)
            for u in fetched
        ):
            break
    for u in fetched:
        rows = sorted(
            [(r["cycle_id"], r["seq"]) for r in order if r["url_norm"] == u]
        )
        # crawl_order is one row per fetch ATTEMPT (retries share their
        # seq — the re-fetch itself may fail and retry): the re-crawl
        # adds >= 1 new attempt, all with one strictly newer seq
        assert len(rows) > len(pre_attempts[u])
        assert rows[-1][0] > last_c
        assert rows[-1][1] > max(r["seq"] for r in pre_attempts[u])
    # the re-fetch rewrote the document under a newer fetch_cycle
    docs = eng.documents().filter(F.col("doc_id").isin(fetched))
    assert docs.filter(F.col("fetch_cycle") > last_c).count() == 2
    # resume parity: a fresh engine on the same warehouse restores max_seq
    eng2 = CrawlEngine(spark, EngineConfig(graph=g, warehouse=str(wh),
                                           seen_sidecar=flavor,
                                           cuckoo_nbuckets=1 << 10))
    eng2.bootstrap()
    assert eng2.max_seq == eng.max_seq


def test_fold_per_part_working_set_bounded(spark):
    """The cuckoo fold's shuffle carries the novel hashes themselves
    (collect_list per part — inherent to order-dependent insertion).
    The per-TASK working set is therefore novel_per_cycle/n_parts × 8 B,
    and stays bounded because the hash partitioner (pmod of xxhash64)
    spreads keys uniformly: measured max/mean part-size imbalance must
    be tiny, and a deliberately large novel batch must fold correctly
    in one pass (no per-part blowup). n_seen_parts is the knob that
    holds the bound at any scale — 10^9 novel keys over 4096 parts is
    ~244k hashes ≈ 1.9 MB per task (BENCH/BASELINE.md note)."""
    n, parts = 400_000, 64
    keys = (
        spark.range(n)
        .select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
        .select(F.pmod("url_hash", F.lit(parts)).cast("int").alias("part"), "url_hash")
    )
    sizes = [r["c"] for r in keys.groupBy("part").agg(F.count("*").alias("c")).collect()]
    assert len(sizes) == parts
    mean = n / parts
    assert max(sizes) <= 1.05 * mean, f"hash partitioner skew: {max(sizes)} vs mean {mean}"

    # fold the whole batch (~6.3k keys/part at 95% fill headroom) and
    # verify exact membership — one pass, no chunking needed, because
    # the per-part list is the bound, not the total
    ck = seen.fold(Cuckoo(1 << 11), keys, _empty(spark), 1)
    rows = ck.collect()
    assert len(rows) == parts
    assert not any(r["overflow"] for r in rows), "fill headroom misjudged"
    hashes = np.array(
        [r["url_hash"] for r in keys.limit(20_000).collect()], dtype=np.int64
    )
    by_part = {r["part"]: r for r in rows}
    got = np.zeros(len(hashes), dtype=bool)
    pvals = np.mod(hashes, parts)
    for p, r in by_part.items():
        m = pvals == p
        if m.any():
            got[m] = cuckoo._contains(
                np.frombuffer(r["bits"], dtype=np.uint16),
                hashes[m], int(r["nbuckets"]), int(r["bucket_size"]),
                bool(r["overflow"]),
            )
    assert got.all(), "fold dropped keys on the large batch"
