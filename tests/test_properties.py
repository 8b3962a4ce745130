"""Property tests (SURVEY.md §5.3/§5.4): Bloom exactness, politeness
cap enforcement, schedule determinism, LSH recall, resume exactness."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.operators import dedup, schedule, seen
from crawlspark.queries.crawlq import fork, scenario
from crawlspark.synth import UNIT


# -- Bloom: zero false negatives always (C4 must never drop novel URLs) ---

@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=300),
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=100),
)
def test_bloom_no_false_negatives(inserted, probed):
    nbits, k = 1 << 12, 4
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    if inserted:
        seen._insert(bits, np.array(inserted, dtype=np.int64), nbits, k)
    if probed:
        got = seen._contains(bits, np.array(probed, dtype=np.int64), nbits, k)
        for h, g in zip(probed, got):
            if h in set(inserted):
                assert g, "false negative — exactness broken"


def test_bloom_prefilter_vs_broadcast_equal(spark):
    hashes = spark.range(5000).select(
        F.xxhash64("id").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url_norm"),
    ).withColumn("part", F.pmod(F.col("url_hash"), F.lit(8)).cast("int"))
    half = hashes.filter(F.col("url_hash") % 2 == 0)
    from crawlspark.schemas import BLOOM_SEEN

    bloom = seen.fold_bloom(
        half.select("part", "url_hash"), spark.createDataFrame([], BLOOM_SEEN), cycle_id=1
    ).persist()
    a = seen.bloom_prefilter(hashes, bloom).select("url_hash", "maybe_seen")
    b = seen.bloom_prefilter_broadcast(hashes, bloom).select("url_hash", "maybe_seen")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    bloom.unpersist()


# -- per-host cap never exceeded; large-batch schedule == small-batch ------

def test_per_host_cap_and_schedule_paths(spark):
    n = 20000
    df = spark.range(n).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("host_salt"),
        (F.col("id") % 5).cast("long").alias("score"),
        F.col("id").alias("seq"),
    )
    caps = spark.createDataFrame(
        [(f"h{i}", 50 + 100 * i) for i in range(7)], "host string, cap int"
    )
    capped = schedule.per_host_cap(df, caps).persist()
    got = {
        r["host"]: r["n"]
        for r in capped.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    for i in range(7):
        assert got[f"h{i}"] <= 50 + 100 * i

    # small path (TakeOrdered) and large path (two-phase rank) agree
    small = schedule.global_schedule(capped, 1000)
    rows_small = sorted(
        (r["batch_pos"], r["host"], r["seq"]) for r in small.collect()
    )
    old_max = schedule.SMALL_BATCH_MAX
    schedule.SMALL_BATCH_MAX = 0
    try:
        large = schedule.global_schedule(capped, 1000)
        rows_large = sorted(
            (r["batch_pos"], r["host"], r["seq"]) for r in large.collect()
        )
    finally:
        schedule.SMALL_BATCH_MAX = old_max
        schedule.release_scratch()
    assert rows_small == rows_large
    capped.unpersist()


# -- MinHash-LSH recall vs brute-force Jaccard -----------------------------

def test_lsh_recall_on_planted_dups(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sh = dedup.shingle_table(docs, "doc_id", "text", k=2).persist()
    # brute-force ground truth at the same threshold
    pairs_all = (
        sh.select(F.col("id").alias("i")).distinct()
        .join(sh.select(F.col("id").alias("j")).distinct(), F.col("i") < F.col("j"))
    )
    truth = {
        (r["i"], r["j"])
        for r in dedup.jaccard_verify(pairs_all, sh, threshold=0.8).collect()
    }
    # at threshold 0 a pair sharing no shingle would pass (jac = 0)
    with pytest.raises(ValueError):
        dedup.jaccard_verify(pairs_all, sh, threshold=0)
    found = {
        (r["i"], r["j"])
        for r in dedup.minhash_near_dups(
            docs, "doc_id", "text", k=2, n_hashes=8, bands=4, threshold=0.8
        ).collect()
    }
    sh.unpersist()
    assert truth, "expected planted near-dups in testdata"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, (recall, truth - found)
    assert found <= truth  # exact verify ⇒ no false positives


# -- paragraph/chunk dedup (P25) -------------------------------------------

def test_chunk_dedup_keeps_first_occurrence(spark):
    w = 12  # chunk width used by the operator default
    a1 = " ".join(f"a{i}" for i in range(w))   # chunk unique to doc 1 pos 0
    a2 = " ".join(f"b{i}" for i in range(w))   # chunk unique to doc 1 pos 1
    c1 = " ".join(f"c{i}" for i in range(w))   # doc 2's own chunk
    docs = spark.createDataFrame(
        [
            (1, f"{a1} {a2}"),      # both chunks novel
            (2, f"{a1} {c1}"),      # first chunk is doc 1's boilerplate
            (3, f"{a2} {a1}"),      # pure boilerplate -> disappears
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.chunk_dedup(docs, "doc_id", "text", chunk_words=w).collect()
    }
    assert set(out) == {1, 2}          # doc 3 fully deduplicated away
    assert out[1]["n_chunks_kept"] == 2 and out[1]["text_dedup"] == f"{a1} {a2}"
    assert out[2]["n_chunks_kept"] == 1 and out[2]["text_dedup"] == c1
    # corpus-wide invariant: kept chunks == distinct chunks
    assert sum(r["n_chunks_kept"] for r in out.values()) == 3


# -- sequence packing: small == distributed (P24) ---------------------------

def test_pack_sequences_distributed_equals_window(spark):
    from crawlspark.operators.textstats import pack_sequences

    d = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tokens"))
    )
    small = {(r["doc_id"], r["pack_id"])
             for r in pack_sequences(d, "doc_id", "n_tokens", 512).collect()}
    dist = {(r["doc_id"], r["pack_id"])
            for r in pack_sequences(d, "doc_id", "n_tokens", 512,
                                    distributed=True).collect()}
    assert small == dist
    assert len({p for _, p in small}) > 1  # actually packs into >1 pack


# -- resume exactness (C16) ------------------------------------------------

def test_resume_bit_identical(spark):
    e1 = scenario(spark, UNIT)  # the shared uninterrupted crawl

    wh_resume = tempfile.mkdtemp()
    e2 = CrawlEngine(spark, EngineConfig(graph=UNIT, warehouse=wh_resume))
    e2.bootstrap()
    e2.run_cycle(1)
    e2.run_cycle(2)  # "crash" here: new engine object resumes from snapshot
    e3 = CrawlEngine(spark, EngineConfig(graph=UNIT, warehouse=wh_resume))
    e3.run()

    for table, key in [
        ("scheduled", ["cycle_id", "batch_pos", "url_norm", "url_hash", "score", "seq"]),
        ("url_seen", ["url_norm", "url_hash", "first_cycle"]),
        ("frontier", ["url_norm", "seq", "depth", "score", "cycle_id"]),
    ]:
        a = sorted(map(tuple, e1.cat.read(table).select(*key).collect()))
        b = sorted(map(tuple, e3.cat.read(table).select(*key).collect()))
        assert a == b, table
    # span-sequence equality of documents
    da = {r["doc_id"]: r["spans"] for r in e1.documents().collect()}
    db = {r["doc_id"]: r["spans"] for r in e3.documents().collect()}
    assert da == db


def test_resume_after_fold_no_seq_reuse(spark):
    """fold_state prunes resolved rows from the frontier; if the
    highest-seq discoveries were already fetched, a resumed engine that
    recomputed max_seq from the pruned frontier would reissue seq
    numbers. Resume must restore max_seq from the commit meta and the
    crawl must stay bit-identical to an uninterrupted run."""
    wh1 = tempfile.mkdtemp()
    e1 = CrawlEngine(spark, EngineConfig(graph=UNIT, warehouse=wh1, compact_every=1))
    e1.run()

    wh2 = tempfile.mkdtemp()
    cfg2 = EngineConfig(graph=UNIT, warehouse=wh2, compact_every=1)
    e2 = CrawlEngine(spark, cfg2)
    e2.bootstrap()
    e2.run_cycle(1)
    e2.fold_state()  # "crash" right after a fold — worst case for resume
    e3 = CrawlEngine(spark, cfg2)
    e3.bootstrap()
    assert e3.max_seq == e2.max_seq, "resume must restore max_seq from meta"
    e3.run()

    for table, key in [
        ("scheduled", ["cycle_id", "batch_pos", "url_norm", "url_hash", "score", "seq"]),
        ("url_seen", ["url_norm", "url_hash", "first_cycle"]),
    ]:
        a = sorted(map(tuple, e1.cat.read(table).select(*key).collect()))
        b = sorted(map(tuple, e3.cat.read(table).select(*key).collect()))
        assert a == b, table

    # seq is globally unique: one seq per distinct URL across the whole
    # crawl history (scheduled log ∪ active frontier)
    hist = (
        e3.cat.read("scheduled").select("url_norm", "seq")
        .unionByName(e3.cat.read("frontier").select("url_norm", "seq"))
        .distinct()
    )
    n_urls = hist.select("url_norm").distinct().count()
    n_seqs = hist.select("seq").distinct().count()
    assert hist.count() == n_urls == n_seqs


# -- catalog compaction (manifest growth control) -------------------------

def test_catalog_compaction_preserves_content(spark):
    eng = fork(scenario(spark, UNIT))  # compaction changes the catalog
    snap_before = eng.cat.current_snapshot()
    n_dirs_before = len(snap_before["tables"]["frontier"])
    assert n_dirs_before > 1
    before = sorted(map(tuple, eng.cat.read("frontier").collect()))
    eng.cat.compact("frontier")
    snap_after = eng.cat.current_snapshot()
    assert len(snap_after["tables"]["frontier"]) == 1
    after = sorted(map(tuple, eng.cat.read("frontier").collect()))
    assert before == after
    # time travel: the pre-compaction snapshot still reads the old dirs
    old = sorted(map(tuple, eng.cat.read("frontier", snap_before).collect()))
    assert old == before


# -- mega-host salting spreads window work (C11) --------------------------

def test_mega_host_salt_spread(spark):
    from crawlspark.synth import GraphConfig

    g = GraphConfig(n_sites=4, max_pages=600, batch_size=512,
                    out_degree=8, max_cycles=4, token_mult=30,
                    seeds_per_site=5)
    wh = tempfile.mkdtemp()
    eng = CrawlEngine(spark, EngineConfig(graph=g, warehouse=wh, n_salt=8))
    eng.run()
    sched = eng.cat.read("scheduled")
    mega = sched.filter(F.col("host") == g.host(0))
    n = mega.count()
    n_salts = mega.select("host_salt").distinct().count()
    assert n > 50, n
    assert n_salts >= 4, (n, n_salts)  # mega-host fan-out is salted


# -- exact-dup pre-pass (hot-band skew guard) ------------------------------

def test_exact_prepass_equivalent_clusters(spark):
    from pyspark.sql import Row

    from crawlspark.operators import graph

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # inject 40 exact copies of doc 0's text (boilerplate cluster)
    base_text = docs.filter("doc_id = 0").collect()[0]["text"]
    copies = spark.createDataFrame(
        [Row(doc_id=100000 + i, text=base_text) for i in range(40)]
    )
    corpus = docs.select("doc_id", "text").unionByName(copies)

    plain = dedup.minhash_near_dups(corpus, "doc_id", "text", threshold=0.5)
    pre = dedup.near_dups_with_exact_prepass(corpus, "doc_id", "text", threshold=0.5)

    # candidate explosion: plain pays ~40^2/2 pairs for the clone
    # cluster, pre-pass pays 40 (one per member)
    n_plain_clone = plain.filter("i >= 100000 or j >= 100000 or i = 0 or j = 0").count()
    n_pre_clone = pre.filter("i >= 100000 or j >= 100000 or i = 0 or j = 0").count()
    assert n_pre_clone <= 60 < n_plain_clone

    # same connected components (the dedup-relevant invariant)
    ids = corpus.select(F.col("doc_id").alias("id"))
    ka = graph.dedup_keepers(plain.select("i", "j"), ids)
    kb = graph.dedup_keepers(pre.select("i", "j"), ids)
    assert sorted(map(tuple, ka.collect())) == sorted(map(tuple, kb.collect()))


# -- auto-compaction keeps semantics ---------------------------------------

def test_engine_auto_compaction(spark):
    e1 = scenario(spark, UNIT)
    e2 = CrawlEngine(spark, EngineConfig(graph=UNIT, warehouse=tempfile.mkdtemp(),
                                         compact_every=2))
    e2.run()
    a = [tuple(r) for r in e1.crawl_order().select("cycle_id", "batch_pos", "url_norm").collect()]
    b = [tuple(r) for r in e2.crawl_order().select("cycle_id", "batch_pos", "url_norm").collect()]
    assert a == b
    assert len(e2.cat.current_snapshot()["tables"]["frontier"]) < len(
        e1.cat.current_snapshot()["tables"]["frontier"]
    )
    # fold semantics: identical seen set; tombstones emptied by the
    # fold; folded frontier holds only still-active (never-resolved)
    # rows so the per-cycle read is ∝ active frontier
    sa = sorted(r["url_norm"] for r in e1.seen_set().collect())
    sb = sorted(r["url_norm"] for r in e2.seen_set().collect())
    assert sa == sb
    assert e2.cat.read("resolved").count() == 0
    f2 = e2.cat.read("frontier")
    r1_resolved = e1.cat.read("resolved").select("url_hash", "url_norm")
    still_active_1 = (
        e1.cat.read("frontier")
        .join(r1_resolved, ["url_hash", "url_norm"], "left_anti")
        .count()
    )
    assert f2.count() == still_active_1


# -- bucketed url_seen mirror: engine equivalence + rebuild-on-loss --------

def test_engine_bucketed_seen_mirror(spark):
    """bucketed_seen=True must reproduce the exact crawl (ordering +
    seen set) of the plain anti-join engine, including across a mirror
    loss mid-crawl (fresh process / crash between commit and mirror
    append ⇒ marker mismatch ⇒ rebuild from url_seen)."""
    import shutil
    import urllib.parse

    g = UNIT
    base = scenario(spark, g)
    order_base = [
        tuple(r) for r in base.crawl_order().select("cycle_id", "batch_pos", "url_norm").collect()
    ]
    seen_base = sorted(r["url_norm"] for r in base.seen_set().collect())

    wh = tempfile.mkdtemp()
    cfg = EngineConfig(graph=g, warehouse=wh, bucketed_seen=True,
                       seen_buckets=8, compact_every=2)
    m = CrawlEngine(spark, cfg)
    m.run(max_cycles=2)
    spark.sql(f"DROP TABLE IF EXISTS {m._mirror_table}")
    whdir = urllib.parse.urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{whdir}/{m._mirror_table.lower()}", ignore_errors=True)
    m2 = CrawlEngine(spark, cfg)
    m2.run()
    order_m = [
        tuple(r) for r in m2.crawl_order().select("cycle_id", "batch_pos", "url_norm").collect()
    ]
    seen_m = sorted(r["url_norm"] for r in m2.seen_set().collect())
    assert order_m == order_base
    assert seen_m == seen_base
    assert spark.table(m2._mirror_table).count() == len(seen_m)


# -- query-surface determinism across shuffle partitionings ----------------

def test_queries_deterministic_across_partitioning(spark):
    """The driver hash-compares query output values; any
    partitioning-dependent nondeterminism (float agg order past the
    rounding guard, unstable window ties) would flake the gate. Run a
    representative slice at two shuffle widths and compare exactly."""
    from crawlspark.queries import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.01"
    names = [
        "q01_pricing_summary", "q12_top_orders_per_cust", "q17_vector_stats",
        "q22_sessionize", "q25_asof_orders", "q51_minhash_sig",
        "q53_simhash", "q60_cosine_topk",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    for width in ("7", old):
        spark.conf.set("spark.sql.shuffle.partitions", width)
        try:
            results[width] = {
                n: sorted(map(tuple, qs[n](spark, sf).collect())) for n in names
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert results["7"][n] == results[old][n], n


# -- pure-Python XXH64 == Spark xxhash64 (oracle-side hash parity) --------

def test_pure_xxh64_matches_spark(spark):
    """crawlspark/purehash.py re-implements the public XXH64 spec; the
    refsim oracles rely on it matching Spark's JVM xxhash64 bit-for-bit
    on UTF-8 strings of every length class (sub-4, sub-8, sub-32, 32+)
    including non-ASCII."""
    import random

    from crawlspark.purehash import xxhash64_str

    rng = random.Random(1234)
    corpus = ["", "a", "ab", "abc", "abcd", "ü", "üñïçødé", "☃" * 11]
    alphabet = "abcXYZ019/:.?&=_-%é☃"
    corpus += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "u string")
    rows = df.select("u", F.xxhash64("u").alias("h")).collect()
    assert len(rows) == len(corpus)
    for r in rows:
        assert r["h"] == xxhash64_str(r["u"])


def test_ivf_quantizer_captures_structure(spark):
    """IVF (q64): the refined coarse quantizer must (a) replay
    deterministically and (b) put genuinely-similar vectors (the q57
    near-dup pairs, cos >= 0.42) in one cell far above the 1/n_cells
    chance rate — the property that makes n_probe/n_cells scan cost a
    real trade on clustered corpora."""
    from crawlspark.operators import similarity
    from crawlspark.queries.relational import T
    from crawlspark.queries.simq import q57_embed_near_dups

    sf = "/root/testdata/sf0.01"
    e = T(spark, sf, "embeddings")
    pairs = [(r["i"], r["j"]) for r in q57_embed_near_dups(spark, sf).collect()]
    assert len(pairs) >= 20

    def assignment():
        cents = similarity.ivf_centroids(e, 16, 24, dim=64, refine_rounds=1)
        a = similarity.ivf_assign(
            e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
            cents, 1, "id", "v",
        )
        return {r["id"]: r["cell"] for r in a.collect()}

    cell = assignment()
    capture = sum(1 for i, j in pairs if cell[i] == cell[j]) / len(pairs)
    assert capture >= 3 / 16, f"capture {capture} not above chance"
    assert assignment() == cell, "quantizer must be deterministic"

    # the shipped q64 config (n_probe=4): probed-cell capture of the
    # structured pairs must stay ≥ 0.9 (BENCH/ANN_RECALL.md curve)
    cents = similarity.ivf_centroids(e, 16, 24, dim=64, refine_rounds=1)
    probed: dict = {}
    for r in similarity.ivf_assign(
        e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
        cents, 4, "id", "v",
    ).collect():
        probed.setdefault(r["id"], set()).add(r["cell"])
    cap4 = sum(
        1 for i, j in pairs if cell[j] in probed[i] or cell[i] in probed[j]
    ) / len(pairs)
    assert cap4 >= 0.9, f"n_probe=4 capture {cap4} below the shipped bar"


# -- P27 mixture resampling: deterministic, partitioning-invariant --------

def test_mixture_sample_deterministic_and_weighted(spark):
    from crawlspark.operators import textstats

    rows = [(f"doc{i:05d}", ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "id string, grp string")
    w = {"a": 2.0, "b": 0.5, "c": 1.25}

    out = textstats.mixture_sample(df, "id", "grp", w).persist()
    try:
        # integer part exact: every group-a row appears exactly twice
        per_a = (
            out.filter("grp = 'a'").groupBy("id").count()
            .select(F.collect_set("count")).first()[0]
        )
        assert per_a == [2]
        # fractional part lands near the weight (md5 is uniform)
        n_b = out.filter("grp = 'b'").count()
        assert 0.35 * 1000 < n_b < 0.65 * 1000
        # epoch indexes copies 1..n
        assert out.agg(F.min("epoch"), F.max("epoch")).first() == (1, 2)

        # partitioning-invariant: identical multiset under repartition
        again = textstats.mixture_sample(df.repartition(13), "id", "grp", w)
        a = sorted(out.select("id", "grp", "epoch").collect())
        b = sorted(again.select("id", "grp", "epoch").collect())
        assert a == b
    finally:
        out.unpersist()


# -- R26 sharded export: deterministic membership, real files -------------

def test_write_sharded_matches_plan(spark, tmp_path):
    from crawlspark.operators import bucketing
    from crawlspark.queries.relational import T

    d = T(spark, "/root/testdata/sf0.001", "documents")
    plan = {
        r["shard_id"]: (r["n_docs"], r["n_bytes"])
        for r in bucketing.shard_plan(d, "doc_id", "text", 8192).collect()
    }
    n = bucketing.write_sharded(d, str(tmp_path / "out"), "doc_id", "text", 8192)
    assert set(plan) <= set(range(n))
    back = spark.read.parquet(str(tmp_path / "out"))
    got = {
        r["shard_id"]: (r["n_docs"], r["n_bytes"])
        for r in back.groupBy("shard_id").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        ).collect()
    }
    assert got == plan
    # one directory per shard on disk
    dirs = {p.name for p in (tmp_path / "out").iterdir() if p.name.startswith("shard_id=")}
    assert len(dirs) == len(plan)


def test_rank_seq_distributed_equals_window_on_urlnorm(spark):
    """Reseed's lexicographic rank must be identical on both paths —
    the window task an operator-sized list takes and the two-phase
    distributed rank a bulk revisit() takes."""
    rows = [(f"http://h{i % 37}.example.com/p{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "url_norm string").repartition(16)
    a = {
        r["url_norm"]: r["seq"]
        for r in schedule.rank_seq(df, 100, ["url_norm"], distributed=False).collect()
    }
    b = {
        r["url_norm"]: r["seq"]
        for r in schedule.rank_seq(df, 100, ["url_norm"], distributed=True).collect()
    }
    schedule.release_scratch()
    assert a == b
    assert sorted(a.values()) == list(range(101, 101 + len(rows)))


def test_backoff_caps_rule(spark):
    """C27: the backoff decision must follow the exact 1/4 threshold
    with the 1.0 floor, per host."""
    from crawlspark.operators import politeness

    sched = spark.createDataFrame(
        [("a", True)] * 3 + [("a", False)]          # exactly 1/4 -> halve
        + [("b", True)] * 4 + [("b", False)]        # 1/5 -> keep
        + [("c", False)] * 2,                       # all fail -> halve, floor
        "host string, ok boolean",
    )
    hc = spark.createDataFrame(
        [("a", 6.0), ("b", 6.0), ("c", 1.5)],
        "host string, token_capacity double",
    )
    got = {
        r["host"]: (r["n_fail"], r["new_cap"])
        for r in politeness.backoff_caps(sched, hc).collect()
    }
    assert got == {"a": (1, 3.0), "b": (1, 6.0), "c": (2, 1.0)}


@settings(max_examples=30, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-100.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False, width=32),
        min_size=2, max_size=16,
    )
)
def test_quantize8_numpy_twin(vec):
    """P34 public-definition property: the SQ8 quantization rule
    q_i = round_half_up(127·x/max|x|) computed by an independent
    numpy/Decimal twin — values in [-127, 127], sign preserved, the
    max-magnitude element always hits ±127 (unless all-zero), and the
    quantized cosine of a vector with itself is exactly 1."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    mx = max(abs(float(x)) for x in vec)
    s = max(mx, 1e-30)
    q = [
        int(Decimal(repr(float(x) * 127.0 / s)).quantize(Decimal("1"), ROUND_HALF_UP))
        for x in vec
    ]
    assert all(-127 <= v <= 127 for v in q)
    for x, v in zip(vec, q):
        if x > 0:
            assert v >= 0
        if x < 0:
            assert v <= 0
    if mx >= 1e-30:
        # below the scale clamp everything legitimately rounds to 0
        assert max(abs(v) for v in q) == 127
    n2 = sum(v * v for v in q)
    if n2:
        c = n2 / (math.sqrt(float(n2)) * math.sqrt(float(n2)))
        assert abs(c - 1.0) < 1e-12


def test_quantize8_spark_matches_twin(spark):
    """The JVM quantize8 column must emit exactly the numpy/Decimal
    twin's integers on a fixed awkward corpus (halfway values,
    negatives, tiny magnitudes)."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from crawlspark.operators.similarity import quantize8

    vecs = [
        [1.0, -1.0, 0.5, -0.5, 0.25],
        [3.0, 1.5, -1.5, 0.0, 2.9999],
        [1e-9, -1e-9, 5e-10, 0.0, 1e-9],
        [100.0, -50.0, 25.0, -12.5, 6.25],
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<float>")
    qcol, _s = quantize8(F.col("v"))
    got = [r[0] for r in df.select(qcol).collect()]
    for v, g in zip(vecs, got):
        s = max(max(abs(float(np.float32(x))) for x in v), 1e-30)
        twin = [
            int(Decimal(repr(float(np.float32(x)) * 127.0 / s))
                .quantize(Decimal("1"), ROUND_HALF_UP))
            for x in v
        ]
        assert list(g) == twin, (v, list(g), twin)


@settings(max_examples=60, deadline=None)
@given(
    host=st.integers(min_value=0, max_value=4),
    page=st.integers(min_value=0, max_value=39),
)
def test_scope_deny_pattern_python_java_subset(host, page):
    """C30 public-definition property: for the UNIT_SCOPE deny pattern
    (Java∩RE2∩Python subset), Python re.search on the canonical URL —
    the refsim's decision — flags exactly the pages /p10–/p19."""
    import re

    from crawlspark.synth import UNIT_SCOPE

    u = UNIT_SCOPE.page_url(host, page)
    # both /pN and /private/pN paths end in /pN, so the pattern keys
    # purely on the page number
    assert bool(re.search(UNIT_SCOPE.url_deny[0], u)) == (10 <= page <= 19)
