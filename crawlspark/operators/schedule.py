"""Priority scheduling (C8–C11, C18): reproduce beanstalkd's drain
order — priority ascending, FIFO within equal priority — as a
deterministic batch computation (SURVEY.md §2.1, §3).

score = depth + site_priority (lower = sooner), FIFO tie-break on
`seq`, a deterministic discovery sequence number (never
monotonically_increasing_id, which is partition-layout-dependent).

Skew: one mega-host must not serialize a whole partition, so the
per-host fan-out cap runs in two phases over `host_salt`
(C11): phase 1 caps within (host, salt) — parallel across salts —
then phase 2 takes the exact per-host top-cap from the ≤ S·cap
survivors. AQE's skew-join splitting does not cover window skew, so
this is explicit (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# the two-phase rank's per-partition row offsets (driver-built)
_OFFSETS = T.StructType(
    [T.StructField("_pid", T.IntegerType(), True), T.StructField("_off", T.LongType(), True)]
)


def with_salt(df: DataFrame, n_salt: int) -> DataFrame:
    """C11: per-URL salt spreads a mega-host over n_salt buckets."""
    return df.withColumn(
        "host_salt", F.pmod(F.xxhash64(F.col("url_norm"), F.lit(1)), F.lit(n_salt)).cast("int")
    )


def with_score(df: DataFrame) -> DataFrame:
    """C8: beanstalkd put-priority analogue (BASELINE.json formula)."""
    return df.withColumn(
        "score", (F.col("depth") + F.col("site_priority")).cast("long")
    )


def per_host_cap(queued: DataFrame, caps: DataFrame, key: str = "host") -> DataFrame:
    """C9: keep each bucket's best ≤ cap URLs by (score, seq). The
    bucket `key` is the host by default, or the registered-domain
    politeness key under C33 grouping.

    Greedy priority-FIFO drain with per-bucket allowances selects, for
    every bucket, exactly its top-cap candidates in global order — so
    the capped union is semantically identical to the reference's
    scan (proof sketch: within-bucket order is a suborder of the
    global order, so a URL survives the scan iff it is among its
    bucket's first cap candidates).

    The phase-1 window partitions on (key, host_salt): any
    sub-partitioning of the bucket's rows over-selects (≤ cap per
    slice ⊇ the bucket's true top-cap), so the host-derived salt
    stays correct when the bucket is a whole domain.
    """
    df = queued.join(F.broadcast(caps), key, "inner").filter(F.col("cap") > 0)
    w1 = Window.partitionBy(key, "host_salt").orderBy("score", "seq")
    phase1 = df.withColumn("rn1", F.row_number().over(w1)).filter(
        F.col("rn1") <= F.col("cap")
    )
    w2 = Window.partitionBy(key).orderBy("score", "seq")
    return (
        phase1.withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= F.col("cap"))
        .drop("rn1", "rn2", "cap")
    )


SMALL_BATCH_MAX = 65536

# Persisted range-partitioned temporaries from large-batch
# global_schedule. They MUST stay cached until the caller materializes
# the schedule (the range partitioner samples boundaries, so a
# recompute could re-draw them and desync the collected offsets);
# callers release them afterwards via release_scratch().
_SCRATCH: list[DataFrame] = []


def register_scratch(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame into the current scratch
    set — the PUBLIC registration point for operators (e.g. the clock
    sweep) whose persisted temporaries must survive until the caller
    materializes the cycle's transaction. Library users composing
    those operators outside CrawlEngine.run_cycle own the release:
    call release_scratch() after the consuming action, exactly as the
    engine does at commit."""
    _SCRATCH.append(df)
    return df


def release_scratch() -> None:
    for df in _SCRATCH:
        df.unpersist()
    _SCRATCH.clear()


def _range_offsets(df: DataFrame, order_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """Phase 1 of the two-phase rank: `df` range-partitioned on the
    order key, cached and tagged with its partition id `_pid`, and a
    driver-built frame of each partition's starting row offset `_off`
    (the driver collects P row counts, never rows)."""
    spark = df.sparkSession
    ranged = (
        df.repartitionByRange(
            spark.sparkContext.defaultParallelism, *[F.col(c) for c in order_cols]
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    _SCRATCH.append(ranged)
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["n"]
    return ranged, local_frame(spark, offsets, _OFFSETS)


def global_schedule(capped: DataFrame, batch_size: int) -> DataFrame:
    """C10: the cycle's fetch batch, with its position in the crawl
    ordering. This IS the ordering contract vs the reference.

    Small batches (≤ 64k) use TakeOrderedAndProject + a single-partition
    row_number window — the window input is already ≤ B rows.

    Large batches use a fully-distributed two-phase rank: range-sort on
    (score, seq), collect only the per-partition row counts (driver
    sees P integers, never rows), then batch_pos = partition offset +
    local row_number — every step parallel, no single-partition funnel.
    batch_pos is identical either way because (score, seq) is a total
    order, regardless of where the range partitioner drew boundaries.
    """
    if batch_size <= SMALL_BATCH_MAX:
        batch = capped.orderBy("score", "seq").limit(batch_size)
        w = Window.orderBy("score", "seq")
        return batch.withColumn("batch_pos", F.row_number().over(w).cast("long"))

    ranged, off_df = _range_offsets(capped, ["score", "seq"])
    w = Window.partitionBy("_pid").orderBy("score", "seq")
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("batch_pos", (F.col("_off") + F.row_number().over(w)).cast("long"))
        .filter(F.col("batch_pos") <= batch_size)
        .drop("_pid", "_off")
    )
    return out


_SEQ_ORDER = ["batch_pos", "span_pos", "link_pos"]


def rank_seq(
    df: DataFrame, base_seq: int, order_cols: list[str],
    distributed: bool = False, out_col: str = "seq",
) -> DataFrame:
    """Deterministic dense rank → ``out_col`` (default ``seq``) over a
    total order. Callers ranking a frame that already carries a live
    ``seq`` column (the C39 clock sweep ranks pending frontier rows BY
    seq) pass a different ``out_col`` so the order key survives.

    Small inputs rank through one window task. Large inputs use the
    same fully-distributed two-phase rank as :func:`global_schedule`:
    range-partition on the order key, collect only per-partition row
    COUNTS (driver sees P integers, never rows), then
    seq = base + partition offset + local row_number — no
    single-partition funnel anywhere. Both paths produce identical
    seq because the order is total (equality-tested in
    tests/test_properties.py)."""
    if not distributed:
        w = Window.orderBy(*order_cols)
        return df.withColumn(
            out_col, (F.lit(base_seq) + F.row_number().over(w)).cast("long")
        )

    ranged, off_df = _range_offsets(df, order_cols)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(
            out_col,
            (F.lit(base_seq) + F.col("_off") + F.row_number().over(w)).cast("long"),
        )
        .drop("_pid", "_off")
    )


def assign_seq(novel: DataFrame, base_seq: int, distributed: bool = False) -> DataFrame:
    """C18: deterministic FIFO sequence for this cycle's discoveries.

    Arrival order is defined by (parent batch_pos, span_pos, link_pos)
    — exactly the order a serial worker draining the batch would have
    enqueued them; the triple is unique post-dedup, so the order is
    total and the result parallelism-independent. Delegates to
    :func:`rank_seq` (window path ≤ ~64k, two-phase distributed rank
    above)."""
    return rank_seq(novel, base_seq, _SEQ_ORDER, distributed)


def pattern_cap(
    novel: DataFrame, prior: DataFrame | None, budget: int,
    keys: tuple[str, ...] = ("host", "path"),
    order: tuple[str, ...] = tuple(_SEQ_ORDER),
) -> DataFrame:
    """C23 crawler-trap guard: admit per (host, path) URL pattern only
    while lifetime admissions stay under ``budget``, first-discovered
    first (the refsim's sequential-admit order). Calendar pages,
    session-id echoes, and faceted-search grids all mint unbounded
    distinct URLs under ONE path — without a pattern budget the
    frontier fills with one host's furniture.

    ``prior`` is (host, path, n_admitted) lifetime counts; candidates
    rank within their pattern by the arrival order key and survive
    while prior + rank ≤ budget.

    Scale shape: same two-phase window as :func:`per_host_cap` — phase
    1 caps within (host, path, host_salt), parallel across salts, so a
    pattern with 10^6 candidates in one cycle never serializes a
    single window partition; phase 2 exact-ranks the ≤ S·budget
    survivors. The prior join is a shuffle join on the pattern key
    (the pattern table outgrows a broadcast at web scale); hot
    patterns have exactly one build row, so skew sits on the probe
    side. AQE splits it on an AQE session; the engine runs with AQE
    off (CrawlEngine._tuned), where a pattern table under the
    broadcast threshold broadcasts and a larger one leaves a hot
    pattern's probe rows in one task.

    ``keys`` generalizes the budget scope: ("host",) gives C38's
    per-host lifetime page budget (Heritrix max-pages-per-host) over
    the same two-phase machinery (GraphConfig.admission_cap names the
    scope). ``prior`` None means every prior count is 0 (bootstrap);
    ``order`` is the arrival order (seed ``pos`` at bootstrap)."""
    kl = list(keys)
    if prior is None:
        df = novel.withColumn("_prior", F.lit(0))
    else:
        df = novel.join(prior, kl, "left").withColumn(
            "_prior", F.coalesce(F.col("n_admitted"), F.lit(0))
        )
    w1 = Window.partitionBy(*kl, "host_salt").orderBy(*order)
    w2 = Window.partitionBy(*kl).orderBy(*order)
    return (
        df.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") + F.col("_prior") <= budget)
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") + F.col("_prior") <= budget)
        .drop("rn1", "rn2", "_prior", "n_admitted")
    )


def dedup_within_batch(cands: DataFrame) -> DataFrame:
    """R23/C15: first discovery wins, deterministically — window
    row_number, never dropDuplicates (nondeterministic tie-break)."""
    w = Window.partitionBy("url_norm").orderBy("batch_pos", "span_pos", "link_pos")
    return cands.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
