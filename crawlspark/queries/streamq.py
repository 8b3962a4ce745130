"""Streaming queries for the driver contract: the Structured Streaming
path run to completion with trigger(availableNow) — results land in a
memory sink and are returned as a DataFrame, so the *streaming* window
aggregation is hash-compared against the DuckDB batch oracle (S3's
batch-equivalence, checked by the driver itself).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from .. import streaming as S

_COUNTER = itertools.count()


def _events_dir(sf: str) -> str:
    """File-source streams need a directory; expose the events parquet
    through a per-sf symlink dir."""
    import os

    d = f"/tmp/crawlspark_stream_src_{sf.strip('/').replace('/', '_')}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf}/events.parquet", link)
    return d


def q90_stream_window_rates(spark, sf):
    """S1+S2+S3 end-to-end: file-source stream over the events parquet,
    watermarked 6-hour tumbling windows, availableNow to completion."""
    from . import pin_session

    pin_session(spark)
    name = f"q90_sink_{next(_COUNTER)}"
    stream = S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
    agg = S.windowed_rates(stream, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("win_start").cast("long").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


SQL90 = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS win_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q91_stream_sessions(spark, sf):
    """S4: session windows (30-min gap) to completion; compared against
    the DuckDB lag+cumsum batch formulation of the same sessions."""
    from . import pin_session

    pin_session(spark)
    name = f"q91_sink_{next(_COUNTER)}"
    stream = S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
    agg = S.session_counts(stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    per_user = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.max("n_events").alias("max_session_events"))
    )
    return per_user


SQL91 = """
WITH x AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
s AS (
  -- >= : session_window ranges are half-open [start, start+gap), so an
  -- event exactly gap later starts a NEW session
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM x),
c AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM s),
p AS (SELECT user_id, sess_id, count(*) AS len FROM c GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions, max(len) AS max_session_events
FROM p GROUP BY user_id
"""


_Q92_CAP, _Q92_REFILL, _Q92_FILES = 64.0, 32.0, 4
# bump when the q92 split or expected-output definition changes so a
# stale /tmp dir from an earlier code version is never reused
_Q92_VERSION = 2


def _q92_multi_dir(sf: str) -> str:
    """Deterministic multi-file split of the events table for the q92
    stateful stream — pure pyarrow (contiguous row chunks in file
    order, mtimes spaced so the file-stream source discovers them in
    a pinned order), so the pure-Python oracle twin (`build_oracle`)
    can replay the exact micro-batch sequence without Spark."""
    import os

    key = sf.strip("/").replace("/", "_")
    multi = f"/tmp/crawlspark_stream_multi_v{_Q92_VERSION}_{key}"
    if not os.path.exists(f"{multi}/_DONE"):
        import shutil
        import tempfile as _tf

        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{sf}/events.parquet")
        n = tbl.num_rows
        tmp = _tf.mkdtemp(prefix=f"{multi}.stage-")
        base_ts = 1_700_000_000
        for i in range(_Q92_FILES):
            lo = i * n // _Q92_FILES
            hi = (i + 1) * n // _Q92_FILES
            p = os.path.join(tmp, f"part-{i:04d}.parquet")
            pq.write_table(tbl.slice(lo, hi - lo), p)
            os.utime(p, (base_ts + i * 60, base_ts + i * 60))
        open(os.path.join(tmp, "_DONE"), "w").write("ok")
        try:
            os.replace(tmp, multi)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return multi


def q92_stream_token_buckets(spark, sf):
    """S5: custom stateful streaming op — per-host crawl-delay token
    buckets via applyInPandasWithState, one micro-batch per source
    file so state carries across batches. Oracle: refsim-generated
    (`build_oracle` below) — a pure-Python token-bucket twin replays
    the same deterministic file sequence and the driver hash-compares
    the final per-host totals; invariants also property-tested in
    tests/test_streaming.py."""
    from . import pin_session

    pin_session(spark)

    multi = _q92_multi_dir(sf)
    name = f"q92_sink_{next(_COUNTER)}"
    stream = S.file_stream(spark, multi, S.EVENTS_SCHEMA, max_files_per_trigger=1)
    reqs = stream.select(
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host")
    )
    out = S.token_bucket_stream(reqs, capacity=_Q92_CAP, refill=_Q92_REFILL)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("host")
        .agg(
            F.sum("requested").alias("total_requested"),
            F.sum("allowed").alias("total_allowed"),
            F.count("*").alias("n_batches"),
        )
    )


def q93_crawl_stream_rates(spark, sf):
    """S1 over the engine's own tables — the streaming crawl wrapper:
    tail the UNIT crawl's committed `scheduled` log one file per
    micro-batch and aggregate per-(cycle, host) outcome counts to
    completion. Oracle: refsim-generated (crawl_oracle.py) — the
    stream's final state must equal the reference drain's history."""
    from ..synth import UNIT
    from .crawlq import scenario

    eng = scenario(spark, UNIT)
    name = f"q93_sink_{next(_COUNTER)}"
    stream = S.crawl_schedule_stream(spark, eng.cfg.warehouse, max_files_per_trigger=1)
    q = (
        S.crawl_cycle_rates(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def q94_stream_distinct(spark, sf):
    """Streaming exact dedup via the state store (dropDuplicates on an
    unbounded source — P1's semantics as a stream): the distinct
    (user_id, event_type) pairs discovered over the events stream,
    availableNow to completion. Emitting only the key columns makes
    the result batch-equal by construction — whichever arrival wins a
    key inside a micro-batch, the emitted key set is the same — so
    the oracle is a plain SELECT DISTINCT."""
    from . import pin_session

    pin_session(spark)
    name = f"q94_sink_{next(_COUNTER)}"
    stream = S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
    dd = stream.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    q = (
        dd.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


SQL94 = "SELECT DISTINCT user_id, event_type FROM events"


def q97_stream_join(spark, sf):
    """S8 stream-stream inner join with an event-time range condition:
    each click joined to the same user's purchases in the following
    hour — the attribution join every event pipeline runs. Both sides
    are watermarked, so Spark's symmetric hash join evicts state once
    the range condition can no longer match (bounded state at an
    unbounded 100 TB/day stream — without the time bound the join
    state IS the stream); availableNow to completion. Append-mode
    output over a finite source equals the batch join, so the oracle
    is the plain self-join in DuckDB."""
    from . import pin_session

    pin_session(spark)
    name = f"q97_sink_{next(_COUNTER)}"
    clicks = (
        S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    j = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + interval 1 hour"
        ),
    )
    q = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "click_id", "purchase_id", "user_id",
        F.col("click_ts").cast("long").alias("click_ts"),
        F.col("purchase_ts").cast("long").alias("purchase_ts"),
        "value",
    )


SQL97 = """
SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
       CAST(floor(epoch(a.ts)) AS BIGINT) AS click_ts,
       CAST(floor(epoch(b.ts)) AS BIGINT) AS purchase_ts,
       b.value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def q107_stream_enrich(spark, sf):
    """S9 stream-static enrichment join: the event stream joined to a
    BATCH dimension (customer → nation) — the lookup-enrichment every
    production pipeline runs (stream facts, slowly-changing dims). The
    static side broadcasts: no state, no watermark needed (unlike
    stream-stream S8), each micro-batch hash-joins against the pinned
    dim snapshot — at 100 TB/day the dim re-broadcasts per trigger,
    never accumulates. Unmatched users keep their rows (left join,
    nation -1). Complete-mode rollup over a finite source equals the
    batch join, so the oracle is the plain DuckDB join."""
    from . import pin_session

    pin_session(spark)
    name = f"q107_sink_{next(_COUNTER)}"
    stream = S.file_stream(spark, _events_dir(sf), S.EVENTS_SCHEMA)
    cust = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = stream.join(F.broadcast(cust), "user_id", "left")
    agg = joined.groupBy(
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nation"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("nation", "event_type", "n", "sum_value")


SQL107 = """
SELECT coalesce(c.c_nationkey, -1) AS nation, e.event_type,
       count(*) AS n, round(sum(e.value), 2) AS sum_value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""


QUERIES = {
    "q90_stream_window_rates": q90_stream_window_rates,
    "q91_stream_sessions": q91_stream_sessions,
    "q92_stream_token_buckets": q92_stream_token_buckets,
    "q93_crawl_stream_rates": q93_crawl_stream_rates,
    "q94_stream_distinct": q94_stream_distinct,
    "q97_stream_join": q97_stream_join,
    "q107_stream_enrich": q107_stream_enrich,
}

ORACLE = {
    "q90_stream_window_rates": SQL90,
    "q91_stream_sessions": SQL91,
    "q94_stream_distinct": SQL94,
    "q97_stream_join": SQL97,
    "q107_stream_enrich": SQL107,
}


def build_oracle(sf: str | None = None) -> dict[str, str]:
    """Refsim-generated oracle for q92 (same pattern as
    crawl_oracle.py): replay the deterministic micro-batch sequence —
    the pyarrow-split files of `_q92_multi_dir` in mtime order — with
    a pure-Python token bucket (twin of streaming.make_token_bucket_fn:
    tokens = min(cap, tokens + refill); allowed = min(int(tokens),
    requested)), aggregate per host, persist as typed parquet, and
    emit ``read_parquet`` SQL for the driver's DuckDB harness.

    The driver compares at sf0.01 (TESTDATA.md), so that is the
    default; check_oracle/driver_sim use the same dir."""
    import os
    import tempfile as _tf

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = sf or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    multi = _q92_multi_dir(sf)
    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q92_oracle_v{_Q92_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q92.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        files = sorted(
            (os.path.getmtime(os.path.join(multi, f)), f)
            for f in os.listdir(multi)
            if f.endswith(".parquet")
        )
        tokens: dict[str, float] = {}
        totals: dict[str, list] = {}  # host -> [requested, allowed, batches]
        for _mt, fname in files:
            uids = pq.read_table(
                os.path.join(multi, fname), columns=["user_id"]
            ).column("user_id").to_pylist()
            requested: dict[str, int] = {}
            for u in uids:
                requested[f"h{u % 5}"] = requested.get(f"h{u % 5}", 0) + 1
            for host, req in requested.items():
                t = min(_Q92_CAP, tokens.get(host, _Q92_CAP) + _Q92_REFILL)
                allowed = min(int(t), req)
                tokens[host] = t - allowed
                acc = totals.setdefault(host, [0, 0, 0])
                acc[0] += req
                acc[1] += allowed
                acc[2] += 1
        hosts = sorted(totals)
        tbl = pa.table(
            {
                "host": pa.array(hosts, pa.string()),
                "total_requested": pa.array([totals[h][0] for h in hosts], pa.int64()),
                "total_allowed": pa.array([totals[h][1] for h in hosts], pa.int64()),
                "n_batches": pa.array([totals[h][2] for h in hosts], pa.int64()),
            }
        )
        tmp = _tf.mkdtemp(prefix=f"{out_dir}.stage-")
        pq.write_table(tbl, os.path.join(tmp, "q92.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").write("ok")
        try:
            os.replace(tmp, out_dir)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return {
        "q92_stream_token_buckets": f"SELECT * FROM read_parquet('{out_path}')"
    }
