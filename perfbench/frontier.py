"""The frontier half of the dataflow workload: a frontier pass over a
synthetic messy frontier, from the operators' public calls (canonicalize
→ hash → Bloom + exact seen filter → robots → score → salt → two-phase
per-host cap → global top-B), with no catalog and no fetch."""

from __future__ import annotations

from common import cache_get, cache_key, cache_put, median, source_hash
from ledger import rows_named

N_URLS = 200_000
N_HOSTS = 2_000
N_PARTS = 16
N_SALT = 16
BATCH = N_URLS // 4


def inputs(spark, seed: int):
    """Frontier of N_URLS messy URLs (row i gets synthetic id
    pmod(i*A + seed, N), so the seed permutes which URL lands where)
    and the host config. Built JVM-side."""
    from pyspark.sql import functions as F

    from crawlspark.gen import host_config_df
    from crawlspark.synth import GraphConfig

    g = GraphConfig(n_sites=N_HOSTS, token_mult=max(1, BATCH // (2 * N_HOSTS)))
    hc = host_config_df(spark, g)
    pid = F.pmod(F.col("id") * F.lit(2654435761) + F.lit(seed), F.lit(N_URLS))
    base = spark.range(N_URLS).select(
        F.concat(
            F.lit("HTTP://Site"),
            F.lpad((pid % N_HOSTS).cast("string"), 4, "0"),
            F.lit(".EXAMPLE.com:80"),
            F.when(pid % 5 == 0, F.lit("/a/../p")).otherwise(F.lit("/p")),
            F.pmod(pid * 2654435761, F.lit(10_000_000)).cast("string"),
            F.when(pid % 3 == 0, F.lit("?utm_source=b&x=1")).otherwise(F.lit("#f")),
        ).alias("url"),
        (pid % 12).cast("int").alias("depth"),
        F.col("id").alias("seq"),
    )
    return base.repartition(N_PARTS), hc


def canon(fr):
    from pyspark.sql import functions as F

    from crawlspark.urlnorm import canonicalize_udf, with_url_parts

    cand = with_url_parts(
        fr.withColumn("url_norm", canonicalize_udf("url")).filter(F.col("url_norm").isNotNull())
    )
    return cand.withColumn("part", F.pmod(F.col("url_hash"), F.lit(N_PARTS)).cast("int"))


def caps_of(hc):
    from pyspark.sql import functions as F

    return hc.select("host", F.floor(F.col("token_capacity")).cast("int").alias("cap"))


def after_seen(novel, hc, caps):
    from crawlspark.operators import politeness, schedule

    novel = politeness.robots_filter(novel, hc)
    novel = schedule.with_salt(schedule.with_score(novel), N_SALT)
    return schedule.per_host_cap(novel, caps)


def materialize(df):
    """Cache `df` and compute every column of it (a count alone would
    let the optimizer prune columns)."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


class Frontier:
    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from crawlspark.operators import seen
        from crawlspark.schemas import BLOOM_SEEN

        self.ctx = ctx
        spark, tr = ctx.spark, ctx.tracer
        fr, hc = inputs(spark, ctx.seed)
        self.frontier = materialize(fr)
        self.hc = materialize(hc)
        self.caps = materialize(caps_of(self.hc))
        # pre-seeded URL-seen set: every other frontier URL
        self.seen = materialize(
            canon(self.frontier.filter(F.col("seq") % 2 == 0)).select("url_hash", "url_norm", "part")
        )
        with tr.span("seen.fold"):
            self.bloom = materialize(seen.fold_bloom(
                self.seen.select("part", "url_hash"), spark.createDataFrame([], BLOOM_SEEN),
                cycle_id=0,
            ))
        # untimed full-size warm-up pass: a pass on a slice left the
        # first timed pass ~25% slower than the next
        self.digests = []
        with tr.span("frontier.warmup"):
            out = self.run_pass()
        self.check_pass(out, invariants=True)

    def pipeline(self, fr):
        from crawlspark.operators import schedule, seen

        cand = canon(fr).persist()
        novel = seen.seen_filter(cand, self.seen, self.bloom)
        sched = materialize(schedule.global_schedule(after_seen(novel, self.hc, self.caps), BATCH))
        return cand, sched

    def run_pass(self):
        return self.ctx.op("frontier pass", self.pipeline, self.frontier)

    def check_pass(self, out, invariants: bool = False) -> None:
        """Digest one pass's output (untimed) and drop its caches. The
        invariants are checked on the warm-up pass; every timed pass
        must then give the same digest, so it holds them too."""
        if out is not None:
            if invariants:
                self.ctx.op("check frontier invariants", self.check, out[1])
            self.digests.append(self.ctx.op("digest frontier pass", schedule_digest, out[1]))
            self.release(out)

    def check_digests(self) -> None:
        """Every pass gives the same schedule, and so did earlier runs
        with this seed and these sources in this checkout. The first
        such run only records its digest, so across checkouts or code
        versions only the within-run check applies."""
        ctx = self.ctx
        ctx.check("every frontier pass gives the same schedule", len(set(self.digests)) == 1)
        key = "frontier-" + cache_key(ctx.seed, N_URLS, N_HOSTS, N_PARTS, N_SALT, BATCH,
                                      source_hash("crawlspark", "perfbench"))
        prev = cache_get(key)
        if self.digests and self.digests[0] is not None:
            if prev is None:
                cache_put(key, {"digest": self.digests[0]})
            else:
                ctx.check("schedule digest matches earlier runs", prev["digest"] == self.digests[0])

    def release(self, dfs) -> None:
        from crawlspark.operators import schedule

        for df in dfs:
            df.unpersist()
        schedule.release_scratch()

    def check(self, sched) -> None:
        """Invariants of one pass's output."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        n = sched.count()
        ctx.check(f"scheduled {n} == batch {BATCH}", n == BATCH)
        keys = ["url_hash", "url_norm"]
        ctx.check("no scheduled URL is in the seen set",
                  sched.join(self.seen.select(*keys), keys, "left_semi").count() == 0)
        over = (sched.groupBy("host").count().join(self.caps, "host")
                .filter(F.col("count") > F.col("cap")).count())
        ctx.check("per-host caps hold", over == 0)
        pos = sched.agg(F.min("batch_pos"), F.max("batch_pos"),
                        F.countDistinct("batch_pos")).collect()[0]
        ctx.check("batch_pos is 1..B", tuple(pos) == (1, BATCH, BATCH))

    def staged(self) -> dict:
        """Traced run only: each operator's output materialized in turn,
        so each operator's time and Spark work sit in their own span."""
        from pyspark.sql import functions as F

        from crawlspark.operators import politeness, schedule, seen
        from crawlspark.urlnorm import canonicalize_udf

        tr, keep = self.ctx.tracer, []
        with tr.span("urlnorm.canon"):
            raw = materialize(self.frontier.withColumn("url_norm", canonicalize_udf("url")))
            cand = materialize(canon(self.frontier))
        nulls = raw.filter(F.col("url_norm").isNull()).count()
        n_cand = cand.count()
        probed = materialize(seen.bloom_prefilter(cand, self.bloom))
        n_maybe = probed.filter("maybe_seen").count()
        with tr.span("seen.filter"):
            novel = materialize(seen.seen_filter(cand, self.seen, self.bloom))
        n_novel = novel.count()
        keys = ["url_hash", "url_norm"]
        n_fp = probed.filter("maybe_seen").join(novel.select(*keys), keys, "left_semi").count()
        with tr.span("politeness.robots"):
            rob = materialize(politeness.robots_filter(novel, self.hc))
        n_rob = rob.count()
        with tr.span("schedule.cap"):
            capped = materialize(schedule.per_host_cap(
                schedule.with_salt(schedule.with_score(rob), N_SALT), self.caps))
        n_capped = capped.count()
        with tr.span("schedule.topk"):
            sched = materialize(schedule.global_schedule(capped, BATCH))
        keep += [raw, cand, probed, novel, rob, capped, sched]
        self.release(keep)
        return {
            "urlnorm.null_frac": nulls / N_URLS,
            "seen.bloom_maybe_frac": n_maybe / n_cand,
            "seen.bloom_fp_rate": n_fp / n_novel if n_novel else 0.0,
            "seen.dedup_frac": 1.0 - n_novel / n_cand,
            "politeness.drop_frac": 1.0 - n_rob / n_novel if n_novel else 0.0,
            "schedule.cap_drop_frac": 1.0 - n_capped / n_rob if n_rob else 0.0,
        }


def schedule_digest(sched) -> str:
    """Row count and an order-free hash sum of (url_norm, batch_pos)."""
    from pyspark.sql import functions as F

    n, h = sched.agg(
        F.count("*"),
        F.sum(F.xxhash64("url_norm", "batch_pos").cast("decimal(38,0)")).cast("string"),
    ).collect()[0]
    return f"{n}:{h}"


def ledger_metrics(ctx, rows) -> dict:
    spans = ctx.tracer.spans

    def one(name):
        got = rows_named(rows, spans, name)
        return got[0] if got else None

    out = {}
    canon_row, filt, cap, topk = (one(n) for n in (
        "urlnorm.canon", "seen.filter", "schedule.cap", "schedule.topk"))
    for name in ("urlnorm.canon", "seen.filter", "politeness.robots", "schedule.cap",
                 "schedule.topk"):
        out[name + "_s"] = median(ctx.tracer.durations(name))
    if canon_row:
        out["urlnorm.executor_cpu_s"] = canon_row.cpu_s
    if filt:
        out["seen.shuffle_mb"] = filt.shuffle_mb
    if cap and topk:
        out["schedule.shuffle_mb"] = cap.shuffle_mb + topk.shuffle_mb
        out["schedule.task_skew"] = cap.task_skew()
    return out
