"""Crawl-engine queries — the core frontier/scheduler semantics.

The crawl tables are not in the driver's DuckDB view set, but every
query here is deterministic over a synthetic graph preset, so each gets
a REAL oracle: `build_oracle` runs the pure-Python
refsim (crawlspark/refsim.py — beanstalkd drain semantics, no Spark) at
``oracle_sql()`` call time, writes its expected rows to parquet, and
emits ``read_parquet`` SQL (crawl_oracle.py). The driver's
rows/schema/value-hash comparison then checks the engine against the
reference semantics directly — ordering, URL-seen set, span
signatures, per-cycle counters, media features, PageRank.

One table, ``CRAWLS``, names each query's preset, its oracle table and
its body; ``QUERIES`` and ``build_oracle`` both read it. Every body
reads the finished crawl that ``scenario`` runs once per (preset,
sidecar) and process in a tmp warehouse.
"""

from __future__ import annotations

import functools
import tempfile
from collections.abc import Callable
from dataclasses import replace
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import CrawlEngine, EngineConfig
from ..portable import md5hash60
from ..synth import (
    UNIT, UNIT_AGING, UNIT_ANCHOR, UNIT_CANON, UNIT_CLKRS, UNIT_CLOCK,
    UNIT_CLOCKLW, UNIT_COND, UNIT_DELAY, UNIT_DOMGROUP, UNIT_HBUDGET,
    UNIT_MEDIA, UNIT_META, UNIT_MIRROR, UNIT_QCLK, UNIT_QDOM, UNIT_QUOTA,
    UNIT_REDIR, UNIT_RESEED, UNIT_REV, UNIT_ROBREV, UNIT_SCOPE,
    UNIT_SMAP, UNIT_SMAPIDX, UNIT_SMLASTMOD, UNIT_TRAP, GraphConfig,
)

_CACHE: dict[tuple[GraphConfig, str], CrawlEngine] = {}


def scenario(spark, g: GraphConfig, sidecar: str = "bloom") -> CrawlEngine:
    """The finished crawl of ``g`` with the ``sidecar`` seen filter,
    memoized per (g, sidecar). Runs g's mid-crawl script
    (GraphConfig.script — the steps RefSim.run applies, in its order),
    crawling up to each step's cycle first. When g without its script
    is a preset of ``CRAWLS``, the crawl is a ``branch_from`` fork of
    that preset's crawl at the first step's cycle instead of a re-crawl
    of the shared prefix (UNIT_CLKRS forks UNIT_CLOCK)."""
    from . import pin_session

    pin_session(spark)
    key = (g, sidecar)
    if key not in _CACHE:
        cfg = EngineConfig(
            graph=g, warehouse=tempfile.mkdtemp(prefix="crawlspark-q-"),
            seen_sidecar=sidecar,
            # small parts keep the UNIT cuckoo sidecar tiny; the fill
            # level is irrelevant to the contract (bloom ignores it)
            cuckoo_nbuckets=1 << 10,
        )
        script = g.script()
        base = g.without_script()
        if script and base in {c.preset for c in CRAWLS.values()}:
            eng = CrawlEngine.branch_from(
                scenario(spark, base, sidecar), script[0][0], cfg
            )
        else:
            eng = CrawlEngine(spark, cfg)
        for cycle, step, arg in script:
            eng.run(max_cycles=cycle)
            _STEPS[step](eng, arg)
        eng.run()
        _CACHE[key] = eng
    return _CACHE[key]


def _lex_first(eng: CrawlEngine, k: int) -> list[str]:
    """The k lexicographically-first seen URLs (the scripted victims)."""
    return [
        r["url_norm"]
        for r in eng.seen_set().orderBy("url_norm").limit(k).collect()
    ]


def _robots_revoked(eng: CrawlEngine, n_hosts: int) -> DataFrame:
    """host_config with the first n_hosts hosts re-publishing robots.txt
    as deny-all — rules compiled from the SAME text the refsim compiles
    (synth.revoked_robots_txt — one source)."""
    from ..robots import parse_robots

    g = eng.cfg.graph
    rules, _delay = parse_robots(g.revoked_robots_txt())
    arr = F.array(*[
        F.struct(
            F.lit(r["allow"]).alias("allow"),
            F.lit(r["prefix"]).alias("prefix"),
            F.lit(r["pattern"]).cast("string").alias("pattern"),
            F.lit(r["spec"]).alias("spec"),
        )
        for r in rules
    ])
    revoked = [g.host(i) for i in range(n_hosts)]
    return eng.cat.read("host_config").withColumn(
        "robots_rules",
        F.when(F.col("host").isin(revoked), arr).otherwise(F.col("robots_rules")),
    )


# synth.SCRIPT step -> how the engine runs it with the step's argument
_STEPS = {
    "revisit": lambda eng, min_age: eng.revisit(min_age),
    "revisit_from_sitemaps": lambda eng, _: eng.revisit_from_sitemaps(),
    "reseed": lambda eng, k: eng.reseed(_lex_first(eng, k)),
    "update_politeness": lambda eng, n: eng.update_politeness(
        _robots_revoked(eng, n)
    ),
}


# -- query bodies: body(engine) -> DataFrame -----------------------------------


def _order(eng):
    """The crawl-ordering contract: every fetch attempt in execution
    order, with its score, seq, depth, attempt number and outcome."""
    return eng.crawl_order().select(
        "cycle_id", "batch_pos", "url_norm", "url_hash", "host", "score",
        "seq", "depth", "attempt", "ok"
    )


def _docs(eng):
    """Stored documents with a span-sequence signature — the
    input_hint per-row invariant (kind, text, media_ref, order) as one
    hashable column."""
    return eng.documents().select(
        "doc_id",
        "fetch_cycle",
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
        md5hash60(F.to_json("spans")).alias("span_sig"),
    )


def _metrics(eng):
    """Per-cycle lineage rollup from the per-partition metrics table."""
    return (
        eng.cat.read("metrics").filter(F.col("part") >= 0)
        .groupBy("cycle_id")
        .agg(
            F.sum("urls_in").alias("urls_in"),
            F.sum("urls_deduped").alias("urls_deduped"),
            F.sum("urls_scheduled").alias("urls_scheduled"),
            F.sum("docs_written").alias("docs_written"),
        )
    )


def _media_features(eng):
    """Multimodal pipeline over the crawl's media spans: explode refs →
    fetch blobs → decode (stubbed) features (crawlspark/multimodal.py)."""
    from .. import multimodal as M

    return M.media_pipeline(eng.documents()).select(
        "media_ref", "doc_id", "kind", "n_bytes", "width", "height", "n_frames", "decoder"
    )


def _frame_sample(eng):
    """Multimodal frame-sampling plan (P14 tail stage): every 4th
    frame index of each non-image asset, as pure JVM explode over the
    decoded n_frames."""
    from .. import multimodal as M

    return M.frame_sample(M.media_pipeline(eng.documents()), every_n=4)


def _edges(eng):
    """The crawl's discovered link graph (parent doc → discovered URL)."""
    return eng.cat.read("edges").select("src", "dst").distinct()


def _pagerank(eng):
    """Iterative PageRank over the discovered link graph, 6 damped
    iterations (numpy power iteration check in tests/test_graph.py)."""
    from ..operators import graph

    return graph.pagerank(_edges(eng), damping=0.85, iterations=6)


def _hits(eng):
    """P51 — Kleinberg HITS over the discovered link graph: hub scores
    (directory/index pages worth fanning out from) and authority scores
    (pages worth fetch-priority), the classic complement to q85's
    PageRank for frontier scoring. Oracle: refsim dict twin
    (crawl_oracle._hits), identical linear updates + one final L1
    norm, round-6."""
    from ..operators import graph

    return graph.hits(_edges(eng), iterations=6)


def _link_distance(eng):
    """P53 — BFS min-hop distance from the depth-0 seed fetches over
    the discovered link graph: the crawl-QA signal comparing TRUE link
    distance against discovery depth (starvation audit). Frontier-based
    BFS (operators/graph.bfs_distances), integer-exact. Oracle: refsim
    level-synchronous BFS twin (crawl_oracle._bfs)."""
    from ..operators import graph

    seeds = (
        eng.crawl_order()
        .filter(F.col("depth") == 0)
        .select(F.col("url_norm").alias("id"))
        .distinct()
    )
    return graph.bfs_distances(_edges(eng), seeds)


def _priority_feedback(eng):
    """PageRank-fed priority refresh (the quality feedback loop into
    C8 scoring): host authority = its best page's damped rank — max,
    not sum, because max is float-addition-order-insensitive and so
    replays exactly under Spark partial aggregation — and the new
    site_priority is the host's quintile in (-authority, host) order.
    The output is exactly the shape update_politeness consumes to
    re-score the frontier mid-crawl. Host ranking goes through
    rank_seq (distributed above 64k hosts — 10^7 hosts at web scale
    never funnel one window task)."""
    from ..operators import graph, schedule

    hosts = (
        graph.pagerank(_edges(eng), damping=0.85, iterations=6)
        .withColumn("host", F.parse_url("id", F.lit("HOST")))
        .groupBy("host")
        .agg(F.max("rank").alias("pr_max"))
        .localCheckpoint(eager=True)
    )
    n = hosts.count()
    ranked = schedule.rank_seq(
        hosts.withColumn("pr_neg", -F.col("pr_max")), 0,
        ["pr_neg", "host"],
        distributed=n > schedule.SMALL_BATCH_MAX,
    )
    # NOTE: callers that take the distributed rank path must
    # materialize before schedule.release_scratch(); the harness's
    # host counts are far below the threshold, so no scratch exists
    return ranked.select(
        "host", "pr_max",
        F.floor(F.lit(5) * (F.col("seq") - 1) / F.lit(n))
        .cast("long").alias("new_priority"),
    )


def _backoff(eng):
    """C27 adaptive politeness backoff: per-host failure rate over the
    attempt log and the next token cap by exact rule (≥ 1/4 failed →
    halve, floor 1.0); the refsim recomputes the same rates from its
    own order log and the shared per-host capacities."""
    from ..operators import politeness

    return politeness.backoff_caps(
        eng.cat.read("scheduled"), eng.cat.read("host_config")
    )


@functools.cache
def _forgotten(eng: CrawlEngine) -> CrawlEngine:
    """A fork of ``eng`` at its last committed cycle (the shared crawl
    stays untouched) with the 5 lexicographically-first seen URLs
    forgotten."""
    last = eng.cat.current_snapshot()["cycle_id"]
    fork = CrawlEngine.branch_from(
        eng, last,
        replace(eng.cfg, warehouse=tempfile.mkdtemp(prefix="crawlspark-q-")),
    )
    assert fork.forget(_lex_first(fork, 5))["forgotten"] == 5
    return fork


def _forget_recrawl(eng):
    """forget() through the driver's harness: after forgetting the 5
    lexicographically-first seen URLs (cuckoo sidecar: in-place
    fingerprint deletes + exact-row removal in one atomic commit), the
    seen set must equal the refsim expectation minus exactly those
    keys. Oracle: q81's table with the same ORDER BY/LIMIT exclusion
    in pure SQL."""
    return _forgotten(eng).seen_set()


def _time_travel(eng):
    """Snapshot time travel (C16 lineage): url_seen read pinned to the
    cycle-3 snapshot must equal the refsim seen set restricted to
    first_cycle <= 3 — every later discovery invisible, every earlier
    one present. Oracle: q81's table filtered in SQL."""
    snap = eng.cat.snapshot_for_cycle(3)
    return eng.cat.read("url_seen", snap).select("url_norm", "first_cycle")


def _snapshot_diff(eng):
    """C22 extension — CDC-style incremental consumption: the url_seen
    rows ADDED between the cycle-2 and cycle-4 snapshots, as an
    anti-join of two pinned snapshot reads of the same table. This is
    the poll a downstream trainer runs ("everything new since my last
    sync") without ever scanning history logs; both reads are pinned,
    so the result is stable no matter what later cycles or forget()
    calls do to the live table. Oracle: q81's expectation filtered to
    2 < first_cycle <= 4 (append-only monotone discovery)."""
    s2 = eng.cat.snapshot_for_cycle(2)
    s4 = eng.cat.snapshot_for_cycle(4)
    return (
        eng.cat.read("url_seen", s4)
        .join(
            eng.cat.read("url_seen", s2).select("url_norm"),
            "url_norm",
            "left_anti",
        )
        .select("url_norm", "first_cycle")
    )


def _trap_guard(eng):
    """C23 crawler-trap guard: per-(host, path) rollup of the trap
    crawl's final seen set. The /cal patterns must pin at exactly
    pattern_budget (3) — unguarded they'd take 8+ admissions by cycle 6
    and grow without bound — while every regular pattern keeps its one
    URL. The refsim runs the same budget counter sequentially."""
    return (
        eng.seen_set()
        .withColumn("host", F.parse_url(F.col("url_norm"), F.lit("HOST")))
        .withColumn(
            "path",
            F.coalesce(
                F.parse_url(F.col("url_norm"), F.lit("PATH")), F.lit("/")
            ),
        )
        .groupBy("host", "path")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.min("first_cycle").alias("first_seen"),
        )
    )


def _with_dst_first_cycle(eng, hops):
    """(src, dst, cycle_id) hops joined with when the target entered
    the seen set (-1 = never admitted)."""
    seen = eng.seen_set().select(F.col("url_norm").alias("dst"), "first_cycle")
    return hops.join(seen, "dst", "left").select(
        "src", "dst", "cycle_id",
        F.coalesce("first_cycle", F.lit(-1)).cast("long").alias("dst_first_cycle"),
    )


def _redirects(eng):
    """C24 redirect handling: the hop log (alias → canonical Location,
    hop cycle) with when the target entered the seen set (-1: a 301
    into /private dies at robots, or the target was capped). Any
    admission/ordering divergence under redirects shifts the map or
    the first_cycle column."""
    return _with_dst_first_cycle(eng, eng.redirect_map())


def _canonicals(eng):
    """C37's identity map: every honored (variant → declared
    canonical) hop with whether/when the canonical entered the seen
    set (-1 = killed at admission) — the q68 redirect-map shape for
    the duplicate-URL collapse consumers."""
    return _with_dst_first_cycle(eng, eng.cat.read("canonicals"))


def _versions(eng):
    """C25 freshness re-crawl: per-doc version history after the
    scripted revisit — version count, distinct content signatures
    (changed iff > 1), first/last fetch cycle. Under C32 conditional
    fetch an unchanged re-fetch is a 304 and mints no version. Any
    divergence in WHO was re-queued or WHAT content landed shifts a
    row."""
    return eng.documents().groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.countDistinct(md5hash60(F.to_json("spans")))
        .cast("long").alias("n_distinct_sigs"),
        F.min("fetch_cycle").alias("first_fetch"),
        F.max("fetch_cycle").alias("last_fetch"),
    )


def _change_rates(eng):
    """C25's adaptive layer: per-host change rate over the re-fetched
    docs and the next revisit interval by integer-threshold rule (≥1/2
    changed → halve, ≤1/5 → double, else keep) — the estimator a
    freshness-aware scheduler feeds back into revisit(min_age)."""
    per_doc = eng.documents().groupBy("doc_id", "host").agg(
        F.count("*").alias("nv"),
        F.countDistinct(md5hash60(F.to_json("spans"))).alias("nd"),
    )
    base = eng.cfg.graph.revisit_min_age
    return (
        per_doc.filter(F.col("nv") > 1)
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_refetched"),
            F.sum((F.col("nd") > 1).cast("int")).cast("long").alias("n_changed"),
        )
        .select(
            "host", "n_refetched", "n_changed",
            F.round(F.col("n_changed") / F.col("n_refetched"), 6).alias("change_ratio"),
            F.when(2 * F.col("n_changed") >= F.col("n_refetched"), F.lit(max(1, base // 2)))
            .when(5 * F.col("n_changed") <= F.col("n_refetched"), F.lit(base * 2))
            .otherwise(F.lit(base))
            .cast("long")
            .alias("next_interval"),
        )
    )


def _media_dedup(eng):
    """P32 cross-document media dedup over the interleaved payload: at
    100 TB a large share of bytes is the SAME asset embedded on many
    pages (logos, thumbnails, CDN-shared files); storing/decoding one
    canonical copy and rewriting the rest as references is a standard
    corpus-prep pass. Per distinct media_ref: occurrence count,
    distinct referencing docs, and the canonical keeper occurrence =
    min(struct(doc_id, offset)) — an order-insensitive partial
    aggregate, so the keeper is partitioning-invariant (never a
    window; the hot logo ref shuffles one row per map task, the same
    discipline as chunk dedup q59)."""
    m = (
        eng.documents().select("doc_id", F.explode("spans").alias("span"))
        .filter(F.col("span.kind") == "media")
        .select(
            F.col("span.media_ref").alias("media_ref"),
            "doc_id",
            F.col("span.offset").alias("offset"),
        )
    )
    return m.groupBy("media_ref").agg(
        F.count("*").cast("long").alias("n_refs"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(F.struct("doc_id", "offset")).alias("_k"),
    ).select(
        "media_ref", "n_refs", "n_docs",
        F.col("_k.doc_id").alias("keeper_doc"),
        F.col("_k.offset").alias("keeper_offset"),
    )


def _anchor_pairs(eng):
    """(src, dst, anchor): anchored outlinks of every fetched doc,
    target resolved+canonicalized exactly like discovery (C12b — the
    same Arrow resolve_canonicalize_udf the engine admits links
    through). Extraction is two JVM regexp_extract_all passes over
    synth.ANCHOR_PATTERN (group 1 urls, group 2 anchors) zipped by
    position — both passes walk the same matches, so the zip is
    position-stable; no Python in the extraction."""
    from ..synth import ANCHOR_PATTERN
    from ..urlnorm import resolve_canonicalize_udf

    spans = eng.documents().select(
        "doc_id", F.explode("spans").alias("span")
    ).filter(F.col("span.kind") == "text")
    pairs = spans.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(
                    F.col("span.text"), F.lit(ANCHOR_PATTERN), F.lit(1)
                ).alias("raw"),
                F.regexp_extract_all(
                    F.col("span.text"), F.lit(ANCHOR_PATTERN), F.lit(2)
                ).alias("anchor"),
            )
        ).alias("p"),
    ).select("src", F.col("p.raw").alias("raw"), F.col("p.anchor").alias("anchor"))
    return pairs.withColumn("dst", resolve_canonicalize_udf("src", "raw"))


def _anchor_text(eng):
    """P43: the anchor-text profile — for every link TARGET, in-link
    count, distinct anchor-term count, and the dominant term (max
    count, lexicographic-min tie-break via min(struct(-n, term)) —
    partial-aggregation-order-safe). The off-page description of a URL
    that search/crawl stacks aggregate anchors for; at web scale this
    is two partial-agg groupBys over the (dst, term) stream, never a
    per-target collect. Oracle: the refsim fetch log pushed through the
    shared extract_anchors_from_text + urljoin (crawl_oracle.py)."""
    pairs = _anchor_pairs(eng)
    per_term = (
        pairs.select("dst", F.explode(F.split("anchor", " ")).alias("term"))
        .groupBy("dst", "term")
        .agg(F.count("*").alias("n"))
    )
    top = per_term.groupBy("dst").agg(
        F.count("*").alias("n_terms"),
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("term").alias("t"))).alias("m"),
    )
    inl = pairs.groupBy("dst").agg(F.count("*").alias("n_inlinks"))
    return inl.join(top, "dst").select(
        "dst", "n_inlinks", "n_terms", F.col("m.t").alias("top_term")
    )


def _anchor_authority(eng):
    """P44: anchor-weighted authority — PageRank where an outlink's
    share of its page's rank is proportional to its anchor-term mass
    (links someone described with more words carry more endorsement),
    6 damped iterations like q85. Edge weight = Σ anchor term counts
    over all (src→dst) link instances, pre-aggregated so the iteration
    joins one row per edge. Oracle: pure-python weighted power
    iteration over the refsim fetch log with the identical per-edge
    float shape (crawl_oracle._weighted_pagerank)."""
    from ..operators import graph

    edges_w = (
        _anchor_pairs(eng)
        .select("src", "dst", F.size(F.split("anchor", " ")).alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("weight"))
    )
    return graph.weighted_pagerank(edges_w, damping=0.85, iterations=6)


def _content_seen(eng):
    """C35's identity map: content signature → the FIRST url that
    published it and the landing cycle — exactly one row per distinct
    stored content (the canonical-copy registry media/content dedup
    consumers read)."""
    return eng.cat.read("content_seen").select("sig", "url_norm", "cycle_id")


def _host_admissions(eng):
    """C38's accounting: lifetime admissions per host from the
    append-only host_admissions deltas (seeds + per-cycle novel) —
    every host at or under the budget, the mega-host exactly AT it."""
    return (
        eng.cat.read("host_admissions")
        .groupBy("host")
        .agg(F.sum("n").alias("n_admitted"))
    )


def _host_admissions_sql(tables: dict[str, str]) -> str:
    """q149's oracle: a pure-SQL per-host rollup of the preset's seen
    table (admissions == seen insertions; host re-derived
    independently in SQL, the q67 discipline)."""
    seen = tables["q81_crawl_seen"].split("FROM ")[1]
    return (
        "SELECT regexp_extract(url_norm, '^https?://([^/]+)', 1) AS host,"
        " CAST(count(*) AS BIGINT) AS n_admitted"
        f" FROM {seen} GROUP BY 1"
    )


def _evictions(eng):
    """C39's audit log: every sweep victim with the cycle and the lap
    that took it (1 = unreferenced, 2 = evicted after its second
    chance on the wrapped lap)."""
    return eng.cat.read("evictions").select("url_norm", "cycle_id", "lap")


# -- the scenario table --------------------------------------------------------


class Crawl(NamedTuple):
    """A crawl query: ``body`` over ``scenario(spark, preset, sidecar)``,
    checked against the ``oracle`` table that crawl_oracle's refsim
    builds for the same preset (a callable derives its SQL from that
    preset's table dict)."""

    preset: GraphConfig
    oracle: str | Callable[[dict[str, str]], str]
    body: Callable[[CrawlEngine], DataFrame]
    sidecar: str = "bloom"


ORDER, SEEN = "q80_crawl_order", "q81_crawl_seen"

CRAWLS: dict[str, Crawl] = {
    # the UNIT crawl: ordering, URL-seen set, span signatures, per-cycle
    # counters, media features and link-graph analytics
    "q80_crawl_order": Crawl(UNIT, ORDER, _order),
    "q81_crawl_seen": Crawl(UNIT, SEEN, CrawlEngine.seen_set),
    "q82_crawl_docs": Crawl(UNIT, "q82_crawl_docs", _docs),
    "q83_crawl_metrics": Crawl(UNIT, "q83_crawl_metrics", _metrics),
    "q84_media_features": Crawl(UNIT, "q84_media_features", _media_features),
    "q85_pagerank": Crawl(UNIT, "q85_pagerank", _pagerank),
    "q136_hits": Crawl(UNIT, "q136_hits", _hits),
    "q138_link_distance": Crawl(UNIT, "q138_link_distance", _link_distance),
    "q86_frame_sample": Crawl(UNIT, "q86_frame_sample", _frame_sample),
    "q67_trap_guard": Crawl(UNIT_TRAP, "q67_trap_guard", _trap_guard),
    "q68_redirects": Crawl(UNIT_REDIR, "q68_redirects", _redirects),
    # C25 freshness revisit: version history and change rates
    "q71_revisit_versions": Crawl(UNIT_REV, "q71_revisit_versions", _versions),
    "q72_change_rates": Crawl(UNIT_REV, "q72_change_rates", _change_rates),
    # C26 sitemaps: orphan pages have no route in but their <loc> entry
    "q73_sitemap_seen": Crawl(UNIT_SMAP, SEEN, CrawlEngine.seen_set),
    "q76_backoff": Crawl(UNIT, "q76_backoff", _backoff),
    "q77_priority_feedback": Crawl(UNIT, "q77_priority_feedback", _priority_feedback),
    # C21: reseeded URLs re-enter at depth 0 with new lexicographic seqs
    "q78_reseed": Crawl(UNIT_RESEED, ORDER, _order),
    # C26 robots `Sitemap:` directives fanning out through <sitemapindex>
    "q79_sitemap_index": Crawl(UNIT_SMAPIDX, SEEN, CrawlEngine.seen_set),
    # C25∘C26: re-queue exactly the listed URLs whose <lastmod> is newer
    "q122_sitemap_revisit": Crawl(UNIT_SMLASTMOD, ORDER, _order),
    # the cuckoo sidecar must land the same seen set as bloom
    "q87_cuckoo_seen": Crawl(UNIT, "q87_cuckoo_seen", CrawlEngine.seen_set, "cuckoo"),
    "q88_forget_recrawl": Crawl(UNIT, "q88_forget_recrawl", _forget_recrawl, "cuckoo"),
    "q89_time_travel": Crawl(UNIT, "q89_time_travel", _time_travel),
    "q101_snapshot_diff": Crawl(UNIT, "q101_snapshot_diff", _snapshot_diff),
    # 13 media ids per host, so assets recur across documents
    "q102_media_dedup": Crawl(UNIT_MEDIA, "q102_media_dedup", _media_dedup),
    # C6: host 0 turns deny-all after cycle 3; its queue is pruned once
    "q104_robots_revision": Crawl(UNIT_ROBREV, ORDER, _order),
    # C29 depth cap 2 + C30 /p1N deny pattern at the admission point
    "q108_crawl_scope": Crawl(UNIT_SCOPE, ORDER, _order),
    # C31: token refill derived from each host's robots Crawl-delay
    "q109_delay_politeness": Crawl(UNIT_DELAY, ORDER, _order),
    # C32: the q71 revisit under conditional fetch (304s store nothing)
    "q110_conditional_fetch": Crawl(UNIT_COND, "q71_revisit_versions", _versions),
    # C33: subdomains share their registered domain's token bucket
    "q114_domain_politeness": Crawl(UNIT_DOMGROUP, ORDER, _order),
    # C34: queued rows gain a point of priority every 2 waiting cycles
    "q115_priority_aging": Crawl(UNIT_AGING, ORDER, _order),
    "q126_anchor_text": Crawl(UNIT_ANCHOR, "q126_anchor_text", _anchor_text),
    "q127_anchor_authority": Crawl(UNIT_ANCHOR, "q127_anchor_authority", _anchor_authority),
    # C35: mirrors are fetched but neither stored nor link-extracted
    "q130_content_dedup": Crawl(UNIT_MIRROR, ORDER, _order),
    "q131_content_seen": Crawl(UNIT_MIRROR, "q131_content_seen", _content_seen),
    # C36: nofollow pages mint no links, noindex pages store no doc
    "q143_meta_robots": Crawl(UNIT_META, ORDER, _order),
    "q144_meta_docs": Crawl(UNIT_META, "q82_crawl_docs", _docs),
    # C37: variants store nothing; the canonical enters at their depth
    "q145_canonical_order": Crawl(UNIT_CANON, ORDER, _order),
    "q146_canonicals": Crawl(UNIT_CANON, "q146_canonicals", _canonicals),
    # C38: a lifetime page budget of 6 per host
    "q148_host_budget": Crawl(UNIT_HBUDGET, ORDER, _order),
    "q149_host_admissions": Crawl(UNIT_HBUDGET, _host_admissions_sql, _host_admissions),
    # C39: the clock-capped frontier (14 pending entries)
    "q153_clock_order": Crawl(UNIT_CLOCK, ORDER, _order),
    "q154_evictions": Crawl(UNIT_CLOCK, "q154_evictions", _evictions),
    # C39∘C21: evicted victims re-queue as fresh incarnations (a fork)
    "q155_clock_reseed": Crawl(UNIT_CLKRS, ORDER, _order),
    # C39 low-water mark: sweeps evict down to cap − slack = 8
    "q156_clock_lowwater": Crawl(UNIT_CLOCKLW, ORDER, _order),
    # C40: each host's pending share bounded at 5
    "q157_host_quota": Crawl(UNIT_QUOTA, ORDER, _order),
    # C40∘C39: the quota shapes the ring before the clock bounds it
    "q158_quota_clock": Crawl(UNIT_QCLK, ORDER, _order),
    # C33∘C40: grouped sub-hosts share one registered-domain quota
    "q159_domain_quota": Crawl(UNIT_QDOM, ORDER, _order),
}


def _query(name: str, c: Crawl):
    def run(spark, sf):
        return c.body(scenario(spark, c.preset, c.sidecar))

    run.__name__ = run.__qualname__ = name
    run.__doc__ = c.body.__doc__
    return run


QUERIES = {name: _query(name, c) for name, c in CRAWLS.items()}

ORACLE: dict[str, str] = {}


def build_oracle() -> dict[str, str]:
    """Refsim-generated DuckDB oracles (crawl_oracle.py), one per
    CRAWLS entry; called lazily by ``all_oracles`` so importing the
    registry runs no refsim. UNIT's own tables come first — they also
    hold streamq's q93 — then the other queries by query number."""
    from .crawl_oracle import build_crawl_oracles

    sql = build_crawl_oracles(UNIT)
    for name in sorted(CRAWLS, key=lambda n: int(n[1:].split("_")[0])):
        c = CRAWLS[name]
        tables = build_crawl_oracles(c.preset)
        sql[name] = c.oracle(tables) if callable(c.oracle) else tables[c.oracle]
    return sql
