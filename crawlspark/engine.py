"""The crawl micro-cycle engine (SURVEY.md §3.2).

One `run_cycle` is the batch re-expression of the reference's
queue-consumer loop (reserve → seen-check → fetch → parse → enqueue →
ack): read the frontier snapshot, refill politeness tokens, take the
per-host-capped global top-B by (score, seq) — beanstalkd's
priority-FIFO drain order — fetch deterministically, extract + dedup
discovered links, and commit all table deltas atomically (the batch
'ack'; a crash before commit re-runs the whole cycle exactly, the
batch analogue of beanstalkd's TTR re-release, but exactly-once
because the commit is atomic).

Dataflow (shuffle boundaries marked):

    frontier ANTI resolved ⟕ retry → queued           [shuffle: hash on url_hash;
                                                       resolved/retry are slim
                                                       working-state tables, NOT
                                                       the full crawl history]
    ⋈ broadcast(host caps)         → candidates       [no shuffle]
    two-phase salted window cap    → capped           [shuffle: (host,host_salt)]
    orderBy(score,seq).limit(B)    → batch            [TakeOrdered, no full sort]
    mapInPandas fetch → posexplode → links            [narrow]
    canonicalize/robots/score      → candidates       [narrow + broadcast join]
    window dedup (url_norm)        → deduped          [shuffle: url_norm]
    sidecar probe + exact anti     → novel            [shuffle: part / url_hash;
                                                       one probe for either
                                                       kind (operators/seen.py)]
    seq rank + appends + commit                       [writes]

Growth discipline (the 10^10-URL design point): the cycle reads only
working state — frontier (active discoveries), `resolved` tombstones
(bounded between folds), `retry_state` (in-flight retry pool),
host_state deltas (latest-wins), bloom sidecar. The unbounded history
logs (`scheduled`, `edges`, `url_seen` full scan, `documents`,
`metrics`) are append-only and never scanned by the hot path;
`fetch_log` is not even stored — it is derived on read
(:meth:`CrawlEngine.fetch_log`). Folding resolved → frontier every `compact_every` cycles keeps
the per-cycle read ∝ active frontier — the manifest-catalog analogue
of Iceberg MERGE INTO with equality deletes + background compaction.
Per-cycle host_state writes touch only hosts that spent tokens (refill
is lazy, see operators/politeness.py). Driver actions per cycle: ONE
count (schedule+fetch materialization / early-exit) + ONE metrics
collect that yields every counter — including the novel count that
gates the distributed seq rank and the outcome counts that let
provably-unchanged working-state writes be skipped entirely.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog
from .gen import host_config_df, seeds_df
from .operators import fetch as fetch_ops
from .operators import clock, politeness, schedule, seen
from .operators.cuckoo import NBUCKETS_DEFAULT, Cuckoo
from .operators.seen import Bloom
from .portable import md5hash60
from .schemas import CLOCK_STATE, METRICS
from .session import local_frame
from .synth import GraphConfig
from .urlnorm import canonicalize_udf, resolve_canonicalize_udf, with_url_parts

FRONTIER_COLS = [
    "url_norm", "url_hash", "host", "host_salt", "depth",
    "site_priority", "score", "seq", "discovered_from", "cycle_id",
]
# an operator's URL list (forget / reseed) as a one-column frame
_URLS = T.StructType([T.StructField("url", T.StringType(), True)])

# Graphs at or under this many pages (n_sites × max_pages) are
# "unit tier": contract scenarios whose whole state fits one task.
# Their wall time is pure per-task scheduling overhead, so the engine
# also clamps the shuffle width while ITS jobs run; AQE is off in the
# engine's window at every tier (see CrawlEngine._tuned).
UNIT_TIER_PAGES_MAX = 4096


def _tuned_method(fn):
    """Run an engine entry point under the engine's session tuning
    (reentrant — nested calls inherit the outermost window)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        with self._tuned():
            return fn(self, *a, **kw)

    return wrapper


@dataclass
class EngineConfig:
    graph: GraphConfig = field(default_factory=GraphConfig)
    warehouse: str = "/tmp/crawlspark-warehouse"
    n_seen_parts: int = 16
    n_salt: int = 8
    # compact append-heavy tables every N cycles (0 = never): bounds
    # manifest length + small-file count on long crawls
    compact_every: int = 0
    # maintain url_seen as a bucketed managed-table mirror so the exact
    # anti-join NEVER shuffles the seen side (Iceberg bucket-transform
    # analogue; the 10^10-seen design point). The mirror is a derived
    # index: rebuilt from url_seen whenever its marker doesn't match
    # the current snapshot, so crashes between commit and mirror
    # append only cost a rebuild, never correctness.
    bucketed_seen: bool = False
    seen_buckets: int = 64
    # URL-seen sidecar kind (north rule: "bloom/cuckoo URL-seen"), one
    # C4/C5 path in operators/seen.py for both. "bloom": insert-only
    # bitsets (seen.Bloom — smallest; forget() rebuilds touched parts).
    # "cuckoo": 16-bit-fingerprint cuckoo filter (cuckoo.Cuckoo, sized
    # by cuckoo_nbuckets — deletes in place, so forget() edits the
    # touched parts). Any other value is refused.
    seen_sidecar: str = "bloom"
    cuckoo_nbuckets: int = NBUCKETS_DEFAULT
    # after each fold_state, expire snapshots beyond the newest N and
    # GC their data dirs (0 = keep all history / full time travel).
    # Bounds warehouse growth on long crawls: without it every cycle's
    # pre-fold file set stays referenced by old manifests forever.
    expire_keep_last: int = 0
    # right-size session confs while the engine's calls run: AQE off
    # at every tier, shuffle width ≤ 8 for unit-tier graphs (see
    # CrawlEngine._tuned) — results are parallelism-independent
    # (tests/test_refsim_equivalence.py pins it), so this is pure
    # cost control. The parallelism-determinism gate itself
    # switches it off to keep its width override meaningful.
    auto_tune: bool = True


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        # refuses an invalid crawl policy (the refsim calls the same rule)
        self.admission_cap = cfg.graph.admission_cap()
        # the one place the sidecar kind is chosen
        kinds = {"bloom": Bloom(), "cuckoo": Cuckoo(cfg.cuckoo_nbuckets)}
        if cfg.seen_sidecar not in kinds:
            raise ValueError(
                f"seen_sidecar must be one of {sorted(kinds)}, not {cfg.seen_sidecar!r}"
            )
        self.sidecar = kinds[cfg.seen_sidecar]
        self.spark = spark
        self.cfg = cfg
        self.cat = Catalog(spark, cfg.warehouse)
        self.max_seq: int = 0
        self._tune_depth: int = 0

    # -- session right-sizing -------------------------------------------------

    @contextmanager
    def _tuned(self):
        """The engine's session window, opened by every engine entry
        point (reentrant: nested calls inherit the outermost window).

        AQE is off inside it at every tier. The engine sizes its own
        shuffles (salt, seen-part and batch widths), so AQE has nothing
        to coalesce and only splits each action into one job per
        shuffle stage with driver re-planning in between. Measured on
        perfbench crawl_capped (seed 7, local[4] on a 4-core machine),
        together with deriving the pending frontier once (run_cycle):
        72 → 33 jobs per cycle, and a cycle's median 10.2 s → 7.8 s
        over 10 alternating runs each.

        Unit-tier crawls (≤ UNIT_TIER_PAGES_MAX pages) also run at a
        shuffle width of at most 8: every cycle's state fits one task,
        so wall time is the number of tasks × per-task latency
        (measured: UNIT_CLOCK 8 cycles ~100s at width 32 + AQE vs ~74s
        at width 8, AQE off). Results are parallelism-independent
        (determinism gates in tests/test_refsim_equivalence.py), so
        both confs change cost only. They are restored on exit, and
        engines with auto_tune=False leave the session untouched.

        The confs are SESSION-GLOBAL, not engine-local: while the window
        is open, every job on the session — another engine's, or an
        ad-hoc query from another thread — runs with AQE off (and, for
        a unit-tier engine, at width ≤ 8). This assumes one engine runs
        on a session at a time (the harness and the CLI are
        single-threaded); give concurrent engines separate sessions or
        auto_tune=False."""
        if self._tune_depth or not self.cfg.auto_tune:
            self._tune_depth += 1
            try:
                yield
            finally:
                self._tune_depth -= 1
            return
        g = self.cfg.graph
        conf = self.spark.conf
        keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        saved = {k: conf.get(k) for k in keys}
        self._tune_depth += 1
        try:
            conf.set("spark.sql.adaptive.enabled", "false")
            if g.n_sites * g.max_pages <= UNIT_TIER_PAGES_MAX:
                width = min(int(saved["spark.sql.shuffle.partitions"]), 8)
                conf.set("spark.sql.shuffle.partitions", str(width))
            yield
        finally:
            self._tune_depth -= 1
            for k, v in saved.items():
                conf.set(k, v)

    # -- snapshot branching ---------------------------------------------------

    @classmethod
    def branch_from(
        cls, base: "CrawlEngine", cycle_id: int, cfg: EngineConfig
    ) -> "CrawlEngine":
        """C22 snapshot branching: fork a crawl's warehouse at a past
        cycle and continue it under ``cfg`` — the Iceberg
        branch + rollback analogue. The fork copies the warehouse
        (manifests + immutable data dirs), points ``_CURRENT`` at the
        requested cycle's snapshot, and drops later manifests plus the
        data dirs they staged (exactly what expire_snapshots would GC
        after a rollback), so continuation staging can never collide.
        Because a cycle's output is a deterministic function of (graph,
        committed state, max_seq), the branch's continuation is
        bit-identical to a from-scratch crawl sharing the prefix —
        asserted against the sequential twin in
        tests/test_clock_eviction.py (q155's UNIT_CLKRS runs this way:
        its pre-reseed cycles ARE UNIT_CLOCK's, so the harness forks
        the shared crawl instead of re-crawling four cycles).

        Only a valid continuation is accepted (ValueError otherwise):
        ``cfg`` may differ from the base's config in the warehouse and
        in mid-crawl script steps (synth.SCRIPT) that neither side has
        run by the fork — the base's after ``cycle_id``, the fork's at
        or after it."""
        import re
        import shutil
        from dataclasses import replace
        from pathlib import Path

        from .synth import SCRIPT

        a, b = base.cfg.graph, cfg.graph
        if replace(base.cfg, graph=a.without_script()) != replace(
            cfg, graph=b.without_script(), warehouse=base.cfg.warehouse
        ):
            raise ValueError(
                "a fork may differ from its base only in the warehouse"
                " and the mid-crawl script"
            )
        for step, after, arg in SCRIPT:
            if all(getattr(a, f) == getattr(b, f) for f in (after, arg) if f):
                continue
            ca, cb = getattr(a, after), getattr(b, after)
            if (ca is not None and ca <= cycle_id) or (
                cb is not None and cb < cycle_id
            ):
                raise ValueError(
                    f"a fork at cycle {cycle_id} changes the {step} step,"
                    f" due after cycle {ca} in the base and {cb} in the fork"
                )
        src, dst = Path(base.cfg.warehouse), Path(cfg.warehouse)
        target = base.cat.snapshot_for_cycle(cycle_id)
        if target is None:
            raise ValueError(f"no snapshot for cycle {cycle_id}")
        shutil.copytree(src, dst, dirs_exist_ok=True)
        fork_id = int(target["id"])
        for p in (dst / "snapshots").glob("s*.json"):
            if int(p.stem[1:]) > fork_id:
                p.unlink()
        pat = re.compile(r"^s(\d{6,})-\d+$")
        for d in sorted((dst / "data").glob("*/s*")):
            m = pat.match(d.name)
            if m and int(m.group(1)) > fork_id:
                shutil.rmtree(d, ignore_errors=True)
        marker = dst / "_SEEN_MIRROR"
        if marker.exists():
            marker.unlink()  # mirror names are warehouse-keyed; rebuild
        (dst / "_CURRENT").write_text(f"s{fork_id:06d}.json")
        eng = cls(base.spark, cfg)
        eng.bootstrap()  # restore max_seq from the fork snapshot's meta
        return eng

    # -- helpers -------------------------------------------------------------

    def _part(self, col: str = "url_hash"):
        return F.pmod(F.col(col), F.lit(self.cfg.n_seen_parts)).cast("int")

    def _pol_expr(self, col: str = "host"):
        """C33: the politeness-bucket key of a host column — the PSL
        registered domain (full publicsuffix algorithm over
        graph.psl_rules; refsim twin pol_key_of_host) under domain
        grouping, else the host itself. Hosts that ARE a public
        suffix key as themselves (coalesce)."""
        if self.cfg.graph.domain_politeness:
            from .urlnorm import registered_domain

            return F.coalesce(
                registered_domain(F.col(col), self.cfg.graph.psl_rules),
                F.col(col),
            )
        return F.col(col)

    def _pol_hc(self, hc):
        """host_config reduced to one politeness-bucket row per key.
        Under C33 grouping the member hosts of a domain carry the SAME
        domain-level capacity/refill draws (synth guarantees it), so
        distinct() collapses them to the bucket row; host_state is
        keyed by this `host` column throughout."""
        view = hc.select(
            self._pol_expr().alias("host"), "token_capacity", "refill_per_cycle"
        )
        if self.cfg.graph.domain_politeness:
            view = view.distinct()
        return view

    def _with_scope(self, df: DataFrame, cap) -> DataFrame:
        """Add the C40 politeness-bucket scope column when ``cap`` is
        scoped by it (the C33 key: registered domain under grouping)."""
        if "pol_key" in cap.scope:
            return df.withColumn("pol_key", self._pol_expr())
        return df

    def _cap_prior(self, cap, snap, queued: DataFrame) -> DataFrame:
        """(scope…, n_admitted) for an admission cap: the lifetime
        counter table's append-only deltas summed on read, or (C40)
        the pending ring at cycle start — one count over the
        working-state queued frame, so dropped URLs re-candidate and
        admit once their bucket drains."""
        if cap.counts:
            rows = self.cat.read(cap.counts, snap)
        else:
            rows = self._with_scope(queued, cap).select(
                *cap.scope, F.lit(1).cast("long").alias("n")
            )
        return rows.groupBy(*cap.scope).agg(F.sum("n").alias("n_admitted"))

    def _admit(self, df: DataFrame, hc: DataFrame) -> DataFrame:
        """Discovery admission of canonical URLs carrying a ``depth``
        (seeds, links and hops, reseeds — the refsim's admit()): url
        parts, robots and crawl-scope filters, then score and salt."""
        df = politeness.robots_filter(with_url_parts(df), hc)
        df = schedule.with_score(politeness.scope_filter(df, self.cfg.graph))
        return schedule.with_salt(df, self.cfg.n_salt)

    def _pending(self, snap) -> DataFrame:
        """The live frontier: frontier minus resolved tombstones
        (fetched OK or retries exhausted) and, under C39, minus
        clock-evicted entries. Evictions are keyed by INCARNATION
        (url + seq): a C20/C21/C25 forget/reseed/revisit re-injection
        mints a new seq and stays live — only the evicted row is dead
        (evicted URLs stay in url_seen: accepted once, never fetched)."""
        keys = ["url_hash", "url_norm"]
        live = self.cat.read("frontier", snap).join(
            self.cat.read("resolved", snap).select(*keys), keys, "left_anti"
        )
        if self.cfg.graph.frontier_cap is not None:
            live = live.join(
                self.cat.read("evictions", snap).select(*keys, "seq"),
                [*keys, "seq"], "left_anti",
            )
        return live

    def _clock_hand(self, snap) -> int:
        """C39: the admission seq the next eviction sweep resumes at
        (single-row clock_state table; 0 before the first sweep =
        plain seq order). One bounded collect, only at sweep time;
        before the first sweep the table is an empty LocalRelation and
        the collect runs no job."""
        rows = self.cat.read("clock_state", snap).collect()
        return int(rows[0]["hand"]) if rows else 0

    # -- bucketed url_seen mirror (opt-in) -----------------------------------

    @property
    def _mirror_table(self) -> str:
        import hashlib

        tag = hashlib.md5(str(self.cfg.warehouse).encode()).hexdigest()[:10]
        return f"url_seen_mirror_{tag}"

    def _mirror_marker(self):
        from pathlib import Path

        return Path(self.cfg.warehouse) / "_SEEN_MIRROR"

    def _ensure_seen_mirror(self, snap) -> str | None:
        """Return the mirror table name, rebuilding it from url_seen if
        the marker doesn't match the pinned snapshot (fresh process,
        crash between commit and mirror append, manual drop, …)."""
        if not self.cfg.bucketed_seen:
            return None
        from .operators import bucketing

        want = f"{self._mirror_table}:{(snap or {}).get('id', 0)}"
        m = self._mirror_marker()
        if (
            m.exists()
            and m.read_text().strip() == want
            and self.spark.catalog.tableExists(self._mirror_table)
        ):
            return self._mirror_table
        seen_df = self.cat.read("url_seen", snap).select("url_hash", "url_norm")
        bucketing.write_bucketed(
            seen_df, self._mirror_table, "url_hash", self.cfg.seen_buckets
        )
        m.write_text(want)
        return self._mirror_table

    def _mirror_append(self, novel_rows, new_snap: dict) -> None:
        if not self.cfg.bucketed_seen:
            return
        (
            novel_rows.select("url_hash", "url_norm")
            .write.mode("append")
            .format("parquet")
            .bucketBy(self.cfg.seen_buckets, "url_hash")
            .sortBy("url_hash")
            .saveAsTable(self._mirror_table)
        )
        self._mirror_marker().write_text(f"{self._mirror_table}:{new_snap['id']}")

    def _host_config(self) -> DataFrame:
        return host_config_df(self.spark, self.cfg.graph)

    # -- cycle 0: seed bootstrap ----------------------------------------------

    @_tuned_method
    def bootstrap(self) -> dict:
        """Idempotent: resumes from the last committed snapshot if one
        exists (C16 exact resume), else seeds cycle 0."""
        snap = self.cat.current_snapshot()
        if snap is not None:
            meta = snap.get("meta") or {}
            if "max_seq" in meta:
                # authoritative: fold_state prunes resolved rows from the
                # frontier, so max(frontier.seq) under-counts whenever the
                # highest-seq discoveries were already fetched — resuming
                # from that would reissue seq numbers and break the
                # globally-unique deterministic sequence contract (C16/C18)
                self.max_seq = int(meta["max_seq"])
            else:
                # legacy snapshots without the meta field: take the max
                # over the scheduled log too, which retains every row the
                # fold may have dropped from the frontier
                f_max = (
                    self.cat.read("frontier", snap).agg(F.max("seq")).collect()[0][0]
                    or 0
                )
                s_max = (
                    self.cat.read("scheduled", snap).agg(F.max("seq")).collect()[0][0]
                    or 0
                )
                self.max_seq = max(f_max, s_max)
            return snap

        g = self.cfg.graph
        hc = self._host_config()
        f0 = self._admit(
            seeds_df(self.spark, g)
            .withColumn("url_norm", canonicalize_udf("url"))
            .filter(F.col("url_norm").isNotNull())
            .withColumn("depth", F.lit(0)),
            hc,
        )
        w_dedup = Window.partitionBy("url_norm").orderBy("pos")
        f0 = f0.withColumn("rn", F.row_number().over(w_dedup)).filter(F.col("rn") == 1)
        cap = self.admission_cap
        if cap is not None:
            # the ring and every lifetime count are empty at bootstrap:
            # the first `budget` seeds per scope (seed-list order) are
            # admitted; the rest stay unseen, as in the refsim's admit()
            f0 = schedule.pattern_cap(
                self._with_scope(f0, cap), None, cap.budget,
                keys=cap.scope, order=("pos",),
            )
        # seed seq = seed-list position; rank distributed above ~64k
        # seeds (DESIGN-tier seed lists are 300k+ — same no-funnel
        # posture as cycle discoveries and bulk reseeds)
        pre0 = f0.persist()
        n_seeds = pre0.count()
        f0 = schedule.rank_seq(
            pre0, 0, ["pos"], distributed=n_seeds > schedule.SMALL_BATCH_MAX
        )
        f0 = (
            f0.withColumn("discovered_from", F.lit(None).cast("string"))
            .withColumn("cycle_id", F.lit(0).cast("long"))
        )
        frontier0 = f0.select(*FRONTIER_COLS).persist()
        self.max_seq = n_seeds

        seen0 = frontier0.select(
            "url_hash", "url_norm", F.lit(0).cast("long").alias("first_cycle"),
            self._part().alias("part"),
        )
        bloom0 = seen.fold(
            self.sidecar, seen0.select("part", "url_hash"),
            self.cat.read(self.sidecar.table),  # empty
            0,
        )
        hs0 = self._pol_hc(hc).select(
            "host", F.col("token_capacity").alias("tokens"),
            F.lit(0).cast("long").alias("last_cycle"),
        )
        m0 = local_frame(self.spark, [(0, -1, n_seeds, 0, 0, 0, 0)], METRICS)
        txn = self.cat.begin()
        txn.append("frontier", frontier0)
        txn.append("url_seen", seen0, partition_by=["part"])
        if cap is not None and cap.counts:
            # seed admissions open each scope's lifetime count
            txn.append(cap.counts, f0.groupBy(*cap.scope).agg(
                F.count("*").cast("long").alias("n")
            ))
        txn.overwrite(self.sidecar.table, bloom0)
        txn.overwrite("host_state", hs0)
        txn.overwrite("host_config", hc)
        txn.append("metrics", m0)
        snap = txn.commit(cycle_id=0, meta={"n_seeds": n_seeds, "max_seq": n_seeds})
        frontier0.unpersist()
        pre0.unpersist()
        schedule.release_scratch()
        return snap

    # -- one micro-cycle --------------------------------------------------------

    def _page_fate(self, pages: DataFrame, snap, c: int) -> tuple[DataFrame, list]:
        """The page rules, decided once per successfully fetched page
        (RefSim.run decides the same fate in one block). ``pages`` are
        the cycle's successful non-redirect fetches. Returns the pages
        minus C35 mirrors, with ``store``, ``follow`` and ``canon``
        (the declared canonical of a C37 alias page, else null), and
        the appends the rules own — content_seen, the stored pages'
        documents, canonicals — in staging order.

        - C35 content-seen (Mercator-style): a page whose content
          signature is already stored (an earlier cycle) or appeared
          EARLIER IN THIS BATCH (batch_pos order — the refsim's
          sequential rule) is a MIRROR: it still resolves (no
          refetch), but is neither stored nor followed. The
          content_seen append holds every other page, stored or not.
        - C36 robots META and C37 rel=canonical are honored from the
          PARSED page bytes (one JVM regexp each over the joined text
          spans; the refsim runs an independent Python parser over the
          same text): noindex → not stored; nofollow → stored, but its
          links vanish from discovery; a page declaring a DIFFERENT
          canonical is an alias — not stored (the canonical page owns
          the content), its links extract, and the hop lands in
          `canonicals`.
        - C32 conditional re-fetch: a stored page whose signature
          equals its LAST stored version is a 304 — no new version
          lands, so unchanged pages cost zero storage.

        sig = md5-60 of the canonical span JSON (collision ≈ 2^-60).
        Rules that are off contribute literals, so with every rule off
        the pages pass through unchanged. Scale: the C35 stored probe
        joins content_seen projected to its sig (at 10^10 docs it gets
        the same Bloom-sidecar treatment as url_seen); C32 scans the
        documents log for the latest sig per doc, on the stored branch
        only — a revisit-scenario knob; a 10^10-doc deployment keeps a
        (doc_id, last_sig) index maintained by the same append, the
        incremental-dedup band-index pattern (dedup.py)."""
        g = self.cfg.graph
        sig = md5hash60(F.to_json("spans"))
        text = F.concat_ws(" ", F.transform("spans", lambda s: s["text"]))
        directive = F.lit("")
        if g.meta_robots_every:
            directive = F.regexp_extract(
                text, '<meta name="robots" content="([a-z,]+)">', 1
            )
        declared = F.lit("")
        if g.canonical_every:
            declared = F.regexp_extract(
                text, '<link rel="canonical" href="([^"]+)">', 1
            )
        canon = F.when((declared != "") & (declared != F.col("doc_id")), declared)
        pages = pages.select(
            "*",
            (~directive.contains("noindex") & canon.isNull()).alias("store"),
            (~directive.contains("nofollow")).alias("follow"),
            canon.alias("canon"),
        )
        if g.content_dedup or g.conditional_fetch:
            pages = pages.withColumn("sig", sig)
        writes = []
        if g.content_dedup:
            prev = self.cat.read("content_seen", snap).select(
                "sig", F.lit(True).alias("_stored")
            )
            pages = (
                pages.withColumn("_rn", F.row_number().over(
                    Window.partitionBy("sig").orderBy("batch_pos")
                ))
                .join(prev, "sig", "left")
                .filter((F.col("_rn") == 1) & F.col("_stored").isNull())
                .drop("_rn", "_stored")
                .localCheckpoint(eager=False)
            )
            writes.append(("content_seen", pages.select(
                "sig", F.col("doc_id").alias("url_norm"),
                F.lit(c).cast("long").alias("cycle_id"),
            )))
        stored = pages.filter("store")
        if g.conditional_fetch:
            prev = (
                self.cat.read("documents", snap)
                .groupBy("doc_id")
                .agg(F.max_by(sig, F.col("fetch_cycle")).alias("prev_sig"))
            )
            stored = stored.join(prev, "doc_id", "left").filter(
                F.col("prev_sig").isNull() | (F.col("prev_sig") != F.col("sig"))
            )
        writes.append(
            ("documents", stored.select("doc_id", "fetch_cycle", "host", "spans"))
        )
        if g.canonical_every:
            writes.append(("canonicals", pages.filter(F.col("canon").isNotNull()).select(
                F.col("url_norm").alias("src"),
                F.col("canon").alias("dst"),
                F.lit(c).cast("long").alias("cycle_id"),
            )))
        return pages, writes

    @_tuned_method
    def run_cycle(self, c: int) -> dict:
        t0 = time.time()
        g = self.cfg.graph
        snap = self.cat.current_snapshot()
        url_seen = self.cat.read("url_seen", snap)
        bloom = self.cat.read(self.sidecar.table, snap)
        host_state = self.cat.read("host_state", snap)
        hc = self.cat.read("host_config", snap)
        retry = self.cat.read("retry_state", snap)

        # QUEUED = the live frontier with the attempt number for
        # in-flight retries. The tombstone tables are ≤ O(batch) per
        # cycle (bounded between folds; the eviction log by total
        # evictions) — the full `scheduled` history log is never
        # scanned here. A failed attempt re-queues with its original
        # (score, seq): the batch TTR-re-release analogue. It is
        # derived once per cycle: the per-host cap, the C40 ring count,
        # the C39 ref-bit probe and the sweep's pending set all read
        # this cache instead of re-reading and re-joining the tables.
        keys = ["url_hash", "url_norm"]
        queued_base = (
            self._pending(snap)
            .join(retry, keys, "left")
            .withColumn("attempt", (F.coalesce("n_fail", F.lit(0)) + 1).cast("int"))
            .drop("n_fail")
            .persist()
        )
        queued = queued_base
        if g.priority_aging_every:
            # C34: drain-time priority aging — the effective score is
            # derived column math off the stored admission cycle, so a
            # resumed crawl re-derives the identical drain key; the
            # schedule log records the effective score (the refsim
            # emits the same)
            queued = queued.withColumn(
                "score",
                (
                    F.col("score")
                    - F.floor(
                        (F.lit(c) - F.col("cycle_id"))
                        / F.lit(g.priority_aging_every)
                    )
                ).cast("long"),
            )
        # per-salt queued counts ride along the batch job via observe —
        # the per-host cap scans every queued row exactly once there, so
        # urls_in costs zero extra scans (the r1 metrics job re-scanned
        # the whole frontier for this)
        from pyspark.sql import Observation

        q_obs = Observation(f"queued_c{c}")
        queued = queued.observe(
            q_obs,
            *[
                F.sum(
                    F.when(F.col("host_salt") == i, F.lit(1)).otherwise(F.lit(0))
                ).alias(f"s{i}")
                for i in range(self.cfg.n_salt)
            ],
        )

        hs_ref = politeness.refill_tokens(
            politeness.latest_host_state(host_state), self._pol_hc(hc), cycle=c
        )  # host (= politeness bucket), tokens_refilled, cap
        if g.domain_politeness:
            # C33: cap by the registered-domain bucket — the queued
            # row's bucket key is derived column math, the cap join
            # and both cap windows partition on it, and the key is
            # dropped before the batch schema is fixed
            capped = schedule.per_host_cap(
                queued.withColumn("pol_host", self._pol_expr()),
                hs_ref.select(F.col("host").alias("pol_host"), "cap"),
                key="pol_host",
            ).drop("pol_host")
        else:
            capped = schedule.per_host_cap(queued, hs_ref.select("host", "cap"))
        batch = schedule.global_schedule(capped, g.batch_size).persist()

        # fetch + parse. global_schedule's limit() leaves the batch in a
        # single partition — spread it across executors before the
        # Arrow-UDF fetch stage or fetch/canonicalize serialize on one core.
        batch_exec = batch.repartition(self.spark.sparkContext.defaultParallelism)
        docs = fetch_ops.fetch_batch(batch_exec, g, c).persist()
        # ONE materializing action covers schedule + fetch: docs is 1:1
        # with the batch, so its count IS the scheduled count, the
        # queued observation fires underneath it, and both caches are
        # hot before the multi-branch stats job (no branch ever races
        # to recompute the Arrow fetch stage).
        n_sched = docs.count()
        t_fetch = time.time()
        if n_sched == 0:
            for df in (queued_base, batch, docs):
                df.unpersist()
            return {"cycle": c, "scheduled": 0, "deduped": 0, "discovered": 0,
                    "wall_ms": int((time.time() - t0) * 1000), "stop": True}
        pages, page_writes = self._page_fate(
            docs.filter(F.col("ok") & F.col("redirect_to").isNull()), snap, c
        )
        # attempt outcomes back onto the batch metadata (1:1 on url_norm)
        sched_rows = batch.join(
            docs.select(
                "url_norm", "ok",
                F.col("redirect_to").isNotNull().alias("redirected"),
            ),
            "url_norm",
        ).persist()
        links = fetch_ops.extract_links(pages.filter("follow"))

        def hops(df: DataFrame, target: str) -> DataFrame:
            # a hop target re-enters discovery at the SAME depth —
            # depth-1 here so the shared +1 below restores it — ordered
            # at (batch_pos, -1, -1): a serial worker sees it before any
            # link of that batch slot, and the refsim admits in that order
            return df.select(
                "doc_id",
                (F.col("depth") - 1).cast("int").alias("depth"),
                "batch_pos",
                F.lit(-1).alias("span_pos"),
                F.lit(-1).alias("link_pos"),
                F.col(target).alias("raw_url"),
            )

        if g.redirect_every:
            # C24: a successful 301 is a terminal fetch of the alias;
            # its Location re-enters discovery (redirects don't deepen)
            links = links.unionByName(hops(
                docs.filter(F.col("ok") & F.col("redirect_to").isNotNull()),
                "redirect_to",
            ))
        # C37: the declared canonical re-enters discovery at the
        # alias's depth, ahead of the slot's body links (which include
        # the declaration's own href at link_pos 0), so within-batch
        # dedup keeps the SAME-DEPTH alias admission on both engines.
        # (With the rule off `canon` is a null literal: the optimizer
        # drops this branch.)
        links = links.unionByName(
            hops(pages.filter(F.col("canon").isNotNull()), "canon")
        )
        # resolve relative hrefs against the fetching doc (urljoin
        # semantics), then canonicalize — one Arrow pass (C13 → C1)
        cand = (
            links.withColumn("url_norm", resolve_canonicalize_udf("doc_id", "raw_url"))
            .filter(F.col("url_norm").isNotNull())
            .drop("raw_url")
            .withColumn("depth", (F.col("depth") + 1).cast("int"))
        )
        cand = self._admit(cand, hc).withColumn("part", self._part())
        cand = schedule.dedup_within_batch(cand).persist()

        # keep the persisted probe result under its own name: unpersist
        # needs the exact cached plan, so rebinding this to the
        # assign_seq output would leak one cache entry per cycle
        novel_probed = seen.seen_filter(
            cand, url_seen, bloom,
            # from config alone: the sidecar's size is fixed by construction
            broadcast_bloom=self.cfg.n_seen_parts * self.sidecar.row_bytes
            <= seen.BROADCAST_BLOOM_MAX_BYTES,
            seen_mirror=self._ensure_seen_mirror(snap),
        )
        cap = self.admission_cap
        if cap is not None:
            # C23/C38/C40 admission cap (GraphConfig.admission_cap),
            # applied BEFORE the counters so capped-out URLs count as
            # deduped (cand − novel), exactly the refsim's accounting.
            # forget()/reseed() do not decrement a lifetime count.
            novel_probed = schedule.pattern_cap(
                self._with_scope(novel_probed, cap),
                self._cap_prior(cap, snap, queued), cap.budget,
                keys=cap.scope,
            )
        novel_probed = novel_probed.persist()

        # per-partition (host_salt) lineage + counters: one tagged union
        # + one aggregation (single shuffle) instead of 5 groupBys + 4
        # full joins — per-cycle fixed cost matters at micro-batch
        # sizes. Counting novel_probed (pre-seq) rather than novel_rows
        # lets this single job ALSO provide the true discovery count
        # that gates the distributed seq rank, so no separate count job
        # runs; the extra sched_rows slices decide which working-state
        # writes can be skipped as provably-unchanged this cycle.
        _T = ("t_sched", "t_cand", "t_novel", "t_docs", "t_failr", "t_exh",
              "t_inflight", "t_redir", "t_ref")

        def tag(df, col):
            return df.select(
                "host_salt",
                *[F.lit(1 if name == col else 0).alias(name) for name in _T],
            )

        # sched_rows is 1:1 with batch (inner join on unique url_norm),
        # so all five batch-derived counters come from ONE pass over it
        # as computed tag columns — three union branches instead of
        # seven (the stats job is task-overhead-bound at micro-batch
        # sizes: fewer branches = fewer map tasks over cached frames)
        sched_tags = sched_rows.select(
            "host_salt",
            F.lit(1).alias("t_sched"),
            F.lit(0).alias("t_cand"),
            F.lit(0).alias("t_novel"),
            # a 301 is a successful fetch but NOT a document
            (F.col("ok") & ~F.col("redirected")).cast("int").alias("t_docs"),
            (~F.col("ok") & (F.col("attempt") < g.max_retries)).cast("int").alias("t_failr"),
            (~F.col("ok") & (F.col("attempt") >= g.max_retries)).cast("int").alias("t_exh"),
            (F.col("attempt") > 1).cast("int").alias("t_inflight"),
            (F.col("ok") & F.col("redirected")).cast("int").alias("t_redir"),
            F.lit(0).alias("t_ref"),
        )
        tagged = (
            sched_tags
            .unionByName(tag(cand, "t_cand"))
            .unionByName(tag(novel_probed, "t_novel"))
        )
        # fold this cycle's fetch outcomes into working state (all
        # inputs ≤ batch-size rows): tombstones for done/exhausted,
        # updated fail counts for retryables — the MERGE INTO analogue.
        # (Defined pre-stats so the C39 ref-bit probe below can count
        # its rows inside the SAME tagged aggregate.)
        succeeded = sched_rows.filter(F.col("ok")).select(*keys)
        failed = sched_rows.filter(~F.col("ok")).select(*keys, "attempt")
        resolved_delta = (
            succeeded.unionByName(
                failed.filter(F.col("attempt") >= g.max_retries).select(*keys)
            )
            .withColumn("cycle_id", F.lit(c).cast("long"))
        )
        ref_probe = None
        if g.frontier_cap is not None:
            # C39 reference-bit delta: a candidate whose URL was seen at
            # cycle START and is still pending (queued minus this
            # cycle's resolutions) re-discovered a live frontier entry —
            # it earns one second chance. Novel rows can never match
            # (novel ≡ not-in-url_seen), so the pending union's novel
            # branch is omitted here. Counting the rows as one more tag
            # column in the SAME stats aggregate lets the between-sweep
            # ref_bits append be skipped on the (common) empty-delta
            # cycles without any extra driver action.
            ref_probe = (
                cand.select("host_salt", *keys)
                .join(url_seen.select(*keys), keys, "left_semi")
                .join(
                    queued.select(*keys).join(
                        resolved_delta.select(*keys), keys, "left_anti"
                    ),
                    keys,
                    "left_semi",
                )
            )
            tagged = tagged.unionByName(tag(ref_probe, "t_ref"))
        # ONE driver action over CACHED frames yields every remaining
        # counter and materializes cand/novel_probed/sched_rows for the
        # staged writes — queued counts already arrived via the
        # observation under batch.count().
        stat_rows = sorted(
            tagged.groupBy("host_salt")
            .agg(*[F.sum(t).alias(t.replace("t_", "s_")) for t in _T])
            .collect(),
            key=lambda r: r["host_salt"],
        )
        t_stats = time.time()
        q_in = q_obs.get
        n_docs = sum(r["s_docs"] for r in stat_rows)
        n_cand = sum(r["s_cand"] for r in stat_rows)
        n_novel = sum(r["s_novel"] for r in stat_rows)
        n_fail_retryable = sum(r["s_failr"] for r in stat_rows)
        n_exhausted = sum(r["s_exh"] for r in stat_rows)
        n_inflight = sum(r["s_inflight"] for r in stat_rows)
        n_redir = sum(r["s_redir"] for r in stat_rows)

        novel = schedule.assign_seq(
            novel_probed, self.max_seq,
            distributed=n_novel > schedule.SMALL_BATCH_MAX,
        )
        novel_rows = (
            novel.withColumn("discovered_from", F.col("doc_id"))
            .withColumn("cycle_id", F.lit(c).cast("long"))
            .select(*FRONTIER_COLS, "part")
            .persist()
        )

        retry_new = (
            retry.join(sched_rows.select(*keys), keys, "left_anti")
            .unionByName(
                failed.filter(F.col("attempt") < g.max_retries).select(
                    "url_hash", "url_norm", F.col("attempt").alias("n_fail")
                )
            )
        )

        # C39 second-chance/clock frontier eviction (end of the cycle's
        # merge — the refsim sweeps at the same point). All trigger
        # arithmetic is scalars already collected: pending after this
        # cycle = queued-at-start − resolved-this-cycle + novel.
        ref_writes: list = []
        if g.frontier_cap is not None:
            n_ref = sum(r["s_ref"] for r in stat_rows)
            n_pending = (
                int(sum(q_in[f"s{i}"] or 0 for i in range(self.cfg.n_salt)))
                - (n_sched - n_fail_retryable)
                + n_novel
            )
            pend = (
                queued.select("url_hash", "url_norm", "seq")
                .join(resolved_delta.select(*keys), keys, "left_anti")
                .unionByName(novel_rows.select("url_hash", "url_norm", "seq"))
            )
            # the ref-bit delta rows were already located (and counted,
            # s_ref) by the stats aggregate's probe — reuse its frame
            ref_delta = (
                ref_probe.select(*keys)
                .withColumn("cycle_id", F.lit(c).cast("long"))
            )
            if n_pending > g.frontier_cap:
                ref_state = (
                    self.cat.read("ref_bits", snap)
                    .select(*keys)
                    .unionByName(ref_delta.select(*keys))
                    .distinct()
                )
                # low-water hysteresis (frontier_slack, default 0):
                # evict down to cap − slack so a frontier whose novel
                # arrivals re-cross the cap each cycle sweeps every
                # ~slack/novel-rate cycles instead of every cycle
                evicted, bits_kept, new_hand = clock.clock_sweep(
                    pend, ref_state,
                    n_pending - g.frontier_cap + g.frontier_slack,
                    self._clock_hand(snap),
                    distributed=n_pending > schedule.SMALL_BATCH_MAX,
                )
                ref_writes = [
                    ("append", "evictions",
                     evicted.withColumn("cycle_id", F.lit(c).cast("long")), None),
                    ("overwrite", "ref_bits",
                     bits_kept.withColumn("cycle_id", F.lit(c).cast("long")), None),
                    ("overwrite", "clock_state",
                     local_frame(self.spark, [(int(new_hand), c)], CLOCK_STATE),
                     None),
                ]
            elif n_ref:
                # bits accumulate between sweeps as append-only deltas;
                # s_ref (from the stats aggregate) proves emptiness on
                # the common no-rediscovery cycle, so no write stages
                ref_writes = [("append", "ref_bits", ref_delta, None)]

        # politeness carry-over: ONLY buckets that spent tokens get a
        # delta row (lazy refill makes untouched rows stay exact).
        # _pol_expr is the identity when domain grouping is off.
        spent = batch.groupBy(self._pol_expr().alias("host")).agg(
            F.count("*").alias("n_spent")
        )
        hs_delta = hs_ref.join(spent, "host", "inner").select(
            "host",
            (F.col("tokens_refilled") - F.col("n_spent")).alias("tokens"),
            F.lit(c).cast("long").alias("last_cycle"),
        )

        bloom_new = seen.fold(self.sidecar, novel_rows.select("part", "url_hash"), bloom, c)
        self.max_seq += n_novel
        wall_ms = int((time.time() - t0) * 1000)
        per_salt = {int(r["host_salt"]): r for r in stat_rows}
        salts = sorted(
            set(per_salt) | {i for i in range(self.cfg.n_salt) if q_in[f"s{i}"]}
        )
        metrics = local_frame(
            self.spark,
            [
                (
                    c, s, int(q_in[f"s{s}"] or 0),
                    int(per_salt[s]["s_cand"] - per_salt[s]["s_novel"]) if s in per_salt else 0,
                    int(per_salt[s]["s_sched"]) if s in per_salt else 0,
                    int(per_salt[s]["s_docs"]) if s in per_salt else 0,
                    0,
                )
                for s in salts
            ]
            + [(c, -1, 0, n_cand - n_novel, n_sched, n_docs, wall_ms)],
            METRICS,
        )

        edges_delta = novel_rows.filter(F.col("discovered_from").isNotNull()).select(
            F.col("discovered_from").alias("src"),
            F.col("url_norm").alias("dst"),
            F.lit(c).cast("long").alias("cycle_id"),
        )

        # Stage only writes whose content can differ this cycle — the
        # counters prove the rest unchanged, and an unstaged table
        # simply keeps its parent-snapshot dirs in the new manifest:
        # - the three novel-derived appends + the bloom fold are no-ops
        #   when nothing novel was discovered;
        # - retry_state is content-identical when no attempt failed
        #   retryably AND no scheduled row was in the retry pool
        #   (attempt > 1), since retry ANTI sched == retry then;
        # - resolved gains rows only from successes or exhaustions;
        # - the page-rule appends are empty when no page was fetched.
        # (fetch_log is no longer a stored table at all: it is derived
        # on read from scheduled ⋈ documents — engine.fetch_log().)
        # NOTE (measured, r3): collapsing these micro-batch appends to
        # one task each (coalesce(1)) was tried and REGRESSED the
        # commit phase 3.9s → 6.5s — the staged writes already run
        # concurrently in threads, so 32-task writes overlap across
        # cores while single-task writes serialize. Keep the parallel
        # writers at every tier. With AQE off (CrawlEngine._tuned) and
        # the metrics / clock_state rows built as LocalRelations
        # (session.local_frame), the crawl_capped commit phase (4 cores,
        # median of 3 traced runs) is 2.0 s: 22 jobs, 26 stages, 54
        # tasks, 25 files. With those rows pickled into Python RDDs it
        # was 2.8 s: 23 jobs, 29 stages, 88 tasks, 27 files; with AQE
        # on as well, 5.1 s, 38 jobs and 33 files.
        writes = [
            (
                "append",
                "scheduled",
                sched_rows.select(
                    F.lit(c).cast("long").alias("cycle_id"), "batch_pos",
                    "url_norm", "url_hash", "host", "host_salt", "score", "seq",
                    "depth", "attempt", "ok",
                ),
                None,
            ),
            ("append", "host_state", hs_delta, None),
            ("append", "metrics", metrics, None),
        ]
        writes += ref_writes
        if n_novel:
            writes += [
                ("append", "frontier", novel_rows.select(*FRONTIER_COLS), None),
                (
                    "append",
                    "url_seen",
                    novel_rows.select(
                        "url_hash", "url_norm",
                        F.lit(c).cast("long").alias("first_cycle"), "part",
                    ),
                    ["part"],
                ),
                ("overwrite", self.sidecar.table, bloom_new, None),
                ("append", "edges", edges_delta, None),
            ]
            if cap is not None and cap.counts:
                writes.append((
                    "append", cap.counts,
                    novel_probed.groupBy(*cap.scope).agg(
                        F.count("*").cast("long").alias("n")
                    ),
                    None,
                ))
        if n_docs:
            writes += [("append", t, df, None) for t, df in page_writes]
        if n_redir:
            # C24: record every successful hop (alias → canonical
            # Location) even when the target was already seen — the
            # URL-aliasing identity map a re-crawl or link-graph
            # consumer needs; docs is cached, so this is one narrow
            # Arrow pass over ≤ batch rows
            writes.append((
                "append", "redirects",
                docs.filter(F.col("ok") & F.col("redirect_to").isNotNull()).select(
                    F.col("url_norm").alias("src"),
                    resolve_canonicalize_udf("url_norm", "redirect_to").alias("dst"),
                    F.lit(c).cast("long").alias("cycle_id"),
                ).filter(F.col("dst").isNotNull()),
                None,
            ))
        if n_docs or n_exhausted or n_redir:
            writes.append(("append", "resolved", resolved_delta, None))
        if n_fail_retryable or n_inflight:
            writes.append(("overwrite", "retry_state", retry_new, None))

        txn = self.cat.begin()
        txn.stage_all(writes)
        new_snap = txn.commit(
            cycle_id=c,
            meta={"scheduled": n_sched, "discovered": n_novel, "max_seq": self.max_seq},
        )
        self._mirror_append(novel_rows, new_snap)

        for df in (queued_base, batch, docs, cand, novel_probed, novel_rows, sched_rows):
            df.unpersist()
        schedule.release_scratch()
        seen.release_broadcasts(self.spark)
        return {
            "cycle": c, "scheduled": n_sched, "discovered": n_novel,
            "deduped": n_cand - n_novel, "redirects": n_redir,
            "wall_ms": int((time.time() - t0) * 1000),
            # phase attribution (observability; wall_ms stays the metric):
            # fetch = read→schedule→fetch action, stats = tagged-union
            # collect, commit = staging writes + manifest + mirror
            "phase_ms": {
                "fetch": int((t_fetch - t0) * 1000),
                "stats": int((t_stats - t_fetch) * 1000),
                "commit": int((time.time() - t_stats) * 1000),
            },
            "stop": False,
        }

    # -- driver loop --------------------------------------------------------------

    @_tuned_method
    def run(self, max_cycles: int | None = None) -> list[dict]:
        snap = self.bootstrap()
        start = snap["cycle_id"] + 1
        end = max_cycles if max_cycles is not None else self.cfg.graph.max_cycles
        stats = []
        for c in range(start, end + 1):
            st = self.run_cycle(c)
            stats.append(st)
            if st["stop"]:
                break
            if self.cfg.compact_every and c % self.cfg.compact_every == 0:
                self.fold_state()
        return stats

    @_tuned_method
    def fold_state(self) -> dict:
        """Periodic state fold (Iceberg MERGE-compaction analogue), one
        atomic commit: resolved tombstones are folded into the frontier
        (dropping done/exhausted rows), the host_state delta log is
        squashed to latest-per-host, and the append-heavy logs are
        file-compacted. After a fold the cycle's working-state read is
        exactly ∝ the active frontier. Queued semantics are unchanged
        by construction (frontier ANTI ∅ == (frontier ANTI resolved))."""
        snap = self.cat.current_snapshot()
        hs_latest = politeness.latest_host_state(self.cat.read("host_state", snap))
        txn = self.cat.begin()
        # C39 eviction tombstones fold out of the frontier too; the
        # evictions table itself stays as the audit log (its anti-join
        # cost after a fold is ∝ lifetime evictions — a 10^10
        # deployment compacts it into the same bucketed mirror as
        # url_seen)
        txn.overwrite("frontier", self._pending(snap))
        txn.truncate("resolved")
        txn.overwrite("host_state", hs_latest)
        txn.overwrite("url_seen", self.cat.read("url_seen", snap), partition_by=["part"])
        txn.overwrite("scheduled", self.cat.read("scheduled", snap))
        folded = txn.commit(
            cycle_id=(snap or {}).get("cycle_id", 0),
            meta={**(snap or {}).get("meta", {}), "folded": True},
        )
        # the fold leaves url_seen CONTENT unchanged (file compaction
        # only) — re-point the mirror marker so the derived index isn't
        # needlessly rebuilt next cycle
        if self.cfg.bucketed_seen and self._mirror_marker().exists():
            self._mirror_marker().write_text(f"{self._mirror_table}:{folded['id']}")
        if self.cfg.expire_keep_last:
            self.cat.expire_snapshots(self.cfg.expire_keep_last)
        return folded

    @_tuned_method
    def forget(self, urls) -> dict:
        """Drop URLs from the crawl's seen identity (re-crawl
        scheduling, takedown, TTL expiry): one atomic commit removes
        the exact `url_seen` rows, edits the sidecar, and clears any
        frontier/resolved/retry state for those keys, so the next
        discovery of the URL is treated as novel and re-queued through
        the normal politeness/priority path. Sequence numbers are
        never reused (max_seq stays monotone), so re-crawled rows sort
        strictly after their first crawl in the ordering contract.

        Sidecar handling is where the bloom/cuckoo choice shows
        (seen.forget):
        - cuckoo: fingerprints are deleted IN PLACE (O(1) per key,
          only touched parts rewritten) — sound because the targets
          are semi-joined against the exact table first and the fold
          retains duplicate fingerprints (operators/cuckoo.py).
        - bloom: bitsets can't delete, so each touched part is rebuilt
          from its remaining exact rows (cost ∝ part size — the
          honest price of the smaller sidecar).

        `urls`: DataFrame with a `url` column (canonicalized here) or
        an iterable of URL strings. Returns {"forgotten": n}."""
        if not isinstance(urls, DataFrame):
            urls = local_frame(self.spark, [(u,) for u in urls], _URLS)
        req = (
            urls.withColumn("url_norm", canonicalize_udf("url"))
            .filter(F.col("url_norm").isNotNull())
            .select("url_norm")
            .distinct()
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        snap = self.cat.current_snapshot()
        keys = ["url_hash", "url_norm"]
        url_seen = self.cat.read("url_seen", snap)
        sidecar = self.cat.read(self.sidecar.table, snap)
        targets = url_seen.join(req, keys, "left_semi").persist()
        n = targets.count()
        if n == 0:
            targets.unpersist()
            return {"forgotten": 0}
        remaining = url_seen.join(targets.select(*keys), keys, "left_anti")
        cyc = (snap or {}).get("cycle_id", 0)
        sidecar_new = seen.forget(self.sidecar, targets, remaining, sidecar, cyc)
        frontier_new = self.cat.read("frontier", snap).join(
            targets.select(*keys), keys, "left_anti"
        )
        resolved_new = self.cat.read("resolved", snap).join(
            targets.select(*keys), keys, "left_anti"
        )
        retry_new = self.cat.read("retry_state", snap).join(
            targets.select(*keys), keys, "left_anti"
        )
        txn = self.cat.begin()
        txn.overwrite("url_seen", remaining, partition_by=["part"])
        txn.overwrite(self.sidecar.table, sidecar_new)
        txn.overwrite("frontier", frontier_new)
        txn.overwrite("resolved", resolved_new)
        txn.overwrite("retry_state", retry_new)
        txn.commit(
            cycle_id=cyc,
            meta={**((snap or {}).get("meta") or {}), "forgotten": n},
        )
        targets.unpersist()
        # url_seen content changed: the stale mirror marker no longer
        # matches the new snapshot, so the derived bucketed index is
        # rebuilt lazily on the next cycle's _ensure_seen_mirror
        return {"forgotten": n}

    @_tuned_method
    def reseed(self, urls) -> dict:
        """Active re-crawl: re-queue URLs for fetching regardless of
        seen state. forget() first drops their old identity, then they
        are injected as fresh depth-0 discoveries through the standard
        canonicalize → robots → score path with strictly-new seqs, so
        the ordering contract stays monotone and the re-fetch competes
        in the next cycle's batch by (score, seq) like any discovery.
        URLs on hosts outside host_config are dropped by the robots
        join, exactly as discovered links are. Seq assignment ranks
        the lexicographic url_norm order: a window task for
        operator-sized lists, the same fully-distributed two-phase
        rank as C18 when a bulk revisit() re-queues more than ~64k
        URLs — no single-partition funnel at web scale."""
        if not isinstance(urls, DataFrame):
            urls = local_frame(self.spark, [(u,) for u in urls], _URLS)
        urls = urls.persist()
        self.forget(urls)
        snap = self.cat.current_snapshot()
        cyc = (snap or {}).get("cycle_id", 0)
        hc = self.cat.read("host_config", snap)
        f = (
            urls.withColumn("url_norm", canonicalize_udf("url"))
            .filter(F.col("url_norm").isNotNull())
            .select("url_norm")
            .distinct()
            .withColumn("depth", F.lit(0))
        )
        pre = self._admit(f, hc).persist()
        n = pre.count()
        if n == 0:
            pre.unpersist()
            urls.unpersist()
            return {"reseeded": 0}
        f = schedule.rank_seq(
            pre, self.max_seq, ["url_norm"],
            distributed=n > schedule.SMALL_BATCH_MAX,
        )
        f = (
            f.withColumn("discovered_from", F.lit(None).cast("string"))
            .withColumn("cycle_id", F.lit(cyc).cast("long"))
            .withColumn("part", self._part())
        )
        rows = f.select(*FRONTIER_COLS, "part").persist()
        seen_delta = rows.select(
            "url_hash", "url_norm",
            F.lit(cyc).cast("long").alias("first_cycle"), "part",
        )
        sidecar_new = seen.fold(
            self.sidecar, rows.select("part", "url_hash"),
            self.cat.read(self.sidecar.table, snap), cyc,
        )
        self.max_seq += n
        txn = self.cat.begin()
        txn.append("frontier", rows.select(*FRONTIER_COLS))
        txn.append("url_seen", seen_delta, partition_by=["part"])
        txn.overwrite(self.sidecar.table, sidecar_new)
        new_snap = txn.commit(
            cycle_id=cyc,
            meta={**((snap or {}).get("meta") or {}),
                  "max_seq": self.max_seq, "reseeded": n},
        )
        self._mirror_append(rows, new_snap)
        rows.unpersist()
        pre.unpersist()
        urls.unpersist()
        schedule.release_scratch()
        return {"reseeded": n}

    @_tuned_method
    def revisit(self, min_age: int) -> dict:
        """C25 freshness re-crawl: re-queue every URL whose LAST
        successful fetch is ≥ ``min_age`` cycles old — the periodic
        staleness sweep a long-lived crawl runs between discovery
        cycles. Delegates to :meth:`reseed` (forget + depth-0
        re-injection with strictly-new seqs), so re-fetches compete
        under normal politeness caps and, with versioned content
        (GraphConfig.revision_every), land NEW rows in the append-only
        ``documents`` log — version history per doc_id, the substrate
        for change-rate estimation.

        Scans the ``scheduled`` history log (one partial-aggregated
        groupBy + filter) — acceptable because revisit is a rare
        maintenance action, not per-cycle; at 10^10 frontier scale the
        same information could be folded incrementally, but the sweep
        itself is O(log) once per revisit epoch either way."""
        snap = self.cat.current_snapshot()
        now = (snap or {}).get("cycle_id", 0)
        due = (
            self.cat.read("scheduled", snap)
            .filter(F.col("ok"))
            .groupBy("url_norm")
            .agg(F.max("cycle_id").alias("last_ok"))
            .filter(F.lit(now) - F.col("last_ok") >= min_age)
            .select(F.col("url_norm").alias("url"))
        )
        out = self.reseed(due)
        return {"revisited": out["reseeded"]}

    @_tuned_method
    def revisit_from_sitemaps(self) -> dict:
        """C25∘C26 sitemap-driven selective revisit: re-fetch the
        stored sitemap documents (fresh <lastmod> assertions as-of the
        current cycle), and re-queue exactly the LISTED urls whose
        asserted lastmod is newer than their last successful fetch —
        the metadata-driven alternative to :meth:`revisit`'s blanket
        min_age sweep (pages not in any sitemap never re-fetch;
        unchanged listed pages don't either). Production semantics:
        sitemap lastmod is advisory, so the comparison is
        date-vs-our-fetch-date; cycles map to dates by the engine's
        crawl clock (2026-01-{cycle+1}, the convention the fetcher
        records under).

        Scale shape: the sitemap set is O(hosts) — the re-fetch is one
        Arrow batch; parsing is JVM regexp over those docs only; the
        last-fetch lookup is the same one partial-aggregated groupBy
        over the scheduled log as revisit(); the reseed path is shared
        (two-phase rank above 64k dues)."""
        snap = self.cat.current_snapshot()
        now = (snap or {}).get("cycle_id", 0)
        docs = self.cat.read("documents", snap)
        has_lm = F.exists(
            "spans",
            lambda s: (s["kind"] == "text") & s["text"].contains("<lastmod>"),
        )
        smaps = docs.filter(has_lm).groupBy("doc_id").agg(
            F.max("host").alias("host")
        )
        batch = (
            smaps.select(F.col("doc_id").alias("url_norm"), "host")
            .withColumn("depth", F.lit(0).cast("int"))
            .withColumn(
                "batch_pos", F.row_number().over(Window.orderBy("url_norm"))
            )
            .withColumn("attempt", F.lit(1).cast("int"))
        )
        fetched = fetch_ops.fetch_batch(batch, self.cfg.graph, now)
        chunks = (
            fetched.filter(F.col("ok") & F.col("redirect_to").isNull())
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "text")
            .select(
                F.explode(
                    F.regexp_extract_all(
                        F.col("s.text"),
                        F.lit(r"<loc>[^<]+</loc><lastmod>[^<]+</lastmod>"),
                        F.lit(0),
                    )
                ).alias("chunk")
            )
        )
        pairs = (
            chunks.select(
                canonicalize_udf(
                    F.regexp_extract("chunk", r"<loc>([^<]+)", 1)
                ).alias("url_norm"),
                (
                    F.dayofmonth(
                        F.to_date(F.regexp_extract("chunk", r"<lastmod>([^<]+)", 1))
                    )
                    - 1
                ).cast("long").alias("lm_cycle"),
            )
            .filter(F.col("url_norm").isNotNull())
            .groupBy("url_norm")
            .agg(F.max("lm_cycle").alias("lm_cycle"))
        )
        last_ok = (
            self.cat.read("scheduled", snap)
            .filter(F.col("ok"))
            .groupBy("url_norm")
            .agg(F.max("cycle_id").alias("last_ok"))
        )
        due = (
            pairs.join(last_ok, "url_norm")
            .filter(F.col("lm_cycle") > F.col("last_ok"))
            .select(F.col("url_norm").alias("url"))
        )
        out = self.reseed(due)
        return {"revisited": out["reseeded"]}

    def update_politeness(self, host_config_df: DataFrame) -> dict:
        """Mid-crawl robots / crawl-delay / priority refresh — the
        periodic robots re-fetch a long crawl must do — as one atomic
        commit:

        - `host_config` is replaced wholesale (hosts absent from the
          new config are retired: their queued URLs are pruned);
        - the queued frontier is re-checked against the NEW rules, so
          now-disallowed URLs are dropped HERE, once — discovery-time
          filtering remains the per-cycle contract and a rule change
          costs one pass, not a robots re-check every cycle;
        - frontier scores are recomputed from the new site_priority
          (seq, and with it the FIFO tie-break, never changes);
        - newly-added hosts get a host_state row at full capacity so
          their first cycle refills correctly.
        """
        snap = self.cat.current_snapshot()
        cyc = (snap or {}).get("cycle_id", 0)
        frontier = self.cat.read("frontier", snap)
        host_state = self.cat.read("host_state", snap)
        f = frontier.drop("site_priority", "score").withColumn(
            "path",
            F.coalesce(F.parse_url(F.col("url_norm"), F.lit("PATH")), F.lit("/")),
        )
        f = politeness.robots_filter(f, host_config_df)
        frontier_new = schedule.with_score(f).select(*FRONTIER_COLS).persist()
        n_queued = frontier_new.count()
        hs_delta = (
            self._pol_hc(host_config_df).join(
                host_state.select("host").distinct(), "host", "left_anti"
            ).select(
                "host",
                F.col("token_capacity").alias("tokens"),
                F.lit(cyc).cast("long").alias("last_cycle"),
            )
        )
        txn = self.cat.begin()
        txn.overwrite("host_config", host_config_df)
        txn.overwrite("frontier", frontier_new)
        txn.append("host_state", hs_delta)
        txn.commit(
            cycle_id=cyc,
            meta={**((snap or {}).get("meta") or {}), "politeness_updated": True},
        )
        frontier_new.unpersist()
        return {"queued_after": n_queued}

    # -- verification views ----------------------------------------------------

    def crawl_order(self) -> DataFrame:
        """The crawl-ordering contract: fetch attempts in execution
        order, with attempt number and outcome."""
        return self.cat.read("scheduled").orderBy("cycle_id", "batch_pos")

    def seen_set(self) -> DataFrame:
        return self.cat.read("url_seen").select("url_norm", "first_cycle")

    def documents(self) -> DataFrame:
        return self.cat.read("documents")

    def redirect_map(self) -> DataFrame:
        """C24: every successful 301 hop (alias url_norm → canonical
        Location), append-only across cycles."""
        return self.cat.read("redirects")

    def fetch_log(self) -> DataFrame:
        """Derived view (the Iceberg-view analogue): one row per fetch
        attempt with status/timestamp/bytes, computed on read from
        scheduled ⋈ documents. The log is write-once-read-rarely and
        every column is a function of those two tables, so deriving it
        removes one staged write from every cycle's commit without
        losing any queryable surface."""
        sched = self.cat.read("scheduled")
        doc_bytes = self.cat.read("documents").select(
            F.col("doc_id").alias("url_norm"),
            F.col("fetch_cycle").alias("cycle_id"),
            fetch_ops.doc_bytes_col().alias("bytes"),
        )
        redirs = self.cat.read("redirects").select(
            F.col("src").alias("url_norm"), "cycle_id",
            F.lit(True).alias("is_redir"),
        )
        return (
            sched.join(doc_bytes, ["url_norm", "cycle_id"], "left")
            .join(redirs, ["url_norm", "cycle_id"], "left")
            .select(
                "cycle_id",
                "url_hash",
                "host",
                F.when(F.col("is_redir").isNotNull(), 301)
                .when(F.col("ok"), 200)
                .otherwise(503)
                .cast("int")
                .alias("status"),
                F.timestamp_seconds(F.lit(1704067200) + F.col("cycle_id")).alias("fetched_at"),
                F.coalesce("bytes", F.lit(0)).cast("long").alias("bytes"),
            )
        )
