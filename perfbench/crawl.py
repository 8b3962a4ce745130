"""crawl_capped: bootstrap, then one timed cycle of CrawlEngine with a
clock-bounded frontier, checked against RefSim."""

from __future__ import annotations

import dataclasses
import time

from common import (
    cache_get, cache_key, cache_put, digest, dir_usage, log, median, source_hash,
)
from ledger import rows_named

# Small enough that a run fits the time budget. The cycle is still
# bound by the engine's fixed cost (about 75 jobs and 33 parquet
# files), and cycle 1 leaves ~2.5k URLs pending, so the cap makes the
# clock sweep evict ~1.5k of them inside the timed cycle.
GRAPH = dict(n_sites=200, max_pages=5000, out_degree=8, batch_size=10_000,
             token_mult=50, seeds_per_site=5, frontier_cap=1_500, frontier_slack=300)
N_PARTS = 4  # n_salt and n_seen_parts
# Bootstrap is the warm-up: it runs most of a cycle's stage shapes.
CYCLES = 1
MB = 1024 * 1024
REFSIM_SOURCES = ("crawlspark/refsim.py", "crawlspark/synth.py", "crawlspark/urlnorm.py")


def graph(seed: int):
    from crawlspark.synth import GraphConfig

    return GraphConfig(seed=seed, max_cycles=CYCLES, **GRAPH)


def reference(g) -> dict:
    """RefSim digests for `g`, cached in the checkout per config and
    per version of RefSim and the modules it imports."""
    key = "refsim-" + cache_key(dataclasses.astuple(g), source_hash(*REFSIM_SOURCES))
    hit = cache_get(key)
    if hit is not None:
        return hit
    from crawlspark.refsim import RefSim

    t0 = time.time()
    res = RefSim(g).run()
    ref = {
        "order": digest(res.order),
        "seen": digest(sorted(res.seen.items())),
        "evictions": digest(sorted(res.evictions)),
        "n_order": len(res.order),
        "n_seen": len(res.seen),
        "n_evictions": len(res.evictions),
    }
    log(f"refsim {time.time() - t0:.1f}s {ref['n_order']} attempts")
    cache_put(key, ref)
    return ref


def engine_digests(eng) -> dict:
    order = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["host"], r["score"],
         r["seq"], r["depth"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    seen = sorted((r["url_norm"], r["first_cycle"]) for r in eng.seen_set().collect())
    ev = sorted(
        (r["url_norm"], r["cycle_id"], r["lap"]) for r in eng.cat.read("evictions").collect()
    )
    return {
        "order": digest(order), "seen": digest(seen), "evictions": digest(ev),
        "n_order": len(order), "n_seen": len(seen), "n_evictions": len(ev),
        "sweep_cycles": len({c for _u, c, _l in ev}),
    }


def check(ctx, got: dict, want: dict) -> None:
    for k in ("order", "seen", "evictions"):
        ctx.check(f"{k} matches RefSim ({got['n_' + k]} vs {want['n_' + k]} rows)",
                  got[k] == want[k])


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from crawlspark.engine import CrawlEngine, EngineConfig
    from crawlspark.operators import fetch as fetch_ops

    tr = ctx.tracer
    g = graph(ctx.seed)
    wh = ctx.wd.sub("warehouse")
    eng = CrawlEngine(ctx.spark, EngineConfig(graph=g, warehouse=str(wh),
                                              n_salt=N_PARTS, n_seen_parts=N_PARTS))
    with tr.span("engine.bootstrap"):
        eng.bootstrap()
    ctx.setup_done()
    cycles = []
    for c in range(1, CYCLES + 1):
        before = dir_usage(wh / "data")
        with tr.span("engine.cycle") as sp:
            st = ctx.op(f"cycle {c}", eng.run_cycle, c)
        after = dir_usage(wh / "data")
        if st is None or st["stop"]:
            ctx.check(f"cycle {c} ran and had work", False)
            continue
        new = [p for p in after if p not in before]
        t = sp.start
        for name in ("fetch", "stats", "commit"):
            end = sp.end if name == "commit" else min(t + st["phase_ms"][name] / 1000.0, sp.end)
            tr.add(f"engine.{name}", t, end, sp.id)
            t = end
        cycles.append({
            "wall": sp.dur, "scheduled": st["scheduled"], "deduped": st["deduped"],
            "discovered": st["discovered"], "phase_ms": st["phase_ms"],
            "files": sum(1 for p in new if p.endswith(".parquet")),
            "dirs": len({p.rsplit("/", 1)[0] for p in new}),
            "written": sum(after[p] for p in new),
        })

    got = ctx.op("read engine outputs", engine_digests, eng)
    want = ctx.op("RefSim reference", reference, g)
    if got and want:
        check(ctx, got, want)
    doc_bytes = eng.documents().agg(F.sum(fetch_ops.doc_bytes_col())).collect()[0][0] or 0
    wh_bytes = sum(dir_usage(wh).values())

    wall = sum(c["wall"] for c in cycles)
    urls = sum(c["scheduled"] + c["deduped"] for c in cycles)
    cand = sum(c["deduped"] + c["discovered"] for c in cycles)
    m = {
        "op_s_p50": median(c["wall"] for c in cycles),
        "work_per_s": urls / wall if wall else 0.0,
        "engine.bootstrap_s": median(tr.durations("engine.bootstrap")),
        "engine.dedup_frac": sum(c["deduped"] for c in cycles) / cand if cand else 0.0,
        "catalog.staged_dirs_per_cycle": median(c["dirs"] for c in cycles),
        "catalog.files_per_cycle": median(c["files"] for c in cycles),
        "catalog.written_mb_per_cycle": median(c["written"] for c in cycles) / MB,
        "catalog.warehouse_mb": wh_bytes / MB,
        "catalog.bytes_per_doc_byte": wh_bytes / doc_bytes if doc_bytes else 0.0,
    }
    for name in ("fetch", "stats", "commit"):
        m[f"engine.{name}_s"] = median(c["phase_ms"][name] for c in cycles) / 1000.0
    if got:
        m["clock.evictions"] = got["n_evictions"]
        m["clock.sweep_cycles"] = got["sweep_cycles"]
    log(f"crawl cycles {[(round(c['wall'], 2), c['phase_ms']) for c in cycles]} urls {urls}")
    return m


def ledger_metrics(ctx, rows) -> dict:
    cyc = rows_named(rows, ctx.tracer.spans, "engine.cycle")
    walls = ctx.tracer.durations("engine.cycle")
    if not cyc:
        return {}
    return {
        "engine.jobs_per_cycle": median(r.jobs for r in cyc),
        "engine.stages_per_cycle": median(r.stages for r in cyc),
        "engine.tasks_per_cycle": median(r.tasks for r in cyc),
        "engine.executor_cpu_s_per_cycle": median(r.cpu_s for r in cyc),
        "engine.shuffle_mb_per_cycle": median(r.shuffle_mb for r in cyc),
        "engine.spill_mb_per_cycle": median(r.spill_mb for r in cyc),
        "engine.executor_idle_frac": median(
            1.0 - r.run_s / (ctx.cores * w) for r, w in zip(cyc, walls)
        ),
    }
