"""Every metric the benchmark prints: name -> (unit, better).

END_TO_END is printed by untraced runs (--trace 0), PER_LAYER by traced
runs (--trace 1), for every workload. A layer metric that a workload
does not exercise reads 0 there (for example `clock.evictions` on
dataflow, where the clock never runs).
"""

from __future__ import annotations

from corpus import MODULES, QUERIES

END_TO_END = {
    # process start to the first timed operation: session start, input
    # generation, bootstrap and the untimed warm-up
    "setup_s": ("s", "lower"),
    # median wall of one operation: a crawl cycle, or on dataflow a
    # pass over the 23 queries (queries_total_s)
    "op_s_p50": ("s", "lower"),
    # crawl: scheduled + deduped URLs / cycle wall; dataflow: frontier
    # URLs / median frontier pass wall (frontier_urls_per_s)
    "work_per_s": ("1/s", "higher"),
}

_S, _N, _F, _MB, _R = ("s", "lower"), ("count", "lower"), ("frac", "lower"), ("MB", "lower"), (
    "ratio", "lower")
PER_LAYER = {
    "session.start_s": _S,
    # memory of the JVM plus Python workers (summed PSS, sampled from
    # /proc every 0.5 s): the peak, and the median from the end of
    # set-up to the end of the run. Per layer, not end to end: JVM heap
    # growth made the median swing by up to 24% between runs.
    "session.peak_pss_mb": _MB,
    "session.mem_mb_p50": _MB,
    "engine.bootstrap_s": _S,
    "engine.fetch_s": _S,
    "engine.stats_s": _S,
    "engine.commit_s": _S,
    "engine.jobs_per_cycle": _N,
    "engine.stages_per_cycle": _N,
    "engine.tasks_per_cycle": _N,
    "engine.executor_cpu_s_per_cycle": _S,
    "engine.shuffle_mb_per_cycle": _MB,
    "engine.spill_mb_per_cycle": _MB,
    "engine.executor_idle_frac": _F,
    "engine.dedup_frac": ("frac", "higher"),
    "catalog.staged_dirs_per_cycle": _N,
    "catalog.files_per_cycle": _N,
    "catalog.written_mb_per_cycle": _MB,
    "catalog.warehouse_mb": _MB,
    "catalog.bytes_per_doc_byte": _R,
    "clock.evictions": _N,
    "clock.sweep_cycles": _N,
    "frontier.pass_s": _S,
    "urlnorm.canon_s": _S,
    "urlnorm.executor_cpu_s": _S,
    "urlnorm.null_frac": _F,
    "seen.fold_s": _S,
    "seen.filter_s": _S,
    "seen.shuffle_mb": _MB,
    "seen.bloom_maybe_frac": _F,
    "seen.bloom_fp_rate": _F,
    "seen.dedup_frac": ("frac", "higher"),
    "politeness.robots_s": _S,
    "politeness.drop_frac": _F,
    "schedule.cap_s": _S,
    "schedule.topk_s": _S,
    "schedule.shuffle_mb": _MB,
    "schedule.cap_drop_frac": _F,
    "schedule.task_skew": _R,
    "queries.total_s": _S,
    **{f"queries.{m}_s": _S for m in MODULES},
    **{f"queries.{m}_executor_cpu_s": _S for m in MODULES},
    **{f"queries.{m}_shuffle_mb": _MB for m in MODULES},
    **{f"query.{q}_s": _S for q in QUERIES},
    # traced op_s_p50, and its excess over the last untraced run of the
    # same workload in this checkout (0 when there is none yet)
    "trace.op_s_p50": _S,
    "trace.overhead_frac": _F,
}
