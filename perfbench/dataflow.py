"""dataflow: the two sides of the system that touch no catalog, in one
run. A frontier pass at scale (urlnorm, seen, politeness, schedule),
then the 23 headline corpus queries (dedup, similarity, textstats,
queries.*). They share a run because a JVM start and its warm-up cost
about 20 s, and the benchmark's time budget does not allow a third
workload to pay it."""

from __future__ import annotations

import time

import corpus
import frontier
from common import log, median

# frontier passes per round; the first timed pass still runs up to 50%
# slower than the next, and a median of three sets it aside. A traced
# run makes one: its per-layer times come from the staged pass, and the
# spare time keeps it well inside the run's time limit.
FRONTIER_PASSES = 3


def run(ctx) -> dict:
    tr = ctx.tracer
    f = frontier.Frontier(ctx)
    c = corpus.Corpus(ctx)
    ctx.setup_done()
    deadline = time.time() + ctx.seconds
    while True:
        # each pass is digested and its caches dropped before the next
        # (a live cache of the same plan would serve the next pass)
        for _ in range(1 if ctx.trace else FRONTIER_PASSES):
            with tr.span("frontier.pass"):
                out = f.run_pass()
            f.check_pass(out)
        with tr.span("corpus.pass"):
            c.run_pass()
        if time.time() >= deadline:
            break
    f.check_digests()
    c.check()
    passes = tr.durations("frontier.pass")
    m = {
        # each half of the round has the end-to-end metric that carries
        # its whole change: the query pass (queries_total_s) and the
        # frontier rate (frontier_urls_per_s)
        "op_s_p50": median(tr.durations("corpus.pass")),
        "work_per_s": frontier.N_URLS / median(passes),
        "frontier.pass_s": median(passes),
        "seen.fold_s": median(tr.durations("seen.fold")),
        **c.metrics(),
    }
    log(f"dataflow frontier passes {[round(p, 2) for p in passes]}, query passes "
        f"{[round(p, 2) for p in tr.durations('corpus.pass')]}")
    if ctx.trace:
        m.update(ctx.op("staged frontier pass", f.staged) or {})
    return m


def ledger_metrics(ctx, rows) -> dict:
    return {**frontier.ledger_metrics(ctx, rows), **corpus.ledger_metrics(ctx, rows)}
