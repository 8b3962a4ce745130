"""crawlspark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: crawl_capped, dataflow (see README.md in this directory).
Runs on local[min(4, nproc)] with a 3g JVM heap,
builds its inputs from the seed, times the calls it makes into
crawlspark's public functions, checks every output untimed, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 turns on an
uncompressed Spark event log, rolls it up per span (ledger.py) and
reports the per-layer metrics; spans go to .perfbench_out/.
Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

T_START = time.time()
_HERE = Path(__file__).resolve().parent
# this directory, then the checkout root (crawlspark, bench.py)
sys.path[:0] = [str(_HERE), str(_HERE.parent)]

from common import (  # noqa: E402
    ROOT, MemSampler, Workdir, cache_get, cache_key, cache_put, log, median, source_hash,
    start_spark, stop_spark,
)
from ledger import Tracer, find_event_log, read_event_log, rollup  # noqa: E402

WORKLOADS = {"crawl_capped": "crawl", "dataflow": "dataflow"}
OUT_DIR = ROOT / ".perfbench_out"


class Context:
    """What a workload gets: its inputs' seed, the session, the tracer,
    and the failure ledger every operation and check reports into."""

    def __init__(self, args, wd: Workdir, cores: int):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cores, self.wd = cores, wd
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = self.failed = 0
        self.t_setup = None

    def op(self, what: str, fn, *a):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            log(f"FAILED {what}:\n{traceback.format_exc()}")
            return None

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        log(f"{'ok' if ok else 'CHECK FAILED'}: {what}")

    def setup_done(self) -> None:
        self.t_setup = time.time()


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    from metrics import END_TO_END, PER_LAYER

    args = parse(argv)
    cores = min(4, len(os.sched_getaffinity(0)))
    wd = Workdir(f"{args.workload}-{args.seed}")
    try:
        wd.export_env()
        mod = importlib.import_module(WORKLOADS[args.workload])
        ctx = Context(args, wd, cores)
        with MemSampler() as mem:
            spark, start_s = start_spark(wd, cores, ctx.trace)
            ctx.spark = spark
            ctx.tracer.add("session.start", time.time() - start_s, time.time(), None)
            try:
                m = ctx.op(args.workload, mod.run, ctx) or {}
            finally:
                stop_spark(spark)
        log("spans: " + ", ".join(f"{s.name}={s.dur:.2f}" for s in ctx.tracer.spans
                                  if s.parent is None))
        m["session.start_s"] = start_s
        m["session.peak_pss_mb"] = mem.peak_kb / 1024
        m["session.mem_mb_p50"] = median(kb for t, kb in mem.samples if t >= (ctx.t_setup or 0)) / 1024
        m["setup_s"] = (ctx.t_setup or time.time()) - T_START
        # keyed by the code too, so overhead_frac never compares commits
        last_key = "untraced-" + cache_key(args.workload, args.seed, args.seconds, cores,
                                           source_hash("crawlspark", "perfbench"))
        if ctx.trace:
            rows = rollup(read_event_log(find_event_log(wd.path / "eventlog")), ctx.tracer.spans)
            m.update(mod.ledger_metrics(ctx, rows))
            OUT_DIR.mkdir(exist_ok=True)
            ctx.tracer.dump(OUT_DIR / f"spans-{args.workload}-{args.seed}.jsonl")
            m["trace.op_s_p50"] = m.get("op_s_p50", 0.0)
            base = cache_get(last_key)
            if base and base["op_s_p50"] > 0:
                m["trace.overhead_frac"] = m["trace.op_s_p50"] / base["op_s_p50"] - 1.0
        elif ctx.failed == 0:
            cache_put(last_key, {"op_s_p50": m["op_s_p50"]})
        names = PER_LAYER if ctx.trace else END_TO_END
        missing = [k for k in END_TO_END if k not in m]
        if missing:
            ctx.check(f"metrics measured: missing {missing}", False)
        out = {
            "correct": ctx.failed == 0,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": {k: {"value": float(m.get(k, 0.0)), "unit": u}
                        for k, (u, _b) in names.items()},
        }
    finally:
        wd.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
