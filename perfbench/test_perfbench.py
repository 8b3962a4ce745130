"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import crawl  # noqa: E402
from common import digest, source_hash  # noqa: E402
from ledger import Job, Tracer, attribute, read_event_log, rollup, rows_named  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _task(stage, launch, finish, cpu_ns, shuffle_w=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch, "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        },
    }


def _fixture_log(path: Path, t0_ms: int) -> None:
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": t0_ms},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": t0_ms + 100,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 2}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 1}},
        _task(0, t0_ms + 110, t0_ms + 130, 5_000_000, shuffle_w=1024 * 1024),
        _task(0, t0_ms + 110, t0_ms + 190, 15_000_000, shuffle_w=1024 * 1024),
        _task(1, t0_ms + 200, t0_ms + 210, 1_000_000),
        # job 1 lists stage 1 again (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": t0_ms + 1100,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Number of Tasks": 1}},
        _task(2, t0_ms + 1110, t0_ms + 1120, 2_000_000, spill=2 * 1024 * 1024),
        {"Event": "SparkListenerApplicationEnd", "Timestamp": t0_ms + 2000},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_rollup(tmp_path):
    t0 = 1_700_000_000.0
    _fixture_log(tmp_path / "app-1", int(t0 * 1000))
    log = read_event_log(tmp_path / "app-1")
    assert [j.id for j in log.jobs] == [0, 1]
    assert log.stages == {0: 2, 1: 1, 2: 1}
    assert len(log.tasks) == 4

    tr = Tracer("t")
    outer = tr.add("pass", t0, t0 + 2.0, None)
    a = tr.add("op.a", t0 + 0.05, t0 + 0.5, outer.id)
    b = tr.add("op.b", t0 + 1.0, t0 + 1.5, outer.id)
    rows = rollup(log, tr.spans)
    assert set(rows) == {a.id, b.id}
    ra, rb = rows[a.id], rows[b.id]
    assert (ra.jobs, ra.stages, ra.tasks) == (1, 2, 3)
    assert (rb.jobs, rb.stages, rb.tasks) == (1, 1, 1)  # stage 1 counted once
    assert abs(ra.cpu_s - 0.021) < 1e-9
    assert abs(ra.shuffle_mb - 2.0) < 1e-9
    assert abs(rb.spill_mb - 2.0) < 1e-9
    assert ra.task_skew() == 80 / 50  # stage 0: walls 20, 80 ms
    (whole,) = rows_named(rows, tr.spans, "pass")
    assert (whole.jobs, whole.stages, whole.tasks) == (2, 3, 4)


def test_window_attribution_innermost_and_other_threads():
    tr = Tracer("t")
    submitted = []
    with tr.span("engine.cycle") as cyc:
        with tr.span("engine.commit") as commit:
            # a job submitted from a writer thread carries no job group
            # of the caller; its submission time still falls in the span
            th = threading.Thread(target=lambda: submitted.append(time.time()))
            th.start()
            th.join(timeout=5)
            assert not th.is_alive()
            time.sleep(0.01)
        time.sleep(0.01)
        late = time.time()
        time.sleep(0.01)
    jobs = [Job(0, int(submitted[0] * 1000) + 1, []), Job(1, int(late * 1000), []),
            Job(2, int((cyc.end + 5) * 1000), [])]
    got = attribute(jobs, tr.spans)
    assert got[0] is commit
    assert got[1] is cyc
    assert 2 not in got


class _Ctx:
    def __init__(self):
        self.attempted = self.failed = 0

    def check(self, what, ok):
        self.attempted += 1
        self.failed += 0 if ok else 1


def test_refsim_digest_check_rejects_perturbed_order():
    from crawlspark.refsim import RefSim
    from crawlspark.synth import UNIT_CLOCK

    res = RefSim(UNIT_CLOCK).run()
    want = {
        "order": digest(res.order), "seen": digest(sorted(res.seen.items())),
        "evictions": digest(sorted(res.evictions)),
        "n_order": len(res.order), "n_seen": len(res.seen), "n_evictions": len(res.evictions),
    }
    ctx = _Ctx()
    crawl.check(ctx, dict(want), want)
    assert (ctx.attempted, ctx.failed) == (3, 0)

    order = list(res.order)
    order[3], order[4] = order[4], order[3]
    ctx = _Ctx()
    crawl.check(ctx, dict(want, order=digest(order)), want)
    assert (ctx.attempted, ctx.failed) == (3, 1)


def test_digest_is_order_sensitive_and_int_float_blind():
    assert digest([(1, "a"), (2, "b")]) != digest([(2, "b"), (1, "a")])
    assert digest([(1, 2.0)]) == digest([(1.0, 2)])
    assert digest([(1, 2.5)]) != digest([(1, 2.25)])


def test_metric_names_and_benchmark_json():
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    for table in (END_TO_END, PER_LAYER):
        for name, (unit, better) in table.items():
            assert name_re.match(name), name
            assert unit_re.match(unit), unit
            assert better in ("lower", "higher")
    assert not set(END_TO_END) & set(PER_LAYER)

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {e["name"]: (e["unit"], e["better"]) for e in spec["end_to_end"]} == END_TO_END
    assert {e["name"]: (e["unit"], e["better"]) for e in spec["per_layer"]} == PER_LAYER
    assert all(0 < e["bound"] <= 0.25 for e in spec["end_to_end"])
    from run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_source_hash_tracks_content(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "notes.txt").write_text("not code")
    before = source_hash(str(pkg))
    (pkg / "notes.txt").write_text("still not code")
    assert source_hash(str(pkg)) == before
    (pkg / "a.py").write_text("x = 2\n")
    assert source_hash(str(pkg)) != before
    assert source_hash(str(pkg / "a.py")) != source_hash(str(pkg))


def test_query_groups_cover_headline_once():
    import bench
    from corpus import MODULES, QUERIES

    assert sorted(QUERIES) == sorted(bench.HEADLINE)
    assert len(set(QUERIES)) == len(QUERIES)
    assert all(MODULES.values())


def test_corpus_generator_is_seeded(tmp_path):
    import pyarrow.parquet as pq
    from corpusgen import generate

    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        generate(tmp_path / d, seed)
    docs = {d: pq.read_table(tmp_path / d / "documents.parquet").to_pylist() for d in "abc"}
    assert docs["a"] == docs["b"] != docs["c"]
    assert len(docs["a"]) == 500
    n_words = [len(r["text"].split()) for r in docs["a"]]
    assert min(n_words) >= 10 and max(n_words) <= 102  # a copy of a copy has two " dup"s
    assert 5 <= sum(r["text"].endswith(" dup") for r in docs["a"]) <= 50
    assert pq.read_metadata(tmp_path / "a" / "lineitem.parquet").num_rows == 60_000
