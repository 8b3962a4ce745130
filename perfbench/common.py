"""Shared plumbing: the run's scratch tree, the Spark session, RSS
sampling, digests and the per-checkout result cache (keyed by the
sources each result depends on)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# everything a run writes lives under the checkout
WORK_ROOT = ROOT / ".perfbench_work"
CACHE_DIR = ROOT / ".perfbench_cache"
HEAP = "3g"  # well below physical RAM; session.py's default is 16g


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Workdir:
    """Per-process scratch tree under the checkout. Python workers,
    Spark local dirs, the JVM tmpdir and the SQL warehouse all point
    here, and `close` removes it."""

    def __init__(self, tag: str):
        self.path = WORK_ROOT / f"{tag}-{os.getpid()}"
        self.path.mkdir(parents=True, exist_ok=True)
        for sub in ("tmp", "local", "sqlwh", "eventlog"):
            (self.path / sub).mkdir(exist_ok=True)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def export_env(self) -> None:
        # Spark's Python workers import crawlspark, so they need the
        # checkout root on their path, not just this process
        paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "local")
        os.environ["TMPDIR"] = str(self.path / "tmp")
        os.environ["CRAWLSPARK_WAREHOUSE_DIR"] = str(self.path / "sqlwh")
        import tempfile

        tempfile.tempdir = str(self.path / "tmp")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass


def start_spark(wd: Workdir, cores: int, trace: bool):
    """Build the session with crawlspark's own get_spark. Returns
    (spark, seconds taken)."""
    from crawlspark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={wd.path / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{wd.path / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark("crawlspark-perfbench", cores=cores, shuffle_partitions=cores,
                      driver_memory=HEAP, extra=extra)
    return spark, time.time() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak memory of the JVM plus the Python workers it forks (every
    descendant of this process except this process itself). Sums PSS,
    not RSS: the workers are forked from one daemon and share most of
    their pages, so summed RSS would count those pages once per
    worker alive at the sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids, total = _children(), 0
        todo = list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)
        self.samples.append((time.time(), total))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def digest(rows) -> str:
    """Order-sensitive sha256 over rows of plain values (a float equal
    to an int hashes as that int)."""
    h = hashlib.sha256()
    for r in rows:
        vals = [int(x) if isinstance(x, float) and x.is_integer() else x for x in r]
        h.update(json.dumps(_canon(vals)).encode())
        h.update(b"\n")
    return h.hexdigest()


def cache_get(key: str) -> dict | None:
    p = CACHE_DIR / f"{key}.json"
    if p.exists():
        return json.loads(p.read_text())
    return None


def cache_put(key: str, value: dict) -> None:
    CACHE_DIR.mkdir(exist_ok=True)
    tmp = CACHE_DIR / f".{key}.{os.getpid()}.tmp"
    tmp.write_text(json.dumps(value))
    os.replace(tmp, CACHE_DIR / f"{key}.json")


def cache_key(*parts) -> str:
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:24]


def source_hash(*paths: str) -> str:
    """sha256 over the Python sources under `paths` (files or
    directories, relative to the checkout root), for cache keys that
    must change when the code does."""
    h = hashlib.sha256()
    for rel in paths:
        p = ROOT / rel
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            h.update(str(f.relative_to(p.parent)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:24]


def dir_usage(root: Path) -> dict[str, int]:
    """Relative path -> size in bytes of every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = Path(dirpath) / f
            try:
                out[str(p.relative_to(root))] = p.stat().st_size
            except OSError:
                pass
    return out
