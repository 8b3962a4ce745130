"""JVM-native sidecar fold and probe (native/src/): bit-parity with the
numpy paths, no false negatives, and graceful fallback when the jar is
absent."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlspark.operators import seen
from crawlspark.operators.cuckoo import Cuckoo
from crawlspark.schemas import BLOOM_SEEN


def _bloom_over(spark, hashes, nparts):
    parts = (hashes % nparts + nparts) % nparts
    new = spark.createDataFrame(
        [(int(p), int(h)) for p, h in zip(parts, hashes)], "part int, url_hash long"
    )
    bloom = seen.fold_bloom(
        new, spark.createDataFrame([], BLOOM_SEEN), cycle_id=1
    ).persist()
    bloom.count()
    return bloom, parts


def test_native_probe_matches_python(spark):
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    rng = np.random.default_rng(7)
    members = rng.integers(-2**63, 2**63 - 1, size=8000, dtype=np.int64)
    bloom, _ = _bloom_over(spark, members, nparts=4)
    probes = np.concatenate(
        [members[:3000], rng.integers(-2**63, 2**63 - 1, size=3000, dtype=np.int64)]
    )
    pparts = (probes % 4 + 4) % 4
    cand = spark.createDataFrame(
        [(int(p), int(h)) for p, h in zip(pparts, probes)], "part int, url_hash long"
    )
    nat = {
        (r["part"], r["url_hash"]): r["maybe_seen"]
        for r in seen.bloom_prefilter_native(cand, bloom).collect()
    }
    py = {
        (r["part"], r["url_hash"]): r["maybe_seen"]
        for r in seen.bloom_prefilter_broadcast(cand, bloom).collect()
    }
    assert nat == py
    # exactness contract: a Bloom may only over-approximate
    assert all(
        nat[(int(p), int(h))] for p, h in zip(pparts[:3000], probes[:3000])
    ), "false negative on a true member"
    seen.release_broadcasts(spark)
    bloom.unpersist()


def test_bloom_meets_design_fp_within_one_part(spark):
    """Every key of one seen part shares `url_hash mod P`. The Bloom
    must still meet its design false-positive rate there, in numpy and
    in the JVM fold + probe: positions taken from the raw hash's low
    bits told apart only 2^20 / 16 keys per part (FP ~0.6 at this load)."""
    n, n_probe, nbits, k = 62_500, 200_000, seen.NBITS_DEFAULT, seen.K_DEFAULT
    design = (1 - math.exp(-k * n / nbits)) ** k  # 7.4e-4
    keys = np.random.default_rng(5).integers(
        -2**63, 2**63 - 1, size=n + n_probe, dtype=np.int64
    ) & ~np.int64(15)
    members, others = keys[:n], keys[n:]
    others = others[~np.isin(others, members)]
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    seen._insert(bits, members, nbits, k)
    assert seen._contains(bits, members, nbits, k).all()
    assert seen._contains(bits, others, nbits, k).mean() <= 2 * design
    if not seen._native_loaded(spark):
        return

    def part0(lo, hi):  # xxhash64(id) with its residue mod 16 cleared
        h = F.xxhash64("id")
        return spark.range(lo, hi).select(
            F.lit(0).alias("part"), (h - F.pmod(h, F.lit(16))).alias("url_hash")
        )

    bloom = seen.fold_bloom(
        part0(0, n), spark.createDataFrame([], BLOOM_SEEN), cycle_id=1
    ).persist()

    def n_maybe(cand):
        return seen.bloom_prefilter_native(cand, bloom).filter("maybe_seen").count()

    assert n_maybe(part0(0, n)) == n
    assert n_maybe(part0(n, n + n_probe)) / n_probe <= 2 * design
    seen.release_broadcasts(spark)
    bloom.unpersist()


@pytest.mark.parametrize("kind", [seen.Bloom(), Cuckoo(nbuckets=1 << 12)],
                         ids=["bloom", "cuckoo"])
def test_seen_filter_native_equals_python_paths(spark, monkeypatch, kind):
    """The full C4 seen_filter returns the same survivor set through
    the native, Python-broadcast, and cogroup probe strategies, for
    both sidecar kinds."""
    rng = np.random.default_rng(11)
    members = rng.integers(-2**63, 2**63 - 1, size=5000, dtype=np.int64)
    new = spark.createDataFrame(
        [(int((h % 4 + 4) % 4), int(h)) for h in members], "part int, url_hash long"
    )
    sidecar = seen.fold(kind, new, spark.createDataFrame([], kind.schema), 1).persist()
    url_seen = spark.createDataFrame(
        [
            (int(h), f"http://h/p{i}", 0, int((h % 4 + 4) % 4))
            for i, h in enumerate(members)
        ],
        "url_hash long, url_norm string, first_cycle long, part int",
    )
    probes = np.concatenate(
        [members[:2000], rng.integers(-2**63, 2**63 - 1, size=2000, dtype=np.int64)]
    )
    cand = spark.createDataFrame(
        [
            (int(h), f"http://h/p{i}" if i < 2000 else f"http://x/q{i}",
             int((h % 4 + 4) % 4))
            for i, h in enumerate(probes)
        ],
        "url_hash long, url_norm string, part int",
    )

    def survivors(broadcast):
        out = seen.seen_filter(cand, url_seen, sidecar, broadcast_bloom=broadcast)
        return sorted((r["url_hash"], r["url_norm"]) for r in out.collect())

    native, cogroup = survivors(True), survivors(False)
    monkeypatch.setenv("CRAWLSPARK_NO_NATIVE", "1")  # the Python broadcast probe
    python_broadcast = survivors(True)
    assert native == python_broadcast == cogroup
    assert len(native) == 2000  # exactly the never-seen half survives
    seen.release_broadcasts(spark)
    sidecar.unpersist()


def test_committed_jar_matches_source(tmp_path):
    """Reproducible-build gate: recompile native/src with the bundled
    Scala compiler and require every .class entry in the committed jar
    to be byte-identical to the fresh build (and vice versa) — the
    committed binary can never drift from the reviewed source."""
    import hashlib
    import os
    import subprocess
    import zipfile
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    jars_dir = os.environ.get("SPARK_JARS_DIR", "/opt/spark-4.1.2-bin-hadoop3/jars")
    if not (Path(jars_dir) / "scala-compiler-2.13.17.jar").exists():
        pytest.skip("bundled Scala compiler not found")

    fresh = tmp_path / "fresh.jar"
    subprocess.run(
        ["bash", str(repo / "tools" / "build_native.sh")],
        check=True, env={**os.environ, "OUT_JAR": str(fresh)},
        capture_output=True,
    )

    def class_digests(p):
        with zipfile.ZipFile(p) as z:
            return {
                n: hashlib.md5(z.read(n)).hexdigest()
                for n in z.namelist()
                if n.endswith(".class")
            }

    committed = class_digests(repo / "crawlspark" / "jars" / "crawlspark-native.jar")
    rebuilt = class_digests(fresh)
    assert committed, "committed jar has no class entries?"
    assert committed == rebuilt


def test_native_fold_matches_python(spark, monkeypatch):
    """C5 fold bit-parity: the JVM UDAF fold (partial-agg, no Python
    stage) must produce byte-identical bitsets to the numpy cogroup
    fold, both from empty and when ORing into an existing sidecar."""
    if not seen._native_loaded(spark):
        pytest.skip("native jar not on classpath")
    rng = np.random.default_rng(11)

    def hashes_df(n, seed_off):
        h = rng.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64)
        p = (h % 4 + 4) % 4
        return spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(p, h)], "part int, url_hash long"
        )

    empty = spark.createDataFrame([], BLOOM_SEEN)
    first, second = hashes_df(5000, 0), hashes_df(3000, 1)

    def bits_of(df):
        return {r["part"]: bytes(r["bits"]) for r in df.collect()}

    nat1 = seen.fold_bloom(first, empty, cycle_id=1)
    # no Python/Arrow stage anywhere in the native fold plan (C5 goal)
    plan = nat1._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapCoGroupsInPandas"):
        assert marker not in plan
    nat1 = nat1.persist()
    monkeypatch.setenv("CRAWLSPARK_NO_NATIVE", "1")
    py1 = seen.fold_bloom(first, empty, cycle_id=1).persist()
    monkeypatch.delenv("CRAWLSPARK_NO_NATIVE")
    assert bits_of(nat1) == bits_of(py1)

    # second cycle: OR into the existing sidecar, cross-checked both ways
    nat2 = seen.fold_bloom(second, py1, cycle_id=2)
    monkeypatch.setenv("CRAWLSPARK_NO_NATIVE", "1")
    py2 = seen.fold_bloom(second, nat1, cycle_id=2)
    monkeypatch.delenv("CRAWLSPARK_NO_NATIVE")
    assert bits_of(nat2) == bits_of(py2)
    nat1.unpersist(); py1.unpersist()
