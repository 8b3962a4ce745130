"""Cuckoo-filter URL-seen sidecar format (the `cuckoo` half of the north
rule's "bloom/cuckoo URL-seen"; the other kind is operators/seen.py's
Bloom, and seen.py runs both through one C4/C5 path).

Why a second sidecar: a Bloom bitset is insert-only, so *forgetting* a
URL (re-crawl scheduling, takedown, TTL expiry) forces a rebuild of
the partition's bitset from the exact table. A cuckoo filter stores
16-bit fingerprints in 4-slot buckets and supports O(1) deletion, so
`CrawlEngine.forget()` can drop keys from the sidecar in place at the
same cost as an insert. Space is comparable (2 B/key at ≤95% load vs
~1.25 B/key for the Bloom at k=6) with strictly better false-positive
rates at equal bits.

Layout per `part` row (one row per `pmod(url_hash, P)` partition,
mirroring `bloom_seen`): `bits` = little-endian uint16 array of
`nbuckets × bucket_size` fingerprint slots, 0 = empty. Derivation from
the 64-bit url_hash (all constants fixed so layouts replay):

    fp = (h >> 48) & 0xFFFF, 0 mapped to 1       (16-bit, nonzero)
    i1 = (h >> 16) & (nbuckets - 1)               (nbuckets power of 2)
    i2 = i1 XOR ((fp * 0x5bd1e995) & (nbuckets-1))   (self-inverse)

Invariants the engine's exactness proof needs:
- **No false negatives**: every inserted key's fingerprint sits in
  bucket i1 or i2 (or the row's `overflow` flag is set, which makes
  the probe answer "maybe" for the whole part — the exact anti-join
  then does all the work; correctness never depends on the filter).
- **Duplicates are retained** (insert never dedups): two distinct keys
  that collide on (bucket, fp) hold two slot copies, so deleting one
  key can never erase the other's evidence — the standard condition
  under which cuckoo deletion is sound. The engine folds each url_hash
  at most once (only `novel` rows reach the fold), so copies map 1:1
  to inserted keys.
- **Deterministic layout**: inserts are applied in sorted url_hash
  order with a fixed eviction rule (victim slot = kick# mod
  bucket_size), so the same key set folded the same way yields
  byte-identical rows on any cluster size or partitioning.

The fold applies each part's inserts (or deletes) in one sequential
pass — each eviction depends on the previous one — in the JVM
(`Cuckoo.fold_jvm`, native/src/CuckooFilter.scala) when the native jar
is loaded, else in a cogrouped Python loop over an ``array('H')``
(`Cuckoo.fold_rows`); the two are byte-identical (property-tested).
Unlike the Bloom OR, cuckoo tables do not merge associatively, so the
JVM fold is a sorted single reduce per part, not a partial
aggregation: both paths shuffle every key to its part. Probes are
vectorized numpy (`_contains`) or the JVM probe, shared with the Bloom
kind through operators/seen.py.
"""

from __future__ import annotations

from array import array
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CUCKOO_SEEN

NBUCKETS_DEFAULT = 1 << 15  # x4 slots x2 B = 256 KiB/part, ~124k keys at 95%
BUCKET_SIZE = 4
MAX_KICKS = 500
_FPMIX = 0x5BD1E995


def _slots(hashes: np.ndarray, nbuckets: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (fp, i1, i2) for int64 url_hashes.

    i1 comes from bits 16+ — NOT the low bits — because the engine
    partitions the seen table by pmod(url_hash, n_seen_parts): with a
    power-of-two part count the low bits are CONSTANT within a part,
    and a low-bit i1 could then only reach 1/n_parts of the buckets
    (measured: a 76%-nominal-fill fold overflowed under 64 parts).
    Bits 16..16+log2(nbuckets) are disjoint from the part selector for
    any n_seen_parts ≤ 65536 and from the fingerprint (bits 48..63).
    The JVM twin (native/src/CuckooFilter.scala) mirrors this exactly."""
    h = hashes.view(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.int64)
    fp[fp == 0] = 1
    mask = np.uint64(nbuckets - 1)
    i1 = ((h >> np.uint64(16)) & mask).astype(np.int64)
    i2 = i1 ^ ((fp * _FPMIX) & int(mask))
    return fp, i1, i2


def _insert_all(
    tbl: array, fps: np.ndarray, i1s: np.ndarray, nbuckets: int,
    bucket_size: int, max_kicks: int,
) -> bool:
    """Sequential insert of (fp, i1) pairs into the flat slot array.
    Returns True if any insert overflowed (kick budget exhausted)."""
    bmask = nbuckets - 1
    overflow = False
    for fp, b1 in zip(fps.tolist(), i1s.tolist()):
        b2 = b1 ^ ((fp * _FPMIX) & bmask)
        placed = False
        for b in (b1, b2):
            base = b * bucket_size
            for s in range(bucket_size):
                if tbl[base + s] == 0:
                    tbl[base + s] = fp
                    placed = True
                    break
            if placed:
                break
        if placed:
            continue
        # evict: deterministic victim slot = kick# mod bucket_size
        b, cur = b1, fp
        for kick in range(max_kicks):
            s = kick % bucket_size
            base = b * bucket_size
            cur, tbl[base + s] = tbl[base + s], cur
            b = b ^ ((cur * _FPMIX) & bmask)
            base = b * bucket_size
            for s2 in range(bucket_size):
                if tbl[base + s2] == 0:
                    tbl[base + s2] = cur
                    placed = True
                    break
            if placed:
                break
        if not placed:
            # put the homeless fingerprint back in its victim chain's
            # last bucket? No — mark the part degraded instead: the
            # probe answers all-maybe and the exact check takes over.
            overflow = True
    return overflow


def _delete_all(
    tbl: array, fps: np.ndarray, i1s: np.ndarray, nbuckets: int, bucket_size: int
) -> None:
    """Remove ONE slot copy per requested key (i1 slots first, then
    i2). Only sound for keys that were actually inserted — the engine
    semi-joins forget targets against the exact table first."""
    bmask = nbuckets - 1
    for fp, b1 in zip(fps.tolist(), i1s.tolist()):
        b2 = b1 ^ ((fp * _FPMIX) & bmask)
        for b in (b1, b2):
            base = b * bucket_size
            hit = False
            for s in range(bucket_size):
                if tbl[base + s] == fp:
                    tbl[base + s] = 0
                    hit = True
                    break
            if hit:
                break


def _contains(
    bits: np.ndarray, hashes: np.ndarray, nbuckets: int, bucket_size: int,
    overflow: bool,
) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2."""
    if overflow:
        return np.ones(len(hashes), dtype=bool)
    fp, i1, i2 = _slots(hashes, nbuckets)
    t = bits.reshape(nbuckets, bucket_size)
    f = fp[:, None].astype(np.uint16)
    return (t[i1] == f).any(axis=1) | (t[i2] == f).any(axis=1)


@dataclass(frozen=True)
class Cuckoo:
    """The cuckoo sidecar format (see the module docstring); the shared
    probes, fold skeleton and forget are in operators/seen.py."""

    nbuckets: int = NBUCKETS_DEFAULT
    bucket_size: int = BUCKET_SIZE

    table: ClassVar[str] = "cuckoo_seen"
    schema: ClassVar[T.StructType] = CUCKOO_SEEN
    # numpy view of `bits`; the row columns `contains` takes after it
    dtype: ClassVar[type] = np.uint16
    row_args: ClassVar[tuple[str, ...]] = ("nbuckets", "bucket_size", "overflow")
    contains: ClassVar = staticmethod(_contains)
    # native/src/CuckooFilter.scala: (class, registration method, UDF name)
    jvm_probe: ClassVar[tuple[str, str, str]] = (
        "CuckooFilter", "registerProbe", "crawlspark_cuckoo_probe",
    )
    deletes: ClassVar[bool] = True

    @property
    def row_bytes(self) -> int:
        return 2 * self.nbuckets * self.bucket_size

    def fold_rows(self, part: int, hashes: np.ndarray, row: pd.DataFrame,
                  cycle_id: int, op: str) -> pd.DataFrame:
        """Python fold of one part: load-or-init its table, apply the
        sorted inserts (or deletes), re-emit the row."""
        nb, bs = self.nbuckets, self.bucket_size
        if len(row):
            tbl = array("H")
            tbl.frombytes(row["bits"].iloc[0])
            overflow = bool(row["overflow"].iloc[0])
        else:
            tbl = array("H", bytes(2 * nb * bs))
            overflow = False
        fp, i1, _ = _slots(np.sort(hashes), nb)
        if op == "insert":
            overflow = _insert_all(tbl, fp, i1, nb, bs, MAX_KICKS) or overflow
        else:
            _delete_all(tbl, fp, i1, nb, bs)
        return pd.DataFrame({
            "part": [part], "cycle_id": [cycle_id], "nbuckets": [nb],
            "bucket_size": [bs], "overflow": [overflow], "bits": [tbl.tobytes()],
        })

    def fold_jvm(self, keys: DataFrame, rows: DataFrame, cycle_id: int,
                 op: str) -> DataFrame:
        """JVM fold (native/src/CuckooFilter.scala): the per-part hash
        list is gathered JVM-side — sort_array(collect_list(...)), the
        same shuffle shape as the cogroup, since the layout depends on
        insert order and so cannot partial-aggregate like the Bloom OR —
        and a scalar JVM UDF applies the sorted sequential insert or
        delete. Registration pins the geometry, which is why a sidecar
        keeps one geometry for its life (the engine does)."""
        spark = keys.sparkSession
        spark._jvm.crawlspark.nativejvm.CuckooFilter.register(
            spark._jsparkSession, "crawlspark_cuckoo_fold",
            self.nbuckets, self.bucket_size, MAX_KICKS,
        )
        hs = keys.groupBy("part").agg(
            F.sort_array(F.collect_list("url_hash")).alias("hs")
        )
        if op == "insert":
            st = hs.join(rows.select("part", "overflow", "bits"), "part", "left").select(
                "part",
                F.expr("crawlspark_cuckoo_fold(bits, coalesce(overflow, false), hs)")
                .alias("_st"),
            )
            overflow, bits = F.col("_st._2"), F.col("_st._1")
        else:
            # delete targets are semi-joined against the exact table, so
            # their parts have rows; the inner join drops any that don't
            st = hs.join(rows.select("part", "overflow", "bits"), "part", "inner")
            overflow, bits = F.col("overflow"), F.expr("crawlspark_cuckoo_fold_del(bits, hs)")
        return st.select(
            "part",
            F.lit(cycle_id).cast("long").alias("cycle_id"),
            F.lit(self.nbuckets).cast("long").alias("nbuckets"),
            F.lit(self.bucket_size).cast("int").alias("bucket_size"),
            overflow.alias("overflow"),
            bits.alias("bits"),
        )
