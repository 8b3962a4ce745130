"""URL-seen set: partitioned exact table + per-partition sidecar filter
(operators C4 seen_filter / C5 bloom_build, SURVEY.md §2.1).

The reference uses an exact KV membership set (Redis SADD/SISMEMBER,
one round-trip per URL). At 10^10-URL scale the batch equivalent is:

1. **Sidecar prefilter** (cheap, partition-parallel): candidates are
   probed against their partition's filter row; a miss proves the URL
   was never inserted (no false negatives by construction), so only
   filter *hits* proceed to the expensive exact check.
2. **Exact anti-join** against `url_seen` on (url_hash, url_norm) —
   the url_norm equality guards against 64-bit hash collisions, which
   the reference's exact set would never admit.

Filters are one row per `part = pmod(url_hash, P)`, folded
incrementally each cycle (no driver-side collect of hashes). This
module is the one C4/C5 path for both sidecar kinds — the Bloom bitset
(:class:`Bloom`, `bloom_seen`) and the cuckoo filter
(:class:`~crawlspark.operators.cuckoo.Cuckoo`, `cuckoo_seen`). A kind
describes its format: table, schema, row bytes, a numpy ``contains``
over one row, the JVM probe it registers and the per-part fold bodies;
the probes, the fold skeleton and the forget here are shared. The
probes read the kind from the sidecar frame's schema.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BLOOM_SEEN
from .cuckoo import Cuckoo

NBITS_DEFAULT = 1 << 20  # 128 KiB per partition
K_DEFAULT = 6
_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_S33 = np.uint64(33)


def _bit_positions(hashes: np.ndarray, nbits: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Double hashing: pos_i = (h1 + i*h2) mod nbits, with h1 and h2 | 1
    the low and high 32-bit halves of fmix64(url_hash) (MurmurHash3's
    finalizer). Every key of a part shares `url_hash mod P`, so
    positions taken from the raw hash's low bits would collide across
    the part; the mix spreads every hash bit into both halves.
    native/src/BloomFold.scala and BloomProbe.scala mirror this exactly.
    Returns (byte_idx, mask) with shape (k, n)."""
    m = hashes.view(np.uint64)
    m = (m ^ (m >> _S33)) * _FMIX1
    m = (m ^ (m >> _S33)) * _FMIX2
    m = m ^ (m >> _S33)
    h1 = m & np.uint64(0xFFFFFFFF)
    h2 = (m >> np.uint64(32)) | np.uint64(1)
    idx = np.arange(k, dtype=np.uint64)[:, None]
    pos = (h1[None, :] + idx * h2[None, :]) % np.uint64(nbits)
    return (pos >> np.uint64(3)).astype(np.int64), (
        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    )


def _insert(bits: np.ndarray, hashes: np.ndarray, nbits: int, k: int) -> None:
    byte_idx, mask = _bit_positions(hashes, nbits, k)
    np.bitwise_or.at(bits, byte_idx.ravel(), mask.ravel())


def _contains(bits: np.ndarray, hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    byte_idx, mask = _bit_positions(hashes, nbits, k)
    hit = (bits[byte_idx] & mask) == mask
    return hit.all(axis=0)


@dataclass(frozen=True)
class Bloom:
    """The Bloom sidecar format: an insert-only bitset of `nbits` per
    part, `k` bits per key. Smallest per key, but it cannot delete, so
    forget rebuilds each touched part from its remaining exact rows."""

    nbits: int = NBITS_DEFAULT
    k: int = K_DEFAULT

    table: ClassVar[str] = "bloom_seen"
    schema: ClassVar[T.StructType] = BLOOM_SEEN
    # numpy view of `bits`; the row columns `contains` takes after it
    dtype: ClassVar[type] = np.uint8
    row_args: ClassVar[tuple[str, ...]] = ("nbits", "k")
    contains: ClassVar = staticmethod(_contains)
    # native/src/BloomProbe.scala: (class, registration method, UDF name)
    jvm_probe: ClassVar[tuple[str, str, str]] = (
        "BloomProbe", "register", "crawlspark_bloom_probe",
    )
    deletes: ClassVar[bool] = False

    @property
    def row_bytes(self) -> int:
        return self.nbits // 8

    def fold_rows(self, part: int, hashes: np.ndarray, row: pd.DataFrame,
                  cycle_id: int, op: str) -> pd.DataFrame:
        """numpy fold of one part: OR `hashes` into its bitset."""
        if len(row):
            bits = np.frombuffer(row["bits"].iloc[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(self.nbits // 8, dtype=np.uint8)
        _insert(bits, hashes, self.nbits, self.k)
        return pd.DataFrame({
            "part": [part], "cycle_id": [cycle_id], "nbits": [self.nbits],
            "k": [self.k], "bits": [bits.tobytes()],
        })

    def fold_jvm(self, keys: DataFrame, rows: DataFrame, cycle_id: int,
                 op: str) -> DataFrame:
        """JVM fold (native/src/BloomFold.scala): a UDAF folds each part's
        new hashes into a bitset WITH partial aggregation — map tasks
        emit pre-ORed bitsets, so the shuffle carries ≤ tasks×parts
        fixed-size buffers instead of every novel hash (the
        10^9-discoveries-per-cycle design point). A JVM scalar UDF ORs
        them into the part's previous row."""
        spark = keys.sparkSession
        spark._jvm.crawlspark.nativejvm.BloomFold.register(
            spark._jsparkSession, "crawlspark_bloom_fold", self.nbits, self.k
        )
        new_bits = keys.groupBy("part").agg(
            F.expr("crawlspark_bloom_fold(url_hash)").alias("new_bits")
        )
        return new_bits.join(rows.select("part", "bits"), "part", "left").select(
            "part",
            F.lit(cycle_id).cast("long").alias("cycle_id"),
            F.lit(self.nbits).cast("long").alias("nbits"),
            F.lit(self.k).cast("int").alias("k"),
            F.expr("crawlspark_bloom_fold_or(bits, new_bits)").alias("bits"),
        )


def _kind_of(sidecar: DataFrame) -> type:
    """The sidecar kind of a `bloom_seen` or `cuckoo_seen` frame."""
    return Bloom if "nbits" in sidecar.columns else Cuckoo


def _native_loaded(spark) -> bool:
    if os.environ.get("CRAWLSPARK_NO_NATIVE"):
        return False
    try:
        spark._jvm.java.lang.Class.forName("crawlspark.nativejvm.BloomProbe")
        return True
    except Exception:
        return False


def fold(kind, keys: DataFrame, sidecar: DataFrame, cycle_id: int,
         op: str = "insert") -> DataFrame:
    """C5, the fold skeleton of every kind: apply `keys` (part int,
    url_hash long) to the sidecar rows of the parts they touch —
    inserts, or with op="delete" removals for a kind that `deletes` —
    and keep the untouched parts' rows. The kind's JVM fold runs when
    the native jar is loaded (same bytes, no Python stage —
    property-tested); its per-part Python fold, cogrouped with the
    touched rows, is the universal fallback."""
    touched = keys.select("part").distinct()
    rows = sidecar.join(touched, "part", "left_semi")
    if _native_loaded(keys.sparkSession):
        changed = kind.fold_jvm(keys, rows, cycle_id, op)
    else:
        def body(key: tuple, new_pdf: pd.DataFrame, row: pd.DataFrame) -> pd.DataFrame:
            hashes = new_pdf["url_hash"].to_numpy(np.int64)
            return kind.fold_rows(key[0], hashes, row, cycle_id, op)

        changed = (
            keys.groupBy("part").cogroup(rows.groupBy("part"))
            .applyInPandas(body, schema=kind.schema)
        )
    out = changed.unionByName(sidecar.join(touched, "part", "left_anti"))
    # A JVM fold keeps `keys`' lineage, so a caller composing the output
    # with an overlapping source (e.g. probing the same candidates)
    # would hit Spark's ambiguous-self-join check. Re-aliasing every
    # column mints fresh attribute ids.
    return out.select(*[F.col(c).alias(c) for c in out.columns])


def forget(kind, targets: DataFrame, remaining: DataFrame, sidecar: DataFrame,
           cycle_id: int) -> DataFrame:
    """Drop `targets`' keys (part, url_hash — present in the exact
    table) from the sidecar; `remaining` is the exact table without
    them. A kind that deletes (cuckoo) edits the touched parts in
    place. A Bloom bitset cannot, so each touched part is rebuilt from
    its remaining keys; a touched part left empty has no row (probe:
    False, which is exact — nothing remains in url_seen there)."""
    keys = targets.select("part", "url_hash")
    if kind.deletes:
        return fold(kind, keys, sidecar, cycle_id, op="delete")
    touched = keys.select("part").distinct()
    return fold(
        kind,
        remaining.join(touched, "part", "left_semi").select("part", "url_hash"),
        sidecar.join(touched, "part", "left_anti"),
        cycle_id,
    )


def fold_bloom(
    new_hashes: DataFrame,  # columns: part int, url_hash long
    bloom: DataFrame,  # current bloom_seen table
    cycle_id: int,
    nbits: int = NBITS_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """OR new url_hashes into each partition's Bloom bitset (:func:`fold`
    with the :class:`Bloom` kind)."""
    return fold(Bloom(nbits, k), new_hashes, bloom, cycle_id)


def bloom_prefilter_broadcast(candidates: DataFrame, bloom: DataFrame) -> DataFrame:
    """Adds `maybe_seen` via a *broadcast* probe of either sidecar kind:
    the rows are collected (P × row bytes) and shipped to executors
    once, then a narrow vectorized pandas UDF probes them — no cogroup
    shuffle.

    Scale envelope: right choice while the whole sidecar fits in
    executor memory (≤ ~256 MB ⇒ up to ~10^8–10^9 seen URLs at 10
    bits/key). Beyond that, use :func:`bloom_prefilter` (cogroup,
    partition-local rows — nothing is ever collected)."""
    kind = _kind_of(bloom)
    contains = kind.contains
    tables = {
        int(r["part"]): (
            np.frombuffer(r["bits"], dtype=kind.dtype),
            *(r[c] for c in kind.row_args),
        )
        for r in bloom.collect()
    }
    bc = candidates.sparkSession.sparkContext.broadcast(tables)
    _BROADCASTS.append(bc)

    @F.pandas_udf(T.BooleanType())
    def probe(part: pd.Series, url_hash: pd.Series) -> pd.Series:
        t = bc.value
        pv = part.to_numpy()
        hv = url_hash.to_numpy(np.int64)
        out = np.zeros(len(pv), dtype=bool)
        for p in np.unique(pv):
            e = t.get(int(p))
            if e is not None:
                m = pv == p
                out[m] = contains(e[0], hv[m], *e[1:])
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", probe("part", "url_hash"))


BROADCAST_BLOOM_MAX_BYTES = 256 << 20

# Live sidecar broadcasts from bloom_prefilter_broadcast. A long crawl
# creates one per cycle; without release they accumulate P × row bytes
# per cycle on the driver and every executor. The engine calls
# release_broadcasts() after each cycle's outputs are materialized
# (alongside schedule.release_scratch()).
_BROADCASTS: list = []


def release_broadcasts(spark=None) -> None:
    for bc in _BROADCASTS:
        try:
            bc.destroy()
        except Exception:
            pass
    _BROADCASTS.clear()
    if spark is not None and _native_loaded(spark):
        for kind in (Bloom, Cuckoo):
            getattr(spark._jvm.crawlspark.nativejvm, kind.jvm_probe[0]).release()


def bloom_prefilter_native(candidates: DataFrame, bloom: DataFrame) -> DataFrame | None:
    """Adds `maybe_seen` via the kind's JVM probe (native/src/
    BloomProbe.scala, CuckooFilter.scala): rows collected + broadcast
    once, then probed by a registered JVM UDF — the per-URL hot path
    never crosses into Python/Arrow. Bit-identical to the numpy probe
    (property-tested). Returns None when the native jar isn't on this
    session's classpath (e.g. the driver's own session) — callers fall
    back to the Python broadcast probe. Re-registration each cycle
    destroys the previous cycle's broadcast JVM-side."""
    spark = candidates.sparkSession
    if not _native_loaded(spark):
        return None
    cls, register, name = _kind_of(bloom).jvm_probe
    getattr(getattr(spark._jvm.crawlspark.nativejvm, cls), register)(
        spark._jsparkSession, bloom._jdf, name
    )
    return candidates.withColumn("maybe_seen", F.expr(f"{name}(part, url_hash)"))


def bloom_prefilter(candidates: DataFrame, bloom: DataFrame) -> DataFrame:
    """Adds boolean `maybe_seen`: False ⇒ provably never inserted
    (skips the exact anti-join); True ⇒ must be checked exactly.
    `candidates` must carry `part` and `url_hash`; `bloom` is either
    sidecar kind, probed partition-locally through a cogroup."""
    kind = _kind_of(bloom)
    cand_cols = candidates.schema.fieldNames()
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def probe(key: tuple, cand_pdf: pd.DataFrame, row: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=[*cand_cols, "maybe_seen"])
        if len(row) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        else:
            maybe = kind.contains(
                np.frombuffer(row["bits"].iloc[0], dtype=kind.dtype),
                cand_pdf["url_hash"].to_numpy(np.int64),
                *(row[c].iloc[0].item() for c in kind.row_args),
            )
        return cand_pdf.assign(maybe_seen=maybe)

    return (
        candidates.groupBy("part")
        .cogroup(bloom.groupBy("part"))
        .applyInPandas(probe, schema=out_schema)
    )


def seen_filter(
    candidates: DataFrame, url_seen: DataFrame, bloom: DataFrame,
    broadcast_bloom: bool | None = None,
    seen_mirror: str | None = None,
) -> DataFrame:
    """C4: return only never-seen candidates. `bloom` is either sidecar
    kind. Exactness: the filter can only send extra rows *to* the
    anti-join (false positives, overflowed cuckoo parts), never around
    it.

    Probe strategy (auto): broadcast the rows while the sidecar is
    small (narrow probe, no shuffle); fall back to the cogrouped
    partition-local probe at sidecar sizes that must stay distributed.
    Callers should persist `candidates` — the definitely-new/maybe
    branches both consume the probe stage."""
    if broadcast_bloom is None:
        kind = _kind_of(bloom)
        first = bloom.select(*(f.name for f in fields(kind))).limit(1).collect()
        broadcast_bloom = (
            not first
            or bloom.count() * kind(*first[0]).row_bytes <= BROADCAST_BLOOM_MAX_BYTES
        )
    if broadcast_bloom:
        probed = bloom_prefilter_native(candidates, bloom)
        if probed is None:
            probed = bloom_prefilter_broadcast(candidates, bloom)
    else:
        probed = bloom_prefilter(candidates, bloom)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    if seen_mirror is not None:
        # bucketed mirror: only the (small) maybe side shuffles into
        # the bucket layout; the seen table is scan-local. url_norm
        # rides along as a join condition (collision guard) — bucket
        # clustering on url_hash still satisfies the distribution.
        from . import bucketing

        checked = bucketing.colocated_anti_join(
            maybe, candidates.sparkSession, seen_mirror,
            ["url_hash", "url_norm"],
        )
    else:
        checked = maybe.join(
            url_seen.select("url_hash", "url_norm"),
            ["url_hash", "url_norm"], "left_anti",
        )
    return definitely_new.unionByName(checked)
