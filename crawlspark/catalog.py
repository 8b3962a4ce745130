"""Snapshot-manifest table catalog — the Iceberg-shaped fallback.

The Iceberg runtime jar is not on this image (SURVEY.md §1.2), so the
engine gets the three Iceberg semantics it relies on from a tiny
manifest layer over partitioned Parquet:

- **snapshot isolation**: a commit publishes a JSON manifest listing,
  per table, the exact set of data directories that make up that
  snapshot; readers pin one manifest.
- **atomic multi-table commit**: one crawl micro-cycle appends to
  several tables; all become visible together via a single
  `os.replace` of the `_CURRENT` pointer (atomic on POSIX).
- **time travel / exact resume**: every manifest records its
  `cycle_id`; resume re-reads the last committed manifest, so a crash
  mid-cycle leaves only orphan data dirs that no manifest references.

A table with no data dirs in the pinned snapshot reads as an empty
JVM LocalRelation (`session.local_frame`): collecting it runs no Spark
job, and the planner drops an anti or outer join against it, so the
cycle's joins against still-empty tables (resolved, evictions,
retry_state on a young crawl) cost no shuffle.

Layout::

    warehouse/
      data/<table>/<snap>-<n>/part-*.parquet   one dir per staged write
      snapshots/s000042.json                   manifest (id, cycle_id, tables)
      _CURRENT                                 name of live manifest

On a cluster this maps 1:1 onto Iceberg: append→`writeTo(t).append()`,
overwrite→`overwrite()`, commit→Iceberg's own snapshot; `Catalog` is
the seam where the real connector plugs in.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .schemas import TABLE_SCHEMAS
from .session import local_frame


class Catalog:
    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        (self.root / "snapshots").mkdir(parents=True, exist_ok=True)

    # -- snapshot plumbing -------------------------------------------------

    def _current_name(self) -> str | None:
        p = self.root / "_CURRENT"
        if not p.exists():
            return None
        return p.read_text().strip() or None

    def current_snapshot(self) -> dict | None:
        name = self._current_name()
        if name is None:
            return None
        return json.loads((self.root / "snapshots" / name).read_text())

    def snapshot(self, name: str) -> dict:
        return json.loads((self.root / "snapshots" / name).read_text())

    def snapshots(self) -> list[dict]:
        """All committed snapshots, oldest first — the time-travel
        listing (Iceberg `.snapshots` metadata-table analogue)."""
        return [
            json.loads(p.read_text())
            for p in sorted((self.root / "snapshots").glob("s*.json"))
        ]

    def snapshot_for_cycle(self, cycle_id: int) -> dict | None:
        """Latest snapshot committed for a cycle — `FOR VERSION AS OF`
        keyed by the crawl's own lineage counter."""
        hit = None
        for s in self.snapshots():
            if s.get("cycle_id") == cycle_id:
                hit = s
        return hit

    # -- reads -------------------------------------------------------------

    def read(self, table: str, snap: dict | None = None) -> DataFrame:
        """Read a table pinned to a snapshot (default: current). A table
        with no dirs is an empty LocalRelation, which Catalyst's
        empty-relation propagation prunes out of joins at planning."""
        snap = snap if snap is not None else self.current_snapshot()
        dirs = (snap or {}).get("tables", {}).get(table, [])
        if not dirs:
            return local_frame(self.spark, [], TABLE_SCHEMAS[table])
        # Each staged dir is its own partitioned-parquet root; union them
        # (manifest-listed dirs ≈ Iceberg manifests listing data files).
        parts = [
            self.spark.read.schema(TABLE_SCHEMAS[table]).parquet(str(self.root / d))
            for d in dirs
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # -- writes ------------------------------------------------------------

    def begin(self) -> "Transaction":
        return Transaction(self)

    # -- maintenance --------------------------------------------------------

    def compact(self, table: str, partition_by: list[str] | None = None) -> dict:
        """Rewrite a table's N appended directories into one (Iceberg's
        rewrite_data_files analogue). Long crawls append one dir per
        cycle; scan-side the union is logically fine but file listing
        and tiny files accumulate — compaction caps both. Atomic: the
        rewrite lands in a new dir, then a snapshot commit swaps the
        manifest; readers pinned to older snapshots are unaffected."""
        snap = self.current_snapshot()
        dirs = (snap or {}).get("tables", {}).get(table, [])
        if len(dirs) <= 1:
            return snap or {}
        df = self.read(table, snap)
        txn = self.begin()
        txn.overwrite(table, df, partition_by=partition_by)
        return txn.commit(
            cycle_id=(snap or {}).get("cycle_id", 0),
            meta={**(snap or {}).get("meta", {}), f"compacted_{table}": len(dirs)},
        )


    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg `expire_snapshots` analogue — the disk-growth bound
        a long crawl needs: drop every manifest older than the newest
        `keep_last`, then garbage-collect each data directory that no
        retained manifest references (which also sweeps orphan dirs
        left by crashed commits — they were never referenced at all).

        Safe by construction: retained manifests and `_CURRENT` are
        never touched, and a crash mid-expiry only leaves some garbage
        for the next run — never a broken snapshot. Readers pinned to
        retained snapshots are unaffected; time travel shrinks to the
        retained window."""
        import shutil

        keep_last = max(1, keep_last)
        snaps = self.snapshots()
        retained = snaps[-keep_last:] if len(snaps) > keep_last else snaps
        retained_names = {f"s{s['id']:06d}.json" for s in retained}
        live: set[str] = set()
        for s in retained:
            for dirs in (s.get("tables") or {}).values():
                live.update(dirs)
        removed_dirs = freed = 0
        data = self.root / "data"
        for tdir in sorted(data.iterdir()) if data.exists() else []:
            if not tdir.is_dir():
                continue
            for d in sorted(tdir.iterdir()):
                if f"data/{tdir.name}/{d.name}" not in live:
                    freed += sum(
                        f.stat().st_size for f in d.rglob("*") if f.is_file()
                    )
                    shutil.rmtree(d, ignore_errors=True)
                    removed_dirs += 1
        removed_snaps = 0
        for p in sorted((self.root / "snapshots").glob("s*.json")):
            if p.name not in retained_names:
                p.unlink()
                removed_snaps += 1
        return {
            "removed_snapshots": removed_snaps,
            "removed_dirs": removed_dirs,
            "freed_bytes": freed,
            "retained": len(retained),
        }


class Transaction:
    """Stages appends/overwrites; nothing is visible until commit()."""

    def __init__(self, cat: Catalog):
        self.cat = cat
        parent = cat.current_snapshot()
        self.parent_id = parent["id"] if parent else 0
        self.snap_id = self.parent_id + 1
        self.tables: dict[str, list[str]] = {
            t: list(ds) for t, ds in ((parent or {}).get("tables") or {}).items()
        }
        self._n = 0

    def _stage(self, table: str, df: DataFrame, partition_by: list[str] | None) -> str:
        self._n += 1
        rel = f"data/{table}/s{self.snap_id:06d}-{self._n:03d}"
        w = df.write.mode("error")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(self.cat.root / rel))
        return rel

    def append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        rel = self._stage(table, df, partition_by)
        self.tables.setdefault(table, []).append(rel)

    def overwrite(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        rel = self._stage(table, df, partition_by)
        self.tables[table] = [rel]

    def truncate(self, table: str) -> None:
        """Drop every data dir from the snapshot (reads become empty);
        no file I/O — purely a manifest operation."""
        self.tables[table] = []

    def stage_all(self, writes: list[tuple[str, str, DataFrame, list[str] | None]]) -> None:
        """Stage many independent writes concurrently — Spark schedules
        jobs from multiple driver threads in parallel, overlapping the
        per-job planning/scheduling latency that dominates small
        micro-cycle commits. `writes` rows: (mode, table, df,
        partition_by) with mode append|overwrite. Manifest bookkeeping
        happens on the calling thread afterwards (ordered, determin.)."""
        from concurrent.futures import ThreadPoolExecutor

        staged: dict[int, str] = {}
        # pre-assign directory numbers on this thread (deterministic)
        plans = []
        for idx, (mode, table, df, pby) in enumerate(writes):
            self._n += 1
            rel = f"data/{table}/s{self.snap_id:06d}-{self._n:03d}"
            plans.append((idx, mode, table, df, pby, rel))

        def write_one(p):
            idx, _mode, _table, df, pby, rel = p
            w = df.write.mode("error")
            if pby:
                w = w.partitionBy(*pby)
            w.parquet(str(self.cat.root / rel))
            staged[idx] = rel

        with ThreadPoolExecutor(max_workers=min(16, len(plans) or 1)) as ex:
            list(ex.map(write_one, plans))
        for idx, mode, table, _df, _pby, rel in plans:
            if mode == "append":
                self.tables.setdefault(table, []).append(rel)
            else:
                self.tables[table] = [rel]

    def commit(self, cycle_id: int, meta: dict | None = None) -> dict:
        snap = {
            "id": self.snap_id,
            "parent": self.parent_id,
            "cycle_id": cycle_id,
            "tables": self.tables,
            "meta": meta or {},
        }
        name = f"s{self.snap_id:06d}.json"
        (self.cat.root / "snapshots" / name).write_text(json.dumps(snap, indent=1))
        tmp = self.cat.root / "_CURRENT.tmp"
        tmp.write_text(name)
        os.replace(tmp, self.cat.root / "_CURRENT")  # the atomic publish
        return snap
