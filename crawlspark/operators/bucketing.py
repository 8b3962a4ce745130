"""Bucketed co-located joins (SURVEY.md §4 'co-locate joins via
bucketing').

The manifest catalog partitions `url_seen` by `part = pmod(url_hash,P)`
(directory partitioning → partition pruning). Bucketing is the
complementary physical layout: rows hash-clustered *within* files by
join key, letting Spark's scan report a hash-partitioned output so the
C4 anti-join and C15 merge run WITHOUT shuffling the table side —
the moral equivalent of Iceberg's `bucket(N, url_hash)` transform.

Spark only honors bucket metadata through the session catalog
(`saveAsTable`), so these helpers manage bucketed *mirror* tables of
hot engine tables. At 10^10 URLs the url_seen mirror is the big win:
every cycle's candidate anti-join shuffles only the (small) candidate
side, never the 10^10-row seen set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, sort: bool = True
) -> None:
    """Materialize df as a bucketed managed table (overwrite)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale location from a previous process (in-memory catalog forgot
    # the table) blocks CREATE — clear it
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def colocated_anti_join(
    candidates: DataFrame, spark: SparkSession, seen_table: str, keys: list[str]
) -> DataFrame:
    """C4's exact check against a bucketed seen mirror: Spark shuffles
    only `candidates` into the table's bucket layout; the seen side is
    scan-local (no Exchange over it — asserted in tests/test_plans.py)."""
    seen = spark.table(seen_table)
    return candidates.join(seen.select(*keys), keys, "left_anti")


def shard_plan(
    df: DataFrame, id_col: str, text_col: str, target_bytes: int
) -> DataFrame:
    """R26 sharded export plan: assign every row a deterministic shard
    id sized so each shard carries ~``target_bytes`` of text, and
    return the per-shard manifest (shard_id, n_docs, n_bytes) a
    dataloader consumes.

    Real training pipelines read fixed-size shards (a few hundred MB),
    not one giant or a million tiny files. Shard count = ceil(total
    bytes / target); assignment = md5-60(id) mod n_shards — DETERMINISTIC
    (same rows land in the same shard under any partitioning, retry, or
    cluster size, and the DuckDB oracle replays the manifest exactly),
    unlike repartition()'s round-robin. Two scans (one tiny agg for the
    total, one for the write/manifest) — at 100 TB the first is a
    column-pruned sum of lengths, and the shard column feeds
    partitionBy/repartition so each shard writes as one file.
    """
    from ..portable import md5hash60

    total = df.agg(
        F.sum(F.octet_length(F.col(text_col))).alias("b")
    ).collect()[0]["b"] or 0
    n_shards = max(1, -(-int(total) // target_bytes))
    return (
        df.withColumn(
            "shard_id", F.pmod(md5hash60(id_col), F.lit(n_shards)).cast("int")
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.octet_length(F.col(text_col))).cast("long").alias("n_bytes"),
        )
    )


def write_sharded(
    df: DataFrame, path: str, id_col: str, text_col: str, target_bytes: int
) -> int:
    """R26: materialize the sharded export — one parquet directory per
    shard via partitionBy(shard_id), deterministic membership per
    :func:`shard_plan`. Returns the shard count."""
    from ..portable import md5hash60

    total = df.agg(
        F.sum(F.octet_length(F.col(text_col))).alias("b")
    ).collect()[0]["b"] or 0
    n_shards = max(1, -(-int(total) // target_bytes))
    out = df.withColumn(
        "shard_id", F.pmod(md5hash60(id_col), F.lit(n_shards)).cast("int")
    )
    (
        out.repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    return n_shards


def warc_records(
    df: DataFrame,
    id_col: str,
    text_col: str,
    uri_col,
    date_iso: str = "2026-01-01T00:00:00Z",
) -> DataFrame:
    """R29 WARC-record serialization: render each document as a
    WARC/1.0 ``response`` record (the interchange format the crawl
    ecosystem — Common Crawl, wget, pywb — reads), so an exported
    shard is a valid .warc payload, not a bespoke parquet-only layout.

    Every field is deterministic: WARC-Record-ID is the md5 of the
    target URI formatted as urn:uuid (stable across engines/retries —
    never a random uuid4), Content-Length is the payload's octet
    length, and the date is caller-pinned (documents carry no fetch
    time here; production passes the crawl timestamp column through).
    Pure narrow column concat — zero shuffles, linear in corpus bytes;
    compose with :func:`write_sharded` for fixed-size .warc shards.
    """
    uri = uri_col if not isinstance(uri_col, str) else F.col(uri_col)
    h = F.md5(uri)
    rec_id = F.concat(
        F.lit("<urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12), F.lit(">"),
    )
    payload = F.col(text_col)
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        F.lit(f"\r\nWARC-Date: {date_iso}\r\nWARC-Record-ID: "),
        rec_id,
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )
    return df.select(
        F.col(id_col),
        record.alias("warc"),
        F.octet_length(record).cast("long").alias("warc_bytes"),
    )


def wds_shards(
    df: DataFrame, id_col: str, text_col: str, n_shards: int
) -> DataFrame:
    """R31 WebDataset-style tar shard export: pack each shard's samples
    into ONE deterministic USTAR tar archive — the `{key}.ext`-members
    layout that WebDataset/tarp dataloaders stream sequentially (the
    standard large-scale training input format alongside parquet).

    Shard membership is md5-60(id) mod n_shards (deterministic under
    any partitioning/retry — same discipline as :func:`shard_plan`);
    within a shard, members are sorted by id, each sample one member
    ``{id}.txt`` holding the UTF-8 text. Every header field is pinned
    (mtime 0, uid/gid 0, mode 0644, USTAR magic, archive padded to the
    10240-byte record size), so the tar BYTES — not just the contents
    — are reproducible, and the driver's oracle twin hand-rolls the
    same USTAR layout without the tarfile library (a format-level
    differential: header packing, checksum arithmetic and padding are
    all cross-checked, not shared).

    Scale shape (100 TB corpus): the grouped build is one
    ``applyInPandas`` per shard — per-task memory ∝ ONE shard (the
    caller sizes n_shards so a shard is a few hundred MB, the same
    knob as :func:`shard_plan`), shards build in parallel across
    executors, and the single shuffle is the groupBy(shard_id). A
    production writer streams each tar straight to object storage;
    here the archive returns as a binary column so the round-trip
    stays a dataflow assertion.

    Output: (shard_id, n_samples, tar_bytes, tar_sha256, tar).
    """
    import hashlib
    import io
    import tarfile

    import pandas as pd

    from ..portable import md5hash60

    out_schema = (
        "shard_id int, n_samples long, tar_bytes long, "
        "tar_sha256 string, tar binary"
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for _, row in pdf.iterrows():
                payload = (row["text"] or "").encode("utf-8")
                ti = tarfile.TarInfo(name=f"{row['id']}.txt")
                ti.size = len(payload)
                ti.mtime = 0
                ti.uid = 0
                ti.gid = 0
                ti.mode = 0o644
                ti.uname = ""
                ti.gname = ""
                tf.addfile(ti, io.BytesIO(payload))
        raw = buf.getvalue()
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_samples": [len(pdf)],
                "tar_bytes": [len(raw)],
                "tar_sha256": [hashlib.sha256(raw).hexdigest()],
                "tar": [raw],
            }
        )

    base = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text"),
        F.pmod(md5hash60(id_col), F.lit(n_shards)).cast("int").alias("shard_id"),
    )
    return base.groupBy("shard_id").applyInPandas(_build, out_schema)


def wds_parse(df: DataFrame, tar_col: str = "tar") -> DataFrame:
    """R31 consumer side: stream each tar archive back into its
    samples — (shard_id, id, text) — exactly what a WebDataset
    dataloader does. ``mapInPandas`` so archives unpack Arrow-batched
    and the output explodes without materializing all shards in one
    task."""
    import io
    import tarfile

    import pandas as pd

    def _parse(it):
        for pdf in it:
            for _, row in pdf.iterrows():
                names, texts = [], []
                with tarfile.open(fileobj=io.BytesIO(row[tar_col])) as tf:
                    for m in tf:
                        fh = tf.extractfile(m)
                        names.append(m.name.removesuffix(".txt"))
                        texts.append(
                            (fh.read() if fh and m.size else b"").decode("utf-8")
                        )
                yield pd.DataFrame(
                    {
                        "shard_id": [int(row["shard_id"])] * len(names),
                        "id": names,
                        "text": texts,
                    }
                )

    return df.select("shard_id", tar_col).mapInPandas(
        _parse, "shard_id int, id string, text string"
    )


def parse_warc_records(df: DataFrame, warc_col: str = "warc") -> DataFrame:
    """R30 WARC ingestion — the consumer side of :func:`warc_records`
    (what a Common Crawl reader does): recover (uri, text) from a
    WARC/1.0 response record. The payload slice is CONTENT-LENGTH
    DRIVEN over the UTF-8 bytes (encode → binary substring → decode),
    never a split on blank lines — so a payload containing
    ``\\r\\n\\r\\n`` parses correctly and multi-byte text slices on
    byte, not char, boundaries. Pure JVM column math, zero shuffles."""
    c = F.col(warc_col)
    return (
        df.withColumn(
            "uri", F.regexp_extract(c, r"WARC-Target-URI: ([^\r\n]+)", 1)
        )
        .withColumn(
            "_len",
            F.regexp_extract(c, r"Content-Length: ([0-9]+)", 1).cast("int"),
        )
        .withColumn(
            "_start",
            F.octet_length(F.substring_index(c, "\r\n\r\n", 1)) + F.lit(5),
        )
        .withColumn(
            "text",
            F.expr(
                f"decode(substring(encode({warc_col}, 'UTF-8'), _start, _len),"
                " 'UTF-8')"
            ),
        )
        .drop("_len", "_start")
    )


def clustered_write(
    df: DataFrame, path: str, cluster_col: str, n_files: int
) -> None:
    """R32 sort-clustered layout: range-partition by `cluster_col`
    into `n_files` output files and sort within each — the Z-order-lite
    / Iceberg `sort_order` analogue. Parquet footers then carry TIGHT,
    non-overlapping min/max stats on the cluster column, so a
    predicate on it prunes whole files/row-groups at scan time
    (PushedFilters + stats skipping) instead of decoding them. At
    100 TB this is the difference between a point-lookup touching one
    file and touching every file; the layout costs one range shuffle
    at write time and nothing at read time.

    tests/test_layout.py proves both halves: per-file min/max ranges
    do not overlap, and a selective predicate intersects exactly one
    file (vs all files under the unclustered layout)."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )
