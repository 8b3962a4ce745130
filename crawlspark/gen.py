"""Materialize the driver-side inputs of a crawl run as DataFrames.

Only the *inputs* are materialized (seed list + per-host config); the
page graph itself is never stored — the fetcher regenerates pages from
(GraphConfig, url) on executors (synth.py), which is the hermetic
stand-in for the reference's Thrift-dispatched HTTP workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .schemas import HOST_CONFIG
from .session import local_frame
from .synth import GraphConfig

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)


def seeds_df(spark: SparkSession, cfg: GraphConfig) -> DataFrame:
    rows = [(i, u) for i, u in enumerate(cfg.seeds())]
    return local_frame(spark, rows, SEEDS_SCHEMA)


def host_config_df(spark: SparkSession, cfg: GraphConfig) -> DataFrame:
    rows = [
        (
            cfg.host(i),
            cfg.robots_rules(i),
            cfg.crawl_delay_ms(i),
            cfg.token_capacity(i),
            cfg.refill_per_cycle(i),
            cfg.site_priority(i),
        )
        for i in range(cfg.n_sites)
    ]
    return local_frame(spark, rows, HOST_CONFIG)
