"""spark-submit driver script: `spark-submit --py-files
dist/crawlspark.zip tools/submit_crawl.py --warehouse ...` (arguments:
`python -m crawlspark --help`).

spark-submit provides the SparkSession config via --master/--conf, so
this driver builds the session from the active context rather than
crawlspark.session (which is for self-managed local runs), then hands
it to the one crawl CLI, crawlspark.__main__."""

from __future__ import annotations

from pyspark.sql import SparkSession


def main() -> None:
    spark = (
        SparkSession.builder.appName("crawlspark-submit")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from crawlspark.__main__ import main as crawl

    crawl(spark=spark)


if __name__ == "__main__":
    main()
