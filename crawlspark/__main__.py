"""The crawl CLI: build a synthetic graph, run the engine, print one
JSON line of stats per cycle (north_rule: "ships as spark-submit
--py-files").

`python -m crawlspark ...` runs it on a self-managed local session
(`--cores` sizes it). Under spark-submit, package and launch:

    python tools/make_pyfiles_zip.py          # -> dist/crawlspark.zip
    spark-submit --py-files dist/crawlspark.zip \
        --master local[8] tools/submit_crawl.py \
        --warehouse /tmp/crawl-wh --sites 50 --cycles 8

tools/submit_crawl.py only supplies spark-submit's session; the
arguments and the loop are this module's. On a real cluster, only
--master changes; the engine's partitioning (host_salt, url_seen part)
is executor-count-independent.
"""

from __future__ import annotations

import argparse
import json

from .engine import CrawlEngine, EngineConfig
from .session import get_spark
from .synth import GraphConfig


def main(argv: list[str] | None = None, spark=None) -> None:
    """Parse ``argv`` and run the crawl on ``spark`` (default: a local
    session from crawlspark.session sized by --cores)."""
    ap = argparse.ArgumentParser(prog="crawlspark")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--sites", type=int, default=50)
    ap.add_argument("--max-pages", type=int, default=2000)
    ap.add_argument("--batch-size", type=int, default=256)
    ap.add_argument("--cycles", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", type=int, default=None,
                    help="local session cores (ignored under spark-submit,"
                         " where --master sets them)")
    ap.add_argument("--n-salt", type=int, default=16)
    ap.add_argument("--n-seen-parts", type=int, default=16)
    ap.add_argument("--sidecar", default="bloom", choices=["bloom", "cuckoo"],
                    help="URL-seen sidecar: bloom (smallest) or cuckoo "
                         "(supports forget()/reseed() in-place deletes)")
    args = ap.parse_args(argv)

    g = GraphConfig(
        seed=args.seed,
        n_sites=args.sites,
        max_pages=args.max_pages,
        batch_size=args.batch_size,
        max_cycles=args.cycles,
    )
    if spark is None:
        spark = get_spark("crawlspark-submit", cores=args.cores)
    eng = CrawlEngine(
        spark,
        EngineConfig(
            graph=g,
            warehouse=args.warehouse,
            n_salt=args.n_salt,
            n_seen_parts=args.n_seen_parts,
            seen_sidecar=args.sidecar,
        ),
    )
    for st in eng.run():
        print(json.dumps(st))


if __name__ == "__main__":
    main()
