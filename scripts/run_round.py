#!/usr/bin/env python3
"""Driver program for one (or a few) crawl rounds under spark-submit.

The cluster entry point the north rule prescribes: each spark-submit
invocation resumes from the catalog's committed round marker, runs
``--rounds`` more politeness rounds, checkpoints, and exits — so a
weeks-long crawl is a sequence of idempotent submissions, each
restartable after any crash (see sources/catalog.py).

Dimension tables (robots, host_rank) are read from the catalog if
present (versioned like every other table), else seeded empty —
unknown hosts default to allowed / rank 0 per policy.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Under spark-submit the --py-files zip provides the package; for a
# bare `python scripts/run_round.py` add the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from langscrape_spark.scheduler.frontier import (
    CrawlConfig,
    run_crawl,
    sweep_revisit,
)
from langscrape_spark.sources.catalog import Catalog


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--seeds", help="seed list (parquet: url, depth); only needed on the first submission")
    ap.add_argument(
        "--revisit",
        help="revisit-due list (parquet: url) — swept into the committed "
        "frontier BEFORE this submission's rounds (see "
        "frontier.sweep_revisit; produce the list with "
        "sources/sitemap.py::revisit_schedule)",
    )
    ap.add_argument(
        "--revisit-cycle-id",
        help="REQUIRED with --revisit: identifier for this revisit cycle "
        "(use the schedule's as_of date). A resubmission of a crashed "
        "invocation reuses the same id and the sweep no-ops; the next "
        "cycle's new id re-sweeps even an identical url list",
    )
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--batch-size", type=int, default=1_000_000)
    ap.add_argument("--max-depth", type=int, default=4)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("langscrape_spark_round").getOrCreate()
    catalog = Catalog(spark, args.catalog)
    pages = spark.read.parquet(args.pages)

    committed = catalog.committed_round()
    if committed is None:
        if not args.seeds:
            raise SystemExit("first submission needs --seeds")
        seeds = spark.read.parquet(args.seeds)
    else:
        seeds = spark.createDataFrame([], "url string, depth int")

    robots = catalog.read("robots")
    if robots is None:
        robots = spark.createDataFrame(
            [],
            "host string, disallow_prefixes array<string>, "
            "crawl_delay double, allowed boolean",
        )
    host_rank = catalog.read("host_rank")
    if host_rank is None:
        host_rank = spark.createDataFrame([], "host string, rank double")

    if args.revisit:
        if committed is None:
            raise SystemExit("--revisit needs a committed crawl to sweep")
        if not args.revisit_cycle_id:
            raise SystemExit("--revisit requires --revisit-cycle-id")
        n = sweep_revisit(
            spark, catalog, spark.read.parquet(args.revisit),
            robots, host_rank, cycle_id=args.revisit_cycle_id,
        )
        print(json.dumps({"revisit_injected": n}))

    cfg = CrawlConfig(
        batch_size=args.batch_size,
        max_depth=args.max_depth,
        max_rounds=(committed or 0) + args.rounds,
        seen_partitions=spark.sparkContext.defaultParallelism * 2,
    )
    state = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
    for m in state.metrics:
        print(json.dumps(m))
    spark.stop()


if __name__ == "__main__":
    main()
