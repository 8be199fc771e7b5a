"""SparkSession construction with the engine's tuned defaults.

Tuning rationale (SURVEY.md §4):
- AQE on: runtime shuffle coalescing + skew-join splitting at scale;
- ``arrow.maxRecordsPerBatch`` small (128): html rows are ~10-500 KB,
  so default 10k-row Arrow batches would balloon executor memory —
  the reference's analogue is one page at a time;
- shuffle partitions default 32 in local mode (overridden to
  executors*cores*2-3 on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "langscrape_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 128,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Catalyst's runtime bloom-filter injection: builds a bloom from
        # the selective side of a shuffle join and pushes it to the other
        # side's scan. It fires for inner and left-semi joins (e.g.
        # sweep_revisit's join of the due urls against the seen set),
        # but never for left-anti, so it does NOT pre-filter the
        # frontier's seen-set anti-join; that screen is the cuckoo
        # prefilter in scheduler/frontier.py.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Diagnostics escape hatch: a crashed python worker normally
        # reports only "exited unexpectedly"; this surfaces the worker's
        # Python traceback (costs a signal handler per worker, so gated).
        .config(
            "spark.python.worker.faulthandler.enabled",
            os.environ.get("SPARK_GRAFT_FAULTHANDLER", "false"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
