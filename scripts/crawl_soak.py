#!/usr/bin/env python3
"""Long-crawl soak: many politeness rounds to frontier exhaustion,
with the cuckoo prefilter + compaction + GC active — the evidence that no per-round
cost term scales with |seen| and that the catalog footprint stays
bounded over a weeks-long crawl.

Run once per membership strategy and compare the schedule digests:

    python scripts/crawl_soak.py shuffle
    python scripts/crawl_soak.py bucket_probe

A second argument ``dedup`` adds the per-round incremental dedup leg
(``python scripts/crawl_soak.py shuffle dedup``).

Prints ONE JSON line with the strategy, total urls scheduled, round
count, an md5 digest over the ordered (round, seq, url) schedule (two
strategies are admission-identical iff digests match), per-round wall
times, per-round membership phase times (they include the link
harvest, which the membership job materializes), and the final catalog
footprint (dirs + bytes per table). Same corpus shape as the round-2
34-round soak: 40k pages, 200 seeds, depth 12, cuckoo prefilter forced
on from round 0, seen compaction every 4 rounds, frontier GC keep=4 (keep is
run_crawl's default write path).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = 40_000
N_SEEDS = 200
BATCH = 1_200
MAX_DEPTH = 12
MAX_ROUNDS = 60


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    membership = sys.argv[1] if len(sys.argv) > 1 else "shuffle"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from langscrape_spark import synth
    from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
    from langscrape_spark.session import get_spark
    from langscrape_spark.sources.catalog import Catalog

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix=f"crawl_soak_{membership}_")
    try:
        pages_path = os.path.join(tmp, "pages")
        synth.build_pages_df(spark, N_PAGES, partitions=64).write.parquet(
            pages_path
        )
        pages = spark.read.parquet(pages_path)
        seeds = synth.seeds_df(spark, N_PAGES, n_seeds=N_SEEDS)
        robots = synth.robots_df(spark).withColumn(
            "crawl_delay", F.col("crawl_delay") / F.lit(500.0)
        )
        host_rank = synth.host_rank_df(spark)
        # warm python workers (one task per core slot) before the clock
        pages.repartition(
            spark.sparkContext.defaultParallelism
        ).select(F.md5("url")).groupBy().count().collect()

        catalog = Catalog(spark, os.path.join(tmp, "catalog"))
        cfg = CrawlConfig(
            batch_size=BATCH,
            max_depth=MAX_DEPTH,
            max_rounds=MAX_ROUNDS,
            prefilter_min_seen=0,  # forced on from round 0
            compact_every=4,
            membership=membership,
            # the soak's whole point is to exercise the PROBE under
            # maintenance churn: without this, the 200k default floor
            # makes a 40k-page soak silently run the shuffle anti-join
            # on both legs and the md5 comparison is vacuous
            probe_min_seen=0,
        )
        t0 = time.perf_counter()
        state = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
        wall = round(time.perf_counter() - t0, 2)

        # Optional leg: per-round incremental dedup over the
        # crawl's own fetched batches (argv[2] == "dedup") — the q210
        # composition at soak scale. Each round's scheduled urls join
        # back to the pages table for text and flow through
        # minhash_ingest_round against ONE accumulated state; the
        # union of the rounds' pairs must equal the batch LSH
        # derivation over the full fetched corpus, and per-round dedup
        # time is reported next to the crawl phases (flatness = the
        # probe never rescans the accumulated state).
        dedup_report = None
        if len(sys.argv) > 2 and sys.argv[2] == "dedup":
            from langscrape_spark.operators.dedup import (
                grouped_bucket_pairs,
                minhash_band_buckets,
            )
            from langscrape_spark.operators.incremental import (
                minhash_ingest_round,
            )

            docs = pages.select(
                F.regexp_extract("url", "article-(\\d+)", 1)
                .cast("long").alias("doc_id"),
                "url", "text",
            )
            sched_df = state.schedule.select("round", "url").cache()
            rounds_list = sorted(
                r["round"]
                for r in sched_df.select("round").distinct().collect()
            )
            mh_state = os.path.join(tmp, "mh_state")
            dedup_times, got = [], set()
            for rno in rounds_list:
                batch = (
                    sched_df.where(F.col("round") == rno)
                    .join(docs, "url")
                    .select("doc_id", "text")
                )
                td = time.perf_counter()
                pairs = minhash_ingest_round(
                    batch, mh_state, "text", "doc_id",
                    num_hashes=16, bands=4, k=3, n_parts=32,
                )
                got |= {
                    (p["id_a"], p["id_b"]) for p in pairs.collect()
                }
                dedup_times.append(round(time.perf_counter() - td, 2))
            fetched_docs = sched_df.join(docs, "url").select(
                "doc_id", "text"
            )
            want = {
                (p["id_a"], p["id_b"])
                for p in grouped_bucket_pairs(
                    minhash_band_buckets(
                        fetched_docs, "text", "doc_id", 16, 4, 3
                    ),
                    "bigint",
                    None,
                ).collect()
            }
            d = dedup_times[1:]
            dedup_report = {
                "union_equals_batch": got == want,
                "pairs": len(got),
                "round_secs": dedup_times,
                "flat_ratio": round(
                    (sum(d[-3:]) / 3) / (sum(d[:3]) / 3), 3
                ) if len(d) >= 6 else None,
            }
            sched_df.unpersist()

        sched = state.schedule.orderBy("round", "seq").select(
            "round", "seq", "url"
        ).collect()
        digest = hashlib.md5(
            "\n".join(f"{r['round']}\t{r['seq']}\t{r['url']}" for r in sched)
            .encode()
        ).hexdigest()
        footprint = {}
        for t in ("seen", "frontier", "schedule", "cuckoo_parts", "metrics"):
            p = os.path.join(tmp, "catalog", t)
            if os.path.isdir(p):
                footprint[t] = {
                    "dirs": len(
                        [d for d in os.listdir(p) if os.path.isdir(os.path.join(p, d))]
                    ),
                    "mb": round(_du(p) / 1e6, 1),
                }
        print(
            json.dumps(
                {
                    "membership": membership,
                    "n_pages": N_PAGES,
                    "rounds": len(state.metrics),
                    "urls_scheduled": len(sched),
                    "schedule_md5": digest,
                    "wall_sec": wall,
                    "round_wall": [m["wall_sec"] for m in state.metrics],
                    "membership_phase": [
                        m.get("phases", {}).get("membership")
                        for m in state.metrics
                    ],
                    "catalog": footprint,
                    **({"dedup": dedup_report} if dedup_report else {}),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
