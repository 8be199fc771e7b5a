"""The distributed URL-frontier scheduler (north-rule core).

Implements ``policy.py`` as pure DataFrame ops in a driver round loop
("spark-submit rounds"), checkpointing frontier + seen-set through
:class:`~langscrape_spark.sources.catalog.Catalog` every round so a
killed run resumes exactly (SURVEY.md §7 Phase 2/3).

Scale design (the parts that must survive 1000 executors / 10^10 urls):

- **Seen-set membership**: candidates and the seen table are both
  explicitly repartitioned with ``repartition(n, url)`` before a
  ``left_anti`` join (north rule: "explicit repartitioning by url-hash
  before membership checks"). Partitioning on the join key column is
  what lets the join reuse the exchange: the cached candidates are not
  shuffled again and the seen set is shuffled once per round. (The
  earlier ``repartition(n, xxhash64(url))`` partitioned on an
  expression, which does not satisfy the join's clustering on ``url``,
  so the planner shuffled both sides a second time.) ``n`` is
  ``seen_partitions`` capped at the task-slot count, so a round is one
  wave of tasks and writes at most ``n`` files per seen delta.
  Once the seen set reaches ``prefilter_min_seen`` urls, a partitioned
  cuckoo filter over it (``scheduler/cuckoo.py``, stored beside the
  seen checkpoint) screens candidates first, so the exact check sees
  only the maybe-seen ones; its false positives are removed by that
  check, so admission is exact.
- **Politeness with skew**: the per-host top-k window is two-phase:
  first rank within ``(host, salt)`` where ``salt = pmod(xxhash64(url),
  SALT_BUCKETS)`` and keep k per salt bucket, then rank the ≤ salt·k
  survivors per host exactly. Any url in a host's true top-k is
  necessarily in its salt bucket's top-k, so phase 1 never changes the
  admitted set — it only bounds the rows any single window partition
  sees, which is what kills the hot-host straggler (SURVEY.md §4.2).
- **Robots / host-rank**: kilobyte-to-megabyte dimension tables,
  ``F.broadcast`` joined.
- **Fetch**: the admitted batch (≤ batch_size rows) is broadcast
  against the pages table. In production the pages table is an Iceberg
  table bucketed by url-hash, giving storage-partitioned joins; a live
  crawl would replace this join with real fetches.
- **Per-round lineage**: each round appends per-partition row counts
  for the membership stage plus round totals to a metrics table.

Everything per-row-Python lives in the kernel UDFs: url normalization,
and one pass per round over the fetched pages — the link harvest, or,
with ``extract_field_map`` set, the fused fetch kernel that parses each
page once for its out-links and its fields. All shuffles are JVM-side.
"""

from __future__ import annotations

import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.kernel import extract_links_udf, normalize_url_udf
from ..sources.catalog import Catalog
from .cuckoo import CuckooConfig, cuckoo_build, cuckoo_probe, cuckoo_update
from .policy import BASE_BUDGET, DEFAULT_BATCH, DEFAULT_MAX_DEPTH, DEPTH_PENALTY

SALT_BUCKETS = 8
FRONTIER_DDL = "url string, host string, depth int, priority double"
METRICS_DDL = (
    "round int, admitted long, new_urls long, "
    "partition_rows array<struct<pid:int,rows:long>>, wall_sec double"
)


@dataclass
class CrawlConfig:
    batch_size: int = DEFAULT_BATCH
    max_depth: int = DEFAULT_MAX_DEPTH
    max_rounds: int = 100
    seen_partitions: int = 32
    # Seen-set size at which the cuckoo prefilter switches on (0 forces
    # it on from round 0). Below it the exact check runs alone: on
    # small seen sets the screen's build/probe/advance only adds round
    # time (schedule-identical A/Bs, BASELINE.md).
    prefilter_min_seen: int = 2_000_000
    # When set, each round runs the extraction kernel over its fetched
    # batch and appends to the catalog's "results" table — the full
    # "scheduled+extracted per round" production shape. None keeps the
    # scheduler extraction-free (callers extract the schedule later).
    extract_field_map: Optional[Dict[str, Any]] = None
    # Fold seen deltas into one base snapshot every k rounds: without
    # compaction a months-long crawl accumulates one delta dir per
    # round and read_appended degrades into a file-listing scan.
    compact_every: int = 16
    # Exact-membership strategy.
    # "shuffle": anti-join candidates against a re-partitioned read of
    #   the whole seen set — ONE O(|seen|) shuffle of the seen side
    #   per round. Correct, simple, but at a 10^10-url seen set the
    #   per-round seen shuffle is the membership bottleneck.
    # "bucket_probe": seen deltas are stored dir-partitioned by
    #   pmod(xxhash64(url), seen_bucket_count) (the compacted base
    #   keeps the layout), and the exact check runs per bucket inside
    #   applyInPandas — each task direct-reads only its bucket's
    #   committed parquet files. The candidates shuffle once (they
    #   must anyway); the seen set NEVER crosses the network — its
    #   cost drops to a columnar one-column read of touched buckets.
    #   Equivalent admission (simulator-exact, tested); requires the
    #   catalog to have been written in this mode from round 0.
    membership: str = "shuffle"
    # Bucket count for the bucket_probe seen layout; None →
    # seen_partitions. Size it so one bucket's url set fits a worker
    # comfortably: |seen| · ~60 B/url / buckets ≤ a few hundred MB.
    seen_bucket_count: Optional[int] = None
    # Measured crossover for the probe (34-round soak + 262k-page A/B,
    # BASELINE.md): below this seen-set size the per-bucket file-open
    # overhead costs more than shuffling the whole (tiny) seen set, so
    # membership="bucket_probe" keeps the bucketed LAYOUT from round 0
    # but runs the exact check as the shuffle anti-join until |seen|
    # crosses this floor. Both strategies are admission-identical
    # (same schedule md5 over the full soak), so the switch never
    # changes the crawl.
    probe_min_seen: int = 200_000


@dataclass
class CrawlState:
    rounds_run: int = 0
    schedule: Optional[DataFrame] = None
    seen: Optional[DataFrame] = None
    metrics: List[Dict[str, Any]] = field(default_factory=list)


def _with_policy_columns(
    df: DataFrame, robots: DataFrame, host_rank: DataFrame
) -> DataFrame:
    """Insert-time policy: robots filter + priority. ``df`` must have
    (url, depth); adds host, priority; drops disallowed urls."""
    # try_parse_url, not parse_url: under ANSI mode (Spark 4 default)
    # parse_url THROWS on malformed urls — one bad discovered link
    # would kill the whole round. Invalid → NULL host → dropped below.
    df = df.withColumn("host", F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))))
    # RFC 9309 matches rules against path + optional query ('Disallow:
    # /*?sessionid=' must fire), so the match target keeps the query
    # string; an empty '?' is dropped like urlparse does. The simulator
    # mirrors this in its enqueue() target. nullif: a pathless url
    # ('https://h?a=1') parses to PATH='' (not NULL) — it must become
    # '/' like urlparse's `path or "/"`, or the two targets diverge.
    path_c = F.coalesce(
        F.nullif(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("")),
        F.lit("/"),
    )
    query_c = F.try_parse_url(F.col("url"), F.lit("QUERY"))
    df = df.withColumn(
        "path",
        F.when(
            query_c.isNotNull() & (query_c != ""),
            F.concat(path_c, F.lit("?"), query_c),
        ).otherwise(path_c),
    ).where(F.col("host").isNotNull())  # simulator: host None → dropped
    if "rules" in robots.columns:
        # RFC 9309 robots table (scheduler/robots.py or
        # sources/robots.py): gate purely on the longest-match decision
        # — a `Disallow: /` host-kill is itself a rule, and an `Allow:`
        # carve-out can outrank it, which the legacy boolean cannot
        # express. One codegen fold per URL; no extra join.
        from .robots import robots_decision

        df = df.join(F.broadcast(robots), "host", "left").where(
            robots_decision(F.col("path"), F.col("rules"))
        )
    else:
        df = (
            df.join(F.broadcast(robots), "host", "left")
            .where(F.coalesce(F.col("allowed"), F.lit(True)))
            .where(
                ~F.coalesce(
                    F.exists(
                        "disallow_prefixes", lambda p: F.col("path").startswith(p)
                    ),
                    F.lit(False),
                )
            )
        )
    df = df.join(F.broadcast(host_rank), "host", "left").withColumn(
        "priority",
        F.coalesce(F.col("rank"), F.lit(0.0)) - F.lit(DEPTH_PENALTY) * F.col("depth"),
    )
    return df.select("url", "host", "depth", "priority")


def _politeness_admit(frontier: DataFrame, robots: DataFrame, batch_size: int) -> DataFrame:
    """Two-phase per-host top-k (salted exact pre-prune), then the
    global batch cap by the total order (priority desc, url asc)."""
    k_col = F.greatest(
        F.lit(1),
        F.floor(F.lit(BASE_BUDGET) / F.coalesce(F.col("crawl_delay"), F.lit(1.0))),
    ).cast("int")
    cand = frontier.join(
        F.broadcast(robots.select("host", "crawl_delay")), "host", "left"
    ).withColumn("k", k_col)

    order = [F.desc("priority"), F.asc("url")]
    # Phase 1: cap each (host, salt) bucket at k — exactness-preserving
    # prune that bounds any single window partition on a hot host.
    salted = Window.partitionBy(
        "host", F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS))
    ).orderBy(*order)
    cand = cand.withColumn("rn_salt", F.row_number().over(salted)).where(
        F.col("rn_salt") <= F.col("k")
    )
    # Phase 2: exact per-host top-k over the ≤ SALT_BUCKETS·k survivors.
    per_host = Window.partitionBy("host").orderBy(*order)
    cand = cand.withColumn("rn", F.row_number().over(per_host)).where(
        F.col("rn") <= F.col("k")
    )
    # Global cap: distributed TakeOrdered, then seq over ≤ batch_size rows.
    admitted = cand.select("url", "host", "depth", "priority").orderBy(*order).limit(
        batch_size
    )
    seq_w = Window.orderBy(*order)  # bounded input: ≤ batch_size rows
    return admitted.withColumn("seq", F.row_number().over(seq_w) - 1)


# ---------------------------------------------------------------------------
# Seen-set prefilter: a partitioned cuckoo filter (scheduler/cuckoo.py)
# ---------------------------------------------------------------------------
# One fingerprint table per url-hash bucket, stored as a bucket-
# PARTITIONED parquet directory beside the seen checkpoint:
# - BUILD (on activation or state mismatch): ``cuckoo_build`` over the
#   committed seen set — one equi-shuffle, nothing on the driver.
# - ADVANCE (per round): only the buckets the round's new urls TOUCH
#   are rewritten, via dynamic partition overwrite — per-round I/O is
#   O(touched buckets), never O(total filter).
# - PROBE: candidates cogrouped with their bucket's table — the table
#   travels once per bucket, never once per candidate row.
# Crash-safety: the `_STATE` marker (round + GEOMETRY) is INVALIDATED
# before each advance write and re-stamped after it. Required because
# dynamic partition overwrite deletes each matched bucket dir before
# renaming staged files at job commit — a kill inside that window
# leaves a bucket MISSING (false negatives, NOT a superset), which a
# stale marker would wrongly validate. With the invalidate-write-stamp
# order, every crash point resolves to either the previous committed
# state or a full rebuild from the committed seen set (crash-tested in
# tests/test_hardening.py). A geometry or round mismatch in `_STATE`
# likewise forces a rebuild (probing with the wrong geometry would
# produce false NEGATIVES).


def _cuckoo_cfg(cfg: CrawlConfig, n_seen: int = 0) -> CuckooConfig:
    """CuckooConfig with one shard per ``seen_partitions``, sized for
    ``max(prefilter_min_seen, n_seen)`` urls at <=0.84 load (b=4,
    16-bit fingerprints — FPP ~1.2e-4; memory 2 bytes/slot).

    ``prefilter_min_seen`` is in the max because the prefilter only
    activates once the seen set reaches it — sizing for less would
    build the filter at ~0.95+ nominal load on first activation and
    hard-saturate every shard to all-maybe immediately.  ``n_seen``
    (the live seen count at build time) keeps it sized as the crawl
    grows: ``m`` is rounded up to a power of two, so the derived
    geometry is stable until the count crosses the next sizing
    boundary, at which point the ``_STATE`` marker mismatch forces one
    rebuild with doubled ``m`` — amortized-doubling growth, O(log)
    rebuilds over a crawl's life, never silent saturation."""
    nb = cfg.seen_partitions
    target = max(cfg.prefilter_min_seen, int(n_seen))
    per_bucket = max(1024, target // max(nb, 1))
    m = 1 << max(8, math.ceil(math.log2(per_bucket / 4 / 0.84)))
    return CuckooConfig(n_buckets=nb, m=m, b=4, fbits=16)


def _cuckoo_dir(catalog: Catalog) -> str:
    return os.path.join(catalog.root, "cuckoo_parts")


def _cuckoo_marker(ccfg: CuckooConfig, round_no: int) -> dict:
    return {
        "round": round_no,
        "m": ccfg.m,
        "b": ccfg.b,
        "fbits": ccfg.fbits,
        "buckets": ccfg.n_buckets,
        # In-bucket index-derivation version: v2 decorrelated the home
        # bucket i1 from the shard key's low hash bits (cuckoo.py::
        # _fp_i1_i2).  Blobs written under v1 place fingerprints at
        # different indices, so a version drift must rebuild, exactly
        # like any other geometry change.
        "i1v": 2,
    }


def _cuckoo_state_read(catalog: Catalog):
    try:
        with open(os.path.join(_cuckoo_dir(catalog), "_STATE")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _write_cuckoo_state(catalog: Catalog, round_no: int, ccfg: CuckooConfig) -> None:
    path = os.path.join(_cuckoo_dir(catalog), "_STATE")
    tmp = path + ".tmp"
    os.makedirs(_cuckoo_dir(catalog), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(_cuckoo_marker(ccfg, round_no), f)
    os.replace(tmp, path)  # atomic; leading '_' keeps parquet readers away


def _invalidate_cuckoo_state(catalog: Catalog) -> None:
    try:
        os.remove(os.path.join(_cuckoo_dir(catalog), "_STATE"))
    except FileNotFoundError:
        pass


def _ensure_cuckoo(
    catalog: Catalog,
    seen: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    n_seen: int = 0,
) -> DataFrame:
    """Return the cuckoo state at ``round_no``, rebuilding from the
    full committed seen set on marker absence, round drift or a
    geometry change (probing with wrong geometry would manufacture
    false negatives, which admission exactness cannot absorb).
    ``n_seen`` (the live seen count) feeds the capacity sizing: when
    the crawl outgrows the stored geometry the marker comparison fails
    here and the state rebuilds with doubled ``m`` (see _cuckoo_cfg)."""
    spark = seen.sparkSession
    ccfg = _cuckoo_cfg(cfg, n_seen)
    if _cuckoo_state_read(catalog) != _cuckoo_marker(ccfg, round_no):
        (
            cuckoo_build(seen.select("url"), ccfg)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_cuckoo_dir(catalog))
        )
        _write_cuckoo_state(catalog, round_no, ccfg)
    return spark.read.parquet(_cuckoo_dir(catalog))


def _advance_cuckoo(
    catalog: Catalog,
    state: DataFrame,
    new_urls: DataFrame,
    cfg: CrawlConfig,
    next_round: int,
    n_seen: int = 0,
) -> None:
    """Insert the round's new urls (each url is new-by-construction —
    it passed the exact membership check — so the insert-once caller
    contract of cuckoo_update holds) and commit the marker. Only
    touched buckets rewrite (dynamic partition overwrite); the changed
    set is localCheckpoint-ed first because Spark refuses to overwrite
    a path that appears as a source in the write's own plan.
    ``n_seen`` must be the SAME value the round's _ensure_cuckoo used
    (the seen count at round start): updates must run under the
    stored state's geometry; growth is handled by the NEXT round's
    ensure/rebuild, never by an in-place geometry change."""
    ccfg = _cuckoo_cfg(cfg, n_seen)
    changed = cuckoo_update(
        state, new_urls, ccfg, changed_only=True
    ).localCheckpoint(eager=True)
    # Invalidate-then-write-then-stamp (see the crash-safety note
    # above _cuckoo_cfg): with _STATE gone during the overwrite's
    # commit window, a crash inside it resolves to a full rebuild on
    # resume instead of probing a state with a silently-missing bucket
    # (false negatives ⇒ the exact check is skipped ⇒ duplicate
    # admissions).
    _invalidate_cuckoo_state(catalog)
    (
        changed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_cuckoo_dir(catalog))
    )
    _write_cuckoo_state(catalog, next_round, ccfg)


# -- exact membership via bucket probe (no seen-side shuffle) ---------------

def _seen_bucket_expr(cfg: CrawlConfig):
    nb = cfg.seen_bucket_count or cfg.seen_partitions
    return F.pmod(F.xxhash64("url"), F.lit(nb)).cast("int")


def _seen_layout_path(catalog: Catalog) -> str:
    return os.path.join(catalog.root, "seen", "_BUCKET_LAYOUT")


def _check_seen_layout(catalog: Catalog, cfg: CrawlConfig) -> None:
    """Geometry guard for the bucket_probe seen layout: the bucket
    count is baked into every committed dir name, so a resume with a
    different ``seen_bucket_count``/``seen_partitions`` would probe the
    WRONG buckets — false negatives, duplicate admissions, silent
    schedule divergence (the same failure class the cuckoo prefilter's
    ``_STATE`` geometry stamp guards against). First bucketed write records the
    count; every later write and every probe refuses on mismatch."""
    nb = int(cfg.seen_bucket_count or cfg.seen_partitions)
    path = _seen_layout_path(catalog)
    try:
        with open(path) as f:
            recorded = int(json.load(f)["buckets"])
    except (OSError, ValueError, KeyError):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"buckets": nb}, f)
        os.replace(tmp, path)
        return
    if recorded != nb:
        raise ValueError(
            f"membership='bucket_probe' seen layout was written with "
            f"{recorded} buckets but this run is configured for {nb}; "
            f"resume with the original bucket count (or rebuild the "
            f"seen table) — probing a mismatched layout would silently "
            f"re-admit seen urls"
        )


def _append_seen(
    catalog: Catalog, urls: DataFrame, version: int, cfg: CrawlConfig
) -> None:
    """Write a seen-set delta in the layout the configured membership
    strategy reads: flat for "shuffle", ``bucket=K/`` dir-partitioned
    (stable url-hash) for "bucket_probe"."""
    if cfg.membership == "bucket_probe":
        _check_seen_layout(catalog, cfg)
        catalog.append(
            "seen",
            urls.select("url", _seen_bucket_expr(cfg).alias("bucket")),
            version,
            partition_cols=["bucket"],
        )
    else:
        catalog.append("seen", urls.select("url"), version)


def _seen_bucket_files(catalog: Catalog, round_no: int) -> dict:
    """bucket id → committed seen parquet files, listed from exactly
    the dirs a ``read_appended("seen", round_no)`` would union (base +
    deltas), so the probe sees the identical committed state.

    Local filesystem only in this sandbox; production runs this
    against the object store via the same listing (or swaps to
    Iceberg's storage-partitioned join, which is this pattern with
    the listing done by the table format)."""
    files: dict = {}
    for d in catalog.appended_dirs("seen", round_no):
        if "://" in d:
            raise NotImplementedError(
                "bucket_probe file listing implemented for local paths; "
                "use Iceberg storage-partitioned joins on a cluster"
            )
        for sub in sorted(os.listdir(d)):
            full = os.path.join(d, sub)
            if sub.startswith("bucket=") and os.path.isdir(full):
                b = int(sub.split("=", 1)[1])
                files.setdefault(b, []).extend(
                    os.path.join(full, f)
                    for f in sorted(os.listdir(full))
                    if f.endswith(".parquet")
                )
            elif sub.endswith(".parquet"):
                raise ValueError(
                    f"seen delta {d!r} is flat, not bucket-partitioned: "
                    "membership='bucket_probe' requires a catalog "
                    "written in bucket mode from round 0"
                )
    return files


def _bucket_probe_anti_join(
    spark: SparkSession, cand: DataFrame, bucket_files: dict, cfg: CrawlConfig
) -> DataFrame:
    """``cand`` minus the seen set, WITHOUT shuffling the seen set:
    candidates group by the stable url-hash bucket (one shuffle of the
    small side), and each task direct-reads only its own bucket's
    committed parquet files (one column, no exchange). Bit-exact with
    the shuffle anti-join: the bucket expr matches the write layout,
    and membership is a plain string-equality set test."""
    import pandas as pd  # noqa: F401 (applyInPandas contract)
    import pyarrow.parquet as pq

    out_cols = list(cand.columns)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields
    )
    bf = spark.sparkContext.broadcast(bucket_files)

    def probe(key, pdf):
        paths = bf.value.get(int(key[0]), [])
        if not len(pdf) or not paths:
            return pdf[out_cols]
        seen_urls = set(
            pq.read_table(paths, columns=["url"]).column("url").to_pylist()
        )
        return pdf.loc[~pdf["url"].isin(seen_urls), out_cols]

    return (
        cand.withColumn("_pb_bucket", _seen_bucket_expr(cfg))
        .groupBy("_pb_bucket")
        .applyInPandas(probe, schema)
    )


# -- exact membership via shuffle anti-join ---------------------------------

def _membership_width(spark: SparkSession, cfg: CrawlConfig) -> int:
    """Partition count of the membership exchange: ``seen_partitions``
    capped at the task-slot count. A task beyond the slots only queues
    behind the others and adds its fixed cost (scheduling, one more
    output file per checkpoint table), so on a small cluster the cap
    keeps each round at one wave. ``seen_partitions`` stays the cuckoo
    and bucket-layout geometry source; this width is not stamped
    anywhere, so it may change between resumes."""
    return min(cfg.seen_partitions, spark.sparkContext.defaultParallelism)


def _by_url(df: DataFrame, n: int) -> DataFrame:
    """Hash-partition on the join key column itself. ``repartition(n,
    xxhash64(url))`` would partition on an EXPRESSION, which does not
    satisfy the anti-join's clustering on ``url`` — the planner then
    adds a second exchange on both sides."""
    return df.repartition(n, "url")


def _shuffle_anti_join(cand: DataFrame, seen: DataFrame, n: int) -> DataFrame:
    """``cand`` minus the seen set. With ``cand`` already ``_by_url(.., n)``
    (the round caches it that way), the only exchange is the seen side's
    one shuffle; the join output keeps the url partitioning, so the
    round's new entries land in ``n`` partitions."""
    return cand.join(_by_url(seen.select("url"), n), "url", "left_anti")


def _metrics_row(
    spark: SparkSession,
    round_no: int,
    n_admitted: int,
    n_new: int,
    part_counts: list,
    wall_sec: float,
) -> DataFrame:
    """A round's metrics row (``METRICS_DDL``) as a one-partition
    JVM-side relation of literals: no Python task, one output file.
    ``createDataFrame`` over a Python list pickles the row through
    ``parallelize`` + ``map``: Python tasks, each paying a worker's
    fixed per-task cost, and two files for one row."""
    partition_rows = F.array(
        *[
            F.struct(F.lit(int(r["pid"])).alias("pid"), F.lit(int(r["count"])).alias("rows"))
            for r in part_counts
        ]
    )
    return spark.range(0, 1, 1, 1).select(
        F.lit(round_no).cast("int").alias("round"),
        F.lit(n_admitted).cast("long").alias("admitted"),
        F.lit(n_new).cast("long").alias("new_urls"),
        partition_rows.cast("array<struct<pid:int,rows:long>>").alias("partition_rows"),
        F.lit(wall_sec).cast("double").alias("wall_sec"),
    )


def sweep_revisit(
    spark: SparkSession,
    catalog: Catalog,
    due: DataFrame,
    robots: DataFrame,
    host_rank: DataFrame,
    cycle_id: str,
) -> int:
    """Between-submission revisit sweep — the production consumer of
    ``revisit_schedule`` (q48) and the north rule's "re-admit pages
    due for revisit": inject the due urls back into the COMMITTED
    frontier so the next ``run_crawl`` submission fetches them again
    under normal politeness.  Returns the number of urls injected.

    Semantics (why injection, not seen-set deletion): the seen table
    is append-only by design (per-round deltas, compaction — a
    tombstone mechanism would complicate every membership path), and
    a revisit means "fetch this KNOWN url once more", not "forget it
    was ever seen".  Injecting into the frontier achieves exactly
    that: politeness admits the url again, its re-fetch re-harvests
    links, and any link-rediscovery of the url while it waits in the
    frontier is correctly suppressed by the (unchanged) seen check.
    The frontier's cuckoo prefilter screens that same unchanged seen
    set, so the sweep leaves its state untouched and still valid; the
    filter's deletions (scheduler/cuckoo.py, q187) serve the
    stronger design where the seen set itself revokes entries.

    Idempotent and crash-safe, at THREE levels:

    - within one sweep attempt: urls are normalized with the crawl's
      own kernel, restricted to urls actually in the seen set (an
      unknown url belongs in a seed list, not a revisit sweep), and
      anti-joined against the current frontier, so a crash-replay of
      the sweep itself injects nothing twice;
    - the frontier snapshot edit uses ``Catalog.write_replace`` — the
      sweep rewrites the COMMITTED version (unlike the round loop,
      which always writes round+1), and a plain overwrite would
      delete the only copy of the committed crawl state before the
      new files land; write_replace stages, renames, and heals, so
      no crash point loses the frontier;
    - across a crashed-and-resubmitted *submission*: the REQUIRED
      ``cycle_id`` names this revisit cycle, and an applied-cycle
      marker (``Catalog.put_marker``) records that the cycle was
      already swept.  Without it, "sweep then N rounds then crash
      then resubmit the identical command" would re-inject urls the
      earlier rounds already refetched (they are no longer in the
      frontier, so the anti-join alone cannot know).  The id must be
      explicit because no default is safe in both directions: a
      content fingerprint of the due set would turn legitimate
      periodic re-sweeps of an identical url list into silent
      permanent no-ops, while no marker at all re-injects on every
      crashed resubmission.  Use the schedule's ``as_of`` date
      (``sources/sitemap.py::revisit_schedule`` already has one) —
      a retry of a crashed submission naturally reuses it, the next
      week's cycle naturally gets a new one."""
    round_no = catalog.committed_round()
    if round_no is None:
        raise ValueError(
            "sweep_revisit needs a committed crawl (seed run_crawl first)"
        )
    marker = f"revisit_applied_{cycle_id}"
    if catalog.has_marker(marker):  # validates cycle_id spelling too
        return 0
    frontier = catalog.read("frontier", round_no)
    seen = catalog.read_appended("seen", round_no)
    if frontier is None or seen is None:
        raise ValueError(f"catalog has no frontier/seen at round {round_no}")
    due_n = (
        due.select(normalize_url_udf(F.col("url")).alias("url"))
        .where(F.col("url").isNotNull())
        .dropDuplicates(["url"])
    )
    inject = (
        due_n.join(seen.select("url"), "url", "inner")
        .join(frontier.select("url"), "url", "left_anti")
        .withColumn("depth", F.lit(0))
    )
    # One materialization feeds union AND count (the pipeline above —
    # normalize UDF + seen join + anti-join + policy joins — is the
    # sweep's dominant cost and must not run twice).  The union
    # itself needs NO checkpoint: write_replace stages into a sibling
    # dir, so the frontier files it reads stay intact for the whole
    # staging write.
    entries = _with_policy_columns(inject, robots, host_rank).select(
        *frontier.columns
    ).localCheckpoint(eager=True)
    n_injected = int(entries.count())
    if n_injected:
        catalog.write_replace(
            "frontier", frontier.unionByName(entries), round_no
        )
    # Marker AFTER the frontier write: a crash before it replays the
    # sweep, where the anti-join (frontier now holds the urls) makes
    # the replay an empty injection — and the n_injected guard above
    # then skips the frontier-sized rewrite on that replay path.
    catalog.put_marker(marker)
    entries.unpersist()
    return n_injected


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    host_rank: DataFrame,
    catalog: Catalog,
    cfg: CrawlConfig = CrawlConfig(),
    traps: Optional[DataFrame] = None,
) -> CrawlState:
    """Drive the crawl to frontier exhaustion (or ``max_rounds``),
    checkpointing every round. Restartable: if the catalog already has
    committed rounds, the loop resumes after the last committed one.

    ``traps`` (optional) engages the trap frontier filter: a
    ``detect_url_traps``-shaped frame of flagged ``(host, template,
    is_trap)`` rows (q50's explosion detector, q166's DUST study,
    q209's path-entropy ranking all emit this shape).  Flagged urls
    are dropped at BOTH frontier entry points — the seed list and
    each round's link harvest — before the membership check, so a
    trap url is never admitted, never marked seen, and costs no
    politeness slot.  Opt-in, like ``membership="bucket_probe"``:
    admission semantics stay simulator-verified either way
    (``simulate_crawl(..., traps=...)`` mirrors the filter;
    equivalence pinned in test_scheduler.py)."""
    from ..operators.urls import trap_filter
    state = CrawlState()
    member_parts = _membership_width(spark, cfg)

    start_round = catalog.committed_round()
    if start_round is None:
        # Round -1: seed the frontier. Normalization is the same kernel
        # function the simulator uses (byte-identical url identity).
        # Both frames are local checkpoints: the url UDF runs once for
        # the quarantine append and the frontier, and the dedup, traps
        # and policy joins run once for the frontier write and the seen
        # append — unmaterialized, each of the three writes re-ran the
        # whole pipeline. (cache() is slower here: its AQE cache stages
        # cost more jobs than the re-runs they save.)
        normed = seeds.select(
            F.col("url").alias("raw_url"),
            normalize_url_udf(F.col("url")).alias("url"),
            F.col("depth"),
        ).localCheckpoint(eager=True)
        # invalid seeds → quarantine table, not an exception (SURVEY
        # §2.2: a poison row must never kill the run)
        catalog.append(
            "quarantine",
            normed.where(F.col("url").isNull()).select(
                F.col("raw_url").alias("url"),
                F.lit("invalid_url").alias("reason"),
            ),
            0,
        )
        seeded = (
            normed.where(F.col("url").isNotNull())
            .select("url", "depth")
            .dropDuplicates(["url"])
        )
        if traps is not None:
            seeded = trap_filter(seeded, traps)
        frontier0 = _with_policy_columns(seeded, robots, host_rank).localCheckpoint(
            eager=True
        )
        catalog.write("frontier", frontier0, 0)
        # seen is a *delta* table: round k's delta holds only the urls
        # first enqueued entering round k. Rewriting the full seen-set
        # every round would be O(rounds · |seen|) I/O — quadratic over
        # a crawl, unusable at a 10^10-url frontier.
        _append_seen(catalog, frontier0, 0, cfg)
        catalog.commit_round(0)
        start_round = 0

    # Seen-set cardinality, maintained in the driver across rounds so
    # the prefilter and bucket-probe switches are decided without a
    # count job. One count on (re)start, then updated from each round's
    # n_new.
    total_seen = None

    for round_no in range(start_round, cfg.max_rounds):
        t0 = time.time()
        frontier = catalog.read("frontier", round_no)
        if frontier is None:
            break
        if total_seen is None:
            total_seen = catalog.read_appended("seen", round_no).count()

        # The admitted batch is materialized once (the fetch join, the
        # frontier anti-join and the schedule write read it) as a local
        # checkpoint, not cache(): as on seeding, a cache of the
        # unmaterialized plan costs AQE cache stages and jobs.
        tp = time.time()
        admitted = _politeness_admit(frontier, robots, cfg.batch_size).localCheckpoint(
            eager=True
        )
        # Round caches released in `finally`: an exception anywhere in
        # the round body (including a checkpoint-write failure re-raised
        # before commit) or the terminal empty-admission break must not
        # leak cached batches into executor storage across retries.
        cached_cand = None
        probed_cache = None
        new_entries = None
        # Per-phase wall timings (driver-side diagnostics only — the
        # metrics *table* schema is unchanged): lets the scaling bench
        # attribute non-scaling round cost to a specific phase instead
        # of guessing (admit window vs extraction vs membership vs
        # checkpoint I/O).
        phases: dict = {}
        try:
            n_admitted = admitted.count()
            phases["admit"] = round(time.time() - tp, 3)
            if n_admitted == 0:
                break

            # --- fetch (pages-table join stand-in) + link expansion -------
            # Inner join with the tiny admitted batch broadcast: fetch
            # misses contribute no links, and Spark can build the hash side
            # from the broadcast batch (a left-outer here would forbid
            # broadcasting the admitted side and force a full shuffle).
            results = None
            if cfg.extract_field_map is None:
                fetched = pages.select("url", "html").join(
                    F.broadcast(admitted), "url", "inner"
                )
                harvested = fetched.select(
                    F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("url"),
                    (F.col("depth") + 1).alias("depth"),
                )
            else:
                # With extraction on, the fetch is ONE Python pass over
                # the fetched pages (``extract_and_harvest``): each page
                # is parsed once for its out-links and its fields. Its
                # output holds no html; it is materialized once, and the
                # results append and the link harvest both read it. A
                # local checkpoint, not cache(): under AQE a cache of an
                # unmaterialized plan adds cache stages (measured slower
                # on seeding). Caching the html-heavy fetched rows
                # instead was measured 2.5x slower end-to-end.
                from ..plans.extract import extract_and_harvest

                tp = time.time()
                fetched = extract_and_harvest(
                    pages.join(
                        F.broadcast(admitted.select("url", "depth")), "url", "inner"
                    ),
                    cfg.extract_field_map,
                    carry=["depth"],
                ).localCheckpoint(eager=True)
                phases["extract"] = round(time.time() - tp, 3)
                results = fetched.drop("links", "depth").withColumn(
                    "round", F.lit(round_no)
                )
                harvested = fetched.select(
                    F.explode("links").alias("url"),
                    (F.col("depth") + 1).alias("depth"),
                )
            links = (
                harvested.where(F.col("depth") <= cfg.max_depth)
                .groupBy("url")
                .agg(F.min("depth").alias("depth"))
            )

            # --- seen membership: explicit url repartition + prefilter ----
            seen = catalog.read_appended("seen", round_no)
            if traps is not None:
                # Trap screen BEFORE membership: a flagged url never
                # reaches the seen check, is never marked seen, and
                # re-discovery next round re-screens it (cheap — the
                # traps side is a broadcast of distinct templates).
                links = trap_filter(links, traps)
            # Cached, though only the membership check reads it: traced
            # `frontier` measured 22 jobs and ~0.65 s of compute per
            # round with the cache against 21 jobs and ~0.75 s without.
            # The membership job materializes it, so the harvest's cost
            # lands in the "membership" phase.
            cached_cand = _by_url(links, member_parts).cache()
            use_probe = False
            if cfg.membership == "bucket_probe":
                # Layout validation runs EVERY round in bucket mode —
                # geometry guard + flat-layout refusal must fire even
                # when the seen set is still below probe_min_seen and
                # the exact check falls back to the shuffle anti-join.
                _check_seen_layout(catalog, cfg)
                bucket_files = _seen_bucket_files(catalog, round_no)
                use_probe = total_seen >= cfg.probe_min_seen
            if use_probe:
                # Exact check without shuffling the seen set: per-bucket
                # direct file reads against the committed layout. The
                # closure replaces both anti-join sites below.
                def _exact_new(c, _bf=bucket_files):
                    return _bucket_probe_anti_join(spark, c, _bf, cfg)

            else:
                # Shuffle anti-join — the whole seen set repartitions by
                # url once each round. Measured CHEAPER below
                # probe_min_seen (file-open overhead beats a tiny
                # shuffle); reads the bucketed layout transparently.
                def _exact_new(c):
                    return _shuffle_anti_join(c, seen, member_parts)

            cuckoo_df = None
            # Snapshot for the cuckoo geometry: ensure/probe/advance
            # within ONE round must agree on sizing, and total_seen is
            # mutated (+= n_new) before the deferred advance lambda
            # runs — capture the round-start value now.
            seen_at_round_start = total_seen
            if total_seen >= cfg.prefilter_min_seen:
                cuckoo_df = _ensure_cuckoo(
                    catalog, seen, cfg, round_no, seen_at_round_start
                )
                # Cached: the probe output feeds BOTH union branches
                # below; uncached, the cogrouped pandas probe would
                # execute twice per round.
                probed_cache = cuckoo_probe(
                    cached_cand, cuckoo_df, _cuckoo_cfg(cfg, seen_at_round_start)
                ).cache()
                definitely_new = probed_cache.where(~F.col("maybe_seen")).drop(
                    "maybe_seen"
                )
                to_check = probed_cache.where(F.col("maybe_seen")).drop("maybe_seen")
                new_urls = definitely_new.unionByName(_exact_new(to_check))
            else:
                new_urls = _exact_new(cached_cand)

            new_entries = _with_policy_columns(new_urls, robots, host_rank).cache()

            # --- per-partition lineage for the membership stage ------------
            # One job yields both the total (n_new) and the per-partition
            # row counts of the membership stage's output (the anti-join
            # preserves cand's url-hash partitioning, so skew shows here).
            tp = time.time()
            part_counts = (
                new_entries.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .collect()
            )
            phases["membership"] = round(time.time() - tp, 3)
            n_new = sum(int(r["count"]) for r in part_counts)
            total_seen += n_new

            # --- checkpoint round r+1 state --------------------------------
            next_frontier = (
                frontier.join(admitted.select("url"), "url", "left_anti")
                .unionByName(new_entries)
            )
            round_metrics = {
                "round": round_no,
                "admitted": n_admitted,
                "new_urls": n_new,
                "membership_partitions": {
                    int(r["pid"]): int(r["count"]) for r in part_counts
                },
            }
            sched_df = admitted.select(
                F.lit(round_no).alias("round"), F.col("seq"), F.col("url")
            )
            # The checkpoint writes (frontier, seen, schedule, plus results
            # with extraction on and the prefilter state when one is
            # active) are independent table snapshots whose inputs are
            # all cached or checkpointed —
            # submitting them CONCURRENTLY overlaps their driver
            # round-trips and output I/O (a serial sequence paid ~4-5 job
            # latencies of pure driver wait per round). The round marker
            # still commits strictly AFTER every write lands, so torn-round
            # semantics are unchanged: a crash mid-flight leaves the
            # previous round live.
            # keep=4 on the frontier: per-round snapshots would otherwise
            # grow the catalog by a full copy per round; resume needs only
            # the committed round and its successor.
            def _timed(name, fn):
                def run():
                    ts = time.time()
                    fn()
                    phases[f"write_{name}"] = round(time.time() - ts, 3)

                return run

            writes = [
                _timed(
                    "frontier",
                    lambda: catalog.write(
                        "frontier", next_frontier, round_no + 1, keep=4
                    ),
                ),
                _timed(
                    "seen",
                    lambda: _append_seen(
                        catalog, new_entries, round_no + 1, cfg
                    ),
                ),
                _timed(
                    "schedule", lambda: catalog.append("schedule", sched_df, round_no)
                ),
            ]
            if results is not None:
                writes.append(
                    _timed(
                        "results",
                        lambda: catalog.append("results", results, round_no),
                    )
                )
            if cuckoo_df is not None:
                # Incremental prefilter maintenance: only the buckets
                # touched by this round's new urls are rewritten; the
                # state marker commits after the data inside
                # _advance_cuckoo.
                writes.append(
                    _timed(
                        "cuckoo",
                        lambda: _advance_cuckoo(
                            catalog, cuckoo_df, new_entries.select("url"),
                            cfg, round_no + 1, seen_at_round_start,
                        ),
                    )
                )
            tp = time.time()
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                for fut in [pool.submit(w) for w in writes]:
                    fut.result()  # re-raise any write failure before commit
            phases["writes_barrier"] = round(time.time() - tp, 3)
            # The metrics row goes last, once the checkpoint writes have
            # landed, so its wall_sec spans them; it still lands before
            # the commit, like every other table of the round.
            round_metrics["wall_sec"] = round(time.time() - t0, 3)
            metrics_df = _metrics_row(
                spark, round_no, n_admitted, n_new, part_counts,
                round_metrics["wall_sec"],
            )
            _timed(
                "metrics", lambda: catalog.append("metrics", metrics_df, round_no)
            )()
            state.metrics.append(round_metrics)
            catalog.commit_round(round_no + 1)
            if cfg.compact_every and (round_no + 1) % cfg.compact_every == 0:
                tp = time.time()
                catalog.compact("seen", round_no + 1)
                phases["compact"] = round(time.time() - tp, 3)
            round_metrics["phases"] = phases
            state.rounds_run += 1
        finally:
            if cached_cand is not None:
                cached_cand.unpersist()
            if probed_cache is not None:
                probed_cache.unpersist()
            if new_entries is not None:
                new_entries.unpersist()

    # The committed round's state, not each table's own pointer: a
    # round whose writes landed but whose commit did not is not part of
    # the crawl. Schedule deltas are versioned by round, seen deltas by
    # round + 1, so round marker C covers schedule deltas <= C - 1 and
    # seen deltas <= C.
    committed = catalog.committed_round()
    state.schedule = catalog.read_appended("schedule", committed - 1) if committed else None
    # url-only regardless of membership mode: bucket_probe's storage
    # layout adds a bucket partition column consumers shouldn't see.
    seen_final = catalog.read_appended("seen", committed)
    state.seen = seen_final.select("url") if seen_final is not None else None
    return state
