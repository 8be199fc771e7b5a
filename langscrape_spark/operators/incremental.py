"""Incremental near-dup state across crawl rounds.

A 100 TB crawl does not dedup one frozen corpus — every round it must
dedup the NEW pages against everything already ingested. The batch
operators in :mod:`.dedup` (``minhash_lsh_pairs``,
``simhash_near_dups``) re-signature the whole corpus per call, which
is O(corpus) per round and O(rounds·corpus) over a crawl. This module
persists the signature→bucket assignments as an on-disk state table
(the seen-set pattern from ``scheduler/frontier.py`` — ONE
bucket-partitioned parquet directory, append-only, probed by
direct per-partition reads instead of a shuffle join) so each round
costs O(new batch) signature work plus a pruned probe of the state.

Layout: ``state_dir/bpart=<p>/part-*.parquet`` where
``bpart = pmod(xxhash64(bucket), n_parts)``; rows are
``(bucket string, id, …payload)`` sorted by ``bucket`` within each
written file so parquet row-group statistics prune probe reads.
Appends are plain dynamic-partition appends — a torn append leaves a
SUPERSET of some round's rows, and the probe drops duplicate
``(bucket, id)`` rows per partition, so retries are safe (duplicates
cost read volume, never wrong pair counts — the same
superset-is-safe argument as the frontier's prefilter updates).

Probe shape (the part that must stay flat per round): the NEW batch's
assignments group by ``bpart`` (one shuffle of the SMALL side — the
state never moves), and each task reads only its own partition's
files with a ``bucket ∈ probe-set`` pyarrow filter, so row groups
whose ``[min, max]`` bucket range misses every probed bucket are
skipped without IO. New batches are tiny relative to accumulated
state, so most row groups miss. At 10^10-url scale the remaining
lever is periodic per-partition compaction — :func:`bucket_state_compact`
rewrites each ``bpart`` dir as one bucket-sorted file (embarrassingly
parallel, no cross-partition shuffle), exactly like the frontier
seen-set's delta compaction; run it between rounds.

Equivalence contract (oracled by ``q154_minhash_incremental``): for
any split of a corpus into ingest rounds, the UNION of per-round
incremental pairs equals the batch operator's full-corpus pairs —
each pair (a, b) is emitted exactly once, by the round that ingests
the LATER of the two docs (new×new within a round, new×old across).
Requires each id ingested exactly once (run ``exact_dedup`` /
url-seen first, as the crawl already does) and a hot-bucket guard
consistent across rounds (see ``max_bucket`` notes on the wrappers).

Reference behavior being scaled: langscrape deduplicates per run
(``langscrape/nodes/*`` operate file-at-a-time); cross-round dedup
state is the Spark-native generalization the reference never needed
at its scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ann import cosine_sim, pq_encode
from .dedup import (
    grouped_bucket_pairs,
    hamming64,
    minhash_band_buckets,
    simhash64_fast,
    simhash_block_cols,
)

__all__ = [
    "bucket_state_append",
    "bucket_state_compact",
    "bucket_state_probe",
    "bucket_state_rows",
    "exact_ingest_round",
    "minhash_lsh_pairs_incremental",
    "minhash_ingest_round",
    "minhash_novelty_incremental",
    "semantic_ingest_round",
    "semantic_ingest_round_pq",
    "semantic_pairs_incremental",
    "semantic_pairs_incremental_pq",
    "simhash_near_dups_incremental",
    "simhash_ingest_round",
]


def _bpart(n_parts: int):
    return F.pmod(F.xxhash64(F.col("bucket")), F.lit(n_parts)).cast("int")


_GEOMETRY = "_GEOMETRY.json"


def _minhash_params(num_hashes: int, bands: int, k: int) -> dict:
    return {
        "family": "minhash",
        "num_hashes": num_hashes,
        "bands": bands,
        "k": k,
    }


def _simhash_params(max_hamming: int) -> dict:
    return {"family": "simhash", "max_hamming": max_hamming}


def _check_geometry(
    state_dir: str,
    n_parts: int,
    create: bool,
    params: dict | None = None,
) -> None:
    """The partition count AND the signature parameters ARE the
    routing function: a probe/append run with a different ``n_parts``
    routes buckets to ``bpart`` values that don't match the on-disk
    layout, and a different signature geometry (minhash
    num_hashes/bands/k, simhash max_hamming → block bounds) computes
    bucket STRINGS that can never equal the stored ones — either way
    near-duplicates are silently MISSED with zero errors. The geometry
    marker (written before the first data append — same commit-order
    argument as the frontier prefilter's _STATE stamp: torn data after a
    committed marker is a safe superset) pins the whole dict and makes
    any mismatch loud instead."""
    import json

    expected = {"n_parts": n_parts, **(params or {})}
    marker = os.path.join(state_dir, _GEOMETRY)
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        # only keys the marker actually pins are validated: state built
        # through the raw append API (no params) stays probe-able by
        # the wrappers — the wrappers themselves always stamp the full
        # signature geometry on the first append they make
        mismatched = {
            k: (stored[k], v)
            for k, v in expected.items()
            if k in stored and stored[k] != v
        }
        if mismatched:
            detail = ", ".join(
                f"{k}: stored={s!r} called={c!r}"
                for k, (s, c) in sorted(mismatched.items())
            )
            raise ValueError(
                f"state at {state_dir!r} was built with a different"
                f" geometry ({detail}) — a mismatched probe silently"
                " misses pairs"
            )
        missing = {k: v for k, v in expected.items() if k not in stored}
        if missing and create:
            # upgrade path: a marker stamped before signature params
            # existed (or via the raw append API) pins only n_parts;
            # the first wrapper append that supplies the params adopts
            # them so LATER calls get the full mismatch protection.
            # Atomic tmp+rename — a torn write must not lose the marker
            merged = {**stored, **missing}
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                json.dump(merged, f)
            os.replace(tmp, marker)
        return
    if os.path.isdir(state_dir) and any(
        e.startswith("bpart=") for e in os.listdir(state_dir)
    ):
        raise ValueError(
            f"state at {state_dir!r} has data but no {_GEOMETRY} marker"
            " — refusing to guess its partition count"
        )
    if create:
        os.makedirs(state_dir, exist_ok=True)
        with open(marker, "w") as f:
            json.dump(expected, f)


def bucket_state_append(
    assignments: DataFrame,
    state_dir: str,
    n_parts: int = 64,
    params: dict | None = None,
) -> None:
    """Append ``(bucket, id, …payload)`` assignment rows to the state
    directory. One shuffle of the (small) new batch into its target
    partitions; each task writes one file per touched ``bpart``,
    sorted by bucket for row-group pruning on later probes. The first
    append stamps the partition geometry — ``n_parts`` plus whatever
    signature parameters the caller passes in ``params`` (the
    minhash/simhash wrappers pin num_hashes/bands/k resp. max_hamming);
    later appends and probes must match (validated, loud)."""
    _check_geometry(state_dir, n_parts, create=True, params=params)
    (
        assignments.withColumn("bpart", _bpart(n_parts))
        .repartition("bpart")
        .sortWithinPartitions("bucket")
        .write.partitionBy("bpart")
        .mode("append")
        .parquet(state_dir)
    )


def bucket_state_rows(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The whole state as a DataFrame (audits / compaction), or None
    before the first append. A marker-only directory (geometry stamped
    but zero rows ever appended — e.g. a round with an empty new batch,
    whose partitionBy append writes no ``bpart=`` dirs) is still
    'before the first append': reading it would throw
    UNABLE_TO_INFER_SCHEMA, so it returns None too."""
    if not os.path.isdir(state_dir) or not any(
        e.startswith("bpart=") for e in os.listdir(state_dir)
    ):
        return None
    return spark.read.parquet(state_dir)


def _state_files(state_dir: str) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    if not os.path.isdir(state_dir):
        return out
    for entry in os.listdir(state_dir):
        if not entry.startswith("bpart="):
            continue
        part = int(entry.split("=", 1)[1])
        d = os.path.join(state_dir, entry)
        out[part] = sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    return out


def bucket_state_probe(
    new_assignments: DataFrame,
    state_dir: str,
    n_parts: int = 64,
    payload_cols: tuple[str, ...] = (),
    params: dict | None = None,
    new_payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Join the new batch's ``(bucket, id[, …payload])`` assignments
    against the stored state WITHOUT shuffling the state: group the
    new side by ``bpart`` (small-side shuffle), then each task
    direct-reads only its own partition's parquet with a
    ``bucket ∈ probe-set`` filter (row groups pruned by their sorted
    bucket min/max stats). Emits one row per shared bucket:
    ``(bucket, id_new, id_old[, <new payload>_new, <state
    payload>_old])``.  ``payload_cols`` names the columns read from
    the STATE files; ``new_payload_cols`` (default: same names) the
    columns carried from the new side — they may differ when the
    state stores a compressed payload (e.g. PQ codes) and the probe
    scores it against the new side's exact vectors.  Duplicate state
    rows (torn-append retries) are dropped per partition before the
    join, so counts stay exact."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if new_payload_cols is None:
        new_payload_cols = payload_cols
    _check_geometry(state_dir, n_parts, create=False, params=params)
    spark = new_assignments.sparkSession
    files = _state_files(state_dir)
    cols = ["bucket", "id", *payload_cols]
    # State payload dtypes: taken from the new side when the column
    # exists there (symmetric probes), else the caller must carry a
    # same-named, correctly-typed (possibly all-NULL) column — the
    # asymmetric PQ path appends state from the same frame it probes
    # with, so the dtype is always available.
    missing = [c for c in payload_cols if c not in new_assignments.columns]
    if missing:
        raise ValueError(
            f"state payload column(s) {missing} must also exist on the "
            "probe frame (they supply the output dtype; the ingest "
            "paths probe with the same frame they append from)"
        )
    out_fields = [
        ("bucket", "string"),
        ("id_new", new_assignments.schema["id"].dataType.simpleString()),
        ("id_old", new_assignments.schema["id"].dataType.simpleString()),
    ] + [
        (f"{c}_new", new_assignments.schema[c].dataType.simpleString())
        for c in new_payload_cols
    ] + [
        (f"{c}_old", new_assignments.schema[c].dataType.simpleString())
        for c in payload_cols
    ]
    schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    bf = spark.sparkContext.broadcast(files)

    def probe(key, pdf):
        import pandas as pd

        paths = bf.value.get(int(key[0]), [])
        if not len(pdf) or not paths:
            return pd.DataFrame(
                {n: pd.Series(dtype=object) for n, _ in out_fields}
            )
        probe_set = pdf["bucket"].unique().tolist()
        tbl = pq.read_table(
            paths,
            columns=cols,
            filters=pads.field("bucket").isin(probe_set),
        )
        old = tbl.to_pandas().drop_duplicates(["bucket", "id"])
        if not len(old):
            return pd.DataFrame(
                {n: pd.Series(dtype=object) for n, _ in out_fields}
            )
        # Explicit renames (not merge suffixes): new/state payload
        # name sets may differ, and suffixes only fire on collisions.
        new_side = pdf[["bucket", "id", *new_payload_cols]].rename(
            columns={"id": "id_new",
                     **{c: f"{c}_new" for c in new_payload_cols}}
        )
        old_side = old.rename(
            columns={"id": "id_old",
                     **{c: f"{c}_old" for c in payload_cols}}
        )
        j = new_side.merge(old_side, on="bucket")
        return j[[n for n, _ in out_fields]]

    return (
        new_assignments.withColumn("bpart", _bpart(n_parts))
        .groupBy("bpart")
        .applyInPandas(probe, schema)
    )


def bucket_state_compact(
    spark: SparkSession,
    state_dir: str,
    n_parts: int = 64,
    max_group_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Rewrite every multi-file ``bpart=`` partition down to few (one,
    when it fits the memory budget) files, de-duplicated on
    ``(bucket, id)`` and sorted by ``bucket`` — the periodic
    maintenance step the probe's flat-cost argument assumes. Per-round
    appends add one file per touched partition, so after R rounds a
    probe task opens O(R) footers and its row-group pruning degrades
    (every small file's single row group spans a wide bucket range);
    compaction restores O(1) footers and tight sorted row-group
    ``[min, max]`` bucket stats per partition.

    EAGER: the work runs inside this call (the destructive
    rename+delete must execute exactly once — a lazy frame would redo
    it per action, and a second action would read already-deleted
    files). Returns the per-partition stats as a small materialized
    DataFrame: ``(bpart, files_before, files_after, rows_before,
    rows_after)`` — ``rows_before - rows_after`` counts the duplicate
    rows torn-append retries had accumulated (≤ ``n_parts`` rows, the
    same bounded-driver-collect budget as the iterative ops).

    Embarrassingly parallel — each task owns whole partitions and never
    sees another's files, so there is NO shuffle of state data at any
    state size. Per-task memory is bounded by ``max_group_bytes`` of
    on-disk input per rewrite group, NOT by partition size: an
    oversized partition is size-tiered into contiguous groups, each
    compacted to one sorted file (repeated runs converge, LSM-style),
    so ``n_parts`` does not have to track state growth. Crash-safe by
    commit ordering, the torn-append superset argument in reverse: each
    group's output is written to a dot-prefixed temp name (hidden from
    Spark's file listing AND from ``_state_files``), atomically renamed
    in, and only then are that group's inputs deleted — a crash between
    rename and deletes leaves duplicate ``(bucket, id)`` rows, which
    every reader already drops; orphaned temp files from a crash
    mid-write are swept by the next compaction. A Spark task RETRY
    after some deletes re-runs the group on whatever inputs still
    exist and skips the rest (missing files are tolerated), converging
    to the same deduplicated contents. Must not run concurrently with
    probes/appends on the same directory (a probe that listed files
    before the deletes would hit FileNotFoundError) — run it between
    crawl rounds, exactly like the frontier seen-set's delta
    compaction. Single-file partitions are skipped (already one
    footer; appends write bucket-sorted files)."""
    _check_geometry(state_dir, n_parts, create=False)
    todo = {}
    for p, fs in _state_files(state_dir).items():
        if len(fs) > 1:
            todo[p] = [(f, os.path.getsize(f)) for f in fs]
    schema = (
        "bpart int, files_before int, files_after int,"
        " rows_before bigint, rows_after bigint"
    )
    if not todo:
        return spark.createDataFrame([], schema)
    plan = spark.createDataFrame([(p,) for p in todo], "bpart int")
    bf = spark.sparkContext.broadcast(todo)
    budget = max_group_bytes

    def compact(key, pdf):
        import glob
        import os
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        part = int(key[0])
        sized = bf.value[part]
        d = os.path.dirname(sized[0][0])
        # sweep orphans from a crash mid-write: hidden from every
        # reader, so deletion is always safe
        for orphan in glob.glob(os.path.join(d, ".compact-*.inprogress")):
            os.remove(orphan)
        # size-tiered contiguous groups: per-group input bytes ≤ budget
        # bounds task memory regardless of partition size
        groups, cur, cur_bytes = [], [], 0
        for f, sz in sized:
            if cur and cur_bytes + sz > budget:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += sz
        groups.append(cur)
        files_before = rows_before = rows_after = files_after = 0
        for group in groups:
            # tolerate a task retry that already deleted some inputs
            live = [p for p in group if os.path.exists(p)]
            if not live:
                continue
            if len(live) == 1:
                # already one sorted file (an oversized lone file, or a
                # retry that finished this group) — rewriting gains no
                # footer and no dedup (within-file dups can't occur)
                files_before += 1
                files_after += 1
                n = pq.ParquetFile(live[0]).metadata.num_rows
                rows_before += n
                rows_after += n
                continue
            # one-path reads: a path LIST triggers pyarrow's
            # hive-partition discovery, which would bake a synthetic
            # ``bpart`` column into the output and break schema merges
            tbl = pa.concat_tables([pq.read_table(p) for p in live])
            files_before += len(live)
            rows_before += tbl.num_rows
            # pandas drop_duplicates keeps payload columns aligned with
            # the surviving (bucket, id) row; duplicates are
            # byte-identical retries so which survives is immaterial
            df = tbl.to_pandas().drop_duplicates(["bucket", "id"])
            df = df.sort_values("bucket", kind="stable").reset_index(
                drop=True
            )
            out = pa.Table.from_pandas(
                df, schema=tbl.schema, preserve_index=False
            )
            tmp = os.path.join(
                d, f".compact-{uuid.uuid4().hex}.inprogress"
            )
            # small sorted row groups keep the probe's min/max pruning
            # fine-grained even when a partition holds many buckets
            pq.write_table(out, tmp, row_group_size=65536)
            final = os.path.join(
                d, f"compact-{uuid.uuid4().hex}.parquet"
            )
            os.rename(tmp, final)  # commit point
            for p in live:
                os.remove(p)
            files_after += 1
            rows_after += out.num_rows
        return pd.DataFrame(
            {
                "bpart": [part],
                "files_before": [files_before],
                "files_after": [files_after],
                "rows_before": [rows_before],
                "rows_after": [rows_after],
            }
        )

    stats = plan.groupBy("bpart").applyInPandas(compact, schema).collect()
    return spark.createDataFrame(stats, schema)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
    n_parts: int = 64,
    unpersist_inputs: list | None = None,
) -> DataFrame:
    """MinHash-LSH pairs of a NEW batch against itself and against
    the accumulated state: ``(id_a, id_b, n_shared_bands)`` with
    ``id_a < id_b``, covering new×new (the batch emit from
    :func:`.dedup.grouped_bucket_pairs`) plus new×old (the state
    probe). Does NOT append the batch to the state — see
    :func:`minhash_ingest_round` for the materialize-then-append
    round wrapper (appending before the probe runs would make the
    batch its own "old" side and double-emit every new×new pair).

    ``max_bucket`` (default None here, unlike the batch operator):
    the hot-bucket guard only sees the NEW side's bucket counts, so a
    bucket that crosses the threshold mid-crawl would change which
    pairs later rounds emit and break the union-equivalence contract.
    Run ``exact_dedup`` per round instead (the crawl's url-seen set
    already suppresses refetches); set a guard only when a round's
    batch itself may contain a quadratic identical-text cluster.

    ``unpersist_inputs``: the signature frame is persisted (new×new
    pair gen, the probe and a later state append all consume it — one
    pandas-UDF pass); pass a list to receive the handle and
    ``.unpersist()`` after materializing, like the set-sim joins —
    long-lived crawl sessions leak executor storage otherwise.
    """
    newb = minhash_band_buckets(
        new_docs, text_col, id_col, num_hashes, bands, k,
        # consumed by new×new pair gen AND the probe AND the state
        # append — one signature pass
        persist_sig=True,
        unpersist_inputs=unpersist_inputs,
    )
    id_type = new_docs.schema[id_col].dataType.simpleString()
    new_new = grouped_bucket_pairs(newb, id_type, max_bucket)
    hits = bucket_state_probe(
        newb, state_dir, n_parts, params=_minhash_params(num_hashes, bands, k)
    )
    new_old = (
        # Self-hits (id_new == id_old) only occur when the state
        # already holds rows of the CURRENT batch — the torn-append
        # replay window.  A doc is never a near-dup of itself; without
        # this guard a replayed round would emit (x, x) pairs.
        hits.where(F.col("id_new") != F.col("id_old"))
        .select(
            F.least("id_new", "id_old").alias("id_a"),
            F.greatest("id_new", "id_old").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return new_new.unionByName(new_old)


def minhash_ingest_round(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
    n_parts: int = 64,
) -> DataFrame:
    """One dedup round: compute the batch's pairs against the current
    state, MATERIALIZE them (eager ``localCheckpoint`` — the pair plan
    reads the state files the append is about to grow, and severing
    the lineage is also what makes the returned frame safe to consume
    after this function mutates the directory), then append the
    batch's bucket assignments (the append's signature subplan is
    canonically equal to the persisted one, so the CacheManager
    substitutes the cached frame — still one UDF pass per round) and
    release the round's persisted signature. Returns the checkpointed
    pairs."""
    handles: list = []
    pairs = minhash_lsh_pairs_incremental(
        new_docs, state_dir, text_col, id_col,
        num_hashes, bands, k, max_bucket, n_parts,
        unpersist_inputs=handles,
    ).localCheckpoint(eager=True)
    newb = minhash_band_buckets(
        new_docs, text_col, id_col, num_hashes, bands, k
    )
    bucket_state_append(
        newb, state_dir, n_parts, params=_minhash_params(num_hashes, bands, k)
    )
    for h in handles:
        h.unpersist()
    return pairs


def minhash_novelty_incremental(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    n_parts: int = 64,
    unpersist_inputs: list | None = None,
) -> DataFrame:
    """Per-doc novelty of a NEW crawl batch against the ACCUMULATED
    corpus state — the incremental-curation signal
    (:func:`.dedup.novelty_fraction` is the one-corpus form; this is
    the round-shaped production form): a doc is novel iff it shares NO
    MinHash band bucket with any stored doc. Returns
    ``(id, is_novel boolean)``, one row per distinct input id.

    Read-only: probes the state, never appends (pair a call with
    :func:`minhash_ingest_round` / :func:`bucket_state_append` to
    advance the state afterwards — the signature frame is persisted
    here with ``persist_sig=True``, so a following append's
    canonically-equal signature subplan is served from the cache and
    the minhash md5 kernel still runs ONCE per round; pass
    ``unpersist_inputs`` to receive the handle and release it after
    the round materializes, same contract as
    :func:`minhash_lsh_pairs_incremental`). An absent state (no
    geometry marker yet — round 0 of a fresh crawl) means everything
    is novel, by definition rather than by error. Cost is O(new
    batch): the batch's signatures shuffle once by ``bpart``; the
    state is only touched through row-group-pruned probe reads.
    Novelty here is band-collision novelty — the same candidate
    notion the LSH dedup uses — NOT verified Jaccard similarity; it
    deliberately measures "would the deduper even look at this
    pair"."""
    ids = new_docs.select(F.col(id_col).alias("id")).distinct()
    if not os.path.exists(os.path.join(state_dir, _GEOMETRY)):
        return ids.withColumn("is_novel", F.lit(True))
    newb = minhash_band_buckets(
        new_docs, text_col, id_col, num_hashes, bands, k,
        persist_sig=True,
        unpersist_inputs=unpersist_inputs,
    )
    hits = (
        bucket_state_probe(
            newb, state_dir, n_parts,
            params=_minhash_params(num_hashes, bands, k),
        )
        .select(F.col("id_new").alias("id"))
        .distinct()
    )
    return ids.join(
        hits.withColumn("_hit", F.lit(True)), "id", "left"
    ).select(
        "id", (~F.coalesce("_hit", F.lit(False))).alias("is_novel")
    )


def simhash_near_dups_incremental(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_parts: int = 64,
    unpersist_inputs: list | None = None,
) -> DataFrame:
    """SimHash near-dup pairs of a NEW batch against itself and the
    accumulated state, exact recall at ``max_hamming`` (the pigeonhole
    block argument of :func:`.dedup.simhash_near_dups` holds across
    rounds: a pair within the radius agrees on ≥1 block, and that
    block's bucket row is in the state from whichever round arrived
    first). Output ``(id_a, id_b, hamming)``, ``id_a < id_b``.

    State rows carry the full 64-bit signature as payload so the
    probe verifies hamming exactly on the candidate rows — candidates
    only, never all pairs.

    One signature pass: the ``(id, sh)`` frame is persisted here, and
    the batch operator's and probe's (and a later append's) internal
    signature subplans are canonically equal to it, so the
    CacheManager substitutes the cached frame everywhere — the ~64
    bit-vote simhash kernel never recomputes. ``unpersist_inputs``
    receives the handle (same caller-owned-lifetime contract as the
    minhash path)."""
    from .dedup import simhash_near_dups

    sig = new_docs.select(
        F.col(id_col).alias("id"),
        simhash64_fast(F.col(text_col)).alias("sh"),
    ).persist()
    if unpersist_inputs is not None:
        unpersist_inputs.append(sig)
    new_new = simhash_near_dups(
        new_docs, text_col, id_col, max_hamming, max_bucket=None
    )
    newb = _simhash_chunks(new_docs, text_col, id_col, max_hamming)
    hits = bucket_state_probe(
        newb,
        state_dir,
        n_parts,
        payload_cols=("sh",),
        params=_simhash_params(max_hamming),
    )
    new_old = (
        # self-hit guard: only reachable via the torn-append replay
        # window (state already holding this batch's rows)
        hits.where(F.col("id_new") != F.col("id_old"))
        .select(
            F.least("id_new", "id_old").alias("id_a"),
            F.greatest("id_new", "id_old").alias("id_b"),
            hamming64(F.col("sh_new"), F.col("sh_old")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        # a pair can share several blocks — one output row, like batch
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )
    return new_new.unionByName(new_old)


def simhash_ingest_round(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_parts: int = 64,
) -> DataFrame:
    """SimHash sibling of :func:`minhash_ingest_round`: pairs vs
    current state, eager checkpoint, state append, signature
    release."""
    handles: list = []
    pairs = simhash_near_dups_incremental(
        new_docs, state_dir, text_col, id_col, max_hamming, n_parts,
        unpersist_inputs=handles,
    ).localCheckpoint(eager=True)
    newb = _simhash_chunks(new_docs, text_col, id_col, max_hamming)
    bucket_state_append(
        newb, state_dir, n_parts, params=_simhash_params(max_hamming)
    )
    for h in handles:
        h.unpersist()
    return pairs


def _simhash_chunks(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int
) -> DataFrame:
    """Exploded ``(bucket, id, sh)`` pigeonhole block assignments.
    The blocking itself lives in :func:`.dedup.simhash_block_cols`,
    shared with the batch operator — the cross-round recall proof
    depends on byte-identical bucket strings on both sides."""
    sig = df.select(
        F.col(id_col).alias("id"),
        simhash64_fast(F.col(text_col)).alias("sh"),
    )
    return sig.select(
        F.explode(F.array(*simhash_block_cols(max_hamming))).alias("bucket"),
        "id",
        "sh",
    )


def _semantic_params(threshold: float, k: int) -> dict:
    # threshold is pinned in the geometry: a round probed with a
    # different cut would emit a pair set no full-corpus run can
    # reproduce, breaking the union-equivalence contract the same
    # silent way a num_hashes drift would.
    return {
        "family": "semantic",
        "threshold": round(float(threshold), 6),
        "k": int(k),
    }


def semantic_pairs_incremental(
    assigned: DataFrame,
    state_dir: str,
    threshold: float,
    k: int,
    n_parts: int = 64,
    unpersist_inputs: list | None = None,
) -> DataFrame:
    """SemDeDup-style near-duplicate pairs of a NEW embedding batch
    against itself and the ACCUMULATED corpus state — the cross-round
    production form of :func:`.ann.semdedup`'s within-cluster
    judgment (a 100 TB crawl dedups new pages against everything
    already kept, not one corpus against itself).

    ``assigned`` carries ``(id, cluster, vec)``: cluster assignments
    must come from CENTROIDS FROZEN ACROSS ROUNDS
    (:func:`.ann.ivf_centroids` on round 0 / a training sample, then
    :func:`.ann.ivf_assign` per round — re-fitting centroids
    mid-crawl moves cluster boundaries and silently unlinks stored
    near-duplicates; ``k`` is pinned in the state geometry marker for
    that reason). Returns ``(id_a, id_b, cluster, sim)`` with
    ``id_a < id_b``, ``sim`` the round-6 cosine, covering new×new
    (within-batch, same cluster) plus new×old (state probe). Poison
    assignments (``cluster = -1`` from :func:`.ann.ivf_assign`) never
    pair: cosine is undefined evidence there.

    Scale shape: the batch shuffles once on the cluster key for the
    within-batch equi-join and once by ``bpart`` for the probe; the
    state is only touched through row-group-pruned direct reads
    (:func:`bucket_state_probe`), never shuffled. State rows carry
    the raw vector as payload (dim·4 B/doc — at 10^10 docs swap the
    payload for PQ codes and re-rank the survivors; the probe is
    payload-agnostic). Cluster sizes bound the quadratic term exactly
    as in ``semdedup`` — size k so clusters stay gemm-sized. The
    ``(id, cluster, vec)`` projection is persisted (new×new join +
    probe + a later append all consume it); pass
    ``unpersist_inputs`` to receive the handle, same contract as the
    minhash path."""
    buckets = (
        assigned.where(F.col("cluster") >= 0)
        .select(
            F.col("cluster").cast("int").cast("string").alias("bucket"),
            F.col("id"),
            F.col("vec"),
        )
        .persist()
    )
    if unpersist_inputs is not None:
        unpersist_inputs.append(buckets)
    thr = float(threshold)
    lhs = buckets.select(
        "bucket", F.col("id").alias("id_a"), F.col("vec").alias("_va")
    )
    rhs = buckets.select(
        "bucket", F.col("id").alias("id_b"), F.col("vec").alias("_vb")
    )
    new_new = (
        lhs.join(rhs, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("bucket").cast("int").alias("cluster"),
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(thr))
    )
    hits = bucket_state_probe(
        buckets,
        state_dir,
        n_parts,
        payload_cols=("vec",),
        params=_semantic_params(thr, k),
    )
    new_old = (
        hits.where(F.col("id_new") != F.col("id_old"))
        .select(
            F.least("id_new", "id_old").alias("id_a"),
            F.greatest("id_new", "id_old").alias("id_b"),
            F.col("bucket").cast("int").alias("cluster"),
            # dot/norm are index-aligned sums, so the cosine is exactly
            # symmetric — canonical (least, greatest) order is safe
            F.round(
                cosine_sim(F.col("vec_new"), F.col("vec_old")), 6
            ).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(thr))
    )
    return new_new.unionByName(new_old)


def semantic_ingest_round(
    assigned: DataFrame,
    state_dir: str,
    threshold: float,
    k: int,
    n_parts: int = 64,
) -> DataFrame:
    """Embedding sibling of :func:`minhash_ingest_round`: pairs vs the
    current state, eager checkpoint (the pair plan reads the state
    files the append is about to grow), state append of the batch's
    ``(cluster, id, vec)`` rows, signature release. The append's
    projection is canonically equal to the persisted one, so the
    CacheManager serves it — the assignment frame computes once per
    round."""
    handles: list = []
    pairs = semantic_pairs_incremental(
        assigned, state_dir, threshold, k, n_parts,
        unpersist_inputs=handles,
    ).localCheckpoint(eager=True)
    newb = assigned.where(F.col("cluster") >= 0).select(
        F.col("cluster").cast("int").cast("string").alias("bucket"),
        F.col("id"),
        F.col("vec"),
    )
    bucket_state_append(
        newb, state_dir, n_parts, params=_semantic_params(threshold, k)
    )
    for h in handles:
        h.unpersist()
    return pairs


def _semantic_pq_params(
    threshold: float, k: int, codebooks, slack: float
) -> dict:
    # The codebooks ARE geometry: state probed with different
    # codebooks decodes different reconstructions and silently
    # changes the candidate screen, exactly the num_hashes-drift
    # failure class — so their digest is pinned in the marker and a
    # drifted caller refuses instead of unlinking dups.
    import hashlib
    import json

    digest = hashlib.md5(
        json.dumps(codebooks, sort_keys=True).encode()
    ).hexdigest()
    return {
        "family": "semantic_pq",
        "threshold": round(float(threshold), 6),
        "k": int(k),
        "slack": round(float(slack), 6),
        "m": len(codebooks),
        "codebooks_md5": digest,
    }


def _adc_cosine(vec_new, codes_old, codebooks):
    """JVM-side asymmetric-distance cosine: ``dot(vec_new,
    reconstruct(codes_old)) / (‖vec_new‖·‖reconstruct(codes_old)‖)``
    where reconstruction is m broadcast-literal codebook lookups —
    the float vector of the OLD doc is never read (it isn't stored).
    Index-aligned sequential folds, so the round-6 value is
    engine-portable (the oracle reproduces it in SQL).  All
    higher-order functions — no UDF; O(dim) work per pair."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cb_lit = F.array(*[
        F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in sub
        ])
        for sub in codebooks
    ])
    # per-(sub, code) squared norms — tiny m×ksub literal table
    sqn_lit = F.array(*[
        F.array(*[
            F.lit(float(sum(x * x for x in c))) for c in sub
        ])
        for sub in codebooks
    ])
    dot = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.aggregate(
            F.sequence(F.lit(1), F.lit(dsub)),
            F.lit(0.0),
            lambda a2, i: a2
            + F.element_at(vec_new, (s - F.lit(1)) * F.lit(dsub) + i)
            .cast("double")
            * F.element_at(
                F.element_at(
                    F.element_at(cb_lit, s),
                    F.element_at(codes_old, s) + F.lit(1),
                ),
                i,
            ),
        ),
    )
    new_sq = F.aggregate(
        F.transform(vec_new, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    recon_sq = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(sqn_lit, s), F.element_at(codes_old, s) + F.lit(1)
        ),
    )
    return F.round(F.try_divide(dot, F.sqrt(new_sq * recon_sq)), 6)


def semantic_pairs_incremental_pq(
    assigned: DataFrame,
    state_dir: str,
    threshold: float,
    k: int,
    codebooks,
    corpus_vecs: DataFrame,
    slack: float = 0.1,
    n_parts: int = 64,
    unpersist_inputs: list | None = None,
) -> DataFrame:
    """:func:`semantic_pairs_incremental` with a PRODUCT-QUANTIZED
    state payload — the 10^10-doc fix its sibling's docstring names:
    raw float vectors cost dim·4 B/doc of state (2.6 TB at 10^10 ×
    64 dims), PQ codes cost m bytes (80 GB at m=8), and state I/O is
    the per-round bottleneck the bucket design exists to bound.

    Mechanics per round: the batch's vectors encode to codes
    (:func:`.ann.pq_encode` against codebooks FROZEN across rounds —
    digest pinned in the state geometry); new×new pairs stay exact
    (both vectors are in hand); the new×old probe reads only
    ``codes`` from state and screens candidates with the asymmetric
    ADC cosine at ``threshold - slack``; survivors re-rank by exact
    cosine against ``corpus_vecs`` — the system-of-record embeddings
    table (id, vec), which a crawl always has — and the final cut is
    the exact ``sim >= threshold``.  The screen is the one
    approximation: a true pair whose ADC cosine falls below
    ``threshold - slack`` is missed, the documented PQ recall trade
    (size ``slack`` from the measured ADC error band; the oracle
    reproduces the screen, so parity is exact, not merely bounded).

    Scale shape: identical to the float-payload sibling — batch
    shuffles once on cluster and once on bpart; state is only touched
    by row-group-pruned direct reads of the m-byte codes; the re-rank
    join touches ``corpus_vecs`` only for screened candidates
    (O(candidates), not O(state))."""
    enc = pq_encode(assigned.where(F.col("cluster") >= 0), codebooks, "vec")
    buckets = enc.select(
        F.col("cluster").cast("int").cast("string").alias("bucket"),
        F.col("id"),
        F.col("vec"),
        F.col("codes"),
    ).persist()
    if unpersist_inputs is not None:
        unpersist_inputs.append(buckets)
    thr = float(threshold)
    params = _semantic_pq_params(thr, k, codebooks, slack)
    lhs = buckets.select(
        "bucket", F.col("id").alias("id_a"), F.col("vec").alias("_va")
    )
    rhs = buckets.select(
        "bucket", F.col("id").alias("id_b"), F.col("vec").alias("_vb")
    )
    new_new = (
        lhs.join(rhs, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("bucket").cast("int").alias("cluster"),
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(thr))
    )
    hits = bucket_state_probe(
        buckets,
        state_dir,
        n_parts,
        payload_cols=("codes",),
        params=params,
        new_payload_cols=("vec",),
    )
    cands = (
        hits.where(F.col("id_new") != F.col("id_old"))
        .withColumn(
            "_adc", _adc_cosine(F.col("vec_new"), F.col("codes_old"), codebooks)
        )
        .where(F.col("_adc") >= F.lit(thr - float(slack)))
    )
    reranked = (
        cands.join(
            corpus_vecs.select(
                F.col("id").alias("id_old"), F.col("vec").alias("_vo")
            ),
            "id_old",
        )
        .select(
            F.least("id_new", "id_old").alias("id_a"),
            F.greatest("id_new", "id_old").alias("id_b"),
            F.col("bucket").cast("int").alias("cluster"),
            F.round(cosine_sim(F.col("vec_new"), F.col("_vo")), 6).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= F.lit(thr))
    )
    return new_new.unionByName(reranked)


def semantic_ingest_round_pq(
    assigned: DataFrame,
    state_dir: str,
    threshold: float,
    k: int,
    codebooks,
    corpus_vecs: DataFrame,
    slack: float = 0.1,
    n_parts: int = 64,
) -> DataFrame:
    """PQ-payload sibling of :func:`semantic_ingest_round`: pairs vs
    the current state (ADC screen + exact re-rank), eager checkpoint,
    then append the batch's ``(cluster, id, codes)`` rows — m bytes of
    payload per doc instead of dim·4."""
    handles: list = []
    pairs = semantic_pairs_incremental_pq(
        assigned, state_dir, threshold, k, codebooks, corpus_vecs,
        slack, n_parts, unpersist_inputs=handles,
    ).localCheckpoint(eager=True)
    newb = handles[0].select("bucket", "id", "codes") if handles else None
    bucket_state_append(
        newb,
        state_dir,
        n_parts,
        params=_semantic_pq_params(threshold, k, codebooks, slack),
    )
    for h in handles:
        h.unpersist()
    return pairs


def _exact_params() -> dict:
    return {"family": "exact"}


def exact_ingest_round(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_parts: int = 64,
) -> DataFrame:
    """Exact-duplicate screening of a NEW crawl batch against the
    accumulated corpus — crawl-order first-occurrence semantics (the
    :func:`.dedup.novelty_fraction` arrival convention): per batch doc
    returns ``(id, is_dup, first_id)`` where ``first_id`` is the
    EARLIEST-ARRIVED doc with byte-identical text (a stored doc from
    any earlier round, else the min-id copy within this batch) and
    NULL for first occurrences. The state then advances by the batch's
    first occurrences ONLY — one ``(md5(text), id)`` row per distinct
    content ever seen, so unlike the signature states the exact state
    grows with DISTINCT content, not with the corpus (the 60%-dup
    web crawl stores 40% of its rows).

    Processing rounds in crawl order reproduces the batch
    ``exact_dedup`` winner election exactly (ids ascend with arrival,
    so "earliest arrived" = "min id" — the q163 oracle's contract);
    under out-of-order ingestion the winners are arrival-first, which
    is what a crawl ACTUALLY means by canonical. NULL text hashes to
    the ``'<NULL>'`` sentinel bucket (all NULL-text docs are mutual
    duplicates — they carry no distinguishing bytes; route them to
    the length gates regardless).

    Scale shape: one md5 projection + one grouped min over the batch,
    one row-group-pruned state probe (≤1 stored row per bucket, so the
    probe output is ≤batch-sized), zero shuffles of the state. The
    returned frame is localCheckpoint-materialized BEFORE the append
    mutates the directory the probe plan reads (the ingest-round
    invariant shared by every wrapper here)."""
    b = new_docs.select(
        F.coalesce(F.md5(F.col(text_col)), F.lit("<NULL>")).alias(
            "bucket"
        ),
        F.col(id_col).alias("id"),
    ).persist()
    hits = (
        bucket_state_probe(b, state_dir, n_parts, params=_exact_params())
        # Self-hits only occur when a torn append left the CURRENT
        # batch's rows in state — a replayed doc must not be flagged
        # as a duplicate of itself.
        .where(F.col("id_new") != F.col("id_old"))
        # one stored row per bucket by construction; the min-agg makes
        # the join safe even if a torn append ever left siblings
        .groupBy("id_new")
        .agg(F.min("id_old").alias("id_old"))
    )
    bmin = b.groupBy("bucket").agg(F.min("id").alias("_bmin"))
    out = (
        b.join(bmin, "bucket")
        .join(hits, b["id"] == hits["id_new"], "left")
        .select(
            "id",
            F.coalesce(
                F.col("id_old"),
                F.when(F.col("_bmin") < F.col("id"), F.col("_bmin")),
            ).alias("first_id"),
        )
        .select(
            "id",
            F.col("first_id").isNotNull().alias("is_dup"),
            "first_id",
        )
        .localCheckpoint(eager=True)
    )
    firsts = (
        b.join(bmin, "bucket")
        .where(F.col("id") == F.col("_bmin"))
        .join(hits, b["id"] == hits["id_new"], "left_anti")
        .select("bucket", "id")
    )
    bucket_state_append(firsts, state_dir, n_parts, params=_exact_params())
    b.unpersist()
    return out
