"""Partitioned cuckoo filter — the URL-seen-set prefilter of the north
rule's "bloom/cuckoo URL-seen set" contract (BASELINE.json), and the
frontier's only one (``frontier.py::_ensure_cuckoo``).

Reference behavior: the reference crawler keeps its "seen" state as
driver-side per-url JSON bookkeeping — each processed url is written
to `logging.json` keyed by id/url
(`/root/reference/langscrape/nodes/post_processor.py:71-94`) and the
run loop re-reads/re-writes that log per id
(`/root/reference/scripts/run.py:92-95`); neither filter exists there
— this is the from-scratch scale design. Fan/Andersen/Kaminsky/Mitzenmacher, "Cuckoo Filter:
Practically Better Than Bloom" (CoNEXT 2014).

Why a cuckoo filter rather than a bloom filter: both answer "maybe
seen / definitely new", but a bloom cannot UNLEARN a url — and a
production crawler must re-admit pages due for revisit
(`revisit_schedule`, q48).  With a bloom, revisit-due urls are
forever "maybe seen" and every one of them pays the exact anti-join.
The cuckoo filter stores displaceable fingerprints, so a revisit
sweep can DELETE the due urls from the filter and they flow through
the cheap "definitely new" path again — the screen stays aligned with
the *effective* seen set (seen minus revoked) instead of the
historical insert log (q187).

Sharding mirrors the seen-set layout: urls bucket by
``pmod(xxhash64(url), n_buckets)`` (one independent filter table per
bucket, a binary blob row), so build/insert/delete/probe all run as
ONE cogrouped Arrow pass per bucket — the blobs never replicate per
candidate row, hot hosts spread by url hash, and per-round I/O is
O(touched buckets).

In-bucket mechanics (all integer, deterministic, order-canonicalized
— a filter built from any partitioning/arrival order is byte-equal,
pinned by tests):
- 64-bit url hash ``h`` (Spark ``xxhash64``, computed JVM-side).
- fingerprint  ``fp = 1 + (h >>> 20) % (2^fbits - 1)`` (never 0 = empty).
- home bucket  ``i1 = (h >> ceil(log2(n_buckets))) & (m-1)`` — the
  shard key is ``pmod(h, n_buckets)``, i.e. (for the default
  power-of-two shard counts) the LOW ``log2(n_buckets)`` bits of
  ``h``; deriving i1 from the bits ABOVE those keeps the in-shard
  home-bucket distribution uniform.  (Deriving i1 from ``h & (m-1)``
  directly would freeze the low ``log2(n_buckets)`` bits of every i1
  within a shard, leaving only ``m/n_buckets`` reachable home buckets
  per shard and saturating insertion around 0.45 load — half the
  0.84 design point.  Pinned by ``test_cuckoo.py``'s design-load
  soak.)  Alternate ``i2 = i1 XOR (fp * 0x5bd1e995 & (m-1))`` — an
  involution, so either index recovers the other (the property
  deletion relies on).
- insertion sorts each batch by (h, fp) first, tries i1's slots in
  order, then i2's, then a BOUNDED eviction walk (deterministic
  victim slot = kick mod b).  A failed walk marks the whole bucket
  ``saturated`` — probes there answer maybe=True, so saturation
  degrades precision, NEVER correctness (no false negatives).
- colliding fingerprints in a bucket pair are stored as DUPLICATE
  COPIES (paper §3.2, up to 2b of them): two distinct urls on the
  same (bucket-pair, fp) each keep a copy, so deleting one never
  removes the other's evidence — deletion introduces NO false
  negatives as long as each url is inserted at most once (which the
  frontier guarantees: only exact-checked NEW urls are inserted).
  Per-batch duplicate urls collapse via the canonical hash sort, so
  a url repeated within one batch still stores one copy.
- deletion of a never-inserted url is a no-op (counted in the blob's
  ``n_deleted_miss`` so the caller can assert the invariant that
  deletions come from the seen set).

Capacity: b=4 slots/bucket sustains ~0.95 load (paper, Table 2); we
size ``m`` for 0.84 by default and the eviction bound makes overflow
loud (saturated flag) instead of silent.  FPP ~= 2b/2^fbits
(~1.2e-4 at fbits=16) — measured in tests.

At 10^10 urls: 16 bits x 4 slots x (10^10/0.84) ~ 11 GiB total,
spread over n_buckets blobs (e.g. 4096 buckets -> ~3 MiB each), each
bucket's blob living next to its seen-set bucket — the bucket is the
dynamic-partition-overwrite merge unit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

_EMPTY_PDF_COLS = ["bucket", "table", "n_items", "saturated", "n_deleted_miss"]
_STATE_SCHEMA = (
    "bucket int, table binary, n_items long, saturated boolean, "
    "n_deleted_miss long"
)
_MAX_KICKS = 500
_FP_MIX = 0x5BD1E995  # Murmur2 multiplier — mixes fp into the XOR offset


@dataclass(frozen=True)
class CuckooConfig:
    n_buckets: int = 32         # filter shards (mirror seen_partitions)
    m: int = 4096               # in-bucket cuckoo buckets (power of two)
    b: int = 4                  # slots per cuckoo bucket
    fbits: int = 16             # fingerprint bits (8 or 16)

    def __post_init__(self):
        if self.m & (self.m - 1):
            raise ValueError("m must be a power of two")
        if self.fbits not in (8, 16):
            raise ValueError("fbits must be 8 or 16 (uint8/uint16 table)")

    @property
    def dtype(self) -> str:
        return "uint8" if self.fbits == 8 else "uint16"

    @property
    def fp_mod(self) -> int:
        return (1 << self.fbits) - 1


def _bucket_col(cfg: CuckooConfig):
    return F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int")


def _hashed(urls: DataFrame, cfg: CuckooConfig) -> DataFrame:
    """(bucket, h) per url — the only columns that cross the shuffle."""
    return urls.select(
        _bucket_col(cfg).alias("bucket"), F.xxhash64("url").alias("h")
    )


def _fp_i1_i2(h, cfg: CuckooConfig):
    """numpy (fp, i1, i2) for an int64 hash array — shared by insert,
    delete and probe so the three passes can never disagree."""
    import numpy as np

    u = h.astype(np.uint64)
    fp = (1 + (u >> np.uint64(20)) % np.uint64(cfg.fp_mod)).astype(np.uint64)
    mask = np.uint64(cfg.m - 1)
    # Skip the low bits consumed by the shard key pmod(h, n_buckets):
    # for the default power-of-two shard counts those bits are
    # CONSTANT within a shard, and using them for i1 would leave only
    # m/n_buckets home buckets reachable per shard (saturation at
    # ~0.45 load instead of the 0.84 design point).
    shard_bits = np.uint64(max(0, cfg.n_buckets - 1).bit_length())
    i1 = (u >> shard_bits) & mask
    i2 = i1 ^ ((fp * np.uint64(_FP_MIX)) & mask)
    return fp, i1.astype(np.int64), i2.astype(np.int64)


def _new_table(cfg: CuckooConfig):
    import numpy as np

    return np.zeros(cfg.m * cfg.b, dtype=cfg.dtype)


def _slot_view(table, idx, cfg: CuckooConfig):
    return table[idx * cfg.b : idx * cfg.b + cfg.b]


def _insert_into(table, fps, i1s, i2s, cfg: CuckooConfig):
    """Insert (fp, i1, i2) triples into a numpy table IN ORDER.
    Returns (n_inserted, saturated).  Colliding fingerprints are
    stored as duplicate copies (paper §3.2) — see the comment below;
    per-batch duplicate *urls* were already collapsed upstream by the
    canonical hash sort."""
    n_new = 0
    for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
        s1 = _slot_view(table, i1, cfg)
        s2 = _slot_view(table, i2, cfg)
        # DUPLICATE COPIES ARE STORED (paper §3.2, up to 2b): two
        # distinct urls colliding on (bucket-pair, fp) each keep
        # their own copy, so deleting one NEVER removes the other's
        # evidence — the property that keeps deletion free of false
        # negatives. The caller contract (enforced by the frontier's
        # exact-check-before-insert flow, documented in cuckoo_update)
        # is that each url is inserted at most once.
        placed = False
        for s in (s1, s2):
            empties = (s == 0).nonzero()[0]
            if len(empties):
                s[empties[0]] = fp
                placed = True
                break
        if placed:
            n_new += 1
            continue
        # Bounded deterministic eviction walk from i1.
        cur, carry = i1, fp
        for kick in range(_MAX_KICKS):
            sv = _slot_view(table, cur, cfg)
            victim_slot = kick % cfg.b
            carry, sv[victim_slot] = int(sv[victim_slot]), carry
            cur = cur ^ int(
                (carry * _FP_MIX) & (cfg.m - 1)
            )
            sv = _slot_view(table, cur, cfg)
            empties = (sv == 0).nonzero()[0]
            if len(empties):
                sv[empties[0]] = carry
                placed = True
                break
        if placed:
            n_new += 1
        else:
            return n_new, True
    return n_new, False


def _delete_from(table, fps, i1s, i2s, cfg: CuckooConfig):
    """Remove fingerprints (first match in i1's slots, else i2's).
    Returns (n_deleted, n_miss)."""
    n_del = n_miss = 0
    for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
        hit = False
        for idx in (i1, i2):
            s = _slot_view(table, idx, cfg)
            where = (s == fp).nonzero()[0]
            if len(where):
                s[where[0]] = 0
                hit = True
                break
        if hit:
            n_del += 1
        else:
            n_miss += 1
    return n_del, n_miss


def _canon_sort(pdf):
    """Canonical in-bucket processing order — makes the filter a pure
    function of the url SET, independent of partitioning/arrival."""
    return pdf.sort_values("h", kind="mergesort").drop_duplicates("h")


def cuckoo_build(urls: DataFrame, cfg: CuckooConfig) -> DataFrame:
    """Build the bucketed filter state from scratch: one grouped Arrow
    pass, one blob row per touched bucket.  Equal to
    ``cuckoo_update(empty, urls)`` — pinned by tests."""
    import pandas as pd

    def pack(key, pdfs):
        h = _canon_sort(pd.concat(list(pdfs)))["h"].to_numpy("int64")
        table = _new_table(cfg)
        fp, i1, i2 = _fp_i1_i2(h, cfg)
        n, sat = _insert_into(table, fp, i1, i2, cfg)
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "table": [table.tobytes()],
                "n_items": [n],
                "saturated": [sat],
                "n_deleted_miss": [0],
            }
        )

    return (
        _hashed(urls, cfg)
        .groupBy("bucket")
        .applyInPandas(lambda k, pdf: pack(k, [pdf]), _STATE_SCHEMA)
    )


def cuckoo_update(
    state: DataFrame,
    insert_urls: DataFrame | None,
    cfg: CuckooConfig,
    delete_urls: DataFrame | None = None,
    changed_only: bool = False,
) -> DataFrame:
    """Apply deletions then insertions to the stored blobs (deletions
    first so a url revoked and re-crawled in the same round ends up
    PRESENT).  ``changed_only=True`` emits only touched buckets — the
    dynamic-partition-overwrite merge unit, so per-round I/O is
    O(touched buckets).

    Caller contract: insert each url AT MOST ONCE across the state's
    lifetime (the frontier satisfies this — only urls that passed the
    exact seen-check are inserted).  Re-inserting stores a second
    copy, which is harmless for probes but means one delete leaves
    the url still "present"."""
    import pandas as pd

    spark = state.sparkSession
    empty = spark.createDataFrame([], "bucket int, h long, _op string")
    ops = empty
    if insert_urls is not None:
        ops = ops.unionByName(
            _hashed(insert_urls, cfg).withColumn("_op", F.lit("i"))
        )
    if delete_urls is not None:
        ops = ops.unionByName(
            _hashed(delete_urls, cfg).withColumn("_op", F.lit("d"))
        )

    def merge(key, state_pdf, ops_pdf):
        if changed_only and not len(ops_pdf):
            return pd.DataFrame(columns=_EMPTY_PDF_COLS).astype(
                {
                    "bucket": "int32",
                    "table": "object",
                    "n_items": "int64",
                    "saturated": "bool",
                    "n_deleted_miss": "int64",
                }
            )
        import numpy as np

        if len(state_pdf):
            table = np.frombuffer(
                bytes(state_pdf["table"].iloc[0]), dtype=cfg.dtype
            ).copy()
            n_items = int(state_pdf["n_items"].iloc[0])
            sat = bool(state_pdf["saturated"].iloc[0])
            miss = int(state_pdf["n_deleted_miss"].iloc[0])
        else:
            table, n_items, sat, miss = _new_table(cfg), 0, False, 0
        dels = _canon_sort(ops_pdf[ops_pdf["_op"] == "d"])
        if len(dels):
            fp, i1, i2 = _fp_i1_i2(dels["h"].to_numpy("int64"), cfg)
            n_del, n_miss = _delete_from(table, fp, i1, i2, cfg)
            n_items -= n_del
            miss += n_miss
        ins = _canon_sort(ops_pdf[ops_pdf["_op"] == "i"])
        if len(ins):
            fp, i1, i2 = _fp_i1_i2(ins["h"].to_numpy("int64"), cfg)
            n_new, now_sat = _insert_into(table, fp, i1, i2, cfg)
            n_items += n_new
            sat = sat or now_sat
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "table": [table.tobytes()],
                "n_items": [n_items],
                "saturated": [sat],
                "n_deleted_miss": [miss],
            }
        )

    return (
        state.groupBy("bucket")
        .cogroup(ops.groupBy("bucket"))
        .applyInPandas(merge, _STATE_SCHEMA)
    )


def cuckoo_probe(
    candidates: DataFrame,
    state: DataFrame,
    cfg: CuckooConfig,
    out: str = "maybe_seen",
) -> DataFrame:
    """Candidates + ``maybe_seen`` flag: fingerprint present in either
    bucket of its pair, or the whole bucket blob is saturated.  One
    cogrouped Arrow pass; inside each bucket the membership test is a
    vectorized table gather, no per-row python.  No false negatives
    (tested); false positives fall through to the exact anti-join, so
    admission stays exact.

    ``state`` must be the FULL filter state (every bucket ever
    touched): a candidate whose bucket has no blob reads as
    definitely-new.  Probing a ``changed_only`` DELTA frame would
    silently answer False for untouched buckets — merge deltas into
    the stored full state first (the frontier's `_STATE` marker flow)."""
    import pandas as pd

    cand = candidates.withColumn("_bucket", _bucket_col(cfg)).withColumn(
        "_h", F.xxhash64("url")
    )
    out_cols = candidates.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields
    ) + f", {out} boolean"

    def probe(key, cand_pdf, state_pdf):
        import numpy as np

        if not len(cand_pdf):
            return pd.DataFrame(columns=out_cols + [out])
        res = cand_pdf[out_cols].copy()
        if not len(state_pdf):
            res[out] = False
            return res
        if bool(state_pdf["saturated"].iloc[0]):
            res[out] = True
            return res
        table = np.frombuffer(
            bytes(state_pdf["table"].iloc[0]), dtype=cfg.dtype
        ).reshape(cfg.m, cfg.b)
        fp, i1, i2 = _fp_i1_i2(cand_pdf["_h"].to_numpy("int64"), cfg)
        fpc = fp.astype(table.dtype)[:, None]
        res[out] = (table[i1] == fpc).any(axis=1) | (
            table[i2] == fpc
        ).any(axis=1)
        return res

    return (
        cand.groupBy("_bucket")
        .cogroup(state.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def cuckoo_stats(state: DataFrame, cfg: CuckooConfig) -> DataFrame:
    """One row of filter health: items, load factor, saturated
    buckets, deletion misses — the per-round lineage row a production
    crawl logs next to the seen-set metrics."""
    cap = cfg.m * cfg.b
    return state.agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("n_items").alias("n_items"),
        F.round(F.sum("n_items") / F.lit(float(cap)) / F.count(F.lit(1)), 6).alias(
            "load_factor"
        ),
        F.sum(F.col("saturated").cast("long")).alias("n_saturated"),
        F.sum("n_deleted_miss").alias("n_deleted_miss"),
    )
