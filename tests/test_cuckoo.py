"""Partitioned cuckoo filter (scheduler/cuckoo.py) — the
deletion-capable URL-seen prefilter. Contracts pinned here:
no false negatives (including under saturation), measured FPP near
the 2b/2^f analytic bound, deletion re-opens urls, set-function
determinism (partitioning/arrival order never changes the blobs),
and incremental update ≡ rebuild in membership semantics."""

import pytest
from pyspark.sql import functions as F

from langscrape_spark.scheduler.cuckoo import (
    CuckooConfig,
    cuckoo_build,
    cuckoo_probe,
    cuckoo_stats,
    cuckoo_update,
)

CFG = CuckooConfig(n_buckets=8, m=1024, b=4, fbits=16)


def _urls(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % 97).cast("string"),
            F.lit(f".example/{tag}/"),
            F.col("id").cast("string"),
        ).alias("url")
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 0, 5000)
    state = cuckoo_build(seen, CFG)
    probed = cuckoo_probe(seen, state, CFG)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_fpp_near_analytic_bound(spark):
    seen = _urls(spark, 0, 5000)
    state = cuckoo_build(seen, CFG)
    fresh = _urls(spark, 100_000, 120_000)
    fp = cuckoo_probe(fresh, state, CFG).where(F.col("maybe_seen")).count()
    fpp = fp / 20_000
    bound = 2 * CFG.b / (1 << CFG.fbits)  # ~1.2e-4
    assert fpp <= 5 * bound + 1e-9, f"fpp {fpp} vs bound {bound}"


def test_partition_invariance_byte_equal(spark):
    seen = _urls(spark, 0, 4000)
    a = {
        r["bucket"]: bytes(r["table"])
        for r in cuckoo_build(seen.repartition(1), CFG).collect()
    }
    b = {
        r["bucket"]: bytes(r["table"])
        for r in cuckoo_build(seen.repartition(17), CFG).collect()
    }
    assert a == b


def test_build_equals_update_on_empty(spark):
    seen = _urls(spark, 0, 3000)
    empty = spark.createDataFrame(
        [],
        "bucket int, table binary, n_items long, saturated boolean, "
        "n_deleted_miss long",
    )
    built = {
        r["bucket"]: bytes(r["table"]) for r in cuckoo_build(seen, CFG).collect()
    }
    updated = {
        r["bucket"]: bytes(r["table"])
        for r in cuckoo_update(empty, seen, CFG).collect()
    }
    assert built == updated


def test_incremental_update_membership_equivalent(spark):
    """Blob bytes may differ between one-shot and two-round builds
    (slot arrangement is order-dependent across batches); MEMBERSHIP
    must not: same maybe_seen answer for every probe."""
    a = _urls(spark, 0, 2500)
    b = _urls(spark, 2500, 5000)
    full = cuckoo_build(a.unionByName(b), CFG)
    inc = cuckoo_update(cuckoo_build(a, CFG), b, CFG)
    probes = _urls(spark, 0, 6000)
    got_full = {
        r["url"]: r["maybe_seen"]
        for r in cuckoo_probe(probes, full, CFG).collect()
    }
    got_inc = {
        r["url"]: r["maybe_seen"]
        for r in cuckoo_probe(probes, inc, CFG).collect()
    }
    # Seen urls must be True in BOTH (no false negatives); unseen may
    # differ only in the false-positive direction.
    seen_urls = {r["url"] for r in a.unionByName(b).collect()}
    for u in seen_urls:
        assert got_full[u] and got_inc[u]
    diff = [u for u in got_full if got_full[u] != got_inc[u]]
    assert len(diff) <= 5  # only FP-noise may differ


def test_deletion_reopens_urls(spark):
    seen = _urls(spark, 0, 5000)
    due = _urls(spark, 0, 5000).where(F.xxhash64("url") % 7 == 0)
    state = cuckoo_update(cuckoo_build(seen, CFG), None, CFG, delete_urls=due)
    probed = {
        r["url"]: r["maybe_seen"]
        for r in cuckoo_probe(seen, state, CFG).collect()
    }
    due_urls = {r["url"] for r in due.collect()}
    kept = [u for u in probed if u not in due_urls]
    reopened = [u for u in due_urls if not probed[u]]
    # Every kept url still screens True — duplicate-copy storage
    # (paper §3.2) makes deletion exactly safe: x's delete removes
    # x's copy, never y's, so ZERO false negatives, not "a few".
    false_neg_kept = [u for u in kept if not probed[u]]
    assert false_neg_kept == [], false_neg_kept
    # The vast majority of deleted urls screen False again.
    assert len(reopened) >= 0.99 * len(due_urls)
    st = cuckoo_stats(state, CFG).collect()[0]
    assert st["n_deleted_miss"] == 0


def test_delete_then_reinsert_same_round_is_present(spark):
    urls = _urls(spark, 0, 100)
    state = cuckoo_build(urls, CFG)
    state2 = cuckoo_update(state, urls, CFG, delete_urls=urls)
    assert (
        cuckoo_probe(urls, state2, CFG).where(~F.col("maybe_seen")).count()
        == 0
    )


def test_deletion_miss_counter(spark):
    state = cuckoo_build(_urls(spark, 0, 100), CFG)
    ghost = _urls(spark, 50_000, 50_020)
    state2 = cuckoo_update(state, None, CFG, delete_urls=ghost)
    st = cuckoo_stats(state2, CFG).collect()[0]
    # A ghost deletion is a no-op on the table but counts as a miss
    # (minus any fp collision that "found" something to delete).
    assert st["n_deleted_miss"] >= 18


def test_saturation_degrades_to_all_maybe_not_false_negative(spark):
    tiny = CuckooConfig(n_buckets=1, m=16, b=2, fbits=8)
    urls = _urls(spark, 0, 2000)  # way past 16*2 capacity
    state = cuckoo_build(urls, tiny)
    st = cuckoo_stats(state, tiny).collect()[0]
    assert st["n_saturated"] == 1
    probed = cuckoo_probe(urls, state, tiny)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_changed_only_emits_touched_buckets(spark):
    state = cuckoo_build(_urls(spark, 0, 4000), CFG)
    one = _urls(spark, 9_000_000, 9_000_001)
    delta = cuckoo_update(state, one, CFG, changed_only=True)
    assert delta.count() == 1


def test_stats_load_factor(spark):
    seen = _urls(spark, 0, 5000)
    st = cuckoo_stats(cuckoo_build(seen, CFG), CFG).collect()[0]
    assert st["n_items"] == 5000
    assert 0 < st["load_factor"] < 0.84
    assert st["n_saturated"] == 0


def test_design_load_no_saturation_under_shard_correlation():
    """Per-shard design-load soak (pure numpy, no Spark): insert the
    0.84-design-point number of urls whose hashes are ALL from one
    shard (low ``log2(n_buckets)`` bits frozen — exactly what
    ``pmod(xxhash64(url), n_buckets)`` sharding feeds each filter) and
    assert the table does NOT saturate and the home-bucket
    distribution stays uniform.

    Regression-pins the i1/shard-key decorrelation: with the old
    ``i1 = h & (m-1)`` derivation, frozen low bits left only
    ``m/n_buckets`` home buckets reachable per shard (512 of 16384 at
    this geometry) and insertion saturated around 0.45 load — half
    the documented design point."""
    import numpy as np

    from langscrape_spark.scheduler.cuckoo import (
        CuckooConfig,
        _fp_i1_i2,
        _insert_into,
        _new_table,
    )

    cfg = CuckooConfig(n_buckets=32, m=16384, b=4, fbits=16)
    n = int(0.84 * cfg.m * cfg.b)  # 55050 urls — the design point
    rng = np.random.default_rng(20260821)
    # Distinct 64-bit hashes, low 5 bits frozen to shard 5 — the
    # in-shard hash population under pmod(h, 32) sharding.
    top = rng.choice(np.iinfo(np.int64).max >> 5, size=n, replace=False)
    h = ((top.astype(np.uint64) << np.uint64(5)) | np.uint64(5)).astype(
        np.int64
    )
    fp, i1, i2 = _fp_i1_i2(h, cfg)
    # Decorrelation: home buckets must span (nearly) the whole table,
    # not the m/n_buckets sliver the correlated derivation reaches.
    # Poisson coverage at n/m ~ 3.4 balls/bin is ~96.6% of bins.
    assert len(np.unique(i1)) > 0.9 * cfg.m
    table = _new_table(cfg)
    n_ins, saturated = _insert_into(table, fp, i1, i2, cfg)
    assert not saturated, (
        f"saturated at design load: {n_ins}/{n} inserted "
        f"({n_ins / (cfg.m * cfg.b):.2f} load)"
    )
    assert n_ins == n


def test_cuckoo_cfg_sized_for_activation_threshold():
    """frontier._cuckoo_cfg must size the filter for the seen count
    at which it ACTIVATES (prefilter_min_seen), with one shard per
    seen partition — otherwise first activation builds at ~0.95+
    nominal load and hard-saturates every shard to all-maybe.  It must
    also grow with the live seen count (amortized doubling via the
    _STATE marker rebuild)."""
    from langscrape_spark.scheduler.frontier import (
        CrawlConfig,
        _cuckoo_cfg,
        _cuckoo_marker,
    )

    cfg = CrawlConfig()
    base = _cuckoo_cfg(cfg)
    # the default geometry is pinned: a changed stamp would force every
    # existing catalog's filter through a full rebuild on resume
    assert _cuckoo_marker(base, 3) == {
        "round": 3, "m": 32768, "b": 4, "fbits": 16, "buckets": 32, "i1v": 2,
    }
    assert base.n_buckets == cfg.seen_partitions
    # capacity at <=0.84 load must cover the activation threshold
    target = cfg.prefilter_min_seen
    capacity = base.n_buckets * base.m * base.b
    assert target / capacity <= 0.84, (
        f"nominal load {target / capacity:.2f} at first activation"
    )
    # live-count growth: 10x the threshold must yield a bigger table,
    # and the geometry change must show up in the marker (forcing the
    # rebuild path).
    grown = _cuckoo_cfg(cfg, n_seen=10 * target)
    assert grown.m > base.m
    assert _cuckoo_marker(grown, 3) != _cuckoo_marker(base, 3)
    n_seen = 10 * target
    assert n_seen / (grown.n_buckets * grown.m * grown.b) <= 0.84


def test_colliding_fingerprints_stored_as_copies_delete_safe():
    """Direct kernel test of the paper-§3.2 duplicate-copy rule: two
    entries with the SAME (fp, bucket-pair) each store a copy, and
    deleting one leaves the other present — deletion can never
    manufacture a false negative for a distinct colliding url."""
    import numpy as np

    from langscrape_spark.scheduler.cuckoo import (
        CuckooConfig,
        _delete_from,
        _insert_into,
        _new_table,
    )

    cfg = CuckooConfig(n_buckets=1, m=16, b=4, fbits=16)
    table = _new_table(cfg)
    fps = np.array([7, 7], dtype=np.uint64)
    i1s = np.array([3, 3], dtype=np.int64)
    i2s = np.array([9, 9], dtype=np.int64)
    n, sat = _insert_into(table, fps, i1s, i2s, cfg)
    assert n == 2 and not sat
    assert (table == 7).sum() == 2  # two copies live
    n_del, n_miss = _delete_from(
        table, fps[:1], i1s[:1], i2s[:1], cfg
    )
    assert n_del == 1 and n_miss == 0
    assert (table == 7).sum() == 1  # the collider's copy survives
