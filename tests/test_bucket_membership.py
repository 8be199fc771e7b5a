"""Exact-membership via bucket probe (CrawlConfig.membership =
"bucket_probe"): the seen set is stored dir-partitioned by a stable
url-hash bucket and the per-round exact check direct-reads only each
task's bucket files — no seen-side shuffle. These tests pin that the
strategy is admission-IDENTICAL to the shuffle anti-join (and so to
the sequential simulator), through compaction, the cuckoo prefilter,
and resume.
"""

import pytest

from langscrape_spark import synth
from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
from langscrape_spark.scheduler.simulator import simulate_crawl
from langscrape_spark.sources.catalog import Catalog

N_PAGES = 300
BATCH = 40
MAX_DEPTH = 3
MAX_ROUNDS = 12


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth.build_pages_df(spark, N_PAGES, partitions=4).cache()
    pages.count()
    seeds = synth.seeds_df(spark, N_PAGES, n_seeds=10)
    robots = synth.robots_df(spark)
    host_rank = synth.host_rank_df(spark)
    return pages, seeds, robots, host_rank


@pytest.fixture(scope="module")
def oracle():
    pages = {synth.url_of(i): synth.page_html(i, N_PAGES) for i in range(N_PAGES)}
    seeds = [synth.url_of(i * (N_PAGES // 10)) for i in range(10)]
    seeds += ["not a url", "ftp://site.example/x",
              f"https://{synth.host_of(0)}/docs/report.pdf"]
    robots = {
        f"www.site{i}.example": (
            ["/private/", "/admin/"],
            2.0 if i == 0 else 0.5,
            i != 19,
        )
        for i in range(synth.N_HOSTS)
    }
    host_rank = {
        f"www.site{i}.example": round(1.0 - i * 0.04, 4)
        for i in range(synth.N_HOSTS)
    }
    return simulate_crawl(
        seeds, pages, robots, host_rank,
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
    )


def _crawl(spark, corpus, tmpdir, **cfg_kwargs):
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmpdir))
    kwargs = dict(
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
        seen_partitions=8, membership="bucket_probe",
        probe_min_seen=0,  # the toy seen set must exercise the probe
    )
    kwargs.update(cfg_kwargs)
    cfg = CrawlConfig(**kwargs)
    state = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
    return state, catalog, cfg


def _schedule_of(state):
    return [
        (r["round"], r["seq"], r["url"])
        for r in state.schedule.orderBy("round", "seq").collect()
    ]


def test_bucket_probe_matches_simulator(spark, corpus, oracle, tmp_path):
    """Full crawl in bucket mode == the sequential reference simulator
    (schedule AND final seen set) — the same gate the shuffle mode
    passes in test_scheduler.py."""
    state, _, _ = _crawl(spark, corpus, tmp_path)
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_bucket_probe_seen_layout_is_partitioned(spark, corpus, tmp_path):
    """Every committed seen dir (deltas AND the compacted base) keeps
    the bucket=K layout; compaction mid-crawl must not flatten it."""
    import os

    state, catalog, _ = _crawl(spark, corpus, tmp_path, compact_every=3)
    dirs = catalog.appended_dirs("seen")
    assert dirs, "no committed seen dirs"
    assert any("compact" in os.path.basename(d) for d in dirs), (
        "compaction never ran; lower compact_every"
    )
    for d in dirs:
        subs = [s for s in os.listdir(d) if not s.startswith(("_", "."))]
        assert subs and all(s.startswith("bucket=") for s in subs), (
            d, subs
        )


def test_bucket_probe_with_compaction_matches_simulator(
    spark, corpus, oracle, tmp_path
):
    state, _, _ = _crawl(spark, corpus, tmp_path, compact_every=3)
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_bucket_probe_resume_matches_uninterrupted(
    spark, corpus, oracle, tmp_path
):
    """Stop after 3 rounds, then resume to completion in a second
    run_crawl: identical schedule + seen as one uninterrupted run."""
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmp_path))
    base = dict(
        batch_size=BATCH, max_depth=MAX_DEPTH, seen_partitions=8,
        membership="bucket_probe",
    )
    run_crawl(
        spark, pages, seeds, robots, host_rank, catalog,
        CrawlConfig(max_rounds=3, **base),
    )
    state = run_crawl(
        spark, pages, seeds, robots, host_rank, catalog,
        CrawlConfig(max_rounds=MAX_ROUNDS, **base),
    )
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_bucket_probe_rejects_flat_catalog(spark, corpus, tmp_path):
    """A catalog whose seen deltas were written flat (shuffle mode)
    cannot silently run in bucket mode — missing bucket listings would
    re-admit seen urls; the probe must refuse instead."""
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmp_path))
    base = dict(
        batch_size=BATCH, max_depth=MAX_DEPTH, seen_partitions=8,
    )
    run_crawl(
        spark, pages, seeds, robots, host_rank, catalog,
        CrawlConfig(max_rounds=2, membership="shuffle", **base),
    )
    with pytest.raises(ValueError, match="bucket"):
        run_crawl(
            spark, pages, seeds, robots, host_rank, catalog,
            CrawlConfig(max_rounds=4, membership="bucket_probe", **base),
        )


def test_bucket_probe_geometry_change_refuses(spark, corpus, tmp_path):
    """Resuming a bucket_probe catalog with a DIFFERENT bucket count
    must refuse loudly: probing a mismatched layout would silently
    re-admit seen urls (the prefilter's _STATE guard, for the seen set)."""
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmp_path))
    cfg8 = CrawlConfig(
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=2,
        seen_partitions=8, membership="bucket_probe",
    )
    run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg8)
    cfg16 = CrawlConfig(
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=4,
        seen_partitions=16, membership="bucket_probe",
    )
    with pytest.raises(ValueError, match="bucket"):
        run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg16)


def test_bucket_layout_with_shuffle_fallback_matches_simulator(
    spark, corpus, oracle, tmp_path
):
    """Below probe_min_seen the bucketed LAYOUT stays but the exact
    check runs as the shuffle anti-join (measured cheaper for tiny
    seen sets) — admission must be byte-identical either way."""
    state, _, _ = _crawl(spark, corpus, tmp_path, probe_min_seen=10**9)
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_cuckoo_prefilter_matches_simulator(spark, corpus, oracle, tmp_path):
    """Cuckoo prefilter forced on from round 0 on top of the bucket
    probe: maybe-seen candidates still route through the per-bucket
    exact check, and admission stays simulator-exact."""
    state, catalog, _ = _crawl(spark, corpus, tmp_path, prefilter_min_seen=0)
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen
    # the cuckoo state dir was created, committed and stamped
    import json
    import os

    st = json.load(open(os.path.join(str(tmp_path), "cuckoo_parts", "_STATE")))
    assert st["fbits"] == 16 and st["b"] == 4


def test_cuckoo_prefilter_resume_and_geometry_rebuild(
    spark, corpus, oracle, tmp_path
):
    """Resume after 3 rounds with a DIFFERENT filter geometry
    (seen_partitions changed, so the filter's shard count changes; the
    bucket_probe layout is pinned by seen_bucket_count so its own
    geometry guard does not fire): the marker mismatch forces a rebuild
    from the committed seen set and the crawl still completes
    simulator-exact — wrong-geometry probing (false negatives) is
    structurally impossible."""
    import json
    import os

    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmp_path))
    base = dict(
        batch_size=BATCH, max_depth=MAX_DEPTH, seen_bucket_count=8,
        membership="bucket_probe", probe_min_seen=0, prefilter_min_seen=0,
    )
    state_path = os.path.join(str(tmp_path), "cuckoo_parts", "_STATE")
    run_crawl(
        spark, pages, seeds, robots, host_rank, catalog,
        CrawlConfig(max_rounds=3, seen_partitions=8, **base),
    )
    assert json.load(open(state_path))["buckets"] == 8
    state = run_crawl(
        spark, pages, seeds, robots, host_rank, catalog,
        CrawlConfig(max_rounds=MAX_ROUNDS, seen_partitions=4, **base),
    )
    sim_schedule, sim_seen = oracle
    assert _schedule_of(state) == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen
    st = json.load(open(state_path))
    assert st["buckets"] == 4 and st["round"] == catalog.committed_round()
