"""Hardening gates: seen-set prefilter exactness, salting invariance,
physical-plan shape regressions, pdf routing, crash-mid-round resume."""

import os

import pytest
from pyspark.sql import functions as F

from langscrape_spark import synth
from langscrape_spark.scheduler import frontier as frontier_mod
from langscrape_spark.scheduler.frontier import (
    CrawlConfig,
    _cuckoo_state_read,
    _politeness_admit,
    _with_policy_columns,
    run_crawl,
)
from langscrape_spark.scheduler.simulator import simulate_crawl
from langscrape_spark.sources.catalog import Catalog

N_PAGES = 200
BATCH = 30


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
            ["/private/", "/admin/"], 2.0 if i == 0 else 0.5, i != 19,
        )
        for i in range(synth.N_HOSTS)
    }
    host_rank = {
        f"www.site{i}.example": round(1.0 - i * 0.04, 4)
        for i in range(synth.N_HOSTS)
    }
    return simulate_crawl(
        seeds, pages, robots, host_rank,
        batch_size=BATCH, max_depth=3, max_rounds=8,
    )


def _run(spark, corpus, tmpdir, **cfg_kwargs):
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmpdir))
    kw = dict(batch_size=BATCH, max_depth=3, max_rounds=8, seen_partitions=8)
    kw.update(cfg_kwargs)
    cfg = CrawlConfig(**kw)
    return run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg), catalog


def test_bloom_path_is_exact(spark, corpus, oracle, tmp_path):
    """With the cuckoo seen-set prefilter FORCED on (min-seen floor 0)
    under the shuffle membership, the schedule and seen-set must be
    byte-identical to the simulator — the screen's false positives
    fall through to the exact anti-join. The filter state must also
    (a) advance its marker with the rounds, (b) keep exactly ONE copy
    on disk (bucket-partitioned dir, dynamic overwrite — no version
    accumulation) and (c) hold every seen url (no false negatives)."""
    from langscrape_spark.scheduler.cuckoo import CuckooConfig, cuckoo_probe
    from langscrape_spark.scheduler.frontier import _cuckoo_dir

    state, catalog = _run(spark, corpus, tmp_path / "cuckoo", prefilter_min_seen=0)
    sim_schedule, sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state.schedule.orderBy("round", "seq").collect()]
    assert got == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen
    st = _cuckoo_state_read(catalog)
    assert st["round"] == catalog.committed_round()
    entries = [
        d for d in os.listdir(_cuckoo_dir(catalog))
        if not d.startswith(("_", "."))  # markers + checksum files
    ]
    assert entries and all(d.startswith("bucket=") for d in entries)
    ccfg = CuckooConfig(n_buckets=st["buckets"], m=st["m"], b=st["b"], fbits=st["fbits"])
    probed = cuckoo_probe(
        state.seen, spark.read.parquet(_cuckoo_dir(catalog)), ccfg
    )
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_salting_never_changes_admitted_set(spark, corpus, monkeypatch):
    """The salted two-phase politeness window is an execution detail:
    admitted rows must be identical with 1 salt bucket (no salting)
    and 8 (SURVEY §7: salting changes the physical plan, never the
    admitted set)."""
    pages, seeds, robots, host_rank = corpus
    urls = spark.createDataFrame(
        [(synth.url_of(i), 0) for i in range(0, N_PAGES, 2)],
        "url string, depth int",
    )
    fr = _with_policy_columns(urls, robots, host_rank)
    results = {}
    for buckets in (1, 8):
        monkeypatch.setattr(frontier_mod, "SALT_BUCKETS", buckets)
        results[buckets] = sorted(
            (r["seq"], r["url"])
            for r in _politeness_admit(fr, robots, batch_size=40).collect()
        )
    assert results[1] == results[8]
    assert len(results[1]) == 40


def test_pdf_rows_route_to_pdf_path(spark):
    """PDF rows take the pdf-text branch: no xpath extraction, every
    field carries the reference's '(No stored value)' sentinel."""
    from langscrape_spark.plans.extract import extract_pages

    pages = synth.build_pages_df(spark, 4, partitions=1)
    pdf = spark.createDataFrame(
        [("https://www.site1.example/docs/r.pdf", None,
          b"Report body text. More than nothing.", "", "en")],
        synth.PAGES_DDL,
    )
    out = extract_pages(pages.unionByName(pdf), synth.FIELD_MAP,
                        keep_cleaned=True).collect()
    by_pdf = {r["is_pdf"]: r for r in out}
    assert by_pdf[True]["extracted"]["title"] == ["(No stored value)"]
    assert "Report body text" in by_pdf[True]["cleaned"]
    assert by_pdf[False]["extracted"]["title"][0].startswith("Article")


def test_extract_plan_prunes_scan_columns(spark, tmp_path):
    """Column pruning must reach the parquet scan through the fused
    UDF: selecting (url, extracted) reads ONLY url+html."""
    from langscrape_spark.plans.extract import extract_pages

    p = str(tmp_path / "pages")
    synth.build_pages_df(spark, 8, partitions=1).write.parquet(p)
    pages = spark.read.parquet(p)
    plan = (
        extract_pages(pages, synth.FIELD_MAP)
        .select("url", "extracted")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "warc_ts" not in plan and "lang" not in plan, plan


def test_top1_plan_uses_window_group_limit(spark):
    """The politeness/top-k pattern must plan as WindowGroupLimit
    (rank-limit pushdown: per-partition pre-prune before the full
    window sort), not a full window over every row."""
    import __spark_entry__ as e

    plan = (
        e.q01_top1_per_group(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_invalid_seeds_quarantined(spark, corpus, tmp_path):
    """Bad seed urls land in the quarantine table with a reason, and
    never enter the frontier or seen-set."""
    state, catalog = _run(spark, corpus, tmp_path / "quar", max_rounds=1)
    q = {(r["url"], r["reason"]) for r in catalog.read_appended("quarantine").collect()}
    assert ("not a url", "invalid_url") in q
    assert not any("not a url" == r["url"] for r in state.seen.collect())


def test_compaction_preserves_equivalence_and_resume(spark, corpus, oracle, tmp_path):
    """Compacting seen deltas every 2 rounds mid-crawl (plus a kill +
    resume across the compaction boundary) must not change the
    schedule or seen-set vs the simulator."""
    import os

    catdir = tmp_path / "compact"
    state1, catalog = _run(spark, corpus, catdir, max_rounds=3, compact_every=2)
    # base snapshot exists and superseded delta dirs are gone
    assert catalog._base_info("seen") is not None
    seen_dirs = [
        d for d in os.listdir(catdir / "seen") if d.startswith("r") and d != "LATEST"
    ]
    assert all(int(d[1:]) > catalog._base_info("seen")["version"] for d in seen_dirs)

    state, _ = _run(spark, corpus, catdir, compact_every=2)
    sim_schedule, sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state.schedule.orderBy("round", "seq").collect()]
    assert got == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_compact_idempotent_and_monotonic(spark, tmp_path):
    from langscrape_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "c"))
    for v in range(4):
        cat.append("t", spark.createDataFrame([(v,)], "x int"), v)
    cat.compact("t", 2)
    assert {r["x"] for r in cat.read_appended("t").collect()} == {0, 1, 2, 3}
    # re-compacting at an older version is a no-op
    cat.compact("t", 1)
    assert cat._base_info("t")["version"] == 2
    cat.compact("t")  # to latest
    assert cat._base_info("t")["version"] == 3
    assert {r["x"] for r in cat.read_appended("t").collect()} == {0, 1, 2, 3}
    # version-pinned read below the base still works via the base guard
    assert cat.read_appended("t", 3).count() == 4


def test_in_loop_extraction_matches_post_hoc(spark, corpus, tmp_path):
    """With extract_field_map set, each round's results append must
    equal extracting the final schedule after the fact."""
    from langscrape_spark.plans.extract import extract_pages

    pages, _, _, _ = corpus
    state, catalog = _run(
        spark, corpus, tmp_path / "inloop",
        max_rounds=3, extract_field_map=synth.FIELD_MAP,
    )
    results = catalog.read_appended("results")
    got = {
        r["url"]: r["extracted"]
        for r in results.select("url", "extracted").collect()
    }
    fetched = pages.join(
        F.broadcast(state.schedule.select("url")), "url", "inner"
    )
    want = {
        r["url"]: r["extracted"]
        for r in extract_pages(fetched, synth.FIELD_MAP)
        .select("url", "extracted")
        .collect()
    }
    assert got == want and len(got) > 20
    # rounds tag results for lineage
    assert results.select("round").distinct().count() == state.rounds_run


def test_resume_after_torn_round(spark, corpus, oracle, tmp_path):
    """Crash *between* a round's table writes and its round-marker
    commit: the stale uncommitted files must be overwritten on resume
    and the final state must still match the simulator exactly."""
    pages, seeds, robots, host_rank = corpus
    catdir = tmp_path / "torn"
    (state, catalog) = _run(spark, corpus, catdir, max_rounds=3)
    committed = catalog.committed_round()

    # Simulate the torn round: write garbage frontier/seen for the
    # NEXT round version without committing the round marker.
    junk = spark.createDataFrame(
        [("https://junk.example/x", "junk.example", 0, 9.9)],
        "url string, host string, depth int, priority double",
    )
    catalog.write("frontier", junk, committed + 1)
    catalog.append("seen", junk.select("url"), committed + 1)
    # both writes moved the per-table pointers ahead of the marker
    assert catalog.latest_version("frontier") == committed + 1
    assert catalog.committed_round() == committed

    state2, _ = _run(spark, corpus, catdir)
    sim_schedule, sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state2.schedule.orderBy("round", "seq").collect()]
    assert got == sim_schedule
    assert {r["url"] for r in state2.seen.collect()} == sim_seen
    assert "junk.example" not in {r["url"] for r in state2.seen.collect()}


def test_final_state_is_the_committed_round(spark, corpus, oracle, tmp_path):
    """A round whose writes landed but whose commit failed is not part of
    the crawl: resubmitted up to the committed round, run_crawl returns
    that round's schedule and seen set, not what the tables' own
    pointers (one round ahead) name."""

    class CrashAtCommit3(Catalog):
        def commit_round(self, round_no):
            if round_no == 3:
                raise RuntimeError("simulated crash before commit_round(3)")
            super().commit_round(round_no)

    pages, seeds, robots, host_rank = corpus
    catdir = str(tmp_path / "uncommitted")
    cfg = CrawlConfig(batch_size=BATCH, max_depth=3, max_rounds=8, seen_partitions=8)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_crawl(spark, pages, seeds, robots, host_rank, CrashAtCommit3(spark, catdir), cfg)

    state, catalog = _run(spark, corpus, catdir, max_rounds=2)
    assert catalog.committed_round() == 2
    assert catalog.latest_version("schedule") == 2  # round 2's writes landed
    assert catalog.latest_version("seen") == 3
    ref, _ = _run(spark, corpus, tmp_path / "ref", max_rounds=2)
    sim_schedule, _sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state.schedule.orderBy("round", "seq").collect()]
    assert got == [s for s in sim_schedule if s[0] < 2]
    assert {r["url"] for r in state.seen.collect()} == {r["url"] for r in ref.seen.collect()}


def test_lsh_neardup_plans_as_grouped_gemm(spark):
    """q21's scale path must plan as a grouped pandas apply (per-bucket
    gemm), never a join that explodes candidate pairs into rows."""
    import __spark_entry__ as e

    plan = (
        e.q21_embedding_neardup_lsh(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_jaccard_single_index_join(spark):
    """With no hot shingles (the common case) q09 must keep the
    round-1 plan shape: exactly one self-join of the posting list, no
    join-back onto the shingle arrays."""
    import __spark_entry__ as e

    plan = (
        e.q09_ngram_jaccard(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")  # AQE picks this at tiny SF
    )
    assert n_joins == 1, f"{n_joins} joins\n{plan[:2000]}"


def test_clean_tags_vocab_is_folded_literal(spark):
    """The 476-tag vocabulary must fold into the plan as a literal
    (broadcast-equivalent) — no join, no python stage."""
    import __spark_entry__ as e

    plan = (
        e.q33_clean_tags(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "array_contains" in plan  # the folded membership test


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The persisted-partitioning claim (SURVEY §4.1): two catalog
    tables bucketed on url joined on url must plan with NO Exchange —
    the storage layout IS the co-partitioning, so the seen-membership
    join at scale reads both sides in place."""
    from langscrape_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "bk"))
    a = spark.createDataFrame(
        [(synth.url_of(i), i) for i in range(500)], "url string, x int"
    )
    b = spark.createDataFrame(
        [(synth.url_of(i), i * 2) for i in range(0, 500, 2)], "url string, y int"
    )
    cat.write_bucketed("pages_bk", a, 0, n_buckets=8)
    cat.write_bucketed("seen_bk", b, 0, n_buckets=8)
    left = cat.read_bucketed("pages_bk")
    right = cat.read_bucketed("seen_bk")

    # Disable broadcast so the plan shows the scale shape (at 10^10
    # urls neither side broadcasts); restore after.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left.join(right, "url")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 250

        anti = left.join(right, "url", "left_anti")
        plan = anti._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert anti.count() == 250
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_active_kill_and_resume(spark, corpus, oracle, tmp_path):
    """Kill after 3 rounds WITH the cuckoo prefilter forced on, then
    resume to completion: the filter state must resume from its
    committed round (no false negatives sneak in across the restart)
    and the final schedule/seen-set still match the simulator."""
    catdir = tmp_path / "cuckooresume"
    _run(spark, corpus, catdir, max_rounds=3, prefilter_min_seen=0)
    state, catalog = _run(spark, corpus, catdir, prefilter_min_seen=0)
    sim_schedule, sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state.schedule.orderBy("round", "seq").collect()]
    assert got == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen
    assert _cuckoo_state_read(catalog)["round"] == catalog.committed_round()


def test_bloom_crash_inside_merge_overwrite_forces_rebuild(
    spark, corpus, oracle, tmp_path, monkeypatch
):
    """Dynamic partition overwrite deletes each matched bucket dir
    before renaming staged files at job commit, so a kill INSIDE that
    commit window leaves a bucket missing — a false-NEGATIVE source,
    not a superset. ``_advance_cuckoo`` invalidates _STATE before its
    overwrite; this test kills the real overwrite (after one bucket dir
    is already gone) and checks (a) the state marker is absent at crash
    time — so resume cannot trust the torn filter — and (b) the resumed
    crawl rebuilds and stays simulator-exact."""
    import glob
    import inspect
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    catdir = tmp_path / "advancecrash"
    orig_parquet = DataFrameWriter.parquet
    armed = {"on": True}

    def bomb(self, path, *a, **kw):
        if (
            armed["on"]
            and str(path).endswith("cuckoo_parts")
            and any(f.function == "_advance_cuckoo" for f in inspect.stack(0))
        ):
            armed["on"] = False
            victim = sorted(glob.glob(str(path) + "/bucket=*"))[0]
            shutil.rmtree(victim)
            raise RuntimeError("simulated kill inside overwrite commit")
        return orig_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", bomb)
    with pytest.raises(RuntimeError, match="simulated kill"):
        _run(spark, corpus, catdir, prefilter_min_seen=0)
    assert not armed["on"], "advance write was never reached"

    # the commit-window invariant: no state marker may exist while the
    # filter data is torn (a bucket dir is genuinely missing right now)
    assert _cuckoo_state_read(Catalog(spark, str(catdir))) is None

    state, catalog = _run(spark, corpus, catdir, prefilter_min_seen=0)
    sim_schedule, sim_seen = oracle
    got = [(r["round"], r["seq"], r["url"])
           for r in state.schedule.orderBy("round", "seq").collect()]
    assert got == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen
    assert _cuckoo_state_read(catalog)["round"] == catalog.committed_round()


def test_distributed_cumsum_plan_never_single_partitions_the_corpus(spark):
    """The two-level prefix sum's scale contract: the corpus-sized
    window partitions by the key bucket (parallel), and the ONLY
    single-partition exchange in the plan feeds the 256-row offsets
    window — never the data."""
    from pyspark.sql import functions as F

    from langscrape_spark.operators.sharding import (
        distributed_cumsum,
        order_key,
    )

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("v"),
        order_key(F.col("id")).alias("k"),
    )
    plan = (
        distributed_cumsum(df, "v", "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # corpus window is bucket-partitioned
    assert "windowspecdefinition(_bk" in plan, plan
    # exactly one SinglePartition exchange (the offsets branch, which
    # is fed by a hash AGGREGATE — bounded at 256 rows — not raw data)
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_bm25_plan_broadcasts_query_and_takes_ordered(spark):
    """bm25_topk's scale contract: query terms and per-term dfs join
    as broadcasts, and the top-k is TakeOrderedAndProject (partial
    top-k per partition), never a global sort."""
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    postings, doc_lens = build_inverted_index(docs)
    plan = (
        bm25_topk(postings, doc_lens, "hash scan table", k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_in_loop_extraction_with_pdf_row(spark, corpus, oracle, tmp_path):
    """A fetched pdf that links nowhere: the fused fetch routes it to the
    pdf path, harvests no links from it (the crawl still equals the
    simulator, for which the pdf is a fetch miss), and every results
    column equals extract_pages over the scheduled pages."""
    from langscrape_spark.plans.extract import RESULT_COLUMNS, extract_pages

    pages, seeds, robots, host_rank = corpus
    pdf_url = f"https://{synth.host_of(0)}/docs/report.pdf"
    pdf = spark.createDataFrame(
        [(pdf_url, None, b"%PDF-1.4 Report body text. No links here.", "", "en")],
        synth.PAGES_DDL,
    )
    with_pdf = pages.unionByName(pdf)
    state, catalog = _run(
        spark, (with_pdf, seeds, robots, host_rank), tmp_path / "pdfcrawl",
        extract_field_map=synth.FIELD_MAP,
    )
    sim_schedule, sim_seen = oracle
    assert [
        (r["round"], r["seq"], r["url"])
        for r in state.schedule.orderBy("round", "seq").collect()
    ] == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen

    results = catalog.read_appended("results")
    got = {r["url"]: r for r in results.collect()}
    fetched = with_pdf.join(F.broadcast(state.schedule.select("url")), "url", "inner")
    want = {r["url"]: r for r in extract_pages(fetched, synth.FIELD_MAP).collect()}
    assert set(got) == set(want) and pdf_url in got
    for url, row in got.items():
        assert {c: row[c] for c in RESULT_COLUMNS} == want[url].asDict(), url
    assert got[pdf_url]["is_pdf"]
    assert got[pdf_url]["extracted"]["title"] == ["(No stored value)"]
    # the table's schema, read back, is the one extract_pages' rows had
    old = str(tmp_path / "old_results")
    extract_pages(fetched, synth.FIELD_MAP).withColumn("round", F.lit(0)).write.parquet(old)
    assert results.schema == spark.read.parquet(old).schema
