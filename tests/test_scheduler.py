"""Scheduler gate (SURVEY.md §5.3 / BASELINE.md): the Spark frontier
must reproduce the sequential reference-faithful simulator exactly —
same admitted (round, seq, url) schedule, same final seen-set — and
resume identically from a mid-crawl checkpoint."""

import os

import pytest
from pyspark.sql import functions as F

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
    """Pure-Python oracle run of the same crawl."""
    # html passed as str; the Spark path decodes the binary column with
    # the same utf-8 semantics.
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
    host_rank = {f"www.site{i}.example": round(1.0 - i * 0.04, 4) for i in range(synth.N_HOSTS)}
    return simulate_crawl(
        seeds, pages, robots, host_rank,
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
    )


def _spark_crawl(spark, corpus, tmpdir, max_rounds=MAX_ROUNDS):
    pages, seeds, robots, host_rank = corpus
    catalog = Catalog(spark, str(tmpdir))
    cfg = CrawlConfig(batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=max_rounds,
                      seen_partitions=8)
    state = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
    return state, catalog


@pytest.fixture(scope="module")
def crawl(spark, corpus, tmp_path_factory):
    """One full Spark crawl shared by the read-only assertions below."""
    return _spark_crawl(spark, corpus, tmp_path_factory.mktemp("cat"))


def test_spark_matches_simulator(spark, crawl, oracle):
    state, _ = crawl
    sim_schedule, sim_seen = oracle

    got_schedule = [
        (r["round"], r["seq"], r["url"])
        for r in state.schedule.orderBy("round", "seq").collect()
    ]
    assert got_schedule == sim_schedule

    got_seen = {r["url"] for r in state.seen.collect()}
    assert got_seen == sim_seen


def test_politeness_budget_respected(spark, crawl):
    """No host exceeds its per-round budget; the hot host (crawl_delay
    2.0 → k=2) is throttled while others admit up to 8."""
    state, _ = crawl
    from pyspark.sql import functions as F

    per = (
        state.schedule
        .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
        .groupBy("round", "host").count()
    )
    hot = per.where(F.col("host") == "www.site0.example")
    assert hot.count() > 0
    assert hot.agg(F.max("count")).first()[0] <= 2
    assert per.agg(F.max("count")).first()[0] <= 8


def test_disallowed_host_never_scheduled(spark, crawl):
    state, _ = crawl
    assert state.schedule.where("url like '%site19.example%'").count() == 0


def test_resume_from_checkpoint(spark, corpus, oracle, tmp_path):
    """Kill after 3 rounds; restart must complete to the identical
    schedule + seen-set (SURVEY.md §5.4)."""
    pages, seeds, robots, host_rank = corpus
    catdir = str(tmp_path / "cat4")
    catalog = Catalog(spark, catdir)
    cfg_partial = CrawlConfig(batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=3,
                              seen_partitions=8)
    run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg_partial)

    # "restart": a fresh Catalog over the same dir, full round budget
    catalog2 = Catalog(spark, catdir)
    cfg_full = CrawlConfig(batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
                           seen_partitions=8)
    state = run_crawl(spark, pages, seeds, robots, host_rank, catalog2, cfg_full)

    sim_schedule, sim_seen = oracle
    got_schedule = [
        (r["round"], r["seq"], r["url"])
        for r in state.schedule.orderBy("round", "seq").collect()
    ]
    assert got_schedule == sim_schedule
    assert {r["url"] for r in state.seen.collect()} == sim_seen


def test_metrics_lineage_recorded(spark, crawl):
    state, catalog = crawl
    m = catalog.read_appended("metrics")
    rows = {r["round"]: r for r in m.collect()}
    assert len(rows) == state.rounds_run
    assert all(r["admitted"] > 0 for r in rows.values())
    # rounds that discover nothing new legitimately record an empty
    # partition list; any round with new urls must have lineage rows
    assert all(
        len(r["partition_rows"]) >= 1 or r["new_urls"] == 0
        for r in rows.values()
    )
    assert any(len(r["partition_rows"]) >= 1 for r in rows.values())


def test_round_wall_spans_checkpoint_writes(spark, crawl):
    """A round's wall_sec is taken after its checkpoint writes land, so
    it covers them; the metrics table and CrawlState carry one figure."""
    state, catalog = crawl
    table = {r["round"]: r["wall_sec"] for r in catalog.read_appended("metrics").collect()}
    assert len(state.metrics) == state.rounds_run
    for m in state.metrics:
        assert m["wall_sec"] >= m["phases"]["writes_barrier"], m
        assert table[m["round"]] == m["wall_sec"]


def test_metrics_delta_is_one_file_with_the_table_schema(spark, crawl, tmp_path):
    """Each round's metrics row is written as exactly one parquet file,
    and the table reads back with the schema a Python-list
    createDataFrame of METRICS_DDL gives."""
    from langscrape_spark.scheduler.frontier import METRICS_DDL

    state, catalog = crawl
    deltas = catalog.appended_dirs("metrics")
    assert len(deltas) == state.rounds_run
    for d in deltas:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    ref = str(tmp_path / "ref_metrics")
    spark.createDataFrame([(0, 1, 1, [(0, 1)], 0.5)], METRICS_DDL).write.parquet(ref)
    assert catalog.read_appended("metrics").schema == spark.read.parquet(ref).schema


def test_catalog_reads_take_the_recorded_schema(spark, tmp_path):
    """A read of the version a table's pointer names uses the schema
    recorded when it was written, so ``read`` and ``read_appended`` run
    no Spark job (no schema inference). A pointer without a recorded
    schema, as catalogs written before schemas were recorded have,
    still reads, by inference."""
    import json

    catalog = Catalog(spark, str(tmp_path / "cat"))
    rows = [("https://a.example/", 1), ("https://b.example/", 2)]
    df = spark.createDataFrame(rows, "url string, depth bigint")
    catalog.write("frontier", df, 0)
    catalog.append("seen", df.where(F.col("depth") == 1), 0)
    catalog.append("seen", df.where(F.col("depth") == 2), 1)

    sc = spark.sparkContext
    sc.setJobGroup("catalog-read", "catalog reads")
    try:
        frontier = catalog.read("frontier")
        seen = catalog.read_appended("seen")
        jobs = list(sc.statusTracker().getJobIdsForGroup("catalog-read"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert frontier.schema.simpleString() == "struct<url:string,depth:bigint>"
    assert seen.schema == frontier.schema
    assert sorted(frontier.collect()) == sorted(seen.collect()) == sorted(df.collect())

    for name in ("frontier", "seen"):
        pointer = os.path.join(catalog.root, name, "LATEST")
        with open(pointer) as f:
            version = json.load(f)["version"]
        with open(pointer, "w") as f:
            json.dump({"version": version}, f)
    assert sorted(catalog.read("frontier").collect()) == sorted(df.collect())
    assert sorted(catalog.read_appended("seen").collect()) == sorted(df.collect())


def _plan_nodes(plan):
    """Physical plan nodes, through AQE wrappers, query stages and reused
    exchanges, but not into cached relations (an InMemoryTableScan is a
    leaf here, so a cached side's own exchange is not counted)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
    elif name == "ReusedExchangeExec":
        yield from _plan_nodes(plan.child())
    else:
        children = plan.children()
        for i in range(children.size()):
            yield from _plan_nodes(children.apply(i))


def test_membership_join_shuffles_only_the_seen_side(spark, tmp_path):
    """The round's exact membership check with broadcasts off: the
    cached candidates are already hash-partitioned on url at slot
    width, so the anti-join plans one exchange — the seen side's — and
    no ENSURE_REQUIREMENTS re-shuffle of either side."""
    from langscrape_spark.scheduler.frontier import (
        _by_url, _membership_width, _shuffle_anti_join,
    )

    cfg = CrawlConfig(seen_partitions=32)
    n = _membership_width(spark, cfg)
    assert n == min(32, spark.sparkContext.defaultParallelism)
    catalog = Catalog(spark, str(tmp_path / "cat"))
    seen_urls = [f"https://h{i % 7}.example/p{i}" for i in range(300)]
    catalog.append("seen", spark.createDataFrame([(u,) for u in seen_urls], "url string"), 0)
    cand_urls = [f"https://h{i % 7}.example/p{i}" for i in range(250, 400)]
    cand = _by_url(
        spark.createDataFrame([(u, 1) for u in cand_urls], "url string, depth int"), n
    ).cache()
    cand.count()  # the round materializes its candidates before the join
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        new = _shuffle_anti_join(cand, catalog.read_appended("seen", 0), n)
        got = {r["url"] for r in new.collect()}
        nodes = list(_plan_nodes(new._jdf.queryExecution().executedPlan()))
        n_out = new.rdd.getNumPartitions()
    finally:
        spark.conf.set(key, prev)
        cand.unpersist()
    assert got == set(cand_urls) - set(seen_urls)
    plan = "\n".join(p.toString() for p in nodes)
    exchanges = [p for p in nodes if p.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert not any(str(e.shuffleOrigin()) == "ENSURE_REQUIREMENTS" for e in exchanges), plan
    assert len(exchanges) == 1, plan
    below = [p.getClass().getSimpleName() for p in _plan_nodes(exchanges[0])]
    assert "FileSourceScanExec" in below, plan  # the exchange is the seen side's
    assert n_out == n


def test_seen_deltas_written_at_slot_width(spark, crawl):
    """Each crawl round's seen delta holds at most one parquet file per
    membership partition: min(seen_partitions, defaultParallelism)."""
    state, catalog = crawl
    n = min(8, spark.sparkContext.defaultParallelism)
    deltas = [d for d in catalog.appended_dirs("seen") if not d.endswith("r000000")]
    assert len(deltas) == state.rounds_run
    for d in deltas:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) <= n, (d, files)


def test_parse_robots_txt_edges(spark):
    """REP-subset edges the q45 oracle corpus doesn't cover: multiple
    star groups merge rules in file order, first crawl-delay wins,
    NULL body behaves as empty."""
    from langscrape_spark.scheduler.robots import parse_robots_txt

    rows = [
        ("a.example",
         "User-agent: *\nDisallow: /one/\nCrawl-delay: 3\n\n"
         "User-agent: Bot\nDisallow: /bot/\n\n"
         "User-agent: *\nDisallow: /two/\nCrawl-delay: 9\n"),
        ("b.example", None),
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    got = {r["host"]: r.asDict() for r in parse_robots_txt(df).collect()}
    a = got["a.example"]
    assert a["disallow_prefixes"] == ["/one/", "/two/"]  # /bot/ excluded
    assert a["crawl_delay"] == 3.0  # first delay wins
    assert a["allowed"] is True
    b = got["b.example"]
    assert (b["disallow_prefixes"], b["crawl_delay"], b["allowed"]) == (
        [], None, True
    )


# -- politeness compliance audit (operators/sessions.py) --


def test_politeness_audit_gates_and_defaults(spark):
    import datetime as dt

    from langscrape_spark.operators.sessions import politeness_audit

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ts(sec_offset):
        return t0 + dt.timedelta(seconds=sec_offset)

    fetches = spark.createDataFrame(
        [
            # host a, delay 2: gaps 1s (violation), 2s (equality: OK),
            # 5s (OK)
            ("a", ts(0), 1), ("a", ts(1), 2), ("a", ts(3), 3),
            ("a", ts(8), 4),
            # host b: not in delay table -> audits against 0, 0 gaps
            # can't violate
            ("b", ts(0), 5), ("b", ts(0), 6),
            # host c: single fetch -> no gaps, NULL rate
            ("c", ts(0), 7),
            # NULL ts dropped
            ("a", None, 8),
            # host d, FRACTIONAL delay 0.9s: gaps 0.85s (violation)
            # and 0.95s (OK) — a whole-second truncation (0.9 -> 0)
            # would report zero violations
            ("d", ts(0), 9),
            ("d", t0 + dt.timedelta(microseconds=850_000), 10),
            ("d", t0 + dt.timedelta(microseconds=1_800_000), 11),
        ],
        "host string, ts timestamp, event_id long",
    )
    delays = spark.createDataFrame(
        [("a", 2.0), ("c", 3.0), ("d", 0.9)],
        "host string, crawl_delay_s double",
    )
    out = {r.host: r for r in politeness_audit(fetches, delays).collect()}
    a = out["a"]
    assert (a.n_fetches, a.n_gaps, a.n_violations) == (4, 3, 1)
    assert a.min_gap_us == 1_000_000 and a.violation_rate == round(1 / 3, 6)
    b = out["b"]
    assert b.crawl_delay_s == 0 and b.n_violations == 0
    c = out["c"]
    assert c.n_gaps == 0 and c.violation_rate is None
    d = out["d"]
    assert (d.crawl_delay_s, d.n_gaps, d.n_violations) == (0.9, 2, 1)


# -- registrable domain / PSL (operators/urls.py) --


def test_registrable_domain_psl_vectors(spark):
    """The canonical publicsuffix.org test vectors expressible in the
    embedded rule subset, incl. wildcard, exception and default."""
    from langscrape_spark.operators.urls import registrable_domain

    cases = {
        # host: (suffix, registrable)
        "example.com": ("com", "example.com"),
        "www.example.com": ("com", "example.com"),
        "b.example.co.uk": ("co.uk", "example.co.uk"),
        "com": ("com", None),          # a bare suffix registers nothing
        "x.github.io": ("github.io", "x.github.io"),
        "sub.x.github.io": ("github.io", "x.github.io"),
        "foo.bar.ck": ("bar.ck", "foo.bar.ck"),   # *.ck wildcard
        "www.ck": ("ck", "www.ck"),               # !www.ck exception
        "deep.www.ck": ("ck", "www.ck"),
        "ck": ("ck", None),
        "intranet": ("intranet", None),           # default rule '*'
        "UPPER.Example.COM": ("com", "example.com"),  # case-folded
    }
    hosts = spark.createDataFrame(
        [(h,) for h in cases], "host string"
    )
    got = {
        r.host: (r.suffix, r.registrable)
        for r in registrable_domain(hosts).collect()
    }
    assert got == cases


def test_registrable_domain_custom_rules_and_hygiene(spark):
    from langscrape_spark.operators.urls import registrable_domain

    hosts = spark.createDataFrame(
        [("a.b.custom",), ("", ), (None,), ("a.b.custom",)],
        "host string",
    )
    rules = spark.createDataFrame([("custom",), ("*.custom",)], "rule string")
    out = registrable_domain(hosts, rules=rules).collect()
    # empty/NULL dropped, duplicates collapsed
    assert len(out) == 1
    r = out[0]
    # *.custom (k=2 via b.custom) beats custom (k=1)
    assert r.suffix == "b.custom" and r.registrable == "a.b.custom"


def test_trap_filter_simulator_equivalence(spark, corpus, tmp_path):
    """The optional trap frontier filter must change admission ONLY by
    the flagged (host, template) urls, and identically in both
    engines: run_crawl(traps=...) reproduces simulate_crawl(traps=...)
    schedule-exactly, no flagged url is ever scheduled or marked seen,
    and dropping the filter reproduces the unfiltered oracle (the
    baseline sim-equivalence test) — so engaging the filter cannot
    perturb any non-flagged admission path."""
    from langscrape_spark.operators.urls import url_template
    from langscrape_spark.scheduler.simulator import _url_template

    pages, seeds, robots, host_rank = corpus
    # Flag one real (host, template) pair from the synth corpus: every
    # article url on site3 (template '/<section>/article-<N>.html').
    trap_host = "www.site3.example"
    victim = next(
        i for i in range(N_PAGES) if synth.host_of(i) == trap_host
    )
    trap_tmpl = _url_template(synth.url_of(victim))
    # the python twin and the Spark expression must agree on the key
    got_tmpl = (
        spark.createDataFrame([(synth.url_of(victim),)], "url string")
        .select(url_template(F.col("url")).alias("t"))
        .collect()[0]["t"]
    )
    assert got_tmpl == trap_tmpl
    traps_df = spark.createDataFrame(
        [(trap_host, trap_tmpl, True)],
        "host string, template string, is_trap boolean",
    )

    catalog = Catalog(spark, str(tmp_path / "trapcat"))
    cfg = CrawlConfig(
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
        seen_partitions=8,
    )
    state = run_crawl(
        spark, pages, seeds, robots, host_rank, catalog, cfg,
        traps=traps_df,
    )

    sim_pages = {
        synth.url_of(i): synth.page_html(i, N_PAGES) for i in range(N_PAGES)
    }
    sim_seeds = [synth.url_of(i * (N_PAGES // 10)) for i in range(10)]
    sim_seeds += ["not a url", "ftp://site.example/x",
                  f"https://{synth.host_of(0)}/docs/report.pdf"]
    sim_robots = {
        f"www.site{i}.example": (
            ["/private/", "/admin/"],
            2.0 if i == 0 else 0.5,
            i != 19,
        )
        for i in range(synth.N_HOSTS)
    }
    sim_rank = {
        f"www.site{i}.example": round(1.0 - i * 0.04, 4)
        for i in range(synth.N_HOSTS)
    }
    sim_schedule, sim_seen = simulate_crawl(
        sim_seeds, sim_pages, sim_robots, sim_rank,
        batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
        traps={(trap_host, trap_tmpl)},
    )

    got_schedule = [
        (r["round"], r["seq"], r["url"])
        for r in state.schedule.orderBy("round", "seq").collect()
    ]
    assert got_schedule == sim_schedule
    got_seen = {r["url"] for r in state.seen.collect()}
    assert got_seen == sim_seen

    # No flagged url anywhere; the filter actually removed something.
    # Flagged = this (host, template) pair only — same-host urls under
    # a different section template must stay admitted.
    flagged = {
        u for u in sim_pages
        if synth.host_of(int(u.rsplit("-", 1)[1][:8])) == trap_host
        and _url_template(u) == trap_tmpl
    }
    scheduled_urls = {u for (_, _, u) in got_schedule}
    assert not (scheduled_urls & flagged)
    assert not (got_seen & flagged)
    baseline_urls = {
        u for (_, _, u) in simulate_crawl(
            sim_seeds, sim_pages, sim_robots, sim_rank,
            batch_size=BATCH, max_depth=MAX_DEPTH, max_rounds=MAX_ROUNDS,
        )[0]
    }
    assert baseline_urls & flagged  # the trap WAS reachable unfiltered


def test_revisit_sweep_reschedules_due_urls_once(spark, tmp_path):
    """sweep_revisit (the q48 revisit_schedule consumer): after a
    crawl runs to exhaustion, sweeping a due list re-injects exactly
    the known due urls into the committed frontier, the next
    submission fetches each exactly once more under normal politeness,
    the sweep is idempotent, and unknown urls are refused injection
    (they belong in a seed list)."""
    from langscrape_spark.scheduler.frontier import sweep_revisit

    n_pages = 60
    pages = synth.build_pages_df(spark, n_pages, partitions=2)
    seeds = spark.createDataFrame(
        [(synth.url_of(i), 0) for i in range(0, n_pages, 11)],
        "url string, depth int",
    )
    robots = spark.createDataFrame(
        [(f"www.site{i}.example", [], 0.1, i != 19)
         for i in range(synth.N_HOSTS)],
        "host string, disallow_prefixes array<string>, "
        "crawl_delay double, allowed boolean",
    )
    host_rank = synth.host_rank_df(spark)
    catalog = Catalog(spark, str(tmp_path / "revcat"))
    cfg = CrawlConfig(batch_size=30, max_depth=2, max_rounds=20,
                      seen_partitions=4)
    state1 = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
    first = [r["url"] for r in state1.schedule.select("url").collect()]
    assert len(first) == len(set(first))  # each url once
    fetched = sorted(set(first))
    # due list drawn from article pages (nav fetch-misses like /about
    # are also scheduled once but have no outlinks to re-open)
    due_urls = [u for u in fetched if "article-" in u][::7]
    due = spark.createDataFrame(
        [(u,) for u in due_urls]
        + [("https://www.site1.example/never/crawled-99999.html",)],
        "url string",
    )
    n = sweep_revisit(spark, catalog, due, robots, host_rank, "week-1")
    assert n == len(due_urls)  # the unknown url was refused
    # idempotent: a re-run (crash-replay) injects nothing — both via
    # the cycle marker (same cycle id) and, with a fresh cycle id,
    # via the frontier anti-join (urls still enqueued)
    assert sweep_revisit(spark, catalog, due, robots, host_rank,
                         "week-1") == 0
    assert sweep_revisit(
        spark, catalog, due, robots, host_rank, cycle_id="fresh"
    ) == 0

    cfg2 = CrawlConfig(batch_size=30, max_depth=2, max_rounds=40,
                       seen_partitions=4)
    state2 = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg2)
    from collections import Counter

    counts = Counter(
        r["url"] for r in state2.schedule.select("url").collect()
    )
    for u in fetched:
        assert counts[u] == (2 if u in set(due_urls) else 1), u
    # Re-injection happens at depth 0, so urls that were depth-clipped
    # in the first crawl become admissible again — every newly
    # discovered url must be fetched exactly once and lie within the
    # re-opened depth-2 BFS neighborhood of a due page (article
    # outlinks plus the per-host /about and /subscribe nav links each
    # fetched page emits; depth-2 pages' own links exceed max_depth).
    new_urls = set(counts) - set(fetched)
    due_ids = {int(u.rsplit("-", 1)[1][:8]) for u in due_urls}

    def navs(i):
        h = synth.host_of(i)
        return {f"https://{h}/about", f"https://{h}/subscribe"}

    reopened = set()
    lvl1 = {t for i in due_ids for t in synth.out_link_ids(i, n_pages)}
    for i in due_ids:
        reopened |= navs(i)
    for t in lvl1:
        reopened.add(synth.url_of(t))
        reopened |= navs(t)
        for t2 in synth.out_link_ids(t, n_pages):
            reopened.add(synth.url_of(t2))
    for u in new_urls:
        assert counts[u] == 1, u
        assert u in reopened, u

    # Crashed-submission replay (the run_round.py recovery procedure):
    # re-sweeping under the SAME cycle id after its urls were already
    # refetched must be a no-op — the cycle marker, not the frontier
    # anti-join, is what knows this (the urls left the frontier when
    # they were admitted).
    assert sweep_revisit(spark, catalog, due, robots, host_rank,
                         "week-1") == 0
    # A genuinely new cycle (new id) re-injects the identical list.
    assert sweep_revisit(
        spark, catalog, due, robots, host_rank, cycle_id="week-2"
    ) == len(due_urls)
    # a path-unsafe id is refused before any state is touched
    with pytest.raises(ValueError):
        sweep_revisit(spark, catalog, due, robots, host_rank, "a/b")


def test_frontier_write_replace_heals_interrupted_rename(spark, tmp_path):
    """Catalog.write_replace (the revisit sweep's frontier edit): a
    crash between its two renames leaves the target dir missing but
    the fully-written __new sibling present — read() must heal by
    promoting it, never losing the committed snapshot."""
    import os
    import shutil

    cat = Catalog(spark, str(tmp_path / "wrcat"))
    df1 = spark.createDataFrame([(1,), (2,)], "x long")
    cat.write("t", df1, 0)
    df2 = spark.createDataFrame([(3,), (4,), (5,)], "x long")
    cat.write_replace("t", df2, 0)
    assert cat.read("t", 0).count() == 3
    # simulate the crash window: stage a __new, remove the target
    base = str(tmp_path / "wrcat" / "t")
    shutil.copytree(os.path.join(base, "v0"), os.path.join(base, "v0__new"))
    shutil.rmtree(os.path.join(base, "v0"))
    healed = cat.read("t", 0)
    assert healed.count() == 3
    assert os.path.isdir(os.path.join(base, "v0"))
    assert not os.path.isdir(os.path.join(base, "v0__new"))


def test_ucb_rank_table_drives_a_crawl_round(spark, tmp_path):
    """ucb_rank_table output satisfies the policy host-rank contract
    (max-normalized [0,1]) and plugs straight into run_crawl as the
    adaptive replacement for the static rank table — the previous
    rounds' fetch log becomes the next round's priorities."""
    from langscrape_spark.operators.hostquality import ucb_rank_table
    from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
    from langscrape_spark.sources.catalog import Catalog

    # fetch log from "earlier rounds": site1 yields keepers, site0
    # mostly junk, site2 barely sampled
    log = (
        [("www.site1.example", 1)] * 9 + [("www.site1.example", 0)]
        + [("www.site0.example", 0)] * 9 + [("www.site0.example", 1)]
        + [("www.site2.example", 1)]
    )
    ranks = ucb_rank_table(
        spark.createDataFrame(log, "host string, kept int"),
        "host", "kept",
    )
    got = {r.host: r.rank for r in ranks.collect()}
    assert max(got.values()) == 1.0
    assert all(0.0 <= v <= 1.0 for v in got.values())
    # exploration: the 1-pull host outranks the well-sampled junk host
    assert got["www.site2.example"] > got["www.site0.example"]

    pages = synth.build_pages_df(spark, 40, partitions=2)
    seeds = synth.seeds_df(spark, 40, n_seeds=4)
    robots = synth.robots_df(spark)
    catalog = Catalog(spark, str(tmp_path / "ucbcat"))
    cfg = CrawlConfig(batch_size=8, max_depth=1, max_rounds=2,
                      seen_partitions=4)
    state = run_crawl(spark, pages, seeds, robots, ranks, catalog, cfg)
    assert state.rounds_run >= 1
    assert state.schedule.count() > 0
