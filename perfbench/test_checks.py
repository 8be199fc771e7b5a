"""Each output check must pass on a real output and fail on a copy of it
corrupted in the one way that check exists to catch.

    python3 -m pytest perfbench/test_checks.py -q

The real outputs come from a small crawl (extraction on) and a small
extraction pass run through the program on ``local[2]``.
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import gen  # noqa: E402

SHAPE = gen.CrawlShape(n_pages=300, n_hosts=12, fanout=(4, 8), size_kb=(2, 4),
                       seeds_per_host=2, local_share=0.5, missing_share=0.05)
BATCH, ROUNDS = 15, 3


@pytest.fixture(scope="module")
def outputs(tmp_path_factory):
    import run
    import workloads

    work = str(tmp_path_factory.mktemp("perfbench"))
    run._prepare_env(work, traced=False)
    from langscrape_spark.plans.extract import extract_pages
    from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
    from langscrape_spark.session import get_spark
    from langscrape_spark.sources.catalog import Catalog

    spark = get_spark(app_name="perfbench-checks", master="local[2]", shuffle_partitions=4)
    try:
        crawl_in = gen.crawl_inputs(3, SHAPE)
        src = os.path.join(work, "crawl")
        workloads._write_crawl_inputs(crawl_in, src, 2)
        t = {n: spark.read.parquet(os.path.join(src, n + ext)) for n, ext in
             [("pages", ""), ("seeds", ".parquet"), ("robots", ".parquet"), ("host_rank", ".parquet")]}
        cat = Catalog(spark, os.path.join(work, "catalog"))
        state = run_crawl(spark, t["pages"], t["seeds"], t["robots"], t["host_rank"], cat,
                          CrawlConfig(batch_size=BATCH, max_depth=ROUNDS, max_rounds=ROUNDS,
                                      extract_field_map=gen.FIELD_MAP))
        schedule = [(r["round"], r["seq"], r["url"]) for r in state.schedule.collect()]
        seen = {r["url"] for r in state.seen.collect()}
        cols = ["url", "is_pdf", "is_valid_url", "extracted"]
        results = workloads._read_rows(cat.appended_dirs("results"), cols)

        ext_in = gen.extract_inputs(3, 120)
        workloads.write_table(ext_in.pages, os.path.join(work, "pages"), workloads.PA_PAGES, 2)
        out = os.path.join(work, "extracted")
        extract_pages(spark.read.parquet(os.path.join(work, "pages")), gen.FIELD_MAP).write.parquet(out)
        rows = workloads._read_rows([out], cols)
    finally:
        run._stop(spark)
    return dict(crawl_in=crawl_in, schedule=schedule, seen=seen, results=results,
                ext_in=ext_in, rows=rows)


def _crawl_report(o, schedule=None, seen=None, results=None):
    return checks.check_crawl(
        o["schedule"] if schedule is None else schedule,
        o["seen"] if seen is None else seen,
        o["crawl_in"], BATCH, ROUNDS, ROUNDS,
        o["results"] if results is None else results,
    )


def test_real_outputs_pass(outputs):
    o = outputs
    assert len(o["schedule"]) > 2 * BATCH and len(o["seen"]) > len(o["schedule"])
    assert {k for k, v in _crawl_report(o).items() if v} == set()
    assert {k for k, v in checks.check_extract(o["rows"], o["ext_in"]).items() if v} == set()
    kinds = {o["ext_in"].truth.kind[r["url"]] for r in o["rows"]}
    assert kinds == {"html", "pdf", "bad_url"}


def test_dropped_seen_url_fails(outputs):
    seen = set(outputs["seen"])
    dropped = sorted(seen)[7]
    seen.discard(dropped)
    assert checks.check_seen(outputs["schedule"], seen, outputs["crawl_in"]) == {dropped}


def test_duplicated_schedule_row_fails(outputs):
    sched = list(outputs["schedule"])
    r, s, u = sched[3]
    sched.append((r + 1, BATCH, u))
    assert u in checks.check_schedule_once(sched, outputs["seen"])
    assert u in _crawl_report(outputs, schedule=sched)["order"]


def test_swapped_admissions_fail(outputs):
    sched = sorted(outputs["schedule"])
    (r0, s0, u0), (r1, s1, u1) = sched[1], sched[2]
    assert r0 == r1
    sched[1], sched[2] = (r0, s0, u1), (r1, s1, u0)
    report = _crawl_report(outputs, schedule=sched)
    assert report["order"] == {u0, u1}
    # the swap keeps every round's membership: only the order check fires
    assert not report["budgets"] and not report["seen"] and not report["schedule_once"]


def test_host_over_budget_fails(outputs):
    inputs = outputs["crawl_in"]
    sched = list(outputs["schedule"])
    by_host = {}
    for i, (r, _s, u) in enumerate(sched):
        by_host.setdefault(gen.host_of(u), []).append(i)
    # a host scheduled more often than its per-round budget allows
    host = next(h for h, idx in by_host.items() if len(idx) > gen.budget_k(inputs.robots[h][1]))
    k = gen.budget_k(inputs.robots[host][1])
    target = sched[by_host[host][0]][0]
    for i in by_host[host][: k + 1]:
        _r, s, u = sched[i]
        sched[i] = (target, s + 1000 * i, u)  # same round, fresh seq
    assert checks.check_budgets(sched, inputs, BATCH)
    assert checks.check_budgets(outputs["schedule"], inputs, BATCH) == set()


def test_round_over_batch_fails(outputs):
    sched = [(0, i, u) for i, (_r, _s, u) in enumerate(sorted(outputs["schedule"]))]
    assert len(checks.check_budgets(sched, outputs["crawl_in"], BATCH)) >= len(sched) - BATCH


def test_altered_extracted_field_fails(outputs):
    rows = copy.deepcopy(outputs["rows"])
    row = next(r for r in rows if outputs["ext_in"].truth.kind[r["url"]] == "html")
    row["extracted"]["author"] = [row["extracted"]["author"][0] + "x"]
    assert checks.check_fields(rows, outputs["ext_in"]) == {row["url"]}

    results = copy.deepcopy(outputs["results"])
    results[0]["extracted"]["title"] = ["altered"]
    assert _crawl_report(outputs, results=results)["results"] == {results[0]["url"]}


def test_dropped_or_junk_rows_fail(outputs):
    rows = copy.deepcopy(outputs["rows"])
    gone = rows.pop(5)["url"]
    assert checks.check_row_count(rows, outputs["ext_in"]) == {gone}
    rows[0]["extracted"]["article_body"] = ["ZQSCRIPT leaked"]
    assert checks.check_no_junk(rows) == {rows[0]["url"]}
