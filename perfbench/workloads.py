"""The three workloads: ``extract``, ``crawl`` and ``frontier``.

Each takes a live session, the generated inputs and the run length, and
returns a :class:`Result` holding end-to-end figures (untraced runs) or
per-layer figures (traced runs), plus the count of operations attempted
and failed.  Operations are urls: an extraction row, or a url a crawl
handled (seen, scheduled or owed by the closure).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import tracing
from probe import ProcessProbe

PA_PAGES = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: Dict[str, int] = field(default_factory=dict)  # check -> urls
    e2e: Dict[str, float] = field(default_factory=dict)
    layers: Dict[str, float] = field(default_factory=dict)
    extra: Dict[str, object] = field(default_factory=dict)  # goes to the trace file

    def add_report(self, report: Dict[str, set], attempted: int) -> None:
        self.attempted += attempted
        self.failed += len(checks.failed(report))
        for name, urls in report.items():
            self.failures[name] = self.failures.get(name, 0) + len(urls)


def write_table(rows: List[dict], path: str, schema: pa.Schema, n_files: int) -> None:
    """Rows dealt round-robin into ``n_files`` parquet files, so every
    file gets the same size mix."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = rows[i::n_files]
        pq.write_table(pa.Table.from_pylist(part, schema=schema), os.path.join(path, f"part-{i:03d}.parquet"))


def _read_rows(paths: List[str], columns: List[str]) -> List[dict]:
    rows = [r for p in paths for r in pq.read_table(p, columns=columns).to_pylist()]
    for r in rows:
        if "extracted" in r and r["extracted"] is not None:
            r["extracted"] = dict(r["extracted"])
    return rows


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- extract --------------------------------------------------------------------

EXTRACT_PAGES = 1600
EXTRACT_FILES = 16


def run_extract(spark, run_dir: str, seed: int, seconds: float, traced: bool, probe: ProcessProbe) -> Result:
    from langscrape_spark.plans.extract import extract_pages

    inputs = gen.extract_inputs(seed, EXTRACT_PAGES)
    src = os.path.join(run_dir, "pages")
    write_table(inputs.pages, src, PA_PAGES, EXTRACT_FILES)
    # one input file = one task (4 per core), so a straggler page cannot
    # hold a core idle for long
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    pages = spark.read.parquet(src)

    def one_pass(i: int) -> float:
        out = os.path.join(run_dir, f"out{i}")
        t0 = time.perf_counter()
        extract_pages(pages, gen.FIELD_MAP).write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    one_pass(0)  # untimed: JIT, Arrow and worker imports settle
    walls, sizes = [], []
    probe.reset_peaks()
    cpu0 = probe.cpu()
    t_start = time.perf_counter()
    i = 1
    while not walls or time.perf_counter() - t_start < seconds:
        walls.append(one_pass(i))
        sizes.append(tracing.dir_mb(os.path.join(run_dir, f"out{i}")))
        i += 1
    cpu1 = probe.cpu()
    probe.sample()

    res = Result()
    cols = ["url", "is_pdf", "is_valid_url", "extracted"]
    for k in range(1, i):
        rows = _read_rows([os.path.join(run_dir, f"out{k}")], cols)
        res.add_report(checks.check_extract(rows, inputs), len(inputs.pages))
    n = len(inputs.pages)
    rate = median([n / w for w in walls])
    res.extra.update(passes=len(walls), pass_walls=walls, urls_per_s=rate)
    if not traced:
        res.e2e = {
            "urls_per_s": rate,
            "round_s": median(walls),
            "catalog_mb": median(sizes),
            "worker_rss_mb": probe.peak_worker_rss / 1e6,
        }
        return res
    html = tracing.html_layer_ms(inputs.pages, gen.FIELD_MAP)
    pages_done = n * len(walls)
    worker_ms = (cpu1["worker"] - cpu0["worker"]) * 1000 / pages_done
    res.layers = {
        **{f"html.{k}": v for k, v in html.items()},
        "functions.worker_cpu_ms": worker_ms,
        "functions.jvm_cpu_ms": (cpu1["jvm"] - cpu0["jvm"]) * 1000 / pages_done,
        "functions.crossing_ms": worker_ms - html["clean_ms"] - html["xpath_ms"],
        "plans.extract_s": median(walls),
    }
    return res


# -- crawl and frontier -----------------------------------------------------------

@dataclass
class CrawlPlan:
    shape: gen.CrawlShape
    batch_size: int
    max_rounds: int
    extract: bool


CRAWL_FILES = 8  # parquet files of a crawl's pages table
CRAWL_PLAN = CrawlPlan(gen.CRAWL, batch_size=800, max_rounds=4, extract=True)
FRONTIER_PLAN = CrawlPlan(gen.FRONTIER, batch_size=30, max_rounds=7, extract=False)


def _write_crawl_inputs(inputs: gen.Inputs, d: str, page_files: int) -> None:
    write_table(inputs.pages, os.path.join(d, "pages"), PA_PAGES, page_files)
    pq.write_table(pa.table({"url": inputs.seeds, "depth": pa.array([0] * len(inputs.seeds), pa.int32())}),
                   os.path.join(d, "seeds.parquet"))
    hosts = sorted(inputs.robots)
    pq.write_table(pa.table({
        "host": hosts,
        "disallow_prefixes": [inputs.robots[h][0] for h in hosts],
        "crawl_delay": [float(inputs.robots[h][1]) for h in hosts],
        "allowed": [bool(inputs.robots[h][2]) for h in hosts],
    }), os.path.join(d, "robots.parquet"))
    ranked = sorted(inputs.host_rank)
    pq.write_table(pa.table({"host": ranked, "rank": [inputs.host_rank[h] for h in ranked]}),
                   os.path.join(d, "host_rank.parquet"))


def run_crawl_workload(spark, run_dir: str, seed: int, seconds: float, traced: bool,
                       probe: ProcessProbe, plan: CrawlPlan) -> Result:
    from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl

    inputs = gen.crawl_inputs(seed, plan.shape)
    src = os.path.join(run_dir, "inputs")
    _write_crawl_inputs(inputs, src, CRAWL_FILES)
    tables = {n: spark.read.parquet(os.path.join(src, p)) for n, p in
              [("pages", "pages"), ("seeds", "seeds.parquet"), ("robots", "robots.parquet"),
               ("host_rank", "host_rank.parquet")]}
    cfg = CrawlConfig(
        batch_size=plan.batch_size,
        max_depth=plan.max_rounds,  # >= rounds, so the depth cap never binds
        max_rounds=plan.max_rounds,
        extract_field_map=gen.FIELD_MAP if plan.extract else None,
    )

    def one_crawl(i: int):
        cat = tracing.TimedCatalog(spark, os.path.join(run_dir, f"catalog{i}"), traced=traced)
        cpu0 = probe.cpu() if traced else None
        cat.t_entry = time.perf_counter()
        state = run_crawl(spark, tables["pages"], tables["seeds"], tables["robots"],
                          tables["host_rank"], cat, cfg)
        wall = time.perf_counter() - cat.t_entry
        cpu1 = probe.cpu() if traced else None
        return cat, state, wall, cpu0, cpu1

    # One untimed crawl: the first crawl in a JVM runs ~50 % slower while
    # the JIT compiles, and crawls after a shorter warm-up keep getting
    # faster, which would tie the figure to how many crawls fit the window.
    cat, _state, _w, _c0, _c1 = one_crawl(0)
    shutil.rmtree(cat.root, ignore_errors=True)

    res = Result()
    probe.reset_peaks()
    crawls = []
    t_start = time.perf_counter()
    i = 1
    while not crawls or time.perf_counter() - t_start < seconds:
        cat, state, wall, cpu0, cpu1 = one_crawl(i)
        size_mb = tracing.dir_mb(cat.root)
        schedule = [(r["round"], r["seq"], r["url"]) for r in state.schedule.select("round", "seq", "url").collect()]
        seen = {r["url"] for r in state.seen.collect()}
        results = None
        if plan.extract:
            results = _read_rows(cat.appended_dirs("results"),
                                 ["url", "is_pdf", "is_valid_url", "extracted"])
        crawls.append(dict(cat=cat, wall=wall, size_mb=size_mb, schedule=schedule, seen=seen,
                           results=results, cpu0=cpu0, cpu1=cpu1))
        i += 1
    probe.sample()

    for c in crawls:
        report = checks.check_crawl(c["schedule"], c["seen"], inputs, plan.batch_size,
                                    cfg.max_depth, plan.max_rounds, c["results"])
        res.add_report(report, len(checks.crawl_urls(c["schedule"], c["seen"], inputs)))

    rate = sum(len(c["schedule"]) for c in crawls) / sum(c["wall"] for c in crawls)
    round_walls = [w for c in crawls for w in c["cat"].round_walls()]
    res.extra.update(crawls=len(crawls), crawl_walls=[c["wall"] for c in crawls],
                     urls_per_s=rate, round_walls=round_walls,
                     scheduled=[len(c["schedule"]) for c in crawls],
                     seen=[len(c["seen"]) for c in crawls])
    if not traced:
        res.e2e = {
            "urls_per_s": rate,
            "round_s": median(round_walls),
            "catalog_mb": median([c["size_mb"] for c in crawls]),
            "worker_rss_mb": probe.peak_worker_rss / 1e6,
        }
    else:
        res.layers, found = crawl_layers(spark, crawls, inputs, plan)
        res.extra.update(found)
        res.extra["round_jobs"] = [(r["first_job"], r["last_job"]) for c in crawls
                                   for r in c["cat"].round_layers()]
    for c in crawls:
        shutil.rmtree(c["cat"].root, ignore_errors=True)
    return res


def crawl_layers(spark, crawls, inputs: gen.Inputs, plan: CrawlPlan) -> Tuple[Dict[str, float], dict]:
    rounds = [r for c in crawls for r in c["cat"].round_layers()]
    fetched = sum(1 for c in crawls for _r, _s, u in c["schedule"] if u in inputs.truth.links)
    worker_s = sum(c["cpu1"]["worker"] - c["cpu0"]["worker"] for c in crawls)
    jvm_s = sum(c["cpu1"]["jvm"] - c["cpu0"]["jvm"] for c in crawls)
    html = tracing.html_layer_ms(inputs.pages, gen.FIELD_MAP)
    kernel_ms = html["links_ms"] + (html["clean_ms"] + html["xpath_ms"] if plan.extract else 0.0)
    skews, frontier_rows, program_walls = [], [], []
    for c in crawls:
        metrics = spark.read.parquet(*c["cat"].appended_dirs("metrics")).collect()
        program_walls.append([m["wall_sec"] for m in sorted(metrics, key=lambda m: m["round"])])
        for m in metrics:
            counts = [p["rows"] for p in m["partition_rows"]]
            if counts:
                skews.append(max(counts) / (sum(counts) / len(counts)))
        frontier_rows += c["cat"].frontier_rows
    # kept for the trace file: the program's own per-round wall_sec beside
    # the commit-to-commit walls, and the catalog calls made while seeding
    extra = {
        "program_wall_sec": program_walls,
        "round_walls": [c["cat"].round_walls() for c in crawls],
        "seed_spans": [[(s["name"], s["table"], s["end"] - s["start"]) for s in c["cat"].spans if s["round"] == 0]
                       for c in crawls],
    }
    layers = {f"html.{k}": v for k, v in html.items()}
    layers.update({
        "functions.worker_cpu_ms": worker_s * 1000 / fetched,
        "functions.jvm_cpu_ms": jvm_s * 1000 / fetched,
        "functions.crossing_ms": worker_s * 1000 / fetched - kernel_ms,
        "plans.extract_s": median([r["extract_s"] for r in rounds]),
        "scheduler.seed_s": median([c["cat"].seed_s() for c in crawls]),
        "scheduler.compute_s": median([r["compute_s"] for r in rounds]),
        "scheduler.jobs_per_round": median([r["jobs"] for r in rounds]),
        "scheduler.partition_skew": median(skews),
        "scheduler.frontier_rows": median(frontier_rows),
        "catalog.write_s": median([r["write_s"] for r in rounds]),
        "catalog.read_s": median([r["read_s"] for r in rounds]),
        "catalog.mb_written": median([r["mb_written"] for r in rounds]),
        "catalog.files_written": median([r["files_written"] for r in rounds]),
    })
    return layers, extra
