#!/usr/bin/env python3
"""Crawl/extract benchmark: runs one workload for one seed.

    python3 perfbench/run.py --workload extract|crawl|frontier \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  The session is ``local[k]`` with
``k = min(--cores, cores available)``, ``--cores`` defaulting to 4; all
load comes from this process.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics, each as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

Generated inputs, catalogs and per-run trace files go under
``.perfbench_out/`` in the repository root; a run deletes its inputs
and catalogs when it ends and keeps only its trace file.
"""

import time

_T_IMPORT = time.perf_counter()  # noqa: E402 (fallback process clock)

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("extract", "crawl", "frontier")
MAX_CORES = 4


def _metric_units(section: str) -> dict:
    """name -> unit of the metrics BENCHMARK.json lists in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _process_age() -> float:
    try:
        from probe import process_age_s

        return process_age_s()
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _T_IMPORT


def _prepare_env(run_dir: str, traced: bool) -> None:
    """Point every scratch directory of the JVM and the Python workers
    into the run directory, and keep program defaults unless set here."""
    local = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_FAULTHANDLER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    args = ["--driver-java-options", opts, "--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def _warm(spark, k: int) -> None:
    """One Python worker per core, each with the HTML kernel imported
    and run once, before any clock starts."""

    def warm(batches):
        import time as _t

        from langscrape_spark.functions import kernel  # noqa: F401
        from langscrape_spark.html.clean import clean_html_for_extraction
        from langscrape_spark.html.links import extract_links

        html = '<html><body><div class="body"><p>warm <a href="/x">x</a></p></div></body></html>'
        clean_html_for_extraction(html)
        extract_links(html, "https://warm.example/")
        _t.sleep(0.2)  # hold the slot so every task gets its own worker
        yield from batches

    spark.range(0, k, 1, k).mapInPandas(warm, "id long").collect()


def _stop(spark) -> None:
    from pyspark import SparkContext

    from probe import wait_descendants_gone

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    wait_descendants_gone()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=MAX_CORES,
                    help="task slots, capped at the cores available (1 gives the single-thread baseline)")
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "langscrape_spark")):
        print(f"perfbench: no langscrape_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    run_dir = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir, traced)

    import workloads
    from langscrape_spark.session import get_spark
    from probe import ProcessProbe

    k = max(1, min(args.cores, len(os.sched_getaffinity(0))))
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{k}]")
    start_s = time.perf_counter() - t0
    probe = ProcessProbe()
    probe.start()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        _warm(spark, k)
        setup_s = _process_age()
        run = {
            "extract": lambda: workloads.run_extract(spark, run_dir, args.seed, args.seconds, traced, probe),
            "crawl": lambda: workloads.run_crawl_workload(
                spark, run_dir, args.seed, args.seconds, traced, probe, workloads.CRAWL_PLAN),
            "frontier": lambda: workloads.run_crawl_workload(
                spark, run_dir, args.seed, args.seconds, traced, probe, workloads.FRONTIER_PLAN),
        }[args.workload]
        res = run()
    finally:
        probe.stop()
        _stop(spark)

    if traced:
        import tracing

        layers = dict(res.layers)
        layers["session.start_s"] = start_s
        layers["session.jvm_rss_mb"] = probe.peak_jvm_rss / 1e6
        if "round_jobs" in res.extra:
            by_job = tracing.shuffle_mb_by_job(os.path.join(run_dir, "eventlog"))
            per_round = [sum(by_job.get(j, 0.0) for j in range(a, b + 1)) for a, b in res.extra["round_jobs"]]
            layers["scheduler.shuffle_mb"] = workloads.median(per_round)
        # a layer this workload never calls did no work: it reads 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in _metric_units("per_layer").items()}
    else:
        values = dict(res.e2e, setup_s=setup_s)
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in _metric_units("end_to_end").items()}

    trace_dir = os.path.join(OUT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "cores": k, "setup_s": setup_s, "start_s": start_s,
                   "failures": res.failures, "metrics": metrics,
                   "extra": {k2: v for k2, v in res.extra.items() if k2 != "round_jobs"}}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
