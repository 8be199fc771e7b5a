"""Timers placed around calls into the program's layers.

``TimedCatalog`` is a :class:`Catalog` subclass handed to ``run_crawl``
(which takes the catalog as an argument), so the scheduler's catalog
traffic is timed without touching program code.  Untraced runs keep
only the round-commit timestamps (``round_s``); traced runs also
record a span per catalog call, the Spark job id and the catalog
directory's file set at each commit.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from typing import Dict, List, Optional

from langscrape_spark.sources.catalog import Catalog


class TimedCatalog(Catalog):
    def __init__(self, spark, root: str, traced: bool = False) -> None:
        super().__init__(spark, root)
        self.traced = traced
        self.t_entry: Optional[float] = None  # set by the caller at run_crawl entry
        self.commits: List[tuple] = []  # (round_no, t, max_job_id, files)
        self.spans: List[dict] = []  # {name, table, start, end, round}
        self.frontier_rows: List[int] = []  # rows of each committed frontier
        self._lock = threading.Lock()

    # -- spans ----------------------------------------------------------------
    def _span(self, name: str, table: str, fn, *args, **kwargs):
        if not self.traced:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans.append({
                    "name": name, "table": table, "start": t0, "end": t1,
                    "round": len(self.commits),  # commits so far = open round
                })

    def write(self, name, df, version, keep=None):
        return self._span("write", name, super().write, name, df, version, keep)

    def append(self, name, df, version, partition_cols=None):
        return self._span("append", name, super().append, name, df, version, partition_cols)

    def read(self, name, version=None):
        return self._span("read", name, super().read, name, version)

    def read_appended(self, name, version=None):
        return self._span("read_appended", name, super().read_appended, name, version)

    def commit_round(self, round_no: int) -> None:
        super().commit_round(round_no)
        t = time.perf_counter()
        job = files = None
        if self.traced:
            ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
            job = max(ids) if ids else -1
            files = dir_files(self.root)
            self.frontier_rows.append(parquet_rows(self._data_dir("frontier", round_no)))
        self.commits.append((round_no, t, job, files))

    # -- per-round figures ------------------------------------------------------
    def round_walls(self) -> List[float]:
        """Wall time of each crawl round, from one commit to the next."""
        ts = [c[1] for c in self.commits]
        return [b - a for a, b in zip(ts, ts[1:])]

    def seed_s(self) -> float:
        return self.commits[0][1] - self.t_entry

    def round_layers(self) -> List[Dict[str, float]]:
        """Per round (commit k -> k+1): extraction, checkpoint writes,
        reads, remaining scheduler compute, catalog bytes/files added,
        Spark jobs."""
        out = []
        for k in range(len(self.commits) - 1):
            (_r, t0, j0, f0), (_r1, t1, j1, f1) = self.commits[k], self.commits[k + 1]
            spans = [s for s in self.spans if s["round"] == k + 1]
            extract = sum(s["end"] - s["start"] for s in spans
                          if s["name"] == "append" and s["table"] == "results")
            writes = [s for s in spans if s["name"] in ("write", "append")
                      and s["table"] != "results"]
            write_s = (max(s["end"] for s in writes) - min(s["start"] for s in writes)) if writes else 0.0
            read_s = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("read"))
            added = {p: n for p, n in f1.items() if p not in f0}
            wall = t1 - t0
            out.append({
                "wall_s": wall,
                "extract_s": extract,
                "write_s": write_s,
                "read_s": read_s,
                "compute_s": wall - extract - write_s,
                "jobs": j1 - j0,
                "first_job": j0 + 1,
                "last_job": j1,
                "mb_written": sum(added.values()) / 1e6,
                "files_written": len(added),
            })
        return out


def dir_files(root: str) -> Dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers alone."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def dir_mb(root: str) -> float:
    return sum(dir_files(root).values()) / 1e6


def shuffle_mb_by_job(event_log_dir: str) -> Dict[int, float]:
    """Shuffle bytes written per Spark job, from the event log."""
    stage_job: Dict[int, int] = {}
    by_job: Dict[int, float] = {}
    paths = sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(event_log_dir)
        for f in files
        if f.startswith(("events_", "local-")) and not f.endswith(".crc")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    wm = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    if job is not None:
                        by_job[job] = by_job.get(job, 0.0) + wm.get("Shuffle Bytes Written", 0) / 1e6
    return by_job


def html_layer_ms(pages: List[dict], field_map, sample: int = 60) -> Dict[str, float]:
    """Single-core, in-process milliseconds per page of the four HTML
    kernel entry points, over a fixed sample of the workload's html
    pages: every n-th page in size order, so the sample keeps the
    workload's size mix (a plain every-n-th row sample of a heavy-tailed
    mix misses its mean by 10-20 %)."""
    from langscrape_spark.html.clean import clean_html_for_extraction
    from langscrape_spark.html.dom import parse
    from langscrape_spark.html.extract import extract_by_xpath_map
    from langscrape_spark.html.links import extract_links

    html_pages = sorted((p for p in pages if not p["url"].endswith(".pdf")), key=lambda p: len(p["html"]))
    step = max(1, len(html_pages) // sample)
    rows = [(p["url"], p["html"].decode("utf-8", "replace")) for p in html_pages[step // 2::step]]
    cleaned = [clean_html_for_extraction(h) for _u, h in rows]  # warm caches once
    timers = {
        "parse_ms": lambda: [parse(h) for _u, h in rows],
        "clean_ms": lambda: [clean_html_for_extraction(h) for _u, h in rows],
        "xpath_ms": lambda: [extract_by_xpath_map(c, field_map) for c in cleaned],
        "links_ms": lambda: [extract_links(h, u) for u, h in rows],
    }
    out = {}
    for name, fn in timers.items():
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            reps.append((time.perf_counter() - t0) * 1000 / len(rows))
        out[name] = statistics.median(reps)
    return out
