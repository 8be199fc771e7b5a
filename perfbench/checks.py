"""End-of-run output checks.

Each check compares the program's output with something computed
apart from it: the generator's planted fields and canonical out-links
(``gen.Truth``), the closure of the link graph under the generator's
own robots rules, the politeness budget formula, or the program's
sequential simulator run on the same link graph.  Every check returns
the set of urls it finds wrong; a url in any set is a failed operation.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

from gen import FIELD_MAP, JUNK_MARKERS, NO_STORED, Inputs, budget_k, canonical, host_of, robots_allow

Schedule = Sequence[Tuple[int, int, str]]  # (round, seq, url)


# -- extraction ---------------------------------------------------------------

def check_row_count(rows: Sequence[dict], inputs: Inputs) -> Set[str]:
    """One output row per input row: invalid urls are flagged, never
    dropped, and nothing is duplicated."""
    want = Counter(p["url"] for p in inputs.pages)
    got = Counter(r["url"] for r in rows)
    return {u for u in want.keys() | got.keys() if want[u] != got[u]}


def check_fields(rows: Iterable[dict], inputs: Inputs) -> Set[str]:
    """Every extracted field equals the planted value; pdf rows carry
    the no-stored-value sentinel in every field; validity flags match."""
    bad = set()
    for r in rows:
        url, kind = r["url"], inputs.truth.kind.get(r["url"])
        got = {k: list(v) for k, v in (r["extracted"] or {}).items()}
        if kind == "pdf":
            ok = r["is_pdf"] and got == {k: [NO_STORED] for k in FIELD_MAP}
        elif kind in ("html", "bad_url"):
            ok = got == inputs.truth.fields[url] and not r["is_pdf"]
        else:
            ok = False  # a row the input never had
        if kind is not None and bool(r["is_valid_url"]) != (kind != "bad_url"):
            ok = False
        if not ok:
            bad.add(url)
    return bad


def check_no_junk(rows: Iterable[dict]) -> Set[str]:
    """No planted junk marker (script, style, display:none, comment or
    nav text) appears in any extracted field."""
    bad = set()
    for r in rows:
        for values in (r["extracted"] or {}).values():
            if any(m in v for v in values for m in JUNK_MARKERS):
                bad.add(r["url"])
    return bad


def check_extract(rows: Sequence[dict], inputs: Inputs) -> Dict[str, Set[str]]:
    return {
        "row_count": check_row_count(rows, inputs),
        "fields": check_fields(rows, inputs),
        "no_junk": check_no_junk(rows),
    }


# -- crawl --------------------------------------------------------------------

def closure(schedule: Schedule, inputs: Inputs) -> Set[str]:
    """Robots-allowed canonical seeds plus the allowed out-links of every
    scheduled page present in the pages table (the generator's links)."""
    out = set()
    for s in inputs.seeds:
        c = canonical(s)
        if c is not None and robots_allow(c, inputs.robots):
            out.add(c)
    for _r, _s, url in schedule:
        for link in inputs.truth.links.get(url, ()):
            if robots_allow(link, inputs.robots):
                out.add(link)
    return out


def check_seen(schedule: Schedule, seen: Set[str], inputs: Inputs) -> Set[str]:
    return closure(schedule, inputs) ^ set(seen)


def check_schedule_once(schedule: Schedule, seen: Set[str]) -> Set[str]:
    """Each url scheduled at most once, and only urls of the seen set."""
    counts = Counter(u for _r, _s, u in schedule)
    return {u for u, c in counts.items() if c > 1 or u not in seen}


def check_budgets(schedule: Schedule, inputs: Inputs, batch_size: int) -> Set[str]:
    """No round admits more than ``batch_size`` urls, nor more than
    ``k = max(1, floor(4 / crawl_delay))`` urls of one host."""
    bad = set()
    rounds: Dict[int, List[Tuple[int, str]]] = defaultdict(list)
    for r, s, u in schedule:
        rounds[r].append((s, u))
    for r, rows in rounds.items():
        rows.sort()
        if len(rows) > batch_size:
            bad.update(u for _s, u in rows[batch_size:])
        per_host: Dict[str, int] = Counter()
        for _s, u in rows:
            h = host_of(u)
            per_host[h] += 1
            rule = inputs.robots.get(h)
            if per_host[h] > budget_k(rule[1] if rule else None):
                bad.add(u)
    return bad


def simulate(inputs: Inputs, batch_size: int, max_depth: int, max_rounds: int):
    """The program's sequential simulator over the same link graph.
    Each page is handed to it as a bare list of its canonical out-links,
    which its link parser reads back unchanged."""
    from langscrape_spark.scheduler.simulator import simulate_crawl

    pages = {
        u: "".join(f'<a href="{l}"></a>' for l in links)
        for u, links in inputs.truth.links.items()
    }
    return simulate_crawl(
        list(inputs.seeds), pages, dict(inputs.robots), dict(inputs.host_rank),
        batch_size=batch_size, max_depth=max_depth, max_rounds=max_rounds,
    )


def check_order(schedule: Schedule, expected: Schedule) -> Set[str]:
    """The admitted order, as (round, seq, url), equals the simulator's."""
    got, want = sorted(schedule), sorted(expected)
    bad = set()
    for i in range(max(len(got), len(want))):
        a = got[i] if i < len(got) else None
        b = want[i] if i < len(want) else None
        if a != b:
            bad.update(x[2] for x in (a, b) if x is not None)
    return bad


def check_results(results: Sequence[dict], schedule: Schedule, inputs: Inputs) -> Set[str]:
    """Exactly one results row per fetched scheduled url, carrying the
    planted field values."""
    fetched = Counter(u for _r, _s, u in schedule if u in inputs.truth.fields)
    got = Counter(r["url"] for r in results)
    bad = {u for u in fetched.keys() | got.keys() if fetched[u] != got[u]}
    bad |= check_fields(results, inputs)
    bad |= check_no_junk(results)
    return bad


def check_crawl(
    schedule: Schedule,
    seen: Set[str],
    inputs: Inputs,
    batch_size: int,
    max_depth: int,
    max_rounds: int,
    results: Optional[Sequence[dict]] = None,
) -> Dict[str, Set[str]]:
    expected, _sim_seen = simulate(inputs, batch_size, max_depth, max_rounds)
    out = {
        "seen": check_seen(schedule, seen, inputs),
        "schedule_once": check_schedule_once(schedule, seen),
        "budgets": check_budgets(schedule, inputs, batch_size),
        "order": check_order(schedule, expected),
    }
    if results is not None:
        out["results"] = check_results(results, schedule, inputs)
    return out


def crawl_urls(schedule: Schedule, seen: Set[str], inputs: Inputs) -> Set[str]:
    """The urls one crawl handles: its operations."""
    return closure(schedule, inputs) | set(seen) | {u for _r, _s, u in schedule}


def failed(report: Dict[str, Set[str]]) -> Set[str]:
    return set().union(*report.values()) if report else set()

