"""Seeded input generator for the benchmark, with truth tables.

Independent of ``langscrape_spark`` on purpose (nothing here imports
the program): a later change to the program's own synthetic corpus or
HTML kernel cannot change what the benchmark measures or what its
checks expect.  Every input is a pure function of the workload shape
and ``--seed``; the seed permutes hosts, link targets, page sizes and
text, while the *mix* (size quantiles, host weights, delay classes,
fanout) is fixed so that two seeds carry the same amount of work.

Truth written beside the pages:

- ``fields``: the title, author, datetime and article paragraphs
  planted in each html page, as the decoded text a reader sees
  (entities resolved, whitespace collapsed, invalid UTF-8 bytes
  replaced by U+FFFD the way ``bytes.decode("utf-8", "replace")``
  does), or the empty-result sentinel where a field is left out;
- ``links``: each page's out-links in canonical form (lower-case
  scheme and host, no fragment), in document order, without repeats;
- ``robots``: per host ``(disallow_prefixes, crawl_delay, allowed)``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Optional, Tuple

EMPTY = "(Empty Result)"
NO_STORED = "(No stored value)"

# Field map over the *cleaned* html (the cleaner keeps class/id, drops
# the <time datetime> attribute, so the time element's text is the target).
FIELD_MAP: Dict[str, Dict[str, str]] = {
    "title": {"strategy": "xpath_extractor", "xpath": "//h1[@class='headline']"},
    "author": {"strategy": "xpath_extractor", "xpath": "//span[@class='author']"},
    "datetime": {"strategy": "xpath_extractor", "xpath": "//time"},
    "article_body": {"strategy": "xpath_extractor", "xpath": "//div[@class='body']/p"},
}

# Junk markers: text planted only where the cleaner or the field map
# must keep it out of every extracted field.
JUNK_MARKERS = ("ZQSCRIPT", "ZQSTYLE", "ZQHIDDEN", "ZQCOMMENT", "ZQNAV")

_WORDS = (
    "crawler frontier politeness robots harvest parser extract schedule "
    "archive snapshot history market river garden engine signal harbor "
    "winter summer station library forest copper silver orbit planet "
    "quiet rapid gentle bright narrow distant ancient modern hidden open"
).split()
_FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "Leslie"]
_LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Allen", "Lamport"]
_SECTIONS = ["news", "tech", "sport", "culture", "science", "travel"]
_LANGS = ["en", "he", "fr", "de"]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
# (entity as written in html, decoded text)
_ENTITIES = [("&amp;", "&"), ("&eacute;", "é"), ("&mdash;", "—"),
             ("&lt;", "<"), ("&gt;", ">"), ("&#8217;", "’"), ("&quot;", '"')]
_BAD_UTF8 = b"caf\xe9 cr\xe8me \xff\xfe"  # invalid UTF-8, replaced on decode
_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

@dataclass
class Truth:
    fields: Dict[str, Dict[str, List[str]]] = field(default_factory=dict)
    links: Dict[str, List[str]] = field(default_factory=dict)
    kind: Dict[str, str] = field(default_factory=dict)  # html | pdf | bad_url


@dataclass
class Inputs:
    pages: List[dict]  # rows of (url, warc_ts, html, text, lang)
    truth: Truth
    seeds: List[str] = field(default_factory=list)
    robots: Dict[str, Tuple[List[str], float, bool]] = field(default_factory=dict)
    host_rank: Dict[str, float] = field(default_factory=dict)


def budget_k(crawl_delay: Optional[float]) -> int:
    """Per-host admissions per round, ``max(1, floor(4 / crawl_delay))``."""
    if crawl_delay is None or crawl_delay <= 0:
        crawl_delay = 1.0
    return max(1, int(4.0 // crawl_delay))


def canonical(url: str) -> Optional[str]:
    """Canonical url as the generator writes it: http(s) only, lower
    scheme and host, path defaulting to ``/``, no fragment.  Only used
    on urls the generator itself built, so no percent-decoding."""
    url = url.split("#", 1)[0]
    scheme, sep, rest = url.partition("://")
    if not sep or scheme.lower() not in ("http", "https"):
        return None
    host, slash, tail = rest.partition("/")
    if not host:
        return None
    return f"{scheme.lower()}://{host.lower()}/{tail if slash else ''}"


def host_of(url: str) -> str:
    return url.partition("://")[2].split("/", 1)[0].lower()


def path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    return "/" + rest.split("/", 1)[1] if "/" in rest else "/"


def robots_allow(url: str, robots: Dict[str, Tuple[List[str], float, bool]]) -> bool:
    rule = robots.get(host_of(url))
    if rule is None:
        return True
    prefixes, _delay, allowed = rule
    return allowed and not any(path_of(url).startswith(p) for p in prefixes)


# -- text ---------------------------------------------------------------------

def _sentence(rng: random.Random, n: int) -> Tuple[str, str]:
    """(html, decoded) sentence of ``n`` words, one entity sometimes."""
    words = [rng.choice(_WORDS) for _ in range(n)]
    html, text = list(words), list(words)
    if rng.random() < 0.5:
        ent, dec = rng.choice(_ENTITIES)
        i = rng.randrange(n)
        html[i] = f"{words[i]}{ent}x"
        text[i] = f"{words[i]}{dec}x"
    return " ".join(html).capitalize() + ".", " ".join(text).capitalize() + "."


def _paragraph(rng: random.Random, n_sent: int, junk: bool) -> Tuple[str, str]:
    """A <p> body; with ``junk`` a comment and a script sit between two
    sentences, which the cleaner must remove from the field text."""
    parts_h, parts_t = [], []
    for j in range(n_sent):
        h, t = _sentence(rng, rng.randint(6, 14))
        parts_h.append(h)
        parts_t.append(t)
        if junk and j == 0 and n_sent > 1:
            parts_h.append("<!-- ZQCOMMENT inline --> <script>var ZQSCRIPT_p=1;</script>")
    return " ".join(parts_h), " ".join(parts_t)


def _js_block(rng: random.Random, n_bytes: int) -> str:
    stmt = "var ZQSCRIPT_{0}=function(a,b){{return a<b?a:b&&{1};}};"
    out, size = [], 0
    while size < n_bytes:
        s = stmt.format(rng.randrange(10**6), rng.randrange(100))
        out.append(s)
        size += len(s)
    return "<script>" + "".join(out) + "</script>"


def _css_block(rng: random.Random, n_bytes: int) -> str:
    out, size = [], 0
    while size < n_bytes:
        s = f".ZQSTYLE-{rng.randrange(10**6)}{{margin:{rng.randrange(40)}px;color:#{rng.randrange(16**6):06x}}}"
        out.append(s)
        size += len(s)
    return "<style>" + "".join(out) + "</style>"


def _filler(rng: random.Random, n_bytes: int) -> str:
    """Boilerplate outside every field: hidden blocks, comments, ads,
    nested menus.  None of its text may reach an extracted field."""
    out, size = [], 0
    while size < n_bytes:
        r = rng.random()
        if r < 0.25:
            s = '<div style="display:none"><span>ZQHIDDEN ' + _sentence(rng, 20)[0] + "</span></div>"
        elif r < 0.4:
            s = "<!-- ZQCOMMENT " + _sentence(rng, 25)[0] + " -->"
        elif r < 0.7:
            items = "".join(
                f'<li class="m"><span>ZQNAV {rng.choice(_WORDS)}</span></li>' for _ in range(8)
            )
            s = f'<div class="menu"><ul>{items}</ul></div>'
        else:
            s = '<div class="ad"><div><div><p>ZQNAV sponsored ' + _sentence(rng, 18)[0] + "</p></div></div></div>"
        out.append(s)
        size += len(s)
    return "".join(out)


# -- pages ----------------------------------------------------------------------

def _author(rng: random.Random) -> str:
    return f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"


def _date(rng: random.Random) -> Tuple[str, str]:
    d = _BASE_TS + timedelta(days=rng.randrange(365))
    return d.strftime("%Y-%m-%d"), f"{_MONTHS[d.month - 1]} {d.day}, {d.year}"


def _anchor_forms(url: str, page_host: str, rng: random.Random) -> str:
    """One of the href spellings that all canonicalize to ``url``."""
    r = rng.random()
    host = host_of(url)
    if r < 0.2 and host == page_host:
        return path_of(url)  # root-relative
    if r < 0.35:
        scheme = url.split("://", 1)[0]
        return f"{scheme.upper()}://{host.upper()}{path_of(url)}#sec{rng.randrange(9)}"
    return url


def build_page(
    rng: random.Random,
    url: str,
    target_bytes: int,
    out_links: List[str],
    n_paras: int,
    nest: int,
    bad_utf8: bool,
    with_author: bool = True,
) -> Tuple[bytes, Dict[str, List[str]], List[str], str]:
    """Returns (html bytes, planted fields, canonical out-links, text)."""
    page_host = host_of(url)
    title_h, title_t = _sentence(rng, rng.randint(4, 9))
    author = _author(rng)
    iso, date_text = _date(rng)
    paras_h, paras_t = [], []
    for j in range(n_paras):
        h, t = _paragraph(rng, rng.randint(2, 5), junk=(j % 3 == 0))
        paras_h.append(f"<p>{h}</p>")
        paras_t.append(t)
        if j == 1:
            # a hidden sibling of the paragraphs: the field map selects
            # only <p> children, so its text must not appear
            paras_h.append('<div style="display:none">ZQHIDDEN in body</div>')
    links_h, canon = [], []
    for link in out_links:
        c = canonical(link)
        if c not in canon:
            canon.append(c)
        links_h.append(
            f'<li><a href="{_anchor_forms(link, page_host, rng)}">{rng.choice(_WORDS)}</a></li>'
        )
    body_html = "".join(paras_h)
    if bad_utf8:
        body_html += "<p>\x00BADUTF8\x00</p>"
    author_html = f'<span class="author">{author}</span>' if with_author else ""
    article = (
        f'<div class="article" id="main"><h1 class="headline">{title_h}</h1>'
        f'{author_html}<time datetime="{iso}">{date_text}</time>'
        f'<div class="body">{body_html}</div>'
        f'<div class="related"><ul>{"".join(links_h)}</ul></div></div>'
    )
    article = '<div class="n">' * nest + article + "</div>" * nest
    head = (
        f"<!DOCTYPE html><html><head><title>{title_h}</title>"
        '<meta charset="utf-8"/>' + _js_block(rng, 300) + _css_block(rng, 200) + "</head>"
    )
    nav = (
        '<body><nav id="topnav"><a href="javascript:void(0)">ZQNAV home</a>'
        '<a href="mailto:desk@example.org">ZQNAV mail</a><a href="#top">ZQNAV top</a></nav>'
        "<!-- ZQCOMMENT rendered -->"
    )
    tail = "<footer><span>ZQNAV footer</span></footer></body></html>"
    core = head + nav + article + tail
    pad = max(0, target_bytes - len(core))
    before = after = ""
    if pad:
        js, css = pad // 4, pad // 8
        rest = pad - js - css
        before = _js_block(rng, js) + _filler(rng, rest // 2)
        after = _css_block(rng, css) + _filler(rng, rest - rest // 2)
    html = head + nav + before + article + after + tail
    raw = html.encode("utf-8")
    paras = list(paras_t)
    if bad_utf8:
        raw = raw.replace(b"\x00BADUTF8\x00", _BAD_UTF8)
        paras.append(_BAD_UTF8.decode("utf-8", "replace"))
    fields = {
        "title": [title_t],
        "author": [author] if with_author else [EMPTY],
        "datetime": [date_text],
        "article_body": paras or [EMPTY],
    }
    text = "\n".join([title_t, author, date_text] + paras)
    return raw, fields, canon, text


def _row(url: str, raw: bytes, text: str, rng: random.Random) -> dict:
    return {
        "url": url,
        "warc_ts": _BASE_TS + timedelta(seconds=rng.randrange(86400 * 30)),
        "html": raw,
        "text": text,
        "lang": rng.choice(_LANGS),
    }


def size_mix(n: int) -> List[int]:
    """Fixed page-size quantiles (bytes): 40 % 3-6 KB, 30 % 6-15 KB,
    20 % 15-40 KB, 8 % 40-100 KB, 2 % 100-160 KB."""
    bands = [(0.40, 3, 6), (0.70, 6, 15), (0.90, 15, 40), (0.98, 40, 100), (1.0, 100, 160)]
    out = []
    for i in range(n):
        q = (i + 0.5) / n
        lo_q = 0.0
        for hi_q, lo_kb, hi_kb in bands:
            if q <= hi_q:
                f = (q - lo_q) / (hi_q - lo_q)
                out.append(int(1024 * (lo_kb * (hi_kb / lo_kb) ** f)))
                break
            lo_q = hi_q
    return out


def extract_inputs(seed: int, n: int) -> Inputs:
    """Bulk-extraction table: mixed page sizes, ~1 % pdf rows and ~1 %
    rows whose url is invalid (flagged by the program, never dropped)."""
    rng = random.Random(f"extract:{seed}")
    sizes = size_mix(n)
    rng.shuffle(sizes)
    truth = Truth()
    pages = []
    hosts = [f"www.news{i:02d}.bench.example" for i in range(16)]
    for i, size in enumerate(sizes):
        if i % 97 == 13:
            url = f"https://{rng.choice(hosts)}/files/report-{seed}-{i}.pdf"
            raw = b"%PDF-1.4\n" + bytes(rng.randrange(32, 127) for _ in range(size // 4))
            truth.kind[url] = "pdf"
            pages.append(_row(url, raw, "", rng))
            continue
        if i % 89 == 7:
            url = rng.choice(["not a url %d-%d", "htp//broken.example/%d/%d", "://nohost/%d/%d"]) % (seed, i)
            kind = "bad_url"
        else:
            url = f"https://{rng.choice(hosts)}/{rng.choice(_SECTIONS)}/a{seed}-{i:06d}.html"
            kind = "html"
        n_paras = 3 + min(40, size // 4096) + rng.randrange(3)
        raw, fields, _links, text = build_page(
            rng, url, size, [], n_paras,
            nest=rng.choice([0, 0, 0, 8, 40, 200]),
            bad_utf8=(i % 7 == 3),
            with_author=(i % 31 != 5),
        )
        truth.kind[url] = kind
        truth.fields[url] = fields
        pages.append(_row(url, raw, text, rng))
    return Inputs(pages=pages, truth=truth)


@dataclass
class CrawlShape:
    n_pages: int
    n_hosts: int
    fanout: Tuple[int, int]  # min, max out-links per page
    size_kb: Tuple[float, float]  # page size range
    seeds_per_host: int  # seeds per host, at most the host's budget k
    local_share: float  # share of links that stay on the page's host
    missing_share: float  # share of links to pages absent from the table


CRAWL = CrawlShape(n_pages=8000, n_hosts=600, fanout=(6, 12), size_kb=(3, 9),
                   seeds_per_host=4, local_share=0.5, missing_share=0.05)
FRONTIER = CrawlShape(n_pages=6000, n_hosts=200, fanout=(18, 30), size_kb=(0.8, 1.6),
                      seeds_per_host=1, local_share=0.4, missing_share=0.05)

# crawl delays by host weight rank, repeating: k = 8, 4, 2, 1, 1
_DELAYS = [0.5, 1.0, 2.0, 0.5, 1.0, 0.5, 4.0, 1.0, 0.5, 2.0, 1.0, 8.0, 2.0, 4.0, 1.0]


def _allot(total: int, weights: List[float]) -> List[int]:
    """Largest-remainder split of ``total`` by ``weights``."""
    raw = [total * w / sum(weights) for w in weights]
    counts = [int(x) for x in raw]
    order = sorted(range(len(raw)), key=lambda i: counts[i] - raw[i])
    for i in order[: total - sum(counts)]:
        counts[i] += 1
    return counts


def crawl_inputs(seed: int, shape: CrawlShape) -> Inputs:
    """Link graph over a skewed host mix, with robots rules, missing
    pages and href spellings that canonicalize to the same url.

    The amount of work does not depend on the seed: host sizes (Zipf
    weights), delays and ranks by host weight order, and the seed quota
    per host are fixed; the seed draws names, which url lands on which
    host, link targets and text.  Seeds hold more urls than one batch, so
    every round admits a full batch."""
    rng = random.Random(f"crawl:{seed}:{shape.n_pages}")
    hosts = [f"www.h{rng.randrange(10**6):06d}-{i}.bench.example" for i in range(shape.n_hosts)]
    robots: Dict[str, Tuple[List[str], float, bool]] = {}
    for i, h in enumerate(hosts):
        robots[h] = (["/private/", "/admin/"], _DELAYS[i % len(_DELAYS)], True)
    blocked = hosts[-1]  # the lightest host, fully disallowed
    robots[blocked] = (["/private/", "/admin/"], 1.0, False)
    # ranks follow a fixed pattern over host weight order, so the seed
    # cannot change which size class of host the admission favours
    host_rank = {h: round(((i * 37) % shape.n_hosts) / shape.n_hosts, 4) for i, h in enumerate(hosts)}

    n_total = shape.n_pages + int(shape.n_pages * shape.missing_share)
    per_host = _allot(n_total, [1.0 / (r + 1) ** 0.8 for r in range(shape.n_hosts)])
    host_idx = [h for h, c in enumerate(per_host) for _ in range(c)]
    rng.shuffle(host_idx)  # ids >= n_pages are the missing pages
    urls = []
    for i in range(n_total):
        sec = "private" if i % 23 == 5 else rng.choice(_SECTIONS)
        urls.append(f"https://{hosts[host_idx[i]]}/{sec}/p{i:06d}.html")
    by_host: Dict[int, List[int]] = {}
    for i, h in enumerate(host_idx):
        by_host.setdefault(h, []).append(i)

    truth = Truth()
    pages = []
    lo_b, hi_b = int(shape.size_kb[0] * 1024), int(shape.size_kb[1] * 1024)
    for i in range(shape.n_pages):
        url = urls[i]
        n_out = shape.fanout[0] + (i * 7 + seed) % (shape.fanout[1] - shape.fanout[0] + 1)
        targets = []
        for _ in range(n_out):
            if rng.random() < shape.local_share:
                t = rng.choice(by_host[host_idx[i]])
            else:
                t = rng.randrange(n_total)
            if t != i:
                targets.append(urls[t])
        size = lo_b + (i * 37 + seed) % (hi_b - lo_b + 1)
        raw, fields, canon, text = build_page(
            rng, url, size, targets, n_paras=3 + rng.randrange(3),
            nest=rng.choice([0, 0, 4, 16]), bad_utf8=(i % 11 == 4),
        )
        truth.kind[url] = "html"
        truth.fields[url] = fields
        truth.links[url] = canon
        pages.append(_row(url, raw, text, rng))

    seeds = []
    for h, ids in sorted(by_host.items()):
        quota = min(shape.seeds_per_host, budget_k(robots[hosts[h]][1]))
        seeds += [urls[i] for i in ids if i < shape.n_pages and "/private/" not in urls[i]][:quota]
    rng.shuffle(seeds)
    # spellings that normalize to an existing seed, and rows the program
    # must drop: invalid, non-http, robots-blocked
    first = seeds[0]
    seeds.append(first.replace("https://", "HTTPS://").replace(host_of(first), host_of(first).upper()) + "#frag")
    seeds.append(seeds[1])
    seeds += ["not a url", "ftp://files.bench.example/x.txt",
              f"https://{blocked}/news/p999999.html",
              f"https://{hosts[0]}/private/p999998.html"]
    return Inputs(pages=pages, truth=truth, seeds=seeds, robots=robots, host_rank=host_rank)
