"""Link harvesting for frontier expansion.

The reference never expands a frontier (its URL list is static,
``/root/reference/scripts/run.py:53-63``); link extraction is derived
from its URL-decoding walk (``feilian/soup_tools.py:13-23`` — unquote
href/src over the whole tree) plus standard URL resolution, and feeds
the scheduler's candidate generation (SURVEY.md §2.12
``extract_links_udf``).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple
from urllib.parse import unquote, urljoin, urlparse

from .dom import Document, Element, collapse_whitespace, parse

_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "#")


def normalize_url(url: str) -> Optional[str]:
    """Canonical form used for seen-set identity: strip fragment,
    lowercase scheme+host, keep path/query verbatim. Returns None for
    non-http(s) or unparseable URLs (mirrors ``validate_url``'s
    scheme+netloc requirement, ``langscrape/nodes/url_handler.py:19-23``)."""
    try:
        parts = urlparse(url)
    except ValueError:
        return None
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return None
    netloc = parts.netloc.lower()
    path = parts.path or "/"
    out = f"{parts.scheme.lower()}://{netloc}{path}"
    if parts.query:
        out += "?" + parts.query
    return out


def url_host(url: str) -> Optional[str]:
    try:
        netloc = urlparse(url).netloc.lower()
    except ValueError:
        return None
    return netloc or None


def _out_links(doc: Document, base_url: str) -> Iterator[Tuple[Element, str]]:
    """``(<a> element, normalized target)`` for every harvestable href in
    document order: resolved against ``base_url``, percent-decoded
    (reference ``decode_url``), non-web schemes and bare fragments
    skipped."""
    for el in doc.iter_elements():
        if el.tag != "a":
            continue
        href = el.attrs.get("href")
        if not href:
            continue
        href = unquote(href).strip()
        if not href or any(href.lower().startswith(s) for s in _SKIP_SCHEMES):
            continue
        norm = normalize_url(urljoin(base_url, href))
        if norm:
            yield el, norm


def links_of(doc: Document, base_url: str) -> List[str]:
    """All out-links of an already-parsed page, deduped in document
    order. Reads the tree without changing it, so a caller can harvest
    links and then clean the same tree (one parse per page)."""
    seen = set()
    out: List[str] = []
    for _el, norm in _out_links(doc, base_url):
        if norm not in seen:
            seen.add(norm)
            out.append(norm)
    return out


def extract_links(html_str: str, base_url: str) -> List[str]:
    """All out-links: <a href>, resolved against ``base_url``,
    percent-decoded (reference ``decode_url``), normalized, deduped in
    document order."""
    return links_of(parse(html_str), base_url)


def extract_links_with_anchors(
    html_str: str, base_url: str
) -> List[Tuple[str, str]]:
    """Out-links WITH their anchor text: ``(url, anchor)`` pairs.

    Same href walk, resolution, and normalization as
    ``extract_links`` (reference ``feilian/soup_tools.py:13-23``
    decode_url href/src walk); the anchor is the <a> subtree's
    whitespace-collapsed text content. Unlike ``extract_links``,
    duplicate targets are KEPT — a page linking the same target twice
    with different anchors contributes two edges, which is exactly the
    signal the anchor rollup aggregates (anchor term frequency per
    target). Feeds ``operators/linkgraph.py::link_edges``.
    """
    return [
        (norm, collapse_whitespace(el.get_text()))
        for el, norm in _out_links(parse(html_str), base_url)
    ]
