"""HTML cleaning — reimplements the reference's live cleaning pipeline.

Semantics reproduced exactly (traversal order included):

- ``feilian.soup_tools.clean_html`` (``/root/reference/feilian/
  soup_tools.py:26-74``): depth-first **post-order** walk; per node:
  1. comments / doctype / processing instructions removed;
  2. tags in INTERACTIVE_ELEMENTS removed (subtree and all);
  3. non-``img`` elements whose ``get_text().strip()`` is empty removed
     — post-order matters: children are cleaned before the parent's
     emptiness test, so a div that only contained a script becomes
     empty and is then removed;
  4. attributes whitelisted to ``[class, id, title, alt, href, src]``;
  5. ``href`` starting with ``javascript:`` dropped;
  6. ``img``'s ``src`` dropped.
- ``clean_html_for_extraction3`` (``/root/reference/langscrape/html/
  utils.py:91-103``, the live third definition): parse → feilian clean
  → serialize → collapse ``\\s+`` to single spaces → strip.
- ``feilian.etree_tools.clean_html`` deep/shallow variants
  (``/root/reference/feilian/etree_tools.py:174-236``): also drop
  INVISIBLE_ELEMENTS (head, title); deep mode additionally drops img +
  empty nodes and all attributes; both clear ``display:none`` nodes.

The INTERACTIVE_ELEMENTS set is copied semantically from
``/root/reference/feilian/html_constants.py:1-40``.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from .dom import Comment, Document, Element, Node, Text, collapse_whitespace, parse

INTERACTIVE_ELEMENTS = frozenset(
    {
        "script", "style", "noscript", "svg", "iframe", "video", "audio",
        "source", "track", "link", "meta", "object", "param",
        # form elements
        "input", "label", "select", "textarea", "button", "fieldset",
        "legend", "datalist", "output", "option", "optgroup",
        # table elements
        "col", "colgroup",
        # other
        "map", "area", "base",
        # deprecated
        "embed",
    }
)

INVISIBLE_ELEMENTS = ("head", "title")

INLINE_ELEMENTS = frozenset(
    {
        "a", "abbr", "acronym", "b", "bdo", "big", "br", "button", "cite",
        "code", "dfn", "em", "i", "img", "input", "kbd", "label", "map",
        "object", "output", "q", "samp", "script", "select", "small",
        "span", "strong", "sub", "sup", "textarea", "time", "tt", "var",
    }
)

CONTAINER_ELEMENTS = frozenset({"table", "ul", "ol", "section", "article"})

_ATTR_WHITELIST = ("class", "id", "title", "alt", "href", "src")


def post_order_travel(node: Node, callback: Callable[[Node], None]) -> None:
    """Depth-first post-order traversal over a snapshot of children
    (reference ``deep_first_travel``, ``feilian/soup_tools.py:97-104``;
    the list() snapshot there is load-bearing and preserved here).
    Iterative — deep crawl pages must not hit the recursion limit."""
    stack: list = [(node, False)]
    while stack:
        current, expanded = stack.pop()
        if expanded or not isinstance(current, Element):
            callback(current)
            continue
        stack.append((current, True))
        for child in reversed(list(current.children)):
            stack.append((child, False))


# The cleaner is THE production hot path (every page crosses it), so
# the two naive costs are engineered out while keeping semantics
# byte-identical (pinned by the golden suite):
# - the emptiness test is a bottom-up memo (a node has visible text iff
#   any SURVIVING child does) instead of re-walking the subtree with
#   ``get_text()`` per node — the naive form copies O(depth · text)
#   strings, gigabytes on a deep page with a large text leaf;
# - removals are tombstones swept by the PARENT in one O(k) pass
#   (post-order guarantees children are decided first) instead of a
#   per-node ``detach`` whose list remove() is O(siblings) — quadratic
#   on the 10^4-wide sibling lists crawl pages contain.


def _sweep(el: Element, removed: set) -> None:
    if any(id(c) in removed for c in el.children):
        kept = [c for c in el.children if id(c) not in removed]
        for c in el.children:
            if id(c) in removed:
                c.parent = None
        el.children = kept


def clean_tree(doc: Document) -> Document:
    """feilian ``clean_html`` over an already-parsed tree (reference
    ``soup_tools.py:26-74`` semantics, traversal order included)."""
    removed: set = set()
    has_text: dict = {}

    def cb(node: Node) -> None:
        if isinstance(node, Comment):
            removed.add(id(node))
            return
        if isinstance(node, Text):
            has_text[id(node)] = bool(node.data.strip())
            return
        if not isinstance(node, Element):
            return
        _sweep(node, removed)
        if isinstance(node, Document):
            return
        if node.tag in INTERACTIVE_ELEMENTS:
            removed.add(id(node))
            return
        # children are final by post-order: visible text iff any
        # surviving child has it (== get_text().strip() != "")
        visible = any(has_text.get(id(c), False) for c in node.children)
        has_text[id(node)] = visible
        if node.tag != "img" and not visible:
            removed.add(id(node))
            return
        node.attrs = {k: v for k, v in node.attrs.items() if k in _ATTR_WHITELIST}
        href = node.attrs.get("href")
        if href is not None and href.startswith("javascript:"):
            del node.attrs["href"]
        if node.tag == "img" and "src" in node.attrs:
            del node.attrs["src"]

    post_order_travel(doc, cb)
    return doc


def clean_for_extraction(doc: Document) -> str:
    """Everything of ``clean_html_for_extraction`` after the parse:
    clean (in place) → serialize → whitespace collapse → strip. A caller
    that already holds the parsed page (the crawl's fused fetch kernel,
    which harvests links from the tree first) gets the identical string
    without parsing twice."""
    clean_tree(doc)
    return collapse_whitespace(doc.serialize())


def clean_html_for_extraction(html_content: str) -> str:
    """The live ``clean_html_for_extraction3`` pipeline: parse → clean
    → serialize → whitespace collapse → strip."""
    return clean_for_extraction(parse(html_content))


def _display_none(el: Element) -> bool:
    style = el.attrs.get("style", "")
    return "display:none" in style.replace(" ", "").lower()


def clean_tree_etree_mode(doc: Document, deep: bool = False) -> Document:
    """``feilian.etree_tools.clean_html`` semantics (optional cleaning
    mode; reference ``feilian/etree_tools.py:174-236``): additionally
    removes head/title and display:none subtrees; ``deep`` drops img,
    empty nodes and *all* attributes (else whitelist ``[class, id]``)."""

    removed: set = set()
    has_text: dict = {}

    def cb(node: Node) -> None:
        if isinstance(node, Comment):
            removed.add(id(node))
            return
        if isinstance(node, Text):
            has_text[id(node)] = bool(node.data.strip())
            return
        if not isinstance(node, Element):
            return
        _sweep(node, removed)
        if isinstance(node, Document):
            return
        if node.tag in INTERACTIVE_ELEMENTS or node.tag in INVISIBLE_ELEMENTS:
            removed.add(id(node))
            return
        if _display_none(node):
            removed.add(id(node))
            return
        visible = any(has_text.get(id(c), False) for c in node.children)
        has_text[id(node)] = visible
        if deep:
            if node.tag == "img" or not visible:
                removed.add(id(node))
                return
            node.attrs = {}
        else:
            node.attrs = {k: v for k, v in node.attrs.items() if k in ("class", "id")}
            href = node.attrs.get("href")
            if href is not None and href.startswith("javascript:"):
                del node.attrs["href"]
            if node.tag == "img" and "src" in node.attrs:
                del node.attrs["src"]

    post_order_travel(doc, cb)
    return doc


def extract_html_structure(doc: Document) -> Document:
    """Structural skeleton: drop text nodes, inline elements and all
    attributes except ``class`` (reference ``feilian/soup_tools.py:77-94``)."""

    removed: set = set()

    def cb(node: Node) -> None:
        if isinstance(node, (Text, Comment)):
            removed.add(id(node))
            return
        if not isinstance(node, Element):
            return
        _sweep(node, removed)
        if isinstance(node, Document):
            return
        if node.tag in INLINE_ELEMENTS:
            removed.add(id(node))
            return
        cls = node.attrs.get("class")
        node.attrs = {"class": cls} if cls else {}

    post_order_travel(doc, cb)
    return doc
