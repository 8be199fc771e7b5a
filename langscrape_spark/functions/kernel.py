"""Arrow-vectorized pandas UDFs wrapping the pure-Python HTML kernel.

This is the engine's entire Python-side surface (SURVEY.md §2.12): all
UDFs are **map-only** — every shuffle (joins, windows, repartitions)
stays in the JVM. No row-at-a-time ``udf()`` anywhere (north-rule
input hint: "no per-row Python" at the Spark API level — the batch
functions below receive whole Arrow batches as pandas Series).

The XPath field-map is tiny (a handful of fields); it is serialized
into the UDF closure, which Spark ships once per executor — the
moral equivalent of a broadcast for kilobyte-sized plans.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..html.clean import clean_for_extraction
from ..html.dom import parse
from ..html.extract import SENTINEL_NO_STORED, extract_by_xpath_map
from ..html.links import extract_links, links_of, normalize_url
from ..html.textify import html_to_text, pdf_text_normalizer

__all__ = [
    "extract_links_udf",
    "fetch_page",
    "html_to_text_udf",
    "make_fetch_kernel_udf",
    "make_extract_fields_udf",
    "normalize_url_udf",
]


def _to_str(value: Any) -> str:
    """Decode the ``html`` binary column; crawl data is utf-8-with-junk,
    so errors are replaced, never raised (a poison row must not kill an
    Arrow batch)."""
    if value is None:
        return ""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).decode("utf-8", errors="replace")
    return str(value)


@pandas_udf(StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Derives the ``text`` column from ``html``
    (reference feilian/text_tools.py:6-48 composition)."""
    return html.map(lambda v: html_to_text(_to_str(v)))


def make_extract_fields_udf(field_map: Dict[str, Dict[str, Any]]):
    """Returns a pandas UDF ``cleaned:string -> map<string,array<string>>``
    with ``field_map`` captured in the closure (shipped once per
    executor). Sentinel contract per reference
    langscrape/html/xpath_extractor.py:47-87."""
    # Freeze to plain dicts so the closure pickles small and stable.
    frozen = {k: dict(v) for k, v in field_map.items()}

    @pandas_udf(MapType(StringType(), ArrayType(StringType())))
    def extract_fields_udf(cleaned: pd.Series) -> pd.Series:
        return cleaned.map(lambda v: extract_by_xpath_map(_to_str(v), frozen))

    return extract_fields_udf


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """Out-link harvest for frontier expansion (SURVEY.md §2.12)."""
    return pd.Series(
        [
            extract_links(_to_str(h), u if isinstance(u, str) else "")
            for h, u in zip(html, base_url)
        ]
    )


def _pdf_text(v: Any) -> str:
    """One pdf row's text (reference langscrape/pdf/pdf_utils.py:22-34).

    pymupdf is not available in this environment; the *plumbing*
    (binary column in → normalized text out, ``endswith(url, '.pdf')``
    routing) is real, the decode step is a deterministic fallback:
    latin-1-decode printable bytes then apply the reference's
    ``text_normalizer``. Swap the decode for pymupdf in production."""
    if v is None:
        return ""
    raw = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
    try:  # pragma: no cover - exercised only where pymupdf exists
        import pymupdf  # type: ignore

        doc = pymupdf.open(stream=raw, filetype="pdf")
        text = " ".join(page.get_text() for page in doc)
    except Exception:
        text = raw.decode("latin-1", errors="replace")
        text = "".join(c for c in text if c.isprintable() or c.isspace())
    return pdf_text_normalizer(text)


def fetch_page(
    html: Any,
    base_url: Any,
    is_pdf: bool,
    field_map: Dict[str, Dict[str, Any]],
    harvest: bool = True,
) -> Tuple[List[str], str, Dict[str, List[str]]]:
    """One fetched page → ``(links, cleaned, extracted)``, the row of the
    fused fetch kernel.

    An html page is parsed ONCE: its out-links are harvested from the
    tree first (``links_of`` only reads it), then the same tree is
    cleaned in place and serialized (``clean_for_extraction``), so the
    three values equal ``extract_links(html, url)``,
    ``clean_html_for_extraction(html)`` and
    ``extract_by_xpath_map(cleaned, field_map)`` by construction. A pdf
    page takes the pdf route (``_pdf_text``, the no-stored-value
    sentinel in every field; reference
    langscrape/html/xpath_extractor.py:63-66) and its links are
    harvested from its bytes, as the link-only harvest does. With
    ``harvest=False`` no link is harvested and ``links`` is empty."""
    url = base_url if isinstance(base_url, str) else ""
    if is_pdf:
        return (
            extract_links(_to_str(html), url) if harvest else [],
            _pdf_text(html),
            {k: [SENTINEL_NO_STORED] for k in field_map},
        )
    doc = parse(_to_str(html))
    links = links_of(doc, url) if harvest else []
    cleaned = clean_for_extraction(doc)
    return links, cleaned, extract_by_xpath_map(cleaned, field_map)


def make_fetch_kernel_udf(field_map: Dict[str, Dict[str, Any]], harvest: bool = True):
    """The fused fetch kernel: ``(html:binary, url:string,
    is_pdf:boolean) -> struct<links:array<string>, cleaned:string,
    extracted:map<string,array<string>>>``, one ``fetch_page(...,
    harvest)`` per row. The crawl's fetch harvests links; the bulk
    ``extract_pages`` does not (``harvest=False``, empty ``links``).

    The link harvest and clean+extract share one crossing and one parse
    per page, and the raw html crosses into Python once. Pdf rows ride
    the same pass: a filter-split would scan the pages table once per
    route and run twice the Python tasks."""
    frozen = {k: dict(v) for k, v in field_map.items()}
    out_type = StructType(
        [
            StructField("links", ArrayType(StringType())),
            StructField("cleaned", StringType()),
            StructField(
                "extracted", MapType(StringType(), ArrayType(StringType()))
            ),
        ]
    )

    @pandas_udf(out_type)
    def fetch_kernel_udf(
        html: pd.Series, url: pd.Series, is_pdf: pd.Series
    ) -> pd.DataFrame:
        rows = [
            fetch_page(h, u, bool(p), frozen, harvest)
            for h, u, p in zip(html, url, is_pdf)
        ]
        return pd.DataFrame(
            {
                "links": [r[0] for r in rows],
                "cleaned": [r[1] for r in rows],
                "extracted": [r[2] for r in rows],
            }
        )

    return fetch_kernel_udf


@pandas_udf(StringType())
def normalize_url_udf(url: pd.Series) -> pd.Series:
    """Canonical URL for seen-set identity (html/links.py)."""
    return url.map(lambda u: normalize_url(u) if isinstance(u, str) else None)


def is_pdf_col(url_col):
    """``_is_pdf`` (reference langscrape/nodes/url_handler.py:25-26) as
    a JVM-side expression — no Python needed."""
    return F.endswith(F.lower(url_col), F.lit(".pdf"))


def valid_url_col(url_col):
    """``validate_url`` (reference langscrape/nodes/url_handler.py:19-23)
    as a JVM-side predicate: scheme and netloc must both parse.
    ``try_parse_url``, never ``parse_url``: under ANSI mode (Spark 4
    default) the latter *throws* on exactly the malformed urls this
    predicate exists to flag."""
    return (
        F.try_parse_url(url_col, F.lit("HOST")).isNotNull()
        & url_col.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    )
