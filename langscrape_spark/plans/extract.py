"""The flagship extraction pipeline: pages table → result table.

Spark-first restatement of the reference's per-URL LangGraph pipeline
(``/root/reference/langscrape/agent/graph.py:27-60``; lifecycle in
SURVEY.md §3.1): the sequential per-URL for-loop becomes partition
parallelism; fetch becomes a table scan; the ReAct XPath loop becomes a
fixed field-map; everything except the one fused kernel UDF
(``make_fetch_kernel_udf``) is JVM-side whole-stage-codegen
expressions.

Stage map (reference node → here):
- ``url_handler`` validate/route  → ``valid_url_col`` / ``is_pdf_col``
  predicates (``langscrape/nodes/url_handler.py:19-26``); pdf rows
  take ``kernel._pdf_text`` inside the same kernel pass;
- ``clean_html_for_extraction3``  → ``kernel.fetch_page``'s clean step
  (``clean_for_extraction``);
- min-HTML-length gate (3000)     → ``too_short_html`` provenance flag
  (``url_handler.py:14-17,38-43``) — a flag, not a refetch;
- ``feature_binder`` final extract + min-body gate (100) →
  ``fetch_page``'s ``extract_by_xpath_map`` + ``too_short_body``
  (``langscrape/nodes/feature_binder.py:12-40``);
- newspaper4k fallback            → excluded (live network);
  ``traditional_flag`` kept as an always-empty array for schema parity
  (``feature_binder.py:23-67``);
- ``data_collator``/``post_processor`` collate + scheme check →
  result struct + ``is_valid_scheme``
  (``langscrape/nodes/data_collator.py:46-62``,
  ``langscrape/json.py:21-56``).
"""

from __future__ import annotations

from typing import Any, Dict, Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.kernel import is_pdf_col, make_fetch_kernel_udf, valid_url_col

MIN_HTML_LENGTH = 3000  # reference config/default_config.yaml:35-36
MIN_ARTICLE_BODY = 100  # reference config/default_config.yaml:38-39

RESULT_COLUMNS = (
    "url",
    "host",
    "warc_ts",
    "lang",
    "is_valid_url",
    "is_pdf",
    "too_short_html",
    "too_short_body",
    "is_valid_scheme",
    "traditional_flag",
    "extracted",
    "article_body_text",
)


def _kernel(
    pages: DataFrame, field_map: Dict[str, Dict[str, Any]], harvest: bool
) -> DataFrame:
    """``pages`` plus the routing flags, ``host`` and the fused kernel's
    struct ``_kernel`` (``links``, ``cleaned``, ``extracted``), from ONE
    Python pass.

    PDF routing (reference is_pdf_condition, langscrape/agent/
    graph.py:13-17) happens per row inside the kernel, not as a
    filter-split + union: a split scans the pages once per route and
    runs a Python stage per route, and a ``when()`` over two UDFs would
    run both on every row. The kernel's flag is coalesced: a NULL url
    yields NULL ``is_pdf``; its row takes the html route and is flagged
    ``is_valid_url=false``, never dropped."""
    kernel_udf = make_fetch_kernel_udf(field_map, harvest=harvest)
    return (
        pages
        .withColumn("is_valid_url", valid_url_col(F.col("url")))
        .withColumn("is_pdf", is_pdf_col(F.col("url")))
        .withColumn("host", F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))))
        .withColumn(
            "_kernel",
            kernel_udf(
                F.col("html"),
                F.col("url"),
                F.coalesce(F.col("is_pdf"), F.lit(False)),
            ),
        )
    )


def _finish(df: DataFrame, field_map: Dict[str, Dict[str, Any]]) -> DataFrame:
    """Result columns from the kernel struct ``_kernel`` (``cleaned``,
    ``extracted``); drops ``_kernel``."""
    expected_fields = F.array_sort(
        F.array(*[F.lit(k) for k in field_map.keys()])
    )
    return (
        df
        .withColumn("cleaned", F.col("_kernel.cleaned"))
        .withColumn("too_short_html", F.length("cleaned") < MIN_HTML_LENGTH)
        .withColumn("extracted", F.col("_kernel.extracted"))
        .drop("_kernel")
        .withColumn(
            "article_body_text",
            F.concat_ws(" ", F.col("extracted").getItem("article_body")),
        )
        .withColumn(
            "too_short_body", F.length("article_body_text") < MIN_ARTICLE_BODY
        )
        # newspaper4k fallback excluded (live network) — schema parity only:
        .withColumn("traditional_flag", F.array().cast("array<string>"))
        # SchemeValidator: both-direction key-set test vs the field map
        # (reference langscrape/json.py:21-56).
        .withColumn(
            "is_valid_scheme",
            F.array_sort(F.map_keys(F.col("extracted"))) == expected_fields,
        )
    )


def extract_pages(
    pages: DataFrame,
    field_map: Dict[str, Dict[str, Any]],
    keep_cleaned: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extraction results.

    One scan of ``pages`` and one Python stage with ONE Arrow crossing:
    the fused fetch kernel (``make_fetch_kernel_udf``, link harvest
    off) cleans and extracts html rows and takes pdf rows' text, row by
    row. Row for row it equals the crawl's ``extract_and_harvest``
    without ``links``."""
    df = _finish(_kernel(pages, field_map, harvest=False), field_map)
    cols = list(RESULT_COLUMNS)
    if keep_cleaned:
        cols.insert(10, "cleaned")
    return df.select(*cols)


def extract_and_harvest(
    pages: DataFrame,
    field_map: Dict[str, Dict[str, Any]],
    carry: Sequence[str] = (),
) -> DataFrame:
    """``extract_pages``' result columns plus ``links`` (each page's
    out-links, as ``extract_links_udf`` harvests them) and the input
    columns named in ``carry``, from ONE Python pass over ``pages``.

    The crawl round's fetch: ``make_fetch_kernel_udf`` parses each
    page once for both its links and its fields, and routes pdf rows
    inside the same pass, so the input is scanned once and crosses into
    Python once. Row for row, the result columns equal
    ``extract_pages(pages, field_map)``'s."""
    df = _kernel(pages, field_map, harvest=True).withColumn(
        "links", F.col("_kernel.links")
    )
    return _finish(df, field_map).select(*RESULT_COLUMNS, "links", *carry)


def collate_results(extracted: DataFrame) -> DataFrame:
    """Final nested record, mirroring the reference's
    ``{meta_data, extraction, summary}`` JSON shape
    (``langscrape/nodes/data_collator.py:46-62``). The LLM ``summary``
    text fields are replaced by the deterministic kernel; the
    vocabulary-filtered tag fields ARE deterministic and pass through
    ``clean_tags`` (reference ``post_processor.py:11-36``) whenever the
    input carries them — every output record's tag lists contain only
    allowed-vocabulary values."""
    from ..operators.tags import TAG_FIELDS, clean_tags

    tag_cols = [c for c in TAG_FIELDS if c in extracted.columns]
    cols = [
        F.col("url"),
        F.struct(
            F.col("url").alias("url"),
            F.col("is_valid_url").alias("is_valid_scheme_url"),
            F.col("is_valid_scheme"),
            F.col("traditional_flag"),
            F.col("too_short_html"),
            F.col("too_short_body"),
        ).alias("meta_data"),
        F.col("extracted").alias("extraction"),
    ]
    if tag_cols:
        extracted = clean_tags(extracted, tag_cols)
        cols.append(F.struct(*[F.col(c) for c in tag_cols]).alias("summary"))
    return extracted.select(*cols)
