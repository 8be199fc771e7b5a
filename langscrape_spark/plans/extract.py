"""The flagship extraction pipeline: pages table → result table.

Spark-first restatement of the reference's per-URL LangGraph pipeline
(``/root/reference/langscrape/agent/graph.py:27-60``; lifecycle in
SURVEY.md §3.1): the sequential per-URL for-loop becomes partition
parallelism; fetch becomes a table scan; the ReAct XPath loop becomes a
fixed field-map; everything except the two kernel UDFs is JVM-side
whole-stage-codegen expressions.

Stage map (reference node → here):
- ``url_handler`` validate/route  → ``valid_url_col`` / ``is_pdf_col``
  predicates (``langscrape/nodes/url_handler.py:19-26``);
- ``clean_html_for_extraction3``  → ``clean_html_udf``;
- min-HTML-length gate (3000)     → ``too_short_html`` provenance flag
  (``url_handler.py:14-17,38-43``) — a flag, not a refetch;
- ``feature_binder`` final extract + min-body gate (100) →
  ``extract_fields_udf`` + ``too_short_body``
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

from ..functions.kernel import (
    is_pdf_col,
    make_clean_extract_udf,
    make_fetch_kernel_udf,
    pdf_text_udf,
    valid_url_col,
)

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


def _routed(pages: DataFrame) -> DataFrame:
    return (
        pages
        .withColumn("is_valid_url", valid_url_col(F.col("url")))
        .withColumn("is_pdf", is_pdf_col(F.col("url")))
        .withColumn("host", F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))))
    )


def _pdf_flag():
    # coalesce: a NULL url yields NULL is_pdf, and ~NULL / NULL fail
    # *both* WHEREs of a filter-split — the row would silently vanish.
    # Poison rows are flagged (is_valid_url=false), never dropped.
    return F.coalesce(F.col("is_pdf"), F.lit(False))


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

    Each route runs one Python stage with ONE Arrow crossing: html rows
    run clean+extract fused in a single pandas UDF
    (``make_clean_extract_udf``) — semantics are byte-identical to
    running them separately (the extractor still parses the cleaned
    *string*), but the raw html is serialized to Python exactly once
    instead of html→py, cleaned→jvm, cleaned→py; pdf rows run
    ``pdf_text_udf``.
    """
    kernel_udf = make_clean_extract_udf(field_map)
    base = _routed(pages)
    # PDF routing (reference is_pdf_condition, langscrape/agent/
    # graph.py:13-17): pdf rows take the pdf-text path, html rows the
    # clean+extract kernel. A filter-split + union, NOT a when() over
    # both UDFs — Spark evaluates UDFs in both branches of a when(),
    # which would run the html kernel on every pdf and vice versa.
    pdf_flag = _pdf_flag()
    html_rows = base.where(~pdf_flag).withColumn(
        "_kernel", kernel_udf(F.col("html"))
    )
    pdf_rows = base.where(pdf_flag).withColumn(
        "_kernel",
        F.struct(
            pdf_text_udf(F.col("html")).alias("cleaned"),
            # pdf route has no xpath extraction: every configured field
            # carries the reference's no-stored-value sentinel
            # (langscrape/html/xpath_extractor.py:63-66).
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in field_map.keys()]),
                F.array(
                    *[F.array(F.lit("(No stored value)")) for _ in field_map]
                ),
            ).alias("extracted"),
        ),
    )
    df = _finish(html_rows.unionByName(pdf_rows), field_map)
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
    kernel_udf = make_fetch_kernel_udf(field_map)
    df = _routed(pages).withColumn(
        "_kernel", kernel_udf(F.col("html"), F.col("url"), _pdf_flag())
    ).withColumn("links", F.col("_kernel.links"))
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
