"""End-to-end tests of the Spark extraction pipeline on the synthetic
corpus: UDF output must byte-match the pure-Python kernel run on the
same rows (the per-row invariant from BASELINE.json input_hint)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from langscrape_spark import synth
from langscrape_spark.functions.kernel import html_to_text_udf
from langscrape_spark.html.clean import clean_html_for_extraction
from langscrape_spark.html.extract import extract_by_xpath_map
from langscrape_spark.plans.extract import collate_results, extract_pages

N_PAGES = 64


@pytest.fixture(scope="module")
def pages(spark):
    return synth.build_pages_df(spark, N_PAGES, partitions=4).cache()


def test_pages_schema_and_count(pages):
    assert pages.count() == N_PAGES
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]


def test_extraction_matches_kernel_bytewise(spark, pages):
    """The Spark plan and a plain-Python run over the same rows must
    agree byte-for-byte on cleaned/extracted values."""
    result = {
        r["url"]: r
        for r in extract_pages(pages, synth.FIELD_MAP, keep_cleaned=True).collect()
    }
    assert len(result) == N_PAGES
    for pid in range(0, N_PAGES, 7):  # sample spread across the corpus
        rec = synth.page_record(pid, N_PAGES)
        row = result[rec["url"]]
        html = rec["html"].decode("utf-8")
        cleaned = clean_html_for_extraction(html)
        assert row["cleaned"] == cleaned
        expected = extract_by_xpath_map(cleaned, synth.FIELD_MAP)
        got = {k: list(v) for k, v in row["extracted"].items()}
        assert got == expected
        # Golden content sanity: the synth corpus has known fields.
        assert expected["title"][0].startswith(f"Article {pid:08d}:")
        assert expected["datetime"][0].count("-") == 2
        assert len(expected["article_body"]) >= 3


def test_text_column_byte_identity(spark, pages):
    """html_to_text_udf(html) must reproduce the stored text column."""
    mismatches = (
        pages.withColumn("text2", html_to_text_udf(F.col("html")))
        .where(F.col("text2") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_flags_and_scheme(spark, pages):
    df = extract_pages(pages, synth.FIELD_MAP)
    rows = df.collect()
    assert all(r["is_valid_url"] for r in rows)
    assert all(r["is_valid_scheme"] for r in rows)
    assert all(r["traditional_flag"] == [] for r in rows)
    assert not any(r["is_pdf"] for r in rows)
    # bodies are long enough in the synth corpus
    assert all(not r["too_short_body"] for r in rows)


def test_collate_shape(spark, pages):
    out = collate_results(extract_pages(pages.limit(5), synth.FIELD_MAP))
    row = out.first()
    assert set(out.columns) == {"url", "meta_data", "extraction"}
    assert row["meta_data"]["is_valid_scheme"] is True
    assert "title" in row["extraction"]


def test_no_python_shuffle_in_plan(spark, pages):
    """All UDFs are map-only: the physical plan must contain no
    exchange below the Python stages (scan → project only)."""
    plan = extract_pages(pages, synth.FIELD_MAP)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# -- the crawl's fused fetch kernel ------------------------------------------

_DEEP = "<div>" * 200 + '<a href="/deep">deep link</a><p>deep body</p>' + "</div>" * 200
_HREFS = (
    '<html><head><title>t</title></head><body><h1>Edge hrefs</h1>'
    '<a href="javascript:void(0)">js</a><a href=" JavaScript:alert(1)">js2</a>'
    '<a href="mailto:a@b.example">mail</a><a href="tel:+100">tel</a>'
    '<a href="#frag">frag</a><a href="">empty</a><a>none</a>'
    '<a href="../up/x">up</a><a href="?q=1">query</a>'
    '<a href="https://Other.Example/Path#sec">abs</a>'
    '<a href="https://other.example/Path">dup</a>'
    '<a href="/a%20b">pct</a><p>body text</p></body></html>'
)
KERNEL_CASES = [
    (synth.url_of(3), synth.page_record(3, N_PAGES)["html"]),
    (synth.url_of(17), synth.page_record(17, N_PAGES)["html"]),
    ("https://bad.example/utf8",
     b'<html><body><a href="/x">\xff\xfe bad</a><p>text \xc3\x28 more</p></body></html>'),
    ("https://null.example/", None),
    ("https://empty.example/", b""),
    ("https://deep.example/a/b", _DEEP.encode()),
    ("https://edge.example/dir/page", _HREFS.encode()),
]


def test_fetch_page_matches_separate_kernels():
    """Per page, the fused kernel's (links, cleaned, extracted) equal the
    link harvest, the cleaner and the extractor run separately; with the
    harvest off (extract_pages' kernel), the same cleaned and extracted
    and no links."""
    from langscrape_spark.functions.kernel import fetch_page
    from langscrape_spark.html.links import extract_links

    for url, html in KERNEL_CASES:
        text = html.decode("utf-8", errors="replace") if html is not None else ""
        links, cleaned, extracted = fetch_page(html, url, False, synth.FIELD_MAP)
        assert links == extract_links(text, url), url
        assert cleaned == clean_html_for_extraction(text), url
        assert extracted == extract_by_xpath_map(cleaned, synth.FIELD_MAP), url
        for is_pdf in (False, True):
            with_links = fetch_page(html, url, is_pdf, synth.FIELD_MAP)
            without = fetch_page(html, url, is_pdf, synth.FIELD_MAP, harvest=False)
            assert without == ([], *with_links[1:]), (url, is_pdf)
    fetch_page(None, None, False, synth.FIELD_MAP)  # NULL html and url: no raise
    edge = fetch_page(_HREFS.encode(), "https://edge.example/dir/page", False, {})[0]
    assert edge == [
        "https://edge.example/up/x",
        "https://edge.example/dir/page?q=1",
        "https://other.example/Path",
        "https://edge.example/a b",
    ]
    deep = fetch_page(_DEEP.encode(), "https://deep.example/a/b", False, {})[0]
    assert deep == ["https://deep.example/deep"]


def test_extract_and_harvest_matches_extract_pages(spark):
    """Through Spark, over html, pdf and poison rows: every result column
    equals extract_pages', and ``links`` equals the link-only harvest
    (extract_links_udf), pdf bytes included."""
    from langscrape_spark.functions.kernel import extract_links_udf
    from langscrape_spark.plans.extract import RESULT_COLUMNS, extract_and_harvest

    rows = [(u, None, h, "", "en") for u, h in KERNEL_CASES]
    rows += [
        ("https://www.site1.example/docs/r.pdf", None,
         b'%PDF-1.4 Report body text. <a href="/from-pdf">x</a>', "", "en"),
        ("https://www.site1.example/docs/EMPTY.PDF", None, None, "", "en"),
        ("not a url", None, b"<p>poison</p>", "", "en"),
        (None, None, b'<a href="https://x.example/">x</a>', "", "en"),
    ]
    pages = spark.createDataFrame(rows, synth.PAGES_DDL)
    fused = {r["url"]: r for r in extract_and_harvest(pages, synth.FIELD_MAP).collect()}
    want = {r["url"]: r for r in extract_pages(pages, synth.FIELD_MAP).collect()}
    harvest = {
        r["url"]: r["links"]
        for r in pages.select(
            "url", extract_links_udf(F.col("html"), F.col("url")).alias("links")
        ).collect()
    }
    assert len(fused) == len(rows) == len(want)
    for url, row in fused.items():
        assert {c: row[c] for c in RESULT_COLUMNS} == want[url].asDict(), url
        assert row["links"] == harvest[url], url
    pdf = fused["https://www.site1.example/docs/r.pdf"]
    assert pdf["is_pdf"] and pdf["links"] == ["https://www.site1.example/from-pdf"]
    assert pdf["extracted"]["title"] == ["(No stored value)"]


def test_extract_and_harvest_scans_pages_once(spark, tmp_path):
    """One scan of the pages table and one Python stage, pdf route
    included (extract_pages' filter-split scans once per route)."""
    from langscrape_spark.plans.extract import extract_and_harvest

    path = str(tmp_path / "pages")
    synth.build_pages_df(spark, 8, partitions=2).write.parquet(path)
    admitted = spark.createDataFrame(
        [(synth.url_of(i), 1) for i in range(4)], "url string, depth int"
    )
    batch = spark.read.parquet(path).join(F.broadcast(admitted), "url", "inner")
    plan = (
        extract_and_harvest(batch, synth.FIELD_MAP, carry=["depth"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_extract_pages_scans_pages_once(spark, tmp_path):
    """extract_pages is one scan of the pages table and one Python stage,
    pdf route included: no filter-split, no union."""
    path = str(tmp_path / "pages")
    synth.build_pages_df(spark, 8, partitions=2).write.parquet(path)
    plan = (
        extract_pages(spark.read.parquet(path), synth.FIELD_MAP)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
