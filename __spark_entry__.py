"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
training-data-pipeline operator mandated by the driver) implemented in
``langscrape_spark``; ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL. Column names and types are aligned on both sides (counts as
BIGINT, ratios rounded to 6 dp) because the driver hash-compares
values after sorting columns by name.

Every query now carries an oracle. The non-SQL kernels are pinned via
frozen-fixture oracles (the Spark side computes live; the DuckDB side
re-derives everything downstream of a committed parquet fixture, so
the hash compare checks the downstream logic exactly AND pins the
kernel): q18/q22/q23/q31/q32 freeze the HTML/DOM kernel outputs
(scripts/freeze_dom_fixtures.py), q24 the multimodal decode fakes,
q34 the SWDE reader + extraction kernel, and — round-3 — q17/q21/q35
freeze the ANN bucket/centroid assignments
(scripts/freeze_ann_fixtures.py) while DuckDB re-derives the hamming
probe, nprobe centroid ranking, within-bucket pair join, exact cosine
and top-k order. Other round-3 oracle upgrades: q16_simhash (shingle
hash moved to the md5 lower half, which DuckDB reproduces via
``md5_number_lower``), q32_host_pagerank (frozen link-kernel edge
fixture + the 8 power iterations unrolled as MATERIALIZED CTEs), and
q19_crawl_schedule (deterministic generator rows embedded as VALUES).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from langscrape_spark.operators import (
    best_per_group,
    binned_avg,
    cosine_topk,
    exact_dedup,
    f1_by_group,
    fingerprint,
    lang_id,
    lsh_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    percentile_describe,
    quality_columns,
    simhash64,
    stratified_sample,
    token_count,
    top_k_per_group,
)

SF_DEFAULT = "/root/testdata/sf0.001"

# Fixed ANN query vector (dim 64), deterministic pattern.
QUERY_VEC = [((d % 7) - 3) / 10.0 for d in range(64)]
_QV_SQL = "[" + ", ".join(f"{x:.1f}" for x in QUERY_VEC) + "]::DOUBLE[]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``_t`` but repartitioned to the session's core count — the
    sf0.1 testdata parquet is ONE row group, so an unrepartitioned scan
    is a single partition and any multi-pass per-row-expensive operator
    runs single-core. Real deployments inherit real table partitioning;
    this is a testdata artifact workaround."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: webtext-curation rollup over the documents table —
    quality metrics + language-ID + fingerprint dedup, aggregated per
    detected language. Exercises the text-analysis operator stack
    end-to-end on sf0.001."""
    docs = _t(spark, SF_DEFAULT, "documents")
    q = quality_columns(docs, "text").withColumn("lang_guess", lang_id(F.col("text")))
    q = q.withColumn("fp", fingerprint(F.col("text")))
    return (
        q.groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("alpha_ratio"), 6).alias("avg_alpha_ratio"),
        )
        .orderBy("lang_guess")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_top1_per_group(spark, sf):
    """Top-1 per group window (reference fragments_agent.py:224-229)."""
    orders = _t(spark, sf, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=1,
    )


def q02_politeness_topk(spark, sf):
    """Per-key budget window — the politeness-drain pattern (SURVEY §2.6)."""
    events = _t(spark, sf, "events")
    return top_k_per_group(
        events.select("user_id", "event_id", "value"),
        ["user_id"],
        [F.desc("value"), F.asc("event_id")],
        k=3,
    )


def q03_outer_join_pivot(spark, sf):
    """groupBy+pivot (SWDE attribute merge analogue, SURVEY §2.5)."""
    events = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in types
    ]
    return events.groupBy("user_id").agg(*aggs)


def q04_setop_eval_f1(spark, sf):
    """TP/FP/FN → precision/recall/F1 via full-outer membership join
    (reference fragments_agent.py:151-222)."""
    li = _t(spark, sf, "lineitem").withColumn(
        "value", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    predicted = li.where(F.col("l_discount") >= 0.05).select("l_linestatus", "value")
    truth = li.where(F.col("l_returnflag") == "R").select("l_linestatus", "value")
    return f1_by_group(predicted, truth, ["l_linestatus"])


def q05_binned_avg(spark, sf):
    """x//w*w binned means (reference statistical_analysis.py:55-79)."""
    events = _t(spark, sf, "events")
    out = binned_avg(events, "value", 10.0, ["value"])
    return out.select(F.col("bin"), F.round("avg_value", 6).alias("avg_value"))


def q06_percentile_describe(spark, sf):
    """Percentile describe per group (reference statistical_analysis.py:546-554)."""
    li = _t(spark, sf, "lineitem")
    return percentile_describe(li, ["l_returnflag"], "l_extendedprice")


def q07_stratified_sample(spark, sf):
    """Deterministic stratified group sampling (reference dataset.py:98-135)."""
    cust = _t(spark, sf, "customer")
    return stratified_sample(cust, ["c_mktsegment"], "c_custkey", 3).select(
        "c_mktsegment", "c_custkey", "c_name"
    )


def q08_exact_dedup(spark, sf):
    """Exact dedup by normalized-text fingerprint (hash-groupBy)."""
    docs = _t(spark, sf, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "fp")


def q09_ngram_jaccard(spark, sf):
    """N-gram Jaccard near-dup pairs via inverted shingle index."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.12)


def q10_minhash_lsh(spark, sf):
    """MinHash+LSH banded candidate pairs (md5-based, engine-portable)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16, bands=4, k=3)


def q11_lang_quality(spark, sf):
    """Language-ID + quality scoring per document."""
    docs = _t(spark, sf, "documents")
    q = quality_columns(docs, "text").withColumn("lang_guess", lang_id(F.col("text")))
    return q.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.col("stopword_hits").cast("long").alias("stopword_hits"),
        "lang_guess",
    )


def q12_token_fingerprint(spark, sf):
    """Regex token counting + md5 document fingerprint."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_rtokens"),
        fingerprint(F.col("text")).alias("fp"),
    )


def q13_cosine_topk(spark, sf):
    """Brute-force cosine top-k over the embedding column."""
    emb = _t(spark, sf, "embeddings")
    return cosine_topk(emb, QUERY_VEC, k=10)


def q14_groupagg_rollup(spark, sf):
    """TPC-H-Q1-style codegen aggregate (token-usage rollup analogue,
    SURVEY §2.6)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q15_best_per_group(spark, sf):
    """best-xpath-per-field analogue: argmax row per group by
    (f1 desc, n desc) over a derived score table."""
    li = _t(spark, sf, "lineitem")
    scored = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.avg("l_discount"), 6).alias("f1"),
        F.count("*").alias("n"),
    )
    return best_per_group(scored, ["l_returnflag"], "f1", ["n"])


def q16_simhash(spark, sf):
    """SimHash64 fingerprints, DuckDB-oracled END TO END: the shingle
    hash is the md5 lower half (``md5_number_lower`` in DuckDB), so
    the oracle reproduces tokenize → shingle → hash → bit votes →
    pack with zero fixtures. Vectorized variant — bit-identical to
    the expression build (pinned in tests/test_training_ops.py)."""
    from langscrape_spark.operators.dedup import simhash64_fast

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return docs.select("doc_id", simhash64_fast(F.col("text")).alias("simhash"))


def q17_lsh_ann(spark, sf):
    """SRP-LSH bucketed approximate top-k (scale path for q13).
    Oracled: the bucket assignment is frozen to a fixture
    (scripts/freeze_ann_fixtures.py); DuckDB re-derives the hamming-
    radius probe, exact cosine and top-k order — the compare pins the
    gemm bucketer."""
    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb, QUERY_VEC, k=10, n_planes=8, probe_radius=3)


def q18_extract_kernel(spark, sf):
    """The HTML extraction kernel end-to-end on a synthesized corpus
    (the engine's raison d'être). Oracled against the frozen kernel
    fixture (scripts/freeze_dom_fixtures.py): Spark runs the kernel
    LIVE; DuckDB projects the committed fixture — any kernel or
    plumbing drift fails the value-hash. Goldens also live in
    tests/test_html_kernel.py and tests/test_extract_pipeline.py."""
    from langscrape_spark import synth
    from langscrape_spark.plans.extract import extract_pages

    pages = synth.build_pages_df(spark, 64, partitions=4)
    out = extract_pages(pages, synth.FIELD_MAP)
    return out.select(
        "url",
        F.try_element_at(F.col("extracted").getItem("title"), F.lit(1)).alias("title"),
        F.try_element_at(F.col("extracted").getItem("datetime"), F.lit(1)).alias("date_str"),
        F.size(F.col("extracted").getItem("article_body")).cast("long").alias("n_body_paras"),
        "is_valid_scheme",
    )


def q19_crawl_schedule(spark, sf):
    """One politeness round over a synthetic frontier: per-host top-k
    admission with the salted two-phase window (scheduler equivalence
    vs the sequential simulator is proven in tests/test_scheduler.py)."""
    from langscrape_spark import synth
    from langscrape_spark.scheduler.frontier import _politeness_admit, _with_policy_columns

    urls = spark.createDataFrame(
        [(synth.url_of(i), 0) for i in range(0, 400, 2)], "url string, depth int"
    )
    robots = synth.robots_df(spark)
    frontier = _with_policy_columns(urls, robots, synth.host_rank_df(spark))
    return _politeness_admit(frontier, robots, batch_size=50)


def q20_embedding_neardup(spark, sf):
    """Exact embedding-cosine near-dup pairs via blocked matrix
    multiply (identical results to the HOF pair-join baseline,
    verified; ~35x faster)."""
    from langscrape_spark.operators.ann import (
        embedding_neardup_pairs_blocked as embedding_neardup_pairs,
    )

    # Bounded to a 1000-vector slice (covers all of sf0.01); the
    # broadcast-free scale path is q21's LSH bucket join.
    emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 1000)
    # testdata embeddings are near-random (max pairwise cosine ~0.51
    # at sf0.01), so the "near-dup" threshold is set where pairs exist.
    return embedding_neardup_pairs(emb, 0.40)


def q21_embedding_neardup_lsh(spark, sf):
    """Scale path for q20: SRP buckets partition the corpus, per-bucket
    gemm confirms exact cosines; n_planes derived from corpus size.
    Oracled: the (bucket, sub) assignment is frozen to a fixture;
    DuckDB re-derives the within-bucket pair join and cosine threshold
    (recall-vs-q20 subset additionally proven in
    tests/test_training_ops.py)."""
    from langscrape_spark.operators.ann import embedding_neardup_pairs_lsh

    emb = _t(spark, sf, "embeddings")
    return embedding_neardup_pairs_lsh(emb, 0.40)


def q22_dom_structural_stats(spark, sf):
    """Corpus-wide DOM node table → per-(url, tag) structural stats
    (reference soup_tools.py:182-231 generalized). Oracled: DuckDB
    can't parse HTML, so the oracle aggregates over the FROZEN kernel
    output (tests/fixtures/q22_dom_nodes.parquet, regenerated by
    scripts/freeze_dom_fixtures.py) while this query computes it live
    — the hash compare checks the aggregation and pins the kernel."""
    from langscrape_spark import synth
    from langscrape_spark.operators.domtable import dom_nodes_table, structural_stats

    pages = synth.build_pages_df(spark, 48, partitions=4)
    return structural_stats(dom_nodes_table(pages)).orderBy("url", "tag")


def q23_node_weights(spark, sf):
    """Token-weighted DOM scoring as columns (reference
    etree_token_stats.py:83-123). Oracled against the frozen node-table
    fixture (see q22): the weight formula, token band, windows and
    top-3 ranking are all re-derived independently in DuckDB SQL."""
    from langscrape_spark import synth
    from langscrape_spark.operators.domtable import dom_nodes_table, node_weights
    from pyspark.sql import Window

    pages = synth.build_pages_df(spark, 48, partitions=4)
    w = node_weights(dom_nodes_table(pages))
    ranked = w.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("url").orderBy(F.desc("weight"), F.asc("xpath"))
        ),
    )
    return ranked.where("rn <= 3").drop("rn")


def q24_media_features(spark, sf):
    """Multimodal plumbing end-to-end: decode → resize images, sample
    video frames, audio features (decode is a deterministic fake —
    see operators/multimodal.py). Oracled against the frozen kernel
    outputs (scripts/freeze_dom_fixtures.py): Spark runs the decode /
    resize / sample / feature kernels LIVE; DuckDB recomputes the
    downstream (md5(hex(pixels)), per-video frame counts, the
    zero-crossing projection) over the committed fixtures."""
    from langscrape_spark.operators import multimodal as mm

    media = mm.build_media_df(spark, 60, partitions=4)
    imgs = mm.resize_images(mm.decode_images(media), 8, 8).select(
        "media_id", F.lit("image").alias("kind"),
        F.md5(F.hex(F.col("pixels"))).alias("feature"),
    )
    frames = mm.sample_frames(media, every_n=10).groupBy("media_id").agg(
        F.lit("video").alias("kind"),
        F.count("*").cast("string").alias("feature"),
    )
    audio = mm.audio_features(media).select(
        "media_id", F.lit("audio").alias("kind"),
        F.col("zero_crossings").cast("string").alias("feature"),
    )
    return imgs.unionByName(frames).unionByName(audio)


def q25_corr_by_group(spark, sf):
    """Correlation per group (reference statistical_analysis.py:390-392)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_disc_tax"),
    )


def q26_setops_drift(spark, sf):
    """get_feedbacks-style missing/surplus set diff (reference
    feilian/agents/agent.py:128-135): event types a user emitted early
    in the month but not late, and vice versa."""
    ev = _t(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_set(F.when(F.dayofmonth("ts") <= 15, F.col("event_type")))
        ).alias("early_types"),
        F.array_sort(
            F.collect_set(F.when(F.dayofmonth("ts") > 15, F.col("event_type")))
        ).alias("late_types"),
    )
    # Array columns are serialized to '|'-joined strings so the driver's
    # pandas canonicalizer (sort_values + hash) can compare them — raw
    # list cells are unhashable there (round-1 q26/q29 failure mode).
    return agg.select(
        "user_id",
        F.array_join(
            F.array_except("early_types", "late_types"), "|"
        ).alias("missing_late"),
        F.array_join(
            F.array_except("late_types", "early_types"), "|"
        ).alias("surplus_late"),
        F.size(F.array_union("early_types", "late_types")).alias("n_types"),
    )


def q27_xpath_prefix_dedup(spark, sf):
    """Corpus-wide ``deduplicate_to_prune`` (reference
    feilian/etree_tools.py:343-356): drop any path that extends a
    shallower kept path. Domination is transitive along prefix chains,
    so dominated-by-any ≡ dominated-by-kept and the whole pass is one
    self-join — no iteration. Paths synthesized from orders keys."""
    orders = _t(spark, sf, "orders")
    shallow = (
        orders.where(F.col("o_custkey") % 2 == 0)
        .select(F.concat(F.lit("/c"), F.col("o_custkey")).alias("path"))
        .distinct()
    )
    deep = orders.select(
        F.concat(
            F.lit("/c"), F.col("o_custkey"), F.lit("/o"), F.col("o_orderkey")
        ).alias("path")
    )
    paths = shallow.unionByName(deep)
    # Scalable domination test: explode every path into its proper
    # ancestor prefixes, then a hash left_anti equi-join against the
    # path set — O(n·depth) rows shuffled on an equi-key, instead of
    # the O(n²) nested-loop a `startswith` join would plan.
    segs = F.split(F.col("path"), "/")
    # NB: sequence(1, 0) counts DOWN in Spark — guard depth-1 paths or
    # every root becomes its own "ancestor" and deletes itself.
    ancestors = F.when(
        F.size(segs) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(segs) - 2),
            lambda i: F.concat(
                F.lit("/"), F.array_join(F.slice(segs, 2, i), "/")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dominated = (
        paths.select("path", F.explode(ancestors).alias("anc"))
        .join(paths.select(F.col("path").alias("anc")), "anc", "left_semi")
        .select("path")
        .distinct()
    )
    return paths.join(dominated, "path", "left_anti")


def q28_json_extract(spark, sf):
    """``extract_json_block`` fallback chain (reference
    langscrape/nodes/data_collator.py:10-43) over deliberately dirtied
    JSON: rows cycle through fenced ```json blocks, noise-wrapped bare
    objects, clean JSON, and garbage; the chain must recover the object
    from the first three and yield '{}' (→ filtered) for the last."""
    from langscrape_spark.operators.text import extract_json_block_col

    ev = _t(spark, sf, "events")
    dirty = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(F.lit("```json\n"), F.col("props"), F.lit("\n```")),
        )
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(F.lit("model said: "), F.col("props"), F.lit(" -- done")),
        )
        .when(F.col("event_id") % 4 == 2, F.col("props"))
        .otherwise(F.lit("no json anywhere here"))
        .alias("raw"),
    )
    return (
        dirty.select(
            "event_id",
            F.get_json_object(extract_json_block_col(F.col("raw")), "$.k")
            .cast("long")
            .alias("k"),
        )
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


def q29_ordered_distinct(spark, sf):
    """``unique_merge`` ordered-distinct union (reference
    feilian/agents/reducers.py:10-47): event types per user in order
    of first occurrence (ties by type)."""
    ev = _t(spark, sf, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts")
    )
    # '|'-joined string (not array) so the driver canonicalizer can
    # hash-compare the column; see q26 note.
    return firsts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("first_ts", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
            "|",
        ).alias("types_in_order")
    )


def q30_date_rollup(spark, sf):
    """Date scalar family (SURVEY §2.10): month/day-of-week rollup of
    the events stream."""
    ev = _t(spark, sf, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.dayofweek("ts").alias("dow"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q31_template_cluster(spark, sf):
    """Template clustering: group pages by the md5 of their unique
    structure skeleton (reference get_structure,
    feilian/soup_tools.py:295-303). Oracled against the frozen
    signature fixture (tests/fixtures/q31_template_sigs.parquet)."""
    from langscrape_spark import synth
    from langscrape_spark.operators.domtable import template_signatures

    pages = synth.build_pages_df(spark, 64, partitions=4)
    return (
        template_signatures(pages)
        .groupBy("template_sig")
        .agg(F.count("*").alias("n_pages"), F.min("url").alias("example_url"))
        .orderBy(F.desc("n_pages"), "template_sig")
    )


def q32_host_pagerank(spark, sf):
    """Host-rank from the corpus link graph: weighted PageRank power
    iteration over host→host edges (the frontier's priority signal).
    DuckDB-oracled since round 3: the link-harvest kernel output is
    frozen to a fixture (scripts/freeze_dom_fixtures.py) and the 8
    power iterations are unrolled as MATERIALIZED CTEs (_pagerank_sql)."""
    from langscrape_spark import synth
    from langscrape_spark.operators.hostrank import host_rank_table

    pages = synth.build_pages_df(spark, 256, partitions=8)
    return host_rank_table(pages, iterations=8).orderBy(
        F.desc("rank"), "host"
    )


def q33_clean_tags(spark, sf):
    """``clean_tags`` vocabulary filter (reference
    langscrape/nodes/post_processor.py:11-36, vocab langscrape/tags.py):
    synthetic tag lists built from doc_id are stable-filtered against
    the allowed union vocabulary — order and duplicate occurrences of
    surviving tags preserved (list filter, NOT set intersection)."""
    from langscrape_spark.operators.tags import clean_tags

    docs = _t(spark, sf, "documents")
    tagged = docs.select(
        "doc_id",
        F.array(
            F.when(F.col("doc_id") % 3 == 0, F.lit("Jerusalem")).otherwise(
                F.lit("Atlantis")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit("Abuse")).otherwise(
                F.lit("NotATheme")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit("Hamas")).otherwise(
                F.lit("Education")
            ),
            # duplicate of a surviving tag: pins dup preservation
            F.lit("Jerusalem"),
        ).alias("theme_tags"),
    )
    cleaned = clean_tags(tagged, ["theme_tags"])
    return cleaned.select(
        "doc_id",
        F.array_join("theme_tags", "|").alias("kept_tags"),
        F.size("theme_tags").alias("n_kept"),
    )


def ensure_q34_corpus() -> str:
    """Materialize q34's synthetic SWDE page-dir corpus (idempotent,
    race-safe) and return its root. Exposed separately so the bench
    harness can build it OUTSIDE the timed window — the first-run
    corpus I/O is fixture setup, not query cost."""
    import os
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "swde_q34_v1")
    if not os.path.isdir(root):
        # build under a unique temp dir, then atomic rename: a second
        # process racing this query never observes a half-written corpus
        build = tempfile.mkdtemp(prefix="swde_q34_build_")
        for (cat, site), n in (("auto", "msn"), 5), (("book", "abe"), 4):
            pdir = os.path.join(build, cat, f"{cat}-{site}({n})")
            os.makedirs(pdir, exist_ok=True)
            gdir = os.path.join(build, "groundtruth", cat)
            os.makedirs(gdir, exist_ok=True)
            tlines = ["h", "h"]
            for i in range(n):
                with open(os.path.join(pdir, f"{i:04d}.htm"), "w") as f:
                    f.write(
                        f"<html><body><h1>{cat} {site} {i}</h1>"
                        f"<div class='x'>noise</div></body></html>"
                    )
                tlines.append(f"{i:04d}\t1\t{cat} {site} {i}")
            with open(os.path.join(gdir, f"{cat}-{site}-title.txt"), "w") as f:
                f.write("\n".join(tlines))
        try:
            os.rename(build, root)
        except OSError:
            pass  # lost the race: the other process's corpus is identical
    return root


def q34_swde_rank(spark, sf):
    """SWDE-style corpus flow end-to-end (reference
    feilian/datasets/dataset.py:92-254 + fragments_agent F1 ranking;
    rows-only — reads a synthesized page-dir corpus): read page dirs +
    tab-separated truth, extract candidate xpaths, F1-rank, best per
    (category, site, field)."""
    import os

    from langscrape_spark.functions.kernel import make_extract_fields_udf
    from langscrape_spark.operators.evalops import best_per_group, f1_by_group
    from langscrape_spark.sources.swde import (
        swde_ground_truth,
        swde_pages,
        truth_values_long,
    )

    root = ensure_q34_corpus()
    pages = swde_pages(spark, root)
    truth = swde_ground_truth(spark, os.path.join(root, "groundtruth"))
    field_map = {
        xp: {"strategy": "xpath_extractor", "xpath": xp}
        for xp in ("//h1", "//div")
    }
    extract = make_extract_fields_udf(field_map)
    pred = (
        pages.select(
            "category", "site", "page_id",
            extract(F.decode("html", "utf-8")).alias("ex"),
        )
        .select("category", "site", "page_id", F.explode("ex").alias("xpath", "vs"))
        .select("category", "site", "page_id", "xpath", F.explode("vs").alias("value"))
        .where(~F.col("value").startswith("("))
        .withColumn("field_name", F.lit("title"))
    )
    tr = truth_values_long(truth).crossJoin(
        spark.createDataFrame([(xp,) for xp in field_map], "xpath string")
    )
    scored = f1_by_group(
        pred, tr, ["category", "site", "field_name", "xpath"]
    )
    return best_per_group(scored, ["category", "site", "field_name"]).select(
        "category", "site", "field_name", "xpath", "tp", "fp", "fn", "f1"
    )


def q35_ivf_ann(spark, sf):
    """IVF-flat ANN top-k (FAISS-style inverted lists): deterministic
    Lloyd centroids, nprobe nearest lists scanned, exact re-rank
    inside them. Oracled: centroids + assignments are frozen to
    fixtures; DuckDB re-derives the nprobe centroid ranking, list
    filter, cosine and top-k order (recall additionally pinned vs
    brute force in tests/test_training_ops.py)."""
    from langscrape_spark.operators.ann import ivf_centroids, ivf_topk

    emb = _t(spark, sf, "embeddings")
    cents = ivf_centroids(emb, k=16, iterations=2)
    q = [(1.0 if i % 7 == 0 else 0.1) for i in range(64)]
    return ivf_topk(emb, q, cents, k=10, nprobe=6)


def q36_select_best_xpath(spark, sf):
    """``select_best_xpath`` cascade (reference
    feilian/agents/agent.py:150-177) over synthetic candidates derived
    from orders: per customer "field", candidate orders are xpath
    proposals — invalid = priority 'low', all_nonempty = shipped
    ('F'), score = totalprice; the 3-tier window must pick
    valid+nonempty argmin, else first valid, else first proposed."""
    from langscrape_spark.operators.evalops import select_best_xpath

    orders = _t(spark, sf, "orders").where(F.col("o_custkey") <= 200)
    cand = orders.select(
        F.col("o_custkey").alias("field_name"),
        F.col("o_orderkey").cast("string").alias("xpath"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy("o_orderkey")
        )
        .alias("try_order"),
        (F.col("o_orderpriority") == "5-LOW").alias("invalid"),
        (F.col("o_orderstatus") == "F").alias("all_nonempty"),
        # floor, not cast: DuckDB CAST(double AS BIGINT) rounds while
        # Spark's cast truncates — and this column is a sort key.
        F.floor("o_totalprice").cast("long").alias("total_extracted"),
    )
    return select_best_xpath(cand).select(
        "field_name", "xpath", "try_order", "invalid", "all_nonempty",
        "total_extracted",
    )


def q37_scheme_report(spark, sf):
    """``SchemeValidator`` bidirectional key-set diff (reference
    langscrape/json.py:21-56) over synthetic key sets built from the
    events props: expected keys vs observed json keys per event,
    missing/surplus serialized for the driver canonicalizer."""
    from langscrape_spark.operators.evalops import scheme_report

    ev = _t(spark, sf, "events")
    keyed = ev.select(
        "event_id",
        F.array_distinct(
            F.concat(
                F.array(F.lit("k")),
                F.when(F.col("event_id") % 3 == 0, F.array(F.lit("extra")))
                .otherwise(F.array().cast("array<string>")),
                F.when(F.col("event_id") % 4 == 0, F.array(F.lit("ts")))
                .otherwise(F.array().cast("array<string>")),
            )
        ).alias("keys"),
    )
    rep = scheme_report(keyed, "keys", ["k", "ts"])
    return rep.select(
        "event_id",
        F.array_join("missing_keys", "|").alias("missing_keys"),
        F.array_join("surplus_keys", "|").alias("surplus_keys"),
        "is_valid_scheme",
    )


def q38_repetition_quality(spark, sf):
    """Gopher-style repetition quality filters (top-2-gram fraction /
    duplicate-3-gram fraction with the paper's 0.20/0.18 thresholds)
    over the documents table — the standard LLM-training-corpus
    repetition gate. See operators/text.repetition_stats for the
    scale shape (two hash aggs, no windows/UDFs)."""
    from langscrape_spark.operators.text import repetition_stats

    # The sf0.1 documents parquet is a single row group → a 1-partition
    # scan; the explode would run on one core without this split (at
    # production scale the input arrives in many partitions already).
    docs = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = repetition_stats(docs, "doc_id", "text")
    return rep.select(
        "doc_id",
        "top2gram_frac",
        "dup3gram_frac",
        F.col("repetition_flagged").cast("int").alias("repetition_flagged"),
    )


def q39_dup_clusters(spark, sf):
    """Duplicate-cluster resolution: MinHash+LSH candidate pairs (the
    q10 edge set) → connected components (alternating large/small
    star) → canonical-survivor election per cluster. The second half
    of dedup that pair generation alone doesn't give you: near-dup is
    not transitive, so survivors must be elected per CONNECTED
    component, not per pair."""
    from langscrape_spark.operators.components import resolve_duplicates

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16, bands=4, k=3)
    return resolve_duplicates(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select(
        "doc_id",
        "canonical_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


_Q40_BOILER = (
    "subscribe to our newsletter for updates and breaking news today"
)  # exactly 10 tokens = one span, so planted chunks align across docs


def q40_span_dedup(spark, sf):
    """C4-style repeated-span removal: every doc_id%3==0 document gets
    the same 10-token boilerplate prefix planted (in BOTH engines), and
    span_dedup must strip every occurrence except the globally first
    while re-assembling the remaining text in order."""
    from langscrape_spark.operators.text import span_dedup

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_Q40_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return span_dedup(docs, "text", "doc_id", span=10)


def q41_decontaminate(spark, sf):
    """Benchmark decontamination: every doc_id%97==0 document plays the
    role of a benchmark/eval document, its distinct 13-grams form the
    contamination set, and decontaminate() must flag every training doc
    sharing any of them (the donors flag themselves — exactly the
    train/test-overlap case the procedure exists for)."""
    from langscrape_spark.operators.contamination import decontaminate
    from langscrape_spark.operators.text import ngram_list

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.explode(F.array_distinct(ngram_list(F.col("text"), 13))).alias("ngram")
    )
    out = decontaminate(docs, bench, "text", "doc_id", n=13)
    return out.select(
        "doc_id",
        "n_hits",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q42_pii_scrub(spark, sf):
    """PII redaction: emails / IPv4s / phone numbers are planted into
    deterministic subsets of the corpus (identically in BOTH engines),
    and pii_scrub must redact them to typed placeholders with exact
    counts. The placement exercises ordering (an email whose host part
    looks like an IP must redact as ONE email)."""
    from langscrape_spark.operators.text import pii_scrub

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    d.cast("string"),
                    F.lit("@10.0.0.1.example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(" call 555-123-4567 or 555 987 6543 today")).otherwise(
                F.lit("")
            ),
            F.when(d % 11 == 0, F.lit(" served from 192.168.1.77 via 10.0.0.1.")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return pii_scrub(docs, "text", "doc_id")


def q43_canonical_urls(spark, sf):
    """URL canonicalization over a deterministic url corpus built from
    the orders table (four spellings per residue class: tracker params
    + unsorted query + default port + fragment; non-default port;
    hostless-path + 443; already-canonical). The oracle reimplements
    the RFC-3986 normalization independently in DuckDB SQL."""
    from langscrape_spark.operators.urls import canonicalize_url

    k = F.col("o_orderkey")
    url = (
        F.when(
            k % 4 == 0,
            F.concat(
                F.lit("HTTP://Example.COM:80/Item/"),
                k.cast("string"),
                F.lit("?utm_source=news&b=2&a=1&gclid=xyz#sec2"),
            ),
        )
        .when(
            k % 4 == 1,
            F.concat(F.lit("https://CDN.Example.com:8080/a/"), k.cast("string")),
        )
        .when(k % 4 == 2, F.lit("HTTPS://Example.COM:443?fbclid=abc&z=9&y=8"))
        .otherwise(
            F.concat(
                F.lit("http://example.com/item/"), k.cast("string"), F.lit("?a=1")
            )
        )
    )
    return (
        _t(spark, sf, "orders")
        .select(k.alias("url_id"), url.alias("url"))
        .select("url_id", canonicalize_url(F.col("url")).alias("url_canonical"))
    )


def q44_gopher_quality(spark, sf):
    """The Gopher quality-gate bundle (word count, mean word length,
    symbol/bullet/ellipsis ratios, alpha-word fraction, stopword floor
    + the conjunction flag) over the documents table."""
    from langscrape_spark.operators.text import gopher_quality_flags

    out = gopher_quality_flags(_t(spark, sf, "documents"), "text", "doc_id")
    return out.withColumn("passes_gopher", F.col("passes_gopher").cast("int"))


# robots.txt bodies planted per nation row, shared verbatim by the
# Spark query and the DuckDB oracle (newlines escaped SQL-side).
# Templates exercise: comments + mixed-case directives + empty
# Disallow (t0), a non-star group then a consecutive-UA group
# containing * (t1), full disallow (t2), no star group (t3), empty
# file (t4).
_ROBOTS_TEMPLATES = [
    "# main rules\nUser-Agent: *\nDisallow: /private/\nCRAWL-DELAY: abc\n"
    "CRAWL-DELAY: 2.5\nDisallow: /tmp/  # scratch\nDisallow:\n",
    "User-agent: Foo\nDisallow: /foo/\n\nUser-Agent: Bar\nUser-agent: *\n"
    "Disallow: /x/\nCrawl-delay: 1.2.3\ncrawl-delay: 10\n",
    "User-agent: *\nDisallow: /\n",
    "User-agent: Googlebot\nDisallow: /g/\n",
    "",
    # RFC 9309 grouping pins: the blank line and the unknown Host:
    # directive do NOT end the UA run (so * and Bar share one group and
    # the * agent gets /m/), and the FIRST parseable delay in file
    # order wins across the two * groups (4, not 9).
    "User-agent: *\n\nHost: x.example\nUser-agent: Bar\nDisallow: /m/\n"
    "Crawl-delay: 4\nUser-agent: *\nCrawl-delay: 9\n",
]


def q45_parse_robots(spark, sf):
    """robots.txt parsing (REP subset: UA groups incl. consecutive-UA
    runs, Disallow prefixes, Crawl-delay, comments, case-insensitive
    directives) over deterministic planted bodies; crawl_delay_s uses
    -1.0 as the documented no-delay sentinel so both engines emit
    non-NULL doubles."""
    from langscrape_spark.scheduler.robots import parse_robots_txt

    k = F.col("n_nationkey")
    txt = F.when(k % 6 == 0, F.lit(_ROBOTS_TEMPLATES[0]))
    for i in range(1, 5):
        txt = txt.when(k % 6 == i, F.lit(_ROBOTS_TEMPLATES[i]))
    txt = txt.otherwise(F.lit(_ROBOTS_TEMPLATES[5]))
    df = _t(spark, sf, "nation").select(
        F.concat(F.lit("www.nat"), k.cast("string"), F.lit(".example")).alias(
            "host"
        ),
        txt.alias("robots_txt"),
    )
    out = parse_robots_txt(df)
    return out.select(
        "host",
        F.array_join("disallow_prefixes", "|").alias("prefixes"),
        F.coalesce("crawl_delay", F.lit(-1.0)).alias("crawl_delay_s"),
        F.col("allowed").cast("int").alias("allowed"),
    )


# robots pattern → anchored regex, the DuckDB mirror of
# scheduler/robots.py::_rule_regex (same escape class, * → .*, trailing
# $ anchor). Raw string: the SQL must carry '\[' etc. literally, and
# the RE2 replacement '\\\1' = literal backslash + group 1.
_RFC_RX_SQL = r"""'^' || replace(regexp_replace(
                       CASE WHEN pattern LIKE '%$'
                            THEN substr(pattern, 1, len(pattern) - 1)
                            ELSE pattern END,
                       '([.^+?(){}\[\]|\\$])', '\\\1', 'g'), '*', '.*')
                     || CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END"""

_ROBOTS_RFC_TEMPLATES = [
    "User-agent: *\nDisallow: /private/*.html\nAllow: /private/pub\n"
    "Disallow: /*?sessionid=\nCrawl-delay: 2\n",
    "User-agent: *\nDisallow: /\nAllow: /news/\n",
    "User-agent: *\nDisallow: /tech/article-*1.html$\nAllow: /tech/\n",
    "User-agent: Foo\nDisallow: /foo/\n\nUser-agent: *\nAllow: /a*c\n"
    "Disallow: /ab*\nDisallow: /a\n",
    "",
]

_RFC_PATHS = [
    "/private/x.html",      # t0: wildcard Disallow (rlen 15) wins
    "/private/pub.html",    # t0: Disallow 15 beats Allow 12
    "/private/pub",         # t0: Allow 12, wildcard regex misses
    "/news/item",           # t1: Allow /news/ outranks Disallow /
    "/x",                   # t1: host-kill
    "/tech/article-11.html",  # t2: anchored Disallow 22 beats Allow 6
    "/tech/article-11.htmlx",  # t2: $ anchor misses → Allow /tech/
    "/abc",                 # t3: Allow /a*c (4) TIES Disallow /ab* (4) → Allow
    "/ab",                  # t3: Disallow /ab* (4) beats /a (2)
    "/zzz",                 # no rule matches anywhere → allowed, rlen -1
    "/s?sessionid=1",       # t0: query-string Disallow /*?sessionid= fires
    "/private/pub?x=1",     # t0: Allow 12 prefix-matches through the query
]


def q46_robots_decision(spark, sf):
    """RFC 9309 §2.2.2 longest-match robots decisions (Allow/Disallow,
    REP wildcards ``*``/trailing ``$``, most-octets wins, tie → Allow)
    over planted rule files crossed with a fixed path probe set — the
    exact gate `frontier._with_policy_columns` applies when the robots
    table carries a `rules` column. win_rlen is the winning rule's
    pattern length (−1 = no rule matched)."""
    from langscrape_spark.scheduler.robots import (
        parse_robots_txt,
        robots_decision_detail,
    )

    k = F.col("n_nationkey")
    txt = F.when(k % 5 == 0, F.lit(_ROBOTS_RFC_TEMPLATES[0]))
    for i in range(1, 4):
        txt = txt.when(k % 5 == i, F.lit(_ROBOTS_RFC_TEMPLATES[i]))
    txt = txt.otherwise(F.lit(_ROBOTS_RFC_TEMPLATES[4]))
    hosts = _t(spark, sf, "nation").select(
        F.concat(F.lit("www.nat"), k.cast("string"), F.lit(".example")).alias(
            "host"
        ),
        txt.alias("robots_txt"),
    )
    parsed = parse_robots_txt(hosts)
    paths = hosts.select(
        "host",
        F.explode(F.array([F.lit(p) for p in _RFC_PATHS])).alias("path"),
    )
    dec = robots_decision_detail(F.col("path"), F.col("rules"))
    return paths.join(parsed, "host", "left").select(
        "host",
        "path",
        dec["allow"].cast("int").alias("allowed"),
        dec["rlen"].cast("int").alias("win_rlen"),
    )


_SITEMAP_TEMPLATES = [
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    " <url>\n  <loc>https://HOST/x?a=1&amp;b=2</loc>\n"
    "  <lastmod>2026-01-02</lastmod>\n  <changefreq>daily</changefreq>\n"
    "  <priority>0.8</priority>\n </url>\n"
    " <url><loc> https://HOST/y </loc></url>\n"
    " <url><priority>0.1</priority></url>\n"  # no loc → dropped
    "</urlset>",
    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    " <sitemap><loc>https://HOST/sm/a.xml</loc>"
    "<lastmod>2025-12-31T10:00:00Z</lastmod></sitemap>\n"
    " <sitemap>\n  <loc>https://HOST/sm/b.xml</loc>\n </sitemap>\n"
    "</sitemapindex>",
    "<urlset><url><loc>https://HOST/&lt;odd&gt;&quot;q&quot;</loc>"
    "<priority>bogus</priority></url>"
    "<url/><url><loc>https://HOST/z</loc><changefreq>never</changefreq>"
    "</url></urlset>",
    "garbage, not xml at all",
]


def q47_sitemap_entries(spark, sf):
    """Sitemap XML parsing (sitemaps.org 0.9 subset: urlset + index
    entries, loc/lastmod/changefreq/priority, XML entity decoding,
    attribute-tolerant tags, document-order pos) over planted bodies —
    the seed-discovery half of robots handling (RFC 9309 §2.4 Sitemap
    lines point here). priority uses -1.0 as the absent/unparseable
    sentinel so both engines emit non-NULL doubles."""
    from langscrape_spark.sources.sitemap import parse_sitemaps

    k = F.col("n_nationkey")
    host = F.concat(F.lit("www.nat"), k.cast("string"), F.lit(".example"))
    body = F.when(
        k % 4 == 0, F.lit(_SITEMAP_TEMPLATES[0])
    ).when(k % 4 == 1, F.lit(_SITEMAP_TEMPLATES[1])).when(
        k % 4 == 2, F.lit(_SITEMAP_TEMPLATES[2])
    ).otherwise(F.lit(_SITEMAP_TEMPLATES[3]))
    df = _t(spark, sf, "nation").select(
        F.concat(F.lit("https://"), host, F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        F.regexp_replace(body, "HOST", host).alias("body"),
    )
    out = parse_sitemaps(df)
    return out.select(
        "src",
        "kind",
        "pos",
        "loc",
        "lastmod",
        "changefreq",
        F.coalesce("priority", F.lit(-1.0)).alias("priority_s"),
    )


_REVISIT_AS_OF = "2026-08-17"
_REVISIT_FREQS = [
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
    "sometimes", "",
]


def q48_revisit_schedule(spark, sf):
    """Re-crawl scheduling from sitemap freshness metadata: changefreq
    → revisit interval, lastmod (date or W3C timestamp or garbage) →
    next-due date, staleness-scaled refresh priority. Pure DATE
    arithmetic (sources/sitemap.py::revisit_schedule) so both engines
    agree without timezone semantics; sentinels: interval −1 and date
    1970-01-01 = 'never'."""
    from langscrape_spark.sources.sitemap import revisit_schedule

    k = F.col("c_custkey")
    lastmod = (
        F.when(k % 5 == 0, F.lit(""))
        .when(
            k % 5 == 1,
            F.concat(
                F.lit("2026-07-"), F.lpad(((k % 28) + 1).cast("string"), 2, "0")
            ),
        )
        .when(k % 5 == 2, F.lit("2026-08-01T07:00:00Z"))
        .when(k % 5 == 3, F.lit("not a date"))
        .otherwise(
            F.concat(F.lit("2024-01-0"), ((k % 9) + 1).cast("string"))
        )
    )
    freq = F.element_at(
        F.array([F.lit(x) for x in _REVISIT_FREQS]), (k % 9 + 1).cast("int")
    )
    entries = _t(spark, sf, "customer").select(
        F.lit("urlset").alias("kind"),
        F.concat(F.lit("https://rev.example/p"), k.cast("string")).alias("loc"),
        lastmod.alias("lastmod"),
        freq.alias("changefreq"),
        F.when(k % 4 == 0, F.lit(None).cast("double"))
        .otherwise(F.round((k % 10).cast("double") / 10.0, 1))
        .alias("priority"),
    )
    out = revisit_schedule(entries, _REVISIT_AS_OF)
    return out.select(
        "url",
        F.coalesce(F.col("lastmod_date").cast("string"), F.lit("1970-01-01"))
        .alias("lastmod_d"),
        F.coalesce("interval_days", F.lit(-1)).alias("interval_d"),
        F.coalesce(F.col("next_due").cast("string"), F.lit("1970-01-01"))
        .alias("next_due_d"),
        F.col("overdue").cast("int").alias("overdue"),
        "refresh_priority",
    )


def q49_warc_ingest(spark, sf):
    """Common-Crawl WARC ingestion end-to-end (sources/warc.py): one
    deterministic archive per nation key k — a warcinfo record plus
    three responses whose bodies embed the record magic (a framing
    trap for delimiter-splitting parsers); per file one response is a
    404 and one is application/json, both of which the pages
    projection must drop. Length-framed parse → HTTP split → charset
    decode → pages table; ts_epoch carries the WARC-Date instant
    timezone-free so both engines hash identical longs."""
    import pandas as pd

    from langscrape_spark.sources.warc import (
        build_warc_bytes,
        parse_warc,
        warc_pages,
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["k"]:
                k = int(k)
                recs = [
                    {"type": "warcinfo", "payload": b"software: synthetic\r\n"}
                ]
                for i in range(3):
                    body = (
                        f"<html><title>doc {k}-{i}</title>"
                        f"<p>WARC/1.0 payload {k * 31 + i}</p></html>"
                    ).encode()
                    recs.append(
                        {
                            "type": "response",
                            "uri": f"https://www.nat{k}.example/p{i}",
                            "date": f"2026-01-0{i + 1}T00:00:0{k % 10}Z",
                            "status": 200 if (k + i) % 4 else 404,
                            "ctype": "text/html; charset=utf-8"
                            if i < 2
                            else "application/json",
                            "body": body,
                        }
                    )
                rows.append((f"mem://nat{k}.warc", build_warc_bytes(recs)))
            yield pd.DataFrame(rows, columns=["path", "content"])

    files = (
        _t(spark, sf, "nation")
        .select(F.col("n_nationkey").alias("k"))
        .mapInPandas(gen, schema="path string, content binary")
    )
    pages = warc_pages(parse_warc(files))
    return pages.select(
        "url",
        F.unix_timestamp("warc_ts").alias("ts_epoch"),
        "http_status",
        "mime",
        F.length("html").alias("html_len"),
        F.substring("html", 1, 30).alias("html_head"),
    )


def q50_url_traps(spark, sf):
    """Crawl-trap detection (operators/urls.py::detect_url_traps):
    synthetic urls planted over orders keys — a calendar template
    (/cal/<N>/<N>/<N>, many spellings collapsing to few distinct
    urls), an article template (/a/<N>.html), a static tag page, and
    a session-id explosion (/p?sid=K — the query strips out of the
    template, so one template accumulates every sid spelling). Two
    hash aggregations; is_trap = n_urls ≥ 300 AND share ≥ 0.3 of the
    host's distinct urls."""
    from langscrape_spark.operators.urls import detect_url_traps

    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("www.site"), (k % 7).cast("string"), F.lit(".example")
    )
    base = F.concat(F.lit("https://"), host)
    url = (
        F.when(
            k % 5 < 2,
            F.concat(
                base,
                F.lit("/cal/2026/"),
                ((k % 12) + 1).cast("string"),
                F.lit("/"),
                ((k % 28) + 1).cast("string"),
            ),
        )
        .when(
            k % 5 == 2,
            F.concat(base, F.lit("/a/"), k.cast("string"), F.lit(".html")),
        )
        .when(k % 5 == 3, F.concat(base, F.lit("/tag/best")))
        .otherwise(
            F.concat(base, F.lit("/p?sid="), k.cast("string"))
        )
    )
    df = _t(spark, sf, "orders").select(url.alias("url"))
    out = detect_url_traps(df, min_urls=300, share_threshold=0.3)
    return out.select(
        "host",
        "template",
        "n_urls",
        "host_urls",
        F.round("share", 6).alias("share"),
        F.col("is_trap").cast("int").alias("is_trap"),
    )


def q51_cdx_fetch_plan(spark, sf):
    """CDX index ingestion → selective-fetch planning (sources/cdx.py):
    deterministic CDXJ lines planted over supplier keys (every 11th
    line corrupt — must drop, not throw; mixed mimes and statuses),
    parsed with pure codegen (split + from_json + try_casts), filtered
    to 200/text/html captures, then grouped into one row per WARC
    archive with offset-sorted byte ranges — the read plan that lets a
    100 TB pipeline fetch only matching records. ranges serialize to
    'offset:length|…' so both engines hash scalars."""
    from langscrape_spark.sources.cdx import fetch_plan, parse_cdx

    k = F.col("s_suppkey")
    json_part = F.concat(
        F.lit('{"url": "https://s'), k.cast("string"),
        F.lit('.example/", "mime": "'),
        F.when(k % 3 == 0, F.lit("application/pdf")).otherwise(
            F.lit("text/html")
        ),
        F.lit('", "status": "'),
        F.when(k % 5 == 0, F.lit("404")).otherwise(F.lit("200")),
        F.lit('", "digest": "D'), k.cast("string"),
        F.lit('", "length": "'), ((k % 7 + 1) * 10).cast("string"),
        F.lit('", "offset": "'), (k * 100).cast("string"),
        F.lit('", "filename": "w'), (k % 4).cast("string"),
        F.lit('.warc.gz"}'),
    )
    line = F.when(k % 11 == 0, F.lit("corrupt cdx line")).otherwise(
        F.concat(
            F.lit("example)/s"), k.cast("string"),
            F.lit(" 2026010203040"), (k % 10).cast("string"),
            F.lit(" "), json_part,
        )
    )
    lines = _t(spark, sf, "supplier").select(line.alias("value"))
    captures = parse_cdx(lines).where(
        (F.col("status") == 200) & (F.col("mime") == "text/html")
    )
    return fetch_plan(captures).select(
        "filename",
        "n_records",
        "total_bytes",
        F.array_join(
            F.transform(
                "ranges",
                lambda r: F.concat(
                    r["offset"].cast("string"),
                    F.lit(":"),
                    r["length"].cast("string"),
                ),
            ),
            "|",
        ).alias("ranges_s"),
    )


def q52_anchor_rollup(spark, sf):
    """Anchor-text link-graph rollup (operators/linkgraph.py): per
    target, in-degree, distinct source hosts, and the top-3 anchor
    terms (count-desc, term-asc). The edge table is synthesized
    deterministically from the documents table — 3 out-edges per doc,
    anchors = 3-word windows of the doc text — with the identical
    formulas in the DuckDB oracle, so the compare value-checks both
    aggregations and the term ranking. The kernel-side edge harvest
    (html/links.py::extract_links_with_anchors → link_edges) is
    pytest-verified on real HTML in tests/test_linkgraph.py."""
    from langscrape_spark.operators.linkgraph import anchor_rollup

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    legs = []
    for j in (1, 2, 3):
        legs.append(
            docs.select(
                F.concat(
                    F.lit("https://h"),
                    (d % 17).cast("string"),
                    F.lit(".example.com/p/"),
                    d.cast("string"),
                ).alias("src_url"),
                F.concat(
                    F.lit("https://site.example.com/page/"),
                    ((d * 7 + j * 13) % 100).cast("string"),
                ).alias("dst_url"),
                F.array_join(
                    F.slice(F.split(F.col("text"), " "), j, 3), " "
                ).alias("anchor"),
            )
        )
    edges = legs[0].unionByName(legs[1]).unionByName(legs[2])
    return anchor_rollup(edges, k=3).orderBy("dst_url")


def q53_ppl_buckets(spark, sf):
    """CCNet-style perplexity bucketing (operators/text.py): train an
    add-alpha unigram LM on the corpus (top-24 vocab so the OOV path
    is live — the corpus has 31 types), score every document with
    exp(-mean ln p), bucket head/middle/tail at per-language exact
    terciles. The DuckDB oracle re-derives the vocabulary (count-desc
    token-asc top-24), the smoothing denominator, the OOV logp, the
    per-doc average, and quantile_cont cutoffs — any divergence in LM
    math, tie-breaks, or boundary comparisons breaks the value hash.
    Bucketing compares round(ppl,6) on both sides so sub-1e-6 float
    noise cannot flip a boundary row."""
    from langscrape_spark.operators.text import (
        perplexity_score,
        ppl_buckets,
        unigram_lm,
    )

    docs = _t(spark, sf, "documents")
    lm, oov_logp = unigram_lm(docs, vocab_size=24, alpha=0.5)
    scored = perplexity_score(docs, lm, oov_logp)
    out = ppl_buckets(scored, group_cols=("lang",), mode="exact")
    return out.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("ppl", 6).alias("ppl"),
        "ppl_bucket",
    ).orderBy("doc_id")


def _q54_snapshots(docs):
    """The deterministic two-snapshot generator shared by q54/q60:
    gone = doc_id%11, changed = doc_id%7 (' updated' suffix), new =
    doc_id%13 shifted +10000; 17 hosts."""
    d = F.col("doc_id")

    def url_of(key):
        return F.concat(
            F.lit("https://h"),
            (key % 17).cast("string"),
            F.lit(".example.com/p/"),
            key.cast("string"),
        )

    old = docs.select(url_of(d).alias("url"), F.col("text"))
    kept = docs.where(d % 11 != 0).select(
        url_of(d).alias("url"),
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where(d % 13 == 0).select(
        url_of(d + 10000).alias("url"), F.col("text")
    )
    return old, kept.unionByName(added)


def q54_crawl_delta(spark, sf):
    """Crawl-snapshot delta + per-host change rates
    (operators/snapshots.py): two snapshots are synthesized
    deterministically from the documents table — drop doc_id%11 urls
    (gone), append ' updated' to doc_id%7 texts (changed), add
    doc_id%13 urls shifted by +10000 (new) — and the DuckDB oracle
    re-derives the fingerprints, the full-outer status classification,
    and the per-host rollup with change_rate = changed/(changed+
    unchanged). Any divergence in fingerprinting, outer-join status
    logic, host extraction, or the NULL-safe rate breaks the hash."""
    from langscrape_spark.operators.snapshots import (
        crawl_delta,
        host_change_rates,
    )

    old, new = _q54_snapshots(_t(spark, sf, "documents"))
    return host_change_rates(crawl_delta(old, new)).orderBy("host")


def q60_revisit_priority(spark, sf):
    """Composite revisit scheduling (operators/snapshots.py::
    revisit_priority): q54's per-host change rates joined with a
    deterministic host-rank dimension (host h3 deliberately missing —
    rank coalesces to 0), priority = 0.6*rate + 0.4*rank with the
    0.5 unknown-churn default, interval_days = max(1,
    round(30*(1-priority))). The oracle re-derives the entire chain —
    delta, rates, ranks, weights, rounding, clamp."""
    from langscrape_spark.operators.snapshots import (
        crawl_delta,
        host_change_rates,
        revisit_priority,
    )

    docs = _t(spark, sf, "documents")
    old, new = _q54_snapshots(docs)
    rates = host_change_rates(crawl_delta(old, new))
    k = F.col("doc_id") % 17
    ranks = (
        docs.where(k != 3)
        .select(
            F.concat(
                F.lit("h"), k.cast("string"), F.lit(".example.com")
            ).alias("host"),
            (((k * 37) % 101) / F.lit(100.0)).alias("rank_score"),
        )
        .distinct()
    )
    return revisit_priority(rates, ranks).orderBy("host")


def q55_boilerplate_removal(spark, sf):
    """Per-host boilerplate line removal (operators/boilerplate.py):
    pages are synthesized from documents with planted lines — a nav
    line on every page (share 1.0, removed), a copyright line per host
    (1.0, removed), 'subscribe now' on doc_id%2 pages (~0.5, removed
    at threshold 0.4), 'related posts' on doc_id%3 pages (~0.33, KEPT
    — below the gate), 'deal of the day' only on host h0's pages
    (removed on h0 only — the per-host scoping the operator exists
    for). The DuckDB oracle re-derives line explosion, distinct-page
    shares, the gate, the anti-join, and order-preserving reassembly."""
    from langscrape_spark.operators.boilerplate import remove_boilerplate

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    nl = F.lit("\n")
    text = F.concat(
        F.lit("NAV home about contact"), nl, F.col("text"), nl,
        F.lit("Copyright h"), (d % 17).cast("string"), F.lit(" 2026"),
        F.when(d % 2 == 0, F.concat(nl, F.lit("subscribe now"))).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(nl, F.lit("related posts"))).otherwise(F.lit("")),
        F.when(d % 17 == 0, F.concat(nl, F.lit("deal of the day"))).otherwise(F.lit("")),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://h"), (d % 17).cast("string"),
            F.lit(".example.com/p/"), d.cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (d % 17).cast("string")).alias("host"),
        text.alias("text"),
    )
    return remove_boilerplate(
        pages, min_pages=5, share_threshold=0.4
    ).orderBy("url")


def q56_dsir_select(spark, sf):
    """DSIR importance resampling (operators/dsir.py): target =
    src0/src1 documents, raw = the other 18 sources; hashed-bigram
    (md5-lower64 pmod 256) feature distributions with add-0.5
    smoothing; per-doc log-weight = sum of log ratios; Gumbel top-50
    without replacement with deterministic md5-derived noise. The
    DuckDB oracle re-derives bucketing (md5_number_lower % 256 — the
    power-of-2 modulus makes unsigned mod equal Spark's signed pmod),
    both distributions, the smoothing, the per-doc sum, the Gumbel
    keys, and the top-k cut."""
    from langscrape_spark.operators.dsir import (
        dsir_resample,
        dsir_weights,
        feature_log_ratio,
    )

    docs = _t_parallel(spark, sf, "documents")
    is_target = F.col("source").isin("src0", "src1")
    target, raw = docs.where(is_target), docs.where(~is_target)
    lr = feature_log_ratio(target, raw, n=2, num_buckets=256, alpha=0.5)
    w = dsir_weights(raw, lr, n=2, num_buckets=256)
    return dsir_resample(w, k=50).select(
        "doc_id",
        F.col("n_features").cast("long").alias("n_features"),
        F.round("log_weight", 6).alias("log_weight"),
        F.round("gumbel_key", 6).alias("gumbel_key"),
    )


_Q58_BUDGETS = {f"src{i}": 400 * (i % 4 + 1) for i in range(19)}  # src19 dropped


def q57_shard_pack(spark, sf):
    """Deterministic token-budget shard packing
    (operators/sharding.py): md5-ordered corpus, 2000-token shards,
    a doc belongs to the shard its START offset falls in. The Spark
    side computes the global running sum with the two-level
    parallel-prefix decomposition (per-bucket window + broadcast
    bucket offsets — never a single-partition global window); the
    DuckDB oracle uses a plain global window cumsum, so the compare
    proves the decomposition exactly equals the global scan."""
    from langscrape_spark.operators.sharding import pack_shards
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.size(words_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        pack_shards(docs, "n_tokens", 2000)
        .select("doc_id", "n_tokens", "shard_start", "shard_id")
        .orderBy("doc_id")
    )


def q58_mixture_select(spark, sf):
    """Per-source mixture budgeting (operators/sharding.py): each
    source gets a token budget (400/800/1200/1600 cycling; src19 has
    none and is dropped), documents are taken in md5 order while
    their start offset is inside the budget. Same two-level cumsum as
    q57 but grouped per source; the oracle re-derives budgets, the
    per-source global cumsum, the prefix rule, and the inner-join
    drop."""
    from langscrape_spark.operators.sharding import mixture_select
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    out = mixture_select(docs, _Q58_BUDGETS)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "source_cum",
        F.col("selected").cast("int").alias("selected"),
    ).orderBy("doc_id")


def q59_bm25_search(spark, sf):
    """Inverted index + Okapi BM25 top-20 (operators/search.py) for
    the query 'hash scan table zzzmissing' (three corpus terms + one
    absent term, which must contribute nothing). Postings stay
    exploded rows — never collect_list per term — and query scoring
    touches only the query terms' postings. The DuckDB oracle
    re-derives tf, df, idf, the length normalization, the score sum,
    and the tie-broken top-k cut."""
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    out = bm25_topk(postings, doc_lens, "hash scan table zzzmissing", k=20)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q61_more_like_this(spark, sf):
    """Doc-to-doc retrieval (operators/search.py::more_like_this):
    top-15 documents by TF-IDF cosine to doc 7, itself excluded. The
    DuckDB oracle re-derives postings, the corpus-wide idf, full-vector
    norms, the shared-terms-only dot product, the exclusion, and the
    tie-broken cut (measured boundary gaps ~1e-4, far above engine
    float noise)."""
    from langscrape_spark.operators.search import (
        build_inverted_index,
        more_like_this,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    out = more_like_this(postings, doc_lens, 7, k=15)
    return out.select("doc_id", F.round("cosine", 6).alias("cosine"))


def q62_bigram_ppl(spark, sf):
    """Interpolated bigram-LM perplexity (operators/text.py::
    bigram_ppl): top-24 vocab with <unk> closure, add-0.5 smoothing,
    lam=0.75 interpolation (chosen so 1-lam is float-exact in both
    engines), first token scored by the unigram. The DuckDB oracle
    re-derives vocabulary, <unk> mapping, bigram/context counts,
    conditional probabilities, interpolation, and the per-doc mean."""
    from langscrape_spark.operators.text import bigram_ppl

    docs = _t_parallel(spark, sf, "documents")
    out = bigram_ppl(docs, vocab_size=24, alpha=0.5, lam=0.75)
    return out.select(
        "doc_id",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.round("ppl", 6).alias("ppl"),
    ).orderBy("doc_id")


_Q63_PASSAGE_A = " ".join(f"exdupa{i}" for i in range(25))  # 25 tokens
_Q63_PASSAGE_B = " ".join(f"exdupb{i}" for i in range(22))  # 22 tokens


def q63_exact_substring(spark, sf):
    """ExactSubstr dedup (Lee et al. 2022 suffix-array dedup,
    distributed as sliding 20-token window hashing —
    operators/dedup.py::exact_substring_dedup): a 25-token passage is
    appended to every doc_id%5==0 document and a 22-token passage
    prepended to every doc_id%7==0 document (in BOTH engines); every
    occurrence except the globally first must come out as ONE merged
    removed span. The DuckDB oracle re-derives window hashes, winner
    election, the gaps-and-islands span merge, per-token removal and
    ordered reassembly."""
    from langscrape_spark.operators.dedup import exact_substring_dedup

    docs = _t_parallel(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(_Q63_PASSAGE_B + " ")
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" " + _Q63_PASSAGE_A)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return exact_substring_dedup(docs, k=20).orderBy("doc_id")


def q64_host_quality(spark, sf):
    """Host-level quality rollup + whole-host keep/drop
    (operators/hostquality.py, RefinedWeb-style): the ``source``
    column plays the host role, a page is "bad" when it has under 60
    words, and a host is kept when it has <3 pages (low evidence) or
    bad_share <= 0.6 — computed on the UNrounded share in both
    engines. The DuckDB oracle re-derives word counts, the language
    argmax (same generated fragment as q11), both host aggregations,
    the majority-language window with its tie-break, and the gate."""
    from langscrape_spark.operators.hostquality import (
        host_quality_rollup,
        page_quality_signals,
    )

    docs = _t_parallel(spark, sf, "documents").select(
        "doc_id", F.col("source").alias("host"), "text"
    )
    pages = page_quality_signals(docs)
    out = host_quality_rollup(
        pages, bad=F.col("n_words") < 60, min_pages=3, max_bad_share=0.6
    )
    return out.select(
        "host",
        "n_pages",
        "n_bad",
        F.round("bad_share", 6).alias("bad_share"),
        F.round("mean_words", 6).alias("mean_words"),
        "majority_lang",
        F.round("majority_lang_share", 6).alias("majority_lang_share"),
        F.col("host_keep").cast("int").alias("host_keep"),
    ).orderBy("host")


def q65_chunk_documents(spark, sf):
    """Document chunking (operators/text.py::chunk_documents):
    40-token segments with 8-token overlap (stride 32), every token
    covered, short tail chunk, empty docs emit no rows. The DuckDB
    oracle re-derives the chunk count formula, starts, slices and
    lengths."""
    from langscrape_spark.operators.text import chunk_documents

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    out = chunk_documents(docs, max_tokens=40, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "n_tokens",
        "chunk_text",
    ).orderBy("doc_id", "chunk_idx")


_Q66_MOJI_A = " donâ€™t say â€œnaÃ¯veâ€¦"
_Q66_MOJI_B = " cafÃ© Ã¼ber â€“ okÂ\xa0fin"


def q66_mojibake(spark, sf):
    """Mojibake repair (operators/text.py::fix_mojibake /
    mojibake_count, the high-frequency ftfy subset): artifacts planted
    into deterministic doc subsets (identically in BOTH engines), the
    literal replace chain and the per-state occurrence counts
    re-derived by the oracle from the SAME MOJIBAKE_MAP table."""
    from langscrape_spark.operators.text import fix_mojibake, mojibake_count

    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_Q66_MOJI_A))
        .when(F.col("doc_id") % 3 == 1, F.lit(_Q66_MOJI_B))
        .otherwise(F.lit("")),
    )
    docs = _t(spark, sf, "documents").select("doc_id", t.alias("text"))
    return docs.select(
        "doc_id",
        mojibake_count(F.col("text")).alias("n_mojibake"),
        fix_mojibake(F.col("text")).alias("text_fixed"),
    ).orderBy("doc_id")


def q67_nb_quality(spark, sf):
    """Hashed-feature Naive-Bayes quality classifier
    (operators/classifier.py — the fastText/CCNet/FineWeb-Edu curation
    stage with closed-form, oracle-reproducible weights): silver
    labels from a length gate (n_words >= 60), trained on the
    doc_id%3==0 split, scored over the WHOLE corpus. The DuckDB
    oracle re-derives tokens, md5%256 buckets, per-class smoothed
    likelihoods, the doc-level prior, per-doc score sums and the
    round-6 decision boundary."""
    from langscrape_spark.operators.classifier import nb_score, nb_train
    from langscrape_spark.operators.text import words_col

    docs = _t_parallel(spark, sf, "documents").select("doc_id", "text")
    labeled = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        "text",
        (F.size(words_col(F.col("text"))) >= 60).alias("label"),
    )
    model = nb_train(labeled, n=1, num_buckets=256)
    out = nb_score(docs, model, n=1, num_buckets=256)
    return out.select(
        "doc_id",
        F.col("n_features").cast("long").alias("n_features"),
        F.round("score", 6).alias("score"),
        (F.round("score", 6) > 0).cast("int").alias("pred"),
    ).orderBy("doc_id")


def q68_page_filter(spark, sf):
    """Domain-blocklist + badword curation gate
    (operators/filters.py — UT1-style subdomain-matching blocklist via
    suffix-chain equi-join, C4-style badword ratio): hosts and badword
    hits planted deterministically (identically in BOTH engines);
    the DuckDB oracle re-derives suffix chains, longest-match entry,
    token hits, the NULL-safe ratio and the keep gate on the UNrounded
    ratio."""
    from langscrape_spark.operators.filters import page_filter

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.col("source"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(".badtld.xyz")).otherwise(
                F.lit(".example.com")
            ),
        ).alias("host"),
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0, F.lit(" casino casino pills")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    bl = spark.createDataFrame(
        [("src2.example.com",), ("badtld.xyz",), ("cdn.src7.example.com",)],
        "domain string",
    )
    bw = spark.createDataFrame([("casino",), ("pills",)], "word string")
    out = page_filter(docs, bl, bw, max_badword_ratio=0.02)
    return out.select(
        "doc_id",
        "host",
        F.coalesce("blocked_domain", F.lit("")).alias("blocked_domain"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_badwords").cast("long").alias("n_badwords"),
        F.round("badword_ratio", 6).alias("badword_ratio"),
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("doc_id")


def q69_page_meta(spark, sf):
    """JVM-side page-metadata projection (html/meta.py — title /
    description / OpenGraph / canonical / robots-meta as pure codegen
    regexp columns, the metadata-index fast path that never parses the
    DOM): deterministic html synthesized from documents in BOTH
    engines; the oracle mirrors every regex, the entity-decode chain
    (&amp; last) and the robots token tests."""
    from langscrape_spark.html.meta import meta_columns

    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit(" #"),
        d.cast("string"),
        F.lit(" &amp; notes</title>"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit('<meta name="description" content="'),
                F.substring("text", 1, 40),
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG &quot;'),
                F.col("source"),
                F.lit('&quot;">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<link rel="canonical" href="https://'),
                F.col("source"),
                F.lit(".example.com/p/"),
                d.cast("string"),
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0, F.lit('<meta name="robots" content="noindex, nofollow">')
        )
        .when(d % 7 == 1, F.lit('<meta name="robots" content="index, follow">'))
        .otherwise(F.lit("")),
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = _t(spark, sf, "documents").select("doc_id", html.alias("html"))
    out = meta_columns(pages)
    return out.select(
        "doc_id",
        "title",
        "meta_description",
        "og_title",
        "canonical_url",
        F.col("noindex").cast("int").alias("noindex"),
        F.col("nofollow").cast("int").alias("nofollow"),
    ).orderBy("doc_id")


def q70_split_leakage(spark, sf):
    """Leakage-safe dataset splitting + audit (operators/splits.py):
    hosts hash into train/val/test with exact-binary-fraction
    boundaries (0.75/0.875), a cross-host duplicate passage is planted
    on doc_id%97==0 (BOTH engines), and the audit counts docs whose
    fingerprint crosses splits. The oracle re-derives the md5 split-u,
    the CASE boundaries, fingerprints, the >1-split fp set and the
    per-split rollup."""
    from langscrape_spark.operators.splits import (
        assign_split,
        split_leakage_audit,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(
            F.col("doc_id") % 97 == 0,
            F.lit("shared leak passage that mirrors across hosts"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    split = assign_split(
        docs, "host", {"train": 0.75, "val": 0.125, "test": 0.125}
    )
    out = split_leakage_audit(split)
    return out.select(
        "split",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_leaked_docs").cast("long").alias("n_leaked_docs"),
    ).orderBy("split")


def q71_containment(spark, sf):
    """Shingle-containment near-dup pairs
    (operators/dedup.py::ngram_containment_pairs — Broder containment,
    the asymmetric overlap Jaccard misses): each doc_id%9==0 document
    gets its successor's full text appended (BOTH engines), so the
    successor is wholly contained (c=1.0) while Jaccard stays low. The
    oracle re-derives shingles, the posting self-join, both directional
    ratios and the max-gate."""
    from langscrape_spark.operators.dedup import ngram_containment_pairs

    d1 = _t(spark, sf, "documents").select("doc_id", "text").alias("d1")
    d2 = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("nid"), F.col("text").alias("ntext")
    ).alias("d2")
    docs = (
        d1.join(d2, F.col("nid") == F.col("doc_id") + 1, "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 9 == 0) & F.col("ntext").isNotNull(),
                F.concat_ws(" ", "text", "ntext"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .where(F.col("doc_id") < 200)
    )
    out = ngram_containment_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8, max_doc_freq=None
    )
    return out.orderBy("id_a", "id_b")


def q72_c4_clean(spark, sf):
    """C4 line-level cleaning (operators/c4.py — terminal punctuation,
    min-words, javascript/policy-phrase line drops, lorem-ipsum /
    curly-brace / min-sentences page gates): multi-line pages
    synthesized identically in BOTH engines; the oracle re-derives
    line flags, page flags, counts and the order-preserving kept-line
    reassembly."""
    from langscrape_spark.operators.c4 import c4_clean

    d = F.col("doc_id")
    nl = F.lit("\n")
    text = F.concat(
        F.lit("Good opening sentence about "),
        F.col("source"),
        F.lit(" topics here."),
        nl,
        F.substring("text", 1, 60),
        nl,
        F.lit("Short line."),
        F.when(
            d % 3 == 0,
            F.concat(nl, F.lit("Please enable JavaScript to continue viewing.")),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(nl, F.lit("This site uses cookies for tracking purposes.")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(nl, F.lit("Lorem ipsum dolor sit amet obviously.")),
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(nl, F.lit("function body { returns nothing here }.")),
        ).otherwise(F.lit("")),
        nl,
        F.lit("Another valid closing sentence appears right here."),
        F.when(
            d % 2 == 0,
            F.concat(nl, F.lit("A third proper sentence for the count rule.")),
        ).otherwise(F.lit("")),
    )
    docs = _t(spark, sf, "documents").select("doc_id", text.alias("text"))
    out = c4_clean(docs)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("has_lorem").cast("int").alias("has_lorem"),
        F.col("has_brace").cast("int").alias("has_brace"),
        F.col("page_keep").cast("int").alias("page_keep"),
        "clean_text",
    ).orderBy("doc_id")


_Q73_FARM = [
    (f"farm{a}", f"farm{b}") for a in range(4) for b in range(4) if a != b
] + [("farm0", "h1"), ("farm1", "h2")]


def q73_link_farms(spark, sf):
    """Link-farm detection by reciprocal-edge share
    (operators/linkgraph.py::reciprocal_link_stats): an organic
    pseudo-random host graph derived from documents plus a planted
    4-host reciprocal clique (identical in BOTH engines); the oracle
    re-derives dedup, degrees, the reversed-pair semi-join and the
    share gate."""
    from langscrape_spark.operators.linkgraph import reciprocal_link_stats

    organic = _t(spark, sf, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias(
            "src_host"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 20).cast("string")
        ).alias("dst_host"),
    )
    farm = spark.createDataFrame(_Q73_FARM, "src_host string, dst_host string")
    out = reciprocal_link_stats(
        organic.unionByName(farm), min_out=3, min_recip_share=0.6
    )
    return out.select(
        "host",
        F.col("out_deg").cast("long").alias("out_deg"),
        F.col("in_deg").cast("long").alias("in_deg"),
        F.col("n_recip").cast("long").alias("n_recip"),
        F.round("recip_share", 6).alias("recip_share"),
        F.col("is_farm").cast("int").alias("is_farm"),
    ).orderBy("host")


def q74_change_similarity(spark, sf):
    """Per-URL snapshot change similarity
    (operators/snapshots.py::url_change_similarity — shingle Jaccard
    computed row-locally after ONE url-keyed join, the granularity
    crawl_delta's binary fingerprint lacks): the new snapshot is
    derived from documents with identical mutations in BOTH engines;
    the oracle re-derives shingles, list intersection, the NULL-safe
    ratio and the class ladder (identical checked as inter == union,
    never float equality)."""
    from langscrape_spark.operators.snapshots import url_change_similarity

    # Repartition by the join key up front: the sf0.1 parquet is one
    # row group (single-partition scan), and shingling every doc twice
    # on one core dominated the query (11.6s -> ~1.3s measured at 32
    # cores); hashing on url lets both snapshot branches and the
    # url-keyed join share the one exchange.
    base = (
        _t(spark, sf, "documents")
        .select(
            F.concat(
                F.lit("https://s/"), F.col("doc_id").cast("string")
            ).alias("url"),
            "doc_id",
            "text",
        )
        .repartition(spark.sparkContext.defaultParallelism, "url")
    )
    new = base.select(
        "url",
        F.when(F.col("doc_id") % 97 == 0, F.lit("xy"))
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" freshly appended update sentence words")
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("completely rewritten page number "),
                F.col("doc_id").cast("string"),
                F.lit(" with new content"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = url_change_similarity(base.select("url", "text"), new)
    return out.select(
        "url",
        F.col("n_sh_old").cast("long").alias("n_sh_old"),
        F.col("n_sh_new").cast("long").alias("n_sh_new"),
        F.round("similarity", 6).alias("similarity"),
        "change_class",
    ).orderBy("url")


def q75_score_calibration(spark, sf):
    """Classifier-score calibration table
    (operators/classifier.py::calibration_table — equal-mass quantile
    bands over a quality score with per-band volume/positive-share,
    the curve a FineWeb-style pipeline picks its keep-threshold from):
    score = alpha_ratio, silver label = length >= 300 (BOTH engines);
    the oracle re-derives the exact quantile cutoffs (quantile_cont ==
    Spark percentile, q06-proven), the strictly-below bin rule on
    round-6 scores, and the band rollup."""
    from langscrape_spark.operators.classifier import calibration_table
    from langscrape_spark.operators.text import quality_columns

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    scored = quality_columns(docs).select(
        "doc_id",
        (F.length("text") >= 300).alias("label"),
        F.col("alpha_ratio").alias("score"),
    )
    out = calibration_table(scored, n_bins=5, mode="exact")
    return out.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round("score_min", 6).alias("score_min"),
        F.round("score_max", 6).alias("score_max"),
        F.round("pos_share", 6).alias("pos_share"),
    ).orderBy("bin")


def q76_robust_outliers(spark, sf):
    """Per-language robust length-outlier gate
    (operators/text.py::robust_outliers — median/MAD per group, flag
    |x − med| > k·MAD; the heavy-tail-safe length filter curation
    pipelines run per language). Value = length(text), groups = lang,
    k = 3. The oracle re-derives both percentile passes with
    quantile_cont (exact parity proven by q06/q53), the broadcast-back
    join, and the NULL/degenerate-MAD semantics."""
    from langscrape_spark.operators.text import robust_outliers

    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", F.length("text").alias("n")
    )
    out = robust_outliers(docs, "n", group_cols=("lang",), k=3.0)
    return out.select(
        "doc_id",
        "lang",
        F.col("n").cast("long").alias("n"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "is_outlier",
    ).orderBy("doc_id")


def q77_semdedup(spark, sf):
    """SemDeDup (operators/ann.py::semdedup — k-means cluster the
    embedding space, judge near-dups only within clusters, greedy
    keep-first rule): k=16 / 2 Lloyd iterations matches the frozen
    q35 IVF fixture, so the oracle reads the SAME (vec_id, cluster)
    map the freezer pinned and re-derives the within-cluster pairwise
    cosine, the earlier-id max and the keep rule in SQL — the driver
    compare therefore pins the live Lloyd/assign path AND checks the
    dedup logic exactly."""
    from langscrape_spark.operators.ann import semdedup

    emb = _t(spark, sf, "embeddings")
    out = semdedup(emb, threshold=0.35, k=16, iterations=2)
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.round("max_sim_earlier", 6).alias("max_sim_earlier"),
        "keep",
    ).orderBy("vec_id")


def q78_pmi_collocations(spark, sf):
    """Top-100 adjacent-bigram collocations by PMI
    (operators/text.py::pmi_collocations — the word2vec-style phrase
    mining pass): the oracle re-derives tokens, array-local pairing,
    both count aggs, the min-count gate, the identically-associated
    ln ratio, and the unrounded-PMI top-k cut with (w1, w2)
    tie-break."""
    from langscrape_spark.operators.text import pmi_collocations

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return pmi_collocations(docs, min_count=5, top_k=100).select(
        "w1",
        "w2",
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        "pmi",
    ).orderBy(F.desc("pmi"), "w1", "w2")


def q79_resolve_redirects(spark, sf):
    """Redirect-chain resolution by pointer doubling
    (operators/urls.py::resolve_redirects — log2(cap) equi-key
    self-joins, never a row-at-a-time walk): edges derived from
    documents (chains up to 6 via doc_id%7), plus a planted 3-cycle
    and a planted 40-hop chain whose early nodes exceed the 32-hop
    cap, identical in BOTH engines; the oracle walks the same map
    with a recursive CTE capped at 32 applications."""
    from langscrape_spark.operators.urls import resolve_redirects

    u = lambda c: F.concat(F.lit("https://r/"), c.cast("string"))  # noqa: E731
    chain = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") % 7 != 0)
        .select(
            u(F.col("doc_id")).alias("src"),
            u(F.col("doc_id") - 1).alias("dst"),
        )
    )
    cyc = spark.createDataFrame(
        [
            ("https://r/9000001", "https://r/9000002"),
            ("https://r/9000002", "https://r/9000003"),
            ("https://r/9000003", "https://r/9000001"),
        ],
        "src string, dst string",
    )
    long_chain = spark.range(40).select(
        u(F.lit(8000000) + F.col("id")).alias("src"),
        u(F.lit(8000001) + F.col("id")).alias("dst"),
    )
    edges = chain.unionByName(cyc).unionByName(long_chain)
    return resolve_redirects(edges, max_hops=32).select(
        "url",
        "resolved",
        F.col("hops").cast("long").alias("hops"),
        "status",
    ).orderBy("url")


def q80_winnow_fingerprints(spark, sf):
    """Winnowing fingerprint table (operators/dedup.py::
    winnow_fingerprints — the MOSS local-similarity fingerprint:
    8-gram md5 hashes masked to 63 bits, leftmost-min of each 6-hash
    window): the oracle re-derives the gram list, the window slide,
    the min pick, the position arithmetic and the distinct in DuckDB
    list functions — a full value-level pin of the kernel."""
    from langscrape_spark.operators.dedup import winnow_fingerprints

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 40)
    return winnow_fingerprints(docs.select("doc_id", "text")).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "fp",
    ).orderBy("doc_id", "pos", "fp")


def q81_winnow_overlap(spark, sf):
    """Local-overlap pairs from winnowing fingerprints
    (operators/dedup.py::winnow_overlap_pairs): 16-gram / 8-window
    fingerprints, distinct per doc, one posting-list self-join,
    containment normalization n_common/min(n_a,n_b), cut at rounded
    overlap >= 0.2 (both engines filter the ROUNDED value so ulp
    noise cannot flip the cut). The df-cap guard (10k docs/fp) cannot
    trigger on 500 docs, so the oracle omits the window; the guard
    itself is unit-tested with a planted hot fingerprint. Testdata
    parquet is one row group, so the per-row-expensive gram kernel
    needs the `_t_parallel` repartitioned scan or it runs one-core."""
    from langscrape_spark.operators.dedup import winnow_overlap_pairs

    docs = _t_parallel(spark, sf, "documents").select("doc_id", "text")
    return (
        winnow_overlap_pairs(docs, k=16, w=8, min_shared=2)
        .where(F.col("overlap") >= 0.2)
        .select("id_a", "id_b", "n_common", "overlap")
        .orderBy("id_a", "id_b")
    )


def q82_zipf_stats(spark, sf):
    """Vocabulary frequency profile (operators/text.py::zipf_stats):
    top-100 tokens with rank / cumulative coverage share plus
    vocab-size / hapax / total-token constants. The global rank is a
    TakeOrderedAndProject (the vocabulary is never sorted through one
    partition); only the bounded top-k rows see a window."""
    from langscrape_spark.operators.text import zipf_stats

    return zipf_stats(_t(spark, sf, "documents"), top_k=100)


def q83_tfidf_keywords(spark, sf):
    """Top-3 tf-idf keywords per document (operators/text.py::
    tfidf_keywords): smoothed idf ln((N+1)/(df+1))+1, per-doc
    row_number cut on the UNROUNDED score with token tie-break; df is
    an in-flight window over one token exchange so the corpus is
    exploded exactly once; N joins as a 1-row broadcast."""
    from langscrape_spark.operators.text import tfidf_keywords

    return tfidf_keywords(
        _t(spark, sf, "documents").where(F.col("doc_id") < 200), k=3
    )


def _tok_sql(cols: str = "", where: str = "") -> str:
    """THE DuckDB twin of ``operators/text.py::words_col``
    (whitespace tokens of the lowercased text, empties filtered) —
    every oracle that tokenizes (q82/q83/q84/q85) must build on this
    one definition so a tokenizer change cannot silently diverge a
    subset of them."""
    proj = f"{cols}, " if cols else ""
    return (
        f"SELECT {proj}unnest(list_filter("
        f"regexp_split_to_array(lower(text), '\\s+'),"
        f" x -> x <> '')) AS w FROM documents"
        + (f" {where}" if where else "")
    )


_BPE_WC_SQL = f"""
    SELECT w, count(*) AS cnt FROM ({_tok_sql()})
    WHERE NOT contains(w, chr(31)) GROUP BY w
"""

_BPE_TOK_SQL = f"""
    SELECT doc_id, w FROM ({_tok_sql("doc_id")})
    WHERE NOT contains(w, chr(31))
"""


def _bpe_oracle(kind: str) -> str:
    """BPE oracles are BUILT (unrolled 8-round CTE chains) by the
    operator module so the DuckDB fold stays next to its Spark twin."""
    from langscrape_spark.operators.bpe import (
        bpe_encode_oracle_sql,
        bpe_oracle_sql,
    )

    if kind == "train":
        return bpe_oracle_sql(_BPE_WC_SQL, n_merges=8)
    return bpe_encode_oracle_sql(_BPE_WC_SQL, _BPE_TOK_SQL, n_merges=8)


def q84_bpe_train(spark, sf):
    """Distributed BPE merge training (operators/bpe.py::bpe_train):
    8 merge rules learned from the word-frequency table — the corpus
    is touched once; every round runs over the bounded vocabulary
    frame with an array-local zip_with pairing, a TakeOrderedAndProject
    argmax (ONE row to the driver per round) and a string-fold merge
    apply. The oracle unrolls the 8 rounds as chained DuckDB CTEs and
    re-runs the SAME fold via list_reduce — every rule value-checked."""
    from langscrape_spark.operators.bpe import bpe_train

    return bpe_train(_t_parallel(spark, sf, "documents"), n_merges=8)


def q85_bpe_encode(spark, sf):
    """BPE tokenizer application (operators/bpe.py::bpe_encode_stats):
    after training 8 merges, every document is tokenized via the
    SEGMENTED-VOCAB equi-join (documents are never re-folded token by
    token — the trainer already segmented every distinct word), and
    per-doc fertility stats (n_words / n_chars / n_syms / compression)
    come from one groupBy. Oracle: the same unrolled rounds INCLUDING
    the final vocabulary, then the same join+aggregate."""
    from langscrape_spark.operators.bpe import bpe_encode_stats

    return bpe_encode_stats(
        _t_parallel(spark, sf, "documents"), n_merges=8
    ).orderBy("doc_id")


def q86_pq_ann(spark, sf):
    """Product-quantization ADC top-k (operators/ann.py::pq_codebooks
    / pq_encode / pq_adc_topk — Jégou et al. 2011): per-subspace L2
    codebooks (md5-seeded deterministic Lloyd, ONE corpus pass per
    iteration for all subspaces), vectors compressed to m codes, and
    the query scored as m table lookups per vector — no float vector
    read at query time. Oracled via frozen codebook/code fixtures
    (scripts/freeze_ann_fixtures.py): DuckDB re-derives the ADC
    table, the code-lookup sums and the top-k order, while Spark
    computes codebooks AND codes LIVE — the compare pins the subspace
    Lloyd and the encoder."""
    from langscrape_spark.operators.ann import pq_adc_topk, pq_codebooks

    emb = _t(spark, sf, "embeddings")
    cbs = pq_codebooks(emb, m=8, ksub=16, iterations=2)
    return pq_adc_topk(emb, QUERY_VEC, cbs, k=10)


def q87_hll_distinct(spark, sf):
    """Deterministic HyperLogLog distinct-token estimate per source
    (operators/sketch.py::hll_distinct, p=8) next to the exact
    countDistinct and the relative error — the mergeable-sketch way
    to count distincts at 100 TB without shuffling every distinct
    value. The md5-arithmetic definition is reproduced bit-for-bit in
    the oracle (bucket = low 8 bits, rank via length(bin(w)),
    linear-counting small-range correction)."""
    from langscrape_spark.operators.sketch import hll_distinct
    from langscrape_spark.operators.text import words_col

    # one corpus explode: registers depend only on DISTINCT values,
    # so both the sketch and the exact count derive from the same
    # (source, w) aggregation
    uniq = (
        _t_parallel(spark, sf, "documents")
        .select("source", F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    est = hll_distinct(uniq, "w", ["source"], p=8)
    exact = uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            F.col("exact").cast("long").alias("exact"),
            "est",
            F.round(
                F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


def q88_kneser_ney(spark, sf):
    """Interpolated Kneser-Ney bigram perplexity (operators/text.py::
    kneser_ney_ppl): continuation-probability backoff with absolute
    discount D=0.75 (exact in binary — no cross-engine float drift),
    add-0.5 smoothed continuation so doc-initial-only words never hit
    ln(0), same top-24 <unk> vocab closure as q62. The oracle
    re-derives vocabulary, bigram/context/continuation counts, the
    discounted interpolation and the per-doc mean."""
    from langscrape_spark.operators.text import kneser_ney_ppl

    docs = _t_parallel(spark, sf, "documents")
    out = kneser_ney_ppl(docs, vocab_size=24)
    return out.select(
        "doc_id",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.round("ppl", 6).alias("ppl"),
    ).orderBy("doc_id")


def q89_count_min(spark, sf):
    """Count-Min frequency sketch (operators/sketch.py::cm_build /
    cm_estimate, d=4 × width=256): token frequencies compressed to a
    1024-counter table, point-queried for the exact top-20 tokens
    next to their true counts and the (always ≥ 0) overestimate. All
    integer arithmetic, so the oracle reproduces the sketch EXACTLY —
    no rounding anywhere."""
    from langscrape_spark.operators.sketch import cm_build, cm_estimate
    from langscrape_spark.operators.text import words_col

    # single corpus explode: aggregate once to (w, exact), then the
    # sketch builds from the WEIGHTED counts (identical counters —
    # bucket sums are plain additions) and the top-20 cuts the same
    # frame
    counts = (
        _t_parallel(spark, sf, "documents")
        .select(F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    sk = cm_build(counts, "w", d=4, width=256, weight_col="exact")
    top = counts.orderBy(F.desc("exact"), "w").limit(20)
    return (
        cm_estimate(top, sk, "w", d=4, width=256)
        .select(
            F.col("w").alias("token"),
            F.col("exact").cast("long").alias("exact"),
            "est",
            (F.col("est") - F.col("exact")).cast("long").alias(
                "overestimate"
            ),
        )
        .orderBy(F.desc("exact"), "token")
    )


def q90_entropy_profile(spark, sf):
    """Shannon-entropy quality profile (operators/text.py::
    entropy_profile): per-doc token entropy, char entropy and
    type-token ratio — the cheap degenerate-text screens (stuffing,
    base64 blobs) that length gates miss. Both engines use the
    identity H = log2(n) − Σc·log2(c)/n (BITS — matching the
    low_entropy_bits gate) over the SAME (doc, symbol) count
    aggregation, so the shuffled rows are distinct symbols,
    not corpus tokens."""
    from langscrape_spark.operators.text import entropy_profile

    return entropy_profile(_t_parallel(spark, sf, "documents"))


def q91_query_likelihood(spark, sf):
    """Dirichlet-smoothed query-likelihood retrieval (operators/
    search.py::query_likelihood_topk, μ=100): language-model ranking
    next to q59's BM25, with the postings-only decomposition so
    absent query terms never materialize per-doc rows. The oracle
    computes the NAIVE cross form ``Σ qtf·ln((tf+μ·p_c)/(dl+μ))`` —
    proving the decomposition exact (round-6). Duplicate query term
    ('hash' twice) exercises the qtf weighting."""
    from langscrape_spark.operators.search import (
        build_inverted_index,
        query_likelihood_topk,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    out = query_likelihood_topk(
        postings, doc_lens, "hash join hash scan", k=12, mu=100.0
    )
    return out.select(
        "doc_id", F.round("score", 6).alias("score")
    ).orderBy(F.desc("score"), "doc_id")


def q92_phrase_search(spark, sf):
    """Positional phrase search (operators/search.py::
    positional_postings / phrase_match): the corpus's top trigram
    (deterministic count-desc/lexicographic pick) located via
    start-position-aligned postings joins — each join side filtered
    to ONE term's postings so the cost tracks the rarest term, never
    the corpus. The oracle re-derives the trigram with windows and
    counts occurrences directly (0-based positions to match
    posexplode)."""
    from langscrape_spark.operators.search import (
        phrase_match,
        positional_postings,
        top_trigram,
    )

    docs = _t_parallel(spark, sf, "documents")
    phrase = top_trigram(docs)
    out = phrase_match(positional_postings(docs), phrase)
    return (
        out.select(
            F.lit(" ".join(phrase)).alias("phrase"),
            "doc_id",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("first_pos").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


_HOSTGRAPH_RAW_SQL = """
              SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
                     'h' || CAST((doc_id % 20
                                  + (doc_id // 20) * (doc_id // 20)) % 20
                            AS VARCHAR) AS dst
              FROM documents
              UNION ALL
              SELECT 'h' || CAST((doc_id % 20 * 7 + 3) % 20 AS VARCHAR),
                     'h' || CAST((doc_id % 20 * 13 + 5) % 20 AS VARCHAR)
              FROM documents
              UNION ALL
              SELECT 'hubx', 'h' || CAST(r AS VARCHAR) FROM range(20) t(r)
              UNION ALL
              SELECT 'h' || CAST(r AS VARCHAR), 'sinkx' FROM range(20) t(r)
"""


def _host_graph(spark, sf):
    """The deterministic pseudo-random host graph shared by the
    link-analysis queries (q93/q94/q95/q96): organic edges derived
    from documents plus a planted hub (links every host) and sink
    (linked by every host). ``_HOSTGRAPH_RAW_SQL`` is its DuckDB
    twin; self-loops/dups are NOT removed here — each operator owns
    its own hygiene."""
    k = F.col("doc_id") % 20
    j = F.floor(F.col("doc_id") / 20)
    docs = _t(spark, sf, "documents")
    organic = docs.select(
        F.concat(F.lit("h"), k.cast("string")).alias("src_host"),
        F.concat(F.lit("h"), ((k + j * j) % 20).cast("string")).alias(
            "dst_host"
        ),
    ).unionByName(
        docs.select(
            F.concat(F.lit("h"), ((k * 7 + 3) % 20).cast("string")).alias(
                "src_host"
            ),
            F.concat(
                F.lit("h"), ((k * 13 + 5) % 20).cast("string")
            ).alias("dst_host"),
        )
    )
    hub = spark.range(20).select(
        F.lit("hubx").alias("src_host"),
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("dst_host"),
    )
    sink = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("src_host"),
        F.lit("sinkx").alias("dst_host"),
    )
    return organic.unionByName(hub).unionByName(sink)


def q93_cocitation(spark, sf):
    """Co-citation + bibliographic coupling (operators/linkgraph.py::
    cocitation_coupling, fanout cap 10, min strength 2) over an
    organic pseudo-random host graph derived from documents
    (identical in BOTH engines, q73's pattern) plus a planted hub
    (links all 20 hosts — must be excluded from co-citation by the
    out-cap) and a planted sink (linked by all 20 — excluded from
    coupling by the in-cap). The oracle re-derives dedup, the degree
    caps, both pair self-joins and the strength gate."""
    from langscrape_spark.operators.linkgraph import cocitation_coupling

    out = cocitation_coupling(
        _host_graph(spark, sf), max_fanout=10, min_strength=2
    )
    return out.orderBy("host_a", "host_b")


def _hits_oracle() -> str:
    """HITS oracle is BUILT (unrolled 6-iteration CTE chain) by the
    operator module so the DuckDB power iteration stays next to its
    Spark twin (the _bpe_oracle pattern)."""
    from langscrape_spark.operators.hostrank import hits_oracle_sql

    return hits_oracle_sql(_HOSTGRAPH_RAW_SQL, iterations=6)


def q94_hits(spark, sf):
    """Kleinberg HITS (operators/hostrank.py::hits, 6 iterations, L1
    normalization) over the shared derived host graph — the planted
    hubx must surface as the top hub and sinkx as a top authority.
    The oracle is the SAME power iteration unrolled as chained
    MATERIALIZED CTEs (hits_oracle_sql), proving every
    join/sum/normalize exact at round-6 — the same pattern as q32's
    PageRank oracle (_pagerank_sql)."""
    from langscrape_spark.operators.hostrank import hits

    return hits(_host_graph(spark, sf), iterations=6).orderBy("host")


_TRUST_SEEDS = ["h0", "h1", "h2", "h3"]


def _trustrank_oracle() -> str:
    from langscrape_spark.operators.hostrank import trustrank_oracle_sql

    return trustrank_oracle_sql(
        _HOSTGRAPH_RAW_SQL, _TRUST_SEEDS, damping=0.85, iterations=8
    )


def q95_trustrank(spark, sf):
    """TrustRank (operators/hostrank.py::trustrank, 4 seeds, d=0.85,
    8 iterations): seed-personalized PageRank where dangling mass
    (sinkx — the graph's only sink) teleports back to the seed set.
    The oracle unrolls the same iteration as MATERIALIZED CTEs with
    the dangling scalar per round; seed-term literals are interpolated
    via repr() so 1−d keeps its exact float value in both engines."""
    from langscrape_spark.operators.hostrank import trustrank

    return trustrank(
        _host_graph(spark, sf), _TRUST_SEEDS, damping=0.85, iterations=8
    ).orderBy("host")


_COMMUNITY_RAW_SQL = """
              SELECT 'a' || CAST(doc_id % 8 AS VARCHAR) AS src,
                     'a' || CAST((doc_id % 8 + doc_id // 8) % 8
                            AS VARCHAR) AS dst
              FROM documents
              UNION ALL
              SELECT 'b' || CAST(doc_id % 8 AS VARCHAR),
                     'b' || CAST((doc_id % 8 + 3 * (doc_id // 8) + 1) % 8
                            AS VARCHAR)
              FROM documents
              UNION ALL
              SELECT 'a0', 'b0'
"""


def _community_graph(spark, sf):
    """Two dense derived host families + ONE bridge edge — the Spark
    twin of ``_COMMUNITY_RAW_SQL``, shared by q96 (label propagation)
    and q105 (triangles) so the graph cannot silently diverge between
    them or from the oracles."""
    docs = _t(spark, sf, "documents")
    k = F.col("doc_id") % 8
    j = F.floor(F.col("doc_id") / 8)
    fam_a = docs.select(
        F.concat(F.lit("a"), k.cast("string")).alias("src_host"),
        F.concat(F.lit("a"), ((k + j) % 8).cast("string")).alias(
            "dst_host"
        ),
    )
    fam_b = docs.select(
        F.concat(F.lit("b"), k.cast("string")).alias("src_host"),
        F.concat(F.lit("b"), ((k + 3 * j + 1) % 8).cast("string")).alias(
            "dst_host"
        ),
    )
    bridge = spark.createDataFrame(
        [("a0", "b0")], "src_host string, dst_host string"
    )
    return fam_a.unionByName(fam_b).unionByName(bridge)


def _lpa_oracle() -> str:
    from langscrape_spark.operators.components import (
        label_propagation_oracle_sql,
    )

    return label_propagation_oracle_sql(_COMMUNITY_RAW_SQL, iterations=4)


def q96_label_propagation(spark, sf):
    """Majority label propagation (operators/components.py::
    label_propagation, 4 rounds, self-vote, min-label tie-break) on
    two dense derived host families joined by ONE bridge edge — one
    connected component but two communities, the distinction
    connected_components cannot make. Pure integer/string arithmetic;
    the oracle unrolls identical vote/adopt rounds as MATERIALIZED
    CTEs."""
    from langscrape_spark.operators.components import label_propagation

    return label_propagation(
        _community_graph(spark, sf), iterations=4
    ).orderBy("host")


def q97_int8_ann(spark, sf):
    """Int8-quantized ANN (operators/ann.py::int8_quantize /
    int8_ann_topk): symmetric per-vector quantization of the
    normalized embedding (4× scan compression at 100 TB), integer
    dot products, approximate-cosine top-12 joined back to the exact
    cosine with the quantization error. The oracle re-derives the
    normalize→scale→round-half-up encode, the integer dots and the
    cut with identical list folds."""
    from langscrape_spark.operators.ann import (
        cosine_sim,
        int8_ann_topk,
        int8_quantize,
    )

    emb = _t(spark, sf, "embeddings")
    top = int8_ann_topk(int8_quantize(emb), QUERY_VEC, k=12)
    qcol = F.array(*[F.lit(float(x)) for x in QUERY_VEC])
    exact = emb.select(
        "vec_id", cosine_sim(F.col("embedding"), qcol).alias("_exact")
    )
    return (
        top.join(exact, "vec_id")
        .select(
            "vec_id",
            F.round("approx_cosine", 6).alias("approx_cosine"),
            F.round("_exact", 6).alias("exact_cosine"),
            F.round(F.abs(F.col("approx_cosine") - F.col("_exact")), 6).alias(
                "abs_err"
            ),
        )
        .orderBy(F.desc("approx_cosine"), "vec_id")
    )


_KCORE_RAW_SQL = (
    _HOSTGRAPH_RAW_SQL
    + """
              UNION ALL
              SELECT * FROM (VALUES ('h0', 'c1'), ('c1', 'c2'),
                ('c2', 'c3'), ('c3', 'c4'), ('c4', 'c5'), ('c5', 'c6'))
                chain(src, dst)
"""
)


def _kcore_oracle() -> str:
    from langscrape_spark.operators.linkgraph import kcore_oracle_sql

    return kcore_oracle_sql(_KCORE_RAW_SQL, k=2, rounds=8)


def q98_kcore(spark, sf):
    """k-core extraction (operators/linkgraph.py::kcore, k=2, 8
    peeling rounds) on the shared host graph plus a planted pendant
    chain h0–c1–…–c6: at k=2 the chain must unravel ONE link per
    round (c6 degree 1 first, then c5, …) — the cascade a single
    degree filter cannot produce; at k=3 the whole chain would peel
    in round 1 and the oracle would never exercise iteration. The
    oracle unrolls the same peel rounds as MATERIALIZED CTEs;
    all-integer, exact."""
    from langscrape_spark.operators.linkgraph import kcore

    chain = spark.createDataFrame(
        [("h0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
         ("c4", "c5"), ("c5", "c6")],
        "src_host string, dst_host string",
    )
    edges = _host_graph(spark, sf).unionByName(chain)
    return kcore(edges, k=2, rounds=8).orderBy("host")


def q99_prefix_jaccard(spark, sf):
    """Exact set-similarity join via prefix filtering (operators/
    dedup.py::prefix_jaccard_pairs, Jaccard ≥ 3/5 as a RATIONAL —
    integer prefix bound and verify gate, no float boundary): a
    200-doc slice plus planted suffix-mutated twins. The oracle is
    the NAIVE all-pairs join — so the compare proves the prefix
    filter's zero-false-negative guarantee, not just re-derivation."""
    from langscrape_spark.operators.dedup import prefix_jaccard_pairs

    base = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    twins = base.where(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq xtra zz")).alias("text"),
    )
    return prefix_jaccard_pairs(
        base.unionByName(twins), threshold_num=3, threshold_den=5
    ).orderBy("id_a", "id_b")


def q100_temperature_mix(spark, sf):
    """Temperature mixture weights (operators/sharding.py::
    temperature_mix, α=0.5, 10^6-token budget): the XLM-R/mT5
    source-balancing rule deriving the budgets q58's mixture_select
    consumes. One sources-sized agg; normalizers ride a 1-row
    broadcast. The oracle re-derives token counts, the α-power,
    both shares, the rounded budget and the upsample factor."""
    from langscrape_spark.operators.sharding import temperature_mix
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "source",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return temperature_mix(docs, alpha=0.5, total_budget=1_000_000)


def _bfs_oracle() -> str:
    from langscrape_spark.operators.hostrank import bfs_depths_oracle_sql

    return bfs_depths_oracle_sql(
        _KCORE_RAW_SQL, ["h0", "h7"], max_depth=6
    )


def q101_bfs_depths(spark, sf):
    """Seed-set BFS depth map (operators/hostrank.py::bfs_depths,
    seeds {h0, h7}, 6 rounds) over the shared graph plus q98's
    pendant chain (c1…c6 at depths 1…6 — forces every relaxation
    round to matter) — hubx has no in-edges, so it must report
    depth −1/unreached. Integer-exact unrolled-CTE oracle."""
    from langscrape_spark.operators.hostrank import bfs_depths

    chain = spark.createDataFrame(
        [("h0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
         ("c4", "c5"), ("c5", "c6")],
        "src_host string, dst_host string",
    )
    edges = _host_graph(spark, sf).unionByName(chain)
    return bfs_depths(edges, ["h0", "h7"], max_depth=6).orderBy("host")


def q102_curation_funnel(spark, sf):
    """Curation attrition funnel (operators/filters.py::
    curation_funnel): four ordered keep-gates — token-count range,
    alphabetic ratio, type-token ratio, exact-dup winner — collapsed
    to a first-failing-gate index in ONE corpus pass; the funnel
    arithmetic runs on the gates-sized frame. The oracle re-derives
    every predicate, the CASE first-fail, and the cumulative
    inflow/kill-rate windows."""
    from pyspark.sql import Window

    from langscrape_spark.operators.filters import curation_funnel
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents")
    toks = words_col(F.col("text"))
    n_tok = F.size(toks)
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")),
        F.length(F.col("text")),
    )
    ttr = F.try_divide(F.size(F.array_distinct(toks)), n_tok)
    w_dup = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    gates = [
        ("len_20_1000", (n_tok >= 20) & (n_tok <= 1000)),
        ("alpha_ge_0.6", alpha_ratio >= 0.6),
        ("ttr_ge_0.4", ttr >= 0.4),
        ("dup_winner", F.row_number().over(w_dup) == 1),
    ]
    return curation_funnel(docs, gates)


def q103_sessionize(spark, sf):
    """Event sessionization (operators/sessions.py::sessionize,
    30-min timeout): gaps-and-islands over the events table — one
    per-user window pass (flag, then running sum; single exchange)
    plus a map-side-combined per-session rollup. Integer-microsecond
    gap comparison, so the timeout boundary is exact cross-engine.
    The oracle mirrors the lag/flag/cumsum/rollup windows."""
    from langscrape_spark.operators.sessions import sessionize

    return sessionize(
        _t(spark, sf, "events"), timeout_sec=1800
    ).orderBy("user_id", "session_seq")


def q104_cdc_chunks(spark, sf):
    """Content-defined chunking (operators/text.py::cdc_chunks,
    4-token rolling window, avg 32-token chunks): boundaries decided
    by local content hashes, so chunk-hash dedup survives edits that
    shift every fixed-stride chunk (q65's contrast). Hash = the
    md5-lower64/63-bit-mask/power-of-2-pmod parity stack the sketches
    use. The oracle mirrors the rolling window, boundary rule,
    exclusive cumsum and per-chunk rollup."""
    from langscrape_spark.operators.text import cdc_chunks

    return cdc_chunks(
        _t_parallel(spark, sf, "documents"), window=4, avg_chunk=32
    ).orderBy("doc_id", "chunk_idx")


def q105_triangles(spark, sf):
    """Triangle counts + local clustering coefficient (operators/
    linkgraph.py::triangle_stats) via the compact-forward
    degree-ordered orientation — each wedge enumerated once at its
    lowest-degree apex, O(m^1.5) fan-out instead of a hub's d². Runs
    on q96's two-family community graph (dense families → clustering
    near 1; the bridge endpoints dip). The oracle mirrors the
    orientation, wedge join, closure semi-join and corner rollup."""
    from langscrape_spark.operators.linkgraph import triangle_stats

    return triangle_stats(_community_graph(spark, sf)).orderBy("host")


def q106_rrf_hybrid(spark, sf):
    """Reciprocal-rank fusion (operators/search.py::rrf_fuse,
    rrf_k=60) of two heterogeneous rankers over ONE shared inverted
    index — BM25 (q59's operator) and Dirichlet query likelihood
    (q91's) for the same query — the standard hybrid-search combiner
    that ignores score scales. The oracle recomputes BOTH rankers,
    their rank windows, the 1/(60+rank) parts and the fused top-12."""
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
        query_likelihood_topk,
        rrf_fuse,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    bm = bm25_topk(postings, doc_lens, "hash join scan", k=15)
    ql = query_likelihood_topk(
        postings, doc_lens, "hash join scan", k=15, mu=100.0
    )
    return rrf_fuse([bm, ql], k=12, rrf_k=60)


def _mmr_oracle(pool: int = 20, k: int = 5) -> str:
    """Unrolled greedy MMR (λ=0.75 so 1−λ is float-exact): pool by
    relevance, pool-pairwise cosines once, then one MATERIALIZED
    argmax CTE per pick with max-sim over the selected set."""
    cos = (
        "list_sum(list_transform(range(1, 65),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    parts = [
        f"WITH qv AS MATERIALIZED (SELECT {_QV_SQL} AS v),",
        "scored AS MATERIALIZED (SELECT vec_id, embedding, "
        + cos.format(a="embedding", b="qv.v")
        + " AS rel FROM embeddings, qv),",
        f"pool AS MATERIALIZED (SELECT vec_id, embedding, rel"
        f" FROM scored WHERE rel IS NOT NULL"
        f" ORDER BY rel DESC, vec_id LIMIT {pool}),",
        "sims AS MATERIALIZED (SELECT a.vec_id AS ida, b.vec_id AS idb, "
        + cos.format(a="a.embedding", b="b.embedding")
        + " AS s FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),",
        "s1 AS MATERIALIZED (SELECT vec_id, rel, 0.75 * rel AS mmr"
        " FROM pool ORDER BY 0.75 * rel DESC, vec_id LIMIT 1),",
        "sel1 AS MATERIALIZED (SELECT vec_id FROM s1),",
    ]
    for i in range(2, k + 1):
        parts += [
            f"r{i} AS MATERIALIZED (SELECT p.vec_id, p.rel,"
            f" 0.75 * p.rel - 0.25 * max(s.s) AS mmr"
            f" FROM pool p JOIN sims s ON s.ida = p.vec_id"
            f" WHERE s.idb IN (SELECT vec_id FROM sel{i - 1})"
            f" AND p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})"
            " GROUP BY p.vec_id, p.rel),",
            f"s{i} AS MATERIALIZED (SELECT vec_id, rel, mmr FROM r{i}"
            " ORDER BY mmr DESC, vec_id LIMIT 1),",
        ]
        if i < k:  # the last selected-set is never consumed
            parts.append(
                f"sel{i} AS MATERIALIZED (SELECT vec_id FROM sel{i - 1}"
                f" UNION ALL SELECT vec_id FROM s{i}),"
            )
    union = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, round(rel, 6) AS relevance,"
        f" round(mmr, 6) AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "\n".join(parts)[:-1] + f"\n{union} ORDER BY rank"


def q107_mmr_diversify(spark, sf):
    """Maximal Marginal Relevance selection (operators/ann.py::
    mmr_select, pool 20, k=5, λ=0.75): the diversity-aware result cut
    — near-duplicate hits cannot fill the page because each pick is
    penalized by its max similarity to the already-selected set. One
    corpus-wide TakeOrderedAndProject for the pool, then bounded
    per-step argmax collects (the BPE per-round pattern). The oracle
    unrolls the same greedy steps as MATERIALIZED CTEs over
    pool-pairwise cosines."""
    from langscrape_spark.operators.ann import mmr_select

    return mmr_select(
        _t(spark, sf, "embeddings"), QUERY_VEC, pool=20, k=5, lam=0.75
    ).orderBy("rank")


def q108_suffix_array(spark, sf):
    """Corpus suffix array by distributed prefix doubling
    (operators/suffix.py::suffix_array — the Lee et al. 2022
    exact-substring-dedup primitive, which q63's windowed form
    approximates): 48 docs laid out in md5 order with chr(1)
    terminators, never materializing the corpus string. Each round is
    two equi-key shuffles (the +2^j rank join and the arithmetic-
    bucketed dense rank — no global window, no range-sampling pass);
    loop control collects only P-row aggregates. The oracle IS the
    definition: row_number over ``substr(corpus, gpos)``."""
    from langscrape_spark.operators.suffix import suffix_array

    docs = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 48)
        .select("doc_id", "text")
    )
    return suffix_array(docs, max_chars=110).orderBy("gpos")


def q109_repeated_grams(spark, sf):
    """Exact repeated 16-char grams via the same doubling machinery
    stopped at prefix 16 (operators/suffix.py::repeated_grams —
    log2(16)=4 rounds instead of log2(maxLCP)): positions sharing a
    rank share their gram exactly, so a rank group of size ≥2 is a
    duplicated span with doc attribution. A boilerplate passage is
    planted on every doc_id%10==0 document (in BOTH engines) so the
    detector must merge cross-document repeats. The oracle groups
    ``substr(corpus, gpos, 16)`` directly."""
    from langscrape_spark.operators.suffix import repeated_grams

    docs = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 120)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 10 == 0, F.lit(_Q109_PLANT)
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    return repeated_grams(
        docs, gram_chars=16, min_occ=2, max_chars=160
    ).orderBy("min_gpos")


_Q109_PLANT = " repeated boilerplate navigation footer"


def q110_heavy_hitters(spark, sf):
    """Exact 1/50-heavy hitters by sketch-prune-verify
    (operators/sketch.py::mg_heavy_hitters): per-partition Misra-Gries
    summaries (64 counters, mergeable-summaries batch fold) emit a
    candidate superset — guaranteed because a global heavy hitter is
    heavy in at least one partition — then ONE exact counting pass
    over the broadcast candidates applies the integer threshold
    freq*50 > total. Output is exact, so the oracle is the plain
    GROUP BY ... HAVING the sketch exists to avoid at scale."""
    from langscrape_spark.operators.sketch import mg_heavy_hitters
    from langscrape_spark.operators.text import words_col

    toks = _t_parallel(spark, sf, "documents").select(
        F.explode(words_col(F.col("text"))).alias("term")
    )
    return mg_heavy_hitters(
        toks, "term", k_counters=64, phi_den=50
    ).orderBy(F.desc("freq"), "term")


def q111_link_prediction(spark, sf):
    """Common-neighbor link prediction (operators/linkgraph.py::
    link_prediction, cap 16, min_common 2): CN / Jaccard /
    Adamic-Adar for non-adjacent host pairs at distance 2 over the
    shared host graph. The degree-16 center cap EXCLUDES the planted
    hub and sink as wedge centers (live guard), yet (hubx, sinkx)
    itself must come out predicted — every organic host links to
    both. The oracle mirrors hygiene, cap, wedge join, anti-join and
    both score formulas."""
    from langscrape_spark.operators.linkgraph import link_prediction

    return link_prediction(
        _host_graph(spark, sf), max_center_degree=16, min_common=2
    ).orderBy("host_a", "host_b")


def q112_kmeans(spark, sf):
    """Deterministic Lloyd k-means (operators/clustering.py::
    kmeans_lloyd, k=4, 2 update rounds + final assignment, grid
    scale 1000): floor-quantized points make centroid sums EXACT
    integers, so the whole iteration chain hash-compares — the
    oracle unrolls identical assign/update rounds as MATERIALIZED
    CTEs (argmin on round-6 distances, cid tie-break, exact HUGEINT
    sums, empty-cluster coalesce)."""
    from langscrape_spark.operators.clustering import kmeans_lloyd

    pts = (
        _t(spark, sf, "embeddings")
        .where(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    return kmeans_lloyd(pts, k=4, iterations=2).orderBy("vec_id")


def _kmeans_oracle() -> str:
    from langscrape_spark.operators.clustering import kmeans_oracle_sql

    return kmeans_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200",
        k=4,
        iterations=2,
    )


def q113_readability(spark, sf):
    """Flesch reading ease + FK grade (operators/text.py::
    readability_profile): vowel-group syllable heuristic (min 1 per
    word), terminator-run sentences (min 1), one JVM-side pass —
    no shuffle, no UDF. The oracle re-derives both integer counts
    and both formulas."""
    from langscrape_spark.operators.text import readability_profile

    return readability_profile(
        _t(spark, sf, "documents")
    ).orderBy("doc_id")


def q114_grid_quantiles(spark, sf):
    """Exact type-1 grid quantiles (operators/sharding.py::
    grid_quantiles, cent grid, per return-flag): the scale path for
    q06 — one map-side-combinable histogram groupBy, an
    arithmetic-bucketed two-level prefix sum (never a corpus-wide
    single-partition window), target position ceil(n·num/den) as a
    rational. The oracle is the PLAIN global-window cumsum +
    smallest-cell-reaching-position definition, proving the
    decomposition exact."""
    from langscrape_spark.operators.sharding import grid_quantiles

    return grid_quantiles(
        _t(spark, sf, "lineitem"),
        "l_extendedprice",
        fractions=((1, 4), (1, 2), (3, 4), (9, 10)),
        scale=100,
        group_cols=["l_returnflag"],
    ).orderBy("l_returnflag", "q_den", "q_num")


def q115_sequence_pack(spark, sf):
    """Concat-and-chunk sequence packing (operators/sharding.py::
    sequence_pack, seq_len=512): the corpus becomes one virtual
    token stream in md5 order, cut into fixed windows; a straddling
    doc emits one segment per window it touches (GPT-style packing,
    unlike q57's whole-doc shard assignment). Spark computes the
    stream offset with the two-level parallel prefix sum and
    explodes each doc's seq range; the oracle is the plain
    global-window cumsum + unnest(range(first, last+1)) — proving
    both the decomposition and the boundary arithmetic exact."""
    from langscrape_spark.operators.sharding import sequence_pack
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return sequence_pack(docs, "n_tokens", 512).orderBy(
        "seq_id", "seg_start_in_seq"
    )


def q116_edit_join(spark, sf):
    """Exact Levenshtein<=1 similarity join (operators/editjoin.py::
    edit_distance_pairs): FastSS deletion-neighborhood candidates
    (complete by pigeonhole — no sampling, no df-cap) + one JVM
    levenshtein confirm, over a deterministic planted corpus built
    from orders keys (per residue: base 'node{g}cfg', substitution
    'node{g}cfq', insertion 'node{g}cfgx', distractor 'node{g}zzz';
    digit-adjacent groups collide too). The oracle is the NAIVE
    all-pairs levenshtein join — the compare proves the neighborhood
    scheme misses nothing and adds nothing."""
    from langscrape_spark.operators.editjoin import edit_distance_pairs

    k = F.col("o_orderkey")
    g = F.floor(k / 4).cast("long").cast("string")
    word = (
        F.when(k % 4 == 0, F.concat(F.lit("node"), g, F.lit("cfg")))
        .when(k % 4 == 1, F.concat(F.lit("node"), g, F.lit("cfq")))
        .when(k % 4 == 2, F.concat(F.lit("node"), g, F.lit("cfgx")))
        .otherwise(F.concat(F.lit("node"), g, F.lit("zzz")))
    )
    words = (
        _t(spark, sf, "orders")
        .where(k < 4000)
        .select(word.alias("word"))
        .distinct()
    )
    return (
        edit_distance_pairs(words, "word", "word", max_edit=1)
        .select(
            F.col("id_a").alias("word_a"),
            F.col("id_b").alias("word_b"),
            "dist",
        )
        .orderBy("word_a", "word_b")
    )


def _zorder_oracle() -> str:
    """Built from operators/layout.py::morton_sql at call time so the
    interleave twin cannot silently diverge from morton_col."""
    from langscrape_spark.operators.layout import morton_sql

    bucket = lambda v, lo, hi: (  # noqa: E731
        f"least(greatest(CAST(coalesce(floor(({v} - {lo}) * 256.0 / "
        f"nullif({hi} - {lo}, 0)), 0) AS BIGINT), 0), 255)"
    )
    return f"""
        -- Op-for-op twin of zorder_file_stats: equal-width buckets
        -- over observed min/max, morton_sql bit interleave, 4096-wide
        -- z ranges, per-file bounding rectangles.
        WITH d AS (
          SELECT CAST(epoch_us(ts) AS DOUBLE) AS x,
                 CAST(user_id AS DOUBLE) AS y
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        r AS (SELECT min(x) AS xlo, max(x) AS xhi,
                     min(y) AS ylo, max(y) AS yhi FROM d),
        b AS (
          SELECT {bucket("x", "xlo", "xhi")} AS xb,
                 {bucket("y", "ylo", "yhi")} AS yb
          FROM d, r),
        z AS (SELECT xb, yb, {morton_sql("xb", "yb", 8)} AS zval FROM b)
        SELECT CAST(floor(zval / 4096) AS BIGINT) AS file_id,
               count(*) AS n_rows,
               min(xb) AS xb_min, max(xb) AS xb_max,
               min(yb) AS yb_min, max(yb) AS yb_max
        FROM z GROUP BY 1 ORDER BY file_id
    """


def q117_zorder_layout(spark, sf):
    """Z-order (Morton) layout audit (operators/layout.py::
    zorder_file_stats, 8-bit buckets, 16 z-range files) over the
    events table's (ts, user_id) plane — the multi-dimension scan-
    pruning layout behind Iceberg/Delta ZORDER BY. Pure integer bit
    arithmetic in-plan (no UDF, no collect; range bounds via a 1-row
    broadcast crossJoin); the oracle repeats bucket formula, bit
    interleave and file ranges op-for-op and re-derives every file's
    bounding rectangle."""
    from langscrape_spark.operators.layout import zorder_file_stats

    ev = _t(spark, sf, "events")
    return zorder_file_stats(
        ev,
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.col("user_id"),
        bits=8,
        files=16,
    ).orderBy("file_id")


def q118_opic(spark, sf):
    """OPIC adaptive crawl priority (operators/hostrank.py::opic,
    6 synchronous rounds over the shared host graph): cash banks
    into history and flows along out-edges each round, dangling
    cash recycles uniformly (the virtual root page); importance =
    history / rounds (total history is exactly T by conservation).
    The NORTH-RULE fit: this is the frontier's online priority
    signal — it converges while the crawl runs, no offline batch
    PageRank needed. The oracle unrolls the identical cash/history
    recurrence as MATERIALIZED CTEs."""
    from langscrape_spark.operators.hostrank import opic

    return opic(_host_graph(spark, sf), iterations=6).orderBy("host")


def _opic_oracle() -> str:
    from langscrape_spark.operators.hostrank import opic_oracle_sql

    return opic_oracle_sql(_HOSTGRAPH_RAW_SQL, iterations=6)


def q119_js_drift(spark, sf):
    """Per-host Jensen-Shannon drift in BITS between the q54 snapshot
    pair (operators/snapshots.py::unigram_js_divergence): unigram
    distributions per host per side, one full-outer (host, word)
    join, p·log2(2p/(p+q)) terms with zero-terms dropped — the
    distribution-shift detector that sees template turnover even
    when every page changed "a little". The oracle re-derives the
    snapshot generators, tokenization, both distributions and the
    JS formula op-for-op."""
    from langscrape_spark.operators.snapshots import unigram_js_divergence
    from langscrape_spark.operators.urls import host_of

    old, new = _q54_snapshots(_t(spark, sf, "documents"))
    return unigram_js_divergence(
        old.select(host_of(F.col("url")).alias("host"), "text"),
        new.select(host_of(F.col("url")).alias("host"), "text"),
    ).orderBy("host")


def _bpe_fertility_oracle() -> str:
    from langscrape_spark.operators.bpe import bpe_fertility_oracle_sql

    tok = f"""
        SELECT doc_id, lang, w FROM ({_tok_sql("doc_id, lang")})
        WHERE NOT contains(w, chr(31))
    """
    return bpe_fertility_oracle_sql(_BPE_WC_SQL, tok, n_merges=8)


def q120_bpe_fertility(spark, sf):
    """Tokenizer fertility by language (operators/bpe.py::
    bpe_fertility_by_lang): the 8-merge BPE from q84 applied via the
    segmented-vocab equi-join, rolled up per the documents table's
    lang column — fertility (syms/word) is the number that exposes a
    tokenizer over-segmenting minority languages before a training
    run wastes sequence budget. Oracle: the unrolled training rounds
    + the same join and per-lang aggregate."""
    from langscrape_spark.operators.bpe import bpe_fertility_by_lang

    return bpe_fertility_by_lang(
        _t_parallel(spark, sf, "documents"), n_merges=8
    ).orderBy("lang")


def q121_cusum_bursts(spark, sf):
    """CUSUM burst detection (operators/anomaly.py::cusum_bursts, 16
    buckets) over per-event-type rates: the sequential recurrence
    s_t = max(0, s_{t-1} + (x_t - mu - slack)) becomes a pure window
    computation via the prefix identity s_t = P_t - min(0, min P_j)
    — cumsum + running-min per group, fully parallel, no fold. The
    oracle repeats bucketing, densification, baseline and both
    windows verbatim (running windows accumulate in the same order,
    so even the float path is IEEE-identical)."""
    from langscrape_spark.operators.anomaly import cusum_bursts

    return cusum_bursts(
        _t(spark, sf, "events"), "event_type", "ts", buckets=16
    ).orderBy("event_type", "bucket")


def q122_seed_cover(spark, sf):
    """Greedy max-coverage crawl-seed selection (operators/
    linkgraph.py::greedy_seed_cover, k=4) over the shared host
    graph: each round scores candidates by MARGINAL gain against the
    covered set and takes a deterministic argmax — the submodular
    (1-1/e) greedy that cuts a seed list to the hosts that actually
    widen reach. Oracle: the four rounds unrolled as MATERIALIZED
    CTEs with the same anti-join, argmax and cumulative total."""
    from langscrape_spark.operators.linkgraph import greedy_seed_cover

    return greedy_seed_cover(_host_graph(spark, sf), k=4).orderBy("round")


def _seed_cover_oracle() -> str:
    from langscrape_spark.operators.linkgraph import (
        greedy_seed_cover_oracle_sql,
    )

    return greedy_seed_cover_oracle_sql(_HOSTGRAPH_RAW_SQL, k=4)


def q123_path_rollup(spark, sf):
    """Hierarchical url directory rollup (operators/urls.py::
    path_prefix_rollup) over a deterministic 3-level url corpus
    (host/cat/sub/page from doc_id residues): one row per (host,
    directory prefix) with page counts and distinct immediate
    children — the crawl-analytics view behind trap spotting and
    per-directory budgets. The oracle re-derives host, segment
    split, the depth explode and both aggregates."""
    from langscrape_spark.operators.urls import path_prefix_rollup

    d = F.col("doc_id")
    urls = _t(spark, sf, "documents").select(
        F.concat(
            F.lit("https://h"),
            (d % 17).cast("string"),
            F.lit(".example.com/cat"),
            (d % 5).cast("string"),
            F.lit("/sub"),
            (d % 3).cast("string"),
            F.lit("/p"),
            d.cast("string"),
        ).alias("url")
    )
    return path_prefix_rollup(urls).orderBy("host", "prefix")


def q124_textrank(spark, sf):
    """TextRank keywords (operators/textrank.py::textrank_keywords,
    4 rounds, top-3, docs < 200): per-doc PageRank over word
    adjacency graphs computed as corpus-wide (doc_id, word)-keyed
    join+agg rounds — millions of tiny graphs iterate simultaneously,
    no per-doc collect, no applyInPandas. Ranks cut at round-6 with
    word tie-break (the RRF/MMR convention) so cross-engine ulp noise
    cannot flip a rank; the oracle unrolls the same rounds as
    MATERIALIZED (doc_id, w) CTEs."""
    from langscrape_spark.operators.textrank import textrank_keywords

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return textrank_keywords(docs).orderBy("doc_id", "rank")


def _textrank_oracle() -> str:
    from langscrape_spark.operators.textrank import textrank_oracle_sql

    return textrank_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 200"
    )


def q125_ema_revisit(spark, sf):
    """EMA-smoothed per-host change rates (operators/snapshots.py::
    ema_over_steps, alpha=0.25 so every weight is a dyadic rational):
    three snapshot steps with planted change predicates (%7, %5, %3),
    per-host per-step rates, then the recursive EMA collapsed to a
    literal-weighted sum — one hash agg, no window. Feeds q60-style
    revisit scheduling without single-round whiplash. The oracle
    re-derives rates and applies the SAME literal weights."""
    from langscrape_spark.operators.snapshots import ema_over_steps

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents")
    host = F.concat(F.lit("h"), (d % 17).cast("string")).alias("host")
    steps = None
    for i, p in ((1, 7), (2, 5), (3, 3)):
        part = docs.select(
            host,
            F.lit(i).alias("step"),
            F.when(d % p == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias(
                "chg"
            ),
        )
        steps = part if steps is None else steps.unionByName(part)
    rates = steps.groupBy("host", "step").agg(
        (F.sum("chg") / F.count(F.lit(1))).alias("rate")
    )
    return ema_over_steps(
        rates, "host", "step", "rate", alpha=0.25, n_steps=3
    ).orderBy("host")


def _ema_oracle() -> str:
    from langscrape_spark.operators.snapshots import ema_weights

    w1, w2, w3 = (repr(w) for w in ema_weights(0.25, 3))
    return f"""
        WITH per AS (
          SELECT 'h' || (doc_id % 17) AS host, s.step,
                 CASE WHEN doc_id % s.p = 0 THEN 1.0 ELSE 0.0 END AS chg
          FROM documents, (VALUES (1, 7), (2, 5), (3, 3)) s(step, p)),
        rates AS (SELECT host, step, sum(chg) / count(*) AS rate
                  FROM per GROUP BY host, step)
        SELECT host,
               round(sum(rate * CASE step WHEN 1 THEN {w1}
                                 WHEN 2 THEN {w2} ELSE {w3} END), 6)
                 AS ema,
               round(max(CASE WHEN step = 3 THEN rate END), 6)
                 AS last_value
        FROM rates GROUP BY host ORDER BY host
    """


def q126_skyline(spark, sf):
    """2-D Pareto skyline (operators/splits.py::skyline_2d) over two
    pulling-apart doc scores (alpha ratio vs token count): the
    curation shortlist nothing dominates on both axes. Spark runs the
    textbook sort-scan (per-x max + running max over the distinct-x
    frame — never an O(n^2) self-join); the oracle is the NAIVE
    NOT-EXISTS dominance definition, so the compare proves the scan
    drops exactly the dominated rows."""
    from langscrape_spark.operators.splits import skyline_2d
    from langscrape_spark.operators.text import token_count

    t = F.col("text")
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(n_chars > 0, F.round(n_alpha / n_chars.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("alpha"),
        token_count(t).cast("double").alias("toks"),
    )
    return (
        skyline_2d(d, "alpha", "toks", id_col="doc_id")
        .select(F.col("id").alias("doc_id"), F.col("x").alias("alpha"), F.col("y").alias("toks"))
        .orderBy("doc_id")
    )


def q127_ks_drift(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov drift per source
    (operators/snapshots.py::ks_statistic) between old and mutated
    token-count distributions (doc_id%7 docs gain a token, %11 urls
    drop — the q54 mutation family): the sup-CDF-gap stays an exact
    integer rational max|cum_o*m - cum_n*n|/(n*m), immune to float
    order. The oracle recomputes both empirical CDFs and the same
    rational."""
    from langscrape_spark.operators.snapshots import ks_statistic
    from langscrape_spark.operators.text import token_count

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    old = docs.select(
        "source", token_count(F.col("text")).alias("v")
    )
    new = docs.where(d % 11 != 0).select(
        "source",
        token_count(
            F.when(
                d % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
            ).otherwise(F.col("text"))
        ).alias("v"),
    )
    out = ks_statistic(old, new, "v", "source")
    # operator emits the rational in decimal(38,0) (10^10-row samples
    # overflow BIGINT); at sf scale a long holds it — cast for the
    # driver's int64 compare.
    return out.select(
        "source",
        "n_old",
        "n_new",
        F.col("ks_num").cast("long").alias("ks_num"),
        F.col("ks_den").cast("long").alias("ks_den"),
        "ks",
    ).orderBy("source")


def q128_bm25_maxscore(spark, sf):
    """Threshold retrieval with Max-Score pruning
    (operators/search.py::bm25_maxscore): every document with BM25
    >= 0.5 for 'hash scan table zzzmissing', found by first bounding
    each doc's score with the df-only sum-of-idf (no doc_lens join)
    and exact-scoring only the survivors. The oracle is the FULL-scan
    BM25 filtered at the same theta — proving the pruning tier loses
    no qualifying document. theta=0.5 sits in a measured 3.6e-4 gap
    of the sf0.01 score distribution, far above engine float noise."""
    from langscrape_spark.operators.search import (
        bm25_maxscore,
        build_inverted_index,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    out = bm25_maxscore(
        postings, doc_lens, "hash scan table zzzmissing", theta=0.5
    )
    return out.select(
        "doc_id", F.round("score", 6).alias("score")
    ).orderBy("doc_id")


def q130_containment_join(spark, sf):
    """Exact directed token-set CONTAINMENT join at 9/10
    (operators/dedup.py::containment_pairs) — the quote/excerpt
    detector Jaccard can't be (a 12-token pull-quote in a 600-token
    article: Jaccard ~0.02, containment 1.0). Complements q71's
    shingle containment the way q99's prefix Jaccard complements q09:
    rarest-prefix candidate pruning with an all-integer rational gate
    (provably zero false negatives) instead of a df-capped full
    posting self-join with a float threshold. Corpus = 120 documents
    plus a planted 12-token pull-quote of every 3rd doc (token-sliced
    identically in both engines). The oracle is the NAIVE all-shared-
    token pair join at the same integer gate 10·inter ≥ 9·|A| —
    matching hashes prove the rarest-prefix candidate step has ZERO
    false negatives."""
    from langscrape_spark.operators.dedup import containment_pairs
    from langscrape_spark.operators.text import words_col

    docs = (
        _t_parallel(spark, sf, "documents")
        .where(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    quotes = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(F.slice(words_col(F.col("text")), 1, 12), " ").alias(
            "text"
        ),
    )
    out = containment_pairs(docs.unionByName(quotes), 9, 10)
    return out.orderBy("id_a", "id_b")


def q131_unimax(spark, sf):
    """UniMax budget allocation (operators/sharding.py::
    unimax_allocation, epoch_cap=2, B=50,000) over 13 pseudo-language
    groups: water-filling spreads the budget uniformly but never past
    2 epochs of any group — the capped set is a sorted PREFIX, found
    all-integer (cap·k ≤ B − cumsum), so no float boundary exists to
    diverge; the uniform share is ONE division of two identical
    integers. At sf0.01 the boundary lands mid-pack (3 capped, 9 at
    the share), exercising both branches. The oracle mirrors the
    ranked window, the prefix rule and both allocation arms."""
    from langscrape_spark.operators.sharding import unimax_allocation
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        F.concat(F.lit("l"), (F.col("doc_id") % 13).cast("string")).alias(
            "source"
        ),
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return unimax_allocation(docs, total_budget=50_000, epoch_cap=2).orderBy(
        "source"
    )


def q132_spearman(spark, sf):
    """Spearman rank agreement (operators/ranking.py::spearman_rho)
    between two per-host crawl signals — doc count vs token mass —
    within each source: ranks are row_number permutations with host
    tie-break, so Σd² is an exact integer and ρ = 1 − 6Σd²/(n³−n) is
    one division of identical integers in both engines. The oracle
    mirrors the signal build, both rank windows and the formula."""
    from langscrape_spark.operators.ranking import spearman_rho
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents")
    sig = docs.groupBy(
        "source",
        F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string")).alias(
            "host"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(words_col(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
    )
    return spearman_rho(
        sig, "n_docs", "n_tokens", id_col="host", group_cols=["source"]
    ).orderBy("source")


def q133_classifier_auc(spark, sf):
    """Exact tie-aware ROC-AUC (operators/classifier.py::auc_exact)
    of q75's score/label pair — alpha-ratio vs the length>=300 silver
    label — per source: average ranks carried as DOUBLED integers
    (2·rank + ties − 1) make U2 exact and AUC one division of
    identical integers. Scores ranked on the round-6 value (the q75
    convention) so no rank can flip on ulp noise. The oracle mirrors
    the rank/tie windows and the U formula."""
    from langscrape_spark.operators.classifier import auc_exact
    from langscrape_spark.operators.text import quality_columns

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    scored = quality_columns(docs).select(
        "source",
        (F.length("text") >= 300).alias("label"),
        F.round("alpha_ratio", 6).alias("score"),
    )
    return auc_exact(
        scored, "score", "label", group_cols=["source"]
    ).orderBy("source")


def q134_gini(spark, sf):
    """Exact Gini coefficient (operators/hostquality.py::
    gini_coefficient) of per-document token mass within each source —
    the concentration audit behind crawl-budget equity: ascending
    sort with doc_id tie-break makes Σi·xᵢ an exact integer, so
    G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) is one division of identical
    integers. The oracle mirrors the rank window and the formula."""
    from langscrape_spark.operators.hostquality import gini_coefficient
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return gini_coefficient(
        docs, "n_tokens", id_col="doc_id", group_cols=["source"]
    ).orderBy("source")


def q135_politeness_audit(spark, sf):
    """Crawl-delay compliance audit (operators/sessions.py::
    politeness_audit): per-host consecutive-fetch gaps in integer
    MICROSECONDS (the q103 convention) vs each host's robots delay —
    violation = gap strictly below the delay. The fetch log is the
    events table keyed to 11 pseudo-hosts; every 'h2-family' host is
    MISSING from the delay table to exercise the audit-against-0
    default, and delays are FRACTIONAL halves (0.0/0.5/1.0/1.5 s) so
    the micro-unit gate (round(delay*1e6), not a whole-second
    truncation) is what the parity actually checks. The oracle
    mirrors the lag window, the left join and the strict gate."""
    from langscrape_spark.operators.sessions import politeness_audit

    ev = _t(spark, sf, "events")
    hid = F.col("user_id") % 11
    fetches = ev.select(
        F.concat(F.lit("h"), hid.cast("string")).alias("host"),
        "ts",
        "event_id",
    )
    delays = (
        ev.where(hid % 5 != 2)
        .select(
            F.concat(F.lit("h"), hid.cast("string")).alias("host"),
            (((hid * 7) % 4) / F.lit(2.0)).alias("crawl_delay_s"),
        )
        .distinct()
    )
    return politeness_audit(fetches, delays).orderBy("host")


def q136_assortativity(spark, sf):
    """Directed out-in degree assortativity (operators/linkgraph.py::
    degree_assortativity) of the shared q93-q96 host graph: Pearson r
    over distinct non-self edges between src out-degree and dst
    in-degree, every moment an exact integer in decimal(38,0), final
    r two sqrts + one division of identical integers. The planted
    hub/sink rows make the graph measurably disassortative. The
    oracle re-derives hygiene, both degrees, all five moments and the
    formula on the same SQL graph twin."""
    from langscrape_spark.operators.linkgraph import degree_assortativity

    out = degree_assortativity(_host_graph(spark, sf))
    # operator keeps sxy in decimal(38,0) for 10^9-edge scale; cast
    # for the driver's int64 compare at sf scale
    return out.select("m", F.col("sxy").cast("long").alias("sxy"), "r")


def q137_partition_skew(spark, sf):
    """Shuffle-key pre-flight (operators/layout.py::
    partition_skew_audit): the same documents table audited under two
    candidate keys at P=32 — 'source' (3 distinct values: pathological
    skew, 29 empty reducers — the salt-me signal) vs doc_id (near
    1.0). Engine-portable md5 buckets, densified over range(P), hot
    bucket by unique combined score. The oracle mirrors buckets,
    densify and metrics for both keys."""
    from langscrape_spark.operators.layout import partition_skew_audit

    docs = _t(spark, sf, "documents")
    a = partition_skew_audit(docs, "source", 32, label="by_source")
    b = partition_skew_audit(
        docs.select(F.col("doc_id").cast("string").alias("k")),
        "k",
        32,
        label="by_doc_id",
    )
    return a.unionByName(b).orderBy("key")


def q138_keep_rate_chi2(spark, sf):
    """2×2 contingency chi-square per source (operators/snapshots.py::
    keep_rate_chi2): did the keep gate's rate shift between the old
    crawl and the q127/q54 mutated re-crawl, beyond sampling noise?
    χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is ONE rational of integer
    counts in decimal(38,0), divided once — the oracle recomputes
    both sides' keep counts and the same rational."""
    from langscrape_spark.operators.snapshots import keep_rate_chi2

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    gate = lambda t: F.length(t) >= 300  # noqa: E731
    old = docs.select("source", gate(F.col("text")).alias("keep"))
    new = docs.where(d % 11 != 0).select(
        "source",
        gate(
            F.when(
                d % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
            ).otherwise(F.col("text"))
        ).alias("keep"),
    )
    return keep_rate_chi2(old, new, "keep").orderBy("source")


def q139_apportion(spark, sf):
    """Largest-remainder (Hamilton) apportionment (operators/
    sharding.py::apportion_budget, B=1,000,003 — prime, so remainders
    are dense): integer per-source budgets summing to EXACTLY B; base
    = (B·n) div N and remainder = B·n − base·N never exist as floats,
    and leftover seats follow the (remainder, source) rank. The
    oracle mirrors the integer div, remainder rank and seat rule."""
    from langscrape_spark.operators.sharding import apportion_budget
    from langscrape_spark.operators.text import words_col

    docs = _t(spark, sf, "documents").select(
        "source",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return apportion_budget(docs, total_budget=1_000_003).orderBy("source")


def q140_capture_recapture(spark, sf):
    """Frontier-size estimation by capture-recapture
    (operators/snapshots.py::capture_recapture): two deterministic
    overlapping crawl samples of the documents url space (doc_id%3!=0
    and doc_id%2==0) per source; Chapman (n₁+1)(n₂+1)/(m+1)−1 and raw
    Lincoln-Petersen n₁n₂/m, each ONE division of exact integer
    counts. The oracle recomputes both samples, the distinct-key
    overlap and both estimators."""
    from langscrape_spark.operators.snapshots import capture_recapture

    docs = _t(spark, sf, "documents").select("source", "doc_id")
    s1 = docs.where(F.col("doc_id") % 3 != 0)
    s2 = docs.where(F.col("doc_id") % 2 == 0)
    return capture_recapture(s1, s2, key_col="doc_id").orderBy("source")


def q141_chao1(spark, sf):
    """Vocabulary richness + Good-Turing coverage per source
    (operators/text.py::chao1_richness over whitespace tokens):
    chao1 = V + N1(N1−1)/(2(N2+1)) and coverage = 1 − N1/N, each one
    division of exact integer tail counts. The oracle recomputes the
    occurrence counts, the counts-of-counts and both estimators."""
    from langscrape_spark.operators.text import chao1_richness, words_col

    toks = _t(spark, sf, "documents").select(
        "source", F.explode(words_col(F.col("text"))).alias("w")
    )
    return chao1_richness(toks, "w").orderBy("source")


def q142_registrable_domain(spark, sf):
    """Registrable domain (eTLD+1) under Public Suffix List semantics
    (operators/urls.py::registrable_domain) — the unit politeness
    should budget by. Hosts derived from documents cover every PSL
    rule class: exact (.com/.co.uk/.org.uk), the github.io
    private-section entry, the *.ck wildcard, the !www.ck exception,
    and the no-rule default. The oracle re-implements the full
    set-joined PSL algorithm (candidate label-suffixes, wildcard
    forms, exception-beats-longest window, default rule)."""
    from langscrape_spark.operators.urls import registrable_domain

    d = F.col("doc_id")
    host = (
        F.when(d % 7 == 0, F.concat(F.lit("www.site"), (d / 7).cast("long").cast("string"), F.lit(".co.uk")))
        .when(d % 7 == 1, F.concat(F.lit("a.b.site"), (d / 7).cast("long").cast("string"), F.lit(".com")))
        .when(d % 7 == 2, F.concat(F.lit("user"), (d / 7).cast("long").cast("string"), F.lit(".github.io")))
        .when(d % 7 == 3, F.concat(F.lit("x.y.site"), (d / 7).cast("long").cast("string"), F.lit(".ck")))
        .when(d % 7 == 4, F.lit("www.ck"))
        .when(d % 7 == 5, F.concat(F.lit("site"), (d / 7).cast("long").cast("string"), F.lit(".org.uk")))
        .otherwise(F.lit("intranet"))
    )
    hosts = _t(spark, sf, "documents").select(host.alias("host"))
    return registrable_domain(hosts).orderBy("host")


def q143_rendezvous(spark, sf):
    """Frontier shard stability under a fetcher-fleet resize
    (operators/layout.py::rendezvous_assign): every host assigned at
    W=8 and W=9 by rendezvous hashing (expected ~1/9 of hosts move)
    vs the naive unsigned-mod remap (~8/9 move — every moved host
    re-warms robots caches, politeness state, connection pools).
    Scores order by the UNSIGNED md5 value in both engines (Spark
    flips the sign bit; DuckDB is natively unsigned); the naive mod
    lifts Spark's signed pmod to unsigned arithmetic with the exact
    2^64 mod m literal. The oracle re-derives all four assignments
    per host."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.layout import rendezvous_assign

    hosts = _t(spark, sf, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 341).cast("string")).alias(
            "host"
        )
    )
    r8 = rendezvous_assign(hosts, 8).withColumnRenamed("worker", "rdv8")
    r9 = rendezvous_assign(hosts, 9).withColumnRenamed("worker", "rdv9")

    def umod(m: int):
        x = _md5_lower64(F.col("key"))
        corr = F.when(x < 0, F.lit((1 << 64) % m)).otherwise(F.lit(0))
        return F.pmod(F.pmod(x, F.lit(m)) + corr, F.lit(m)).cast("int")

    keys = hosts.select(F.col("host").alias("key")).distinct()
    naive = keys.select(
        F.col("key"),
        umod(8).alias("mod8"),
        umod(9).alias("mod9"),
    )
    out = (
        r8.join(r9, "key")
        .join(naive, "key")
        .select(
            F.col("key").alias("host"),
            "rdv8",
            "rdv9",
            (F.col("rdv8") != F.col("rdv9")).alias("rdv_moved"),
            "mod8",
            "mod9",
            (F.col("mod8") != F.col("mod9")).alias("mod_moved"),
        )
    )
    return out.orderBy("host")


def q144_benford(spark, sf):
    """Benford first-digit audit (operators/anomaly.py::
    benford_audit) of per-document content lengths per source — the
    fabricated-numbers detector pointed at crawl data. Leading digits
    come from exact integer decimal strings (never double
    formatting); expectations are log10(1+1/d) literals; digits
    densify so absent digits are evidence. The oracle mirrors digit
    extraction, densify, shares, expectations, deviations and the
    group MAD."""
    from langscrape_spark.operators.anomaly import benford_audit

    docs = _t(spark, sf, "documents").select(
        "source", F.length("text").alias("v")
    )
    return benford_audit(docs, "v").orderBy("source", "digit")


def q145_burstiness(spark, sf):
    """Goh–Barabási burstiness per pseudo-host (operators/anomaly.py::
    burstiness): B = (σ−μ)/(σ+μ) over integer-µs inter-arrival gaps,
    with the moments exact in decimal(38,0) and sample variance via
    (nΣg²−(Σg)²)/(n(n−1)) — a fixed two-cast/one-sqrt/one-division
    tree both engines evaluate identically. The oracle mirrors the
    lag window and the moment identity."""
    from langscrape_spark.operators.anomaly import burstiness

    ev = _t(spark, sf, "events").select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 11).cast("string")
        ).alias("host"),
        "ts",
        "event_id",
    )
    return burstiness(ev).orderBy("host")


def q146_vocab_growth(spark, sf):
    """Heaps vocabulary-growth curve (operators/text.py::
    vocab_growth) at crawl-order checkpoints 100..500 over doc_id —
    distinct-token first occurrence as min(order) per token (NO
    global window), checkpoints as conditional integer sums,
    unpivoted. The oracle mirrors first-occurrence, all three
    conditional counts and the ttr division per checkpoint."""
    from langscrape_spark.operators.text import vocab_growth

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return vocab_growth(
        docs, [100, 200, 300, 400, 500]
    ).orderBy("checkpoint")


def q147_neighborhood_function(spark, sf):
    """HyperANF neighborhood function N(t) on the shared q93-q96 host
    graph (operators/linkgraph.py::neighborhood_function, 4 rounds,
    m=64 registers): per-node reachable-ball HLLs max-merged along
    out-edges each round — the web-scale effective-diameter read.
    Register merge is order-free integer max; per-node estimates
    quantize to integer micro-units before the node sum, so the curve
    hash-compares at any node count. The oracle unrolls the rounds as
    MATERIALIZED CTEs with the q87 estimator verbatim."""
    from langscrape_spark.operators.linkgraph import neighborhood_function

    return neighborhood_function(_host_graph(spark, sf), rounds=4)


def _anf_oracle() -> str:
    from langscrape_spark.operators.linkgraph import anf_oracle_sql

    return anf_oracle_sql(
        f"SELECT src, dst FROM ({_HOSTGRAPH_RAW_SQL})", rounds=4
    )


def _harmonic_oracle() -> str:
    from langscrape_spark.operators.linkgraph import harmonic_oracle_sql

    return harmonic_oracle_sql(
        f"SELECT src, dst FROM ({_HOSTGRAPH_RAW_SQL})", rounds=6
    )


def q148_novelty(spark, sf):
    """Per-document novelty fraction (operators/dedup.py::
    novelty_fraction, k=3): share of a doc's distinct shingles never
    seen at an earlier crawl order — corpus-linear (shingle-level
    min(order) + join back, NO pairwise machinery, NO global window).
    Corpus = 300 documents plus verbatim re-crawls of the first 50 at
    order +10000 — the copies must score EXACTLY 0. The oracle
    mirrors shingling, first-occurrence and the per-doc rollup."""
    from langscrape_spark.operators.dedup import novelty_fraction

    docs = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    copies = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    out = novelty_fraction(docs.unionByName(copies), k=3)
    return out.orderBy("id")


def q149_compaction_schedule(spark, sf):
    """Optimal (Huffman) delta-compaction schedule (operators/
    sharding.py::compaction_schedule) over 12 pseudo-shards sized by
    per-group byte mass: greedy smallest-two merges minimize total
    bytes moved; ties break on (bytes, id) with ASCII/VARCHAR order
    identical in Python and SQL. The oracle unrolls the 11 greedy
    rounds as MATERIALIZED CTEs and the running cost window."""
    from langscrape_spark.operators.sharding import compaction_schedule

    shards = (
        _t(spark, sf, "documents")
        .groupBy(
            F.concat(
                F.lit("s"), (F.col("doc_id") % 12).cast("string")
            ).alias("shard_id")
        )
        .agg(F.sum(F.length("text")).cast("long").alias("n_bytes"))
    )
    return compaction_schedule(shards).orderBy("step")


def _huffman_oracle() -> str:
    from langscrape_spark.operators.sharding import huffman_oracle_sql

    return huffman_oracle_sql(
        """SELECT 's' || (doc_id % 12) AS i,
                  CAST(sum(length(text)) AS BIGINT) AS b
           FROM documents GROUP BY 1""",
        n_shards=12,
    )


def q150_index_compression(spark, sf):
    """Inverted-index storage sizing (operators/search.py::
    index_compression_stats): delta+varint bytes vs raw 8-byte ids
    per posting-list-density bucket (⌊log₂ df⌋) — gaps from one
    term-partitioned lag window, varint bytes = ⌈bits/7⌉ with the
    engine-portable length(bin(gap)) bit length, first entry stored
    as id+1 so every encoded value is ≥ 1. The oracle mirrors gaps,
    byte math, buckets and the ratio."""
    from langscrape_spark.operators.search import (
        build_inverted_index,
        index_compression_stats,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, _ = build_inverted_index(docs)
    return index_compression_stats(postings).orderBy("df_bucket")


def q151_f1_threshold(spark, sf):
    """Max-F1 decision threshold (operators/classifier.py::
    f1_threshold) for q75's score/label pair per source: candidate
    thresholds are the distinct round-6 scores, TP/FP/FN come from
    ONE descending suffix-cumulative window over the distinct-score
    frame (never a per-threshold scan), winner by (F1 desc, threshold
    asc). The oracle mirrors the per-score counts, suffix sums, F1
    and the argmax."""
    from langscrape_spark.operators.classifier import f1_threshold
    from langscrape_spark.operators.text import quality_columns

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    scored = quality_columns(docs).select(
        "source",
        (F.length("text") >= 300).alias("label"),
        F.round("alpha_ratio", 6).alias("score"),
    )
    return f1_threshold(
        scored, "score", "label", group_cols=["source"]
    ).orderBy("source")


def q152_hill_alpha(spark, sf):
    """Power-law tail exponent (operators/text.py::hill_alpha,
    xmin=40) of per-document token counts per source — Hill's MLE
    α = 1 + k/Σln(xᵢ/xmin) with every log term quantized to integer
    micro-units before the sum (float sum order can't diverge), one
    division at the end. The oracle mirrors the tail filter, the
    quantization and the formula."""
    from langscrape_spark.operators.text import hill_alpha, words_col

    docs = _t(spark, sf, "documents").select(
        "source",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return hill_alpha(docs, "n_tokens", xmin=40).orderBy("source")


def q153_ndcg(spark, sf):
    """Exact binary nDCG@10 (operators/evalops.py::ndcg_at_k) of the
    q59 BM25 ranking against the q75 silver relevance (length>=300):
    every 1/log2(i+1) weight and the cumulative ideal sums are
    Python literals identical in both engines — no engine log runs —
    so nDCG is one division of two fixed-literal dot products. The
    oracle rebuilds the BM25 top-10 (q59's proven shape) and applies
    the same literals."""
    from langscrape_spark.operators.evalops import ndcg_at_k
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    ranking = bm25_topk(postings, doc_lens, "hash scan table", k=10)
    rel = docs.select(
        "doc_id", (F.length("text") >= 300).cast("int").alias("rel")
    )
    return ndcg_at_k(ranking, rel, k=10)


def q154_minhash_incremental(spark, sf):
    """Incremental MinHash-LSH dedup state across crawl rounds
    (operators/incremental.py::minhash_ingest_round): documents
    200-449 are ingested in THREE rounds (doc_id % 3) against an
    on-disk bucket-partitioned state table — the production shape
    where each crawl round dedups its new pages against everything
    already ingested. The union of the three rounds' pairs must equal
    the batch full-corpus LSH join (each pair emitted exactly once,
    by the round ingesting the later doc), so the oracle is the
    q10-proven full-corpus DuckDB derivation over the same slice —
    the equivalence IS the incremental contract. Each round's pairs
    are eagerly checkpointed by minhash_ingest_round, so the returned
    union survives the state tempdir's cleanup."""
    import shutil
    import tempfile

    from langscrape_spark.operators.incremental import minhash_ingest_round

    docs = _t(spark, sf, "documents").where(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 450)
    )
    state = tempfile.mkdtemp(prefix="q154_mh_state_")
    try:
        out = None
        for r in range(3):
            batch = docs.where(F.col("doc_id") % 3 == r)
            pairs = minhash_ingest_round(
                batch, state, "text", "doc_id",
                num_hashes=16, bands=4, k=3, n_parts=8,
            )
            out = pairs if out is None else out.unionByName(pairs)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return out.select(
        "id_a",
        "id_b",
        F.col("n_shared_bands").cast("long").alias("n_shared_bands"),
    )


def q155_simhash_incremental(spark, sf):
    """Incremental SimHash near-dup state (operators/incremental.py::
    simhash_ingest_round), q154's sibling for the pigeonhole family:
    the whole documents table ingested in THREE rounds (doc_id % 3),
    exact recall at hamming ≤ 3 — a within-radius pair agrees on ≥1
    16-bit block, and that block's state row is present from
    whichever round arrived first. The oracle derives the full-corpus
    answer from scratch in DuckDB (q16's end-to-end signature
    reproduction → 4 pigeonhole blocks → bucket join → bit_count
    verify), which the per-round union must match pair-for-pair."""
    import shutil
    import tempfile

    from langscrape_spark.operators.incremental import simhash_ingest_round

    docs = _t(spark, sf, "documents")
    state = tempfile.mkdtemp(prefix="q155_sh_state_")
    try:
        out = None
        for r in range(3):
            batch = docs.where(F.col("doc_id") % 3 == r)
            pairs = simhash_ingest_round(
                batch, state, "text", "doc_id", max_hamming=3, n_parts=8
            )
            out = pairs if out is None else out.unionByName(pairs)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q156_novelty_incremental(spark, sf):
    """Cross-round novelty (operators/incremental.py::
    minhash_novelty_incremental): documents 200-449 arrive in THREE
    rounds (doc_id % 3); before each round is ingested, every doc is
    classified novel iff it shares NO MinHash band bucket with the
    ACCUMULATED state (earlier rounds only — round 0 is all-novel by
    definition). Returns per-round (round, n_docs, n_novel). The
    oracle derives the same thing without any state machinery: a doc
    is non-novel iff some doc with a strictly smaller round index
    shares one of its q154-proven band buckets. Each round's counts
    are materialized (localCheckpoint) BEFORE the state append
    mutates the directory the probe plan reads."""
    import shutil
    import tempfile

    from langscrape_spark.operators.dedup import minhash_band_buckets
    from langscrape_spark.operators.incremental import (
        bucket_state_append,
        minhash_novelty_incremental,
    )

    docs = _t(spark, sf, "documents").where(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 450)
    )
    state = tempfile.mkdtemp(prefix="q156_mh_state_")
    try:
        out = None
        for r in range(3):
            batch = docs.where(F.col("doc_id") % 3 == r)
            handles = []
            novel = minhash_novelty_incremental(
                batch, state, "text", "doc_id",
                num_hashes=16, bands=4, k=3, n_parts=8,
                unpersist_inputs=handles,
            )
            agg = (
                novel.agg(
                    F.count("*").cast("long").alias("n_docs"),
                    F.sum(F.col("is_novel").cast("long")).alias("n_novel"),
                )
                .select(F.lit(r).alias("round"), "n_docs", "n_novel")
                .localCheckpoint(eager=True)
            )
            out = agg if out is None else out.unionByName(agg)
            # The append's signature subplan is canonically equal to
            # the one the novelty probe persisted, so the CacheManager
            # serves it — one minhash md5 pass per round, then release.
            bucket_state_append(
                minhash_band_buckets(batch, "text", "doc_id", 16, 4, 3),
                state,
                n_parts=8,
                params={
                    "family": "minhash",
                    "num_hashes": 16,
                    "bands": 4,
                    "k": 3,
                },
            )
            for h in handles:
                h.unpersist()
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return out.orderBy("round")


def q157_soft404(spark, sf):
    """Soft-404 / error-template screen (operators/anomaly.py::
    soft404_templates): per-host clusters of SimHash-identical short
    bodies spanning >= 3 distinct documents. The corpus is documents
    plus a PLANTED per-source error template (docs 0-59 re-emitted at
    doc_id+100000 with a short source-keyed "Error 404" body — both
    engines derive the plant from the same base table, the q148
    planting pattern), so every source with >= 3 low-id docs must
    surface exactly one flagged cluster; natural clusters, if any,
    are computed identically by the oracle. SimHash parity is the
    proven q16 fragment."""
    from langscrape_spark.operators.anomaly import soft404_templates

    docs = _t(spark, sf, "documents")
    planted = docs.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("Error 404 page not found on "),
            F.col("source"),
            F.lit(" please check the url and try again"),
        ).alias("text"),
        "source",
    )
    pages = docs.select("doc_id", "text", "source").unionByName(planted)
    return soft404_templates(
        pages, "text", "doc_id", "source", max_chars=400, min_cluster=3
    ).orderBy("host", "simhash")


def q158_filter_funnel(spark, sf):
    """Gate-cascade attrition audit (operators/text.py::
    filter_funnel) over the seven Gopher gates in published order:
    per stage, documents reaching it, first-failing at it (the
    funnel), failing it at all (marginal) and failing ONLY it (unique
    attribution — the gate-redundancy signal). Gates compare the
    round-6 ratio columns so both engines gate on identical bits
    (q44 proves the underlying ratio parity)."""
    from langscrape_spark.operators.text import (
        filter_funnel,
        gopher_quality_flags,
    )

    flags = gopher_quality_flags(_t(spark, sf, "documents"))
    gates = [
        ("word_count", F.col("n_words").between(50, 100000)),
        ("mean_word_len", F.col("mean_word_len").between(3.0, 10.0)),
        ("symbol_ratio", F.col("symbol_ratio") < 0.1),
        ("bullet_lines", F.col("frac_bullet") < 0.9),
        ("ellipsis_lines", F.col("frac_ellipsis") < 0.3),
        ("alpha_words", F.col("frac_alpha_words") >= 0.8),
        ("stopwords", F.col("stopword_hits") >= 2),
    ]
    return filter_funnel(flags, gates).orderBy("stage")


def q159_semantic_incremental(spark, sf):
    """Cross-round SemDeDup pairs (operators/incremental.py::
    semantic_ingest_round): embeddings arrive in THREE rounds
    (vec_id % 3) and each round's batch is judged against itself AND
    the accumulated on-disk cluster state (payload = raw vector, so
    the probe re-ranks candidates with the exact round-6 cosine).
    Cluster assignments use the q35/q77 IVF geometry (k=16, 2 Lloyd
    iterations — centroids frozen across rounds, as production must),
    so the oracle reads the SAME frozen (vec_id, cluster) map the
    freezer pinned and derives the full within-cluster pair set in
    SQL: the union of per-round incremental pairs must equal it
    exactly — the q154 union-equivalence contract on the embedding
    path, with the live Lloyd/assign path re-pinned for free."""
    import shutil
    import tempfile

    from langscrape_spark.operators.ann import ivf_assign, ivf_centroids
    from langscrape_spark.operators.incremental import semantic_ingest_round

    emb = _t(spark, sf, "embeddings")
    cents = ivf_centroids(emb, k=16, iterations=2)
    assigned = ivf_assign(emb, cents).select(
        F.col("vec_id").alias("id"),
        F.col("bucket").alias("cluster"),
        F.col("embedding").alias("vec"),
    )
    state = tempfile.mkdtemp(prefix="q159_sem_state_")
    try:
        out = None
        for r in range(3):
            batch = assigned.where(F.col("id") % 3 == r)
            pairs = semantic_ingest_round(
                batch, state, threshold=0.35, k=16, n_parts=8
            )
            out = pairs if out is None else out.unionByName(pairs)
        # the per-round frames are localCheckpoint-materialized by the
        # ingest wrapper, so consuming the union after the state dir is
        # deleted is safe
        return out.orderBy("id_a", "id_b")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q160_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (operators/ranking.py::weighted_sample — Efraimidis-Spirakis
    A-ES): 5 documents per source with inclusion odds proportional to
    text length, the capped-budget mixture-sampling primitive. The
    key is engine-portable by construction (53-bit md5 uniform →
    micro-quantized -ln(u) → exact integer division ordering), so the
    oracle re-derives the SAME sample in SQL — selection checked
    exactly, not just distributionally."""
    from langscrape_spark.operators.ranking import weighted_sample

    docs = (
        _t(spark, sf, "documents")
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            "source",
            F.length("text").cast("long").alias("wt"),
        )
    )
    out = weighted_sample(
        docs, "wt", k=5, group_cols=("source",), id_col="doc_id"
    )
    return out.select(
        "source", "doc_id", "w", "lq", "aes_key"
    ).orderBy("source", "doc_id")


def q161_ucb_budget(spark, sf):
    """UCB1 crawl-budget scores (operators/hostquality.py::
    ucb_scores): each source is a bandit arm, each page a pull,
    reward = the q151 keep gate (length >= 300). The exploration
    bonus sqrt(2·ln N / n) is computed through ONE micro-quantized
    ln (q152 convention) + correctly-rounded IEEE steps, so the
    round-6 scores are bit-reproducible — the oracle re-derives them
    exactly, not approximately."""
    from langscrape_spark.operators.hostquality import ucb_scores

    docs = _t(spark, sf, "documents")
    rewarded = docs.select(
        "source", (F.length("text") >= 300).alias("kept")
    )
    return ucb_scores(rewarded, "source", "kept", c=2.0)


def q162_salsa(spark, sf):
    """SALSA (operators/hostrank.py::salsa, 6 iterations) over the
    shared derived host graph — HITS's half-steps with DEGREE
    normalization (the stochastic hub/authority walk), the
    TKC-resistant alternative when link farms game hub cliques. The
    oracle is the same walk unrolled as MATERIALIZED CTEs
    (salsa_oracle_sql), proving every join, per-term degree division
    and grouped sum exact at round-6."""
    from langscrape_spark.operators.hostrank import salsa

    return salsa(_host_graph(spark, sf), iterations=6).orderBy("host")


def q163_exact_incremental(spark, sf):
    """Cross-round exact-duplicate screening (operators/
    incremental.py::exact_ingest_round): documents 200-449 plus
    planted re-crawl copies (doc_id+10000 of every 7th doc — the
    byte-identical refetch a real crawl produces) arrive in THREE
    crawl-ordered rounds; each doc is tagged (is_dup, first_id)
    against the accumulated distinct-content state, which stores ONE
    row per content hash ever seen. Crawl order == id order here, so
    the oracle is the batch first-occurrence election (min id per
    md5 group) — arrival semantics and batch semantics provably
    coincide, which is the q154-style equivalence for the exact
    family."""
    import shutil
    import tempfile

    from langscrape_spark.operators.incremental import exact_ingest_round

    docs = (
        _t(spark, sf, "documents")
        .where((F.col("doc_id") >= 200) & (F.col("doc_id") < 450))
        .select("doc_id", "text")
    )
    recrawl = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    allr = docs.unionByName(recrawl)
    bounds = [(200, 300), (300, 450), (10200, 10450)]
    state = tempfile.mkdtemp(prefix="q163_ex_state_")
    try:
        out = None
        for lo, hi in bounds:
            batch = allr.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            tagged = exact_ingest_round(batch, state, n_parts=8)
            out = tagged if out is None else out.unionByName(tagged)
        return out.orderBy("id")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q164_psi_drift(spark, sf):
    """Population Stability Index per source between two crawl
    windows (operators/snapshots.py::psi_drift): documents binned by
    literal 500-char length buckets (cap bin 9 — identical bits both
    engines), Laplace-smoothed over the per-group observed bin set.
    The scorecard drift alarm for quality-score distributions sliding
    between rounds."""
    from langscrape_spark.operators.snapshots import psi_drift

    docs = _t(spark, sf, "documents")
    binned = docs.select(
        "source",
        F.least(
            F.floor(F.col("n_chars") / 500).cast("int"), F.lit(9)
        ).alias("lb"),
        "doc_id",
    )
    old = binned.where(F.col("doc_id") < 250)
    new = binned.where(F.col("doc_id") >= 250)
    return psi_drift(old, new, "lb", "source").orderBy("source")


def _mirror_corpus(spark, sf):
    """Deterministic fetched-page corpus for the duplicate-URL-mining
    queries (q165): 8 hosts m0..m7 in mirror pairs (m0,m1), (m2,m3),
    ... — each pair shares a content space (fp key offset 1000·pair),
    the odd host diverging on every 5th path (score lands at ~0.8,
    below 1.0, above the 0.5 gate) — plus a planted UNIVERSAL cell
    (the same notice page on all 8 hosts) that the max_key_df=6 cap
    must drop before pairing. Identical in DuckDB inside the q165
    oracle."""
    k = F.col("o_orderkey")
    h = k % 8
    p = F.expr("(o_orderkey div 8) % 400")
    g = F.expr("(o_orderkey % 8) div 2")
    diverge = ((h % 2) == 1) & ((p % 5) == 0)
    fpkey = p + g * 1000 + F.when(diverge, F.lit(77777)).otherwise(F.lit(0))
    pages = _t(spark, sf, "orders").select(
        F.concat(
            F.lit("https://m"),
            h.cast("string"),
            F.lit(".example/doc/"),
            p.cast("string"),
        ).alias("url"),
        F.md5(F.concat(F.lit("c:"), fpkey.cast("string"))).alias("fp"),
    )
    universal = spark.range(8).select(
        F.concat(
            F.lit("https://m"),
            F.col("id").cast("string"),
            F.lit(".example/shared/notice"),
        ).alias("url"),
        F.md5(F.lit("c:universal")).alias("fp"),
    )
    return pages.unionByName(universal)


def q165_mirror_hosts(spark, sf):
    """Bharat-Broder mirror-host detection (operators/mirrors.py::
    mirror_hosts) over the planted mirror corpus: distinct
    (host, path, fp) cells, a df-cap that drops the universal notice
    cell (served by all 8 hosts > max_key_df=6) before pairing, a
    within-cell self-join, and the containment score in exact integer
    micro-units ((shared·10⁶) div min(n_a,n_b)). The oracle re-derives
    the corpus, the cap, both joins and the integer score in DuckDB —
    all-integer, hash-exact."""
    from langscrape_spark.operators.mirrors import mirror_hosts

    out = mirror_hosts(
        _mirror_corpus(spark, sf),
        max_key_df=6,
        min_shared=5,
        min_score_micro=500_000,
    )
    return out.orderBy("host_a", "host_b")


def q166_dust_rules(spark, sf):
    """DUST rewrite-rule mining (operators/mirrors.py::dust_rules)
    over three planted spellings per page — clean /item/<id>, a
    ?ref=home tracking spelling and sparse ?sid=<k> session spellings
    — all sharing one content fingerprint. Pairs join only within
    (host, fp) groups (df-capped at 64 spellings); the templated
    token-set difference collapses every sid value to ONE rule
    (q:sid=<N>), and sid-vs-sid pairs yield the empty rule and drop
    out. Valid = support ≥ 3 pairs across ≥ 2 distinct contents. The
    oracle re-derives tokenization (list lambdas), pairing, the cap
    and both gates."""
    from langscrape_spark.operators.mirrors import dust_rules

    k = F.col("o_orderkey")
    c = k % 300
    w = F.expr("(o_orderkey div 300) % 15")
    base = F.concat(
        F.lit("https://www.shop.example/item/"), c.cast("string")
    )
    url = (
        F.when(w == 2, F.concat(base, F.lit("?sid="), k.cast("string")))
        .when(w.isin(5, 8), F.concat(base, F.lit("?ref=home")))
        .otherwise(base)
    )
    corpus = _t(spark, sf, "orders").select(
        url.alias("url"),
        F.md5(F.concat(F.lit("c:"), c.cast("string"))).alias("fp"),
    )
    out = dust_rules(
        corpus, max_group=64, min_support=3, min_contents=2
    )
    return out.orderBy("lhs", "rhs")


def q167_param_significance(spark, sf):
    """Query-parameter content-significance (operators/mirrors.py::
    param_significance) over /list URLs carrying cat+page (content-
    determining), sess (unique per fetch, content-irrelevant) and a
    constant utm=nl (single-valued — no evidence either way). Content
    fp = md5 of (cat, page) only. Expected verdicts: cat/page →
    content_significant, sess → content_irrelevant, utm →
    no_evidence. The oracle replays the explode + both hash
    aggregations + the verdict CASE in DuckDB — all counts integer."""
    from langscrape_spark.operators.mirrors import param_significance

    k = F.col("o_orderkey")
    cat = (k % 20).cast("string")
    page = (k % 5).cast("string")
    w = F.expr("(o_orderkey div 100) % 3")
    qs = (
        F.when(
            w == 0,
            F.concat(
                F.lit("?cat="), cat, F.lit("&page="), page,
                F.lit("&sess="), k.cast("string"), F.lit("&utm=nl"),
            ),
        )
        .when(
            w == 1,
            F.concat(F.lit("?cat="), cat, F.lit("&page="), page),
        )
        .otherwise(
            F.concat(
                F.lit("?cat="), cat, F.lit("&page="), page,
                F.lit("&sess="), k.cast("string"),
            )
        )
    )
    corpus = _t(spark, sf, "orders").select(
        F.concat(F.lit("https://www.cat.example/list"), qs).alias("url"),
        F.md5(
            F.concat(F.lit("c:"), cat, F.lit(":"), page)
        ).alias("fp"),
    )
    out = param_significance(corpus)
    return out.orderBy("host", "key")


def q168_harmonic(spark, sf):
    """Exact out-harmonic centrality (operators/linkgraph.py::
    harmonic_centrality, 6 min-relaxation rounds) over the shared
    derived host graph — Σ 1/d(u,v) in exact integer micro-units
    (1000000 div d, the q147/q152 convention), unreachable pairs
    contributing 0 by definition. The oracle unrolls the all-pairs
    BFS as MATERIALIZED CTEs (the bfs_depths oracle pattern lifted to
    (u,v) state) — all-integer, hash-exact."""
    from langscrape_spark.operators.linkgraph import harmonic_centrality

    return harmonic_centrality(_host_graph(spark, sf), rounds=6).orderBy(
        "host"
    )


def q169_asof_join(spark, sf):
    """Point-in-time (as-of) join (operators/temporal.py::asof_join):
    every 'click' event matched to the LATEST prior 'view' capture of
    the same key — the "which snapshot was current when this row was
    produced" join the versioned catalog needs, expressed as ONE
    union + last(ignorenulls) window per key (no range join, no
    explosion). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an
    independent engine implementation of the same semantics, matched
    row-for-row including the no-prior-capture NULLs."""
    from langscrape_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    key = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    captures = ev.where(F.col("event_type") == "view").select(
        key.alias("k"),
        "ts",
        F.md5(
            F.concat(F.lit("v:"), F.col("event_id").cast("string"))
        ).alias("fp"),
        F.col("value").alias("val"),
    )
    probes = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"), key.alias("k"), "ts"
    )
    out = asof_join(
        probes,
        captures,
        key_col="k",
        ts_col="ts",
        value_cols=("fp", "val"),
    )
    return out.select(
        "pid",
        "k",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("capture_ts").cast("timestamp")).alias(
            "capture_us"
        ),
        "fp",
        "val",
    ).orderBy("pid")


_BOWTIE_SRC = [
    "c0", "c1", "c2", "c3", "c4", "c0", "i0", "i1", "c2", "o0",
    "i1", "t0", "i0", "td1", "d0",
]
_BOWTIE_DST = [
    "c1", "c2", "c3", "c4", "c0", "c2", "i1", "c0", "o0", "o1",
    "t0", "o0", "td0", "o1", "d1",
]
_BOWTIE_RAW_SQL = (
    "SELECT ({s})[(doc_id % 15) + 1] AS src,"
    " ({d})[(doc_id % 15) + 1] AS dst FROM documents".format(
        s="[" + ",".join(f"'{x}'" for x in _BOWTIE_SRC) + "]",
        d="[" + ",".join(f"'{x}'" for x in _BOWTIE_DST) + "]",
    )
)


def _bowtie_graph(spark, sf):
    """Deterministic planted bow-tie graph derived from documents:
    a 5-node SCC with a chord, an IN chain, an OUT chain, a tube
    bypassing the core, one tendril off IN, one tendril into OUT and
    a disconnected pair — every Broder class populated. Each of the
    15 edges is emitted ~|documents|/15 times (doc_id % 15 indexes
    the edge list), so the operator's dedup hygiene is exercised.
    ``_BOWTIE_RAW_SQL`` is its DuckDB twin."""
    idx = (F.col("doc_id") % 15).cast("int")
    docs = _t(spark, sf, "documents")
    return docs.select(
        F.element_at(
            F.array(*[F.lit(x) for x in _BOWTIE_SRC]), idx + 1
        ).alias("src_host"),
        F.element_at(
            F.array(*[F.lit(x) for x in _BOWTIE_DST]), idx + 1
        ).alias("dst_host"),
    )


def q170_bowtie(spark, sf):
    """Bow-tie decomposition (operators/linkgraph.py::bowtie, FW-BW
    single pivot, 6 frontier rounds) — Broder et al.'s web-structure
    map over a planted graph exercising every class: core (the
    pivot's SCC via F∩B), in, out, tube (IN→OUT bypassing core),
    tendrils off IN / into OUT, disconnected. Four node-set BFS
    sweeps, each round one equi-join + distinct (O(n) state, never
    pairs). The oracle re-runs pivot election and all four sweeps as
    unrolled MATERIALIZED set-CTEs with the same classification
    CASE."""
    from langscrape_spark.operators.linkgraph import bowtie

    return bowtie(_bowtie_graph(spark, sf), rounds=6).orderBy("host")


def _bowtie_oracle() -> str:
    from langscrape_spark.operators.linkgraph import bowtie_oracle_sql

    return bowtie_oracle_sql(_BOWTIE_RAW_SQL, rounds=6)


def q171_ip_asn(spark, sf):
    """IP→CIDR-block range join (operators/netmap.py::ip_block_join):
    hosts get deterministic md5-derived IPv4 addresses, a 64-block
    route table covers the lower half of each 2^26-aligned chunk, and
    the BETWEEN range join executes as a broadcast prefix-bucket
    EQUI-join (block rows exploded to the 2^22-grain buckets they
    span) — scan → broadcast hash join → filter, the ip side never
    shuffles. The oracle is the plain BETWEEN range join DuckDB runs
    natively; unrouted hosts keep the 'unrouted' sentinel."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.netmap import ip_block_join

    hosts = (
        _t(spark, sf, "documents")
        .select(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 97).cast("string")
            ).alias("host")
        )
        .distinct()
    )
    ips = hosts.select(
        "host",
        _md5_lower64(F.col("host"))
        .bitwiseAND(F.lit(4294967295))
        .alias("ip"),
    )
    blocks = spark.range(64).select(
        (F.col("id") * 67108864).alias("lo"),
        (F.col("id") * 67108864 + 33554431).alias("hi"),
        F.concat(F.lit("AS"), (F.col("id") + 64500).cast("string")).alias(
            "asn"
        ),
    )
    out = ip_block_join(ips, blocks, bucket_bits=10)
    return out.select(
        "host",
        "ip",
        F.coalesce("asn", F.lit("unrouted")).alias("asn"),
        "block_lo",
    ).orderBy("host")


def q172_ht_estimate(spark, sf):
    """Deterministic Poisson sampling + Horvitz–Thompson totals
    (operators/ranking.py::poisson_sample_ht): each document enters
    the sample with probability proportional to length (micro-unit
    integer p, capped at 1), and Σ v/p over the sample estimates the
    per-source char total without a full scan — the survey-sampling
    primitive for auditing a 100 TB corpus cheaply. The 53-bit md5
    uniform, the one-division inclusion gate and the integer-quantized
    contributions are all engine-exact, so the oracle re-derives the
    SAME sample and the SAME estimate bit-for-bit, alongside the true
    totals it approximates."""
    from langscrape_spark.operators.ranking import poisson_sample_ht

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.least(F.lit(1000000), F.col("n_chars") * 300)
        .cast("long")
        .alias("pm"),
        F.col("n_chars").cast("long").alias("v"),
    )
    est = poisson_sample_ht(
        docs, "pm", "v", group_cols=("source",), id_col="doc_id"
    )
    truth = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("v").alias("true_total"),
    )
    return (
        truth.join(est, "source", "left")
        .select(
            "source",
            "n_docs",
            "true_total",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("ht_total_micro", F.lit(0)).alias(
                "ht_total_micro"
            ),
        )
        .orderBy("source")
    )


_LOGREG_BASE_SQL = """
    SELECT CAST(n_chars // 100 AS BIGINT) AS x0,
           CAST(length(text) - length(replace(text, ' ', ''))
                AS BIGINT) AS x1,
           CAST(1 AS BIGINT) AS x2,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
             AS y
    FROM documents
"""


def q173_logreg_gd(spark, sf):
    """Logistic-regression training by distributed full-batch
    gradient descent (operators/classifier.py::logreg_gd, 3 rounds):
    predict lang='en' from integer length/space-count features. The
    ENTIRE trajectory is exact integer state — micro-unit weights,
    integer fast-sigmoid (no libm exp), truncating divisions — so the
    oracle unrolls all three rounds as MATERIALIZED CTEs and matches
    every weight bit-for-bit. Each round is one map-side-combined
    aggregation; weights are the bounded per-round driver scalar
    (PageRank-dangling-mass convention)."""
    from langscrape_spark.operators.classifier import logreg_gd

    base = _t(spark, sf, "documents").select(
        F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("x0"),
        F.expr(
            "CAST(length(text) - length(replace(text, ' ', ''))"
            " AS BIGINT)"
        ).alias("x1"),
        F.lit(1).cast("long").alias("x2"),
        # coalesce mirrors the oracle's CASE...ELSE 0 on NULL lang
        F.coalesce(
            (F.col("lang") == "en").cast("long"), F.lit(0)
        ).alias("y"),
    )
    traj = logreg_gd(
        base, ["x0", "x1", "x2"], "y", rounds=3, lr_micro=500000
    )
    return spark.createDataFrame(
        [(r["feature"], r["round"], r["w_micro"]) for r in traj],
        "feature string, round int, w_micro long",
    ).orderBy("round", "feature")


def _logreg_oracle() -> str:
    from langscrape_spark.operators.classifier import logreg_oracle_sql

    return logreg_oracle_sql(
        _LOGREG_BASE_SQL, ["x0", "x1", "x2"], rounds=3, lr_micro=500000
    )


def q174_rake(spark, sf):
    """RAKE keyword extraction (operators/text.py::rake_keywords,
    k=5, the engine's en stopword list): phrase candidates are
    maximal stopword-free runs (gaps-and-islands over ONE per-doc
    window), word scores are exact integer micro-units
    degree·1e6 DIV freq, phrase score = Σ word scores — the corpus-
    free member of the keyword family (vs TF-IDF q83 / TextRank
    q124). The oracle re-derives tokenization, phrase segmentation,
    degree/freq stats, integer scoring, candidate dedup and the
    top-5 cut."""
    from langscrape_spark.operators.text import rake_keywords

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 120)
    return rake_keywords(docs, k=5).orderBy("doc_id", "rank")


def q175_revalidation(spark, sf):
    """HTTP revalidation audit (operators/snapshots.py::
    revalidation_audit + revalidation_rollup): two crawl rounds of
    deterministic pages — every 5th page's content changes, every 3rd
    origin sends no ETag, head/tail slices are gone/new — classified
    into 304-eligible / changed / wasted-refetch / unvalidated
    outcomes with byte accounting, rolled up per host with the exact
    integer 304 hit-rate. ONE url-keyed full-outer join (q54's
    shuffle shape); the oracle re-derives both snapshots, the
    classification CASE and the rollup."""
    from langscrape_spark.operators.snapshots import (
        revalidation_audit,
        revalidation_rollup,
    )

    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 23).cast("string"),
        F.lit(".example/p"),
        F.col("doc_id").cast("string"),
    )
    old = docs.where(F.col("doc_id") < 400).select(
        url.alias("url"),
        F.md5(F.concat(F.lit("a:"), F.col("doc_id").cast("string"))).alias(
            "fp"
        ),
        F.col("n_chars").cast("long").alias("bytes"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit('W/"'), F.col("doc_id").cast("string"), F.lit('"')
            ),
        ).alias("etag"),
    )
    new = docs.where(F.col("doc_id") >= 100).select(
        url.alias("url"),
        F.md5(
            F.concat(
                F.when(F.col("doc_id") % 5 == 0, "b:").otherwise("a:"),
                F.col("doc_id").cast("string"),
            )
        ).alias("fp"),
        (F.col("n_chars") + F.col("doc_id") % 7).cast("long").alias(
            "bytes"
        ),
    )
    audit = revalidation_audit(old, new)
    return revalidation_rollup(audit).orderBy("host")


def q176_best_passage(spark, sf):
    """Best-passage snippet selection (operators/search.py::
    best_passage, window=12) for the q59 query terms: per doc the
    12-token span covering the most distinct query terms (ties: more
    hits, then earliest). Candidate starts are hit positions only —
    the per-doc self-join is bounded by query-term occurrences, never
    doc length — and the snippet text is one array slice. The oracle
    re-derives hit extraction, the windowed pair join, the ranking
    and the slice."""
    from langscrape_spark.operators.search import best_passage

    return best_passage(
        _t(spark, sf, "documents"), "hash scan table", window=12
    ).orderBy("doc_id")


_SCC_SRC = [
    "a0", "a1", "a2", "b0", "b1", "b2", "b3", "a0", "b1", "c0",
    "d0", "d1", "a2",
]
_SCC_DST = [
    "a1", "a2", "a0", "b1", "b2", "b3", "b0", "b0", "c0", "d0",
    "d1", "d0", "c0",
]
_SCC_RAW_SQL = (
    "SELECT ({s})[(doc_id % 13) + 1] AS src,"
    " ({d})[(doc_id % 13) + 1] AS dst FROM documents".format(
        s="[" + ",".join(f"'{x}'" for x in _SCC_SRC) + "]",
        d="[" + ",".join(f"'{x}'" for x in _SCC_DST) + "]",
    )
)


def q177_scc(spark, sf):
    """EXACT strongly-connected components (operators/linkgraph.py::
    scc, 2 refinement rounds × 6 min-label relaxations; convergence
    is proven by the oracle match itself — rounds past stability are
    exact no-ops): a planted condensation — 3-cycle → 4-cycle → singleton
    → 2-cycle with duplicate edge emission — resolves to per-SCC min
    member ids and sizes. Per inner round ONE equi-join + min-groupBy
    over an O(n) label frame; the oracle unrolls every round's
    class-restricted edges and both propagations as MATERIALIZED
    CTEs."""
    from langscrape_spark.operators.linkgraph import scc

    idx = (F.col("doc_id") % 13).cast("int")
    docs = _t(spark, sf, "documents")
    edges = docs.select(
        F.element_at(
            F.array(*[F.lit(x) for x in _SCC_SRC]), idx + 1
        ).alias("src_host"),
        F.element_at(
            F.array(*[F.lit(x) for x in _SCC_DST]), idx + 1
        ).alias("dst_host"),
    )
    return scc(
        edges, outer_rounds=2, inner_rounds=6, verify=False
    ).orderBy("host")


def _scc_oracle() -> str:
    from langscrape_spark.operators.linkgraph import scc_oracle_sql

    return scc_oracle_sql(_SCC_RAW_SQL, outer_rounds=2, inner_rounds=6)


def q178_dust_apply(spark, sf):
    """DUST rule APPLICATION (operators/mirrors.py::apply_dust_rules)
    — the mine→apply round trip over q166's corpus: valid deletion
    rules (q:sid=<N>, q:ref=home) strip their raw components from
    every matching spelling, rebuilding a canonical key from the RAW
    url so /item/7 and /item/8 stay distinct while all of /item/7's
    spellings collapse. One broadcast of the bounded rule table
    against distinct urls; the oracle re-runs mining AND application
    (templated subset match, raw-component filter, sorted surviving
    params)."""
    from langscrape_spark.operators.mirrors import (
        apply_dust_rules,
        dust_rules,
    )

    k = F.col("o_orderkey")
    c = k % 300
    w = F.expr("(o_orderkey div 300) % 15")
    base = F.concat(
        F.lit("https://www.shop.example/item/"), c.cast("string")
    )
    url = (
        F.when(w == 2, F.concat(base, F.lit("?sid="), k.cast("string")))
        .when(w.isin(5, 8), F.concat(base, F.lit("?ref=home")))
        .otherwise(base)
    )
    corpus = _t(spark, sf, "orders").select(
        url.alias("url"),
        F.md5(F.concat(F.lit("c:"), c.cast("string"))).alias("fp"),
    )
    rules = dust_rules(
        corpus, max_group=64, min_support=3, min_contents=2
    )
    return apply_dust_rules(corpus, rules).orderBy("url")


def q179_surt(spark, sf):
    """SURT index keys (operators/urls.py::surt_key) — the Heritrix/
    Wayback/Common-Crawl CDX key: host reversed on dots so a
    registrable domain's urls sort contiguously (the range-pruning
    layout for a 10^10-url seen-set), scheme/port dropped, path
    lowercased, trackers stripped, params sorted. Pure codegen
    projection over a mixed-subdomain/port/case/tracker synthetic
    corpus; the oracle mirrors every canonicalization step with list
    lambdas."""
    from langscrape_spark.operators.urls import surt_key

    k = F.col("o_orderkey")
    c = k % 50
    w = F.expr("(o_orderkey div 50) % 4")
    url = F.concat(
        F.lit("https://"),
        F.when(w == 0, "www.").when(w == 1, "cdn.").otherwise(""),
        F.lit("site"),
        (c % 7).cast("string"),
        F.lit(".example.com"),
        F.when(w == 3, ":8080").otherwise(""),
        F.lit("/Cat"),
        c.cast("string"),
        F.when(k % 2 == 0, "/").otherwise(""),
        F.lit("?b="),
        (k % 5).cast("string"),
        F.lit("&utm_source=x&a=1"),
    )
    urls = _t(spark, sf, "orders").select(url.alias("url")).distinct()
    return urls.select("url", surt_key(F.col("url")).alias("surt")).orderBy(
        "url"
    )


_HUBGRAPH_RAW_SQL = """
    SELECT CASE WHEN doc_id % 60 < 40 THEN 'hub0'
                ELSE 's' || CAST(2 * ((doc_id % 60) - 40) AS VARCHAR)
           END AS src,
           CASE WHEN doc_id % 60 < 40
                THEN 's' || CAST(doc_id % 60 AS VARCHAR)
                ELSE 's' || CAST(2 * ((doc_id % 60) - 40) + 1
                                 AS VARCHAR)
           END AS dst
    FROM documents
"""


def q180_hub_removal(spark, sf):
    """Hub-removal resilience (operators/linkgraph.py::
    hub_removal_resilience, k ∈ {0,1,2}, 6 relaxations): a planted
    hub-and-spoke with pair links — one giant component that
    shatters into pairs when the hub is blocklisted, the
    Albert-Jeong-Barabási targeted-attack audit a crawl runs before
    trusting its seed coverage. Per scenario one O(n) min-label
    propagation; the oracle unrolls hub ranking and every scenario's
    relaxations."""
    from langscrape_spark.operators.linkgraph import hub_removal_resilience

    m = F.col("doc_id") % 60
    docs = _t(spark, sf, "documents")
    edges = docs.select(
        F.when(m < 40, "hub0")
        .otherwise(
            F.concat(F.lit("s"), (2 * (m - 40)).cast("string"))
        )
        .alias("src_host"),
        F.when(
            m < 40, F.concat(F.lit("s"), m.cast("string"))
        )
        .otherwise(
            F.concat(F.lit("s"), (2 * (m - 40) + 1).cast("string"))
        )
        .alias("dst_host"),
    )
    return hub_removal_resilience(edges, ks=(0, 1, 2), rounds=6).orderBy(
        "k"
    )


def _hub_removal_oracle() -> str:
    from langscrape_spark.operators.linkgraph import hub_removal_oracle_sql

    return hub_removal_oracle_sql(_HUBGRAPH_RAW_SQL, ks=(0, 1, 2), rounds=6)


def q181_ring_churn(spark, sf):
    """Consistent-hash ring sharding + resize churn (operators/
    layout.py::ring_assign, 16 vnodes): every host assigned under a
    4-shard and a 5-shard ring; the moved set must land ENTIRELY on
    the new shard (the consistent-hashing contract rendezvous q143
    also honors, here with ring/vnode mechanics). Pure-codegen HOF
    scan over a broadcast-literal sorted ring — no join, no shuffle.
    The oracle rebuilds both rings from the same md5 positions and
    re-derives first-clockwise-vnode assignment and the churn flag."""
    from langscrape_spark.operators.layout import ring_assign

    hosts = (
        _t(spark, sf, "documents")
        .select(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 97).cast("string")
            ).alias("host")
        )
        .distinct()
    )
    a = ring_assign(hosts, ["s0", "s1", "s2", "s3"]).select(
        "host", "ring_h", F.col("shard").alias("shard4")
    )
    b = ring_assign(hosts, ["s0", "s1", "s2", "s3", "s4"]).select(
        "host", F.col("shard").alias("shard5")
    )
    return (
        a.join(b, "host")
        .select(
            "host",
            "ring_h",
            "shard4",
            "shard5",
            (F.col("shard4") != F.col("shard5")).cast("int").alias(
                "moved"
            ),
        )
        .orderBy("host")
    )


def q182_lsh_recall(spark, sf):
    """LSH self-measurement: MinHash-LSH candidate pairs (q10's
    16-hash/4-band config) scored against EXACT shingle-Jaccard ≥ 0.5
    ground truth (q09's machinery, df-cap off) on the same corpus —
    the recall/precision audit a production dedup pipeline runs
    before trusting its banding config. One full-outer join of the
    two bounded pair sets; counts and micro-unit rates are exact
    integers. The oracle re-derives BOTH pair generators (posting
    self-join + Kirsch-Mitzenmacher banded signatures) and the same
    confusion counts."""
    from langscrape_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    # repartition: 200 docs in one parquet row group would compute
    # the 16-hash signatures and shingle postings single-core.
    docs = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 200)
        .repartition(8)
    )
    truth = ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=None
    ).select("id_a", "id_b", F.lit(1).alias("t"))
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, k=3
    ).select("id_a", "id_b", F.lit(1).alias("c"))
    j = truth.join(cand, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("c", F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            (F.col("t").isNotNull() & F.col("c").isNotNull()).cast(
                "long"
            )
        ).alias("n_tp"),
    )
    return agg.select(
        "n_truth",
        "n_cand",
        "n_tp",
        F.expr(
            "CASE WHEN n_truth > 0 THEN (n_tp * CAST(1000000 AS"
            " BIGINT)) DIV n_truth ELSE CAST(1000000 AS BIGINT) END"
        ).alias("recall_micro"),
        F.expr(
            "CASE WHEN n_cand > 0 THEN (n_tp * CAST(1000000 AS"
            " BIGINT)) DIV n_cand ELSE CAST(1000000 AS BIGINT) END"
        ).alias("precision_micro"),
    )


def q183_image_dhash(spark, sf):
    """Perceptual image near-dup (operators/multimodal.py::dhash64 +
    dhash_pairs): 120 synthetic 16×16 grayscale images (md5-derived
    pixels, identical in BOTH engines) plus planted exact twins
    (+1000) and first-row-perturbed twins (+2000); dHash 9×8 gradient
    fingerprints, 4×16-bit pigeonhole candidate buckets, exact
    popcount verify ≤ 10. The REAL image-dedup algorithm on top of
    the multimodal plumbing — pure codegen end to end, no UDF — and
    the oracle re-derives pixels, all 64 gradient bits, the unsigned
    block split and the Hamming verify."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.multimodal import dhash64, dhash_pairs

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 120)
    ids = (
        docs.select(F.col("doc_id").cast("long").alias("media_id"))
        .unionByName(
            docs.where(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1000).cast("long").alias("media_id")
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 4 == 1).select(
                (F.col("doc_id") + 2000).cast("long").alias("media_id")
            )
        )
    )
    b = F.col("media_id") % 1000
    px = F.transform(
        F.sequence(F.lit(0), F.lit(255)),
        lambda i: (
            _md5_lower64(
                F.concat(
                    F.lit("px:"),
                    b.cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            ).bitwiseAND(F.lit(255))
            + F.when(
                (F.col("media_id") >= 2000) & (i < 16), F.lit(40)
            ).otherwise(F.lit(0))
        )
        % 256,
    )
    # Materialize the pixel arrays BEFORE hashing: without the
    # lineage cut, projection collapse inlines the 256-element md5
    # transform into every one of dhash64's 128 element_at references
    # — a codegen explosion that kills the JVM, not a slowdown.
    pix = ids.repartition(8).select(
        "media_id", px.alias("px")
    ).localCheckpoint(
        eager=False
    )
    hashed = pix.select(
        "media_id", dhash64(F.col("px"), 16, 16).alias("dhash")
    )
    return dhash_pairs(hashed, max_hamming=10).orderBy("id_a", "id_b")


def _image_dhash_oracle() -> str:
    from langscrape_spark.operators.multimodal import dhash_oracle_expr

    dh = dhash_oracle_expr("px", 16, 16)
    return f"""
        -- dHash re-derived: md5 pixels (+40 first-row perturbation
        -- on the +2000 twins), all 64 gradient bits, unsigned 16-bit
        -- block split, popcount verify. Spark: q183_image_dhash.
        WITH ids AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id
          FROM documents WHERE doc_id < 120
          UNION ALL
          SELECT CAST(doc_id + 1000 AS BIGINT) FROM documents
          WHERE doc_id < 120 AND doc_id % 4 = 0
          UNION ALL
          SELECT CAST(doc_id + 2000 AS BIGINT) FROM documents
          WHERE doc_id < 120 AND doc_id % 4 = 1),
        pix AS (
          SELECT media_id,
                 list_transform(range(0, 256), i -> CAST(
                   (md5_number_lower('px:'
                      || CAST(media_id % 1000 AS VARCHAR) || ':'
                      || CAST(i AS VARCHAR)) % 256
                    + CASE WHEN media_id >= 2000 AND i < 16
                           THEN 40 ELSE 0 END) % 256 AS INT)) AS px
          FROM ids),
        hashed AS (
          SELECT media_id, {dh} AS dhash FROM pix),
        blocks AS (
          SELECT media_id AS id, dhash AS hv, b.b AS blk,
                 CAST(((CAST(dhash AS HUGEINT)
                        + 18446744073709551616)
                       % 18446744073709551616)
                      // (CASE b.b WHEN 0 THEN 1
                          WHEN 1 THEN 65536
                          WHEN 2 THEN 4294967296
                          ELSE 281474976710656 END)
                      % 65536 AS BIGINT) AS bv
          FROM hashed, (SELECT unnest(range(4)) AS b) b),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                 CAST(bit_count(xor(a.hv, b2.hv)) AS INT) AS hamming
          FROM blocks a JOIN blocks b2
            ON a.blk = b2.blk AND a.bv = b2.bv AND a.id < b2.id
          WHERE bit_count(xor(a.hv, b2.hv)) <= 10)
        SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b
    """


def q184_audio_fp(spark, sf):
    """Audio near-dup (operators/multimodal.py::audio_fingerprint64 +
    dhash_pairs): 100 synthetic 1360-sample clips (md5-derived PCM,
    identical in both engines) with planted exact twins (+1000),
    volume-doubled twins (+2000 — MUST collide exactly: energy-
    difference signs are scale-invariant, the Haitsma-Kalker
    property) and ±3-noise twins (+3000, small Hamming). Banded
    energy differences → 64-bit fingerprint → the same pigeonhole
    blocker as image dHash. The oracle re-derives samples, all 85
    band energies, the 64 difference bits, blocks and popcount."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.multimodal import (
        audio_fingerprint64,
        dhash_pairs,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    ids = docs.select(F.col("doc_id").cast("long").alias("media_id"))
    for off, pred in ((1000, 0), (2000, 1), (3000, 2)):
        ids = ids.unionByName(
            docs.where(F.col("doc_id") % 4 == pred).select(
                (F.col("doc_id") + off).cast("long").alias("media_id")
            )
        )
    b = F.col("media_id") % 1000
    mid = F.col("media_id")

    def draw(prefix, i):
        return _md5_lower64(
            F.concat(
                F.lit(prefix),
                b.cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        )

    samples = F.transform(
        F.sequence(F.lit(0), F.lit(17 * 80 - 1)),
        lambda i: (
            F.when(
                mid >= 3000,
                (draw("au:", i).bitwiseAND(F.lit(65535)) - 32768)
                + draw("nz:", i).bitwiseAND(F.lit(7))
                - 3,
            )
            .when(
                mid >= 2000,
                (draw("au:", i).bitwiseAND(F.lit(65535)) - 32768) * 2,
            )
            .otherwise(
                draw("au:", i).bitwiseAND(F.lit(65535)) - 32768
            )
        ).cast("long"),
    )
    # Parallelize the per-row-enormous projections (1360 samples x
    # ~2 draws x 8-term md5 expansion, then 85 band energies) across
    # a few tasks — the source parquet is a single row group — and
    # put the lineage/codegen barrier AFTER the fingerprint so the
    # expensive expression evaluates ONCE, not once per dhash_pairs
    # consumer.
    clips = ids.repartition(8).select(
        "media_id", samples.alias("samples")
    )
    hashed = clips.select(
        "media_id", audio_fingerprint64(F.col("samples")).alias("fp")
    ).localCheckpoint(eager=False)
    return dhash_pairs(
        hashed, hash_col="fp", max_hamming=10
    ).orderBy("id_a", "id_b")


def _audio_fp_oracle() -> str:
    from langscrape_spark.operators.multimodal import audio_fp_oracle_expr

    fp = audio_fp_oracle_expr("samples")
    return f"""
        -- Audio fingerprint re-derived end to end. Spark:
        -- q184_audio_fp.
        WITH ids AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents
          WHERE doc_id < 100
          UNION ALL SELECT CAST(doc_id + 1000 AS BIGINT)
          FROM documents WHERE doc_id < 100 AND doc_id % 4 = 0
          UNION ALL SELECT CAST(doc_id + 2000 AS BIGINT)
          FROM documents WHERE doc_id < 100 AND doc_id % 4 = 1
          UNION ALL SELECT CAST(doc_id + 3000 AS BIGINT)
          FROM documents WHERE doc_id < 100 AND doc_id % 4 = 2),
        clips AS (
          SELECT media_id,
                 list_transform(range(0, 1360), i -> CAST(
                   CASE
                     WHEN media_id >= 3000 THEN
                       (CAST(md5_number_lower('au:'
                          || CAST(media_id % 1000 AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)) % 65536 AS BIGINT)
                        - 32768)
                       + CAST(md5_number_lower('nz:'
                          || CAST(media_id % 1000 AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)) % 8 AS BIGINT) - 3
                     WHEN media_id >= 2000 THEN
                       (CAST(md5_number_lower('au:'
                          || CAST(media_id % 1000 AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)) % 65536 AS BIGINT)
                        - 32768) * 2
                     ELSE
                       CAST(md5_number_lower('au:'
                          || CAST(media_id % 1000 AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)) % 65536 AS BIGINT)
                       - 32768
                   END AS BIGINT)) AS samples
          FROM ids),
        hashed AS (SELECT media_id, {fp} AS fp FROM clips),
        blocks AS (
          SELECT media_id AS id, fp AS hv, bb.b AS blk,
                 CAST(((CAST(fp AS HUGEINT) + 18446744073709551616)
                       % 18446744073709551616)
                      // (CASE bb.b WHEN 0 THEN 1
                          WHEN 1 THEN 65536
                          WHEN 2 THEN 4294967296
                          ELSE 281474976710656 END)
                      % 65536 AS BIGINT) AS bv
          FROM hashed, (SELECT unnest(range(4)) AS b) bb),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                 CAST(bit_count(xor(a.hv, b2.hv)) AS INT) AS hamming
          FROM blocks a JOIN blocks b2
            ON a.blk = b2.blk AND a.bv = b2.bv AND a.id < b2.id
          WHERE bit_count(xor(a.hv, b2.hv)) <= 10)
        SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b
    """


def q185_video_framedup(spark, sf):
    """Video near-dup by shared frame fingerprints: 60 synthetic
    4-frame videos (16×16 md5 pixels per frame), planted exact twins
    (+1000) and ONE-FRAME-SHIFTED twins (+2000 — the re-encoded/
    trimmed copy case): per frame the q183 dHash, then videos pair
    when they share ≥ 2 distinct frame hashes — alignment-free by
    construction (set intersection, not positional compare), which is
    why shifted twins still match on their 3 overlapping frames. The
    frame-hash equi-join is the scale shape (hash-partitioned, no
    pairwise video join); the oracle re-derives frames, hashes, the
    pair join and the distinct-hash count."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.multimodal import dhash64

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 60)
    vids = (
        docs.select(F.col("doc_id").cast("long").alias("vid"))
        .unionByName(
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 1000).cast("long").alias("vid")
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 2000).cast("long").alias("vid")
            )
        )
    )
    frames = vids.select(
        "vid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("fidx")
    )
    b = F.col("vid") % 1000
    feff = F.col("fidx") + F.when(F.col("vid") >= 2000, 1).otherwise(0)
    px = F.transform(
        F.sequence(F.lit(0), F.lit(255)),
        lambda i: _md5_lower64(
            F.concat(
                F.lit("vf:"),
                b.cast("string"),
                F.lit(":"),
                feff.cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        )
        .bitwiseAND(F.lit(255))
        .cast("int"),
    )
    pix = frames.repartition(8).select(
        "vid", "fidx", px.alias("px")
    ).localCheckpoint(
        eager=False
    )
    hashed = pix.select(
        "vid", "fidx", dhash64(F.col("px"), 16, 16).alias("fh")
    )
    a = hashed.select(F.col("vid").alias("vid_a"), F.col("fh"))
    b2 = hashed.select(F.col("vid").alias("vid_b"), F.col("fh"))
    return (
        a.join(b2, "fh")
        .where(F.col("vid_a") < F.col("vid_b"))
        .groupBy("vid_a", "vid_b")
        .agg(F.count_distinct("fh").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("vid_a", "vid_b")
    )


def _video_framedup_oracle() -> str:
    from langscrape_spark.operators.multimodal import dhash_oracle_expr

    dh = dhash_oracle_expr("px", 16, 16)
    return f"""
        -- Frame-set video dedup re-derived. Spark:
        -- q185_video_framedup.
        WITH vids AS (
          SELECT CAST(doc_id AS BIGINT) AS vid FROM documents
          WHERE doc_id < 60
          UNION ALL SELECT CAST(doc_id + 1000 AS BIGINT)
          FROM documents WHERE doc_id < 60 AND doc_id % 3 = 0
          UNION ALL SELECT CAST(doc_id + 2000 AS BIGINT)
          FROM documents WHERE doc_id < 60 AND doc_id % 3 = 1),
        frames AS (
          SELECT vid, f.fidx,
                 CAST(f.fidx + CASE WHEN vid >= 2000 THEN 1 ELSE 0
                      END AS BIGINT) AS feff
          FROM vids, (SELECT unnest(range(4)) AS fidx) f),
        pix AS (
          SELECT vid, fidx,
                 list_transform(range(0, 256), i -> CAST(
                   md5_number_lower('vf:'
                     || CAST(vid % 1000 AS VARCHAR) || ':'
                     || CAST(feff AS VARCHAR) || ':'
                     || CAST(i AS VARCHAR)) % 256 AS INT)) AS px
          FROM frames),
        hashed AS (SELECT vid, fidx, {dh} AS fh FROM pix),
        pairs AS (
          SELECT a.vid AS vid_a, b.vid AS vid_b,
                 CAST(count(DISTINCT a.fh) AS BIGINT) AS n_shared
          FROM hashed a JOIN hashed b
            ON a.fh = b.fh AND a.vid < b.vid
          GROUP BY a.vid, b.vid)
        SELECT vid_a, vid_b, n_shared FROM pairs
        WHERE n_shared >= 2 ORDER BY vid_a, vid_b
    """


def q186_theta_snapshots(spark, sf):
    """Theta/KMV-sketch set operations between two crawl windows
    (operators/sketch.py::theta_set_stats, k=256): the page sets
    touched before/after Jan 16 are each reduced to their 256
    smallest distinct 63-bit md5 hashes; union/intersection/Jaccard
    estimates come from those two k-row frames alone — the
    cross-snapshot overlap question without ever joining the raw URL
    sets (mergeable-sketch contract: per-snapshot k-row parquet
    replaces the 10^10-url set). Exact counts ride along as the audit
    columns plus the intersection's relative error. The oracle
    re-derives the bottom-k sketches (md5_number_lower % 2^63, ORDER
    BY LIMIT k), the theta* gate and every estimate in SQL."""
    from langscrape_spark.operators.dedup import _md5_lower64
    from langscrape_spark.operators.sketch import theta_set_stats

    # _t_parallel: the testdata parquet is ONE row group; the md5
    # page projection is per-row expensive and must not run
    # single-core (see _t_parallel docstring).
    ev = _t_parallel(spark, sf, "events")
    page = F.concat(
        F.lit("page"),
        F.pmod(
            _md5_lower64(F.col("event_id").cast("string")).bitwiseAND(
                F.lit(0x7FFFFFFFFFFFFFFF)
            ),
            F.lit(6000),
        ).cast("string"),
    )
    # Materialize the page projection ONCE: _md5_lower64 expands its
    # md5 into 8 substring terms, so leaving this lazy would nest the
    # page-id md5 inside the sketch's own md5 — a ~64x-duplicated
    # expression tree that falls out of codegen (measured 16s for a
    # 50k-row count at sf0.1; checkpointed: sub-second).
    base = ev.select(page.alias("v"), F.col("ts")).localCheckpoint(
        eager=False
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    a = base.where(F.col("ts") < cut).select("v")
    b = base.where(F.col("ts") >= cut).select("v")
    stats = theta_set_stats(a, b, "v", k=256)
    ex = (
        a.distinct()
        .select("v", F.lit(1).alias("_ia"))
        .join(
            b.distinct().select("v", F.lit(1).alias("_ib")),
            "v",
            "full_outer",
        )
        .agg(
            F.count("_ia").alias("exact_a"),
            F.count("_ib").alias("exact_b"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(
                (
                    F.col("_ia").isNotNull() & F.col("_ib").isNotNull()
                ).cast("long")
            ).alias("exact_intersect"),
        )
    )
    return stats.crossJoin(ex).withColumn(
        "rel_err_intersect",
        F.round(
            F.abs(F.col("est_intersect") - F.col("exact_intersect"))
            / F.col("exact_intersect"),
            6,
        ),
    )


def _theta_snapshots_oracle() -> str:
    return """
        -- Theta/KMV sketch re-derivation (q186): 63-bit-masked
        -- md5_number_lower hashes, per-side bottom-256 DISTINCT,
        -- theta = kth smallest when full else NULL (exact side),
        -- theta* = min as a fraction of 2^63, strict < gate (the
        -- unbiased (k-1)/theta estimator), estimates = count/theta*.
        -- Spark: operators/sketch.py::theta_set_stats.
        WITH base AS (
          SELECT 'page' || CAST(CAST(
                   CAST(md5_number_lower(CAST(event_id AS VARCHAR))
                        AS HUGEINT)
                   % (CAST(1 AS HUGEINT) << 63) % 6000 AS BIGINT)
                 AS VARCHAR) AS v, ts
          FROM events),
        a AS (SELECT DISTINCT v FROM base
              WHERE ts < TIMESTAMP '2024-01-16'),
        b AS (SELECT DISTINCT v FROM base
              WHERE ts >= TIMESTAMP '2024-01-16'),
        ha AS (SELECT CAST(CAST(md5_number_lower(v) AS HUGEINT)
                 % (CAST(1 AS HUGEINT) << 63) AS BIGINT) AS h
               FROM a ORDER BY h LIMIT 256),
        hb AS (SELECT CAST(CAST(md5_number_lower(v) AS HUGEINT)
                 % (CAST(1 AS HUGEINT) << 63) AS BIGINT) AS h
               FROM b ORDER BY h LIMIT 256),
        ta AS (SELECT count(*) AS na, CASE WHEN count(*) < 256
                 THEN NULL ELSE max(h) END AS tha FROM ha),
        tb AS (SELECT count(*) AS nb, CASE WHEN count(*) < 256
                 THEN NULL ELSE max(h) END AS thb FROM hb),
        th AS (SELECT na, nb, tha, thb,
                least(coalesce(CAST(tha AS DOUBLE)
                        / 9223372036854775808.0, 1.0),
                      coalesce(CAST(thb AS DOUBLE)
                        / 9223372036854775808.0, 1.0)) AS theta_frac,
                coalesce(least(tha, thb), greatest(tha, thb))
                  AS theta_raw
               FROM ta CROSS JOIN tb),
        uni AS (SELECT DISTINCT h FROM
                (SELECT h FROM ha UNION ALL SELECT h FROM hb)),
        ib AS (SELECT ha.h FROM ha JOIN hb ON ha.h = hb.h),
        cu AS (SELECT count(*) AS cu FROM uni, th
               WHERE th.theta_raw IS NULL OR uni.h < th.theta_raw),
        ci AS (SELECT count(*) AS ci FROM ib, th
               WHERE th.theta_raw IS NULL OR ib.h < th.theta_raw),
        ca AS (SELECT count(*) AS ca FROM ha, th
               WHERE th.theta_raw IS NULL OR ha.h < th.theta_raw),
        cb AS (SELECT count(*) AS cb FROM hb, th
               WHERE th.theta_raw IS NULL OR hb.h < th.theta_raw),
        ex AS (SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM a) AS exact_a,
                (SELECT CAST(count(*) AS BIGINT) FROM b) AS exact_b,
                (SELECT CAST(count(*) AS BIGINT) FROM
                  (SELECT v FROM a UNION SELECT v FROM b))
                  AS exact_union,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM a JOIN b USING (v)) AS exact_intersect)
        SELECT CAST(256 AS INT) AS k,
               CAST(na >= 256 AS INT) AS full_a,
               CAST(nb >= 256 AS INT) AS full_b,
               round(theta_frac, 6) AS theta_star,
               round(ca / theta_frac, 6) AS est_a,
               round(cb / theta_frac, 6) AS est_b,
               round(cu / theta_frac, 6) AS est_union,
               round(ci / theta_frac, 6) AS est_intersect,
               round(CASE WHEN cu > 0 THEN CAST(ci AS DOUBLE) / cu
                     ELSE 0.0 END, 6) AS est_jaccard,
               exact_a, exact_b, exact_union, exact_intersect,
               round(abs(round(ci / theta_frac, 6) - exact_intersect)
                     / exact_intersect, 6) AS rel_err_intersect
        FROM th, cu, ci, ca, cb, ex
    """


def q187_cuckoo_revisit(spark, sf):
    """Cuckoo-filter seen-set screening with revisit deletions
    (scheduler/cuckoo.py — the deletion-capable half of the north
    rule's "bloom/cuckoo URL-seen set"): the crawled url set builds
    the partitioned filter, revisit-due urls (doc_id % 7 == 0) are
    DELETED from it, then a candidate batch (a slice of known urls +
    a batch of fresh ones) is screened — cuckoo maybe/no first, exact
    anti-join against the effective seen set (seen minus due) only
    for the maybes. Output: every candidate with its admission flag.
    The oracle is the plain effective-seen anti-join — equality
    proves the screen admits EXACTLY the not-effectively-seen set
    end-to-end (a filter false negative would wrongly admit a seen
    url and break parity). Filter-health and FPP behavior are pinned
    in tests/test_cuckoo.py."""
    from langscrape_spark.scheduler.cuckoo import (
        CuckooConfig,
        cuckoo_build,
        cuckoo_probe,
        cuckoo_update,
    )

    cfg = CuckooConfig(n_buckets=16, m=4096, b=4, fbits=16)
    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example/d"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select(url.alias("url"), "doc_id")
    seen = urls.select("url")
    due = urls.where(F.col("doc_id") % 7 == 0).select("url")
    cand = (
        urls.where(F.col("doc_id") % 3 == 0)
        .select("url")
        .unionByName(
            docs.where(F.col("doc_id") % 5 == 0).select(
                F.concat(
                    F.lit("https://h"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit(".example/n/"),
                    F.col("doc_id").cast("string"),
                ).alias("url")
            )
        )
    )
    state = cuckoo_update(
        cuckoo_build(seen, cfg), None, cfg, delete_urls=due
    )
    probed = cuckoo_probe(cand, state, cfg)
    effective = seen.join(due, "url", "left_anti")
    definitely_new = probed.where(~F.col("maybe_seen")).select("url")
    checked_new = (
        probed.where(F.col("maybe_seen"))
        .select("url")
        .join(effective, "url", "left_anti")
    )
    admitted = (
        definitely_new.unionByName(checked_new)
        .withColumn("admitted", F.lit(1))
    )
    return (
        cand.join(admitted, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("admitted"), F.lit(0)).cast("int").alias(
                "admitted"
            ),
        )
        .orderBy("url")
    )


def _cuckoo_revisit_oracle() -> str:
    return """
        -- Effective-seen admission re-derived relationally: admitted
        -- iff the candidate is NOT in (seen MINUS revisit-due). The
        -- Spark side routes through the partitioned cuckoo filter
        -- (build -> delete due -> probe -> exact check on maybes);
        -- parity proves the screen is admission-exact end-to-end.
        WITH urls AS (
          SELECT 'https://h' || CAST(doc_id % 97 AS VARCHAR)
                 || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
                 doc_id
          FROM documents),
        cand AS (
          SELECT url FROM urls WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 'https://h' || CAST(doc_id % 97 AS VARCHAR)
                 || '.example/n/' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 5 = 0),
        eff AS (SELECT url FROM urls WHERE doc_id % 7 <> 0)
        SELECT c.url,
               CAST(CASE WHEN e.url IS NULL THEN 1 ELSE 0 END AS INT)
                 AS admitted
        FROM cand c LEFT JOIN eff e ON c.url = e.url
        ORDER BY c.url
    """


def q188_record_linkage(spark, sf):
    """Fellegi-Sunter probabilistic record linkage across two crawl
    snapshots (operators/linkage.py::fs_link_pairs): snapshot B is a
    deterministic re-crawl of half the corpus with field drift (lang
    flips on doc_id%6, size-bucket drift on doc_id%10, title edits on
    doc_id%14); pairs block on (source, title-prefix-8) — the
    quadratic-explosion guard — and score as exact integer micro-unit
    sums of log2(m/u) agreement weights, classified link / possible /
    non_link. The oracle replays the same blocking join with the SAME
    Python-rounded weight literals, so the parity check covers the
    sentinel NULL handling, the weight table and both thresholds."""
    from langscrape_spark.operators.linkage import FsField, fs_link_pairs

    fields = [
        FsField("title", 0.95, 0.01),
        FsField("lang_f", 0.98, 0.30),
        FsField("len_bucket", 0.90, 0.10),
    ]
    docs = _t(spark, sf, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        "source",
        F.substring("text", 1, 8).alias("pfx"),
        F.substring("text", 1, 40).alias("title"),
        F.col("lang").alias("lang_f"),
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
    )
    b = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("id_b"),
            "source",
            F.substring("text", 1, 8).alias("pfx"),
            F.when(
                F.col("doc_id") % 14 == 0,
                F.concat(F.substring("text", 1, 40), F.lit("X")),
            )
            .otherwise(F.substring("text", 1, 40))
            .alias("title"),
            F.when(F.col("doc_id") % 6 == 0, F.lit("xx"))
            .otherwise(F.col("lang"))
            .alias("lang_f"),
            (
                F.floor(F.col("n_chars") / 100)
                + F.when(F.col("doc_id") % 10 == 0, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("len_bucket"),
        )
    )
    return fs_link_pairs(
        a,
        b,
        "id_a",
        "id_b",
        ["source", "pfx"],
        fields,
        link_ge_micro=6_000_000,
        nonlink_le_micro=0,
    ).orderBy("id_a", "id_b")


def _record_linkage_oracle() -> str:
    from langscrape_spark.operators.linkage import (
        FsField,
        fs_oracle_weights,
    )

    w = fs_oracle_weights(
        [
            FsField("title", 0.95, 0.01),
            FsField("lang_f", 0.98, 0.30),
            FsField("len_bucket", 0.90, 0.10),
        ]
    )
    wt_a, wt_d = w["title"]
    wl_a, wl_d = w["lang_f"]
    wb_a, wb_d = w["len_bucket"]
    return f"""
        -- Fellegi-Sunter replay: same snapshot-B derivation, same
        -- (source, prefix-8) blocking join, same integer micro-unit
        -- weight literals (python-rounded once, shared with Spark via
        -- fs_oracle_weights), same thresholds. NULL fields compare
        -- through the '<NULL-FS>' sentinel exactly like the operator.
        WITH a AS (
          SELECT doc_id AS id_a, source,
                 substr(text, 1, 8) AS pfx,
                 coalesce(substr(text, 1, 40), '<NULL-FS>') AS title,
                 coalesce(lang, '<NULL-FS>') AS lang_f,
                 CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket
          FROM documents),
        b AS (
          SELECT doc_id + 100000 AS id_b, source,
                 substr(text, 1, 8) AS pfx,
                 coalesce(CASE WHEN doc_id % 14 = 0
                   THEN substr(text, 1, 40) || 'X'
                   ELSE substr(text, 1, 40) END, '<NULL-FS>') AS title,
                 coalesce(CASE WHEN doc_id % 6 = 0 THEN 'xx'
                   ELSE lang END, '<NULL-FS>') AS lang_f,
                 CAST(floor(n_chars / 100.0) AS BIGINT)
                   + CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END
                   AS len_bucket
          FROM documents WHERE doc_id % 2 = 0),
        scored AS (
          SELECT a.id_a, b.id_b,
                 (CASE WHEN a.title = b.title
                   THEN CAST({wt_a} AS BIGINT)
                   ELSE CAST({wt_d} AS BIGINT) END
                + CASE WHEN a.lang_f = b.lang_f
                   THEN CAST({wl_a} AS BIGINT)
                   ELSE CAST({wl_d} AS BIGINT) END
                + CASE WHEN coalesce(CAST(a.len_bucket AS VARCHAR),
                                     '<NULL-FS>')
                         = coalesce(CAST(b.len_bucket AS VARCHAR),
                                    '<NULL-FS>')
                   THEN CAST({wb_a} AS BIGINT)
                   ELSE CAST({wb_d} AS BIGINT) END) AS score_micro
          FROM a JOIN b
            ON a.source = b.source AND a.pfx = b.pfx)
        SELECT id_a, id_b, score_micro,
               CASE WHEN score_micro >= 6000000 THEN 'link'
                    WHEN score_micro <= 0 THEN 'non_link'
                    ELSE 'possible' END AS decision
        FROM scored ORDER BY id_a, id_b
    """


_BLOCKLIST_PHRASES = [
    "fast table",
    "agg row scan",
    "big vector",
    "slow filter",
    "customer query line",
    "window table table",
    "nonexistent phrase xyz",
]


def q189_blocklist(spark, sf):
    """Phrase-blocklist content gate (operators/blocklist.py::
    blocklist_matches — the C4 bad-words mechanism): word-boundary
    phrase matching over normalized text via the lossless first-token
    posting join (docs explode once to distinct tokens; phrases probe
    by first token; survivors verify with one JVM contains — no UDF,
    phrase side broadcast here, shuffle-joinable at millions of
    phrases). Output: every blocked doc with hit count and the sorted
    comma-joined phrase list. The oracle is the NAIVE doc x phrase
    cross join — equality proves the prune drops zero true matches."""
    from langscrape_spark.operators.blocklist import blocklist_matches

    phrases = spark.createDataFrame(
        [(p,) for p in _BLOCKLIST_PHRASES], ["phrase"]
    )
    docs = _t(spark, sf, "documents")
    return (
        blocklist_matches(docs, "doc_id", "text", phrases)
        .select(
            "doc_id",
            "n_blocked",
            F.array_join("phrases_hit", ",").alias("phrases_hit"),
        )
        .orderBy("doc_id")
    )


def _blocklist_oracle() -> str:
    vals = ", ".join(f"('{p}')" for p in _BLOCKLIST_PHRASES)
    return f"""
        -- Naive blocklist evaluation: every (doc, phrase) pair gets
        -- the padded word-boundary containment test directly — no
        -- first-token prune. Parity with the Spark posting-join plan
        -- proves the prune is lossless. Same normalization both
        -- sides: lower, non-alnum runs -> single space, trim, pad.
        WITH ph(p) AS (VALUES {vals}),
        docs AS (
          SELECT doc_id,
                 ' ' || trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')) || ' ' AS pt
          FROM documents),
        hits AS (
          SELECT doc_id, p FROM docs, ph
          WHERE length(pt) > 2
            AND position(' ' || p || ' ' IN pt) > 0)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked,
               string_agg(p, ',' ORDER BY p) AS phrases_hit
        FROM hits GROUP BY doc_id ORDER BY doc_id
    """


def q190_bitext_mining(spark, sf):
    """CCAligned-style bitext candidate mining (operators/bitext.py::
    bitext_url_pairs): each document is published under a
    language-tagged URL (/en/, /fr/, /de/, /es/ by doc_id mod 4;
    article id = doc_id div 4), candidate translation pairs come from
    ONE self-join on the language-stripped URL key, and the integer
    length-ratio gate (<= 2x both ways, no float logs) rides along as
    a column. The oracle re-derives the lang extraction, the '/*/'
    key replacement, the ordered pairing and the gate in SQL."""
    from langscrape_spark.operators.bitext import bitext_url_pairs

    docs = _t(spark, sf, "documents")
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("fr"), F.lit("de"), F.lit("es")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    art = F.floor(F.col("doc_id") / 4)
    pages = docs.select(
        F.concat(
            F.lit("https://h"),
            (art % 40).cast("string"),
            F.lit(".example/"),
            lang,
            F.lit("/art/"),
            art.cast("string"),
        ).alias("url"),
        "n_chars",
    )
    return bitext_url_pairs(pages).orderBy(
        "lang_key", "lang_a", "lang_b", "url_a", "url_b"
    )


def _bitext_oracle() -> str:
    return """
        -- CCAligned pairing replayed: same lang-by-doc_id%4 URL
        -- synthesis, regexp lang extraction + '/*/' key replacement,
        -- self-join with lang_a < lang_b, integer 2x ratio gate.
        -- Spark: operators/bitext.py::bitext_url_pairs.
        WITH pages AS (
          SELECT 'https://h' || CAST((doc_id // 4) % 40 AS VARCHAR)
                 || '.example/'
                 || (['en','fr','de','es'])[(doc_id % 4) + 1]
                 || '/art/' || CAST(doc_id // 4 AS VARCHAR) AS url,
                 n_chars
          FROM documents),
        keyed AS (
          SELECT regexp_replace(url,
                   '/([a-z]{2})(-[a-z]{2})?/', '/*/', 'g') AS lang_key,
                 regexp_extract(url,
                   '/([a-z]{2})(-[a-z]{2})?/', 1) AS lang,
                 url, CAST(n_chars AS BIGINT) AS n
          FROM pages
          WHERE regexp_extract(url,
                  '/([a-z]{2})(-[a-z]{2})?/', 1) <> '')
        SELECT a.lang_key,
               a.lang AS lang_a, b.lang AS lang_b,
               a.url AS url_a, b.url AS url_b,
               a.n AS len_a, b.n AS len_b,
               CAST(a.n <= 2 * b.n AND b.n <= 2 * a.n AS INT)
                 AS ok_ratio
        FROM keyed a JOIN keyed b ON a.lang_key = b.lang_key
        WHERE a.lang < b.lang
        ORDER BY a.lang_key, lang_a, lang_b, url_a, url_b
    """


def q191_k_anonymity(spark, sf):
    """k-anonymity / l-diversity release audit (operators/privacy.py
    ::k_anonymity_summary): quasi-identifiers (source, 50-char size
    bucket), sensitive attribute = lang, k=5. One hash-agg over the
    QI tuple (map-side partials, no windows/joins) yields the corpus
    k (smallest group), violating group/row counts, the violating-row
    fraction and distinct-l. Oracle: the same two-level GROUP BY in
    SQL."""
    from langscrape_spark.operators.privacy import k_anonymity_summary

    docs = _t(spark, sf, "documents").select(
        "source",
        F.floor(F.col("n_chars") / 50).alias("len_bucket"),
        "lang",
    )
    return k_anonymity_summary(
        docs, ["source", "len_bucket"], k=5, sensitive_col="lang"
    )


def _k_anonymity_oracle() -> str:
    return """
        -- k-anonymity summary re-derived: per-QI-group counts +
        -- distinct sensitive values, then one aggregate row. Spark:
        -- operators/privacy.py::k_anonymity_summary (k=5).
        WITH groups AS (
          SELECT source, CAST(floor(n_chars / 50.0) AS BIGINT)
                   AS len_bucket,
                 CAST(count(*) AS BIGINT) AS group_rows,
                 CAST(count(DISTINCT lang) AS BIGINT) AS l
          FROM documents GROUP BY 1, 2)
        SELECT CAST(sum(group_rows) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(group_rows) AS BIGINT) AS k_actual,
               CAST(sum(CASE WHEN group_rows < 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS violating_groups,
               CAST(sum(CASE WHEN group_rows < 5 THEN group_rows
                    ELSE 0 END) AS BIGINT) AS violating_rows,
               CAST(min(l) AS BIGINT) AS l_actual,
               round(sum(CASE WHEN group_rows < 5 THEN group_rows
                     ELSE 0 END) * 1.0 / sum(group_rows), 6)
                 AS violating_frac
        FROM groups
    """


def q192_range_partitioner(spark, sf):
    """Deterministic sample-based range-partitioner audit (operators/
    layout.py::range_partition_audit — the RangePartitioner mechanism
    behind every distributed sort, made reproducible): systematic
    md5 sample (pmod 7 == 0) of the 12-char text-prefix keys, exact
    rank-pick boundaries for 8 partitions, then the TRUE per-range
    row counts and skew ratio over the whole corpus via a broadcast
    boundary array (strictly-less count assignment; only the SAMPLE
    is ever sorted). Oracle replays sample, rank picks and the
    boundary-count assignment in SQL."""
    from langscrape_spark.operators.layout import range_partition_audit

    docs = _t(spark, sf, "documents").select(
        F.substring("text", 1, 12).alias("k12")
    )
    return range_partition_audit(docs, "k12", n_parts=8, sample_mod=7)


def _range_partitioner_oracle() -> str:
    return """
        -- RangePartitioner audit replay: 63-bit-masked md5 systematic
        -- sample (mod 7), boundaries at ranks ceil(i*n/8) of the
        -- sorted sample (deduped), partition = count of boundaries
        -- strictly below the key, exact counts + skew = max*8/total.
        -- Spark: operators/layout.py::range_partition_audit.
        WITH src AS (
          SELECT substr(text, 1, 12) AS k FROM documents
          WHERE substr(text, 1, 12) IS NOT NULL),
        samp AS (
          SELECT k FROM src
          WHERE CAST(CAST(md5_number_lower(k) AS HUGEINT)
                % (CAST(1 AS HUGEINT) << 63) % 7 AS BIGINT) = 0),
        ranked AS (
          SELECT k, row_number() OVER (ORDER BY k) AS rn FROM samp),
        ns AS (SELECT max(rn) AS n FROM ranked),
        bounds AS (
          SELECT DISTINCT r.k AS b FROM ranked r, ns
          WHERE EXISTS (
            SELECT 1 FROM range(1, 8) t(i)
            WHERE r.rn = CAST(ceil(i * ns.n / 8.0) AS INT))),
        assigned AS (
          SELECT (SELECT count(*) FROM bounds WHERE b < src.k)
                   AS part
          FROM src),
        counts AS (
          SELECT CAST(part AS INT) AS part,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM assigned GROUP BY part),
        tot AS (SELECT sum(n_rows) AS t, max(n_rows) AS mx FROM counts)
        SELECT part, n_rows, round(mx * 8.0 / t, 6) AS skew
        FROM counts, tot ORDER BY part
    """


_HOSTGRAPH_OLD_RAW_SQL = """
              SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
                     'h' || CAST((doc_id % 20
                                  + (doc_id // 20) * (doc_id // 20)) % 20
                            AS VARCHAR) AS dst
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT 'h' || CAST((doc_id % 20 * 7 + 3) % 20 AS VARCHAR),
                     'h' || CAST((doc_id % 20 * 13 + 5) % 20 AS VARCHAR)
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT 'hubx', 'h' || CAST(r AS VARCHAR) FROM range(20) t(r)
              UNION ALL
              SELECT 'h' || CAST(r AS VARCHAR), 'sinkx' FROM range(20) t(r)
"""


def q193_incremental_pagerank(spark, sf):
    """Incremental warm-start PageRank (operators/hostrank.py::
    pagerank_warm): phase 1 runs cold PageRank (6 rounds) on LAST
    round's link snapshot (organic edges from docs with doc_id%5!=0
    plus the planted hub/sink); phase 2 re-ranks the CURRENT full
    graph in only 3 warm rounds initialized from phase 1's vector
    (new hosts enter at 1/n, vector L1-renormalized) — the per-crawl
    -round production shape that replaces a 12-round cold rerun.
    Output: host, previous rank (NULL for new hosts), warm rank, and
    the movement |delta|. The oracle unrolls BOTH phases as
    MATERIALIZED CTE chains including the renormalization and
    per-round dangling-mass terms."""
    from langscrape_spark.operators.hostrank import pagerank_warm

    k = F.col("doc_id") % 20
    j = F.floor(F.col("doc_id") / 20)

    def organic(docs):
        return docs.select(
            F.concat(F.lit("h"), k.cast("string")).alias("src_host"),
            F.concat(
                F.lit("h"), ((k + j * j) % 20).cast("string")
            ).alias("dst_host"),
        ).unionByName(
            docs.select(
                F.concat(
                    F.lit("h"), ((k * 7 + 3) % 20).cast("string")
                ).alias("src_host"),
                F.concat(
                    F.lit("h"), ((k * 13 + 5) % 20).cast("string")
                ).alias("dst_host"),
            )
        )

    docs = _t(spark, sf, "documents")
    hub = spark.range(20).select(
        F.lit("hubx").alias("src_host"),
        F.concat(F.lit("h"), F.col("id").cast("string")).alias(
            "dst_host"
        ),
    )
    sink = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias(
            "src_host"
        ),
        F.lit("sinkx").alias("dst_host"),
    )
    old_edges = (
        organic(docs.where(F.col("doc_id") % 5 != 0))
        .unionByName(hub)
        .unionByName(sink)
    )
    # This round also DISCOVERED brand-new hosts (hnew0..hnew2) —
    # they exercise the 1/n cold-entry path of the warm start.
    discovered = docs.where(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("h"), k.cast("string")).alias("src_host"),
        F.concat(
            F.lit("hnew"), (F.col("doc_id") % 3).cast("string")
        ).alias("dst_host"),
    )
    new_edges = (
        organic(docs)
        .unionByName(hub)
        .unionByName(sink)
        .unionByName(discovered)
    )
    prev = pagerank_warm(old_edges, None, iterations=6)
    warm = pagerank_warm(new_edges, prev, iterations=3)
    return (
        warm.join(
            prev.select("host", F.col("rank").alias("prev_rank")),
            "host",
            "left",
        )
        .select(
            "host",
            "prev_rank",
            "rank",
            F.round(
                F.abs(
                    F.col("rank") - F.coalesce("prev_rank", F.lit(0.0))
                ),
                6,
            ).alias("moved"),
        )
        .orderBy("host")
    )


def _incremental_pagerank_oracle() -> str:
    from langscrape_spark.operators.hostrank import (
        incremental_pagerank_oracle_sql,
    )

    new_raw = (
        _HOSTGRAPH_RAW_SQL
        + """
              UNION ALL
              SELECT 'h' || CAST(doc_id % 20 AS VARCHAR),
                     'hnew' || CAST(doc_id % 3 AS VARCHAR)
              FROM documents WHERE doc_id % 5 = 0
        """
    )
    return incremental_pagerank_oracle_sql(
        _HOSTGRAPH_OLD_RAW_SQL,
        new_raw,
        it_old=6,
        it_warm=3,
    )


def q194_hard_negatives(spark, sf):
    """Contrastive hard-negative mining (operators/ann.py::
    hard_negative_pairs): per anchor, the 3 most-similar
    DIFFERENT-label vectors inside its IVF cluster with round-6
    cosine in [0.05, 0.35) — informative negatives below the
    near-dup band where a "negative" is likely a mislabeled
    positive (the SimCLR/DPR recipe). k=16 / 2 Lloyd iterations
    matches the frozen q35 fixture, so the oracle reads the pinned
    (vec_id, cluster) map and re-derives the different-label pair
    join, the banded round-6 cosine and the per-anchor top-3 window
    in SQL — driver parity pins the live Lloyd/assign path AND the
    mining logic."""
    from langscrape_spark.operators.ann import hard_negative_pairs

    emb = _t(spark, sf, "embeddings")
    return hard_negative_pairs(
        emb, k=16, iterations=2, lo=0.05, hi=0.35, per_anchor=3
    ).orderBy("vec_id", "rk")


def _hard_negatives_oracle() -> str:
    return f"""
        -- Hard-negative mining over the FROZEN q35 IVF cluster map:
        -- different-label within-cluster pairs, round-6 cosine band
        -- [0.05, 0.35), per-anchor top-3 by (sim DESC, neg_id).
        -- Spark: operators/ann.py::hard_negative_pairs.
        WITH a AS (
          SELECT vec_id, bucket
          FROM read_parquet('{_fixture("q35_ivf_assign.parquet")}')),
        j AS (
          SELECT a.vec_id AS id, a.bucket, e.label,
                 list_transform(e.embedding,
                                x -> CAST(x AS DOUBLE)) AS v
          FROM a JOIN embeddings e ON a.vec_id = e.vec_id),
        sims AS (
          SELECT x.id AS vec_id, y.id AS neg_id,
            round(
              list_sum(list_transform(range(1, len(x.v) + 1),
                                      i -> x.v[i] * y.v[i]))
              / (sqrt(list_sum(list_transform(x.v, q -> q*q)))
                 * sqrt(list_sum(list_transform(y.v, q -> q*q)))),
            6) AS sim
          FROM j x JOIN j y
            ON x.bucket = y.bucket AND x.id <> y.id
           AND x.label <> y.label),
        band AS (
          SELECT * FROM sims
          WHERE NOT isnan(sim) AND sim >= 0.05 AND sim < 0.35)
        SELECT vec_id, neg_id, sim,
               CAST(row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, neg_id) AS INT) AS rk
        FROM band QUALIFY rk <= 3 ORDER BY vec_id, rk
    """


def q195_oph_minhash(spark, sf):
    """One-Permutation MinHash with rotation densification
    (operators/dedup.py::oph_signature_table — ONE md5 per shingle
    instead of k, the signature-building CPU saver at corpus scale;
    Li/Owen/Zhang 2012, Shrivastava/Li 2014): every doc plus a
    deterministic mutated twin (1..8 appended filler words) gets a
    32-slot OPH signature; planted dup pairs (doc, twin) and
    unrelated pairs (doc, previous doc's twin) are scored
    est_J = equal-slots/32 next to the EXACT shingle Jaccard and the
    absolute error. The oracle replays the whole decomposition in
    SQL — hash scatter, per-bin min, doubled-grid circular
    densification with XOR distance mixing, slot-equality counts and
    the exact list-intersection Jaccard."""
    from langscrape_spark.operators.dedup import (
        oph_jaccard_estimates,
        oph_signature_table,
        shingles,
    )

    # _t_parallel: one md5 per shingle is the OPH selling point, but
    # 300k md5-lower64 evaluations on the testdata's single-row-group
    # parquet would run single-core (see _t_parallel docstring).
    docs = _t_parallel(spark, sf, "documents")
    base = docs.select(F.col("doc_id").alias("id"), "text")
    pad = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (F.col("doc_id") % 8 + 1).cast("int")),
            lambda i: F.concat(F.lit("zz"), i.cast("string")),
        ),
        " ",
    )
    mutant = docs.select(
        (F.col("doc_id") + 100000).alias("id"),
        F.concat(F.col("text"), F.lit(" "), pad).alias("text"),
    )
    # One materialization: the signature table feeds BOTH sides of
    # the pair join (sa and sb) — uncheckpointed, the whole
    # explode+hash+densify subtree would execute twice.
    corpus = base.unionByName(mutant)
    sigs = oph_signature_table(
        corpus, "id", "text", k_slots=32
    ).localCheckpoint(eager=False)
    dup_pairs = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
        F.lit("dup").alias("kind"),
    )
    other_pairs = docs.where(
        (F.col("doc_id") % 7 == 1) & (F.col("doc_id") >= 1)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - 1 + 100000).alias("id_b"),
        F.lit("other").alias("kind"),
    )
    pairs = dup_pairs.unionByName(other_pairs)
    est = oph_jaccard_estimates(
        pairs.select("id_a", "id_b"), sigs, "id", 32
    )
    sha = corpus.select(
        F.col("id").alias("id_a"),
        shingles(F.col("text")).alias("_sha"),
    )
    shb = corpus.select(
        F.col("id").alias("id_b"),
        shingles(F.col("text")).alias("_shb"),
    )
    exact = (
        pairs.join(sha, "id_a")
        .join(shb, "id_b")
        .select(
            "id_a",
            "id_b",
            "kind",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("_sha", "_shb")),
                    F.size(F.array_union("_sha", "_shb")),
                ),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return (
        exact.join(est, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "kind",
            "slots_equal",
            "est_jaccard",
            "exact_jaccard",
            F.round(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6
            ).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


def _oph_minhash_oracle() -> str:
    return f"""
        -- OPH replay: one md5 per shingle, 32-bin scatter, per-bin
        -- min, doubled-grid circular densification (first_value
        -- IGNORE NULLS forward window), XOR borrow-distance mixing,
        -- equal-slot counts / 32, exact list-intersection Jaccard.
        -- Spark: operators/dedup.py::oph_signature_table.
        WITH base AS (
          SELECT doc_id AS id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000,
                 text || ' ' || array_to_string(
                   list_transform(range(1, (doc_id % 8) + 2),
                                  i -> 'zz' || CAST(i AS VARCHAR)), ' ')
          FROM documents),
        shing AS (
          SELECT id, {_SHINGLES3} AS sh
          FROM (SELECT id, {_TOKENS} AS tok FROM base)),
        hashes AS (
          SELECT id, CAST(CAST(md5_number_lower(s) AS HUGEINT)
                 % (CAST(1 AS HUGEINT) << 63) AS BIGINT) AS h
          FROM (SELECT id, unnest(sh) AS s FROM shing)),
        binned AS (
          SELECT id, CAST(h % 32 AS INT) AS slot, min(h) AS v
          FROM hashes GROUP BY id, h % 32),
        grid AS (
          SELECT id, CAST(s2 AS INT) AS slot2
          FROM shing, range(0, 64) t(s2)),
        filled AS (
          SELECT g.id, g.slot2, b.v
          FROM grid g LEFT JOIN
            (SELECT id, slot AS slot2, v FROM binned
             UNION ALL
             SELECT id, slot + 32, v FROM binned) b
            ON g.id = b.id AND g.slot2 = b.slot2),
        dense AS (
          SELECT id, slot2,
                 first_value(v IGNORE NULLS) OVER w AS bv,
                 first_value(CASE WHEN v IS NOT NULL THEN slot2 END
                             IGNORE NULLS) OVER w AS bs
          FROM filled
          WINDOW w AS (PARTITION BY id ORDER BY slot2
                       ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING)),
        sigs AS (
          SELECT id, slot2 AS slot,
                 xor(bv, CAST(bs - slot2 AS BIGINT)) AS sig
          FROM dense WHERE slot2 < 32),
        pairs AS (
          SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
                 'dup' AS kind
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, doc_id - 1 + 100000, 'other'
          FROM documents WHERE doc_id % 7 = 1 AND doc_id >= 1),
        eq AS (
          SELECT p.id_a, p.id_b,
                 CAST(sum(CASE WHEN a.sig IS NOT NULL
                           AND b.sig IS NOT NULL
                           AND a.sig = b.sig THEN 1 ELSE 0 END)
                      AS BIGINT) AS slots_equal
          FROM pairs p
          JOIN sigs a ON a.id = p.id_a
          JOIN sigs b ON b.id = p.id_b AND b.slot = a.slot
          GROUP BY p.id_a, p.id_b),
        ex AS (
          SELECT p.id_a, p.id_b, p.kind,
                 round(CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0
                       THEN NULL
                       ELSE len(list_intersect(sa.sh, sb.sh)) * 1.0
                            / len(list_distinct(sa.sh || sb.sh)) END,
                       6) AS exact_jaccard
          FROM pairs p
          JOIN shing sa ON sa.id = p.id_a
          JOIN shing sb ON sb.id = p.id_b)
        SELECT ex.id_a, ex.id_b, ex.kind, eq.slots_equal,
               round(eq.slots_equal / 32.0, 6) AS est_jaccard,
               ex.exact_jaccard,
               round(abs(round(eq.slots_equal / 32.0, 6)
                     - ex.exact_jaccard), 6) AS abs_err
        FROM ex JOIN eq ON ex.id_a = eq.id_a AND ex.id_b = eq.id_b
        ORDER BY ex.id_a, ex.id_b
    """


def q196_waterfill(spark, sf):
    """Max-min fair (water-filling) crawl-budget allocation
    (operators/sharding.py::waterfill_allocation — the fairness
    complement of q139's proportional Hamilton split): per-host
    frontier backlogs (docs per (source, doc_id%31) cell) share an
    integer budget of 60% of total demand; the water level is found
    over the DISTINCT-demand distribution (one window over demand
    values, never a per-host sort), leftover units go to the
    lowest-host-id unsatisfied hosts. The oracle re-derives the
    cumulative distribution, the level fit, the integer
    level/remainder closed form and the per-host allocation."""
    from langscrape_spark.operators.sharding import waterfill_allocation

    docs = _t(spark, sf, "documents")
    hosts = docs.groupBy(
        F.concat(
            F.col("source"),
            F.lit("-"),
            (F.col("doc_id") % 31).cast("string"),
        ).alias("host")
    ).agg(F.count(F.lit(1)).alias("demand"))
    budget = docs.count() * 3 // 5  # bounded scalar, mirrored in SQL
    return waterfill_allocation(hosts, "host", "demand", budget).orderBy(
        "host"
    )


def _waterfill_oracle() -> str:
    return """
        -- Water-filling replay: distinct-demand cumulative
        -- distribution, largest fitting level v0, integer
        -- level/remainder closed form, per-host allocation with
        -- host-ascending remainder. Spark: operators/sharding.py::
        -- waterfill_allocation (budget = 3/5 of total docs).
        WITH b AS (
          SELECT CAST(count(*) * 3 // 5 AS BIGINT) AS budget
          FROM documents),
        hosts AS (
          SELECT source || '-' || CAST(doc_id % 31 AS VARCHAR) AS host,
                 CAST(count(*) AS BIGINT) AS demand
          FROM documents GROUP BY 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(demand) AS BIGINT) AS d_tot FROM hosts),
        dist AS (
          SELECT demand, CAST(count(*) AS BIGINT) AS cnt
          FROM hosts GROUP BY demand),
        lv AS (
          SELECT demand,
                 sum(demand * cnt) OVER w AS cum_d,
                 sum(cnt) OVER w AS cum_n
          FROM dist
          WINDOW w AS (ORDER BY demand ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW)),
        fits AS (
          SELECT lv.demand AS v0, lv.cum_d AS cd0, lv.cum_n AS cn0
          FROM lv, tot, b
          WHERE lv.cum_d + (tot.n - lv.cum_n) * lv.demand <= b.budget
          ORDER BY lv.demand DESC LIMIT 1),
        parm AS (
          SELECT coalesce(f.v0, 0) AS v0, coalesce(f.cd0, 0) AS cd0,
                 coalesce(f.cn0, 0) AS cn0, t.n, t.d_tot, b.budget
          FROM tot t CROSS JOIN b LEFT JOIN fits f ON TRUE),
        lvl AS (
          SELECT CASE WHEN d_tot <= budget THEN NULL
                 ELSE v0 + CASE WHEN n - cn0 > 0 THEN
                   (budget - cd0 - (n - cn0) * v0) // (n - cn0)
                   ELSE 0 END END AS level,
                 CASE WHEN d_tot <= budget OR n - cn0 <= 0 THEN 0
                 ELSE (budget - cd0 - (n - cn0) * v0)
                      % (n - cn0) END AS rem,
                 d_tot, budget
          FROM parm),
        unsat AS (
          SELECT host,
                 row_number() OVER (ORDER BY host) AS rn
          FROM hosts, lvl
          WHERE lvl.level IS NOT NULL AND demand > lvl.level)
        SELECT h.host, h.demand,
               CAST(CASE WHEN l.level IS NULL THEN h.demand
                    WHEN h.demand <= l.level THEN h.demand
                    ELSE l.level + CASE WHEN u.rn <= l.rem
                         THEN 1 ELSE 0 END END AS BIGINT) AS alloc,
               CAST(CASE WHEN l.level IS NULL
                         OR h.demand <= l.level
                    THEN 1 ELSE 0 END AS INT) AS satisfied
        FROM hosts h CROSS JOIN lvl l
        LEFT JOIN unsat u ON h.host = u.host
        ORDER BY h.host
    """


def q197_texttiling(spark, sf):
    """TextTiling topical segmentation (operators/segmentation.py::
    texttile_boundaries, w=20, radius=2, offset 0.05): documents
    split into 20-token blocks, each inter-block gap scored by the
    integer-count cosine of its two blocks (micro-units), depth =
    bounded-window valley depth, boundary iff depth clears
    mean + 0.05 by exact integer cross-multiplication — chunk long
    pages at topic shifts instead of arbitrary token counts. The
    oracle replays block counts, the adjacent-block dot join, both
    bounded windows and the integer boundary rule."""
    from langscrape_spark.operators.segmentation import (
        texttile_boundaries,
    )

    docs = _t(spark, sf, "documents")
    return (
        texttile_boundaries(docs, "doc_id", "text", w=20, radius=2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def _texttiling_oracle() -> str:
    return f"""
        -- TextTiling replay: 20-token blocks, integer block-term
        -- counts, adjacent-block integer dot / sqrt-norm cosine in
        -- micro-units, radius-2 bounded peak windows, integer
        -- cross-multiplied mean+0.05 boundary rule. Spark:
        -- operators/segmentation.py::texttile_boundaries.
        WITH toks AS (
          SELECT doc_id AS id,
                 generate_subscripts(tok, 1) - 1 AS pos,
                 unnest(tok) AS term
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
        counts AS (
          SELECT id, pos // 20 AS blk, term,
                 CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY id, pos // 20, term),
        norms AS (
          SELECT id, blk, sum(c * c) AS n2
          FROM counts GROUP BY id, blk),
        nb AS (
          SELECT id, CAST(count(*) AS BIGINT) AS n_blocks
          FROM norms GROUP BY id),
        dots AS (
          SELECT a.id, a.blk AS g, sum(a.c * b.c) AS dot
          FROM counts a JOIN counts b
            ON a.id = b.id AND b.blk = a.blk + 1 AND a.term = b.term
          GROUP BY a.id, a.blk),
        gaps AS (
          SELECT na.id, na.blk AS g,
                 CAST(round(coalesce(d.dot, 0)
                   / (sqrt(na.n2) * sqrt(nbn.n2)) * 1e6) AS BIGINT)
                   AS sim_micro
          FROM norms na
          JOIN norms nbn ON na.id = nbn.id AND nbn.blk = na.blk + 1
          LEFT JOIN dots d ON d.id = na.id AND d.g = na.blk),
        depth AS (
          SELECT id, g,
                 (max(sim_micro) OVER wl - sim_micro)
                 + (max(sim_micro) OVER wr - sim_micro) AS depth_micro
          FROM gaps
          WINDOW wl AS (PARTITION BY id ORDER BY g
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 wr AS (PARTITION BY id ORDER BY g
                        ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)),
        stats AS (
          SELECT id, CAST(count(*) AS BIGINT) AS n_gaps,
                 sum(depth_micro) AS sum_depth
          FROM depth GROUP BY id),
        marked AS (
          SELECT d.id, d.g
          FROM depth d JOIN stats s ON d.id = s.id
          WHERE d.depth_micro * s.n_gaps
                >= s.sum_depth + 50000 * s.n_gaps),
        bounds AS (
          SELECT id, CAST(count(*) AS BIGINT) AS n_boundaries,
                 string_agg(CAST(g AS VARCHAR), ',' ORDER BY g)
                   AS boundaries
          FROM marked GROUP BY id)
        SELECT nb.id AS doc_id, nb.n_blocks,
               coalesce(s.n_gaps, 0) AS n_gaps,
               coalesce(b.n_boundaries, 0) AS n_boundaries,
               coalesce(b.boundaries, '') AS boundaries
        FROM nb
        LEFT JOIN stats s ON nb.id = s.id
        LEFT JOIN bounds b ON nb.id = b.id
        ORDER BY nb.id
    """


def q198_hilbert_layout(spark, sf):
    """Hilbert-curve layout audit vs Z-order (operators/layout.py::
    hilbert_file_stats — the liquid-clustering/Iceberg-writer default
    curve): both layouts bucket the events (ts, user_id) plane
    identically (8-bit cells, 16 curve-range files) and report each
    file's bounding rectangle plus its area — the Hilbert curve has
    no Morton seams, so its rectangles are tighter and min/max
    pruning sharper (visible in the area column). The xy->d
    transform is one Arrow numpy pass; the oracle rebuilds it as an
    unrolled per-bit CTE chain (hilbert_sql_chain, verified
    bijective against the textbook xy2d) next to the q117 morton
    twin."""
    from langscrape_spark.operators.layout import (
        hilbert_file_stats,
        zorder_file_stats,
    )

    ev = _t(spark, sf, "events")
    x = F.unix_micros(F.col("ts").cast("timestamp"))
    y = F.col("user_id")
    h = hilbert_file_stats(ev, x, y, bits=8, files=16).withColumn(
        "layout", F.lit("hilbert")
    )
    z = zorder_file_stats(ev, x, y, bits=8, files=16).withColumn(
        "layout", F.lit("zorder")
    )
    return (
        h.unionByName(z)
        .select(
            "layout",
            "file_id",
            "n_rows",
            "xb_min",
            "xb_max",
            "yb_min",
            "yb_max",
            (
                (F.col("xb_max") - F.col("xb_min") + 1)
                * (F.col("yb_max") - F.col("yb_min") + 1)
            ).alias("rect_area"),
        )
        .orderBy("layout", "file_id")
    )


def _hilbert_oracle() -> str:
    from langscrape_spark.operators.layout import (
        hilbert_sql_chain,
        morton_sql,
    )

    ctes, fin = hilbert_sql_chain("b", 8)
    bucket = lambda v, lo, hi: (  # noqa: E731
        f"least(greatest(CAST(coalesce(floor(({v} - {lo}) * 256.0 / "
        f"nullif({hi} - {lo}, 0)), 0) AS BIGINT), 0), 255)"
    )
    return f"""
        -- Hilbert + Morton layout twin: q117's bucket formula, the
        -- unrolled per-bit Hilbert CTE chain (hilbert_sql_chain) and
        -- morton_sql over the SAME cells, 4096-wide curve ranges,
        -- bounding rectangles + areas.
        WITH d AS (
          SELECT CAST(epoch_us(ts) AS DOUBLE) AS x,
                 CAST(user_id AS DOUBLE) AS y
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        r AS (SELECT min(x) AS xlo, max(x) AS xhi,
                     min(y) AS ylo, max(y) AS yhi FROM d),
        b AS (
          SELECT {bucket("x", "xlo", "xhi")} AS xb,
                 {bucket("y", "ylo", "yhi")} AS yb
          FROM d, r),
        {ctes},
        hf AS (
          SELECT 'hilbert' AS layout,
                 CAST(floor(hval / 4096) AS BIGINT) AS file_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 min(xb) AS xb_min, max(xb) AS xb_max,
                 min(yb) AS yb_min, max(yb) AS yb_max
          FROM {fin} GROUP BY 2),
        zf AS (
          SELECT 'zorder' AS layout,
                 CAST(floor({morton_sql("xb", "yb", 8)} / 4096)
                      AS BIGINT) AS file_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 min(xb) AS xb_min, max(xb) AS xb_max,
                 min(yb) AS yb_min, max(yb) AS yb_max
          FROM b GROUP BY 2),
        u AS (SELECT * FROM hf UNION ALL SELECT * FROM zf)
        SELECT layout, file_id, n_rows, xb_min, xb_max, yb_min,
               yb_max,
               (xb_max - xb_min + 1) * (yb_max - yb_min + 1)
                 AS rect_area
        FROM u ORDER BY layout, file_id
    """


def q199_aimd_rates(spark, sf):
    """AIMD adaptive politeness rates (operators/sessions.py::
    aimd_rate_trajectory — TCP congestion control for crawl rates):
    per-host overload history (any event with value > 200 in a
    day-mod-8 round = a 429-class signal) drives the exact integer
    micro-unit recurrence rate+0.25 on clean rounds, rate/2 floored
    at 0.125 on overload. The whole 8-round trajectory is ONE JVM
    aggregate fold over a densified boolean array per host — no
    per-round joins; the oracle unrolls the identical recurrence as
    one CTE per round."""
    from langscrape_spark.operators.sessions import aimd_rate_trajectory

    ev = _t(spark, sf, "events").select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 23).cast("string")
        ).alias("host"),
        (F.dayofmonth("ts") % 8).alias("r"),
        (F.col("value") > 200).alias("e"),
    )
    return aimd_rate_trajectory(
        ev, "host", "r", "e", n_rounds=8
    ).orderBy("host", "round")


def _aimd_oracle() -> str:
    parts = [
        """
        WITH errs AS (
          SELECT 'h' || CAST(user_id % 23 AS VARCHAR) AS host,
                 CAST(EXTRACT(day FROM ts) % 8 AS INT) AS r,
                 max(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS e
          FROM events GROUP BY 1, 2),
        hosts AS (SELECT DISTINCT host FROM errs),
        t0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rate,
                      CAST(NULL AS INT) AS err FROM hosts)"""
    ]
    for r in range(8):
        parts.append(
            f"""
        t{r + 1} AS (
          SELECT t.host,
                 CASE WHEN coalesce(e.e, 0) = 1
                      THEN greatest(CAST(125000 AS BIGINT),
                           CAST(floor((t.rate * 1) / 2) AS BIGINT))
                      ELSE t.rate + 250000 END AS rate,
                 CAST(coalesce(e.e, 0) AS INT) AS err
          FROM t{r} t LEFT JOIN errs e
            ON e.host = t.host AND e.r = {r})"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT host, CAST({r} AS INT) AS round, err,"
        f" rate AS rate_micro FROM t{r + 1}"
        for r in range(8)
    )
    return (
        "-- AIMD recurrence unrolled (one CTE per round); Spark:\n"
        "-- operators/sessions.py::aimd_rate_trajectory.\n"
        + ",".join(parts)
        + f"\n{sel}\nORDER BY host, round"
    )


def q200_fuzzy_decontaminate(spark, sf):
    """Cross-corpus fuzzy decontamination (operators/contamination.py
    ::fuzzy_decontaminate — the paraphrase-robust complement of q41's
    exact 13-gram gate): the benchmark set is every 10th document
    TRUNCATED to its first 80% of tokens (leakage the exact n-gram
    tail would weaken) plus unrelated synthetic questions (doc_id%10
    == 5, must NOT flag); candidates come from shared MinHash-LSH
    band buckets across corpora, verified by the exact shingle
    Jaccard under the integer 1/2 cross-multiplied gate. The oracle
    re-derives the eval construction, the q10 signature kernel on
    both corpora, the cross-bucket join and the exact verify."""
    from langscrape_spark.operators.contamination import (
        fuzzy_decontaminate,
    )

    docs = _t_parallel(spark, sf, "documents")
    train = docs.select(F.col("doc_id").alias("id"), "text")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    n80 = F.floor((F.size(toks) * 4 + 4) / 5).cast("int")
    leaked = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500000).alias("id"),
        F.array_join(F.slice(toks, 1, n80), " ").alias("text"),
    )
    clean = docs.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 500000).alias("id"),
        F.concat(
            F.lit("benchmark question number "),
            F.col("doc_id").cast("string"),
            F.lit(" about nothing shared whatsoever"),
        ).alias("text"),
    )
    evalset = leaked.unionByName(clean)
    return fuzzy_decontaminate(
        train, evalset, "text", "id"
    ).orderBy("train_id", "eval_id")


def _fuzzy_decontaminate_oracle() -> str:
    return f"""
        -- Fuzzy decontamination replay: 80%-token truncated leaked
        -- evals (integer ceil via (4n+4)//5) + clean rows, the q10
        -- Kirsch-Mitzenmacher signature/banding kernel on BOTH
        -- corpora, cross-corpus bucket join, exact shingle-Jaccard
        -- 1/2 gate by integer cross-multiplication. Spark:
        -- operators/contamination.py::fuzzy_decontaminate.
        WITH train AS (
          SELECT doc_id AS id, text FROM documents),
        ev AS (
          SELECT doc_id + 500000 AS id,
                 array_to_string(
                   tok[1:(4 * len(tok) + 4) // 5], ' ') AS text
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 500000,
                 'benchmark question number ' || CAST(doc_id AS VARCHAR)
                 || ' about nothing shared whatsoever'
          FROM documents WHERE doc_id % 10 = 5),
        tsh AS (
          SELECT id, {_SHINGLES3} AS sh
          FROM (SELECT id, {_TOKENS} AS tok FROM train)),
        esh AS (
          SELECT id, {_SHINGLES3} AS sh
          FROM (SELECT id, {_TOKENS} AS tok FROM ev)),
        tsig AS (
          SELECT id,
                 list_transform(range(0, 16),
                   h -> CAST(list_min(list_transform(sh,
                     s -> (CAST(md5_number_lower(s) AS HUGEINT)
                           + h * CAST(md5_number_upper(s) AS HUGEINT))
                          % 18446744073709551616)) AS VARCHAR)) AS sg
          FROM tsh WHERE len(sh) > 0),
        esig AS (
          SELECT id,
                 list_transform(range(0, 16),
                   h -> CAST(list_min(list_transform(sh,
                     s -> (CAST(md5_number_lower(s) AS HUGEINT)
                           + h * CAST(md5_number_upper(s) AS HUGEINT))
                          % 18446744073709551616)) AS VARCHAR)) AS sg
          FROM esh WHERE len(sh) > 0),
        tband AS (
          SELECT id, unnest(list_transform(range(0, 4),
            b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2]
                     || '|' || sg[b*4+3] || '|' || sg[b*4+4])))
            AS bucket
          FROM tsig),
        eband AS (
          SELECT id, unnest(list_transform(range(0, 4),
            b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2]
                     || '|' || sg[b*4+3] || '|' || sg[b*4+4])))
            AS bucket
          FROM esig),
        cand AS (
          SELECT DISTINCT t.id AS train_id, e.id AS eval_id
          FROM tband t JOIN eband e ON t.bucket = e.bucket),
        v AS (
          SELECT c.train_id, c.eval_id,
                 len(list_intersect(a.sh, b.sh)) AS n_common,
                 len(a.sh) AS n_train, len(b.sh) AS n_eval
          FROM cand c
          JOIN tsh a ON a.id = c.train_id
          JOIN esh b ON b.id = c.eval_id)
        SELECT train_id, eval_id,
               CAST(n_common AS INT) AS n_common,
               CAST(n_train AS INT) AS n_train,
               CAST(n_eval AS INT) AS n_eval,
               round(n_common * 1.0
                     / (n_train + n_eval - n_common), 6) AS jaccard
        FROM v
        WHERE n_train + n_eval - n_common > 0
          AND n_common * 2 >= (n_train + n_eval - n_common)
        ORDER BY train_id, eval_id
    """


def q201_min_k_prob(spark, sf):
    """Min-K% Prob membership-inference audit (operators/text.py::
    min_k_prob — Shi et al. 2024): the q62 bigram LM (V=24,
    alpha=0.5, lam=0.75) trains on the corpus; probes are member
    docs (doc_id%4==0, verbatim) vs non-member constructions
    (doc_id%4==1, token order REVERSED — same unigrams, alien
    bigrams) and each probe keeps the mean of its 20% lowest token
    logps ((logp, pos)-ranked, integer ceil cut). Members score
    systematically higher min-k means — the memorization/leakage
    audit. The oracle replays LM training, probe scoring, the
    deterministic bottom-k cut and the per-probe mean."""
    from langscrape_spark.operators.text import min_k_prob

    docs = _t_parallel(spark, sf, "documents")
    train = docs.select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
    )
    members = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id", "text"
    )
    nonmembers = docs.where(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    probes = members.unionByName(nonmembers)
    out = min_k_prob(train, probes, "text", "doc_id")
    return out.select(
        "doc_id",
        (F.col("doc_id") < 700000).cast("int").alias("member"),
        "n_tokens",
        "k_used",
        "mink_logp_mean",
    ).orderBy("doc_id")


def _min_k_prob_oracle() -> str:
    return f"""
        -- Min-K% Prob replay: q62's LM (vocab-24 closure, add-0.5,
        -- 0.75/0.25 interpolation, first token unigram), probe set =
        -- members + token-reversed non-members, bottom-20% cut by
        -- (logp, pos) rank with integer ceil, per-probe mean.
        -- Spark: operators/text.py::min_k_prob.
        WITH toks AS (
          SELECT doc_id, generate_subscripts(tok, 1) AS pos,
                 unnest(tok) AS t
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
        counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total,
                       count(*) AS n_types FROM counts),
        consts AS (
          SELECT total + 0.5 * (least(24, n_types) + 1) AS denom_u,
                 0.5 * (least(24, n_types) + 1) AS a_v
          FROM tot),
        vocab AS (SELECT t FROM counts ORDER BY c DESC, t LIMIT 24),
        m AS (
          SELECT doc_id, pos,
                 CASE WHEN t IN (SELECT t FROM vocab)
                      THEN t ELSE '<unk>' END AS w
          FROM toks),
        uni AS (
          SELECT w, (count(*) + 0.5) / (SELECT denom_u FROM consts)
                   AS p_uni
          FROM m GROUP BY w),
        tpairs AS (
          SELECT doc_id, pos, w,
                 lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
          FROM m),
        big AS (
          SELECT w1, w, count(*) AS cb FROM tpairs
          WHERE w1 IS NOT NULL GROUP BY w1, w),
        ctx AS (SELECT w1, sum(cb) AS cctx FROM big GROUP BY w1),
        probes AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 700000,
                 array_to_string(list_reverse(tok), ' ')
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)
          WHERE doc_id % 4 = 1),
        ptoks AS (
          SELECT doc_id, generate_subscripts(tok, 1) AS pos,
                 unnest(tok) AS t
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM probes)),
        pmap AS (
          SELECT doc_id, pos,
                 CASE WHEN t IN (SELECT t FROM vocab)
                      THEN t ELSE '<unk>' END AS w
          FROM ptoks),
        ppairs AS (
          SELECT doc_id, pos, w,
                 lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
          FROM pmap),
        scored AS (
          -- LEFT JOIN + smoothed fallback mirrors the operator: a
          -- probe-only <unk> with no train-side uni row scores the
          -- pure-smoothing mass 0.5/denom_u instead of being dropped.
          SELECT p.doc_id, p.pos,
                 CASE WHEN p.w1 IS NULL
                      THEN ln(coalesce(u.p_uni,
                              0.5 / (SELECT denom_u FROM consts)))
                      ELSE ln(0.75 * ((coalesce(b.cb, 0) + 0.5)
                               / (coalesce(c.cctx, 0)
                                  + (SELECT a_v FROM consts)))
                              + 0.25 * coalesce(u.p_uni,
                                0.5 / (SELECT denom_u FROM consts)))
                      END AS logp
          FROM ppairs p
          LEFT JOIN uni u ON p.w = u.w
          LEFT JOIN big b ON p.w1 = b.w1 AND p.w = b.w
          LEFT JOIN ctx c ON p.w1 = c.w1),
        ranked AS (
          SELECT doc_id, logp,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY logp, pos) AS rn,
                 count(*) OVER (PARTITION BY doc_id) AS n_tokens
          FROM scored),
        kept AS (
          SELECT doc_id, n_tokens, logp FROM ranked
          WHERE rn <= (20 * n_tokens + 99) // 100)
        SELECT doc_id,
               CAST(doc_id < 700000 AS INT) AS member,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS k_used,
               round(avg(logp), 6) AS mink_logp_mean
        FROM kept GROUP BY doc_id, n_tokens ORDER BY doc_id
    """


def q202_average_precision(spark, sf):
    """Exact binary Average Precision@10 (operators/evalops.py::
    average_precision_at_k — TREC's primary metric, the
    area-under-PR complement to q153's nDCG): the same q59 BM25
    top-10 against the same length>=300 silver relevance; AP sums
    P@i at every relevant rank as exact integer rationals (hits_i/i)
    and normalizes by min(R, 10). Same round-6 score cut, id
    tie-break, duplicate-relevance collapse and TakeOrdered plan
    shape as nDCG; the oracle rebuilds the BM25 top-10 and replays
    the running-hit AP sum."""
    from langscrape_spark.operators.evalops import (
        average_precision_at_k,
    )
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )

    docs = _t_parallel(spark, sf, "documents")
    postings, doc_lens = build_inverted_index(docs)
    ranking = bm25_topk(postings, doc_lens, "hash scan table", k=10)
    rel = docs.select(
        "doc_id", (F.length("text") >= 300).cast("int").alias("rel")
    )
    return average_precision_at_k(ranking, rel, k=10)


def _ap_oracle() -> str:
    return f"""
        -- AP@10 over the q153/q59 BM25 top-10: running hit counts,
        -- P@i at relevant ranks, normalize by min(R, 10). Spark:
        -- operators/evalops.py::average_precision_at_k.
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        postings AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY term, doc_id),
        dl AS (
          SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        consts AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
          FROM dl),
        q(term) AS (VALUES ('hash'), ('scan'), ('table')),
        hits AS (SELECT p.* FROM postings p JOIN q USING (term)),
        dfs AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM hits GROUP BY term),
        scored AS (
          SELECT h.doc_id,
                 sum(ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
                     * h.tf
                     / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)))
                   AS score
          FROM hits h
          JOIN dfs d USING (term)
          JOIN dl l USING (doc_id), consts c
          GROUP BY h.doc_id),
        top AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY round(score, 6) DESC,
                                    doc_id) AS rn
          FROM scored QUALIFY rn <= 10),
        rel AS (
          SELECT doc_id,
                 CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS r
          FROM documents),
        joined AS (
          SELECT t.rn, coalesce(rel.r, 0) AS r
          FROM top t LEFT JOIN rel USING (doc_id)),
        run AS (
          SELECT rn, r,
                 sum(r) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS hits_i
          FROM joined),
        rt AS (SELECT CAST(sum(r) AS BIGINT) AS n_relevant FROM rel),
        a AS (
          SELECT CAST(count(*) AS BIGINT) AS n_ranked,
                 CAST(sum(r) AS BIGINT) AS n_hits,
                 coalesce(sum(CASE WHEN r = 1
                          THEN hits_i * 1.0 / rn ELSE 0.0 END), 0.0)
                   AS ap_num
          FROM run)
        SELECT CAST(10 AS INT) AS k, n_ranked,
               coalesce(n_relevant, 0) AS n_relevant, n_hits,
               round(CASE WHEN least(coalesce(n_relevant, 0), 10) > 0
                     THEN ap_num / least(n_relevant, 10) END, 6)
                 AS ap
        FROM a, rt
    """


def q203_cdc_reuse(spark, sf):
    """Cross-version CDC chunk reuse (operators/text.py::cdc_chunks —
    the rsync/restic delta-storage question): every document gets a
    re-crawled version with a PREPENDED update banner (the edit that
    shifts every fixed-stride chunk but leaves CDC chunks after the
    first boundary byte-identical); per doc we count distinct chunk
    hashes in each version, the shared set, and the reuse ratio — the
    fraction of the new version's chunks a chunk-hash store already
    holds (storage saved by content-defined addressing). The oracle
    replays the CDC derivation on BOTH versions plus the distinct-
    hash intersection."""
    from langscrape_spark.operators.text import cdc_chunks

    docs = _t_parallel(spark, sf, "documents")
    a = docs.select("doc_id", "text")
    b = docs.select(
        "doc_id",
        F.concat(F.lit("breaking update today "), F.col("text")).alias(
            "text"
        ),
    )
    ca = cdc_chunks(a).select("doc_id", "chunk_hash").distinct()
    cb = cdc_chunks(b).select("doc_id", "chunk_hash").distinct()
    na = ca.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_old"))
    nbf = cb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    shared = (
        ca.join(cb, ["doc_id", "chunk_hash"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        na.join(nbf, "doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_old",
            "n_new",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0)) / F.col("n_new"), 6
            ).alias("reuse_ratio"),
        )
        .orderBy("doc_id")
    )


def _cdc_reuse_oracle() -> str:
    def chunk_block(tag: str, docs_cte: str) -> str:
        return f"""
        {tag}toks AS (
          SELECT doc_id, generate_subscripts(tok, 1) - 1 AS pos,
                 unnest(tok) AS w
          FROM (SELECT doc_id, {_TOKENS} AS tok FROM {docs_cte})),
        {tag}rolled AS (
          SELECT doc_id, pos, w,
                 string_agg(w, ' ') OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN 3 PRECEDING
                   AND CURRENT ROW) AS win
          FROM {tag}toks),
        {tag}flagged AS (
          SELECT doc_id, pos, w,
                 CASE WHEN pos >= 3 AND
                   CAST(CAST(md5_number_lower(win) AS HUGEINT)
                        % (CAST(1 AS HUGEINT) << 63) AS BIGINT)
                   % 32 = 0
                 THEN 1 ELSE 0 END AS b
          FROM {tag}rolled),
        {tag}chunked AS (
          SELECT doc_id, pos, w,
                 coalesce(sum(b) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS chunk_idx
          FROM {tag}flagged),
        {tag}hraw AS (
          SELECT doc_id,
                 md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
          FROM {tag}chunked GROUP BY doc_id, chunk_idx),
        {tag}hashes AS (
          SELECT DISTINCT doc_id, chunk_hash FROM {tag}hraw)"""

    a = chunk_block("a_", "olddocs")
    b = chunk_block("b_", "newdocs")
    return f"""
        -- CDC chunk reuse across versions: q104's chunk derivation on
        -- both versions, distinct chunk-hash sets, intersection and
        -- reuse ratio. Spark: q203_cdc_reuse.
        WITH olddocs AS (SELECT doc_id, text FROM documents),
        newdocs AS (
          SELECT doc_id, 'breaking update today ' || text AS text
          FROM documents),
        {a},
        {b},
        na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_old
               FROM a_hashes GROUP BY doc_id),
        nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
               FROM b_hashes GROUP BY doc_id),
        sh AS (
          SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM a_hashes a JOIN b_hashes b
            ON a.doc_id = b.doc_id AND a.chunk_hash = b.chunk_hash
          GROUP BY a.doc_id)
        SELECT na.doc_id, na.n_old, nb.n_new,
               coalesce(sh.n_shared, 0) AS n_shared,
               round(coalesce(sh.n_shared, 0) * 1.0 / nb.n_new, 6)
                 AS reuse_ratio
        FROM na JOIN nb ON na.doc_id = nb.doc_id
        LEFT JOIN sh ON na.doc_id = sh.doc_id
        ORDER BY na.doc_id
    """


def q204_eb_shrinkage(spark, sf):
    """Empirical-Bayes shrinkage of per-host quality rates
    (operators/hostquality.py::eb_shrunken_rates — Efron-Morris in
    beta-binomial form): host cells (source, doc_id%13) pass/fail
    the length>=300 gate; tiny hosts' extreme raw rates shrink
    toward the corpus prior with method-of-moments strength
    K = m(1-m)/v - 1 while big hosts barely move — the stabilizer
    every rate-ranked crawl/filter decision needs. The oracle
    re-derives group counts, the prior moments, the clamped K and
    the shrink formula."""
    from langscrape_spark.operators.hostquality import eb_shrunken_rates

    docs = _t(spark, sf, "documents").select(
        F.concat(
            F.col("source"),
            F.lit("-"),
            (F.col("doc_id") % 13).cast("string"),
        ).alias("host"),
        (F.length("text") >= 300).cast("int").alias("pass_flag"),
    )
    return eb_shrunken_rates(docs, "host", "pass_flag").orderBy("host")


def _eb_shrinkage_oracle() -> str:
    return """
        -- EB beta-binomial shrinkage replay: per-group (n, y, rate),
        -- prior mean/variance over the GROUP table (population
        -- variance), K = m(1-m)/v - 1 clamped at 0, shrunk =
        -- (y + K m)/(n + K). Spark: operators/hostquality.py::
        -- eb_shrunken_rates.
        WITH g AS (
          SELECT source || '-' || CAST(doc_id % 13 AS VARCHAR)
                   AS host,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN length(text) >= 300
                      THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM documents GROUP BY 1),
        gr AS (SELECT host, n, y, y * 1.0 / n AS rate FROM g),
        prior AS (
          SELECT avg(rate) AS m, var_pop(rate) AS v FROM gr),
        kp AS (
          SELECT m,
                 CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                      THEN m * (1 - m) / v - 1 ELSE 0.0 END AS k
          FROM prior)
        SELECT gr.host, gr.n AS n_rows, gr.y AS n_pos,
               round(gr.rate, 6) AS raw_rate,
               round(kp.k, 6) AS k_strength,
               round(kp.m, 6) AS prior_mean,
               round((gr.y + kp.k * kp.m) / (gr.n + kp.k), 6)
                 AS shrunk_rate
        FROM gr, kp ORDER BY gr.host
    """


def q205_bootstrap_ci(spark, sf):
    """Deterministic Poisson-bootstrap CI for the mean document
    length (operators/ranking.py::poisson_bootstrap_ci, B=64 —
    Chamandy et al.'s RNG-free distributed bootstrap): each resample
    weights every doc by a Poisson(1) multiplicity read off
    md5(id:b)/2^63 through Python-literal inverse-CDF thresholds;
    integer value sums make every resample mean an exact rational,
    and the 2.5/97.5 percentile picks are exact order statistics
    over the 64-row frame. The oracle replays thresholds,
    multiplicities, resample means and the rank picks."""
    from langscrape_spark.operators.ranking import poisson_bootstrap_ci

    docs = _t_parallel(spark, sf, "documents")
    return poisson_bootstrap_ci(docs, "n_chars", "doc_id", 64)


def _bootstrap_ci_oracle() -> str:
    import math

    cdf = []
    acc = 0.0
    fact = 1.0
    for k in range(8):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        cdf.append(acc)
    thresholds = cdf[:-1]
    mult = " + ".join(
        f"CASE WHEN u >= {t!r} THEN 1 ELSE 0 END" for t in thresholds
    )
    lo_rank = max(1, math.ceil(2.5 / 100.0 * 64))
    hi_rank = max(1, math.ceil(97.5 / 100.0 * 64))
    return f"""
        -- Poisson bootstrap replay: same python-literal inverse-CDF
        -- thresholds, md5(id:b) uniforms, integer weighted sums,
        -- exact order-statistic CI picks (ranks {lo_rank}/{hi_rank}
        -- of 64). Spark: operators/ranking.py::poisson_bootstrap_ci.
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(n_chars AS BIGINT) AS v
          FROM documents WHERE n_chars IS NOT NULL),
        e AS (
          SELECT id, v, CAST(b AS INT) AS b
          FROM src, range(1, 65) t(b)),
        uu AS (
          SELECT v, b,
                 CAST(CAST(md5_number_lower(id || ':'
                        || CAST(b AS VARCHAR)) AS HUGEINT)
                   % (CAST(1 AS HUGEINT) << 63) AS BIGINT)
                 / 9223372036854775808.0 AS u
          FROM e),
        wtd AS (SELECT b, v, ({mult}) AS m FROM uu),
        sums AS (
          SELECT b, sum(CAST(m AS BIGINT) * v) AS sx,
                 sum(CAST(m AS BIGINT)) AS sw
          FROM wtd GROUP BY b),
        means AS (
          SELECT sx * 1.0 / sw AS mean FROM sums WHERE sw > 0),
        ranked AS (
          SELECT mean, row_number() OVER (ORDER BY mean) AS rn
          FROM means),
        picks AS (
          SELECT max(CASE WHEN rn = {lo_rank} THEN mean END) AS lo,
                 max(CASE WHEN rn = {hi_rank} THEN mean END) AS hi,
                 stddev_pop(mean) AS se
          FROM ranked),
        fl AS (
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 avg(v) AS mf
          FROM src)
        SELECT fl.n_rows, CAST(64 AS INT) AS n_resamples,
               round(fl.mf, 6) AS mean_full,
               round(picks.lo, 6) AS ci_lo,
               round(picks.hi, 6) AS ci_hi,
               round(picks.se, 6) AS se
        FROM fl, picks
    """


def q206_sitemap_coverage(spark, sf):
    """Sitemap-vs-crawl coverage audit — the crawl-ops question after
    every sitemap ingest (q47): per host, how many DECLARED urls were
    actually crawled (coverage), how many crawled urls were never
    declared (orphans — discoverable only by link walking), and both
    exception lists' sizes. Declared = every doc url; crawled = docs
    with doc_id%3 != 0 plus an undeclared orphan set (doc_id%4==0).
    One full-outer equi-join + per-host aggregation (map-side
    combinable). Oracle: same sets, same join, same rates."""
    docs = _t(spark, sf, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 15).cast("string")
    )
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 15).cast("string"),
        F.lit(".example/p"),
        F.col("doc_id").cast("string"),
    )
    declared = docs.select(host.alias("host"), url.alias("url"))
    crawled = (
        docs.where(F.col("doc_id") % 3 != 0)
        .select(host.alias("host"), url.alias("url"))
        .unionByName(
            docs.where(F.col("doc_id") % 4 == 0).select(
                host.alias("host"),
                F.concat(
                    F.lit("https://h"),
                    (F.col("doc_id") % 15).cast("string"),
                    F.lit(".example/orphan"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
            )
        )
    )
    j = declared.withColumn("_d", F.lit(1)).join(
        crawled.withColumn("_c", F.lit(1)), ["host", "url"], "full_outer"
    )
    return (
        j.groupBy("host")
        .agg(
            F.count("_d").cast("long").alias("n_declared"),
            F.count("_c").cast("long").alias("n_crawled"),
            F.sum(
                (F.col("_d").isNotNull() & F.col("_c").isNotNull()).cast(
                    "long"
                )
            ).alias("n_both"),
            F.sum(
                (F.col("_d").isNotNull() & F.col("_c").isNull()).cast(
                    "long"
                )
            ).alias("declared_only"),
            F.sum(
                (F.col("_d").isNull() & F.col("_c").isNotNull()).cast(
                    "long"
                )
            ).alias("crawled_only"),
        )
        .withColumn(
            "coverage",
            F.round(
                F.try_divide(F.col("n_both"), F.col("n_declared")), 6
            ),
        )
        .orderBy("host")
    )


def _sitemap_coverage_oracle() -> str:
    return """
        -- Coverage audit replay: declared/crawled sets, full outer
        -- join, per-host counts + coverage. Spark:
        -- q206_sitemap_coverage.
        WITH declared AS (
          SELECT 'h' || CAST(doc_id % 15 AS VARCHAR) AS host,
                 'https://h' || CAST(doc_id % 15 AS VARCHAR)
                 || '.example/p' || CAST(doc_id AS VARCHAR) AS url
          FROM documents),
        crawled AS (
          SELECT 'h' || CAST(doc_id % 15 AS VARCHAR) AS host,
                 'https://h' || CAST(doc_id % 15 AS VARCHAR)
                 || '.example/p' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE doc_id % 3 <> 0
          UNION ALL
          SELECT 'h' || CAST(doc_id % 15 AS VARCHAR),
                 'https://h' || CAST(doc_id % 15 AS VARCHAR)
                 || '.example/orphan' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 4 = 0),
        j AS (
          SELECT coalesce(d.host, c.host) AS host,
                 d.url AS du, c.url AS cu
          FROM declared d FULL OUTER JOIN crawled c
            ON d.host = c.host AND d.url = c.url)
        SELECT host,
               CAST(count(du) AS BIGINT) AS n_declared,
               CAST(count(cu) AS BIGINT) AS n_crawled,
               CAST(sum(CASE WHEN du IS NOT NULL AND cu IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN du IS NOT NULL AND cu IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS declared_only,
               CAST(sum(CASE WHEN du IS NULL AND cu IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS crawled_only,
               round(sum(CASE WHEN du IS NOT NULL AND cu IS NOT NULL
                     THEN 1 ELSE 0 END) * 1.0
                     / nullif(count(du), 0), 6) AS coverage
        FROM j GROUP BY host ORDER BY host
    """


def q207_hreflang_reciprocity(spark, sf):
    """hreflang reciprocity audit — Google ignores hreflang pairs
    that are not RECIPROCAL, so multilingual sites audit exactly
    this: each language version of an article declares alternates to
    its siblings (q190's /lang/ URL scheme), but a deterministic
    fault knocks out every 5th declaration (md5-parity of the edge);
    per (lang_from, lang_to) pair we report declared edges,
    reciprocal edges and the reciprocity rate. One self-join of the
    edge table on the reversed key. Oracle replays edges, the fault
    rule and the reverse join."""
    from langscrape_spark.operators.dedup import _md5_lower64

    docs = _t(spark, sf, "documents")
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("fr"), F.lit("de"), F.lit("es")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    art = F.floor(F.col("doc_id") / 4)
    pages = docs.select(art.alias("art"), lang.alias("lang"))
    a = pages.select("art", F.col("lang").alias("lang_from"))
    b = pages.select("art", F.col("lang").alias("lang_to"))
    edges = (
        a.join(b, "art")
        .where(F.col("lang_from") != F.col("lang_to"))
        .where(
            F.pmod(
                _md5_lower64(
                    F.concat(
                        F.col("art").cast("string"),
                        F.lit(":"),
                        F.col("lang_from"),
                        F.lit(">"),
                        F.col("lang_to"),
                    )
                ).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF)),
                F.lit(5),
            )
            != 0
        )
    )
    rev = edges.select(
        "art",
        F.col("lang_from").alias("lang_to"),
        F.col("lang_to").alias("lang_from"),
        F.lit(1).alias("_r"),
    )
    j = edges.join(rev, ["art", "lang_from", "lang_to"], "left")
    return (
        j.groupBy("lang_from", "lang_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_declared"),
            F.sum(F.coalesce("_r", F.lit(0))).cast("long").alias(
                "n_reciprocal"
            ),
        )
        .withColumn(
            "reciprocity",
            F.round(F.col("n_reciprocal") / F.col("n_declared"), 6),
        )
        .orderBy("lang_from", "lang_to")
    )


def _hreflang_oracle() -> str:
    return """
        -- hreflang reciprocity replay: same (art, lang) pages, same
        -- md5-parity declaration fault, reverse-key self-join,
        -- per-lang-pair rates. Spark: q207_hreflang_reciprocity.
        WITH pages AS (
          SELECT doc_id // 4 AS art,
                 (['en','fr','de','es'])[(doc_id % 4) + 1] AS lang
          FROM documents),
        edges AS (
          SELECT a.art, a.lang AS lang_from, b.lang AS lang_to
          FROM pages a JOIN pages b ON a.art = b.art
          WHERE a.lang <> b.lang
            AND CAST(CAST(md5_number_lower(
                  CAST(a.art AS VARCHAR) || ':' || a.lang
                  || '>' || b.lang) AS HUGEINT)
                % (CAST(1 AS HUGEINT) << 63) % 5 AS BIGINT) <> 0),
        j AS (
          SELECT e.lang_from, e.lang_to,
                 CASE WHEN r.art IS NOT NULL THEN 1 ELSE 0 END AS rr
          FROM edges e LEFT JOIN edges r
            ON e.art = r.art AND e.lang_from = r.lang_to
           AND e.lang_to = r.lang_from)
        SELECT lang_from, lang_to,
               CAST(count(*) AS BIGINT) AS n_declared,
               CAST(sum(rr) AS BIGINT) AS n_reciprocal,
               round(sum(rr) * 1.0 / count(*), 6) AS reciprocity
        FROM j GROUP BY lang_from, lang_to
        ORDER BY lang_from, lang_to
    """


def q208_status_transitions(spark, sf):
    """HTTP status transition matrix across two crawl snapshots —
    the page-lifecycle Markov view crawl-ops watches (200->404 death
    rate, 404->200 resurrection, redirect churn): each url's status
    per snapshot is a deterministic md5 draw over the realistic
    marginal (70% 200, 10% 301, 10% 404, 10% 503); the matrix is ONE
    groupBy over (from, to) with row-conditional rates as exact
    integer rationals until round-6. Oracle replays draws and
    rates."""
    from langscrape_spark.operators.dedup import _md5_lower64

    docs = _t(spark, sf, "documents")

    def status(tag):
        d = F.pmod(
            _md5_lower64(
                F.concat(
                    F.lit(tag), F.col("doc_id").cast("string")
                )
            ).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF)),
            F.lit(10),
        )
        return (
            F.when(d < 7, F.lit(200))
            .when(d < 8, F.lit(301))
            .when(d < 9, F.lit(404))
            .otherwise(F.lit(503))
        )

    s = docs.select(
        status("s1:").alias("status_from"),
        status("s2:").alias("status_to"),
    )
    counts = s.groupBy("status_from", "status_to").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_tot = counts.groupBy("status_from").agg(
        F.sum("n").alias("_rt")
    )
    return (
        counts.join(row_tot, "status_from")
        .select(
            "status_from",
            "status_to",
            "n",
            F.round(F.col("n") / F.col("_rt"), 6).alias("p_transition"),
        )
        .orderBy("status_from", "status_to")
    )


def _status_transitions_oracle() -> str:
    return """
        -- Status-lifecycle matrix replay: md5-draw statuses per
        -- snapshot, (from, to) counts, row-conditional rates.
        -- Spark: q208_status_transitions.
        WITH s AS (
          SELECT
            CASE WHEN d1 < 7 THEN 200 WHEN d1 < 8 THEN 301
                 WHEN d1 < 9 THEN 404 ELSE 503 END AS status_from,
            CASE WHEN d2 < 7 THEN 200 WHEN d2 < 8 THEN 301
                 WHEN d2 < 9 THEN 404 ELSE 503 END AS status_to
          FROM (
            SELECT
              CAST(CAST(md5_number_lower('s1:'
                || CAST(doc_id AS VARCHAR)) AS HUGEINT)
                % (CAST(1 AS HUGEINT) << 63) % 10 AS BIGINT) AS d1,
              CAST(CAST(md5_number_lower('s2:'
                || CAST(doc_id AS VARCHAR)) AS HUGEINT)
                % (CAST(1 AS HUGEINT) << 63) % 10 AS BIGINT) AS d2
            FROM documents)),
        c AS (
          SELECT status_from, status_to,
                 CAST(count(*) AS BIGINT) AS n
          FROM s GROUP BY status_from, status_to),
        rt AS (
          SELECT status_from, sum(n) AS rtot FROM c
          GROUP BY status_from)
        SELECT c.status_from, c.status_to, c.n,
               round(c.n * 1.0 / rt.rtot, 6) AS p_transition
        FROM c JOIN rt USING (status_from)
        ORDER BY c.status_from, c.status_to
    """


def q209_path_entropy(spark, sf):
    """Conditional path-segment entropy as a crawler-trap signal —
    the information-theoretic complement of q50's rule-based trap
    heuristics: on an ORGANIC host the segment after /cat/ is one of
    a few article slugs (low H(next|prev)), on a calendar/session
    trap it is effectively random (H -> log of the fanout). Synth
    urls: organic hosts h0-h9 draw next-segments from a 4-slug menu;
    the planted trap host draws from a 1000-value md5 space. Per
    host: segment-bigram count, distinct continuations, and the
    conditional entropy H(next|prev) = Σ p(prev) H(next|prev) in
    nats (round-6) — the trap host tops the ranking. The oracle
    replays url synthesis, bigram counts and the entropy sums."""
    from langscrape_spark.operators.dedup import _md5_lower64

    docs = _t(spark, sf, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 11).cast("string"))
    is_trap = F.col("doc_id") % 11 == 10
    prev_seg = F.concat(
        F.lit("cat"), (F.col("doc_id") % 3).cast("string")
    )
    organic_next = F.concat(
        F.lit("slug"),
        F.pmod(
            _md5_lower64(
                F.concat(F.lit("n:"), F.col("doc_id").cast("string"))
            ).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF)),
            F.lit(4),
        ).cast("string"),
    )
    trap_next = F.concat(
        F.lit("sess"),
        F.pmod(
            _md5_lower64(
                F.concat(F.lit("t:"), F.col("doc_id").cast("string"))
            ).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF)),
            F.lit(1000),
        ).cast("string"),
    )
    segs = docs.select(
        host.alias("host"),
        prev_seg.alias("prev"),
        F.when(is_trap, trap_next).otherwise(organic_next).alias("nxt"),
    )
    big = segs.groupBy("host", "prev", "nxt").agg(
        F.count(F.lit(1)).alias("c")
    )
    ctx = big.groupBy("host", "prev").agg(F.sum("c").alias("cc"))
    hc = (
        big.join(ctx, ["host", "prev"])
        .groupBy("host", "prev")
        .agg(
            F.max("cc").alias("cc"),
            (
                -F.sum(
                    (F.col("c") / F.col("cc"))
                    * F.log(F.col("c") / F.col("cc"))
                )
            ).alias("h_cond"),
        )
    )
    tot = segs.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("nxt").alias("n_distinct_next"),
    )
    ent = hc.groupBy("host").agg(
        F.sum(F.col("cc") * F.col("h_cond")).alias("_num"),
        F.sum("cc").alias("_den"),
    )
    return (
        tot.join(ent, "host")
        .select(
            "host",
            "n_urls",
            "n_distinct_next",
            F.round(F.col("_num") / F.col("_den"), 6).alias(
                "h_next_given_prev"
            ),
        )
        .orderBy("host")
    )


# Shared crawl fixture for the q210/q212 integration queries.  The
# corpus size, seed stride, and robots policy are LOAD-BEARING in the
# DuckDB oracles (the recursive closures hard-code `page_id % 85 = 0`
# seeds and the site19 exclusion over the 512-page frozen graph), so
# both queries must draw them from one place — a drift between the
# two Spark fixtures would silently desynchronize one of the oracles.
_Q210_N_PAGES = 512
_Q210_SEED_STRIDE = 85


def _crawl_fixture(spark):
    """(pages, seeds, robots, host_rank) for the frozen 512-page
    crawl graph (tests/fixtures/q210_crawl_graph.parquet).  Flat
    politeness (crawl_delay 0.1 → k=40/host/round) exhausts the
    frontier in few rounds — per-round driver fixed cost dominates at
    this corpus size and the oracles are round-structure invisible;
    site19 stays robots-disallowed so the closure proofs keep the
    exclusion path live."""
    from langscrape_spark import synth

    pages = synth.build_pages_df(spark, _Q210_N_PAGES, partitions=8)
    seeds = spark.createDataFrame(
        [
            (synth.url_of(i), 0)
            for i in range(0, _Q210_N_PAGES, _Q210_SEED_STRIDE)
        ],
        "url string, depth int",
    )
    robots = spark.createDataFrame(
        [
            (f"www.site{i}.example", [], 0.1, i != 19)
            for i in range(synth.N_HOSTS)
        ],
        "host string, disallow_prefixes array<string>, "
        "crawl_delay double, allowed boolean",
    )
    return pages, seeds, robots, synth.host_rank_df(spark)


def q210_crawl_dedup(spark, sf):
    """End-to-end crawl + incremental-dedup integration: run_crawl()
    (scheduler/frontier.py) drives a synthetic 512-page corpus to
    frontier exhaustion, and EACH round's fetched batch flows through
    minhash_ingest_round (operators/incremental.py) against ONE
    on-disk bucket state — the production composition where every
    crawl round dedups its new pages against everything fetched so
    far.  Output: one marker row (id, id, 0) per fetched article page
    (pinning the fetched SET) plus the union of the rounds' dup pairs
    (pinning the incremental-dedup contract across crawl-shaped,
    politeness-ordered batches).

    The oracle derives BOTH halves without either machine: a
    recursive-CTE BFS closure over the frozen raw link graph
    (tests/fixtures/q210_crawl_graph.parquet — generator facts only,
    scripts/freeze_crawl_graph.py) gives the set a correct crawl must
    fetch (depth <= 2 from the seeds, robots-disallowed site19
    excluded; nav urls absent from the pages table are fetch misses
    with no text and no links, so they can affect neither half), and
    the q10-proven full-corpus MinHash derivation over the closure's
    texts gives the pairs the per-round union must reproduce
    pair-for-pair."""
    import shutil
    import tempfile

    from langscrape_spark.operators.incremental import minhash_ingest_round
    from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
    from langscrape_spark.sources.catalog import Catalog

    pages, seeds, robots, host_rank = _crawl_fixture(spark)
    cat_dir = tempfile.mkdtemp(prefix="q210_cat_")
    state = tempfile.mkdtemp(prefix="q210_mh_state_")
    try:
        catalog = Catalog(spark, cat_dir)
        cfg = CrawlConfig(
            batch_size=128, max_depth=2, max_rounds=60, seen_partitions=8
        )
        run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
        sched = catalog.read_appended("schedule")
        docs = pages.select(
            F.regexp_extract("url", "article-(\\d+)", 1)
            .cast("long").alias("doc_id"),
            "url", "text",
        )
        rounds = sorted(
            r["round"] for r in sched.select("round").distinct().collect()
        )
        out = None
        for r in rounds:
            batch = (
                sched.where(F.col("round") == r)
                .join(docs, "url")
                .select("doc_id", "text")
            )
            # Pairs are eagerly checkpointed inside the ingest (they
            # must be — the pair plan reads the state files the append
            # is about to grow); markers checkpoint too so the union
            # survives the catalog tempdir's cleanup.
            pairs = minhash_ingest_round(
                batch, state, "text", "doc_id",
                num_hashes=16, bands=4, k=3, n_parts=8,
            )
            markers = batch.select(
                F.col("doc_id").alias("id_a"),
                F.col("doc_id").alias("id_b"),
                F.lit(0).cast("long").alias("n_shared_bands"),
            ).localCheckpoint(eager=True)
            both = pairs.select(
                "id_a", "id_b",
                F.col("n_shared_bands").cast("long").alias("n_shared_bands"),
            ).unionByName(markers)
            out = both if out is None else out.unionByName(both)
    finally:
        shutil.rmtree(cat_dir, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)
    return out


def q211_semantic_incremental_pq(spark, sf):
    """q159 with a PRODUCT-QUANTIZED state payload (operators/
    incremental.py::semantic_ingest_round_pq) — the 10^10-doc fix the
    raw-vector state's own docstring names: state rows store m=8 PQ
    codes (8 bytes/doc) instead of dim·4 float bytes; the new×old
    probe screens candidates with the asymmetric ADC cosine at
    ``threshold - slack`` and survivors re-rank by EXACT cosine
    against the system-of-record embeddings table.  Rounds are
    vec_id % 3 over the q35/q77 IVF geometry (centroids and PQ
    codebooks both frozen across rounds — their digests are pinned in
    the state marker).  The oracle reads the SAME frozen (vec_id,
    cluster) map and the q86 frozen codebooks/codes and derives the
    full answer in SQL: same-round pairs cut at exact cosine ≥ 0.35;
    cross-round pairs additionally gated by the later-round doc's ADC
    cosine against the earlier doc's codes at ≥ 0.25 — the union of
    the three incremental rounds must equal it exactly (the q154
    union-equivalence contract with the PQ screen reproduced, not
    merely bounded)."""
    import shutil
    import tempfile

    from langscrape_spark.operators.ann import (
        ivf_assign,
        ivf_centroids,
        pq_codebooks,
    )
    from langscrape_spark.operators.incremental import (
        semantic_ingest_round_pq,
    )

    emb = _t(spark, sf, "embeddings")
    cents = ivf_centroids(emb, k=16, iterations=2)
    cbs = pq_codebooks(emb, m=8, ksub=16, iterations=2)
    assigned = ivf_assign(emb, cents).select(
        F.col("vec_id").alias("id"),
        F.col("bucket").alias("cluster"),
        F.col("embedding").alias("vec"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    state = tempfile.mkdtemp(prefix="q211_sempq_state_")
    try:
        out = None
        for r in range(3):
            batch = assigned.where(F.col("id") % 3 == r)
            pairs = semantic_ingest_round_pq(
                batch, state, threshold=0.35, k=16,
                codebooks=cbs, corpus_vecs=corpus, slack=0.1, n_parts=8,
            )
            out = pairs if out is None else out.unionByName(pairs)
        return out.orderBy("id_a", "id_b")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q212_revisit_sweep(spark, sf):
    """Revisit sweep end-to-end (scheduler/frontier.py::sweep_revisit
    — the production consumer of q48's revisit_schedule and the north
    rule's "re-admit pages due for revisit"): q210's crawl runs to
    exhaustion, every fetched article with page_id % 9 == 0 is swept
    back into the committed frontier, and a second submission resumes
    from the checkpoint.  Output: (page_id, n_scheduled) per article
    page — due pages must schedule EXACTLY twice, everything else
    once, including the pages newly reachable only through the
    re-opened depth-2 neighborhood of the due set.  The oracle
    derives all three sets from the frozen raw link graph alone: the
    q210 closure (first submission's fetch set), its %9 subset (the
    due list), and a second recursive closure seeded from the due
    pages (what the re-fetch may re-open) — no scheduler code on
    either side of the comparison."""
    import shutil
    import tempfile

    from langscrape_spark.scheduler.frontier import (
        CrawlConfig,
        run_crawl,
        sweep_revisit,
    )
    from langscrape_spark.sources.catalog import Catalog

    pages, seeds, robots, host_rank = _crawl_fixture(spark)
    cat_dir = tempfile.mkdtemp(prefix="q212_cat_")
    try:
        catalog = Catalog(spark, cat_dir)
        cfg = CrawlConfig(
            batch_size=192, max_depth=2, max_rounds=30, seen_partitions=8
        )
        run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg)
        pid = F.regexp_extract("url", "article-(\\d+)", 1)
        sched1 = catalog.read_appended("schedule")
        due = (
            sched1.select("url")
            .where((pid != "") & (pid.cast("long") % 9 == 0))
            .distinct()
        )
        sweep_revisit(spark, catalog, due, robots, host_rank, cycle_id="q212-cycle-1")
        cfg2 = CrawlConfig(
            batch_size=192, max_depth=2, max_rounds=60, seen_partitions=8
        )
        run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg2)
        out = (
            catalog.read_appended("schedule")
            .select(pid.alias("pid"))
            .where(F.col("pid") != "")
            .select(F.col("pid").cast("long").alias("page_id"))
            .groupBy("page_id")
            .agg(F.count(F.lit(1)).alias("n_scheduled"))
            .orderBy("page_id")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(cat_dir, ignore_errors=True)


def _path_entropy_oracle() -> str:
    return """
        -- Conditional path entropy replay: same md5-draw segments,
        -- bigram/context counts, per-context entropy and the
        -- count-weighted mixture. Spark: q209_path_entropy.
        WITH segs AS (
          SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) AS host,
                 'cat' || CAST(doc_id % 3 AS VARCHAR) AS prev,
                 CASE WHEN doc_id % 11 = 10
                 THEN 'sess' || CAST(CAST(
                   CAST(md5_number_lower('t:'
                     || CAST(doc_id AS VARCHAR)) AS HUGEINT)
                   % (CAST(1 AS HUGEINT) << 63) % 1000 AS BIGINT)
                   AS VARCHAR)
                 ELSE 'slug' || CAST(CAST(
                   CAST(md5_number_lower('n:'
                     || CAST(doc_id AS VARCHAR)) AS HUGEINT)
                   % (CAST(1 AS HUGEINT) << 63) % 4 AS BIGINT)
                   AS VARCHAR)
                 END AS nxt
          FROM documents),
        big AS (
          SELECT host, prev, nxt, count(*) AS c
          FROM segs GROUP BY host, prev, nxt),
        ctx AS (
          SELECT host, prev, sum(c) AS cc
          FROM big GROUP BY host, prev),
        hc AS (
          SELECT b.host, b.prev, max(x.cc) AS cc,
                 -sum((b.c * 1.0 / x.cc) * ln(b.c * 1.0 / x.cc))
                   AS h_cond
          FROM big b JOIN ctx x
            ON b.host = x.host AND b.prev = x.prev
          GROUP BY b.host, b.prev),
        tot AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                 CAST(count(DISTINCT nxt) AS BIGINT)
                   AS n_distinct_next
          FROM segs GROUP BY host),
        ent AS (
          SELECT host, sum(cc * h_cond) AS num, sum(cc) AS den
          FROM hc GROUP BY host)
        SELECT t.host, t.n_urls, t.n_distinct_next,
               round(e.num / e.den, 6) AS h_next_given_prev
        FROM tot t JOIN ent e ON t.host = e.host
        ORDER BY t.host
    """


def _salsa_oracle() -> str:
    from langscrape_spark.operators.hostrank import salsa_oracle_sql

    return salsa_oracle_sql(_HOSTGRAPH_RAW_SQL, iterations=6)


def _ndcg_oracle() -> str:
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    cum = []
    t = 0.0
    for x in w:
        t += x
        cum.append(t)
    wcase = " ".join(
        f"WHEN {i + 1} THEN {v!r}" for i, v in enumerate(w)
    )
    ccase = " ".join(
        f"WHEN {i + 1} THEN {v!r}" for i, v in enumerate(cum)
    )
    return f"""
        -- nDCG@10 re-derived: q59's BM25 top-10, the SAME Python
        -- weight literals, rel join with 0 default, idcg from the
        -- cumulative-literal table at min(R, 10). Spark:
        -- operators/evalops.py::ndcg_at_k.
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        postings AS (
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY term, doc_id),
        dl AS (
          SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        consts AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
          FROM dl),
        q(term) AS (VALUES ('hash'), ('scan'), ('table')),
        hits AS (SELECT p.* FROM postings p JOIN q USING (term)),
        dfs AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM hits GROUP BY term),
        scored AS (
          SELECT h.doc_id,
                 sum(ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
                     * h.tf
                     / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)))
                   AS score
          FROM hits h
          JOIN dfs d USING (term)
          JOIN dl l USING (doc_id), consts c
          GROUP BY h.doc_id),
        top AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY round(score, 6) DESC,
                                    doc_id) AS rn
          FROM scored QUALIFY rn <= 10),
        rel AS (
          SELECT doc_id,
                 CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS r
          FROM documents),
        joined AS (
          SELECT t.rn, coalesce(rel.r, 0) AS r
          FROM top t LEFT JOIN rel USING (doc_id)),
        rt AS (SELECT CAST(sum(r) AS BIGINT) AS n_relevant FROM rel),
        a AS (
          SELECT CAST(count(*) AS BIGINT) AS n_ranked,
                 round(coalesce(sum(r * CASE rn {wcase} END), 0.0), 6)
                   AS dcg
          FROM joined)
        SELECT CAST(10 AS INT) AS k, n_ranked, n_relevant, dcg,
               round(coalesce(CASE least(n_relevant, 10) {ccase} END,
                              0.0), 6) AS idcg,
               round(CASE WHEN n_relevant > 0 THEN
                 dcg / (CASE least(n_relevant, 10) {ccase} END)
               END, 6) AS ndcg
        FROM a, rt
    """


def _sa_corpus_sql(pred: str, cap: int, text_expr: str) -> str:
    """Shared oracle CTE prefix for the suffix-array queries: the SAME
    normalization (lower, [a-z0-9 ], cap), md5(doc_id) layout order,
    chr(1) terminators and 1-based global positions that
    operators/suffix.py::corpus_positions computes distributively —
    but here via one literal string_agg corpus. Yields CTEs ``corpus``
    (the string) and ``pos`` (doc_id, len, gpos, pos_in_doc)."""
    return f"""
            WITH sel AS (
              SELECT doc_id,
                     coalesce(substr(regexp_replace(lower({text_expr}),
                       '[^a-z0-9 ]', '', 'g'), 1, {cap}), '') AS t,
                     md5('s:' || CAST(doc_id AS VARCHAR)) AS k
              FROM documents WHERE {pred}),
            laid AS (
              SELECT doc_id, length(t) AS len,
                     sum(length(t) + 1) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - (length(t) + 1) AS start0
              FROM sel),
            corpus AS (
              SELECT string_agg(t || chr(1), '' ORDER BY k) AS c
              FROM sel),
            pos AS (
              SELECT doc_id, len, start0 + i AS gpos, i AS pos_in_doc
              FROM (SELECT doc_id, len, start0,
                           unnest(range(1, len + 2)) AS i
                    FROM laid))
    """


# Driver-verification rotation: never-driver-checked queries FIRST.
#
# The driver's independent CORRECTNESS check samples a fixed-size
# window (50 names in r1-r4) from the head of queries()/oracle_sql()
# iteration order.  Rounds 1-4 verified 86 distinct queries (every
# sampled one green, zero regressions ever); the remaining 122 had
# only the in-repo DuckDB parity suite (tests/test_queries.py, which
# runs ALL oracled queries at sf0.01).  Per the round-4 brief, each
# round rotates 50 never-driver-checked names to the front so the
# independent check accumulates full coverage: this round the head is
# the two NEW integration queries (q210 crawl+dedup, q211 PQ-payload
# semantic state) then the entirely-unchecked q165-q185 block
# (mirrors, DUST, as-of, bow-tie, IP-CIDR, media fingerprints)
# followed by the q52-q83 stragglers — 50 names never independently
# verified before.  Names and bodies are unchanged -- only dict insertion
# order moves.  The tail keeps the rest of the never-checked set in
# numeric order (useful if the window ever widens), then
# _family_interleaved appends all previously-verified names in their
# original order.
_PRIORITY_ORDER = [
    "q210_crawl_dedup",
    "q211_semantic_incremental_pq",
    "q212_revisit_sweep",
    "q165_mirror_hosts",
    "q166_dust_rules",
    "q167_param_significance",
    "q168_harmonic",
    "q169_asof_join",
    "q170_bowtie",
    "q171_ip_asn",
    "q172_ht_estimate",
    "q173_logreg_gd",
    "q174_rake",
    "q175_revalidation",
    "q176_best_passage",
    "q177_scc",
    "q178_dust_apply",
    "q179_surt",
    "q180_hub_removal",
    "q181_ring_churn",
    "q182_lsh_recall",
    "q183_image_dhash",
    "q184_audio_fp",
    "q185_video_framedup",
    "q52_anchor_rollup",
    "q55_boilerplate_removal",
    "q58_mixture_select",
    "q60_revisit_priority",
    "q61_more_like_this",
    "q62_bigram_ppl",
    "q63_exact_substring",
    "q64_host_quality",
    "q65_chunk_documents",
    "q66_mojibake",
    "q67_nb_quality",
    "q68_page_filter",
    "q69_page_meta",
    "q70_split_leakage",
    "q71_containment",
    "q72_c4_clean",
    "q73_link_farms",
    "q74_change_similarity",
    "q75_score_calibration",
    "q76_robust_outliers",
    "q77_semdedup",
    "q78_pmi_collocations",
    "q79_resolve_redirects",
    "q80_winnow_fingerprints",
    "q81_winnow_overlap",
    "q82_zipf_stats",
    # --- beyond the 50-name window (q210/q211/q212 at the head
    # --- shifted the cut to q82): remaining never-checked, numeric ---
    "q83_tfidf_keywords",
    "q85_bpe_encode",
    "q86_pq_ann",
    "q88_kneser_ney",
    "q90_entropy_profile",
    "q91_query_likelihood",
    "q92_phrase_search",
    "q93_cocitation",
    "q94_hits",
    "q95_trustrank",
    "q96_label_propagation",
    "q97_int8_ann",
    "q100_temperature_mix",
    "q101_bfs_depths",
    "q102_curation_funnel",
    "q103_sessionize",
    "q104_cdc_chunks",
    "q105_triangles",
    "q107_mmr_diversify",
    "q109_repeated_grams",
    "q111_link_prediction",
    "q112_kmeans",
    "q113_readability",
    "q114_grid_quantiles",
    "q115_sequence_pack",
    "q116_edit_join",
    "q118_opic",
    "q119_js_drift",
    "q120_bpe_fertility",
    "q121_cusum_bursts",
    "q122_seed_cover",
    "q123_path_rollup",
    "q124_textrank",
    "q125_ema_revisit",
    "q126_skyline",
    "q127_ks_drift",
    "q130_containment_join",
    "q131_unimax",
    "q132_spearman",
    "q133_classifier_auc",
    "q134_gini",
    "q135_politeness_audit",
    "q136_assortativity",
    "q138_keep_rate_chi2",
    "q139_apportion",
    "q140_capture_recapture",
    "q141_chao1",
    "q144_benford",
    "q145_burstiness",
    "q146_vocab_growth",
    "q148_novelty",
    "q149_compaction_schedule",
    "q150_index_compression",
    "q151_f1_threshold",
    "q152_hill_alpha",
    "q153_ndcg",
    "q155_simhash_incremental",
    "q156_novelty_incremental",
    "q189_blocklist",
    "q190_bitext_mining",
    "q191_k_anonymity",
    "q194_hard_negatives",
    "q196_waterfill",
    "q197_texttiling",
    "q198_hilbert_layout",
    "q199_aimd_rates",
    "q201_min_k_prob",
    "q202_average_precision",
    "q203_cdc_reuse",
    "q204_eb_shrinkage",
    "q205_bootstrap_ci",
    "q206_sitemap_coverage",
    "q207_hreflang_reciprocity",
    "q208_status_transitions",
    "q209_path_entropy",
]


def _family_interleaved(d: dict) -> dict:
    """Reorder a query-name-keyed dict so _PRIORITY_ORDER names come
    first (those present), then everything else in its original order.
    Key set and values are untouched."""
    out = {name: d[name] for name in _PRIORITY_ORDER if name in d}
    for name, v in d.items():
        if name not in out:
            out[name] = v
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _family_interleaved({
        "q01_top1_per_group": q01_top1_per_group,
        "q02_politeness_topk": q02_politeness_topk,
        "q03_outer_join_pivot": q03_outer_join_pivot,
        "q04_setop_eval_f1": q04_setop_eval_f1,
        "q05_binned_avg": q05_binned_avg,
        "q06_percentile_describe": q06_percentile_describe,
        "q07_stratified_sample": q07_stratified_sample,
        "q08_exact_dedup": q08_exact_dedup,
        "q09_ngram_jaccard": q09_ngram_jaccard,
        "q10_minhash_lsh": q10_minhash_lsh,
        "q11_lang_quality": q11_lang_quality,
        "q12_token_fingerprint": q12_token_fingerprint,
        "q13_cosine_topk": q13_cosine_topk,
        "q14_groupagg_rollup": q14_groupagg_rollup,
        "q15_best_per_group": q15_best_per_group,
        "q16_simhash": q16_simhash,
        "q17_lsh_ann": q17_lsh_ann,
        "q18_extract_kernel": q18_extract_kernel,
        "q19_crawl_schedule": q19_crawl_schedule,
        "q20_embedding_neardup": q20_embedding_neardup,
        "q21_embedding_neardup_lsh": q21_embedding_neardup_lsh,
        "q22_dom_structural_stats": q22_dom_structural_stats,
        "q23_node_weights": q23_node_weights,
        "q24_media_features": q24_media_features,
        "q25_corr_by_group": q25_corr_by_group,
        "q26_setops_drift": q26_setops_drift,
        "q27_xpath_prefix_dedup": q27_xpath_prefix_dedup,
        "q28_json_extract": q28_json_extract,
        "q29_ordered_distinct": q29_ordered_distinct,
        "q30_date_rollup": q30_date_rollup,
        "q31_template_cluster": q31_template_cluster,
        "q32_host_pagerank": q32_host_pagerank,
        "q33_clean_tags": q33_clean_tags,
        "q34_swde_rank": q34_swde_rank,
        "q35_ivf_ann": q35_ivf_ann,
        "q36_select_best_xpath": q36_select_best_xpath,
        "q37_scheme_report": q37_scheme_report,
        "q38_repetition_quality": q38_repetition_quality,
        "q39_dup_clusters": q39_dup_clusters,
        "q40_span_dedup": q40_span_dedup,
        "q41_decontaminate": q41_decontaminate,
        "q42_pii_scrub": q42_pii_scrub,
        "q43_canonical_urls": q43_canonical_urls,
        "q44_gopher_quality": q44_gopher_quality,
        "q45_parse_robots": q45_parse_robots,
        "q46_robots_decision": q46_robots_decision,
        "q47_sitemap_entries": q47_sitemap_entries,
        "q48_revisit_schedule": q48_revisit_schedule,
        "q49_warc_ingest": q49_warc_ingest,
        "q50_url_traps": q50_url_traps,
        "q51_cdx_fetch_plan": q51_cdx_fetch_plan,
        "q52_anchor_rollup": q52_anchor_rollup,
        "q53_ppl_buckets": q53_ppl_buckets,
        "q54_crawl_delta": q54_crawl_delta,
        "q55_boilerplate_removal": q55_boilerplate_removal,
        "q56_dsir_select": q56_dsir_select,
        "q57_shard_pack": q57_shard_pack,
        "q58_mixture_select": q58_mixture_select,
        "q59_bm25_search": q59_bm25_search,
        "q60_revisit_priority": q60_revisit_priority,
        "q61_more_like_this": q61_more_like_this,
        "q62_bigram_ppl": q62_bigram_ppl,
        "q63_exact_substring": q63_exact_substring,
        "q64_host_quality": q64_host_quality,
        "q65_chunk_documents": q65_chunk_documents,
        "q66_mojibake": q66_mojibake,
        "q67_nb_quality": q67_nb_quality,
        "q68_page_filter": q68_page_filter,
        "q69_page_meta": q69_page_meta,
        "q70_split_leakage": q70_split_leakage,
        "q71_containment": q71_containment,
        "q72_c4_clean": q72_c4_clean,
        "q73_link_farms": q73_link_farms,
        "q74_change_similarity": q74_change_similarity,
        "q75_score_calibration": q75_score_calibration,
        "q76_robust_outliers": q76_robust_outliers,
        "q77_semdedup": q77_semdedup,
        "q78_pmi_collocations": q78_pmi_collocations,
        "q79_resolve_redirects": q79_resolve_redirects,
        "q80_winnow_fingerprints": q80_winnow_fingerprints,
        "q81_winnow_overlap": q81_winnow_overlap,
        "q82_zipf_stats": q82_zipf_stats,
        "q83_tfidf_keywords": q83_tfidf_keywords,
        "q84_bpe_train": q84_bpe_train,
        "q85_bpe_encode": q85_bpe_encode,
        "q86_pq_ann": q86_pq_ann,
        "q87_hll_distinct": q87_hll_distinct,
        "q88_kneser_ney": q88_kneser_ney,
        "q89_count_min": q89_count_min,
        "q90_entropy_profile": q90_entropy_profile,
        "q91_query_likelihood": q91_query_likelihood,
        "q92_phrase_search": q92_phrase_search,
        "q93_cocitation": q93_cocitation,
        "q94_hits": q94_hits,
        "q95_trustrank": q95_trustrank,
        "q96_label_propagation": q96_label_propagation,
        "q97_int8_ann": q97_int8_ann,
        "q98_kcore": q98_kcore,
        "q99_prefix_jaccard": q99_prefix_jaccard,
        "q100_temperature_mix": q100_temperature_mix,
        "q101_bfs_depths": q101_bfs_depths,
        "q102_curation_funnel": q102_curation_funnel,
        "q103_sessionize": q103_sessionize,
        "q104_cdc_chunks": q104_cdc_chunks,
        "q105_triangles": q105_triangles,
        "q106_rrf_hybrid": q106_rrf_hybrid,
        "q107_mmr_diversify": q107_mmr_diversify,
        "q108_suffix_array": q108_suffix_array,
        "q109_repeated_grams": q109_repeated_grams,
        "q110_heavy_hitters": q110_heavy_hitters,
        "q111_link_prediction": q111_link_prediction,
        "q112_kmeans": q112_kmeans,
        "q113_readability": q113_readability,
        "q114_grid_quantiles": q114_grid_quantiles,
        "q115_sequence_pack": q115_sequence_pack,
        "q116_edit_join": q116_edit_join,
        "q117_zorder_layout": q117_zorder_layout,
        "q118_opic": q118_opic,
        "q119_js_drift": q119_js_drift,
        "q120_bpe_fertility": q120_bpe_fertility,
        "q121_cusum_bursts": q121_cusum_bursts,
        "q122_seed_cover": q122_seed_cover,
        "q123_path_rollup": q123_path_rollup,
        "q124_textrank": q124_textrank,
        "q125_ema_revisit": q125_ema_revisit,
        "q126_skyline": q126_skyline,
        "q127_ks_drift": q127_ks_drift,
        "q128_bm25_maxscore": q128_bm25_maxscore,
        "q130_containment_join": q130_containment_join,
        "q131_unimax": q131_unimax,
        "q132_spearman": q132_spearman,
        "q133_classifier_auc": q133_classifier_auc,
        "q134_gini": q134_gini,
        "q135_politeness_audit": q135_politeness_audit,
        "q136_assortativity": q136_assortativity,
        "q137_partition_skew": q137_partition_skew,
        "q138_keep_rate_chi2": q138_keep_rate_chi2,
        "q139_apportion": q139_apportion,
        "q140_capture_recapture": q140_capture_recapture,
        "q141_chao1": q141_chao1,
        "q142_registrable_domain": q142_registrable_domain,
        "q143_rendezvous": q143_rendezvous,
        "q144_benford": q144_benford,
        "q145_burstiness": q145_burstiness,
        "q146_vocab_growth": q146_vocab_growth,
        "q147_neighborhood_function": q147_neighborhood_function,
        "q148_novelty": q148_novelty,
        "q149_compaction_schedule": q149_compaction_schedule,
        "q150_index_compression": q150_index_compression,
        "q151_f1_threshold": q151_f1_threshold,
        "q152_hill_alpha": q152_hill_alpha,
        "q153_ndcg": q153_ndcg,
        "q154_minhash_incremental": q154_minhash_incremental,
        "q155_simhash_incremental": q155_simhash_incremental,
        "q156_novelty_incremental": q156_novelty_incremental,
        "q157_soft404": q157_soft404,
        "q158_filter_funnel": q158_filter_funnel,
        "q159_semantic_incremental": q159_semantic_incremental,
        "q160_weighted_sample": q160_weighted_sample,
        "q161_ucb_budget": q161_ucb_budget,
        "q162_salsa": q162_salsa,
        "q163_exact_incremental": q163_exact_incremental,
        "q164_psi_drift": q164_psi_drift,
        "q165_mirror_hosts": q165_mirror_hosts,
        "q166_dust_rules": q166_dust_rules,
        "q167_param_significance": q167_param_significance,
        "q168_harmonic": q168_harmonic,
        "q169_asof_join": q169_asof_join,
        "q170_bowtie": q170_bowtie,
        "q171_ip_asn": q171_ip_asn,
        "q172_ht_estimate": q172_ht_estimate,
        "q173_logreg_gd": q173_logreg_gd,
        "q174_rake": q174_rake,
        "q175_revalidation": q175_revalidation,
        "q176_best_passage": q176_best_passage,
        "q177_scc": q177_scc,
        "q178_dust_apply": q178_dust_apply,
        "q179_surt": q179_surt,
        "q180_hub_removal": q180_hub_removal,
        "q181_ring_churn": q181_ring_churn,
        "q182_lsh_recall": q182_lsh_recall,
        "q183_image_dhash": q183_image_dhash,
        "q184_audio_fp": q184_audio_fp,
        "q185_video_framedup": q185_video_framedup,
        "q186_theta_snapshots": q186_theta_snapshots,
        "q187_cuckoo_revisit": q187_cuckoo_revisit,
        "q188_record_linkage": q188_record_linkage,
        "q189_blocklist": q189_blocklist,
        "q190_bitext_mining": q190_bitext_mining,
        "q191_k_anonymity": q191_k_anonymity,
        "q192_range_partitioner": q192_range_partitioner,
        "q193_incremental_pagerank": q193_incremental_pagerank,
        "q194_hard_negatives": q194_hard_negatives,
        "q195_oph_minhash": q195_oph_minhash,
        "q196_waterfill": q196_waterfill,
        "q197_texttiling": q197_texttiling,
        "q198_hilbert_layout": q198_hilbert_layout,
        "q199_aimd_rates": q199_aimd_rates,
        "q200_fuzzy_decontaminate": q200_fuzzy_decontaminate,
        "q201_min_k_prob": q201_min_k_prob,
        "q202_average_precision": q202_average_precision,
        "q203_cdc_reuse": q203_cdc_reuse,
        "q204_eb_shrinkage": q204_eb_shrinkage,
        "q205_bootstrap_ci": q205_bootstrap_ci,
        "q206_sitemap_coverage": q206_sitemap_coverage,
        "q207_hreflang_reciprocity": q207_hreflang_reciprocity,
        "q208_status_transitions": q208_status_transitions,
        "q209_path_entropy": q209_path_entropy,
        "q210_crawl_dedup": q210_crawl_dedup,
        "q211_semantic_incremental_pq": q211_semantic_incremental_pq,
        "q212_revisit_sweep": q212_revisit_sweep,
    })


# ---------------------------------------------------------------------------
# oracles (DuckDB)
# ---------------------------------------------------------------------------

def _fixture(name: str) -> str:
    """Absolute path of a frozen kernel-output fixture (see
    scripts/freeze_dom_fixtures.py). DuckDB cannot parse HTML, so the
    q22/q23/q31 oracles aggregate over the frozen, deterministic kernel
    outputs while the Spark queries compute the same tables live — the
    compare checks the downstream aggregation exactly and pins the
    kernel output."""
    import os

    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", name
    )


def _pagerank_sql(iterations: int = 8, damping: float = 0.85) -> str:
    """q32 oracle: weighted PageRank with the power iterations unrolled
    as chained MATERIALIZED CTEs (DuckDB's recursive CTEs disallow
    aggregates in the recursive term, and the iteration count is fixed
    anyway). Every CTE is MATERIALIZED: DuckDB otherwise inlines each
    reference, and r{i+1} reads r{i} twice (the m{i} dangling mass and
    the in-rank join), so the inlined plan doubles per iteration — 6
    iterations already exhaust a 4 GB memory limit on the 340-edge
    fixture, while materialized the 8-iteration query runs in ~0.02 s
    (DuckDB 1.0.0, 4-core AMD EPYC). Materializing changes only the
    evaluation strategy, not the arithmetic. The edge table is the
    frozen link-harvest kernel output
    (tests/fixtures/q32_host_edges.parquet — regenerated by
    scripts/freeze_dom_fixtures.py); the Spark query computes the same
    edges live, so the compare pins the link kernel AND checks every
    float of the iteration: per-iteration linked-mass for dangling
    redistribution (skipped exactly like Spark when no host is
    dangling), rank' = (1-d)/n + d*(in_rank + dangling), final
    round(·,8) then max-normalize round(·,6) — all IEEE-double ops with
    identical literal arithmetic, so only summation order differs
    (absorbed by the rounding, ~1e-15 vs 1e-8)."""
    d = repr(damping)
    parts = [
        f"""
        WITH edges AS MATERIALIZED (
          SELECT src_host, dst_host, weight
          FROM read_parquet('{_fixture("q32_host_edges.parquet")}')),
        hosts AS MATERIALIZED (
          SELECT src_host AS host FROM edges
          UNION SELECT dst_host FROM edges),
        par AS MATERIALIZED (
          SELECT CAST(count(*) AS DOUBLE) AS n FROM hosts),
        outw AS MATERIALIZED (
          SELECT src_host, sum(weight) AS out_w
          FROM edges GROUP BY src_host),
        trans AS MATERIALIZED (
          SELECT e.src_host, e.dst_host, e.weight / o.out_w AS p
          FROM edges e JOIN outw o USING (src_host)),
        srcs AS MATERIALIZED (SELECT DISTINCT src_host FROM trans),
        nd AS MATERIALIZED (
          SELECT count(*) AS n_dangling FROM hosts h
          WHERE NOT EXISTS (
            SELECT 1 FROM srcs s WHERE s.src_host = h.host)),
        r0 AS MATERIALIZED (
          SELECT h.host, 1.0 / p.n AS rank
          FROM hosts h CROSS JOIN par p)"""
    ]
    for i in range(iterations):
        parts.append(f""",
        m{i} AS MATERIALIZED (
          SELECT COALESCE(sum(r.rank), 0) AS linked
          FROM r{i} r JOIN srcs s ON s.src_host = r.host),
        r{i + 1} AS MATERIALIZED (
          SELECT h.host,
                 (1.0 - {d}) / p.n + {d} * (
                   COALESCE(c.in_rank, 0)
                   + CASE WHEN nd.n_dangling = 0 THEN 0.0
                          ELSE (1.0 - m.linked) / p.n END) AS rank
          FROM hosts h
          LEFT JOIN (
            SELECT t.dst_host AS host, sum(t.p * r.rank) AS in_rank
            FROM trans t JOIN r{i} r ON t.src_host = r.host
            GROUP BY t.dst_host) c USING (host)
          CROSS JOIN par p CROSS JOIN nd CROSS JOIN m{i} m)""")
    parts.append(f""",
        pr AS (SELECT host, round(rank, 8) AS rank FROM r{iterations}),
        mx AS (SELECT max(rank) AS mxr FROM pr)
        SELECT pr.host, round(pr.rank / mx.mxr, 6) AS rank
        FROM pr CROSS JOIN mx""")
    return "".join(parts)


def _tag_weight_case_sql() -> str:
    """The node-weight tag/class table as a SQL CASE (single source:
    operators/domtable.TAG_WEIGHTS)."""
    from langscrape_spark.operators.domtable import (
        DEFAULT_TAG_WEIGHT,
        TAG_WEIGHTS,
    )

    whens = " ".join(
        f"WHEN '{t}' THEN {w}" for t, w in TAG_WEIGHTS.items()
    )
    return f"CASE tag {whens} ELSE {DEFAULT_TAG_WEIGHT} END"


def _all_tags_sql() -> str:
    """The clean_tags union vocabulary as a DuckDB list literal."""
    from langscrape_spark.functions.tagvocab import ALL_TAGS

    return "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in ALL_TAGS) + "]"


_TOKENS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
_SHINGLES3 = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(len(tok) - 2, 0) + 1), "
    "i -> array_to_string(tok[i:i+2], ' '))))"
)
_SHINGLES2 = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(len(tok) - 1, 0) + 1), "
    "i -> array_to_string(tok[i:i+1], ' '))))"
)
def _lang_score_sql() -> tuple[str, str]:
    """(score select-list, argmax CASE) for the q11 oracle, generated
    from the SAME data the Spark operator uses
    (operators/text.STOPWORDS / CHAR_CLASSES) — one source of truth.
    The CASE iterates language codes ascending so ties resolve to the
    smallest code, exactly the Spark aggregate's first-max rule.
    (Single source of truth: no SQL-side stopword literals exist —
    they are all generated from the operator's data tables.)"""
    from langscrape_spark.operators.text import CHAR_CLASSES, STOPWORDS

    exprs = []
    for lang, sw in STOPWORDS.items():
        lst = "[" + ",".join("'" + s + "'" for s in sw) + "]"
        exprs.append((lang, f"len(list_intersect(tok, {lst}))"))
    for lang, rng in CHAR_CLASSES.items():
        exprs.append(
            (lang, f"length(regexp_replace(text, '[^{rng}]', '', 'g'))")
        )
    select = ",\n                     ".join(
        f"{e} AS s_{lang}" for lang, e in exprs
    )
    codes = sorted(lang for lang, _ in exprs)
    all_scores = ", ".join(f"s_{c}" for c in codes)
    whens = " ".join(
        f"WHEN s_{c} >= greatest({all_scores}) THEN '{c}'" for c in codes
    )
    case = (
        f"CASE WHEN greatest({all_scores}) <= 0 THEN 'und' {whens} "
        "ELSE 'und' END"
    )
    return select, case


def _mojibake_sql(src_cte: str) -> tuple[str, int]:
    """Chained-CTE mojibake repair generated from the operator's
    MOJIBAKE_MAP (single source of truth — no SQL-side literals exist):
    CTE ``s{{i}}`` counts pattern i on the text state AFTER patterns
    0..i-1 were applied (mojibake_count's convention) and carries a
    running total. Returns (cte_chain, final_index); the caller
    selects ``acc{{n}}`` / ``t{{n}}`` from ``s{{n}}``."""
    from langscrape_spark.operators.text import MOJIBAKE_MAP

    ctes = [
        f"s0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS acc0, text AS t0 "
        f"FROM {src_cte})"
    ]
    for i, (bad, good) in enumerate(MOJIBAKE_MAP, start=1):
        b = bad.replace("'", "''")
        g = good.replace("'", "''")
        ctes.append(
            f"s{i} AS (SELECT doc_id, "
            f"acc{i - 1} + CAST((length(t{i - 1}) - "
            f"length(replace(t{i - 1}, '{b}', ''))) / {len(bad)} "
            f"AS BIGINT) AS acc{i}, "
            f"replace(t{i - 1}, '{b}', '{g}') AS t{i} FROM s{i - 1})"
        )
    return ",\n            ".join(ctes), len(MOJIBAKE_MAP)


# Shared oracle fragment: the q54 snapshot-delta CTE chain (old/new
# snapshots -> per-url status -> per-host rollup + NULL-safe rate).
# q60 composes revisit priorities on top of the same `rates` CTE.
_Q54_RATES_CTES = """old AS (
              SELECT 'https://h' || (doc_id % 17) || '.example.com/p/'
                       || doc_id AS url,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                       'g'))) AS fp
              FROM documents),
            new AS (
              SELECT 'https://h' || (doc_id % 17) || '.example.com/p/'
                       || doc_id AS url,
                     md5(trim(regexp_replace(lower(
                       CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                            ELSE text END), '\\s+', ' ', 'g'))) AS fp
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT 'https://h' || ((doc_id + 10000) % 17)
                       || '.example.com/p/' || (doc_id + 10000),
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                       'g')))
              FROM documents WHERE doc_id % 13 = 0),
            o2 AS (SELECT url, min(fp) AS old_fp FROM old GROUP BY url),
            n2 AS (SELECT url, min(fp) AS new_fp FROM new GROUP BY url),
            delta AS (
              SELECT url,
                     CASE WHEN old_fp IS NULL THEN 'new'
                          WHEN new_fp IS NULL THEN 'gone'
                          WHEN old_fp = new_fp THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM o2 FULL OUTER JOIN n2 USING (url)),
            hosted AS (
              SELECT lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)', 1),
                       ':[0-9]+$', '')) AS host, status
              FROM delta),
            agg AS (
              SELECT host,
                CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_gone,
                CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_changed,
                CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0
                  END) AS BIGINT) AS n_unchanged
              FROM hosted GROUP BY host),
            rates AS (
              SELECT host, n_new, n_gone, n_changed, n_unchanged,
                     CASE WHEN n_changed + n_unchanged = 0 THEN NULL
                          ELSE round(CAST(n_changed AS DOUBLE)
                                 / (n_changed + n_unchanged), 6)
                     END AS change_rate
              FROM agg)"""



def oracle_sql() -> dict[str, str]:
    from langscrape_spark.operators.ann import _deterministic_planes
    from langscrape_spark.operators.text import PII_PATTERNS, STOPWORDS

    # q17's query bucket, derived exactly the way lsh_topk derives it
    # (pure-python dot signs against the md5 planes) — never a
    # hand-copied constant, so a plane/QUERY_VEC change can't leave a
    # silently stale literal behind a re-frozen fixture.
    _q17_bucket = sum(
        1 << i
        for i, pl in enumerate(_deterministic_planes(len(QUERY_VEC), 8))
        if sum(float(x) * p for x, p in zip(QUERY_VEC, pl)) >= 0
    )

    # regex patterns live in the RE2 ∩ java.util.regex subset (see
    # operators/text.PII_PATTERNS) so both engines run the SAME text
    pii_email = PII_PATTERNS["email"]
    pii_ipv4 = PII_PATTERNS["ipv4"]
    pii_phone = PII_PATTERNS["phone"]
    en_stop = "[" + ",".join("'" + s + "'" for s in STOPWORDS["en"]) + "]"

    # q19 inputs as literals: the SAME deterministic generator rows the
    # Spark side builds (synth.url_of / robots_df / host_rank_df) —
    # data-independent, so embedding them keeps the oracle a genuinely
    # independent reimplementation of the admission semantics. repr()
    # keeps double literals bit-exact across both parsers. (Drift
    # between these literals and synth.py is caught by the q19 parity
    # test itself.)
    from langscrape_spark import synth as _synth
    from langscrape_spark.scheduler.policy import (
        BASE_BUDGET as _BB,
        DEPTH_PENALTY as _DP,
    )

    q19_urls = ", ".join(f"('{_synth.url_of(i)}', 0)" for i in range(0, 400, 2))
    q19_robots = ", ".join(
        f"('www.site{i}.example', {repr(2.0 if i == 0 else 0.5)}, "
        f"{'TRUE' if i != 19 else 'FALSE'})"
        for i in range(_synth.N_HOSTS)
    )
    q19_ranks = ", ".join(
        f"('www.site{i}.example', {repr(round(1.0 - i * 0.04, 4))})"
        for i in range(_synth.N_HOSTS)
    )

    def _sql_text(s: str) -> str:
        """A Python string as a DuckDB expression, newlines via
        chr(10) so the q45 robots templates stay byte-identical on
        both engines."""
        if not s:
            return "''"
        return " || chr(10) || ".join(
            "'" + p.replace("'", "''") + "'" for p in s.split("\n")
        )

    rt = [_sql_text(t) for t in _ROBOTS_TEMPLATES]
    rt2 = [_sql_text(t) for t in _ROBOTS_RFC_TEMPLATES]
    rfc_paths_values = ", ".join(f"('{p}')" for p in _RFC_PATHS)
    st = [_sql_text(t) for t in _SITEMAP_TEMPLATES]
    return _family_interleaved({
        "q01_top1_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) rn
              FROM orders) WHERE rn = 1
        """,
        "q02_politeness_topk": """
            SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) rn
              FROM events) WHERE rn <= 3
        """,
        "q03_outer_join_pivot": """
            SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)  AS n_click,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)  AS n_error,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
              CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
              CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)   AS n_view
            FROM events GROUP BY user_id
        """,
        "q04_setop_eval_f1": """
            WITH li AS (
              SELECT l_linestatus, l_returnflag, l_discount,
                     l_orderkey || '-' || l_linenumber AS value
              FROM lineitem),
            p AS (SELECT DISTINCT l_linestatus, value FROM li WHERE l_discount >= 0.05),
            t AS (SELECT DISTINCT l_linestatus, value FROM li WHERE l_returnflag = 'R'),
            j AS (
              SELECT coalesce(p.l_linestatus, t.l_linestatus) AS l_linestatus,
                     p.value AS pv, t.value AS tv
              FROM p FULL OUTER JOIN t
                ON p.l_linestatus = t.l_linestatus AND p.value = t.value),
            agg AS (
              SELECT l_linestatus,
                     CAST(sum(CASE WHEN pv IS NOT NULL AND tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) tp,
                     CAST(sum(CASE WHEN pv IS NOT NULL AND tv IS NULL THEN 1 ELSE 0 END) AS BIGINT) fp,
                     CAST(sum(CASE WHEN pv IS NULL AND tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) fn
              FROM j GROUP BY l_linestatus),
            pr AS (
              SELECT *,
                round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
                round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall
              FROM agg)
            SELECT l_linestatus, tp, fp, fn, precision, recall,
                   round(CASE WHEN precision + recall > 0
                         THEN 2 * precision * recall / (precision + recall)
                         ELSE 0.0 END, 6) AS f1
            FROM pr
        """,
        "q05_binned_avg": """
            SELECT floor(value / 10.0) * 10.0 AS bin,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1
        """,
        "q06_percentile_describe": """
            SELECT l_returnflag,
                   count(l_extendedprice) AS n,
                   round(avg(l_extendedprice), 6) AS mean,
                   round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
                   round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
            FROM lineitem GROUP BY l_returnflag
        """,
        "q07_stratified_sample": """
            SELECT c_mktsegment, c_custkey, c_name FROM (
              SELECT c_mktsegment, c_custkey, c_name,
                     row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) rn
              FROM customer) WHERE rn <= 3
        """,
        "q08_exact_dedup": """
            SELECT doc_id, fp FROM (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       ORDER BY doc_id ASC) rn
              FROM documents) WHERE rn = 1
        """,
        "q09_ngram_jaccard": f"""
            WITH base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM documents WHERE doc_id < 200)),
            ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM base),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
                     count(*) AS n_common
              FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b,
                   round(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
            FROM inter
            WHERE n_common / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.12
        """,
        "q182_lsh_recall": f"""
            -- Both generators re-derived (q09's exact posting join,
            -- df-cap off, threshold 0.5; q10's banded signatures)
            -- plus the confusion counts. Spark: q182_lsh_recall.
            WITH base AS (
              SELECT doc_id AS id, {{_SH}} AS sh
              FROM (SELECT doc_id, text, {{_TK}} AS tok
                    FROM documents WHERE doc_id < 200)),
            ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s
                   FROM base),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                     b.n_sh AS n_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4),
            truth AS (
              SELECT id_a, id_b FROM inter
              WHERE n_common / CAST(n_a + n_b - n_common AS DOUBLE)
                    >= 0.5),
            sig AS (
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s)
                                          AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR))
                       AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2]
                         || '|' || sg[b*4+3] || '|' || sg[b*4+4])))
                AS bucket
              FROM sig),
            cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b
                ON a.bucket = b.bucket AND a.id < b.id),
            j AS (
              SELECT coalesce(t.id_a, c.id_a) AS id_a,
                     CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END
                       AS t,
                     CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END
                       AS c
              FROM truth t FULL OUTER JOIN cand c
                ON t.id_a = c.id_a AND t.id_b = c.id_b),
            agg AS (
              SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n_truth,
                     CAST(coalesce(sum(c), 0) AS BIGINT) AS n_cand,
                     CAST(coalesce(sum(t * c), 0) AS BIGINT) AS n_tp
              FROM j)
            SELECT n_truth, n_cand, n_tp,
                   CASE WHEN n_truth > 0 THEN
                     (n_tp * CAST(1000000 AS BIGINT)) // n_truth
                   ELSE CAST(1000000 AS BIGINT) END AS recall_micro,
                   CASE WHEN n_cand > 0 THEN
                     (n_tp * CAST(1000000 AS BIGINT)) // n_cand
                   ELSE CAST(1000000 AS BIGINT) END
                     AS precision_micro
            FROM agg
        """.format(_SH=_SHINGLES3, _TK=_TOKENS),
        "q10_minhash_lsh": f"""
            WITH base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM documents WHERE doc_id < 200)),
            sig AS (
              -- Kirsch-Mitzenmacher double hash, one md5 per shingle:
              -- min((lower + h*upper) mod 2^64); md5_number_lower/upper
              -- are the little-endian digest halves the Spark kernel
              -- uses. HUGEINT keeps h*upper exact; VARCHAR matches the
              -- Spark side's decimal-string signature entries.
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s) AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR)) AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2] || '|' ||
                         sg[b*4+3] || '|' || sg[b*4+4]))) AS bucket
              FROM sig)
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_bands
            FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
            GROUP BY 1, 2
        """,
        "q11_lang_quality": f"""
            WITH q AS (
              SELECT doc_id, text, {_TOKENS} AS tok,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
              FROM documents),
            s AS (
              SELECT doc_id, n_chars, len(tok) AS n_tokens, n_alpha,
                     {_lang_score_sql()[0]}
              FROM q)
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(CASE WHEN n_chars > 0 THEN n_alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS alpha_ratio,
                   CAST(s_en AS BIGINT) AS stopword_hits,
                   {_lang_score_sql()[1]} AS lang_guess
            FROM s
        """,
        "q12_token_fingerprint": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_rtokens,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "q13_cosine_topk": f"""
            WITH q AS (SELECT {_QV_SQL} AS qv),
            scored AS (
              SELECT vec_id,
                     round(
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(embedding[i] AS DOUBLE) * qv[i]))
                       / (sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                     6) AS cosine
              FROM embeddings, q)
            SELECT vec_id, cosine FROM scored
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "q20_embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id < 1000),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(
                  list_sum(list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(a.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(b.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                6) AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cosine FROM pairs
            WHERE NOT isnan(cosine) AND cosine >= 0.40
        """,
        # q17/q21/q35 (ANN): the numpy bucketers / Lloyd centroids are
        # frozen to fixtures (scripts/freeze_ann_fixtures.py); DuckDB
        # re-derives the probe-set selection, pair join, exact cosine
        # and top-k order. The Spark side computes the assignments
        # LIVE, so the compare pins the bucketers too. The q17 query
        # bucket is derived above (_q17_bucket) exactly as lsh_topk
        # derives it — no hand-copied constant to go stale.
        "q17_lsh_ann": f"""
            WITH q AS (SELECT {_QV_SQL} AS qv),
            cand AS (
              SELECT e.vec_id, e.embedding
              FROM embeddings e
              JOIN read_parquet('{_fixture("q17_srp_buckets.parquet")}') b
                ON b.vec_id = e.vec_id
              WHERE bit_count(xor(b.bucket, {_q17_bucket}::BIGINT)) <= 3),
            scored AS (
              SELECT vec_id,
                     round(
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(embedding[i] AS DOUBLE) * qv[i]))
                       / (sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                     6) AS cosine
              FROM cand, q)
            SELECT vec_id, cosine FROM scored
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "q21_embedding_neardup_lsh": f"""
            WITH b AS (
              SELECT id, bucket, sub
              FROM read_parquet('{_fixture("q21_lsh_buckets.parquet")}')),
            e AS (SELECT vec_id, embedding FROM embeddings),
            pairs AS (
              SELECT l.id AS id_a, r.id AS id_b,
                round(
                  list_sum(list_transform(range(1, len(ea.embedding) + 1),
                    i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(ea.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(eb.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                6) AS cosine
              FROM b l
              JOIN b r ON l.bucket = r.bucket AND l.sub = r.sub
                      AND l.id < r.id
              JOIN e ea ON ea.vec_id = l.id
              JOIN e eb ON eb.vec_id = r.id)
            SELECT id_a, id_b, cosine FROM pairs
            WHERE NOT isnan(cosine) AND cosine >= 0.40
        """,
        "q35_ivf_ann": f"""
            WITH q AS (SELECT [{", ".join("1.0" if i % 7 == 0 else "0.1" for i in range(64))}]::DOUBLE[] AS qv),
            probe AS (
              -- centroids are L2-normalized, so ranking by dot(C, q)
              -- equals ranking by cosine; nprobe=6 as in q35_ivf_ann
              SELECT cid
              FROM read_parquet('{_fixture("q35_ivf_centroids.parquet")}'), q
              ORDER BY list_sum(list_transform(range(1, 65),
                         i -> centroid[i] * qv[i])) DESC, cid ASC
              LIMIT 6),
            cand AS (
              SELECT e.vec_id, e.embedding
              FROM embeddings e
              JOIN read_parquet('{_fixture("q35_ivf_assign.parquet")}') a
                ON a.vec_id = e.vec_id
              WHERE a.bucket IN (SELECT cid FROM probe)),
            scored AS (
              SELECT vec_id,
                     round(
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(embedding[i] AS DOUBLE) * qv[i]))
                       / (sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(qv, x -> x * x)))),
                     6) AS cosine
              FROM cand, q)
            SELECT vec_id, cosine FROM scored
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "q25_corr_by_group": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                   round(corr(l_discount, l_tax), 4) AS corr_disc_tax
            FROM lineitem GROUP BY l_returnflag
        """,
        "q26_setops_drift": """
            WITH agg AS (
              SELECT user_id,
                coalesce(list_sort(list(DISTINCT event_type)
                  FILTER (WHERE extract(day FROM ts) <= 15)), []) AS early_types,
                coalesce(list_sort(list(DISTINCT event_type)
                  FILTER (WHERE extract(day FROM ts) > 15)), []) AS late_types
              FROM events GROUP BY user_id)
            SELECT user_id,
              coalesce(array_to_string(list_filter(early_types, x -> NOT list_contains(late_types, x)), '|'), '') AS missing_late,
              coalesce(array_to_string(list_filter(late_types, x -> NOT list_contains(early_types, x)), '|'), '') AS surplus_late,
              len(list_distinct(list_concat(early_types, late_types))) AS n_types
            FROM agg
        """,
        "q27_xpath_prefix_dedup": """
            WITH shallow AS (
              SELECT DISTINCT '/c' || o_custkey AS path
              FROM orders WHERE o_custkey % 2 = 0),
            deep AS (
              SELECT '/c' || o_custkey || '/o' || o_orderkey AS path
              FROM orders),
            paths AS (SELECT path FROM shallow UNION ALL SELECT path FROM deep)
            SELECT path FROM paths p
            WHERE NOT EXISTS (
              SELECT 1 FROM paths q
              WHERE p.path LIKE q.path || '/%')
        """,
        "q28_json_extract": """
            WITH dirty AS (
              SELECT event_id,
                CASE
                  WHEN event_id % 4 = 0 THEN '```json' || chr(10) || props || chr(10) || '```'
                  WHEN event_id % 4 = 1 THEN 'model said: ' || props || ' -- done'
                  WHEN event_id % 4 = 2 THEN props
                  ELSE 'no json anywhere here'
                END AS raw
              FROM events),
            staged AS (
              SELECT event_id,
                     trim(raw) AS t,
                     trim(regexp_extract(trim(raw), '```json\\s*(.*?)```', 1, 'is')) AS fenced,
                     regexp_extract(trim(raw), '\\{[\\s\\S]*\\}', 0) AS bare
              FROM dirty),
            sel AS (
              SELECT event_id,
                CASE
                  WHEN t IS NULL OR t = '' THEN '{}'
                  WHEN fenced <> '' AND json_valid(fenced) THEN fenced
                  WHEN bare <> '' AND json_valid(bare) THEN bare
                  WHEN json_valid(t) THEN t
                  ELSE '{}'
                END AS js
              FROM staged),
            k AS (
              SELECT event_id,
                     CAST(json_extract_string(js, '$.k') AS BIGINT) AS k
              FROM sel)
            SELECT k % 10 AS k_mod,
                   count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k
            FROM k WHERE k IS NOT NULL GROUP BY 1
        """,
        "q29_ordered_distinct": """
            WITH firsts AS (
              SELECT user_id, event_type, min(ts) AS first_ts
              FROM events GROUP BY user_id, event_type)
            SELECT user_id,
                   coalesce(array_to_string(list(event_type ORDER BY first_ts, event_type), '|'), '')
                     AS types_in_order
            FROM firsts GROUP BY user_id
        """,
        "q30_date_rollup": """
            SELECT strftime(ts, '%Y-%m') AS month,
                   dayofweek(ts) + 1 AS dow,
                   count(*) AS n,
                   round(avg(value), 6) AS avg_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "q14_groupagg_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 6) AS sum_qty,
                   round(sum(l_extendedprice), 6) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q33_clean_tags": f"""
            WITH tagged AS (
              SELECT doc_id,
                [CASE WHEN doc_id % 3 = 0 THEN 'Jerusalem' ELSE 'Atlantis' END,
                 CASE WHEN doc_id % 5 = 0 THEN 'Abuse' ELSE 'NotATheme' END,
                 CASE WHEN doc_id % 7 = 0 THEN 'Hamas' ELSE 'Education' END,
                 'Jerusalem'] AS theme_tags
              FROM documents),
            cleaned AS (
              SELECT doc_id,
                     list_filter(theme_tags,
                                 t -> list_contains({_all_tags_sql()}, t)) AS kept
              FROM tagged)
            SELECT doc_id,
                   coalesce(array_to_string(kept, '|'), '') AS kept_tags,
                   len(kept) AS n_kept
            FROM cleaned
        """,
        "q36_select_best_xpath": """
            WITH cand AS (
              SELECT o_custkey AS field_name,
                     CAST(o_orderkey AS VARCHAR) AS xpath,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderkey) AS try_order,
                     (o_orderpriority = '5-LOW') AS invalid,
                     (o_orderstatus = 'F') AS all_nonempty,
                     CAST(floor(o_totalprice) AS BIGINT) AS total_extracted
              FROM orders WHERE o_custkey <= 200),
            ranked AS (
              SELECT *,
                row_number() OVER (PARTITION BY field_name ORDER BY
                  CASE WHEN invalid THEN 2 WHEN all_nonempty THEN 0 ELSE 1 END,
                  CASE WHEN NOT invalid AND all_nonempty
                       THEN total_extracted ELSE try_order END,
                  try_order) AS rn
              FROM cand)
            SELECT field_name, xpath, try_order, invalid, all_nonempty,
                   total_extracted
            FROM ranked WHERE rn = 1
        """,
        "q37_scheme_report": """
            WITH keyed AS (
              SELECT event_id,
                list_distinct(list_concat(list_concat(
                  ['k'],
                  CASE WHEN event_id % 3 = 0 THEN ['extra'] ELSE [] END),
                  CASE WHEN event_id % 4 = 0 THEN ['ts'] ELSE [] END)) AS keys
              FROM events)
            SELECT event_id,
              coalesce(array_to_string(
                list_filter(['k','ts'], x -> NOT list_contains(keys, x)), '|'), '')
                AS missing_keys,
              coalesce(array_to_string(
                list_filter(list_sort(keys), x -> NOT list_contains(['k','ts'], x)), '|'), '')
                AS surplus_keys,
              (len(list_filter(['k','ts'], x -> NOT list_contains(keys, x))) = 0
               AND len(list_filter(keys, x -> NOT list_contains(['k','ts'], x))) = 0)
                AS is_valid_scheme
            FROM keyed
        """,
        "q15_best_per_group": """
            SELECT l_returnflag, l_linestatus, f1, n FROM (
              SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                           ORDER BY f1 DESC, n DESC) rn
              FROM (
                SELECT l_returnflag, l_linestatus,
                       round(avg(l_discount), 6) AS f1,
                       count(*) AS n
                FROM lineitem GROUP BY l_returnflag, l_linestatus))
            WHERE rn = 1
        """,
        "q16_simhash": f"""
            -- full SimHash reproduction: tokenize -> distinct 2-shingles
            -- -> md5 lower half (the Spark kernel's hash, see
            -- operators/dedup._md5_lower64) -> per-bit majority votes
            -- -> little-endian pack -> signed 64-bit. Strict majority
            -- (2*ones > n) matches the Spark votes>0 rule; empty
            -- shingle lists pack to 0 exactly like the kernel.
            WITH base AS (
              SELECT doc_id, {_SHINGLES2} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok
                    FROM documents WHERE doc_id < 100)),
            hashed AS (
              SELECT doc_id,
                     list_transform(sh, s -> md5_number_lower(s)) AS hs
              FROM base),
            votes AS (
              SELECT doc_id, j, len(hs) AS n,
                     len(list_filter(hs, h -> ((h >> j) & 1) = 1)) AS ones
              FROM hashed, UNNEST(range(0, 64)) AS t(j)),
            packed AS (
              SELECT doc_id,
                     COALESCE(SUM(CASE WHEN 2 * ones > n
                       THEN CAST(1 AS HUGEINT) << CAST(j AS INTEGER)
                       ELSE CAST(0 AS HUGEINT) END), 0) AS us
              FROM votes GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN us >= CAST(1 AS HUGEINT) << 63
                        THEN us - (CAST(1 AS HUGEINT) << 64)
                        ELSE us END AS BIGINT) AS simhash
            FROM packed
        """,
        "q22_dom_structural_stats": f"""
            SELECT url, tag,
                   count(*) AS n_nodes,
                   max(depth) AS max_depth,
                   max(n_children) AS max_width,
                   CAST(sum(n_text_tokens) AS BIGINT) AS total_tokens
            FROM read_parquet('{_fixture("q22_dom_nodes.parquet")}')
            GROUP BY url, tag
        """,
        "q23_node_weights": f"""
            WITH w AS (
              SELECT url, xpath, tag, depth, n_children, n_text_tokens,
                     max(depth) OVER (PARTITION BY url) AS max_depth,
                     max(n_children) OVER (PARTITION BY url) AS max_children,
                     sum(n_text_tokens) OVER (PARTITION BY url) AS total_tokens
              FROM read_parquet('{_fixture("q22_dom_nodes.parquet")}')),
            s AS (
              SELECT url, xpath, tag, depth, n_children, n_text_tokens,
                CASE WHEN n_text_tokens BETWEEN 2 AND 4096 THEN
                  -- DuckDB has no tanh(); (1 - 2/(e^2x+1)) is
                  -- bit-adjacent (error ~1 ulp, invisible at 6 dp)
                  round(depth / greatest(max_depth, 1)
                        + (1.0 - 2.0 / (exp(2.0 * (CASE WHEN total_tokens > 0
                               THEN n_text_tokens / CAST(total_tokens AS DOUBLE)
                               ELSE 0.0 END)) + 1.0))
                        + n_children / greatest(max_children, 1)
                        + {_tag_weight_case_sql()}, 6)
                ELSE 0.0 END AS weight
              FROM w)
            SELECT url, xpath, tag, depth, n_children, n_text_tokens, weight
            FROM (SELECT *, row_number() OVER (PARTITION BY url
                    ORDER BY weight DESC, xpath ASC) AS rn FROM s)
            WHERE rn <= 3
        """,
        "q31_template_cluster": f"""
            SELECT template_sig,
                   count(*) AS n_pages,
                   min(url) AS example_url
            FROM read_parquet('{_fixture("q31_template_sigs.parquet")}')
            GROUP BY template_sig
        """,
        "q32_host_pagerank": _pagerank_sql(iterations=8, damping=0.85),
        "q38_repetition_quality": f"""
            -- Gopher repetition filters: positional (non-distinct)
            -- word k-grams; integer counts so only the final division
            -- is float (identical IEEE op both engines).
            WITH toks AS (
              SELECT doc_id, {_TOKENS} AS tok FROM documents),
            g2 AS (
              SELECT doc_id, array_to_string(tok[i:i+1], ' ') AS g
              FROM toks,
                   UNNEST(range(1, greatest(len(tok) - 1, 0) + 1)) AS t(i)),
            c2 AS (SELECT doc_id, g, count(*) AS c
                   FROM g2 GROUP BY doc_id, g),
            s2 AS (SELECT doc_id, max(c) AS top2_cnt, sum(c) AS total2
                   FROM c2 GROUP BY doc_id),
            g3 AS (
              SELECT doc_id, array_to_string(tok[i:i+2], ' ') AS g
              FROM toks,
                   UNNEST(range(1, greatest(len(tok) - 2, 0) + 1)) AS t(i)),
            c3 AS (SELECT doc_id, g, count(*) AS c
                   FROM g3 GROUP BY doc_id, g),
            s3 AS (SELECT doc_id,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3_cnt,
                          sum(c) AS total3
                   FROM c3 GROUP BY doc_id),
            fr AS (
              SELECT d.doc_id,
                     round(COALESCE(CAST(top2_cnt AS DOUBLE)
                                    / CAST(total2 AS DOUBLE), 0), 6)
                       AS top2gram_frac,
                     round(COALESCE(CAST(dup3_cnt AS DOUBLE)
                                    / CAST(total3 AS DOUBLE), 0), 6)
                       AS dup3gram_frac
              FROM documents d
              LEFT JOIN s2 ON d.doc_id = s2.doc_id
              LEFT JOIN s3 ON d.doc_id = s3.doc_id)
            SELECT doc_id, top2gram_frac, dup3gram_frac,
                   CAST(top2gram_frac > 0.20 OR dup3gram_frac > 0.18
                        AS INTEGER) AS repetition_flagged
            FROM fr
        """,
        "q18_extract_kernel": f"""
            -- Extraction-kernel oracle: Spark computes the kernel
            -- LIVE over the deterministic synth corpus; this projects
            -- the frozen, committed kernel fixture — the driver's
            -- value-hash compare then pins the whole html kernel +
            -- Arrow plumbing against drift.
            SELECT url,
                   title_arr[1] AS title,
                   datetime_arr[1] AS date_str,
                   CAST(len(body_arr) AS BIGINT) AS n_body_paras,
                   is_valid_scheme
            FROM read_parquet('{_fixture("q18_kernel_fields.parquet")}')
        """,
        "q24_media_features": f"""
            -- Multimodal oracle: the decode/resize/sample/feature
            -- kernels are frozen fixtures; the q24 downstream
            -- (feature hash, per-video frame count, zero-crossing
            -- projection) is recomputed in SQL.
            SELECT media_id, 'image' AS kind, md5(hex(pixels)) AS feature
            FROM read_parquet('{_fixture("q24_resized.parquet")}')
            UNION ALL
            SELECT media_id, 'video' AS kind,
                   CAST(count(*) AS VARCHAR) AS feature
            FROM read_parquet('{_fixture("q24_frames.parquet")}')
            GROUP BY media_id
            UNION ALL
            SELECT media_id, 'audio' AS kind,
                   CAST(zero_crossings AS VARCHAR) AS feature
            FROM read_parquet('{_fixture("q24_audio.parquet")}')
        """,
        "q40_span_dedup": f"""
            -- C4-style repeated-span removal, identical semantics to
            -- operators/text.span_dedup: non-overlapping 10-token
            -- chunks, global first occurrence (min packed (doc,idx))
            -- wins, documents re-assembled from surviving chunks.
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN '{_Q40_BOILER} ' || text ELSE text END AS text
              FROM documents),
            toks AS (SELECT doc_id, {_TOKENS} AS tok FROM docs),
            chunks AS (
              SELECT doc_id, i AS idx,
                     array_to_string(tok[i*10+1 : i*10+10], ' ') AS chunk
              FROM toks,
                   UNNEST(range(0, CAST(ceil(len(tok)/10.0) AS BIGINT))) AS t(i)),
            hashed AS (
              SELECT doc_id, idx, chunk, md5(chunk) AS h,
                     doc_id * 1048576 + idx AS pk
              FROM chunks),
            winners AS (SELECT h, min(pk) AS mp FROM hashed GROUP BY h),
            kept AS (
              SELECT doc_id, idx, chunk
              FROM hashed JOIN winners USING (h) WHERE pk = mp),
            reb AS (
              SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS td,
                     count(*) AS kn
              FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS tn FROM hashed GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(reb.td, '') AS text_dedup,
                   CAST(COALESCE(tot.tn, 0) - COALESCE(reb.kn, 0) AS BIGINT)
                     AS n_removed
            FROM docs d
            LEFT JOIN reb ON d.doc_id = reb.doc_id
            LEFT JOIN tot ON d.doc_id = tot.doc_id
        """,
        "q41_decontaminate": f"""
            -- Benchmark decontamination: doc_id%97==0 docs donate their
            -- distinct 13-grams as the eval set; n_hits counts each
            -- doc's DISTINCT 13-grams present in that set.
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(tok) - 12, 0) + 1),
                       i -> array_to_string(tok[i:i+12], ' '))) AS gs
              FROM toks),
            dg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
            bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0),
            hits AS (
              SELECT dg.doc_id, count(*) AS n
              FROM dg JOIN bench USING (g) GROUP BY dg.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
                   CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END
                        AS INT) AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "q42_pii_scrub": f"""
            -- PII redaction parity: same planted PII, same pattern
            -- text (operators/text.PII_PATTERNS), same email->ip->phone
            -- replacement order; counts taken on the text state each
            -- pattern actually sees.
            WITH docs AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' contact user' || doc_id
                               || '@10.0.0.1.example.com now' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' call 555-123-4567 or 555 987 6543 today'
                          ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' served from 192.168.1.77 via 10.0.0.1.'
                          ELSE '' END AS text
              FROM documents),
            s1 AS (
              SELECT doc_id, text,
                     regexp_replace(text, '{pii_email}', '<EMAIL>', 'g') AS ae
              FROM docs),
            s2 AS (
              SELECT *, regexp_replace(ae, '{pii_ipv4}', '<IP>', 'g') AS ai
              FROM s1)
            SELECT doc_id,
                   regexp_replace(ai, '{pii_phone}', '<PHONE>', 'g')
                     AS text_clean,
                   CAST(len(regexp_extract_all(text, '{pii_email}')) AS BIGINT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(ae, '{pii_ipv4}')) AS BIGINT)
                     AS n_ips,
                   CAST(len(regexp_extract_all(ai, '{pii_phone}')) AS BIGINT)
                     AS n_phones
            FROM s2
        """,
        "q43_canonical_urls": """
            -- Independent DuckDB reimplementation of the RFC-3986
            -- normalization in operators/urls.canonicalize_url:
            -- lowercase scheme+host, drop fragment, drop default port,
            -- drop utm_*/gclid/fbclid params, sort the rest, empty
            -- path -> '/'.
            WITH urls AS (
              SELECT o_orderkey AS url_id,
                     CASE
                       WHEN o_orderkey % 4 = 0 THEN
                         'HTTP://Example.COM:80/Item/' || o_orderkey
                         || '?utm_source=news&b=2&a=1&gclid=xyz#sec2'
                       WHEN o_orderkey % 4 = 1 THEN
                         'https://CDN.Example.com:8080/a/' || o_orderkey
                       WHEN o_orderkey % 4 = 2 THEN
                         'HTTPS://Example.COM:443?fbclid=abc&z=9&y=8'
                       ELSE 'http://example.com/item/' || o_orderkey || '?a=1'
                     END AS url
              FROM orders),
            p1 AS (
              SELECT url_id, regexp_replace(url, '#.*$', '') AS nf FROM urls),
            p2 AS (
              SELECT *,
                     lower(regexp_extract(nf,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     regexp_replace(nf,
                       '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM p1),
            p3 AS (
              SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
                     substring(rest,
                       length(regexp_extract(rest, '^([^/?]*)', 1)) + 1)
                       AS pathq
              FROM p2),
            p4 AS (
              SELECT *,
                     lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
                     regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                     regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
                     CASE WHEN contains(pathq, '?')
                          THEN regexp_replace(pathq, '^[^?]*\\?', '')
                          ELSE '' END AS rawq
              FROM p3),
            p5 AS (
              SELECT *,
                     CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                     CASE WHEN port <> ''
                           AND NOT ((scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443'))
                          THEN ':' || port ELSE '' END AS portseg,
                     array_to_string(
                       list_sort(list_filter(string_split(rawq, '&'),
                         p -> p <> ''
                              AND NOT starts_with(lower(p), 'utm_')
                              AND lower(string_split(p, '=')[1])
                                  NOT IN ('gclid', 'fbclid'))),
                       '&') AS cq
              FROM p4)
            SELECT url_id,
                   CASE WHEN scheme = '' THEN nf
                        ELSE scheme || '://' || host || portseg || path ||
                             CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
                   END AS url_canonical
            FROM p5
        """,
        "q44_gopher_quality": f"""
            -- Gopher quality gates (Rae et al. 2021 Table A1); flag
            -- computed on UNrounded ratios in both engines.
            WITH toks AS (
              SELECT doc_id, text, {_TOKENS} AS tok FROM documents),
            base AS (
              SELECT doc_id, text, tok,
                     CAST(len(tok) AS BIGINT) AS n_words,
                     list_sum(list_transform(tok, w -> length(w))) AS twc,
                     len(list_filter(tok,
                       w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_w,
                     len(regexp_extract_all(text, '#'))
                       + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_sym,
                     list_transform(
                       list_filter(string_split(text, chr(10)),
                         l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g') <> ''),
                       l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')) AS lines
              FROM toks),
            m AS (
              SELECT doc_id, n_words,
                     CASE WHEN n_words > 0
                          THEN twc / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
                     CASE WHEN n_words > 0
                          THEN n_alpha_w / CAST(n_words AS DOUBLE)
                          ELSE 0.0 END AS faw,
                     CASE WHEN n_words > 0
                          THEN n_sym / CAST(n_words AS DOUBLE)
                          ELSE 0.0 END AS sr,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines,
                                 l -> regexp_matches(l, '^[-*•‣▪]')))
                               / CAST(len(lines) AS DOUBLE)
                          ELSE 0.0 END AS fb,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines,
                                 l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
                               / CAST(len(lines) AS DOUBLE)
                          ELSE 0.0 END AS fe,
                     CAST(len(list_intersect(tok, {en_stop})) AS BIGINT) AS sh
              FROM base)
            SELECT doc_id, n_words,
                   round(mwl, 6) AS mean_word_len,
                   round(faw, 6) AS frac_alpha_words,
                   round(sr, 6) AS symbol_ratio,
                   round(fb, 6) AS frac_bullet,
                   round(fe, 6) AS frac_ellipsis,
                   sh AS stopword_hits,
                   CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                              AND mwl BETWEEN 3.0 AND 10.0
                              AND sr < 0.1 AND fb < 0.9 AND fe < 0.3
                              AND faw >= 0.8 AND sh >= 2
                         THEN 1 ELSE 0 END AS INT) AS passes_gopher
            FROM m
        """,
        "q34_swde_rank": f"""
            -- SWDE F1 ranking over FROZEN kernel fixtures (pred is the
            -- post-sentinel-filter extraction output, truth the
            -- exploded ground truth — scripts/freeze_dom_fixtures.py).
            -- The Spark side computes pred LIVE from the page-dir
            -- corpus, so this compare pins SWDE reader + extraction
            -- kernel AND value-checks the F1/best-per-group math.
            -- f1 is computed from the ROUNDED precision/recall,
            -- matching operators/evalops.f1_by_group exactly.
            WITH xp(xpath) AS (VALUES ('//h1'), ('//div')),
            p AS (
              SELECT DISTINCT category, site, 'title' AS field_name,
                     xpath, value
              FROM read_parquet('{_fixture("q34_pred.parquet")}')),
            t AS (
              SELECT DISTINCT tr.category, tr.site, tr.field_name,
                     xp.xpath, tr.value
              FROM read_parquet('{_fixture("q34_truth.parquet")}') tr
              CROSS JOIN xp),
            j AS (
              SELECT coalesce(p.category, t.category) AS category,
                     coalesce(p.site, t.site) AS site,
                     coalesce(p.field_name, t.field_name) AS field_name,
                     coalesce(p.xpath, t.xpath) AS xpath,
                     p.value AS pv, t.value AS tv
              FROM p FULL OUTER JOIN t
                ON p.category = t.category AND p.site = t.site
               AND p.field_name = t.field_name AND p.xpath = t.xpath
               AND p.value = t.value),
            agg AS (
              SELECT category, site, field_name, xpath,
                     CAST(sum(CASE WHEN pv IS NOT NULL AND tv IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN pv IS NOT NULL AND tv IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN pv IS NULL AND tv IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM j GROUP BY ALL),
            pr AS (
              SELECT *,
                     round(CASE WHEN tp + fp > 0
                           THEN tp / CAST(tp + fp AS DOUBLE)
                           ELSE 0.0 END, 6) AS precision_r,
                     round(CASE WHEN tp + fn > 0
                           THEN tp / CAST(tp + fn AS DOUBLE)
                           ELSE 0.0 END, 6) AS recall_r
              FROM agg),
            scored AS (
              SELECT *,
                     round(CASE WHEN precision_r + recall_r > 0
                           THEN 2 * precision_r * recall_r
                                / (precision_r + recall_r)
                           ELSE 0.0 END, 6) AS f1
              FROM pr),
            best AS (
              SELECT *, row_number() OVER (
                PARTITION BY category, site, field_name
                ORDER BY f1 DESC, xpath ASC) AS rn
              FROM scored)
            SELECT category, site, field_name, xpath, tp, fp, fn, f1
            FROM best WHERE rn = 1
        """,
        "q45_parse_robots": f"""
            -- robots.txt REP-subset parsing, independent DuckDB
            -- reimplementation (scheduler/robots.py): gaps-and-islands
            -- UA group ids, * groups' Disallow prefixes in file order,
            -- first Crawl-delay, allowed = no '/' disallow.
            WITH hosts AS (
              SELECT 'www.nat' || n_nationkey || '.example' AS host,
                     CASE n_nationkey % 6
                       WHEN 0 THEN {rt[0]} WHEN 1 THEN {rt[1]}
                       WHEN 2 THEN {rt[2]} WHEN 3 THEN {rt[3]}
                       WHEN 4 THEN {rt[4]} ELSE {rt[5]} END AS txt
              FROM nation),
            toks AS (SELECT host, string_split(txt, chr(10)) AS ls FROM hosts),
            lines0 AS (
              SELECT host, i AS idx,
                     regexp_replace(regexp_replace(ls[i+1], '#.*$', ''),
                                    '^\\s+|\\s+$', '', 'g') AS line
              FROM toks, UNNEST(range(0, len(ls))) AS t(i)),
            -- RFC 9309: only directive lines are part of the grammar;
            -- blank lines and unknown directives (Host:, …) do not end
            -- a User-agent run (mirrors the Spark parser's
            -- significant-line filter before gaps-and-islands)
            lines AS (
              SELECT * FROM lines0
              WHERE regexp_matches(line,
                '(?i)^(user-agent|disallow|allow|crawl-delay|sitemap)\\s*:')),
            l1 AS (
              SELECT *,
                     regexp_matches(line, '(?i)^user-agent\\s*:') AS is_ua,
                     coalesce(lag(regexp_matches(line, '(?i)^user-agent\\s*:'))
                              OVER (PARTITION BY host ORDER BY idx),
                              FALSE) AS prev_ua
              FROM lines),
            l2 AS (
              SELECT *,
                     sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
                       OVER (PARTITION BY host ORDER BY idx) AS block
              FROM l1),
            star AS (
              SELECT DISTINCT host, block FROM l2
              WHERE is_ua AND regexp_extract(line,
                '(?i)^user-agent\\s*:\\s*(.*?)\\s*$', 1) = '*'),
            rules AS (
              SELECT l2.* FROM l2 JOIN star USING (host, block)
              WHERE NOT is_ua),
            agg AS (
              SELECT host,
                     coalesce(array_to_string(
                       list(regexp_extract(line,
                              '(?i)^disallow\\s*:\\s*(\\S*)', 1) ORDER BY idx)
                         FILTER (WHERE regexp_matches(line, '(?i)^disallow\\s*:')
                           AND regexp_extract(line,
                                 '(?i)^disallow\\s*:\\s*(\\S*)', 1) <> ''),
                       '|'), '') AS prefixes,
                     CAST(coalesce(
                       arg_min(regexp_extract(line,
                         '(?i)^crawl-delay\\s*:\\s*([0-9.]+)', 1), idx)
                         FILTER (WHERE regexp_matches(line,
                                       '(?i)^crawl-delay\\s*:')
                           AND TRY_CAST(regexp_extract(line,
                             '(?i)^crawl-delay\\s*:\\s*([0-9.]+)', 1)
                             AS DOUBLE) IS NOT NULL),
                       '-1') AS DOUBLE) AS crawl_delay_s,
                     CASE WHEN bool_or(regexp_extract(line,
                            '(?i)^disallow\\s*:\\s*(\\S*)', 1) = '/')
                            FILTER (WHERE regexp_matches(line,
                                          '(?i)^disallow\\s*:'))
                          THEN 0 ELSE 1 END AS allowed0
              FROM rules GROUP BY host)
            SELECT h.host,
                   coalesce(a.prefixes, '') AS prefixes,
                   coalesce(a.crawl_delay_s, -1.0) AS crawl_delay_s,
                   CAST(coalesce(a.allowed0, 1) AS INT) AS allowed
            FROM hosts h LEFT JOIN agg a USING (host)
        """,
        "q46_robots_decision": f"""
            -- RFC 9309 longest-match robots decision, independent
            -- DuckDB reimplementation of scheduler/robots.py
            -- (parse_robots_txt rules + robots_decision): same
            -- gaps-and-islands parse as q45, then pattern → anchored
            -- regex (identical escape class / star expansion as
            -- _rule_regex), most-octets-wins with Allow on ties via
            -- max(rlen) + bool_or at the max; no match = allowed.
            WITH hosts AS (
              SELECT 'www.nat' || n_nationkey || '.example' AS host,
                     CASE n_nationkey % 5
                       WHEN 0 THEN {rt2[0]} WHEN 1 THEN {rt2[1]}
                       WHEN 2 THEN {rt2[2]} WHEN 3 THEN {rt2[3]}
                       ELSE {rt2[4]} END AS txt
              FROM nation),
            toks AS (SELECT host, string_split(txt, chr(10)) AS ls FROM hosts),
            lines0 AS (
              SELECT host, i AS idx,
                     regexp_replace(regexp_replace(ls[i+1], '#.*$', ''),
                                    '^\\s+|\\s+$', '', 'g') AS line
              FROM toks, UNNEST(range(0, len(ls))) AS t(i)),
            lines AS (
              SELECT * FROM lines0
              WHERE regexp_matches(line,
                '(?i)^(user-agent|disallow|allow|crawl-delay|sitemap)\\s*:')),
            l1 AS (
              SELECT *,
                     regexp_matches(line, '(?i)^user-agent\\s*:') AS is_ua,
                     coalesce(lag(regexp_matches(line, '(?i)^user-agent\\s*:'))
                              OVER (PARTITION BY host ORDER BY idx),
                              FALSE) AS prev_ua
              FROM lines),
            l2 AS (
              SELECT *,
                     sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
                       OVER (PARTITION BY host ORDER BY idx) AS block
              FROM l1),
            star AS (
              SELECT DISTINCT host, block FROM l2
              WHERE is_ua AND regexp_extract(line,
                '(?i)^user-agent\\s*:\\s*(.*?)\\s*$', 1) = '*'),
            grules AS (
              SELECT l2.* FROM l2 JOIN star USING (host, block)
              WHERE NOT is_ua),
            rr AS (
              SELECT host, idx,
                     CASE WHEN regexp_matches(line, '(?i)^disallow\\s*:')
                          THEN regexp_extract(line,
                                 '(?i)^disallow\\s*:\\s*(\\S*)', 1)
                          ELSE regexp_extract(line,
                                 '(?i)^allow\\s*:\\s*(\\S*)', 1) END AS pattern,
                     (regexp_matches(line, '(?i)^allow\\s*:')
                      AND NOT regexp_matches(line, '(?i)^disallow\\s*:'))
                       AS allow
              FROM grules
              WHERE (regexp_matches(line, '(?i)^disallow\\s*:')
                     AND regexp_extract(line,
                           '(?i)^disallow\\s*:\\s*(\\S*)', 1) <> '')
                 OR (regexp_matches(line, '(?i)^allow\\s*:')
                     AND NOT regexp_matches(line, '(?i)^disallow\\s*:')
                     AND regexp_extract(line,
                           '(?i)^allow\\s*:\\s*(\\S*)', 1) <> '')),
            rx AS (
              SELECT host, pattern, allow,
                     CAST(len(pattern) AS INT) AS rlen,
                     {_RFC_RX_SQL} AS rx
              FROM rr),
            paths AS (
              SELECT h.host, p.path
              FROM hosts h CROSS JOIN (VALUES {rfc_paths_values}) p(path)),
            m AS (
              SELECT p.host, p.path, r.rlen, r.allow
              FROM paths p JOIN rx r USING (host)
              WHERE regexp_matches(p.path, r.rx)),
            best AS (
              SELECT host, path, max(rlen) AS mr
              FROM m GROUP BY host, path),
            dec AS (
              SELECT m.host, m.path, b.mr, bool_or(m.allow) AS alw
              FROM m JOIN best b
                ON m.host = b.host AND m.path = b.path AND m.rlen = b.mr
              GROUP BY m.host, m.path, b.mr)
            SELECT p.host, p.path,
                   CAST(coalesce(d.alw, TRUE) AS INT) AS allowed,
                   CAST(coalesce(d.mr, -1) AS INT) AS win_rlen
            FROM paths p LEFT JOIN dec d
              ON p.host = d.host AND p.path = d.path
        """,
        "q47_sitemap_entries": f"""
            -- sitemaps.org 0.9 parsing, independent DuckDB
            -- reimplementation of sources/sitemap.py::parse_sitemaps:
            -- entry extraction per kind (urlset <url> blocks first,
            -- then index <sitemap> blocks, document order within
            -- each), per-entry field regexes identical to the Spark
            -- side (RE2∩java.regex), XML entity decode innermost-first
            -- (amp last), entries without <loc> dropped, priority
            -- TRY_CAST with the -1.0 sentinel.
            WITH hosts AS (
              SELECT 'www.nat' || n_nationkey || '.example' AS host,
                     CASE n_nationkey % 4
                       WHEN 0 THEN {st[0]} WHEN 1 THEN {st[1]}
                       WHEN 2 THEN {st[2]} ELSE {st[3]} END AS tmpl
              FROM nation),
            b AS (
              SELECT 'https://' || host || '/sitemap.xml' AS src,
                     replace(tmpl, 'HOST', host) AS body
              FROM hosts),
            ls AS (
              SELECT src,
                     regexp_extract_all(coalesce(body, ''),
                       '(?s)<url[\\s>].*?</url>|<url/>', 0) AS us,
                     regexp_extract_all(coalesce(body, ''),
                       '(?s)<sitemap[\\s>].*?</sitemap>', 0) AS ss
              FROM b),
            ex AS (
              SELECT src, 'urlset' AS kind, i - 1 AS pos, us[i] AS entry
              FROM ls, UNNEST(range(1, len(us) + 1)) t(i)
              UNION ALL
              SELECT src, 'index', len(us) + i - 1, ss[i]
              FROM ls, UNNEST(range(1, len(ss) + 1)) t(i)),
            sel AS (
              SELECT src, kind, CAST(pos AS INT) AS pos,
                     replace(replace(replace(replace(replace(replace(
                       coalesce(regexp_extract(entry,
                         '(?s)<loc[^>]*>\\s*(.*?)\\s*</loc>', 1), ''),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&apos;', ''''), '&#39;', ''''), '&amp;', '&')
                       AS loc,
                     coalesce(regexp_extract(entry,
                       '(?s)<lastmod[^>]*>\\s*(.*?)\\s*</lastmod>', 1),
                       '') AS lastmod,
                     coalesce(regexp_extract(entry,
                       '(?s)<changefreq[^>]*>\\s*(.*?)\\s*</changefreq>',
                       1), '') AS changefreq,
                     coalesce(TRY_CAST(regexp_extract(entry,
                       '(?s)<priority[^>]*>\\s*(.*?)\\s*</priority>', 1)
                       AS DOUBLE), -1.0) AS priority_s
              FROM ex)
            SELECT * FROM sel WHERE loc <> ''
        """,
        "q48_revisit_schedule": """
            -- revisit scheduling, independent DuckDB reimplementation
            -- of sources/sitemap.py::revisit_schedule: lastmod parsed
            -- by its first 10 chars (TRY_CAST), changefreq → interval
            -- days (never → NULL, unknown/absent → 7), next_due =
            -- lastmod + interval (unknown lastmod → due at as_of,
            -- never wins over unknown lastmod), refresh_priority =
            -- coalesce(priority, 0.5) * (1 + min(days_overdue,30)/30).
            -- Pure DATE arithmetic; same sentinels as the Spark side.
            WITH e AS (
              SELECT c_custkey AS k,
                     'https://rev.example/p' || c_custkey AS url,
                     CASE c_custkey % 5
                       WHEN 0 THEN ''
                       WHEN 1 THEN '2026-07-' ||
                         lpad(CAST((c_custkey % 28) + 1 AS VARCHAR), 2, '0')
                       WHEN 2 THEN '2026-08-01T07:00:00Z'
                       WHEN 3 THEN 'not a date'
                       ELSE '2024-01-0' ||
                         CAST((c_custkey % 9) + 1 AS VARCHAR) END AS lastmod,
                     (['always','hourly','daily','weekly','monthly',
                       'yearly','never','sometimes',''])
                       [CAST(c_custkey % 9 AS INT) + 1] AS changefreq,
                     CASE WHEN c_custkey % 4 = 0 THEN NULL
                          ELSE round(CAST(c_custkey % 10 AS DOUBLE) / 10.0,
                                     1) END AS priority
              FROM customer),
            c1 AS (
              SELECT url,
                     TRY_CAST(substr(lastmod, 1, 10) AS DATE) AS lastmod_date,
                     lower(changefreq) AS freq, priority
              FROM e),
            c2 AS (
              SELECT *,
                     CASE freq WHEN 'never' THEN NULL
                               WHEN 'always' THEN 0 WHEN 'hourly' THEN 0
                               WHEN 'daily' THEN 1 WHEN 'weekly' THEN 7
                               WHEN 'monthly' THEN 30 WHEN 'yearly' THEN 365
                               ELSE 7 END AS interval_days
              FROM c1),
            c3 AS (
              SELECT *,
                     CASE WHEN freq = 'never' THEN NULL
                          WHEN lastmod_date IS NULL THEN DATE '2026-08-17'
                          ELSE lastmod_date + interval_days END AS next_due
              FROM c2),
            c4 AS (
              SELECT *, greatest(0, coalesce(
                       date_diff('day', next_due, DATE '2026-08-17'), 0))
                       AS days_overdue
              FROM c3)
            SELECT url,
                   CAST(coalesce(lastmod_date, DATE '1970-01-01') AS VARCHAR)
                     AS lastmod_d,
                   CAST(coalesce(interval_days, -1) AS INT) AS interval_d,
                   CAST(coalesce(next_due, DATE '1970-01-01') AS VARCHAR)
                     AS next_due_d,
                   CAST(coalesce(next_due <= DATE '2026-08-17', FALSE) AS INT)
                     AS overdue,
                   round(coalesce(priority, 0.5) *
                         (1.0 + CAST(least(days_overdue, 30) AS DOUBLE)
                          / 30.0), 6) AS refresh_priority
            FROM c4
        """,
        "q19_crawl_schedule": f"""
            -- Independent reimplementation of one politeness round
            -- (scheduler/frontier._with_policy_columns +
            -- _politeness_admit): robots/allowed + disallow-prefix
            -- filter, priority = rank - DEPTH_PENALTY*depth, per-host
            -- top-k with k = max(1, floor(BASE_BUDGET/crawl_delay)),
            -- global cap by (priority DESC, url ASC), 0-based seq.
            -- The Spark side's salted phase-1 window is an exactness-
            -- preserving prune (each host's true top-k rows are top-k
            -- within their own salt bucket), so the oracle ranks per
            -- host directly.
            WITH urls(url, depth) AS (VALUES {q19_urls}),
            robots(host, crawl_delay, allowed) AS (VALUES {q19_robots}),
            ranks(host, rank) AS (VALUES {q19_ranks}),
            pol AS (
              SELECT u.url, u.depth,
                     lower(regexp_extract(u.url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
                     coalesce(nullif(regexp_extract(u.url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
                       ''), '/') AS path
              FROM urls u),
            flt AS (
              SELECT p.url, p.host, p.depth,
                     coalesce(k.rank, 0.0) - {repr(_DP)} * p.depth AS priority,
                     coalesce(r.crawl_delay, 1.0) AS crawl_delay
              FROM pol p
              LEFT JOIN robots r USING (host)
              LEFT JOIN ranks k USING (host)
              WHERE p.host <> ''
                AND coalesce(r.allowed, TRUE)
                AND NOT (starts_with(p.path, '/private/')
                         OR starts_with(p.path, '/admin/'))),
            tk AS (
              SELECT *,
                     greatest(1, CAST(floor({repr(_BB)} / crawl_delay)
                                      AS INT)) AS k,
                     row_number() OVER (PARTITION BY host
                       ORDER BY priority DESC, url ASC) AS rn
              FROM flt),
            adm AS (
              SELECT url, host, depth, priority FROM tk WHERE rn <= k
              ORDER BY priority DESC, url ASC LIMIT 50)
            SELECT url, host, depth, priority,
                   CAST(row_number() OVER (ORDER BY priority DESC, url ASC)
                        - 1 AS INT) AS seq
            FROM adm
        """,
        "q39_dup_clusters": f"""
            -- Duplicate-cluster resolution: q10's MinHash+LSH pairs as
            -- the edge set, transitive closure via a recursive CTE
            -- (oracle-scale only — Spark runs large/small-star), then
            -- min-id survivor election + cluster sizes incl. singletons.
            WITH RECURSIVE base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM documents WHERE doc_id < 200)),
            sig AS (
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s) AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR)) AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2] || '|' ||
                         sg[b*4+3] || '|' || sg[b*4+4]))) AS bucket
              FROM sig),
            pairs AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id),
            sym AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              WHERE s.b <> r.a),
            lab AS (
              SELECT a AS id, least(a, min(b)) AS component
              FROM reach GROUP BY a),
            resolved AS (
              SELECT d.doc_id,
                     COALESCE(l.component, d.doc_id) AS canonical_id
              FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
              LEFT JOIN lab l ON d.doc_id = l.id),
            sizes AS (
              SELECT canonical_id, count(*) AS n
              FROM resolved GROUP BY canonical_id)
            SELECT r.doc_id, r.canonical_id,
                   CAST(s.n AS BIGINT) AS cluster_size,
                   CAST(r.doc_id = r.canonical_id AS INTEGER) AS is_canonical
            FROM resolved r JOIN sizes s ON r.canonical_id = s.canonical_id
        """,
        "q49_warc_ingest": """
            -- Expected pages rows re-derived straight from the WARC
            -- generator's formulas (sources/warc.py is exercised on
            -- the Spark side: framing walk, HTTP split, charset
            -- decode, 2xx/text-html projection — any framing or
            -- header-parse bug breaks url/len/head/epoch here).
            -- Kept records: i in {0,1} (i=2 is application/json) and
            -- (k+i) % 4 <> 0 (else the response is a 404).
            WITH ks AS (SELECT n_nationkey AS k FROM nation),
            ex AS (
              SELECT k, i,
                     'https://www.nat' || k || '.example/p' || i AS url,
                     CAST(epoch(make_timestamp(2026, 1, CAST(i + 1 AS INT),
                                               0, 0, CAST(k % 10 AS DOUBLE)))
                          AS BIGINT) AS ts_epoch,
                     '<html><title>doc ' || k || '-' || i ||
                       '</title><p>WARC/1.0 payload ' || (k * 31 + i) ||
                       '</p></html>' AS body
              FROM ks, UNNEST(range(0, 3)) t(i)
              WHERE i < 2 AND (k + i) % 4 <> 0)
            SELECT url, ts_epoch,
                   200 AS http_status,
                   'text/html' AS mime,
                   CAST(len(body) AS INT) AS html_len,
                   substr(body, 1, 30) AS html_head
            FROM ex
        """,
        "q50_url_traps": """
            -- Independent DuckDB re-derivation of the crawl-trap
            -- detector: urls rebuilt from the same orders-key
            -- formulas, template = lower path (query/fragment
            -- stripped, '' → '/'), hex runs ≥8 → <H> BEFORE digit
            -- runs → <N>, then the two-level distinct-count
            -- aggregation and the n≥300 ∧ share≥0.3 trap gate.
            WITH u AS (
              SELECT 'www.site' || (o_orderkey % 7) || '.example' AS host,
                     CASE
                       WHEN o_orderkey % 5 < 2 THEN
                         'https://www.site' || (o_orderkey % 7) ||
                         '.example/cal/2026/' || (o_orderkey % 12 + 1) ||
                         '/' || (o_orderkey % 28 + 1)
                       WHEN o_orderkey % 5 = 2 THEN
                         'https://www.site' || (o_orderkey % 7) ||
                         '.example/a/' || o_orderkey || '.html'
                       WHEN o_orderkey % 5 = 3 THEN
                         'https://www.site' || (o_orderkey % 7) ||
                         '.example/tag/best'
                       ELSE
                         'https://www.site' || (o_orderkey % 7) ||
                         '.example/p?sid=' || o_orderkey
                     END AS url
              FROM orders),
            t AS (
              SELECT host, url,
                     regexp_replace(regexp_replace(
                       lower(coalesce(nullif(regexp_extract(url,
                         '^[a-z]+://[^/?#]+([^?#]*)', 1), ''), '/')),
                       '[0-9a-f]{8,}', '<H>', 'g'),
                       '[0-9]+', '<N>', 'g') AS template
              FROM u),
            pt AS (
              SELECT host, template, count(DISTINCT url) AS n_urls
              FROM t GROUP BY host, template),
            ph AS (
              SELECT host, CAST(sum(n_urls) AS BIGINT) AS host_urls
              FROM pt GROUP BY host)
            SELECT pt.host, pt.template, pt.n_urls, ph.host_urls,
                   round(pt.n_urls::DOUBLE / ph.host_urls, 6) AS share,
                   CAST(pt.n_urls >= 300 AND
                        pt.n_urls::DOUBLE / ph.host_urls >= 0.3
                        AS INT) AS is_trap
            FROM pt JOIN ph USING (host)
        """,
        "q51_cdx_fetch_plan": """
            -- CDX fetch-plan re-derivation from the generator's
            -- formulas: surviving captures are the non-corrupt
            -- (k%11<>0), 200-status (k%5<>0), text/html (k%3<>0)
            -- lines; per archive (k%4) the ranges concatenate in
            -- (offset, length) order — any parse/typing/grouping bug
            -- on the Spark side breaks counts, bytes, or range order.
            WITH ks AS (
              SELECT s_suppkey AS k FROM supplier
              WHERE s_suppkey % 11 <> 0 AND s_suppkey % 5 <> 0
                AND s_suppkey % 3 <> 0),
            r AS (
              SELECT 'w' || (k % 4) || '.warc.gz' AS filename,
                     k * 100 AS off, (k % 7 + 1) * 10 AS len
              FROM ks)
            SELECT filename,
                   CAST(count(*) AS BIGINT) AS n_records,
                   CAST(sum(len) AS BIGINT) AS total_bytes,
                   string_agg(off || ':' || len, '|'
                              ORDER BY off, len) AS ranges_s
            FROM r GROUP BY filename
        """,
        "q52_anchor_rollup": """
            -- Independent re-implementation of the anchor rollup:
            -- edges from the same deterministic formulas, then
            -- in-degree / distinct-host / term-frequency-top-3 via
            -- DuckDB windows + ordered list agg. Any tokenizer,
            -- ranking, tie-break, or host-extraction divergence on
            -- the Spark side breaks the value hash.
            WITH edges AS (
              SELECT 'https://h' || (doc_id % 17) || '.example.com/p/'
                       || doc_id AS src_url,
                     'https://site.example.com/page/'
                       || ((doc_id * 7 + j * 13) % 100) AS dst_url,
                     array_to_string(list_slice(
                       string_split(text, ' '), j, j + 2), ' ') AS anchor
              FROM documents, (VALUES (1), (2), (3)) AS js(j)),
            base AS (
              SELECT dst_url, CAST(count(*) AS BIGINT) AS in_degree,
                     CAST(count(DISTINCT lower(regexp_replace(
                       regexp_extract(src_url,
                         '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)', 1),
                       ':[0-9]+$', ''))) AS BIGINT) AS n_src_hosts
              FROM edges GROUP BY dst_url),
            terms AS (
              SELECT dst_url, t.term
              FROM edges, UNNEST(list_filter(
                string_split_regex(lower(anchor), '[^a-z0-9]+'),
                x -> x <> '')) AS t(term)),
            tc AS (
              SELECT dst_url, term, count(*) AS n
              FROM terms GROUP BY dst_url, term),
            ranked AS (
              SELECT dst_url, term, row_number() OVER (
                       PARTITION BY dst_url
                       ORDER BY n DESC, term) AS rk
              FROM tc),
            top AS (
              SELECT dst_url,
                     array_to_string(list(term ORDER BY rk), '|')
                       AS top_terms
              FROM ranked WHERE rk <= 3 GROUP BY dst_url)
            SELECT b.dst_url, b.in_degree, b.n_src_hosts,
                   coalesce(top.top_terms, '') AS top_terms
            FROM base b LEFT JOIN top USING (dst_url)
            ORDER BY b.dst_url
        """,
        "q53_ppl_buckets": f"""
            -- Independent re-derivation of the CCNet-style unigram-LM
            -- perplexity pipeline: vocabulary selection (count desc,
            -- token asc, top 24), add-alpha smoothing with
            -- denom = total + alpha*(V+1) over ALL occurrences, OOV
            -- logp = ln(alpha/denom), per-doc avg logp, ppl =
            -- exp(-avg), per-language quantile_cont terciles on
            -- round(ppl,6). Spark side: operators/text.py unigram_lm
            -- / perplexity_score / ppl_buckets(mode='exact').
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS token FROM documents),
            counts AS (
              SELECT token, count(*) AS c FROM toks GROUP BY token),
            tot AS (
              SELECT CAST(sum(c) AS DOUBLE) AS total,
                     count(*) AS n_types FROM counts),
            consts AS (
              SELECT total + 0.5 * (least(24, n_types) + 1) AS denom
              FROM tot),
            lm AS (
              SELECT token, ln((c + 0.5) / denom) AS logp
              FROM (SELECT token, c FROM counts
                    ORDER BY c DESC, token LIMIT 24), consts),
            perdoc AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                     avg(coalesce(lm.logp,
                       (SELECT ln(0.5 / denom) FROM consts))) AS avg_logp
              FROM toks t LEFT JOIN lm USING (token)
              GROUP BY t.doc_id),
            scored AS (
              SELECT d.doc_id, d.lang, p.n_tokens,
                     round(exp(-p.avg_logp), 6) AS ppl
              FROM documents d LEFT JOIN perdoc p USING (doc_id)),
            cuts AS (
              SELECT lang, quantile_cont(ppl, 1.0/3) AS c1,
                     quantile_cont(ppl, 2.0/3) AS c2
              FROM scored WHERE ppl IS NOT NULL GROUP BY lang)
            SELECT s.doc_id, s.lang, s.n_tokens, s.ppl,
                   CASE WHEN s.ppl IS NULL THEN NULL
                        WHEN s.ppl <= c.c1 THEN 'head'
                        WHEN s.ppl <= c.c2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM scored s LEFT JOIN cuts c USING (lang)
            ORDER BY s.doc_id
        """,
        "q54_crawl_delta": f"""
            -- Independent re-derivation of the crawl-snapshot delta:
            -- same generator formulas (gone %11, changed %7 ' updated',
            -- new %13 +10000), canonical md5 fingerprint, full-outer
            -- status classification, per-host rollup with a NULL-safe
            -- change rate. Spark: operators/snapshots.py crawl_delta /
            -- host_change_rates. CTE chain shared with q60.
            WITH {_Q54_RATES_CTES}
            SELECT host, n_new, n_gone, n_changed, n_unchanged,
                   change_rate
            FROM rates ORDER BY host
        """,
        "q55_boilerplate_removal": """
            -- Independent re-derivation of per-host boilerplate line
            -- removal: plant the same lines, explode with ordinality,
            -- distinct-page share per (host, line), gate n>=5 AND
            -- round(share,6)>=0.4, anti-join, order-preserving
            -- reassembly. Spark: operators/boilerplate.py.
            WITH pages AS (
              SELECT 'https://h' || (doc_id % 17) || '.example.com/p/'
                       || doc_id AS url,
                     'h' || (doc_id % 17) AS host,
                     'NAV home about contact' || chr(10) || text
                       || chr(10) || 'Copyright h' || (doc_id % 17)
                       || ' 2026'
                       || CASE WHEN doc_id % 2 = 0
                            THEN chr(10) || 'subscribe now' ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                            THEN chr(10) || 'related posts' ELSE '' END
                       || CASE WHEN doc_id % 17 = 0
                            THEN chr(10) || 'deal of the day' ELSE '' END
                       AS text
              FROM documents),
            lines AS (
              SELECT url, host,
                     generate_subscripts(l, 1) AS pos, unnest(l) AS line
              FROM (SELECT url, host, string_split(text, chr(10)) AS l
                    FROM pages)),
            nl AS (
              SELECT * FROM lines
              WHERE regexp_replace(line, '\\s+', '', 'g') <> ''),
            per_line AS (
              SELECT host, line, count(DISTINCT url) AS n_pages
              FROM nl GROUP BY host, line),
            per_host AS (
              SELECT host, count(DISTINCT url) AS host_pages
              FROM nl GROUP BY host),
            bp AS (
              SELECT host, line
              FROM per_line JOIN per_host USING (host)
              WHERE n_pages >= 5
                AND round(n_pages * 1.0 / host_pages, 6) >= 0.4),
            kept AS (SELECT nl.* FROM nl ANTI JOIN bp USING (host, line)),
            reasm AS (
              SELECT url,
                     array_to_string(list(line ORDER BY pos), chr(10))
                       AS clean_text,
                     CAST(count(*) AS BIGINT) AS n_kept
              FROM kept GROUP BY url),
            tot AS (
              SELECT url, count(*) AS n_lines FROM nl GROUP BY url)
            SELECT p.url, p.host,
                   coalesce(r.clean_text, '') AS clean_text,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(coalesce(t.n_lines, 0) - coalesce(r.n_kept, 0)
                     AS BIGINT) AS n_removed
            FROM (SELECT DISTINCT url, host FROM pages) p
            LEFT JOIN reasm r USING (url)
            LEFT JOIN tot t USING (url)
            ORDER BY p.url
        """,
        "q56_dsir_select": f"""
            -- Independent re-derivation of DSIR selection: hashed
            -- bigram buckets via md5_number_lower % 256 (power-of-2
            -- modulus == Spark's signed pmod bit pattern), add-0.5
            -- smoothed target/raw distributions over the FULL bucket
            -- space, per-doc log-ratio sums, Gumbel keys from
            -- md5('g:'||id) low 32 bits, top-50. Spark:
            -- operators/dsir.py.
            WITH grams_t AS (
              SELECT CAST(md5_number_lower(g) % 256 AS BIGINT) AS bucket
              FROM (SELECT {_TOKENS} AS tok FROM documents
                    WHERE source IN ('src0', 'src1')),
                   UNNEST(list_transform(
                     range(1, greatest(len(tok) - 1, 0) + 1),
                     i -> array_to_string(tok[i:i+1], ' '))) AS u(g)),
            grams_r AS (
              SELECT doc_id,
                     CAST(md5_number_lower(g) % 256 AS BIGINT) AS bucket
              FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents
                    WHERE source NOT IN ('src0', 'src1')),
                   UNNEST(list_transform(
                     range(1, greatest(len(tok) - 1, 0) + 1),
                     i -> array_to_string(tok[i:i+1], ' '))) AS u(g)),
            ct AS (SELECT bucket, count(*) AS c FROM grams_t
                   GROUP BY bucket),
            cr AS (SELECT bucket, count(*) AS c FROM grams_r
                   GROUP BY bucket),
            tots AS (
              SELECT (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE)
                        FROM ct) AS tt,
                     (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE)
                        FROM cr) AS tr),
            lr AS (
              SELECT b.bucket,
                     ln((coalesce(ct.c, 0) + 0.5) / (tt + 0.5 * 256))
                   - ln((coalesce(cr.c, 0) + 0.5) / (tr + 0.5 * 256))
                       AS log_ratio
              FROM (SELECT CAST(range AS BIGINT) AS bucket
                    FROM range(256)) b
              LEFT JOIN ct USING (bucket)
              LEFT JOIN cr USING (bucket), tots),
            dw AS (
              SELECT r.doc_id,
                     CAST(count(g.bucket) AS BIGINT) AS n_features,
                     coalesce(sum(lr.log_ratio), 0.0) AS log_weight
              FROM (SELECT doc_id FROM documents
                    WHERE source NOT IN ('src0', 'src1')) r
              LEFT JOIN grams_r g USING (doc_id)
              LEFT JOIN lr ON g.bucket = lr.bucket
              GROUP BY r.doc_id),
            keyed AS (
              SELECT doc_id, n_features, log_weight,
                     log_weight - ln(-ln(
                       (md5_number_lower('g:' || CAST(doc_id AS VARCHAR))
                          % 4294967296 + 0.5) / 4294967296.0))
                       AS gumbel_key
              FROM dw)
            SELECT doc_id, n_features, round(log_weight, 6) AS log_weight,
                   round(gumbel_key, 6) AS gumbel_key
            FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 50
        """,
        "q57_shard_pack": f"""
            -- Plain global window cumsum over the md5 order — the
            -- ground truth the Spark side's two-level parallel prefix
            -- sum (operators/sharding.py::distributed_cumsum) must
            -- equal exactly.
            WITH d AS (
              SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                     md5('s:' || CAST(doc_id AS VARCHAR)) AS k
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM d)
            SELECT doc_id, n_tokens,
                   CAST(cum - n_tokens AS BIGINT) AS shard_start,
                   CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT)
                     AS shard_id
            FROM c ORDER BY doc_id
        """,
        "q58_mixture_select": f"""
            -- Per-source budgets (400/800/1200/1600 cycling, src19
            -- absent -> dropped by the inner join), per-source global
            -- cumsum in md5 order, prefix rule start < budget.
            WITH budgets(source, budget) AS (VALUES
              {", ".join(f"('src{i}', {400 * (i % 4 + 1)})" for i in range(19))}),
            d AS (
              SELECT doc_id, source,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                     md5('s:' || CAST(doc_id AS VARCHAR)) AS k
              FROM documents),
            c AS (
              SELECT doc_id, source, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS source_cum
              FROM d)
            SELECT c.doc_id, c.source, c.n_tokens,
                   CAST(c.source_cum AS BIGINT) AS source_cum,
                   CAST(CASE WHEN c.source_cum - c.n_tokens < b.budget
                        THEN 1 ELSE 0 END AS INT) AS selected
            FROM c JOIN budgets b USING (source)
            ORDER BY c.doc_id
        """,
        "q59_bm25_search": f"""
            -- Independent BM25: tf/df/idf/length-norm/sum/top-k all
            -- re-derived. The absent query term ('zzzmissing') must
            -- contribute nothing. Spark: operators/search.py.
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            postings AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY term, doc_id),
            dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            consts AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
            q(term) AS (VALUES ('hash'), ('scan'), ('table'),
                               ('zzzmissing')),
            hits AS (SELECT p.* FROM postings p JOIN q USING (term)),
            dfs AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM hits GROUP BY term),
            scored AS (
              SELECT h.doc_id,
                     sum(ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
                         * h.tf
                         / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)))
                       AS score
              FROM hits h
              JOIN dfs d USING (term)
              JOIN dl l USING (doc_id), consts c
              GROUP BY h.doc_id)
            SELECT doc_id, round(score, 6) AS score FROM (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id LIMIT 20)
            -- outer round AFTER the cut: DuckDB binds ORDER BY to a
            -- same-named alias, and Spark selects the top-k on the
            -- UNROUNDED score — the cut must match at full precision.
        """,
        "q128_bm25_maxscore": f"""
            -- FULL-SCAN BM25 filtered at theta — no pruning at all.
            -- Matching the Spark side's Max-Score two-tier plan proves
            -- the df-only sum-of-idf bound never drops a qualifying
            -- doc. Filter on the UNROUNDED score (theta sits in a
            -- 3.6e-4 distribution gap); round outside. Spark:
            -- operators/search.py::bm25_maxscore.
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            postings AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY term, doc_id),
            dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            consts AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
            q(term) AS (VALUES ('hash'), ('scan'), ('table'),
                               ('zzzmissing')),
            hits AS (SELECT p.* FROM postings p JOIN q USING (term)),
            dfs AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM hits GROUP BY term),
            scored AS (
              SELECT h.doc_id,
                     sum(ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
                         * h.tf
                         / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)))
                       AS score
              FROM hits h
              JOIN dfs d USING (term)
              JOIN dl l USING (doc_id), consts c
              GROUP BY h.doc_id)
            SELECT doc_id, round(score, 6) AS score FROM scored
            WHERE score >= 0.5 ORDER BY doc_id
        """,
        "q60_revisit_priority": f"""
            -- Revisit scheduling composed on the shared q54 rate CTEs:
            -- deterministic rank dimension (h3 missing -> rank 0),
            -- priority = 0.6*coalesce(rate, 0.5) + 0.4*rank,
            -- interval = max(1, round(30*(1-priority))). Spark:
            -- operators/snapshots.py revisit_priority.
            WITH {_Q54_RATES_CTES},
            ranks AS (
              SELECT DISTINCT
                     'h' || (doc_id % 17) || '.example.com' AS host,
                     ((doc_id % 17) * 37 % 101) / 100.0 AS rank_score
              FROM documents WHERE doc_id % 17 <> 3),
            pr AS (
              SELECT r.host,
                     round(0.6 * coalesce(r.change_rate, 0.5)
                           + 0.4 * coalesce(k.rank_score, 0.0), 6)
                       AS priority
              FROM rates r LEFT JOIN ranks k USING (host))
            SELECT host, priority,
                   CAST(greatest(1, CAST(round(30.0 * (1.0 - priority), 0)
                     AS BIGINT)) AS BIGINT) AS interval_days
            FROM pr ORDER BY host
        """,
        "q61_more_like_this": f"""
            -- Independent TF-IDF cosine: postings, corpus idf,
            -- full-vector norms, shared-term dot, exclusion, top-15.
            -- Spark: operators/search.py::more_like_this.
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            postings AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY term, doc_id),
            consts AS (
              SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
              FROM postings),
            q AS (SELECT term, tf AS q_tf FROM postings WHERE doc_id = 7),
            dfs AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM postings WHERE term IN (SELECT term FROM q)
              GROUP BY term),
            dots AS (
              SELECT p.doc_id,
                     sum(q.q_tf * ln(c.n / d.df) * p.tf * ln(c.n / d.df))
                       AS dot
              FROM postings p
              JOIN q USING (term) JOIN dfs d USING (term), consts c
              GROUP BY p.doc_id),
            alldfs AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM postings GROUP BY term),
            norms AS (
              SELECT doc_id,
                     sqrt(sum((tf * ln(c.n / df)) * (tf * ln(c.n / df))))
                       AS norm
              FROM postings JOIN alldfs USING (term), consts c
              GROUP BY doc_id),
            qn AS (SELECT norm AS v FROM norms WHERE doc_id = 7)
            SELECT d.doc_id,
                   round(d.dot / (nm.norm * (SELECT v FROM qn)), 6)
                     AS cosine
            FROM dots d JOIN norms nm USING (doc_id)
            WHERE d.doc_id <> 7
            ORDER BY d.dot / (nm.norm * (SELECT v FROM qn)) DESC, d.doc_id
            LIMIT 15
        """,
        "q62_bigram_ppl": f"""
            -- Independent interpolated bigram LM: vocab/<unk> closure,
            -- bigram + context counts, p_bi = (c+0.5)/(ctx+0.5(V+1)),
            -- score = ln(0.75 p_bi + 0.25 p_uni) (first token pure
            -- unigram), ppl = exp(-mean). Spark: operators/text.py
            -- bigram_ppl.
            WITH toks AS (
              SELECT doc_id, generate_subscripts(tok, 1) AS pos,
                     unnest(tok) AS t
              FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
            counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total,
                           count(*) AS n_types FROM counts),
            consts AS (
              SELECT total + 0.5 * (least(24, n_types) + 1) AS denom_u,
                     0.5 * (least(24, n_types) + 1) AS a_v
              FROM tot),
            vocab AS (SELECT t FROM counts ORDER BY c DESC, t LIMIT 24),
            m AS (
              SELECT doc_id, pos,
                     CASE WHEN t IN (SELECT t FROM vocab)
                          THEN t ELSE '<unk>' END AS w
              FROM toks),
            uni AS (
              SELECT w, (count(*) + 0.5) / (SELECT denom_u FROM consts)
                       AS p_uni
              FROM m GROUP BY w),
            pairs AS (
              SELECT doc_id, pos, w,
                     lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM m),
            big AS (
              SELECT w1, w, count(*) AS cb FROM pairs
              WHERE w1 IS NOT NULL GROUP BY w1, w),
            ctx AS (SELECT w1, sum(cb) AS cctx FROM big GROUP BY w1),
            scored AS (
              SELECT p.doc_id,
                     CASE WHEN p.w1 IS NULL THEN ln(u.p_uni)
                          ELSE ln(0.75 * ((coalesce(b.cb, 0) + 0.5)
                                   / (coalesce(c.cctx, 0)
                                      + (SELECT a_v FROM consts)))
                                  + 0.25 * u.p_uni) END AS logp
              FROM pairs p
              JOIN uni u USING (w)
              LEFT JOIN big b ON p.w1 = b.w1 AND p.w = b.w
              LEFT JOIN ctx c ON p.w1 = c.w1),
            perdoc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                     exp(-avg(logp)) AS ppl
              FROM scored GROUP BY doc_id)
            SELECT d.doc_id, p.n_terms, round(p.ppl, 6) AS ppl
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "q63_exact_substring": f"""
            -- ExactSubstr dedup re-derived: sliding 20-token window
            -- md5s, min-(doc,pos) winner election, gaps-and-islands
            -- merge of loser windows into maximal spans, per-token
            -- removal + ordered reassembly. Same planted passages as
            -- the Spark side.
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN '{_Q63_PASSAGE_B} ' ELSE '' END
                     || text
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' {_Q63_PASSAGE_A}' ELSE '' END AS text
              FROM documents),
            toks AS (SELECT doc_id, {_TOKENS} AS tok FROM docs),
            occ AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(tok[i+1 : i+20], ' ')) AS h
              FROM toks,
                   UNNEST(range(0, greatest(len(tok) - 19, 0))) AS t(i)),
            winners AS (
              SELECT h, min(doc_id * 1048576 + pos) AS mp,
                     count(*) AS cnt
              FROM occ GROUP BY h),
            losers AS (
              SELECT o.doc_id, o.pos, o.pos + 20 AS e
              FROM occ o JOIN winners w USING (h)
              WHERE w.cnt >= 2 AND o.doc_id * 1048576 + o.pos <> w.mp),
            isl AS (
              SELECT doc_id, pos, e,
                     CASE WHEN pos > coalesce(
                            max(e) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS ni
              FROM losers),
            isl2 AS (
              SELECT doc_id, pos, e,
                     sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
              FROM isl),
            spans AS (
              SELECT doc_id, island, min(pos) AS s, max(e) AS e
              FROM isl2 GROUP BY doc_id, island),
            tokpos AS (
              SELECT doc_id, i - 1 AS idx, tok[i] AS t
              FROM toks, UNNEST(range(1, len(tok) + 1)) AS u(i)),
            kept AS (
              SELECT tp.doc_id, tp.idx, tp.t
              FROM tokpos tp
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tp.doc_id
                  AND s.s <= tp.idx AND tp.idx < s.e)),
            reb AS (
              SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS td
              FROM kept GROUP BY doc_id),
            stats AS (
              SELECT doc_id, sum(e - s) AS nrem, count(*) AS nsp
              FROM spans GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(reb.td, '') AS text_dedup,
                   CAST(coalesce(st.nrem, 0) AS BIGINT)
                     AS n_tokens_removed,
                   CAST(coalesce(st.nsp, 0) AS BIGINT)
                     AS n_spans_removed
            FROM docs d
            LEFT JOIN reb ON d.doc_id = reb.doc_id
            LEFT JOIN stats st ON d.doc_id = st.doc_id
            ORDER BY d.doc_id
        """,
        "q64_host_quality": f"""
            -- Host-level quality rollup: word counts + language argmax
            -- (same generated fragment as q11), two host aggregations,
            -- the majority-language window (ties -> smallest code),
            -- and the keep gate on the UNrounded bad share.
            WITH q AS (
              SELECT doc_id, source AS host, text, {_TOKENS} AS tok
              FROM documents),
            s AS (
              SELECT doc_id, host, CAST(len(tok) AS BIGINT) AS n_words,
                     {_lang_score_sql()[0]}
              FROM q),
            l AS (
              SELECT doc_id, host, n_words,
                     {_lang_score_sql()[1]} AS lang
              FROM s),
            per AS (
              SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
                     CAST(sum(CASE WHEN n_words < 60 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_bad,
                     avg(n_words) AS mean_words
              FROM l GROUP BY host),
            lc AS (
              SELECT host, lang, count(*) AS lang_n
              FROM l GROUP BY host, lang),
            maj AS (
              SELECT host, lang, lang_n,
                     row_number() OVER (PARTITION BY host
                       ORDER BY lang_n DESC, lang) AS rn
              FROM lc)
            SELECT p.host, p.n_pages, p.n_bad,
                   round(p.n_bad / CAST(p.n_pages AS DOUBLE), 6)
                     AS bad_share,
                   round(p.mean_words, 6) AS mean_words,
                   m.lang AS majority_lang,
                   round(m.lang_n / CAST(p.n_pages AS DOUBLE), 6)
                     AS majority_lang_share,
                   CAST(CASE WHEN p.n_pages < 3
                              OR p.n_bad / CAST(p.n_pages AS DOUBLE)
                                 <= 0.6
                         THEN 1 ELSE 0 END AS INT) AS host_keep
            FROM per p JOIN maj m ON p.host = m.host AND m.rn = 1
            ORDER BY p.host
        """,
        "q65_chunk_documents": f"""
            -- Document chunking: 40-token segments, 8-token overlap
            -- (stride 32); chunk-count formula, starts, slices and
            -- tail lengths re-derived.
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            par AS (
              SELECT doc_id, tok, len(tok) AS n,
                     CASE WHEN len(tok) <= 0 THEN 0
                          WHEN len(tok) <= 40 THEN 1
                          ELSE CAST(floor((len(tok) - 40 + 31) / 32.0)
                                    AS BIGINT) + 1
                     END AS nc
              FROM toks)
            SELECT doc_id, i AS chunk_idx,
                   CAST(least(40, n - i * 32) AS BIGINT) AS n_tokens,
                   array_to_string(tok[i*32+1 : i*32+40], ' ')
                     AS chunk_text
            FROM par, UNNEST(range(0, nc)) AS t(i)
            ORDER BY doc_id, chunk_idx
        """,
        "q66_mojibake": f"""
            -- Mojibake repair: replace chain + per-state counts
            -- generated from operators/text.MOJIBAKE_MAP (single
            -- source of truth), same planted artifacts.
            WITH docs AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                                  THEN '{_Q66_MOJI_A}'
                                  WHEN doc_id % 3 = 1
                                  THEN '{_Q66_MOJI_B}'
                                  ELSE '' END AS text
              FROM documents),
            {_mojibake_sql('docs')[0]}
            SELECT doc_id, acc{_mojibake_sql('docs')[1]} AS n_mojibake,
                   t{_mojibake_sql('docs')[1]} AS text_fixed
            FROM s{_mojibake_sql('docs')[1]}
            ORDER BY doc_id
        """,
        "q67_nb_quality": f"""
            -- Hashed-feature multinomial NB: silver length labels on
            -- the doc_id%3==0 split, md5%256 unigram buckets (power-
            -- of-2 so signed pmod == unsigned %), add-0.5 smoothing
            -- over the full bucket space, doc prior, per-doc log-odds,
            -- decision on the ROUNDED score (both engines).
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tok FROM documents),
            train AS (
              SELECT doc_id, tok,
                     CASE WHEN len(tok) >= 60 THEN 1 ELSE 0 END AS y
              FROM toks WHERE doc_id % 3 = 0),
            feat AS (
              SELECT y, CAST(md5_number_lower(t) % 256 AS BIGINT)
                       AS bucket
              FROM train, UNNEST(tok) AS u(t)),
            cc AS (
              SELECT bucket,
                     sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0
              FROM feat GROUP BY bucket),
            tot AS (
              SELECT CAST(coalesce(sum(c1), 0) AS DOUBLE) AS n1,
                     CAST(coalesce(sum(c0), 0) AS DOUBLE) AS n0
              FROM cc),
            dc AS (
              SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS d1,
                     CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS d0
              FROM train),
            model AS (
              SELECT b.range AS bucket,
                     ln((coalesce(cc.c1, 0) + 0.5) / (t.n1 + 0.5 * 256))
                     - ln((coalesce(cc.c0, 0) + 0.5) / (t.n0 + 0.5 * 256))
                       AS llr
              FROM range(256) b
              LEFT JOIN cc ON cc.bucket = b.range
              CROSS JOIN tot t),
            prior AS (
              SELECT ln(d1 / (d1 + d0)) - ln(d0 / (d1 + d0)) AS lp
              FROM dc),
            docfeat AS (
              SELECT doc_id, CAST(md5_number_lower(t) % 256 AS BIGINT)
                       AS bucket
              FROM toks, UNNEST(tok) AS u(t)),
            scored AS (
              SELECT d.doc_id, count(*) AS nf, sum(m.llr) AS s
              FROM docfeat d JOIN model m USING (bucket)
              GROUP BY d.doc_id)
            SELECT t.doc_id,
                   CAST(coalesce(sc.nf, 0) AS BIGINT) AS n_features,
                   round(coalesce(sc.s, 0) + p.lp, 6) AS score,
                   CAST(CASE WHEN round(coalesce(sc.s, 0) + p.lp, 6) > 0
                        THEN 1 ELSE 0 END AS INT) AS pred
            FROM toks t
            LEFT JOIN scored sc ON sc.doc_id = t.doc_id
            CROSS JOIN prior p
            ORDER BY t.doc_id
        """,
        "q68_page_filter": f"""
            -- Blocklist + badword gate: suffix chains, longest
            -- (most-specific) matching entry, token hits against the
            -- wordlist, NULL-safe ratio, keep on the UNrounded ratio.
            WITH docs AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END)
                     || source ||
                     (CASE WHEN doc_id % 5 = 0 THEN '.badtld.xyz'
                           ELSE '.example.com' END) AS host,
                     text || CASE WHEN doc_id % 6 = 0
                                  THEN ' casino casino pills'
                                  ELSE '' END AS text
              FROM documents),
            bl(domain) AS (VALUES ('src2.example.com'), ('badtld.xyz'),
                                  ('cdn.src7.example.com')),
            bw(word) AS (VALUES ('casino'), ('pills')),
            sp AS (
              SELECT doc_id, string_split(host, '.') AS parts FROM docs),
            sfx AS (
              SELECT doc_id, array_to_string(parts[i:], '.') AS sfx
              FROM sp, UNNEST(range(1, len(parts) + 1)) AS t(i)),
            best AS (
              SELECT doc_id, sfx AS blocked_domain,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY length(sfx) DESC) AS rn
              FROM sfx s JOIN bl b ON s.sfx = b.domain),
            toks AS (SELECT doc_id, {_TOKENS} AS tok FROM docs),
            tw AS (SELECT doc_id, t FROM toks, UNNEST(tok) AS u(t)),
            stats AS (
              SELECT tw.doc_id,
                     count(*) AS n_tokens,
                     sum(CASE WHEN b.word IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_badwords
              FROM tw LEFT JOIN bw b ON tw.t = b.word
              GROUP BY tw.doc_id)
            SELECT d.doc_id, d.host,
                   coalesce(b.blocked_domain, '') AS blocked_domain,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(s.n_badwords, 0) AS BIGINT)
                     AS n_badwords,
                   round(s.n_badwords
                         / CAST(nullif(s.n_tokens, 0) AS DOUBLE), 6)
                     AS badword_ratio,
                   CAST(CASE WHEN b.blocked_domain IS NULL
                         AND coalesce(s.n_badwords
                             / CAST(nullif(s.n_tokens, 0) AS DOUBLE), 0)
                             <= 0.02
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM docs d
            LEFT JOIN (SELECT doc_id, blocked_domain FROM best
                       WHERE rn = 1) b ON b.doc_id = d.doc_id
            LEFT JOIN stats s ON s.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "q69_page_meta": """
            -- Metadata projection: same synthesized html, same
            -- regexes, same 5-entity decode chain (&amp; LAST so
            -- &amp;lt; decodes to the literal &lt;), same robots
            -- token tests.
            WITH pages AS (
              SELECT doc_id,
                '<html><head><title>' || source || ' #'
                || CAST(doc_id AS VARCHAR) || ' &amp; notes</title>'
                || CASE WHEN doc_id % 2 = 0 THEN
                     '<meta name="description" content="'
                     || substr(text, 1, 40) || '">' ELSE '' END
                || CASE WHEN doc_id % 3 = 0 THEN
                     '<meta property="og:title" content="OG &quot;'
                     || source || '&quot;">' ELSE '' END
                || CASE WHEN doc_id % 4 = 0 THEN
                     '<link rel="canonical" href="https://' || source
                     || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                     || '">' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN
                     '<meta name="robots" content="noindex, nofollow">'
                   WHEN doc_id % 7 = 1 THEN
                     '<meta name="robots" content="index, follow">'
                   ELSE '' END
                || '</head><body><p>' || text || '</p></body></html>'
                AS html
              FROM documents),
            ext AS (
              SELECT doc_id,
                regexp_extract(html,
                  '<title[^>]*>([^<]*)</title>', 1) AS title_raw,
                regexp_extract(html,
                  '<meta\\s+name="description"\\s+content="([^"]*)"',
                  1) AS desc_raw,
                regexp_extract(html,
                  '<meta\\s+property="og:title"\\s+content="([^"]*)"',
                  1) AS og_raw,
                regexp_extract(html,
                  '<link\\s+rel="canonical"\\s+href="([^"]*)"', 1)
                  AS canonical_url,
                regexp_extract(lower(html),
                  '<meta\\s+name="robots"\\s+content="([^"]*)"', 1)
                  AS robots
              FROM pages)
            SELECT doc_id,
              replace(replace(replace(replace(replace(title_raw,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&amp;', '&') AS title,
              replace(replace(replace(replace(replace(desc_raw,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&amp;', '&') AS meta_description,
              replace(replace(replace(replace(replace(og_raw,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&amp;', '&') AS og_title,
              canonical_url,
              CAST(CASE WHEN regexp_matches(robots,
                   '(^|[\\s,])noindex($|[\\s,])')
                   THEN 1 ELSE 0 END AS INT) AS noindex,
              CAST(CASE WHEN regexp_matches(robots,
                   '(^|[\\s,])nofollow($|[\\s,])')
                   THEN 1 ELSE 0 END AS INT) AS nofollow
            FROM ext
            ORDER BY doc_id
        """,
        "q70_split_leakage": """
            -- Host-hash splits (u = (md5_lower64('split:'||host) %
            -- 2^32 + .5)/2^32, exact-binary boundaries .75/.875),
            -- planted cross-host duplicate, per-split leak counts.
            WITH docs AS (
              SELECT doc_id, source AS host,
                     CASE WHEN doc_id % 97 = 0 THEN
                       'shared leak passage that mirrors across hosts'
                     ELSE text END AS text
              FROM documents),
            s AS (
              SELECT doc_id, host, text,
                     CASE
                       WHEN ((md5_number_lower('split:' || host)
                              % 4294967296) + 0.5) / 4294967296.0
                            < 0.75 THEN 'train'
                       WHEN ((md5_number_lower('split:' || host)
                              % 4294967296) + 0.5) / 4294967296.0
                            < 0.875 THEN 'val'
                       ELSE 'test'
                     END AS split,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                             'g'))) AS fp
              FROM docs),
            leaked AS (
              SELECT fp FROM s GROUP BY fp
              HAVING count(DISTINCT split) > 1)
            SELECT s.split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN l.fp IS NOT NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS n_leaked_docs
            FROM s LEFT JOIN leaked l ON s.fp = l.fp
            GROUP BY s.split
            ORDER BY s.split
        """,
        "q71_containment": f"""
            -- Broder containment over the same planted wrapper docs:
            -- shingles, posting self-join, directional ratios, max
            -- gate on the UNrounded value.
            WITH aug AS (
              SELECT d1.doc_id,
                     CASE WHEN d1.doc_id % 9 = 0 AND d2.text IS NOT NULL
                          THEN d1.text || ' ' || d2.text
                          ELSE d1.text END AS text
              FROM documents d1
              LEFT JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
              WHERE d1.doc_id < 200),
            base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM aug)),
            ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM base),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                     b.n_sh AS n_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b,
                   round(n_common / CAST(n_a AS DOUBLE), 6) AS c_a_in_b,
                   round(n_common / CAST(n_b AS DOUBLE), 6) AS c_b_in_a,
                   round(greatest(n_common / CAST(n_a AS DOUBLE),
                                  n_common / CAST(n_b AS DOUBLE)), 6)
                     AS containment
            FROM inter
            WHERE greatest(n_common / CAST(n_a AS DOUBLE),
                           n_common / CAST(n_b AS DOUBLE)) >= 0.8
            ORDER BY id_a, id_b
        """,
        "q72_c4_clean": """
            -- C4 line rules over the same synthesized pages: terminal
            -- punctuation, >=5 words, javascript/policy-phrase drops,
            -- lorem/brace/min-3-kept page gates, ordered reassembly.
            WITH pages AS (
              SELECT doc_id,
                'Good opening sentence about ' || source
                || ' topics here.' || chr(10)
                || substr(text, 1, 60) || chr(10) || 'Short line.'
                || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                   'Please enable JavaScript to continue viewing.'
                   ELSE '' END
                || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
                   'This site uses cookies for tracking purposes.'
                   ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
                   'Lorem ipsum dolor sit amet obviously.' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                   'function body { returns nothing here }.' ELSE '' END
                || chr(10)
                || 'Another valid closing sentence appears right here.'
                || CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
                   'A third proper sentence for the count rule.'
                   ELSE '' END AS text
              FROM documents),
            lines AS (
              SELECT doc_id, generate_subscripts(l, 1) AS pos,
                     unnest(l) AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                    FROM pages)),
            fl AS (
              SELECT doc_id, pos, line,
                (regexp_matches(line, '[.!?"”]\\s*$')
                 AND len(list_filter(
                       regexp_split_to_array(line, '\\s+'),
                       x -> x <> '')) >= 5
                 AND NOT contains(lower(line), 'javascript')
                 AND NOT contains(lower(line), 'terms of use')
                 AND NOT contains(lower(line), 'privacy policy')
                 AND NOT contains(lower(line), 'cookie policy')
                 AND NOT contains(lower(line), 'uses cookies'))
                AS keep
              FROM lines),
            pg AS (
              SELECT doc_id,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(text, '{') AS has_brace
              FROM pages),
            roll AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_kept,
                     coalesce(array_to_string(
                       list(line ORDER BY pos) FILTER (WHERE keep),
                       chr(10)), '') AS clean_text
              FROM fl GROUP BY doc_id)
            SELECT r.doc_id, r.n_lines, r.n_kept,
                   CAST(CASE WHEN p.has_lorem THEN 1 ELSE 0 END AS INT)
                     AS has_lorem,
                   CAST(CASE WHEN p.has_brace THEN 1 ELSE 0 END AS INT)
                     AS has_brace,
                   CAST(CASE WHEN NOT p.has_lorem AND NOT p.has_brace
                              AND r.n_kept >= 3
                        THEN 1 ELSE 0 END AS INT) AS page_keep,
                   r.clean_text
            FROM roll r JOIN pg p ON p.doc_id = r.doc_id
            ORDER BY r.doc_id
        """,
        "q73_link_farms": f"""
            -- Reciprocal-share link-farm detection over the same
            -- organic graph + planted clique: dedup, self-loop drop,
            -- degrees, reversed-pair reciprocity, unrounded gate.
            WITH farm(src, dst) AS (VALUES
              {", ".join(f"('{a}', '{b}')" for a, b in _Q73_FARM)}),
            raw AS (
              SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
                     'h' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
              FROM documents
              UNION ALL SELECT src, dst FROM farm),
            e AS (
              SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            od AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
            idg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY dst),
            rc AS (
              SELECT e.src, count(*) AS n_recip
              FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
              GROUP BY e.src)
            SELECT od.src AS host,
                   CAST(od.out_deg AS BIGINT) AS out_deg,
                   CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg,
                   CAST(coalesce(rc.n_recip, 0) AS BIGINT) AS n_recip,
                   round(coalesce(rc.n_recip, 0)
                         / CAST(od.out_deg AS DOUBLE), 6) AS recip_share,
                   CAST(CASE WHEN od.out_deg >= 3
                              AND coalesce(rc.n_recip, 0)
                                  / CAST(od.out_deg AS DOUBLE) >= 0.6
                        THEN 1 ELSE 0 END AS INT) AS is_farm
            FROM od
            LEFT JOIN idg ON idg.dst = od.src
            LEFT JOIN rc ON rc.src = od.src
            ORDER BY host
        """,
        "q74_change_similarity": f"""
            -- Snapshot change similarity: same mutations, shingles,
            -- row-local intersection, identical == (inter = union),
            -- thresholds on the unrounded rational.
            WITH oldp AS (
              SELECT 'https://s/' || CAST(doc_id AS VARCHAR) AS url,
                     text
              FROM documents),
            newp AS (
              SELECT 'https://s/' || CAST(doc_id AS VARCHAR) AS url,
                     CASE WHEN doc_id % 97 = 0 THEN 'xy'
                          WHEN doc_id % 3 = 0 THEN text ||
                            ' freshly appended update sentence words'
                          WHEN doc_id % 3 = 1 THEN
                            'completely rewritten page number '
                            || CAST(doc_id AS VARCHAR)
                            || ' with new content'
                          ELSE text END AS text
              FROM documents),
            so AS (
              SELECT url, {_SHINGLES3} AS sh
              FROM (SELECT url, text, {_TOKENS} AS tok FROM oldp)),
            sn AS (
              SELECT url, {_SHINGLES3} AS sh
              FROM (SELECT url, text, {_TOKENS} AS tok FROM newp)),
            jj AS (
              SELECT so.url, len(so.sh) AS n_old, len(sn.sh) AS n_new,
                     len(list_intersect(so.sh, sn.sh)) AS inter
              FROM so JOIN sn ON so.url = sn.url)
            SELECT url,
                   CAST(n_old AS BIGINT) AS n_sh_old,
                   CAST(n_new AS BIGINT) AS n_sh_new,
                   round(inter / CAST(nullif(n_old + n_new - inter, 0)
                                      AS DOUBLE), 6) AS similarity,
                   CASE WHEN n_old = 0 OR n_new = 0 THEN 'empty'
                        WHEN inter = n_old + n_new - inter
                          THEN 'identical'
                        WHEN inter / CAST(n_old + n_new - inter
                                          AS DOUBLE) >= 0.7
                          THEN 'minor'
                        WHEN inter / CAST(n_old + n_new - inter
                                          AS DOUBLE) >= 0.2
                          THEN 'major'
                        ELSE 'rewritten' END AS change_class
            FROM jj
            ORDER BY url
        """,
        "q75_score_calibration": """
            -- Calibration bands: alpha-ratio score, length>=300 silver
            -- label, exact quantile cutoffs on round-6 scores, bin =
            -- count of cutoffs strictly below, band rollup.
            WITH s AS (
              SELECT CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END
                       AS y,
                     round(CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[^A-Za-z]', '',
                                             'g'))
                       / CAST(length(text) AS DOUBLE)
                       ELSE 0 END, 6) AS sv
              FROM documents),
            cuts AS (
              SELECT quantile_cont(sv,
                [CAST(1 AS DOUBLE)/5, CAST(2 AS DOUBLE)/5,
                 CAST(3 AS DOUBLE)/5, CAST(4 AS DOUBLE)/5]) AS c
              FROM s),
            b AS (
              SELECT y, sv,
                     len(list_filter(c, x -> x < sv)) AS bin
              FROM s CROSS JOIN cuts)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   round(min(sv), 6) AS score_min,
                   round(max(sv), 6) AS score_max,
                   round(sum(y) / CAST(count(*) AS DOUBLE), 6)
                     AS pos_share
            FROM b GROUP BY bin ORDER BY bin
        """,
        "q76_robust_outliers": """
            -- Per-lang median/MAD length gate: two exact percentile
            -- passes (quantile_cont == Spark percentile), broadcast
            -- back, flag |x-med| > 3*MAD; MAD=0 groups flag nothing,
            -- NULL values keep NULL flags.
            WITH d AS (
              SELECT doc_id, lang,
                     CAST(length(text) AS DOUBLE) AS x
              FROM documents),
            med AS (
              SELECT lang, quantile_cont(x, 0.5) AS med
              FROM d WHERE x IS NOT NULL GROUP BY lang),
            mad AS (
              SELECT d.lang,
                     quantile_cont(abs(d.x - med.med), 0.5) AS mad
              FROM d JOIN med USING (lang)
              WHERE d.x IS NOT NULL GROUP BY d.lang),
            s AS (SELECT med.lang, med.med, mad.mad
                  FROM med JOIN mad USING (lang))
            SELECT d.doc_id, d.lang, CAST(d.x AS BIGINT) AS n,
                   round(s.med, 6) AS med, round(s.mad, 6) AS mad,
                   CASE WHEN d.x IS NULL THEN NULL
                        ELSE (s.mad > 0
                              AND abs(d.x - s.med) > 3.0 * s.mad)
                   END AS is_outlier
            FROM d LEFT JOIN s ON d.lang = s.lang
            ORDER BY doc_id
        """,
        "q164_psi_drift": """
            -- PSI re-derived: same literal 500-char bins, per-group
            -- full-outer bin join, Laplace smoothing over the
            -- observed bin set, (p-q)*ln(p/q) sum round-6. Spark:
            -- operators/snapshots.py::psi_drift.
            WITH b AS (
              SELECT source,
                     LEAST(CAST(floor(n_chars / 500) AS INTEGER), 9)
                       AS lb,
                     doc_id
              FROM documents),
            co AS (
              SELECT source AS g, lb, CAST(count(*) AS BIGINT) AS c
              FROM b WHERE doc_id < 250 GROUP BY 1, 2),
            cn AS (
              SELECT source AS g, lb, CAST(count(*) AS BIGINT) AS c
              FROM b WHERE doc_id >= 250 GROUP BY 1, 2),
            j AS (
              SELECT COALESCE(co.g, cn.g) AS g,
                     COALESCE(co.lb, cn.lb) AS lb,
                     COALESCE(co.c, 0) AS co,
                     COALESCE(cn.c, 0) AS cn
              FROM co FULL OUTER JOIN cn
                ON co.g = cn.g AND co.lb = cn.lb),
            t AS (
              SELECT g, sum(co) AS tto, sum(cn) AS ttn,
                     count(*) AS nb
              FROM j GROUP BY g)
            SELECT j.g AS source,
                   round(sum(
                     ((j.co + 1) / CAST(t.tto + t.nb AS DOUBLE)
                      - (j.cn + 1) / CAST(t.ttn + t.nb AS DOUBLE))
                     * ln(((j.co + 1) / CAST(t.tto + t.nb AS DOUBLE))
                          / ((j.cn + 1)
                             / CAST(t.ttn + t.nb AS DOUBLE)))), 6)
                     AS psi,
                   CAST(max(t.nb) AS BIGINT) AS n_bins,
                   CAST(max(t.tto) AS BIGINT) AS n_old,
                   CAST(max(t.ttn) AS BIGINT) AS n_new
            FROM j JOIN t ON j.g = t.g
            GROUP BY j.g ORDER BY source
        """,
        "q163_exact_incremental": """
            -- Cross-round exact screening == batch first-occurrence
            -- election (crawl order = id order, so they provably
            -- coincide): min id per md5(text) group over originals ∪
            -- planted re-crawls; NULL text -> '<NULL>' sentinel
            -- group. Spark: operators/incremental.py::
            -- exact_ingest_round.
            WITH d AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id >= 200 AND doc_id < 450
              UNION ALL
              SELECT doc_id + 10000, text FROM documents
              WHERE doc_id >= 200 AND doc_id < 450
                AND doc_id % 7 = 0),
            h AS (
              SELECT doc_id AS id,
                     COALESCE(md5(text), '<NULL>') AS hh
              FROM d),
            g AS (SELECT hh, min(id) AS first FROM h GROUP BY hh)
            SELECT h.id, h.id <> g.first AS is_dup,
                   CASE WHEN h.id <> g.first THEN g.first END
                     AS first_id
            FROM h JOIN g USING (hh) ORDER BY id
        """,
        "q161_ucb_budget": """
            -- UCB1 re-derived exactly: per-arm pull/win counts, ONE
            -- micro-quantized ln(N) (q152 convention), then
            -- correctly-rounded IEEE double steps only. Spark:
            -- operators/hostquality.py::ucb_scores.
            WITH per AS (
              SELECT source AS arm, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN length(text) >= 300
                              THEN 1 ELSE 0 END) AS BIGINT) AS wins
              FROM documents GROUP BY source),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per),
            q AS (
              SELECT CAST(floor(ln(CAST(total AS DOUBLE)) * 1e6 + 0.5)
                          AS BIGINT) AS lnq
              FROM t)
            SELECT arm, n, wins,
                   round(wins / CAST(n AS DOUBLE), 6) AS mean_reward,
                   round(wins / CAST(n AS DOUBLE)
                         + sqrt(2.0 * lnq
                                / (1e6 * CAST(n AS DOUBLE))), 6)
                     AS ucb
            FROM per CROSS JOIN q
            ORDER BY ucb DESC, arm
        """,
        "q160_weighted_sample": """
            -- A-ES weighted sample re-derived exactly: 53-bit md5
            -- uniform (bit-exact double), micro-quantized -ln(u)
            -- (q152 log convention), exact-integer-division sort key,
            -- per-source top-5. Spark: operators/ranking.py::
            -- weighted_sample.
            WITH s AS (
              SELECT source, doc_id,
                     CAST(length(text) AS BIGINT) AS w
              FROM documents WHERE length(text) > 0),
            keyed AS (
              SELECT source, doc_id, w,
                     CAST(floor(-ln(
                       (CAST(md5_number_lower(
                          CAST(doc_id AS VARCHAR) || ':') AS HUGEINT)
                          % 9007199254740992 + 1)
                       / 9007199254740992.0) * 1e6 + 0.5) AS BIGINT)
                       AS lq
              FROM s),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY lq / CAST(w AS DOUBLE), doc_id) AS rn
              FROM keyed)
            SELECT source, doc_id, w, lq,
                   round(lq / CAST(w AS DOUBLE), 6) AS aes_key
            FROM r WHERE rn <= 5
            ORDER BY source, doc_id
        """,
        "q159_semantic_incremental": f"""
            -- Cross-round SemDeDup union-equivalence: the union of
            -- 3 incremental ingest rounds must equal the FULL
            -- within-cluster pair set over the frozen q35 IVF map
            -- (round structure is invisible to the full derivation —
            -- that IS the contract). Cosine round-6 as in q77; poison
            -- clusters (-1) and NaN cosines never pair. Spark:
            -- operators/incremental.py::semantic_ingest_round.
            WITH a AS (
              SELECT vec_id, bucket AS cluster
              FROM read_parquet('{_fixture("q35_ivf_assign.parquet")}')
              WHERE bucket >= 0),
            j AS (
              SELECT a.vec_id AS id, a.cluster,
                     list_transform(e.embedding,
                                    x -> CAST(x AS DOUBLE)) AS v
              FROM a JOIN embeddings e ON a.vec_id = e.vec_id),
            sims AS (
              SELECT x.id AS id_a, y.id AS id_b,
                     CAST(x.cluster AS INTEGER) AS cluster,
                round(
                  list_sum(list_transform(range(1, len(x.v) + 1),
                                          i -> x.v[i] * y.v[i]))
                  / (sqrt(list_sum(list_transform(x.v, q -> q*q)))
                     * sqrt(list_sum(list_transform(y.v, q -> q*q)))),
                6) AS sim
              FROM j x JOIN j y
                ON x.cluster = y.cluster AND x.id < y.id)
            SELECT id_a, id_b, cluster, sim
            FROM sims
            WHERE NOT isnan(sim) AND sim >= 0.35
            ORDER BY id_a, id_b
        """,
        "q77_semdedup": f"""
            -- SemDeDup over the FROZEN q35 IVF cluster map: pairwise
            -- cosine within cluster (round-6, numpy-gemm parity proven
            -- by q20), max over strictly-earlier ids, keep = no
            -- earlier neighbor >= 0.35. Zero-norm vectors yield NaN
            -- cosines which are excluded (NULL max); singleton
            -- clusters have NULL max.
            WITH a AS (
              SELECT vec_id, bucket AS cluster
              FROM read_parquet('{_fixture("q35_ivf_assign.parquet")}')),
            j AS (
              SELECT a.vec_id AS id, a.cluster,
                     list_transform(e.embedding,
                                    x -> CAST(x AS DOUBLE)) AS v
              FROM a JOIN embeddings e ON a.vec_id = e.vec_id),
            sims AS (
              SELECT x.id, x.cluster,
                round(
                  list_sum(list_transform(range(1, len(x.v) + 1),
                                          i -> x.v[i] * y.v[i]))
                  / (sqrt(list_sum(list_transform(x.v, q -> q*q)))
                     * sqrt(list_sum(list_transform(y.v, q -> q*q)))),
                6) AS c
              FROM j x JOIN j y
                ON x.cluster = y.cluster AND y.id < x.id),
            mx AS (
              SELECT id, cluster, max(c) AS max_sim_earlier
              FROM sims WHERE NOT isnan(c) GROUP BY id, cluster)
            SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
                   round(mx.max_sim_earlier, 6) AS max_sim_earlier,
                   coalesce(mx.max_sim_earlier < 0.35, TRUE) AS keep
            FROM a LEFT JOIN mx ON a.vec_id = mx.id
            ORDER BY a.vec_id
        """,
        "q78_pmi_collocations": r"""
            -- PMI collocations: tokens, index-based adjacent pairing,
            -- min-count gate, ln((c_xy/N_pairs)/((c_x/N_tok)*(c_y/
            -- N_tok))) with the SAME association order as the Spark
            -- expression, top-100 cut on UNROUNDED pmi (alias-shadow
            -- trap: round only outside the ordering subquery).
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '\s+'),
                                 w -> w <> '') AS toks
              FROM documents),
            uni AS (
              SELECT u.w, count(*) AS c
              FROM t, unnest(t.toks) AS u(w) GROUP BY u.w),
            p AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM t, unnest(range(1, len(toks))) AS r(i)),
            bi AS (
              SELECT w1, w2, count(*) AS c_xy
              FROM p GROUP BY w1, w2 HAVING count(*) >= 5),
            tot AS (
              SELECT CAST(sum(len(toks)) AS DOUBLE) AS n_tok,
                     CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE)
                       AS n_pairs
              FROM t),
            scored AS (
              SELECT bi.w1, bi.w2, bi.c_xy, ux.c AS c_x, uy.c AS c_y,
                     ln((bi.c_xy / tot.n_pairs)
                        / ((ux.c / tot.n_tok) * (uy.c / tot.n_tok)))
                       AS pmi_raw
              FROM bi
              JOIN uni ux ON ux.w = bi.w1
              JOIN uni uy ON uy.w = bi.w2
              CROSS JOIN tot),
            sel AS (
              SELECT * FROM scored
              ORDER BY pmi_raw DESC, w1, w2 LIMIT 100)
            SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
                   CAST(c_x AS BIGINT) AS c_x,
                   CAST(c_y AS BIGINT) AS c_y,
                   round(pmi_raw, 6) AS pmi
            FROM sel ORDER BY pmi_raw DESC, w1, w2
        """,
        "q79_resolve_redirects": """
            -- Pointer-doubling oracle: build the SAME edge set (doc
            -- chains + planted 3-cycle + 40-hop chain), collapse to
            -- min(dst) per src, walk the map 32 applications with a
            -- recursive CTE, classify terminal vs unresolved.
            WITH RECURSIVE e AS (
              SELECT 'https://r/' || CAST(doc_id AS VARCHAR) AS src,
                     'https://r/' || CAST(doc_id - 1 AS VARCHAR) AS dst
              FROM documents WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT * FROM (VALUES
                ('https://r/9000001', 'https://r/9000002'),
                ('https://r/9000002', 'https://r/9000003'),
                ('https://r/9000003', 'https://r/9000001'))
              UNION ALL
              SELECT 'https://r/' || CAST(8000000 + i AS VARCHAR),
                     'https://r/' || CAST(8000001 + i AS VARCHAR)
              FROM range(40) AS t(i)),
            m AS (SELECT src AS u, min(dst) AS dst FROM e GROUP BY src),
            univ AS (SELECT u AS url FROM m
                     UNION SELECT dst FROM m),
            walk AS (
              SELECT url, url AS cur, 0 AS hops FROM univ
              UNION ALL
              SELECT w.url, m.dst, w.hops + 1
              FROM walk w JOIN m ON m.u = w.cur
              WHERE w.hops < 32),
            fin AS (
              SELECT url, arg_max(cur, hops) AS cur, max(hops) AS hops
              FROM walk GROUP BY url),
            cls AS (
              SELECT f.url, f.cur, f.hops,
                     (m.u IS NULL) AS is_term
              FROM fin f LEFT JOIN m ON m.u = f.cur)
            SELECT url,
                   CASE WHEN is_term THEN cur END AS resolved,
                   CASE WHEN is_term THEN CAST(hops AS BIGINT) END
                     AS hops,
                   CASE WHEN is_term THEN 'terminal'
                        ELSE 'unresolved' END AS status
            FROM cls ORDER BY url
        """,
        "q80_winnow_fingerprints": """
            -- Winnowing kernel re-derivation: 8-gram md5 lower halves
            -- masked to 63 bits (signed/unsigned order parity with the
            -- Spark longs), leftmost-min per 6-hash window, distinct
            -- (doc_id, pos, fp).
            WITH base AS (
              SELECT doc_id, lower(text) AS t
              FROM documents WHERE doc_id < 40),
            grams AS (
              SELECT doc_id,
                CASE WHEN length(t) - 7 >= 1 THEN
                  list_transform(range(1, CAST(length(t) - 6 AS BIGINT)),
                    i -> CAST(CAST(md5_number_lower(
                             substr(t, CAST(i AS INT), 8)) AS HUGEINT)
                          % (CAST(1 AS HUGEINT) << 63) AS BIGINT))
                ELSE CAST([] AS BIGINT[]) END AS g
              FROM base),
            picks AS (
              SELECT DISTINCT doc_id,
                CAST(j + list_position(
                       list_slice(g, CAST(j AS INT), CAST(j + 5 AS INT)),
                       list_min(list_slice(g, CAST(j AS INT),
                                           CAST(j + 5 AS INT)))) - 1
                     AS BIGINT) AS pos,
                list_min(list_slice(g, CAST(j AS INT),
                                    CAST(j + 5 AS INT))) AS fp
              FROM grams,
                   UNNEST(range(1, greatest(len(g) - 5, 1) + 1)) AS t(j)
              WHERE len(g) >= 1)
            SELECT doc_id, pos, fp FROM picks
            ORDER BY doc_id, pos, fp
        """,
        "q81_winnow_overlap": """
            -- Winnow overlap pairs: 16-gram / 8-window fingerprints,
            -- distinct per doc, posting-list self-join, containment
            -- normalization, cut on the ROUNDED overlap.
            WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
            grams AS (
              SELECT doc_id,
                CASE WHEN length(t) - 15 >= 1 THEN
                  list_transform(range(1, CAST(length(t) - 14 AS BIGINT)),
                    i -> CAST(CAST(md5_number_lower(
                             substr(t, CAST(i AS INT), 16)) AS HUGEINT)
                          % (CAST(1 AS HUGEINT) << 63) AS BIGINT))
                ELSE CAST([] AS BIGINT[]) END AS g
              FROM base),
            picks AS (
              SELECT DISTINCT doc_id,
                list_min(list_slice(g, CAST(j AS INT),
                                    CAST(j + 7 AS INT))) AS fp
              FROM grams,
                   UNNEST(range(1, greatest(len(g) - 7, 1) + 1)) AS t(j)
              WHERE len(g) >= 1),
            sizes AS (
              SELECT doc_id, count(*) AS n_fp FROM picks GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_common
              FROM picks a JOIN picks b
                ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            scored AS (
              SELECT p.id_a, p.id_b,
                     CAST(p.n_common AS BIGINT) AS n_common,
                     round(p.n_common / least(sa.n_fp, sb.n_fp), 6)
                       AS overlap
              FROM pairs p
              JOIN sizes sa ON sa.doc_id = p.id_a
              JOIN sizes sb ON sb.doc_id = p.id_b
              WHERE p.n_common >= 2)
            SELECT id_a, id_b, n_common, overlap
            FROM scored WHERE overlap >= 0.2
            ORDER BY id_a, id_b
        """,
        "q82_zipf_stats": f"""
            -- Zipf/vocab coverage: top-100 tokens by (count desc,
            -- token asc) with cumulative coverage share and corpus
            -- constants duplicated per row.
            WITH tok AS ({_tok_sql()}),
            tf AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
            consts AS (
              SELECT count(*) AS vocab_size,
                     sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS hapax_count,
                     sum(cnt) AS total_tokens
              FROM tf),
            top AS (
              SELECT w, cnt,
                     row_number() OVER (ORDER BY cnt DESC, w) AS rank
              FROM tf ORDER BY cnt DESC, w LIMIT 100),
            cum AS (
              SELECT rank, w, cnt,
                     sum(cnt) OVER (ORDER BY rank) AS cum_count
              FROM top)
            SELECT CAST(rank AS BIGINT) AS rank, w AS token,
                   CAST(cnt AS BIGINT) AS cnt,
                   CAST(cum_count AS BIGINT) AS cum_count,
                   round(cum_count / total_tokens, 6) AS cum_share,
                   CAST(vocab_size AS BIGINT) AS vocab_size,
                   CAST(hapax_count AS BIGINT) AS hapax_count,
                   CAST(total_tokens AS BIGINT) AS total_tokens
            FROM cum, consts ORDER BY rank
        """,
        "q83_tfidf_keywords": f"""
            -- Per-doc top-3 tf-idf keywords: smoothed idf, per-doc
            -- row_number cut on the UNROUNDED score (round only in
            -- the projection), token tie-break.
            WITH tok AS ({_tok_sql("doc_id", "WHERE doc_id < 200")}),
            tf AS (
              SELECT doc_id, w, count(*) AS tf
              FROM tok GROUP BY doc_id, w),
            dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
            n AS (SELECT count(*) AS n_docs
                  FROM documents WHERE doc_id < 200),
            scored AS (
              SELECT t.doc_id, t.w, t.tf, d.df,
                     t.tf * (ln((n_docs + 1) / (d.df + 1)) + 1.0) AS s
              FROM tf t JOIN dfx d USING (w) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY s DESC, w) AS rn
              FROM scored)
            SELECT doc_id, CAST(rn AS BIGINT) AS rn, w AS token,
                   CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                   round(s, 6) AS score
            FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn
        """,
        "q84_bpe_train": _bpe_oracle("train"),
        "q85_bpe_encode": _bpe_oracle("encode"),
        "q86_pq_ann": f"""
            -- PQ/ADC over frozen fixtures: the m x ksub subvector-L2^2
            -- table from the frozen codebooks, the per-vector ADC sum
            -- from the frozen codes, round-6 + id tie-break top-k
            -- (the q35 ANN oracle protocol). Spark computes codebooks
            -- and codes live; the compare pins them.
            WITH q AS (SELECT {_QV_SQL} AS qv),
            tab AS (
              SELECT sub, cid,
                list_sum(list_transform(range(1, 9),
                  i -> (qv[CAST(sub * 8 + i AS INT)]
                        - centroid[CAST(i AS INT)])
                       * (qv[CAST(sub * 8 + i AS INT)]
                          - centroid[CAST(i AS INT)]))) AS d
              FROM read_parquet('{_fixture("q86_pq_codebooks.parquet")}'), q),
            codes AS (
              SELECT vec_id, codes
              FROM read_parquet('{_fixture("q86_pq_codes.parquet")}')
              WHERE codes IS NOT NULL),
            expand AS (
              SELECT vec_id, CAST(j - 1 AS INT) AS sub,
                     codes[CAST(j AS INT)] AS code
              FROM codes, UNNEST(range(1, len(codes) + 1)) AS t(j)),
            adc AS (
              SELECT e.vec_id, round(sum(t.d), 6) AS adc
              FROM expand e
              JOIN tab t ON t.sub = e.sub AND t.cid = e.code
              GROUP BY e.vec_id)
            SELECT vec_id, adc FROM adc
            ORDER BY adc ASC, vec_id ASC LIMIT 10
        """,
        "q87_hll_distinct": f"""
            -- Deterministic HLL (p=8, m=256): md5 lower half masked
            -- to 63 bits, bucket = low 8 bits, rank = 56 -
            -- length(bin(h >> 8)) with the w=0 case explicit,
            -- register merge = max, linear counting below 2.5m with
            -- empty registers. rel_error derives from the ROUNDED
            -- estimate in both engines.
            WITH tok AS ({_tok_sql("source")}),
            hashed AS (
              SELECT source,
                CAST(CAST(md5_number_lower(w) AS HUGEINT)
                     % (CAST(1 AS HUGEINT) << 63) AS BIGINT) AS h
              FROM tok WHERE w IS NOT NULL),
            regs AS (
              SELECT source, h % 256 AS bk,
                max(CASE WHEN (h >> 8) = 0 THEN 56
                    ELSE 56 - length(bin(h >> 8)) END) AS reg
              FROM hashed GROUP BY source, h % 256),
            stats AS (
              SELECT source, count(*) AS present,
                     sum(power(2.0, -reg)) AS zp
              FROM regs GROUP BY source),
            est AS (
              SELECT source,
                round(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                             / (zp + (256 - present)) <= 2.5 * 256
                           AND (256 - present) > 0
                      THEN 256 * ln(256 / (256 - present))
                      ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                           / (zp + (256 - present)) END, 6) AS est
              FROM stats),
            exact AS (
              SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS exact
              FROM tok GROUP BY source)
            SELECT e.source, x.exact, e.est,
                   round(abs(e.est - x.exact) / x.exact, 6) AS rel_error
            FROM est e JOIN exact x USING (source) ORDER BY e.source
        """,
        "q88_kneser_ney": f"""
            -- Interpolated Kneser-Ney bigram LM: same vocab/<unk>
            -- closure as q62; continuation counts N1+(.w), forward
            -- N1+(w1.), D=0.75 absolute discount, add-0.5 smoothed
            -- p_cont; first token scores p_cont; ppl = exp(-mean ln).
            WITH toks AS (
              SELECT doc_id, generate_subscripts(tok, 1) AS pos,
                     unnest(tok) AS t
              FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
            counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
            tot AS (SELECT count(*) AS n_uni_types FROM counts),
            vocab AS (SELECT t FROM counts ORDER BY c DESC, t LIMIT 24),
            vv AS (SELECT least(24, n_uni_types) + 1 AS vp1 FROM tot),
            m AS (
              SELECT doc_id, pos,
                     CASE WHEN t IN (SELECT t FROM vocab)
                          THEN t ELSE '<unk>' END AS w
              FROM toks),
            pairs AS (
              SELECT doc_id, pos, w,
                     lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
              FROM m),
            big AS (
              SELECT w1, w, count(*) AS cb FROM pairs
              WHERE w1 IS NOT NULL GROUP BY w1, w),
            ctx AS (SELECT w1, sum(cb) AS cctx, count(*) AS n1p_fw
                    FROM big GROUP BY w1),
            bw AS (SELECT w, count(*) AS n1p_bw FROM big GROUP BY w),
            types AS (SELECT count(*) AS n_types FROM big),
            pcont AS (
              SELECT d.w,
                     (coalesce(b.n1p_bw, 0) + 0.5)
                       / ((SELECT n_types FROM types)
                          + 0.5 * (SELECT vp1 FROM vv)) AS p_cont
              FROM (SELECT DISTINCT w FROM m) d
              LEFT JOIN bw b USING (w)),
            scored AS (
              SELECT p.doc_id,
                     CASE WHEN p.w1 IS NULL THEN ln(pc.p_cont)
                          ELSE ln(
                            greatest(coalesce(b.cb, 0) - 0.75, 0.0)
                              / c.cctx
                            + (0.75 * c.n1p_fw / c.cctx) * pc.p_cont)
                     END AS logp
              FROM pairs p
              JOIN pcont pc USING (w)
              LEFT JOIN big b ON p.w1 = b.w1 AND p.w = b.w
              LEFT JOIN ctx c ON p.w1 = c.w1),
            perdoc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                     exp(-avg(logp)) AS ppl
              FROM scored GROUP BY doc_id)
            SELECT d.doc_id, p.n_terms, round(p.ppl, 6) AS ppl
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "q89_count_min": f"""
            -- Count-Min sketch re-derived exactly (pure integers):
            -- 4 row-salted md5 buckets ('cm' || i || ':' || w, masked
            -- low 63 bits, % 256), counter sums, min-of-4 point query
            -- for the exact top-20 tokens.
            WITH tok AS ({_tok_sql()}),
            sketch AS (
              SELECT i AS row,
                CAST(CAST(md5_number_lower('cm' || i || ':' || w)
                     AS HUGEINT) % (CAST(1 AS HUGEINT) << 63)
                     AS BIGINT) % 256 AS bucket,
                count(*) AS cnt
              FROM tok, UNNEST([0, 1, 2, 3]) AS u(i)
              GROUP BY 1, 2),
            top AS (
              SELECT w, count(*) AS exact FROM tok
              GROUP BY w ORDER BY exact DESC, w LIMIT 20),
            probe AS (
              SELECT t.w, t.exact, i AS row,
                CAST(CAST(md5_number_lower('cm' || i || ':' || t.w)
                     AS HUGEINT) % (CAST(1 AS HUGEINT) << 63)
                     AS BIGINT) % 256 AS bucket
              FROM top t, UNNEST([0, 1, 2, 3]) AS u(i)),
            est AS (
              SELECT p.w, p.exact, min(coalesce(s.cnt, 0)) AS est
              FROM probe p
              LEFT JOIN sketch s USING (row, bucket)
              GROUP BY p.w, p.exact)
            SELECT w AS token, CAST(exact AS BIGINT) AS exact,
                   CAST(est AS BIGINT) AS est,
                   CAST(est - exact AS BIGINT) AS overestimate
            FROM est ORDER BY exact DESC, token
        """,
        "q90_entropy_profile": f"""
            -- Shannon entropy in BITS via H = log2(n) -
            -- sum(c*log2 c)/n over the
            -- same (doc, symbol) count aggregation as Spark; char
            -- stream strips whitespace first (testdata is ASCII so
            -- '.'-extraction == Spark's split('')). Low-entropy gate
            -- compares the ROUNDED token entropy.
            WITH tok AS ({_tok_sql("doc_id")}),
            tc AS (
              SELECT doc_id, w, count(*) AS c
              FROM tok GROUP BY doc_id, w),
            th AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_types,
                     round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
                     round(log2(CAST(sum(c) AS DOUBLE))
                           - sum(c * log2(CAST(c AS DOUBLE))) / sum(c),
                           6) AS token_entropy
              FROM tc GROUP BY doc_id),
            chr_s AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(
                       regexp_replace(lower(text), '\\s+', '', 'g'),
                       '.')) AS s
              FROM documents),
            cc AS (
              SELECT doc_id, s, count(*) AS c
              FROM chr_s GROUP BY doc_id, s),
            chh AS (
              SELECT doc_id,
                     round(log2(CAST(sum(c) AS DOUBLE))
                           - sum(c * log2(CAST(c AS DOUBLE))) / sum(c),
                           6) AS char_entropy
              FROM cc GROUP BY doc_id)
            SELECT d.doc_id, t.n_tokens, t.n_types, t.ttr,
                   t.token_entropy, c.char_entropy,
                   CAST(t.token_entropy < 2.5 AS INT) AS is_low_entropy
            FROM documents d
            LEFT JOIN th t USING (doc_id)
            LEFT JOIN chh c USING (doc_id)
            ORDER BY d.doc_id
        """,
        "q91_query_likelihood": f"""
            -- Naive Dirichlet query likelihood (μ=100): every doc ×
            -- every corpus-present query term, ln((tf+μ·cf/|C|)/(dl+μ))
            -- weighted by qtf — the exact form whose postings-only
            -- decomposition the Spark operator runs. Cut on the
            -- UNROUNDED score, round outside.
            WITH tok AS ({_tok_sql("doc_id")}),
            post AS (
              SELECT doc_id, w AS term, count(*) AS tf
              FROM tok GROUP BY doc_id, w),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            ctot AS (SELECT CAST(sum(tf) AS DOUBLE) AS c FROM post),
            q(term, qtf) AS (VALUES ('hash', 2), ('join', 1), ('scan', 1)),
            cf AS (
              SELECT q.term, q.qtf, sum(p.tf) AS cf
              FROM q JOIN post p USING (term)
              GROUP BY q.term, q.qtf),
            scored AS (
              SELECT d.doc_id,
                     sum(c.qtf * ln(
                       (coalesce(p.tf, 0)
                          + 100.0 * (c.cf / (SELECT c FROM ctot)))
                       / (d.dl + 100.0))) AS raw
              FROM dl d
              CROSS JOIN cf c
              LEFT JOIN post p
                ON p.doc_id = d.doc_id AND p.term = c.term
              GROUP BY d.doc_id),
            top AS (
              SELECT doc_id, raw FROM scored
              ORDER BY raw DESC, doc_id LIMIT 12)
            SELECT doc_id, round(raw, 6) AS score
            FROM top ORDER BY raw DESC, doc_id
        """,
        "q92_phrase_search": f"""
            -- Top corpus trigram by lead() windows (count desc, then
            -- lexicographic), then per-doc occurrence counts. DuckDB
            -- subscripts are 1-based; Spark posexplode is 0-based —
            -- positions normalized to 0-based here.
            WITH toks AS (
              SELECT doc_id, generate_subscripts(tok, 1) - 1 AS pos,
                     unnest(tok) AS w
              FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
            tri AS (
              SELECT doc_id, pos, w AS w1,
                     lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS w2,
                     lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS w3
              FROM toks),
            top AS (
              SELECT w1, w2, w3 FROM tri WHERE w3 IS NOT NULL
              GROUP BY w1, w2, w3
              ORDER BY count(*) DESC, w1, w2, w3 LIMIT 1)
            SELECT
              (SELECT w1 || ' ' || w2 || ' ' || w3 FROM top) AS phrase,
              t.doc_id,
              CAST(count(*) AS BIGINT) AS n_occurrences,
              CAST(min(t.pos) AS BIGINT) AS first_pos
            FROM tri t JOIN top USING (w1, w2, w3)
            GROUP BY t.doc_id ORDER BY t.doc_id
        """,
        "q93_cocitation": f"""
            -- Same derived host graph + planted hub/sink; degree caps
            -- (>10) re-derived, then both canonical pair self-joins.
            WITH raw AS ({_HOSTGRAPH_RAW_SQL}),
            e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            eco AS (
              SELECT * FROM e WHERE src NOT IN (
                SELECT src FROM e GROUP BY src HAVING count(*) > 10)),
            ecp AS (
              SELECT * FROM e WHERE dst NOT IN (
                SELECT dst FROM e GROUP BY dst HAVING count(*) > 10)),
            co AS (
              SELECT a.dst AS host_a, b.dst AS host_b,
                     count(*) AS cocitation
              FROM eco a JOIN eco b
                ON a.src = b.src AND a.dst < b.dst
              GROUP BY 1, 2),
            coup AS (
              SELECT c.src AS host_a, d.src AS host_b,
                     count(*) AS coupling
              FROM ecp c JOIN ecp d
                ON c.dst = d.dst AND c.src < d.src
              GROUP BY 1, 2)
            SELECT coalesce(co.host_a, coup.host_a) AS host_a,
                   coalesce(co.host_b, coup.host_b) AS host_b,
                   CAST(coalesce(cocitation, 0) AS BIGINT) AS cocitation,
                   CAST(coalesce(coupling, 0) AS BIGINT) AS coupling
            FROM co FULL OUTER JOIN coup
              ON co.host_a = coup.host_a AND co.host_b = coup.host_b
            WHERE coalesce(cocitation, 0) >= 2
               OR coalesce(coupling, 0) >= 2
            ORDER BY 1, 2
        """,
        "q94_hits": _hits_oracle(),
        "q162_salsa": _salsa_oracle(),
        "q95_trustrank": _trustrank_oracle(),
        "q96_label_propagation": _lpa_oracle(),
        "q97_int8_ann": f"""
            -- int8 encode re-derived: scale = 127·nrm/max|x| (the
            -- flattened O(dim²) shape the operator uses), round-half-up
            -- floor(x+0.5) encode, integer dots (exact), approx =
            -- the SAME encode pipeline as vec_id −1. Exact cosine in
            -- q13's proven form; cut on the unrounded approx.
            WITH qv AS (SELECT {_QV_SQL} AS v),
            base AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS v
              FROM embeddings
              UNION ALL
              SELECT CAST(-1 AS BIGINT), v FROM qv),
            n1 AS (
              SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x)))
                       AS nrm
              FROM base),
            n3 AS (
              SELECT vec_id, v, nrm,
                     127.0 * nrm / list_max(list_transform(v,
                       x -> abs(x))) AS scale
              FROM n1 WHERE nrm > 0),
            enc AS (
              SELECT vec_id, scale,
                     list_transform(v, x ->
                       CAST(floor(x / nrm * scale + 0.5) AS BIGINT))
                       AS q
              FROM n3),
            qe AS (SELECT * FROM enc WHERE vec_id = -1),
            raw AS (
              SELECT e.vec_id,
                     CAST(list_sum(list_transform(range(1, 65),
                            i -> e.q[i] * qe.q[i])) AS DOUBLE)
                       / (e.scale * qe.scale) AS approx
              FROM enc e, qe WHERE e.vec_id >= 0),
            top AS (
              SELECT vec_id, approx FROM raw
              ORDER BY approx DESC, vec_id LIMIT 12),
            ex AS (
              SELECT vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(embedding[i] AS DOUBLE) * qv.v[i]))
                     / (sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(qv.v,
                            x -> x * x)))) AS exact
              FROM embeddings, qv)
            SELECT t.vec_id,
                   round(t.approx, 6) AS approx_cosine,
                   round(ex.exact, 6) AS exact_cosine,
                   round(abs(t.approx - ex.exact), 6) AS abs_err
            FROM top t JOIN ex USING (vec_id)
            ORDER BY round(t.approx, 6) DESC, t.vec_id
        """,
        "q98_kcore": _kcore_oracle(),
        "q99_prefix_jaccard": f"""
            -- NAIVE all-pairs token-set Jaccard (no prefix filter) at
            -- the same rational 3/5 gate — any pair the Spark prefix
            -- filter misses shows up as a row-count mismatch here,
            -- value-checking the zero-false-negative guarantee.
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 200),
            corpus AS (
              SELECT doc_id, text FROM base
              UNION ALL
              SELECT doc_id + 10000, text || ' qq xtra zz'
              FROM base WHERE doc_id % 40 = 0),
            tok AS (
              SELECT DISTINCT doc_id AS id, unnest({_TOKENS}) AS w
              FROM corpus),
            sz AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
              FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id
              GROUP BY a.id, b.id)
            SELECT p.id_a, p.id_b,
                   CAST(p.inter AS BIGINT) AS inter,
                   CAST(sa.sz AS BIGINT) AS size_a,
                   CAST(sb.sz AS BIGINT) AS size_b,
                   round(p.inter
                         / CAST(sa.sz + sb.sz - p.inter AS DOUBLE),
                         6) AS jaccard
            FROM pairs p
            JOIN sz sa ON p.id_a = sa.id
            JOIN sz sb ON p.id_b = sb.id
            WHERE 5 * p.inter >= 3 * (sa.sz + sb.sz - p.inter)
            ORDER BY p.id_a, p.id_b
        """,
        "q100_temperature_mix": f"""
            -- α=0.5 tempered shares: power(n_tokens, 0.5), totals,
            -- rounded 10^6-token budget, upsample factor — same
            -- expression shapes, round-6.
            WITH stats AS (
              SELECT d.source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(list_filter(
                       regexp_split_to_array(lower(d.text), '\\s+'),
                       x -> x <> ''))) AS BIGINT) AS n_tokens
              FROM documents d GROUP BY d.source),
            w AS (
              SELECT *, power(CAST(n_tokens AS DOUBLE), 0.5) AS _w
              FROM stats),
            tot AS (
              SELECT CAST(sum(n_tokens) AS DOUBLE) AS tr,
                     sum(_w) AS tw
              FROM w)
            SELECT w.source, w.n_docs, w.n_tokens,
                   round(w.n_tokens / tot.tr, 6) AS raw_share,
                   round(w._w / tot.tw, 6) AS tempered_share,
                   CAST(round(w._w / tot.tw * 1000000.0, 0) AS BIGINT)
                     AS budget_tokens,
                   round((w._w / tot.tw) / (w.n_tokens / tot.tr), 6)
                     AS upsample_factor
            FROM w, tot ORDER BY w.source
        """,
        "q101_bfs_depths": _bfs_oracle(),
        "q102_curation_funnel": f"""
            -- Same four keep-gates; first-fail via CASE; funnel via
            -- cumulative window over the gates frame.
            WITH enr AS (
              SELECT doc_id,
                     len({_TOKENS}) AS n_tok,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       / CAST(length(text) AS DOUBLE) AS alpha_ratio,
                     len(list_distinct({_TOKENS}))
                       / CAST(len({_TOKENS}) AS DOUBLE) AS ttr,
                     row_number() OVER (
                       PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents),
            flags AS (
              SELECT CASE
                WHEN NOT coalesce(n_tok >= 20 AND n_tok <= 1000, FALSE)
                  THEN 0
                WHEN NOT coalesce(alpha_ratio >= 0.6, FALSE) THEN 1
                WHEN NOT coalesce(ttr >= 0.4, FALSE) THEN 2
                WHEN NOT coalesce(rn = 1, FALSE) THEN 3
                ELSE 4 END AS ff
              FROM enr),
            counts AS (SELECT ff, count(*) AS killed FROM flags
                       GROUP BY ff),
            total AS (SELECT count(*) AS n FROM flags),
            gates(stage, gate) AS (VALUES
              (0, 'len_20_1000'), (1, 'alpha_ge_0.6'),
              (2, 'ttr_ge_0.4'), (3, 'dup_winner')),
            f AS (
              SELECT g.stage, g.gate,
                     CAST(coalesce(c.killed, 0) AS BIGINT) AS n_killed
              FROM gates g LEFT JOIN counts c ON g.stage = c.ff),
            funnel AS (
              SELECT stage, gate, n_killed,
                     CAST((SELECT n FROM total)
                       - coalesce(sum(n_killed) OVER (ORDER BY stage
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS n_in
              FROM f)
            SELECT stage, gate, n_in, n_killed,
                   CAST(n_in - n_killed AS BIGINT) AS n_out,
                   round(n_killed / CAST(n_in AS DOUBLE), 6)
                     AS kill_rate
            FROM funnel ORDER BY stage
        """,
        "q103_sessionize": """
            -- Same lag/flag/cumsum/rollup in DuckDB windows; gaps in
            -- integer microseconds (epoch_us == Spark unix_micros).
            WITH base AS (
              SELECT user_id, epoch_us(ts) AS us, event_id, value
              FROM events WHERE ts IS NOT NULL),
            flagged AS (
              SELECT *,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_s
              FROM base
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY us, event_id)),
            sess AS (
              SELECT *,
                     sum(new_s) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS session_seq
              FROM flagged)
            SELECT user_id,
                   CAST(session_seq AS BIGINT) AS session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(us) AS start_us,
                   max(us) AS end_us,
                   round((max(us) - min(us)) / 1000000.0, 6)
                     AS duration_sec,
                   round(sum(value), 6) AS value_sum
            FROM sess
            GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """,
        "q104_cdc_chunks": f"""
            -- Rolling 4-token window hash, boundary when masked
            -- md5-lower64 % 32 == 0 (power-of-2 pmod parity), chunk
            -- ids by exclusive cumsum, ordered per-chunk rollup.
            WITH toks AS (
              SELECT doc_id, generate_subscripts(tok, 1) - 1 AS pos,
                     unnest(tok) AS w
              FROM (SELECT doc_id, {_TOKENS} AS tok FROM documents)),
            rolled AS (
              SELECT doc_id, pos, w,
                     string_agg(w, ' ') OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS BETWEEN 3 PRECEDING
                       AND CURRENT ROW) AS win
              FROM toks),
            flagged AS (
              SELECT doc_id, pos, w,
                     CASE WHEN pos >= 3 AND
                       CAST(CAST(md5_number_lower(win) AS HUGEINT)
                            % (CAST(1 AS HUGEINT) << 63) AS BIGINT)
                       % 32 = 0
                     THEN 1 ELSE 0 END AS b
              FROM rolled),
            chunked AS (
              SELECT doc_id, pos, w,
                     coalesce(sum(b) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS chunk_idx
              FROM flagged)
            SELECT doc_id,
                   CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(min(pos) AS BIGINT) AS start_pos,
                   md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
            FROM chunked
            GROUP BY doc_id, chunk_idx
            ORDER BY doc_id, chunk_idx
        """,
        "q105_triangles": f"""
            -- Degree-ordered orientation, wedge join at the apex,
            -- closure against both storages of the closing edge,
            -- per-corner redistribution. All-integer until the final
            -- rounded coefficient.
            WITH raw AS ({_COMMUNITY_RAW_SQL}),
            e AS (SELECT DISTINCT src, dst FROM raw
                  WHERE src IS NOT NULL AND dst IS NOT NULL
                    AND src <> dst),
            hosts AS (SELECT DISTINCT host FROM
              (SELECT src AS host FROM e UNION ALL SELECT dst FROM e)),
            und AS (SELECT DISTINCT a, b FROM (
              SELECT src AS a, dst AS b FROM e
              UNION ALL SELECT dst, src FROM e)),
            deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
            keyed AS (
              SELECT u.a AS lo, u.b AS hi
              FROM und u
              JOIN deg da ON u.a = da.a
              JOIN deg db ON u.b = db.a
              WHERE da.d < db.d OR (da.d = db.d AND u.a < u.b)),
            closing AS (
              SELECT lo AS x, hi AS y FROM keyed
              UNION ALL SELECT hi, lo FROM keyed),
            closed AS (
              SELECT w1.lo AS apex, w1.hi AS x, w2.hi AS y
              FROM keyed w1
              JOIN keyed w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
              JOIN closing c ON c.x = w1.hi AND c.y = w2.hi),
            corners AS (
              SELECT host, count(*) AS triangles FROM (
                SELECT apex AS host FROM closed
                UNION ALL SELECT x FROM closed
                UNION ALL SELECT y FROM closed) u
              GROUP BY host)
            SELECT hosts.host,
                   CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
                   CAST(coalesce(c.triangles, 0) AS BIGINT)
                     AS triangles,
                   round(CASE WHEN deg.d >= 2
                     THEN 2.0 * coalesce(c.triangles, 0)
                          / (deg.d * (deg.d - 1))
                     ELSE 0.0 END, 6) AS clustering
            FROM hosts
            LEFT JOIN deg ON hosts.host = deg.a
            LEFT JOIN corners c ON hosts.host = c.host
            ORDER BY hosts.host
        """,
        "q106_rrf_hybrid": f"""
            -- Both rankers recomputed (BM25 per q59's shape, Dirichlet
            -- QL per q91's naive form, same query), ranked on the
            -- UNROUNDED scores, fused as sum(1/(60+rank)), top-12 cut
            -- on the unrounded fusion.
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            post AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY term, doc_id),
            dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            consts AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
              FROM dl),
            q(term) AS (VALUES ('hash'), ('join'), ('scan')),
            hits AS (SELECT p.* FROM post p JOIN q USING (term)),
            dfs AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM hits GROUP BY term),
            bm_scored AS (
              SELECT h.doc_id,
                     sum(ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
                         * h.tf
                         / (h.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl)))
                       AS score
              FROM hits h
              JOIN dfs d USING (term)
              JOIN dl l USING (doc_id), consts c
              GROUP BY h.doc_id),
            bm_top AS (
              SELECT doc_id, score FROM bm_scored
              ORDER BY score DESC, doc_id LIMIT 15),
            ctot AS (SELECT CAST(sum(tf) AS DOUBLE) AS c FROM post),
            cf AS (
              SELECT q.term, sum(p.tf) AS cf
              FROM q JOIN post p USING (term) GROUP BY q.term),
            ql_scored AS (
              SELECT d.doc_id,
                     sum(ln((coalesce(p.tf, 0)
                             + 100.0 * (c.cf / (SELECT c FROM ctot)))
                            / (d.dl + 100.0))) AS score
              FROM dl d
              CROSS JOIN cf c
              LEFT JOIN post p
                ON p.doc_id = d.doc_id AND p.term = c.term
              GROUP BY d.doc_id),
            ql_top AS (
              SELECT doc_id, score FROM ql_scored
              ORDER BY score DESC, doc_id LIMIT 15),
            parts AS (
              -- ranks on ROUND-6 scores (ties by id): the rankers'
              -- cross-engine float noise becomes identical ties
              SELECT doc_id, 1.0 / (60.0 + row_number() OVER (
                ORDER BY round(score, 6) DESC, doc_id)) AS part
              FROM bm_top
              UNION ALL
              SELECT doc_id, 1.0 / (60.0 + row_number() OVER (
                ORDER BY round(score, 6) DESC, doc_id)) AS part
              FROM ql_top),
            fused AS (
              SELECT doc_id, sum(part) AS s,
                     CAST(count(*) AS BIGINT) AS n_rankers
              FROM parts GROUP BY doc_id),
            cut AS (
              SELECT doc_id, s, n_rankers FROM fused
              ORDER BY s DESC, doc_id LIMIT 12)
            SELECT doc_id, round(s, 6) AS rrf_score, n_rankers
            FROM cut ORDER BY s DESC, doc_id
        """,
        "q107_mmr_diversify": _mmr_oracle(pool=20, k=5),
        "q108_suffix_array": f"""
            -- The suffix array BY DEFINITION: concatenate the same
            -- md5-ordered, chr(1)-terminated corpus and rank every
            -- 1-based position by its literal suffix. The Spark side
            -- never materializes the corpus nor compares a string —
            -- the hash compare proves prefix doubling == suffix sort.
            {_sa_corpus_sql("doc_id < 48", 110, "text")}
            SELECT p.doc_id,
                   CAST(p.gpos AS BIGINT) AS gpos,
                   CAST(p.pos_in_doc AS BIGINT) AS pos_in_doc,
                   CAST(row_number() OVER (ORDER BY
                     substr((SELECT c FROM corpus), CAST(p.gpos AS INT)))
                     AS BIGINT) AS sa_rank
            FROM pos p
            ORDER BY p.gpos
        """,
        "q109_repeated_grams": f"""
            -- Group positions by their literal 16-char gram (grams
            -- fully inside a document only — same eligibility gate),
            -- keep groups of >=2.
            {_sa_corpus_sql(
                "doc_id < 120",
                160,
                "text || CASE WHEN doc_id % 10 = 0"
                " THEN ' repeated boilerplate navigation footer'"
                " ELSE '' END",
            )}
            SELECT CAST(min(gpos) AS BIGINT) AS min_gpos,
                   CAST(count(*) AS BIGINT) AS n_occ,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM (
              SELECT doc_id, gpos,
                     substr((SELECT c FROM corpus),
                            CAST(gpos AS INT), 16) AS g
              FROM pos
              WHERE pos_in_doc + 15 <= len)
            GROUP BY g
            HAVING count(*) >= 2
            ORDER BY min_gpos
        """,
        "q110_heavy_hitters": f"""
            -- The output contract is EXACT heavy hitters, so the
            -- oracle is the naive global count the MG sketch prunes:
            -- matching hashes prove the candidate superset never
            -- dropped a heavy term.
            WITH toks AS (
              SELECT unnest({_TOKENS}) AS term FROM documents),
            tot AS (SELECT count(*) AS n FROM toks)
            SELECT term, CAST(count(*) AS BIGINT) AS freq,
                   round(count(*) * 1.0 / (SELECT n FROM tot), 6)
                     AS share
            FROM toks GROUP BY term
            HAVING count(*) * 50 > (SELECT n FROM tot)
            ORDER BY freq DESC, term
        """,
        "q111_link_prediction": f"""
            -- Same hygiene/cap/wedge shape as the operator; scores
            -- from the wedge group and the degree table.
            WITH raw AS ({_HOSTGRAPH_RAW_SQL}),
            e AS (SELECT DISTINCT src, dst FROM raw
                  WHERE src IS NOT NULL AND dst IS NOT NULL
                    AND src <> dst),
            und AS (SELECT DISTINCT a, b FROM (
              SELECT src AS a, dst AS b FROM e
              UNION ALL SELECT dst, src FROM e)),
            deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
            ctr AS (
              SELECT u.a AS z, u.b AS x, da.d AS dz
              FROM und u JOIN deg da ON u.a = da.a
              WHERE da.d <= 16),
            wedges AS (
              SELECT w1.x, w2.x AS y, w1.dz
              FROM ctr w1 JOIN ctr w2
                ON w1.z = w2.z AND w1.x < w2.x),
            scored AS (
              SELECT x, y, count(*) AS cn,
                     sum(1.0 / ln(dz)) AS aa
              FROM wedges GROUP BY x, y),
            cand AS (
              SELECT s.* FROM scored s
              WHERE NOT EXISTS (SELECT 1 FROM und
                                WHERE und.a = s.x AND und.b = s.y))
            SELECT c.x AS host_a, c.y AS host_b,
                   CAST(c.cn AS BIGINT) AS common_neighbors,
                   round(c.cn * 1.0 / (dx.d + dy.d - c.cn), 6)
                     AS jaccard,
                   round(c.aa, 6) AS adamic_adar
            FROM cand c
            JOIN deg dx ON c.x = dx.a
            JOIN deg dy ON c.y = dy.a
            WHERE c.cn >= 2
            ORDER BY host_a, host_b
        """,
        "q112_kmeans": _kmeans_oracle(),
        "q147_neighborhood_function": _anf_oracle(),
        "q149_compaction_schedule": _huffman_oracle(),
        "q153_ndcg": _ndcg_oracle(),
        "q154_minhash_incremental": f"""
            -- The incremental contract IS full-corpus equivalence:
            -- the Spark side ingests docs 200-449 in three rounds
            -- against on-disk dedup state; this oracle is the q10
            -- batch LSH derivation over the same slice (KM double
            -- hash, 4 md5 band buckets, bucket self-join), which the
            -- per-round union must reproduce pair-for-pair. Spark:
            -- operators/incremental.py::minhash_ingest_round.
            WITH base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM documents
                    WHERE doc_id >= 200 AND doc_id < 450)),
            sig AS (
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s) AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR)) AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2] || '|' ||
                         sg[b*4+3] || '|' || sg[b*4+4]))) AS bucket
              FROM sig)
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_bands
            FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
            GROUP BY 1, 2
        """,
        "q155_simhash_incremental": """
            -- Incremental SimHash contract = full-corpus equivalence:
            -- q16's end-to-end signature derivation (md5 lower-half
            -- shingle hashes, strict-majority bit votes, LE pack) over
            -- ALL documents, then the pigeonhole path the Spark rounds
            -- take — 4 x 16-bit blocks, block-bucket join, exact
            -- bit_count(xor) verify at radius 3. Spark: operators/
            -- incremental.py::simhash_ingest_round (3-round union).
            WITH base AS (
              SELECT doc_id, list_sort(list_distinct(list_transform(
                       range(1, greatest(len(tok) - 1, 0) + 1),
                       i -> array_to_string(tok[i:i+1], ' ')))) AS sh
              FROM (SELECT doc_id, text,
                           list_filter(regexp_split_to_array(lower(text),
                             '\\s+'), x -> x <> '') AS tok
                    FROM documents)),
            hashed AS (
              SELECT doc_id,
                     list_transform(sh, s -> md5_number_lower(s)) AS hs
              FROM base),
            votes AS (
              SELECT doc_id, j, len(hs) AS n,
                     len(list_filter(hs, h -> ((h >> j) & 1) = 1)) AS ones
              FROM hashed, UNNEST(range(0, 64)) AS t(j)),
            packed AS (
              SELECT doc_id,
                     COALESCE(SUM(CASE WHEN 2 * ones > n
                       THEN CAST(1 AS HUGEINT) << CAST(j AS INTEGER)
                       ELSE CAST(0 AS HUGEINT) END), 0) AS us
              FROM votes GROUP BY doc_id),
            signed AS (
              SELECT doc_id, us,
                     CAST(CASE WHEN us >= CAST(1 AS HUGEINT) << 63
                          THEN us - (CAST(1 AS HUGEINT) << 64)
                          ELSE us END AS BIGINT) AS sim
              FROM packed),
            chunks AS (
              SELECT doc_id, sim, j,
                     CAST((us >> CAST(16 * j AS INTEGER)) & 65535
                       AS BIGINT) AS block
              FROM signed, UNNEST(range(0, 4)) AS t(j)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sim AS sa, b.sim AS sb
              FROM chunks a JOIN chunks b
                ON a.j = b.j AND a.block = b.block
                   AND a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "q156_novelty_incremental": f"""
            -- Cross-round novelty without the state machinery: doc
            -- rounds are doc_id % 3, and a doc is NON-novel iff some
            -- doc with a strictly smaller round shares one of its
            -- q154-proven MinHash band buckets (the probe sees exactly
            -- the earlier rounds' bucket rows). Spark: operators/
            -- incremental.py::minhash_novelty_incremental.
            WITH base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM documents
                    WHERE doc_id >= 200 AND doc_id < 450)),
            sig AS (
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s) AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR)) AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2] || '|' ||
                         sg[b*4+3] || '|' || sg[b*4+4]))) AS bucket
              FROM sig),
            nonnovel AS (
              SELECT DISTINCT a.id
              FROM banded a JOIN banded b
                ON a.bucket = b.bucket AND (b.id % 3) < (a.id % 3)),
            ids AS (
              SELECT doc_id AS id FROM documents
              WHERE doc_id >= 200 AND doc_id < 450)
            SELECT CAST(i.id % 3 AS INTEGER) AS round,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN nn.id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM ids i LEFT JOIN nonnovel nn ON i.id = nn.id
            GROUP BY 1
        """,
        "q157_soft404": f"""
            -- Soft-404 template screen: full q16 SimHash reproduction
            -- (2-shingles, md5 lower half, majority votes, LE pack)
            -- over documents UNION the planted per-source error body
            -- (docs 0-59 at doc_id+100000), then per-(source, simhash)
            -- clusters gated on >= 3 distinct docs and mean length
            -- <= 400. Spark: operators/anomaly.py::soft404_templates.
            WITH pages AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id,
                     'Error 404 page not found on ' || source ||
                     ' please check the url and try again' AS text,
                     source
              FROM documents WHERE doc_id < 60),
            toks AS (
              SELECT doc_id, source, length(text) AS nc, {_TOKENS} AS tok
              FROM pages),
            base AS (
              SELECT doc_id, source, nc, {_SHINGLES2} AS sh FROM toks),
            hashed AS (
              SELECT doc_id, source, nc,
                     list_transform(sh, s -> md5_number_lower(s)) AS hs
              FROM base),
            votes AS (
              SELECT doc_id, j, len(hs) AS n,
                     len(list_filter(hs, h -> ((h >> j) & 1) = 1)) AS ones
              FROM hashed, UNNEST(range(0, 64)) AS t(j)),
            packed AS (
              SELECT doc_id,
                     COALESCE(SUM(CASE WHEN 2 * ones > n
                       THEN CAST(1 AS HUGEINT) << CAST(j AS INTEGER)
                       ELSE CAST(0 AS HUGEINT) END), 0) AS us
              FROM votes GROUP BY doc_id),
            sh64 AS (
              SELECT doc_id,
                     CAST(CASE WHEN us >= CAST(1 AS HUGEINT) << 63
                          THEN us - (CAST(1 AS HUGEINT) << 64)
                          ELSE us END AS BIGINT) AS simhash
              FROM packed),
            cl AS (
              SELECT h.source AS host, s.simhash,
                     CAST(COUNT(DISTINCT h.doc_id) AS BIGINT) AS n_pages,
                     MIN(h.doc_id) AS example_id,
                     round(AVG(h.nc), 6) AS avg_chars
              FROM hashed h JOIN sh64 s ON h.doc_id = s.doc_id
              GROUP BY 1, 2)
            SELECT host, simhash, n_pages, example_id, avg_chars
            FROM cl WHERE n_pages >= 3 AND avg_chars <= 400
        """,
        "q158_filter_funnel": f"""
            -- Gate-cascade attrition audit over the q44 Gopher gates,
            -- compared on the SAME round-6 ratios the Spark side gates
            -- on: per stage, reached / first-fail / marginal-fail /
            -- unique-fail counts. Spark: operators/text.py::
            -- filter_funnel.
            WITH toks AS (
              SELECT doc_id, text, {_TOKENS} AS tok FROM documents),
            base AS (
              SELECT doc_id, text, tok,
                     CAST(len(tok) AS BIGINT) AS n_words,
                     list_sum(list_transform(tok, w -> length(w))) AS twc,
                     len(list_filter(tok,
                       w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_w,
                     len(regexp_extract_all(text, '#'))
                       + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_sym,
                     list_transform(
                       list_filter(string_split(text, chr(10)),
                         l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g') <> ''),
                       l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')) AS lines
              FROM toks),
            m AS (
              SELECT doc_id, n_words,
                     CASE WHEN n_words > 0
                          THEN twc / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
                     CASE WHEN n_words > 0
                          THEN n_alpha_w / CAST(n_words AS DOUBLE)
                          ELSE 0.0 END AS faw,
                     CASE WHEN n_words > 0
                          THEN n_sym / CAST(n_words AS DOUBLE)
                          ELSE 0.0 END AS sr,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines,
                                 l -> regexp_matches(l, '^[-*•‣▪]')))
                               / CAST(len(lines) AS DOUBLE)
                          ELSE 0.0 END AS fb,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines,
                                 l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
                               / CAST(len(lines) AS DOUBLE)
                          ELSE 0.0 END AS fe,
                     CAST(len(list_intersect(tok, {en_stop})) AS BIGINT) AS sh
              FROM base),
            r AS (
              SELECT doc_id,
                     n_words BETWEEN 50 AND 100000 AS g0,
                     round(mwl, 6) BETWEEN 3.0 AND 10.0 AS g1,
                     round(sr, 6) < 0.1 AS g2,
                     round(fb, 6) < 0.9 AS g3,
                     round(fe, 6) < 0.3 AS g4,
                     round(faw, 6) >= 0.8 AS g5,
                     sh >= 2 AS g6
              FROM m),
            f AS (
              SELECT *,
                     CASE WHEN NOT g0 THEN 0 WHEN NOT g1 THEN 1
                          WHEN NOT g2 THEN 2 WHEN NOT g3 THEN 3
                          WHEN NOT g4 THEN 4 WHEN NOT g5 THEN 5
                          WHEN NOT g6 THEN 6 ELSE 7 END AS ff,
                     (CASE WHEN g0 THEN 0 ELSE 1 END)
                       + (CASE WHEN g1 THEN 0 ELSE 1 END)
                       + (CASE WHEN g2 THEN 0 ELSE 1 END)
                       + (CASE WHEN g3 THEN 0 ELSE 1 END)
                       + (CASE WHEN g4 THEN 0 ELSE 1 END)
                       + (CASE WHEN g5 THEN 0 ELSE 1 END)
                       + (CASE WHEN g6 THEN 0 ELSE 1 END) AS nfail
              FROM r),
            st AS (
              SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS stage),
            nm(stage, gate) AS (
              VALUES (0, 'word_count'), (1, 'mean_word_len'),
                     (2, 'symbol_ratio'), (3, 'bullet_lines'),
                     (4, 'ellipsis_lines'), (5, 'alpha_words'),
                     (6, 'stopwords'))
            SELECT st.stage, nm.gate,
                   CAST(COALESCE(SUM(CASE WHEN f.ff >= st.stage
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_reached,
                   CAST(COALESCE(SUM(CASE WHEN f.ff = st.stage
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed_here,
                   CAST(COALESCE(SUM(CASE WHEN NOT (CASE st.stage
                        WHEN 0 THEN f.g0 WHEN 1 THEN f.g1 WHEN 2 THEN f.g2
                        WHEN 3 THEN f.g3 WHEN 4 THEN f.g4 WHEN 5 THEN f.g5
                        ELSE f.g6 END)
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fail_marginal,
                   CAST(COALESCE(SUM(CASE WHEN f.nfail = 1 AND NOT (CASE st.stage
                        WHEN 0 THEN f.g0 WHEN 1 THEN f.g1 WHEN 2 THEN f.g2
                        WHEN 3 THEN f.g3 WHEN 4 THEN f.g4 WHEN 5 THEN f.g5
                        ELSE f.g6 END)
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique_fail
            FROM st JOIN nm ON nm.stage = st.stage
            LEFT JOIN f ON TRUE
            GROUP BY st.stage, nm.gate
        """,
        "q151_f1_threshold": """
            -- Max-F1 cut re-derived: q75's score/label pair, distinct-
            -- score suffix cumulative counts (DESC window), F1,
            -- (f1 DESC, threshold ASC) argmax. Spark:
            -- operators/classifier.py::f1_threshold.
            WITH s AS (
              SELECT source,
                     CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END
                       AS y,
                     round(CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[^A-Za-z]', '',
                                             'g'))
                       / CAST(length(text) AS DOUBLE)
                       ELSE 0 END, 6) AS sv
              FROM documents),
            per AS (
              SELECT source, sv, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(*) AS BIGINT) AS n
              FROM s GROUP BY source, sv),
            c AS (
              SELECT source, sv,
                     sum(pos) OVER (PARTITION BY source ORDER BY sv DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS tp,
                     sum(n) OVER (PARTITION BY source ORDER BY sv DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ge,
                     sum(pos) OVER (PARTITION BY source) AS all_pos
              FROM per),
            scored AS (
              SELECT source, sv, tp, ge - tp AS fp, all_pos - tp AS fn,
                     ge, all_pos,
                     round(CASE WHEN 2 * tp + (ge - tp)
                                     + (all_pos - tp) = 0 THEN NULL
                           ELSE 2 * tp / CAST(2 * tp + (ge - tp)
                                + (all_pos - tp) AS DOUBLE) END, 6)
                       AS f1
              FROM c),
            win AS (
              SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY f1 DESC NULLS LAST, sv ASC) AS rn
              FROM scored)
            SELECT source, sv AS threshold,
                   CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   round(tp / CAST(ge AS DOUBLE), 6) AS precision,
                   round(CASE WHEN all_pos = 0 THEN NULL
                         ELSE tp / CAST(all_pos AS DOUBLE) END, 6)
                     AS recall,
                   f1
            FROM win WHERE rn = 1 ORDER BY source
        """,
        "q152_hill_alpha": f"""
            -- Hill estimator re-derived: tail filter, micro-unit log
            -- quantization, exact integer sum, one division. Spark:
            -- operators/text.py::hill_alpha.
            WITH v AS (
              SELECT source,
                     CAST(len({_TOKENS}) AS DOUBLE) AS x
              FROM documents),
            tail AS (SELECT * FROM v WHERE x >= 40.0),
            agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(CAST(floor(ln(x / 40.0) * 1000000 + 0.5)
                       AS BIGINT)) AS BIGINT) AS log_sum_micro
              FROM tail GROUP BY source)
            SELECT source, k, log_sum_micro,
                   round(1.0 + CASE WHEN log_sum_micro = 0 THEN NULL
                         ELSE (k * 1000000)
                              / CAST(log_sum_micro AS DOUBLE) END, 6)
                     AS alpha
            FROM agg ORDER BY source
        """,
        "q150_index_compression": f"""
            -- Index sizing re-derived: distinct postings, per-term
            -- ordered gaps (first = id+1), varint bytes
            -- (len(bin(gap))+6)//7, log2-df buckets, ratio. Spark:
            -- operators/search.py::index_compression_stats.
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
            p AS (SELECT DISTINCT term AS t, doc_id AS d FROM toks),
            g AS (
              SELECT t,
                     coalesce(d - lag(d) OVER (PARTITION BY t
                       ORDER BY d), d + 1) AS gap
              FROM p),
            per_term AS (
              SELECT t, CAST(count(*) AS BIGINT) AS df,
                     CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT)
                       AS vbytes
              FROM g GROUP BY t),
            agg AS (
              SELECT CAST(length(bin(df)) - 1 AS INT) AS df_bucket,
                     CAST(count(*) AS BIGINT) AS n_terms,
                     CAST(sum(df) AS BIGINT) AS n_postings,
                     CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
                     CAST(sum(vbytes) AS BIGINT) AS varint_bytes
              FROM per_term GROUP BY 1)
            SELECT df_bucket, n_terms, n_postings, raw_bytes,
                   varint_bytes,
                   round(varint_bytes / CAST(raw_bytes AS DOUBLE), 6)
                     AS ratio
            FROM agg ORDER BY df_bucket
        """,
        "q148_novelty": f"""
            -- Novelty re-derived: corpus + planted re-crawls, distinct
            -- 3-shingles, shingle-level min(order) first occurrence,
            -- per-doc rollup with zero-shingle docs kept (NULL
            -- novelty). Spark: operators/dedup.py::novelty_fraction.
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 300
              UNION ALL
              SELECT doc_id + 10000, text FROM documents
              WHERE doc_id < 50),
            base AS (
              SELECT doc_id AS id, doc_id AS o, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok
                    FROM corpus)),
            ex AS (SELECT id, o, unnest(sh) AS s FROM base),
            first AS (SELECT s, min(o) AS fo FROM ex GROUP BY s),
            per AS (
              SELECT ex.id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(sum(CASE WHEN f.fo = ex.o THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_new
              FROM ex JOIN first f USING (s) GROUP BY ex.id)
            SELECT b.id,
                   coalesce(p.n_shingles, 0) AS n_shingles,
                   coalesce(p.n_new, 0) AS n_new,
                   round(CASE WHEN p.n_shingles > 0
                         THEN p.n_new / CAST(p.n_shingles AS DOUBLE)
                         END, 6) AS novelty
            FROM (SELECT DISTINCT id FROM base) b
            LEFT JOIN per p USING (id)
            ORDER BY b.id
        """,
        "q130_containment_join": f"""
            -- NAIVE all-shared-token directed pair join at the same
            -- integer gate 10*inter >= 9*|A| — no prefix filter, so a
            -- hash match proves the Spark side's rarest-prefix
            -- candidate step drops nothing. Quote docs token-sliced
            -- identically ([1:12] == F.slice(words,1,12)). Spark:
            -- operators/dedup.py::containment_pairs.
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 120),
            quotes AS (
              SELECT doc_id + 10000 AS doc_id,
                     array_to_string(({_TOKENS})[1:12], ' ') AS text
              FROM base WHERE doc_id % 3 = 0),
            corpus AS (
              SELECT * FROM base UNION ALL SELECT * FROM quotes),
            toks AS (
              SELECT doc_id AS id, unnest(list_distinct({_TOKENS})) AS w
              FROM corpus),
            sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(count(*) AS BIGINT) AS inter
              FROM toks a JOIN toks b ON a.w = b.w AND a.id <> b.id
              GROUP BY a.id, b.id)
            SELECT id_a, id_b, inter,
                   CAST(sa.sz AS BIGINT) AS size_a,
                   CAST(sb.sz AS BIGINT) AS size_b,
                   round(inter / CAST(sa.sz AS DOUBLE), 6) AS containment
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE 10 * inter >= 9 * sa.sz
            ORDER BY id_a, id_b
        """,
        "q131_unimax": f"""
            -- UniMax water-filling re-derived: ranked caps window,
            -- all-integer prefix rule cap*(L-rn+1) <= B - cum_excl,
            -- boundary scalars via arg_min, both allocation arms.
            -- Spark: operators/sharding.py::unimax_allocation.
            WITH counts AS (
              SELECT 'l' || (doc_id % 13) AS source,
                     CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY 1),
            caps AS (
              SELECT source, n_tokens, 2 * n_tokens AS cap FROM counts),
            ranked AS (
              SELECT source, n_tokens, cap,
                     row_number() OVER (ORDER BY cap, source) AS rn,
                     coalesce(sum(cap) OVER (ORDER BY cap, source
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_excl,
                     count(*) OVER () AS L
              FROM caps),
            flagged AS (
              SELECT *,
                     cap * (L - rn + 1) <= 50000 - cum_excl AS ok
              FROM ranked),
            b AS (
              SELECT min(rn) AS b_rn,
                     arg_min(cum_excl, rn) AS b_cum,
                     arg_min(L - rn + 1, rn) AS b_k
              FROM flagged WHERE NOT ok),
            alloced AS (
              SELECT source, n_tokens, cap,
                     (b.b_rn IS NULL OR rn < b.b_rn) AS capped,
                     round(CASE WHEN b.b_rn IS NULL OR rn < b.b_rn
                             THEN CAST(cap AS DOUBLE)
                             ELSE (50000 - b.b_cum)
                                  / CAST(b.b_k AS DOUBLE) END,
                           6) AS alloc
              FROM flagged, b)
            SELECT source, n_tokens, cap, capped, alloc,
                   round(alloc / CAST(n_tokens AS DOUBLE), 6)
                     AS epochs_used
            FROM alloced ORDER BY source
        """,
        "q132_spearman": f"""
            -- Spearman re-derived: signal build, both row_number rank
            -- windows (host tie-break), integer sum_d2, one division.
            -- Spark: operators/ranking.py::spearman_rho.
            WITH sig AS (
              SELECT source, 'h' || (doc_id % 17) AS host,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY 1, 2),
            ranked AS (
              SELECT source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_docs, host) AS rx,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_tokens, host) AS ry
              FROM sig),
            agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum((rx - ry) * (rx - ry)) AS BIGINT)
                       AS sum_d2
              FROM ranked GROUP BY source)
            SELECT source, n, sum_d2,
                   round(1.0 - (6 * sum_d2)
                         / CAST(n * n * n - n AS DOUBLE), 6) AS rho
            FROM agg ORDER BY source
        """,
        "q133_classifier_auc": """
            -- Mann-Whitney AUC re-derived: q75's score/label pair,
            -- min-rank + tie-count windows, doubled-rank integer U2,
            -- one division. Spark: operators/classifier.py::auc_exact.
            WITH s AS (
              SELECT source,
                     CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END
                       AS y,
                     round(CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[^A-Za-z]', '',
                                             'g'))
                       / CAST(length(text) AS DOUBLE)
                       ELSE 0 END, 6) AS sv
              FROM documents),
            ranked AS (
              SELECT source, y,
                     rank() OVER (PARTITION BY source ORDER BY sv)
                       AS rk,
                     count(*) OVER (PARTITION BY source, sv) AS cnt
              FROM s),
            agg AS (
              SELECT source,
                     CAST(sum(y) AS BIGINT) AS n_pos,
                     CAST(sum(1 - y) AS BIGINT) AS n_neg,
                     CAST(sum(CASE WHEN y = 1
                                   THEN 2 * rk + cnt - 1
                                   ELSE 0 END) AS BIGINT) AS sum_r2
              FROM ranked GROUP BY source)
            SELECT source, n_pos, n_neg,
                   CAST(sum_r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
                   round((sum_r2 - n_pos * (n_pos + 1))
                         / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
                     AS auc
            FROM agg ORDER BY source
        """,
        "q134_gini": f"""
            -- Gini re-derived: ascending rank window (doc_id
            -- tie-break), integer Si*xi, the closed formula, one
            -- division. Spark: operators/hostquality.py::
            -- gini_coefficient.
            WITH v AS (
              SELECT source, doc_id,
                     CAST(len({_TOKENS}) AS BIGINT) AS x
              FROM documents),
            ranked AS (
              SELECT source, x,
                     row_number() OVER (PARTITION BY source
                       ORDER BY x, doc_id) AS i
              FROM v),
            agg AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS total,
                     CAST(sum(i * x) AS BIGINT) AS iw
              FROM ranked GROUP BY source)
            SELECT source, n, total,
                   round((2 * iw - (n + 1) * total)
                         / CAST(n * total AS DOUBLE), 6) AS gini
            FROM agg ORDER BY source
        """,
        "q135_politeness_audit": """
            -- Compliance audit re-derived: per-host lag window on
            -- (epoch_us, event_id), delay left-join with 0 default,
            -- strict gap < delay*1e6 gate, per-host rollup. Spark:
            -- operators/sessions.py::politeness_audit.
            WITH f AS (
              SELECT 'h' || (user_id % 11) AS host,
                     epoch_us(ts) AS us, event_id
              FROM events WHERE ts IS NOT NULL),
            d AS (
              SELECT DISTINCT 'h' || (user_id % 11) AS host,
                     CAST(((user_id % 11) * 7) % 4 AS DOUBLE) / 2
                       AS crawl_delay_s
              FROM events WHERE (user_id % 11) % 5 <> 2),
            g AS (
              SELECT host,
                     us - lag(us) OVER (PARTITION BY host
                       ORDER BY us, event_id) AS gap
              FROM f),
            j AS (
              SELECT g.host, g.gap,
                     coalesce(d.crawl_delay_s, 0.0) AS crawl_delay_s
              FROM g LEFT JOIN d USING (host))
            SELECT host, crawl_delay_s,
                   CAST(count(*) AS BIGINT) AS n_fetches,
                   CAST(count(gap) AS BIGINT) AS n_gaps,
                   CAST(sum(CASE WHEN gap < CAST(round(
                                 crawl_delay_s * 1000000) AS BIGINT)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_violations,
                   CAST(min(gap) AS BIGINT) AS min_gap_us,
                   round(sum(CASE WHEN gap < CAST(round(
                                 crawl_delay_s * 1000000) AS BIGINT)
                                  THEN 1 ELSE 0 END)
                         / CAST(count(gap) AS DOUBLE), 6)
                     AS violation_rate
            FROM j GROUP BY host, crawl_delay_s ORDER BY host
        """,
        "q136_assortativity": f"""
            -- Assortativity re-derived on the shared graph twin:
            -- self-loop/dup hygiene, out/in degrees, five HUGEINT
            -- moments, r = (m*Sxy - Sx*Sy)/(sqrt*sqrt). Spark:
            -- operators/linkgraph.py::degree_assortativity.
            WITH raw AS ({_HOSTGRAPH_RAW_SQL}),
            e AS (
              SELECT DISTINCT src AS s, dst AS d FROM raw
              WHERE src <> dst),
            od AS (SELECT s, count(*) AS x FROM e GROUP BY s),
            idg AS (SELECT d, count(*) AS y FROM e GROUP BY d),
            p AS (
              SELECT od.x, idg.y
              FROM e JOIN od USING (s) JOIN idg USING (d)),
            a AS (
              SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx,
                     sum(y * y) AS syy
              FROM p)
            SELECT CAST(m AS BIGINT) AS m, CAST(sxy AS BIGINT) AS sxy,
                   round((m * sxy - sx * sy)
                         / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(m * syy - sy * sy AS DOUBLE))),
                         6) AS r
            FROM a
        """,
        "q137_partition_skew": """
            -- md5 % 32 buckets (power-of-2: unsigned % == Spark's
            -- signed pmod), range(32) densify, unique combined-score
            -- hot bucket, max/avg skew. NULL keys hash via the same
            -- '<NULL-KEY>' sentinel the Spark operator coalesces to
            -- (synth sources are NULL-free, but the parity must cover
            -- the path). Spark: operators/layout.py::
            -- partition_skew_audit.
            SELECT * FROM (
              WITH b AS (
                SELECT CAST(md5_number_lower(coalesce(
                         CAST(source AS VARCHAR), '<NULL-KEY>')) % 32
                       AS BIGINT) AS bucket
                FROM documents),
              dense AS (
                SELECT t.r AS bucket, count(b.bucket) AS n
                FROM range(32) t(r) LEFT JOIN b ON b.bucket = t.r
                GROUP BY t.r)
              SELECT 'by_source' AS key, CAST(32 AS BIGINT) AS n_partitions,
                     CAST(sum(n) AS BIGINT) AS total_rows,
                     CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_empty,
                     CAST(max(n) AS BIGINT) AS max_rows,
                     CAST(arg_max(bucket, n * 32 + (31 - bucket))
                       AS BIGINT) AS hot_bucket,
                     round(max(n) * 32 / CAST(sum(n) AS DOUBLE), 6)
                       AS skew
              FROM dense
            )
            UNION ALL
            SELECT * FROM (
              WITH b AS (
                SELECT CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 32
                       AS BIGINT) AS bucket
                FROM documents),
              dense AS (
                SELECT t.r AS bucket, count(b.bucket) AS n
                FROM range(32) t(r) LEFT JOIN b ON b.bucket = t.r
                GROUP BY t.r)
              SELECT 'by_doc_id' AS key, CAST(32 AS BIGINT) AS n_partitions,
                     CAST(sum(n) AS BIGINT) AS total_rows,
                     CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_empty,
                     CAST(max(n) AS BIGINT) AS max_rows,
                     CAST(arg_max(bucket, n * 32 + (31 - bucket))
                       AS BIGINT) AS hot_bucket,
                     round(max(n) * 32 / CAST(sum(n) AS DOUBLE), 6)
                       AS skew
              FROM dense
            )
            ORDER BY key
        """,
        "q138_keep_rate_chi2": """
            -- 2x2 chi-square re-derived: both sides' keep counts
            -- (old corpus vs q54-mutated re-crawl), HUGEINT rational
            -- N*(ad-bc)^2 / margins, one division, 3.841 line on the
            -- rounded value. Spark: operators/snapshots.py::
            -- keep_rate_chi2.
            WITH o AS (
              SELECT source,
                     CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END
                       AS kp
              FROM documents),
            n AS (
              SELECT source,
                     CASE WHEN length(CASE WHEN doc_id % 7 = 0
                            THEN text || ' updated' ELSE text END)
                          >= 300 THEN 1 ELSE 0 END AS kp
              FROM documents WHERE doc_id % 11 <> 0),
            so AS (
              SELECT source, CAST(sum(kp) AS HUGEINT) AS a,
                     CAST(sum(1 - kp) AS HUGEINT) AS b
              FROM o GROUP BY source),
            sn AS (
              SELECT source, CAST(sum(kp) AS HUGEINT) AS c,
                     CAST(sum(1 - kp) AS HUGEINT) AS d
              FROM n GROUP BY source),
            j AS (
              SELECT coalesce(so.source, sn.source) AS source,
                     coalesce(a, 0) AS a, coalesce(b, 0) AS b,
                     coalesce(c, 0) AS c, coalesce(d, 0) AS d
              FROM so FULL OUTER JOIN sn ON so.source = sn.source),
            x AS (
              SELECT source,
                     CAST(a + b AS BIGINT) AS n_old,
                     CAST(c + d AS BIGINT) AS n_new,
                     CAST(a AS BIGINT) AS keep_old,
                     CAST(c AS BIGINT) AS keep_new,
                     round(CAST((a + b + c + d)
                                * (a * d - b * c) * (a * d - b * c)
                            AS DOUBLE)
                           / CAST((a + b) * (c + d) * (a + c) * (b + d)
                             AS DOUBLE), 6) AS chi2
              FROM j)
            SELECT source, n_old, n_new, keep_old, keep_new, chi2,
                   chi2 >= 3.841 AS significant_95
            FROM x ORDER BY source
        """,
        "q139_apportion": f"""
            -- Hamilton apportionment re-derived: integer div base,
            -- exact remainder, (rem, source) seat rank, leftover
            -- scalar. Spark: operators/sharding.py::apportion_budget.
            WITH counts AS (
              SELECT source,
                     CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source),
            tot AS (SELECT sum(n_tokens) AS N FROM counts),
            c AS (
              SELECT source, n_tokens,
                     (1000003 * n_tokens) // N AS base,
                     1000003 * n_tokens
                       - ((1000003 * n_tokens) // N) * N AS rem
              FROM counts, tot),
            lo AS (SELECT 1000003 - sum(base) AS k FROM c),
            ranked AS (
              SELECT c.*,
                     row_number() OVER (ORDER BY rem DESC, source)
                       AS rk
              FROM c)
            SELECT source, n_tokens, CAST(base AS BIGINT) AS base,
                   CAST(CASE WHEN rk <= k THEN 1 ELSE 0 END AS INT)
                     AS extra,
                   CAST(base + CASE WHEN rk <= k THEN 1 ELSE 0 END
                     AS BIGINT) AS alloc
            FROM ranked, lo ORDER BY source
        """,
        "q140_capture_recapture": """
            -- Capture-recapture re-derived: both samples, distinct
            -- overlap, Chapman and Lincoln-Petersen one-division
            -- estimators. Spark: operators/snapshots.py::
            -- capture_recapture.
            WITH a AS (
              SELECT DISTINCT source AS g, doc_id AS k
              FROM documents WHERE doc_id % 3 <> 0),
            b AS (
              SELECT DISTINCT source AS g, doc_id AS k
              FROM documents WHERE doc_id % 2 = 0),
            n1 AS (SELECT g, CAST(count(*) AS BIGINT) AS n1
                   FROM a GROUP BY g),
            n2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n2
                   FROM b GROUP BY g),
            m AS (
              SELECT a.g, CAST(count(*) AS BIGINT) AS m
              FROM a JOIN b ON a.g = b.g AND a.k = b.k
              GROUP BY a.g),
            j AS (
              SELECT coalesce(n1.g, n2.g) AS source,
                     coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
                     coalesce(m.m, 0) AS m
              FROM n1 FULL OUTER JOIN n2 ON n1.g = n2.g
              LEFT JOIN m ON m.g = coalesce(n1.g, n2.g))
            SELECT source, n1, n2, m AS overlap,
                   round((n1 + 1) * (n2 + 1)
                         / CAST(m + 1 AS DOUBLE) - 1.0, 6) AS chapman,
                   round(CASE WHEN m = 0 THEN NULL
                         ELSE n1 * n2 / CAST(m AS DOUBLE) END, 6)
                     AS lincoln
            FROM j ORDER BY source
        """,
        "q141_chao1": f"""
            -- Chao1 + Good-Turing coverage re-derived: occurrence
            -- counts, counts-of-counts tail, both one-division
            -- estimators. Spark: operators/text.py::chao1_richness.
            WITH toks AS (
              SELECT source, unnest({_TOKENS}) AS w FROM documents),
            occ AS (
              SELECT source, w, count(*) AS c
              FROM toks GROUP BY source, w),
            agg AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS v,
                     CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n2,
                     CAST(sum(c) AS BIGINT) AS n
              FROM occ GROUP BY source)
            SELECT source, v, n1, n2, n,
                   round(v + (n1 * (n1 - 1))
                         / CAST(2 * (n2 + 1) AS DOUBLE), 6) AS chao1,
                   round(1.0 - n1 / CAST(n AS DOUBLE), 6) AS coverage
            FROM agg ORDER BY source
        """,
        "q142_registrable_domain": """
            -- Full PSL algorithm re-implemented: host generator,
            -- candidate label-suffixes (exact + one-label wildcard
            -- forms), rule join, exception-beats-longest window,
            -- default rule, suffix+1 label. Spark:
            -- operators/urls.py::registrable_domain.
            WITH rules(rule) AS (VALUES
              ('com'), ('org'), ('net'), ('edu'), ('gov'), ('io'),
              ('dev'), ('uk'), ('co.uk'), ('org.uk'), ('ac.uk'),
              ('jp'), ('co.jp'), ('au'), ('com.au'), ('github.io'),
              ('*.ck'), ('!www.ck')),
            r AS (
              SELECT CASE WHEN rule LIKE '!%' THEN substring(rule, 2)
                          ELSE rule END AS form,
                     rule LIKE '!%' AS is_exc
              FROM rules),
            hraw AS (
              SELECT CASE
                WHEN doc_id % 7 = 0
                  THEN 'www.site' || (doc_id // 7) || '.co.uk'
                WHEN doc_id % 7 = 1
                  THEN 'a.b.site' || (doc_id // 7) || '.com'
                WHEN doc_id % 7 = 2
                  THEN 'user' || (doc_id // 7) || '.github.io'
                WHEN doc_id % 7 = 3
                  THEN 'x.y.site' || (doc_id // 7) || '.ck'
                WHEN doc_id % 7 = 4 THEN 'www.ck'
                WHEN doc_id % 7 = 5
                  THEN 'site' || (doc_id // 7) || '.org.uk'
                ELSE 'intranet' END AS host
              FROM documents),
            h AS (SELECT DISTINCT host FROM hraw
                  WHERE host IS NOT NULL AND host <> ''),
            lab AS (
              SELECT host, string_split(lower(host), '.') AS ls,
                     len(string_split(lower(host), '.')) AS n
              FROM h),
            cand AS (
              SELECT host, ls, n, unnest(range(1, n + 1)) AS k
              FROM lab),
            forms AS (
              SELECT host, n, k,
                     array_to_string(ls[n - k + 1 : n], '.') AS form
              FROM cand
              UNION ALL
              SELECT host, n, k,
                     '*.' || array_to_string(ls[n - k + 2 : n], '.')
              FROM cand WHERE k >= 2),
            hits AS (
              SELECT f.host, f.n, f.k, r.is_exc, f.form
              FROM forms f JOIN r USING (form)),
            best AS (
              SELECT host,
                     CASE WHEN is_exc THEN k - 1 ELSE k END AS slen
              FROM (
                SELECT *, row_number() OVER (PARTITION BY host
                  ORDER BY is_exc DESC, k DESC, form) AS rn
                FROM hits)
              WHERE rn = 1),
            fin AS (
              SELECT l.host, l.ls, l.n, coalesce(b.slen, 1) AS slen
              FROM lab l LEFT JOIN best b USING (host))
            SELECT host,
                   array_to_string(ls[n - slen + 1 : n], '.') AS suffix,
                   CASE WHEN n > slen
                        THEN array_to_string(ls[n - slen : n], '.')
                   END AS registrable
            FROM fin ORDER BY host
        """,
        "q143_rendezvous": """
            -- Rendezvous + naive-mod resharding re-derived: per-host
            -- argmax over unsigned md5 scores at W=8 and W=9 (worker
            -- tie-break), unsigned mod at both W. Spark:
            -- operators/layout.py::rendezvous_assign.
            WITH h AS (
              SELECT DISTINCT 'h' || (doc_id % 341) AS host
              FROM documents),
            w AS (SELECT unnest(range(9)) AS wid),
            scored AS (
              SELECT h.host, w.wid,
                     md5_number_lower('w:' || w.wid || ':' || h.host)
                       AS s
              FROM h, w),
            r8 AS (
              SELECT host, wid AS rdv8 FROM (
                SELECT host, wid, row_number() OVER (
                  PARTITION BY host ORDER BY s DESC, wid) AS rn
                FROM scored WHERE wid < 8)
              WHERE rn = 1),
            r9 AS (
              SELECT host, wid AS rdv9 FROM (
                SELECT host, wid, row_number() OVER (
                  PARTITION BY host ORDER BY s DESC, wid) AS rn
                FROM scored)
              WHERE rn = 1),
            naive AS (
              SELECT host,
                     CAST(md5_number_lower(host) % 8 AS INT) AS mod8,
                     CAST(md5_number_lower(host) % 9 AS INT) AS mod9
              FROM h)
            SELECT h.host,
                   CAST(rdv8 AS INT) AS rdv8, CAST(rdv9 AS INT) AS rdv9,
                   rdv8 <> rdv9 AS rdv_moved,
                   mod8, mod9, mod8 <> mod9 AS mod_moved
            FROM h JOIN r8 USING (host) JOIN r9 USING (host)
            JOIN naive USING (host)
            ORDER BY host
        """,
        "q144_benford": """
            -- Benford audit re-derived: integer leading digit, digit
            -- densify, shares, log10(1+1/d) literals, rounded
            -- deviations, group MAD. Spark: operators/anomaly.py::
            -- benford_audit.
            WITH base AS (
              SELECT source,
                     CAST(substring(CAST(CAST(length(text) AS BIGINT)
                       AS VARCHAR), 1, 1) AS INT) AS digit
              FROM documents
              WHERE length(text) > 0),
            counts AS (
              SELECT source, digit, count(*) AS c
              FROM base GROUP BY source, digit),
            dense AS (
              SELECT g.source, d.digit,
                     CAST(coalesce(c.c, 0) AS BIGINT) AS n
              FROM (SELECT DISTINCT source FROM base) g
              CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
              LEFT JOIN counts c
                ON c.source = g.source AND c.digit = d.digit),
            scored AS (
              SELECT source, digit, n,
                     round(n / CAST(sum(n) OVER (PARTITION BY source)
                       AS DOUBLE), 6) AS share,
                     round(CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129 WHEN 9 THEN 0.04575749056067514 END, 6) AS expected
              FROM dense),
            dv AS (
              SELECT *, round(abs(share - expected), 6) AS dev
              FROM scored)
            SELECT source, CAST(digit AS INT) AS digit, n, share,
                   expected, dev,
                   round(avg(dev) OVER (PARTITION BY source), 6) AS mad
            FROM dv ORDER BY source, digit
        """,
        "q145_burstiness": """
            -- Burstiness re-derived: per-host lag gaps in epoch_us,
            -- HUGEINT moments, sample-variance identity, B formula.
            -- Spark: operators/anomaly.py::burstiness.
            WITH f AS (
              SELECT 'h' || (user_id % 11) AS g,
                     epoch_us(ts) AS us, event_id
              FROM events WHERE ts IS NOT NULL),
            gaps AS (
              SELECT g,
                     us - lag(us) OVER (PARTITION BY g
                       ORDER BY us, event_id) AS gap
              FROM f),
            agg AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(gap) AS HUGEINT) AS s1,
                     CAST(sum(CAST(gap AS HUGEINT)
                              * CAST(gap AS HUGEINT)) AS HUGEINT)
                       AS s2
              FROM gaps WHERE gap IS NOT NULL GROUP BY g),
            m AS (
              SELECT g, n,
                     s1 / CAST(n AS DOUBLE) AS mu,
                     CASE WHEN n > 1 THEN
                       sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                            / CAST(n * (n - 1) AS DOUBLE))
                     END AS sig
              FROM agg)
            SELECT g AS host, n AS n_gaps,
                   round(mu, 6) AS mean_gap_us,
                   round(CASE WHEN sig IS NULL OR sig + mu = 0
                         THEN NULL
                         ELSE (sig - mu) / (sig + mu) END, 6) AS b
            FROM m ORDER BY host
        """,
        "q146_vocab_growth": f"""
            -- Heaps curve re-derived: distinct-token min(order) first
            -- occurrence, conditional counts per checkpoint, ttr.
            -- Spark: operators/text.py::vocab_growth.
            WITH toks AS (
              SELECT doc_id AS o,
                     unnest(list_distinct({_TOKENS})) AS w
              FROM documents),
            first AS (SELECT w, min(o) AS fo FROM toks GROUP BY w),
            cp AS (SELECT unnest([100, 200, 300, 400, 500])
                     AS checkpoint),
            v AS (
              SELECT cp.checkpoint,
                     CAST(sum(CASE WHEN f.fo <= cp.checkpoint
                              THEN 1 ELSE 0 END) AS BIGINT) AS vocab
              FROM cp, first f GROUP BY cp.checkpoint),
            d AS (
              SELECT cp.checkpoint,
                     CAST(sum(CASE WHEN doc_id <= cp.checkpoint
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                     CAST(sum(CASE WHEN doc_id <= cp.checkpoint
                              THEN len({_TOKENS}) ELSE 0 END)
                       AS BIGINT) AS n_tokens
              FROM cp, documents GROUP BY cp.checkpoint)
            SELECT checkpoint, n_docs, n_tokens, vocab,
                   round(CASE WHEN n_tokens = 0 THEN NULL
                         ELSE vocab / CAST(n_tokens AS DOUBLE) END, 6)
                     AS ttr
            FROM v JOIN d USING (checkpoint)
            ORDER BY checkpoint
        """,
        "q113_readability": f"""
            WITH base AS (
              SELECT doc_id, {_TOKENS} AS ws,
                     greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS sents
              FROM documents),
            counts AS (
              SELECT doc_id,
                     CAST(len(ws) AS BIGINT) AS n_words,
                     CAST(sents AS BIGINT) AS n_sentences,
                     CAST(list_sum(list_transform(ws,
                       w -> greatest(1,
                         len(regexp_extract_all(w, '[aeiouy]+')))))
                       AS BIGINT) AS n_syllables
              FROM base WHERE len(ws) > 0)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   round(206.835
                         - 1.015 * (n_words * 1.0 / n_sentences)
                         - 84.6 * (n_syllables * 1.0 / n_words), 6)
                     AS flesch,
                   round(0.39 * (n_words * 1.0 / n_sentences)
                         + 11.8 * (n_syllables * 1.0 / n_words)
                         - 15.59, 6) AS fk_grade
            FROM counts ORDER BY doc_id
        """,
        "q114_grid_quantiles": """
            -- The definition the two-level decomposition must equal:
            -- plain per-group global-window cumsum over the cent
            -- grid, smallest cell with cum >= ceil(n*num/den).
            WITH vals AS (
              SELECT l_returnflag AS grp,
                     CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100)
                       AS BIGINT) AS cell
              FROM lineitem WHERE l_extendedprice IS NOT NULL),
            hist AS (
              SELECT grp, cell, count(*) AS c
              FROM vals GROUP BY grp, cell),
            cum AS (
              SELECT grp, cell,
                     sum(c) OVER (PARTITION BY grp ORDER BY cell) AS cum
              FROM hist),
            n AS (SELECT grp, max(cum) AS n FROM cum GROUP BY grp),
            fr(q_num, q_den) AS (
              VALUES (1, 4), (1, 2), (3, 4), (9, 10)),
            t AS (
              SELECT grp, q_num, q_den,
                     CAST(ceil(n * q_num / CAST(q_den AS DOUBLE))
                       AS BIGINT) AS pos
              FROM n CROSS JOIN fr)
            SELECT t.grp AS l_returnflag,
                   t.q_num, t.q_den,
                   min(cum.cell) / 100.0 AS value
            FROM t JOIN cum ON cum.grp = t.grp AND cum.cum >= t.pos
            GROUP BY t.grp, t.q_num, t.q_den
            ORDER BY l_returnflag, q_den, q_num
        """,
        "q115_sequence_pack": f"""
            -- Ground truth for sequence_pack: plain global-window
            -- cumsum over the md5 order, then one row per sequence
            -- window a doc's token span [start, cum) intersects.
            WITH d AS (
              SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                     md5('s:' || CAST(doc_id AS VARCHAR)) AS k
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM d WHERE n_tokens > 0),
            seg AS (
              SELECT doc_id, cum, cum - n_tokens AS strt,
                     unnest(range(
                       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT),
                       CAST(floor((cum - 1) / 512.0) AS BIGINT) + 1))
                       AS seq_id
              FROM c)
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(greatest(strt, seq_id * 512) - strt AS BIGINT)
                     AS seg_start_in_doc,
                   CAST(greatest(strt, seq_id * 512) - seq_id * 512
                     AS BIGINT) AS seg_start_in_seq,
                   CAST(least(cum, seq_id * 512 + 512)
                     - greatest(strt, seq_id * 512) AS BIGINT) AS seg_len
            FROM seg
            ORDER BY seq_id, seg_start_in_seq
        """,
        "q116_edit_join": """
            -- Naive all-pairs ground truth: every pair within
            -- levenshtein 1, no candidate scheme — proving FastSS
            -- deletion neighborhoods are complete AND precise.
            WITH w AS (
              SELECT DISTINCT
                'node' || CAST(o_orderkey // 4 AS VARCHAR) ||
                CASE o_orderkey % 4
                  WHEN 0 THEN 'cfg' WHEN 1 THEN 'cfq'
                  WHEN 2 THEN 'cfgx' ELSE 'zzz' END AS word
              FROM orders WHERE o_orderkey < 4000)
            SELECT a.word AS word_a, b.word AS word_b,
                   CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
            FROM w a JOIN w b ON a.word < b.word
            WHERE levenshtein(a.word, b.word) <= 1
            ORDER BY word_a, word_b
        """,
        "q117_zorder_layout": _zorder_oracle(),
        "q118_opic": _opic_oracle(),
        "q120_bpe_fertility": _bpe_fertility_oracle(),
        "q122_seed_cover": _seed_cover_oracle(),
        "q124_textrank": _textrank_oracle(),
        "q125_ema_revisit": _ema_oracle(),
        "q127_ks_drift": r"""
            -- Both empirical CDFs on the merged distinct-value grid;
            -- the KS sup as the exact integer rational
            -- max|cum_o*m - cum_n*n| / (n*m).
            WITH tokc AS (
              SELECT doc_id, source,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                       AS v0,
                     CAST(len(regexp_extract_all(
                       CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                            ELSE text END,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                       AS v1
              FROM documents),
            o AS (SELECT source AS g, CAST(v0 AS DOUBLE) AS v,
                         count(*) AS c_o
                  FROM tokc GROUP BY 1, 2),
            n AS (SELECT source AS g, CAST(v1 AS DOUBLE) AS v,
                         count(*) AS c_n
                  FROM tokc WHERE doc_id % 11 <> 0 GROUP BY 1, 2),
            j AS (SELECT g, v, coalesce(c_o, 0) AS c_o,
                         coalesce(c_n, 0) AS c_n
                  FROM o FULL OUTER JOIN n USING (g, v)),
            c AS (SELECT g, v,
                         sum(c_o) OVER (PARTITION BY g ORDER BY v)
                           AS cum_o,
                         sum(c_n) OVER (PARTITION BY g ORDER BY v)
                           AS cum_n,
                         sum(c_o) OVER (PARTITION BY g) AS nn,
                         sum(c_n) OVER (PARTITION BY g) AS mm
                  FROM j)
            SELECT g AS source,
                   CAST(max(nn) AS BIGINT) AS n_old,
                   CAST(max(mm) AS BIGINT) AS n_new,
                   CAST(max(abs(cum_o * mm - cum_n * nn)) AS BIGINT)
                     AS ks_num,
                   CAST(max(nn) * max(mm) AS BIGINT) AS ks_den,
                   round(max(abs(cum_o * mm - cum_n * nn))
                         / (max(nn) * max(mm)), 6) AS ks
            FROM c GROUP BY g ORDER BY source
        """,
        "q126_skyline": r"""
            -- NAIVE dominance definition: a row is on the skyline iff
            -- no other row is >= on both axes and > on one.
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN length(text) > 0
                       THEN round(length(regexp_replace(text,
                              '[^A-Za-z]', '', 'g'))
                            / CAST(length(text) AS DOUBLE), 6)
                       ELSE 0.0 END AS alpha,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE)
                       AS toks
              FROM documents)
            SELECT a.doc_id, a.alpha, a.toks
            FROM d a
            WHERE NOT EXISTS (
              SELECT 1 FROM d b
              WHERE b.alpha >= a.alpha AND b.toks >= a.toks
                AND (b.alpha > a.alpha OR b.toks > a.toks))
            ORDER BY doc_id
        """,
        "q123_path_rollup": """
            -- Same corpus formulas, host twin of urls.host_of, path
            -- segment split, ancestor-depth explode, (host, prefix)
            -- rollup with distinct immediate children.
            WITH u AS (
              SELECT 'https://h' || (doc_id % 17) || '.example.com/cat'
                     || (doc_id % 5) || '/sub' || (doc_id % 3)
                     || '/p' || doc_id AS url
              FROM documents),
            d AS (
              SELECT lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)',
                       1), ':[0-9]+$', '')) AS host,
                     list_filter(string_split(regexp_replace(
                       regexp_replace(url,
                         '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                       '[?#].*$', ''), '/'), s -> s <> '') AS segs
              FROM u),
            lev AS (SELECT host, segs,
                           unnest(range(0, len(segs))) AS dep
                    FROM d WHERE len(segs) > 0)
            SELECT host,
                   '/' || coalesce(
                     array_to_string(segs[1:CAST(dep AS INT)], '/'), '')
                     AS prefix,
                   CAST(dep AS INT) AS depth,
                   count(*) AS n_pages,
                   CAST(count(DISTINCT segs[CAST(dep + 1 AS INT)])
                     AS BIGINT) AS n_children
            FROM lev GROUP BY host, prefix, dep
            ORDER BY host, prefix
        """,
        "q121_cusum_bursts": """
            -- Verbatim window twin of cusum_bursts: global time
            -- range, 16 equal-width buckets, zero-densified grid,
            -- mu = total/16, P_t cumsum, running-min prefix identity.
            WITH d AS (
              SELECT event_type AS g, CAST(epoch_us(ts) AS DOUBLE) AS x
              FROM events
              WHERE ts IS NOT NULL AND event_type IS NOT NULL),
            r AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
            binned AS (
              SELECT g, least(greatest(CAST(coalesce(
                       floor((x - lo) * 16.0 / nullif(hi - lo, 0)), 0)
                       AS BIGINT), 0), 15) AS b
              FROM d, r),
            cnt AS (SELECT g, b, count(*) AS n FROM binned GROUP BY g, b),
            grid AS (SELECT g, r AS b
                     FROM (SELECT DISTINCT g FROM cnt), range(16) t(r)),
            dense AS (
              SELECT grid.g, grid.b, CAST(coalesce(n, 0) AS BIGINT) AS n
              FROM grid LEFT JOIN cnt
                ON grid.g = cnt.g AND grid.b = cnt.b),
            m AS (SELECT g, b, n,
                         sum(n) OVER (PARTITION BY g) / 16.0 AS mu
                  FROM dense),
            p AS (SELECT g, b, n, mu,
                         sum(n - mu - 0.25 * mu)
                           OVER (PARTITION BY g ORDER BY b) AS p
                  FROM m),
            s AS (SELECT g, b, n, mu,
                         p - least(min(p) OVER (PARTITION BY g ORDER BY b),
                                   0.0) AS s
                  FROM p)
            SELECT g AS event_type, CAST(b AS BIGINT) AS bucket,
                   n AS n_events, round(s, 6) AS cusum,
                   CASE WHEN s > 2.0 * mu THEN 1 ELSE 0 END AS alarm
            FROM s ORDER BY event_type, bucket
        """,
        "q119_js_drift": f"""
            -- Snapshot generators (q54's formulas), per-host unigram
            -- distributions, full-outer (host, word) join, JS in bits.
            WITH oldd AS (
              SELECT 'h' || (doc_id % 17) || '.example.com' AS g, text
              FROM documents),
            newd AS (
              SELECT 'h' || (doc_id % 17) || '.example.com' AS g,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT 'h' || ((doc_id + 10000) % 17) || '.example.com',
                     text
              FROM documents WHERE doc_id % 13 = 0),
            co AS (SELECT g, w, count(*) AS c FROM (
                     SELECT g, unnest({_TOKENS}) AS w FROM oldd)
                   GROUP BY g, w),
            cn AS (SELECT g, w, count(*) AS c FROM (
                     SELECT g, unnest({_TOKENS}) AS w FROM newd)
                   GROUP BY g, w),
            pold AS (SELECT g, w, c / t AS p FROM co
                     JOIN (SELECT g, sum(c) AS t FROM co GROUP BY g)
                       USING (g)),
            pnew AS (SELECT g, w, c / t AS q FROM cn
                     JOIN (SELECT g, sum(c) AS t FROM cn GROUP BY g)
                       USING (g)),
            j AS (SELECT g, w, coalesce(p, 0.0) AS p,
                         coalesce(q, 0.0) AS q
                  FROM pold FULL OUTER JOIN pnew USING (g, w))
            SELECT g AS host,
                   round(0.5 * sum(
                     CASE WHEN p > 0
                       THEN p * log2(2.0 * p / (p + q)) ELSE 0.0 END
                     + CASE WHEN q > 0
                       THEN q * log2(2.0 * q / (p + q)) ELSE 0.0 END),
                     6) AS js_bits,
                   CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS vocab_old,
                   CAST(sum(CASE WHEN q > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS vocab_new,
                   CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS vocab_common
            FROM j GROUP BY g ORDER BY host
        """,
        "q165_mirror_hosts": """
            WITH corpus AS (
              SELECT 'm' || CAST(o_orderkey % 8 AS VARCHAR)
                       || '.example' AS host,
                     '/doc/' || CAST((o_orderkey // 8) % 400 AS VARCHAR)
                       AS path,
                     md5('c:' || CAST(
                       (o_orderkey // 8) % 400
                       + 1000 * ((o_orderkey % 8) // 2)
                       + CASE WHEN (o_orderkey % 8) % 2 = 1
                               AND ((o_orderkey // 8) % 400) % 5 = 0
                              THEN 77777 ELSE 0 END AS VARCHAR)) AS fp
              FROM orders
              UNION ALL
              SELECT 'm' || CAST(r AS VARCHAR) || '.example',
                     '/shared/notice', md5('c:universal')
              FROM range(8) t(r)
            ),
            triples AS (SELECT DISTINCT host, path, fp FROM corpus),
            cells AS (SELECT path, fp, count(*) AS dfh
                      FROM triples GROUP BY path, fp),
            kept AS (SELECT t.host, t.path, t.fp FROM triples t
                     JOIN cells c ON t.path = c.path AND t.fp = c.fp
                     WHERE c.dfh <= 6),
            sizes AS (SELECT host, count(*) AS n FROM kept GROUP BY host),
            pairs AS (SELECT a.host AS host_a, b.host AS host_b,
                             count(*) AS shared
                      FROM kept a JOIN kept b
                        ON a.path = b.path AND a.fp = b.fp
                           AND a.host < b.host
                      GROUP BY a.host, b.host)
            SELECT p.host_a, p.host_b, p.shared,
                   sa.n AS n_a, sb.n AS n_b,
                   (p.shared * 1000000) // least(sa.n, sb.n)
                     AS score_micro,
                   CAST(CASE WHEN p.shared >= 5
                         AND (p.shared * 1000000) // least(sa.n, sb.n)
                             >= 500000
                        THEN 1 ELSE 0 END AS INT) AS is_mirror
            FROM pairs p
            JOIN sizes sa ON p.host_a = sa.host
            JOIN sizes sb ON p.host_b = sb.host
            ORDER BY p.host_a, p.host_b
        """,
        "q183_image_dhash": _image_dhash_oracle(),
        "q184_audio_fp": _audio_fp_oracle(),
        "q185_video_framedup": _video_framedup_oracle(),
        "q186_theta_snapshots": _theta_snapshots_oracle(),
        "q187_cuckoo_revisit": _cuckoo_revisit_oracle(),
        "q188_record_linkage": _record_linkage_oracle(),
        "q189_blocklist": _blocklist_oracle(),
        "q190_bitext_mining": _bitext_oracle(),
        "q191_k_anonymity": _k_anonymity_oracle(),
        "q192_range_partitioner": _range_partitioner_oracle(),
        "q193_incremental_pagerank": _incremental_pagerank_oracle(),
        "q194_hard_negatives": _hard_negatives_oracle(),
        "q195_oph_minhash": _oph_minhash_oracle(),
        "q196_waterfill": _waterfill_oracle(),
        "q197_texttiling": _texttiling_oracle(),
        "q198_hilbert_layout": _hilbert_oracle(),
        "q199_aimd_rates": _aimd_oracle(),
        "q200_fuzzy_decontaminate": _fuzzy_decontaminate_oracle(),
        "q201_min_k_prob": _min_k_prob_oracle(),
        "q202_average_precision": _ap_oracle(),
        "q203_cdc_reuse": _cdc_reuse_oracle(),
        "q204_eb_shrinkage": _eb_shrinkage_oracle(),
        "q205_bootstrap_ci": _bootstrap_ci_oracle(),
        "q206_sitemap_coverage": _sitemap_coverage_oracle(),
        "q207_hreflang_reciprocity": _hreflang_oracle(),
        "q208_status_transitions": _status_transitions_oracle(),
        "q209_path_entropy": _path_entropy_oracle(),
        "q211_semantic_incremental_pq": f"""
            -- PQ-payload cross-round SemDeDup equivalence over the
            -- frozen q35 IVF map + q86 PQ codebooks/codes: same-round
            -- pairs cut at exact round-6 cosine >= 0.35; cross-round
            -- pairs additionally gated by the LATER-round doc's ADC
            -- cosine (dot of its exact vector with the earlier doc's
            -- codebook reconstruction, over the reconstruction norm)
            -- at >= 0.25 (threshold - slack).  The 3-round
            -- incremental union must equal this exactly — screen
            -- reproduced, not bounded.  Spark: operators/
            -- incremental.py::semantic_ingest_round_pq.
            WITH a AS (
              SELECT vec_id, bucket AS cluster
              FROM read_parquet('{_fixture("q35_ivf_assign.parquet")}')
              WHERE bucket >= 0),
            cb AS (
              SELECT sub, cid, centroid,
                     list_sum(list_transform(centroid, c -> c * c))
                       AS nsq
              FROM read_parquet('{_fixture("q86_pq_codebooks.parquet")}')),
            j AS (
              SELECT a.vec_id AS id, a.cluster,
                     CAST(a.vec_id % 3 AS INT) AS rnd,
                     list_transform(e.embedding,
                                    x -> CAST(x AS DOUBLE)) AS v,
                     c.codes
              FROM a
              JOIN embeddings e ON a.vec_id = e.vec_id
              JOIN read_parquet('{_fixture("q86_pq_codes.parquet")}') c
                ON a.vec_id = c.vec_id),
            pairs AS (
              SELECT x.id AS id_a, y.id AS id_b,
                     CAST(x.cluster AS INTEGER) AS cluster,
                     x.rnd AS ra, y.rnd AS rb,
                     CASE WHEN x.rnd >= y.rnd THEN x.v ELSE y.v END
                       AS vn,
                     sqrt(list_sum(list_transform(
                       CASE WHEN x.rnd >= y.rnd THEN x.v ELSE y.v END,
                       q -> q*q))) AS vnorm,
                     CASE WHEN x.rnd >= y.rnd THEN y.codes
                          ELSE x.codes END AS co,
                round(
                  list_sum(list_transform(range(1, len(x.v) + 1),
                                          i -> x.v[i] * y.v[i]))
                  / (sqrt(list_sum(list_transform(x.v, q -> q*q)))
                     * sqrt(list_sum(list_transform(y.v, q -> q*q)))),
                6) AS sim
              FROM j x JOIN j y
                ON x.cluster = y.cluster AND x.id < y.id),
            kept_same AS (
              SELECT id_a, id_b, cluster, sim FROM pairs
              WHERE ra = rb AND NOT isnan(sim) AND sim >= 0.35),
            cross_sub AS (
              SELECT p.id_a, p.id_b, p.cluster, p.sim, p.vnorm,
                     list_sum(list_transform(range(1, 9),
                       i -> p.vn[CAST((t.s) * 8 + i AS INT)]
                            * cb.centroid[CAST(i AS INT)])) AS dsub,
                     cb.nsq
              FROM pairs p, UNNEST(range(0, 8)) AS t(s)
              JOIN cb ON cb.sub = t.s
                     AND cb.cid = p.co[CAST(t.s + 1 AS INT)]
              WHERE p.ra <> p.rb AND NOT isnan(p.sim)
                AND p.sim >= 0.35),
            cross_adc AS (
              SELECT id_a, id_b, cluster, sim,
                     round(sum(dsub) / (vnorm * sqrt(sum(nsq))), 6)
                       AS adc
              FROM cross_sub
              GROUP BY id_a, id_b, cluster, sim, vnorm),
            kept_cross AS (
              SELECT id_a, id_b, cluster, sim FROM cross_adc
              WHERE NOT isnan(adc) AND adc >= 0.25)
            SELECT id_a, id_b, cluster, sim FROM kept_same
            UNION ALL
            SELECT id_a, id_b, cluster, sim FROM kept_cross
            ORDER BY id_a, id_b
        """,
        "q212_revisit_sweep": f"""
            -- Revisit-sweep equivalence from the raw graph alone:
            -- seen1 = the q210 closure (first submission's fetched
            -- articles); due = its %9 subset; newr = the depth<=2
            -- closure re-seeded from due but expanding ONLY through
            -- pages NOT in seen1 -- an already-seen link target is
            -- suppressed by membership, never refetched, so its
            -- outlinks are NOT re-harvested (the model error a naive
            -- full re-closure makes).  Due pages schedule exactly
            -- twice (first crawl + sweep), every other reachable page
            -- once -- including NEW %9 pages, which were never swept.
            -- CTEs are MATERIALIZED: a recursive CTE re-scanned by a
            -- later recursive CTE otherwise re-evaluates and emits
            -- duplicate rows.  Spark: q212_revisit_sweep
            -- (run_crawl -> sweep_revisit -> run_crawl resume).
            WITH RECURSIVE g AS MATERIALIZED (
              SELECT * FROM read_parquet(
                '{_fixture("q210_crawl_graph.parquet")}')),
            reach1(page_id, depth) AS (
                SELECT page_id, 0 FROM g
                WHERE page_id % 85 = 0
                  AND host <> 'www.site19.example'
              UNION
                SELECT tgt.t, r.depth + 1
                FROM reach1 r
                JOIN g ON g.page_id = r.page_id,
                UNNEST(g.out_ids) AS tgt(t)
                JOIN g g2 ON g2.page_id = tgt.t
                WHERE r.depth < 2
                  AND g2.host <> 'www.site19.example'),
            seen1 AS MATERIALIZED (
              SELECT DISTINCT page_id FROM reach1),
            due AS MATERIALIZED (
              SELECT page_id FROM seen1 WHERE page_id % 9 = 0),
            newr(page_id, depth) AS (
                SELECT tgt.t, 1
                FROM due d JOIN g ON g.page_id = d.page_id,
                UNNEST(g.out_ids) AS tgt(t)
                JOIN g g2 ON g2.page_id = tgt.t
                WHERE g2.host <> 'www.site19.example'
                  AND tgt.t NOT IN (SELECT page_id FROM seen1)
              UNION
                SELECT tgt.t, r.depth + 1
                FROM newr r JOIN g ON g.page_id = r.page_id,
                UNNEST(g.out_ids) AS tgt(t)
                JOIN g g2 ON g2.page_id = tgt.t
                WHERE r.depth < 2
                  AND g2.host <> 'www.site19.example'
                  AND tgt.t NOT IN (SELECT page_id FROM seen1))
            SELECT page_id,
                   CAST(CASE WHEN page_id % 9 = 0 THEN 2 ELSE 1 END
                        AS BIGINT) AS n_scheduled
            FROM seen1
            UNION ALL
            SELECT page_id, CAST(1 AS BIGINT) AS n_scheduled
            FROM (SELECT DISTINCT page_id FROM newr)
            ORDER BY page_id
        """,
        "q210_crawl_dedup": f"""
            -- Crawl+dedup integration, derived with NEITHER machine:
            -- (1) recursive-CTE BFS closure over the frozen raw link
            -- graph (generator facts only) = the set a correct crawl
            -- must fetch at depth<=2 with site19 robots-disallowed;
            -- (2) the q10-proven batch MinHash-LSH derivation over
            -- the closure's texts = the pairs the per-round
            -- incremental union must reproduce.  Spark:
            -- q210_crawl_dedup (run_crawl + minhash_ingest_round).
            WITH RECURSIVE g AS (
              SELECT * FROM read_parquet(
                '{_fixture("q210_crawl_graph.parquet")}')),
            reach(page_id, depth) AS (
                SELECT page_id, 0 FROM g
                WHERE page_id % 85 = 0
                  AND host <> 'www.site19.example'
              UNION
                SELECT tgt.t, r.depth + 1
                FROM reach r
                JOIN g ON g.page_id = r.page_id,
                UNNEST(g.out_ids) AS tgt(t)
                JOIN g g2 ON g2.page_id = tgt.t
                WHERE r.depth < 2
                  AND g2.host <> 'www.site19.example'),
            fetched AS (SELECT DISTINCT page_id FROM reach),
            sel AS (
              SELECT g.page_id AS doc_id, g.text
              FROM g JOIN fetched USING (page_id)),
            base AS (
              SELECT doc_id AS id, {_SHINGLES3} AS sh
              FROM (SELECT doc_id, text, {_TOKENS} AS tok FROM sel)),
            sig AS (
              SELECT id,
                     list_transform(range(0, 16),
                       h -> CAST(list_min(list_transform(sh,
                         s -> (CAST(md5_number_lower(s) AS HUGEINT)
                               + h * CAST(md5_number_upper(s) AS HUGEINT))
                              % 18446744073709551616)) AS VARCHAR)) AS sg
              FROM base),
            banded AS (
              SELECT id, unnest(list_transform(range(0, 4),
                b -> md5(b || '|' || sg[b*4+1] || '|' || sg[b*4+2] || '|' ||
                         sg[b*4+3] || '|' || sg[b*4+4]))) AS bucket
              FROM sig)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared_bands
            FROM banded a JOIN banded b
              ON a.bucket = b.bucket AND a.id < b.id
            GROUP BY 1, 2
            UNION ALL
            SELECT doc_id AS id_a, doc_id AS id_b,
                   CAST(0 AS BIGINT) AS n_shared_bands
            FROM sel
        """,
        "q181_ring_churn": """
            -- Consistent ring re-derived: vnode positions
            -- md5_number_lower('ring:shard#i') % 2^53, key position
            -- likewise, first-clockwise-vnode (wrap to ring min) via
            -- conditional mins + join-back, churn vs the 5-shard
            -- ring. Spark: operators/layout.py::ring_assign.
            WITH hosts AS (
              SELECT DISTINCT 'h' || CAST(doc_id % 97 AS VARCHAR)
                       AS host
              FROM documents),
            keyed AS (
              SELECT host,
                     CAST(md5_number_lower('ring:' || host)
                          % 9007199254740992 AS BIGINT) AS h
              FROM hosts),
            vn AS (SELECT unnest(range(16)) AS i),
            ring4 AS (
              SELECT s AS shard,
                     CAST(md5_number_lower('ring:' || s || '#'
                            || CAST(i AS VARCHAR))
                          % 9007199254740992 AS BIGINT) AS p
              FROM (VALUES ('s0'), ('s1'), ('s2'), ('s3')) t(s), vn),
            ring5 AS (
              SELECT s AS shard,
                     CAST(md5_number_lower('ring:' || s || '#'
                            || CAST(i AS VARCHAR))
                          % 9007199254740992 AS BIGINT) AS p
              FROM (VALUES ('s0'), ('s1'), ('s2'), ('s3'), ('s4'))
                   t(s), vn),
            a4 AS (
              SELECT k.host, k.h,
                     min(CASE WHEN r.p >= k.h THEN r.p END) AS mge,
                     min(r.p) AS mall
              FROM keyed k, ring4 r GROUP BY k.host, k.h),
            g4 AS (
              SELECT a.host, a.h, r.shard AS shard4
              FROM a4 a JOIN ring4 r
                ON r.p = coalesce(a.mge, a.mall)),
            a5 AS (
              SELECT k.host, k.h,
                     min(CASE WHEN r.p >= k.h THEN r.p END) AS mge,
                     min(r.p) AS mall
              FROM keyed k, ring5 r GROUP BY k.host, k.h),
            g5 AS (
              SELECT a.host, r.shard AS shard5
              FROM a5 a JOIN ring5 r
                ON r.p = coalesce(a.mge, a.mall))
            SELECT g4.host, g4.h AS ring_h, g4.shard4, g5.shard5,
                   CAST(CASE WHEN g4.shard4 <> g5.shard5
                        THEN 1 ELSE 0 END AS INT) AS moved
            FROM g4 JOIN g5 ON g4.host = g5.host
            ORDER BY g4.host
        """,
        "q179_surt": """
            -- SURT re-derived: shared host regex, dot-reversed host,
            -- lowercased trailing-slash-trimmed path, tracker-
            -- filtered sorted params. Spark: operators/urls.py::
            -- surt_key.
            WITH urls AS (
              SELECT DISTINCT
                'https://'
                || CASE WHEN (o_orderkey // 50) % 4 = 0 THEN 'www.'
                        WHEN (o_orderkey // 50) % 4 = 1 THEN 'cdn.'
                        ELSE '' END
                || 'site' || CAST((o_orderkey % 50) % 7 AS VARCHAR)
                || '.example.com'
                || CASE WHEN (o_orderkey // 50) % 4 = 3
                        THEN ':8080' ELSE '' END
                || '/Cat' || CAST(o_orderkey % 50 AS VARCHAR)
                || CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END
                || '?b=' || CAST(o_orderkey % 5 AS VARCHAR)
                || '&utm_source=x&a=1' AS url
              FROM orders),
            parts AS (
              SELECT url,
                     lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)',
                       1), ':[0-9]+$', '')) AS host,
                     regexp_replace(lower(coalesce(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                       1), '')), '/$', '') AS path,
                     list_sort(list_filter(string_split(
                       lower(coalesce(regexp_extract(url,
                         '\\?([^#]*)', 1), '')), '&'),
                       p -> p <> ''
                         AND NOT starts_with(p, 'utm_')
                         AND NOT list_contains(['gclid', 'fbclid'],
                               split_part(p, '=', 1)))) AS q
              FROM urls)
            SELECT url,
                   CASE WHEN host IS NOT NULL AND host <> '' THEN
                     array_to_string(list_reverse(
                       string_split(host, '.')), ',')
                     || ')' || path
                     || CASE WHEN len(q) > 0
                        THEN '?' || array_to_string(q, '&')
                        ELSE '' END
                   END AS surt
            FROM parts ORDER BY url
        """,
        "q178_dust_apply": """
            -- Mine (q166's CTEs) then APPLY: deletion rules strip
            -- their raw components; canon is rebuilt from the raw
            -- url (host + surviving path + sorted surviving params).
            -- Spark: operators/mirrors.py::apply_dust_rules.
            WITH corpus AS (
              SELECT CASE
                       WHEN (o_orderkey // 300) % 15 = 2
                         THEN 'https://www.shop.example/item/'
                              || CAST(o_orderkey % 300 AS VARCHAR)
                              || '?sid=' || CAST(o_orderkey AS VARCHAR)
                       WHEN (o_orderkey // 300) % 15 IN (5, 8)
                         THEN 'https://www.shop.example/item/'
                              || CAST(o_orderkey % 300 AS VARCHAR)
                              || '?ref=home'
                       ELSE 'https://www.shop.example/item/'
                            || CAST(o_orderkey % 300 AS VARCHAR)
                     END AS url,
                     md5('c:' || CAST(o_orderkey % 300 AS VARCHAR))
                       AS fp
              FROM orders
            ),
            urls AS (
              SELECT DISTINCT
                     lower(regexp_extract(url, 'https://([^/]+)', 1))
                       AS host,
                     fp, url
              FROM corpus
            ),
            gsz AS (SELECT host, fp, count(*) AS n
                    FROM urls GROUP BY host, fp),
            toked AS (
              SELECT u.host, u.fp, u.url,
                     list_sort(list_distinct(
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(u.url,
                             'https://[^/]+([^?]*)', 1), '/'),
                           x -> x <> ''),
                         x -> 'p:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                       ||
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(u.url, '\\?(.*)$', 1), '&'),
                           x -> x <> ''),
                         x -> 'q:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                     )) AS toks
              FROM urls u
              JOIN gsz g ON u.host = g.host AND u.fp = g.fp
              WHERE g.n <= 64
            ),
            pairs AS (
              SELECT coalesce(array_to_string(list_sort(list_distinct(
                       list_filter(a.toks,
                         x -> NOT list_contains(b.toks, x)))), '|'), '')
                       AS lhs,
                     coalesce(array_to_string(list_sort(list_distinct(
                       list_filter(b.toks,
                         x -> NOT list_contains(a.toks, x)))), '|'), '')
                       AS rhs,
                     a.fp AS fp
              FROM toked a JOIN toked b
                ON a.host = b.host AND a.fp = b.fp AND a.url < b.url
            ),
            agg AS (
              SELECT lhs, rhs, count(*) AS support,
                     count(DISTINCT fp) AS n_contents
              FROM pairs WHERE lhs <> '' OR rhs <> ''
              GROUP BY lhs, rhs
            ),
            dels AS (
              SELECT DISTINCT string_split(
                       CASE WHEN rhs = '' THEN lhs ELSE rhs END, '|')
                       AS strip
              FROM agg
              WHERE support >= 3 AND n_contents >= 2
                AND (lhs = '' OR rhs = '')
            ),
            utok AS (
              SELECT url,
                     lower(regexp_extract(url, 'https://([^/]+)', 1))
                       AS host,
                     list_sort(list_distinct(
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(url,
                             'https://[^/]+([^?]*)', 1), '/'),
                           x -> x <> ''),
                         x -> 'p:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                       ||
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(url, '\\?(.*)$', 1), '&'),
                           x -> x <> ''),
                         x -> 'q:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                     )) AS toks,
                     list_filter(string_split(
                       regexp_extract(url,
                         'https://[^/]+([^?]*)', 1), '/'),
                       x -> x <> '') AS p_raw,
                     list_filter(string_split(
                       regexp_extract(url, '\\?(.*)$', 1), '&'),
                       x -> x <> '') AS q_raw
              FROM (SELECT DISTINCT url FROM corpus)
            ),
            m AS (
              SELECT u.url, CAST(count(*) AS BIGINT) AS n_rules,
                     list_distinct(flatten(list(d.strip)))
                       AS all_strip
              FROM utok u JOIN dels d
                ON len(list_filter(d.strip,
                     x -> NOT list_contains(u.toks, x))) = 0
              GROUP BY u.url
            ),
            app AS (
              SELECT u.url, u.host, u.p_raw, u.q_raw,
                     coalesce(m.n_rules, 0) AS n_rules,
                     coalesce(m.all_strip, []) AS all_strip
              FROM utok u LEFT JOIN m ON u.url = m.url
            ),
            rend AS (
              SELECT url, host, n_rules,
                     list_filter(p_raw, x -> NOT list_contains(
                       all_strip,
                       'p:' || regexp_replace(regexp_replace(lower(x),
                         '[0-9a-f]{8,}', '<H>', 'g'),
                         '[0-9]+', '<N>', 'g'))) AS sp,
                     list_sort(list_filter(q_raw,
                       x -> NOT list_contains(all_strip,
                       'q:' || regexp_replace(regexp_replace(lower(x),
                         '[0-9a-f]{8,}', '<H>', 'g'),
                         '[0-9]+', '<N>', 'g')))) AS sq
              FROM app
            )
            SELECT url, host, n_rules,
                   host || '/' || array_to_string(sp, '/')
                   || CASE WHEN len(sq) > 0
                      THEN '?' || array_to_string(sq, '&')
                      ELSE '' END AS canon
            FROM rend ORDER BY url
        """,
        "q166_dust_rules": """
            WITH corpus AS (
              SELECT CASE
                       WHEN (o_orderkey // 300) % 15 = 2
                         THEN 'https://www.shop.example/item/'
                              || CAST(o_orderkey % 300 AS VARCHAR)
                              || '?sid=' || CAST(o_orderkey AS VARCHAR)
                       WHEN (o_orderkey // 300) % 15 IN (5, 8)
                         THEN 'https://www.shop.example/item/'
                              || CAST(o_orderkey % 300 AS VARCHAR)
                              || '?ref=home'
                       ELSE 'https://www.shop.example/item/'
                            || CAST(o_orderkey % 300 AS VARCHAR)
                     END AS url,
                     md5('c:' || CAST(o_orderkey % 300 AS VARCHAR)) AS fp
              FROM orders
            ),
            urls AS (
              SELECT DISTINCT
                     lower(regexp_extract(url, 'https://([^/]+)', 1))
                       AS host,
                     fp, url
              FROM corpus
            ),
            gsz AS (SELECT host, fp, count(*) AS n
                    FROM urls GROUP BY host, fp),
            toked AS (
              SELECT u.host, u.fp, u.url,
                     list_sort(list_distinct(
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(u.url,
                             'https://[^/]+([^?]*)', 1), '/'),
                           x -> x <> ''),
                         x -> 'p:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                       ||
                       list_transform(
                         list_filter(string_split(
                           regexp_extract(u.url, '\\?(.*)$', 1), '&'),
                           x -> x <> ''),
                         x -> 'q:' || regexp_replace(regexp_replace(
                           lower(x), '[0-9a-f]{8,}', '<H>', 'g'),
                           '[0-9]+', '<N>', 'g'))
                     )) AS toks
              FROM urls u
              JOIN gsz g ON u.host = g.host AND u.fp = g.fp
              WHERE g.n <= 64
            ),
            pairs AS (
              SELECT coalesce(array_to_string(list_sort(list_distinct(
                       list_filter(a.toks,
                         x -> NOT list_contains(b.toks, x)))), '|'), '')
                       AS lhs,
                     coalesce(array_to_string(list_sort(list_distinct(
                       list_filter(b.toks,
                         x -> NOT list_contains(a.toks, x)))), '|'), '')
                       AS rhs,
                     a.fp AS fp
              FROM toked a JOIN toked b
                ON a.host = b.host AND a.fp = b.fp AND a.url < b.url
            ),
            agg AS (
              SELECT lhs, rhs, count(*) AS support,
                     count(DISTINCT fp) AS n_contents
              FROM pairs WHERE lhs <> '' OR rhs <> ''
              GROUP BY lhs, rhs
            )
            SELECT lhs, rhs, support, n_contents,
                   CAST(CASE WHEN support >= 3 AND n_contents >= 2
                        THEN 1 ELSE 0 END AS INT) AS valid
            FROM agg ORDER BY lhs, rhs
        """,
        "q167_param_significance": """
            WITH corpus AS (
              SELECT CASE (o_orderkey // 100) % 3
                       WHEN 0 THEN
                         'https://www.cat.example/list?cat='
                         || CAST(o_orderkey % 20 AS VARCHAR)
                         || '&page=' || CAST(o_orderkey % 5 AS VARCHAR)
                         || '&sess=' || CAST(o_orderkey AS VARCHAR)
                         || '&utm=nl'
                       WHEN 1 THEN
                         'https://www.cat.example/list?cat='
                         || CAST(o_orderkey % 20 AS VARCHAR)
                         || '&page=' || CAST(o_orderkey % 5 AS VARCHAR)
                       ELSE
                         'https://www.cat.example/list?cat='
                         || CAST(o_orderkey % 20 AS VARCHAR)
                         || '&page=' || CAST(o_orderkey % 5 AS VARCHAR)
                         || '&sess=' || CAST(o_orderkey AS VARCHAR)
                     END AS url,
                     md5('c:' || CAST(o_orderkey % 20 AS VARCHAR)
                         || ':' || CAST(o_orderkey % 5 AS VARCHAR)) AS fp
              FROM orders
            ),
            parsed AS (
              SELECT lower(regexp_extract(url, 'https://([^/]+)', 1))
                       AS host,
                     regexp_extract(url, 'https://[^/]+([^?]*)', 1)
                       AS path,
                     list_filter(string_split(
                       regexp_extract(url, '\\?(.*)$', 1), '&'),
                       x -> x <> '') AS params,
                     fp
              FROM corpus
            ),
            ex AS (
              SELECT host, path, fp, params, unnest(params) AS param
              FROM parsed
            ),
            keyed AS (
              SELECT host, path, fp,
                     regexp_extract(param, '^([^=]*)', 1) AS pk,
                     regexp_extract(param, '^[^=]*=(.*)$', 1) AS pv,
                     array_to_string(list_sort(list_filter(params,
                       x -> regexp_extract(x, '^([^=]*)', 1)
                            <> regexp_extract(param, '^([^=]*)', 1))),
                       '&') AS others
              FROM ex
            ),
            per_ctx AS (
              SELECT host, path, others, pk,
                     count(DISTINCT pv) AS n_vals,
                     count(DISTINCT fp) AS n_fps
              FROM keyed GROUP BY host, path, others, pk
            ),
            rolled AS (
              SELECT host, pk,
                     count(*) AS n_groups,
                     sum(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END)
                       AS n_multi,
                     sum(CASE WHEN n_vals > 1 AND n_fps > 1
                         THEN 1 ELSE 0 END) AS n_varying
              FROM per_ctx GROUP BY host, pk
            )
            SELECT host, pk AS key,
                   CAST(n_groups AS BIGINT) AS n_groups,
                   CAST(n_multi AS BIGINT) AS n_multi,
                   CAST(n_varying AS BIGINT) AS n_varying,
                   CASE WHEN n_multi = 0 THEN 'no_evidence'
                        WHEN n_varying = 0 THEN 'content_irrelevant'
                        WHEN n_varying = n_multi
                          THEN 'content_significant'
                        ELSE 'mixed' END AS verdict
            FROM rolled ORDER BY host, key
        """,
        "q168_harmonic": _harmonic_oracle(),
        "q170_bowtie": _bowtie_oracle(),
        "q173_logreg_gd": _logreg_oracle(),
        "q177_scc": _scc_oracle(),
        "q180_hub_removal": _hub_removal_oracle(),
        "q176_best_passage": """
            -- Best-passage re-derived: hit positions for the query
            -- terms, per-doc windowed pair join over hit starts,
            -- (n_terms desc, n_hits desc, start) ranking, 12-token
            -- slice. Spark: operators/search.py::best_passage.
            WITH toks AS (
              SELECT doc_id, {tok} AS tok FROM documents),
            hits AS (
              SELECT doc_id,
                     CAST(generate_subscripts(tok, 1) - 1 AS INT)
                       AS pos,
                     unnest(tok) AS term
              FROM toks),
            qh AS (
              SELECT * FROM hits
              WHERE term IN ('hash', 'scan', 'table')),
            cand AS (
              SELECT l.doc_id, l.pos AS start,
                     CAST(count(DISTINCT r.term) AS BIGINT) AS n_terms,
                     CAST(count(*) AS BIGINT) AS n_hits
              FROM qh l JOIN qh r ON l.doc_id = r.doc_id
                AND r.pos >= l.pos AND r.pos < l.pos + 12
              GROUP BY l.doc_id, l.pos),
            best AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY n_terms DESC, n_hits DESC, start) AS rk
              FROM cand)
            SELECT b.doc_id, b.start, b.n_terms, b.n_hits,
                   array_to_string(
                     list_slice(t.tok, b.start + 1, b.start + 12),
                     ' ') AS snippet
            FROM best b JOIN toks t USING (doc_id)
            WHERE rk = 1 ORDER BY b.doc_id
        """.format(tok=_TOKENS),
        "q175_revalidation": """
            -- Revalidation audit re-derived: both synthetic rounds
            -- (change every 5th, etag absent every 3rd, gone <100,
            -- new >=400), full-outer join, outcome CASE, byte
            -- accounting, host rollup with integer hit-rate. Spark:
            -- operators/snapshots.py::revalidation_audit/_rollup.
            WITH old AS (
              SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR)
                       || '.example/p' || CAST(doc_id AS VARCHAR)
                       AS url,
                     md5('a:' || CAST(doc_id AS VARCHAR)) AS old_fp,
                     CAST(n_chars AS BIGINT) AS old_bytes,
                     CASE WHEN doc_id % 3 <> 0 THEN
                       'W/"' || CAST(doc_id AS VARCHAR) || '"'
                     END AS old_etag
              FROM documents WHERE doc_id < 400),
            new AS (
              SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR)
                       || '.example/p' || CAST(doc_id AS VARCHAR)
                       AS url,
                     md5(CASE WHEN doc_id % 5 = 0 THEN 'b:'
                          ELSE 'a:' END
                         || CAST(doc_id AS VARCHAR)) AS new_fp,
                     CAST(n_chars + doc_id % 7 AS BIGINT) AS new_bytes
              FROM documents WHERE doc_id >= 100),
            j AS (
              SELECT coalesce(o.url, n.url) AS url,
                     o.old_fp, o.old_etag, n.new_fp,
                     coalesce(n.new_bytes, 0) AS nb
              FROM old o FULL OUTER JOIN new n ON o.url = n.url),
            cls AS (
              SELECT url,
                     CASE
                       WHEN old_fp IS NULL THEN 'new'
                       WHEN new_fp IS NULL THEN 'gone'
                       WHEN old_etag IS NOT NULL
                            AND old_fp = new_fp
                         THEN 'revalidated_304'
                       WHEN old_etag IS NOT NULL THEN 'changed_200'
                       WHEN old_fp = new_fp THEN 'wasted_refetch'
                       ELSE 'unvalidated_200' END AS outcome,
                     nb
              FROM j),
            acc AS (
              SELECT url, outcome,
                     CASE WHEN outcome = 'revalidated_304' THEN nb
                          ELSE 0 END AS bytes_saved,
                     CASE WHEN outcome = 'wasted_refetch' THEN nb
                          ELSE 0 END AS bytes_wasted
              FROM cls),
            roll AS (
              SELECT lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)',
                       1), ':[0-9]+$', '')) AS host,
                     CAST(count(*) AS BIGINT) AS n_urls,
                     CAST(sum(CASE WHEN outcome = 'revalidated_304'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_304,
                     CAST(sum(CASE WHEN outcome = 'wasted_refetch'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_wasted,
                     CAST(sum(CASE WHEN outcome IN
                       ('revalidated_304','changed_200',
                        'wasted_refetch','unvalidated_200')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_refetched,
                     CAST(sum(bytes_saved) AS BIGINT) AS bytes_saved,
                     CAST(sum(bytes_wasted) AS BIGINT) AS bytes_wasted
              FROM acc GROUP BY 1)
            SELECT host, n_urls, n_304, n_wasted, n_refetched,
                   bytes_saved, bytes_wasted,
                   CASE WHEN n_refetched > 0 THEN
                     (n_304 * CAST(1000000 AS BIGINT)) // n_refetched
                   ELSE CAST(0 AS BIGINT) END AS hit_rate_micro
            FROM roll ORDER BY host
        """,
        "q174_rake": """
            -- RAKE re-derived: [^a-z0-9]+ tokenization, stopword
            -- gaps-and-islands phrase ids, degree/freq word stats,
            -- integer micro-unit scores, phrase dedup, top-5.
            -- Spark: operators/text.py::rake_keywords.
            WITH toks AS (
              SELECT doc_id, generate_subscripts(tok, 1) AS pos,
                     unnest(tok) AS word
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(
                             lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS tok
                    FROM documents WHERE doc_id < 120)),
            flagged AS (
              SELECT doc_id, pos, word,
                     CASE WHEN word IN ('the','and','of','to','in',
                       'is','that','for','with','was')
                       THEN 1 ELSE 0 END AS stop
              FROM toks),
            ph AS (
              SELECT *, sum(stop) OVER (PARTITION BY doc_id
                ORDER BY pos) AS phrase_id
              FROM flagged),
            pw AS (
              SELECT doc_id, phrase_id, pos, word
              FROM ph WHERE stop = 0),
            plen AS (
              SELECT doc_id, phrase_id,
                     CAST(count(*) AS BIGINT) AS n_words,
                     string_agg(word, ' ' ORDER BY pos) AS phrase
              FROM pw GROUP BY doc_id, phrase_id),
            ws AS (
              SELECT p.doc_id, p.word,
                     CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(l.n_words) AS BIGINT) AS degree
              FROM pw p JOIN plen l USING (doc_id, phrase_id)
              GROUP BY p.doc_id, p.word),
            wsc AS (
              SELECT doc_id, word,
                     CAST((degree * 1000000) // freq AS BIGINT) AS wsm
              FROM ws),
            psc AS (
              SELECT p.doc_id, p.phrase_id,
                     CAST(sum(w.wsm) AS BIGINT) AS score_micro
              FROM pw p JOIN wsc w
                ON p.doc_id = w.doc_id AND p.word = w.word
              GROUP BY p.doc_id, p.phrase_id),
            cand AS (
              SELECT l.doc_id, l.phrase,
                     max(l.n_words) AS n_words,
                     max(s.score_micro) AS score_micro
              FROM psc s JOIN plen l USING (doc_id, phrase_id)
              GROUP BY l.doc_id, l.phrase),
            rr AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score_micro DESC, phrase) AS INT) AS "rank"
              FROM cand)
            SELECT doc_id, phrase, n_words, score_micro, "rank"
            FROM rr WHERE "rank" <= 5
            ORDER BY doc_id, "rank"
        """,
        "q172_ht_estimate": """
            -- Poisson/HT re-derived exactly: p_micro = least(1e6,
            -- n_chars*300), 53-bit md5 uniform (q160 convention),
            -- inclusion gate u <= p/1e6, integer-quantized
            -- contribution v*1e12 DIV p summed as BIGINT. Spark:
            -- operators/ranking.py::poisson_sample_ht.
            WITH base AS (
              SELECT doc_id, source,
                     CAST(least(1000000, n_chars * 300) AS BIGINT)
                       AS pm,
                     CAST(n_chars AS BIGINT) AS v,
                     (CAST(md5_number_lower(
                        CAST(doc_id AS VARCHAR) || ':') AS HUGEINT)
                        % 9007199254740992 + 1)
                       / 9007199254740992.0 AS u
              FROM documents),
            s AS (
              SELECT * FROM base
              WHERE pm > 0 AND u <= pm / 1e6),
            est AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_sampled,
                     CAST(sum((v * 1000000000000) // pm) AS BIGINT)
                       AS ht_total_micro
              FROM s GROUP BY source),
            truth AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(v) AS BIGINT) AS true_total
              FROM base GROUP BY source)
            SELECT t.source, t.n_docs, t.true_total,
                   coalesce(e.n_sampled, 0) AS n_sampled,
                   coalesce(e.ht_total_micro, 0) AS ht_total_micro
            FROM truth t LEFT JOIN est e ON t.source = e.source
            ORDER BY t.source
        """,
        "q171_ip_asn": """
            -- The range join DuckDB runs natively (BETWEEN); the
            -- Spark side executes it as a broadcast prefix-bucket
            -- equi-join (operators/netmap.py::ip_block_join). IPs are
            -- the md5 lower half masked to 32 bits — md5_number_lower
            -- % 2^32 reproduces Spark's bitwiseAND(0xFFFFFFFF).
            WITH hosts AS (
              SELECT DISTINCT 'h' || CAST(doc_id % 97 AS VARCHAR)
                       AS host
              FROM documents),
            ips AS (
              SELECT host,
                     CAST(md5_number_lower(host) % 4294967296
                          AS BIGINT) AS ip
              FROM hosts),
            blocks AS (
              SELECT CAST(i * 67108864 AS BIGINT) AS lo,
                     CAST(i * 67108864 + 33554431 AS BIGINT) AS hi,
                     'AS' || CAST(64500 + i AS VARCHAR) AS asn
              FROM (SELECT unnest(range(64)) AS i))
            SELECT i.host, i.ip,
                   coalesce(b.asn, 'unrouted') AS asn,
                   b.lo AS block_lo
            FROM ips i LEFT JOIN blocks b
              ON i.ip BETWEEN b.lo AND b.hi
            ORDER BY i.host
        """,
        "q169_asof_join": """
            -- Point-in-time join re-derived with DuckDB's NATIVE
            -- ASOF LEFT JOIN (inclusive >=) — a genuinely independent
            -- implementation of the semantics the Spark side builds
            -- from the union + last(ignorenulls) window
            -- (operators/temporal.py::asof_join). Captures collapse
            -- to one row per (key, ts) by max-struct in both engines.
            WITH cap AS (
              SELECT 'u' || CAST(user_id AS VARCHAR) AS k, ts,
                     md5('v:' || CAST(event_id AS VARCHAR)) AS fp,
                     value AS val
              FROM events WHERE event_type = 'view'),
            capd AS (
              SELECT k, ts,
                     max(struct_pack(fp := fp, val := val)) AS v
              FROM cap GROUP BY k, ts),
            cc AS (SELECT k, ts, v.fp AS fp, v.val AS val FROM capd),
            p AS (
              SELECT event_id AS pid,
                     'u' || CAST(user_id AS VARCHAR) AS k, ts
              FROM events WHERE event_type = 'click')
            SELECT p.pid, p.k, epoch_us(p.ts) AS ts_us,
                   epoch_us(cc.ts) AS capture_us, cc.fp, cc.val
            FROM p ASOF LEFT JOIN cc
              ON p.k = cc.k AND p.ts >= cc.ts
            ORDER BY pid
        """,
    })
