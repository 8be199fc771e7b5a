"""Training-data-pipeline operators: multimodal columns, embedding
near-dup, and the corpus-wide DOM node table."""

import math

import pytest
from pyspark.sql import functions as F

from langscrape_spark import synth
from langscrape_spark.operators.ann import (
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
)
from langscrape_spark.operators.domtable import (
    dom_nodes_table,
    node_weights,
    structural_stats,
    xpath_for_value,
)
from langscrape_spark.operators.multimodal import (
    audio_features,
    build_media_df,
    decode_images,
    resize_images,
    sample_frames,
)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def media(spark):
    df = build_media_df(spark, 30, partitions=4).cache()
    df.count()
    return df


def test_media_schema_and_kinds(media):
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_images_shapes(media):
    out = decode_images(media).collect()
    assert len(out) == 10  # kinds cycle by id % 3
    for r in out:
        assert len(r["pixels"]) == r["width"] * r["height"]


def test_decode_deterministic_across_runs(media):
    a = {r["media_id"]: bytes(r["pixels"]) for r in decode_images(media).collect()}
    b = {r["media_id"]: bytes(r["pixels"]) for r in decode_images(media).collect()}
    assert a == b


def test_multimodal_decoder_seam(media):
    """REAL_DECODERS is the swap point for real codecs: registering a
    codec must change decode OUTPUT (proving the registration actually
    reaches executors — the decoder rides the pickled closure; a
    worker-side module lookup would silently keep the fake) while
    schema and row cardinality stay fixed. The stub 'codec' is a
    deterministic constant-fill so the assertion is exact."""
    from langscrape_spark.operators import multimodal as mm

    baseline = {
        r["media_id"]: bytes(r["pixels"])
        for r in decode_images(media).collect()
    }

    def stub_image_codec(payload: bytes, meta) -> bytes:
        return bytes([payload[0] % 251]) * (
            int(meta["width"]) * int(meta["height"])
        )

    mm.REAL_DECODERS["image"] = stub_image_codec
    try:
        swapped = decode_images(media)
        rows = swapped.collect()
    finally:
        mm.REAL_DECODERS.clear()
    got = {r["media_id"]: bytes(r["pixels"]) for r in rows}
    # cardinality + schema fixed, bytes changed, codec honored exactly
    assert set(got) == set(baseline)
    assert [f.name for f in swapped.schema.fields] == [
        "media_id", "kind", "width", "height", "pixels",
    ]
    assert all(got[k] != baseline[k] for k in got)
    assert all(len(set(v)) == 1 for v in got.values())  # constant fill
    # and after clearing the registration, the fake is back
    again = {
        r["media_id"]: bytes(r["pixels"])
        for r in decode_images(media).collect()
    }
    assert again == baseline


def test_resize_nearest_neighbor(media):
    decoded = decode_images(media)
    out = resize_images(decoded, 8, 8).collect()
    assert all(len(r["pixels"]) == 64 for r in out)
    # corner pixel (0,0) is preserved by nearest-neighbor
    src = {r["media_id"]: bytes(r["pixels"]) for r in decoded.collect()}
    for r in out:
        assert r["pixels"][0] == src[r["media_id"]][0]


def test_sample_frames_cardinality(media):
    out = sample_frames(media, every_n=10)
    rows = out.collect()
    metas = {
        r["media_id"]: r["meta"]["n_frames"]
        for r in media.where("kind = 'video'").collect()
    }
    got = {}
    for r in rows:
        got[r["media_id"]] = got.get(r["media_id"], 0) + 1
    assert got == {mid: math.ceil(n / 10) for mid, n in metas.items()}
    # distinct frames differ
    frames = [bytes(r["pixels"]) for r in rows if r["media_id"] == rows[0]["media_id"]]
    assert len(set(frames)) == len(frames)


def test_audio_features(media):
    out = audio_features(media).collect()
    assert len(out) == 10
    for r in out:
        assert r["n_windows"] >= 1
        assert len(r["rms"]) == r["n_windows"]
        assert all(v >= 0 for v in r["rms"])
        assert r["zero_crossings"] > 0


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    # 3 tight clusters + noise: ids 0-2 near e1, 10-11 near e2, rest alone
    def v(base, eps, dim=8):
        out = [0.0] * dim
        out[base] = 1.0
        out[(base + 1) % dim] = eps
        return out

    rows = [
        (0, v(0, 0.0)), (1, v(0, 0.05)), (2, v(0, 0.1)),
        (10, v(3, 0.0)), (11, v(3, 0.02)),
        (20, v(5, 0.0)), (21, v(6, 0.0)),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_exact_neardup_pairs(vectors):
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(vectors, 0.99).collect()
    }
    assert got == {(0, 1), (0, 2), (1, 2), (10, 11)}


def test_lsh_neardup_subset_of_exact(vectors):
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(vectors, 0.99).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_lsh(vectors, 0.99, n_planes=4).collect()
    }
    assert lsh <= exact
    assert lsh  # clusters this tight land in one bucket


def test_minhash_fast_equals_expression(spark):
    """Vectorized minhash signatures must equal the 16-expression
    build value-for-value (md5-hex minima over identical shingles)."""
    from pyspark.sql import functions as F

    from langscrape_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_fast,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    short = spark.createDataFrame(
        [(9001, "one two"), (9002, ""), (9003, "a b c d")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(short)
    a = {r["doc_id"]: tuple(r["s"] or []) for r in
         docs.select("doc_id", minhash_signature(F.col("text")).alias("s")).collect()}
    b = {r["doc_id"]: tuple(r["s"] or []) for r in
         docs.select("doc_id", minhash_signature_fast(F.col("text")).alias("s")).collect()}
    assert a == b


def test_shingles_short_docs_no_error(spark):
    """Documents with fewer than k tokens must yield empty shingle
    sets, not a slice(…, 0, k) runtime error."""
    from pyspark.sql import functions as F

    from langscrape_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three",)], "text string"
    )
    rows = df.select(F.size(shingles(F.col("text"), 3)).alias("n")).collect()
    assert [r["n"] for r in rows] == [0, 0, 0, 1]


def test_simhash_fast_equals_expression(spark):
    """Vectorized simhash must be bit-identical to the 64-lambda
    expression build (hashes both come from JVM xxhash64)."""
    from pyspark.sql import functions as F

    from langscrape_spark.operators.dedup import simhash64, simhash64_fast

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in docs.select("doc_id", simhash64(F.col("text"))).collect()}
    b = {tuple(r) for r in docs.select("doc_id", simhash64_fast(F.col("text"))).collect()}
    assert a == b and len(a) > 0


def test_blocked_neardup_equals_hof(spark):
    """The gemm-blocked exact near-dup must reproduce the HOF pair-join
    baseline bit-for-bit (ids, cosine rounding, NaN handling)."""
    from langscrape_spark.operators.ann import embedding_neardup_pairs_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {tuple(r) for r in embedding_neardup_pairs(emb, 0.35).collect()}
    b = {tuple(r) for r in embedding_neardup_pairs_blocked(emb, 0.35).collect()}
    assert a == b and len(a) > 0


def test_chunked_neardup_equals_exact(spark):
    """The chunked driver loop (3 chunks over 500 vectors) must union
    to exactly the single-broadcast pair set — chunk overlap handling
    and the a<b rule leave no duplicates and no gaps."""
    from langscrape_spark.operators.ann import (
        embedding_neardup_pairs_blocked,
        embedding_neardup_pairs_chunked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    want = {tuple(r) for r in embedding_neardup_pairs_blocked(emb, 0.40).collect()}
    got_df = embedding_neardup_pairs_chunked(emb, 0.40, chunk_rows=180)
    got = [tuple(r) for r in got_df.collect()]
    assert len(got) == len(set(got))  # no duplicate pairs
    assert set(got) == want and want


def test_lsh_neardup_on_real_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_neardup_pairs(emb, 0.95)
    lsh = embedding_neardup_pairs_lsh(emb, 0.95, n_planes=6)
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    l = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert l <= e


# ---------------------------------------------------------------------------
# DOM node table
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def nodes(spark):
    pages = synth.build_pages_df(spark, 12, partitions=2)
    n = dom_nodes_table(pages).cache()
    n.count()
    return n


def test_node_table_covers_all_pages(nodes):
    assert nodes.select("url").distinct().count() == 12
    tags = {r["tag"] for r in nodes.select("tag").distinct().collect()}
    assert {"html", "div", "p", "h1", "a"} <= tags


def test_node_xpaths_resolve(nodes, spark):
    """Every emitted xpath must resolve back to exactly one element
    with the same text — the node table is a faithful index."""
    from langscrape_spark.html.dom import parse
    from langscrape_spark.html.xpath import evaluate

    sample = nodes.where("tag = 'h1'").limit(5).collect()
    for r in sample:
        page_id = int(r["url"].rsplit("article-", 1)[1].split(".")[0])
        doc = parse(synth.page_html(page_id, 12))
        hits = evaluate(doc, r["xpath"])
        assert len(hits) == 1
        assert hits[0].text_content() == r["text"]


def test_node_weights_band_and_range(nodes):
    w = node_weights(nodes)
    assert w.where("n_text_tokens = 0 and weight != 0").count() == 0
    mx = w.agg(F.max("weight")).first()[0]
    assert 0 < mx <= 4.0  # four unit-bounded terms


def test_weight_prefers_article_container(nodes):
    """The heaviest in-band node of each page should be a container,
    not an inline element — the formula's whole point."""
    from pyspark.sql import Window

    w = node_weights(nodes)
    top = (
        w.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy(F.desc("weight"), F.asc("xpath"))
            ),
        )
        .where("rn = 1")
        .collect()
    )
    assert all(r["tag"] in {"div", "article", "main", "body", "p"} for r in top)


def test_xpath_for_value_finds_headline(nodes, spark):
    targets = spark.createDataFrame(
        [
            (synth.url_of(i), f"Article {i:08d}")
            for i in range(3)
        ],
        "url string, target string",
    )
    out = {r["url"]: r["xpath"] for r in xpath_for_value(nodes, targets).collect()}
    assert len(out) == 3
    # best match for the title prefix is the h1 headline (or its title twin)
    assert all("h1" in xp or "title" in xp for xp in out.values())


def test_structural_stats(nodes):
    s = structural_stats(nodes)
    row = s.where("tag = 'p'").agg(F.sum("n_nodes")).first()
    assert row[0] > 12  # several paragraphs per page


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

def test_ivf_centroids_deterministic(spark):
    from langscrape_spark.operators.ann import ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = ivf_centroids(emb, k=8, iterations=2)
    b = ivf_centroids(emb, k=8, iterations=2)
    assert a == b and len(a) == 8
    import math
    for c in a:  # L2-normalized
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9


def test_ivf_topk_recall_on_clustered_data(spark):
    """On clustered vectors (where IVF is meaningful) a full probe must
    reproduce the exact top-k, and a partial probe must return a subset
    of its own buckets with exact cosines."""
    import numpy as np

    from langscrape_spark.operators.ann import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(5, 16)) * 4
    rows = []
    for i in range(400):
        v = centers[i % 5] + rng.normal(scale=0.15, size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = [float(x) for x in centers[2] + rng.normal(scale=0.05, size=16)]

    cents = ivf_centroids(df, k=8, iterations=3)
    exact = [(r["vec_id"], r["cosine"]) for r in cosine_topk(df, query, 10).collect()]
    # nprobe = all buckets → identical to brute force (same total order)
    full = [(r["vec_id"], r["cosine"])
            for r in ivf_topk(df, query, cents, 10, nprobe=8).collect()]
    assert full == exact
    # small probe on clustered data still recalls the top hits
    part = {r["vec_id"] for r in ivf_topk(df, query, cents, 10, nprobe=2).collect()}
    assert len(part & {i for i, _ in exact}) >= 8
    # a stored bucket column short-circuits assignment
    assigned = ivf_assign(df, cents).cache()
    via_stored = [(r["vec_id"], r["cosine"])
                  for r in ivf_topk(assigned, query, cents, 10, nprobe=8).collect()]
    assert via_stored == exact
    assigned.unpersist()


def test_ivf_empty_and_zero_norm(spark):
    from langscrape_spark.operators.ann import ivf_centroids, ivf_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_centroids(empty, k=4) == []
    assert ivf_topk(empty, [1.0, 0.0], [], k=5).count() == 0
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = ivf_centroids(zeros, k=2, iterations=1)
    out = ivf_topk(zeros, [1.0, 0.0], cents, k=5, nprobe=2).collect()
    assert [r["vec_id"] for r in out][0] == 2  # NaN cosine sorts after


def test_lang_id_eleven_languages_and_duckdb_parity(spark):
    """VERDICT r2 #8: lang-ID extended to 11 languages (7 stopword
    lists + 4 script charclasses) keeping the argmax / smallest-code
    tie / no-hits→'und' contract — checked per language AND against
    the DuckDB formulation the q11 oracle generates from the same
    data tables."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from langscrape_spark.operators.text import lang_id

    samples = [
        (1, "the cat and the dog ran to the house of the king", "en"),
        (2, "le chat et la souris est dans les jardins de une maison", "fr"),
        (3, "der hund und die katze ist von den nachbarn mit ein ball", "de"),
        (4, "el perro corre por el parque con los amigos para una fiesta más grande", "es"),
        (5, "não vou para casa com ele porque quero mais tempo como dos outros", "pt"),
        (6, "il cane corre per il parco con gli amici che sono della città non troppo", "it"),
        (7, "het huis van een man dat niet aan de straat staat met zijn hond ook", "nl"),
        (8, "собака бежит по парку с друзьями", "ru"),
        (9, "الكلب يركض في الحديقة مع الأصدقاء", "ar"),
        (10, "狗在公园里跑步和朋友们一起玩耍", "zh"),
        (11, "いぬはこうえんでともだちとあそびます", "ja"),
        (12, "xyzzy plugh 12345", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in samples], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["lg"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("lg")
        ).collect()
    }
    assert got == {i: lang for i, _, lang in samples}

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            [(i, t) for i, t, _ in samples], columns=["doc_id", "text"]
        ),
    )
    odf = con.execute(entry.oracle_sql()["q11_lang_quality"]).df()
    assert dict(zip(odf["doc_id"], odf["lang_guess"])) == {
        i: lang for i, _, lang in samples
    }


# ---------------------------------------------------------------------------
# q38: Gopher repetition filters
# ---------------------------------------------------------------------------

def test_repetition_stats_planted(spark):
    """Hand-computable corpus: a clean doc, a one-phrase loop, a short
    doc (no 3-grams), and an empty doc."""
    from langscrape_spark.operators.text import repetition_stats

    rows = [
        # 6 tokens, all 5 bigrams distinct, all 4 trigrams distinct
        (0, "alpha beta gamma delta epsilon zeta"),
        # "spam ham" x4 -> 7 bigrams, "spam ham" occurs 4x -> top2=4/7;
        # trigrams: 6 total, each of the 2 distinct ones occurs 3x -> dup3=6/6
        (1, "spam ham spam ham spam ham spam ham"),
        # 2 tokens: one bigram, no trigram
        (2, "tiny doc"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[0]["top2gram_frac"] == pytest.approx(1 / 5, abs=1e-6)
    assert got[0]["dup3gram_frac"] == 0.0
    assert not got[0]["repetition_flagged"]
    assert got[1]["top2gram_frac"] == pytest.approx(4 / 7, abs=1e-6)
    assert got[1]["dup3gram_frac"] == 1.0
    assert got[1]["repetition_flagged"]
    assert got[2]["top2gram_frac"] == 1.0  # single bigram is the mode
    assert got[2]["dup3gram_frac"] == 0.0
    assert got[3]["top2gram_frac"] == 0.0 and got[3]["dup3gram_frac"] == 0.0
    assert not got[3]["repetition_flagged"]


def test_repetition_oracle_parity(spark):
    """Spark vs the q38 DuckDB oracle on a small planted frame."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "spam ham spam ham spam ham spam ham"),
        (2, "tiny doc"),
        (3, ""),
        (4, "one two three one two three one two four"),
    ]
    # call the operator directly on the frame (the qNN wrapper reads
    # the sf dir; parity on the same rows is what matters here)
    from langscrape_spark.operators.text import repetition_stats

    df = spark.createDataFrame(rows, "doc_id long, text string")
    spark_rows = {
        r["doc_id"]: (
            r["top2gram_frac"],
            r["dup3gram_frac"],
            int(r["repetition_flagged"]),
        )
        for r in repetition_stats(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    odf = con.execute(entry.oracle_sql()["q38_repetition_quality"]).df()
    oracle_rows = {
        int(r.doc_id): (
            float(r.top2gram_frac),
            float(r.dup3gram_frac),
            int(r.repetition_flagged),
        )
        for r in odf.itertuples()
    }
    assert spark_rows == oracle_rows


# ---------------------------------------------------------------------------
# span_dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------

def _span_rows(spark, rows, span=3):
    from langscrape_spark.operators.text import span_dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_dedup(df, "text", "doc_id", span=span)
    return {r["doc_id"]: (r["text_dedup"], r["n_removed"]) for r in out.collect()}


def test_span_dedup_keeps_global_first_occurrence(spark):
    rows = [
        (1, "a b c x y z"),        # chunks: "a b c", "x y z"
        (2, "a b c q r s"),        # "a b c" repeats -> removed here
        (3, "q r s a b c"),        # both chunks repeat -> all removed
    ]
    got = _span_rows(spark, rows)
    assert got[1] == ("a b c x y z", 0)
    assert got[2] == ("q r s", 1)
    assert got[3] == ("", 2)


def test_span_dedup_first_occurrence_is_position_ordered(spark):
    # within one doc, the earlier chunk index wins
    rows = [(7, "p p p p p p")]  # two identical chunks "p p p"
    got = _span_rows(spark, rows)
    assert got[7] == ("p p p", 1)


def test_span_dedup_partial_tail_chunk_and_empty_doc(spark):
    rows = [(1, "a b c d"), (2, ""), (3, "   ")]
    got = _span_rows(spark, rows)
    assert got[1] == ("a b c d", 0)  # tail chunk "d" kept
    assert got[2] == ("", 0)
    assert got[3] == ("", 0)


def test_span_dedup_reassembly_preserves_order(spark):
    # 9 tokens -> 3 chunks; middle chunk removed (dup of doc 0's)
    rows = [
        (0, "m m m"),
        (5, "a1 a2 a3 m m m b1 b2 b3"),
    ]
    got = _span_rows(spark, rows)
    assert got[5] == ("a1 a2 a3 b1 b2 b3", 1)
    assert got[0] == ("m m m", 0)


# ---------------------------------------------------------------------------
# canonicalize_url
# ---------------------------------------------------------------------------

def _canon(spark, urls):
    from langscrape_spark.operators.urls import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]


def test_canonicalize_url_normalizations(spark):
    got = _canon(spark, [
        "HTTP://Example.COM:80/Item/7?utm_source=news&b=2&a=1&gclid=xyz#sec2",
        "https://CDN.Example.com:8080/a/9",
        "HTTPS://Example.COM:443?fbclid=abc&z=9&y=8",
        "http://example.com/item/3?a=1",
    ])
    assert got == [
        "http://example.com/Item/7?a=1&b=2",   # path case preserved
        "https://cdn.example.com:8080/a/9",    # non-default port kept
        "https://example.com/?y=8&z=9",
        "http://example.com/item/3?a=1",
    ]


def test_canonicalize_url_edges(spark):
    got = _canon(spark, [
        "http://Host",                      # no path -> '/'
        "relative/path#frag",               # schemeless: fragment-strip only
        "https://h/p?utm_x=1&UTM_y=2",      # utm_ match is case-insensitive
        "http://h/p?Gclid=1&a",             # tracker key case; valueless param
        "ftp://Mixed.Case:21/f",            # non-http scheme keeps its port
    ])
    assert got == [
        "http://host/",
        "relative/path",
        "https://h/p",
        "http://h/p?a",
        "ftp://mixed.case:21/f",
    ]


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_redacts_and_counts(spark):
    from langscrape_spark.operators.text import pii_scrub

    rows = [
        (1, "mail a.b+c@sub.example.org or x@y.io now"),
        (2, "host 10.0.0.1 and 255.255.255.255 up"),
        (3, "call 555-123-4567 or 555 987 6543"),
        (4, "email-with-ip-host u@10.0.0.1.example.com stays one email"),
        (5, "clean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in pii_scrub(df, "text", "doc_id").collect()
    }
    assert got[1]["text_clean"] == "mail <EMAIL> or <EMAIL> now"
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (2, 0, 0)
    assert got[2]["text_clean"] == "host <IP> and <IP> up"
    assert got[3]["text_clean"] == "call <PHONE> or <PHONE>"
    # ordering: the IPv4-shaped host part is consumed BY the email match
    assert got[4]["text_clean"] == "email-with-ip-host <EMAIL> stays one email"
    assert (got[4]["n_emails"], got[4]["n_ips"]) == (1, 0)
    assert got[5] == {
        "doc_id": 5, "text_clean": "clean text",
        "n_emails": 0, "n_ips": 0, "n_phones": 0,
    }


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------

def test_decontaminate_set_semantics_and_short_docs(spark):
    from langscrape_spark.operators.contamination import decontaminate

    gram = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, gram + " tail words here"),          # hit
            (2, (gram + " ") * 3),                   # repeated hit counts once per distinct gram
            (3, "totally different content entirely"),
            (4, "short doc"),                        # < n tokens -> clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(gram,)], "ngram string")
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(docs, bench, "text", "doc_id", n=5).collect()
    }
    assert got[1] == (1, True)
    assert got[2][0] >= 1 and got[2][1] is True
    assert got[3] == (0, False)
    assert got[4] == (0, False)


# ---------------------------------------------------------------------------
# gopher_quality_flags
# ---------------------------------------------------------------------------

def test_gopher_flags_gates(spark):
    from langscrape_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox jumps over the lazy dog and " * 8  # 80 words
    bullets = "\n".join(f"- item {i}" for i in range(10))
    ellipsis = "\n".join(f"line {i} trails off..." for i in range(10))
    rows = [
        (1, good),
        (2, "too short"),
        (3, bullets),
        (4, ellipsis),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(df, "text", "doc_id").collect()
    }
    assert got[1]["passes_gopher"] is True and got[1]["n_words"] == 80
    assert got[2]["passes_gopher"] is False          # word-count floor
    assert got[3]["frac_bullet"] == 1.0 and got[3]["passes_gopher"] is False
    assert got[4]["frac_ellipsis"] == 1.0 and got[4]["passes_gopher"] is False
    assert got[5]["n_words"] == 0 and got[5]["passes_gopher"] is False


def test_span_dedup_string_ids(spark):
    # regression: winner election must work for ANY orderable id type
    # (struct-min, not numeric packing) — url-keyed corpora are normal
    rows = [
        ("a://1", "x y z p q r"),
        ("b://2", "x y z k l m"),   # "x y z" repeats -> removed here
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    from langscrape_spark.operators.text import span_dedup

    got = {
        r["doc_id"]: (r["text_dedup"], r["n_removed"])
        for r in span_dedup(df, "text", "doc_id", span=3).collect()
    }
    assert got["a://1"] == ("x y z p q r", 0)
    assert got["b://2"] == ("k l m", 1)


# ---------------------------------------------------------------------------
# crawl-trap detection (url_template / detect_url_traps / trap_filter)
# ---------------------------------------------------------------------------


def test_url_template_classes(spark):
    from langscrape_spark.operators.urls import url_template

    cases = [
        ("https://h/cal/2026/07/15", "/cal/<N>/<N>/<N>"),
        ("https://h/cal/2011/01/03?x=1", "/cal/<N>/<N>/<N>"),
        ("https://h/a/123.html", "/a/<N>.html"),
        # hex run collapses BEFORE digits (no tearing into deadbeef<N>)
        ("https://h/s/deadbeef1234", "/s/<H>"),
        ("https://h/Mixed/CASE", "/mixed/case"),
        ("https://h", "/"),            # pathless → '/'
        ("https://h/plain", "/plain"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["t"] for r in df.select(url_template(F.col("url")).alias("t")).collect()
    ]
    assert got == [t for _, t in cases]


def test_detect_url_traps_and_filter(spark):
    from langscrape_spark.operators.urls import detect_url_traps, trap_filter

    urls = (
        # calendar trap: 40 distinct urls, one template, dominates host
        [f"https://trap.example/cal/2026/{m}/{d}" for m in range(1, 5)
         for d in range(1, 11)]
        + [f"https://trap.example/about{i}" for i in range(3)]
        # healthy host: same template count but below min_urls
        + [f"https://ok.example/a/{i}.html" for i in range(10)]
        # duplicate spellings must not double-count (countDistinct)
        + ["https://trap.example/cal/2026/1/1"] * 5
    )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    traps = detect_url_traps(df, min_urls=20, share_threshold=0.5)
    rows = {(r["host"], r["template"]): r for r in traps.collect()}
    cal = rows[("trap.example", "/cal/<N>/<N>/<N>")]
    assert cal["n_urls"] == 40 and cal["host_urls"] == 43
    assert cal["is_trap"]
    assert not rows[("ok.example", "/a/<N>.html")]["is_trap"]
    assert not rows[("trap.example", "/about<N>")]["is_trap"]
    # the filter drops exactly the flagged template's urls
    kept = [r["url"] for r in trap_filter(df, traps).collect()]
    assert all("/cal/" not in u for u in kept)
    assert sum("about" in u for u in kept) == 3
    assert sum("ok.example" in u for u in kept) == 10


# -- CCNet-style unigram-LM perplexity bucketing (operators/text.py) --


def test_unigram_lm_math_and_oov(spark):
    from langscrape_spark.operators.text import perplexity_score, unigram_lm

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "zz zz zz")],
        "doc_id long, text string",
    )
    # vocab_size=2 -> vocab {a (3), zz (3)} tie broken count desc then
    # token asc... counts: a=3, zz=3, b=2, c=1 -> top2 = a, zz.
    lm, oov = unigram_lm(docs, vocab_size=2, alpha=0.5)
    got = {r["token"]: r["logp"] for r in lm.collect()}
    total, v = 9.0, 2
    denom = total + 0.5 * (v + 1)
    assert set(got) == {"a", "zz"}
    assert got["a"] == pytest.approx(math.log(3.5 / denom))
    assert oov == pytest.approx(math.log(0.5 / denom))

    scored = perplexity_score(docs, lm, oov)
    rows = {r["doc_id"]: r for r in scored.collect()}
    # doc 1: tokens a,a,b -> mean(ln p(a), ln p(a), oov)
    exp1 = math.exp(-(2 * math.log(3.5 / denom) + math.log(0.5 / denom)) / 3)
    assert rows[1]["ppl"] == pytest.approx(exp1)
    assert rows[1]["n_tokens"] == 3
    # doc 3 is pure-vocab (zz): ppl = denom/3.5 = 3.0 exactly, and it
    # scores LOWER than the OOV-containing doc 1
    assert rows[3]["ppl"] == pytest.approx(math.exp(-math.log(3.5 / denom)))
    assert rows[3]["ppl"] < rows[1]["ppl"]


def test_unigram_lm_vocab_tiebreak_deterministic(spark):
    from langscrape_spark.operators.text import unigram_lm

    docs = spark.createDataFrame(
        [(1, "m z b m z b")], "doc_id long, text string"
    )
    lm, _ = unigram_lm(docs, vocab_size=2, alpha=0.5)
    # all three tokens tie at c=2; token-asc keeps b, m
    assert sorted(r["token"] for r in lm.collect()) == ["b", "m"]


def test_perplexity_empty_doc_null_and_buckets(spark):
    from langscrape_spark.operators.text import (
        perplexity_score,
        ppl_buckets,
        unigram_lm,
    )

    rows = [(i, "en", "common common rare%d" % (i % 7)) for i in range(30)]
    rows.append((99, "en", "   "))  # whitespace-only -> no tokens
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lm, oov = unigram_lm(docs, vocab_size=4, alpha=0.5)
    scored = perplexity_score(docs, lm, oov)
    out = {r["doc_id"]: r for r in ppl_buckets(scored, mode="exact").collect()}
    assert out[99]["ppl"] is None and out[99]["ppl_bucket"] is None
    buckets = {r["ppl_bucket"] for i, r in out.items() if i != 99}
    assert buckets <= {"head", "middle", "tail"} and "head" in buckets
    # every non-null row got a bucket
    assert all(r["ppl_bucket"] for i, r in out.items() if i != 99)


def test_ppl_buckets_approx_mode_runs_and_orders(spark):
    """The 100 TB path (percentile_approx sketch cutoffs): buckets are
    rank-consistent — every head ppl <= every middle ppl <= every tail
    ppl within a language group."""
    from langscrape_spark.operators.text import (
        perplexity_score,
        ppl_buckets,
        unigram_lm,
    )

    rows = [
        (i, "en" if i % 2 else "fr", "w%d w%d common" % (i % 11, i % 5))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lm, oov = unigram_lm(docs, vocab_size=8, alpha=0.5)
    out = ppl_buckets(perplexity_score(docs, lm, oov), mode="approx")
    rank = {"head": 0, "middle": 1, "tail": 2}
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r["lang"], []).append((rank[r["ppl_bucket"]], r["ppl"]))
    for lang, pairs in by_lang.items():
        for b, p in pairs:
            for b2, p2 in pairs:
                if b < b2:
                    assert p <= p2, (lang, b, p, b2, p2)


# -- crawl-snapshot delta (operators/snapshots.py) --


def test_crawl_delta_statuses_and_dup_collapse(spark):
    from langscrape_spark.operators.snapshots import (
        crawl_delta,
        host_change_rates,
    )

    old = spark.createDataFrame(
        [
            ("https://a.example/1", "same text"),
            ("https://a.example/2", "old text"),
            ("https://a.example/3", "going away"),
            # duplicate url in one snapshot must collapse, not fan out
            ("https://a.example/1", "same text"),
            ("https://B.example:8080/x", "only-old"),
        ],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [
            ("https://a.example/1", "same   TEXT"),  # ws/case-normalized
            ("https://a.example/2", "new text"),
            ("https://a.example/9", "brand new"),
        ],
        "url string, text string",
    )
    delta = {r["url"]: r for r in crawl_delta(old, new).collect()}
    assert len(delta) == 5  # dup collapsed
    assert delta["https://a.example/1"]["status"] == "unchanged"
    assert delta["https://a.example/2"]["status"] == "changed"
    assert delta["https://a.example/3"]["status"] == "gone"
    assert delta["https://a.example/9"]["status"] == "new"
    assert delta["https://B.example:8080/x"]["host"] == "b.example"  # port stripped

    rates = {r["host"]: r for r in host_change_rates(crawl_delta(old, new)).collect()}
    a = rates["a.example"]
    assert (a["n_new"], a["n_gone"], a["n_changed"], a["n_unchanged"]) == (1, 1, 1, 1)
    assert a["change_rate"] == pytest.approx(0.5)
    # host with zero revisited pages -> NULL rate, no ANSI throw
    assert rates["b.example"]["change_rate"] is None


def test_crawl_delta_precomputed_fp_column(spark):
    from langscrape_spark.operators.snapshots import crawl_delta

    old = spark.createDataFrame(
        [("https://h.example/1", "f1")], "url string, fp string"
    )
    new = spark.createDataFrame(
        [("https://h.example/1", "f2")], "url string, fp string"
    )
    rows = crawl_delta(old, new, fp_col="fp").collect()
    assert rows[0]["status"] == "changed"
    assert rows[0]["old_fp"] == "f1" and rows[0]["new_fp"] == "f2"


# -- per-host boilerplate line removal (operators/boilerplate.py) --


def test_boilerplate_per_host_scoping_and_order(spark):
    from langscrape_spark.operators.boilerplate import remove_boilerplate

    # 'daily deals' is a footer on every page of host a (removed there)
    # but body text on ONE page of host b (kept there).
    rows = []
    for i in range(6):
        rows.append(
            (f"https://a.example/{i}", "a.example",
             f"body a{i}\ndaily deals")
        )
    rows.append(("https://b.example/0", "b.example",
                 "daily deals\nunique b text"))
    for i in range(1, 6):
        rows.append((f"https://b.example/{i}", "b.example", f"body b{i}"))
    pages = spark.createDataFrame(rows, "url string, host string, text string")
    out = {r["url"]: r for r in
           remove_boilerplate(pages, min_pages=5, share_threshold=0.5).collect()}
    assert len(out) == 12
    assert out["https://a.example/0"]["clean_text"] == "body a0"
    assert out["https://a.example/0"]["n_removed"] == 1
    # host-b page keeps the SAME line host-a lost (per-host scoping),
    # and line order is preserved
    assert out["https://b.example/0"]["clean_text"] == "daily deals\nunique b text"
    assert out["https://b.example/0"]["n_removed"] == 0


def test_boilerplate_distinct_page_counting_and_empty_page(spark):
    from langscrape_spark.operators.boilerplate import (
        detect_boilerplate_lines,
        page_lines,
        remove_boilerplate,
    )

    # one page repeats 'promo' 10 times; only 2 distinct pages carry it
    rows = [
        ("https://c.example/0", "c.example", "\n".join(["promo"] * 10)),
        ("https://c.example/1", "c.example", "promo\nreal content"),
        ("https://c.example/2", "c.example", "other"),
        ("https://c.example/3", "c.example", "   \n\t"),  # blank-only page
    ]
    pages = spark.createDataFrame(rows, "url string, host string, text string")
    bp = detect_boilerplate_lines(
        page_lines(pages), min_pages=3, share_threshold=0.5
    ).collect()
    assert bp == []  # 2 distinct pages < min_pages=3 despite 11 rows
    out = {r["url"]: r for r in
           remove_boilerplate(pages, min_pages=2, share_threshold=0.5).collect()}
    # with min_pages=2, promo (2/3 pages with lines) is boilerplate;
    # page 0 becomes empty but STAYS a row
    assert out["https://c.example/0"]["clean_text"] == ""
    assert out["https://c.example/0"]["n_kept"] == 0
    assert out["https://c.example/0"]["n_removed"] == 10
    # blank-only page is preserved with zero counts
    assert out["https://c.example/3"]["n_kept"] == 0
    assert out["https://c.example/3"]["n_removed"] == 0


# -- DSIR importance resampling (operators/dsir.py) --


def test_dsir_bucket_parity_with_duckdb(spark):
    import duckdb

    from langscrape_spark.operators.dsir import hashed_ngram_buckets

    df = spark.createDataFrame(
        [("the quick brown fox",), ("one",), ("",)], "text string"
    )
    got = [r[0] for r in
           df.select(hashed_ngram_buckets(F.col("text"), 2, 256)).collect()]
    con = duckdb.connect()
    exp = con.sql("""
        SELECT list_transform(
          list_transform(range(1, greatest(len(tok)-1, 0)+1),
                         i -> array_to_string(tok[i:i+1], ' ')),
          g -> CAST(md5_number_lower(g) % 256 AS BIGINT))
        FROM (SELECT list_filter(regexp_split_to_array(lower(t), '\\s+'),
                                 x -> x <> '') AS tok
              FROM (VALUES ('the quick brown fox'), ('one'), (''))
                   AS v(t))
    """).fetchall()
    assert got == [e[0] for e in exp]
    assert got[1] == [] and got[2] == []  # sub-n docs yield no grams


def test_dsir_weights_favor_target_like_docs(spark):
    from langscrape_spark.operators.dsir import (
        dsir_resample,
        dsir_weights,
        feature_log_ratio,
    )

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(5)]
        + [(200 + i, "noise%d junk%d filler" % (i, i)) for i in range(5)],
        "doc_id long, text string",
    )
    lr = feature_log_ratio(target, raw, n=2, num_buckets=64, alpha=0.5)
    w = dsir_weights(raw, lr, n=2, num_buckets=64)
    rows = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    assert len(rows) == 10
    # every target-like raw doc outweighs every noise doc
    assert min(rows[100 + i] for i in range(5)) > max(
        rows[200 + i] for i in range(5)
    )
    # Gumbel top-3 is deterministic across runs
    a = [r["doc_id"] for r in dsir_resample(w, 3).collect()]
    b = [r["doc_id"] for r in dsir_resample(w, 3).collect()]
    assert a == b and len(a) == 3


def test_dsir_empty_doc_scores_zero(spark):
    from langscrape_spark.operators.dsir import (
        dsir_weights,
        feature_log_ratio,
    )

    target = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    raw = spark.createDataFrame(
        [(2, "a b"), (3, ""), (4, "solo")], "doc_id long, text string"
    )
    lr = feature_log_ratio(target, raw, n=2, num_buckets=32, alpha=0.5)
    rows = {r["doc_id"]: r for r in dsir_weights(raw, lr, n=2, num_buckets=32).collect()}
    assert rows[3]["log_weight"] == 0.0 and rows[3]["n_features"] == 0
    assert rows[4]["log_weight"] == 0.0 and rows[4]["n_features"] == 0
    assert rows[2]["n_features"] == 1


# -- deterministic sharding / mixture budgeting (operators/sharding.py) --


def test_distributed_cumsum_equals_naive(spark):
    from langscrape_spark.operators.sharding import (
        distributed_cumsum,
        order_key,
    )

    df = (
        spark.range(2000)
        .select(
            F.col("id"),
            (F.col("id") % 37 + 1).alias("v"),
            order_key(F.col("id")).alias("k"),
        )
        .repartition(16)
    )
    got = {r["id"]: r["cum"] for r in distributed_cumsum(df, "v", "k").collect()}
    rows = sorted(df.collect(), key=lambda r: r["k"])
    run = 0
    for r in rows:
        run += r["v"]
        assert got[r["id"]] == run
    # grouped: independent running sums per group
    gdf = df.withColumn("g", (F.col("id") % 3).cast("string"))
    got_g = {
        r["id"]: r["cum"]
        for r in distributed_cumsum(gdf, "v", "k", group_cols=["g"]).collect()
    }
    runs = {}
    for r in sorted(gdf.collect(), key=lambda r: r["k"]):
        runs[r["g"]] = runs.get(r["g"], 0) + r["v"]
        assert got_g[r["id"]] == runs[r["g"]]


def test_pack_shards_straddler_and_determinism(spark):
    from langscrape_spark.operators.sharding import pack_shards

    docs = spark.createDataFrame(
        [(i, 700) for i in range(10)], "doc_id long, n_tokens long"
    )
    out = pack_shards(docs, "n_tokens", 2000)
    rows = sorted(out.collect(), key=lambda r: r["shard_start"])
    # starts are 0,700,...,6300; shard = floor(start/2000): sizes vary
    # but every doc has exactly one shard and starts are contiguous
    assert [r["shard_start"] for r in rows] == [700 * i for i in range(10)]
    assert [r["shard_id"] for r in rows] == [700 * i // 2000 for i in range(10)]
    # deterministic across runs
    again = sorted(pack_shards(docs, "n_tokens", 2000).collect(),
                   key=lambda r: r["shard_start"])
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in again]
    # a doc longer than the budget still lands in exactly one shard
    big = spark.createDataFrame(
        [(1, 5000), (2, 100)], "doc_id long, n_tokens long"
    )
    brows = {r["doc_id"]: r for r in pack_shards(big, "n_tokens", 2000).collect()}
    assert {r["shard_id"] for r in brows.values()} <= {0, 1, 2, 3}
    assert len(brows) == 2


def test_mixture_select_prefix_and_drop(spark):
    from langscrape_spark.operators.sharding import mixture_select

    docs = spark.createDataFrame(
        [(i, "a", 300) for i in range(10)]
        + [(100 + i, "b", 300) for i in range(5)]
        + [(200, "zzz-unbudgeted", 300)],
        "doc_id long, source string, n_tokens long",
    )
    out = mixture_select(docs, {"a": 1000, "b": 1}, tokens_col="n_tokens")
    rows = out.collect()
    assert all(r["source"] != "zzz-unbudgeted" for r in rows)  # dropped
    sel_a = [r for r in rows if r["source"] == "a" and r["selected"]]
    sel_b = [r for r in rows if r["source"] == "b" and r["selected"]]
    # budget 1000 / 300-token docs: starts 0,300,600,900 < 1000 -> 4 docs
    assert len(sel_a) == 4
    # tiny budget still admits exactly the first doc (start 0 < 1)
    assert len(sel_b) == 1
    # prefix property: selected docs are exactly the lowest source_cum
    cums = sorted(r["source_cum"] for r in rows if r["source"] == "a")
    assert sorted(r["source_cum"] for r in sel_a) == cums[:4]


def test_host_of_strips_userinfo_and_port(spark):
    from langscrape_spark.operators.urls import host_of

    df = spark.createDataFrame(
        [("https://user:pw@H.Example:8080/x",),
         ("https://plain.example/y",),
         ("not a url",)],
        "url string",
    )
    got = [r[0] for r in df.select(host_of(F.col("url"))).collect()]
    assert got == ["h.example", "plain.example", ""]


def test_boilerplate_duplicate_url_rows_collapse(spark):
    from langscrape_spark.operators.boilerplate import remove_boilerplate

    rows = [(f"https://d.example/{i}", "d.example", f"body {i}\nfooter")
            for i in range(5)]
    # the same url appears twice (e.g. two crawl rounds unioned)
    rows.append(("https://d.example/0", "d.example", "body 0\nfooter"))
    pages = spark.createDataFrame(rows, "url string, host string, text string")
    out = {r["url"]: r for r in
           remove_boilerplate(pages, min_pages=4, share_threshold=0.5).collect()}
    assert len(out) == 5
    r0 = out["https://d.example/0"]
    # no doubled lines: one body line kept, one footer removed
    assert r0["clean_text"] == "body 0"
    assert (r0["n_kept"], r0["n_removed"]) == (1, 1)


def test_ppl_buckets_rejects_unknown_mode(spark):
    from langscrape_spark.operators.text import ppl_buckets

    df = spark.createDataFrame([(1, "en", 2.0)],
                               "doc_id long, lang string, ppl double")
    with pytest.raises(ValueError):
        ppl_buckets(df, mode="Exact")


def test_page_lines_literal_separator(spark):
    from langscrape_spark.operators.boilerplate import page_lines

    pages = spark.createDataFrame(
        [("u", "h", "alpha|beta|gamma")], "url string, host string, text string"
    )
    got = [r["line"] for r in
           page_lines(pages, sep="|").orderBy("pos").collect()]
    assert got == ["alpha", "beta", "gamma"]  # '|' must not be a regex


# -- inverted index / BM25 (operators/search.py) --


def test_bm25_ranking_and_missing_terms(spark):
    from langscrape_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine"),
            (3, "engine room only"),
            (4, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    postings, doc_lens = build_inverted_index(docs)
    # tf sanity: repeated term collapses into one posting with tf=3
    p = {(r["term"], r["doc_id"]): r["tf"] for r in postings.collect()}
    assert p[("spark", 1)] == 3 and p[("engine", 3)] == 1

    top = bm25_topk(postings, doc_lens, "spark", k=10).collect()
    ids = [r["doc_id"] for r in top]
    assert ids[0] in (1, 2) and set(ids) == {1, 2}  # only matching docs
    # doc 2 (short, tf=1) vs doc 1 (tf=3 but longer): tf wins here
    assert ids[0] == 1

    # absent term contributes nothing; all-absent query is empty
    assert bm25_topk(postings, doc_lens, "zzz", k=5).count() == 0
    both = {r["doc_id"]: r["score"] for r in
            bm25_topk(postings, doc_lens, "spark zzz", k=5).collect()}
    only = {r["doc_id"]: r["score"] for r in
            bm25_topk(postings, doc_lens, "spark", k=5).collect()}
    assert both == only
    # duplicate query terms count once
    dup = {r["doc_id"]: r["score"] for r in
           bm25_topk(postings, doc_lens, "spark spark", k=5).collect()}
    assert dup == only
    # empty query yields an empty, correctly-typed frame
    assert bm25_topk(postings, doc_lens, "   ", k=5).count() == 0


def test_revisit_priority_defaults_and_clamp(spark):
    from langscrape_spark.operators.snapshots import revisit_priority

    rates = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", None), ("d", 0.5)],
        "host string, change_rate double",
    )
    ranks = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("d", 0.5)],
        "host string, rank_score double",
    )
    out = {r["host"]: r for r in revisit_priority(rates, ranks).collect()}
    assert out["a"]["priority"] == 1.0 and out["a"]["interval_days"] == 1  # clamp
    assert out["b"]["priority"] == 0.0 and out["b"]["interval_days"] == 30
    # NULL rate -> 0.5 default; missing rank -> 0
    assert out["c"]["priority"] == pytest.approx(0.3)
    assert out["d"]["priority"] == pytest.approx(0.5)
    assert out["d"]["interval_days"] == 15


def test_more_like_this_semantics(spark):
    from langscrape_spark.operators.search import (
        build_inverted_index,
        more_like_this,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),       # identical -> cosine 1.0
            (3, "alpha beta other words"),  # partial overlap
            (4, "totally disjoint tokens"),  # no shared term -> absent
        ],
        "doc_id long, text string",
    )
    postings, doc_lens = build_inverted_index(docs)
    out = {r["doc_id"]: r["cosine"] for r in
           more_like_this(postings, doc_lens, 1, k=10).collect()}
    assert 1 not in out               # self excluded
    assert 4 not in out               # zero-overlap never appears
    assert out[2] == pytest.approx(1.0)
    assert 0.0 < out[3] < 1.0
    # unknown query doc -> empty frame, correct schema
    empty = more_like_this(postings, doc_lens, 999, k=5)
    assert empty.count() == 0 and empty.columns == ["doc_id", "cosine"]


def test_bigram_ppl_hand_computed(spark):
    from langscrape_spark.operators.text import bigram_ppl

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bigram_ppl(docs, vocab_size=2, alpha=0.5, lam=0.75).collect()}
    # counts: a=4, b=2; V=2; denom_u = 6 + 0.5*3 = 7.5; aV = 1.5
    p_a, p_b = 4.5 / 7.5, 2.5 / 7.5
    # bigrams: (a,b):2 (b,a):1 (a,a):1; ctx a=3, b=1
    bi_ba = (2 + 0.5) / (3 + 1.5)   # p(b|a)
    bi_ab = (1 + 0.5) / (1 + 1.5)   # p(a|b)
    bi_aa = (1 + 0.5) / (3 + 1.5)   # p(a|a)
    lp1 = [
        math.log(p_a),
        math.log(0.75 * bi_ba + 0.25 * p_b),
        math.log(0.75 * bi_ab + 0.25 * p_a),
        math.log(0.75 * bi_ba + 0.25 * p_b),
    ]
    assert out[1]["n_terms"] == 4
    assert out[1]["ppl"] == pytest.approx(math.exp(-sum(lp1) / 4))
    lp2 = [math.log(p_a), math.log(0.75 * bi_aa + 0.25 * p_a)]
    assert out[2]["ppl"] == pytest.approx(math.exp(-sum(lp2) / 2))
    # token-less doc stays a row with NULL score
    assert out[3]["ppl"] is None and out[3]["n_terms"] is None


def test_bigram_ppl_unk_closure(spark):
    from langscrape_spark.operators.text import bigram_ppl

    # vocab_size=1 -> only 'x' in vocab; everything else is <unk>,
    # including unseen continuations — scores stay finite and nonzero
    docs = spark.createDataFrame(
        [(1, "x y z x q"), (2, "x x x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           bigram_ppl(docs, vocab_size=1, alpha=0.5, lam=0.75).collect()}
    assert all(r["ppl"] is not None and r["ppl"] > 0 for r in out.values())
    # the all-in-vocab doc is more predictable -> lower perplexity
    assert out[2]["ppl"] < out[1]["ppl"]


# ---------------------------------------------------------------------------
# host-level quality rollup + whole-host filtering (round 3, q64)
# ---------------------------------------------------------------------------

def _hq_pages(spark):
    """Planted page-signal corpus: hostA all-short (bad under the
    n_words<6 predicate), hostB mostly fine, hostC low-evidence (2
    pages, both bad), hostD an exact en/de language tie."""
    from langscrape_spark.operators.hostquality import page_quality_signals

    en = "the and of to in is " * 2          # 12 words, en stopwords
    de = "der die das und ist von " * 2      # 12 words, de stopwords
    short = "tiny page"                      # 2 words -> bad
    rows = (
        [(i, "hostA", short) for i in range(5)]
        + [(10 + i, "hostB", en) for i in range(4)]
        + [(20, "hostB", short)]
        + [(30, "hostC", short), (31, "hostC", short)]
        + [(40, "hostD", en), (41, "hostD", de)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    return page_quality_signals(df)


def test_host_rollup_gates_and_low_evidence(spark):
    from pyspark.sql import functions as F

    from langscrape_spark.operators.hostquality import host_quality_rollup

    out = {
        r["host"]: r
        for r in host_quality_rollup(
            _hq_pages(spark), bad=F.col("n_words") < 6, max_bad_share=0.5
        ).collect()
    }
    # hostA: 5 pages, all bad -> dropped
    assert out["hostA"]["n_pages"] == 5 and out["hostA"]["n_bad"] == 5
    assert out["hostA"]["bad_share"] == 1.0 and not out["hostA"]["host_keep"]
    # hostB: 1/5 bad -> kept
    assert out["hostB"]["bad_share"] == 0.2 and out["hostB"]["host_keep"]
    # hostC: 2 pages (< min_pages=3), all bad -> kept anyway
    assert out["hostC"]["n_bad"] == 2 and out["hostC"]["host_keep"]
    # majority language + exact share; tie on hostD resolves to 'de'
    assert out["hostB"]["majority_lang"] == "en"
    assert out["hostB"]["majority_lang_share"] == 0.8
    assert out["hostD"]["majority_lang"] == "de"
    assert out["hostD"]["majority_lang_share"] == 0.5
    # mean words is the exact integer-sum average
    assert out["hostB"]["mean_words"] == (12 * 4 + 2) / 5


def test_host_filter_is_broadcast_semi_join(spark):
    from pyspark.sql import functions as F

    from langscrape_spark.operators.hostquality import (
        filter_by_host_quality,
        host_quality_rollup,
    )

    pages = _hq_pages(spark)
    roll = host_quality_rollup(
        pages, bad=F.col("n_words") < 6, max_bad_share=0.5
    )
    kept = filter_by_host_quality(pages, roll)
    hosts = {r["host"] for r in kept.select("host").distinct().collect()}
    assert hosts == {"hostB", "hostC", "hostD"}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_host_rollup_default_bad_is_gopher(spark):
    """Default predicate = Gopher conjunction fails; the planted short
    pages all fail, so every host's n_bad equals n_pages."""
    from langscrape_spark.operators.hostquality import host_quality_rollup

    out = host_quality_rollup(_hq_pages(spark)).collect()
    assert all(r["n_bad"] == r["n_pages"] for r in out)


# ---------------------------------------------------------------------------
# document chunking (round 3, q65)
# ---------------------------------------------------------------------------

def test_chunk_documents_coverage_and_overlap(spark):
    """Every token covered, consecutive chunks share exactly `overlap`
    tokens, last chunk short, empty docs emit nothing."""
    import pytest as _pytest
    from langscrape_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, max_tokens=40, overlap=8)
    rows = sorted(
        out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"])
    )
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["chunk_idx"] for r in d1] == [0, 1, 2]
    assert [r["n_tokens"] for r in d1] == [40, 40, 36]
    toks = [r["chunk_text"].split() for r in d1]
    # stride 32: chunk i starts at token 32*i
    assert toks[1][0] == "w32" and toks[2][0] == "w64"
    # consecutive chunks share exactly the 8 overlap tokens
    assert toks[0][-8:] == toks[1][:8]
    assert toks[1][-8:] == toks[2][:8]
    # full coverage, in order
    merged = toks[0] + toks[1][8:] + toks[2][8:]
    assert merged == text.split()
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_tokens"] == 2
    assert not [r for r in rows if r["doc_id"] == 3]
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_chunk_documents_exact_boundary(spark):
    """n == max_tokens -> exactly one chunk; n == max_tokens+1 -> two."""
    from langscrape_spark.operators.text import chunk_documents

    mk = lambda n: " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame([(1, mk(40)), (2, mk(41))], ["doc_id", "text"])
    out = chunk_documents(df, max_tokens=40, overlap=8)
    counts = {
        r["doc_id"]: r["c"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    }
    assert counts == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# mojibake repair (round 3, q66)
# ---------------------------------------------------------------------------

def test_mojibake_fix_and_count(spark):
    from langscrape_spark.operators.text import fix_mojibake, mojibake_count

    dirty = "donâ€™t say â€œnaÃ¯veâ€¦ cafÃ© xÂ y"
    df = spark.createDataFrame([(1, dirty), (2, "clean plain text")], ["id", "text"])
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            fix_mojibake(F.col("text")).alias("fixed"),
            mojibake_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[1]["fixed"] == "don’t say “naïve… café x y"
    assert out[1]["n"] == 6
    assert out[2]["fixed"] == "clean plain text" and out[2]["n"] == 0


def test_mojibake_fix_idempotent(spark):
    """The repaired characters never re-match any artifact pattern."""
    from langscrape_spark.operators.text import fix_mojibake, mojibake_count

    dirty = "cafÃ© â€™ Ã¼ber"
    df = spark.createDataFrame([(1, dirty)], ["id", "text"])
    once = df.select(fix_mojibake(F.col("text")).alias("text"))
    twice = once.select(
        fix_mojibake(F.col("text")).alias("t2"),
        mojibake_count(F.col("text")).alias("n2"),
    ).first()
    assert twice["t2"] == once.first()["text"]
    assert twice["n2"] == 0


# ---------------------------------------------------------------------------
# hashed-feature Naive Bayes quality classifier (round 3, q67)
# ---------------------------------------------------------------------------

def _nb_corpus(spark):
    """20 labeled docs with a planted vocabulary signal: positive docs
    speak 'alpha' words, negative docs 'spam' words, with shared
    neutral filler."""
    rows = []
    for i in range(10):
        rows.append(
            (i, 1, f"alpha{i % 3} quality prose useful filler{i % 4} text")
        )
        rows.append(
            (100 + i, 0, f"spam{i % 3} casino pills junk filler{i % 4} text")
        )
    return spark.createDataFrame(rows, ["doc_id", "label", "text"])


def test_nb_classifier_learns_planted_signal(spark):
    """Held-out docs using the class vocabularies score on the right
    side of 0; the score IS prior + sum(llr) (checked on an empty
    doc: exactly the prior)."""
    from langscrape_spark.operators.classifier import nb_score, nb_train

    model = nb_train(_nb_corpus(spark), num_buckets=64)
    held = spark.createDataFrame(
        [
            (1000, "alpha0 alpha1 quality useful"),
            (1001, "spam0 casino junk pills"),
            (1002, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in nb_score(held, model, num_buckets=64).collect()
    }
    assert out[1000]["score"] > 0 and out[1000]["pred"]
    assert out[1001]["score"] < 0 and not out[1001]["pred"]
    # empty doc: no features -> score == log_prior (balanced set -> 0)
    assert out[1002]["n_features"] == 0
    assert abs(out[1002]["score"]) < 1e-12


def test_nb_classifier_prior_shifts_empty_docs(spark):
    """Unbalanced classes move the empty-doc score to the prior
    log-odds, not 0."""
    import math

    from langscrape_spark.operators.classifier import nb_score, nb_train

    df = _nb_corpus(spark).where("doc_id < 5 or doc_id >= 100")  # 5 pos, 10 neg
    model = nb_train(df, num_buckets=64)
    out = nb_score(
        spark.createDataFrame([(1, "")], ["doc_id", "text"]),
        model,
        num_buckets=64,
    ).first()
    assert abs(out["score"] - (math.log(5 / 15) - math.log(10 / 15))) < 1e-12


def test_nb_train_requires_both_classes(spark):
    import pytest as _pytest

    from langscrape_spark.operators.classifier import nb_train

    one_class = _nb_corpus(spark).where("label = 1")
    with _pytest.raises(ValueError, match="both classes"):
        nb_train(one_class, num_buckets=64)


def test_nb_score_plans_as_broadcast_join(spark):
    """The model side must broadcast — the corpus never shuffles for
    the join (only the per-doc partial agg)."""
    from langscrape_spark.operators.classifier import nb_score, nb_train

    model = nb_train(_nb_corpus(spark), num_buckets=64)
    out = nb_score(_nb_corpus(spark).drop("label"), model, num_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# blocklist + badword page filter (round 3, q68)
# ---------------------------------------------------------------------------

def test_blocklist_subdomain_matching(spark):
    """Exact + subdomain matches block; a host that merely ENDS with
    the entry string ('notexample.com') does not; longest (most
    specific) entry wins."""
    from langscrape_spark.operators.filters import blocklist_match

    docs = spark.createDataFrame(
        [
            (1, "example.com"),
            (2, "ads.example.com"),
            (3, "notexample.com"),
            (4, "deep.ads.example.com"),
            (5, "clean.org"),
        ],
        ["doc_id", "host"],
    )
    bl = spark.createDataFrame(
        [("example.com",), ("ads.example.com",)], "domain string"
    )
    out = {r["doc_id"]: r["blocked_domain"] for r in blocklist_match(docs, bl).collect()}
    assert out[1] == "example.com"
    assert out[2] == "ads.example.com"  # most specific, not example.com
    assert out[3] is None
    assert out[4] == "ads.example.com"
    assert out[5] is None


def test_badword_stats_multiplicity_and_empty(spark):
    from langscrape_spark.operators.filters import badword_stats

    docs = spark.createDataFrame(
        [(1, "Casino night casino CASINO fun"), (2, ""), (3, "clean text")],
        ["doc_id", "text"],
    )
    bw = spark.createDataFrame([("casino",)], "word string")
    out = {r["doc_id"]: r for r in badword_stats(docs, bw).collect()}
    assert out[1]["n_badwords"] == 3  # lowercased occurrences
    assert out[1]["n_tokens"] == 5
    assert out[2]["n_tokens"] == 0 and out[2]["badword_ratio"] is None
    assert out[3]["n_badwords"] == 0 and out[3]["badword_ratio"] == 0.0


def test_page_filter_gate_and_broadcast_plan(spark):
    from langscrape_spark.operators.filters import page_filter

    docs = spark.createDataFrame(
        [
            (1, "ads.bad.com", "fine text here"),
            (2, "good.com", "casino casino casino casino"),
            (3, "good.com", "one casino in twenty words " + "w " * 14),
            (4, "good.com", ""),
        ],
        ["doc_id", "host", "text"],
    )
    bl = spark.createDataFrame([("bad.com",)], "domain string")
    bw = spark.createDataFrame([("casino",)], "word string")
    out = page_filter(docs, bl, bw, max_badword_ratio=0.1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert not rows[1]["keep"]          # blocked domain
    assert not rows[2]["keep"]          # ratio 1.0
    assert rows[3]["keep"]              # 1/19 < 0.1
    assert rows[4]["keep"]              # token-less passes badword gate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# JVM-side page metadata projection (round 3, q69)
# ---------------------------------------------------------------------------

def test_meta_columns_quote_styles_and_entities(spark):
    from langscrape_spark.html.meta import meta_columns

    html = (
        "<html><head><title>A &amp;lt; B &amp; C</title>"
        "<meta name='description' content='single &quot;quoted&quot;'>"
        '<meta property="og:title" content="OG title">'
        "<link rel='canonical' href='https://x.com/a'>"
        "</head><body></body></html>"
    )
    df = spark.createDataFrame([(1, html), (2, "no markup at all")], ["id", "html"])
    out = {r["id"]: r for r in meta_columns(df).collect()}
    # &amp;lt; decodes to the literal &lt; (amp replaced LAST)
    assert out[1]["title"] == "A &lt; B & C"
    assert out[1]["meta_description"] == 'single "quoted"'
    assert out[1]["og_title"] == "OG title"
    assert out[1]["canonical_url"] == "https://x.com/a"
    assert out[2]["title"] == "" and out[2]["canonical_url"] == ""


def test_meta_robots_token_boundaries(spark):
    from langscrape_spark.html.meta import meta_columns

    rows = [
        (1, '<meta name="robots" content="noindex,nofollow">'),
        (2, '<meta name="robots" content="NOINDEX">'),       # case-insensitive
        (3, '<meta name="robots" content="nonoindex">'),     # not a token
        (4, '<meta name="robots" content="index, follow">'),
        (5, ""),
    ]
    out = {r["id"]: r for r in meta_columns(
        spark.createDataFrame(rows, ["id", "html"])).collect()}
    assert out[1]["noindex"] and out[1]["nofollow"]
    assert out[2]["noindex"]
    assert not out[3]["noindex"]
    assert not out[4]["noindex"] and not out[4]["nofollow"]
    assert not out[5]["noindex"]


def test_meta_columns_binary_html_pure_codegen(spark):
    """Accepts the pages table's binary html; plans as a single
    codegen projection — no Python eval, no shuffle."""
    from pyspark.sql import functions as F

    from langscrape_spark.html.meta import meta_columns

    df = spark.createDataFrame(
        [("<title>bin</title>",)], ["s"]
    ).select(F.encode("s", "utf-8").alias("html"))
    out = meta_columns(df)
    assert out.first()["title"] == "bin"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


# ---------------------------------------------------------------------------
# leakage-safe splits (round 3, q70)
# ---------------------------------------------------------------------------

def test_assign_split_group_atomic_and_codegen(spark):
    """Every doc of a host lands in ONE split; assignment is a pure
    projection (no shuffle, no Python)."""
    from pyspark.sql import functions as F

    from langscrape_spark.operators.splits import assign_split

    rows = [(i, f"host{i % 50}") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    out = assign_split(df, "host", {"train": 0.75, "val": 0.125, "test": 0.125})
    per_host = (
        out.groupBy("host")
        .agg(F.count_distinct("split").alias("ns"))
        .collect()
    )
    assert all(r["ns"] == 1 for r in per_host)
    counts = {r["split"]: r["cnt"] for r in out.groupBy("split").count().withColumnRenamed("count", "cnt").collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts.get("train", 0) > counts.get("val", 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_assign_split_deterministic_and_salted(spark):
    from langscrape_spark.operators.splits import assign_split

    df = spark.createDataFrame([(i, f"h{i}") for i in range(200)], ["id", "host"])
    w = {"a": 0.5, "b": 0.5}
    s1 = {r["host"]: r["split"] for r in assign_split(df, "host", w).collect()}
    s2 = {r["host"]: r["split"] for r in assign_split(df, "host", w).collect()}
    assert s1 == s2
    s3 = {r["host"]: r["split"] for r in assign_split(df, "host", w, salt="other:").collect()}
    assert s1 != s3  # salt moves assignments


def test_split_leakage_audit_finds_planted_dup(spark):
    from langscrape_spark.operators.splits import (
        assign_split,
        split_leakage_audit,
    )

    rows = [(i, f"host{i}", f"unique text number {i}") for i in range(100)]
    # plant the same passage on many hosts -> it must cross splits
    for i in range(0, 100, 10):
        rows[i] = (i, f"host{i}", "the mirrored passage")
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    out = split_leakage_audit(
        assign_split(df, "host", {"train": 0.5, "val": 0.25, "test": 0.25})
    )
    agg = {r["split"]: r for r in out.collect()}
    assert sum(r["n_docs"] for r in agg.values()) == 100
    assert sum(r["n_leaked_docs"] for r in agg.values()) == 10
    # a clean corpus audits clean
    clean = split_leakage_audit(
        assign_split(
            spark.createDataFrame(rows[1:4], ["doc_id", "host", "text"]),
            "host", {"train": 0.5, "test": 0.5},
        )
    )
    assert all(r["n_leaked_docs"] == 0 for r in clean.collect())


# ---------------------------------------------------------------------------
# C4 line-level cleaning (round 3, q72)
# ---------------------------------------------------------------------------

def test_c4_line_rules(spark):
    from langscrape_spark.operators.c4 import c4_clean

    page = "\n".join(
        [
            "This is a proper first sentence right here.",
            "no terminal punctuation on this line at all",
            "Too short.",
            "Please enable JavaScript to continue with it.",
            "We updated our privacy policy again yesterday folks.",
            'A quoted ending counts as terminal punctuation "indeed."',
            "A final ordinary sentence closes the page properly.",
        ]
    )
    out = c4_clean(
        spark.createDataFrame([(1, page)], ["doc_id", "text"])
    ).first()
    assert out["n_lines"] == 7
    assert out["n_kept"] == 3
    assert out["page_keep"]
    assert out["clean_text"].split("\n") == [
        "This is a proper first sentence right here.",
        'A quoted ending counts as terminal punctuation "indeed."',
        "A final ordinary sentence closes the page properly.",
    ]


def test_c4_page_gates(spark):
    from langscrape_spark.operators.c4 import c4_clean

    good = "\n".join(
        [f"Sentence number {i} is perfectly fine here." for i in range(4)]
    )
    rows = [
        (1, good),
        (2, good + "\nlorem ipsum dolor sit."),
        (3, good + "\nif (x) { y(); }"),
        (4, "Only one good sentence lives on this page."),
        (5, ""),
    ]
    out = {
        r["doc_id"]: r
        for r in c4_clean(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["page_keep"]
    assert not out[2]["page_keep"] and out[2]["has_lorem"]
    assert not out[3]["page_keep"] and out[3]["has_brace"]
    assert not out[4]["page_keep"] and out[4]["n_kept"] == 1
    assert not out[5]["page_keep"] and out[5]["clean_text"] == ""


def test_c4_single_shuffle_no_join(spark):
    """One documents-sized groupBy; page flags ride the explode —
    no join, no second pass."""
    from langscrape_spark.operators.c4 import c4_clean

    df = spark.createDataFrame([(1, "A fine sentence here today okay.")],
                               ["doc_id", "text"])
    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "EvalPython" not in plan


# ---------------------------------------------------------------------------
# snapshot change similarity (round 3, q74)
# ---------------------------------------------------------------------------

def test_url_change_similarity_classes(spark):
    from langscrape_spark.operators.snapshots import url_change_similarity

    body = " ".join(f"w{i}" for i in range(40))
    old = spark.createDataFrame(
        [
            ("u1", body),
            ("u2", body),
            ("u3", body),
            ("u4", body),
            ("u5", "tiny"),
            ("u6", body),          # only in old -> no output row
        ],
        ["url", "text"],
    )
    new = spark.createDataFrame(
        [
            ("u1", body),                                   # identical
            ("u2", body + " small appended tail words"),    # minor
            ("u3", " ".join(f"x{i}" for i in range(40))),   # rewritten
            ("u4", body[: len(body) // 2] + " " + " ".join(f"y{i}" for i in range(15))),  # major-ish
            ("u5", "tiny"),                                 # empty (no shingles)
            ("u7", body),          # only in new -> no output row
        ],
        ["url", "text"],
    )
    out = {r["url"]: r for r in url_change_similarity(old, new).collect()}
    assert set(out) == {"u1", "u2", "u3", "u4", "u5"}
    assert out["u1"]["change_class"] == "identical" and out["u1"]["similarity"] == 1.0
    assert out["u2"]["change_class"] == "minor"
    assert out["u3"]["change_class"] == "rewritten" and out["u3"]["similarity"] == 0.0
    assert out["u4"]["change_class"] in ("major", "minor")
    assert out["u5"]["change_class"] == "empty" and out["u5"]["similarity"] is None


def test_url_change_similarity_single_join_no_udf(spark):
    from langscrape_spark.operators.snapshots import url_change_similarity

    df = spark.createDataFrame([("u", "a b c d e")], ["url", "text"])
    plan = url_change_similarity(df, df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.count("Join") <= 2  # one logical join (SMJ prints once)


# ---------------------------------------------------------------------------
# review-fix regressions (round 3)
# ---------------------------------------------------------------------------

def test_badword_stats_duplicate_wordlist_entries(spark):
    """Duplicate wordlist entries must not fan out the join."""
    from langscrape_spark.operators.filters import badword_stats

    docs = spark.createDataFrame([(1, "casino fun")], ["doc_id", "text"])
    bw = spark.createDataFrame([("casino",), ("casino",)], "word string")
    r = badword_stats(docs, bw).first()
    assert r["n_tokens"] == 2 and r["n_badwords"] == 1
    assert r["badword_ratio"] == 0.5


def test_blocklist_matches_hosts_with_port_or_userinfo(spark):
    from langscrape_spark.operators.filters import blocklist_match

    docs = spark.createDataFrame(
        [
            (1, "ads.example.com:8080"),
            (2, "user@ads.example.com"),
            (3, "clean.org:443"),
        ],
        ["doc_id", "host"],
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    out = {r["doc_id"]: r["blocked_domain"] for r in blocklist_match(docs, bl).collect()}
    assert out[1] == "example.com"
    assert out[2] == "example.com"
    assert out[3] is None


def test_assign_split_null_group_key_is_visible(spark):
    from langscrape_spark.operators.splits import assign_split

    df = spark.createDataFrame(
        [(1, "h1"), (2, None)], ["doc_id", "host"]
    )
    out = {r["doc_id"]: r["split"] for r in assign_split(
        df, "host", {"train": 0.5, "test": 0.5}).collect()}
    assert out[1] in ("train", "test")
    assert out[2] is None


def test_nb_train_rejects_null_labels(spark):
    import pytest as _pytest

    from langscrape_spark.operators.classifier import nb_train

    df = spark.createDataFrame(
        [(1, True, "good words"), (2, False, "bad words"), (3, None, "meh")],
        ["doc_id", "label", "text"],
    )
    with _pytest.raises(ValueError, match="NULL label"):
        nb_train(df, num_buckets=16)


def test_c4_null_text_yields_boolean_flags(spark):
    from langscrape_spark.operators.c4 import c4_clean

    df = spark.createDataFrame(
        [(1, None)], "doc_id long, text string"
    )
    r = c4_clean(df, min_kept_lines=0).first()
    assert r["has_lorem"] is False and r["has_brace"] is False
    assert r["n_lines"] == 0 and r["clean_text"] == ""
    assert r["page_keep"] is True  # min_kept_lines=0, no gates tripped


# ---------------------------------------------------------------------------
# score calibration (round 3, q75)
# ---------------------------------------------------------------------------

def test_calibration_table_math(spark):
    """10 docs, scores 1..10, positives at the top: 5 equal-mass bins,
    monotone pos_share, exact counts."""
    from langscrape_spark.operators.classifier import calibration_table

    rows = [(i, i >= 8, float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["doc_id", "label", "score"])
    out = {r["bin"]: r for r in calibration_table(df, n_bins=5).collect()}
    assert sum(r["n"] for r in out.values()) == 10
    assert sum(r["n_pos"] for r in out.values()) == 3
    shares = [out[b]["pos_share"] for b in sorted(out)]
    assert shares == sorted(shares)          # monotone for this data
    assert out[max(out)]["pos_share"] == 1.0


def test_calibration_excludes_nulls_and_ties_collapse_left(spark):
    from langscrape_spark.operators.classifier import calibration_table

    rows = [(1, True, 1.0), (2, False, 1.0), (3, True, 1.0),
            (4, None, 5.0), (5, True, None), (6, False, 2.0)]
    df = spark.createDataFrame(rows, ["doc_id", "label", "score"])
    out = calibration_table(df, n_bins=2).collect()
    assert sum(r["n"] for r in out) == 4      # NULL label/score excluded
    # the tied 1.0 scores all collapse into the lowest band
    low = min(out, key=lambda r: r["bin"])
    assert low["n"] == 3


def test_calibration_approx_mode_runs(spark):
    from langscrape_spark.operators.classifier import calibration_table

    df = spark.createDataFrame(
        [(i, i % 2 == 0, float(i)) for i in range(100)],
        ["doc_id", "label", "score"],
    )
    out = calibration_table(df, n_bins=4, mode="approx").collect()
    assert sum(r["n"] for r in out) == 100


# ---------------------------------------------------------------------------
# robust median/MAD outlier gate (round 3, q76)
# ---------------------------------------------------------------------------

def test_robust_outliers_math(spark):
    """en: values 1..9 plus a 1000 spike — med 5.5, MAD 2.5 (exact
    interpolated percentiles over the 10 values incl. the spike),
    only the spike is beyond med ± 3*MAD."""
    from langscrape_spark.operators.text import robust_outliers

    rows = [(i, "en", float(v)) for i, v in enumerate(list(range(1, 10)) + [1000])]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "v"])
    out = {r["doc_id"]: r for r in robust_outliers(df, "v").collect()}
    assert out[0]["med"] == 5.5
    assert out[0]["mad"] == 2.5
    flagged = sorted(k for k, r in out.items() if r["is_outlier"])
    assert flagged == [9]
    # 9 -> v=1000: |1000-5.5| > 7.5; 1 -> v=2: |2-5.5|=3.5 <= 7.5
    assert out[1]["is_outlier"] is False


def test_robust_outliers_degenerate_and_null(spark):
    """MAD=0 group (majority at the median) flags nothing; NULL value
    keeps a NULL flag; groups are independent."""
    from langscrape_spark.operators.text import robust_outliers

    rows = (
        [(i, "de", 7.0) for i in range(6)]          # constant -> MAD 0
        + [(10, "de", 1e9)]                          # extreme, still MAD 0
        + [(20, "fr", None)]                         # NULL value
        + [(21, "fr", 1.0), (22, "fr", 2.0), (23, "fr", 3.0)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "v"])
    out = {r["doc_id"]: r for r in robust_outliers(df, "v").collect()}
    assert all(out[i]["is_outlier"] is False for i in list(range(6)) + [10])
    assert out[10]["mad"] == 0.0
    assert out[20]["is_outlier"] is None
    assert out[21]["mad"] == 1.0 and out[21]["is_outlier"] is False


def test_robust_outliers_approx_mode_runs(spark):
    from langscrape_spark.operators.text import robust_outliers

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(i % 50)) for i in range(200)],
        ["doc_id", "lang", "v"],
    )
    out = robust_outliers(df, "v", mode="approx").collect()
    assert len(out) == 200
    assert all(r["med"] is not None for r in out)


# ---------------------------------------------------------------------------
# PMI collocations (round 3, q78)
# ---------------------------------------------------------------------------

def test_pmi_collocations_math(spark):
    """'new york' appears 3x in an 11-token corpus: c_xy=3, c_x=c_y=3,
    N_pairs=9 (6+3 across two docs), N_tok=11 ->
    PMI = ln((3/9)/((3/11)^2))."""
    import math
    from langscrape_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "new york new york visit the city"),
         (2, "new york is big")],
        ["doc_id", "text"],
    )
    out = pmi_collocations(docs, min_count=3, top_k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["c_xy"], r["c_x"], r["c_y"]) == ("new", "york", 3, 3, 3)
    assert r["pmi"] == round(math.log((3 / 9) / ((3 / 11) * (3 / 11))), 6)


def test_pmi_min_count_gate_and_short_docs(spark):
    """Pairs under min_count drop even with huge PMI; empty and
    one-token docs contribute no pairs (and no slice error)."""
    from langscrape_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "rare pairing"), (2, "solo"), (3, ""), (4, None),
         (5, "a b a b a b")],
        ["doc_id", "text"],
    )
    out = pmi_collocations(docs, min_count=2, top_k=10).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("rare", "pairing") not in pairs           # count 1 < 2
    assert ("a", "b") in pairs and ("b", "a") in pairs


def test_pmi_topk_tiebreak_deterministic(spark):
    """Symmetric corpus: equal-PMI pairs cut by (w1, w2) ascending."""
    from langscrape_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "x y . z w .") for i in range(5)], ["doc_id", "text"]
    )
    out = pmi_collocations(docs, min_count=5, top_k=2).collect()
    # 'x y' and 'z w' have identical count profiles -> identical PMI;
    # ('. z' and 'y .' likewise lower); cut keeps the 2 highest, and
    # within the tie (w1,w2) ascending picks deterministically.
    assert [(r["w1"], r["w2"]) for r in out] == sorted(
        [(r["w1"], r["w2"]) for r in out]
    ) or out[0]["pmi"] > out[1]["pmi"]
    again = pmi_collocations(docs, min_count=5, top_k=2).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


# ---------------------------------------------------------------------------
# redirect-chain resolution (round 3, q79)
# ---------------------------------------------------------------------------

def test_resolve_redirects_chain_and_hops(spark):
    from langscrape_spark.operators.urls import resolve_redirects

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    out = {r["url"]: r for r in resolve_redirects(edges).collect()}
    assert len(out) == 4
    assert (out["a"]["resolved"], out["a"]["hops"]) == ("d", 3)
    assert (out["b"]["resolved"], out["b"]["hops"]) == ("d", 2)
    assert (out["d"]["resolved"], out["d"]["hops"]) == ("d", 0)
    assert all(r["status"] == "terminal" for r in out.values())


def test_resolve_redirects_cycle_and_self_loop_unresolved(spark):
    from langscrape_spark.operators.urls import resolve_redirects

    edges = spark.createDataFrame(
        [("x", "y"), ("y", "x"), ("s", "s"), ("in", "x")],
        "src string, dst string",
    )
    out = {r["url"]: r for r in resolve_redirects(edges).collect()}
    for u in ("x", "y", "s", "in"):
        assert out[u]["status"] == "unresolved"
        assert out[u]["resolved"] is None and out[u]["hops"] is None


def test_resolve_redirects_cap_and_min_dst_collapse(spark):
    from langscrape_spark.operators.urls import resolve_redirects

    # 40-hop chain: nodes more than 32 hops from the end stay
    # unresolved at max_hops=32; ambiguous src collapses to min(dst)
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)]
    edges = spark.createDataFrame(
        chain + [("amb", "zz"), ("amb", "n39")], "src string, dst string"
    )
    out = {r["url"]: r for r in resolve_redirects(edges, max_hops=32).collect()}
    assert out["n00"]["status"] == "unresolved"      # 40 hops > 32
    assert out["n08"]["status"] == "terminal"        # exactly 32
    assert out["n08"]["hops"] == 32
    assert out["amb"]["resolved"] == "n40"           # min('zz','n39')='n39' -> walks to n40
    assert out["amb"]["hops"] == 2


# ---------------------------------------------------------------------------
# Zipf / vocab coverage (q82) and tf-idf keywords (q83)
# ---------------------------------------------------------------------------

def test_zipf_stats_hand_math(spark):
    from langscrape_spark.operators.text import zipf_stats

    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a b x"), (2, None)],
        "doc_id long, text string",
    )
    rows = {r["rank"]: r for r in zipf_stats(df, top_k=2).collect()}
    # counts: a=4, b=3, c=1, x=1 -> vocab 4, hapax 2, total 9
    assert rows[1]["token"] == "a" and rows[1]["cnt"] == 4
    assert rows[2]["token"] == "b" and rows[2]["cnt"] == 3
    assert rows[2]["cum_count"] == 7
    assert rows[2]["cum_share"] == round(7 / 9, 6)
    for r in rows.values():
        assert r["vocab_size"] == 4
        assert r["hapax_count"] == 2
        assert r["total_tokens"] == 9


def test_zipf_stats_tie_break_is_token_asc(spark):
    from langscrape_spark.operators.text import zipf_stats

    df = spark.createDataFrame(
        [(0, "z q z q m")], "doc_id long, text string"
    )
    out = zipf_stats(df, top_k=3).collect()
    # q and z tie at 2: q first (token asc), then z, then m
    assert [r["token"] for r in out] == ["q", "z", "m"]


def test_tfidf_keywords_hand_math(spark):
    import math

    from langscrape_spark.operators.text import tfidf_keywords

    df = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "cherry shared shared"),
            (2, "durian shared"),
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["rn"]): r for r in tfidf_keywords(df, k=2).collect()}
    idf = lambda df_t: math.log((3 + 1) / (df_t + 1)) + 1.0
    # doc 0: apple tf=2 df=1 beats banana/shared
    r = out[(0, 1)]
    assert r["token"] == "apple" and r["tf"] == 2 and r["df"] == 1
    assert r["score"] == round(2 * idf(1), 6)
    # doc 1: shared tf=2 but df=3 (idf ~ ln(1)+1 = 1) -> score 2.0;
    # cherry tf=1 df=1 -> ln(2)+1 ~ 1.693 -> shared wins rank 1
    assert out[(1, 1)]["token"] == "shared"
    assert out[(1, 1)]["score"] == round(2 * idf(3), 6)
    assert out[(1, 2)]["token"] == "cherry"
    # doc 2 has exactly 2 tokens -> both ranked
    assert out[(2, 1)]["token"] == "durian"
    assert out[(2, 2)]["token"] == "shared"


def test_tfidf_keywords_short_docs_and_ties(spark):
    from langscrape_spark.operators.text import tfidf_keywords

    df = spark.createDataFrame(
        [(0, "bb aa"), (1, ""), (2, None)],
        "doc_id long, text string",
    )
    out = tfidf_keywords(df, k=3).collect()
    # empty/null docs emit nothing; identical (tf, df) ties break token asc
    assert [(r["doc_id"], r["rn"], r["token"]) for r in out] == [
        (0, 1, "aa"), (0, 2, "bb")
    ]


# ---------------------------------------------------------------------------
# Distributed BPE training / encoding (q84/q85)
# ---------------------------------------------------------------------------

def test_bpe_train_textbook_merges(spark):
    """The Sennrich et al. toy corpus: es -> est -> lo -> low."""
    from langscrape_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower"),
         (1, "newest newest newest newest newest newest widest widest widest")],
        "doc_id long, text string")
    out = [(r["lhs"], r["rhs"], r["merged"], r["pair_count"])
           for r in bpe_train(docs, n_merges=4).collect()]
    assert out == [("e", "s", "es", 9), ("es", "t", "est", 9),
                   ("l", "o", "lo", 7), ("lo", "w", "low", 7)]


def test_bpe_merge_run_parity(spark):
    """'aaaa' merging (a,a) left-to-right gives [aa][aa]; 'aaa' gives
    [aa][a] — the fold must not double-merge through its own output."""
    from langscrape_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "aaaa aaa")], "doc_id long, text string")
    rules = bpe_train(docs, n_merges=2).collect()
    # round 1: (a,a) count = 3 (aaaa) + 2 (aaa) = 5
    assert (rules[0]["lhs"], rules[0]["rhs"], rules[0]["pair_count"]) == (
        "a", "a", 5)
    # after round 1: aaaa -> [aa,aa], aaa -> [aa,a]
    # round 2 pairs: (aa,aa)=1, (aa,a)=1 -> tie breaks (a asc, b asc):
    # ('aa','a') < ('aa','aa')
    assert (rules[1]["lhs"], rules[1]["rhs"], rules[1]["pair_count"]) == (
        "aa", "a", 1)


def test_bpe_train_early_stop(spark):
    """Single-char words have no pairs: the loop stops instead of
    emitting null rules."""
    from langscrape_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "a b c a b")], "doc_id long, text string")
    assert bpe_train(docs, n_merges=5).count() == 0


def test_bpe_encode_stats_hand_math(spark):
    from langscrape_spark.operators.bpe import bpe_encode_stats

    docs = spark.createDataFrame(
        [(0, "low low lower"), (1, "low"), (2, ""), (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bpe_encode_stats(docs, n_merges=2).collect()}
    # merges: (l,o) cnt 4, then (lo,w) cnt 4 -> low=[low], lower=[low,e,r]
    assert set(out) == {0, 1}          # empty/null docs drop out
    r0 = out[0]
    assert (r0["n_words"], r0["n_chars"], r0["n_syms"]) == (3, 11, 5)
    assert r0["compression"] == round(11 / 5, 6)
    r1 = out[1]
    assert (r1["n_words"], r1["n_chars"], r1["n_syms"]) == (1, 3, 1)
    assert r1["compression"] == 3.0


def test_bpe_separator_words_excluded(spark):
    """Words containing U+001F are dropped from training AND encoding
    (the fold separator must never occur inside a symbol)."""
    from langscrape_spark.operators.bpe import bpe_encode_stats, bpe_train

    docs = spark.createDataFrame(
        [(0, "ab ab a\x1fb cd")], "doc_id long, text string")
    rules = bpe_train(docs, n_merges=1).collect()
    assert (rules[0]["lhs"], rules[0]["rhs"], rules[0]["pair_count"]) == (
        "a", "b", 2)  # the separator word contributes nothing
    enc = bpe_encode_stats(docs, n_merges=1).collect()[0]
    assert enc["n_words"] == 3  # ab, ab, cd


# ---------------------------------------------------------------------------
# Product quantization (q86)
# ---------------------------------------------------------------------------

def _clustered_vecs(n_clusters=4, per=30, dim=16, spread=0.02):
    """Deterministic well-separated clusters: PQ must recall these."""
    import numpy as np

    centers = np.eye(n_clusters, dim) * 3.0
    rows = []
    i = 0
    for c in range(n_clusters):
        for j in range(per):
            # deterministic small jitter from a hash-free formula
            jit = np.array(
                [((i * 31 + d * 7) % 11 - 5) * spread for d in range(dim)]
            )
            rows.append((i, (centers[c] + jit).tolist()))
            i += 1
    return rows


def test_pq_adc_recall_on_clustered_data(spark):
    """On well-separated clusters, ADC top-k must recall the exact L2
    top-k (PQ loses nothing when subspace structure exists — the
    random-corpus low recall is a data property, not an operator
    bug)."""
    import numpy as np

    from langscrape_spark.operators.ann import pq_adc_topk, pq_codebooks

    rows = _clustered_vecs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_codebooks(df, m=4, ksub=8, iterations=3)
    q = rows[5][1]  # a member of cluster 0
    top = pq_adc_topk(df, q, cbs, k=10).collect()
    V = np.array([r[1] for r in rows])
    d = ((V - np.array(q)) ** 2).sum(1)
    exact = {rows[i][0] for i in np.argsort(d, kind="stable")[:10]}
    approx = {r["vec_id"] for r in top}
    # all ADC hits must come from the query's cluster (ids 0..29)
    assert all(v < 30 for v in approx)
    assert len(exact & approx) >= 8


def test_pq_adc_exact_on_codebook_points(spark):
    """A vector that IS a codebook reconstruction has ADC == exact
    L2^2 to the query (table lookups are exact per-subspace
    distances)."""
    import numpy as np

    from langscrape_spark.operators.ann import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rows = _clustered_vecs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_codebooks(df, m=4, ksub=8, iterations=2)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df, cbs).select("vec_id", "codes").collect()
    }
    q = [0.1] * 16
    adc = {r["vec_id"]: r["adc"] for r in pq_adc_topk(df, q, cbs, k=120).collect()}
    C = np.asarray(cbs)
    for vid in [0, 40, 75, 110]:
        recon = np.concatenate([C[s][codes[vid][s]] for s in range(4)])
        want = float(((np.array(q) - recon) ** 2).sum())
        assert adc[vid] == pytest.approx(want, abs=1e-6)


def test_pq_guards(spark):
    """dim % m != 0 raises; poison rows get NULL codes and are
    excluded from ADC; empty input yields empty codebooks."""
    import pytest as _pytest

    from langscrape_spark.operators.ann import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rows = _clustered_vecs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        pq_codebooks(df, m=5, ksub=4, iterations=1)
    cbs = pq_codebooks(df, m=4, ksub=8, iterations=1)
    pois = spark.createDataFrame(
        [(1000, None), (1001, [1.0] * 3)], "vec_id long, embedding array<double>"
    )
    both = df.unionByName(pois)
    enc = pq_encode(both, cbs)
    got = {r["vec_id"]: r["codes"] for r in enc.where("vec_id >= 1000").collect()}
    assert got == {1000: None, 1001: None}
    top = pq_adc_topk(both, [0.0] * 16, cbs, k=200).collect()
    assert all(r["vec_id"] < 1000 for r in top)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert pq_codebooks(empty, m=4, ksub=8) == []
    # empty codebooks: encode -> NULL codes, ADC -> empty result
    enc0 = pq_encode(df, [])
    assert enc0.where("codes IS NOT NULL").count() == 0
    out0 = pq_adc_topk(df, [0.0] * 16, [], k=5)
    assert out0.columns == ["vec_id", "adc"] and out0.count() == 0


def test_pq_seed_poison_does_not_redefine_dim(spark):
    """A short poison row landing among the md5-first seed candidates
    must neither crash the seed stack (ragged array) nor silently
    redefine the corpus dim — the dim is the MODE of the candidate
    lengths and off-dim candidates are discarded."""
    from langscrape_spark.operators.ann import pq_codebooks, pq_encode

    rows = _clustered_vecs()
    df = spark.createDataFrame(
        rows + [(5000, [9.9] * 4)], "vec_id long, embedding array<double>"
    )
    cbs = pq_codebooks(df, m=4, ksub=8, iterations=1)
    assert len(cbs) == 4 and all(len(c) == 4 for sub in cbs for c in sub)
    enc = pq_encode(df, cbs)
    assert enc.where("vec_id = 5000").collect()[0]["codes"] is None
    assert enc.where("vec_id < 120 AND codes IS NULL").count() == 0


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (q87)
# ---------------------------------------------------------------------------

def test_hll_accuracy_at_known_cardinality(spark):
    """m=256 gives ~1.04/sqrt(256) = 6.5% typical error; assert a
    conservative 15% at 10k distinct values (deterministic hash, so
    this is a regression pin, not a statistical gamble)."""
    from langscrape_spark.operators.sketch import hll_distinct

    df = spark.range(10_000).select(
        F.concat(F.lit("val-"), F.col("id")).alias("v")
    )
    est = hll_distinct(df, "v", p=8).collect()[0]["est"]
    assert abs(est - 10_000) / 10_000 < 0.15, est


def test_hll_small_range_linear_counting(spark):
    """Tiny sets fall into the linear-counting branch and come out
    near-exact."""
    from langscrape_spark.operators.sketch import hll_distinct

    df = spark.range(50).select(
        F.concat(F.lit("x-"), F.col("id")).alias("v")
    )
    est = hll_distinct(df, "v", p=8).collect()[0]["est"]
    assert abs(est - 50) <= 3, est


def test_hll_duplicates_and_nulls_ignored(spark):
    """Duplicates don't move the estimate (register max is idempotent)
    and NULLs are ignored like count(DISTINCT)."""
    from langscrape_spark.operators.sketch import hll_distinct

    base = spark.range(500).select(
        F.concat(F.lit("k-"), F.col("id")).alias("v")
    )
    dup = base.unionAll(base).unionAll(
        spark.createDataFrame([(None,)], "v string")
    )
    e1 = hll_distinct(base, "v", p=8).collect()[0]["est"]
    e2 = hll_distinct(dup, "v", p=8).collect()[0]["est"]
    assert e1 == e2


def test_hll_grouped_matches_per_group_runs(spark):
    """Grouped estimation must equal running the sketch per group —
    the (group, bucket) keying cannot leak values across groups."""
    from langscrape_spark.operators.sketch import hll_distinct

    df = spark.range(2_000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("t-"), F.col("id")).alias("v"),
    )
    grouped = {
        r["g"]: r["est"] for r in hll_distinct(df, "v", ["g"], p=8).collect()
    }
    for g in range(3):
        solo = hll_distinct(df.where(F.col("g") == g), "v", p=8).collect()[0]["est"]
        assert grouped[g] == solo, g


# ---------------------------------------------------------------------------
# Kneser-Ney bigram perplexity (q88)
# ---------------------------------------------------------------------------

def test_kneser_ney_hand_math(spark):
    """Full hand derivation on a 2-doc corpus (vocab covers all
    types, no <unk>)."""
    import math

    from langscrape_spark.operators.text import kneser_ney_ppl

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in kneser_ney_ppl(docs, vocab_size=10).collect()}
    # bigrams: (a,b)x2, (b,a)x1, (a,c)x1 -> n_types=3
    # ctx: a -> cctx=3, n1p_fw=2 ; b -> cctx=1, n1p_fw=1
    # N1+(.b)=1 (a), N1+(.a)=1 (b), N1+(.c)=1 (a); V=3, vp1=4
    denom = 3 + 0.5 * 4
    pc = {w: (1 + 0.5) / denom for w in "abc"}
    D = 0.75
    def pkn(cb, cctx, fw, w):
        return max(cb - D, 0) / cctx + (D * fw / cctx) * pc[w]
    # doc 0: a(first, pc[a]), b|a, a|b, b|a
    lp0 = [math.log(pc["a"]), math.log(pkn(2, 3, 2, "b")),
           math.log(pkn(1, 1, 1, "a")), math.log(pkn(2, 3, 2, "b"))]
    want0 = round(math.exp(-sum(lp0) / 4), 6)
    assert out[0]["n_terms"] == 4
    assert out[0]["ppl"] == pytest.approx(want0, abs=2e-6)
    # doc 1: a(first), c|a
    lp1 = [math.log(pc["a"]), math.log(pkn(1, 3, 2, "c"))]
    want1 = round(math.exp(-sum(lp1) / 2), 6)
    assert out[1]["ppl"] == pytest.approx(want1, abs=2e-6)


def test_kneser_ney_continuation_beats_frequency(spark):
    """The francisco effect: 'locked' is FREQUENT but always follows
    the same context, while 'free' appears after many contexts —
    continuation probability must rank free > locked even though raw
    frequency says otherwise."""
    from langscrape_spark.operators.text import kneser_ney_ppl

    # 'locked' appears 6x, always after 'san'; 'free' 3x after 3
    # different contexts
    docs = spark.createDataFrame(
        [(0, "san locked san locked san locked"),
         (1, "san locked san locked san locked"),
         (2, "one free two free three free")],
        "doc_id long, text string",
    )
    # score two synthetic one-bigram docs against the SAME corpus:
    # unseen context 'zzz' forces pure-backoff behavior... instead
    # compare p_cont directly through doc ppls of (x free) vs
    # (x locked) with x a shared frequent context
    probe = spark.createDataFrame(
        [(10, "one free"), (11, "one locked")], "doc_id long, text string"
    )
    both = docs.unionByName(probe)
    out = {r["doc_id"]: r["ppl"] for r in
           kneser_ney_ppl(both, vocab_size=50).collect()}
    # (one, free) is an OBSERVED bigram; (one, locked) backs off to
    # p_cont(locked) which is low despite locked's high frequency
    assert out[10] < out[11]


def test_kneser_ney_doc_initial_only_word_no_log_zero(spark):
    """A word that only ever starts documents has N1+(.w)=0; the
    smoothed continuation keeps ln finite."""
    import math

    from langscrape_spark.operators.text import kneser_ney_ppl

    docs = spark.createDataFrame(
        [(0, "zqstart a b"), (1, "zqstart a b"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in kneser_ney_ppl(docs, vocab_size=10).collect()}
    assert out[0]["ppl"] is not None and math.isfinite(out[0]["ppl"])
    assert out[2]["ppl"] is None  # empty doc: left-join null like q62


def test_hll_all_null_group_estimates_zero(spark):
    """A group whose values are all NULL must surface with estimate 0
    (count(DISTINCT) semantics), not vanish from the output."""
    from langscrape_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, None), (1, None)],
        "g long, v string",
    )
    out = {r["g"]: r["est"] for r in hll_distinct(df, "v", ["g"], p=8).collect()}
    assert set(out) == {0, 1}
    assert out[1] == 0.0
    assert abs(out[0] - 2) <= 1


# ---------------------------------------------------------------------------
# Count-Min sketch (q89)
# ---------------------------------------------------------------------------

def test_count_min_never_underestimates(spark):
    from langscrape_spark.operators.sketch import cm_build, cm_estimate

    toks = spark.range(5_000).select(
        F.concat(F.lit("t"), (F.col("id") % 300)).alias("w")
    )
    sk = cm_build(toks, "w", d=4, width=64)  # narrow: force collisions
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("exact"))
    out = cm_estimate(exact, sk, "w", d=4, width=64).collect()
    assert len(out) == 300
    assert all(r["est"] >= r["exact"] for r in out)
    # error bound sanity: e/width * total with d=4 holds with huge
    # margin for the vast majority; assert the median overestimate is
    # within the bound (deterministic hash -> a regression pin)
    errs = sorted(r["est"] - r["exact"] for r in out)
    assert errs[len(errs) // 2] <= (2.718281828 / 64) * 5_000


def test_count_min_merge_is_addition(spark):
    """Sketches over two halves summed counter-wise equal the sketch
    of the union — the mergeability contract."""
    from langscrape_spark.operators.sketch import cm_build

    df = spark.range(2_000).select(
        F.concat(F.lit("v"), (F.col("id") % 97)).alias("w"),
        (F.col("id") < 1_000).alias("first_half"),
    )
    whole = {(r["row"], r["bucket"]): r["cnt"]
             for r in cm_build(df, "w", d=2, width=32).collect()}
    a = {(r["row"], r["bucket"]): r["cnt"]
         for r in cm_build(df.where("first_half"), "w", d=2, width=32).collect()}
    b = {(r["row"], r["bucket"]): r["cnt"]
         for r in cm_build(df.where("NOT first_half"), "w", d=2, width=32).collect()}
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole


def test_count_min_unseen_item_and_nulls(spark):
    from langscrape_spark.operators.sketch import cm_build, cm_estimate

    toks = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "w string"
    )
    sk = cm_build(toks, "w", d=4, width=256)
    assert sum(r["cnt"] for r in sk.where("row = 0").collect()) == 3  # NULL ignored
    probe = spark.createDataFrame([("zzz-unseen",)], "w string")
    est = cm_estimate(probe, sk, "w", d=4, width=256).collect()[0]["est"]
    assert est == 0  # no collisions at width 256 with 2 distinct items


def test_count_min_estimate_preserves_duplicates_and_columns(spark):
    """Duplicate item rows each get an output row; user columns named
    row/bucket/cnt survive; weighted build equals occurrence build."""
    import pytest as _pytest

    from langscrape_spark.operators.sketch import cm_build, cm_estimate

    toks = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2, "w string"
    )
    sk = cm_build(toks, "w", d=3, width=64)
    # weighted build from pre-aggregated counts: identical counters
    wsk = cm_build(
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")),
        "w", d=3, width=64, weight_col="cnt",
    )
    assert sorted(map(tuple, sk.collect())) == sorted(map(tuple, wsk.collect()))
    items = spark.createDataFrame(
        [("a", 1, 9), ("a", 2, 9), ("b", 3, 9)],
        "w string, row int, cnt int",
    )
    out = cm_estimate(items, sk, "w", d=3, width=64).collect()
    assert len(out) == 3  # duplicates in (w) preserved, columns intact
    assert {(r["w"], r["row"], r["est"]) for r in out} == {
        ("a", 1, 5), ("a", 2, 5), ("b", 3, 2)
    }
    with _pytest.raises(ValueError):
        cm_estimate(items, sk, "w", d=3, width=64, out="cnt")


# ---------------------------------------------------------------------------
# Entropy quality profile (q90)
# ---------------------------------------------------------------------------

def test_entropy_profile_hand_case(spark):
    """'a a b b' → H_tok = 1 bit; uniform chars → H_char =
    log2(n_distinct) bits; a constant doc has entropy 0 and trips the
    low-entropy gate."""
    import math

    from langscrape_spark.operators.text import entropy_profile

    docs = spark.createDataFrame(
        [
            (1, "a a b b"),
            (2, "x x x x x x"),
            (3, "ab cd"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in entropy_profile(docs).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 4 and r1["n_types"] == 2
    assert r1["token_entropy"] == 1.0  # two equiprobable tokens = 1 bit
    assert r1["ttr"] == 0.5
    # chars of doc1 after whitespace strip: aabb → 1 bit as well
    assert r1["char_entropy"] == 1.0
    r2 = rows[2]
    assert r2["token_entropy"] == 0.0 and r2["is_low_entropy"] == 1
    r3 = rows[3]  # 4 distinct chars, uniform → 2 bits
    assert r3["char_entropy"] == 2.0
    assert r3["token_entropy"] == 1.0
    # 3 bits (8 uniform types) must NOT trip a 2.5-bit gate — the
    # nats-vs-bits unit bug this line pins
    from langscrape_spark.operators.text import entropy_profile as _ep
    eight = spark.createDataFrame(
        [(9, "t0 t1 t2 t3 t4 t5 t6 t7")], "doc_id long, text string"
    )
    r9 = _ep(eight).collect()[0]
    assert r9["token_entropy"] == 3.0 and r9["is_low_entropy"] == 0


def test_entropy_profile_null_and_empty_text(spark):
    """Empty/whitespace-only docs keep their row with NULL entropies."""
    from langscrape_spark.operators.text import entropy_profile

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in entropy_profile(docs).collect()}
    assert len(rows) == 3
    assert rows[1]["token_entropy"] is None
    assert rows[2]["n_tokens"] is None
    assert rows[3]["token_entropy"] == 0.0 and rows[3]["n_tokens"] == 1


# ---------------------------------------------------------------------------
# Dirichlet query likelihood (q91)
# ---------------------------------------------------------------------------

def test_query_likelihood_hand_case(spark):
    """Two-doc corpus, μ=2, query 'a c zzz': zzz (cf=0) is dropped and
    scores equal the naive Σ ln((tf+μ·cf/|C|)/(dl+μ)) computed by hand."""
    import math

    from langscrape_spark.operators.search import (
        build_inverted_index,
        query_likelihood_topk,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    postings, doc_lens = build_inverted_index(docs)
    out = {
        r["doc_id"]: r["score"]
        for r in query_likelihood_topk(
            postings, doc_lens, "a c zzz", k=10, mu=2.0
        ).collect()
    }
    exp1 = math.log(2.8 / 5) + math.log(0.4 / 5)
    exp2 = math.log(0.8 / 4) + math.log(1.4 / 4)
    assert abs(out[1] - exp1) < 1e-9
    assert abs(out[2] - exp2) < 1e-9
    assert out[2] > out[1]


def test_query_likelihood_qtf_and_empty(spark):
    """Duplicate query terms double their contribution; empty / fully
    out-of-vocabulary queries return an empty frame with the schema."""
    from langscrape_spark.operators.search import (
        build_inverted_index,
        query_likelihood_topk,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a a")], "doc_id long, text string"
    )
    postings, doc_lens = build_inverted_index(docs)
    single = {
        r["doc_id"]: r["score"]
        for r in query_likelihood_topk(
            postings, doc_lens, "a", mu=1.0
        ).collect()
    }
    double = {
        r["doc_id"]: r["score"]
        for r in query_likelihood_topk(
            postings, doc_lens, "a a", mu=1.0
        ).collect()
    }
    for d in (1, 2):
        assert abs(double[d] - 2 * single[d]) < 1e-9
    empty = query_likelihood_topk(postings, doc_lens, "   ")
    assert empty.columns == ["doc_id", "score"] and empty.count() == 0
    oov = query_likelihood_topk(postings, doc_lens, "zzz qqq", mu=1.0)
    # every term out-of-vocabulary -> no ranking information -> empty
    assert oov.columns == ["doc_id", "score"] and oov.count() == 0


# ---------------------------------------------------------------------------
# Positional phrase search (q92)
# ---------------------------------------------------------------------------

def test_phrase_match_counts_and_positions(spark):
    """Overlapping occurrences all count ('a a a' contains 'a a'
    twice); 0-based first position; docs without the phrase absent."""
    from langscrape_spark.operators.search import (
        phrase_match,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "x new york city new york"),
            (2, "york new"),
            (3, "a a a"),
        ],
        "doc_id long, text string",
    )
    pos = positional_postings(docs)
    ny = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_match(pos, ["new", "york"]).collect()
    }
    assert ny == {1: (2, 1)}  # doc2 has the reversed pair only
    aa = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_match(pos, ["a", "a"]).collect()
    }
    assert aa == {3: (2, 0)}
    assert phrase_match(pos, []).count() == 0


def test_top_trigram_deterministic_tiebreak(spark):
    """All trigrams unique (count 1) -> lexicographically smallest."""
    from langscrape_spark.operators.search import top_trigram

    docs = spark.createDataFrame(
        [(1, "b c d"), (2, "a b c")], "doc_id long, text string"
    )
    assert top_trigram(docs) == ["a", "b", "c"]
    empty = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    assert top_trigram(empty) == []


# ---------------------------------------------------------------------------
# int8-quantized ANN (q97)
# ---------------------------------------------------------------------------

def test_int8_quantize_codes_and_reconstruction(spark):
    """Codes live in [-127, 127]; the max-|component| dimension hits
    exactly ±127; approx cosine reconstructs the exact one closely; a
    zero vector gets NULL scale/codes."""
    from langscrape_spark.operators.ann import int8_quantize

    rows = [
        (1, [3.0, 4.0, 0.0]),
        (2, [-1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),
    ]
    out = {
        r["vec_id"]: r
        for r in int8_quantize(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        ).collect()
    }
    # v1 normalized = (0.6, 0.8, 0) -> scale = 127/0.8, codes
    # floor((0.6,0.8,0)*158.75+0.5) = (95, 127, 0)
    assert out[1]["qvec"] == [95, 127, 0]
    assert abs(out[1]["scale"] - 127 / 0.8) < 1e-9
    assert out[2]["qvec"] == [-127, 0, 0]
    assert out[3]["scale"] is None and out[3]["qvec"] is None


def test_int8_ann_matches_exact_ranking(spark):
    """On well-separated vectors the int8 top-k ordering equals the
    exact cosine ordering and the approx error is tiny."""
    import math

    from langscrape_spark.operators.ann import (
        cosine_sim,
        int8_ann_topk,
        int8_quantize,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16)).astype("float32")
    query = list(map(float, vecs[5] + 0.01 * rng.normal(size=16)))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    top = int8_ann_topk(int8_quantize(df), query, k=5).collect()
    assert top[0]["vec_id"] == 5  # the planted near-duplicate wins
    # approx within 2% of exact for every returned row
    qn = math.sqrt(sum(x * x for x in query))
    for r in top:
        v = vecs[r["vec_id"]]
        exact = float(np.dot(v, query)) / (float(np.linalg.norm(v)) * qn)
        assert abs(r["approx_cosine"] - exact) < 0.02


# ---------------------------------------------------------------------------
# Temperature mixture weights (q100)
# ---------------------------------------------------------------------------

def test_temperature_mix_hand_math(spark):
    """Two sources 100 vs 400 tokens at α=0.5: tempered weights
    10 vs 20 → shares 1/3 vs 2/3; the small source upsamples 5/3×,
    the big one downsamples 5/6×."""
    from langscrape_spark.operators.sharding import temperature_mix

    docs = spark.createDataFrame(
        [("s1", 100), ("s2", 150), ("s2", 250)],
        "source string, n_tokens long",
    )
    rows = {r["source"]: r for r in temperature_mix(
        docs, alpha=0.5, total_budget=900).collect()}
    s1, s2 = rows["s1"], rows["s2"]
    assert s1["n_tokens"] == 100 and s2["n_tokens"] == 400
    assert s1["raw_share"] == 0.2 and s2["raw_share"] == 0.8
    assert abs(s1["tempered_share"] - round(1 / 3, 6)) < 1e-9
    assert s1["budget_tokens"] == 300 and s2["budget_tokens"] == 600
    assert abs(s1["upsample_factor"] - round(5 / 3, 6)) < 1e-9
    assert abs(s2["upsample_factor"] - round(5 / 6, 6)) < 1e-9


def test_temperature_mix_alpha_extremes(spark):
    """α=1 reproduces raw shares exactly; α=0 is uniform."""
    from langscrape_spark.operators.sharding import temperature_mix

    docs = spark.createDataFrame(
        [("a", 10), ("b", 990)], "source string, n_tokens long"
    )
    one = {r["source"]: r for r in temperature_mix(docs, alpha=1.0).collect()}
    assert all(one[s]["tempered_share"] == one[s]["raw_share"] for s in one)
    zero = {r["source"]: r for r in temperature_mix(docs, alpha=0.0).collect()}
    assert zero["a"]["tempered_share"] == zero["b"]["tempered_share"] == 0.5


# ---------------------------------------------------------------------------
# Curation funnel (q102)
# ---------------------------------------------------------------------------

def test_curation_funnel_first_fail_semantics(spark):
    """A doc failing several gates is killed by the FIRST one only;
    the funnel balances (n_out of stage i == n_in of stage i+1)."""
    from langscrape_spark.operators.filters import curation_funnel

    docs = spark.createDataFrame(
        [(1, 5), (2, 50), (3, 50), (4, 2), (5, 500)],
        "doc_id long, x long",
    )
    gates = [
        ("ge10", F.col("x") >= 10),          # kills 1, 4
        ("le100", F.col("x") <= 100),        # kills 5 (not 1/4 again)
        ("even", F.col("x") % 2 == 0),       # 50, 50 pass
    ]
    rows = {r["stage"]: r for r in curation_funnel(docs, gates).collect()}
    assert (rows[0]["n_in"], rows[0]["n_killed"], rows[0]["n_out"]) == (5, 2, 3)
    assert (rows[1]["n_in"], rows[1]["n_killed"], rows[1]["n_out"]) == (3, 1, 2)
    assert (rows[2]["n_in"], rows[2]["n_killed"], rows[2]["n_out"]) == (2, 0, 2)
    assert rows[0]["kill_rate"] == 0.4
    for i in range(2):
        assert rows[i]["n_out"] == rows[i + 1]["n_in"]


def test_curation_funnel_null_predicate_fails(spark):
    """NULL predicate values count as kills (conservative)."""
    from langscrape_spark.operators.filters import curation_funnel

    docs = spark.createDataFrame(
        [(1, None), (2, 5)], "doc_id long, x long"
    )
    rows = curation_funnel(docs, [("pos", F.col("x") > 0)]).collect()
    assert rows[0]["n_killed"] == 1 and rows[0]["n_out"] == 1


# ---------------------------------------------------------------------------
# Sessionization (q103)
# ---------------------------------------------------------------------------

def test_sessionize_gap_boundary_and_rollup(spark):
    """Gap EXACTLY equal to the timeout stays in-session (> splits);
    per-user isolation; value sums and durations roll up."""
    import datetime as dt

    from langscrape_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: 0s, +1800s (== timeout, same session), +3601s (split)
        (1, t0, 1, 1.0),
        (2, t0 + dt.timedelta(seconds=1800), 1, 2.0),
        (3, t0 + dt.timedelta(seconds=1800 + 1801), 1, 4.0),
        # user 2: single event
        (4, t0, 2, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )
    out = {(r["user_id"], r["session_seq"]): r
           for r in sessionize(df, timeout_sec=1800).collect()}
    s11 = out[(1, 1)]
    assert s11["n_events"] == 2 and s11["value_sum"] == 3.0
    assert s11["duration_sec"] == 1800.0
    s12 = out[(1, 2)]
    assert s12["n_events"] == 1 and s12["value_sum"] == 4.0
    assert out[(2, 1)]["n_events"] == 1
    assert len(out) == 3


def test_sessionize_tie_break_deterministic(spark):
    """Two events with identical timestamps order by event_id and land
    in one session; output is stable across runs."""
    import datetime as dt

    from langscrape_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(2, t0, 1, 1.0), (1, t0, 1, 2.0)],
        "event_id long, ts timestamp_ntz, user_id long, value double",
    )
    a = sorted(map(tuple, sessionize(df).collect()))
    b = sorted(map(tuple, sessionize(df).collect()))
    assert a == b and a[0][2] == 2  # one session of two events


# ---------------------------------------------------------------------------
# Content-defined chunking (q104)
# ---------------------------------------------------------------------------

def test_cdc_chunks_cover_and_order(spark):
    """Chunks partition the token stream: start positions are the
    running sum of chunk lengths, every token covered exactly once."""
    from langscrape_spark.operators.text import cdc_chunks

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(30)
    rows = cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for doc, chunks in by_doc.items():
        pos = 0
        for c in chunks:
            assert c["start_pos"] == pos
            pos += c["n_tokens"]


def test_cdc_chunks_survive_prefix_edit(spark):
    """Prepending tokens shifts offsets but chunk HASHES after the
    first boundary survive — the content-defined property fixed-stride
    chunking lacks."""
    from langscrape_spark.operators.text import cdc_chunks

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(20).selectExpr("doc_id", "text")
    edited = base.selectExpr(
        "doc_id + 100000 AS doc_id",
        "concat('zz yy xx ', text) AS text",
    )
    out = cdc_chunks(base.unionByName(edited)).collect()
    orig = {r["chunk_hash"] for r in out if r["doc_id"] < 100000}
    edit = {r["chunk_hash"] for r in out if r["doc_id"] >= 100000}
    shared = orig & edit
    # at least half the original chunks must survive the edit
    # (everything after each doc's first boundary is untouched)
    assert len(shared) >= len(orig) * 0.5, (len(shared), len(orig))
    # sanity: the edit did change SOMETHING
    assert edit != orig


def test_sessionize_null_ts_dropped(spark):
    import datetime as dt

    from langscrape_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, 1.0), (2, None, 1, 9.0)],
        "event_id long, ts timestamp_ntz, user_id long, value double",
    )
    out = sessionize(df).collect()
    assert len(out) == 1 and out[0]["n_events"] == 1
    assert out[0]["value_sum"] == 1.0


def test_cdc_chunk_hash_separator_no_collision(spark):
    """['ab','c'] and ['a','bc'] must hash differently."""
    from langscrape_spark.operators.text import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "ab c"), (2, "a bc")], "doc_id long, text string"
    )
    out = cdc_chunks(docs).collect()
    h = {}
    for r in out:
        h.setdefault(r["doc_id"], []).append(r["chunk_hash"])
    assert set(h[1]) != set(h[2])


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (q106)
# ---------------------------------------------------------------------------

def test_rrf_fuse_hand_math_and_scale_invariance(spark):
    """RRF ignores score scales: multiplying one ranker's scores by
    1000 changes nothing; scores equal sum(1/(60+rank))."""
    from langscrape_spark.operators.search import rrf_fuse

    r1 = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id long, score double"
    )
    r2 = spark.createDataFrame(
        [(2, 900.0), (3, 800.0), (4, 700.0)], "doc_id long, score double"
    )
    out = {r["doc_id"]: (r["rrf_score"], r["n_rankers"])
           for r in rrf_fuse([r1, r2], k=10).collect()}
    assert out[2] == (round(1 / 62 + 1 / 61, 6), 2)  # rank 2 + rank 1
    assert out[3] == (round(1 / 63 + 1 / 62, 6), 2)
    assert out[1] == (round(1 / 61, 6), 1)
    assert out[4] == (round(1 / 63, 6), 1)
    # doc 2 (high in both) must beat doc 1 (top of one)
    assert out[2][0] > out[1][0]
    scaled = r2.selectExpr("doc_id", "score / 1000 AS score")
    out2 = {r["doc_id"]: r["rrf_score"]
            for r in rrf_fuse([r1, scaled], k=10).collect()}
    assert out2 == {d: v[0] for d, v in out.items()}


def test_rrf_fuse_topk_cut_and_ties(spark):
    from langscrape_spark.operators.search import rrf_fuse

    r = spark.createDataFrame(
        [(i, 1.0) for i in range(5)], "doc_id long, score double"
    )
    out = rrf_fuse([r], k=3).collect()
    # all scores tie -> rank by doc_id -> docs 0,1,2 kept
    assert [x["doc_id"] for x in out] == [0, 1, 2]


# ---------------------------------------------------------------------------
# MMR diversification (q107)
# ---------------------------------------------------------------------------

def test_mmr_prefers_diverse_over_redundant(spark):
    """Three near-identical top hits + one orthogonal mid hit: plain
    top-2 takes two clones; MMR's second pick is the orthogonal one."""
    from langscrape_spark.operators.ann import mmr_select

    # query points between doc1's and doc4's directions so both are
    # equally relevant, but doc4 is ORTHOGONAL to doc1 while docs 2/3
    # are clones of doc1 (their max-sim penalty eats their score)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # clone of 1
        (3, [0.998, 0.02, 0.0, 0.0]),   # clone of 1
        (4, [0.0, 0.0, 1.0, 0.0]),      # orthogonal to the clones,
                                        # same relevance as doc 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_select(df, [1.0, 0.0, 1.0, 0.0], pool=4, k=2, lam=0.75)
    picks = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert picks[0] == 1          # best relevance first (tie -> min id)
    assert picks[1] == 4          # diversity beats the clones


def test_mmr_determinism_and_k_bound(spark):
    from langscrape_spark.operators.ann import mmr_select

    rows = [(i, [1.0, float(i)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = [tuple(r) for r in mmr_select(df, [1.0, 0.0], pool=5, k=5).collect()]
    b = [tuple(r) for r in mmr_select(df, [1.0, 0.0], pool=5, k=5).collect()]
    assert a == b
    assert len(a) == 3  # k capped by pool size, no crash
    assert [r[0] for r in a] == [1, 2, 3]  # ranks contiguous


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (sketch-prune-verify)
# ---------------------------------------------------------------------------

def _naive_heavy(rows, phi_den):
    from collections import Counter

    c = Counter(rows)
    n = len(rows)
    return sorted(
        (t, f) for t, f in c.items() if f * phi_den > n
    )


def test_mg_heavy_hitters_exact_under_skew(spark):
    """Adversarial layout: heavy terms scattered across partitions
    among a large distractor vocabulary, with counter budget (8) far
    below the vocabulary — the candidate superset must still contain
    every true heavy hitter and the verify pass must make the output
    exactly the naive answer."""
    from langscrape_spark.operators.sketch import mg_heavy_hitters

    rows = []
    # two genuinely heavy terms (~20% and ~12.5%)
    rows += ["hot"] * 400 + ["warm"] * 250
    # one term JUST above the 1/9 threshold and one just below
    rows += ["edge_above"] * 230 + ["edge_below"] * 220
    # distractors: 900 singletons
    rows += [f"d{i}" for i in range(900)]
    n = len(rows)
    assert 230 * 9 > n and 220 * 9 <= n  # the boundary is real
    df = spark.createDataFrame(
        [(t,) for t in rows], "term string"
    ).repartition(8)  # hash-scatter every term across partitions
    got = sorted(
        (r.term, r.freq)
        for r in mg_heavy_hitters(
            df, "term", k_counters=8, phi_den=9
        ).collect()
    )
    assert got == _naive_heavy(rows, 9)
    assert ("edge_above", 230) in got and all(
        t != "edge_below" for t, _ in got
    )


def test_mg_heavy_hitters_share_nulls_and_empty(spark):
    from langscrape_spark.operators.sketch import mg_heavy_hitters

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [(None,)] * 5, "term string"
    )
    out = {
        r.term: (r.freq, r.share)
        for r in mg_heavy_hitters(
            df, "term", k_counters=4, phi_den=4
        ).collect()
    }
    # NULLs ignored on BOTH sides: total = 9, threshold freq*4 > 9
    assert out == {"a": (6, round(6 / 9, 6)), "b": (3, round(3 / 9, 6))}
    empty = spark.createDataFrame([], "term string")
    assert mg_heavy_hitters(empty, "term").count() == 0


def test_mg_heavy_hitters_rejects_bad_phi(spark):
    from langscrape_spark.operators.sketch import mg_heavy_hitters

    df = spark.createDataFrame([("a",)], "term string")
    with pytest.raises(ValueError):
        mg_heavy_hitters(df, "term", k_counters=8, phi_den=10)


# ---------------------------------------------------------------------------
# deterministic k-means
# ---------------------------------------------------------------------------

def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: after 2 rounds every point must sit
    with its blob, regardless of which blob ids seeded the centroids."""
    from langscrape_spark.operators.clustering import kmeans_lloyd

    blobs = {0: 0.0, 1: 5.0, 2: -5.0}
    rows = []
    for i in range(30):
        b = i % 3
        # small deterministic jitter, well inside the separation
        vec = [blobs[b] + ((i * 7 + d) % 5) * 0.01 for d in range(8)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=3, iterations=2).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cluster)
    # each blob maps to exactly one cluster, all three distinct
    assert all(len(c) == 1 for c in by_blob.values())
    assert len(set.union(*by_blob.values())) == 3


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """Two IDENTICAL seed points: every point ties to the lower cid,
    cluster 1 goes empty and must keep its centroid (not NaN out) —
    the final assignment still ties everything to cluster 0."""
    from langscrape_spark.operators.clustering import kmeans_lloyd

    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=2, iterations=2).collect()
    assert {r.cluster for r in out} == {0}
    assert all(r.dist == 0.0 for r in out)


def test_kmeans_requires_k_points(spark):
    from langscrape_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=2)


# ---------------------------------------------------------------------------
# readability + grid quantiles
# ---------------------------------------------------------------------------

def test_readability_hand_math(spark):
    from langscrape_spark.operators.text import readability_profile

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    rows = readability_profile(df).collect()
    assert len(rows) == 1  # blank and NULL docs drop out
    r = rows[0]
    # words: the/cat/sat./it/ran! -> 5; syllables 1 each; sentences 2
    assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
    assert r.flesch == round(206.835 - 1.015 * 2.5 - 84.6 * 1.0, 6)
    assert r.fk_grade == round(0.39 * 2.5 + 11.8 * 1.0 - 15.59, 6)


def test_readability_min_floors(spark):
    """No terminator -> 1 sentence; vowel-less word -> 1 syllable."""
    from langscrape_spark.operators.text import readability_profile

    df = spark.createDataFrame(
        [(1, "tsk tsk brrr")], "doc_id long, text string"
    )
    r = readability_profile(df).collect()[0]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (3, 1, 3)


def test_grid_quantiles_matches_definition(spark):
    """100 grouped values vs the literal type-1 definition on the
    quantized grid."""
    import math

    from langscrape_spark.operators.sharding import grid_quantiles

    rows = [("g1", (i * 37 % 100) / 7.0) for i in range(100)]
    rows += [("g2", (i * 13 % 50) / 3.0) for i in range(60)]
    df = spark.createDataFrame(rows, "grp string, v double")
    fr = ((1, 4), (1, 2), (3, 4), (9, 10))
    got = {
        (r.grp, r.q_num, r.q_den): r.value
        for r in grid_quantiles(
            df, "v", fractions=fr, scale=10, group_cols=["grp"]
        ).collect()
    }
    from collections import defaultdict

    by = defaultdict(list)
    for g, v in rows:
        by[g].append(math.floor(v * 10))
    for g, cells in by.items():
        cells.sort()
        n = len(cells)
        for num, den in fr:
            pos = math.ceil(n * num / den)
            assert got[(g, num, den)] == cells[pos - 1] / 10.0


def test_grid_quantiles_ungrouped_nulls_empty(spark):
    from langscrape_spark.operators.sharding import grid_quantiles

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "v double"
    )
    got = {
        (r.q_num, r.q_den): r.value
        for r in grid_quantiles(
            df, "v", fractions=((1, 2), (1, 1)), scale=1
        ).collect()
    }
    # n=4 (NULL excluded): median = 2nd smallest = 2.0, max = 4.0
    assert got == {(1, 2): 2.0, (1, 1): 4.0}
    empty = spark.createDataFrame([], "v double")
    assert grid_quantiles(empty, "v").count() == 0


def test_sequence_pack_invariants(spark):
    from langscrape_spark.operators.sharding import sequence_pack

    # token counts chosen to straddle: 300+300 crosses the 512
    # boundary; 1200 spans 3+ windows; 0-token doc must vanish.
    rows = [(i, t) for i, t in enumerate([300, 300, 1200, 10, 0, 512, 7])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    segs = sequence_pack(df, "n_tokens", 512).collect()
    total = sum(t for _, t in rows)

    # Per-doc: segments are contiguous in the doc and sum to n_tokens.
    by_doc = {}
    for r in segs:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 4 not in by_doc  # the 0-token doc
    for doc_id, n_tokens in rows:
        if n_tokens == 0:
            continue
        parts = sorted(by_doc[doc_id], key=lambda r: r.seg_start_in_doc)
        assert parts[0].seg_start_in_doc == 0
        assert sum(p.seg_len for p in parts) == n_tokens
        off = 0
        for p in parts:
            assert p.seg_start_in_doc == off
            assert 1 <= p.seg_len <= 512
            off += p.seg_len

    # Per-sequence: full 512 tokens except the last window, no overlap.
    by_seq = {}
    for r in segs:
        by_seq.setdefault(r.seq_id, []).append(r)
    n_seqs = -(-total // 512)
    assert sorted(by_seq) == list(range(n_seqs))
    for sid, parts in by_seq.items():
        parts.sort(key=lambda r: r.seg_start_in_seq)
        want = 512 if sid < n_seqs - 1 else total - 512 * (n_seqs - 1)
        assert sum(p.seg_len for p in parts) == want
        off = 0
        for p in parts:
            assert p.seg_start_in_seq == off
            off += p.seg_len


def test_edit_distance_pairs_vs_bruteforce(spark):
    from langscrape_spark.operators.editjoin import edit_distance_pairs

    words = [
        "node", "nodes", "nod", "mode", "node1", "onde", "abc", "abd",
        "bacd", "abcd", "", "a", "b", "ab", "ba", "kitten", "sitten",
        "sittin", "sitting", "flaw", "flaws", "lawn", "config", "confib",
        "configx", "conzzz",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    for k in (1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_pairs(df, "w", "w", max_edit=k).collect()
        }
        exp = {
            (min(a, b), max(a, b), lev(a, b))
            for i, a in enumerate(words)
            for b in words[i + 1:]
            if lev(a, b) <= k
        }
        assert got == exp, f"k={k}: missing {exp - got}, extra {got - exp}"


def test_edit_distance_hot_bucket_guard(spark):
    from langscrape_spark.operators.editjoin import edit_distance_pairs

    # 50 ids sharing one string = a hot variant cluster; guard drops it
    rows = [(i, "samestr") for i in range(50)] + [(100, "uniq"), (101, "uniqx")]
    df = spark.createDataFrame(rows, "id long, s string")
    got = edit_distance_pairs(df, "s", "id", max_edit=1, max_bucket=10).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(100, 101)}
    # guard off: the cluster's 1225 ed=0 pairs all come back
    full = edit_distance_pairs(df, "s", "id", max_edit=1, max_bucket=None)
    assert full.count() == 50 * 49 // 2 + 1


def test_zorder_files_are_small_rectangles(spark):
    from langscrape_spark.operators.layout import zorder_file_stats

    # Uniform 128x128 grid: 16 z-range files fix the top 2 bits of
    # BOTH bucket ids, so every file's bounding rectangle is exactly
    # one 64x64 bucket quadrant — pruning works on either dimension.
    rows = [(float(x), float(y)) for x in range(128) for y in range(128)]
    df = spark.createDataFrame(rows, "x double, y double")
    stats = zorder_file_stats(
        df, F.col("x"), F.col("y"), bits=8, files=16
    ).collect()
    assert len(stats) == 16
    assert sum(r.n_rows for r in stats) == 128 * 128
    for r in stats:
        assert r.xb_max - r.xb_min <= 63, r
        assert r.yb_max - r.yb_min <= 63, r


def test_morton_interleave_roundtrip(spark):
    from langscrape_spark.operators.layout import morton_col

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 170, 255) for y in (0, 2, 7, 85, 255)],
        "xb long, yb long",
    )
    got = df.select("xb", "yb", morton_col(F.col("xb"), F.col("yb"), 8).alias("z")).collect()
    for r in got:
        z = sum(((r.xb >> i) & 1) << (2 * i) for i in range(8)) + sum(
            ((r.yb >> i) & 1) << (2 * i + 1) for i in range(8)
        )
        assert r.z == z


def test_js_divergence_bounds_and_symmetry(spark):
    from langscrape_spark.operators.snapshots import unigram_js_divergence

    old = spark.createDataFrame(
        [("a", "x x y"), ("b", "cat dog"), ("c", "p q r")],
        "host string, text string",
    )
    new = spark.createDataFrame(
        [("a", "x x y"), ("b", "bird fish"), ("c", "p q s")],
        "host string, text string",
    )
    rows = {r.host: r for r in unigram_js_divergence(old, new).collect()}
    # identical distribution -> 0 bits; disjoint vocab -> exactly 1 bit
    assert rows["a"].js_bits == 0.0
    assert rows["a"].vocab_common == rows["a"].vocab_old == 2
    assert rows["b"].js_bits == 1.0
    assert rows["b"].vocab_common == 0
    assert 0.0 < rows["c"].js_bits < 1.0
    # symmetry
    swapped = {
        r.host: r for r in unigram_js_divergence(new, old).collect()
    }
    for h in rows:
        assert swapped[h].js_bits == rows[h].js_bits
        assert swapped[h].vocab_old == rows[h].vocab_new


def test_cusum_prefix_identity_matches_direct_recurrence(spark):
    import datetime as dt

    from langscrape_spark.operators.anomaly import cusum_bursts

    # planted burst: host A quiet then spikes in buckets 12-15;
    # host B uniform (never alarms).
    base = dt.datetime(2026, 1, 1)
    rows = []
    for b in range(16):
        for _ in range(3):
            rows.append(("B", base + dt.timedelta(hours=b)))
        n = 20 if b >= 12 else 1
        for _ in range(n):
            rows.append(("A", base + dt.timedelta(hours=b)))
    # pin the global range exactly to [0h, 15h)+eps via endpoints
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = {
        (r.g, r.bucket): r
        for r in cusum_bursts(df, "g", "ts", buckets=16).collect()
    }
    for g in ("A", "B"):
        counts = [got[(g, b)].n_events for b in range(16)]
        mu = sum(counts) / 16.0
        s = 0.0
        for b, n in enumerate(counts):
            s = max(0.0, s + (n - mu - 0.25 * mu))
            assert abs(got[(g, b)].cusum - s) < 1e-6, (g, b)
            assert got[(g, b)].alarm == (1 if s > 2.0 * mu else 0)
    assert any(got[("A", b)].alarm for b in range(12, 16))
    assert not any(got[("B", b)].alarm for b in range(16))


def test_path_prefix_rollup_trap_signature(spark):
    from langscrape_spark.operators.urls import path_prefix_rollup

    urls = [f"https://ex.com/cal/{d}" for d in range(30)] + [
        "https://ex.com/blog/post1",
        "https://ex.com/blog/post2",
        "https://ex.com/about",
        "https://ex.com/blog/post1?utm=x",  # query stripped -> same leaf
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = {
        (r.prefix, r.depth): r for r in path_prefix_rollup(df).collect()
    }
    root = rows[("/", 0)]
    assert root.n_pages == 34 and root.n_children == 3
    cal = rows[("/cal", 1)]
    assert cal.n_pages == 30 and cal.n_children == 30  # trap signature
    blog = rows[("/blog", 1)]
    assert blog.n_pages == 3 and blog.n_children == 2
    assert ("/about", 1) not in rows  # leaf file, not a directory


def test_textrank_hub_word_wins_and_is_deterministic(spark):
    from langscrape_spark.operators.textrank import textrank_keywords

    # 'spark' is adjacent to every other word -> highest degree -> top
    docs = spark.createDataFrame(
        [
            (1, "spark engine spark shuffle spark join spark agg"),
            (2, "tiny"),
            (3, "x x x"),  # only self-adjacency -> uniform scores
        ],
        "doc_id long, text string",
    )
    rows = textrank_keywords(docs, top_k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc[1][0].word == "spark" and by_doc[1][0].rank == 1
    # single-token and self-adjacent docs still rank (uniform score)
    assert [r.word for r in sorted(by_doc[2], key=lambda r: r.rank)] == ["tiny"]
    assert by_doc[3][0].word == "x" and by_doc[3][0].score > 0
    again = textrank_keywords(docs, top_k=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ema_over_steps_matches_recursion(spark):
    from langscrape_spark.operators.snapshots import (
        ema_over_steps,
        ema_weights,
    )

    vals = {"a": [0.1, 0.5, 0.9], "b": [1.0, 1.0, 1.0]}
    rows = [
        (g, i + 1, v) for g, vs in vals.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "g string, step int, v double")
    got = {
        r.g: r
        for r in ema_over_steps(df, "g", "step", "v", 0.25, 3).collect()
    }
    for g, vs in vals.items():
        e = vs[0]
        for v in vs[1:]:
            e = 0.25 * v + 0.75 * e
        assert abs(got[g].ema - e) < 1e-6, g
        assert got[g].last_value == round(vs[-1], 6)
    # constant series is a fixed point
    assert got["b"].ema == 1.0
    # weights sum to 1
    assert abs(sum(ema_weights(0.25, 5)) - 1.0) < 1e-12


def test_zorder_rejects_bad_file_counts(spark):
    from langscrape_spark.operators.layout import zorder_file_stats

    df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    for bad in (0, -4, 3, 1 << 20):
        with pytest.raises(ValueError):
            zorder_file_stats(df, F.col("x"), F.col("y"), bits=8, files=bad)


def test_skyline_2d_matches_naive(spark):
    from langscrape_spark.operators.splits import skyline_2d

    pts = [
        (1, 1.0, 9.0), (2, 2.0, 8.0), (3, 3.0, 7.0),  # frontier chain
        (4, 2.0, 7.0),   # dominated by 2
        (5, 3.0, 7.0),   # exact tie with 3 -> both survive
        (6, 0.5, 9.0),   # dominated by 1 (same y, smaller x)
        (7, 9.0, 0.0),   # frontier (max x)
        (8, 1.0, 1.0),   # dominated
    ]
    df = spark.createDataFrame(pts, "doc_id long, x double, y double")
    got = {r.id for r in skyline_2d(df, "x", "y", "doc_id").collect()}
    naive = {
        i
        for i, x, y in pts
        if not any(
            bx >= x and by >= y and (bx > x or by > y)
            for _, bx, by in pts
        )
    }
    assert got == naive == {1, 2, 3, 5, 7}
    # on-grid input: quantization is identity, exact path reproduced
    grid_same = {
        r.id for r in skyline_2d(df, "x", "y", "doc_id", x_grid=0.5).collect()
    }
    assert grid_same == naive
    # coarse grid: x buckets to floor(x/2)*2 — ids 1/6/8 land in
    # bucket 0, 2/3/4/5 in bucket 2, 7 in bucket 8; survivors are the
    # per-bucket best-y rows with strictly-rising y toward smaller x
    grid2 = {
        (r.id, r.x) for r in
        skyline_2d(df, "x", "y", "doc_id", x_grid=2.0).collect()
    }
    assert grid2 == {(1, 0.0), (6, 0.0), (2, 2.0), (7, 8.0)}
    with pytest.raises(ValueError):
        skyline_2d(df, "x", "y", "doc_id", x_grid=0.0)


def test_ks_statistic_exact_rational(spark):
    from langscrape_spark.operators.snapshots import ks_statistic

    old = spark.createDataFrame(
        [("s", v) for v in [1.0, 2.0, 3.0, 4.0]]
        + [("t", v) for v in [1.0, 1.0, 2.0]],
        "source string, v double",
    )
    new = spark.createDataFrame(
        [("s", v) for v in [3.0, 4.0, 5.0, 6.0]]
        + [("t", v) for v in [1.0, 1.0, 2.0]],
        "source string, v double",
    )
    rows = {r.source: r for r in ks_statistic(old, new, "v").collect()}
    # s: n=m=4; F_old-F_new max at v=2: |2*4 - 0*4| = 8 -> 8/16 = 0.5
    s = rows["s"]
    assert (s.n_old, s.n_new, s.ks_num, s.ks_den) == (4, 4, 8, 16)
    assert s.ks == 0.5
    # identical samples -> 0
    t = rows["t"]
    assert t.ks_num == 0 and t.ks == 0.0


# -- Max-Score threshold retrieval (operators/search.py) --


def test_bm25_maxscore_matches_full_scan(spark):
    """The two-tier Max-Score plan must return EXACTLY the docs the
    unpruned BM25 scan scores >= theta — the sum-of-idf bound
    dominates the score, so tier 1 can never drop a qualifier."""
    from langscrape_spark.operators.search import (
        bm25_maxscore,
        bm25_topk,
        build_inverted_index,
    )

    rows = []
    for i in range(60):
        # 'rare' appears in 3 docs (high idf), 'common' in all of them
        words = ["common"] * (1 + i % 5)
        if i % 20 == 0:
            words += ["rare", "rare"]
        words += [f"filler{i % 7}"] * (i % 3)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings, doc_lens = build_inverted_index(docs)
    postings, doc_lens = postings.persist(), doc_lens.persist()

    full = {
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(
            postings, doc_lens, "rare common", k=10_000
        ).collect()
    }
    for theta in (0.05, 0.5, 2.0, 50.0):
        got = {
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_maxscore(
                postings, doc_lens, "rare common", theta=theta
            ).collect()
        }
        exp = {(d, s) for d, s in full if s >= theta}
        assert got == exp, f"theta={theta}"

    # empty / absent-term edges
    assert bm25_maxscore(postings, doc_lens, "", theta=0.0).count() == 0
    assert (
        bm25_maxscore(postings, doc_lens, "zzz", theta=0.0).count() == 0
    )
    postings.unpersist(), doc_lens.unpersist()


def test_bm25_maxscore_bound_actually_prunes(spark):
    """With a high theta only reachable via the rare term, tier 1 must
    shrink the exact-scoring input to the rare docs: the bound of a
    common-only doc is idf('common'), which is below theta by
    construction. Asserted via the returned set being exactly the
    rare docs AND the bound math: sum-idf of common-only docs < theta."""
    import math

    from langscrape_spark.operators.search import (
        bm25_maxscore,
        build_inverted_index,
    )

    n = 50
    rows = [
        (i, "common rare" if i < 2 else "common plain")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings, doc_lens = build_inverted_index(docs)

    idf_common = math.log(1.0 + (n - n + 0.5) / (n + 0.5))
    idf_rare = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))
    # above the common-only bound (idf_common ~ 0.01) but below the
    # rare docs' exact score (~ idf_rare/2.2 + eps)
    theta = 0.4 * idf_rare
    assert idf_common < theta
    got = sorted(
        r["doc_id"]
        for r in bm25_maxscore(
            postings, doc_lens, "common rare", theta=theta
        ).collect()
    )
    assert got == [0, 1]

    # observe tier 1 directly: the bound must shrink the exact-scoring
    # input to the 2 rare docs (the final score>=theta filter would
    # hide a no-op bound — both return [0, 1])
    from langscrape_spark.operators.search import (
        _bm25_prepare,
        _maxscore_candidates,
    )

    hits, idf_tbl, _ = _bm25_prepare(postings, doc_lens, "common rare")
    cand = sorted(
        r["doc_id"]
        for r in _maxscore_candidates(hits, idf_tbl, theta).collect()
    )
    assert cand == [0, 1]


def test_ks_statistic_one_sided_group_reports_null(spark):
    """A source present in only one sample (the disappeared-source
    drift alarm) must be REPORTED with ks NULL, not crash the job
    under ANSI (0/0); and huge-sample cross-products go through
    decimal(38,0), so n*m past BIGINT can't overflow the plan."""
    from langscrape_spark.operators.snapshots import ks_statistic

    old = spark.createDataFrame(
        [("s", 1.0), ("s", 2.0), ("gone", 3.0)], "source string, v double"
    )
    new = spark.createDataFrame([("s", 1.5)], "source string, v double")
    rows = {r.source: r for r in ks_statistic(old, new, "v").collect()}
    g = rows["gone"]
    assert (g.n_old, g.n_new) == (1, 0)
    assert int(g.ks_den) == 0 and g.ks is None
    s = rows["s"]
    assert s.n_old == 2 and s.n_new == 1 and s.ks is not None


# -- UniMax allocation (operators/sharding.py) --


def test_unimax_waterfilling_hand_case(spark):
    """caps (×2 epochs): a=20, b=40, c=200, B=100. a capped
    (20·3=60 ≤ 100); b NOT capped (40·2=80 > 100−20=80? no: 80 ≤ 80
    capped too); c gets the rest 40 < its 200 cap."""
    from langscrape_spark.operators.sharding import unimax_allocation

    docs = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 100)],
        "source string, n_tokens long",
    )
    out = {r.source: r for r in
           unimax_allocation(docs, total_budget=100, epoch_cap=2).collect()}
    assert out["a"].capped and out["a"].alloc == 20.0
    assert out["b"].capped and out["b"].alloc == 40.0
    assert not out["c"].capped and out["c"].alloc == 40.0
    assert out["c"].epochs_used == 0.4
    # budget exactly exhausted
    assert sum(r.alloc for r in out.values()) == 100.0


def test_unimax_all_capped_and_all_uniform(spark):
    from langscrape_spark.operators.sharding import unimax_allocation

    docs = spark.createDataFrame(
        [("a", 10), ("b", 20)], "source string, n_tokens long"
    )
    # huge budget: everything capped at epoch_cap·n, budget unused
    big = {r.source: r for r in
           unimax_allocation(docs, total_budget=10_000, epoch_cap=3).collect()}
    assert all(r.capped for r in big.values())
    assert big["a"].alloc == 30.0 and big["b"].alloc == 60.0
    # tiny budget: nothing capped, equal shares
    small = {r.source: r for r in
             unimax_allocation(docs, total_budget=9, epoch_cap=1).collect()}
    assert not any(r.capped for r in small.values())
    assert small["a"].alloc == 4.5 and small["b"].alloc == 4.5


def test_unimax_matches_sequential_reference(spark):
    """The window/prefix form must equal the textbook sequential
    water-filling loop on a skewed 9-source corpus."""
    from langscrape_spark.operators.sharding import unimax_allocation

    rows = [(f"s{i}", 5 + (i * 37) % 113) for i in range(9)]
    docs = spark.createDataFrame(rows, "source string, n_tokens long")
    B, c = 300, 2
    got = {r.source: round(r.alloc, 6) for r in
           unimax_allocation(docs, total_budget=B, epoch_cap=c).collect()}
    # reference loop
    caps = sorted(((c * n, s) for s, n in rows))
    exp, rem, k = {}, B, len(caps)
    for cap, s in caps:
        if cap * k <= rem:
            exp[s] = float(cap); rem -= cap; k -= 1
        else:
            share = rem / k
            for cap2, s2 in caps:
                if s2 not in exp:
                    exp[s2] = round(share, 6)
            break
    assert got == exp


# -- Spearman rank agreement (operators/ranking.py) --


def test_spearman_exact_cases(spark):
    from langscrape_spark.operators.ranking import spearman_rho

    # perfect agreement, perfect reversal, and a known middle case
    rows = [
        ("agree", i, float(i), float(i * 10)) for i in range(1, 6)
    ] + [
        ("rev", i, float(i), float(-i)) for i in range(1, 6)
    ] + [
        # scipy.stats.spearmanr([1,2,3,4,5],[3,1,2,5,4]) = 0.6
        ("mid", i, float(i), float(v))
        for i, v in zip(range(1, 6), [3, 1, 2, 5, 4])
    ]
    df = spark.createDataFrame(
        rows, "g string, id long, x double, y double"
    )
    out = {r.g: r for r in
           spearman_rho(df, "x", "y", id_col="id",
                        group_cols=["g"]).collect()}
    assert out["agree"].rho == 1.0 and out["agree"].sum_d2 == 0
    assert out["rev"].rho == -1.0
    assert out["mid"].rho == 0.6 and out["mid"].sum_d2 == 8


def test_spearman_null_rows_and_singleton(spark):
    from langscrape_spark.operators.ranking import spearman_rho

    df = spark.createDataFrame(
        [("g", 1, 1.0, 2.0), ("g", 2, None, 3.0), ("s", 1, 1.0, 1.0)],
        "g string, id long, x double, y double",
    )
    out = {r.g: r for r in
           spearman_rho(df, "x", "y", id_col="id",
                        group_cols=["g"]).collect()}
    # NULL x drops the row; n=1 groups report NULL rho (0/0 guarded)
    assert out["g"].n == 1 and out["g"].rho is None
    assert out["s"].n == 1 and out["s"].rho is None


# -- exact AUC (operators/classifier.py::auc_exact) --


def test_auc_exact_hand_cases(spark):
    from langscrape_spark.operators.classifier import auc_exact

    rows = (
        # perfect separation -> 1.0
        [("perf", 0.1, 0), ("perf", 0.2, 0), ("perf", 0.3, 1),
         ("perf", 0.4, 1)]
        # all scores tied -> 0.5 exactly (pure tie credit)
        + [("tied", 1.0, 0), ("tied", 1.0, 1), ("tied", 1.0, 0),
           ("tied", 1.0, 1)]
        # sklearn roc_auc_score([0,1,1],[1,1,2]) = 0.75
        + [("mix", 1.0, 0), ("mix", 1.0, 1), ("mix", 2.0, 1)]
        # one-class group -> NULL, not a crash
        + [("onec", 0.5, 1), ("onec", 0.7, 1)]
    )
    df = spark.createDataFrame(rows, "g string, s double, y int")
    out = {r.g: r for r in
           auc_exact(df, "s", "y", group_cols=["g"]).collect()}
    assert out["perf"].auc == 1.0
    assert out["tied"].auc == 0.5
    assert out["mix"].auc == 0.75 and out["mix"].u2 == 3
    assert out["onec"].auc is None and out["onec"].n_neg == 0


def test_auc_exact_matches_sklearn_formula(spark):
    """Cross-check the doubled-rank U against a direct pairwise
    P(s+ > s-) + 0.5·P(=) computation on a corpus with many ties."""
    import itertools

    from langscrape_spark.operators.classifier import auc_exact

    rows = [("g", float((i * 7) % 5), (i * 3) % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = auc_exact(df, "s", "y", group_cols=["g"]).collect()[0]
    pos = [s for _, s, y in rows if y == 1]
    neg = [s for _, s, y in rows if y == 0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in itertools.product(pos, neg)
    )
    assert round(wins / (len(pos) * len(neg)), 6) == got.auc


# -- Gini coefficient (operators/hostquality.py) --


def test_gini_hand_cases(spark):
    from langscrape_spark.operators.hostquality import gini_coefficient

    rows = (
        [("eq", i, 10) for i in range(4)]          # perfect equality: 0
        + [("one", 0, 100)] + [("one", i, 0) for i in range(1, 5)]
        + [("half", 0, 0), ("half", 1, 100)]       # n=2 extreme: 0.5
        + [("zero", 0, 0), ("zero", 1, 0)]         # no mass: NULL
    )
    df = spark.createDataFrame(rows, "g string, id long, x long")
    out = {r.g: r for r in
           gini_coefficient(df, "x", id_col="id",
                            group_cols=["g"]).collect()}
    assert out["eq"].gini == 0.0
    assert out["one"].gini == 0.8   # (n-1)/n for all-in-one, n=5
    assert out["half"].gini == 0.5
    assert out["zero"].gini is None and out["zero"].total == 0


def test_gini_matches_pairwise_definition(spark):
    """The sorted-rank formula equals the mean-absolute-difference
    definition G = S|xi-xj| / (2 n S x) on arbitrary integer mass."""
    import itertools

    from langscrape_spark.operators.hostquality import gini_coefficient

    xs = [(i * 13) % 29 for i in range(25)]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)],
        "g string, id long, x long",
    )
    got = gini_coefficient(df, "x", id_col="id",
                           group_cols=["g"]).collect()[0]
    n, tot = len(xs), sum(xs)
    mad = sum(abs(a - b) for a, b in itertools.product(xs, xs))
    assert got.gini == round(mad / (2 * n * tot), 6)


# -- partition skew audit (operators/layout.py) --


def test_partition_skew_audit_detects_hot_key(spark):
    import pytest

    from langscrape_spark.operators.layout import partition_skew_audit

    # one dominant key + a uniform tail
    rows = [("hot",) for _ in range(90)] + [(f"k{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "k string")
    out = partition_skew_audit(df, "k", 16, label="t").collect()[0]
    assert out.total_rows == 120 and out.n_partitions == 16
    # the hot key's bucket holds >= 90 rows -> skew >= 90*16/120 = 12
    assert out.max_rows >= 90 and out.skew >= 12.0

    # uniform distinct keys stay near 1.0 and fill most buckets
    uni = spark.createDataFrame(
        [(f"u{i}",) for i in range(4096)], "k string"
    )
    o2 = partition_skew_audit(uni, "k", 16, label="u").collect()[0]
    assert o2.n_empty == 0 and o2.skew < 1.3

    # empty frame: NULL skew; power-of-2 guard raises
    empty = spark.createDataFrame([], "k string")
    o3 = partition_skew_audit(empty, "k", 16).collect()[0]
    assert o3.total_rows == 0 and o3.skew is None and o3.n_empty == 16
    with pytest.raises(ValueError):
        partition_skew_audit(df, "k", 12)


# -- keep-rate chi-square (operators/snapshots.py) --


def test_keep_rate_chi2_hand_case_and_degenerate(spark):
    from langscrape_spark.operators.snapshots import keep_rate_chi2

    # hand case: old 30/10 keep/drop, new 20/20 ->
    # chi2 = 80*(30*20-10*20)^2/(40*40*50*30) = 80*160000/2400000
    old = spark.createDataFrame(
        [("s", i < 30) for i in range(40)]
        + [("flat", True) for _ in range(10)]
        + [("onlyold", i % 2 == 0) for i in range(10)],
        "source string, keep boolean",
    )
    new = spark.createDataFrame(
        [("s", i < 20) for i in range(40)]
        + [("flat", True) for _ in range(10)],
        "source string, keep boolean",
    )
    out = {r.source: r for r in keep_rate_chi2(old, new, "keep").collect()}
    s = out["s"]
    assert (s.n_old, s.n_new, s.keep_old, s.keep_new) == (40, 40, 30, 20)
    assert s.chi2 == round(80 * 160000 / 2400000, 6)
    assert s.significant_95  # 5.333 > 3.841
    # degenerate: both versions kept everything -> zero drop column ->
    # NULL chi2, not a crash
    f = out["flat"]
    assert f.chi2 is None and f.significant_95 is None
    # group present only in old: new side coalesces to 0, degenerate
    oo = out["onlyold"]
    assert oo.n_new == 0 and oo.chi2 is None


# -- Hamilton apportionment (operators/sharding.py) --


def test_apportion_budget_exact_total_and_seat_rule(spark):
    from langscrape_spark.operators.sharding import apportion_budget

    # shares 10/3: each base = 3, remainder 1 each -> one seat left,
    # smallest source name wins the tie
    docs = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "source string, n_tokens long"
    )
    out = {r.source: r for r in
           apportion_budget(docs, total_budget=10).collect()}
    assert sum(r.alloc for r in out.values()) == 10
    assert out["a"].alloc == 4 and out["b"].alloc == 3

    # classic Hamilton: quotas 4.7, 3.4, 1.9 of 10
    docs2 = spark.createDataFrame(
        [("x", 47), ("y", 34), ("z", 19)], "source string, n_tokens long"
    )
    o2 = {r.source: r.alloc for r in
          apportion_budget(docs2, total_budget=10).collect()}
    assert o2 == {"x": 5, "y": 3, "z": 2}  # .7 and .9 get the seats

    # big-number exactness: products beyond 2^53 (float floor would
    # misallocate); total must still be exact
    docs3 = spark.createDataFrame(
        [("p", 3_000_000_001), ("q", 2_999_999_999), ("r", 7)],
        "source string, n_tokens long",
    )
    o3 = apportion_budget(docs3, total_budget=1_000_000_007).collect()
    assert sum(r.alloc for r in o3) == 1_000_000_007


# -- capture-recapture (operators/snapshots.py) --


def test_capture_recapture_closed_population_and_edges(spark):
    from langscrape_spark.operators.snapshots import capture_recapture

    # textbook: n1=40, n2=30, overlap=12 -> LP = 100 exactly;
    # chapman = 41*31/13 - 1
    s1 = spark.createDataFrame(
        [("g", i) for i in range(40)], "source string, url long"
    )
    s2 = spark.createDataFrame(
        [("g", i) for i in range(28, 58)]
        + [("nooverlap", 1)],
        "source string, url long",
    )
    out = {r.source: r for r in
           capture_recapture(s1, s2, key_col="url").collect()}
    g = out["g"]
    assert (g.n1, g.n2, g.overlap) == (40, 30, 12)
    assert g.lincoln == 100.0
    assert g.chapman == round(41 * 31 / 13 - 1, 6)
    # group present in only one sample: m=0, LP NULL, chapman finite
    no = out["nooverlap"]
    assert no.lincoln is None and no.chapman == round(1 * 2 / 1 - 1, 6)
    # duplicate keys collapse (distinct) before counting
    dup = spark.createDataFrame(
        [("d", 1), ("d", 1), ("d", 2)], "source string, url long"
    )
    o2 = capture_recapture(dup, dup, key_col="url").collect()[0]
    assert (o2.n1, o2.n2, o2.overlap) == (2, 2, 2)


# -- Chao1 richness (operators/text.py) --


def test_chao1_hand_case_and_edges(spark):
    from langscrape_spark.operators.text import chao1_richness

    rows = (
        # g: a,a,b,c,d,d -> V=4, N1=2 (b,c), N2=2 (a,d), N=6
        [("g", w) for w in ["a", "a", "b", "c", "d", "d"]]
        # nodoub: all singletons -> chao1 finite via the +1 correction
        + [("nodoub", w) for w in ["x", "y", "z"]]
        # complete: one species many times -> N1=0, coverage 1, chao1=V
        + [("complete", "q")] * 5
    )
    df = spark.createDataFrame(rows, "source string, w string")
    out = {r.source: r for r in chao1_richness(df, "w").collect()}
    g = out["g"]
    assert (g.v, g.n1, g.n2, g.n) == (4, 2, 2, 6)
    assert g.chao1 == round(4 + 2 * 1 / 6, 6)
    assert g.coverage == round(1 - 2 / 6, 6)
    nd = out["nodoub"]
    assert nd.chao1 == round(3 + 3 * 2 / 2, 6) and nd.coverage == 0.0
    c = out["complete"]
    assert c.chao1 == 1.0 and c.coverage == 1.0


# -- rendezvous sharding (operators/layout.py) --


def test_rendezvous_stability_vs_naive_mod(spark):
    """The whole point: adding one worker moves ~1/(W+1) of keys under
    rendezvous, ~W/(W+1) under mod — and keys that do move under
    rendezvous move ONLY to the new worker."""
    from langscrape_spark.operators.layout import rendezvous_assign

    keys = spark.createDataFrame(
        [(f"host{i}.example.com",) for i in range(400)], "host string"
    )
    a = {r.key: r.worker for r in rendezvous_assign(keys, 8).collect()}
    b = {r.key: r.worker for r in rendezvous_assign(keys, 9).collect()}
    assert set(a) == set(b) and len(a) == 400
    moved = [k for k in a if a[k] != b[k]]
    # every move lands on the NEW worker (HRW invariant: old scores
    # are unchanged, so the old argmax only loses to worker 8)
    assert all(b[k] == 8 for k in moved)
    # moved fraction near 1/9 (binomial: 400 trials, p=1/9)
    assert 20 <= len(moved) <= 75
    # determinism + full worker range coverage
    a2 = {r.key: r.worker for r in rendezvous_assign(keys, 8).collect()}
    assert a == a2
    assert set(a.values()) == set(range(8))


def test_rendezvous_null_and_duplicate_keys(spark):
    from langscrape_spark.operators.layout import rendezvous_assign

    keys = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "host string"
    )
    out = rendezvous_assign(keys, 4).collect()
    assert len(out) == 2  # distinct, NULL dropped


# -- Benford audit (operators/anomaly.py) --


def test_benford_conformant_vs_uniform(spark):
    import math

    from langscrape_spark.operators.anomaly import benford_audit

    rows = []
    # 'ben': a perfectly Benford-shaped multiset (counts proportional
    # to log10(1+1/d) out of 1000-ish)
    for d in range(1, 10):
        rows += [("ben", d * 10)] * round(1000 * math.log10(1 + 1 / d))
    # 'uni': uniform leading digits 1-9 -> MAD far above 0.015
    for d in range(1, 10):
        rows += [("uni", d)] * 50
    # non-positive and NULL rows must drop
    rows += [("uni", 0), ("uni", -3)]
    df = spark.createDataFrame(rows, "source string, v long")
    out = benford_audit(df, "v").collect()
    by = {}
    for r in out:
        by.setdefault(r.source, {})[r.digit] = r
    assert set(by["ben"]) == set(range(1, 10))
    assert by["ben"][1].mad < 0.002      # conformant
    assert by["uni"][1].mad > 0.03       # uniform: flagged
    # digit 1 expectation is log10(2); densified totals exclude the
    # dropped rows
    assert by["uni"][1].expected == round(math.log10(2), 6)
    assert sum(r.n for r in by["uni"].values()) == 450


def test_benford_absent_digit_densified(spark):
    from langscrape_spark.operators.anomaly import benford_audit

    df = spark.createDataFrame(
        [("g", 100), ("g", 150), ("g", 900)], "source string, v long"
    )
    out = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert len(out) == 9 and out[5].n == 0 and out[5].share == 0.0
    assert out[1].n == 2 and out[9].n == 1


# -- burstiness + vocab growth --


def test_burstiness_metronome_and_bursty(spark):
    import datetime as dt

    from langscrape_spark.operators.anomaly import burstiness

    t0 = dt.datetime(2026, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = (
        # metronome: equal gaps -> sigma=0 -> B = -1
        [("tick", ts(i * 10), i) for i in range(6)]
        # bursty: tight cluster then a huge silence
        + [("burst", ts(i), 100 + i) for i in range(5)]
        + [("burst", ts(100000), 200)]
        # two events -> one gap -> NULL B
        + [("two", ts(0), 300), ("two", ts(5), 301)]
    )
    df = spark.createDataFrame(rows, "host string, ts timestamp, event_id long")
    out = {r.host: r for r in burstiness(df).collect()}
    assert out["tick"].b == -1.0
    # small-n ceiling: with one dominant gap B -> (sqrt(n-1)-1)/(sqrt(n-1)+1)
    assert out["burst"].b > 0.3
    assert out["two"].b is None and out["two"].n_gaps == 1


def test_vocab_growth_monotone_and_exact(spark):
    from langscrape_spark.operators.text import vocab_growth

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b d"),     # +1 new (d)
            (3, "a a a"),     # +0 new
            (4, "e f"),       # +2 new
        ],
        "doc_id long, text string",
    )
    out = {r.checkpoint: r for r in
           vocab_growth(docs, [1, 2, 3, 4, 10]).collect()}
    assert [out[c].vocab for c in (1, 2, 3, 4, 10)] == [3, 4, 4, 6, 6]
    assert [out[c].n_docs for c in (1, 2, 3, 4, 10)] == [1, 2, 3, 4, 4]
    assert out[4].n_tokens == 11
    assert out[1].ttr == round(3 / 3, 6)
    # checkpoint before any doc: empty, NULL ttr
    o0 = {r.checkpoint: r for r in vocab_growth(docs, [0]).collect()}
    assert o0[0].vocab == 0 and o0[0].ttr is None


# -- Huffman compaction schedule (operators/sharding.py) --


def test_compaction_schedule_textbook_and_optimality(spark):
    import heapq
    import itertools

    from langscrape_spark.operators.sharding import compaction_schedule

    # textbook: sizes 1,2,3,4 -> merges (1+2)=3, (3+3)=6, (4+6)=10;
    # total cost 19
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
        "shard_id string, n_bytes long",
    )
    out = compaction_schedule(df).orderBy("step").collect()
    assert [(r.left_id, r.right_id, r.merged_bytes) for r in out] == [
        ("a", "b", 3),
        ("c", "m1", 6),
        ("d", "m2", 10),
    ]
    assert out[-1].cum_cost == 19

    # optimality: greedy total <= every sequential pairwise-merge
    # order on a skewed 5-shard case (brute-force all orders)
    sizes = [1, 1, 8, 9, 100]
    df2 = spark.createDataFrame(
        [(f"s{i}", b) for i, b in enumerate(sizes)],
        "shard_id string, n_bytes long",
    )
    greedy = compaction_schedule(df2).orderBy("step").collect()[-1].cum_cost

    def all_orders_min(vals):
        best = None
        state = tuple(sorted(vals))
        stack = [(state, 0)]
        while stack:
            st, cost = stack.pop()
            if len(st) == 1:
                best = cost if best is None else min(best, cost)
                continue
            for i, j in itertools.combinations(range(len(st)), 2):
                m = st[i] + st[j]
                rest = tuple(
                    v for k, v in enumerate(st) if k not in (i, j)
                )
                stack.append((tuple(sorted(rest + (m,))), cost + m))
        return best

    assert greedy == all_orders_min(sizes)


# -- index compression sizing (operators/search.py) --


def test_index_compression_exact_bytes(spark):
    from langscrape_spark.operators.search import index_compression_stats

    # term 'a': docs 0,1,2,300 -> stored 1,1,1,298
    #   varint: 1,1,1,2 bytes = 5; df=4 -> bucket 2
    # term 'b': doc 200 -> stored 201 (8 bits -> 2 bytes); df=1 -> bucket 0
    postings = spark.createDataFrame(
        [("a", 0), ("a", 1), ("a", 2), ("a", 300), ("b", 200),
         ("a", 1)],  # duplicate posting must collapse
        "term string, doc_id long",
    )
    out = {r.df_bucket: r for r in
           index_compression_stats(postings).collect()}
    b2 = out[2]
    assert (b2.n_terms, b2.n_postings, b2.raw_bytes, b2.varint_bytes) \
        == (1, 4, 32, 5)
    b0 = out[0]
    assert (b0.n_postings, b0.varint_bytes) == (1, 2)
    assert b0.ratio == round(2 / 8, 6)
    # a 2^14 gap needs exactly 2 varint bytes ceil(15/7)=3? 14 bits->2
    big = spark.createDataFrame(
        [("t", 0), ("t", (1 << 14) - 1)], "term string, doc_id long"
    )
    g = index_compression_stats(big).collect()[0]
    # stored: 1 (1 byte) and 16383 (14 bits -> 2 bytes)
    assert g.varint_bytes == 3


# -- max-F1 threshold (operators/classifier.py) --


def test_f1_threshold_brute_force_and_edges(spark):
    from langscrape_spark.operators.classifier import f1_threshold

    rows = [("g", float((i * 7) % 10), int((i * 7) % 10 >= 6 or i % 5 == 0))
            for i in range(60)] + [("nopos", 1.0, 0), ("nopos", 2.0, 0)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    out = {r.g: r for r in
           f1_threshold(df, "s", "y", group_cols=["g"]).collect()}

    # brute force over candidate thresholds
    pts = [(s, y) for g, s, y in rows if g == "g"]
    best = None
    for th in sorted({s for s, _ in pts}):
        tp = sum(1 for s, y in pts if s >= th and y)
        fp = sum(1 for s, y in pts if s >= th and not y)
        fn = sum(1 for s, y in pts if s < th and y)
        f1 = round(2 * tp / (2 * tp + fp + fn), 6)
        cand = (-f1, th, tp, fp, fn)
        if best is None or cand < best:
            best = cand
    g = out["g"]
    assert (round(g.f1, 6), g.threshold, g.tp, g.fp, g.fn) == (
        -best[0], best[1], best[2], best[3], best[4],
    )
    # all-negative group: F1 is exactly 0 (never NULL: the denominator
    # holds rows >= threshold), recall NULL (no positives to recall)
    assert out["nopos"].f1 == 0.0 and out["nopos"].recall is None


# -- Hill tail exponent (operators/text.py) --


def test_hill_alpha_recovers_planted_exponent(spark):
    """Deterministic inverse-CDF sample of a pure power law with
    alpha=2.5 must recover ~2.5; exact-xmin tail -> zero log sum ->
    NULL; empty tail -> no row."""
    import math

    from langscrape_spark.operators.text import hill_alpha

    alpha, xmin, n = 2.5, 10, 4000
    rows = [
        ("pl", int(round(xmin * ((i + 0.5) / n) ** (-1 / (alpha - 1)))))
        for i in range(n)
    ] + [("flat", 10), ("flat", 10), ("tiny", 3)]
    df = spark.createDataFrame(rows, "source string, v long")
    out = {r.source: r for r in
           hill_alpha(df, "v", xmin=10).collect()}
    assert abs(out["pl"].alpha - alpha) < 0.1
    assert out["pl"].k == n
    # every tail value exactly xmin: log sum 0 -> NULL alpha
    assert out["flat"].alpha is None and out["flat"].log_sum_micro == 0
    # below-xmin-only group: filtered out entirely
    assert "tiny" not in out

    # hand-check the micro quantization: single value e*xmin ->
    # ln = 1.0 -> micro exactly 1_000_000
    one = spark.createDataFrame(
        [("g", int(round(10 * math.e)))], "source string, v long"
    )
    r = hill_alpha(one, "v", xmin=10).collect()[0]
    assert r.log_sum_micro == math.floor(math.log(27 / 10) * 1e6 + 0.5)


# -- nDCG@k (operators/evalops.py) --


def test_ndcg_hand_cases(spark):
    import math

    from langscrape_spark.operators.evalops import ndcg_at_k

    ranked = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0)],
        "doc_id long, score double",
    )
    # perfect: all top docs relevant and R <= k
    rel_all = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, rel int"
    )
    r = ndcg_at_k(ranked, rel_all, k=3).collect()[0]
    assert r.ndcg == 1.0 and r.n_relevant == 2

    # relevant doc at rank 3 only: dcg = 1/log2(4), idcg = 1
    rel_one = spark.createDataFrame([(3, 1)], "doc_id long, rel int")
    r2 = ndcg_at_k(ranked, rel_one, k=3).collect()[0]
    assert r2.dcg == round(1 / math.log2(4), 6)
    assert r2.ndcg == round(1 / math.log2(4), 6)

    # nothing relevant anywhere: NULL ndcg, zero dcg
    rel_none = spark.createDataFrame([(9, 0)], "doc_id long, rel int")
    r3 = ndcg_at_k(ranked, rel_none, k=3).collect()[0]
    assert r3.dcg == 0.0 and r3.ndcg is None

    # R > k: idcg saturates at the k-term cumulative weight
    rel_many = spark.createDataFrame(
        [(i, 1) for i in range(1, 9)], "doc_id long, rel int"
    )
    r4 = ndcg_at_k(ranked, rel_many, k=3).collect()[0]
    ideal3 = sum(1 / math.log2(i + 1) for i in range(1, 4))
    assert r4.idcg == round(ideal3, 6) and r4.ndcg == 1.0

    # duplicate relevance rows must NOT fan out the join or inflate R:
    # collapsed to max(rel) per doc -> identical to rel_all
    rel_dup = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (2, 0)], "doc_id long, rel int"
    )
    r5 = ndcg_at_k(ranked, rel_dup, k=3).collect()[0]
    assert (r5.n_relevant, r5.ndcg, r5.n_ranked) == (2, 1.0, 3)


# ---------------------------------------------------------------------------
# filter_funnel
# ---------------------------------------------------------------------------

def test_filter_funnel_attribution(spark):
    from pyspark.sql import functions as F
    from langscrape_spark.operators.text import filter_funnel

    # 6 docs, 3 gates. Hand-derived per-doc gate bools:
    #   doc  a>0  b>0  c>0   first_fail  n_fail
    #   1    T    T    T     pass        0
    #   2    F    T    T     0           1   (unique a)
    #   3    T    F    T     1           1   (unique b)
    #   4    F    F    T     0           2
    #   5    T    T    F     2           1   (unique c)
    #   6    F    F    F     0           3
    rows = [
        (1, 1, 1, 1), (2, 0, 1, 1), (3, 1, 0, 1),
        (4, 0, 0, 1), (5, 1, 1, 0), (6, 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, a int, b int, c int")
    gates = [("ga", F.col("a") > 0), ("gb", F.col("b") > 0),
             ("gc", F.col("c") > 0)]
    got = {r["stage"]: r.asDict() for r in filter_funnel(df, gates).collect()}
    assert len(got) == 3
    assert got[0]["gate"] == "ga"
    assert got[0]["n_reached"] == 6
    assert got[0]["n_failed_here"] == 3       # docs 2, 4, 6
    assert got[0]["n_fail_marginal"] == 3
    assert got[0]["n_unique_fail"] == 1       # doc 2
    assert got[1]["n_reached"] == 3           # docs 1, 3, 5
    assert got[1]["n_failed_here"] == 1       # doc 3
    assert got[1]["n_fail_marginal"] == 3     # docs 3, 4, 6
    assert got[1]["n_unique_fail"] == 1       # doc 3
    assert got[2]["n_reached"] == 2           # docs 1, 5
    assert got[2]["n_failed_here"] == 1       # doc 5
    assert got[2]["n_fail_marginal"] == 2     # docs 5, 6
    assert got[2]["n_unique_fail"] == 1       # doc 5
    # survivor corpus = last row's reached - failed_here
    assert got[2]["n_reached"] - got[2]["n_failed_here"] == 1  # doc 1


def test_filter_funnel_null_fails_and_empty(spark):
    from pyspark.sql import functions as F
    from langscrape_spark.operators.text import filter_funnel

    df = spark.createDataFrame(
        [(1, None), (2, 5)], "doc_id long, v int"
    )
    got = filter_funnel(df, [("pos", F.col("v") > 0)]).collect()
    assert got[0]["n_failed_here"] == 1       # NULL gate counts as fail
    # empty input still emits one row per gate, all zeros
    empty = df.where(F.lit(False))
    got0 = filter_funnel(empty, [("pos", F.col("v") > 0)]).collect()
    assert [(r["n_reached"], r["n_failed_here"]) for r in got0] == [(0, 0)]


# ---------------------------------------------------------------------------
# soft404_templates
# ---------------------------------------------------------------------------

def test_soft404_flags_planted_template(spark):
    from langscrape_spark.operators.anomaly import soft404_templates

    err = "Error 404 page not found please try again"
    long_dup = ("this is a very long syndicated article body " * 40)[:1600]
    rows = (
        # hostA: 3 identical short error pages -> flagged
        [(i, err, "hostA") for i in range(3)]
        # hostA: distinct real pages -> not flagged
        + [(10 + i, f"real content about topic {i} words differ {i}", "hostA")
           for i in range(3)]
        # hostB: only 2 copies -> below min_cluster
        + [(20 + i, err, "hostB") for i in range(2)]
        # hostC: 3 identical LONG pages -> length gate exempts them
        + [(30 + i, long_dup, "hostC") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, host string")
    got = soft404_templates(
        df, "text", "doc_id", "host", max_chars=400, min_cluster=3
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["host"] == "hostA"
    assert r["n_pages"] == 3
    assert r["example_id"] == 0
    assert r["avg_chars"] == float(len(err))


# ---------------------------------------------------------------------------
# weighted_sample (A-ES)
# ---------------------------------------------------------------------------

def _aes_bruteforce(rows, k, salt=""):
    """Reference A-ES selection with the operator's exact integer key:
    md5 LE lower half, 53-bit uniform, micro-quantized -ln(u)."""
    import hashlib
    import math

    keyed = []
    for doc_id, w in rows:
        if w is None or w <= 0:
            continue
        dig = hashlib.md5(f"{doc_id}:{salt}".encode()).digest()
        m = int.from_bytes(dig[8:16], "little") & ((1 << 53) - 1)
        u = (m + 1) / float(1 << 53)
        lq = math.floor(-math.log(u) * 1e6 + 0.5)
        keyed.append((lq / w, doc_id, lq, w))
    keyed.sort()
    return keyed[:k]


def test_weighted_sample_matches_bruteforce_and_excludes(spark):
    from langscrape_spark.operators.ranking import weighted_sample

    rows = [(i, [3, 10, 100, None, 0, 7][i % 6]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    got = weighted_sample(df, "wt", k=8, id_col="doc_id").collect()
    want = _aes_bruteforce(rows, k=8)
    assert [(r.doc_id, r.lq, r.w) for r in got] == [
        (d, lq, w) for _, d, lq, w in want
    ]
    # NULL / zero weights can never be drawn
    assert all(r.w > 0 for r in got)
    # rerun is byte-stable; a different salt draws a different sample
    again = weighted_sample(df, "wt", k=8, id_col="doc_id").collect()
    assert [r.doc_id for r in again] == [r.doc_id for r in got]
    other = weighted_sample(df, "wt", k=8, id_col="doc_id",
                            salt="b").collect()
    assert [r.doc_id for r in other] != [r.doc_id for r in got]


def test_weighted_sample_grouped_and_proportional(spark):
    from langscrape_spark.operators.ranking import weighted_sample

    rows = [(i, f"s{i % 3}", [1, 1000][i % 2]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, src string, wt long")
    got = weighted_sample(df, "wt", k=4, group_cols=("src",),
                          id_col="doc_id").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.src, []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    assert all(len(v) == 4 for v in by_src.values())
    for src, members in by_src.items():
        want = _aes_bruteforce(
            [(i, w) for i, s, w in rows if s == src], k=4
        )
        assert [r.doc_id for r in members
                ] == [d for _, d, _, _ in want]
    # proportionality: across 30 independent salts, weight-1000 docs
    # dominate the draws (p(weight-1) per slot ~ 1/1000)
    heavy = 0
    total = 0
    for s in range(30):
        for r in weighted_sample(df, "wt", k=4, group_cols=("src",),
                                 id_col="doc_id", salt=str(s)).collect():
            total += 1
            heavy += int(r.w == 1000)
    assert heavy / total > 0.9


# ---------------------------------------------------------------------------
# ucb_scores
# ---------------------------------------------------------------------------

def test_ucb_scores_matches_bruteforce(spark):
    """UCB1 arm scores equal the textbook formula computed in python
    with the operator's exact quantization, including the optimism
    ordering (rarely-pulled arm outranks a better-mean heavy arm)."""
    import math

    from langscrape_spark.operators.hostquality import ucb_scores

    pulls = (
        [("a", 1)] * 40 + [("a", 0)] * 60   # heavy arm, mean 0.4
        + [("b", 1)] * 2                     # tiny arm, mean 1.0
        + [("c", 0)] * 5 + [("c", 1)] * 5    # small arm, mean 0.5
    )
    df = spark.createDataFrame(pulls, "host string, kept int")
    got = ucb_scores(df, "host", "kept", c=2.0).collect()
    N = len(pulls)
    lnq = math.floor(math.log(N) * 1e6 + 0.5)
    want = {}
    for arm in ("a", "b", "c"):
        n = sum(1 for h, _ in pulls if h == arm)
        wins = sum(k for h, k in pulls if h == arm)
        want[arm] = (
            n, wins, round(wins / n, 6),
            round(wins / n + math.sqrt(2.0 * lnq / (1e6 * n)), 6),
        )
    assert {r.arm: (r.n, r.wins, r.mean_reward, r.ucb) for r in got} == want
    # optimism: the under-sampled arm b leads, then c, then heavy a
    assert [r.arm for r in got] == ["b", "c", "a"]


# ---------------------------------------------------------------------------
# psi_drift
# ---------------------------------------------------------------------------

def test_psi_drift_handcomputed_zero_and_onesided(spark):
    import math

    from langscrape_spark.operators.snapshots import psi_drift

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "source string, lb int"
    )
    # identical distributions -> psi 0 exactly
    same = [("s", b) for b in [0, 0, 1, 2]]
    z = psi_drift(mk(same), mk(same), "lb", "source").collect()[0]
    assert z.psi == 0.0 and z.n_bins == 3 and z.n_old == z.n_new == 4

    # hand-computed shifted case with a bin absent on one side
    old = [("s", 0)] * 6 + [("s", 1)] * 2
    new = [("s", 1)] * 5 + [("s", 2)] * 3
    got = psi_drift(mk(old), mk(new), "lb", "source").collect()[0]
    B = 3
    want = 0.0
    for co, cn in ((6, 0), (2, 5), (0, 3)):
        p = (co + 1) / (8 + B)
        q = (cn + 1) / (8 + B)
        want += (p - q) * math.log(p / q)
    assert got.psi == round(want, 6)
    assert (got.n_bins, got.n_old, got.n_new) == (3, 8, 8)
    # monotone sanity: the shifted pair reads as "shifted" (>0.25)
    assert got.psi > 0.25


class TestLogregGD:
    def _toy(self, spark):
        from pyspark.sql import functions as F

        return spark.range(200).select(
            (F.col("id") - 100).cast("long").alias("x0"),
            F.lit(1).cast("long").alias("bias"),
            (F.col("id") > 100).cast("long").alias("y"),
        )

    def test_learns_separator_and_is_deterministic(self, spark):
        from langscrape_spark.operators.classifier import (
            logreg_gd,
            logreg_score,
        )

        df = self._toy(spark)
        w1 = logreg_gd(df, ["x0", "bias"], "y", rounds=3)
        w2 = logreg_gd(df, ["x0", "bias"], "y", rounds=3)
        assert w1 == w2  # bit-identical trajectory
        final = {r["feature"]: r["w_micro"] for r in w1 if r["round"] == 3}
        assert final["x0"] > 0  # positive slope separates y = x0 > 0
        scored = logreg_score(df, w1, ["x0", "bias"])
        acc = scored.selectExpr(
            "avg(CAST(pred = y AS DOUBLE)) AS a"
        ).collect()[0]["a"]
        assert acc > 0.95

    def test_matches_pure_python_integer_replay(self, spark):
        """The distributed trajectory equals a sequential pure-Python
        replay of the exact integer algorithm — proving the Spark agg
        introduces no float or ordering drift."""
        from langscrape_spark.operators.classifier import logreg_gd

        df = self._toy(spark)
        rows = [(r["x0"], r["bias"], r["y"]) for r in df.collect()]
        lr, rounds, n = 500000, 3, len(rows)

        def tdiv(a, b):
            return a // b if a >= 0 else -((-a) // b)

        w = [0, 0]
        expect = []
        for rnd in range(1, rounds + 1):
            g = [0, 0]
            for x0, b, y in rows:
                z = w[0] * x0 + w[1] * b
                s = 500000 + tdiv(z * 500000, 1000000 + abs(z))
                e = s - y * 1000000
                g[0] += e * x0
                g[1] += e * b
            for j in range(2):
                w[j] -= tdiv(lr * tdiv(g[j], n), 1000000)
            expect += [
                {"feature": "x0", "round": rnd, "w_micro": w[0]},
                {"feature": "bias", "round": rnd, "w_micro": w[1]},
            ]
        got = logreg_gd(df, ["x0", "bias"], "y", rounds=rounds)
        key = lambda d: (d["round"], d["feature"])
        assert sorted(got, key=key) == sorted(expect, key=key)

    def test_guards(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F
        from langscrape_spark.operators.classifier import logreg_gd

        df = self._toy(spark)
        with _pytest.raises(ValueError, match="feature"):
            logreg_gd(df, [], "y")
        with _pytest.raises(ValueError, match="empty"):
            logreg_gd(df.where(F.lit(False)), ["x0"], "y")


class TestRake:
    def test_classic_rake_scoring(self, spark):
        """The worked example shape: multi-word phrases outrank
        singletons because degree rewards in-phrase co-occurrence."""
        from langscrape_spark.operators.text import rake_keywords

        docs = spark.createDataFrame(
            [(1, "deep neural networks and the deep learning of neural networks")],
            "doc_id long, text string",
        )
        # stopwords: and, the, of -> phrases: [deep neural networks],
        # [deep learning], [neural networks]
        out = rake_keywords(
            docs, stopwords=["and", "the", "of"], k=10
        ).collect()
        got = {r["phrase"]: (r["score_micro"], r["n_words"], r["rank"]) for r in out}
        # freq: deep 2, neural 2, networks 2, learning 1
        # degree: deep 3+2=5, neural 3+2=5, networks 3+2=5, learning 2
        # wsm: deep 2_500_000, neural 2_500_000, networks 2_500_000,
        #      learning 2_000_000
        assert got["deep neural networks"] == (7_500_000, 3, 1)
        assert got["neural networks"][0] == 5_000_000
        assert got["deep learning"][0] == 4_500_000
        assert len(got) == 3  # duplicate 'neural networks' collapses

    def test_all_stopwords_doc_has_no_candidates(self, spark):
        from langscrape_spark.operators.text import rake_keywords

        docs = spark.createDataFrame(
            [(1, "the of and the"), (2, "alpha beta")],
            "doc_id long, text string",
        )
        out = rake_keywords(docs, stopwords=["the", "of", "and"], k=3)
        rows = out.collect()
        assert {r["doc_id"] for r in rows} == {2}
        assert rows[0]["phrase"] == "alpha beta"

    def test_topk_and_tiebreak(self, spark):
        from langscrape_spark.operators.text import rake_keywords

        docs = spark.createDataFrame(
            [(1, "xx stop yy stop zz")], "doc_id long, text string"
        )
        out = rake_keywords(docs, stopwords=["stop"], k=2).collect()
        # all three singletons score 1_000_000; tie -> phrase asc.
        assert [(r["phrase"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])] == [
            ("xx", 1), ("yy", 2)
        ]


class TestRevalidation:
    def test_outcome_classes_and_byte_accounting(self, spark):
        from langscrape_spark.operators.snapshots import (
            revalidation_audit,
            revalidation_rollup,
        )

        old = spark.createDataFrame(
            [
                ("http://a.com/1", "f1", 100, "e1"),   # unchanged + etag
                ("http://a.com/2", "f2", 200, "e2"),   # changed + etag
                ("http://a.com/3", "f3", 300, None),   # unchanged, no etag
                ("http://a.com/4", "f4", 400, None),   # changed, no etag
                ("http://b.com/5", "f5", 500, "e5"),   # gone
            ],
            "url string, fp string, bytes long, etag string",
        )
        new = spark.createDataFrame(
            [
                ("http://a.com/1", "f1", 110),
                ("http://a.com/2", "fX", 220),
                ("http://a.com/3", "f3", 330),
                ("http://a.com/4", "fY", 440),
                ("http://b.com/6", "f6", 600),          # new
            ],
            "url string, fp string, bytes long",
        )
        audit = revalidation_audit(old, new)
        got = {r["url"]: (r["outcome"], r["bytes_saved"], r["bytes_wasted"]) for r in audit.collect()}
        assert got["http://a.com/1"] == ("revalidated_304", 110, 0)
        assert got["http://a.com/2"] == ("changed_200", 0, 0)
        assert got["http://a.com/3"] == ("wasted_refetch", 0, 330)
        assert got["http://a.com/4"] == ("unvalidated_200", 0, 0)
        assert got["http://b.com/5"] == ("gone", 0, 0)
        assert got["http://b.com/6"] == ("new", 0, 0)

        roll = {r["host"]: r for r in revalidation_rollup(audit).collect()}
        a = roll["a.com"]
        assert (a["n_304"], a["n_wasted"], a["n_refetched"]) == (1, 1, 4)
        assert (a["bytes_saved"], a["bytes_wasted"]) == (110, 330)
        assert a["hit_rate_micro"] == 250000  # 1/4 exactly
        b = roll["b.com"]
        assert (b["n_refetched"], b["hit_rate_micro"]) == (0, 0)

    def test_duplicate_rows_collapse_before_join(self, spark):
        from langscrape_spark.operators.snapshots import revalidation_audit

        old = spark.createDataFrame(
            [("u", "f", 10, "e"), ("u", "f", 12, "e")],
            "url string, fp string, bytes long, etag string",
        )
        new = spark.createDataFrame(
            [("u", "f", 11), ("u", "f", 11)],
            "url string, fp string, bytes long",
        )
        out = revalidation_audit(old, new).collect()
        assert len(out) == 1
        assert out[0]["outcome"] == "revalidated_304"


def test_logreg_gd_rejects_null_rows(spark):
    from pyspark.sql import functions as F
    import pytest as _pytest
    from langscrape_spark.operators.classifier import logreg_gd

    df = spark.createDataFrame(
        [(1, 1), (None, 0)], "x0 int, y int"
    )
    with _pytest.raises(ValueError, match="NULL"):
        logreg_gd(df, ["x0"], "y", rounds=1)


def test_ip_block_join_moas_tiebreak_deterministic(spark):
    """Duplicate-range blocks (MOAS) resolve to the lexicographically
    smallest payload, not an arbitrary row."""
    from langscrape_spark.operators.netmap import ip_block_join

    ips = spark.createDataFrame([("a", 10)], "host string, ip long")
    blocks = spark.createDataFrame(
        [(0, 255, "AS2"), (0, 255, "AS1")],
        "lo long, hi long, asn string",
    )
    for _ in range(3):
        out = ip_block_join(ips, blocks, bucket_bits=24, id_col="host")
        assert [r["asn"] for r in out.collect()] == ["AS1"]


class TestBestPassage:
    def test_picks_densest_window(self, spark):
        from langscrape_spark.operators.search import best_passage

        docs = spark.createDataFrame(
            [
                (1, "alpha x x x x x x x x x x x x x alpha beta gamma x"),
                (2, "x beta x x x x x x x x x x x x x x x x x x"),
                (3, "nothing here"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in best_passage(
            docs, "alpha beta gamma", window=5
        ).collect()}
        # doc 1: window at the trailing cluster covers 3 distinct terms
        assert out[1]["n_terms"] == 3 and out[1]["start"] == 14
        assert out[1]["snippet"] == "alpha beta gamma x"
        assert out[2]["n_terms"] == 1 and out[2]["start"] == 1
        assert 3 not in out  # no query term -> no snippet row

    def test_tiebreak_earliest_start(self, spark):
        from langscrape_spark.operators.search import best_passage

        docs = spark.createDataFrame(
            [(1, "alpha x x x x x x x x x alpha")],
            "doc_id long, text string",
        )
        r = best_passage(docs, "alpha", window=3).collect()[0]
        assert (r["start"], r["n_terms"], r["n_hits"]) == (0, 1, 1)

    def test_empty_query_raises(self, spark):
        import pytest as _pytest
        from langscrape_spark.operators.search import best_passage

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="empty query"):
            best_passage(docs, "   ")


class TestSurt:
    def test_surt_forms(self, spark):
        from pyspark.sql import functions as F
        from langscrape_spark.operators.urls import surt_key

        df = spark.createDataFrame(
            [
                ("https://www.Example.COM:8080/Path/Sub/?b=2&a=1",),
                ("http://example.com/",),
                ("https://cdn.site.example/x?utm_source=nl&gclid=99&z=1",),
                ("notaurl",),
                (None,),
            ],
            "url string",
        )
        got = [r["s"] for r in df.select(surt_key(F.col("url")).alias("s")).collect()]
        assert got[0] == "com,example,www)/path/sub?a=1&b=2"
        assert got[1] == "com,example)"
        assert got[2] == "example,site,cdn)/x?z=1"  # trackers dropped
        assert got[3] is None
        assert got[4] is None

    def test_surt_sort_locality(self, spark):
        """One registrable domain's subdomains sort contiguously in
        SURT space but scatter in raw-url space."""
        from pyspark.sql import functions as F
        from langscrape_spark.operators.urls import surt_key

        urls = [
            "https://a.shop.example/x",
            "https://z.shop.example/y",
            "https://shop.example/z",
            "https://aaa.other.example/w",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        surted = sorted(
            r["s"] for r in df.select(surt_key(F.col("url")).alias("s")).collect()
        )
        shop = [s for s in surted if s.startswith("example,shop")]
        i = surted.index(shop[0])
        assert surted[i : i + len(shop)] == shop  # contiguous block
        assert len(shop) == 3


class TestRingAssign:
    def test_matches_pure_python_ring(self, spark):
        import hashlib
        from pyspark.sql import functions as F
        from langscrape_spark.operators.layout import ring_assign

        mask = (1 << 53) - 1

        def h53(s):
            return int.from_bytes(
                hashlib.md5(s.encode()).digest()[8:16], "little"
            ) & mask

        shards = ["s0", "s1", "s2", "s3"]
        ring = sorted(
            (h53(f"ring:{s}#{i}"), s) for s in shards for i in range(16)
        )

        def assign(key):
            h = h53(f"ring:{key}")
            for p, s in ring:
                if p >= h:
                    return s
            return ring[0][1]

        keys = [f"host{i}.example" for i in range(200)]
        df = spark.createDataFrame([(k,) for k in keys], "host string")
        got = {r["host"]: r["shard"] for r in ring_assign(df, shards).collect()}
        assert got == {k: assign(k) for k in keys}

    def test_resize_moves_small_fraction(self, spark):
        from langscrape_spark.operators.layout import ring_assign

        keys = [(f"h{i}.example",) for i in range(500)]
        df = spark.createDataFrame(keys, "host string")
        a = {r["host"]: r["shard"] for r in ring_assign(df, ["s0", "s1", "s2", "s3"]).collect()}
        b = {r["host"]: r["shard"] for r in ring_assign(df, ["s0", "s1", "s2", "s3", "s4"]).collect()}
        moved = sum(1 for k in a if a[k] != b[k])
        # ideal 1/5 = 100; naive mod would move ~400. vnode variance
        # makes this noisy -- assert it's resize-stable, not chaotic.
        assert moved < 200
        assert all(v == "s4" for k, v in b.items() if a[k] != v)

    def test_empty_shards_raises(self, spark):
        import pytest as _pytest
        from langscrape_spark.operators.layout import ring_assign

        df = spark.createDataFrame([("x",)], "host string")
        with _pytest.raises(ValueError, match="non-empty"):
            ring_assign(df, [])


class TestDhash:
    def test_dhash_gradient_bits_and_pairs(self, spark):
        from pyspark.sql import functions as F
        from langscrape_spark.operators.multimodal import (
            dhash64,
            dhash_pairs,
        )

        w = h = 16
        # image A: horizontal ramp descending -> every gradient bit 1
        ramp = [255 - x * 10 for x in range(w)] * h
        # image B: flat -> all bits 0
        flat = [7] * (w * h)
        # image C: copy of A -> exact dup
        df = spark.createDataFrame(
            [(1, ramp), (2, flat), (3, ramp)],
            "media_id long, px array<int>",
        )
        hashed = df.select(
            "media_id", dhash64(F.col("px"), w, h).alias("dhash")
        )
        got = {r["media_id"]: r["dhash"] for r in hashed.collect()}
        assert got[2] == 0
        assert got[1] == -1  # all 64 bits set = -1 as signed long
        assert got[3] == got[1]
        pairs = dhash_pairs(hashed, max_hamming=3).collect()
        assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [
            (1, 3, 0)
        ]

    def test_near_dup_within_radius(self, spark):
        from pyspark.sql import functions as F
        from langscrape_spark.operators.multimodal import (
            dhash64,
            dhash_pairs,
        )

        w = h = 16
        ramp = [255 - x * 10 for x in range(w)] * h
        # flip two sampled gradients in the last grid row only
        mod = list(ramp)
        mod[14 * w + 0] = 0  # breaks p[0] > p[1] at grid row 7
        df = spark.createDataFrame(
            [(1, ramp), (2, mod)], "media_id long, px array<int>"
        )
        hashed = df.select(
            "media_id", dhash64(F.col("px"), w, h).alias("dhash")
        )
        pairs = dhash_pairs(hashed, max_hamming=10).collect()
        assert len(pairs) == 1
        assert 0 < pairs[0]["hamming"] <= 10


class TestAudioFp:
    def test_volume_invariance_and_dup_detection(self, spark):
        """Scaling every sample by 3 preserves all energy-difference
        signs -> identical fingerprint (the Haitsma-Kalker point)."""
        from pyspark.sql import functions as F
        from langscrape_spark.operators.multimodal import (
            audio_fingerprint64,
        )
        import hashlib

        n = 17 * 80

        def clip(seed, scale=1):
            out = []
            for i in range(n):
                h = hashlib.md5(f"{seed}:{i}".encode()).digest()
                v = int.from_bytes(h[:2], "big") - 32768
                out.append(v * scale)
            return out

        df = spark.createDataFrame(
            [(1, clip("a")), (2, clip("a", 3)), (3, clip("b"))],
            "media_id long, samples array<long>",
        )
        got = {
            r["media_id"]: r["fp"]
            for r in df.select(
                "media_id",
                audio_fingerprint64(F.col("samples")).alias("fp"),
            ).collect()
        }
        assert got[1] == got[2]  # volume-scaled copy collides
        assert got[1] != got[3]  # different content separates

    def test_matches_pure_python_reference(self, spark):
        from pyspark.sql import functions as F
        from langscrape_spark.operators.multimodal import (
            audio_fingerprint64,
        )
        import hashlib

        n = 17 * 80
        samples = [
            (int.from_bytes(hashlib.md5(f"c:{i}".encode()).digest()[:2], "big") - 32768)
            for i in range(n)
        ]

        def energy(f, b):
            s = f * 80 + b * 16
            return sum(abs(x) for x in samples[s : s + 16])

        fp = 0
        for f in range(1, 17):
            for b in range(4):
                bit = (f - 1) * 4 + b
                if (energy(f, b) - energy(f, b + 1)) > (
                    energy(f - 1, b) - energy(f - 1, b + 1)
                ):
                    fp += (1 << bit) if bit < 63 else -(1 << 63)
        df = spark.createDataFrame([(1, samples)], "media_id long, samples array<long>")
        got = df.select(
            audio_fingerprint64(F.col("samples")).alias("fp")
        ).collect()[0]["fp"]
        assert got == fp


# ---------------------------------------------------------------------------
# KMV / theta sketch (q186)
# ---------------------------------------------------------------------------

def test_kmv_partition_invariance(spark):
    """The sketch is a pure function of the value SET: repartitioning
    must not change a single hash (the per-partition bottom-k pass is
    exact, not heuristic)."""
    from langscrape_spark.operators.sketch import kmv_sketch

    df = spark.range(5000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("v")
    )
    one = [r["h"] for r in kmv_sketch(df.repartition(1), "v", 64).collect()]
    many = [r["h"] for r in kmv_sketch(df.repartition(13), "v", 64).collect()]
    assert one == many
    assert len(one) == 64
    assert one == sorted(one)


def test_kmv_mergeability(spark):
    """Union-then-sketch == sketch-then-merge-then-relimit: the
    snapshot-parquet contract that lets daily k-row sketches answer
    cross-snapshot questions without raw sets."""
    from langscrape_spark.operators.sketch import kmv_sketch

    a = spark.range(3000).select(
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("v")
    )
    b = spark.range(1500, 4500).select(
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("v")
    )
    direct = [
        r["h"] for r in kmv_sketch(a.unionByName(b), "v", 128).collect()
    ]
    merged = (
        kmv_sketch(a, "v", 128)
        .unionByName(kmv_sketch(b, "v", 128))
        .distinct()
        .orderBy("h")
        .limit(128)
    )
    assert [r["h"] for r in merged.collect()] == direct


def test_kmv_dedup_and_nulls(spark):
    """Duplicates collapse (DISTINCT semantics) and NULLs are ignored,
    matching count(DISTINCT ...)."""
    from langscrape_spark.operators.sketch import kmv_sketch

    base = spark.createDataFrame(
        [("x",), ("y",), ("z",), (None,)], ["v"]
    )
    tripled = base.unionByName(base).unionByName(base)
    got = kmv_sketch(tripled, "v", 16).collect()
    assert len(got) == 3


def test_theta_exact_mode_underfull(spark):
    """Both sketches under-full -> every estimate IS the exact count
    and theta* is 1.0."""
    from langscrape_spark.operators.sketch import theta_set_stats

    a = spark.createDataFrame([(f"k{i}",) for i in range(40)], ["v"])
    b = spark.createDataFrame([(f"k{i}",) for i in range(20, 60)], ["v"])
    row = theta_set_stats(a, b, "v", k=256).collect()[0]
    assert row["full_a"] == 0 and row["full_b"] == 0
    assert row["theta_star"] == 1.0
    assert row["est_a"] == 40.0 and row["est_b"] == 40.0
    assert row["est_union"] == 60.0 and row["est_intersect"] == 20.0
    assert abs(row["est_jaccard"] - 20.0 / 60.0) < 1e-6


def test_theta_estimation_accuracy(spark):
    """Full sketches at k=256 over 4k-element sets: every estimate
    within 20% of truth (3-sigma for KMV is ~1/sqrt(k-1) ~ 6% per
    set; the intersection compounds, hence the loose band)."""
    from langscrape_spark.operators.sketch import theta_set_stats

    a = spark.range(4000).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("v")
    )
    b = spark.range(2000, 6000).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("v")
    )
    row = theta_set_stats(a, b, "v", k=256).collect()[0]
    assert row["full_a"] == 1 and row["full_b"] == 1
    assert abs(row["est_a"] - 4000) / 4000 < 0.2
    assert abs(row["est_b"] - 4000) / 4000 < 0.2
    assert abs(row["est_union"] - 6000) / 6000 < 0.2
    assert abs(row["est_intersect"] - 2000) / 2000 < 0.2


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage (q188)
# ---------------------------------------------------------------------------

class TestRecordLinkage:
    def _frames(self, spark):
        a = spark.createDataFrame(
            [
                (1, "s0", "Alpha", "en", 3),
                (2, "s0", "Beta", "en", 4),
                (3, "s1", "Gamma", None, 5),
                (4, None, "Delta", "en", 6),
            ],
            ["id_a", "blk", "title", "lang_f", "len_bucket"],
        )
        b = spark.createDataFrame(
            [
                (11, "s0", "Alpha", "en", 3),    # full agree with 1
                (12, "s0", "Beta", "fr", 9),     # partial with 2
                (13, "s1", "Other", None, 5),    # title off, NULL==NULL lang
                (14, None, "Delta", "en", 6),    # NULL block key
            ],
            ["id_b", "blk", "title", "lang_f", "len_bucket"],
        )
        return a, b

    def _fields(self):
        from langscrape_spark.operators.linkage import FsField

        return [
            FsField("title", 0.95, 0.01),
            FsField("lang_f", 0.98, 0.30),
            FsField("len_bucket", 0.90, 0.10),
        ]

    def test_decisions_and_null_semantics(self, spark):
        from langscrape_spark.operators.linkage import fs_link_pairs

        a, b = self._frames(spark)
        out = {
            (r["id_a"], r["id_b"]): (r["score_micro"], r["decision"])
            for r in fs_link_pairs(
                a, b, "id_a", "id_b", ["blk"], self._fields(),
                link_ge_micro=6_000_000, nonlink_le_micro=0,
            ).collect()
        }
        # NULL block key rows pair with NOTHING (no (4,14) pair).
        assert (4, 14) not in out
        # Full agreement -> link; all-field sum = 6.57+1.70+3.17 bits.
        s, d = out[(1, 11)]
        assert d == "link" and s > 6_000_000
        # Title agrees, lang+len disagree -> negative -> non_link.
        s, d = out[(2, 12)]
        assert d == "non_link" and s <= 0
        # NULL lang on both sides compares as agreement (sentinel ==
        # sentinel, the documented two-state treatment).
        s13, _ = out[(3, 13)]
        f = self._fields()
        expected = (
            f[0].w_disagree_micro + f[1].w_agree_micro + f[2].w_agree_micro
        )
        assert s13 == expected

    def test_block_profile_and_guard(self, spark):
        from langscrape_spark.operators.linkage import (
            block_profile,
            fs_link_pairs,
        )

        a, b = self._frames(spark)
        prof = {
            r["blk"]: r["pairs"]
            for r in block_profile(a, b, ["blk"]).collect()
        }
        assert prof == {"s0": 4, "s1": 1}
        with pytest.raises(ValueError, match="split or salt"):
            fs_link_pairs(
                a, b, "id_a", "id_b", ["blk"], self._fields(),
                link_ge_micro=6_000_000, nonlink_le_micro=0,
                max_block_pairs=3,
            )

    def test_weights_are_integer_and_shared(self):
        from langscrape_spark.operators.linkage import fs_oracle_weights

        w = fs_oracle_weights(self._fields())
        assert all(
            isinstance(x, int) for pair in w.values() for x in pair
        )
        assert w["title"][0] > 0 > w["title"][1]


# ---------------------------------------------------------------------------
# Phrase blocklist (q189)
# ---------------------------------------------------------------------------

class TestBlocklist:
    DOCS = [
        (1, "The CAT sat on the mat."),
        (2, "concatenate is not a cat"),
        (3, "bad  phrase, here; bad phrase again"),
        (4, "totally clean text"),
        (5, "edge bad phrase"),
        (6, ""),
        (7, None),
    ]
    PHRASES = ["cat", "bad phrase", "Mat!", "missing term"]

    def _docs(self, spark):
        return spark.createDataFrame(self.DOCS, ["doc_id", "text"])

    def test_word_boundary_and_normalization(self, spark):
        from langscrape_spark.operators.blocklist import blocklist_matches

        ph = spark.createDataFrame([(p,) for p in self.PHRASES], ["phrase"])
        got = {
            r["doc_id"]: (r["n_blocked"], list(r["phrases_hit"]))
            for r in blocklist_matches(
                self._docs(spark), "doc_id", "text", ph
            ).collect()
        }
        # doc 1: "cat" (case-folded) and "mat" (punct-stripped phrase).
        assert got[1] == (2, ["cat", "mat"])
        # doc 2: "cat" as a word — "concatenate" must NOT match.
        assert got[2] == (1, ["cat"])
        # doc 3: repeated phrase counts once (distinct semantics).
        assert got[3] == (1, ["bad phrase"])
        # phrase at string edge still matches (padding).
        assert got[5] == (1, ["bad phrase"])
        # clean/empty/null docs absent.
        assert 4 not in got and 6 not in got and 7 not in got

    def test_shuffle_join_path_equal(self, spark):
        from langscrape_spark.operators.blocklist import blocklist_matches

        ph = spark.createDataFrame([(p,) for p in self.PHRASES], ["phrase"])
        d = self._docs(spark)
        a = blocklist_matches(d, "doc_id", "text", ph).collect()
        b = blocklist_matches(
            d, "doc_id", "text", ph, broadcast_phrases=False
        ).collect()
        assert sorted(
            (r["doc_id"], r["n_blocked"], tuple(r["phrases_hit"])) for r in a
        ) == sorted(
            (r["doc_id"], r["n_blocked"], tuple(r["phrases_hit"])) for r in b
        )

    def test_rlike_flag_equals_join_flag(self, spark):
        from langscrape_spark.operators.blocklist import (
            blocklist_flag_rlike,
            blocklist_matches,
        )

        d = self._docs(spark)
        ph = spark.createDataFrame([(p,) for p in self.PHRASES], ["phrase"])
        joined = {
            r["doc_id"]
            for r in blocklist_matches(d, "doc_id", "text", ph).collect()
        }
        flags = {
            r["doc_id"]: r["blocked"]
            for r in blocklist_flag_rlike(
                d, "doc_id", "text", self.PHRASES
            ).collect()
        }
        for doc_id, _ in self.DOCS:
            assert bool(flags.get(doc_id)) == (doc_id in joined), doc_id

    def test_regex_metacharacters_escaped(self, spark):
        from langscrape_spark.operators.blocklist import blocklist_flag_rlike

        d = spark.createDataFrame([(1, "a b c"), (2, "a.b c")], ["doc_id", "text"])
        # '.' normalizes to a space — phrase 'a b' hits both docs; the
        # escape path must not turn '.' into regex-any.
        out = {
            r["doc_id"]: r["blocked"]
            for r in blocklist_flag_rlike(d, "doc_id", "text", ["a.b"]).collect()
        }
        assert out == {1: True, 2: True}

    def test_empty_phrase_list(self, spark):
        from langscrape_spark.operators.blocklist import blocklist_flag_rlike

        d = self._docs(spark)
        out = blocklist_flag_rlike(d, "doc_id", "text", ["", "  ;"]).collect()
        assert all(not r["blocked"] for r in out)


# ---------------------------------------------------------------------------
# Bitext URL-pair mining (q190)
# ---------------------------------------------------------------------------

class TestBitextMining:
    def test_pairs_region_tags_and_no_lang(self, spark):
        from langscrape_spark.operators.bitext import bitext_url_pairs

        pages = spark.createDataFrame(
            [
                ("https://x.org/en/a", 100),
                ("https://x.org/fr/a", 150),
                ("https://x.org/pt-br/a", 120),
                ("https://x.org/static/a", 90),     # 'static' != 2-letter
                ("https://y.org/en/a", 100),        # different host/key
            ],
            ["url", "n_chars"],
        )
        got = {
            (r["lang_a"], r["lang_b"]): r["ok_ratio"]
            for r in bitext_url_pairs(pages).collect()
            if r["lang_key"] == "https://x.org/*/a"
        }
        # en/fr/pt pair among themselves only; 'static' page excluded.
        assert set(got) == {("en", "fr"), ("en", "pt"), ("fr", "pt")}
        assert all(v == 1 for v in got.values())
        # y.org key pairs with nothing (singleton).
        all_pairs = bitext_url_pairs(pages).collect()
        assert not any("y.org" in r["lang_key"] for r in all_pairs)

    def test_ratio_gate_is_column_not_filter(self, spark):
        from langscrape_spark.operators.bitext import bitext_url_pairs

        pages = spark.createDataFrame(
            [("https://x.org/en/a", 100), ("https://x.org/fr/a", 500)],
            ["url", "n_chars"],
        )
        rows = bitext_url_pairs(pages).collect()
        assert len(rows) == 1 and rows[0]["ok_ratio"] == 0

    def test_trap_profile_surfaces_fanout(self, spark):
        from langscrape_spark.operators.bitext import bitext_key_profile

        pages = spark.createDataFrame(
            [(f"https://trap.org/{a}{b}/p", 10)
             for a in "abcdefghij" for b in "abcdefghij"]
            + [("https://ok.org/en/p", 10), ("https://ok.org/fr/p", 10)],
            ["url", "n_chars"],
        )
        top = bitext_key_profile(pages).collect()[0]
        assert top["lang_key"] == "https://trap.org/*/p"
        assert top["n_versions"] == 100


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity (q191) + range partitioner audit (q192)
# ---------------------------------------------------------------------------

class TestPrivacyAudit:
    def test_summary_and_violations(self, spark):
        from langscrape_spark.operators.privacy import (
            k_anonymity_summary,
            k_anonymity_violations,
        )

        df = spark.createDataFrame(
            [("h1", 1, "en")] * 6
            + [("h1", 2, "en"), ("h1", 2, "fr")]
            + [("h2", 1, "de")],
            ["host", "bucket", "lang"],
        )
        s = k_anonymity_summary(
            df, ["host", "bucket"], k=3, sensitive_col="lang"
        ).collect()[0]
        assert s["n_rows"] == 9 and s["n_groups"] == 3
        assert s["k_actual"] == 1
        assert s["violating_groups"] == 2 and s["violating_rows"] == 3
        assert s["l_actual"] == 1  # the 6-row group is lang-uniform
        assert abs(s["violating_frac"] - 3 / 9) < 1e-6  # round-6 output
        v = k_anonymity_violations(df, ["host", "bucket"], k=3).collect()
        assert [(r["host"], r["bucket"], r["group_rows"]) for r in v] == [
            ("h2", 1, 1),
            ("h1", 2, 2),
        ]

    def test_null_qi_groups_like_sql(self, spark):
        from langscrape_spark.operators.privacy import k_anonymity_summary

        df = spark.createDataFrame(
            [(None, "en"), (None, "en"), ("h", "fr")], ["host", "lang"]
        )
        s = k_anonymity_summary(df, ["host"], k=2).collect()[0]
        # NULL host forms its OWN group of 2 (not dropped): one
        # violating singleton remains.
        assert s["n_groups"] == 2 and s["violating_groups"] == 1


class TestRangePartitionerAudit:
    def test_balanced_on_uniform_keys(self, spark):
        from langscrape_spark.operators.layout import range_partition_audit

        df = spark.range(8000).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        rows = range_partition_audit(df, "k", n_parts=8, sample_mod=5).collect()
        assert sum(r["n_rows"] for r in rows) == 8000
        assert len(rows) == 8
        # Uniform hex keys + dense sample -> near-even ranges.
        assert rows[0]["skew"] < 1.5

    def test_skew_is_visible_on_clumped_keys(self, spark):
        from langscrape_spark.operators.layout import range_partition_audit

        # 95% of keys identical: most boundaries collapse onto the
        # clump value and one range swallows the clump - skew >> 1.
        df = spark.range(4000).select(
            F.when(F.col("id") % 20 != 0, F.lit("clump"))
            .otherwise(F.md5(F.col("id").cast("string")))
            .alias("k")
        )
        rows = range_partition_audit(df, "k", n_parts=8, sample_mod=3).collect()
        assert sum(r["n_rows"] for r in rows) == 4000
        assert rows[0]["skew"] > 3.0

    def test_deterministic_across_partitionings(self, spark):
        from langscrape_spark.operators.layout import range_partition_audit

        df = spark.range(3000).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        a = [
            (r["part"], r["n_rows"])
            for r in range_partition_audit(
                df.repartition(1), "k", 4, 5
            ).collect()
        ]
        b = [
            (r["part"], r["n_rows"])
            for r in range_partition_audit(
                df.repartition(11), "k", 4, 5
            ).collect()
        ]
        assert a == b


# ---------------------------------------------------------------------------
# Incremental warm-start PageRank (q193)
# ---------------------------------------------------------------------------

class TestPagerankWarm:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, ["src_host", "dst_host"])

    def test_cold_start_sums_to_one_and_matches_12round(self, spark):
        from langscrape_spark.operators.hostrank import pagerank_warm

        e = self._edges(
            spark,
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        )
        r = {x["host"]: x["rank"] for x in pagerank_warm(e, None, 12).collect()}
        assert abs(sum(r.values()) - 1.0) < 1e-4
        # cycle core outranks the dangling-ish feeder
        assert r["a"] > r["d"] and r["c"] > r["d"]

    def test_warm_start_converges_faster_than_cold(self, spark):
        """3 warm rounds from the previous snapshot's vector must land
        closer to the converged answer than 3 cold rounds do — the
        whole point of the warm start."""
        from langscrape_spark.operators.hostrank import pagerank_warm

        old = self._edges(
            spark,
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        )
        new = self._edges(
            spark,
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
             ("c", "d"), ("b", "a")],
        )
        prev = pagerank_warm(old, None, 12)
        conv = {x["host"]: x["rank"] for x in pagerank_warm(new, None, 40).collect()}
        warm3 = {x["host"]: x["rank"] for x in pagerank_warm(new, prev, 3).collect()}
        cold3 = {x["host"]: x["rank"] for x in pagerank_warm(new, None, 3).collect()}
        err_warm = max(abs(warm3[h] - conv[h]) for h in conv)
        err_cold = max(abs(cold3[h] - conv[h]) for h in conv)
        assert err_warm < err_cold

    def test_new_hosts_enter_and_stale_mass_renormalized(self, spark):
        from langscrape_spark.operators.hostrank import pagerank_warm

        old = self._edges(spark, [("a", "b"), ("b", "a"), ("z", "a")])
        new = self._edges(spark, [("a", "b"), ("b", "a"), ("a", "n1")])
        prev = pagerank_warm(old, None, 6)  # has z, no n1
        out = {x["host"]: x["rank"] for x in pagerank_warm(new, prev, 4).collect()}
        assert "n1" in out and "z" not in out
        assert abs(sum(out.values()) - 1.0) < 1e-4  # z's mass renormalized away
        assert out["n1"] > 0

    def test_empty_graph(self, spark):
        from langscrape_spark.operators.hostrank import pagerank_warm

        e = self._edges(spark, []) if False else spark.createDataFrame(
            [], "src_host string, dst_host string"
        )
        assert pagerank_warm(e, None, 3).count() == 0


# ---------------------------------------------------------------------------
# Hard-negative mining (q194)
# ---------------------------------------------------------------------------

class TestHardNegatives:
    def test_band_label_and_poison_semantics(self, spark):
        from langscrape_spark.operators.ann import hard_negative_pairs

        # One cluster's worth of 2-d vectors (k=1 -> everything in one
        # cluster): anchor u0; u1 near-dup same direction (sim ~1,
        # above band); u2 mid-similarity different label (the hard
        # negative); u3 mid-similarity SAME label (excluded); u4
        # orthogonal (below band); u5 zero vector (poison -> NULL sim).
        rows = [
            (0, [1.0, 0.0], "A"),
            (1, [0.999, 0.01], "B"),
            (2, [0.3, 0.954], "B"),
            (3, [0.3, 0.954], "A"),
            (4, [0.0, 1.0], "B"),
            (5, [0.0, 0.0], "B"),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        out = hard_negative_pairs(
            emb, k=1, iterations=1, lo=0.05, hi=0.9, per_anchor=5
        )
        got = {
            (r["vec_id"], r["neg_id"]): (r["sim"], r["rk"])
            for r in out.collect()
        }
        negs_of_0 = sorted(n for (a, n) in got if a == 0)
        # u1 above band (sim>0.9), u3 same label, u4 below band (0.0),
        # u5 NULL sim -> only u2 remains.
        assert negs_of_0 == [2]
        assert got[(0, 2)][1] == 1
        assert 0.05 <= got[(0, 2)][0] < 0.9

    def test_per_anchor_cap_and_ordering(self, spark):
        from langscrape_spark.operators.ann import hard_negative_pairs

        import math

        rows = [(0, [1.0, 0.0], "A")] + [
            (i, [math.cos(0.4 + i * 0.1), math.sin(0.4 + i * 0.1)], "B")
            for i in range(1, 8)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        out = [
            (r["neg_id"], r["sim"], r["rk"])
            for r in hard_negative_pairs(
                emb, k=1, iterations=1, lo=0.05, hi=0.999, per_anchor=3
            )
            .where(F.col("vec_id") == 0)
            .orderBy("rk")
            .collect()
        ]
        assert len(out) == 3
        sims = [s for _, s, _ in out]
        assert sims == sorted(sims, reverse=True)
        # nearest angles first: vec 1 (0.5 rad), 2 (0.6), 3 (0.7)
        assert [n for n, _, _ in out] == [1, 2, 3]


class TestRangePartitionerFixes:
    def test_single_partition_no_spurious_boundary(self, spark):
        from langscrape_spark.operators.layout import range_partition_audit

        df = spark.range(100).select(F.col("id").alias("k"))
        rows = range_partition_audit(df, "k", n_parts=1, sample_mod=1).collect()
        assert [(r["part"], r["n_rows"], r["skew"]) for r in rows] == [
            (0, 100, 1.0)
        ]

    def test_native_numeric_ordering_not_lexicographic(self, spark):
        """2 x100, 3 x100, 10 x1000, full sample, 2 parts: the median
        boundary is 10 under NUMERIC order (everything below it ->
        one loaded partition, skew 2.0). Lexicographic order would
        instead split '10' | '2','3' into 1000/200 — the audit must
        describe the layout a numeric RangePartitioner builds."""
        from langscrape_spark.operators.layout import range_partition_audit

        vals = [2] * 100 + [3] * 100 + [10] * 1000
        df = spark.createDataFrame([(v,) for v in vals], ["k"])
        rows = {
            r["part"]: (r["n_rows"], r["skew"])
            for r in range_partition_audit(
                df, "k", n_parts=2, sample_mod=1
            ).collect()
        }
        assert rows == {0: (1200, 2.0)}


class TestLinkageEmptyFields:
    def test_raises_clearly(self, spark):
        from langscrape_spark.operators.linkage import fs_link_pairs

        a = spark.createDataFrame([(1, "b")], ["id_a", "blk"])
        b = spark.createDataFrame([(2, "b")], ["id_b", "blk"])
        with pytest.raises(ValueError, match="at least one FsField"):
            fs_link_pairs(a, b, "id_a", "id_b", ["blk"], [], 0, 0)


class TestHardNegativePoison:
    def test_wrong_dimension_vectors_never_mined(self, spark):
        from langscrape_spark.operators.ann import hard_negative_pairs

        # md5 seed order for {0,1,2,3} is [1,2,0,3] — the k=1
        # centroid seeds from 2-dim vec 1, so the 3-dim rows are the
        # poison (wrong dimension RELATIVE to the learned centroids).
        rows = [
            (0, [1.0, 0.0], "A"),
            (1, [0.5, 0.866], "B"),
            # wrong-dimension poison pair — must NOT appear as a pair
            (2, [1.0, 0.0, 0.0], "A"),
            (3, [0.5, 0.866, 0.0], "B"),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        out = hard_negative_pairs(
            emb, k=1, iterations=1, lo=0.05, hi=0.99, per_anchor=5
        ).collect()
        ids = {r["vec_id"] for r in out} | {r["neg_id"] for r in out}
        assert 2 not in ids and 3 not in ids
        assert (0, 1) in {(r["vec_id"], r["neg_id"]) for r in out}


# ---------------------------------------------------------------------------
# One-permutation MinHash (q195)
# ---------------------------------------------------------------------------

class TestOphMinhash:
    def _sigs(self, spark, rows, k=16):
        from langscrape_spark.operators.dedup import oph_signature_table

        df = spark.createDataFrame(rows, ["id", "text"])
        return oph_signature_table(df, "id", "text", k_slots=k)

    def test_identical_docs_full_agreement(self, spark):
        from langscrape_spark.operators.dedup import oph_jaccard_estimates

        t = "the quick brown fox jumps over the lazy dog again and again"
        sigs = self._sigs(spark, [(1, t), (2, t)])
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        r = oph_jaccard_estimates(pairs, sigs, "id", 16).collect()[0]
        assert r["slots_equal"] == 16 and r["est_jaccard"] == 1.0

    def test_disjoint_docs_no_agreement(self, spark):
        from langscrape_spark.operators.dedup import oph_jaccard_estimates

        a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(10))
        b = " ".join(f"delta{i} epsi{i} zeta{i}" for i in range(10))
        sigs = self._sigs(spark, [(1, a), (2, b)])
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        r = oph_jaccard_estimates(pairs, sigs, "id", 16).collect()[0]
        # XOR distance mixing means borrowed slots from different
        # donors almost never collide; allow tiny noise.
        assert r["est_jaccard"] <= 0.125

    def test_exact_row_count_and_empty_doc_nulls(self, spark):
        sigs = self._sigs(spark, [(1, "one two three four five"), (2, "x")])
        rows = sigs.collect()
        assert len(rows) == 32  # 16 slots x 2 docs, even for empty
        doc2 = [r for r in rows if r["id"] == 2]
        # "x" alone yields zero 3-shingles -> every slot NULL
        assert len(doc2) == 16 and all(r["sig"] is None for r in doc2)

    def test_filled_slots_carry_raw_bin_minimum(self, spark):
        """A slot that received hashes must hold the raw per-bin min
        (borrow distance 0 -> XOR 0 is the identity)."""
        from langscrape_spark.operators.dedup import (
            _md5_lower64,
            shingles,
        )

        t = " ".join(f"w{i}" for i in range(40))
        df = spark.createDataFrame([(1, t)], ["id", "text"])
        expected = (
            df.select(F.explode(shingles(F.col("text"))).alias("s"))
            .select(
                _md5_lower64(F.col("s"))
                .bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
                .alias("h")
            )
            .select(F.pmod("h", F.lit(16)).alias("slot"), "h")
            .groupBy("slot")
            .agg(F.min("h").alias("v"))
        )
        exp = {r["slot"]: r["v"] for r in expected.collect()}
        got = {
            r["slot"]: r["sig"] for r in self._sigs(spark, [(1, t)]).collect()
        }
        for slot, v in exp.items():
            assert got[slot] == v

    def test_partition_invariance(self, spark):
        rows = [(i, f"doc {i} words " + " ".join(f"t{j}" for j in range(i % 9 + 3))) for i in range(40)]
        from langscrape_spark.operators.dedup import oph_signature_table

        df = spark.createDataFrame(rows, ["id", "text"])
        a = sorted(
            (r["id"], r["slot"], r["sig"])
            for r in oph_signature_table(df.repartition(1), "id", "text", 16).collect()
        )
        b = sorted(
            (r["id"], r["slot"], r["sig"])
            for r in oph_signature_table(df.repartition(7), "id", "text", 16).collect()
        )
        assert a == b


# ---------------------------------------------------------------------------
# Water-filling budget allocation (q196)
# ---------------------------------------------------------------------------

class TestWaterfill:
    def _run(self, spark, demands, budget):
        from langscrape_spark.operators.sharding import waterfill_allocation

        df = spark.createDataFrame(
            [(f"h{i:02d}", d) for i, d in enumerate(demands)],
            ["host", "demand"],
        )
        return {
            r["host"]: (r["alloc"], r["satisfied"])
            for r in waterfill_allocation(df, "host", "demand", budget).collect()
        }

    def test_capped_level_and_remainder(self, spark):
        # demands [1, 4, 10, 10], budget 12 -> level fit: v0=1
        # (1 + 3*1 = 4 <= 12), spare = 12-1-3 = 8, level = 1+2 = 3,
        # rem = 2 -> two lowest unsat hosts (h01, h02) get 4, h03 gets 3.
        out = self._run(spark, [1, 4, 10, 10], 12)
        assert out == {
            "h00": (1, 1),
            "h01": (4, 0),
            "h02": (4, 0),
            "h03": (3, 0),
        }
        assert sum(a for a, _ in out.values()) == 12

    def test_all_satisfied_when_budget_covers(self, spark):
        out = self._run(spark, [3, 5, 2], 100)
        assert out == {"h00": (3, 1), "h01": (5, 1), "h02": (2, 1)}

    def test_budget_below_host_count(self, spark):
        # budget 2 over 3 hosts: level 0, rem 2 -> first two hosts 1.
        out = self._run(spark, [5, 5, 5], 2)
        # deterministic lowest-host-id remainder: h00 and h01 get the
        # two units, h02 gets zero
        assert out == {"h00": (1, 0), "h01": (1, 0), "h02": (0, 0)}
        assert sum(a for a, _ in out.values()) == 2

    def test_conservation_property(self, spark):
        import random

        rng = random.Random(7)
        demands = [rng.randint(1, 50) for _ in range(40)]
        for budget in (10, 137, 600, sum(demands)):
            out = self._run(spark, demands, budget)
            total = sum(a for a, _ in out.values())
            assert total == min(budget, sum(demands)), (budget, total)
            # no host exceeds its demand; max-min: every unsatisfied
            # host's alloc within 1 of every other unsatisfied host's
            unsat = [a for a, s in out.values() if s == 0]
            if unsat:
                assert max(unsat) - min(unsat) <= 1


# ---------------------------------------------------------------------------
# TextTiling segmentation (q197)
# ---------------------------------------------------------------------------

class TestTextTiling:
    def test_topic_shift_is_detected(self, spark):
        from langscrape_spark.operators.segmentation import (
            texttile_boundaries,
        )

        # Three topical sections of 40 tokens each (w=20 -> 6 blocks):
        # cosine is high INSIDE a section, ~0 across section borders,
        # so gaps 1 and 3 (the borders) are the valleys.
        secs = [
            " ".join(f"apple banana cherry date" for _ in range(10)),
            " ".join(f"quark lepton boson gluon" for _ in range(10)),
            " ".join(f"sonnet stanza meter rhyme" for _ in range(10)),
        ]
        doc = " ".join(secs)
        df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
        row = texttile_boundaries(df, "doc_id", "text", w=20).collect()[0]
        assert row["n_blocks"] == 6 and row["n_gaps"] == 5
        assert row["boundaries"] == "1,3"

    def test_uniform_doc_has_no_boundaries(self, spark):
        from langscrape_spark.operators.segmentation import (
            texttile_boundaries,
        )

        doc = " ".join("same words every time here" for _ in range(20))
        df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
        row = texttile_boundaries(df, "doc_id", "text", w=20).collect()[0]
        assert row["n_boundaries"] == 0 and row["boundaries"] == ""

    def test_short_doc_zero_gaps(self, spark):
        from langscrape_spark.operators.segmentation import (
            texttile_boundaries,
        )

        df = spark.createDataFrame([(1, "just a few words")], ["doc_id", "text"])
        row = texttile_boundaries(df, "doc_id", "text", w=20).collect()[0]
        assert row["n_blocks"] == 1 and row["n_gaps"] == 0
        assert row["n_boundaries"] == 0


# ---------------------------------------------------------------------------
# Hilbert layout audit (q198)
# ---------------------------------------------------------------------------

class TestHilbertLayout:
    def test_curve_is_bijective_and_locality_beats_morton(self, spark):
        from langscrape_spark.operators.layout import (
            hilbert_file_stats,
            zorder_file_stats,
        )

        # full 32x32 grid (bits=5) — every cell exactly once
        grid = spark.range(1024).select(
            (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
        )
        h = hilbert_file_stats(grid, F.col("x"), F.col("y"), bits=5, files=16)
        z = zorder_file_stats(grid, F.col("x"), F.col("y"), bits=5, files=16)
        hr = {r["file_id"]: r for r in h.collect()}
        zr = {r["file_id"]: r for r in z.collect()}
        # bijective: every file holds exactly 1024/16 cells
        assert all(r["n_rows"] == 64 for r in hr.values()) and len(hr) == 16
        assert all(r["n_rows"] == 64 for r in zr.values()) and len(zr) == 16
        area = lambda r: (r["xb_max"] - r["xb_min"] + 1) * (  # noqa: E731
            r["yb_max"] - r["yb_min"] + 1
        )
        # On a full grid both curves tile 64-cell files; Hilbert's
        # total bounding area never exceeds Morton's (no seams).
        assert sum(map(area, hr.values())) <= sum(map(area, zr.values()))
        # and every Hilbert file is a perfect 64-cell rectangle
        assert all(area(r) == 64 for r in hr.values())


# ---------------------------------------------------------------------------
# AIMD politeness rates (q199)
# ---------------------------------------------------------------------------

class TestAimdRates:
    def test_recurrence_exact(self, spark):
        from langscrape_spark.operators.sessions import aimd_rate_trajectory

        rows = [
            ("a", 0, False), ("a", 1, True), ("a", 3, True),
            ("b", 2, False),
        ]
        ev = spark.createDataFrame(rows, ["host", "r", "e"])
        out = {
            (r["host"], r["round"]): (r["err"], r["rate_micro"])
            for r in aimd_rate_trajectory(
                ev, "host", "r", "e", n_rounds=5
            ).collect()
        }
        # host a: 1.0 -> +0.25 (r0 clean) -> halve (r1) -> +0.25 (r2,
        # missing = clean) -> halve (r3) -> +0.25 (r4 missing)
        assert out[("a", 0)] == (0, 1_250_000)
        assert out[("a", 1)] == (1, 625_000)
        assert out[("a", 2)] == (0, 875_000)
        assert out[("a", 3)] == (1, 437_500)
        assert out[("a", 4)] == (0, 687_500)
        # host b: all clean -> additive every round
        assert out[("b", 4)] == (0, 2_250_000)
        assert len(out) == 10

    def test_floor_is_respected(self, spark):
        from langscrape_spark.operators.sessions import aimd_rate_trajectory

        ev = spark.createDataFrame(
            [("a", r, True) for r in range(6)], ["host", "r", "e"]
        )
        rates = [
            r["rate_micro"]
            for r in aimd_rate_trajectory(ev, "host", "r", "e", 6)
            .orderBy("round")
            .collect()
        ]
        # 1.0 -> .5 -> .25 -> .125 (floor) -> stays at floor
        assert rates == [500_000, 250_000, 125_000, 125_000, 125_000, 125_000]


# ---------------------------------------------------------------------------
# Fuzzy decontamination (q200)
# ---------------------------------------------------------------------------

class TestFuzzyDecontaminate:
    def test_truncated_leak_flagged_unrelated_not(self, spark):
        from langscrape_spark.operators.contamination import (
            fuzzy_decontaminate,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        train = spark.createDataFrame(
            [(1, base), (2, "totally different words entirely here now")],
            ["id", "text"],
        )
        evalset = spark.createDataFrame(
            [
                (101, " ".join(base.split()[:8])),  # 80% truncation of 1
                (102, "unrelated benchmark prompt question"),
            ],
            ["id", "text"],
        )
        got = {
            (r["train_id"], r["eval_id"]): r["jaccard"]
            for r in fuzzy_decontaminate(
                train, evalset, "text", "id"
            ).collect()
        }
        assert (1, 101) in got and got[(1, 101)] >= 0.5
        assert all(t != 2 for t, _ in got)
        assert all(e != 102 for _, e in got)

    def test_exact_gate_boundary_integer(self, spark):
        """A pair at exactly Jaccard 1/2 passes (>= gate, integer
        cross-multiplied — no float-tie ambiguity)."""
        from langscrape_spark.operators.contamination import (
            fuzzy_decontaminate,
        )

        # 6 tokens -> 4 shingles; eval shares exactly 2 of 4, union 6?
        # Construct: train 'a b c d e f' (sh: abc bcd cde def);
        # eval 'a b c d x y' (sh: abc bcd cdx dxy) -> I=2, U=6 -> 1/3
        # below gate; eval2 'a b c d e x' (abc bcd cde dex) -> I=3,
        # U=5 -> 0.6 passes.
        train = spark.createDataFrame([(1, "a b c d e f")], ["id", "text"])
        evalset = spark.createDataFrame(
            [(11, "a b c d x y"), (12, "a b c d e x")], ["id", "text"]
        )
        got = {
            r["eval_id"]: r["jaccard"]
            for r in fuzzy_decontaminate(
                train, evalset, "text", "id"
            ).collect()
        }
        assert 12 in got and abs(got[12] - 0.6) < 1e-6
        assert 11 not in got


# ---------------------------------------------------------------------------
# Min-K% Prob membership inference (q201)
# ---------------------------------------------------------------------------

class TestMinKProb:
    def test_members_score_above_scrambled_nonmembers(self, spark):
        from langscrape_spark.operators.text import min_k_prob

        rows = [
            (i, "the quick brown fox jumps over the lazy dog " * 4)
            for i in range(6)
        ] + [
            (i, "data table scan hash join filter sort merge " * 4)
            for i in range(6, 12)
        ]
        train = spark.createDataFrame(rows, ["doc_id", "text"])
        member = train.where(F.col("doc_id") == 0)
        scrambled = spark.createDataFrame(
            [(100, "dog lazy the over jumps fox brown quick the " * 4)],
            ["doc_id", "text"],
        )
        probes = member.unionByName(scrambled)
        got = {
            r["doc_id"]: r["mink_logp_mean"]
            for r in min_k_prob(train, probes, "text", "doc_id").collect()
        }
        # the member's worst-20% tokens are familiar bigrams; the
        # scrambled probe's are unseen bigrams -> much lower logp
        assert got[0] > got[100] + 0.5

    def test_k_cut_is_integer_ceil_and_deterministic(self, spark):
        from langscrape_spark.operators.text import min_k_prob

        train = spark.createDataFrame(
            [(1, "a b c d e f g h i j k")], ["doc_id", "text"]
        )
        out = min_k_prob(
            train, train, "text", "doc_id", k_pct=20
        ).collect()[0]
        # 11 tokens -> ceil(2.2) = 3 kept
        assert out["n_tokens"] == 11 and out["k_used"] == 3


class TestReviewRegressions2:
    def test_min_k_scores_probe_only_unk_tokens(self, spark):
        """Probe-only tokens (mapped to <unk> with NO train-side uni
        row) must be SCORED at the smoothed fallback, not dropped —
        they are exactly the most-surprising tokens the audit wants."""
        from langscrape_spark.operators.text import min_k_prob

        train = spark.createDataFrame(
            [(1, "a b c d e a b c d e")], ["doc_id", "text"]
        )
        probe = spark.createDataFrame(
            [(9, "a b c d zz1 zz2 zz3 zz4 zz5 zz6")], ["doc_id", "text"]
        )
        out = min_k_prob(train, probe, "text", "doc_id").collect()[0]
        assert out["n_tokens"] == 10  # was 4 pre-fix (inner join)
        assert out["k_used"] == 2

    def test_aimd_host_with_only_out_of_window_rounds_kept(self, spark):
        from langscrape_spark.operators.sessions import aimd_rate_trajectory

        ev = spark.createDataFrame(
            [("a", 9, True), ("b", 0, True)], ["host", "r", "e"]
        )
        out = aimd_rate_trajectory(ev, "host", "r", "e", n_rounds=4)
        rows = {
            (r["host"], r["round"]): r["rate_micro"] for r in out.collect()
        }
        # host a: all 4 rounds clean (its only event is out of window)
        assert rows[("a", 3)] == 2_000_000
        assert len([k for k in rows if k[0] == "a"]) == 4

    def test_waterfill_satisfied_path(self, spark):
        from langscrape_spark.operators.sharding import waterfill_allocation

        df = spark.createDataFrame(
            [("h1", 5), ("h2", 3)], ["host", "demand"]
        )
        out = {
            r["host"]: (r["alloc"], r["satisfied"])
            for r in waterfill_allocation(df, "host", "demand", 100).collect()
        }
        assert out == {"h1": (5, 1), "h2": (3, 1)}


# ---------------------------------------------------------------------------
# Average Precision (q202)
# ---------------------------------------------------------------------------

class TestAveragePrecision:
    def _run(self, spark, ranking, rels, k=5):
        from langscrape_spark.operators.evalops import (
            average_precision_at_k,
        )

        ranked = spark.createDataFrame(ranking, ["doc_id", "score"])
        rel = spark.createDataFrame(rels, ["doc_id", "rel"])
        return average_precision_at_k(ranked, rel, k=k).collect()[0]

    def test_textbook_ap(self, spark):
        # ranks 1,3,5 relevant of R=3: AP = (1/1 + 2/3 + 3/5)/3
        ranking = [(i, 10.0 - i) for i in range(1, 6)]
        rels = [(1, 1), (3, 1), (5, 1)]
        out = self._run(spark, ranking, rels)
        assert out["n_hits"] == 3 and out["n_relevant"] == 3
        assert abs(out["ap"] - (1 + 2 / 3 + 3 / 5) / 3) < 1e-6

    def test_perfect_and_zero(self, spark):
        ranking = [(i, 10.0 - i) for i in range(1, 6)]
        out = self._run(spark, ranking, [(1, 1), (2, 1)])
        assert out["ap"] == 1.0
        out0 = self._run(spark, ranking, [(99, 1)])
        assert out0["ap"] == 0.0 and out0["n_hits"] == 0
        # R = 0 -> NULL, not a crash
        outn = self._run(spark, ranking, [(1, 0)])
        assert outn["ap"] is None

    def test_duplicate_relevance_rows_collapse(self, spark):
        ranking = [(1, 5.0), (2, 4.0)]
        out = self._run(spark, ranking, [(1, 1), (1, 1), (1, 0)])
        assert out["n_relevant"] == 1 and out["ap"] == 1.0


# ---------------------------------------------------------------------------
# CDC chunk reuse (q203)
# ---------------------------------------------------------------------------

class TestCdcReuse:
    def test_prepend_preserves_tail_chunks(self, spark):
        """The CDC selling point: prepending text only disturbs chunks
        up to the first content boundary — everything after is
        byte-identical, so reuse is high; a fixed-stride chunker
        would share ~nothing."""
        from langscrape_spark.operators.text import cdc_chunks

        import random

        rng = random.Random(3)
        words = " ".join(
            f"w{rng.randint(0, 500)}" for _ in range(400)
        )
        a = spark.createDataFrame([(1, words)], ["doc_id", "text"])
        b = spark.createDataFrame(
            [(1, "breaking update today " + words)], ["doc_id", "text"]
        )
        ha = {r["chunk_hash"] for r in cdc_chunks(a).collect()}
        hb = {r["chunk_hash"] for r in cdc_chunks(b).collect()}
        shared = ha & hb
        assert len(shared) >= 0.6 * len(hb)  # most chunks survive
        assert len(hb - ha) >= 1             # the head chunk changed


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage (q204)
# ---------------------------------------------------------------------------

class TestEbShrinkage:
    def test_small_hosts_shrink_more(self, spark):
        from langscrape_spark.operators.hostquality import (
            eb_shrunken_rates,
        )

        rows = (
            [("big", 1)] * 90 + [("big", 0)] * 10     # 0.9 on n=100
            + [("tiny", 1)] * 2                        # 1.0 on n=2
            + [("mid", 1)] * 5 + [("mid", 0)] * 15     # 0.25 on n=20
        )
        df = spark.createDataFrame(rows, ["host", "f"])
        out = {
            r["host"]: r for r in eb_shrunken_rates(df, "host", "f").collect()
        }
        m = out["big"]["prior_mean"]
        # shrinkage direction: every host moves TOWARD the prior
        for h in out:
            raw, sh = out[h]["raw_rate"], out[h]["shrunk_rate"]
            assert abs(sh - m) <= abs(raw - m) + 1e-9
        # the tiny host moves proportionally farthest
        move = lambda h: abs(out[h]["shrunk_rate"] - out[h]["raw_rate"])  # noqa: E731
        assert move("tiny") > move("big")

    def test_zero_variance_no_shrink(self, spark):
        from langscrape_spark.operators.hostquality import (
            eb_shrunken_rates,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", 0), ("b", 1), ("b", 0)], ["host", "f"]
        )
        out = eb_shrunken_rates(df, "host", "f").collect()
        assert all(r["k_strength"] == 0.0 for r in out)
        assert all(r["shrunk_rate"] == r["raw_rate"] for r in out)


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (q205)
# ---------------------------------------------------------------------------

class TestPoissonBootstrap:
    def test_ci_brackets_mean_and_is_deterministic(self, spark):
        from langscrape_spark.operators.ranking import poisson_bootstrap_ci

        df = spark.createDataFrame(
            [(i, 100 + (i * 37) % 50) for i in range(2000)],
            ["doc_id", "v"],
        )
        a = poisson_bootstrap_ci(df, "v", "doc_id", 64).collect()[0]
        b = poisson_bootstrap_ci(
            df.repartition(13), "v", "doc_id", 64
        ).collect()[0]
        assert a.asDict() == b.asDict()  # no RNG, partition-invariant
        assert a["ci_lo"] <= a["mean_full"] <= a["ci_hi"]
        # ~1/sqrt(n) scale sanity: CI half-width well under the data SD
        assert (a["ci_hi"] - a["ci_lo"]) < 5.0
        assert a["n_rows"] == 2000 and a["se"] > 0

    def test_narrower_with_more_data(self, spark):
        from langscrape_spark.operators.ranking import poisson_bootstrap_ci

        small = spark.createDataFrame(
            [(i, 100 + (i * 37) % 50) for i in range(100)], ["doc_id", "v"]
        )
        big = spark.createDataFrame(
            [(i, 100 + (i * 37) % 50) for i in range(5000)], ["doc_id", "v"]
        )
        ws = poisson_bootstrap_ci(small, "v", "doc_id", 64).collect()[0]
        wb = poisson_bootstrap_ci(big, "v", "doc_id", 64).collect()[0]
        assert (wb["ci_hi"] - wb["ci_lo"]) < (ws["ci_hi"] - ws["ci_lo"])
