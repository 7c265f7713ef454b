"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship interleaved-extraction pipeline over
sf0.001. ``queries()`` exposes every implemented operator from SURVEY.md §2
plus the training-data operators (dedup / similarity / text analysis);
``oracle_sql()`` gives each one a DuckDB twin (same column names, floats
rounded identically, timestamps cast to epoch seconds).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- helpers

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents unioned with a shifted copy of doc_id<20 — guarantees
    duplicate texts exist so dedup queries return non-trivial results."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build an interleaved text+media corpus from the sf0.001
    documents table, run the full extraction pipeline (Arrow-batched OCR
    kernel + HTML main-content + doc_id reassembly), return per-doc stats."""
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.schemas import DOCUMENTS_SCHEMA

    sf_dir = "/root/testdata/sf0.001"
    flat = _t(spark, sf_dir, "documents")

    # media pool: deterministic synthetic images (generated once, small)
    _, media_pd = corpus.make_corpus(8, seed=42)
    media = pandas_to_spark(spark, media_pd, "media")
    pool = media_pd["media_ref"].tolist()
    refs = F.array(*[F.lit(r) for r in pool])

    docs = flat.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("<html><body><nav><a href='/'>nav</a></nav><p>"), F.col("text"), F.lit("</p></body></html>")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.element_at(refs, (F.pmod(F.col("doc_id"), F.lit(len(pool))) + 1).cast("int")).alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            ),
        ).cast(DOCUMENTS_SCHEMA["spans"].dataType).alias("spans"),
    )
    out = run_extraction(spark, docs, media)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.aggregate(
            F.transform("spans", lambda s: F.length(s["text"])),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("chars_extracted"),
    )


# ---------------------------------------------------------------- queries


def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q02_filter_projection(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.filter((F.col("value") > 0.5) & (F.col("event_type") == "click")).select(
        "event_id", "user_id", F.round("value", 6).alias("value_r")
    )


def q03_argmax_per_group(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("max_price"))
    )


def q04_ordered_concat(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
                    lambda s: s["l_returnflag"],
                ),
            ).alias("flags_in_order")
        )
    )


def q05_gap_sessionize_events(spark, sf_dir):
    from ocr_text_recognition_spark.operators.sessionize import gap_sessionize

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    sess = gap_sessionize(ev, ["user_id"], "ts_s", 1800)
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def q06_scanline_merge(spark, sf_dir):
    """1-D cluster-merge of 'scanline' coordinates (reference
    table_ocr_service.py:176-188) re-expressed over event values."""
    from ocr_text_recognition_spark.operators.sessionize import gap_sessionize

    coords = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.floor(F.col("value") * 1000).cast("long").alias("pos"))
        .distinct()
    )
    sess = gap_sessionize(coords, ["event_type"], "pos", 10, session_col="cluster")
    return (
        sess.groupBy("event_type", "cluster")
        .agg(F.round(F.avg("pos"), 2).alias("merged_pos"), F.count("*").alias("n_merged"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("merged_pos"), 2).alias("sum_pos"),
            F.sum("n_merged").alias("n_raw"),
        )
    )


def _cells(spark, sf_dir, row_idx=None):
    """Synthetic long-format cells derived deterministically from events
    (one value per (doc,row,col) via max_by on event_id): value is
    numeric-looking for even event_ids, text otherwise. ``row_idx``
    replaces the default row mapping, event_id mod 4."""
    ev = _t(spark, sf_dir, "events")
    if row_idx is None:
        row_idx = F.pmod("event_id", F.lit(4))
    return ev.groupBy(
        F.pmod("user_id", F.lit(10)).alias("doc_id"),
        row_idx.cast("int").alias("row_idx"),
        F.pmod(F.col("event_id") + 1, F.lit(3)).cast("int").alias("col_idx"),
    ).agg(
        F.max_by(
            F.when(
                F.pmod("event_id", F.lit(2)) == 0,
                F.format_number(F.round("value", 2), 2),
            ).otherwise(F.col("event_type")),
            F.col("event_id"),
        ).alias("value")
    )


def q07_header_inference(spark, sf_dir):
    from ocr_text_recognition_spark.operators.tableops import header_score

    return header_score(_cells(spark, sf_dir))


def q08_numeric_truthtable(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textops import is_numeric, is_numeric_vi

    cells = _cells(spark, sf_dir)
    return cells.groupBy("doc_id").agg(
        F.sum(is_numeric(F.col("value")).cast("int")).alias("n_numeric"),
        F.sum(is_numeric_vi(F.col("value")).cast("int")).alias("n_numeric_vi"),
        F.count("*").alias("n_cells"),
    )


def q09_metadata_extract(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textops import extract_metadata_field

    cust = _t(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("Name: "), F.col("c_name"),
        F.lit("\nClass: "), F.col("c_mktsegment"),
        F.lit("\nYear: 2025-2026"),
    )
    return cust.select(
        "c_custkey",
        extract_metadata_field(text, "student_name").alias("student_name"),
        extract_metadata_field(text, "class_name").alias("class_name"),
        extract_metadata_field(text, "school").alias("school"),
        extract_metadata_field(text, "year").alias("year"),
    )


def q10_grade_cast(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textops import grade_cast

    li = _t(spark, sf_dir, "lineitem")
    vi = F.replace(F.format_number(F.col("l_quantity"), 1), F.lit("."), F.lit(","))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(grade_cast(vi)), 2).alias("sum_grades"),
        F.count("*").alias("n"),
    )


def q11_row_padding(spark, sf_dir):
    from ocr_text_recognition_spark.operators.tableops import pad_rows

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    rows = li.groupBy(
        F.col("l_orderkey").alias("doc_id"),
        F.pmod("l_linenumber", F.lit(2)).cast("int").alias("row_idx"),
    ).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
            lambda s: s["l_returnflag"],
        ).alias("cells"),
    )
    padded = pad_rows(rows)
    return padded.select(
        "doc_id", "row_idx", F.posexplode("cells").alias("col_idx", "value")
    ).select(
        "doc_id",
        "row_idx",
        F.col("col_idx").cast("int").alias("col_idx"),
        "value",
        # synthetic Column_{i} names (reference table_ocr_service.py:313)
        F.concat(F.lit("Column_"), (F.col("col_idx") + 1).cast("string")).alias("col_name"),
    )


def q12_grades_rows(spark, sf_dir):
    from ocr_text_recognition_spark.operators.tableops import grades_rows

    return grades_rows(_cells(spark, sf_dir)).select(
        "doc_id", "row_idx", "subject", "col_idx",
        F.round("grade_num", 2).alias("grade_num"), "grade_raw",
    )


def q13_broadcast_join_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q14_topn_per_nation(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("c_nationkey", "rnk", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


def q15_exact_dedup(spark, sf_dir):
    from ocr_text_recognition_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_dup_documents(spark, sf_dir), "doc_id", "text")


def q16_minhash_signatures(spark, sf_dir):
    from ocr_text_recognition_spark.operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return minhash_signatures(docs, "doc_id", "text", num_perm=8)


def q17_lsh_pairs(spark, sf_dir):
    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_dup_documents(spark, sf_dir), "doc_id", "text", num_perm=8)
    return lsh_candidate_pairs(sigs, num_perm=8, bands=4).select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q18_simhash(spark, sf_dir):
    from ocr_text_recognition_spark.operators.dedup import simhash16

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash16(docs, "doc_id", "text")


def q19_ngram_jaccard(spark, sf_dir):
    from ocr_text_recognition_spark.operators.dedup import ngram_jaccard_pairs

    docs = _dup_documents(spark, sf_dir).filter(
        (F.col("doc_id") < 40) | (F.col("doc_id") >= 100000)
    )
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q20_brute_force_topk(spark, sf_dir):
    from ocr_text_recognition_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb.filter(F.col("vec_id") >= 3), queries, k=5)
    return out.select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rank")


def q21_embedding_near_dup(spark, sf_dir):
    from ocr_text_recognition_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # self-duplicate a slice so near-dup pairs exist
    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    both = emb.unionByName(dup)
    return embedding_near_dup(both, dim=64, threshold=0.999).select(
        "id_a", "id_b", F.round("cos", 5).alias("cos_r")
    )


def q22_lang_id(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textanalysis import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred")).groupBy(
        "lang_pred"
    ).agg(F.count("*").alias("n_docs"))


def q23_quality_score(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textanalysis import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q24_token_counts(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textanalysis import (
        token_count_bpe,
        token_count_ws,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens_ws"),
        token_count_bpe(F.col("text")).cast("int").alias("n_tokens_bpe"),
    )


def q25_fingerprints(spark, sf_dir):
    from ocr_text_recognition_spark.operators.textanalysis import (
        fingerprint,
        rolling_fingerprint,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        rolling_fingerprint(F.col("text"), 3).alias("rolling_fp"),
    )


def q26_windowed_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"),
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q27_salted_skew_agg(spark, sf_dir):
    """Two-phase salted aggregation (explicit skew handling) — result is
    identical to a plain groupBy; the salt only reshapes the shuffle."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(16))
    )
    partial = ev.groupBy("event_type", "salt").agg(
        F.count("*").alias("c"), F.sum("value").alias("s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").alias("n_events"), F.round(F.sum("s"), 4).alias("sum_value")
    )


def q28_extract_main_text(spark, sf_dir):
    from ocr_text_recognition_spark.extraction.udfs import extract_main_text_udf

    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit("<html><body><nav><a href='/x'>boilerplate nav</a></nav><p>"),
        F.col("text"),
        F.lit("</p><footer>footer junk</footer></body></html>"),
    )
    return docs.select(
        "doc_id",
        extract_main_text_udf(wrapped).alias("main_text"),
    ).select("doc_id", F.length("main_text").alias("n_chars"), "main_text")


def q29_extraction_pipeline(spark, sf_dir):
    """Full interleaved extraction on a generated corpus (kernel UDFs +
    doc_id reassembly). The DuckDB oracle reads the committed golden-span
    fixture (fixtures/golden_spans_24.parquet, produced by the independent
    plain-Python corpus.make_golden path) and recomputes the same per-doc
    stats *and an md5 digest of the full (kind, text, media_ref, offset)
    span sequence* — so rows+schema+hash verify span-sequence equality."""
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark

    docs_pd, media_pd = corpus.make_corpus(24, seed=42)
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    out = run_extraction(spark, docs, media)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.aggregate(
            F.transform("spans", lambda s: F.length(s["text"])),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("chars_extracted"),
        # each field coalesces to a \x1d sentinel so a NULL field cannot
        # alias a neighboring value (concat_ws silently skips NULLs) —
        # keeps the digest injective over (kind, text, media_ref, offset)
        F.md5(
            F.concat_ws(
                "\x1e",
                F.transform(
                    "spans",
                    lambda s: F.concat_ws(
                        "\x1f",
                        F.coalesce(s["kind"], F.lit("\x1d")),
                        F.coalesce(s["text"], F.lit("\x1d")),
                        F.coalesce(s["media_ref"], F.lit("\x1d")),
                        F.coalesce(s["offset"].cast("string"), F.lit("\x1d")),
                    ),
                ),
            )
        ).alias("span_digest"),
    )


def q30_image_metadata(spark, sf_dir):
    """Multimodal metadata over generated media payloads (mapInPandas,
    Arrow batches). Oracle: frozen plain-Python metadata fixture
    (fixtures/image_meta_16.parquet, scripts/make_fixtures.py)."""
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import image_metadata

    _, media_pd = corpus.make_corpus(16, seed=42)
    media = pandas_to_spark(spark, media_pd, "media")
    return image_metadata(media).select(
        "media_ref", "height", "width", "n_bytes", F.round("ink_density", 4).alias("ink_density"), "valid"
    )


def q43_resize_metadata(spark, sf_dir):
    """Multimodal resize chain: resize_images (block-mean, mapInPandas) |>
    image_metadata over the generated media pool. Oracle: frozen
    plain-Python twin fixture (fixtures/resized_meta_16.parquet)."""
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import image_metadata, resize_images

    _, media_pd = corpus.make_corpus(16, seed=42)
    media = pandas_to_spark(spark, media_pd, "media")
    resized = resize_images(media, max_side=32)
    return image_metadata(resized).select(
        "media_ref", "height", "width", "n_bytes",
        F.round("ink_density", 4).alias("ink_density"), "valid",
    )


def q31_tokens_to_grid(spark, sf_dir):
    from ocr_text_recognition_spark.operators.sessionize import tokens_to_grid

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    tokens = li.select(
        F.col("l_orderkey").alias("doc_id"),
        (F.pmod("l_partkey", F.lit(12)) * 25 + F.pmod("l_suppkey", F.lit(8))).cast("long").alias("top"),
        (F.pmod("l_suppkey", F.lit(30)) * 20).cast("long").alias("left"),
        F.col("l_returnflag").alias("text"),
    )
    return tokens_to_grid(tokens, y_gap=20, tie_cols=["text"]).select(
        "doc_id", "top", "left", "text", "row_idx", "col_idx"
    )


def q32_interval_join(spark, sf_dir):
    """Range-containment join (the reference's cell<->pixel-region join,
    SURVEY.md §2.3): tokens fall into grid cells by coordinate interval."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    tokens = li.select(
        F.col("l_orderkey").alias("tok_id"),
        (F.pmod("l_partkey", F.lit(100)) * 7 + F.pmod("l_suppkey", F.lit(7))).alias("x"),
        (F.pmod("l_suppkey", F.lit(100)) * 5 + F.pmod("l_partkey", F.lit(5))).alias("y"),
    ).distinct()
    cells = spark.range(0, 49).select(
        F.col("id").alias("cell_id"),
        (F.pmod("id", F.lit(7)) * 100).alias("left"),
        ((F.pmod("id", F.lit(7)) + 1) * 100).alias("right"),
        ((F.col("id") / 7).cast("long") * 72).alias("top"),
        (((F.col("id") / 7).cast("long") + 1) * 72).alias("bottom"),
    )
    joined = tokens.join(
        F.broadcast(cells),
        (F.col("x") >= F.col("left"))
        & (F.col("x") < F.col("right"))
        & (F.col("y") >= F.col("top"))
        & (F.col("y") < F.col("bottom")),
    )
    return joined.groupBy("cell_id").agg(
        F.count("*").alias("n_tokens"), F.sum("x").alias("sum_x")
    )


def q33_grades_json(spark, sf_dir):
    """Grades-document JSON assembly (D7). Spark to_json and DuckDB to_json
    both emit compact JSON with identical double formatting, so the oracle
    check is byte-exact on the JSON string."""
    from ocr_text_recognition_spark.operators.tableops import grades_json

    return grades_json(_cells(spark, sf_dir))


def q34_sorted_distinct_coords(spark, sf_dir):
    """sorted(set(coords)) per group (reference grid-coordinate extraction,
    enhanced_table_ocr_service.py:195-197) via array_sort(array_distinct)."""
    ev = _t(spark, sf_dir, "events")
    coords = ev.groupBy("event_type").agg(
        F.array_sort(F.array_distinct(F.collect_list(F.floor(F.col("value")).cast("long")))).alias("cs")
    )
    return coords.select(
        "event_type", F.posexplode("cs").alias("pos", "coord")
    ).select("event_type", F.col("pos").cast("int").alias("pos"), "coord")


def q35_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k (bucketed candidates, exact rerank)."""
    from ocr_text_recognition_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb.filter(F.col("vec_id") >= 5), queries_df, dim=64, k=3)
    return out.select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rank")


def q40_lsh_topk_multiprobe(spark, sf_dir):
    """q35's hyperplane-LSH top-k with 1-bit multi-probe: each query also
    probes its n_planes one-bit-flip neighbor buckets (query-side explode,
    join stays bucket-keyed) — the recall knob VERDICT r1 asked for."""
    from ocr_text_recognition_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb.filter(F.col("vec_id") >= 5), queries_df, dim=64, k=3, multi_probe=True)
    return out.select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rank")


def q36_cer(spark, sf_dir):
    """Character-error-rate metric (JVM levenshtein) between two derived
    text columns — the extraction-quality metric of the north star."""
    docs = _t(spark, sf_dir, "documents")
    a = F.col("text")
    b = F.regexp_replace(F.col("text"), "a", "x")  # deterministic corruption
    return docs.select(
        "doc_id",
        F.round(
            F.levenshtein(a, b) / F.greatest(F.length(a), F.lit(1)), 6
        ).alias("cer"),
    )


_IVF_CENTS: dict[str, list] = {}


def q37_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: deterministic coarse quantizer (vec_id%50
    centroids), shuffle-free nearest-centroid assignment, n_probe=2 probe
    lists, exact cosine rerank. The IVF counterpart of q35's LSH path.
    The codebook is collected once per sf_dir and cached — in production
    it is likewise a driver-known artifact trained offline."""
    from ocr_text_recognition_spark.operators.similarity import ivf_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    if sf_dir not in _IVF_CENTS:
        _IVF_CENTS[sf_dir] = ivf_centroids(emb, mod=50)
    cents = _IVF_CENTS[sf_dir]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb.filter(F.col("vec_id") >= 5), queries_df, cents, k=3, n_probe=2)
    return out.select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rank")


def q38_pdf_reading_order(spark, sf_dir):
    """Relational twin of the PDF layout parse (extraction/pdflayout.py):
    positioned text runs -> margin/fine-print filter -> y-gap line
    sessionization -> reading-order line assembly. Pure Spark SQL; the UDF
    path applies the identical stages inside Arrow batches."""
    from ocr_text_recognition_spark.operators.sessionize import gap_sessionize

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    runs = ev.select(
        F.pmod("user_id", F.lit(5)).cast("int").alias("page_id"),
        F.col("event_id").alias("run_id"),
        ((F.col("event_id") % 7) * 90 + 10).cast("long").alias("x"),
        ((F.col("event_id") * 7 % 150) * 5 + 40).cast("long").alias("y"),
        F.when(F.pmod("event_id", F.lit(11)) == 0, F.lit(4.0))
        .otherwise(F.lit(11.0))
        .alias("sz"),
        F.col("event_type").alias("txt"),
    )
    body = runs.filter((F.col("y") >= 48) & (F.col("y") <= 744) & (F.col("sz") >= 6))
    lined = gap_sessionize(body, ["page_id"], "y", gap=6, session_col="line_idx")
    return (
        lined.groupBy("page_id", F.col("line_idx").cast("int").alias("line_idx"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("x"), F.col("run_id"), F.col("txt")))
                    ),
                    lambda s: s["txt"],
                ),
                " ",
            ).alias("line_text"),
            F.min("y").alias("line_y"),
        )
    )


_HEADER_SETS = [
    ["Môn học", "HK1", "HK2"],  # subject + grade keywords
    ["Tên môn", "Subject", "Điểm"],  # TWO subject candidates: last wins, first -> other
    ["Name", "Score", "Notes"],  # no keywords -> positional fallback
    ["điểm", "Semester", "Final"],  # grade kw in col 0 but NO subject kw -> positional
]


def q39_keyword_columns(spark, sf_dir):
    """Keyword grade-column classification
    (enhanced_table_ocr_service.py:560-571): header keyword match with
    last-subject-wins and whole-doc positional fallback. Four header-set
    shapes exercise every branch."""
    from ocr_text_recognition_spark.operators.tableops import classify_columns

    sets = F.array(*[F.array(*[F.lit(h) for h in s]) for s in _HEADER_SETS])
    headers = (
        spark.range(0, 12)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.posexplode(
                F.element_at(sets, (F.pmod("doc_id", F.lit(4)) + 1).cast("int"))
            ).alias("col_idx", "header"),
        )
        .select("doc_id", F.col("col_idx").cast("int").alias("col_idx"), "header")
    )
    return classify_columns(headers)


def _keyword_cells(spark):
    """Deterministic long-format cells with keyword headers: 8 docs x 3
    rows x 3 cols; row 0 is the header from _HEADER_SETS[doc%4], data rows
    hold 'S{doc}R{row}' in col 0 and '{doc+row+col},5' elsewhere."""
    sets = F.array(*[F.array(*[F.lit(h) for h in s]) for s in _HEADER_SETS])
    grid = (
        spark.range(0, 8)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("row_idx"))
        .select(
            "doc_id",
            F.col("row_idx").cast("int").alias("row_idx"),
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("col_idx"),
        )
        .select("doc_id", "row_idx", F.col("col_idx").cast("int").alias("col_idx"))
    )
    header = F.element_at(
        F.element_at(sets, (F.pmod("doc_id", F.lit(4)) + 1).cast("int")),
        (F.col("col_idx") + 1).cast("int"),
    )
    value = (
        F.when(F.col("row_idx") == 0, header)
        .when(
            F.col("col_idx") == 0,
            F.concat(F.lit("S"), F.col("doc_id").cast("string"), F.lit("R"), F.col("row_idx").cast("string")),
        )
        .otherwise(
            F.concat(
                (F.col("doc_id") + F.col("row_idx") + F.col("col_idx")).cast("string"),
                F.lit(",5"),
            )
        )
    )
    return grid.select("doc_id", "row_idx", "col_idx", value.alias("value"))


def q42_keyword_grades(spark, sf_dir):
    """grades_rows with keyword header classification end-to-end
    (enhanced_table_ocr_service.py:560-591): roles from the header row
    join back onto data rows; 'other' columns are excluded entirely."""
    from ocr_text_recognition_spark.operators.tableops import grades_rows

    out = grades_rows(_keyword_cells(spark), keyword_headers=True)
    return out.select(
        "doc_id",
        "row_idx",
        "subject",
        "col_idx",
        F.round("grade_num", 2).alias("grade_num"),
        "grade_raw",
    )


def q41_dedup_pipeline(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash signatures -> banded LSH
    candidates (est_jaccard >= 0.5) -> exact n-gram Jaccard verify with the
    stop-shingle DF cap -> verified pairs. The full composition a training
    corpus dedup run uses: candidate generation is bucket-keyed (never
    all-pairs), the verify join is capped against hot-shingle blowup."""
    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _dup_documents(spark, sf_dir)
    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=8)
    # persist: the candidate set feeds BOTH the id semi-join and the final
    # verify join — without it the banded self-join lineage runs twice.
    # Session-lifetime cache (no unpersist): the driver contract hands the
    # lazy DataFrame to the caller, so eviction is left to Spark's LRU;
    # a production job would unpersist after materializing its output.
    cands = (
        lsh_candidate_pairs(sigs, num_perm=8, bands=4)
        .filter(F.col("est_jaccard") >= 0.5)
        .persist()
    )
    # the verify stage runs ONLY over candidate documents (the whole point
    # of LSH pruning): semi-join the corpus down to ids appearing in a
    # candidate pair before the exact shingle self-join
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    exact = ngram_jaccard_pairs(
        docs.join(cand_ids, "doc_id"),
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_shingle_df=50,
    )
    return cands.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 4).alias("est_jaccard"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def q44_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the training-data op for
    balancing a corpus across strata (here: predicted language): per
    stratum, take the first K docs in md5(doc_id) order. Hash-ordered
    row_number instead of RNG sampling so the sample is reproducible
    across engines, runs, and cluster sizes (and DuckDB-verifiable)."""
    from ocr_text_recognition_spark.operators.curation import top_k_per_group
    from ocr_text_recognition_spark.operators.textanalysis import lang_id

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    # Two-level top-K: with ~6 strata a single window would funnel the
    # whole corpus through 6 reducer sorts; the doc_id salt spreads each
    # stratum over the phase-1 partitions. The md5 order is deterministic,
    # so the sample is byte-identical to the single-window form at any
    # cluster size.
    return top_k_per_group(tagged, ["lang_pred"], order, 50, salt_on="doc_id").select(
        "doc_id", "lang_pred", "rn"
    )


def q45_clean_corpus(spark, sf_dir):
    """C4-family corpus cleaning composed from the text-analysis operators:
    exact-dedup survivor selection (min doc_id per whitespace/case
    fingerprint) intersected with a quality floor. One fingerprint shuffle
    + one window — the cheapest possible full-corpus cleaning pass."""
    from ocr_text_recognition_spark.operators.textanalysis import (
        fingerprint,
        quality_score,
    )

    docs = _dup_documents(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("quality") >= 0.5))
        .select("doc_id", "fp", F.round("quality", 2).alias("quality"))
    )


def q46_metadata_diacritics(spark, sf_dir):
    """The reference's REAL metadata pattern table end-to-end
    (table_ocr_service.py:452-479): diacritic Vietnamese first alternates,
    the second alternates (Học sinh/Student -> name, Khối/Grade -> class),
    the optional [\\s:]* separator, and ordered first-match-wins — over a
    fixture whose rows exercise each shape (fixtures_meta.METADATA_DOCS,
    shared verbatim with the DuckDB oracle)."""
    from ocr_text_recognition_spark.fixtures_meta import METADATA_DOCS
    from ocr_text_recognition_spark.operators.textops import METADATA_PATTERNS, extract_metadata

    df = spark.createDataFrame(METADATA_DOCS, "doc_id int, txt string")
    # Field access on the struct folds into each field's expression; a
    # select of "m.*" would keep the struct in a Project of its own.
    meta = extract_metadata(F.col("txt"))
    return df.select("doc_id", *[meta[f].alias(f) for f in METADATA_PATTERNS])


def q47_incremental_lsh(spark, sf_dir):
    """Incremental dedup: a NEW ingest batch (exact copies of doc_id<20,
    shifted ids) band-joined against the STANDING corpus's signatures —
    no corpus self-join, no corpus re-signature (the production shape:
    corpus signatures are a stored table; tests/test_plans.py pins the
    scan-only property). Every new doc must surface its original as an
    est_jaccard=1.0 candidate."""
    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus_sigs = minhash_signatures(docs, "doc_id", "text", num_perm=8)
    new_sigs = minhash_signatures(new, "doc_id", "text", num_perm=8)
    out = lsh_candidate_pairs_incremental(new_sigs, corpus_sigs, num_perm=8, bands=4)
    return out.select(
        "new_id", "corpus_id", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q48_assembled_wide_table(spark, sf_dir):
    """Header promotion end-to-end (the reference's
    _create_dataframe_from_table_data + _is_header_row,
    table_ocr_service.py:284-336): pad to max width, promote the first
    row iff most of its padded cells are non-empty non-numeric, else
    Column_{i+1}. Cells are sparsified deterministically so the ''
    padding path is genuinely exercised; doc parity selects the branch:
    the row mapping is shifted by doc_id, so row 0 of even docs lands on
    even event_ids (numeric values -> Column_{i} fallback) and row 0 of
    odd docs on odd event_ids (text values -> header promotion)."""
    from ocr_text_recognition_spark.operators.tableops import assemble_wide_table

    row_idx = F.pmod(F.col("event_id") + F.pmod("user_id", F.lit(10)), F.lit(4))
    sparse = _cells(spark, sf_dir, row_idx).filter(
        F.pmod(F.col("doc_id") + F.col("row_idx") + F.col("col_idx"), F.lit(7)) != 0
    )
    return assemble_wide_table(sparse)


def q49_hot_shingles(spark, sf_dir):
    """Corpus boilerplate discovery: top-20 shingles by document frequency
    (the pass that produces the stop-shingle list q41's max_shingle_df
    cap consumes). Global top-K via orderBy+limit -> TakeOrderedAndProject
    (map-side partial top-K, no full sort)."""
    from ocr_text_recognition_spark.operators.dedup import hot_shingles

    docs = _t(spark, sf_dir, "documents")
    return hot_shingles(docs, "doc_id", "text", n=3, top_k=20)


def q50_incremental_exact(spark, sf_dir):
    """Incremental exact dedup: fingerprint a NEW ingest batch (30 exact
    copies + 10 novel docs) and semi-join against the standing corpus
    fingerprint table — the cheapest per-ingest dedup pass; only the 30
    copies surface. Corpus side is one narrow stored column (scan-only
    in production, like q47's signature table)."""
    from ocr_text_recognition_spark.operators.dedup import exact_dup_incremental
    from ocr_text_recognition_spark.operators.textanalysis import fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_fps = (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    new = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    ).unionByName(
        docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" entirely novel suffix")).alias("text"),
        )
    )
    return exact_dup_incremental(new, corpus_fps, "doc_id", "text")


def q51_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pair generation completing the q18 story: 4x4-bit
    banding (pigeonhole guarantees recall at hamming<=3), chunk-keyed
    candidate join, exact bit_count(xor) verify — never all-pairs."""
    from ocr_text_recognition_spark.operators.dedup import simhash_near_pairs

    docs = _dup_documents(spark, sf_dir).filter(
        (F.col("doc_id") < 100) | (F.col("doc_id") >= 100000)
    )
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


def q52_dup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH candidate pairs (est>=0.5) -> connected
    components -> (id, cluster_id=min id, the canonical survivor). The
    iterative min-label propagation is the one genuinely non-single-SQL
    operator in the dedup pipeline; the DuckDB oracle recomputes the
    components with a recursive CTE, so it is still fully hash-verified."""
    from ocr_text_recognition_spark.operators.dedup import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_dup_documents(spark, sf_dir), "doc_id", "text", num_perm=8)
    pairs = lsh_candidate_pairs(sigs, num_perm=8, bands=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    return dup_clusters(pairs)


def q53_decontaminate(spark, sf_dir):
    """Benchmark decontamination: distinct 3-gram overlap of every
    training doc against a held-out eval slice (doc_id % 97 == 0 plays
    the benchmark suite), eval side broadcast, plus the contamination
    verdict at a >=3-shingle threshold. The kept corpus is
    train ANTI-JOIN (flagged) — this query returns the flag table."""
    from ocr_text_recognition_spark.operators.curation import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    out = contamination_overlap(tr, ev, "doc_id", "text", n=3)
    return out.select(
        "doc_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        (F.col("n_overlap") >= 3).alias("contaminated"),
    )


def q54_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals per doc: total bigrams, duplicate
    fraction, top-bigram fraction — the boilerplate/spam filter inputs."""
    from ocr_text_recognition_spark.operators.curation import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"), "doc_id", "text", n=2)


def q55_redact_rare(spark, sf_dir):
    """Rare-token redaction (privacy scrub): tokens with document
    frequency below 10% of the corpus become <unk>; emits the rewritten
    text + per-doc redaction count. Exercises the full explode -> df
    count -> vocab join -> ordered reassembly path."""
    from ocr_text_recognition_spark.operators.curation import redact_rare_tokens

    return redact_rare_tokens(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_df_frac=0.1
    )


def q56_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing: per shard (doc_id % 8), docs
    concatenate in id order and split every 512 tokens; per-(shard,chunk)
    doc count, token sum, and id range. Per-shard windows by construction
    — the global-order single-reducer sort never exists in the plan."""
    from ocr_text_recognition_spark.operators.curation import pack_chunks

    return pack_chunks(
        _t(spark, sf_dir, "documents"), "doc_id", "text", budget=512, n_shards=8
    )


def q57_domain_cap(spark, sf_dir):
    """Per-domain quality cap: keep the 10 best-quality docs per source
    (id-asc tiebreak), via the generic two-level salted top-K so a
    mega-domain cannot pin one reducer."""
    from ocr_text_recognition_spark.operators.curation import cap_per_domain

    return cap_per_domain(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "source", k=10
    )


def q58_tfidf_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per doc, ranked by the integer-pure
    (tf desc, df asc, term asc) order; the float score is a value column
    only, so cross-engine ln() ulp noise cannot flip membership."""
    from ocr_text_recognition_spark.operators.curation import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", k=3)


def q59_asof_join(spark, sf_dir):
    """As-of join (union+window form, operators/asof.py): every purchase
    matched to the user's most recent click at-or-before it; LEFT
    semantics (first-session purchases keep null click columns). The
    oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — two independent
    implementations of the operator, hash-compared."""
    from ocr_text_recognition_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = asof_join(purchases, clicks, key="user_id")
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_ts_s"),
        F.col("asof_click_id").alias("click_id"),
        F.unix_timestamp("asof_ts").alias("click_ts_s"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")).alias("gap_s"),
    )


def q60_rollup_stats(spark, sf_dir):
    """Multi-level aggregation via ROLLUP (event_type, day): per-type
    per-day, per-type, and grand-total rows in ONE pass — Spark plans
    grouping sets as a single Expand + aggregate, not three scans."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.rollup(F.col("event_type"), day.alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


def q61_char_percentiles(spark, sf_dir):
    """Exact per-language char-count percentiles via the histogram method
    (operators/stats.py) — shuffle volume O(langs x distinct counts),
    never buffering a group's values in memory like built-in
    percentile(); verified against DuckDB's quantile_cont."""
    from ocr_text_recognition_spark.operators.stats import exact_percentiles

    docs = _t(spark, sf_dir, "documents")
    return exact_percentiles(
        docs, "lang", "n_chars", {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    )


def q62_pii_scrub(spark, sf_dir):
    """PII scrub (operators/curation.py): emails / IPv4 / phone numbers
    replaced with typed placeholders over text with deterministically
    synthesized PII (the sf tables carry none). Pure chained
    regexp_replace — zero-shuffle narrow map. The oracle embeds the SAME
    pattern strings (PII_PATTERNS) so both engines scrub identically."""
    from ocr_text_recognition_spark.operators.curation import pii_count, scrub_pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii_text = F.concat(
        F.substring("text", 1, 40),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" from "),
                (d % 256).cast("string"),
                F.lit(".0.0."),
                ((d * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" or call 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((d * 3) % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id",
        scrub_pii(pii_text).alias("scrubbed"),
        pii_count(pii_text).alias("n_pii"),
    )


def q63_line_dedup(spark, sf_dir):
    """C4-style global line dedup (operators/curation.py): drop every
    duplicate 4-token line corpus-wide except its first occurrence and
    reassemble documents. One line-keyed shuffle + one doc-keyed shuffle;
    ~6% of sf0.01 lines are cross-doc duplicates, so the rewrite is
    exercised for real."""
    from ocr_text_recognition_spark.operators.curation import dedup_lines

    return dedup_lines(_t(spark, sf_dir, "documents"), "doc_id", "text", line_words=4)


def q64_range_join(spark, sf_dir):
    """Keyless point-in-interval join via bin bucketing
    (operators/rangejoin.py): every click within 300s after any purchase.
    With only the inequality predicate Catalyst would plan
    BroadcastNestedLoopJoin (O(L*R)); the manufactured bin key turns it
    into a shuffled equi-join + exact re-check (plan-pinned). Oracle is
    DuckDB's native inequality join."""
    from ocr_text_recognition_spark.operators.rangejoin import point_in_interval_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("start_s"),
        (F.unix_timestamp("ts") + 300).alias("end_s"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.unix_timestamp("ts").alias("click_s"),
    )
    out = point_in_interval_join(
        c, p, point_col="click_s", start_col="start_s", end_col="end_s", bin_width=300
    )
    return out.select(
        "purchase_id", "click_id", (F.col("click_s") - F.col("start_s")).alias("gap_s")
    )


def q65_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional sample (Efraimidis-Spirakis,
    operators/curation.py): top-25 docs per language with selection
    probability proportional to n_chars, via a portable integer-hash
    uniform so DuckDB draws the identical sample. Salted two-level
    top-K underneath (the q44 scale shape)."""
    from ocr_text_recognition_spark.operators.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=25, group_cols=["lang"])


def q66_global_rank(spark, sf_dir):
    """Global ROW_NUMBER over all orders by (o_totalprice, o_orderkey)
    via the histogram-offset form (operators/stats.py) — exact total
    ranking with ONE full-data shuffle and no single-reducer window.
    Oracle is DuckDB's plain global ROW_NUMBER."""
    from ocr_text_recognition_spark.operators.stats import global_rank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return global_rank(
        orders, "o_totalprice", "o_orderkey", bin_width=10000.0, rank_col="rank"
    )


def q67_quota_sample(spark, sf_dir):
    """Data-mixture sampling (operators/curation.py): fixed per-source
    document quotas in deterministic portable-hash order — src2's quota
    exceeds the group (40 > 25), pinning whole-group under-fill. Salted
    top-K + broadcast quota join underneath."""
    from ocr_text_recognition_spark.operators.curation import quota_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = quota_sample(
        docs, "doc_id", "source", {"src0": 10, "src1": 5, "src2": 40, "src3": 2}
    )
    return out.select("doc_id", "source", "rn")


def q68_hashed_linear_score(spark, sf_dir):
    """Model inference in pure SQL (operators/textanalysis.py): a hashed-
    feature linear classifier (fastText shape) scores every document via
    explode -> broadcast model join -> one doc-keyed aggregate. The demo
    weight table is integer/256-valued so the oracle sums bit-identically."""
    from ocr_text_recognition_spark.operators.textanalysis import (
        demo_weight_table,
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return hashed_linear_score(docs, demo_weight_table(spark), "doc_id", "text")


def q69_funnel(spark, sf_dir):
    """Earliest-completion ordered funnel view -> click -> purchase per
    user (operators/funnel.py): greedy per-step minimum, one user-keyed
    join + min-agg per step, no per-user history buffering."""
    from ocr_text_recognition_spark.operators.funnel import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


def q70_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (operators/similarity.py), emitted in
    long (label, idx, c) form for the oracle: shuffle O(labels x dim)
    after map-side combine, row-count independent."""
    from ocr_text_recognition_spark.operators.similarity import group_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = group_centroids(emb, "label")
    return cents.select(
        "label", "n", F.posexplode("centroid").alias("idx", "c")
    )


def q71_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-activity week,
    distinct active users per (cohort_week, week_offset). Two user-keyed
    aggregates + one user-keyed join — the standard retention triangle,
    all map-side-combining."""
    ev = _t(spark, sf_dir, "events")
    week = (F.floor(F.unix_timestamp("ts") / F.lit(604800))).cast("long")
    acts = ev.select("user_id", week.alias("week"))
    cohorts = acts.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        acts.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q72_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (SCD2) interval build: each user's
    purchase history becomes validity ranges [valid_from, valid_to) via
    one per-key lead() window — the warehouse change-history pattern;
    open intervals carry null valid_to."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.round("value", 2).alias("value"),
        F.unix_timestamp("ts").alias("valid_from_s"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("valid_to_s"),
        (F.lead("ts").over(w).isNull()).cast("int").alias("is_current"),
    )


def q73_inverted_index(spark, sf_dir):
    """Inverted index over documents (operators/index.py): distinct-
    per-doc explode, one token-keyed map-side-combining shuffle,
    [min_df, max_df] band keeps hapax noise and stop-token hot keys out
    of the postings shard."""
    from ocr_text_recognition_spark.operators.index import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", min_df=3, max_df=400)


def q74_key_skew_profile(spark, sf_dir):
    """Frequency-of-frequencies skew profile of events.user_id
    (operators/stats.py): per power-of-two band of per-key row count,
    the pre-shuffle diagnostic that decides salting. Integer bit-length
    banding — no float log2 at 2^k boundaries."""
    from ocr_text_recognition_spark.operators.stats import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "events"), "user_id")


def q75_url_dedup(spark, sf_dir):
    """Crawl-frontier URL dedup (operators/urls.py): raw URLs are
    synthesized deterministically from doc_id/source (mixed-case scheme
    and host, www. prefix, default and non-default ports, trailing
    slash, shuffled + utm_* query params, fragments), canonicalized in
    a zero-shuffle narrow map, and collapsed with one groupBy. The
    oracle rebuilds the identical raw strings and canonicalization in
    DuckDB SQL."""
    from ocr_text_recognition_spark.operators.urls import url_dedup

    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(d % 8 == 1, F.lit(":8080"))
        .when(
            d % 4 == 0,
            F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        )
        .otherwise(F.lit("")),
        F.lit("/Docs/"),
        (d % 7).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 3 == 1, F.lit("?a=1&b=2&utm_campaign=x"))
        .otherwise(F.lit("?b=2&a=1")),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", raw.alias("url")
    )
    return url_dedup(docs, "url", "doc_id")


def q76_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (operators/rangejoin.py):
    click attention windows [t, t+300] vs purchase windows [t, t+600]
    per user, bin-bucketed with the later-start dedup rule — no
    nested-loop plan, no post-join dropDuplicates shuffle."""
    from ocr_text_recognition_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        t.alias("c_start"),
        (t + 300).alias("c_end"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("buy_id"),
        t.alias("p_start"),
        (t + 600).alias("p_end"),
    )
    j = interval_overlap_join(
        a, b, "c_start", "c_end", "p_start", "p_end", 600, keys=("user_id",)
    )
    return j.select(
        "user_id",
        "click_id",
        "buy_id",
        F.greatest("c_start", "p_start").alias("ov_start"),
        F.least("c_end", "p_end").alias("ov_end"),
    )


def q77_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality filter (operators/lm.py): add-one-smoothed
    bigram log-prob per document, trained on the corpus's own bigram /
    context counts. Per-bigram log2 scaled to BIGINT before the per-doc
    fold, so the sum is exact integer arithmetic in both engines."""
    from ocr_text_recognition_spark.operators.lm import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q78_pagerank(spark, sf_dir):
    """Host-graph PageRank (operators/graph.py): 3 exact-integer
    (parts-per-million) iterations over a deterministic synthetic link
    graph derived from orders — bit-identical across engines, one join
    + one aggregate per iteration."""
    from ocr_text_recognition_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 37).alias("dst"),
    )
    return pagerank(edges, iterations=3)


def q79_collocations(spark, sf_dir):
    """PMI collocation mining (operators/lm.py): adjacent-pair counts
    vs LHS/RHS marginals, PMI as a single log of exact integer
    products. min_count=5 prunes the noise tail pre-join."""
    from ocr_text_recognition_spark.operators.lm import collocations

    return collocations(_t(spark, sf_dir, "documents"), "doc_id", "text", min_count=5)


def q80_kmeans_step(spark, sf_dir):
    """One k-means Lloyd iteration (operators/similarity.py) seeded by
    the 8 lowest vec_ids: broadcast-scored assignment via the
    dot-product identity, centroid refresh in long (cluster, n, idx, c)
    form for the oracle."""
    from ocr_text_recognition_spark.operators.similarity import kmeans_lloyd_step

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    seeds = emb.filter(F.col("vec_id") < 8)
    out = kmeans_lloyd_step(emb, seeds)
    return out.select(
        "cluster", "n", F.posexplode("centroid").alias("idx", "c")
    )


def q81_snapshot_diff(spark, sf_dir):
    """Re-crawl changelog (operators/snapshot.py): the 'new' snapshot is
    a deterministic mutation of documents (doc_id%10==0 removed,
    %7==1 revised, %13==2 re-added under a shifted id); the diff is a
    hash-reduced full-outer join emitting added/removed/changed only."""
    from ocr_text_recognition_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    new = (
        docs.filter(d % 10 != 0)
        .select(
            "doc_id",
            F.when(d % 7 == 1, F.concat("text", F.lit(" [rev2]")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(d % 13 == 2).select(
                (d + 100000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(docs, new, "doc_id", ["text"])


def q82_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the q78 link graph
    (operators/graph.py): degree-ordered forward counting, each
    triangle found exactly once. Oracle runs the id-ordered textbook
    algorithm — different algorithm, same triangles."""
    from ocr_text_recognition_spark.operators.graph import triangle_counts

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 37).alias("dst"),
    )
    return triangle_counts(edges)


def q83_trailing_window(spark, sf_dir):
    """Per-user trailing 1-hour event count/sum (operators/stats.py):
    integer range frame over epoch seconds with cent-scaled values —
    exact rolling sums, no float accumulation."""
    from ocr_text_recognition_spark.operators.stats import trailing_window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    out = trailing_window(ev, "user_id", "t", "cents", 3600)
    return out.select("user_id", "event_id", "t", "n_trailing", "sum_trailing")


def q84_group_ols_slope(spark, sf_dir):
    """Per-user purchase-spend trend (operators/stats.py): exact-integer
    OLS slope of cent-value vs rebased epoch seconds; only the final
    quotient is float."""
    from ocr_text_recognition_spark.operators.stats import group_ols_slope

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return group_ols_slope(ev, "user_id", "t", "cents")


def q85_customers_without_orders(spark, sf_dir):
    """Anti-join coverage (§2.7): customers with no order above 250k
    via left_anti — the null-safe NOT EXISTS plan (no outer-join +
    null-filter detour); the filter is pushed below the join build
    side."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("ck"))
    )
    return c.join(o, c["c_custkey"] == o["ck"], "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q86_pivot_event_matrix(spark, sf_dir):
    """Pivot coverage: per-user event-type count matrix via
    groupBy().pivot() with an EXPLICIT value list — open-ended pivot
    needs a distinct-scan pre-pass and breaks lineage determinism at
    scale; a declared vocabulary keeps it one shuffle."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


def q87_unpivot_event_matrix(spark, sf_dir):
    """Unpivot/melt coverage: the q86 matrix back to long form via
    DataFrame.unpivot — narrow width-to-rows expansion, no shuffle
    beyond q86's."""
    wide = q86_pivot_event_matrix(spark, sf_dir)
    return wide.unpivot(
        ["user_id"],
        [f"n_{t}" for t in _EVENT_TYPES],
        "metric",
        "n",
    )


def q88_priority_price_deciles(spark, sf_dir):
    """NTILE coverage: order-price deciles PER priority class (the
    partitioned form — a global ntile is the q66 single-reducer
    anti-pattern); unique orderkey tiebreak makes tiles deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(10).over(w).alias("decile"),
    )


def q89_json_props_rollup(spark, sf_dir):
    """Semi-structured coverage: extract an integer field from the JSON
    props column (get_json_object — JVM-side, no Python) and aggregate
    per event_type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q90_cube_order_stats(spark, sf_dir):
    """CUBE coverage (the rollup twin, q60): all four grouping sets of
    (priority, status) in ONE Expand pass — no union of four scans —
    with grouping_id() disambiguating data-NULLs from subtotal rows."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def q91_kmv_distinct_users(spark, sf_dir):
    """KMV cardinality sketch: per-event-type approximate distinct
    users. Cross-engine-deterministic approx-distinct (md5-prefix
    hashes + exact integer estimator) — HLL registers never match
    across engines; this does, bit-for-bit."""
    from ocr_text_recognition_spark.operators.stats import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


def q92_resample_ffill(spark, sf_dir):
    """Calendar resampling: per-user dense daily series with the last
    observed event value carried forward (date spine + LOCF)."""
    from ocr_text_recognition_spark.operators.timeseries import (
        resample_daily_ffill,
    )

    ev = _t(spark, sf_dir, "events")
    return resample_daily_ffill(ev, "user_id", "ts", "value", "event_id")


def q93_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join (lineitem⋈orders⋈customer⋈
    supplier⋈nation⋈region) with the local-supplier predicate
    c_nationkey = s_nationkey. The join-ordering showcase: dims are
    broadcast, facts join largest-first, and revenue is summed in exact
    1e-4-dollar integers so engines agree bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
    )


def q94_prefix_filter_jaccard(spark, sf_dir):
    """Exact Jaccard>=0.9 similarity self-join over documents via
    prefix filtering — no LSH false negatives; the oracle is the
    brute-force all-shared-token join (a genuinely different
    algorithm). 0.9 on this templated corpus keeps the prefix short
    (|prefix| ~ n/10) so the filter actually prunes."""
    from ocr_text_recognition_spark.operators.dedup import (
        prefix_filter_jaccard_join,
    )

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_join(docs, "doc_id", "text", threshold_pct=90)


def q95_vocab_encode(spark, sf_dir):
    """Dictionary-encode the corpus for training: vocabulary ids by
    (document-frequency DESC, token ASC) assigned with the
    histogram-offset global rank (stats.global_rank — no single-reducer
    window over the vocabulary), then every document re-emitted as its
    ordered comma-joined token-id sequence. The text→ids step every LLM
    data pipeline runs last."""
    from ocr_text_recognition_spark.operators.stats import global_rank
    from ocr_text_recognition_spark.operators.textanalysis import tokens

    docs = _t(spark, sf_dir, "documents")
    tokpos = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
    )
    vocab_df = (
        tokpos.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    vocab = global_rank(
        vocab_df.withColumn("neg_df", -F.col("df")),
        "neg_df",
        "token",
        16.0,
        rank_col="token_id",
    ).select("token", "token_id")
    return (
        tokpos.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s["token_id"].cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )


def q96_grouped_split(spark, sf_dir):
    """Leakage-safe train/valid/test split: the hash bucket is computed
    on the GROUP key (source), never the row, so every document of one
    source lands in the same split — row-level random splits leak
    near-duplicates across train/test. md5-prefix bucketing is the same
    portable integer hash as the KMV sketch: deterministic on any
    engine, stable across reruns, zero shuffle (a narrow map)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast(
            "long"
        )
        % 100
    )
    return docs.select(
        "doc_id",
        "source",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


def q97_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    (lag() per user — behavioral modeling / anomaly baselining). Counts
    are exact integers; the row-normalized probability is one float
    division of two exact integers, rounded — the q84 determinism
    pattern."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("next"),
    )
    counts = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.groupBy("prev").agg(F.sum("n").alias("row_total"))
    return counts.join(tot, "prev").select(
        "prev",
        "next",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * F.lit(1.0) / F.col("row_total"), 6).alias("p"),
    )


def q98_price_decile_profile(spark, sf_dir):
    """GLOBAL equal-frequency binning (feature binning for training)
    without a single-reducer sort: histogram-offset global rank (q66
    machinery) + the closed-form bin ``(rank-1)*k div N`` — unlike
    NTILE, engine-independent for any N. Output: per-bin count and
    price bounds."""
    from ocr_text_recognition_spark.operators.stats import global_rank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_rank(o, "o_totalprice", "o_orderkey", 10000.0)
    n_total = ranked.groupBy().agg(F.count("*").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn(
            "bin",
            F.expr("((rank - 1L) * 10L div _n)").cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def q99_group_correlation(spark, sf_dir):
    """Per-group Pearson correlation in exact integer moments (the q84
    OLS determinism pattern + sqrt): qty and whole-dollar price sums
    stay BIGINT (< 2^53, so the final double conversion is exact on any
    engine); the only floats are the closing IEEE-determined products,
    sqrt, and division."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    s = base.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(
            num * F.lit(1.0) / F.sqrt(vx * F.lit(1.0) * vy), 6
        ).alias("corr_qty_price"),
    )


def q100_copurchase_pairs(spark, sf_dir):
    """Market-basket co-occurrence mining: part pairs bought in the same
    order, with support and exact-integer ppm confidence/lift. The
    self-join is keyed on the order (per-order fan-out = basket choose
    2 — baskets are small and bounded; a web-scale run caps basket size
    first, the same hot-key discipline as the shingle df cap)."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    part_n = items.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("_n_orders")
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return (
        pairs.join(
            part_n.select(
                F.col("l_partkey").alias("part_a"),
                F.col("n_part").alias("na"),
            ),
            "part_a",
        )
        .join(
            part_n.select(
                F.col("l_partkey").alias("part_b"),
                F.col("n_part").alias("nb"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("long").alias("support"),
            F.expr("(1000000L * support) div na").alias("conf_a_to_b_ppm"),
            F.expr("(1000000L * support * _n_orders) div (na * nb)").alias(
                "lift_ppm"
            ),
        )
    )


def q101_hopping_window_counts(spark, sf_dir):
    """Batch form of the HOPPING (sliding) window aggregate: 1-hour
    windows every 30 minutes, each event contributing to exactly two
    windows via Spark's native F.window(slide) explode. The oracle
    derives the same two epoch-aligned starts arithmetically — two
    independent definitions of window alignment."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def q102_bfs_distances(spark, sf_dir):
    """Bounded multi-source BFS over the q78 synthetic link graph:
    frontier join + min-combining aggregate per hop, exact integer
    distances. Oracle = a bounded recursive CTE — a genuinely different
    evaluation strategy (path enumeration) arriving at the same
    minima."""
    from ocr_text_recognition_spark.operators.graph import bfs_distances

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 40).alias("src"),
        (F.col("o_orderkey") % 37).alias("dst"),
    )
    return bfs_distances(edges, [0, 1], max_hops=4)


def q103_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking over documents by n_chars: each doc
    pairs with its 3 successors in the global length order — the
    entity-resolution blocking family LSH and prefix filtering don't
    cover (keys that drift continuously instead of hashing discretely).
    Band join on rank div w; oracle = direct rank-difference join."""
    from ocr_text_recognition_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(docs, "doc_id", "n_chars", window=3)


def q104_apply_changelog(spark, sf_dir):
    """Changelog APPLY (the q81 diff's consumer): rebuild the new
    snapshot from the old one + the diff + the new crawl's payloads —
    one anti-join on the standing corpus, one semi-join on the
    incoming batch. Oracle = the new snapshot built directly, so the
    invariant apply(old, diff(old,new), new) == new is what the hash
    compare proves."""
    from ocr_text_recognition_spark.operators.snapshot import (
        apply_changelog,
        snapshot_diff,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    new = (
        docs.filter(d % 10 != 0)
        .select(
            "doc_id",
            F.when(d % 7 == 1, F.concat("text", F.lit(" [rev2]")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(d % 13 == 2).select(
                (d + 100000).alias("doc_id"), "text"
            )
        )
    )
    changes = snapshot_diff(docs, new, "doc_id", ["text"])
    return apply_changelog(docs, changes, new, "doc_id")


def q105_bm25_topk(spark, sf_dir):
    """BM25 top-15 retrieval over documents (operators/index.py): the
    (doc, token) explode is filtered to the query terms before any agg
    (posting-probe cost shape), corpus scalars ride the 1-row broadcast
    crossJoin idiom, ranking orders by the ROUNDED score so float ulp
    drift can't reorder the top-k boundary across engines."""
    from ocr_text_recognition_spark.operators.index import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, ["join", "merge", "slow"], "doc_id", "text", k=15
    )


def q106_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training data
    (operators/similarity.py): per query vector, the top-3 most
    cosine-similar corpus vectors with a DIFFERENT label — label
    mismatch applied before the per-query window rank."""
    from ocr_text_recognition_spark.operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = hard_negative_topk(emb.filter(F.col("vec_id") >= 3), queries_df, k=3)
    return out.select(
        "query_id", "vec_id", "label", F.round("cos", 6).alias("cos_r"), "rank"
    )


def q107_substring_dups(spark, sf_dir):
    """Exact substring duplication at 32-token granularity
    (operators/dedup.py substring_dup_pairs — the Lee et al. 2022
    dedup unit): rolling-window hashes built JVM-side in one transform,
    distinct per (doc, hash), df-capped (window df <= 100) before the
    hash-keyed self-join — never all-pairs."""
    from ocr_text_recognition_spark.operators.dedup import substring_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return substring_dup_pairs(docs, "doc_id", "text", window=32, max_window_df=100)


def q108_bpe_merges(spark, sf_dir):
    """BPE tokenizer merge training, one merge per iteration
    (operators/lm.py bpe_train_batched at batch_size=1 — exact sequential
    BPE): frequency-weighted distinct-word table, per-iteration pair-count
    aggregate + JVM-side fold merge pass, driver-known argmax per merge
    (the IVF-codebook shape). Iterative-greedy — no SQL oracle; rows-only
    in the sweep, pinned instead against a plain-Python twin in
    tests/test_operators.py::test_bpe_train_matches_python_twin."""
    from ocr_text_recognition_spark.operators.lm import bpe_train_batched

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_batched(docs, "doc_id", "text", n_merges=8, batch_size=1)


def q109_bpe_merges_batched(spark, sf_dir):
    """Batched BPE merge training (operators/lm.py bpe_train_batched):
    production merge counts need driver round-trips cut from n_merges to
    n_merges/M — per iteration, collect the top candidate pairs once,
    greedily select up to M pairwise symbol-disjoint merges
    (select_disjoint_batch), apply all of them in ONE JVM-side fold
    (bpe_merge_pass_multi). Iterative-greedy — no SQL oracle; rows-only
    in the sweep, pinned against a plain-Python twin sharing the
    selection function
    (tests/test_operators.py::test_bpe_train_batched_matches_python_twin)
    and, at batch_size=1, against independent sequential BPE (q108)."""
    from ocr_text_recognition_spark.operators.lm import bpe_train_batched

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_batched(docs, "doc_id", "text", n_merges=64, batch_size=8)


def q110_substring_cut_spans(spark, sf_dir):
    """Cut locations for exact substring dedup (operators/dedup.py
    substring_dup_spans) — the removal step of Lee et al. 2022: per doc,
    maximal merged intervals of token positions covered by a duplicated
    32-token window (window-df in [2, 100]). Gaps-and-islands over
    equal-length intervals: new island iff win_start - prev_start > 32."""
    from ocr_text_recognition_spark.operators.dedup import substring_dup_spans

    docs = _t(spark, sf_dir, "documents")
    return substring_dup_spans(docs, "doc_id", "text", window=32, max_window_df=100)


def q113_substring_dedup_apply(spark, sf_dir):
    """Corpus REWRITE for exact substring dedup (operators/dedup.py
    substring_dedup_apply) — the final removal step of Lee et al. 2022:
    drop every token covered by a q110 cut interval and re-join the
    survivors. Removes ALL occurrences of a duplicated run (the released
    deduplicate-text-datasets semantics). One map-shaped corpus pass: the
    cut arrays join in (affected docs only) and a JVM higher-order filter
    rewrites each token array — no token-position explode."""
    from ocr_text_recognition_spark.operators.dedup import substring_dedup_apply

    docs = _t(spark, sf_dir, "documents")
    return substring_dedup_apply(docs, "doc_id", "text", window=32, max_window_df=100)


def q111_audio_metadata(spark, sf_dir):
    """PCM WAV audio metadata + loudness (operators/multimodal.py
    audio_metadata — RIFF/WAVE is codec-free, so this is a real decode in
    the same mapInPandas poison-pill shape as image_metadata). Oracle: a
    VALUES table derived in CLOSED FORM from the synthetic pool's
    construction parameters (avsynth.expected_audio_meta: duration =
    frames/rate, square-wave RMS = amplitude) — never from the parser."""
    import pandas as pd

    from ocr_text_recognition_spark.avsynth import make_audio_pool
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import audio_metadata

    pool = pd.DataFrame(make_audio_pool(), columns=["media_ref", "content"])
    media = pandas_to_spark(spark, pool, "media")
    return audio_metadata(media).select(
        "media_ref", "sample_rate", "channels", "bits",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"), "n_bytes", "valid",
    )


def q112_video_metadata(spark, sf_dir):
    """MP4 container metadata via pure atom walk (operators/multimodal.py
    video_metadata: ftyp brand, mvhd duration, tkhd 16.16 dimensions,
    track count). Oracle: closed-form VALUES from the builder spec
    (avsynth.expected_video_meta: duration = units/timescale)."""
    import pandas as pd

    from ocr_text_recognition_spark.avsynth import make_video_pool
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark
    from ocr_text_recognition_spark.operators.multimodal import video_metadata

    pool = pd.DataFrame(make_video_pool(), columns=["media_ref", "content"])
    media = pandas_to_spark(spark, pool, "media")
    return video_metadata(media).select(
        "media_ref", "major_brand",
        F.round("duration_s", 6).alias("duration_s"),
        "width", "height", "n_tracks", "n_bytes", "valid",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_projection": q02_filter_projection,
        "q03_argmax_per_group": q03_argmax_per_group,
        "q04_ordered_concat": q04_ordered_concat,
        "q05_gap_sessionize_events": q05_gap_sessionize_events,
        "q06_scanline_merge": q06_scanline_merge,
        "q07_header_inference": q07_header_inference,
        "q08_numeric_truthtable": q08_numeric_truthtable,
        "q09_metadata_extract": q09_metadata_extract,
        "q10_grade_cast": q10_grade_cast,
        "q11_row_padding": q11_row_padding,
        "q12_grades_rows": q12_grades_rows,
        "q13_broadcast_join_revenue": q13_broadcast_join_revenue,
        "q14_topn_per_nation": q14_topn_per_nation,
        "q15_exact_dedup": q15_exact_dedup,
        "q16_minhash_signatures": q16_minhash_signatures,
        "q17_lsh_pairs": q17_lsh_pairs,
        "q18_simhash": q18_simhash,
        "q19_ngram_jaccard": q19_ngram_jaccard,
        "q20_brute_force_topk": q20_brute_force_topk,
        "q21_embedding_near_dup": q21_embedding_near_dup,
        "q22_lang_id": q22_lang_id,
        "q23_quality_score": q23_quality_score,
        "q24_token_counts": q24_token_counts,
        "q25_fingerprints": q25_fingerprints,
        "q26_windowed_events": q26_windowed_events,
        "q27_salted_skew_agg": q27_salted_skew_agg,
        "q28_extract_main_text": q28_extract_main_text,
        "q29_extraction_pipeline": q29_extraction_pipeline,
        "q30_image_metadata": q30_image_metadata,
        "q31_tokens_to_grid": q31_tokens_to_grid,
        "q32_interval_join": q32_interval_join,
        "q33_grades_json": q33_grades_json,
        "q34_sorted_distinct_coords": q34_sorted_distinct_coords,
        "q35_lsh_topk": q35_lsh_topk,
        "q36_cer": q36_cer,
        "q37_ivf_topk": q37_ivf_topk,
        "q38_pdf_reading_order": q38_pdf_reading_order,
        "q39_keyword_columns": q39_keyword_columns,
        "q40_lsh_topk_multiprobe": q40_lsh_topk_multiprobe,
        "q41_dedup_pipeline": q41_dedup_pipeline,
        "q42_keyword_grades": q42_keyword_grades,
        "q43_resize_metadata": q43_resize_metadata,
        "q44_stratified_sample": q44_stratified_sample,
        "q45_clean_corpus": q45_clean_corpus,
        "q46_metadata_diacritics": q46_metadata_diacritics,
        "q47_incremental_lsh": q47_incremental_lsh,
        "q48_assembled_wide_table": q48_assembled_wide_table,
        "q49_hot_shingles": q49_hot_shingles,
        "q50_incremental_exact": q50_incremental_exact,
        "q51_simhash_pairs": q51_simhash_pairs,
        "q52_dup_clusters": q52_dup_clusters,
        "q53_decontaminate": q53_decontaminate,
        "q54_repetition_signals": q54_repetition_signals,
        "q55_redact_rare": q55_redact_rare,
        "q56_pack_chunks": q56_pack_chunks,
        "q57_domain_cap": q57_domain_cap,
        "q58_tfidf_keywords": q58_tfidf_keywords,
        "q59_asof_join": q59_asof_join,
        "q60_rollup_stats": q60_rollup_stats,
        "q61_char_percentiles": q61_char_percentiles,
        "q62_pii_scrub": q62_pii_scrub,
        "q63_line_dedup": q63_line_dedup,
        "q64_range_join": q64_range_join,
        "q65_weighted_sample": q65_weighted_sample,
        "q66_global_rank": q66_global_rank,
        "q67_quota_sample": q67_quota_sample,
        "q68_hashed_linear_score": q68_hashed_linear_score,
        "q69_funnel": q69_funnel,
        "q70_label_centroids": q70_label_centroids,
        "q71_cohort_retention": q71_cohort_retention,
        "q72_scd2_intervals": q72_scd2_intervals,
        "q73_inverted_index": q73_inverted_index,
        "q74_key_skew_profile": q74_key_skew_profile,
        "q75_url_dedup": q75_url_dedup,
        "q76_interval_overlap": q76_interval_overlap,
        "q77_bigram_lm_score": q77_bigram_lm_score,
        "q78_pagerank": q78_pagerank,
        "q79_collocations": q79_collocations,
        "q80_kmeans_step": q80_kmeans_step,
        "q81_snapshot_diff": q81_snapshot_diff,
        "q82_triangle_counts": q82_triangle_counts,
        "q83_trailing_window": q83_trailing_window,
        "q84_group_ols_slope": q84_group_ols_slope,
        "q85_customers_without_orders": q85_customers_without_orders,
        "q86_pivot_event_matrix": q86_pivot_event_matrix,
        "q87_unpivot_event_matrix": q87_unpivot_event_matrix,
        "q88_priority_price_deciles": q88_priority_price_deciles,
        "q89_json_props_rollup": q89_json_props_rollup,
        "q90_cube_order_stats": q90_cube_order_stats,
        "q91_kmv_distinct_users": q91_kmv_distinct_users,
        "q92_resample_ffill": q92_resample_ffill,
        "q93_local_supplier_volume": q93_local_supplier_volume,
        "q94_prefix_filter_jaccard": q94_prefix_filter_jaccard,
        "q95_vocab_encode": q95_vocab_encode,
        "q96_grouped_split": q96_grouped_split,
        "q97_event_transitions": q97_event_transitions,
        "q98_price_decile_profile": q98_price_decile_profile,
        "q99_group_correlation": q99_group_correlation,
        "q100_copurchase_pairs": q100_copurchase_pairs,
        "q101_hopping_window_counts": q101_hopping_window_counts,
        "q102_bfs_distances": q102_bfs_distances,
        "q103_sorted_neighborhood": q103_sorted_neighborhood,
        "q104_apply_changelog": q104_apply_changelog,
        "q105_bm25_topk": q105_bm25_topk,
        "q106_hard_negatives": q106_hard_negatives,
        "q107_substring_dups": q107_substring_dups,
        "q108_bpe_merges": q108_bpe_merges,
        "q109_bpe_merges_batched": q109_bpe_merges_batched,
        "q110_substring_cut_spans": q110_substring_cut_spans,
        "q111_audio_metadata": q111_audio_metadata,
        "q112_video_metadata": q112_video_metadata,
        "q113_substring_dedup_apply": q113_substring_dedup_apply,
    }


def oracle_sql() -> dict[str, str]:
    from ocr_text_recognition_spark.oracles import ORACLES

    return dict(ORACLES)
