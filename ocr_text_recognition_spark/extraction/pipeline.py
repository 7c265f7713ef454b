"""The distributed extraction pipeline (SURVEY.md §3.4).

    read documents(doc_id, spans)                [scan; columns pruned]
      -> posexplode_outer(spans)                 [narrow; a document with
                                                  no spans keeps one row]
      -> extract_main_text_udf on every span     [Arrow batches, fused
         that is not media|pdf                    with the scan]
      -> left join the ref table on (kind, media_ref): media|pdf spans
         take its text, '' where the ref has no row there
      -> groupBy(doc_id) collect_list            [one aggregate per
         + array_sort(offset)                     document]
      -> documents(doc_id, spans) out

The ref table (kind, media_ref, text) comes from recognize_refs: the
distinct media|pdf refs of the documents, joined to their payloads and
run through the ref UDF (OCR kernel | layout parse), each distinct
payload processed ONCE. run_extraction is text_spans and recognize_refs
joined by resolve_spans, then reassemble_spans. The checkpointed job
(checkpoint.py) resolves every planned span once per invocation, into a
persisted stage, and runs only reassemble_spans and the write per wave.

Scale notes (the design target is 10^12 docs / 100 TB):
- Skew handling sits where the cost is: the kernel. Its cost follows
  distinct refs, not documents — a distinct() over the (kind, media_ref)
  refs collapses popular refs BEFORE the kernel runs, and a
  repartition(defaultParallelism * 2) sized by compute spreads them — so
  a media-heavy document's images are recognized spread by ref, never by
  document.
- The span <-> ref join is left to AQE: its skew-join split, or a
  broadcast when the ref table is small.
- Reassembly is one groupBy(doc_id). A document's own spans must meet on
  one reducer in any design, because its output is one row; salting the
  aggregate would only add a shuffle.
- Span order NEVER relies on row order: array_sort on offset is the last
  step before emitting (the core correctness invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_text_recognition_spark.extraction.udfs import extract_main_text_udf, make_extract_ref_udf

# Span kinds whose text is recognized from a media payload; every other
# kind is HTML-ish text.
REF_KINDS = ("media", "pdf")

# Spark's stock scan/shuffle sizing targets byte-bound analytics
# (128 MiB splits, 64 MiB post-shuffle partitions). The extraction job is
# COMPUTE-bound per row — a 200-byte media_ref row costs ~4 ms of kernel
# CPU — so byte-sized defaults under-split small-to-medium inputs: a
# 6 MiB documents file becomes a 1-task scan and AQE coalesces the
# post-kernel stages to 2-3 tasks no matter the core count
# (profiled: perfbench/run.py --trace 1; the stage-49 serialization in
# BENCH/gate_attempts_r5.md attempt 6). These are the stock defaults we
# clamp back to at scale.
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_DEFAULT_ADVISORY_BYTES = 64 * 1024 * 1024


def extraction_session_conf(input_bytes: int, cores: int) -> dict[str, str]:
    """Job-level session conf for an extraction run over ``input_bytes``
    of input on ``cores`` parallel slots.

    Targets >= 4 scan splits per slot and keeps post-shuffle partitions
    proportionally small, clamped to Spark's stock values — so on a real
    multi-TB table every knob lands back on the default and this helper
    is a no-op; it only matters when the input is small relative to the
    cluster (exactly the benchmark/CI regime, where the stock byte
    thresholds serialize compute-heavy stages).

    Pass the result as ``get_spark(extra_conf=...)`` (or ``--conf`` on
    spark-submit) BEFORE creating the session: file-split sizes are read
    at scan planning time.
    """
    target_splits = max(cores * 4, 1)
    split = min(max(input_bytes // target_splits, 1 << 20), _DEFAULT_MAX_PARTITION_BYTES)
    return {
        "spark.sql.files.maxPartitionBytes": str(split),
        # open-cost padding packs small files into one split; scale it
        # with the split size or a multi-file corpus re-collapses.
        "spark.sql.files.openCostInBytes": str(max(split // 16, 64 * 1024)),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            min(max(split // 2, 1 << 20), _DEFAULT_ADVISORY_BYTES)
        ),
    }


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> one row per span (doc_id, pos, kind, text, media_ref,
    offset). A document with no spans keeps one row with a NULL ``pos``
    (and NULL span columns), so it reaches reassembly as ``spans = []``."""
    return docs.select(
        "doc_id",
        F.posexplode_outer("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(extracted: DataFrame, keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(*keys, pos, kind, text, media_ref, offset) -> (*keys, spans) with
    spans sorted by offset; a row with a NULL ``pos`` is a document without
    spans and contributes no span. ``keys`` must include ``doc_id``; any
    other key has to be a function of it (the checkpoint's bucket)."""
    span = F.struct(F.col("offset"), F.col("kind"), F.col("text"), F.col("media_ref"))
    return (
        extracted.groupBy(*keys)
        # collect_list skips the NULL a span-less document's row maps to
        .agg(F.collect_list(F.when(F.col("pos").isNotNull(), span)).alias("unordered"))
        .select(
            *keys,
            F.transform(
                F.array_sort("unordered"),  # struct sort: offset is field 1
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def recognize_refs(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    preprocess_kwargs: dict | None = None,
) -> DataFrame:
    """documents -> (kind, media_ref, text), one row per distinct
    (kind, media_ref) of their media and pdf spans: the kernel stage, run
    once per distinct payload.

    kind='media' (OCR kernel) and kind='pdf' (layout parse) share ONE
    distinct-ref pass: payloads are joined once and the ref UDF
    dispatches per kind inside the Arrow batch. A ref with no media row
    gets a NULL payload and text ''.

    ``preprocess_kwargs``: kernel preprocessing overrides shipped into the
    media UDF (e.g. {'binarizer': 'adaptive', 'rotate_portrait': True}
    for photographed/scanned corpora); None keeps the default Otsu chain.
    """
    distinct_refs = (
        explode_spans(docs)
        .filter(F.col("kind").isin(*REF_KINDS))
        .select("kind", "media_ref")
        .distinct()
    )
    # Repartition the payloads (post-join, pre-UDF): the ref list is
    # bytes-tiny but each ref costs real kernel CPU, so partitions must be
    # sized by COMPUTE, not bytes, or AQE coalesces the UDF stage onto a
    # few tasks.
    parallelism = spark.sparkContext.defaultParallelism * 2
    payloads = distinct_refs.join(media, "media_ref", "left").repartition(parallelism)
    ref_udf = make_extract_ref_udf(**(preprocess_kwargs or {}))
    return payloads.select(
        "kind",
        "media_ref",
        ref_udf(F.col("kind"), F.col("content")).alias("text"),
    )


def text_spans(docs: DataFrame) -> DataFrame:
    """documents -> exploded spans plus ``main_text``: the HTML extractor's
    output for every span that is not media|pdf, NULL for those."""
    is_ref = F.col("kind").isin(*REF_KINDS)
    return explode_spans(docs).withColumn(
        "main_text", extract_main_text_udf(F.when(is_ref, F.lit(None)).otherwise(F.col("text")))
    )


def resolve_spans(spans: DataFrame, ref_text: DataFrame) -> DataFrame:
    """``text_spans``' output + recognized refs -> spans with their final
    text (doc_id, pos, kind, text, media_ref, offset).

    Media and pdf spans take their text from ``ref_text``
    (``recognize_refs``'s output), '' where the ref has no row there; every
    other span keeps its HTML extractor text. No payload and no kernel work
    is touched.
    """
    is_ref = F.col("kind").isin(*REF_KINDS)
    refs = ref_text.withColumnRenamed("text", "ref_text")
    text = F.when(is_ref, F.coalesce("ref_text", F.lit(""))).otherwise(F.col("main_text"))
    return spans.join(refs, ["kind", "media_ref"], "left").select(
        "doc_id", "pos", "kind", text.alias("text"), "media_ref", "offset"
    )


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    preprocess_kwargs: dict | None = None,
) -> DataFrame:
    """Full pipeline: documents + media -> extracted documents.

    Returns a DataFrame with the same (doc_id, spans) shape as the input,
    where every span's text has been replaced by its extraction result.
    ``preprocess_kwargs`` as in ``recognize_refs``.
    """
    ref_text = recognize_refs(spark, docs, media, preprocess_kwargs)
    return reassemble_spans(resolve_spans(text_spans(docs), ref_text))

