"""Regenerate PLANS.md: formatted physical plans for the headline queries,
so plan regressions (lost pushdown, wrong join strategy, vanished
whole-stage codegen) are visible in review diffs.

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"

PLAN_QUERIES = [
    ("q01_pricing_summary", "filter pushdown + partial aggregation"),
    ("q13_broadcast_join_revenue", "broadcast hint on the dimension table"),
    ("q05_gap_sessionize_events", "single shuffle for the session window"),
    ("q16_minhash_signatures", "one explode + one aggregation for k minima"),
    ("q20_brute_force_topk", "broadcast crossJoin + window rank"),
    ("q37_ivf_topk", "shuffle-free centroid assignment + broadcast probe join"),
    ("q38_pdf_reading_order", "margin filter + one shuffle for line sessionize"),
    ("q40_lsh_topk_multiprobe", "query-side probe explode stays on the broadcast side"),
    ("q41_dedup_pipeline", "banded candidates + broadcast anti-join shingle cap, zero Python"),
    ("q44_stratified_sample", "two-level salted top-K, WindowGroupLimit both phases"),
    ("q47_incremental_lsh", "new-batch band join against corpus signatures, no self-join"),
    ("q48_assembled_wide_table", "slot explode + hole fill + doc-keyed flag/name joins"),
    ("q59_asof_join", "union + one per-key window; no range-join explosion"),
    ("q61_char_percentiles", "histogram groupBy + cumulative window; shuffle independent of row count"),
    ("q63_line_dedup", "one line-keyed + one doc-keyed shuffle, global first-occurrence"),
    ("q64_range_join", "manufactured bin equi-key instead of BroadcastNestedLoopJoin"),
    ("q65_weighted_sample", "A-ES keys + two-level salted top-K, WindowGroupLimit"),
    ("q93_local_supplier_volume", "6-table star join: broadcast dims, pushed date filter, no nested loop"),
    ("q94_prefix_filter_jaccard", "prefix-filter similarity join: equi-joins only, length filter pre-distinct"),
    ("q95_vocab_encode", "dictionary encode via histogram-offset global rank, no single-reducer vocab window"),
    ("q105_bm25_topk", "query-term-filtered posting probe + broadcast scalars + TakeOrderedAndProject top-k"),
    ("q107_substring_dups", "rolling-window hashes in one transform, df-cap before the hash self-join"),
    ("q110_substring_cut_spans", "duplicated-window positions -> gaps-and-islands interval merge, one window chain"),
    ("q113_substring_dedup_apply", "cut arrays join back per affected doc; rewrite is one map-shaped higher-order filter, no token explode"),
]


def main() -> None:
    import __spark_entry__ as entrymod
    from ocr_text_recognition_spark.session import get_spark

    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans (sf0.01)",
        "",
        "Generated by `scripts/dump_plans.py`. What to look for: "
        "`PushedFilters` on every parquet scan, pruned `ReadSchema`, "
        "`BroadcastHashJoin` for dimension-sized sides, `WholeStageCodegen` "
        "over the relational glue, and exactly the expected `Exchange` count.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, note in PLAN_QUERIES:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", f"*{note}*", "", "```", plan.rstrip(), "```", ""]

    # the extraction pipeline plan (generated corpus)
    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet
    import tempfile

    d = tempfile.mkdtemp(prefix="plans_corpus_")
    docs_pd, media_pd = corpus.make_corpus(20, seed=42)
    write_corpus_parquet(docs_pd, media_pd, d)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    media = spark.read.parquet(f"{d}/media.parquet")
    plan = (
        run_extraction(spark, docs, media)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    out += [
        "## extraction_pipeline",
        "",
        "*two documents scans (one pass over the spans + the distinct refs), "
        "distinct-ref recognition with compute-sized repartition, one left "
        "join of the recognized refs, one doc_id aggregate for reassembly*",
        "",
        "```",
        plan.rstrip(),
        "```",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
