"""Physical-plan regression tests.

The scale story rests on plan properties, not just results: filters must
reach the parquet scan, dimension joins must broadcast, Python must only
ever appear as Arrow-batched evaluation, and the one shuffle per operator
must stay one. These pin the `.explain` output so a regression (lost
pushdown, vanished broadcast, a row-at-a-time PythonUDF sneaking in)
fails CI instead of silently costing 10x at scale.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_scan_filter_pushdown(spark, entry):
    plan = _plan(entry.queries()["q02_filter_projection"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not just the empty list
    assert "PushedFilters: []" not in plan.split("PushedFilters:", 1)[1][:200]


def test_dimension_join_broadcasts(spark, entry):
    plan = _plan(entry.queries()["q13_broadcast_join_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_no_row_at_a_time_python_anywhere(spark, entry):
    """Python may only appear as ArrowEvalPython (pandas/Arrow batches) —
    BatchEvalPython (pickled row-at-a-time UDF) is forbidden engine-wide.
    Sweeps EVERY driver-contract query (planning only, nothing executes),
    so a row-Python node in any future query fails here, not at 100 TB."""
    qs = entry.queries()
    offenders = []
    for name, fn in qs.items():
        plan = _plan(fn(spark, SF_DIR))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_ivf_single_assignment_stage(spark, entry):
    """The corpus-side centroid assignment must evaluate ONCE — Catalyst
    duplicating the UDF into the join's null filter doubles kernel cost."""
    plan = _plan(entry.queries()["q37_ivf_topk"](spark, SF_DIR))
    # each ArrowEvalPython node appears twice in formatted output (tree +
    # detail section); one node -> exactly 2 mentions
    assert plan.count("ArrowEvalPython") == 2


def test_extraction_pipeline_stays_arrow(spark, small_corpus):
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark

    docs_pd, media_pd, _ = small_corpus
    docs = pandas_to_spark(spark, docs_pd, "documents")
    media = pandas_to_spark(spark, media_pd, "media")
    plan = _plan(run_extraction(spark, docs, media))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_extraction_pipeline_exchanges(spark, small_corpus, tmp_path):
    """run_extraction over parquet input shuffles five times besides the
    media broadcast: the distinct refs, the payload repartition, both sides
    of the span <-> ref join, and the one doc_id aggregate of reassembly.
    No salt column survives into the plan."""
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet

    docs_pd, media_pd, _ = small_corpus
    write_corpus_parquet(docs_pd, media_pd, str(tmp_path))
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = spark.read.parquet(str(tmp_path / "media.parquet"))
    plan = _plan(run_extraction(spark, docs, media))
    exchanges = re.findall(r"^\(\d+\) (\w*Exchange)$", plan, re.M)
    assert exchanges.count("Exchange") == 5, plan
    assert exchanges.count("BroadcastExchange") == 1, plan
    assert not re.search(r"\bsalt#\d+", plan), plan


def _plan_nodes(df) -> list[tuple[str, str]]:
    """(name, one-line description) of every operator of ``df``'s physical
    plan as it will run, exchanges included. A cached frame is one
    InMemoryTableScan leaf here: the plan that built the cache is not
    walked, because it does not run again."""
    nodes = []

    def walk(node) -> None:
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        nodes.append((node.nodeName(), node.simpleString(1000)))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def test_checkpoint_wave_reads_only_the_stage(spark, small_corpus, tmp_path):
    """The stage runs the text UDF and the ref UDF once each over two
    documents scans. A checkpoint wave over the persisted stage is a filter
    and one aggregate per document on an InMemoryTableScan: no Python, no
    exchange, no broadcast, no file scan. Its ledger rows are built in the
    JVM, with no Python RDD behind them."""
    from ocr_text_recognition_spark.extraction.checkpoint import (
        ledger_frame,
        stage_frame,
        wave_frame,
    )
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet

    docs_pd, media_pd, _ = small_corpus
    write_corpus_parquet(docs_pd, media_pd, str(tmp_path))
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    media = spark.read.parquet(str(tmp_path / "media.parquet"))
    stage = stage_frame(spark, docs, media, list(range(8)), 8)
    stage_nodes = _plan_nodes(stage)
    stage.persist()
    try:
        stage.count()
        nodes = _plan_nodes(wave_frame(stage, [0, 5]))
    finally:
        stage.unpersist()

    python = [desc for name, desc in stage_nodes if "EvalPython" in name]
    assert [name for name, _ in stage_nodes if "EvalPython" in name] == ["ArrowEvalPython"] * 2
    assert sum("extract_main_text_udf" in desc for desc in python) == 1, python
    assert sum("extract_ref_udf" in desc for desc in python) == 1, python
    scans = [desc for name, desc in stage_nodes if name.startswith("Scan")]
    docs_schema = "ReadSchema: struct<doc_id:string,spans:"
    assert len(scans) == 3 and sum(docs_schema in desc for desc in scans) == 2, scans

    names = [name for name, _ in nodes]
    assert not any("EvalPython" in name or "Exchange" in name for name in names), names
    assert not any(name.startswith("Scan") for name in names), names
    memory = [desc for name, desc in nodes if name == "InMemoryTableScan"]
    assert len(memory) == 1 and re.search(r"\[bucket#\d+ IN \(0,5\)\]", memory[0]), memory
    # reassembly is one partial/final aggregate pair, keyed on (bucket, doc_id)
    aggs = [desc for name, desc in nodes if name == "ObjectHashAggregate"]
    assert len(aggs) == 2, aggs
    keys = r"ObjectHashAggregate\(keys=\[bucket#\d+, doc_id#\d+\], "
    assert all(re.match(keys, desc) for desc in aggs), aggs
    assert sorted("partial_collect_list(" in desc for desc in aggs) == [False, True], aggs

    ledger = ledger_frame(spark, [0, 5], "run", 0.5, 8)
    assert ledger.schema.simpleString() == (
        "struct<bucket:int,run_id:string,completed_at:double,wave_s:double,n_buckets:int>"
    )
    plan = _plan(ledger)
    assert "ExistingRDD" not in plan and "EvalPython" not in plan, plan


def test_topn_uses_window_group_limit(spark, entry):
    """Spark's WindowGroupLimit pushes rank<=N below the final sort — the
    difference between shuffling N rows per group and ALL rows."""
    plan = _plan(entry.queries()["q14_topn_per_nation"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_multiprobe_lsh_stays_broadcast(spark, entry):
    """The probe explosion happens on the broadcast query side: the
    candidate join must remain a BroadcastHashJoin on bucket, and no
    Python evaluation may appear (signatures are pure SQL)."""
    plan = _plan(entry.queries()["q40_lsh_topk_multiprobe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_pipeline_pure_sql_and_anti_join(spark, entry):
    """End-to-end dedup (q41) is md5-SQL throughout — zero Python nodes —
    and the stop-shingle cap is a broadcast anti-join."""
    plan = _plan(entry.queries()["q41_dedup_pipeline"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "LeftAnti" in plan


def test_sampling_and_cleaning_plans(spark, entry):
    """q44/q45 are pure SQL with WindowGroupLimit applied (rank<=K pushed
    below the final sort) and zero Python nodes."""
    for name in ("q44_stratified_sample", "q45_clean_corpus"):
        plan = _plan(entry.queries()[name](spark, SF_DIR))
        assert "WindowGroupLimit" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_incremental_lsh_corpus_scan_only(spark, tmp_path):
    """The incremental dedup path must never recompute signatures: with
    both sides read from stored signature tables, the plan contains ZERO
    shingle/minhash machinery (no regexp split, no explode-of-shingles
    aggregate) — just scans, the band-key projection + explode, one join,
    one aggregate. This is the property that makes per-ingest dedup
    affordable at a standing 100 TB corpus."""
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corp_path = str(tmp_path / "corpus_sigs")
    new_path = str(tmp_path / "new_sigs")
    minhash_signatures(docs, "doc_id", "text", num_perm=8).write.parquet(corp_path)
    minhash_signatures(
        docs.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 90000).alias("doc_id"), "text"
        ),
        "doc_id",
        "text",
        num_perm=8,
    ).write.parquet(new_path)

    out = lsh_candidate_pairs_incremental(
        spark.read.parquet(new_path), spark.read.parquet(corp_path), num_perm=8, bands=4
    )
    plan = _plan(out)
    # no re-signature: the shingle pipeline's fingerprints are absent
    for marker in ("split(", "regexp", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker
    # exactly the two signature-table scans, no self-join fan-out
    # (formatted explain prints each node twice: tree + details)
    assert plan.count("Scan parquet") == 4
    # the candidates are correct: every new doc finds its original
    got = {(r["new_id"], r["corpus_id"]) for r in out.collect() if r["est_jaccard"] == 1.0}
    assert {(90000 + i, i) for i in range(5)} <= got


def test_hot_shingles_partial_topk(spark, entry):
    """Global top-K by document frequency must plan as
    TakeOrderedAndProject (map-side partial top-K) — a full sort of the
    shingle-count table at corpus scale would shuffle everything."""
    plan = _plan(entry.queries()["q49_hot_shingles"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_bucket_metrics_jvm_only_and_pruned(spark, small_corpus, tmp_path):
    """The job's per-bucket metrics run no Python and read only the
    ``bucket=N`` directories of the buckets asked for."""
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.extraction.checkpoint import bucket_of
    from ocr_text_recognition_spark.extraction.metrics import bucket_metrics
    from ocr_text_recognition_spark.io_pandas import pandas_to_spark

    _, _, golden_pd = small_corpus
    out = str(tmp_path / "out")
    golden = pandas_to_spark(spark, golden_pd, "documents")
    golden.withColumn("bucket", bucket_of(F.col("doc_id"), 8)).write.partitionBy("bucket").parquet(out)
    m = bucket_metrics(spark, out, [1, 3], "run")
    plan = _plan(m)
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "bucket" in plan.split("PartitionFilters:", 1)[1].split("\n", 1)[0], plan
    assert sorted(r["bucket"] for r in m.collect()) == [1, 3]


def test_partitioned_table_scan_prunes(spark, tmp_path, entry):
    """Partition pruning on the partitioned-table path: a filter on the
    partition column must reach the scan as a PartitionFilter and the
    read must touch only the matching partition directories — at 100 TB
    the difference between scanning one day and scanning the corpus."""
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark.sources import read_table, write_table

    df = spark.range(0, 1000).select(
        F.pmod("id", F.lit(10)).alias("bucket_day"),
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "parts")
    write_table(df, path, partition_by=["bucket_day"])
    back = read_table(spark, path).filter(F.col("bucket_day") == 3)
    plan = _plan(back)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1][:200]
    assert "bucket_day" in seg  # the predicate actually landed there
    assert back.count() == 100


def test_curation_plans(spark, entry):
    """Scale pins for the curation queries: decontamination broadcasts the
    eval side; packing's window is shard-partitioned (no single-reducer
    sort anywhere in the plan); the domain cap and tfidf rank-filters push
    down as WindowGroupLimit; everything stays pure SQL."""
    qs = entry.queries()
    p53 = _plan(qs["q53_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p53
    p56 = _plan(qs["q56_pack_chunks"](spark, SF_DIR))
    assert "SinglePartition" not in p56, p56
    assert "hashpartitioning(shard" in p56
    p57 = _plan(qs["q57_domain_cap"](spark, SF_DIR))
    assert "WindowGroupLimit" in p57
    p58 = _plan(qs["q58_tfidf_keywords"](spark, SF_DIR))
    assert "WindowGroupLimit" in p58
    for name, p in (("q53", p53), ("q56", p56), ("q57", p57), ("q58", p58)):
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_range_join_is_equi_join_not_nested_loop(spark, entry):
    """The bin-bucketed rewrite must give Catalyst a real equi-key: a
    nested-loop/cartesian plan here is O(|clicks| x |purchases|)."""
    plan = _plan(entry.queries()["q64_range_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_join_not_nested_loop(spark, entry):
    """Same contract as q64 for the interval x interval form."""
    plan = _plan(entry.queries()["q76_interval_overlap"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_star_join_broadcasts_dims(spark, entry):
    """q93 (TPC-H Q5 shape): nation and region must broadcast, the
    orderdate filter must push to the orders scan, and no join may fall
    back to a nested loop."""
    plan = _plan(entry.queries()["q93_local_supplier_volume"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "isnotnull(o_orderdate" in plan or "o_orderdate" in plan.split(
        "PushedFilters:", 1
    )[1][:400]


def test_prefix_filter_join_is_equi_join(spark, entry):
    """q94: every join in the prefix-filter similarity join is an
    equi-join (token- or id-keyed) — an exact similarity self-join that
    planned a nested loop would be quadratic at corpus scale."""
    plan = _plan(entry.queries()["q94_prefix_filter_jaccard"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
