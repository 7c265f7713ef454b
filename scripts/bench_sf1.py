"""Scale-factor stress bench: run the most expensive queries + extraction
at ~10x the usual bench scale (sf0.1 -> "sf1"), so the 100x-scale-survival
argument rests on measurement, not inspection.

The sf1 tables are derived DETERMINISTICALLY from the driver's sf0.1
parquet (no external data): each fact table is replicated SCALE times via
a Spark crossJoin with a replica range, with surrogate keys offset per
replica. Replicated document TEXT is vowel-permuted per replica so
replicas are NOT near-duplicates of each other — otherwise the dedup
queries' candidate sets would quadratically inflate with cross-replica
pairs that say nothing about join/shuffle scaling. Foreign keys into the
dimension tables (custkey, suppkey, partkey) keep their original range:
the dimensions stay at sf0.1 size and their fan-in grows — the realistic
shape of growing a fact table against stable dimensions. region/nation/
customer/supplier/part are passed through unscaled.

Writes BENCH/sf1.md + BENCH/sf1.json.

    python scripts/bench_sf1.py
    SPARK_GRAFT_SF1_SCALE=10 SPARK_GRAFT_SF1_TRIALS=2 python scripts/bench_sf1.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ocr_text_recognition_spark.session import default_cores  # noqa: E402

SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE = int(os.environ.get("SPARK_GRAFT_SF1_SCALE", "10"))
TRIALS = int(os.environ.get("SPARK_GRAFT_SF1_TRIALS", "2"))
CPUS = default_cores()
EXTRACTION_DOCS = int(os.environ.get("SPARK_GRAFT_SF1_EXTRACT_DOCS", "40000"))

# the most expensive bench entries (BENCH_r03 ranking) + the star join
SF1_QUERIES = [
    "q01_pricing_summary",
    "q17_lsh_pairs",
    "q40_lsh_topk_multiprobe",
    "q41_dedup_pipeline",
    "q63_line_dedup",
    "q82_triangle_counts",
    "q93_local_supplier_volume",
]

# ten deterministic vowel permutations; replica k rewrites text through
# permutation k % 10, so cross-replica shingle overlap collapses while
# within-replica near-dup structure is preserved
VOWEL_PERMS = [
    "aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "aeuoi", "eouia", "iuaeo", "oaeiu", "uieao",
]

KEY_STRIDE = 100_000_000  # added per replica to surrogate keys


def build_sf1(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    replicas = spark.range(SCALE).withColumnRenamed("id", "replica")

    def scaled(table: str):
        df = spark.read.parquet(f"{SRC_DIR}/{table}.parquet")
        return df.crossJoin(F.broadcast(replicas))

    def offset(col):
        return (F.col(col) + F.col("replica") * KEY_STRIDE).alias(col)

    perm_expr = "".join(
        f"WHEN {k} THEN translate(text, 'aeiou', '{p}') "
        for k, p in enumerate(VOWEL_PERMS)
    )
    docs = scaled("documents").select(
        offset("doc_id"),
        F.expr(
            f"CASE CAST(replica % 10 AS INT) {perm_expr} ELSE text END"
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = scaled("embeddings").select(
        offset("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> x + CAST(replica AS FLOAT) * 0.013"
            " * CAST((i % 7) - 3 AS FLOAT))"
        ).alias("embedding"),
        "label",
    )
    emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    orders = scaled("orders").select(
        offset("o_orderkey"), "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    orders.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = scaled("lineitem").select(
        offset("l_orderkey"), "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )
    li.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    ev = scaled("events").select(
        offset("event_id"), "ts", "user_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    for dim in ("region", "nation", "customer", "supplier", "part"):
        os.symlink(f"{SRC_DIR}/{dim}.parquet", f"{out_dir}/{dim}.parquet")


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from ocr_text_recognition_spark import corpus
    from ocr_text_recognition_spark.extraction.pipeline import run_extraction
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet
    from ocr_text_recognition_spark.session import get_spark

    spark = get_spark("bench_sf1", cores=CPUS, shuffle_partitions=2 * CPUS)
    sf1_dir = tempfile.mkdtemp(prefix="sf1_")
    print(f"building sf1 tables (scale {SCALE}) -> {sf1_dir} ...", flush=True)
    t0 = time.time()
    build_sf1(spark, sf1_dir)
    print(f"sf1 tables built in {time.time() - t0:.1f}s", flush=True)

    qs = entrymod.queries()
    results: dict[str, dict] = {}
    for name in SF1_QUERIES:
        df = qs[name](spark, sf1_dir)
        t0 = time.time()
        df.count()  # warm pass (scan cache, codegen)
        warm = time.time() - t0
        secs = []
        for _ in range(TRIALS):
            t0 = time.time()
            qs[name](spark, sf1_dir).write.format("noop").mode("overwrite").save()
            secs.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        results[name] = {"warm_sec": round(warm, 3), "secs": secs,
                         "median_sec": round(statistics.median(secs), 3)}
        print(json.dumps({name: results[name]}), flush=True)

    # extraction at EXTRACTION_DOCS (5x the per-round bench corpus)
    corpus_dir = tempfile.mkdtemp(prefix="sf1_corpus_")
    print(f"generating {EXTRACTION_DOCS}-doc corpus ...", flush=True)
    docs_pd, media_pd = corpus.make_corpus(EXTRACTION_DOCS, seed=42)
    write_corpus_parquet(docs_pd, media_pd, corpus_dir)
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    run_extraction(spark, docs, media).write.format("noop").mode("overwrite").save()
    ext_secs, stats = [], None
    for _ in range(TRIALS):
        t0 = time.time()
        out = run_extraction(spark, docs, media)
        stats = out.agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(F.aggregate(F.transform("spans", lambda s: F.length(s["text"])),
                              F.lit(0), lambda a, b: a + b)).alias("chars"),
        ).collect()[0]
        ext_secs.append(round(time.time() - t0, 3))
    ext_sec = statistics.median(ext_secs)
    results["extraction_pipeline"] = {
        "secs": ext_secs, "median_sec": round(ext_sec, 3),
        "docs": int(stats["docs"]), "chars": int(stats["chars"]),
        "docs_per_sec": round(stats["docs"] / ext_sec, 2),
        "chars_per_sec": round(stats["chars"] / ext_sec, 1),
    }
    print(json.dumps({"extraction_pipeline": results["extraction_pipeline"]}),
          flush=True)

    payload = {
        "generated_at": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "scale": SCALE, "src": SRC_DIR, "trials": TRIALS, "cpus": CPUS,
        "extraction_docs": EXTRACTION_DOCS,
        "queries": results,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "sf1.json"), "w") as f:
        json.dump(payload, f, indent=1)

    rows = "\n".join(
        f"| {n} | {r['median_sec']} | {r['secs']} |"
        for n, r in results.items()
    )
    ext = results["extraction_pipeline"]
    md = f"""# BENCH — sf1 stress point

Generated {payload['generated_at']} by `scripts/bench_sf1.py` on
local[{CPUS}]: the most expensive bench queries at {SCALE}x the sf0.1
tables (lineitem {600_000 * SCALE:,} rows, documents {5_000 * SCALE:,},
embeddings {2_000 * SCALE:,}; dimensions unscaled, growing fan-in), plus
the extraction pipeline at {EXTRACTION_DOCS:,} docs ({ext['docs_per_sec']}
docs/s, {ext['chars_per_sec']} chars/s). Replicated document text is
vowel-permuted per replica so dedup candidate generation scales with real
duplicate structure, not replication artifacts. Median of {TRIALS} timed
passes after one warm pass.

| query | median sec | trials |
|---|---|---|
{rows}
"""
    with open(os.path.join(REPO, "BENCH", "sf1.md"), "w") as f:
        f.write(md)
    print("wrote BENCH/sf1.md + BENCH/sf1.json", flush=True)


if __name__ == "__main__":
    main()
