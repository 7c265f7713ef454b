"""Corpus-curation operators for large-scale training-data pipelines:
benchmark decontamination, repetition (Gopher-style) signals, rare-token
redaction, concat-and-chunk sequence packing, per-domain caps, and TF-IDF
keyword extraction.

Everything here runs over every document of a 100 TB corpus, so the rules
are the same as textanalysis.py: pure Spark SQL expressions (JVM-side,
codegen'd), one shuffle per logical step, no Python in the hot path, and
every join shape chosen for the corpus side being unbounded:

- decontamination broadcasts the EVAL side (benchmark suites are small by
  definition) and never self-joins the corpus;
- redaction joins the exploded corpus against the vocab on the token key
  (plain shuffle hash join — the vocab is Heaps-law bounded but NOT
  assumed broadcastable);
- packing is per-shard by construction (a global-order window would
  funnel the corpus through one reducer — real pretraining pipelines pack
  per shard/file anyway);
- the per-domain cap reuses the two-level salted top-K so one mega-domain
  cannot pin a reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_text_recognition_spark.operators.textanalysis import (
    ngrams,
    quality_score,
    shingles,
    tokens,
)


def contamination_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style n-gram overlap check):
    per training doc, the number of distinct word n-grams it shares with
    the evaluation set. Docs with zero overlap are absent (inner join) —
    the caller anti-joins the flagged ids away.

    Scale shape: the eval side (distinct shingles of the benchmark suite)
    is broadcast — eval sets are thousands of docs, not billions — so the
    corpus side is ONE explode + broadcast-join + groupBy. No self-join,
    no corpus-side distinct before the join.
    """
    ev = (
        eval_docs.select(F.explode(shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    tr = train.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("sh")
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-family repetition quality signals, per document:
    ``dup_frac``  = 1 - distinct n-grams / total n-grams,
    ``top_frac``  = occurrences of the most frequent n-gram / total.
    High values flag boilerplate/spam (repeated n-grams) for filtering.

    One explode + one (doc, ngram) count shuffle + one per-doc agg; the
    (doc, ngram) key is near-unique so the first shuffle map-side
    combines well and cannot skew (every key contains the doc id)."""
    ng = docs.select(F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("g"))
    counts = ng.groupBy(id_col, "g").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt")
    return counts.groupBy(id_col).agg(
        total.cast("long").alias("n_ngrams"),
        F.round(F.lit(1.0) - F.count("*") / total, 4).alias("dup_frac"),
        F.round(F.max("cnt") / total, 4).alias("top_frac"),
    )


def redact_rare_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df_frac: float = 0.1,
) -> DataFrame:
    """Privacy-style scrub: any token whose document frequency is below
    ``min_df_frac`` of the corpus is replaced with ``<unk>`` (rare strings
    are where identifiers/PII live; frequent tokens are safe by k-anonymity
    logic). Emits (id, redacted, n_redacted) — redacted text is the
    whitespace/lowercase-normalized form, token order preserved.

    Scale shape: document frequency is one exploded distinct-per-doc
    count; the rewrite is posexplode -> left join vocab ON TOKEN (shuffle
    hash join — vocab is NOT assumed broadcastable at 100 TB) -> ordered
    per-doc reassembly. Docs with zero tokens vanish (posexplode of an
    empty array), matching the oracle's WHERE len(toks) > 0."""
    pos = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    df_counts = pos.groupBy("tok").agg(F.count_distinct(id_col).alias("df_docs"))
    # corpus size as an in-plan 1-row broadcast (no driver-side count job;
    # the operator stays lazy/composable)
    n_docs = pos.agg(F.count_distinct(id_col).alias("_n_docs"))
    vocab = (
        df_counts.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df_docs") >= min_df_frac * F.col("_n_docs"))
        .select("tok")
    )
    red = pos.join(vocab.withColumn("keep", F.lit(True)), "tok", "left").select(
        F.col(id_col),
        "pos",
        F.when(F.col("keep").isNull(), F.lit("<unk>")).otherwise(F.col("tok")).alias("out_tok"),
        F.col("keep").isNull().cast("int").alias("redacted"),
    )
    return red.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "out_tok"))),
                lambda s: s["out_tok"],
            ),
        ).alias("redacted"),
        F.sum("redacted").cast("long").alias("n_redacted"),
    )


def pack_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    sharder): within each shard, documents are concatenated in id order
    and split every ``budget`` tokens; a doc belongs to the chunk where it
    STARTS (exclusive-prefix-sum div budget). Emits per-(shard, chunk)
    stats: doc count, token sum, id range.

    Packing is PER-SHARD by construction: a single global-order window is
    a one-reducer sort at corpus scale, and real pipelines pack per
    shard/output-file anyway. ``shard = id % n_shards`` keeps the layout
    reproducible across engines and cluster sizes (hash() is not)."""
    t = docs.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        F.size(tokens(F.col(text_col))).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = t.withColumn(
        "chunk_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / budget).cast("int"),
    )
    return chunked.groupBy("shard", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    n_salt: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Generic two-level salted per-group top-K (the q44 stratified-sample
    pattern, extracted): phase 1 ranks within (group, salt) and keeps each
    salt's top K — bounding any one group's phase-2 input to K * n_salt —
    phase 2 ranks the survivors. Byte-identical to the single-window form
    for ANY salt assignment (each phase-1 partition keeps its own top K,
    so the union always contains the group's true top K), which is why the
    salt may use the non-portable F.hash. Appends a dense 1-based ``rn``.

    ``order_cols`` must be a total order (include a unique tiebreaker) or
    the result is nondeterministic."""
    salt_src = salt_on or group_cols[0]
    salted = df.withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(n_salt)))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("_prn", F.row_number().over(w1))
        .filter(F.col("_prn") <= k)
        .drop("_prn", "_salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
    )


def cap_per_domain(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    k: int = 10,
) -> DataFrame:
    """Per-domain quality cap (the FineWeb/CommonCrawl curation move):
    keep at most ``k`` docs per domain, best quality first (id-asc
    tiebreak so the selection is a total order). Mega-domains are exactly
    the skew case, so this rides the two-level salted top-K — the salt is
    the doc id, which spreads one domain across all phase-1 partitions."""
    scored = docs.select(
        F.col(id_col),
        F.col(domain_col),
        F.round(quality_score(F.col(text_col)), 2).alias("quality"),
    )
    return top_k_per_group(
        scored,
        [domain_col],
        [F.col("quality").desc(), F.col(id_col).asc()],
        k,
        salt_on=id_col,
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF keywords per document. Ranking uses the pure-INTEGER
    order (tf desc, df asc, term asc) — identical to the tf*idf order for
    fixed N whenever tf and df both discriminate, and immune to the
    1-ulp ln() divergence between engines that a float sort key would
    expose; the float score (tf * ln(N/df), rounded) is emitted as a
    value column only.

    Shuffles: (doc, term) tf count, term df count, tf x df join on the
    term key, and the per-doc window (doc-keyed: high cardinality, no
    skew). The corpus size N joins in as an in-plan 1-row broadcast."""
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n_docs = tf.agg(F.count_distinct(id_col).alias("_n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df_docs",
            F.round(
                F.col("tf")
                * F.log(F.col("_n_docs").cast("double") / F.col("df_docs")),
                4,
            ).alias("score"),
            "rn",
        )
    )


# PII scrub patterns, applied in order. Each is simultaneously valid Java
# regex (Spark) and RE2 (DuckDB oracle): no lookaround, no backrefs — the
# oracle embeds these exact strings so both engines scrub identically.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def scrub_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone numbers with typed
    placeholders — the standard pre-training privacy pass. Pure chained
    `regexp_replace`, JVM-side and codegen'd: a narrow map with zero
    shuffle, so it composes into any scan for free at 100 TB."""
    out = text
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_count(text: Column) -> Column:
    """Number of PII matches in ``text`` (counted per pattern on the
    ORIGINAL string; the three patterns are mutually non-overlapping by
    construction — emails contain letters, IPs contain dots, phones
    contain dashes)."""
    total = F.lit(0)
    for pat, _ in PII_PATTERNS:
        total = total + F.regexp_count(text, F.lit(pat))
    return total.cast("long")


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_words: int = 4,
) -> DataFrame:
    """C4-style GLOBAL line-level dedup: every duplicate line across the
    whole corpus is dropped except its first occurrence (order: doc id,
    then position), and documents are reassembled from their surviving
    lines. "Lines" here are fixed ``line_words``-token chunks (the corpus
    has no newlines); with real newline-delimited text, substitute
    ``split(text, '\\n')`` for the chunker and nothing else changes.

    Scale shape: per-doc line count rides along from the pre-explode
    projection (no extra window), then ONE shuffle keyed on the line text
    picks first occurrences (row_number) and ONE shuffle reassembles docs.
    The line key is the raw string here because the oracle must see it;
    at 100 TB you would key the first shuffle on xxhash64(line) and keep
    the text only as payload — same plan shape. Documents whose every
    line is a later duplicate drop out entirely (C4 semantics).
    """
    toks = tokens(F.col(text_col))
    n_lines = F.ceil(F.size(toks) / F.lit(float(line_words)))
    lines = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), (n_lines - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * line_words + 1, line_words)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        F.posexplode(lines).alias("line_idx", "line"),
    )
    w_first = Window.partitionBy("line").orderBy(id_col, "line_idx")
    kept = pos.withColumn("rn", F.row_number().over(w_first)).filter(
        F.col("rn") == 1
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
        F.max("n_lines").alias("n_lines"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: list[str],
) -> DataFrame:
    """Deterministic weight-proportional sampling without replacement
    (Efraimidis-Spirakis A-ES): each row gets key ln(u) / w for a
    PORTABLE hash-derived uniform u in (0,1), and the per-group top-K by
    key are the sample — selection probability rises with ``weight_col``
    (quality-weighted data selection, the pretraining use case).

    u derives from integer arithmetic both engines compute identically
    (Knuth multiplicative hash mod a prime — NOT F.hash, which is
    Spark-private), so the oracle reproduces the exact sample. The top-K
    rides the two-level salted window, so a mega-group cannot pin a
    reducer. One shuffle pair, zero Python."""
    u = ((F.col(id_col) * 2654435761) % 1000003 + 0.5) / 1000003.0
    key = (F.log(u) / F.col(weight_col)).alias("_wkey")
    order = [F.col("_wkey").desc(), F.col(id_col).asc()]
    return (
        top_k_per_group(
            df.withColumn("_wkey", key), group_cols, order, k, salt_on=id_col
        )
        .drop("_wkey")
    )


def quota_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    quotas: dict[str, int],
) -> DataFrame:
    """Mixture sampling — the pretraining data-mixture primitive: take a
    fixed per-group quota of rows (deterministic portable-hash order, same
    uniform as `weighted_sample`), e.g. 40% web / 10% books by document
    count. Groups absent from ``quotas`` are excluded; a quota larger
    than the group yields the whole group (mixture under-fill is the
    caller's signal to re-weight). The quota table rides a broadcast
    join; ranking is the two-level salted top-K, so a mega-source cannot
    pin a reducer. Appends the per-group sample rank ``rn``."""
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(g, int(q)) for g, q in sorted(quotas.items())],
        f"{group_col} string, _quota int",
    )
    u = (F.col(id_col) * 2654435761) % 1000003
    order = [u.asc(), F.col(id_col).asc()]
    ranked = top_k_per_group(
        df.join(F.broadcast(qdf), group_col),
        [group_col],
        order,
        k=max(quotas.values()),
        salt_on=id_col,
    )
    return ranked.filter(F.col("rn") <= F.col("_quota")).drop("_quota")
