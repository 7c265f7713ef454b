"""Count-based bigram language-model scoring — the CCNet/Wikipedia-LM
perplexity filter, re-expressed without an external model artifact.

Web-scale curation pipelines score every document by how "language-like"
it is under a reference LM and drop the tails. The model here is the
simplest thing that exercises the full distributed shape: add-one-
smoothed bigram probabilities ``p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)``
trained on the corpus itself (swap the two count tables for a reference
corpus's to get the real CCNet setup — the plan is identical).

Scale shape:
- train = two map-side-combining aggregates over the exploded bigram
  stream (bigram counts keyed (w1, w2); context counts keyed w1) plus a
  1-row vocabulary size that broadcast-crossJoins into the plan;
- score = the document bigram stream joins the two count tables on
  their natural keys (both shuffled joins co-partition with the
  aggregates that produced them) and folds per doc_id;
- the per-bigram log-probability is scaled to an exact BIGINT
  (``floor(log2(p) * 1e6)``) BEFORE the per-document sum, so the fold
  is pure integer arithmetic — order-independent and bit-identical
  across engines, the same trick the hashed-linear scorer uses. The
  float average only appears once, rounded, at the very end.

Documents with fewer than 2 tokens have no bigrams and drop out (score
them with the unigram fallback upstream if they matter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textanalysis import tokens

SCALE = 1_000_000


def doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair per document
    (zip of the two shifted slices; no index sequence, no UDF)."""
    t = tokens(F.col(text_col))
    withtok = docs.select(
        F.col(id_col).alias("doc_id"), t.alias("toks"), F.size(t).alias("n")
    ).filter(F.col("n") >= 2)
    pair = F.explode(
        F.arrays_zip(
            F.slice("toks", 1, F.col("n") - 1),
            F.slice("toks", 2, F.col("n") - 1),
        )
    ).alias("bg")
    out = withtok.select("doc_id", pair)
    a, b = out.schema["bg"].dataType.names
    return out.select(
        "doc_id", F.col(f"bg.{a}").alias("w1"), F.col(f"bg.{b}").alias("w2")
    )


def bigram_lm_score(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per document: bigram count and average add-one-smoothed bigram
    log2-probability under the corpus's own bigram counts."""
    big = doc_bigrams(docs, id_col, text_col)
    bgc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = big.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.count_distinct("tok").alias("_vocab"))
    )
    p = (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("_vocab"))
    lp = F.floor(F.log2(p) * F.lit(SCALE)).cast("long")
    scored = (
        big.join(bgc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("lp").alias("sum_lp_scaled"),
        F.round(F.sum("lp") / F.lit(float(SCALE)) / F.count("*"), 4).alias(
            "avg_log2p"
        ),
    )


def collocations(
    docs: DataFrame, id_col: str, text_col: str, min_count: int = 5
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs —
    collocation mining for tokenizer vocab / phrase detection.

    ``pmi(w1, w2) = log2(c12 * N / (c1 * c2))`` with c1/c2 the LHS/RHS
    marginal counts and N the total bigram count (a 1-row broadcast).
    Three map-side-combining aggregates over one shared bigram stream,
    two marginal joins keyed on single tokens, and the PMI itself is a
    single log of a ratio of EXACT integer products (no float
    accumulation anywhere; c12 * N must stay under 2^53 — at larger
    scales rescale both sides by a common power of two first).
    ``min_count`` prunes the noise tail before the joins, which also
    caps the marginal-join fan-in."""
    big = doc_bigrams(docs, id_col, text_col)
    n = big.agg(F.count("*").alias("_n"))
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= F.lit(min_count))
    )
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = big.groupBy("w2").agg(F.count("*").alias("c2"))
    return (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log2((F.col("c12") * F.col("_n")) / (F.col("c1") * F.col("c2"))),
                4,
            ).alias("pmi"),
        )
    )


def bpe_merge_pass_multi(
    words: DataFrame, pairs: list[tuple[str, str]], seq_col: str = "sym"
) -> DataFrame:
    """One fold applying a BATCH of symbol-disjoint merges: each
    (left, right) in ``pairs`` shares no symbol (nor its merged output
    string) with any other, so at most one pair can match a given
    (prev, x) and one left-to-right scan applies all of them exactly as
    M sequential single-pair merges would. The greedy leftmost-first,
    non-overlapping scan is a JVM-side ``aggregate`` fold with a
    (out, prev) struct accumulator — no Python, no explode; one narrow
    map over the vocabulary table."""
    out_t = "array<string>"

    def step(acc, x):
        no_merge = F.struct(
            F.when(
                acc["prev"].isNotNull(), F.array_append(acc["out"], acc["prev"])
            )
            .otherwise(acc["out"])
            .alias("out"),
            x.alias("prev"),
        )
        expr = None
        for left, right in pairs:
            cond = (
                acc["prev"].isNotNull()
                & (acc["prev"] == F.lit(left))
                & (x == F.lit(right))
            )
            branch = F.struct(
                F.array_append(acc["out"], F.lit(left + right)).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            )
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        return expr.otherwise(no_merge)

    folded = F.aggregate(
        F.col(seq_col),
        F.struct(
            F.lit([]).cast(out_t).alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
        step,
        lambda acc: F.when(
            acc["prev"].isNotNull(), F.array_append(acc["out"], acc["prev"])
        ).otherwise(acc["out"]),
    )
    return words.withColumn(seq_col, folded)


def _word_symbols(docs: DataFrame, text_col: str) -> DataFrame:
    """(sym: array<string>, freq) — the distinct-word table BPE trains
    on: characters + an end-of-word marker, frequency-weighted."""
    from ocr_text_recognition_spark.operators.textanalysis import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            # Spark's split keeps trailing empties (limit -1), and the
            # (?!^) lookahead also matches at end-of-string — filter the
            # empty symbol out before appending the end-of-word marker
            F.concat(
                F.filter(F.split(F.col("word"), "(?!^)"), lambda x: x != ""),
                F.array(F.lit("</w>")),
            ).alias("sym"),
            "freq",
        )
    )


def select_disjoint_batch(
    candidates: list[tuple[str, str, int]], batch_size: int
) -> list[tuple[str, str, int]]:
    """Greedy non-conflicting batch selection for batched BPE — shared
    verbatim by the Spark operator and its plain-Python twin so the two
    implementations cannot drift. ``candidates`` must already be sorted
    (count desc, left asc, right asc). A candidate conflicts when its
    {left, right, left+right} intersects any already-selected pair's
    same set: input-symbol disjointness makes the one-pass fold equal to
    sequential application, and excluding the merged OUTPUT string keeps
    a batch from containing both (a,b) and (ab,c)."""
    used: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    for left, right, count in candidates:
        if len(batch) >= batch_size:
            break
        syms = {left, right, left + right}
        if syms & used:
            continue
        used |= syms
        batch.append((left, right, count))
    return batch


def bpe_train_batched(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 64,
    batch_size: int = 8,
    candidate_factor: int = 8,
) -> DataFrame:
    """Byte-pair-encoding MERGE TRAINING on Spark — the tokenizer-
    construction half that ``vocab_encode`` (q95) consumes. Classic BPE
    (Sennrich et al. 2016): start from characters + an end-of-word
    marker, repeatedly merge the globally most frequent adjacent symbol
    pair, weighting by word frequency. All work runs on the DISTINCT-WORD
    table with a frequency column, so corpus size only enters through the
    one (word, freq) aggregation; localCheckpoint per iteration truncates
    the lineage the way dup_clusters does.

    Plain BPE is inherently sequential (one argmax → one merge →
    recount), which on Spark means one driver collect + one job PER
    MERGE: fine at 8 merges, a 30k-job chain for a real tokenizer. The
    standard distributed compromise batches it: per iteration, collect
    the top ``batch_size * candidate_factor`` pairs (one small job,
    ordered count desc, then lexicographic pair — deterministic),
    greedily select up to ``batch_size`` pairwise symbol-disjoint pairs
    (``select_disjoint_batch``), and apply them in ONE fold pass
    (``bpe_merge_pass_multi``) — driver round-trips drop from
    ``n_merges`` to ``n_merges / batch_size``.

    Exactness: within a batch the selected merges are mutually
    independent (disjoint symbols ⇒ applying one cannot change another's
    occurrences), so the batch equals applying them sequentially. The
    sequence can still differ from strict one-at-a-time BPE when a merge
    CREATES a brand-new pair whose count would out-rank a later batch
    member — the known, accepted deviation of every batched BPE trainer;
    ``batch_size=1`` is exact sequential BPE (pinned against an
    independent plain-Python implementation). Iterative-greedy merging
    is not expressible as one SQL query, so this operator ships with
    plain-Python twin tests instead of a DuckDB oracle; its queries()
    entries are rows-only in the sweep.

    Returns (merge_rank, left, right, pair_count) — pair_count as of the
    batch's shared snapshot."""
    words = _word_symbols(docs, text_col)
    merges: list[tuple[int, str, str, int]] = []
    cur = words.localCheckpoint()
    while len(merges) < n_merges:
        top = (
            cur.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("sym"), 1, F.size("sym") - 1),
                        F.slice(F.col("sym"), 2, F.size("sym") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(batch_size * candidate_factor)
            .collect()
        )
        if not top:
            break
        batch = select_disjoint_batch(
            [(r["l"], r["r"], int(r["pair_count"])) for r in top],
            min(batch_size, n_merges - len(merges)),
        )
        for left, right, count in batch:
            merges.append((len(merges) + 1, left, right, count))
        cur = bpe_merge_pass_multi(
            cur, [(left, right) for left, right, _ in batch]
        ).localCheckpoint()
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )

