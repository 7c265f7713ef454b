"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.
All pure Spark SQL (JVM-side, codegen'd) — these run over every document
at corpus scale, so no Python may touch the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic stopword-profile language ID. Tiny on purpose: the corpus
# generator's languages are {en, de, es, fr, zh}; the operator's mechanics
# (per-language evidence count -> argmax) are what scale, the word lists
# are swappable.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une", "que", "sur"],
}

TOKEN_SPLIT = r"\s+"
# BPE-ish token regex: word pieces, numbers, or single punctuation marks.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings filtered)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def ngrams(text: Column, n: int = 2) -> Column:
    """ALL word n-grams in order (duplicates kept — the repetition-
    measurement unit; ``shingles`` is the distinct variant used for
    set-similarity). Falls back to the whole text as one n-gram when the
    doc has fewer than n tokens."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: words + numbers + punctuation marks, counted
    via regexp_count (stays JVM-side; no tokenizer UDF)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def lang_id(text: Column) -> Column:
    """argmax language, with a CJK-codepoint check first (zh has no
    whitespace stopwords) and 'und' when no evidence at all. The argmax
    (ties broken by LANG_STOPWORDS order) runs inside the aggregate's
    finish lambda, so the whole classification is one tokens fold —
    q22's bench drift traced to the old per-language filter passes."""
    has_cjk = F.regexp_count(text, F.lit(r"[一-鿿]")) > 0
    langs = list(LANG_STOPWORDS)
    zero = F.struct(*[F.lit(0).alias(lang) for lang in langs])
    wordsets = {
        lang: F.array(*[F.lit(w) for w in ws]) for lang, ws in LANG_STOPWORDS.items()
    }

    def step(acc, tok):
        return F.struct(
            *[
                (acc[lang] + F.array_contains(wordsets[lang], tok).cast("int")).alias(lang)
                for lang in langs
            ]
        )

    def finish(acc):
        best = F.greatest(*[acc[lang] for lang in langs])
        return F.coalesce(
            *[F.when((acc[lang] == best) & (best > 0), F.lit(lang)) for lang in langs],
            F.lit("und"),
        )

    pick = F.aggregate(tokens(text), zero, step, finish)
    return F.when(has_cjk, F.lit("zh")).otherwise(pick)


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + alpha ratio +
    mean-word-length band + stopword presence. Deterministic heuristic in
    the Gopher/C4-filter family; each term is a pure SQL expression.
    Like lang_id, the token-derived terms (count + en stopword hits) come
    from ONE fold over a single tokens array — the operator runs over
    every document at corpus scale, so one lower+split per row, not one
    per term."""
    n_chars = F.length(text)
    en_words = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    zero = F.struct(F.lit(0).alias("n"), F.lit(0).alias("hits"))

    def step(acc, tok):
        return F.struct(
            (acc["n"] + 1).alias("n"),
            (acc["hits"] + F.array_contains(en_words, tok).cast("int")).alias("hits"),
        )

    def finish(acc):
        mean_word_len = n_chars / F.greatest(acc["n"], F.lit(1))
        word_term = F.when(
            (mean_word_len >= 3) & (mean_word_len <= 12), 0.25
        ).otherwise(0.0)
        stop_term = F.when(acc["hits"] >= 2, 0.25).otherwise(0.0)
        return word_term + stop_term

    tok_terms = F.aggregate(tokens(text), zero, step, finish)
    alpha_ratio = F.regexp_count(text, F.lit(r"[A-Za-z]")) / F.greatest(n_chars, F.lit(1))
    len_term = F.when((n_chars >= 50) & (n_chars <= 100000), 0.25).otherwise(0.0)
    alpha_term = F.when(alpha_ratio >= 0.6, 0.25).otherwise(0.0)
    return (len_term + alpha_term + tok_terms).alias("quality")


def fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase
    text (exact-dedup key)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the unit for MinHash/Jaccard."""
    return F.array_distinct(ngrams(text, n))


def rolling_fingerprint(text: Column, n: int = 3) -> Column:
    """Content-defined fingerprint: minimum md5 over word n-gram shingles —
    stable under small edits (the rolling-hash document fingerprint)."""
    return F.array_min(F.transform(shingles(text, n), F.md5))


def hashed_linear_score(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """FastText-style linear quality-classifier INFERENCE as pure SQL:
    tokens hash into ``n_buckets`` feature buckets (first 16 md5 bits,
    portable), bucket weights come from the broadcast ``weights`` model
    table (columns ``bucket``, ``weight`` — trained offline; even a 2M-
    bucket model is a few MB), and each document scores
    sigmoid(mean bucket weight). Explode -> broadcast join -> one groupBy:
    model inference over a 100 TB corpus with zero Python and shuffle
    only on the doc key. Emits (id, n_tok, score rounded to 4)."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    b = tok.withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
        % F.lit(n_buckets),
    )
    j = b.join(F.broadcast(weights), "bucket")
    x = F.sum("weight") / F.count("*")
    return j.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 4).alias("score"),
    )


def demo_weight_table(spark, n_buckets: int = 1024) -> DataFrame:
    """Deterministic stand-in for a trained model: integer-valued weights
    scaled by 1/256 (exactly representable doubles, so the oracle's sum
    is bit-identical regardless of accumulation order)."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (((F.col("id") * 2654435761) % 1024 - 512) / 256.0).alias("weight"),
    )
