"""Deduplication operators for training-data pipelines — exact, MinHash+LSH,
SimHash, and n-gram Jaccard. All pure Spark SQL over md5-derived hashes, so
(a) the DuckDB oracle can run the exact same math, and (b) everything stays
JVM-side / codegen'd with no UDFs.

Scale notes:
- exact dedup = one hash-shuffle on the fingerprint; at 100 TB this is the
  cheapest possible full-corpus pass (map-side partial counts first).
- MinHash signatures are computed in ONE aggregation over exploded shingles
  (k mins at once — not k passes). LSH banding turns all-pairs into a join
  keyed by (band_id, band_hash): only docs sharing a band bucket ever meet,
  so the shuffle is O(candidates), not O(n^2).
- n-gram Jaccard is the verify step AFTER LSH pruning; running it raw
  (self-join on shingle) is quadratic in bucket size and only used as the
  small-scale oracle-checkable variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_text_recognition_spark.operators.textanalysis import fingerprint, shingles, tokens

DEFAULT_NUM_PERM = 8
DEFAULT_BANDS = 4


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates (whitespace/case-normalized md5 key).
    Returns (fingerprint, dup_count, min_id) for groups with >1 member —
    min_id is the canonical survivor."""
    keyed = df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
    return (
        keyed.groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = DEFAULT_NUM_PERM, n: int = 3
) -> DataFrame:
    """(id, minhash_0..minhash_{k-1}): per-permutation minima of
    md5(perm_index || ':' || shingle). One explode + one aggregation."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("sh")
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("id").agg(*mins)


def lsh_candidate_pairs(
    signatures: DataFrame, num_perm: int = DEFAULT_NUM_PERM, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """Band the signature, bucket-join within (band_id, band_key), emit
    distinct candidate pairs (id_a < id_b) plus their estimated Jaccard
    (fraction of matching minhashes)."""
    # The signature computation (shingle explode + k-way min agg) feeds BOTH
    # sides of the self-join; persist it so the lineage runs once. At real
    # scale you materialize signatures to a table between the two jobs —
    # persist is the in-session analog.
    stacked = _explode_bands(_band_keys(signatures, num_perm, bands).persist(), num_perm, bands)
    pairs = _pair_estimates(stacked, stacked, "id_a", "id_b", num_perm)
    return pairs.filter(F.col("id_a") < F.col("id_b"))


def _band_keys(signatures: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, mh_*) -> (id, mh_*, band_0..band_{bands-1}): each band's key is
    the md5 of its rows' minhashes."""
    rows_per_band = num_perm // bands
    band_keys = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return signatures.select("id", *[F.col(f"mh_{i}") for i in range(num_perm)], *band_keys)


def _explode_bands(keyed: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """``_band_keys`` output -> one row per (id, band_id, bkey), minhashes
    kept for the match-fraction estimate."""
    return keyed.select(
        "id",
        *[F.col(f"mh_{i}") for i in range(num_perm)],
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band_{b}").alias("bkey")) for b in range(bands)])
        ).alias("band"),
    ).select("id", *[f"mh_{i}" for i in range(num_perm)], "band.band_id", "band.bkey")


def _pair_estimates(
    left: DataFrame, right: DataFrame, left_id: str, right_id: str, num_perm: int
) -> DataFrame:
    """Join two ``_explode_bands`` outputs on (band_id, bkey) and emit
    (left_id, right_id, est_jaccard): the fraction of matching minhashes,
    once per pair however many bands it shares."""

    def side(bands: DataFrame, id_name: str, prefix: str) -> DataFrame:
        mh = [F.col(f"mh_{i}").alias(f"{prefix}_{i}") for i in range(num_perm)]
        return bands.select(F.col("id").alias(id_name), *mh, "band_id", "bkey")

    joined = side(left, left_id, "a").join(side(right, right_id, "b"), ["band_id", "bkey"])
    match_frac = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(num_perm)
    ) / F.lit(float(num_perm))
    return (
        joined.select(left_id, right_id, match_frac.alias("est_jaccard"))
        .groupBy(left_id, right_id)
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def lsh_candidate_pairs_incremental(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Incremental dedup candidates: band-join a NEW batch's signatures
    against the STANDING corpus's stored signatures — the per-ingest shape
    a 100 TB training pipeline needs. The corpus side is a scan of the
    signature table materialized at ingest time plus a narrow band-key
    projection: the corpus is never re-shingled and never self-joined
    (tests/test_plans.py pins the no-recompute property by feeding both
    sides from parquet). Emits (new_id, corpus_id, est_jaccard); no id
    ordering constraint — the two sides are disjoint id universes. At
    scale the small new batch makes the join broadcast-eligible on the
    new side; AQE picks that up from runtime sizes."""
    new = _explode_bands(_band_keys(new_sigs, num_perm, bands), num_perm, bands)
    corpus = _explode_bands(_band_keys(corpus_sigs, num_perm, bands), num_perm, bands)
    return _pair_estimates(new, corpus, "new_id", "corpus_id", num_perm)


def hot_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, top_k: int = 20
) -> DataFrame:
    """Top-K shingles by document frequency — the corpus-analysis pass
    that DISCOVERS the stop-shingle list ``ngram_jaccard_pairs``'s
    ``max_shingle_df`` cap drops (boilerplate headers, licence blurbs,
    navigation text all surface here). One explode + one count shuffle +
    a global top-K (map-side partial top via TakeOrderedAndProject, no
    full sort). Deterministic order: (df desc, shingle asc)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("sh")
    ).distinct()
    counts = sh.groupBy("sh").agg(F.count("*").alias("shingle_df"))
    return counts.orderBy(F.desc("shingle_df"), F.asc("sh")).limit(top_k)


def exact_dup_incremental(
    new_df: DataFrame, corpus_fps: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental exact dedup: fingerprint the NEW batch and semi-join it
    against the STANDING corpus fingerprint table (one narrow column, the
    artifact exact_dup_groups' keyed pass materializes at ingest). Returns
    the new rows that already exist in the corpus: (new_id, fp,
    corpus_keep_id). The corpus side is scan-only — never re-fingerprinted
    (same property as lsh_candidate_pairs_incremental)."""
    keyed = new_df.select(
        F.col(id_col).alias("new_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    return keyed.join(
        corpus_fps.select("fp", F.col("keep_id").alias("corpus_keep_id")), "fp"
    ).select("new_id", "fp", "corpus_keep_id")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens: bit j = sign of the sum over
    tokens of (bit_j(md5_16(token)) * 2 - 1)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long"))
    bit_sums = [
        F.sum(
            (F.col("h").bitwiseAND(F.lit(1 << j)) != 0).cast("int") * 2 - 1
        ).alias(f"s_{j}")
        for j in range(16)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)
    )
    return agg.select("id", sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs. EAGER: the returned DataFrame is
    localCheckpoint()ed — evaluation happens at call time and the result
    is served from executor blocks, not recomputable from lineage on
    executor loss (callers composing lazy/recoverable plans should
    persist the simhash16() signatures themselves and band externally).

    Band the 16-bit simhash into four
    4-bit chunks — by pigeonhole, any pair within hamming distance 3
    shares at least one identical chunk — so candidates come from a
    chunk-keyed equi-join (never all-pairs) and the exact hamming check
    (bit_count of xor, pure JVM) runs only on candidates. The signature
    computation feeds both join sides, so it is persisted for the
    duration of THIS call only: the candidate pairs are materialized via
    localCheckpoint (whose executor blocks are GC-cleaned, unlike
    plan-keyed DataFrame persists) and the signature cache is released
    before returning — repeated calls in a long-running session no
    longer accumulate storage-memory blocks. At real scale the simhash
    column is a stored table, like the minhash path."""
    sims = simhash16(df, id_col, text_col).persist()
    chunks = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("simhash", 4 * b)
                        .bitwiseAND(F.lit(15))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_id", "b.chunk")
    a = chunks.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band_id", "chunk"
    )
    b = chunks.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band_id", "chunk"
    )
    pairs = (
        a.join(b, ["band_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .localCheckpoint()  # materialize once off the cached signatures
    )
    sims.unpersist()
    return pairs


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over candidate-duplicate pairs -> (id,
    cluster_id) with cluster_id = the component's minimum id (the
    canonical survivor). The step between pair generation (LSH/SimHash)
    and survivor selection in a dedup pipeline.

    Min-label propagation: each round, every node takes the min of its
    own label and its neighbors' labels — one join + one groupBy-min
    shuffle per round, converging in <= graph-diameter rounds (dup
    clusters are shallow: near-clique components converge in 2-3; raise
    ``max_iter`` for pathological chain-shaped graphs — the loop RAISES
    on exhaustion rather than silently returning split clusters).
    Scale notes: the per-round driver check is a COUNT aggregate (no data
    collected); labels are persisted per round and the previous round
    unpersisted. localCheckpoint truncates lineage so round N's PLAN stays
    bounded (no exponential replan) — it stores blocks on executors only,
    so an executor loss mid-run fails the job fast for the driver to
    retry; a long-running production job should setCheckpointDir and swap
    in reliable ``.checkpoint()`` for restartable rounds."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .persist()
    )
    labels.count()
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"dup_clusters did not converge in max_iter={max_iter} rounds "
            "(component diameter exceeds the round budget); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.
    The verify stage after LSH pruning; quadratic within shingle groups.

    ``max_shingle_df``: optional document-frequency cap — shingles present
    in more than this many documents are dropped BEFORE the self-join
    (standard MinHash-verify hygiene: one stop-shingle shared by millions
    of docs otherwise creates a quadratic hot bucket). Sizes are computed
    on the SAME filtered shingle set, so the result is the well-defined
    Jaccard over non-ubiquitous shingles: pairs whose only overlap is
    stop-shingles drop out (they were never near-duplicates). Default None
    keeps the exact semantics for the oracle-checked small-scale path."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("sh")
    ).distinct()
    if max_shingle_df is not None:
        # The hot set (df > cap) is tiny on a Zipfian corpus; one extra
        # groupBy on sh, then drop hot shingles from both join sides and
        # from the size universe (consistency keeps jaccard well-defined).
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("shingle_df"))
            .filter(F.col("shingle_df") > max_shingle_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "sh")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    withs = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
    )
    return withs.select(
        "id_a",
        "id_b",
        (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def prefix_filter_jaccard_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 60,
) -> DataFrame:
    """Exact all-pairs Jaccard-similarity join via PREFIX FILTERING
    (PPJoin-family) — the deterministic complement to LSH: no false
    negatives, no signature tuning, exact (inter, union) out.

    Principle: order every doc's distinct token set by a global total
    order (ascending document frequency, ties by token — rarest first)
    and keep only each doc's first ``n - ceil(t*n) + 1`` tokens as its
    *prefix*. Any pair with Jaccard >= t overlaps in >= ceil(t*n) tokens
    on each side, which is pigeonhole-impossible unless their prefixes
    share a token — so joining on prefix tokens alone generates a
    candidate superset. Because prefixes hold the RAREST tokens, the
    candidate join's per-key fan-out is bounded by rare-token df, not by
    stop-word df: this is what makes an exact similarity self-join
    feasible at corpus scale where a raw token self-join explodes on
    "the".

    Stages (all JVM-side): distinct (doc, token) explode -> df counts
    (one combining agg) -> per-doc prefix (row_number window, per-doc
    partitions) -> prefix equi-self-join -> verify join computing the
    exact intersection ONLY for candidates. Thresholding is integer:
    keep pairs with ``100*inter >= threshold_pct*(na+nb-inter)``.

    Returns (doc_a, doc_b, inter, uni) with doc_a < doc_b.

    Identical TOKEN SETS are collapsed to one representative before the
    join and the result pairs expanded back afterwards (set-clone pairs
    are emitted directly with inter == uni — Jaccard 1 passes any
    threshold). On clone-heavy corpora — the stated target domain — this
    shrinks both the candidate join and the verify stage by the clone
    factor squared while producing the identical pair set (pinned
    against the uncollapsed brute force in tests).

    Verify-stage note: an array_intersect-based verify (join candidates
    to per-doc token arrays, one row per candidate) was tried and
    MEASURED SLOWER (48s vs 30s steady-state on the sf0.1 corpus, 3.7M
    candidates) than this explode-equi-join + count form: per-row array
    set-intersection falls out of whole-stage codegen's vectorized hash
    join path. Keep the join form.

    Scale caveat: an exact similarity join's OUTPUT is itself quadratic
    in near-duplicate cluster size — on a corpus that is mostly
    template clones, no candidate scheme saves you because the true
    pairs are the cost (the sf0.1 synthetic corpus truly contains ~965k
    pairs at threshold 0.9; measured, see BENCH notes)."""
    tok_all = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )
    sizes_all = tok_all.groupBy("doc_id").agg(F.count("*").alias("n"))
    # Collapse identical token sets: one combining agg builds a per-doc
    # set fingerprint; each set's min doc_id becomes the representative.
    # Tokens are hashed BEFORE the set is serialized: sha2 hex digests
    # are fixed-width, so their sorted concatenation is injective —
    # concat_ws over raw tokens would let a token containing the
    # separator byte collide two different sets (Java \\s does not split
    # on U+001F, so tokens CAN contain it).
    mem = (
        tok_all.groupBy("doc_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    "", F.sort_array(F.collect_set(F.sha2(F.col("token"), 256)))
                ),
                256,
            ).alias("seth")
        )
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("seth")))
        .select("doc_id", "rep")
    )
    reps = mem.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    tok = tok_all.join(reps, "doc_id")
    sizes = sizes_all.join(reps, "doc_id")
    dfc = tok.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    plen = (
        F.col("n")
        - F.expr(f"({threshold_pct}L * n + 99L) div 100L")
        + F.lit(1)
    )
    prefix = (
        tok.join(dfc, "token")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= plen)
        .select("doc_id", "token", "n")
    )
    # Length filter: J >= t forces t*max(na,nb) <= min(na,nb) (inter <=
    # min, union >= max), so size-mismatched candidates die before the
    # distinct and the verify join ever see them.
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "token", F.col("n").alias("_na"))
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"), "token", F.col("n").alias("_nb")
            ),
            "token",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(100) * F.least("_na", "_nb")
                >= F.lit(threshold_pct) * F.greatest("_na", "_nb")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = (
        cand.join(tok.select(F.col("doc_id").alias("doc_a"), "token"), "doc_a")
        .join(
            tok.select(F.col("doc_id").alias("doc_b"), "token"),
            ["doc_b", "token"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    rep_pairs = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.lit(100) * F.col("inter") >= F.lit(threshold_pct) * F.col("uni"))
        .select("doc_a", "doc_b", "inter", "uni")
    )
    # Expand representative pairs to member pairs (every member of set A
    # pairs with every member of set B at the same inter/uni), and emit
    # the within-set clone pairs directly: identical sets have
    # inter == uni == n, Jaccard 1, which passes any threshold.
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("da")),
            "doc_a",
        )
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("db")),
            "doc_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "inter",
            "uni",
        )
    )
    within = (
        mem.select("rep", F.col("doc_id").alias("doc_a"))
        .join(mem.select("rep", F.col("doc_id").alias("doc_b")), "rep")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(
            sizes_all.select(F.col("doc_id").alias("doc_a"), "n"), "doc_a"
        )
        .select("doc_a", "doc_b", F.col("n").alias("inter"), F.col("n").alias("uni"))
    )
    return cross.unionByName(within).select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking — the third candidate-generation
    family next to LSH (hash buckets) and prefix filtering (rare-token
    joins): sort the corpus by a numeric blocking key and pair each
    record with its ``window`` successors in that global order.
    Classical entity-resolution blocking; at corpus scale it finds the
    near-dups that hash on nothing discrete (lengths, prices,
    timestamps drift slightly between copies).

    The global sort uses the histogram-offset rank (``stats.global_rank``
    — no single-reducer window), and neighbors meet through a BAND join,
    not a range join: ranks bucket by ``rank div window``; the left side
    emits each row under its own bucket and the next, the right side
    under its own, so every pair with ``1 <= rank_b - rank_a <= window``
    meets on exactly one key (bucket(b) is uniquely bucket(a) or
    bucket(a)+1) — no nested loop, no post-join dedup."""
    from .stats import global_rank

    ranked = global_rank(
        df.select(F.col(id_col).alias("rid"), F.col(key_col).alias("k")),
        "k",
        "rid",
        64.0,
        rank_col="rnk",
    ).select("rid", "rnk", (F.col("rnk") / window).cast("long").alias("bkt"))
    left = ranked.select(
        F.col("rid").alias("doc_a"), F.col("rnk").alias("ra"), "bkt"
    )
    left2 = left.withColumn("bkt", F.col("bkt") + 1)
    right = ranked.select(
        F.col("rid").alias("doc_b"), F.col("rnk").alias("rb"), "bkt"
    )
    return (
        left.unionByName(left2)
        .join(right, "bkt")
        .filter(
            (F.col("rb") - F.col("ra") >= 1)
            & (F.col("rb") - F.col("ra") <= window)
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("rb") - F.col("ra")).cast("int").alias("gap"),
        )
    )


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id long, toks): the normalized tokens substring dedup works on."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )


def _window_hashes(window: int) -> Column:
    """md5 of each ``window``-token run of ``toks``, in position order:
    one JVM-side ``transform`` over a ``sequence``."""
    return F.transform(
        F.sequence(F.lit(1), F.size("toks") - F.lit(window - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, window))),
    )


def substring_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    max_window_df: int = 100,
) -> DataFrame:
    """EXACT SUBSTRING duplication (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" granularity): two
    documents are substring-duplicates when they share a verbatim run of
    ``window`` consecutive tokens — catching quote-level and
    boilerplate-level copying that document-level Jaccard/MinHash misses
    entirely (a 10k-token page containing one lifted paragraph has
    near-zero document similarity).

    Spark shape: per doc, hash every ``window``-token rolling window
    (one ``transform`` over a ``sequence`` — JVM-side, no explode until
    the hashes exist), distinct per (doc, hash), then a hash-keyed
    equi-self-join. ``max_window_df`` drops windows present in more than
    that many documents BEFORE the join — the licence-blurb/navigation-
    chrome guard; without it one site-wide footer makes the join
    quadratic in corpus size (same hot-key rationale as
    ``max_shingle_df``). Returns (doc_a, doc_b, n_shared_windows),
    doc_a < doc_b; at removal time the window hashes themselves (not
    emitted here) locate the span to cut."""
    toks = _doc_tokens(docs, id_col, text_col).filter(F.size("toks") >= window)
    wins = toks.select("doc_id", F.explode(_window_hashes(window)).alias("wh")).distinct()
    wdf = wins.groupBy("wh").agg(F.count("*").alias("wdf"))
    keep = wins.join(wdf.filter(F.col("wdf") <= max_window_df), "wh").select(
        "doc_id", "wh"
    )
    return (
        keep.select(F.col("doc_id").alias("doc_a"), "wh")
        .join(keep.select(F.col("doc_id").alias("doc_b"), "wh"), "wh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
    )


def substring_dup_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    max_window_df: int = 100,
) -> DataFrame:
    """CUT LOCATIONS for exact substring dedup — the removal half of the
    Lee et al. 2022 pipeline that ``substring_dup_pairs`` only identifies:
    per document, every token position covered by a duplicated
    ``window``-token run, merged into maximal cut intervals.

    A window is "duplicated" when its hash appears in >= 2 documents
    (and <= ``max_window_df`` — the same hot-window/licence-blurb cap as
    the pairs operator, applied BEFORE any join). Overlapping and
    adjacent duplicated windows coalesce via gaps-and-islands: all
    intervals have equal length ``window``, so a new island starts
    exactly when ``win_start - prev_start > window`` — one lag + one
    running sum per doc, no running-max needed.

    Scale shape: positions explode once (posexplode over the same
    JVM-side rolling-hash transform), the window-df aggregate runs on the
    DISTINCT (doc, hash) projection, and the only join is positions ⋈
    duplicated-hashes on the hash key — never doc-to-doc. The island
    window function partitions by doc_id: per-doc work, no global sort.

    Returns (doc_id, cut_start, cut_end, n_windows): 1-based inclusive
    token indexes to cut, and how many duplicated windows the interval
    absorbed."""
    toks = _doc_tokens(docs, id_col, text_col).filter(F.size("toks") >= window)
    pos = toks.select(
        "doc_id", F.posexplode(_window_hashes(window)).alias("pos", "wh")
    ).select("doc_id", (F.col("pos") + 1).cast("int").alias("win_start"), "wh")
    wdf = (
        pos.select("doc_id", "wh")
        .distinct()
        .groupBy("wh")
        .agg(F.count("*").alias("wdf"))
        .filter((F.col("wdf") >= 2) & (F.col("wdf") <= max_window_df))
    )
    dup = pos.join(wdf, "wh").select("doc_id", "win_start")
    bypos = Window.partitionBy("doc_id").orderBy("win_start")
    run = Window.partitionBy("doc_id").orderBy("win_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = dup.withColumn(
        "newi",
        F.when(
            F.col("win_start") - F.lag("win_start").over(bypos) <= window, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("island", F.sum("newi").over(run))
    return flagged.groupBy("doc_id", "island").agg(
        F.min("win_start").cast("int").alias("cut_start"),
        (F.max("win_start") + F.lit(window - 1)).cast("int").alias("cut_end"),
        F.count("*").cast("long").alias("n_windows"),
    ).drop("island")


def substring_dedup_apply(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    max_window_df: int = 100,
) -> DataFrame:
    """APPLY the exact-substring cuts: the corpus-rewrite step that
    completes the Lee et al. 2022 pipeline (identify =
    ``substring_dup_pairs``, locate = ``substring_dup_spans``, remove =
    here). Every token position covered by a duplicated window is
    dropped and the survivors are re-joined with single spaces —
    matching the released deduplicate-text-datasets tool's semantics of
    removing EVERY occurrence of a duplicated run, not all-but-one
    (its documented quirk; survivor selection would need a per-window
    owner and is a policy layer above this operator).

    Scale shape: the cut intervals come from ``substring_dup_spans``
    (hash-keyed join only, never doc-to-doc), are collected to one
    array row per AFFECTED doc (a per-doc groupBy — tiny relative to
    the corpus), and the rewrite itself is a broadcast-friendly left
    join + one JVM-side higher-order ``filter`` over each doc's token
    array — token positions are never exploded, so the corpus pass is
    a single map-shaped stage. Docs shorter than ``window`` tokens (no
    windows) and docs with no duplicated windows pass through with
    ``n_removed = 0``; a NULL-text doc comes back with ``clean_text = ''``
    and NULL token counts.

    Returns (doc_id, clean_text, n_tokens, n_removed) — tokens counted
    on the normalized (lowercased, whitespace-split) form the cuts are
    defined over."""
    cuts = (
        substring_dup_spans(docs, id_col, text_col, window, max_window_df)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("cut_start", "cut_end")).alias("cuts")
        )
    )
    toks = _doc_tokens(docs, id_col, text_col)
    joined = toks.join(cuts, "doc_id", "left").withColumn(
        "cuts", F.coalesce(F.col("cuts"), F.array())
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("cuts"),
            lambda c: (i + 1 >= c["cut_start"]) & (i + 1 <= c["cut_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
        F.size("toks").cast("int").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("int").alias("n_removed"),
    )
