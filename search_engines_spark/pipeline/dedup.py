"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:

* every hash is computed with built-in JVM expressions (`md5`, `conv`,
  integer arithmetic) — no Python, whole-stage codegen end-to-end;
* MinHash signatures are one narrow shuffle: explode shingles →
  `groupBy(doc_id)` with K min-aggregates (map-side partial agg absorbs
  shingle skew because the key is doc_id, not shingle);
* LSH banding turns the O(n²) pair problem into an equi-join on
  `(band, signature)` — the classic shuffle-join-on-bucket shape that
  scales linearly with candidate volume; band-bucket skew (e.g. a
  boilerplate header shared by millions of files) is handled by AQE
  skew-join splitting, enabled in `session.get_spark`;
* n-gram Jaccard joins on distinct shingles and aggregates pair
  intersections — worst-case quadratic only within a shingle bucket, the
  standard candidate-pair bound;
* SimHash is a single groupBy with 60 conditional sums (one per bit).

All constants are module-level so the DuckDB oracle SQL in
`entry_queries` can inline the same values — engine and oracle share one
parameterization and cannot drift.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..analysis import SPARK_TOKENS_EXPR

P31 = 2_147_483_647  # 2^31 - 1, Mersenne prime for the affine hash family
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4  # NUM_HASHES = LSH_BANDS * LSH_ROWS
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed int64 exactly
SHINGLE_K = 3

_rng = random.Random(7)
MINHASH_A = [_rng.randrange(1, P31) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, P31) for _ in range(NUM_HASHES)]


def token_hash32(col: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 → long.

    Expressible identically in DuckDB as
    ``('0x'||substr(md5(x),1,8))::UBIGINT::BIGINT`` — the portability is
    what makes the dedup operators oracle-checkable.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def token_hash60(col: Column) -> Column:
    """60-bit hash (15 hex chars of md5) for SimHash bit sampling."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------------------ exact --


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup → (fp, n_docs, doc_ids csv) for groups >1.

    sha2 on the raw text; one shuffle on the 64-hex key (uniform — no skew
    unless true duplicates exist, which is exactly the signal).
    """
    return (docs
            .select(F.sha2(F.col(text_col), 256).alias("fp"),
                    F.col(id_col).cast("long").alias("doc_id"))
            .groupBy("fp")
            .agg(F.count("*").alias("n_docs"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list("doc_id")),
                                 lambda x: x.cast("string")),
                     ",").alias("doc_ids"))
            .where(F.col("n_docs") > 1))


# --------------------------------------------------------------- shingles --


def tokens_expr(text_col: str) -> Column:
    """The canonical tokenizer (`analysis.SPARK_TOKENS_EXPR` — the one
    definition, null-safe via coalesce so NULL text shingles like '')."""
    return F.expr(SPARK_TOKENS_EXPR.format(col=f"coalesce({text_col}, '')"))


def with_shingles(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, shingle) exploded word-{SHINGLE_K}-gram shingles (distinct
    per doc).  Docs with < K tokens produce no shingles. Per-doc
    distinctness is `array_distinct` before the explode — doc-local,
    zero shuffle — instead of a dataframe-level distinct() that would
    exchange every corpus shingle."""
    k = SHINGLE_K
    sh = (f"case when size(_toks) >= {k} then "
          f"array_distinct(transform(sequence(1, size(_toks)-{k-1}), "
          f"i -> concat_ws(' ', _toks[i-1], _toks[i], _toks[i+1]))) "
          f"else array() end")
    return (docs
            .select(F.col(id_col).cast("long").alias("doc_id"),
                    tokens_expr(text_col).alias("_toks"))
            .select("doc_id", F.explode(F.expr(sh)).alias("shingle")))


# ---------------------------------------------------------------- minhash --


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """(doc_id, shingle) → (doc_id, mh0..mh{K-1}) MinHash signature.

    Affine family h_i(x) = (a_i·x + b_i) mod p over the 32-bit shingle
    hash; one groupBy(doc_id) with K min-aggregates (partial agg map-side).
    """
    h = (token_hash32(F.col("shingle")) % P31).alias("h")
    base = shingled.select("doc_id", h)
    aggs = [F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % P31)
            .alias(f"mh{i}") for i in range(NUM_HASHES)]
    return base.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """MinHash signatures → distinct candidate pairs (doc_a < doc_b) whose
    signatures collide in ≥1 LSH band (bands×rows = K).

    Per band: equi-join on the band signature string — linear shuffle, AQE
    splits skewed buckets (boilerplate-heavy corpora).
    """
    pair_frames = []
    for b in range(LSH_BANDS):
        cols = [f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        sig = F.concat_ws("_", *[F.col(c).cast("string") for c in cols])
        banded = sigs.select(F.col("doc_id"), sig.alias("bsig"))
        left = banded.select(F.col("doc_id").alias("doc_a"), "bsig")
        right = banded.select(F.col("doc_id").alias("doc_b"), "bsig")
        pair_frames.append(
            left.join(right, "bsig")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b"))
    return reduce(lambda l, r: l.unionByName(r), pair_frames).distinct()


def minhash_dedup_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """End-to-end: shingle → MinHash → LSH banding → candidate pairs."""
    return lsh_candidate_pairs(minhash_signatures(
        with_shingles(docs, text_col, id_col)))


# ---------------------------------------------------------------- simhash --


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, simhash) {SIMHASH_BITS}-bit SimHash over tf-weighted
    stopword-free tokens; bit b set iff Σ_t tf(t)·(2·bit_b(h(t)) − 1) > 0.

    One groupBy(doc_id) with SIMHASH_BITS conditional sums — single
    shuffle, all JVM expressions.
    """
    from ..analysis import STOPWORDS
    toks = (docs
            .select(F.col(id_col).cast("long").alias("doc_id"),
                    F.explode(tokens_expr(text_col)).alias("term"))
            .where(~F.col("term").isin(*sorted(STOPWORDS)))
            .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
            .withColumn("h", token_hash60(F.col("term"))))
    bit_aggs = [
        F.sum(F.col("tf") * (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
                             * 2 - 1)).alias(f"s{b}")
        for b in range(SIMHASH_BITS)]
    sums = toks.groupBy("doc_id").agg(*bit_aggs)
    sim = reduce(
        lambda acc, b: acc + F.when(F.col(f"s{b}") > 0,
                                    F.shiftleft(F.lit(1).cast("long"), b))
        .otherwise(F.lit(0).cast("long")),
        range(SIMHASH_BITS), F.lit(0).cast("long"))
    return sums.select("doc_id", sim.alias("simhash"))


# ----------------------------------------------------------- ngram jaccard --


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    → (doc_a, doc_b, inter, union_sz, jacc_r) with Jaccard ≥ threshold;
    jacc_r = floor(j·1e6 + 0.5), integer-exact for oracle comparison.
    Join on shingle → pair-count aggregation: the candidate-pair bound
    (quadratic only within one shingle's posting) is the standard
    scalable shape; a hot shingle (license header) is an AQE skew split.
    """
    sh = with_shingles(docs, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (a.join(b, "shingle")
             .where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.select(F.col("doc_id").alias("doc_a"),
                              F.col("sz").alias("sza")), "doc_a")
           .join(sizes.select(F.col("doc_id").alias("doc_b"),
                              F.col("sz").alias("szb")), "doc_b")
           .withColumn("union_sz", F.col("sza") + F.col("szb") - F.col("inter"))
           .withColumn("jacc_r",
                       F.floor(F.col("inter") / F.col("union_sz") * 1e6 + 0.5)
                       .cast("long"))
           .where(F.col("jacc_r") >= int(threshold * 1e6)))
    return out.select("doc_a", "doc_b", F.col("inter").cast("long").alias("inter"),
                      F.col("union_sz").cast("long").alias("union_sz"), "jacc_r")


# ------------------------------------------------------- embedding near-dup --

EMB_LSH_BANDS = 4  # sign-LSH bands over similarity.ANN_PLANES bits


def _sign_banded(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """→ (vid, band, bsig) narrow frame: sign-bit LSH signature of each
    vector (planes shared with `similarity._planes` — one seeded family
    across the ANN and dedup operators), split into EMB_LSH_BANDS bands.

    Narrow on purpose: the banding join moves (vid, bsig) only; vectors
    are re-joined for the surviving candidate pairs, so the shuffle
    volume is O(n·bands·8B), not O(n·dim·8B·bands)."""
    from .similarity import ANN_PLANES, _planes
    head = emb.select(vec_col).first()
    if head is None:   # empty embeddings frame → empty banded frame
        return emb.sparkSession.createDataFrame(
            [], "vid long, band int, bsig string")
    dim = len(head[0])
    planes = _planes(dim, ANN_PLANES)
    rows_per_band = ANN_PLANES // EMB_LSH_BANDS
    v = emb.select(F.col(id_col).cast("long").alias("vid"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    bit_cols = []
    for i, p in enumerate(planes):
        lit_p = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(F.zip_with(F.col("v"), lit_p, lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        bit_cols.append(F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
                        .alias(f"b{i}"))
    bits = v.select("vid", *bit_cols)
    band_frames = []
    for b in range(EMB_LSH_BANDS):
        cols = [F.col(f"b{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)]
        band_frames.append(bits.select(
            "vid", F.lit(b).alias("band"),
            F.concat_ws("", *cols).alias("bsig")))
    return reduce(lambda l, r: l.unionByName(r), band_frames)


def embedding_near_dup_pairs_lsh(emb: DataFrame, threshold: float = 0.9,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> DataFrame:
    """Sign-LSH banded near-dup: candidate pairs = vectors agreeing on at
    least one full band of signature bits; cosine verified within
    candidates only → (vec_a, vec_b, cos_r) with cos ≥ threshold.

    The scale path: band equi-join bounds the pair space (same shape as
    MinHash LSH banding), so cost is linear in candidate volume instead
    of the all-pairs O(n²) cross join. Recall < 1 by the standard LSH
    guarantee; the driver oracle replays the identical seeded planes so
    Spark and SQL agree exactly on the approximate result."""
    from .similarity import cosine_expr, norm_expr
    banded = _sign_banded(emb, id_col, vec_col)
    left = banded.select(F.col("vid").alias("vec_a"), "band", "bsig")
    right = banded.select(F.col("vid").alias("vec_b"), "band", "bsig")
    cand = (left.join(right, ["band", "bsig"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    v = emb.select(F.col(id_col).cast("long").alias("vid"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    v = v.withColumn("nrm", norm_expr(F.col("v")))
    pairs = (cand
             .join(v.select(F.col("vid").alias("vec_a"),
                            F.col("v").alias("va"), F.col("nrm").alias("na")),
                   "vec_a")
             .join(v.select(F.col("vid").alias("vec_b"),
                            F.col("v").alias("vb"), F.col("nrm").alias("nb")),
                   "vec_b")
             .withColumn("cos", cosine_expr(F.col("va"), F.col("vb"),
                                            F.col("na"), F.col("nb")))
             .withColumn("cos_r", F.floor(F.col("cos") * 1e6 + 0.5).cast("long"))
             .where(F.col("cos_r") >= int(threshold * 1e6)))
    return pairs.select("vec_a", "vec_b", "cos_r")


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             method: str = "lsh") -> DataFrame:
    """Embedding-cosine near-dup pairs → (vec_a, vec_b, cos_r).

    method='lsh' (default): sign-LSH banded candidates — the 100 TB
    shape. method='brute': all-pairs cross join — the exact baseline,
    for small n and as the oracle for LSH recall measurements.
    """
    if method == "lsh":
        return embedding_near_dup_pairs_lsh(emb, threshold, id_col, vec_col)
    if method != "brute":
        raise ValueError(f"unknown method {method!r}")
    from .similarity import cosine_expr, norm_expr
    v = emb.select(F.col(id_col).cast("long").alias("vid"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    v = v.withColumn("nrm", norm_expr(F.col("v")))
    a = v.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"),
                 F.col("nrm").alias("na"))
    b = v.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("nrm").alias("nb"))
    pairs = (a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
             .withColumn("cos", cosine_expr(F.col("va"), F.col("vb"),
                                            F.col("na"), F.col("nb")))
             .withColumn("cos_r", F.floor(F.col("cos") * 1e6 + 0.5).cast("long"))
             .where(F.col("cos_r") >= int(threshold * 1e6)))
    return pairs.select("vec_a", "vec_b", "cos_r")


# ------------------------------------------------- connected components --


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Emit (v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u})."""
    s = _symmetric(e).distinct()
    m = (s.groupBy("u").agg(F.min("v").alias("m"))
         .withColumn("m", F.least("m", F.col("u"))))
    return (s.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Direct edges high→low, then emit (v, m) for v ∈ N(u) ∪ {u},
    m = min(N(u)); self-loops dropped."""
    d = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (d.join(m, "u")
           .select(F.col("v").alias("u"), F.col("m").alias("v"))
           .union(m.select("u", F.col("m").alias("v"))))
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 30) -> DataFrame:
    """(doc_id, component) for every node of `pairs`; component = the
    smallest doc_id reachable.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log² n) rounds of
    two skew-resistant shuffles each (groupBy-node min + join back).
    Min-label propagation would need one round per graph DIAMETER — a
    10^6-doc boilerplate chain is 10^6 rounds; star-contraction is the
    shape that survives web-scale dedup graphs. The driver loop carries
    only an order-insensitive convergence checksum per round; lineage
    is cut every round so the plan does not deepen with iterations —
    via reliable `checkpoint()` when the session has a checkpoint dir
    configured (executor loss mid-job replays from storage, the
    10^12-file posture), else `localCheckpoint()` (executor-local
    blocks — fine single-JVM / test scale).
    """
    def _cut(df: DataFrame) -> DataFrame:
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isDefined():
            return df.checkpoint()
        return df.localCheckpoint()

    e = _cut(pairs.select(F.col(a_col).cast("long").alias("u"),
                          F.col(b_col).cast("long").alias("v"))
             .where(F.col("u") != F.col("v")).distinct())
    prev = None
    for _ in range(max_iter):
        e = _cut(_small_star(_large_star(e)))
        n, h = (e.agg(F.count("*"),
                      F.expr("bit_xor(xxhash64(u, v))"))  # order-free,
                # cannot overflow (sum would, under ANSI mode)
                .first() or (0, 0))
        if (n, h) == prev:
            break
        prev = (n, h)
    else:
        raise RuntimeError(f"connected_components: no fixpoint in "
                           f"{max_iter} rounds")
    # fixpoint = stars centered at each component's minimum node
    return (e.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("component"))
            .union(e.select(F.col("v").alias("doc_id"),
                            F.col("v").alias("component")))
            .distinct())


def dedup_clusters(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate CLUSTERS with a retention policy: connected
    components over the MinHash-LSH candidate graph, canonical
    representative = the smallest doc_id per component.

    → (doc_id, component, keep) for EVERY document; keep = 1 iff the
    doc is its component's representative (singletons keep themselves).
    This is the operator a training-data pipeline actually runs — pair
    emission alone under-deletes: near-dup similarity is not
    transitive-closed, so A≈B and B≈C must drop BOTH B and C even when
    (A, C) never collides in a band.
    """
    cc = connected_components(
        minhash_dedup_pairs(docs, text_col, id_col))
    return (docs.select(F.col(id_col).cast("long").alias("doc_id"))
            .join(cc, "doc_id", "left")
            .withColumn("component",
                        F.coalesce("component", F.col("doc_id")))
            .withColumn("keep",
                        (F.col("doc_id") == F.col("component"))
                        .cast("int")))


# ----------------------------------------------- exact substring spans --

DEDUP_SPAN_K = 8          # token window that seeds a duplicated span
DEDUP_SPAN_MIN_COUNT = 2  # corpus-wide occurrences that mark it duplicated


def duplicate_spans(docs: DataFrame, k: int = DEDUP_SPAN_K,
                    min_count: int = DEDUP_SPAN_MIN_COUNT,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    hash_grams: bool = False) -> DataFrame:
    """→ (doc_id, span_start, span_end, span_tokens): maximal token
    spans covered by word-k-grams that occur >= min_count times
    CORPUS-WIDE (total occurrences — same-doc repeats count), i.e.
    span-level exact substring deduplication in the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better") sense:
    whole-doc dedup misses the boilerplate header pasted into a million
    otherwise-distinct files; this marks the pasted SPAN. `span_start`
    is a 0-based token index, `span_end` exclusive; overlapping and
    touching windows merge into one maximal span.

    Plan shape — three narrow exchanges, all on skew-safe keys:
    positions are doc-local (one posexplode projection, no shuffle);
    corpus gram counts are ONE groupBy(gram) with map-side partial
    aggregation; the semi-join back marks duplicated positions; the
    merge is a doc_id-keyed gaps-and-islands window (running max of
    pos+k, new span on gap) + one (doc_id, span) aggregation.
    `hash_grams=True` is the 100 TB key choice: the count exchange and
    semi-join carry xxhash64(gram) — an 8-byte uniform key — instead of
    the k-token string, shrinking shuffle bytes ~6× at k=8 (a 64-bit
    collision falsely marks one k-token window — negligible, and
    pytest-gated identical on real corpora). The default keeps the gram
    STRING because the DuckDB oracle must replay the semantics
    engine-identically without assuming the two engines share a hash
    implementation. Boilerplate grams are hot but the aggregation is a
    count (partial agg absorbs them); AQE splits any residual skew in
    the semi-join probe."""
    g = (f"case when size(_toks) >= {k} then "
         f"transform(sequence(1, size(_toks)-{k - 1}), "
         f"i -> concat_ws(' ', slice(_toks, i, {k}))) "
         f"else array() end")
    pos_grams = (docs
                 .select(F.col(id_col).cast("long").alias("doc_id"),
                         tokens_expr(text_col).alias("_toks"))
                 .select("doc_id",
                         F.posexplode(F.expr(g)).alias("pos", "gram")))
    if hash_grams:
        pos_grams = pos_grams.select(
            "doc_id", "pos", F.xxhash64("gram").alias("gram"))
    dup = (pos_grams.groupBy("gram")
           .agg(F.count("*").alias("_n"))
           .where(F.col("_n") >= min_count).select("gram"))
    marked = (pos_grams.join(dup, "gram", "left_semi")
              .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_start = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)),
                      F.lit(1)).otherwise(F.lit(0))
    return (marked.withColumn("_st", is_start)
            .withColumn("_sid", F.sum("_st").over(w))
            .groupBy("doc_id", "_sid")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + k).cast("long").alias("span_end"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("span_tokens")))


def strip_duplicate_spans(docs: DataFrame, k: int = DEDUP_SPAN_K,
                          min_count: int = DEDUP_SPAN_MIN_COUNT,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          hash_grams: bool = False) -> DataFrame:
    """→ (doc_id, clean_text, n_tokens, removed_tokens): the corpus with
    `duplicate_spans` cut out — surviving tokens rejoined with single
    spaces (token-level normalization: original separators inside and
    around cut spans are not reconstructed). Every input doc appears;
    docs with no spans pass through with removed_tokens = 0.

    Doc-local after the spans join: per-doc span lists are tiny
    (collect_list over an already doc-keyed frame), and the cut itself
    is one higher-order filter + array_join projection."""
    spans = duplicate_spans(docs, k, min_count, text_col, id_col,
                            hash_grams=hash_grams)
    by_doc = (spans.groupBy("doc_id")
              .agg(F.collect_list(
                  F.struct("span_start", "span_end")).alias("_spans")))
    toks = tokens_expr(text_col)
    covered = lambda t, i: F.exists(  # noqa: E731 — two-arg filter lambda
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]))
    return (docs
            .select(F.col(id_col).cast("long").alias("doc_id"),
                    toks.alias("_toks"))
            .join(by_doc, "doc_id", "left")
            .withColumn("_spans", F.coalesce(
                "_spans", F.array().cast(
                    "array<struct<span_start:long,span_end:long>>")))
            .select(
                "doc_id",
                F.array_join(
                    F.filter("_toks", lambda t, i: ~covered(t, i)),
                    " ").alias("clean_text"),
                F.size("_toks").cast("long").alias("n_tokens"),
                F.aggregate(
                    "_spans", F.lit(0).cast("long"),
                    lambda a, s: a + s["span_end"] - s["span_start"])
                .alias("removed_tokens")))


def embedding_dedup_clusters(emb: DataFrame, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             method: str = "lsh") -> DataFrame:
    """`dedup_clusters` for the embedding modality: connected components
    over the cosine near-dup candidate graph (sign-LSH banded by
    default), smallest-vec_id representative.
    → (vec_id, component, keep) for every vector."""
    cc = connected_components(
        embedding_near_dup_pairs(emb, threshold, id_col, vec_col, method),
        a_col="vec_a", b_col="vec_b")
    return (emb.select(F.col(id_col).cast("long").alias("vec_id"))
            .join(cc.withColumnRenamed("doc_id", "vec_id"),
                  "vec_id", "left")
            .withColumn("component",
                        F.coalesce("component", F.col("vec_id")))
            .withColumn("keep",
                        (F.col("vec_id") == F.col("component"))
                        .cast("int")))


def semantic_dedup(emb: DataFrame, n_cells: int = 16,
                   threshold: float = 0.9,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDedup (Abbas et al. 2023): cluster the embedding space, then
    deduplicate WITHIN each cluster by pairwise cosine — the all-pairs
    comparison that is intractable corpus-wide becomes |cell|² per
    cell, and cells shrink as n_cells grows with the corpus.
    → (vec_id, cell, kept) for every vector; a vector is dropped iff a
    SMALLER-id vector in ITS cell matches at ≥ threshold (deterministic
    min-id keeper — the paper keeps a per-cluster exemplar by
    centroid-distance; id order makes re-runs and the oracle exact).

    Plan shape: centroid assignment is `similarity._assign_cells` — the
    deterministic id-ordered seed centroids ride as LITERALS in a
    least-chain projection (no join); the only shuffle is the
    cell-keyed self-join, whose per-cell width is the SemDedup
    algorithm's own working set. Contrast with
    `embedding_near_dup_pairs_lsh` (sign-LSH bands): LSH recalls only
    near-exact duplicates; cells partition the WHOLE space, so distant
    semantic duplicates in the same region still meet."""
    from .similarity import cosine_expr, norm_expr, _assign_cells
    v = emb.select(F.col(id_col).cast("long").alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    first = v.orderBy("vec_id").limit(n_cells).collect()
    if not first:
        return emb.sparkSession.createDataFrame(
            [], "vec_id long, cell long, kept long")
    cents = [[float(x) for x in r["v"]] for r in first]
    asg = (_assign_cells(v, cents)
           .withColumn("nrm", norm_expr(F.col("v")))
           .select("vec_id", F.col("cell").cast("long").alias("cell"),
                   "v", "nrm"))
    a = asg.select(F.col("cell"), F.col("vec_id").alias("vec_a"),
                   F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = asg.select(F.col("cell"), F.col("vec_id").alias("vec_b"),
                   F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dropped = (a.join(b, "cell")
               .where(F.col("vec_a") < F.col("vec_b"))
               .withColumn("cos", cosine_expr(F.col("va"), F.col("vb"),
                                              F.col("na"), F.col("nb")))
               .where(F.floor(F.col("cos") * 1e6 + 0.5).cast("long")
                      >= int(threshold * 1e6))
               .select(F.col("vec_b").alias("vec_id")).distinct())
    return (asg.select("vec_id", "cell")
            .join(dropped.withColumn("_drop", F.lit(1)), "vec_id", "left")
            .select("vec_id", "cell",
                    F.when(F.col("_drop").isNull(), F.lit(1))
                    .otherwise(F.lit(0)).cast("long").alias("kept")))
