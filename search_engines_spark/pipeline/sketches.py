"""Count-min sketch over the corpus token stream (Cormode & Muthukrishnan
2005): fixed-size frequency summaries + heavy-hitter estimation.

Why a sketch in a 100 TB pipeline: exact vocabulary counts are a
vocab-sized shuffle; a count-min sketch is a FIXED ``depth × width``
table (a few KB) that any number of shards can build independently and
merge by cell-wise addition — the shape for per-shard corpus-statistics
sidecars, streaming token-rate monitors, and pre-filters that keep only
plausibly-frequent candidates before an exact pass.

Determinism / portability: the d row hashes are md5 with a per-row salt
(``cms<i>|token``), truncated to 32 bits via `dedup.token_hash32`'s
hex-prefix trick — expressible identically in DuckDB
(``('0x'||substr(md5(...),1,8))::BIGINT``), which is what makes the
sketch oracle-checkable cell by cell.

Plan shape: the build is one explode + one map-side-combined groupBy on
(row, bucket) — at most ``depth·width`` result rows regardless of corpus
size, and the partial aggregation absorbs hot tokens map-side. The
estimate join broadcasts the sketch (it is KB-sized by construction).
Standard CMS guarantees apply: estimates never undercount, and
overcount ≤ 2·N/width with probability 1 − 2^−depth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import token_hash32, tokens_expr

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_bucket(token: Column, row: Column | int,
               width: int = CMS_WIDTH) -> Column:
    """Row `row`'s bucket for a token: salted 32-bit md5 prefix mod
    width. The salt goes IN FRONT so rows are independent hashes of the
    same token, not shifts of one hash."""
    salt = F.concat(F.lit("cms"), F.lit(row).cast("string"), F.lit("|"),
                    token)
    return F.pmod(token_hash32(salt), F.lit(width)).cast("long")


def cms_build(docs: DataFrame, text_col: str = "text",
              depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """→ (row, bucket, cnt): the sketch cells with non-zero counts.
    One corpus scan; the groupBy key space is depth·width cells, so the
    shuffle writes KBs no matter the corpus size. Sketches from
    different shards/streams merge by summing cnt on (row, bucket)."""
    tok = (docs.select(F.explode(tokens_expr(text_col)).alias("t"))
           .select("t", F.explode(F.sequence(
               F.lit(0), F.lit(depth - 1))).alias("row")))
    return (tok
            .select("row", cms_bucket(F.col("t"), F.col("row"),
                                      width).alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count("*").cast("long").alias("cnt")))


def cms_estimate(sketch: DataFrame, tokens: DataFrame,
                 token_col: str = "token",
                 depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """Point-query the sketch for each row of `tokens` → input columns
    + `est` (the min over the depth cells; 0 if a cell is absent —
    an absent cell means no token ever hashed there). The sketch side
    is broadcast: it is ≤ depth·width rows by construction."""
    probes = tokens.select(
        token_col,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"))
    probes = probes.withColumn(
        "bucket", cms_bucket(F.col(token_col), F.col("row"), width))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    est = (joined.groupBy(token_col)
           .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                .cast("long").alias("est")))
    return tokens.join(est, token_col, "left") \
        .withColumn("est", F.coalesce(F.col("est"), F.lit(0)))


def cms_heavy_hitters(docs: DataFrame, k: int = 20,
                      text_col: str = "text",
                      depth: int = CMS_DEPTH,
                      width: int = CMS_WIDTH) -> DataFrame:
    """Top-k candidate heavy hitters by sketch estimate → (token, est,
    exact), ordered (est DESC, token ASC), exact alongside so the
    CMS overestimate property (`est >= exact`, tight for hitters well
    above N/width) is visible and testable. The exact side is the
    vocab-sized groupBy a production pass would SKIP for candidates the
    sketch already rules out — here it doubles as the oracle check."""
    exact = (docs.select(F.explode(tokens_expr(text_col)).alias("token"))
             .groupBy("token")
             .agg(F.count("*").cast("long").alias("exact")))
    sketch = cms_build(docs, text_col, depth, width)
    est = cms_estimate(sketch, exact, "token", depth, width)
    return (est.orderBy(F.desc("est"), F.asc("token")).limit(k)
            .select("token", F.col("est").cast("long").alias("est"),
                    "exact"))

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet, Fusy, Gandouet & Meunier 2007): fixed-size
# distinct-count sketch. Complements the count-min above: CMS answers
# "how often", HLL answers "how many distinct" — the two corpus-stats
# sidecars a 100 TB shard ships instead of its vocabulary. 2^p
# registers regardless of corpus size; shard sketches merge by
# per-register MAX (set union, exactly). Same portability discipline as
# CMS: md5 hex-prefix hashing and a STRING-domain leading-zeros rho
# (no log2/float), so every register is oracle-checkable in DuckDB.
# ---------------------------------------------------------------------------

HLL_P = 8          # 2^p = 256 registers; the bias constant needs m >= 128


def hll_rho(element: Column) -> Column:
    """rho = (leading zero bits of the element's 32-bit hash) + 1,
    computed entirely in the string domain: the hash is the first 8 hex
    chars of a salted md5; strip leading '0' digits (4 bits each), then
    the first surviving hex digit pins the leading 1-bit's position
    within its 4 bits. An all-zero prefix (probability 2^-32 per
    element) maps to rho = 33. Bit-identical in DuckDB:
    ``regexp_replace(substr(md5('hll|'||x),1,8), '^0+', '')`` + the
    same CASE ladder."""
    hx = F.substring(F.md5(F.concat(F.lit("hll|"), element)), 1, 8)
    s = F.regexp_replace(hx, "^0+", "")
    c1 = F.substring(s, 1, 1)
    return (F.when(s == "", F.lit(33)).otherwise(
        4 * (8 - F.length(s))
        + F.when(c1.isin(*list("89abcdef")), 0)
           .when(c1.isin(*list("4567")), 1)
           .when(c1.isin("2", "3"), 2)
           .otherwise(3)
        + 1)).cast("long")


def hll_bucket(element: Column, p: int = HLL_P) -> Column:
    """Register index: an INDEPENDENT salted 32-bit hash mod 2^p (the
    stochastic-averaging split; independent hashes instead of classic
    bit-splitting keeps both sides one md5 substring)."""
    salt = F.concat(F.lit("hllb|"), element)
    return F.pmod(token_hash32(salt), F.lit(1 << p)).cast("long")


def hll_build(df: DataFrame, element_col: str = "t",
              p: int = HLL_P) -> DataFrame:
    """→ (bucket, r): the non-empty HLL registers of the element
    column's value stream. ONE scan; the groupBy key space is 2^p
    buckets, so map-side partial max absorbs the whole stream and the
    exchange writes at most 2^p rows per map task. Duplicates need no
    pre-distinct — (bucket, rho) is a pure function of the value, so
    re-observations can never raise a register's max. Shard/stream
    sketches merge with `hll_merge` (per-register max = exact union)."""
    el = F.col(element_col).cast("string")
    return (df.select(hll_bucket(el, p).alias("bucket"),
                      hll_rho(el).alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("r")))


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union of the underlying sets = per-register max. Registers stay
    ≤ 2^p rows, so merging S shards moves S·2^p rows — KBs."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("r").alias("r"))


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """→ one row (nonempty_buckets, est_micro): the HLL cardinality
    estimate from a register table, quantized to floor(est·1e6 + 0.5)
    so the driver's integer compare is exact. The indicator sum
    Σ 2^-r is a sum of dyadic rationals spanning < 53 bits of
    exponent, hence EXACT in IEEE double in any order; the remaining
    arithmetic (bias constant, linear-counting ln) is bit-identical
    across Spark/DuckDB on this box (verified: jvm Math.log == libm).
    Small-range correction per the paper: raw ≤ 2.5·m with empty
    registers → linear counting m·ln(m/V)."""
    m = float(1 << p)
    agg = registers.agg(
        F.count("*").cast("double").alias("nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s_nonempty"))
    v = F.lit(m) - F.col("nz")                      # empty registers
    s = F.col("s_nonempty") + v                     # empty ⇒ 2^-0 = 1
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m))
    raw = alpha * F.lit(m) * F.lit(m) / s
    est = F.when((v > 0) & (raw <= F.lit(2.5 * m)),
                 F.lit(m) * F.log(F.lit(m) / v)).otherwise(raw)
    return agg.select(
        F.col("nz").cast("long").alias("nonempty_buckets"),
        F.floor(est * F.lit(1e6) + F.lit(0.5)).cast("long")
        .alias("est_micro"))


def hll_token_cardinality(docs: DataFrame, text_col: str = "text",
                          p: int = HLL_P) -> DataFrame:
    """Distinct-token count, sketched vs exact → one row
    (exact_distinct, nonempty_buckets, est_micro). The exact side is
    the vocab-sized distinct a production pass would skip — here it
    rides along so the estimate's error is visible and testable (HLL
    standard error ≈ 1.04/√m ≈ 6.5% at p=8)."""
    toks = docs.select(F.explode(tokens_expr(text_col)).alias("t"))
    est = hll_estimate(hll_build(toks, "t", p), p)
    exact = toks.agg(F.countDistinct("t").cast("long")
                     .alias("exact_distinct"))
    return exact.crossJoin(est)


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970): fixed-size set-membership sketch. The
# third corpus-stats sidecar: CMS answers "how often", HLL "how many
# distinct", Bloom "is this one of THOSE" — the shape for shipping a
# protected benchmark's n-gram set to every scan task as a few KB of
# bits instead of shuffling corpus grams against it. One-sided error:
# never a false negative (a contaminated gram always hits), false
# positives at the classic (1 - e^{-kn/m})^k rate. Same portability
# discipline: salted md5 bit positions, so the bit set — and therefore
# every downstream count — is oracle-exact in DuckDB.
# ---------------------------------------------------------------------------

BLOOM_M = 4096     # bits (512 bytes) — driver-entry default
BLOOM_K = 3        # hash functions


def bloom_bit(element: Column, i: int, m: int = BLOOM_M) -> Column:
    """Hash i's bit position: salted 32-bit md5 prefix mod m (salt in
    front, same convention as `cms_bucket`)."""
    salt = F.concat(F.lit(f"bloom{i}|"), element)
    return F.pmod(token_hash32(salt), F.lit(m)).cast("long")


def bloom_build(df: DataFrame, element_col: str,
                m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """→ (bit,): the set bit positions. ≤ m rows regardless of input
    size — the groupBy key space is the bit array, so map-side
    aggregation absorbs the element stream. Shard blooms merge by
    union + distinct (bitwise OR, exactly)."""
    el = F.col(element_col).cast("string")
    bits = None
    for i in range(k):
        b = df.select(bloom_bit(el, i, m).alias("bit"))
        bits = b if bits is None else bits.unionByName(b)
    return bits.distinct()


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """Bitwise OR: union + distinct, still ≤ m rows."""
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    return out.distinct()


def _bloom_words(bloom_bits: list[int], m: int = BLOOM_M) -> list[int]:
    """Pack set bit positions into m/64 machine words for the literal
    scan path."""
    words = [0] * ((m + 63) // 64)
    for b in bloom_bits:
        words[b >> 6] |= 1 << (b & 63)
    # Spark longs are signed; keep the Python ints in signed range
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(element: Column, words: list[int],
                        m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """Membership test as a PURE PROJECTION: the collected bloom enters
    the plan as a literal word array (512 bytes at the default m) and
    each probe costs k constant-time bit tests — no join, no shuffle,
    the `score_with_model` collected-state pattern. At 100 TB this is
    the decontamination pre-filter shape: the protected set rides in
    the task binary, and only the (rare) bloom-positive docs go on to
    an exact verification join."""
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    checks = []
    for i in range(k):
        bit = bloom_bit(element, i, m)
        word = F.element_at(arr, (bit / 64).cast("int") + 1)
        # F.shiftright only takes a literal shift; call the SQL
        # function directly for a column shift amount
        checks.append(
            F.call_function("shiftright", word,
                            (bit % 64).cast("int")).bitwiseAND(1) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def ngrams(docs: DataFrame, k: int = 5, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, gram) exploded word-k-gram strings, DISTINCT per doc.
    Docs with < k tokens produce no rows. Per-doc distinctness is
    `array_distinct` BEFORE the explode — doc-local, zero shuffle (a
    dataframe-level distinct() here would exchange every corpus gram).
    Assumes doc_id identifies the row."""
    g = (f"case when size(_toks) >= {k} then "
         f"array_distinct(transform(sequence(1, size(_toks)-{k - 1}), "
         f"i -> concat_ws(' ', slice(_toks, i, {k})))) "
         f"else array() end")
    return (docs
            .select(F.col(id_col).cast("long").alias("doc_id"),
                    tokens_expr(text_col).alias("_toks"))
            .select("doc_id", F.explode(F.expr(g)).alias("gram")))


def bloom_decontam_scan(docs: DataFrame, bench: DataFrame,
                        kgram: int = 5, m: int = BLOOM_M,
                        k: int = BLOOM_K, min_hits: int = 1,
                        text_col: str = "text") -> DataFrame:
    """Decontamination pre-filter → (doc_id, n_grams, n_hits_bloom,
    flagged): per corpus doc, the count of distinct k-grams whose bloom
    test fires against the benchmark's gram set, and the conservative
    verdict `n_hits_bloom >= min_hits`. One-sided by construction:
    n_hits_bloom ≥ the exact count of k-grams shared with the bench, doc
    by doc (never a missed contamination; a false positive only sends a
    clean doc to the exact verifier). The bench bloom is a driver-side
    collect of ≤ m bit rows; the corpus side is ONE scan + one
    doc_id-keyed count — the gram-vs-gram join is gone."""
    bench_bits = sorted(
        r["bit"] for r in
        bloom_build(ngrams(bench, kgram, text_col).select("gram"),
                    "gram", m, k).collect())
    words = _bloom_words(bench_bits, m)
    grams = ngrams(docs, kgram, text_col)
    hits = (grams
            .withColumn("_hit", bloom_might_contain(
                F.col("gram"), words, m, k))
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum(F.col("_hit").cast("long")).cast("long")
                 .alias("n_hits_bloom")))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return (base.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("n_hits_bloom", F.lit(0))
                    .alias("n_hits_bloom"))
            .withColumn("flagged",
                        (F.col("n_hits_bloom") >= min_hits)
                        .cast("long")))


# ---------------------------------------------------------------------------
# Log2 histogram + quantiles (the fourth corpus-stats sidecar): "what
# does the distribution look like" for any non-negative integer
# measure (doc lengths, token counts, file sizes). Fixed ≤ 64 buckets
# (bucket = bit length of the value — `length(bin(v))`, identical in
# Spark and DuckDB, no float log2), mergeable by cell addition, and
# quantile queries answered from cumulative counts with integer-exact
# bucket bounds. The classic sub-percent-accurate quantile sketches
# (t-digest, GK) trade determinism for tighter buckets; curation
# thresholds ("drop the shortest ~5%") only need the power-of-two
# resolution, and THIS one is oracle-exact.
# ---------------------------------------------------------------------------


def log2_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """→ (bucket, cnt) over a non-negative integer column: bucket =
    bit length of the value (0,1 → bucket 1; 2,3 → 2; 4..7 → 3; …).
    One scan, one ≤64-key groupBy — map-side combine absorbs the
    corpus, the exchange writes at most 64 rows per task; shard
    histograms merge by cell addition."""
    b = F.length(F.bin(F.col(value_col).cast("long"))).cast("long")
    return (df.where(F.col(value_col) >= 0)
            .groupBy(b.alias("bucket"))
            .agg(F.count("*").cast("long").alias("cnt")))


def histogram_merge(*hists: DataFrame) -> DataFrame:
    """Cell addition, ≤ 64 rows out."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    return out.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cnt"))


def histogram_quantiles(hist: DataFrame,
                        q_permille: tuple[int, ...] = (50, 250, 500,
                                                       750, 950),
                        ) -> DataFrame:
    """→ (q_permille, bucket, lo, hi): for each requested quantile, the
    first bucket whose cumulative count reaches ceil(q/1000 · total) —
    the true q-quantile value provably lies in [lo, hi] (lo = 2^(b-1),
    hi = 2^b - 1; bucket 1 spans [0, 1]). All-integer arithmetic
    (ceil via (q·total + 999) div 1000), so the answer is exact and
    engine-independent. The cumulative window runs over ≤ 64 rows —
    metadata-sized by construction."""
    from pyspark.sql import Window
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)))
    total = hist.agg(F.sum("cnt").alias("_total"))
    qs = hist.sparkSession.createDataFrame(
        [(int(q),) for q in q_permille], "q_permille long")
    rank = (F.col("q_permille") * F.col("_total") + 999) / 1000
    hit = (qs.crossJoin(F.broadcast(total))
           .join(cum, F.floor(rank).cast("long") <= F.col("cum"))
           .groupBy("q_permille")
           .agg(F.min("bucket").alias("bucket")))
    # F.shiftleft only takes a literal shift; call the SQL function
    # for a column shift amount
    lo = F.when(F.col("bucket") == 1, F.lit(0)) \
        .otherwise(F.call_function(
            "shiftleft", F.lit(1).cast("long"),
            (F.col("bucket") - 1).cast("int"))).cast("long")
    hi = (F.call_function("shiftleft", F.lit(1).cast("long"),
                          F.col("bucket").cast("int")) - 1).cast("long")
    return (hit.select("q_permille", "bucket",
                       lo.alias("lo"), hi.alias("hi"))
            .orderBy("q_permille"))
