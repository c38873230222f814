"""Result-serving features over the positional index: snippets,
spelling suggestions, facet counts.

The reference stops at the trec_eval sink (`QryEval.java:781-801`); a
deployed search frontend additionally needs, per result page: a query-
biased snippet with hit highlighting (the classic KWIC window — made
possible here by the positional postings the north rule mandates), a
"did you mean" suggestion for zero/low-hit terms, and facet counts over
document metadata. All three are beyond-reference, required for a
usable engine, and implemented as pure DataFrame plans:

* `snippets` — ZERO shuffle beyond one broadcast join of the (tiny,
  k-row) result list onto docs: tokenization and best-window selection
  are nested higher-order column expressions (`transform`/`filter`/
  `aggregate`) inside one WholeStageCodegen projection. No UDF.
* `suggest_terms` — candidate generation is a BANDED equi-join against
  the term dictionary (same first character + length within ±1), never
  an all-pairs `levenshtein` scan: at a 10^8-term dictionary the band
  key prunes candidates by ~3 orders of magnitude before the edit-
  distance filter runs. Probes are query-sized → broadcast.
* `facet_counts` — conjunctive match via the same having-count postings
  plan the boolean engine uses, then one map-side-combined groupBy on
  the facet key. The only shuffles are the (doc-keyed, skew-free) match
  aggregation and the facet-sized final rollup.

Snippet determinism contract (shared with the DuckDB oracle in
entry_queries): tokens = the canonical analyzer split (1-based
positions over ALL tokens, `analysis.SPARK_TOKENS_EXPR`); candidate
windows anchor at each query-term hit position p and span
[p, p + window); the best window maximizes DISTINCT query terms
covered, tie-broken by the SMALLEST anchor position; the snippet is the
token slice joined by single spaces, with hit tokens wrapped in
``[`` ``]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..analysis import SPARK_TOKENS_EXPR
from ..literals import local_frame


def snippets(results: DataFrame, docs: DataFrame, terms: list[str],
             window: int = 8, text_col: str = "text") -> DataFrame:
    """Query-biased snippets for a result list.

    results: any frame with a doc_id column (e.g. Engine.search output —
    k rows, broadcast side). docs: the corpus frame (doc_id, text_col).
    → results + (snippet string, n_hit_terms int), EVERY results row
    present: rows with no hit (possible when results came from another
    field) get n_hit_terms=0 and a document-prefix snippet; rows whose
    doc_id is missing from `docs`, or whose text is NULL, get
    n_hit_terms=0 and an empty snippet.

    Terms are bound as an array-of-literals column (`_tset`), never
    interpolated into SQL text — arbitrary analyzed terms (the parity
    analyzer keeps apostrophes inside tokens) cannot crash or alter the
    plan. Match side caveat: the document is tokenized with the
    canonical SQL chain (`SPARK_TOKENS_EXPR`, splits on [^a-z0-9]+), so
    a term containing an apostrophe can never equal a token and scores
    n_hit_terms=0; highlighting such terms would need a parity-analyzed
    (UDF) tokenization of the text, trading away the zero-UDF codegen
    projection this op is."""
    if not terms:
        raise ValueError("snippets needs at least one query term")
    ts = sorted(set(terms))
    toks = SPARK_TOKENS_EXPR.format(col=text_col)
    w = int(window)
    d = (docs.select("doc_id", text_col)
         .join(F.broadcast(results), "doc_id")
         .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
         .withColumn("_tset", F.array(*[F.lit(t) for t in ts]))
         .withColumn("_toks", F.expr(toks))
         # hit positions: 1-based over ALL tokens (the index convention)
         .withColumn("_hits", F.expr(
             "filter(transform(_toks, (t, i) -> struct(i + 1 as pos, "
             "t as term)), h -> array_contains(_tset, h.term))"))
         # score every anchor ONCE: distinct terms in [pos, pos+window)
         .withColumn("_scored", F.expr(
             f"transform(_hits, a -> struct("
             f"size(array_distinct(transform(filter(_hits, h -> "
             f"h.pos >= a.pos and h.pos < a.pos + {w}), "
             f"h -> h.term))) as score, a.pos as start))")))
    # best anchor: max score; strict > over ascending anchors → earliest
    # anchor wins ties
    d = d.withColumn("_best", F.expr(
        "aggregate(_scored, struct(0 as score, 1 as start), "
        "(acc, s) -> if(s.score > acc.score, s, acc))"))
    snippet = F.expr(
        f"array_join(transform(slice(_toks, _best.start, {w}), "
        f"t -> if(array_contains(_tset, t), concat('[', t, ']'), t)), ' ')")
    out = (d.withColumn("snippet", snippet)
           .withColumn("n_hit_terms", F.col("_best.score"))
           .drop("_toks", "_hits", "_scored", "_best", "_tset", text_col)
           # k rows; referenced twice below (union branch + the
           # anti-join's broadcast side) — persist so the snippet scan
           # runs once, not once per reference
           .persist())
    # results rows whose doc_id the corpus frame doesn't carry: keep the
    # row (the k-row contract) with an empty snippet — both sides of the
    # anti-join are result-sized, so this costs nothing at scale
    missing = (results.join(F.broadcast(out.select("doc_id")),
                            "doc_id", "left_anti")
               .withColumn("snippet", F.lit(""))
               .withColumn("n_hit_terms", F.lit(0)))
    return out.unionByName(missing)


def suggest_terms(term_stats: DataFrame, probes: list[str],
                  max_dist: int = 1, n: int = 3,
                  field: str = "body") -> DataFrame:
    """"Did you mean": for each probe, the top-n dictionary terms within
    `max_dist` edits AMONG candidates sharing the probe's first
    character and length ±max_dist, ranked df desc then term asc. The
    band is what keeps the dictionary side an equi-join (never an
    all-pairs levenshtein scan at a 10^8-term dictionary), and it is
    part of the contract: a typo in the FIRST character is never
    suggested — the standard first-letter-is-reliable heuristic.
    → (probe, suggestion, df, rank)."""
    spark = term_stats.sparkSession
    p = (local_frame(spark, [(t,) for t in sorted(set(probes))],
                     "probe string")
         .withColumn("_c1", F.substring("probe", 1, 1))
         .withColumn("_len", F.length("probe")))
    cand = (term_stats.where(F.col("field") == field)
            .select("term", "df")
            .withColumn("_c1", F.substring("term", 1, 1))
            .withColumn("_len", F.length("term")))
    joined = (cand.join(F.broadcast(p), "_c1")
              .where(F.abs(cand["_len"] - p["_len"]) <= max_dist)
              .where(F.levenshtein("term", "probe") <= max_dist)
              .where(F.col("term") != F.col("probe")))
    from pyspark.sql import Window
    w = Window.partitionBy("probe").orderBy(F.desc("df"), F.asc("term"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
            .select("probe", F.col("term").alias("suggestion"), "df",
                    "rank"))


def facet_counts(postings: DataFrame, docs: DataFrame, terms: list[str],
                 facet_cols: list[str], field: str = "body") -> DataFrame:
    """Facet rollup over the conjunctive (#AND) match set of `terms`:
    → (*facet_cols, n_docs), one row per populated facet combination.
    Match = the boolean having-count plan (docs containing ALL terms);
    facets come from one groupBy with map-side partial aggregation."""
    if not terms:
        raise ValueError(
            "facet_counts needs at least one query term (an empty "
            "conjunction would silently facet nothing; roll up docs "
            "directly for corpus-wide counts)")
    ts = sorted(set(terms))
    match = (postings
             .where((F.col("field") == field) & F.col("term").isin(ts))
             .groupBy("doc_id")
             .agg(F.countDistinct("term").alias("_nt"))
             .where(F.col("_nt") == len(ts))
             .select("doc_id"))
    return (docs.join(match, "doc_id")
            .groupBy(*facet_cols)
            .agg(F.count("*").alias("n_docs")))


def autocomplete(term_stats: DataFrame, min_len: int = 2,
                 max_len: int = 6, k: int = 5,
                 field: str = "body") -> DataFrame:
    """Type-ahead completion table: for every term prefix of length
    `min_len`..`max_len`, the top-k dictionary terms extending it,
    ranked ctf desc, df desc, term asc → (prefix, term, ctf, rank).

    This is the INGEST-TIME artifact a serving tier materializes
    (partitioned by prefix, point-lookup at query time) — the shape
    every suggest-as-you-type backend precomputes. Plan: one explode
    of ≤ (max_len−min_len+1) prefixes per dictionary term (dictionary-
    sized, not corpus-sized input) → one prefix-keyed row_number
    window → top-k filter. Output is bounded by k × |distinct
    prefixes| regardless of corpus size; the one shuffle carries
    (prefix, term, ctf) rows for the dictionary only. Prefix skew
    ('th…') is real but bounded by the dictionary, and the window
    sorts only within one prefix's candidates."""
    from pyspark.sql import Window
    # Spark sequence(a, b) with b < a counts DOWN (the bpe_train
    # gotcha): guard short terms to an empty prefix list instead
    lens = F.when(
        F.length("term") >= min_len,
        F.sequence(F.lit(min_len),
                   F.least(F.lit(max_len), F.length("term")))) \
        .otherwise(F.array().cast("array<int>"))
    pref = (term_stats.where(F.col("field") == field)
            .select("term", "df", "ctf")
            .withColumn("prefix", F.explode(
                F.transform(lens,
                            lambda n: F.col("term").substr(F.lit(1), n)))))
    w = Window.partitionBy("prefix").orderBy(
        F.desc("ctf"), F.desc("df"), F.asc("term"))
    return (pref.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("prefix", "term", "ctf", "rank"))


def hybrid_rrf(lex: DataFrame, vec: DataFrame, k: int = 20, c: int = 60,
               lex_score: str = "score_r", vec_score: str = "cos_r",
               lex_id: str = "doc_id", vec_id: str = "vec_id") -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009)
    of a lexical candidate list and a vector candidate list over the
    same document ids → (doc_id, rrf_r, rank).

    rrf(d) = Σ_side 1/(c + rank_side(d)), absent side contributes 0;
    ranks come from each side's QUANTIZED score (desc) with id-asc
    ties, so rank derivation is engine-independent and exactly
    replayable in SQL. rrf_r = floor(rrf · 10⁹ + 0.5). Both inputs are
    candidate lists (top-N), so the rank windows sort N rows, not the
    corpus — the fusion itself is id-keyed join + arithmetic."""
    from pyspark.sql import Window
    wl = Window.orderBy(F.desc(lex_score), F.asc("doc_id"))
    wv = Window.orderBy(F.desc(vec_score), F.asc("doc_id"))
    lr = (lex.select(F.col(lex_id).cast("long").alias("doc_id"),
                     F.col(lex_score))
          .withColumn("lex_rank", F.row_number().over(wl))
          .select("doc_id", "lex_rank"))
    vr = (vec.select(F.col(vec_id).cast("long").alias("doc_id"),
                     F.col(vec_score))
          .withColumn("vec_rank", F.row_number().over(wv))
          .select("doc_id", "vec_rank"))
    fused = (lr.join(vr, "doc_id", "full_outer")
             .withColumn(
                 "rrf",
                 F.coalesce(F.lit(1.0)
                            / (F.lit(float(c)) + F.col("lex_rank")),
                            F.lit(0.0))
                 + F.coalesce(F.lit(1.0)
                              / (F.lit(float(c)) + F.col("vec_rank")),
                              F.lit(0.0)))
             .withColumn("rrf_r",
                         F.floor(F.col("rrf") * 1e9 + F.lit(0.5))
                         .cast("long")))
    wf = Window.orderBy(F.desc("rrf_r"), F.asc("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(wf))
            .where(F.col("rank") <= k)
            .select("doc_id", "rrf_r", F.col("rank").cast("long")
                    .alias("rank")))
