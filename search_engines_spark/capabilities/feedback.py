"""Pseudo-relevance-feedback (Indri RM) query expansion.

Transcribes `QryEval.java:78-200` (expandQuery) + the `:738-744` rewrite:

* top `fb_docs` docs of an initial ranking; every stem of every top doc
  is a candidate (stems containing '.' or ',' skipped, `:108-111`);
* candidate score = Σ_d P(t|d) · P(I|d) · ln(1/mle) over ALL top docs —
  including tf=0 docs (second pass, `:150-177`) — with Dirichlet
  P(t|d) = (tf + fbMu·mle)/(doclen + fbMu), mle = ctf/C (collection ctf,
  `vec.totalStemFreq`, NOT a derived-list stat);
* top `fb_terms` terms → `#wand ( w1 t1 w2 t2 ... )`, weights "%.4f"
  (`:186-196`);
* final query = `#wand (fbOrigWeight <orig> (1-fbOrigWeight) <expanded> )`
  (`:740-742`) — re-entering the engine as TEXT, the reference's
  important simplification (SURVEY.md §3.2).

Deviation (documented): the reference's PriorityQueue breaks score ties
arbitrarily (`:183-196`); we break by term ascending for determinism.

Spark shape: a query file's top-doc sets are tiny (fb_docs ≤ 100 per
query), so the candidate grid is, per query, |top docs| × |their
vocabulary| — built as a broadcast join of the forward index
(`docterms`) restricted to the top docs, a left join for tf=0 cells,
one groupBy(qid, term) sum. No full-corpus pass at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..indexer.build import Index
from ..literals import local_frame


def expansion_scores_many(index: Index,
                          tops: dict[str, list[tuple[int, float]]],
                          fb_mu: float, field: str = "body"):
    """RM expansion: → (qid, term, score) of candidate-term RM scores
    over each query's top docs (`QryEval.java:96-177`), for EVERY
    query's top-doc set in one plan — the reference's per-query loop
    (`QryEval.java:684` + expandQuery per qid) costs two jobs per query;
    this is one broadcast-joined postings pass + one (qid, term)
    aggregation for the whole query file, the same batching shape as
    search_many. Per qid: both tf>0 and tf=0 grid cells, collection-ctf
    mle, '.'/',' stems skipped."""
    spark = index.docs.sparkSession
    c_length = float(index.stats_for(field)["sum_len"])
    top_df = F.broadcast(local_frame(
        spark, [(qid, int(d), float(s)) for qid, top in tops.items()
                for d, s in top],
        "qid string, doc_id long, doc_score double"))
    doclens = (index.doclens.where(F.col("field") == field)
               .select("doc_id", "doclen"))
    # (doc, term, tf) of every doc that is in ANY query's top set — one
    # forward-index scan shared by the whole batch
    tv = (index.postings
          .where(F.col("field") == field)
          .join(top_df.select("doc_id").distinct(), "doc_id")
          .select("doc_id", "term", "tf")
          .where(~F.col("term").contains(".") & ~F.col("term").contains(",")))
    # candidates are per qid: stems of THAT query's top docs
    cand = (tv.join(top_df.select("qid", "doc_id"), "doc_id")
            .select("qid", "term").distinct())
    mle_df = (cand.join(
        index.term_stats.where(F.col("field") == field)
        .select("term", "ctf"), "term")
        .select("qid", "term",
                (F.col("ctf") / F.lit(c_length)).alias("mle")))
    # grid per qid: its candidate terms × its top docs, tf=0 where absent
    grid = (mle_df.join(top_df, "qid")
            .join(tv, ["term", "doc_id"], "left")
            .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
            .join(doclens, "doc_id"))
    ptd = (F.col("tf") + fb_mu * F.col("mle")) / (F.col("doclen") + F.lit(fb_mu))
    contrib = ptd * F.col("doc_score") * F.log(1.0 / F.col("mle"))
    return grid.groupBy("qid", "term").agg(F.sum(contrib).alias("score"))


def expand_queries(index: Index,
                   rankings: dict[str, list[tuple[int, float]]],
                   fb_docs: int, fb_terms: int, fb_mu: float,
                   field: str = "body") -> dict[str, str]:
    """rankings: {qid: [(doc_id, score)]}, each sorted as the initial
    retrieval returned it (`score_list` order, `QryEval.java:96-99`).
    → {qid: '#wand ( ... )'}: every query's expansion from ONE expansion
    plan + ONE collect (≤ |queries|·fb_terms rows); an empty ranking
    expands to '#wand ( )'."""
    from pyspark.sql import Window
    tops = {qid: ranking[:fb_docs] for qid, ranking in rankings.items()
            if ranking}
    out = {qid: "#wand ( )" for qid in rankings}   # empty-ranking case
    if not tops:
        return out
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("term"))
    rows = (expansion_scores_many(index, tops, fb_mu, field)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= fb_terms)
            .orderBy("qid", "_rk").collect())
    parts: dict[str, list[str]] = {}
    for r in rows:
        parts.setdefault(r["qid"], []).append(f"{r['score']:.4f} {r['term']}")
    for qid, ps in parts.items():
        out[qid] = "#wand ( " + " ".join(ps) + " )"
    return out


def rewrite_with_feedback(query: str, expanded: str,
                          fb_orig_weight: float) -> str:
    """`QryEval.java:740-742` — the combined query string."""
    return (f"#wand ({fb_orig_weight} {query} "
            f"{1 - fb_orig_weight} {expanded} )")
