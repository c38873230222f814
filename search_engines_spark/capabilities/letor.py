"""Learning-to-rank feature extraction (SVMrank front-end).

Transcribes the feature machinery of `FeatureVector.java:152-326` with
the per-field scorers of `QrySopScore.java:190-338`:

* per (query, candidate doc) and per field: BM25 score (Σ over matching
  query terms of the `:90-120` formula), Indri score (Π over ALL query
  terms of the `:140-161` formula with tf=0 defaults, but 0 when no
  query term matches the doc-field — `QrySopScore.java:254-338`
  behavior), and term-overlap (fraction of query terms present);
* optional per-doc auxiliary features joined from side tables (the
  reference's spam score / PageRank / URL depth / wiki flag,
  `FeatureVector.java:207-240` — generic here because the code corpus
  has no URLs);
* per-query min-max normalization to [0,1] (`FeatureVector.java:
  300-311`): (v − min)/(max − min), 0 when max == min — expressed as
  window aggregates over qid (SURVEY.md §2.5);
* SVMrank text emission `rel qid:Q 1:v ... # ext_id`
  (`FeatureVector.java:300-314`).

Training/classifying with the external svm_rank binaries is out of
scope (SURVEY.md §7.4) — this module produces the exact feature files
those binaries consume.

Spark shape: candidates × query-terms is a broadcast join (both tiny
relative to the corpus); postings are probed with an equi-join on
(term, doc_id) — no corpus scan. One shuffle for the per-(qid, doc)
aggregation, one window for normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..analysis import Analyzer, CANONICAL
from ..indexer.build import Index
from ..literals import local_frame
from ..oracle import Models


def _field_scores(index: Index, qterms: DataFrame, cand: DataFrame,
                  field: str, m: Models) -> DataFrame:
    """→ (qid, doc_id, bm25_<f>, indri_<f>, overlap_<f>)."""
    st = index.stats_for(field)
    n, avglen = float(st["n_docs"]), st["sum_len"] / st["doc_count"]
    c = float(st["sum_len"])
    post = (index.postings.where(F.col("field") == field)
            .select("term", "doc_id", "tf"))
    stats = (index.term_stats.where(F.col("field") == field)
             .select("term", "df", "ctf"))
    dl = (index.doclens.where(F.col("field") == field)
          .select("doc_id", "doclen"))
    g = (cand.select("qid", "doc_id")
         .join(qterms, "qid")                       # qid, doc_id, term, k
         .join(F.broadcast(stats), "term", "left")
         .join(post, ["term", "doc_id"], "left")
         .join(dl, "doc_id", "left")
         .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
         .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
         .withColumn("ctf", F.coalesce(F.col("ctf"), F.lit(0))))
    idf = F.greatest(F.lit(0.0),
                     F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)))
    tfw = F.col("tf") / (F.col("tf") + m.k1 * (1 - m.b + m.b * F.col("doclen")
                                               / F.lit(avglen)))
    bm25_term = F.when(F.col("tf") > 0, idf * tfw * 1.0).otherwise(F.lit(0.0))
    pmle = F.col("ctf") / F.lit(c)
    indri_term = ((1 - m.lam) * (F.col("tf") + m.mu * pmle)
                  / (F.col("doclen") + F.lit(m.mu)) + m.lam * pmle)
    # guard ln() for terms absent from the whole field (ctf=0 → pmle=0,
    # tf=0 → value 0): treat as epsilon-free by excluding them from the
    # product and the match count (the reference never scores a term
    # with ctf=0 because it came from a term vector)
    safe_indri = F.when(F.col("ctf") > 0, indri_term).otherwise(F.lit(None))
    agg = (g.groupBy("qid", "doc_id")
           .agg(F.sum(bm25_term).alias(f"bm25_{field}"),
                F.sum(F.when(F.col("tf") > 0, 1).otherwise(0)).alias("_m"),
                F.count("*").alias("_k"),
                F.exp(F.sum(F.log(safe_indri)) / F.count("*"))
                .alias("_indri_geo")))
    indri = F.when(F.col("_m") > 0, F.col("_indri_geo")).otherwise(F.lit(0.0))
    return agg.select(
        "qid", "doc_id", f"bm25_{field}",
        indri.alias(f"indri_{field}"),
        (F.col("_m") / F.col("_k")).alias(f"overlap_{field}"))


def letor_features(index: Index, queries: dict[str, str],
                   candidates: DataFrame,
                   fields: tuple[str, ...] = ("body",),
                   params: Models | None = None,
                   doc_features: DataFrame | None = None,
                   analyzer: Analyzer = CANONICAL) -> tuple[DataFrame, list[str]]:
    """candidates: (qid string, doc_id long, rel int).
    doc_features: optional (doc_id, <extra numeric cols>) — the
    spam/PageRank analog. → (wide normalized frame, feature names)."""
    m = params or Models()
    spark = index.docs.sparkSession
    rows = [(qid, t) for qid, q in queries.items()
            for t in analyzer.query_terms(q)]
    qterms = F.broadcast(local_frame(spark, rows, "qid string, term string"))
    out = candidates.select("qid", "doc_id", "rel")
    feat_names: list[str] = []
    for fld in fields:
        fs = _field_scores(index, qterms, candidates, fld, m)
        out = out.join(fs, ["qid", "doc_id"], "left")
        feat_names += [f"bm25_{fld}", f"indri_{fld}", f"overlap_{fld}"]
    if doc_features is not None:
        extra = [c for c in doc_features.columns if c != "doc_id"]
        out = out.join(doc_features, "doc_id", "left")
        feat_names += extra
    for name in feat_names:
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(0.0)))
    # per-query min-max normalization (`FeatureVector.java:300-311`)
    w = Window.partitionBy("qid")
    for name in feat_names:
        mn, mx = F.min(name).over(w), F.max(name).over(w)
        out = out.withColumn(
            name, F.when(mx > mn, (F.col(name) - mn) / (mx - mn))
                   .otherwise(F.lit(0.0)))
    return out, feat_names


def letor_features_18(index: Index, queries: dict[str, str],
                      candidates: DataFrame,
                      fields: tuple[str, str, str, str] = ("body", "title",
                                                           "url", "inlink"),
                      params: Models | None = None,
                      spam: DataFrame | None = None,
                      pagerank: DataFrame | None = None,
                      urls: DataFrame | None = None,
                      wiki_pattern: str = "wikipedia.org",
                      feature_disable: frozenset[int] = frozenset(),
                      analyzer: Analyzer = CANONICAL,
                      ) -> tuple[DataFrame, dict[int, str]]:
    """The reference's EXACT 18-slot feature layout
    (`FeatureVector.java:190-290`):

      f1  spam score (doc attribute; `:197-209`)
      f2  URL depth = count of '/' chars in the raw url (`:211-230`)
      f3  wiki flag = url contains "wikipedia.org" (`:233-240`)
      f4  PageRank (side file; `:242-249`)
      f5+3i/f6+3i/f7+3i  BM25 / Indri / term-overlap per field i over
          body,title,url,inlink (`:251-274`)
      f17, f18  the reference's shipped "custom" features are BOTH
          literal copies of overlap-over-body (`:277-289`) — carried
          verbatim, duplicates included
      letor:featureDisable slots are absent from the output entirely
      (the reference never computes them, `:205,218,235,...`; emission
      keeps the ORIGINAL ids of the surviving slots)

    fields: this corpus's analogs of body/title/url/inlink in slot
    order. spam/pagerank: (doc_id, value) side frames — a missing doc
    gets Double.MIN_VALUE ≈ 0 in the reference, which min-max
    normalization treats the same as our 0.0 fill. urls: (doc_id, url)
    for f2/f3; for a code corpus the natural url analog is `path`
    (depth = directory depth).

    → (per-(qid, doc_id) frame with columns f1..f18 minus disabled,
       min-max normalized per query, {slot: column name})."""
    m = params or Models()
    spark = index.docs.sparkSession
    rows = [(qid, t) for qid, q in queries.items()
            for t in analyzer.query_terms(q)]
    qterms = F.broadcast(local_frame(spark, rows, "qid string, term string"))
    out = candidates.select("qid", "doc_id", "rel")
    slots: dict[int, str] = {}

    def _doc_join(df: DataFrame, col: str, name: str, slot: int):
        nonlocal out
        if slot in feature_disable or df is None:
            return
        out = out.join(df.select("doc_id", F.col(col).alias(name)),
                       "doc_id", "left")
        slots[slot] = name

    _doc_join(spam, spam.columns[1] if spam is not None else "", "f1", 1)
    if urls is not None:
        ucol = [c for c in urls.columns if c != "doc_id"][0]
        depth = (F.length(ucol)
                 - F.length(F.replace(F.col(ucol), F.lit("/"), F.lit(""))))
        uf = urls.select(
            "doc_id", depth.cast("double").alias("f2"),
            F.when(F.col(ucol).contains(wiki_pattern), 1.0)
             .otherwise(0.0).alias("f3"))
        if 2 not in feature_disable:
            out = out.join(uf.select("doc_id", "f2"), "doc_id", "left")
            slots[2] = "f2"
        if 3 not in feature_disable:
            out = out.join(uf.select("doc_id", "f3"), "doc_id", "left")
            slots[3] = "f3"
    _doc_join(pagerank, pagerank.columns[1] if pagerank is not None else "",
              "f4", 4)

    overlap_body_col: str | None = None
    for i, fld in enumerate(fields):
        want = [s for s in (5 + i * 3, 6 + i * 3, 7 + i * 3)
                if s not in feature_disable]
        need_body_overlap = (fld == fields[0]
                             and not {17, 18} <= feature_disable)
        if not want and not need_body_overlap:
            continue
        fs = _field_scores(index, qterms, candidates, fld, m)
        out = out.join(fs, ["qid", "doc_id"], "left")
        for s, col in zip((5 + i * 3, 6 + i * 3, 7 + i * 3),
                          (f"bm25_{fld}", f"indri_{fld}", f"overlap_{fld}")):
            if s not in feature_disable:
                slots[s] = col
        if fld == fields[0]:
            overlap_body_col = f"overlap_{fld}"
    for s in (17, 18):
        if s not in feature_disable and overlap_body_col is not None:
            out = out.withColumn(f"f{s}", F.col(overlap_body_col))
            slots[s] = f"f{s}"

    for name in slots.values():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(0.0)))
    w = Window.partitionBy("qid")
    for name in set(slots.values()):
        mn, mx = F.min(name).over(w), F.max(name).over(w)
        out = out.withColumn(
            name, F.when(mx > mn, (F.col(name) - mn) / (mx - mn))
                   .otherwise(F.lit(0.0)))
    return out, dict(sorted(slots.items()))


def svmrank_lines_slots(features: DataFrame, slots: dict[int, str],
                        ext_ids: DataFrame) -> list[str]:
    """SVMrank emission with the reference's ORIGINAL slot ids
    (`FeatureVector.java:296-314` iterates the surviving feature map;
    disabled slots leave gaps in the numbering, not renumbering)."""
    df = (features.join(ext_ids.select("doc_id", "ext_id"), "doc_id")
          .orderBy("qid", "ext_id").collect())
    lines = []
    for r in df:
        feats = " ".join(f"{slot}:{r[name]:.6f}"
                         for slot, name in sorted(slots.items()))
        lines.append(f"{r['rel']} qid:{r['qid']} {feats} # {r['ext_id']}")
    return lines


def svmrank_lines(features: DataFrame, feat_names: list[str],
                  ext_ids: DataFrame) -> list[str]:
    """→ SVMrank rows `rel qid:Q 1:v ... # ext_id`
    (`FeatureVector.java:300-314`), ordered by (qid, ext_id)."""
    df = (features.join(ext_ids.select("doc_id", "ext_id"), "doc_id")
          .orderBy("qid", "ext_id").collect())
    lines = []
    for r in df:
        feats = " ".join(f"{i + 1}:{r[name]:.6f}"
                         for i, name in enumerate(feat_names))
        lines.append(f"{r['rel']} qid:{r['qid']} {feats} # {r['ext_id']}")
    return lines
