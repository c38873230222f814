"""End-to-end runner mirroring the reference entry point
(`QryEval.java:35-71` → `processQueryFile :649-764`): parameter file →
retrieval model → query file → trec_eval output, with the feedback
(`fb=true`, §3.2) and diversification (`diversity=true`, §3.4) branches.

A reference user's workflow maps 1:1:

    parameters.txt                     theirs            ours
    ---------------------------------  ----------------  -------------------
    indexPath=<lucene dir>             Lucene index      corpusPath=<parquet>
    queryFilePath=queries.txt          same              same
    trecEvalOutputPath=out.teIn        same              same
    retrievalAlgorithm=BM25            same              same
    BM25:k_1 / BM25:b / BM25:k_3       same              same
    Indri:mu / Indri:lambda            same              same
    fb, fbDocs, fbTerms, fbMu,
    fbOrigWeight, fbExpansionQueryFile,
    fbInitialRankingFile               same              same
    diversity, diversity:algorithm,
    diversity:lambda, diversity:intentsFile,
    diversity:maxInputRankingsLength,
    diversity:maxResultRankingLength,
    diversity:initialRankingFile       same              same

The reference answers a query file one query at a time
(`QryEval.java:684`); the runner answers it as one batch. Final
rankings, feedback's initial rankings and every diversity topic and
intent ranking each come from one batch call (`Engine.search_many`, or
the segment-store batch paths), feedback expands every query in one
plan (`feedback.expand_queries`), and only the greedy diversity re-rank
(`Diversity.java:415-605`) runs per topic on the driver. Per-query
results, and so the trec output, are those of the reference's loop.

Engine extensions beyond the reference's parameters:

    analyzer=parity          full Lucene-equivalent analysis chain
                             (StandardTokenizer analog → possessive →
                             stop → KStem) on both index and query side;
                             saved indexes record their chain in the
                             manifest and restore it on indexPath reopen
    qrelsFile=... +
    evalMetricsOutputPath=...  score the run after writing it (the
                             reference workflow's external trec_eval
                             step, Spark-side: P@k/RR/AP/nDCG + MAP)
    evalK=10                 metric cutoff
    segmentsPath=... [+ segmentsBuckets=32, segmentsAsOf=<gen>]
                             serve ranked retrieval from the compressed
                             block-max segment store: bow BM25 via the
                             DAAT kernel, everything else via the
                             decode path — results identical to the
                             DataFrame plans

Run: ``python -m search_engines_spark.run parameters.txt`` (or ship the
package with spark-submit --py-files and call ``main``).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .capabilities.diversity import DiversityInput, pm2, xquad
from .capabilities.feedback import expand_queries, rewrite_with_feedback
from .engine.compile import Engine
from .indexer.build import Index, build_index_frames, docs_from_documents_table
from .io import (read_parameter_file, read_query_file, read_ranking_file,
                 write_expanded_query_file, write_trec_file)
from .literals import local_frame
from .oracle import Models, f32
from .session import get_spark

MODEL_NAMES = {"unrankedboolean": "unrankedboolean",
               "rankedboolean": "rankedboolean",
               "bm25": "bm25", "indri": "indri"}


def init_model(params: dict[str, str]) -> tuple[str, Models]:
    """`initializeRetrievalModel` (`QryEval.java:248-301`), incl. the
    parameter validation asserts (`:263-273`)."""
    algo = params.get("retrievalAlgorithm", "BM25").lower()
    if algo not in MODEL_NAMES:
        raise ValueError(f"unknown retrievalAlgorithm {algo!r}")
    m = Models()
    if algo == "bm25":
        m.k1 = f32(params.get("BM25:k_1", m.k1))
        m.b = f32(params.get("BM25:b", m.b))
        m.k3 = f32(params.get("BM25:k_3", m.k3))
        assert m.k1 >= 0 and 0 <= m.b <= 1 and m.k3 >= 0
    if algo == "indri":
        m.mu = f32(params.get("Indri:mu", m.mu))
        m.lam = f32(params.get("Indri:lambda", m.lam))
        assert m.mu >= 0 and 0 <= m.lam <= 1
    return MODEL_NAMES[algo], m


def runner_analyzer(params: dict[str, str]):
    """The analysis chain this run uses on BOTH sides (index + query —
    they must match, `QryParser.java:45-47`). `analyzer=parity` selects
    the full Lucene-equivalent chain (StandardTokenizer analog →
    possessive → stop → KStem, `analysis.REFERENCE_PARITY`); default is
    the canonical SQL-expressible chain. With `indexPath`, the saved
    manifest's recorded chain wins — the query side silently matching a
    DIFFERENT chain than the stored postings would break stem matching."""
    from .analysis import CANONICAL, REFERENCE_PARITY
    if "indexPath" in params:
        from .indexer.store import stored_analyzer
        return stored_analyzer(params["indexPath"])
    name = params.get("analyzer", "canonical").lower()
    if name in ("parity", "reference", "lucene"):
        return REFERENCE_PARITY
    if name in ("canonical", "simple", "default"):
        return CANONICAL
    raise ValueError(f"unknown analyzer {name!r} "
                     "(use 'canonical' or 'parity')")


def open_index(spark: SparkSession, params: dict[str, str]) -> Index:
    """`Idx.open` analog. `indexPath` (the reference's own parameter
    name, `QryEval.java:810-836`) opens a saved index directory
    (indexer.store) — no rebuild; otherwise `corpusPath` is a parquet
    path or an Iceberg `table:<name>` reference (sources.load_corpus)
    indexed in-session; documents-table shape (doc_id, text, ...) or
    code-corpus shape (repo, path, commit, lang, content) — detected by
    columns. `analyzer=parity` routes the build through the Arrow
    analyzer UDF (build_index_frames_analyzed)."""
    from .analysis import CANONICAL
    from .indexer.build import (build_index_frames_analyzed,
                                docs_from_code_corpus)
    from .indexer.store import is_index_dir
    from .indexer.store import open_index as open_saved
    from .sources import CODE_CORPUS_COLUMNS, load_corpus
    if "indexPath" in params:
        if not is_index_dir(params["indexPath"]):
            raise ValueError(
                f"indexPath {params['indexPath']!r} is not a saved index "
                "(missing _stats.json); build one with indexer.store.save_index")
        return open_saved(spark, params["indexPath"])
    src = load_corpus(spark, params["corpusPath"],
                      fmt=params.get("corpusFormat", "auto"))
    if all(c in src.columns for c in CODE_CORPUS_COLUMNS):
        docs, fmt = docs_from_code_corpus(src), None
    else:
        from .indexer.build import documents_extid_fmt
        docs, fmt = docs_from_documents_table(src), documents_extid_fmt(src)
    ana = runner_analyzer(params)
    if ana != CANONICAL:
        tc = "text" if "text" in docs.columns else "content"
        return build_index_frames_analyzed(docs, ana, text_col=tc,
                                           extid_docid_fmt=fmt)
    return build_index_frames(docs, extid_docid_fmt=fmt)


def _search_batch(eng: Engine, queries: dict[str, str], k: int):
    """A query file's top-k through the one-plan batch path of whatever
    store the engine has: segments attached → the DAAT kernel, or the
    decode path for anything the kernel can't take; otherwise the
    DataFrame index plans. Keeps every ranking consumer (final
    retrieval, fb initial, diversity intents) working in a
    segments-only deployment."""
    if hasattr(eng, "_seg_dir"):
        try:
            return eng.search_daat_many(queries, k=k)
        except ValueError:   # structured / non-bm25 → decode path
            return eng.search_segments_many(queries, k=k)
    return eng.search_many(queries, k=k)


def _ranked_lists(eng: Engine, queries: dict[str, str], k: int):
    """→ ({qid: [(doc_id, score)] in rank order, [] for no results},
    {doc_id: ext_id}) from one `_search_batch` call."""
    lists: dict[str, list[tuple[int, float]]] = {q: [] for q in queries}
    ext_of: dict[int, str] = {}
    for r in sorted(_search_batch(eng, queries, k).collect(),
                    key=lambda r: r["rank"]):
        lists[r["qid"]].append((r["doc_id"], r["score"]))
        ext_of[r["doc_id"]] = r["ext_id"]
    return lists, ext_of


def _expand_index(idx: Index, eng: Engine, top_doc_ids) -> Index:
    """Index whose postings cover the given docs, for RM expansion's
    forward-index probe. With the postings table deployed it IS the
    index; in a segments-only deployment the probe decodes just the
    blocks whose doc range covers a top doc
    (`merge.read_segments_for_docs` — fbDocs-bounded, never a corpus
    decode)."""
    if idx.postings is not None:
        return idx
    import dataclasses

    from pyspark.sql import functions as F

    from .indexer.merge import read_segments_for_docs
    from .indexer.segments import decode_to_postings
    ids = sorted({int(d) for d in top_doc_ids})
    spark = idx.docs.sparkSession
    blocks = read_segments_for_docs(spark, eng._seg_dir, ids,
                                    num_buckets=eng._seg_buckets,
                                    as_of=getattr(eng, "_seg_as_of", None))
    dec = decode_to_postings(blocks).where(F.col("doc_id").isin(ids))
    return dataclasses.replace(idx, postings=dec)


def _feedback_queries(spark: SparkSession, eng: Engine, idx: Index,
                      queries: dict[str, str],
                      params: dict[str, str]) -> dict[str, str]:
    """`QryEval.java:717-745` for a whole query file: initial rankings
    (`fbInitialRankingFile`, else the engine) → RM expansion →
    {qid: expanded #wand query}."""
    fb_docs = int(params["fbDocs"])
    if "fbInitialRankingFile" in params:
        # ext→int via join (ranking file is tiny; doc_map never collected)
        rdf = (read_ranking_file(spark, params["fbInitialRankingFile"])
               .join(idx.doc_map, "ext_id", "left"))
        ranked: dict[str, list] = {}
        for r in rdf.collect():
            if r["doc_id"] is None:   # Idx.getInternalDocid throws
                raise ValueError(f"unknown external id {r['ext_id']!r}")
            ranked.setdefault(r["qid"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        rankings = {}
        for qid in queries:
            if qid not in ranked:
                raise ValueError(f"No query {qid} in ranking file!")
            rankings[qid] = [(d, s) for _, d, s in sorted(ranked[qid])]
    else:
        rankings = _ranked_lists(eng, queries, fb_docs)[0]
    fb_idx = _expand_index(idx, eng, [d for rk in rankings.values()
                                      for d, _ in rk[:fb_docs]])
    return expand_queries(fb_idx, rankings, fb_docs, int(params["fbTerms"]),
                          float(params["fbMu"]))


def _diversity_inputs(qids, intent_keys,
                      lists: dict[str, list[tuple[int, float]]]
                      ) -> dict[str, DiversityInput]:
    """{qid: DiversityInput} from ranked lists keyed by topic id and by
    intent key (`qid.n`): a topic's intents take their slots in
    `intent_keys` order, each restricted to the topic's initial docs
    (`QryEval.java:522-567`). A topic's zero-result intents keep their
    slot — the intent count feeds the algorithms."""
    out = {}
    for qid in qids:
        initial = lists.get(qid, [])
        keep = {d for d, _ in initial}
        ikeys = [kk for kk in intent_keys
                 if "." in kk and kk.split(".", 1)[0] == qid]
        out[qid] = DiversityInput(
            initial=initial,
            intents={i: {d: s for d, s in lists.get(kk, []) if d in keep}
                     for i, kk in enumerate(ikeys)})
    return out


def _diversity_from_file(spark: SparkSession, idx: Index, path: str,
                         depth: int):
    """`Diversity.readRankingMap` (`Diversity.java:184-265`): ONE trec
    file holds both initial (`qid`) and per-intent (`qid.intent`)
    rankings; each group truncated to maxInputRankingsLength.
    → ({qid: DiversityInput} for the file's topics, {doc_id: ext_id})."""
    # resolve ext→int ids by joining the (tiny) ranking frame against
    # doc_map — never collect the corpus-sized map to the driver
    # (`Idx.getInternalDocid` is a per-id index lookup, `Idx.java:100-116`;
    # the join is its set-at-a-time analog and is broadcast-sized by the
    # ranking file, not the corpus)
    rows = (read_ranking_file(spark, path)
            .join(idx.doc_map, "ext_id", "left")
            .orderBy("qid", "rank").collect())
    groups: dict[str, list[tuple[int, float]]] = {}
    ext_of: dict[int, str] = {}
    for r in rows:
        d = r["doc_id"]
        if d is None:   # Idx.getInternalDocid would throw (`Idx.java:100-116`)
            raise ValueError(f"unknown external id {r['ext_id']!r}")
        ext_of[d] = r["ext_id"]
        g = groups.setdefault(r["qid"], [])
        if len(g) < depth:   # ScoreList.truncate per group
            g.append((d, r["score"]))
    # intents lexicographic by full "qid.n" key — faithful to the
    # reference, whose from-file path iterates a TreeMap<String,
    # ScoreList> (`Diversity.java:188-189`); the intents-FILE path uses
    # file order instead, as the reference's ArrayList does
    topics = [q for q in groups if "." not in q]
    return _diversity_inputs(topics, sorted(groups), groups), ext_of


def _letor_run(spark: SparkSession, idx: Index, params: dict[str, str],
               m: Models, queries: dict[str, str], k: int):
    """Entry point C (`QryEval.java:274-295`, SURVEY.md §3.3): train a
    ranker on qrels features, re-rank BM25 top-k with it.

    Uses the reference's own svm_rank binaries when
    `letor:svmRankLearnPath` points at an existing executable (the two
    Runtime.exec process boundaries, `QryEval.java:303-313`); otherwise
    falls back to the pyspark.ml linear ranker (capabilities.ranker).
    → (qid, ext_id, score, rank) rows."""
    import os

    from pyspark.sql import functions as F

    from .capabilities import ranker
    from .capabilities.letor import letor_features, svmrank_lines_slots
    from .io import read_pagerank_file, read_qrels_file

    train_q = read_query_file(params["letor:trainingQueryFile"])
    qrels = read_qrels_file(spark, params["letor:trainingQrelsFile"])
    cand_train = (qrels.join(idx.doc_map, "ext_id")
                  .select("qid", "doc_id", "rel"))
    doc_feats = None
    if "letor:pageRankFile" in params:
        doc_feats = (read_pagerank_file(spark, params["letor:pageRankFile"])
                     .join(idx.doc_map, "ext_id")
                     .select("doc_id", "pagerank"))
    ana = runner_analyzer(params)
    feats_tr, names = letor_features(idx, train_q, cand_train, params=m,
                                     doc_features=doc_feats, analyzer=ana)
    # letor:featureDisable (`FeatureVector.java:28-33`): comma list of
    # 1-based slot ids dropped from training/classification; surviving
    # slots keep their ORIGINAL ids (gaps, not renumbering)
    disable = {int(x) for x in
               params.get("letor:featureDisable", "").split(",")
               if x.strip()}
    slots = {i: n for i, n in enumerate(names, start=1) if i not in disable}
    names = list(slots.values())
    train_lines = svmrank_lines_slots(feats_tr, slots, idx.doc_map)
    if "letor:trainingFeatureVectorsFile" in params:
        with open(params["letor:trainingFeatureVectorsFile"], "w") as f:
            f.write("\n".join(train_lines) + "\n")

    # initial BM25 top-100 per test query (`QryEval.java:454-510`)
    eng = Engine(idx, "bm25", params=m, analyzer=ana)
    init = eng.search_many(queries, k=100)
    cand_test = (init.select("qid", "doc_id")
                 .withColumn("rel", F.lit(0)))
    feats_te, _ = letor_features(idx, queries, cand_test, params=m,
                                 doc_features=doc_feats, analyzer=ana)

    learn = params.get("letor:svmRankLearnPath", "")
    if learn and os.path.exists(learn):
        import subprocess
        missing = [p for p in ("letor:trainingFeatureVectorsFile",
                               "letor:testingFeatureVectorsFile",
                               "letor:svmRankModelFile",
                               "letor:testingDocumentScores",
                               "letor:svmRankClassifyPath")
                   if p not in params]
        if missing:
            raise ValueError(
                "Required parameters were missing from the parameter file: "
                + ", ".join(missing))
        test_lines = svmrank_lines_slots(feats_te, slots, idx.doc_map)
        train_f = params["letor:trainingFeatureVectorsFile"]
        test_f = params["letor:testingFeatureVectorsFile"]
        model_f = params["letor:svmRankModelFile"]
        scores_f = params["letor:testingDocumentScores"]
        with open(test_f, "w") as f:
            f.write("\n".join(test_lines) + "\n")
        c = params.get("letor:svmRankParamC", "0.001")
        subprocess.run([learn, "-c", c, train_f, model_f], check=True)
        subprocess.run([params["letor:svmRankClassifyPath"], test_f,
                        model_f, scores_f], check=True)
        with open(scores_f) as f:
            scores = [float(ln) for ln in f if ln.strip()]
        # classify output is line-aligned with the test feature file,
        # which svmrank_lines orders by (qid, ext_id)
        keys = [(ln.split("qid:")[1].split()[0], ln.rsplit("# ", 1)[1])
                for ln in test_lines]
        if len(scores) != len(keys):   # a zip would silently drop docs
            raise ValueError(
                f"svm_rank_classify wrote {len(scores)} scores for "
                f"{len(keys)} test vectors — truncated or corrupt "
                f"output at {scores_f}")
        rows = [(q, e, s) for (q, e), s in zip(keys, scores)]
        sdf = spark.createDataFrame(
            rows, "qid string, ext_id string, score double")
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                              F.asc("ext_id"))
        return (sdf.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("qid", "ext_id", "score", "rank"))
    assembler, model = ranker.train_linear_ranker(feats_tr, names)
    return (ranker.rerank(feats_te, assembler, model, idx.doc_map, k=k)
            .select("qid", "ext_id", "score", "rank"))


def _write_eval(spark: SparkSession, params: dict[str, str]) -> None:
    """`qrelsFile` + `evalMetricsOutputPath`: score the trec run just
    written (the reference workflow's external trec_eval step,
    capabilities.evaluation) — one per-topic line per judged topic plus
    the `all` macro-average block. No-op unless both params are set."""
    if "qrelsFile" not in params or "evalMetricsOutputPath" not in params:
        return
    from pyspark.sql import functions as F

    from .capabilities.evaluation import evaluate_run, macro_averages
    from .io import read_qrels_file
    # the placeholder 'dummy' rows for zero-result topics stay IN: real
    # trec_eval sees them as one unjudged doc, so the topic scores zero
    # and still counts in num_q — filtering them out would drop judged
    # zero-result topics from the macro averages entirely
    res = read_ranking_file(spark, params["trecEvalOutputPath"])
    qrels = read_qrels_file(spark, params["qrelsFile"])
    k = int(params.get("evalK", 10))
    per = evaluate_run(res.select("qid", "ext_id", "rank"), qrels, k=k)
    rows = per.orderBy("qid").collect()
    with open(params["evalMetricsOutputPath"], "w") as f:
        for r in rows:
            f.write(f"{r['qid']} num_rel={r['num_rel']} "
                    f"num_rel_ret={r['num_rel_ret']} "
                    f"P@{k}={r['p_at_k']:.4f} rr={r['rr']:.4f} "
                    f"ap={r['ap']:.4f} ndcg@{k}={r['ndcg_at_k']:.4f}\n")
        if rows:
            m = macro_averages(per).collect()[0]
            f.write(f"all num_q={m['num_q']} map={m['map']:.4f} "
                    f"mrr={m['mrr']:.4f} P@{k}={m['mean_p_at_k']:.4f} "
                    f"ndcg@{k}={m['mean_ndcg_at_k']:.4f}\n")
        else:
            f.write("all num_q=0\n")


def _ranked_run(spark: SparkSession, idx: Index, params: dict[str, str],
                queries: dict[str, str], k: int):
    """The plain, feedback (`fb=true`) and diversity (`diversity=true`)
    runs of a whole query file through `_search_batch`.
    → ((qid, ext_id, score[, rank]) frame, {qid: expanded query} when
    feedback ran, else None)."""
    model, m = init_model(params)
    eng = Engine(idx, model, params=m, analyzer=runner_analyzer(params))
    # segmentsPath (engine extension): route ALL ranked retrieval —
    # final, fb initial, diversity intents — through the compressed
    # block-max segment store (indexer.segments; built offline with
    # build_segments). Bag-of-words BM25 rides the DAAT kernel
    # (search_daat_many), everything else decodes its terms' blocks and
    # runs the standard plans (search_segments_many); feedback's
    # forward-index probe decodes the top docs' blocks (_expand_index).
    # A store saved with include_postings=False plus segmentsPath is
    # therefore a complete retrieval deployment.
    if "segmentsPath" in params:
        # segmentsAsOf=<gen> pins the whole run to a store snapshot
        # (indexer.merge time travel) — reproducible re-runs against an
        # evolving index
        as_of = params.get("segmentsAsOf")
        eng.attach_segments(params["segmentsPath"],
                            num_buckets=int(params.get("segmentsBuckets",
                                                       "32")),
                            as_of=None if as_of is None else int(as_of))

    if params.get("diversity") == "true":
        depth = int(params.get("diversity:maxInputRankingsLength", 100))
        if "diversity:initialRankingFile" in params:
            inputs, ext_of = _diversity_from_file(
                spark, idx, params["diversity:initialRankingFile"], depth)
            for qid in queries:
                if qid not in inputs:
                    raise ValueError(f"No query {qid} in ranking file!")
        else:
            # every topic's initial AND per-intent rankings from ONE
            # batch; intents take their slots in INTENTS-FILE order (the
            # reference appends them to queryIntentMap's ArrayList as
            # read) — NOT lexicographic, which misorders intent 10
            # before intent 2
            intents = read_query_file(params["diversity:intentsFile"])
            batch = dict(queries)
            for ik, iq in intents.items():
                # a dot-less key equal to a topic id would otherwise
                # OVERWRITE the real query with the intent text
                if "." in ik and ik.split(".", 1)[0] in queries:
                    batch[ik] = iq
            lists, ext_of = _ranked_lists(eng, batch, depth)
            inputs = _diversity_inputs(queries, intents, lists)
        algo = params.get("diversity:algorithm", "xquad").lower()
        lam = float(params["diversity:lambda"])
        rows = []
        for qid in queries:
            # the greedy re-rank is inherently sequential over
            # ≤ depth-sized lists (`Diversity.java:415-605`)
            if algo == "xquad":
                ranked = xquad(inputs[qid], lam, depth=k)
            elif algo == "pm2":
                ranked = pm2(inputs[qid], lam, max_result_len=k, depth=k)
            else:
                raise ValueError("Illegal Diversity Algorithm")
            rows += [(qid, ext_of[d], float(s), rk)
                     for rk, (d, s) in enumerate(ranked[:k], start=1)]
        # the rank column keeps the greedy order (PM2 scores are not
        # monotone)
        res = local_frame(spark, rows,
                          "qid string, ext_id string, score double, rank int")
        return res, None

    expanded = None
    if params.get("fb") == "true":
        expanded = _feedback_queries(spark, eng, idx, queries, params)
        w0 = float(params["fbOrigWeight"])
        queries = {qid: rewrite_with_feedback(q, expanded[qid], w0)
                   for qid, q in queries.items()}
    res = _search_batch(eng, queries, k).select("qid", "ext_id", "score")
    return res, expanded


def main(param_path: str, spark: SparkSession | None = None) -> str:
    params = read_parameter_file(param_path)
    source_keys = ("indexPath",) if "indexPath" in params else ("corpusPath",)
    for req in source_keys + ("queryFilePath", "trecEvalOutputPath"):
        if req not in params:
            raise ValueError(
                "Required parameters were missing from the parameter file.")
    own_spark = spark is None
    spark = spark or get_spark("search-engines-run")
    idx = open_index(spark, params)
    if idx.postings is None and "segmentsPath" not in params:
        raise ValueError(
            "index store has no postings table; a segments-only "
            "deployment needs segmentsPath=<segment dir>")
    queries = read_query_file(params["queryFilePath"])
    # output depth: the reference writes the top 100 (`QryEval.java:
    # 781-801`); diversity:maxResultRankingLength overrides it ONLY in
    # diversity mode (`Diversity.java` ctor arg) — a leftover diversity
    # param in a diversity=false run must not shrink plain/fb/letor runs
    if params.get("diversity") == "true":
        k = int(params.get("diversity:maxResultRankingLength", 100))
    else:
        k = 100
    # mode-scoped required parameters (the reference dereferences them
    # unchecked and dies opaquely; surface the standard message instead)
    mode_reqs: list[str] = []
    if params.get("fb") == "true":
        mode_reqs += ["fbDocs", "fbTerms", "fbMu", "fbOrigWeight"]
    if params.get("diversity") == "true":
        mode_reqs += ["diversity:lambda"]
        if "diversity:initialRankingFile" not in params:
            mode_reqs += ["diversity:intentsFile"]
    for req in mode_reqs:
        if req not in params:
            raise ValueError(
                "Required parameters were missing from the parameter file.")

    expanded = None
    if params.get("retrievalAlgorithm", "BM25").lower() == "letor":
        if idx.postings is None:
            raise ValueError(
                "retrievalAlgorithm=letor needs the postings table "
                "(per-field scoring probes); rebuild the store with "
                "include_postings=True")
        # entry point C replaces processQuery with re-ranking
        # (`QryEval.java:274-295`). Parse BOTH model families through
        # init_model so its range asserts apply (letor features span
        # BM25 and Indri slots).
        _, m = init_model({**params, "retrievalAlgorithm": "BM25"})
        m_ind = init_model({**params, "retrievalAlgorithm": "Indri"})[1]
        m.mu, m.lam = m_ind.mu, m_ind.lam
        res = _letor_run(spark, idx, params, m, queries, k)
    else:
        res, expanded = _ranked_run(spark, idx, params, queries, k)
    write_trec_file(res, params["trecEvalOutputPath"],
                    run_id=params.get("runID", "run"), k=k,
                    all_qids=list(queries))
    _write_eval(spark, params)
    if expanded is not None and "fbExpansionQueryFile" in params:
        write_expanded_query_file(params["fbExpansionQueryFile"], expanded)
    if own_spark:
        spark.stop()
    return params["trecEvalOutputPath"]


if __name__ == "__main__":
    main(sys.argv[1])
