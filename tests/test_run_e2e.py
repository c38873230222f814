"""End-to-end runner: parameter file → trec output, matching the oracle
per query; plus the feedback and diversity branches (SURVEY.md §3)."""

import pytest

from search_engines_spark.oracle import run_query
from search_engines_spark.run import main


@pytest.fixture(scope="module")
def corpus_parquet(spark, tmp_path_factory):
    """documents-table-format parquet derived from the planted corpus."""
    from search_engines_spark.corpus import generate_corpus
    rows = generate_corpus(n_docs=120, seed=42)
    df = spark.createDataFrame(
        [(i, r["content"], r["lang"], r["repo"], len(r["content"]))
         for i, r in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path_factory.mktemp("corpus")) + "/documents.parquet"
    df.coalesce(1).write.parquet(d)
    return d, rows


@pytest.fixture(scope="module")
def oracle_documents_index(corpus_parquet):
    from search_engines_spark.oracle import OracleIndex
    _, rows = corpus_parquet
    idx = OracleIndex()
    for i, r in enumerate(rows):
        idx.add(i, f"doc{i:09d}", {"body": r["content"]})
    idx.finalize()
    return idx


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def _trec(path):
    """trec file → {qid: [(ext_id, rank, score)] in file order}."""
    by_qid = {}
    for ln in open(path).read().splitlines():
        qid, _, ext, rank, score, _ = ln.split()
        by_qid.setdefault(qid, []).append((ext, int(rank), float(score)))
    return by_qid


def _assert_run_matches(got, want):
    """One topic's trec rows == the oracle's ranking: ext_ids and ranks
    exact, scores within 1e-9; an empty ranking is the dummy line."""
    if not want:
        assert got == [("dummy", 1, 0.0)]
        return
    assert [(e, r) for e, r, _ in got] == \
        [(e, r) for r, (_, e, _) in enumerate(want, start=1)]
    for (_, _, s), (_, _, ws) in zip(got, want):
        assert s == pytest.approx(ws, abs=1e-9)


def test_bm25_run_matches_oracle(spark, corpus_parquet, tmp_path,
                                 oracle_documents_index):
    """A query file runs as one batch: every topic's trec block matches
    the oracle ranking of that query alone — bag-of-words, structured
    (batched proximity path) and all-OOV (dummy line) topics alike."""
    d, _ = corpus_parquet
    queries = {"1": "fickle creek farm", "2": "voyager probe",
               "3": "#sum( #near/2( fickle creek ) farm )",
               "4": "zzzunknownterm"}
    qf = _write(tmp_path, "q.txt",
                "".join(f"{q}:{t}\n" for q, t in queries.items()))
    out = str(tmp_path / "out.teIn")
    pf = _write(tmp_path, "p.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
BM25:k_1=1.2
BM25:b=0.75
BM25:k_3=0
runID=t
""")
    main(pf, spark=spark)
    by_qid = _trec(out)
    assert list(by_qid) == list(queries)          # query-file order
    for qid, q in queries.items():
        _assert_run_matches(by_qid[qid],
                            run_query(q, oracle_documents_index, "bm25"))
    assert by_qid["4"] == [("dummy", 1, 0.0)]


def test_fb_run_produces_expansion(spark, corpus_parquet, tmp_path):
    d, _ = corpus_parquet
    qf = _write(tmp_path, "q2.txt", "1:#and( fickle creek farm )\n")
    out = str(tmp_path / "out2.teIn")
    exp = str(tmp_path / "exp.txt")
    pf = _write(tmp_path, "p2.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=Indri
Indri:mu=2500
Indri:lambda=0.4
fb=true
fbDocs=5
fbTerms=6
fbMu=40
fbOrigWeight=0.5
fbExpansionQueryFile={exp}
""")
    main(pf, spark=spark)
    expanded = open(exp).read()
    assert expanded.startswith("1: #wand (")
    assert len(open(out).read().splitlines()) > 0


def test_batch_fb_matches_per_query_fb(spark, corpus_parquet, tmp_path,
                                      oracle_documents_index):
    """fb=true answers the query file as one batch (initial rankings
    from ONE search_many, every query's RM expansion from ONE plan,
    final combined #wand queries through one more search_many), and each
    topic matches the oracle run of that query alone: initial ranking
    from `run_query`, expansion from the pure-Python RM transcription
    (terms equal, weights to 1e-4), final ranking from `run_query` on
    the combined query (scores to 1e-9)."""
    from rm_oracle import py_expand

    from search_engines_spark.capabilities.feedback import (
        rewrite_with_feedback)
    from search_engines_spark.run import init_model
    d, _ = corpus_parquet
    # fb rewrites by TEXT (`QryEval.java:740-742`): a bare multi-term
    # query inside #wand would leave terms without weights, so fb query
    # files use structured originals (same constraint as the reference)
    queries = {"1": "#and( fickle creek farm )", "2": "#and( voyager probe )"}
    qf = _write(tmp_path, "qfb.txt",
                "".join(f"{q}:{t}\n" for q, t in queries.items()))
    out = str(tmp_path / "fb.teIn")
    exp = str(tmp_path / "fbexp.txt")
    params = """retrievalAlgorithm=Indri
Indri:mu=2500
Indri:lambda=0.4
"""
    pf = _write(tmp_path, "pfb.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
{params}fb=true
fbDocs=5
fbTerms=6
fbMu=40
fbOrigWeight=0.5
fbExpansionQueryFile={exp}
runID=t
""")
    main(pf, spark=spark)
    got_exp = dict(ln.split(": ", 1) for ln in open(exp).read().splitlines())
    assert list(got_exp) == list(queries)
    by_qid = _trec(out)
    _, m = init_model(dict(ln.split("=", 1) for ln in params.split()))
    oi = oracle_documents_index
    for qid, q in queries.items():
        initial = [(doc, s) for doc, _, s in
                   run_query(q, oi, "indri", m, k=5)]
        want_exp = py_expand(oi, initial, 5, 6, 40.0).split()[2:-1]
        got = got_exp[qid].split()
        assert got[:2] == ["#wand", "("] and got[-1] == ")"
        assert got[3:-1:2] == want_exp[1::2], qid         # terms
        for w, ww in zip(got[2:-1:2], want_exp[0::2]):     # weights
            assert float(w) == pytest.approx(float(ww), abs=1e-4), qid
        # the final ranking re-enters the engine as the combined TEXT
        # query; the engine's own expansion string (checked above)
        # builds it, so the ranking must match the oracle exactly
        final = rewrite_with_feedback(q, got_exp[qid], 0.5)
        _assert_run_matches(by_qid[qid], run_query(final, oi, "indri", m))


@pytest.mark.parametrize("algo", ["xquad", "pm2"])
def test_batch_diversity_matches_per_query(spark, corpus_parquet, tmp_path,
                                           oracle_documents_index, algo):
    """diversity=true (engine-ranked intents) answers every topic's
    initial AND per-intent rankings from ONE batch; the greedy re-rank
    stays per topic. Each topic must equal the oracle: `run_query`
    rankings for the topic and its intents (intents-file order),
    re-ranked by `capabilities.diversity`'s xquad / pm2."""
    from search_engines_spark.capabilities.diversity import (
        DiversityInput, pm2, xquad)
    d, _ = corpus_parquet
    queries = {"1": "creek farm", "2": "voyager probe"}
    intents = {"1.1": "creek", "1.2": "farm", "2.1": "voyager"}
    qf = _write(tmp_path, f"qdv_{algo}.txt",
                "".join(f"{q}:{t}\n" for q, t in queries.items()))
    itf = _write(tmp_path, f"idv_{algo}.txt",
                 "".join(f"{q}:{t}\n" for q, t in intents.items()))
    out = str(tmp_path / f"dv_{algo}.teIn")
    pf = _write(tmp_path, f"pdv_{algo}.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
diversity=true
diversity:algorithm={algo}
diversity:lambda=0.5
diversity:intentsFile={itf}
diversity:maxInputRankingsLength=20
diversity:maxResultRankingLength=10
runID=t
""")
    main(pf, spark=spark)
    by_qid = _trec(out)
    oi = oracle_documents_index
    for qid, q in queries.items():
        initial = [(doc, s) for doc, _, s in run_query(q, oi, "bm25", k=20)]
        keep = {doc for doc, _ in initial}
        slots = [iq for ik, iq in intents.items() if ik.startswith(qid + ".")]
        din = DiversityInput(initial=initial, intents={
            i: {doc: s for doc, _, s in run_query(iq, oi, "bm25", k=20)
                if doc in keep}
            for i, iq in enumerate(slots)})
        ranked = (xquad(din, 0.5, depth=10) if algo == "xquad"
                  else pm2(din, 0.5, max_result_len=10, depth=10))
        want = [(doc, oi.ext_id[doc], s) for doc, s in ranked[:10]]
        _assert_run_matches(by_qid[qid], want)


def test_segments_path_param(spark, corpus_parquet, tmp_path):
    """segmentsPath serves ranked retrieval from the compressed store:
    bow BM25 through the DAAT kernel, structured queries through the
    decode path — trec output ranking identical to the DataFrame plans."""
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_documents_table)
    from search_engines_spark.indexer.segments import build_segments
    d, _ = corpus_parquet
    idx = build_index_frames(
        docs_from_documents_table(spark.read.parquet(d)))
    seg = str(tmp_path / "segs")
    build_segments(idx.postings, idx.doclens, seg, num_buckets=4)
    qf = _write(tmp_path, "qs.txt",
                "1:fickle creek farm\n"
                "2:#sum( #near/2( fickle creek ) farm )\n")
    outs = {}
    for tag, extra in (("plain", ""),
                       ("segs", f"segmentsPath={seg}\nsegmentsBuckets=4\n")):
        out = str(tmp_path / f"sp_{tag}.teIn")
        pf = _write(tmp_path, f"psp_{tag}.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
{extra}""")
        main(pf, spark=spark)
        outs[tag] = [(ln.split()[0], ln.split()[2], ln.split()[3])
                     for ln in open(out).read().splitlines()]
    assert outs["segs"] == outs["plain"]


def test_segments_as_of_param(spark, corpus_parquet, tmp_path):
    """segmentsAsOf pins a whole run to a store snapshot: after an
    update_segments (supersede + tombstone), asOf=0 reproduces the
    pre-update trec output byte-for-byte while the unpinned run sees
    the new state."""
    from pyspark.sql import functions as F

    from search_engines_spark.indexer.build import (
        build_index_frames, build_postings, docs_from_documents_table)
    from search_engines_spark.indexer.merge import update_segments
    from search_engines_spark.indexer.segments import build_segments
    d, _ = corpus_parquet
    src = spark.read.parquet(d)
    idx = build_index_frames(docs_from_documents_table(src))
    seg = str(tmp_path / "ao_segs")
    build_segments(idx.postings, idx.doclens, seg, num_buckets=4)
    qf = _write(tmp_path, "qao.txt", "1:fickle creek farm\n")

    def run(tag, extra):
        out = str(tmp_path / f"ao_{tag}.teIn")
        pf = _write(tmp_path, f"pao_{tag}.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
segmentsPath={seg}
segmentsBuckets=4
runID=t
{extra}""")
        main(pf, spark=spark)
        return open(out).read()

    before = run("pre", "")
    # supersede the current top doc: new doc_id, 'creek farm' removed
    top_ext = before.splitlines()[0].split()[2]
    victim = idx.docs.where(F.col("ext_id") == top_ext)
    vid = victim.select("doc_id").first()[0]
    off = idx.docs.agg(F.max("doc_id")).first()[0] + 1
    upd = (src.where(F.col("doc_id") == vid)
           .withColumn("doc_id", F.lit(off).cast("long"))
           .withColumn("text", F.lit("totally unrelated content now")))
    update_segments(spark, seg,
                    build_postings(docs_from_documents_table(upd)),
                    [vid], num_buckets=4)
    after = run("post", "")
    pinned = run("asof", "segmentsAsOf=0\n")
    assert pinned == before
    assert after != before
    assert top_ext not in after


def test_segments_only_deployment(spark, corpus_parquet, tmp_path):
    """fb=true and diversity=true runs against ONLY the compressed
    segment store — index dir saved with include_postings=False (no
    postings parquet at all) + segmentsPath. Every ranking (final, fb
    initial, diversity intents) and feedback's forward-index probe must
    come off the segments, and the trec output must match the full
    corpusPath deployment rank-for-rank (scores to 1e-9)."""
    import os

    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_documents_table)
    from search_engines_spark.indexer.segments import build_segments
    from search_engines_spark.indexer.store import open_index, save_index
    d, _ = corpus_parquet
    idx = build_index_frames(
        docs_from_documents_table(spark.read.parquet(d)))
    store = str(tmp_path / "so_store")
    save_index(idx, store, include_postings=False)
    seg = str(tmp_path / "so_segs")
    build_segments(idx.postings, idx.doclens, seg, num_buckets=4)
    assert not os.path.isdir(os.path.join(store, "postings"))
    assert open_index(spark, store, cache=False).postings is None

    fbq = _write(tmp_path, "so_qfb.txt",
                 "1:#and( fickle creek farm )\n2:#and( voyager probe )\n")
    fb_cfg = ("retrievalAlgorithm=Indri\nIndri:mu=2500\nIndri:lambda=0.4\n"
              "fb=true\nfbDocs=5\nfbTerms=6\nfbMu=40\nfbOrigWeight=0.5\n")
    divq = _write(tmp_path, "so_qdiv.txt", "1:creek farm\n")
    intents = _write(tmp_path, "so_i.txt", "1.1:creek\n1.2:farm\n")
    div_cfg = ("retrievalAlgorithm=BM25\ndiversity=true\n"
               "diversity:algorithm=xquad\ndiversity:lambda=0.5\n"
               f"diversity:intentsFile={intents}\n"
               "diversity:maxInputRankingsLength=20\n"
               "diversity:maxResultRankingLength=10\n")
    for tag, qf, cfg in (("fb", fbq, fb_cfg), ("div", divq, div_cfg)):
        runs = {}
        for src, base in (
                ("full", f"corpusPath={d}\n"),
                ("segonly", f"indexPath={store}\nsegmentsPath={seg}\n"
                            "segmentsBuckets=4\n")):
            out = str(tmp_path / f"so_{tag}_{src}.teIn")
            pf = _write(tmp_path, f"so_p_{tag}_{src}.txt",
                        f"{base}queryFilePath={qf}\n"
                        f"trecEvalOutputPath={out}\n"
                        f"{cfg}runID=t\n")
            main(pf, spark=spark)
            runs[src] = open(out).read().splitlines()
        assert runs["full"] and \
            len(runs["full"]) == len(runs["segonly"]), tag
        for a, b in zip(runs["full"], runs["segonly"]):
            qa, _, ea, ra, sa, _ = a.split()
            qb, _, eb, rb, sb, _ = b.split()
            assert (qa, ea, ra) == (qb, eb, rb), tag
            assert abs(float(sa) - float(sb)) < 1e-9


def test_segments_only_requires_segments_path(spark, corpus_parquet,
                                              tmp_path):
    """A postings-less store without segmentsPath (or with letor, which
    needs the postings table) fails fast with a clear error."""
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_documents_table)
    from search_engines_spark.indexer.store import save_index
    d, _ = corpus_parquet
    idx = build_index_frames(
        docs_from_documents_table(spark.read.parquet(d)))
    store = str(tmp_path / "noseg_store")
    save_index(idx, store, include_postings=False)
    qf = _write(tmp_path, "noseg_q.txt", "1:creek\n")
    pf = _write(tmp_path, "noseg_p.txt", f"""indexPath={store}
queryFilePath={qf}
trecEvalOutputPath={tmp_path / 'noseg.teIn'}
retrievalAlgorithm=BM25
""")
    with pytest.raises(ValueError, match="segments-only"):
        main(pf, spark=spark)


def test_qrels_eval_output(spark, corpus_parquet, tmp_path):
    """qrelsFile + evalMetricsOutputPath score the run just written (the
    reference's external trec_eval step, Spark-side). Qrels that mark
    EVERY retrieved doc relevant give the exact fixed points: rr = ap =
    ndcg = 1, P@10 = min(n, 10)/10."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qe.txt", "1:fickle creek farm\n")
    out = str(tmp_path / "qe.teIn")
    pf = _write(tmp_path, "pe.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
""")
    main(pf, spark=spark)
    retrieved = [ln.split()[2] for ln in open(out).read().splitlines()]
    qrels = _write(tmp_path, "qrels.txt",
                   "".join(f"1 0 {e} 1\n" for e in retrieved))
    metrics = str(tmp_path / "metrics.txt")
    pf2 = _write(tmp_path, "pe2.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
qrelsFile={qrels}
evalMetricsOutputPath={metrics}
runID=t
""")
    main(pf2, spark=spark)
    lines = open(metrics).read().splitlines()
    assert lines[0].startswith("1 ")
    kv = dict(tok.split("=") for tok in lines[0].split()[1:])
    n = len(retrieved)
    assert float(kv["rr"]) == 1.0 and float(kv["ap"]) == 1.0
    assert float(kv["ndcg@10"]) == 1.0
    assert float(kv["P@10"]) == pytest.approx(min(n, 10) / 10)
    assert lines[-1].startswith("all num_q=1")


def test_analyzer_parity_param(spark, corpus_parquet, tmp_path):
    """analyzer=parity selects the full Lucene-equivalent chain on BOTH
    sides: a plural query ('creeks farms') stem-matches the corpus under
    parity but finds nothing under the canonical chain (dummy line).
    Saving the parity index records the chain in the manifest, and an
    indexPath reopen restores it without the parameter."""
    from search_engines_spark.analysis import REFERENCE_PARITY
    from search_engines_spark.indexer.build import (
        build_index_frames_analyzed, docs_from_documents_table)
    from search_engines_spark.indexer.store import save_index
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qan.txt", "1:creeks farms\n")

    def run(extra, tag):
        out = str(tmp_path / f"an_{tag}.teIn")
        pf = _write(tmp_path, f"pan_{tag}.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
{extra}""")
        main(pf, spark=spark)
        return open(out).read().splitlines()

    canonical = run("", "canon")
    assert canonical[0].startswith("1 Q0 dummy")   # no stem matching
    parity = run("analyzer=parity\n", "parity")
    assert parity and not parity[0].startswith("1 Q0 dummy")

    # saved parity index: the manifest carries the chain; indexPath
    # reopen must stem queries the same way with NO analyzer param
    idx_dir = str(tmp_path / "parity_idx")
    docs = docs_from_documents_table(spark.read.parquet(d))
    save_index(build_index_frames_analyzed(docs, REFERENCE_PARITY),
               idx_dir, num_partitions=2, analyzer=REFERENCE_PARITY)
    out2 = str(tmp_path / "an_reopen.teIn")
    pf2 = _write(tmp_path, "pan_reopen.txt", f"""indexPath={idx_dir}
queryFilePath={qf}
trecEvalOutputPath={out2}
retrievalAlgorithm=BM25
runID=t
""")
    main(pf2, spark=spark)
    reopened = open(out2).read().splitlines()
    assert [ln.split()[2] for ln in reopened] == \
        [ln.split()[2] for ln in parity]


def test_diversity_run(spark, corpus_parquet, tmp_path):
    d, _ = corpus_parquet
    qf = _write(tmp_path, "q3.txt", "1:creek farm\n")
    intents = _write(tmp_path, "i.txt", "1.1:creek\n1.2:farm\n")
    out = str(tmp_path / "out3.teIn")
    pf = _write(tmp_path, "p3.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
diversity=true
diversity:algorithm=xquad
diversity:lambda=0.5
diversity:intentsFile={intents}
diversity:maxInputRankingsLength=20
diversity:maxResultRankingLength=10
""")
    main(pf, spark=spark)
    lines = open(out).read().splitlines()
    assert 0 < len(lines) <= 10
    ranks = [int(ln.split()[3]) for ln in lines]
    assert ranks == list(range(1, len(lines) + 1))


def test_letor_run_ml_fallback(spark, corpus_parquet, tmp_path):
    """Entry point C (`QryEval.java:274-295`): retrievalAlgorithm=letor
    trains on qrels features and re-ranks BM25 top-k. No svm_rank
    binaries in this environment → pyspark.ml linear-ranker fallback."""
    d, rows = corpus_parquet
    # training: two queries with a few judged docs each
    tq = _write(tmp_path, "train_q.txt",
                "90:fickle creek farm\n91:voyager probe\n")
    qrels_lines = []
    for qid, docids in (("90", [0, 1, 2, 3]), ("91", [4, 5, 6, 7])):
        for i, did in enumerate(docids):
            qrels_lines.append(f"{qid} 0 doc{did:09d} {1 if i < 2 else 0}")
    qrels = _write(tmp_path, "qrels.txt", "\n".join(qrels_lines) + "\n")
    qf = _write(tmp_path, "q.txt", "1:fickle creek farm\n")
    out = str(tmp_path / "letor.teIn")
    train_fv = str(tmp_path / "train.fv")
    pf = _write(tmp_path, "p.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=letor
BM25:k_1=1.2
BM25:b=0.75
BM25:k_3=0
Indri:mu=2500
Indri:lambda=0.4
letor:trainingQueryFile={tq}
letor:trainingQrelsFile={qrels}
letor:trainingFeatureVectorsFile={train_fv}
runID=letor
""")
    main(pf, spark=spark)
    lines = open(out).read().splitlines()
    assert lines and all(ln.split()[0] == "1" for ln in lines)
    ranks = [int(ln.split()[3]) for ln in lines]
    assert ranks == list(range(1, len(lines) + 1))
    # training feature file was emitted in SVMrank format
    fv = open(train_fv).read().splitlines()
    assert fv and fv[0].split()[1].startswith("qid:")
    assert all(" # doc" in ln for ln in fv)


def test_letor_pagerank_from_engine(spark, corpus_parquet, tmp_path):
    """Closes the loop on the reference's out-of-band PageRank file
    (`FeatureVector.java:53-72`, the CMU-provided side file): the f4
    feature source is PRODUCED in-engine by `pipeline.graph.pagerank`
    over a deterministic link graph, written with
    `write_pagerank_file`, then consumed by the full letor run. Gates:
    the file is one ext_id-sorted line per doc; f4 is populated and
    differentiates docs in the emitted training features; and the run
    is rank-stable (two invocations produce byte-identical output)."""
    from pyspark.sql import functions as F

    from search_engines_spark.pipeline.graph import (pagerank,
                                                     write_pagerank_file)
    d, rows = corpus_parquet
    n = len(rows)
    # deterministic ring + shortcut graph over the doc ids: enough
    # structure that PageRank mass genuinely differs across docs
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, (i * 7 + 3) % n) for i in range(0, n, 3)],
        "src long, dst long")
    pr = pagerank(edges, 0.85, n_iter=6)
    ext_ids = spark.range(n).select(
        F.col("id").alias("node"),
        F.format_string("doc%09d", F.col("id")).alias("ext_id"))
    pr_file = str(tmp_path / "pagerank.txt")
    write_pagerank_file(pr, pr_file, ext_ids)
    pr.unpersist()
    pr_lines = open(pr_file).read().splitlines()
    assert len(pr_lines) == n
    assert pr_lines == sorted(pr_lines)          # ext_id-ordered
    assert len({ln.split("\t")[1] for ln in pr_lines}) > 1

    tq = _write(tmp_path, "train_q_pr.txt",
                "90:fickle creek farm\n91:voyager probe\n")
    qrels_lines = []
    for qid, docids in (("90", [0, 1, 2, 3]), ("91", [4, 5, 6, 7])):
        for i, did in enumerate(docids):
            qrels_lines.append(f"{qid} 0 doc{did:09d} {1 if i < 2 else 0}")
    qrels = _write(tmp_path, "qrels_pr.txt", "\n".join(qrels_lines) + "\n")
    qf = _write(tmp_path, "q_pr.txt", "1:fickle creek farm\n")
    out = str(tmp_path / "letor_pr.teIn")
    train_fv = str(tmp_path / "train_pr.fv")
    pf = _write(tmp_path, "p_pr.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=letor
BM25:k_1=1.2
BM25:b=0.75
BM25:k_3=0
Indri:mu=2500
Indri:lambda=0.4
letor:trainingQueryFile={tq}
letor:trainingQrelsFile={qrels}
letor:trainingFeatureVectorsFile={train_fv}
letor:pageRankFile={pr_file}
runID=letor
""")
    main(pf, spark=spark)
    run1 = open(out).read()
    assert run1.splitlines()

    # f4 (PageRank) is present and differentiates judged docs after
    # the per-query min-max normalization
    f4_vals = set()
    for ln in open(train_fv).read().splitlines():
        feats = dict(kv.split(":", 1) for kv in
                     ln.split(" # ")[0].split()[2:])
        assert "4" in feats
        f4_vals.add(feats["4"])
    assert len(f4_vals) > 1

    # rank stability: a second identical run byte-matches
    main(pf, spark=spark)
    assert open(out).read() == run1


def test_diversity_from_ranking_file(spark, corpus_parquet, tmp_path):
    """diversity:initialRankingFile branch (`Diversity.java:184-265`):
    one trec file carries the initial (`qid`) and per-intent
    (`qid.intent`) rankings; PM2 re-ranks candidates from the file
    without running the engine for rankings."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "q4.txt", "1:creek farm\n")
    # hand-built ranking file: initial = docs 0-5, intent 1.1 favors
    # evens, intent 1.2 favors odds
    rows = []
    for rk, did in enumerate(range(6), start=1):
        rows.append(f"1 Q0 doc{did:09d} {rk} {10.0 - rk} run")
    for rk, did in enumerate((0, 2, 4), start=1):
        rows.append(f"1.1 Q0 doc{did:09d} {rk} {5.0 - rk} run")
    for rk, did in enumerate((1, 3, 5), start=1):
        rows.append(f"1.2 Q0 doc{did:09d} {rk} {5.0 - rk} run")
    rf = _write(tmp_path, "rank.teIn", "\n".join(rows) + "\n")
    out = str(tmp_path / "out4.teIn")
    pf = _write(tmp_path, "p4.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
diversity=true
diversity:algorithm=pm2
diversity:lambda=0.5
diversity:initialRankingFile={rf}
diversity:maxInputRankingsLength=20
diversity:maxResultRankingLength=4
""")
    main(pf, spark=spark)
    lines = open(out).read().splitlines()
    assert len(lines) == 4
    exts = [ln.split()[2] for ln in lines]
    # candidates can only come from the file's initial ranking
    assert set(exts) <= {f"doc{i:09d}" for i in range(6)}
    # PM2 with equal intent weights alternates intent coverage: the top-2
    # must cover BOTH intents (one even-, one odd-numbered doc)
    par = {int(e[-1]) % 2 for e in exts[:2]}
    assert par == {0, 1}


def test_runner_has_no_corpus_sized_collect():
    """Scale audit: the runner must never collect the full doc_map (or
    any corpus-sized frame) to the driver — ext↔int id resolution happens
    by joining the tiny ranking/result frames against doc_map. A full
    `doc_map.collect()` is a driver OOM at 10^9+ docs."""
    import inspect

    import search_engines_spark.run as run_mod
    src = inspect.getsource(run_mod)
    assert "doc_map.collect()" not in src
    # every .collect() in run.py must be on a bounded frame: ranking-file
    # joins, per-query top-k, or svm score files — none on idx.* frames
    for ln in src.splitlines():
        if ".collect()" in ln:
            assert "idx." not in ln, f"corpus-sized collect: {ln.strip()}"


def test_run_all_oov_query_emits_dummy_line(spark, corpus_parquet, tmp_path):
    """A query whose every term is OOV produces the reference's
    placeholder trec line (`QryEval.java:783-786`) instead of crashing
    or omitting the topic."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "q_oov.txt", "7:zzzunknownterm qqqmissing\n")
    out = str(tmp_path / "oov.teIn")
    pf = _write(tmp_path, "p_oov.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
""")
    main(pf, spark=spark)
    lines = open(out).read().splitlines()
    assert lines == ["7 Q0 dummy 1 0 t"]


def test_batch_queries_param_matches_per_query_loop(spark, corpus_parquet,
                                                    tmp_path):
    """A query file answered as one batch gives each topic the trec block
    a run of that topic alone gives: ranking (qid, ext_id, rank)
    identical, scores to 1e-9 (summation order may differ between the
    batched and single-query plans). Includes a structured query
    (batched proximity path) and an OOV topic (its dummy line must
    survive batching). The batch run's parameter file still sets the
    retired `batchQueries` key, which the runner ignores."""
    d, _ = corpus_parquet
    queries = {"1": "fickle creek farm",
               "2": "#sum( #near/2( fickle creek ) farm )",
               "3": "zzzunknownterm"}

    def run(tag, qtext, extra=""):
        qf = _write(tmp_path, f"qb_{tag}.txt", qtext)
        out = str(tmp_path / f"b_{tag}.teIn")
        pf = _write(tmp_path, f"pb_{tag}.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
{extra}""")
        main(pf, spark=spark)
        return open(out).read().splitlines()

    batch = run("all", "".join(f"{q}:{t}\n" for q, t in queries.items()),
                "batchQueries=true\n")
    loop = [ln for q, t in queries.items() for ln in run(q, f"{q}:{t}\n")]
    assert len(batch) == len(loop)
    for a, b in zip(batch, loop):
        qa, _, ea, ra, sa, _ = a.split()
        qb, _, eb, rb, sb, _ = b.split()
        assert (qa, ea, ra) == (qb, eb, rb)
        assert abs(float(sa) - float(sb)) < 1e-9
    assert any(ln.startswith("3 Q0 dummy") for ln in batch)


def test_intent_slots_follow_file_order(tmp_path):
    """`QryEval.java:746-756` appends each intent to its query's
    ArrayList in intents-FILE order, so intent slot i is the i-th line —
    NOT lexicographic key order, which would put '1.10' before '1.2'.
    The runner builds each topic's DiversityInput from the batch's
    ranked lists in the intents file's order: feed 1.2-then-1.10 (and a
    zero-result intent, which keeps its slot) and pin every slot."""
    from search_engines_spark.io import read_query_file
    from search_engines_spark.run import _diversity_inputs
    intents = read_query_file(_write(
        tmp_path, "slots.txt",
        "1.2:voyager probe\n1.10:fickle creek\n2.1:farm\n1.3:zzz\n"))
    lists = {"1": [(4, 3.0), (7, 2.0), (9, 1.0)],
             "1.2": [(7, 5.0), (8, 4.0)],          # 8 is not a topic doc
             "1.10": [(9, 6.0), (4, 1.5)],
             "2": [(8, 1.0)], "2.1": [(8, 0.5)]}
    inputs = _diversity_inputs(["1", "2"], intents, lists)
    assert inputs["1"].initial == lists["1"]
    assert inputs["1"].intents == {0: {7: 5.0}, 1: {9: 6.0, 4: 1.5}, 2: {}}
    assert inputs["2"].intents == {0: {8: 0.5}}


def test_plain_run_depth_unaffected_by_diversity_param(
        spark, corpus_parquet, tmp_path):
    """diversity:maxResultRankingLength controls output depth ONLY in
    diversity mode (`Diversity.java` ctor arg); a leftover diversity
    param in a diversity=false run must not shrink the reference's
    fixed top-100 write (`QryEval.java:781-801`)."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qd.txt", "1:fickle creek farm\n")
    out = str(tmp_path / "qd.teIn")
    pf = _write(tmp_path, "pd.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
diversity:maxResultRankingLength=3
runID=t
""")
    main(pf, spark=spark)
    assert len(open(out).read().splitlines()) > 3


def test_mode_scoped_required_params(spark, corpus_parquet, tmp_path):
    """fb and diversity modes validate their required parameters up
    front with the reference's standard message instead of a mid-run
    KeyError (`QryEval.java` dereferences them unchecked)."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qm.txt", "1:creek\n")
    out = str(tmp_path / "qm.teIn")
    base = f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=Indri
Indri:mu=2500
Indri:lambda=0.4
"""
    for extra in ("fb=true\nfbTerms=5\nfbMu=0\nfbOrigWeight=0.5\n",
                  "diversity=true\ndiversity:algorithm=xquad\n"
                  "diversity:intentsFile=/nonexistent\n"):
        pf = _write(tmp_path, f"pm{len(extra)}.txt", base + extra)
        with pytest.raises(ValueError,
                           match="Required parameters were missing"):
            main(pf, spark=spark)


def test_eval_counts_judged_zero_result_topic(spark, corpus_parquet,
                                              tmp_path):
    """A judged topic whose query is all-OOV writes only the placeholder
    dummy line; real trec_eval still counts it (one unjudged retrieved
    doc, all metrics 0). Filtering dummy rows before scoring would drop
    the topic from num_q and inflate the macro averages."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qz.txt",
                "1:fickle creek farm\n2:zzzunknownterm\n")
    out = str(tmp_path / "qz.teIn")
    pf = _write(tmp_path, "pz.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
""")
    main(pf, spark=spark)
    top1 = open(out).read().splitlines()[0].split()[2]
    qrels = _write(tmp_path, "qz.qrels",
                   f"1 0 {top1} 1\n2 0 doc000000000 1\n")
    metrics = str(tmp_path / "qz.metrics")
    pf2 = _write(tmp_path, "pz2.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
qrelsFile={qrels}
evalMetricsOutputPath={metrics}
runID=t
""")
    main(pf2, spark=spark)
    lines = open(metrics).read().splitlines()
    per = {ln.split()[0]: dict(t.split("=") for t in ln.split()[1:])
           for ln in lines[:-1]}
    assert per["2"]["rr"] == "0.0000" and per["2"]["ap"] == "0.0000"
    assert lines[-1].startswith("all num_q=2")
    # topic 2 contributes zeros to the means: map = (1 + 0) / 2
    assert "map=0.5000" in lines[-1]


def test_ranking_file_unknown_ext_id_raises(spark, corpus_parquet,
                                            tmp_path):
    """`Idx.getInternalDocid` throws on an external id the index does
    not contain; a ranking file naming one must fail loudly, not have
    the row silently dropped."""
    d, _ = corpus_parquet
    qf = _write(tmp_path, "qu.txt", "1:creek farm\n")
    rows = ["1 Q0 doc000000001 1 9.0 run",
            "1 Q0 nosuchdocument 2 8.0 run",
            "1.1 Q0 doc000000001 1 5.0 run"]
    rf = _write(tmp_path, "qu.teIn", "\n".join(rows) + "\n")
    out = str(tmp_path / "qu.out")
    pf = _write(tmp_path, "pu.txt", f"""corpusPath={d}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
diversity=true
diversity:algorithm=xquad
diversity:lambda=0.5
diversity:initialRankingFile={rf}
diversity:maxInputRankingsLength=20
diversity:maxResultRankingLength=4
""")
    with pytest.raises(ValueError, match="nosuchdocument"):
        main(pf, spark=spark)
