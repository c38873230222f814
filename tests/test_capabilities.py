"""Feedback expansion, xQuAD/PM2 diversification, and LeToR features —
each validated against a hand-transcribed pure-Python reference of the
same `QryEval.java` / `Diversity.java` / `FeatureVector.java` semantics.
"""

import pytest

from search_engines_spark.capabilities.diversity import (
    DiversityInput, pm2, xquad)
from search_engines_spark.capabilities.feedback import (
    expand_queries, rewrite_with_feedback)
from search_engines_spark.capabilities.letor import (
    letor_features, letor_features_18, svmrank_lines, svmrank_lines_slots)
from search_engines_spark.engine import Engine
from search_engines_spark.oracle import Models, run_query

from rm_oracle import py_expand


# ------------------------------------------------------------- feedback --


def test_expand_query_matches_python_reference(spark_index, oracle_index):
    """One query's RM expansion equals the pure-Python transcription of
    `QryEval.java:78-200` (ties → term asc)."""
    ranking = [(d, s) for d, _, s in
               run_query("fickle creek farm", oracle_index, "indri", k=10)]
    got = expand_queries(spark_index, {"q": ranking}, fb_docs=5, fb_terms=8,
                         fb_mu=40.0)
    assert got == {"q": py_expand(oracle_index, ranking, 5, 8, 40.0)}


def test_expanded_query_reenters_engine(spark_index, oracle_index):
    """The expanded #wand string must parse and run (SURVEY.md §3.2)."""
    ranking = [(d, s) for d, _, s in
               run_query("fickle creek farm", oracle_index, "indri", k=10)]
    expanded = expand_queries(spark_index, {"q": ranking}, 5, 5, 40.0)["q"]
    new_q = rewrite_with_feedback("#and( fickle creek farm )", expanded, 0.5)
    eng = Engine(spark_index, "indri")
    rows = eng.search(new_q, k=10).collect()
    assert len(rows) > 0
    # oracle agrees on the combined query
    want = run_query(new_q, oracle_index, "indri", Models(), k=10)
    assert [r["doc_id"] for r in rows] == [d for d, _, _ in want]
    for r, (_, _, s) in zip(rows, want):
        assert r["score"] == pytest.approx(s, abs=1e-9)


def test_expand_queries_batch_matches_single(spark_index, oracle_index):
    """Batched expansion (ONE postings pass + ONE (qid, term) agg for
    every query, feedback.expand_queries) must produce, for each qid,
    the expansion string the pure-Python transcription of
    `QryEval.java:78-200` produces for that qid alone — incl. a qid with
    an empty ranking."""
    rankings = {
        "q1": [(d, s) for d, _, s in
               run_query("fickle creek farm", oracle_index, "indri", k=10)],
        "q2": [(d, s) for d, _, s in
               run_query("voyager", oracle_index, "bm25", k=10)],
        "q3": [],
    }
    batch = expand_queries(spark_index, rankings, fb_docs=5, fb_terms=8,
                           fb_mu=40.0)
    assert batch["q3"] == "#wand ( )"
    for qid in ("q1", "q2"):
        assert batch[qid] == py_expand(oracle_index, rankings[qid],
                                       5, 8, 40.0), qid


# ------------------------------------------------------------ diversity --

# The toy example hard-coded in the reference's own test constructor
# (`Diversity.java:380-412`): 6 docs, 2 intents, lambda 0.4.
TOY = DiversityInput(
    initial=[(0, 0.9), (1, 0.8), (2, 0.7), (3, 0.6), (4, 0.5), (5, 0.4)],
    intents={0: {0: 0.5, 1: 0.4, 2: 0.55, 3: 0.6, 4: 0.2, 5: 0.3},
             1: {0: 0.3, 1: 0.45, 2: 0.2, 3: 0.0, 4: 0.66, 5: 0.8}})


def _py_xquad(inp, lam):
    docs = [d for d, _ in inp.initial]
    tbl = {d: [s] + [inp.intents[i].get(d, 0.0)
                     for i in range(len(inp.intents))]
           for d, s in inp.initial}
    n = len(inp.intents)
    w = 1.0 / n
    sel, sel_sc, rem = [], [], list(docs)
    while rem:
        best, bd = -1.0, None
        for d in rem:
            isc = 0.0
            for i in range(1, n + 1):
                cov = 1.0
                for ss in sel_sc:
                    cov *= (1 - ss[i])
                isc += w * tbl[d][i] * cov
            sc = (1 - lam) * tbl[d][0] + lam * isc
            if sc > best:
                best, bd = sc, d
        sel.append((bd, best))
        sel_sc.append(tbl[bd])
        rem.remove(bd)
    return sel


def test_xquad_matches_reference_semantics():
    got = xquad(TOY, lam=0.4)
    want = _py_xquad(TOY, 0.4)
    assert got == want
    # greedy must start with the relevance winner at lambda=0
    assert xquad(TOY, lam=0.0)[0][0] == 0


def test_xquad_diversifies():
    """With lambda=1 pure diversity: second pick should cover the intent
    the first pick covered least."""
    order = [d for d, _ in xquad(TOY, lam=1.0)]
    assert order[0] != order[1]
    assert set(order) == {0, 1, 2, 3, 4, 5}


def test_pm2_runs_and_covers():
    out = pm2(TOY, lam=0.5, max_result_len=6)
    assert [d for d, _ in out[:2]] != [TOY.initial[0][0], TOY.initial[1][0]] \
        or len(out) == 6
    assert len({d for d, _ in out}) == len(out)


def test_pm2_slot_rotation():
    """PM2 proportionality: with lambda=1 and two intents, picks should
    alternate between intent-0-heavy and intent-1-heavy docs early."""
    out = pm2(TOY, lam=1.0, max_result_len=6)
    first_two = [d for d, _ in out[:2]]
    # doc 3 is intent-0-only (0.6/0.0), docs 5/4 are intent-1-heavy
    cover0 = TOY.intents[0][first_two[0]] >= TOY.intents[1][first_two[0]]
    cover1 = TOY.intents[0][first_two[1]] >= TOY.intents[1][first_two[1]]
    assert cover0 != cover1  # the two picks cover different intents


def test_diversity_normalization():
    """Scores > 1 trigger normalization by the max per-intent sum
    (`Diversity.java:630-712`)."""
    big = DiversityInput(
        initial=[(0, 9.0), (1, 8.0)],
        intents={0: {0: 5.0, 1: 1.0}, 1: {0: 1.0, 1: 5.0}})
    out = xquad(big, lam=0.0)
    # normFactor = max(9+8, 5+1, 1+5) = 17; top score = (1-0)*9/17
    assert out[0] == (0, pytest.approx(9.0 / 17))


# ---------------------------------------------------------------- letor --


def test_letor_features_shapes(spark, spark_index):
    queries = {"7": "fickle creek farm", "9": "voyager probe"}
    cand_rows = []
    eng = Engine(spark_index, "bm25")
    for qid, q in queries.items():
        for r in eng.search(q, k=5).collect():
            cand_rows.append((qid, r["doc_id"], 1 if r["score"] > 0 else 0))
    cand = spark.createDataFrame(cand_rows, "qid string, doc_id long, rel int")
    feats, names = letor_features(spark_index, queries, cand)
    rows = feats.collect()
    assert len(rows) == len(cand_rows)
    assert names == ["bm25_body", "indri_body", "overlap_body"]
    for r in rows:
        for n in names:
            assert 0.0 <= r[n] <= 1.0 + 1e-12, (r, n)
    # per-qid min-max: each feature hits 0 and 1 within a qid (when spread)
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r["bm25_body"])
    for qid, vals in by_qid.items():
        if max(vals) > min(vals):
            assert min(vals) == 0.0 and max(vals) == 1.0


def test_svmrank_lines_format(spark, spark_index):
    queries = {"7": "fickle creek farm"}
    eng = Engine(spark_index, "bm25")
    cand = spark.createDataFrame(
        [("7", r["doc_id"], 0) for r in eng.search("fickle creek", k=3).collect()],
        "qid string, doc_id long, rel int")
    feats, names = letor_features(spark_index, queries, cand)
    lines = svmrank_lines(feats, names, spark_index.docs)
    assert len(lines) == 3
    for ln in lines:
        assert ln.startswith("0 qid:7 1:")
        assert " # " in ln


# ---------------------------------------------------- letor 18-slot layout --


@pytest.fixture(scope="module")
def mf_index(spark, corpus_rows):
    """Code corpus indexed with the reference's 4-field model analogs:
    body(content) / title(lang) / url(path) / inlink(repo)."""
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_code_corpus)
    src = spark.createDataFrame(
        corpus_rows,
        "repo string, path string, commit string, lang string, content string")
    return build_index_frames(docs_from_code_corpus(src),
                              extra_fields={"title": "lang", "url": "path",
                                            "inlink": "repo"})


def _mf_cand(spark, mf_index, queries):
    eng = Engine(mf_index, "bm25")
    rows = []
    for qid, q in queries.items():
        for r in eng.search(q, k=5).collect():
            rows.append((qid, r["doc_id"], 0))
    return rows, spark.createDataFrame(rows,
                                       "qid string, doc_id long, rel int")


def test_letor_18_slot_layout(spark, mf_index):
    """All 18 reference slots present (`FeatureVector.java:190-290`),
    f17 == f18 == normalized overlap-over-body (the reference's shipped
    'custom' features are literal copies of it, `:277-289`), and f2 is
    the normalized '/'-count of the url analog (`:211-230`)."""
    queries = {"7": "fickle creek farm", "9": "voyager probe"}
    cand_rows, cand = _mf_cand(spark, mf_index, queries)
    docs = mf_index.docs
    from pyspark.sql import functions as F
    spam = docs.select("doc_id", (((F.col("doc_id") % 5) + 1) / 5.0)
                       .alias("spam"))
    pr = docs.select("doc_id", (((F.col("doc_id") % 17) + 1) / 17.0)
                     .alias("pagerank"))
    urls = docs.select("doc_id", F.col("ext_id").alias("url"))
    feats, slots = letor_features_18(
        mf_index, queries, cand,
        fields=("body", "title", "url", "inlink"),
        spam=spam, pagerank=pr, urls=urls)
    assert sorted(slots) == list(range(1, 19))
    assert slots[5] == "bm25_body" and slots[16] == "overlap_inlink"
    rows = feats.collect()
    assert len(rows) == len(cand_rows)
    for r in rows:
        for n in slots.values():
            assert 0.0 <= r[n] <= 1.0 + 1e-12, (r, n)
        assert r[slots[17]] == r[slots[18]] == r[slots[7]]
    # f2 replays: '/'-count of the url analog, min-max per qid
    url_of = {r["doc_id"]: r["ext_id"] for r in docs.collect()}
    by_qid = {}
    for qid, d, _ in cand_rows:
        by_qid.setdefault(qid, []).append(d)
    want = {}
    for qid, ds in by_qid.items():
        depths = {d: url_of[d].count("/") for d in ds}
        lo, hi = min(depths.values()), max(depths.values())
        for d, v in depths.items():
            want[(qid, d)] = (v - lo) / (hi - lo) if hi > lo else 0.0
    for r in rows:
        assert r[slots[2]] == pytest.approx(want[(r["qid"], r["doc_id"])])


def test_letor_18_feature_disable(spark, mf_index):
    """letor:featureDisable drops slots entirely; survivors keep their
    ORIGINAL ids in the svmrank emission (gaps, not renumbering)."""
    queries = {"7": "fickle creek farm"}
    _, cand = _mf_cand(spark, mf_index, queries)
    feats, slots = letor_features_18(
        mf_index, queries, cand,
        fields=("body", "title", "url", "inlink"),
        feature_disable=frozenset({1, 2, 3, 4, 6, 17}))
    assert sorted(slots) == [5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 18]
    lines = svmrank_lines_slots(feats, slots, mf_index.docs)
    assert lines
    for ln in lines:
        body = ln.split(" # ")[0]
        ids = [int(tok.split(":")[0]) for tok in body.split()[2:]]
        assert ids == sorted(slots)
        assert 6 not in ids and 17 not in ids
