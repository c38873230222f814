"""Indri / boolean one-pass batch fast paths (Engine.search_many).

The flat-Indri batch collapses the per-query default-score outer joins
(`QrySopAnd.java:86-107`) into one postings pass + a closed-form doclen
column (compile._indri_batch_frame); flat boolean #AND/#OR batch into one
postings pass with a having-count filter (_bool_batch_frame). Both must
be rank- and score-identical to the pure-Python oracle across: #AND
defaults, weighted #WAND/#WSUM, repeated terms, OOV terms (zero-product
geo semantics), single-term queries, and nested shapes that must fall
back per-query inside the same batch.
"""

import pytest

from search_engines_spark.engine import Engine
from search_engines_spark.oracle import Models, run_query

INDRI_QUERIES = {
    "i1": "fickle creek farm",                       # default #AND (geo)
    "i2": "#and( creek farm )",
    "i3": "#wsum( 0.5 creek 0.3 farm 0.2 voyager )",  # sum mode
    "i4": "#wand( 0.6 creek 0.4 farm )",              # weighted geo
    "i5": "voyager",                                  # single term
    "i6": "#and( creek creek farm )",                 # repeated arm
    "i7": "#and( zzzunknownterm creek )",             # OOV ⇒ all scores 0
    "i8": "#wsum( 0.7 creek 0.3 zzzunknownterm )",    # OOV arm drops out,
                                                      # weight stays in W
    # SDM shapes: proximity arms ride the shared zipper pass; derived
    # ctf collected per arm makes them literal-stat arms
    "i9": "#and( creek #near/1( creek farm ) )",
    "i10": "#wand( 0.7 creek 0.3 #near/2( fickle creek ) )",
    "i11": "#and( #window/8( creek farm ) farm )",
    "i12": "#wsum( 0.5 #near/1( creek farm ) 0.5 voyager )",
    "i13": "#and( creek #near/3( zzzunknownterm farm ) )",  # provably
                                                      # empty arm ⇒ geo 0
    "i14": "#wsum( 0.6 creek 0.4 #near/1( voyager creek ) )",  # likely
                                                      # runtime-empty arm
    "i15": "#wand( 0.5 #and( fickle creek ) 0.5 farm )",  # nested
                                                      # combiner ⇒ per-query
}

BOOL_QUERIES = {
    "b1": "#and( creek farm )",
    "b2": "#or( creek farm voyager )",
    "b3": "creek farm",                      # default #OR
    "b4": "voyager",                         # single term
    "b5": "#and( creek zzzunknownterm )",    # OOV under matchAll ⇒ empty
    "b6": "#or( zzzunknownterm creek )",
    "b7": "#and( #or( creek voyager ) farm )",  # nested ⇒ per-query
}


def _against_oracle(rows, queries, oracle_index, model, k):
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in queries.items():
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = run_query(q, oracle_index, model, Models(), k=k)
        assert len(got) == len(want), (qid, len(got), len(want))
        for srow, (odoc, oext, oscore) in zip(got, want):
            assert srow["doc_id"] == odoc, (qid, srow, odoc, oext, oscore)
            assert srow["ext_id"] == oext
            assert srow["score"] == pytest.approx(oscore, abs=1e-9)


def test_indri_batch_identity(spark_index, oracle_index):
    eng = Engine(spark_index, "indri")
    rows = eng.search_many(INDRI_QUERIES, k=10).collect()
    _against_oracle(rows, INDRI_QUERIES, oracle_index, "indri", 10)


def test_indri_batch_plan_is_one_pass(spark_index):
    """The flat queries — SDM proximity arms included — must NOT fan out
    per-query stages: zero outer joins in the optimized batch plan (the
    per-query default machinery would print one left-join chain per
    query)."""
    flat = {q: s for q, s in INDRI_QUERIES.items() if q != "i15"}
    eng = Engine(spark_index, "indri")
    plan = (eng.search_many(flat, k=10)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "LeftOuter" not in plan and "FullOuter" not in plan


def test_bool_batch_identity_ranked(spark_index, oracle_index):
    eng = Engine(spark_index, "rankedboolean")
    rows = eng.search_many(BOOL_QUERIES, k=10).collect()
    _against_oracle(rows, BOOL_QUERIES, oracle_index, "rankedboolean", 10)


def test_bool_batch_identity_unranked(spark_index, oracle_index):
    eng = Engine(spark_index, "unrankedboolean")
    rows = eng.search_many(BOOL_QUERIES, k=10).collect()
    _against_oracle(rows, BOOL_QUERIES, oracle_index, "unrankedboolean", 10)


def test_indri_all_oov_batch(spark_index):
    """Every arm OOV: geo product is 0 over an EMPTY candidate set —
    the qid must be absent, not crash (mirrors the BM25 empty-batch
    guard)."""
    eng = Engine(spark_index, "indri")
    res = eng.search_many({"q1": "zzzmissing qqqunknown"}, k=10).collect()
    assert res == []


def test_indri_mixed_models_fallback(spark_index, oracle_index):
    """A batch mixing flat and nested queries: flat ones ride the batch
    frame, nested ones their compiled plans, unioned — per-qid results
    all match the oracle."""
    queries = {"f1": "#wand( 0.6 creek 0.4 farm )",
               "n1": "#wand( 0.7 #and( fickle creek ) 0.3 creek )"}
    eng = Engine(spark_index, "indri")
    rows = eng.search_many(queries, k=10).collect()
    _against_oracle(rows, queries, oracle_index, "indri", 10)


@pytest.mark.parametrize("model,q", [
    ("bm25", "#sum( #near/{}( creek farm ) fickle )"),
    ("indri", "#and( creek #near/{}( creek farm ) )")])
def test_search_many_releases_persisted_frames(spark, spark_index, model, q):
    """Each call persists its batched zipper frame; the next call (or
    close) must release it, so a run of distinct calls keeps the count
    flat (identical calls would share one cache entry and hide a leak).
    A repeated identical call keeps the cached frame it shares."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    eng = Engine(spark_index, model)
    eng.search_many({"q": q.format(1)}, k=5).collect()
    held = len(persisted())
    for n in range(2, 7):
        eng.search_many({"q": q.format(n)}, k=5).collect()
        assert len(persisted()) == held
    before = persisted()
    eng.search_many({"q": q.format(6)}, k=5).collect()
    assert persisted() == before
    eng.close()
    assert len(persisted()) == held - 1


def _leaf_names(df):
    """Node names of the physical plan's leaves (a cached frame's scan is
    a leaf; its cached plan is not walked)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize("model,queries", [
    ("bm25", {"q1": "fickle creek farm",
              "q2": "#sum( #near/1( creek farm ) fickle )",
              "q3": "#sum( #syn( creek farm ) voyager )"}),
    ("indri", {"i1": "fickle creek farm",
               "i2": "#and( creek #near/1( creek farm ) )"}),
    ("rankedboolean", {"b1": "#and( creek farm )",
                       "b2": "#or( creek farm voyager )"})])
def test_search_many_query_tables_are_local(spark_index, model, queries):
    """The per-call query tables of the batch paths are JVM-local
    relations: the plan scans them as LocalTableScan, never as a
    Python-RDD `Scan ExistingRDD` run by Python workers in every job."""
    names = _leaf_names(Engine(spark_index, model).search_many(queries, k=10))
    assert "LocalTableScan" in names
    assert not [n for n in names if "ExistingRDD" in n], names
