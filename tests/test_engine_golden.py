"""Golden rank-identity: the Spark engine must match the pure-Python oracle
(docID sequence exactly; scores to 1e-9) over the planted corpus — the
BASELINE.json correctness gate, in-miniature (SURVEY.md §5, FIXTURES.md §5).
"""

import pytest

from search_engines_spark.engine import Engine
from search_engines_spark.oracle import Models, run_query

BOW_QUERIES = [
    "fickle creek farm",
    "voyager",
    "buffer overflow guard",
    "parser lexer token",
    "segment posting merge",
]

STRUCTURED = [
    ("bm25", "#sum( fickle creek farm )"),
    ("bm25", "#sum( #near/1( creek farm ) )"),
    ("bm25", "#sum( #near/2( fickle creek ) creek )"),
    ("bm25", "#sum( #window/8( creek farm ) )"),
    ("bm25", "#sum( #syn( creek farm ) voyager )"),
    ("rankedboolean", "#and( creek farm )"),
    ("rankedboolean", "#or( creek farm voyager )"),
    ("rankedboolean", "#and( #or( creek voyager ) farm )"),
    ("unrankedboolean", "#and( creek farm )"),
    ("indri", "#and( fickle creek farm )"),
    ("indri", "#and( creek #near/1( creek farm ) )"),
    ("indri", "#wand( 0.7 #and( fickle creek farm ) 0.2 #and( #near/1( creek farm ) "
              "#near/1( fickle creek ) ) 0.1 #and( #window/8( creek farm ) "
              "#window/8( fickle creek ) ) )"),
    ("indri", "#wsum( 0.5 creek 0.3 farm 0.2 voyager )"),
    ("indri", "#wand( 0.6 creek 0.4 #syn( farm voyager ) )"),
]


def _assert_rank_identical(spark_rows, oracle_rows):
    assert len(spark_rows) == len(oracle_rows)
    for srow, (odoc, oext, oscore) in zip(spark_rows, oracle_rows):
        assert srow["doc_id"] == odoc, (
            f"docid mismatch: spark={srow} oracle=({odoc},{oext},{oscore})")
        assert srow["ext_id"] == oext
        assert srow["score"] == pytest.approx(oscore, abs=1e-9)


@pytest.mark.parametrize("q", BOW_QUERIES)
def test_bm25_bow_rank_identity(q, spark_index, oracle_index):
    eng = Engine(spark_index, "bm25")
    got = eng.search(q, k=50).collect()
    want = run_query(q, oracle_index, "bm25", Models(), k=50)
    _assert_rank_identical(got, want)


@pytest.mark.parametrize("model,q", STRUCTURED)
def test_structured_rank_identity(model, q, spark_index, oracle_index):
    eng = Engine(spark_index, model)
    got = eng.search(q, k=50).collect()
    want = run_query(q, oracle_index, model, Models(), k=50)
    _assert_rank_identical(got, want)


def test_search_many_batch(spark_index, oracle_index):
    queries = {"q1": "fickle creek farm", "q2": "voyager", "q3": "parser lexer"}
    eng = Engine(spark_index, "bm25")
    got = eng.search_many(queries, k=10).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in queries.items():
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = run_query(q, oracle_index, "bm25", k=10)
        _assert_rank_identical(rows, want)


def test_sha256_invariant(spark_index, corpus_rows):
    """input_hint: per-row content sha256 equality vs the source table."""
    from search_engines_spark.corpus import ext_id, sha256
    got = {r["ext_id"]: r["sha256"]
           for r in spark_index.docs.select("ext_id", "sha256").collect()}
    for row in corpus_rows:
        assert got[ext_id(row)] == sha256(row["content"])


def test_docids_dense_and_deterministic(spark_index, corpus_rows):
    ids = [r["doc_id"] for r in
           spark_index.docs.select("doc_id").orderBy("doc_id").collect()]
    assert ids == list(range(len(corpus_rows)))


def test_search_many_bm25_batch_identity(spark_index, oracle_index):
    """The single-pass batch plan (broadcast qterms ⨝ postings) must be
    rank- and score-identical to the oracle per query, across a mixed
    batch: bow, repeated term, OOV term, structured (which takes the
    batched proximity path inside the same search_many call)."""
    queries = {
        "q1": "fickle creek farm",
        "q2": "voyager voyager probe",          # repeated term → mult=2
        "q3": "zzzunknownterm farm",            # OOV term drops out
        "q4": "#sum( #near/2( fickle creek ) farm )",  # structured arm
    }
    eng = Engine(spark_index, "bm25")
    by_qid = {}
    for r in eng.search_many(queries, k=10).collect():
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in queries.items():
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = run_query(q, oracle_index, "bm25", k=10)
        _assert_rank_identical(rows, want)


def test_search_many_structured_batch_identity(spark_index, oracle_index):
    """The batched structured path (ONE postings pass + ONE Arrow kernel
    stage for every proximity arm in the batch, engine.batch_structured)
    must be rank- and score-identical to the oracle — across duplicate
    arms (mult), arms shared between
    queries, OOV-pruned arms, nested Iop trees, and mixed term+prox sums."""
    queries = {
        "s1": "#sum( #near/1( creek farm ) fickle )",
        "s2": "#sum( #near/2( fickle creek ) #window/8( creek farm ) creek )",
        "s3": "#sum( #syn( creek farm ) voyager )",
        "s4": "#sum( #near/1( creek farm ) #near/1( creek farm ) )",
        "s5": "#sum( #near/3( zzzunknownterm farm ) farm )",
        "s6": "#sum( #window/8( fickle creek ) )",
        "s7": "#sum( #near/4( #syn( fickle voyager ) creek ) )",
    }
    eng = Engine(spark_index, "bm25")
    fast_df = eng.search_many(queries, k=15)
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    # constant stage count: every arm rides ONE Arrow kernel stage. It
    # renders twice in the plan string because the persisted zipper frame
    # feeds both the derived-df aggregate and the scoring join (one
    # execution via the cache); the per-query path would print one
    # MapInPandas per proximity arm (8 here).
    assert 0 < plan.count("MapInPandas") <= 2
    by_qid = {}
    for r in fast_df.collect():
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in queries.items():
        rows = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = run_query(q, oracle_index, "bm25", k=15)
        _assert_rank_identical(rows, want)


# ------------------------------------------------ per-query plan shape --
# The compiled path must run a #NEAR/#WINDOW zipper ONCE per query, after
# a real doc_id exchange: a filtering UDF gets pushed below the
# repartition (zipper on the scan side, twice), a bare repartition over
# doc_id-partitioned postings is dropped, and a derived df/ctf aggregate
# cross-joined back re-runs the zipper.

PY_NODES = ("MapInPandasExec", "MapInArrowExec", "ArrowEvalPythonExec",
            "BatchEvalPythonExec")


def _children(node):
    """Physical children, looking through AQE query stages."""
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _plan_nodes(node):
    out = [node]
    for c in _children(node):
        out.extend(_plan_nodes(c))
    return out


@pytest.mark.parametrize("q", ["#sum( #near/1( creek farm ) fickle )",
                               "#sum( #window/8( creek farm ) fickle )"])
def test_per_query_zipper_runs_once_after_exchange(q, spark_index,
                                                   oracle_index):
    df = Engine(spark_index, "bm25").search(q, k=50)
    got = df.collect()
    _assert_rank_identical(got, run_query(q, oracle_index, "bm25",
                                          Models(), k=50))
    final = df._jdf.queryExecution().executedPlan().executedPlan()
    py = [n for n in _plan_nodes(final)
          if n.getClass().getSimpleName() in PY_NODES]
    assert len(py) == 1, [n.nodeName() for n in py]
    # follow the single-child chain under the Python node to an exchange
    node = py[0]
    while True:
        kids = _children(node)
        assert len(kids) == 1, f"no exchange below {py[0].nodeName()}"
        node = kids[0]
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            break


# ---------------------------------------------------------- parity chain --
# The same golden gate with the full reference analyzer chain ON
# (StandardTokenizer analog → possessive → stop → KStem; VERDICT item 3):
# engine (UDF-analyzed index + parity parser) vs oracle sharing the chain.

@pytest.fixture(scope="module")
def parity_indexes(spark, corpus_rows):
    from search_engines_spark.analysis import REFERENCE_PARITY
    from search_engines_spark.corpus import ext_id
    from search_engines_spark.indexer.build import (
        assign_dense_ids, build_index_frames_analyzed)
    from search_engines_spark.oracle import OracleIndex
    from search_engines_spark.parser import QueryParser
    src = spark.createDataFrame(
        corpus_rows,
        "repo string, path string, commit string, lang string, content string")
    d = assign_dense_ids(src, ["repo", "path", "commit"])
    from pyspark.sql import functions as F
    d = d.withColumn("ext_id", F.concat_ws("", F.col("repo"), F.lit(":"),
                                           F.col("path"), F.lit("@"),
                                           F.substring("commit", 1, 8)))
    sidx = build_index_frames_analyzed(d, REFERENCE_PARITY,
                                       text_col="content")
    oidx = OracleIndex(analyzer=REFERENCE_PARITY)
    for i, row in enumerate(corpus_rows):
        oidx.add(i, ext_id(row), {"body": row["content"]})
    oidx.finalize()
    return sidx, oidx, QueryParser(REFERENCE_PARITY)


PARITY_QUERIES = [
    ("bm25", "fickle creek farms"),            # farms -> farm stem match
    ("bm25", "#sum( parsers buffers overflowing )"),
    ("bm25", "#sum( #near/2( fickle creek ) creek )"),
    ("bm25", "#sum( #window/8( creeks farms ) )"),
    ("bm25", "#sum( #syn( creek farm ) voyager )"),
    ("rankedboolean", "#and( creeks farms )"),
    ("indri", "#and( fickle creeks farm )"),
    ("indri", "#wand( 0.7 #and( fickle creek farm ) 0.2 #and( "
              "#near/1( creek farm ) ) 0.1 #and( #window/8( fickle farm ) ) )"),
    ("indri", "#wsum( 0.5 creeks 0.3 farms 0.2 voyagers )"),
]


@pytest.mark.parametrize("model,q", PARITY_QUERIES)
def test_full_chain_rank_identity(model, q, parity_indexes):
    """Engine vs oracle with stemming + possessive + standard tokenizer
    ON — the reference-parity configuration end-to-end (the analyzer
    itself is Lucene-byte-identical per test_analyzer_parity)."""
    from search_engines_spark.analysis import REFERENCE_PARITY
    from search_engines_spark.oracle import run_query
    from search_engines_spark.parser import QueryParser
    sidx, oidx, parser = parity_indexes
    eng = Engine(sidx, model, analyzer=REFERENCE_PARITY)
    got = eng.search(q, k=50).collect()
    want = run_query(q, oidx, model, Models(), k=50, parser=parser)
    _assert_rank_identical(got, want)


def test_parity_stem_match_is_real(parity_indexes):
    """Sanity: a stemmed query form ('farms') must retrieve docs that
    contain only the base form ('farm') — the whole point of KStem."""
    from search_engines_spark.analysis import REFERENCE_PARITY
    sidx, oidx, parser = parity_indexes
    eng = Engine(sidx, "bm25", analyzer=REFERENCE_PARITY)
    got = eng.search("farms", k=10).collect()
    assert got, "stemmed query retrieved nothing"
