"""Adversarial edges: absent terms, stopword-only queries, degenerate
weights, k > corpus — engine and oracle must agree on every one."""

import pytest

from search_engines_spark.engine import Engine
from search_engines_spark.oracle import Models, run_query
from search_engines_spark.parser import QueryParseError, QueryParser


def _both(q, model, spark_index, oracle_index, k=10):
    got = Engine(spark_index, model).search(q, k=k).collect()
    want = run_query(q, oracle_index, model, Models(), k=k)
    assert [r["doc_id"] for r in got] == [d for d, _, _ in want], q
    for g, (_, _, s) in zip(got, want):
        assert g["score"] == pytest.approx(s, abs=1e-9)
    return got


def test_absent_term_bm25(spark_index, oracle_index):
    """OOV term contributes nothing; present terms still score."""
    got = _both("zzzqqq creek", "bm25", spark_index, oracle_index)
    assert len(got) > 0


def test_absent_term_alone(spark_index, oracle_index):
    assert _both("zzzqqq", "bm25", spark_index, oracle_index) == []


def test_absent_term_in_near(spark_index, oracle_index):
    assert _both("#sum( #near/2( zzzqqq creek ) )", "bm25",
                 spark_index, oracle_index) == []


def test_absent_term_indri_and(spark_index, oracle_index):
    """Indri #AND with one OOV arg: candidates = docs matching the other
    arg; OOV contributes its ctf=0 default (score crosses zero cleanly)."""
    got = _both("#and( zzzqqq creek )", "indri", spark_index, oracle_index)
    # ctf=0 → pmle=0 → the OOV factor is 0^(1/2)·… = 0 ⇒ all scores 0
    assert all(r["score"] == 0.0 for r in got)


def test_stopword_only_query_rejected(spark_index, oracle_index):
    for target in ("engine", "oracle"):
        with pytest.raises(QueryParseError):
            if target == "engine":
                Engine(spark_index, "bm25").parse("the of and")
            else:
                run_query("the of and", oracle_index, "bm25")


def test_stopword_arg_dropped_inside_op(spark_index, oracle_index):
    """#near/1(creek the farm) — 'the' is dropped by analysis, leaving
    #near/1(creek farm) (`QryParser.java:224-261` degenerate elim)."""
    p = QueryParser()
    node = p.parse("#sum( #near/1( creek the farm ) )")
    # single-arg #sum collapses (`QryParser.java:224-261`) → #score(#near)
    assert node.op == "score"
    near = node.args[0]
    assert near.op == "near" and len(near.args) == 2
    _both("#sum( #near/1( creek the farm ) )", "bm25",
          spark_index, oracle_index)


def test_k_exceeds_corpus(spark_index, oracle_index):
    got = _both("creek", "bm25", spark_index, oracle_index, k=100000)
    assert 0 < len(got) < 100000


def test_single_term_query_collapses(spark_index, oracle_index):
    """Bare one-term query: default-op wrap then single-arg collapse →
    score(term) root."""
    _both("voyager", "bm25", spark_index, oracle_index)
    _both("voyager", "rankedboolean", spark_index, oracle_index)
    _both("voyager", "indri", spark_index, oracle_index)


def test_wand_weight_skew(spark_index, oracle_index):
    """Extreme weight ratios still normalize by ΣW."""
    _both("#wand( 1000 creek 0.001 farm )", "indri",
          spark_index, oracle_index)
    _both("#wsum( 1000 creek 0.001 farm )", "indri",
          spark_index, oracle_index)


def test_near_n_zero_like(spark_index, oracle_index):
    """#near/1 adjacent-only vs a huge n that matches any ordered pair."""
    _both("#sum( #near/1( fickle creek ) )", "bm25",
          spark_index, oracle_index)
    _both("#sum( #near/1000( fickle creek ) )", "bm25",
          spark_index, oracle_index)


def test_engine_reuse_many_queries(spark_index, oracle_index):
    """One Engine across many distinct queries: the plan cache must never
    alias a GC'd AST (id() reuse) — every query matches the oracle, and
    every cache entry's key still matches its held node."""
    import gc
    eng = Engine(spark_index, "bm25")
    for q in ["creek", "farm voyager", "#sum( #near/1( creek farm ) )",
              "parser token", "buffer overflow guard", "probe"]:
        node = eng.parse(q)
        got = (eng.eval_sop(node).where("score >= 0").collect())
        want = run_query(q, oracle_index, "bm25", Models(), k=100000)
        assert {r["doc_id"]: r["score"] for r in got} == pytest.approx(
            {d: s for d, _, s in want}), q
        gc.collect()
    for key, (node, _) in eng._iop_cache.items():
        assert id(node) == key


def test_plan_cache_scoped_to_one_call(spark_index):
    """The Iop plan cache holds one call's ASTs and frames (and so their
    JVM plans): a long-lived engine must not keep earlier queries'."""
    eng = Engine(spark_index, "bm25")
    for i in range(20):
        q = f"#sum( #near/{i + 1}( creek farm ) fickle )"
        if i % 2:
            # a #SUM arm under #SUM keeps the per-query compiled plan
            # inside search_many, so its Iop frames enter the cache
            eng.search_many({"q": f"#sum( #sum( #near/{i + 1}( creek "
                                  f"farm ) creek ) fickle )",
                             "n": f"#sum( #syn( creek #near/{i}( "
                                  f"fickle farm ) ) )"}, k=5)
        else:
            eng.search(q, k=5)
        assert eng._iop_cache == {}, q


def test_empty_zipper_output(spark_index, oracle_index):
    """#WINDOW/1 over two distinct terms can never match (strict
    max - min < 1): the zipper sees the docs holding both terms and
    emits nothing, and the empty derived list scores nothing."""
    _both("#sum( #window/1( creek farm ) fickle )", "bm25",
          spark_index, oracle_index)
    _both("#and( #window/1( creek farm ) fickle )", "indri",
          spark_index, oracle_index)


@pytest.mark.parametrize("s", ["a'b", "a\\b", "it\\'s", "'", "\\", "ünï"])
def test_sql_string_literal_round_trips(spark, s):
    """Terms reach the compiled filters as SQL string literals."""
    from search_engines_spark.engine.compile import _q
    assert spark.sql(f"SELECT {_q(s)} AS v").first()["v"] == s


def test_nan_weight_is_a_term_not_weight(spark_index, oracle_index):
    """'nan'/'inf' must parse as terms, not weights
    (Java Double.parseDouble rejects lowercase forms)."""
    from search_engines_spark.parser import QueryParser
    node = QueryParser().parse("#wsum( 0.5 creek 0.5 farm )")
    assert node.weights == [0.5, 0.5]
    with pytest.raises(QueryParseError):
        # 'nan' is consumed as a TERM (not in corpus vocab is fine), but
        # then 'creek' has no weight → error, same as the reference
        QueryParser().parse("#wsum( nan creek )")


def test_zero_weight_sum_rejected(spark_index):
    with pytest.raises(QueryParseError):
        Engine(spark_index, "indri").parse("#wsum( 0 creek 0 farm )")


def test_trec_dummy_line_for_empty_query(spark, tmp_path):
    from search_engines_spark.io import write_trec_file
    df = spark.createDataFrame([("1", "docA", 2.0)],
                               "qid string, ext_id string, score double")
    out = tmp_path / "r.teIn"
    write_trec_file(df, str(out), run_id="t", all_qids=["1", "2"])
    lines = out.read_text().splitlines()
    assert lines[0].startswith("1 Q0 docA 1 ")
    assert lines[1] == "2 Q0 dummy 1 0 t"


def test_nested_iop_composition(spark_index, oracle_index):
    """Closed Iop algebra: NEAR over SYN over terms
    (`InvList` closure, SURVEY.md §2.3)."""
    _both("#sum( #near/3( #syn( fickle voyager ) #syn( creek probe ) ) )",
          "bm25", spark_index, oracle_index)


def test_search_many_all_oov_batch(spark_index):
    """Every query in the batch is bag-of-words with df=0 terms: the bow
    fast path contributes no frame and no per-query frame exists — must
    return an empty (qid, doc_id, ext_id, score, rank) frame, not crash
    (reduce() of empty iterable regression)."""
    eng = Engine(spark_index, "bm25")
    res = eng.search_many({"q1": "zzzunknownterm", "q2": "qqqmissing"})
    assert res.columns == ["qid", "doc_id", "ext_id", "score", "rank"]
    assert res.count() == 0


def test_search_many_mixed_oov_batch(spark_index, oracle_index):
    """One OOV query + one real query: the real one still ranks, the OOV
    one is simply absent (trec dummy lines are the runner's job)."""
    eng = Engine(spark_index, "bm25")
    res = eng.search_many({"q1": "zzzunknownterm", "q2": "fickle creek"})
    rows = res.collect()
    assert {r["qid"] for r in rows} == {"q2"}
    want = run_query("fickle creek", oracle_index, "bm25", Models(), k=100)
    got2 = sorted(rows, key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got2] == [d for d, _, _ in want]


def test_local_cluster_requires_executor_mem():
    """ADVICE: a local-cluster master without executor_mem silently got
    1g executors and OOM'd (exit 52) at runtime; now it fails fast."""
    import pytest
    from search_engines_spark.session import get_spark
    with pytest.raises(ValueError, match="executor_mem"):
        get_spark("t", master="local-cluster[2,16,16384]")
