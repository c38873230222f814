"""Driver cost per search call, in Spark jobs and Py4J round trips: a
query file fetches its term statistics in one job, a repeated call
fetches no statistic at all, single-field Indri combiners read no
doclens table, and a steady query-file call plans its frame with a
bounded number of Py4J commands (its expressions are SQL strings, not
one Column per literal)."""

import pytest
from pyspark.sql import functions as F

from search_engines_spark.engine import Engine

# every query brings term leaves no other query has, so a per-query
# prefetch would cost one job per query
MIXED_BM25 = {
    "q1": "fickle creek farm",
    "q2": "#sum( #near/1( buffer executor ) index )",
    "q3": "#sum( #syn( stage token ) segment )",
    "q4": "delta cache parser",
    "q5": "#sum( #near/2( broadcast tree ) query )",
    "q6": "#sum( #syn( node merge ) column )",
}
# building a cold frame for MIXED_BM25: one term-stats collect, then one
# arm-stats collect whose plan has two exchanges (the zipper's doc_id
# repartition and the arm_id aggregate), which adaptive execution runs as
# three jobs
COLD_BUILD_JOBS = 4
# a repeated call: the result's jobs only (measured on the test session)
STEADY_MIXED_JOBS = 6


@pytest.fixture(scope="module")
def fresh_index(spark, corpus_rows):
    """An index no other test has queried: its statistics table was
    filled by the build, not by a query."""
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_code_corpus)
    src = spark.createDataFrame(
        corpus_rows[:60], "repo string, path string, commit string, "
                          "lang string, content string")
    idx = build_index_frames(docs_from_code_corpus(src))
    yield idx
    for df in (idx.postings, idx.doclens, idx.doc_map, idx.term_stats):
        df.unpersist()


def test_parse_many_prefetches_once(fresh_index, jobs_submitted):
    """The first query file of a fresh index fetches the leaf statistics
    of all its queries with one job — the build already filled the
    statistics table — and parse() then finds every leaf cached."""
    eng = Engine(fresh_index, "bm25")
    nodes, jobs = jobs_submitted(
        "parse-many-cold", lambda: eng.parse_many(list(MIXED_BM25.values())))
    assert len(nodes) == len(MIXED_BM25)
    assert len(jobs) == 1
    _, jobs = jobs_submitted("parse-warm",
                             lambda: eng.parse(MIXED_BM25["q3"]))
    assert jobs == []


def test_search_many_build_fetches_stats_once(spark_index, jobs_submitted):
    """Building the frame of a cold mixed BM25 file (bag-of-words,
    #near, #syn) submits one term-stats job and one arm-stats collect,
    whatever the number of queries."""
    eng = Engine(spark_index, "bm25")
    _, jobs = jobs_submitted("search-many-cold",
                             lambda: eng.search_many(MIXED_BM25, k=10))
    assert len(jobs) == COLD_BUILD_JOBS
    eng.close()


def test_search_many_steady_job_count(spark_index, jobs_submitted):
    """A repeated mixed BM25 file runs only its result's jobs: the
    derived-arm df comes from the engine's cache, so the executed plan
    holds no arm_id aggregate."""
    eng = Engine(spark_index, "bm25")
    want = eng.search_many(MIXED_BM25, k=10).collect()
    df = eng.search_many(MIXED_BM25, k=10)
    got, jobs = jobs_submitted("search-many-steady", df.collect)
    assert sorted(got) == sorted(want)
    assert len(jobs) == STEADY_MIXED_JOBS
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "keys=[arm_id" not in plan
    eng.close()


def _cached_scans(df) -> list:
    """Cache builders of the in-memory scans among the plan's leaves."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).relation().cacheBuilder()
            for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "InMemoryTableScan"]


def _reads(df, table) -> bool:
    want = table._jdf.queryExecution().withCachedData().cacheBuilder()
    return any(b.equals(want) for b in _cached_scans(df))


def test_single_field_indri_search_reads_no_doclens(spark_index):
    """A single-field Indri tree takes each candidate's doclen from its
    own posting rows, so its plan never scans the doclens table."""
    assert _reads(spark_index.doclens.where("doclen > 0"),
                  spark_index.doclens)
    eng = Engine(spark_index, "indri")
    for q in ("#and( fickle creek farm )",
              "#wsum( 0.5 creek 0.3 farm 0.2 voyager )",
              "#and( creek #near/1( creek farm ) )",
              "#wand( 0.5 #and( fickle creek ) 0.5 farm )"):
        top = eng.search(q, k=10)
        assert _reads(top, spark_index.postings), q
        assert not _reads(top, spark_index.doclens), q


# flat Indri (#and / #wsum / #wand over terms and a proximity arm), the
# shape of search_many's one-pass Indri plan
INDRI_FILE = {
    "i1": "#and( fickle creek farm )",
    "i2": "#wsum( 0.5 creek 0.3 farm 0.2 voyager )",
    "i3": "#wand( 0.6 #near/1( creek farm ) 0.4 buffer )",
    "i4": "#and( delta cache parser index )",
    "i5": "#wsum( 0.7 #syn( stage token ) 0.3 segment )",
    "i6": "#wand( 0.5 broadcast 0.5 query )",
}
DAAT_FILE = {
    "d1": "fickle creek farm",
    "d2": "buffer overflow guard",
    "d3": "delta cache parser",
    "d4": "broadcast tree query",
    "d5": "stage token segment",
    "d6": "node merge column index",
}
# Py4J commands that build a steady call's frame (no collect), measured
# on the test session. A planner that built one Column per literal sent
# 537 / 2067 / 2013 for these files.
PLAN_CALLS = {"bm25": 207, "indri": 269, "daat": 185}


@pytest.fixture(scope="module")
def store(spark, spark_index, tmp_path_factory):
    """A base store, one delta generation and one tombstone: the merged
    read the batch paths plan over."""
    from search_engines_spark.indexer.merge import (append_segments,
                                                    delete_docs)
    from search_engines_spark.indexer.segments import build_segments
    d = str(tmp_path_factory.mktemp("plan_store"))
    p = spark_index.postings
    build_segments(p.where(F.col("doc_id") < 100), spark_index.doclens, d,
                   num_buckets=8)
    append_segments(p.where(F.col("doc_id") >= 100), d, 8)
    delete_docs(spark, d, [3])
    return d


def _runner(spark_index, store, name):
    """→ fn(query file) → the lazy result of the named batch path."""
    eng = Engine(spark_index, "indri" if name == "indri" else "bm25")
    if name == "daat":
        eng.attach_segments(store, 8)
        return lambda queries: eng.search_daat_many(queries, k=10)
    return lambda queries: eng.search_many(queries, k=10)


FILES = {"bm25": MIXED_BM25, "indri": INDRI_FILE, "daat": DAAT_FILE}


@pytest.mark.parametrize("name", sorted(PLAN_CALLS))
def test_steady_file_plan_round_trips(spark_index, store, py4j_calls, name):
    """A repeated query-file call builds its frame within a pinned Py4J
    budget: filters, scores, the Indri default map and the rank tail
    are SQL strings, so the count tracks plan structure, not the
    number of terms, arms or queries."""
    run = _runner(spark_index, store, name)
    want = run(FILES[name]).collect()   # statistics and arm cache filled
    df, n = py4j_calls(lambda: run(FILES[name]))
    assert sorted(df.collect()) == sorted(want)
    assert n <= PLAN_CALLS[name], n


@pytest.mark.parametrize("name", sorted(FILES))
def test_quoted_qids_survive(spark_index, store, name):
    """A qid holding a quote and a backslash reaches the result
    unchanged, with the answers of a plain qid: every literal of the
    batch plans is escaped by `literals.str_lit`."""
    first, second = list(FILES[name].values())[:2]
    odd = {"it's\\q1": first, "x\\'y": second}
    plain = {"p0": first, "p1": second}
    run = _runner(spark_index, store, name)
    got = run(odd).collect()
    want = run(plain).collect()
    assert {r["qid"] for r in got} == set(odd)
    rename = dict(zip(plain, odd))
    assert sorted((r["qid"], r["doc_id"], r["score"], r["rank"])
                  for r in got) == \
        sorted((rename[r["qid"]], r["doc_id"], r["score"], r["rank"])
               for r in want)
