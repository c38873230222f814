"""Spark jobs per search call: a query file fetches its term statistics
in one round trip, a repeated call fetches no statistic at all, and
single-field Indri combiners read no doclens table."""

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


def test_parse_many_prefetches_once(spark_index, jobs_submitted):
    """A cold engine fetches the leaf statistics of a whole query file
    with one job, and parse() then finds every leaf cached."""
    spark_index.term_stats.count()   # the table itself is materialized
    eng = Engine(spark_index, "bm25")
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
    spark_index.term_stats.count()
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
