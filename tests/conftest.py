import pytest

from search_engines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_submitted(spark):
    """→ probe(group, fn) → (fn(), ids of the Spark jobs fn submitted).
    Each probe needs a job group name of its own: the status tracker
    keeps every job a group ever ran."""
    sc = spark.sparkContext

    def probe(group, fn):
        sc.setJobGroup(group, "job-count probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    return probe


@pytest.fixture(scope="session")
def py4j_calls(spark):
    """→ probe(fn) → (fn(), Py4J commands fn sent to the JVM from this
    thread). The gateway's object-release commands are not counted: the
    finalizer thread sends them whenever Python drops a proxy, so their
    count depends on garbage-collection timing, not on fn."""
    import threading
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def probe(fn):
        me, n = threading.get_ident(), 0

        def counting(command, *args, **kwargs):
            nonlocal n
            if threading.get_ident() == me and \
                    not command.startswith("m\nd\n"):
                n += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            del client.send_command
        return out, n
    return probe


@pytest.fixture(scope="session")
def corpus_rows():
    from search_engines_spark.corpus import generate_corpus
    return generate_corpus(n_docs=120, seed=42)


@pytest.fixture(scope="session")
def oracle_index(corpus_rows):
    from search_engines_spark.corpus import ext_id
    from search_engines_spark.oracle import OracleIndex
    idx = OracleIndex()
    for i, row in enumerate(corpus_rows):
        idx.add(i, ext_id(row), {"body": row["content"]})
    idx.finalize()
    return idx


@pytest.fixture(scope="session")
def spark_index(spark, corpus_rows):
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_code_corpus)
    src = spark.createDataFrame(
        corpus_rows, "repo string, path string, commit string, lang string, content string")
    # content is indexed under field name 'body' (reference default field)
    return build_index_frames(docs_from_code_corpus(src))
