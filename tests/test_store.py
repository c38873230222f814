"""save_index / open_index round-trip (`Idx.open` analog, SURVEY.md §2.1):
a saved index must answer queries identically to the in-memory build,
with no rebuild, and plug into the runner via the reference's own
`indexPath` parameter."""

import pytest

from search_engines_spark.engine.compile import Engine
from search_engines_spark.indexer.store import (
    is_index_dir, open_index, save_index)

QUERIES = [
    ("bm25", "fickle creek farm"),
    ("bm25", "#sum( #near/2( fickle creek ) farm )"),
    ("indri", "#wand( 0.6 fickle 0.4 creek )"),
    ("rankedboolean", "#and( fickle creek )"),
]


@pytest.fixture(scope="module")
def saved_dir(spark_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxstore"))
    save_index(spark_index, d, num_partitions=4)
    return d


def _ranked(eng, model, q):
    return [(r["doc_id"], r["ext_id"], round(r["score"], 9))
            for r in eng.search(q, k=20).collect()]


def test_round_trip_rank_identity(spark, spark_index, saved_dir):
    assert is_index_dir(saved_dir)
    reopened = open_index(spark, saved_dir)
    # stats survive the round trip exactly
    assert reopened.corpus_stats == spark_index.corpus_stats
    for model, q in QUERIES:
        live = _ranked(Engine(spark_index, model), model, q)
        saved = _ranked(Engine(reopened, model), model, q)
        assert saved == live, (model, q)


def test_reopened_postings_carry_doclen(spark, saved_dir):
    reopened = open_index(spark, saved_dir)
    assert "doclen" in reopened.postings.columns  # fast path survives save


def test_index_requires_postings_doclen(spark_index):
    """Postings carry doclen: an Index over postings without it is
    rejected at construction instead of being joined to `doclens` at
    query time. A segments-only index (postings=None) stays valid."""
    import dataclasses
    with pytest.raises(ValueError, match="doclen"):
        dataclasses.replace(spark_index,
                            postings=spark_index.postings.drop("doclen"))
    assert dataclasses.replace(spark_index, postings=None).postings is None


def test_runner_accepts_index_path(spark, spark_index, saved_dir, tmp_path):
    from search_engines_spark.run import main
    qf = tmp_path / "q.txt"
    qf.write_text("1:fickle creek farm\n")
    out = tmp_path / "out.teIn"
    pf = tmp_path / "p.txt"
    pf.write_text(f"""indexPath={saved_dir}
queryFilePath={qf}
trecEvalOutputPath={out}
retrievalAlgorithm=BM25
runID=t
""")
    main(str(pf), spark=spark)
    lines = out.read_text().splitlines()
    assert lines
    # matches the in-memory engine on the same query
    live = _ranked(Engine(spark_index, "bm25"), "bm25", "fickle creek farm")
    got = [(ln.split()[2], float(ln.split()[4])) for ln in lines]
    assert got[:5] == [(e, pytest.approx(s, abs=1e-9))
                       for _, e, s in live[:5]]


def test_index_path_rejects_non_index(spark, tmp_path):
    from search_engines_spark.run import open_index as runner_open
    with pytest.raises(ValueError, match="not a saved index"):
        runner_open(spark, {"indexPath": str(tmp_path)})
