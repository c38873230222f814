"""Arrow-UDF analyzer path: parity with the SQL tokenizer when the
chain is SQL-expressible; stemming variant behaves per Analyzer."""

import pytest

from search_engines_spark.analysis import Analyzer, build_postings_udf
from search_engines_spark.indexer.build import build_postings


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [(0, "the parser's tokens are tokenized quickly"),
            (1, "parsers parse parsing parsed"),
            (2, "buffer the buffers buffering")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F
    from search_engines_spark.analysis import SPARK_TOKENS_EXPR
    return df.withColumn("_tokens",
                         F.expr(SPARK_TOKENS_EXPR.format(col="text")))


def _pset(df):
    return {(r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
            for r in df.collect()}


def test_udf_matches_sql_path(spark, small_docs):
    """With the canonical (no-stem) analyzer, the Arrow-UDF build must be
    byte-identical to the whole-stage-codegen SQL build."""
    sql_out = _pset(build_postings(small_docs))
    udf_out = _pset(build_postings_udf(small_docs.drop("_tokens"),
                                       Analyzer()))
    assert udf_out == sql_out


def test_udf_postings_carry_doclen(spark, small_docs):
    """The UDF build inlines each posting's doclen, as the SQL build
    does; with the canonical analyzer the two agree."""
    def dl(df):
        return {(r["term"], r["doc_id"]): r["doclen"] for r in df.collect()}
    assert dl(build_postings_udf(small_docs.drop("_tokens"), Analyzer())) \
        == dl(build_postings(small_docs))


def test_udf_stemming_changes_terms(spark, small_docs):
    out = _pset(build_postings_udf(small_docs.drop("_tokens"),
                                   Analyzer(stem=True)))
    terms = {t for t, _ in out}
    # real Krovetz: parsers/parse/parsing/parsed all -> parse
    assert "parse" in terms
    assert "parsers" not in terms and "parser" not in terms
    assert out[("parse", 1)][0] == 4  # tf folds the whole paradigm
    assert "buffer" in terms          # buffers/buffering -> buffer
    # positions still reflect pre-stem token stream (stopword-inclusive):
    # buffer(1), [the(2) skipped], buffers(3)->buffer, buffering(4)->buffer
    assert out[("buffer", 2)][1] == [1, 3, 4]


def test_udf_possessive(spark, small_docs):
    out = _pset(build_postings_udf(small_docs.drop("_tokens"),
                                   Analyzer(strip_possessive=True)))
    # "parser's" tokenizes to parser + s; possessive 's dropped
    assert ("s", 0) not in out
    assert ("parser", 0) in out


def test_arrow_kernel_matches_sql_path(spark, small_docs):
    """The zero-shuffle mapInPandas kernel (`build_postings_arrow`) must
    be identical to the JVM build — tf, positions, AND inlined doclen
    (stopword-inclusive, `Idx.java:84-90`)."""
    from search_engines_spark.indexer.build import build_postings_arrow

    def full(df):
        return {(r["term"], r["doc_id"]):
                (r["tf"], list(r["positions"]), r["doclen"])
                for r in df.collect()}

    jvm = full(build_postings(small_docs))
    arrow = full(build_postings_arrow(small_docs.drop("_tokens")))
    assert arrow == jvm
    # doclen counts the stopwords ("the", "are") that emission skips
    assert arrow[("parser", 0)][2] == 7


def test_index_frames_arrow_builder(spark, small_docs):
    """build_index_frames(builder='arrow') produces the same queryable
    index as the default."""
    from search_engines_spark.engine.compile import Engine
    from search_engines_spark.indexer.build import build_index_frames
    from pyspark.sql import functions as F
    docs = (small_docs
            .withColumn("doclen", F.size("_tokens").cast("long"))
            .withColumn("ext_id", F.concat(F.lit("d"), F.col("doc_id")))
            .withColumn("sha256", F.sha2(F.col("text"), 256)))
    a = build_index_frames(docs, builder="arrow", cache=False)
    b = build_index_frames(docs, builder="jvm", cache=False)
    ra = Engine(a, "bm25").search("parser tokens", k=10).collect()
    rb = Engine(b, "bm25").search("parser tokens", k=10).collect()
    assert [(r["doc_id"], round(r["score"], 12)) for r in ra] == \
           [(r["doc_id"], round(r["score"], 12)) for r in rb]
