"""Driver rows as JVM-local tables (search_engines_spark.literals).

`local_frame` is the package's one way to put driver rows into a query
plan: an inline VALUES table that plans as a LocalTableScan, where
`spark.createDataFrame(list)` would be a Python-RDD scan run by Python
workers in every job that reads it. The guard keeps the Python-RDD path
out of query set-up.
"""

import ast
import pathlib

import pytest

from search_engines_spark.literals import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "search_engines_spark"


def test_local_frame_round_trips_values(spark):
    rows = [("q'1", "a\\b", 3, 2 ** 40, 0.1, True),
            ("q2", None, None, -5, -1e-300, False)]
    schema = ("qid string, term string, mult int, df long, w double, "
              "geo boolean")
    df = local_frame(spark, rows, schema)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] \
        == [("qid", "string"), ("term", "string"), ("mult", "int"),
            ("df", "bigint"), ("w", "double"), ("geo", "boolean")]
    assert [tuple(r) for r in df.collect()] == rows
    assert "LocalTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_empty_and_bad_rows(spark):
    empty = local_frame(spark, [], "qid string, doc_id long")
    assert empty.columns == ["qid", "doc_id"] and empty.collect() == []
    with pytest.raises(ValueError):
        local_frame(spark, [("q1",)], "qid string, doc_id long")


def _list_fed_calls(tree: ast.AST) -> list[int]:
    """Line numbers of `*.createDataFrame(x, ...)` calls where x is
    anything but an empty list literal."""
    return [n.lineno for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and not (n.args and isinstance(n.args[0], ast.List)
                     and not n.args[0].elts)]


def test_query_setup_never_parallelizes_driver_lists():
    """Query set-up builds no Python-RDD tables: every module of
    engine/, and the read functions (`read_*`, `deleted_*`) of the
    segment store, call createDataFrame with nothing but an empty list
    placeholder."""
    bad = []
    for path in sorted((PKG / "engine").glob("*.py")):
        bad += [f"{path.name}:{ln}"
                for ln in _list_fed_calls(ast.parse(path.read_text()))]
    readers = []
    for name in ("segments.py", "merge.py"):
        tree = ast.parse((PKG / "indexer" / name).read_text())
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and \
                    fn.name.startswith(("read_", "deleted_")):
                readers.append(fn.name)
                bad += [f"{name}:{fn.name}:{ln}"
                        for ln in _list_fed_calls(fn)]
    assert {"read_segments", "read_segments_merged",
            "deleted_docs_df"} <= set(readers)
    assert not bad, f"createDataFrame over a driver list in {bad}"
