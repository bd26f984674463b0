"""``session.local_frame``: driver-held rows enter plans as an Arrow-backed
``LocalRelation`` (a ``LocalTableScan``), never as a pickled Python RDD
(``Scan ExistingRDD``) whose every job starts Python workers — and it is
the engine's only way to turn Python rows into a DataFrame."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.types import StructType

from ds_ga1004_bigdata_project_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "ds_ga1004_bigdata_project_spark"

CASES = {
    "flat": ([(1, "a", 2.5), (2, "b", -1.0)],
             "id int, name string, score double"),
    "nested": ([([(0, [1.0, 2.0]), (1, [3.0, 4.0])],)],
               "cents array<struct<cid:int,cvec:array<double>>>"),
    "empty": ([], "file_name string, file_size bigint"),
    "none_valued": ([(None, 3, None), (0.75, None, [None, 1.5])],
                    "auc double, n_pos bigint, v array<double>"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_plans_as_local_table_scan(spark, case):
    rows, ddl = CASES[case]
    df = local_frame(spark, rows, ddl)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def _create_dataframe_callers() -> list[tuple[str, str]]:
    """(module, innermost enclosing function) of every
    ``.createDataFrame(`` call in the package."""
    found = []

    def visit(node, module: str, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((module, scope))
            visit(child, module,
                  child.name if isinstance(child, (ast.FunctionDef,
                                                   ast.AsyncFunctionDef))
                  else scope)

    for path in sorted(PACKAGE.rglob("*.py")):
        visit(ast.parse(path.read_text(), str(path)),
              str(path.relative_to(PACKAGE)), "<module>")
    return found


def test_only_local_frame_creates_dataframes_from_python_rows():
    assert _create_dataframe_callers() == [("session.py", "local_frame")]
