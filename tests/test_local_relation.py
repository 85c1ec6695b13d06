"""Driver-built relations (session.local_relation): the Arrow path
must yield the schema and rows of ``spark.createDataFrame(rows,
schema)`` for every schema the package builds, plan as a
``LocalRelation`` instead of a Python-RDD ``LogicalRDD``, and be the
package's ONLY way to build one."""

from __future__ import annotations

import ast
import datetime
import decimal
import pathlib

import pytest
from pyspark.sql import DataFrame

from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.stats import _STATS_SCHEMA
from presto_on_ray_spark.streaming.classifier import _SCORED_SCHEMA

PKG = pathlib.Path(__file__).resolve().parent.parent / "presto_on_ray_spark"

# (rows, DDL, column names) per schema a call site passes; where the
# site passed column names (``names`` set), the DDL must be exactly
# what inference over those rows yields.
CASES = [
    ([("spark_catalog",)], "Catalog STRING", None),
    ([("default",)], "Schema STRING", None),
    ([("lineitem",)], "Table STRING", None),
    (
        [("l_orderkey", "bigint", "", "")],
        "Column STRING, Type STRING, Extra STRING, Comment STRING",
        None,
    ),
    ([("CREATE TABLE t (\n   a bigint\n)",)], "`Create Table` STRING", None),
    ([(3,)], "rows BIGINT", None),
    ([(60175.0,)], "rows DOUBLE", None),
    ([(True,)], "Valid BOOLEAN", None),
    (
        [("file:/x", 1, 2, 600, 1, "a in [1, 2]"),
         ("output-table: t", None, None, None, None, "")],
        "input_location STRING, files INT, row_groups INT, "
        "rows BIGINT, row_groups_pruned INT, pushed_ranges STRING",
        None,
    ),
    ([("== Physical Plan ==",)], "`Query Plan` STRING", None),
    ([("query_max_run_time", "1h")], "name STRING, value STRING", None),
    ([(1, "unknown")], "position INT, type STRING", None),
    ([("a", "bigint")], "column_name STRING, type STRING", None),
    (
        [("a", None, 5.0, 0.0, None, "1", "9"),
         (None, None, None, None, 10.0, None, None)],
        _STATS_SCHEMA,
        None,
    ),
    ([(1, 3, -0.5, False)], _SCORED_SCHEMA, None),
    ([("1997-01",)], "start_month string", ["start_month"]),
    ([("42",), ("abc",)], "d string", ["d"]),
    (
        [(1, "bob", 30, 100000)],
        "id long, name string, age long, income long",
        ["id", "name", "age", "income"],
    ),
    ([("kitten", "sitting")], "a string, b string", ["a", "b"]),
    ([("https://example.com/x?y=1", 1)], "url string, id long", ["url", "id"]),
    ([("10.0.0.1",)], "ip string", ["ip"]),
    ([("src0", 5)], "source STRING, w INT", None),
    ([(0, "data")], "qid long, term string", None),
    ([(0, 7), (4096, -3)], "bucket long, wnum long", None),
    (
        [(1, 12, 34, 56, True)],
        "e long, err long, wsum long, wdot long, best boolean",
        None,
    ),
    (
        [(0, 2, [0.25, -1.5])],
        "qid long, cell long, q_emb array<double>",
        ["qid", "cell", "q_emb"],
    ),
    ([(0, 1, [3, -4])], "j int, c int, cw array<bigint>", None),
    ([(17,)], "vec_id long", None),
    ([(0, [1, 2, 3])], "cell long, cv array<bigint>", None),
    ([(1, 5, 42)], "seed_rank int, vec_id long, mind long", None),
    # the edge types the helper must carry like the list path
    ([], "bucket long, wnum long", None),
    ([(None, None, None)], "a string, b long, c array<bigint>", None),
    ([([1, None, 3],), ([],)], "arr array<bigint>", None),
    (
        [(decimal.Decimal("12.34"),), (decimal.Decimal("-0.01"),)],
        "d decimal(10,2)",
        None,
    ),
    ([(datetime.date(1997, 6, 1),), (None,)], "d date", None),
    (
        [(datetime.datetime(2020, 1, 2, 3, 4, 5, 6),)],
        "ts timestamp",
        None,
    ),
]


@pytest.mark.parametrize(
    "rows,ddl,names", CASES, ids=[c[1][:48] for c in CASES]
)
def test_local_relation_matches_list_path(spark, rows, ddl, names):
    got = local_relation(spark, rows, ddl)
    want = spark.createDataFrame(rows, names or ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()


def test_local_relation_takes_a_struct_type(spark):
    schema = spark.createDataFrame([], "a string, n int").schema
    got = local_relation(spark, [("x", 1)], schema)
    assert got.schema == schema
    assert got.collect() == spark.createDataFrame([("x", 1)], schema).collect()


def test_no_create_dataframe_outside_local_relation():
    """Every driver-built relation in the package goes through
    local_relation: a list ``createDataFrame`` anywhere else would plan
    a Python-RDD scan again."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        if path.name == "session.py":
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.FunctionDef)
                    and node.name == "local_relation"
                ):
                    allowed |= {
                        n.lineno for n in ast.walk(node) if hasattr(n, "lineno")
                    }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.lineno not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == []


def test_classifier_relations_plan_as_local_relations(spark, sf_dir, monkeypatch):
    """classifier_train's weights and every epoch's broadcast weight
    table are LocalRelations, and no job text_classifier_distilled
    runs scans a Python RDD (``LogicalRDD`` / ``ExistingRDD``). The
    distributed epoch tier is forced: the driver-local tier builds no
    per-epoch weight tables."""
    from presto_on_ray_spark import session
    from presto_on_ray_spark.operators import textstats

    monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", 0)

    # every job the key runs is a collect() or count(); record the
    # executed plan of each (the session's concrete DataFrame class
    # carries the implementations)
    plans: list[str] = []
    impl = type(spark.range(0))
    for name in ("collect", "count"):
        orig = getattr(impl, name)

        def run(self, _orig=orig):
            out = _orig(self)
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return out

        monkeypatch.setattr(impl, name, run)
    built: list[DataFrame] = []

    def recording_local_relation(*args):
        df = local_relation(*args)
        built.append(df)
        return df

    monkeypatch.setattr(textstats, "local_relation", recording_local_relation)

    res = textstats.text_classifier_distilled(spark, sf_dir)
    res.collect()
    monkeypatch.undo()

    # epoch weights + final weights, all LocalRelations
    assert len(built) >= 2
    for df in built:
        assert df._jdf.queryExecution().optimizedPlan().toString().startswith(
            "LocalRelation"
        )
    # each epoch's gradient job and the scoring audit broadcast the
    # weight table as a driver-local scan
    weight_plans = [p for p in plans if "wnum" in p]
    assert weight_plans
    for p in weight_plans:
        assert "BroadcastExchange" in p and "LocalTableScan [bucket" in p, p
    for p in plans:
        assert "LogicalRDD" not in p and "ExistingRDD" not in p, p
