"""Projections, filters, predicates, conditionals (SURVEY §2.2).

The reference's observed projection is ``select * from user``
(reference: README.md:92); the full predicate surface is the delegated
Presto grammar. Everything here is built-in Column expressions —
whole-stage-codegen'd, and the filters compile to parquet
PushedFilters (verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.suite import query


@query(
    "scan_project_filter",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice,
           CAST(p_retailprice * 1.1 AS DOUBLE) AS marked_up
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_name LIKE '%a%'
      AND p_retailprice IS NOT NULL
    """,
)
def scan_project_filter(spark, sf_dir):
    """Project + filter with BETWEEN / IN / LIKE / IS NOT NULL
    (SURVEY §2.2). All predicates reach the parquet scan."""
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_name").like("%a%")
        & F.col("p_retailprice").isNotNull()
    ).select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        (F.col("p_retailprice") * 1.1).cast("double").alias("marked_up"),
    )


@query(
    "predicate_null_semantics",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL THEN 'open' ELSE 'other' END AS bucket,
           COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'default') AS prio,
           CAST(o_totalprice IS NOT DISTINCT FROM NULL AS BOOLEAN) AS price_is_null
    FROM orders
    WHERE o_orderkey <= 100
    """,
)
def predicate_null_semantics(spark, sf_dir):
    """NULLIF / COALESCE / IS [NOT] DISTINCT FROM three-valued logic
    (SURVEY §2.2; Spark's <=> is IS NOT DISTINCT FROM)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") <= 100).select(
        "o_orderkey",
        F.when(F.nullif(F.col("o_orderstatus"), F.lit("O")).isNull(), "open")
        .otherwise("other")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("3-MEDIUM")), F.lit("default")).alias(
            "prio"
        ),
        F.col("o_totalprice").eqNullSafe(F.lit(None).cast("double")).alias("price_is_null"),
    )


@query(
    "conditional_case",
    oracle="""
    SELECT
      CASE WHEN o_totalprice < 50000 THEN 'small'
           WHEN o_totalprice < 150000 THEN 'medium'
           ELSE 'large' END AS size_bucket,
      CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'partial' END AS status_name,
      COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def conditional_case(spark, sf_dir):
    """Searched + simple CASE (SURVEY §2.2 conditionals)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            F.when(F.col("o_totalprice") < 50000, "small")
            .when(F.col("o_totalprice") < 150000, "medium")
            .otherwise("large")
            .alias("size_bucket"),
            F.when(F.col("o_orderstatus") == "O", "open")
            .when(F.col("o_orderstatus") == "F", "finished")
            .otherwise("partial")
            .alias("status_name"),
        )
        .groupBy("size_bucket", "status_name")
        .agg(F.count("*").alias("n"))
    )


@query(
    "cast_try_cast",
    oracle="""
    SELECT d AS raw,
           TRY_CAST(CASE WHEN regexp_matches(d, '^-?[0-9]+$') THEN d END AS INTEGER) AS as_int,
           TRY_CAST(d AS DOUBLE) AS as_double,
           CAST(LENGTH(d) AS INTEGER) AS len
    FROM (SELECT UNNEST(['42', '1.25', 'abc', '-7']) AS d)
    """,
)
def cast_try_cast(spark, sf_dir):
    """CAST vs TRY_CAST (strict vs null-on-failure, SURVEY §2.2) over an
    inline VALUES source (SURVEY §2.1). Note: string→int of '1.25'
    is NULL under both Spark try_cast and... differs in DuckDB (rounds);
    so only clean ints vs garbage are compared for as_int."""
    rows = local_relation(spark, [("42",), ("1.25",), ("abc",), ("-7",)], "d string")
    return rows.select(
        F.col("d").alias("raw"),
        F.expr("try_cast(CASE WHEN d RLIKE '^-?[0-9]+$' THEN d END AS int)").alias("as_int"),
        F.expr("try_cast(d AS double)").alias("as_double"),
        F.length("d").cast("int").alias("len"),
    )


@query(
    "quantified_comparison",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_acctbal > ALL (SELECT s_acctbal FROM supplier WHERE s_nationkey = 0)
      AND c_custkey <= ANY (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def quantified_comparison(spark, sf_dir):
    """x > ALL / <= ANY quantified subquery comparisons (SURVEY §2.2)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_acctbal > (SELECT COALESCE(MAX(s_acctbal), -1e308) FROM supplier WHERE s_nationkey = 0)
          AND c_custkey <= (SELECT MAX(o_custkey) FROM orders WHERE o_totalprice > 300000)
        """
    )


@query(
    "values_inline",
    oracle="""
    SELECT id, name, age, income FROM (VALUES
      (1, 'bob', 30, 100000),
      (2, 'alice', 35, 120000),
      (3, 'carol', 28, 90000)
    ) AS t(id, name, age, income)
    WHERE income > 95000
    """,
)
def values_inline(spark, sf_dir):
    """VALUES inline table (SURVEY §2.1) — replica of the reference's
    demo table user(id, name, age, income) (reference README.md:93-96)."""
    return spark.sql(
        """
        SELECT id, name, age, income FROM VALUES
          (1, 'bob', 30, 100000),
          (2, 'alice', 35, 120000),
          (3, 'carol', 28, 90000)
        AS t(id, name, age, income)
        WHERE income > 95000
        """
    )


@query(
    "readme_parity_sum",
    oracle="""
    SELECT CAST(SUM(income) AS BIGINT) AS total_income
    FROM (VALUES (1, 'bob', 30, 100000)) AS "user"(id, name, age, income)
    """,
)
def readme_parity_sum(spark, sf_dir):
    """The reference demo's second query: ``select sum(income) from
    user`` (reference README.md:102-110), over the same 1-row inline
    table (README.md:93-96)."""
    user = local_relation(
        spark, [(1, "bob", 30, 100000)],
        "id long, name string, age long, income long",
    )
    return user.agg(F.sum("income").cast("long").alias("total_income"))
