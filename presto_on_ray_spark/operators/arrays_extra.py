"""Array-function tail (SURVEY §2.8): set ops on arrays, zip, slice,
repeat, stepped sequences, comparator sorts, positions — plus the
Presto datetime arg-order shims (date_add/date_diff with a unit)."""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.suite import query


@query(
    "array_set_operations",
    oracle="""
    SELECT n,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(a || b)), ',') AS union_ab,
           ARRAY_TO_STRING(LIST_SORT(LIST_INTERSECT(a, b)), ',') AS intersect_ab,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(LIST_DISTINCT(a), x -> NOT LIST_CONTAINS(b, x))), ','), '') AS except_ab,
           CAST(LEN(LIST_INTERSECT(a, b)) > 0 AS BOOLEAN) AS overlaps_ab,
           CAST(LIST_POSITION(a, n) AS BIGINT) AS pos_of_n,
           ARRAY_TO_STRING(LIST_FILTER(a, x -> x <> n), ',') AS a_without_n
    FROM (
      SELECT n, RANGE(1, n + 3) AS a, RANGE(n, n + 4) AS b
      FROM (SELECT UNNEST(RANGE(1, 5)) AS n)
    )
    """,
)
def array_set_operations(spark, sf_dir):
    """array_union/intersect/except/arrays_overlap/array_position/
    array_remove (SURVEY §2.8) over constructed integer arrays."""
    ns = spark.range(1, 5).select(F.col("id").alias("n"))
    a = F.sequence(F.lit(1).cast("long"), F.col("n") + 2)
    b = F.sequence(F.col("n"), F.col("n") + 3)

    def render(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return ns.select(
        "n",
        render(F.array_sort(F.array_union(a, b))).alias("union_ab"),
        render(F.array_sort(F.array_intersect(a, b))).alias("intersect_ab"),
        render(F.array_sort(F.array_except(a, b))).alias("except_ab"),
        F.arrays_overlap(a, b).alias("overlaps_ab"),
        F.array_position(a, F.col("n")).cast("long").alias("pos_of_n"),
        render(F.array_remove(a, F.col("n"))).alias("a_without_n"),
    )


@query(
    "array_zip_slice_repeat",
    oracle="""
    SELECT n,
           ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, n + 1), i -> CAST(i AS VARCHAR) || ':' || CAST(i * 10 AS VARCHAR)), ',') AS zipped,
           ARRAY_TO_STRING(RANGE(1, n + 1)[2:3], ',') AS middle_slice,
           ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, 4), x -> 'w'), ',') AS repeated,
           ARRAY_TO_STRING(RANGE(0, 20, 5), ',') AS stepped,
           ARRAY_TO_STRING(LIST_REVERSE_SORT(RANGE(1, n + 1)), ',') AS desc_sorted
    FROM (SELECT UNNEST(RANGE(2, 6)) AS n)
    """,
)
def array_zip_slice_repeat(spark, sf_dir):
    """zip_with-as-zip / slice / array_repeat / sequence-with-step /
    comparator sort (SURVEY §2.8). The comparator sort is expressed
    with array_sort's 2-arg lambda comparator (descending)."""
    ns = spark.range(2, 6).select(F.col("id").alias("n"))
    seq = F.sequence(F.lit(1).cast("long"), F.col("n"))

    def render(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    zipped = F.zip_with(
        seq,
        F.transform(seq, lambda x: x * 10),
        lambda i, j: F.concat(i.cast("string"), F.lit(":"), j.cast("string")),
    )
    desc = F.array_sort(
        seq, lambda l, r: F.when(l < r, 1).when(l > r, -1).otherwise(0)
    )
    return ns.select(
        "n",
        F.array_join(zipped, ",").alias("zipped"),
        render(F.slice(seq, 2, 2)).alias("middle_slice"),
        F.array_join(F.array_repeat(F.lit("w"), 3), ",").alias("repeated"),
        render(F.sequence(F.lit(0).cast("long"), F.lit(15).cast("long"), F.lit(5).cast("long"))).alias("stepped"),
        render(desc).alias("desc_sorted"),
    )


@query(
    "datetime_presto_argorder",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_months,
           CAST(o_orderdate - INTERVAL 45 DAY AS TIMESTAMP) AS minus_days,
           CAST(DATE_DIFF('month', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS months_to_2000,
           CAST(DATE_DIFF('hour', o_orderdate, o_orderdate + INTERVAL 3 DAY) AS BIGINT) AS hours_3d,
           STRFTIME(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso8601
    FROM orders WHERE o_orderkey <= 150
    """,
)
def datetime_presto_argorder(spark, sf_dir):
    """Presto date_add('unit', n, ts) / date_diff('unit', a, b) /
    to_iso8601 — mapped to Spark timestampadd/timestampdiff (unit-ed,
    Spark 3.3+) and date_format. The registry exposes the same as
    presto_date_add/presto_date_diff for the dialect layer."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 150)
    return o.select(
        "o_orderkey",
        F.expr("timestampadd(MONTH, 3, o_orderdate)").alias("plus_months"),
        F.expr("timestampadd(DAY, -45, o_orderdate)").alias("minus_days"),
        # month-boundary count (DuckDB date_diff semantics), not Spark's
        # complete-months timestampdiff — the two differ for mid-month dates
        ((2000 - F.year("o_orderdate")) * 12 + (1 - F.month("o_orderdate")))
        .cast("long")
        .alias("months_to_2000"),
        F.expr(
            "timestampdiff(HOUR, o_orderdate, timestampadd(DAY, 3, o_orderdate))"
        ).cast("long").alias("hours_3d"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso8601"),
    )


@query(
    "lateral_subquery_sql",
    oracle="""
    SELECT c_custkey, max_price
    FROM customer,
    LATERAL (
      SELECT MAX(o_totalprice) AS max_price FROM orders WHERE o_custkey = c_custkey
    ) t
    WHERE c_custkey <= 40 AND max_price IS NOT NULL
    """,
)
def lateral_subquery_sql(spark, sf_dir):
    """True LATERAL correlated subquery through Spark SQL (SURVEY §2.3
    CROSS JOIN LATERAL) — not the window rewrite; Catalyst decorrelates
    it to a join."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, max_price
        FROM customer,
        LATERAL (
          SELECT MAX(o_totalprice) AS max_price FROM orders WHERE o_custkey = c_custkey
        ) t
        WHERE c_custkey <= 40 AND max_price IS NOT NULL
        """
    )


@query(
    "date_sequence",
    oracle="""
    SELECT start_month,
           ARRAY_TO_STRING(LIST_TRANSFORM(GENERATE_SERIES(CAST(start_month || '-01' AS DATE),
                                                          DATE '1997-06-01',
                                                          INTERVAL 1 MONTH),
                                          d -> STRFTIME(d, '%Y-%m')), ',') AS months_to_jun97,
           CAST(LEN(GENERATE_SERIES(CAST(start_month || '-01' AS DATE),
                                    DATE '1997-06-01', INTERVAL 1 MONTH)) AS INTEGER) AS n_months
    FROM (VALUES ('1997-01'), ('1997-04'), ('1997-06')) AS t(start_month)
    """,
)
def date_sequence(spark, sf_dir):
    """sequence(date, date, interval) (SURVEY §2.8 array family) —
    month series rendered as YYYY-MM strings."""
    rows = local_relation(
        spark, [("1997-01",), ("1997-04",), ("1997-06",)], "start_month string"
    )
    seq = F.sequence(
        F.to_date(F.concat(F.col("start_month"), F.lit("-01"))),
        F.lit("1997-06-01").cast("date"),
        F.expr("INTERVAL 1 MONTH"),
    )
    return rows.select(
        "start_month",
        F.array_join(F.transform(seq, lambda d: F.date_format(d, "yyyy-MM")), ",").alias(
            "months_to_jun97"
        ),
        F.size(seq).cast("int").alias("n_months"),
    )
