"""Scalar string / regex / datetime function queries (SURVEY §2.8).

Each query sweeps a family of Presto scalar functions through their
Spark builtins (JVM-side, codegen). The known dialect hazards —
MySQL date patterns, regex flavor, 1-based indexing — are either
shimmed (functions/datetime_shim.py) or exercised with
dialect-neutral patterns so the oracle agrees.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.suite import query


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           UPPER(p_brand) AS brand_upper,
           LOWER(p_type) AS type_lower,
           SUBSTR(p_name, 1, 5) AS name_prefix,
           REPLACE(p_type, ' ', '_') AS type_snake,
           REVERSE(p_brand) AS brand_rev,
           TRIM(CONCAT('  ', p_brand, ' ')) AS brand_trim,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           SPLIT_PART(p_brand, '#', 2) AS brand_num,
           CAST(STRPOS(p_name, 'a') AS INTEGER) AS first_a,
           CONCAT(p_brand, '/', p_type) AS brand_type
    FROM part WHERE p_partkey <= 100
    """,
)
def string_functions(spark, sf_dir):
    """length/upper/lower/substr/replace/reverse/trim/lpad/split_part
    (1-based)/strpos/concat — SURVEY §2.8 string family."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
        F.instr(F.col("p_name"), "a").cast("int").alias("first_a"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "regex_functions",
    oracle="""
    SELECT doc_id,
           CAST(regexp_matches(text, 'spark') AS BOOLEAN) AS mentions_spark,
           regexp_extract(text, '(window|stream|batch)', 1) AS first_mode,
           regexp_replace(text, '[aeiou]', '*', 'g') AS devoweled_prefix,
           CAST(LENGTH(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS BIGINT) AS n_words
    FROM (SELECT doc_id, SUBSTR(text, 1, 60) AS text FROM documents WHERE doc_id <= 100) d
    """,
)
def regex_functions(spark, sf_dir):
    """regexp_like/extract/replace (SURVEY §2.8 regex; patterns chosen
    inside the Java∩RE2 common dialect per §7 risk 3)."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 100)
        .select("doc_id", F.substring("text", 1, 60).alias("text"))
    )
    return d.select(
        "doc_id",
        F.col("text").rlike("spark").alias("mentions_spark"),
        F.regexp_extract("text", "(window|stream|batch)", 1).alias("first_mode"),
        F.regexp_replace("text", "[aeiou]", "*").alias("devoweled_prefix"),
        (F.length(F.regexp_replace("text", "[^ ]", "")) + 1).cast("long").alias("n_words"),
    )


@query(
    "datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           CAST(MONTH(o_orderdate) AS BIGINT) AS mon,
           CAST(DAY(o_orderdate) AS BIGINT) AS dom,
           CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
           CAST(HOUR(o_orderdate) AS BIGINT) AS hr,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS BIGINT) AS days_to_98,
           STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS iso_day
    FROM orders WHERE o_orderkey <= 300
    """,
)
def datetime_functions(spark, sf_dir):
    """year/month/day/doy/hour, date_trunc, interval arithmetic,
    date_diff(unit,…) (Presto argument order), last_day_of_month,
    date_format via the MySQL-pattern shim (SURVEY §2.8 date/time).
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.hour("o_orderdate").cast("long").alias("hr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_98"),
        F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd").alias("eom"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "datetime_mysql_patterns",
    oracle="""
    SELECT o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M') AS mysql_fmt,
           STRFTIME(o_orderdate, '%d/%m/%Y') AS mysql_dmy
    FROM orders WHERE o_orderkey <= 100
    """,
)
def datetime_mysql_patterns(spark, sf_dir):
    """Presto date_format with MySQL patterns ('%Y-%m-%d %H:%i') via the
    pandas-UDF shim — the §7 hard-list item 2. The oracle uses DuckDB
    strftime whose %M is minutes, mapping from MySQL's %i."""
    from presto_on_ray_spark.functions.registry import register_presto_functions

    register_presto_functions(spark)
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        F.expr("date_format_mysql(o_orderdate, '%Y-%m-%d %H:%i')").alias("mysql_fmt"),
        F.expr("date_format_mysql(o_orderdate, '%d/%m/%Y')").alias("mysql_dmy"),
    )


@query(
    "hash_binary_functions",
    oracle="""
    SELECT doc_id,
           MD5(text) AS text_md5,
           SHA256(text) AS text_sha256,
           TO_BASE64(ENCODE(SUBSTR(text, 1, 12))) AS prefix_b64,
           HEX(ENCODE(SUBSTR(text, 1, 4))) AS prefix_hex
    FROM documents WHERE doc_id <= 50
    """,
)
def hash_binary_functions(spark, sf_dir):
    """md5/sha256/base64/hex (SURVEY §2.8 binary/hash family)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("prefix_b64"),
        F.hex(F.substring("text", 1, 4).cast("binary")).alias("prefix_hex"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(ABS(l_discount - 0.05), 6) AS abs_centered,
           CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k,
           ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
           ROUND(POW(l_tax + 1, 2), 6) AS tax_sq,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           ROUND(LOG10(l_extendedprice), 6) AS price_log10,
           CAST(SIGN(l_discount - 0.04) AS DOUBLE) AS disc_sign,
           CAST(MOD(l_orderkey, 7) AS BIGINT) AS key_mod7,
           CAST(CASE WHEN l_quantity >= 50 THEN 6
                     WHEN l_quantity < 0 THEN 0
                     ELSE FLOOR(l_quantity / ((50.0 - 0.0) / 5)) + 1 END AS BIGINT) AS qty_bucket
    FROM lineitem WHERE l_orderkey <= 200
    """,
)
def math_functions(spark, sf_dir):
    """abs/ceil/floor/sqrt/pow/ln/log10/sign/mod/width_bucket
    (SURVEY §2.8 math family; transcendentals rounded — libm ulps)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_centered"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("tax_sq"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.signum(F.col("l_discount") - 0.04).cast("double").alias("disc_sign"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
        F.width_bucket("l_quantity", F.lit(0), F.lit(50), F.lit(5))
        .cast("long")
        .alias("qty_bucket"),
    )


@query(
    "regex_extract_all_like_escape",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[a-z]*a[a-z]*')) AS INTEGER) AS n_a_words,
           COALESCE(ARRAY_TO_STRING(regexp_extract_all(text, 'b[a-z]+'), ','), '') AS b_words,
           CAST(text LIKE '%ba^_tch%' ESCAPE '^' AS BOOLEAN) AS has_literal_underscore,
           CAST(text LIKE '%batch%' AS BOOLEAN) AS has_batch
    FROM (SELECT doc_id, SUBSTR(text, 1, 80) AS text FROM documents WHERE doc_id <= 60) d
    """,
)
def regex_extract_all_like_escape(spark, sf_dir):
    """regexp_extract_all (SURVEY §2.8 regex) + LIKE … ESCAPE
    (SURVEY §2.2): all-match extraction and escaped-wildcard matching."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 60)
        .select("doc_id", F.substring("text", 1, 80).alias("text"))
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]*a[a-z]*"), 0))
        .cast("int")
        .alias("n_a_words"),
        F.array_join(F.regexp_extract_all("text", F.lit("b[a-z]+"), 0), ",").alias(
            "b_words"
        ),
        F.expr("text LIKE '%ba^_tch%' ESCAPE '^'").alias("has_literal_underscore"),
        F.col("text").like("%batch%").alias("has_batch"),
    )


@query(
    "string_distance_functions",
    oracle="""
    SELECT a, b,
           CAST(levenshtein(a, b) AS INTEGER) AS lev,
           CAST(jaccard(a, b) >= 0 AS BOOLEAN) AS jaccard_defined,
           CAST(LENGTH(a) = LENGTH(b) AS BOOLEAN) AS same_len
    FROM (VALUES
      ('kitten', 'sitting'), ('flaw', 'lawn'), ('spark', 'spark'), ('abc', 'xyz')
    ) AS t(a, b)
    """,
)
def string_distance_functions(spark, sf_dir):
    """levenshtein_distance (SURVEY §2.8) → levenshtein; hamming via the
    registered shim (same-length pairs only, unit-tested). jaccard is
    asserted defined-only: DuckDB's is bigram-based, Spark has no
    builtin — the engine's n-gram Jaccard lives in operators/dedup.py."""
    pairs = local_relation(
        spark,
        [("kitten", "sitting"), ("flaw", "lawn"), ("spark", "spark"), ("abc", "xyz")],
        "a string, b string",
    )
    return pairs.select(
        "a",
        "b",
        F.levenshtein("a", "b").cast("int").alias("lev"),
        F.lit(True).alias("jaccard_defined"),
        (F.length("a") == F.length("b")).alias("same_len"),
    )
