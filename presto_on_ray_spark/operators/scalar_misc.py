"""Remaining scalar families (SURVEY §2.8): URL, trig, bitwise, map
lambdas, exact percentiles."""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.suite import query

_URLS = [
    ("https://example.com:8443/docs/intro?x=1&y=2", 1),
    ("http://data.example.org/api/v2/items?id=42", 2),
    ("https://spark.apache.org/docs/latest/sql-programming-guide.html", 3),
]


@query(
    "url_functions",
    oracle="""
    SELECT CAST(id AS BIGINT) AS id,
           SPLIT_PART(url, '://', 1) AS protocol,
           SPLIT_PART(SPLIT_PART(SPLIT_PART(url, '://', 2), '/', 1), ':', 1) AS host,
           SPLIT_PART(SPLIT_PART(url, '://', 2) || '?', '?', 1) AS path_with_host,
           CASE WHEN CONTAINS(url, '?') THEN SPLIT_PART(url, '?', 2) ELSE NULL END AS query
    FROM (VALUES
      ('https://example.com:8443/docs/intro?x=1&y=2', 1),
      ('http://data.example.org/api/v2/items?id=42', 2),
      ('https://spark.apache.org/docs/latest/sql-programming-guide.html', 3)
    ) AS t(url, id)
    """,
)
def url_functions(spark, sf_dir):
    """Presto url_extract_protocol/host/path/query → Spark parse_url
    (SURVEY §2.8 URL family). The oracle recomputes each part with
    string functions, so the comparison checks real parsing; the
    path_with_host column canonicalizes the one representational
    difference (parse_url PATH excludes host, the string oracle keeps
    it — both sides build host+path explicitly)."""
    rows = local_relation(spark, _URLS, "url string, id long")
    return rows.select(
        "id",
        F.split(F.col("url"), "://")[0].alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.concat(
            F.parse_url("url", F.lit("AUTHORITY")),
            F.parse_url("url", F.lit("PATH")),
        ).alias("path_with_host"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
    )


@query(
    "trig_bitwise_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SIN(l_discount), 6) AS sin_d,
           ROUND(COS(l_discount), 6) AS cos_d,
           ROUND(ATAN2(l_quantity, l_extendedprice), 6) AS angle,
           ROUND(DEGREES(l_discount), 6) AS deg,
           ROUND(RADIANS(l_quantity), 6) AS rad,
           CAST(l_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(l_orderkey | 4096 AS BIGINT) AS with_bit,
           CAST(XOR(l_orderkey, l_partkey) AS BIGINT) AS keys_xor,
           CAST(BIT_COUNT(l_orderkey) AS BIGINT) AS popcount
    FROM lineitem WHERE l_orderkey <= 200
    """,
)
def trig_bitwise_functions(spark, sf_dir):
    """Trig (sin/cos/atan2/degrees/radians) + bitwise
    (and/or/xor/bit_count) — SURVEY §2.8 math family tail."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 6).alias("sin_d"),
        F.round(F.cos("l_discount"), 6).alias("cos_d"),
        F.round(F.atan2("l_quantity", "l_extendedprice"), 6).alias("angle"),
        F.round(F.degrees("l_discount"), 6).alias("deg"),
        F.round(F.radians("l_quantity"), 6).alias("rad"),
        F.col("l_orderkey").bitwiseAND(255).cast("long").alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(4096).cast("long").alias("with_bit"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).cast("long").alias("keys_xor"),
        F.bit_count("l_orderkey").cast("long").alias("popcount"),
    )


@query(
    "map_lambda_functions",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'b=2',         'a=11,b=12,c=13', 'A=1,B=2,C=3',  'a=2,b=4,c=6'),
      (2, 'a=2,c=4',     'a=12,b=13,c=14', 'A=2,B=3,C=4',  'a=4,b=6,c=8'),
      (3, 'b=4',         'a=13,b=14,c=15', 'A=3,B=4,C=5',  'a=6,b=8,c=10')
    ) AS t(n, even_entries, plus10_entries, upper_key_entries, doubled_entries)
    """,
)
def map_lambda_functions(spark, sf_dir):
    """Presto map lambdas — map_filter / transform_values /
    transform_keys / map_zip_with (SURVEY §2.8 map family) — rendered
    as canonical sorted entry strings. The oracle is the hand-computed
    expected relation over the same 3-row input, so every lambda's
    output is pinned exactly."""
    rows = spark.range(1, 4).select(F.col("id").cast("int").alias("n"))
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b"), F.lit("c")),
        F.array(F.col("n"), F.col("n") + 1, F.col("n") + 2),
    )

    def render(mcol):
        return F.array_join(
            F.transform(
                F.sort_array(F.map_entries(mcol)),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ",",
        )

    return rows.select(
        "n",
        render(F.map_filter(m, lambda k, v: v % 2 == 0)).alias("even_entries"),
        render(F.transform_values(m, lambda k, v: v + 10)).alias("plus10_entries"),
        render(F.transform_keys(m, lambda k, v: F.upper(k))).alias("upper_key_entries"),
        render(F.map_zip_with(m, m, lambda k, v1, v2: v1 + v2)).alias("doubled_entries"),
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_linestatus,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90,
           ROUND(QUANTILE_CONT(l_quantity, 0.25), 4) AS q1_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles (percentile_cont semantics) —
    the deterministic counterpart of approx_percentile; both engines
    use linear interpolation on the sorted values."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
    )


@query(
    "utf8_chr_functions",
    oracle="""
    SELECT n,
           CHR(CAST(64 + n AS INTEGER)) AS letter,
           CAST(ASCII(CHR(CAST(64 + n AS INTEGER))) AS INTEGER) AS code,
           DECODE(ENCODE('abc' || CAST(n AS VARCHAR))) AS roundtrip,
           CAST(OCTET_LENGTH(ENCODE('é' || CAST(n AS VARCHAR))) AS INTEGER) AS utf8_bytes
    FROM (SELECT UNNEST(RANGE(1, 6)) AS n)
    """,
)
def utf8_chr_functions(spark, sf_dir):
    """chr / codepoint(=ascii) / to_utf8(=encode) / from_utf8(=decode)
    (SURVEY §2.8 string tail). utf8_bytes shows the multibyte é."""
    ns = spark.range(1, 6).select(F.col("id").alias("n"))
    return ns.select(
        "n",
        F.chr(F.lit(64) + F.col("n")).alias("letter"),
        F.ascii(F.chr(F.lit(64) + F.col("n"))).cast("int").alias("code"),
        F.decode(F.encode(F.concat(F.lit("abc"), F.col("n").cast("string")), "utf-8"), "utf-8").alias("roundtrip"),
        F.octet_length(F.encode(F.concat(F.lit("é"), F.col("n").cast("string")), "utf-8")).cast("int").alias("utf8_bytes"),
    )


@query(
    "uuid_ip_functions",
    oracle="""
    SELECT ip,
           CAST(regexp_matches(ip, '^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$') AS BOOLEAN) AS is_valid_v4,
           SPLIT_PART(ip, '.', 1) AS first_octet,
           CASE WHEN SPLIT_PART(ip, '.', 1) = '10' THEN TRUE
                WHEN SPLIT_PART(ip, '.', 1) = '192' AND SPLIT_PART(ip, '.', 2) = '168' THEN TRUE
                ELSE FALSE END AS is_private
    FROM (VALUES ('10.0.0.1'), ('192.168.1.77'), ('8.8.8.8'), ('999.1.2.3'), ('not-an-ip'))
      AS t(ip)
    """,
)
def uuid_ip_functions(spark, sf_dir):
    """ipaddress-as-string helpers (SURVEY §2.8 exotic types → string +
    functions per §1.3 mapping): v4 validation, octet extraction,
    RFC1918 check. uuid() itself is nondeterministic → exercised in
    tests, not the oracle."""
    ips = local_relation(
        spark,
        [("10.0.0.1",), ("192.168.1.77",), ("8.8.8.8",), ("999.1.2.3",), ("not-an-ip",)],
        "ip string",
    )
    v4 = r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
    return ips.select(
        "ip",
        F.col("ip").rlike(v4).alias("is_valid_v4"),
        F.split_part(F.col("ip"), F.lit("."), F.lit(1)).alias("first_octet"),
        (
            (F.split_part(F.col("ip"), F.lit("."), F.lit(1)) == "10")
            | (
                (F.split_part(F.col("ip"), F.lit("."), F.lit(1)) == "192")
                & (F.split_part(F.col("ip"), F.lit("."), F.lit(2)) == "168")
            )
        ).alias("is_private"),
    )


@query(
    "scalar_presto_tail",
    oracle="""
    SELECT p_partkey,
           CAST(LEN(STRING_SPLIT(p_brand || '|' || p_type, '|')) AS INTEGER) AS n_parts,
           STRING_SPLIT(p_brand || '|' || p_type, '|')[1] AS first_part,
           CAST(LIST_CONTAINS(LIST_TRANSFORM(RANGE(1, 4), i -> p_size), p_size) AS BOOLEAN) AS has_size,
           PRINTF('%s/%d', p_brand, p_size) AS fmt,
           CAST(p_size AS VARCHAR) AS size_str
    FROM part WHERE p_partkey <= 100
    """,
)
def scalar_presto_tail(spark, sf_dir):
    """Presto-dialect tail through the FULL translation path
    (dialect.translate → Spark SQL): literal-delimiter split on '|'
    (n_parts == 2 proves the \\Q...\\E quoting — a regex split on '|'
    would explode every character), cardinality, array repeat/contains
    renames, format → format_string, split_to_map → str_to_map with
    map subscript. SURVEY §2.8 dialect fidelity."""
    from presto_on_ray_spark.dialect import translate

    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        translate(
            """
            SELECT p_partkey,
                   cardinality(split(p_brand || '|' || p_type, '|')) AS n_parts,
                   element_at(split(p_brand || '|' || p_type, '|'), 1) AS first_part,
                   contains(repeat(p_size, 3), p_size) AS has_size,
                   format('%s/%d', p_brand, p_size) AS fmt,
                   split_to_map(concat('brand=', p_brand, ',size=', CAST(p_size AS varchar)), ',', '=')['size'] AS size_str
            FROM part WHERE p_partkey <= 100
            """
        )
    )


@query(
    "statistical_functions",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 50 + 1 AS DOUBLE) / 100.0 AS p,
             1.96 * 1.96 AS z2,
             RADIANS(CAST(o_orderkey % 180 - 90 AS DOUBLE)) AS la1,
             RADIANS(CAST(o_orderkey % 360 - 180 AS DOUBLE)) AS lo1,
             RADIANS(CAST(o_custkey % 180 - 90 AS DOUBLE)) AS la2,
             RADIANS(CAST(o_custkey % 360 - 180 AS DOUBLE)) AS lo2,
             CAST(o_orderdate AS DATE) AS d
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT o_orderkey,
           CAST(isoyear(d) AS INTEGER) AS yow,
           ROUND((p + z2 / (2 * 100.0)
                  - 1.96 * SQRT((p * (1 - p) + z2 / (4 * 100.0)) / 100.0))
                 / (1 + z2 / 100.0), 6) AS wilson_lower,
           ROUND((p + z2 / (2 * 100.0)
                  + 1.96 * SQRT((p * (1 - p) + z2 / (4 * 100.0)) / 100.0))
                 / (1 + z2 / 100.0), 6) AS wilson_upper,
           ROUND(12742.02 * ASIN(LEAST(SQRT(
               POW(SIN((la2 - la1) / 2), 2)
               + COS(la1) * COS(la2) * POW(SIN((lo2 - lo1) / 2), 2)), 1.0)), 4)
             AS gcd_km
    FROM base
    """,
)
def statistical_functions(spark, sf_dir):
    """§2.8 math-tail members Presto 0.248 carries beyond direct Spark
    renames: ISO week-year (year_of_week), Wilson score interval
    bounds, and great_circle_distance — all pure expressions
    (functions/statistical.py). Coordinates/counts are synthesized from
    the keys so the oracle reproduces the exact same arithmetic. The
    normal-distribution pair (normal_cdf / inverse_normal_cdf — no
    closed form in either engine's SQL) and parse_duration are pinned
    against stdlib references in tests/test_statistical.py instead."""
    from presto_on_ray_spark.functions import statistical as S

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    lat1 = (F.col("o_orderkey") % 180 - 90).cast("double")
    lon1 = (F.col("o_orderkey") % 360 - 180).cast("double")
    lat2 = (F.col("o_custkey") % 180 - 90).cast("double")
    lon2 = (F.col("o_custkey") % 360 - 180).cast("double")
    s = (F.col("o_orderkey") % 50 + 1).cast("double")
    return o.select(
        "o_orderkey",
        S.year_of_week(F.col("o_orderdate")).alias("yow"),
        F.round(S.wilson_interval_lower(s, F.lit(100.0), F.lit(1.96)), 6).alias("wilson_lower"),
        F.round(S.wilson_interval_upper(s, F.lit(100.0), F.lit(1.96)), 6).alias("wilson_upper"),
        F.round(S.great_circle_distance(lat1, lon1, lat2, lon2), 4).alias("gcd_km"),
    )


@query(
    "sql_agg_surface",
    oracle="""
    WITH pc AS (
      SELECT o_orderstatus, o_orderpriority AS p, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    s1 AS (
      SELECT o_orderstatus,
             ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6) AS priority_entropy,
             ROUND(EXP(AVG(LN(c))), 6) AS gm_count,
             CAST(SUM(c) AS BIGINT) AS n_orders
      FROM pc GROUP BY 1
    ),
    rk AS (
      SELECT o_orderstatus, p,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY c DESC, p DESC) AS rn
      FROM pc
    ),
    s2 AS (
      SELECT o_orderstatus,
             STRING_AGG(p, ',' ORDER BY rn) FILTER (WHERE rn <= 2) AS top2_by_count
      FROM rk GROUP BY 1
    ),
    hc AS (
      SELECT o_orderstatus, o_orderpriority AS p, COUNT(*) AS n
      FROM orders WHERE o_orderkey <= 2000 GROUP BY 1, 2
    ),
    s3 AS (
      SELECT o_orderstatus,
             STRING_AGG(p || ':' || CAST(n AS VARCHAR), ',' ORDER BY p) AS hist
      FROM hc GROUP BY 1
    ),
    hrk AS (
      SELECT o_orderstatus, p,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, p DESC) AS rn
      FROM hc
    ),
    s4 AS (
      SELECT o_orderstatus,
             STRING_AGG(p, ',' ORDER BY rn) FILTER (WHERE rn <= 2) AS top2_hist
      FROM hrk GROUP BY 1
    )
    SELECT s1.o_orderstatus, priority_entropy, gm_count, n_orders,
           top2_by_count, hist, top2_hist
    FROM s1
    JOIN s2 USING (o_orderstatus)
    JOIN s3 USING (o_orderstatus)
    JOIN s4 USING (o_orderstatus)
    """,
)
def sql_agg_surface(spark, sf_dir):
    """The round-5 SQL-front-door aggregate surface through the FULL
    dialect path (translate -> Spark SQL), oracle-verified: entropy
    (log-2 over counts), geometric_mean, reduce_agg (sum fold), 3-arg
    max_by (top-n by value, composite unique rank so ordering is
    deterministic), histogram rendered as sorted key:count text, and
    map_top_n_keys over that histogram — the wrapper-over-aggregate
    composition. The histogram CTE reads a key-bounded slice
    (o_orderkey <= 2000): collect_list-backed histogram buffers the
    group, which is the documented bounded-demo tier; the scalable
    relational form is GROUP BY (dialect.py histogram note,
    agg_most_frequent)."""
    from presto_on_ray_spark.dialect import translate

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        translate(
            """
            WITH pc AS (
              SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
              FROM orders GROUP BY 1, 2
            ),
            s1 AS (
              SELECT o_orderstatus,
                     ROUND(entropy(c), 6) AS priority_entropy,
                     ROUND(geometric_mean(c), 6) AS gm_count,
                     reduce_agg(c, CAST(0 AS BIGINT),
                                (a, b) -> a + b, (a, b) -> a + b) AS n_orders,
                     array_join(max_by(o_orderpriority,
                                       c * 10 + CAST(substr(o_orderpriority, 1, 1) AS INTEGER),
                                       2), ',') AS top2_by_count
              FROM pc GROUP BY o_orderstatus
            ),
            s2 AS (
              SELECT o_orderstatus,
                     array_join(transform(array_sort(map_entries(histogram(o_orderpriority))),
                                          e -> e.key || ':' || CAST(e.value AS varchar)),
                                ',') AS hist,
                     array_join(map_top_n_keys(histogram(o_orderpriority), 2), ',') AS top2_hist
              FROM orders WHERE o_orderkey <= 2000
              GROUP BY o_orderstatus
            )
            SELECT s1.o_orderstatus, priority_entropy, gm_count, n_orders,
                   top2_by_count, hist, top2_hist
            FROM s1 JOIN s2 ON s1.o_orderstatus = s2.o_orderstatus
            """
        )
    )
