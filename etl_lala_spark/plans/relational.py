"""Core relational query surface (SURVEY.md §2.3/§2.4/§2.6/§2.7/§2.8/§2.12).

The reference implements no joins, windows, or set ops (its only aggregation
is the run summary in src/scripts/run-etl.ts:26-54, an O(n²) driver-side
loop); the target engine provides the full relational surface via Catalyst
built-ins. Every query here is declarative DataFrame/SQL so predicate
pushdown, column pruning, join selection (broadcast vs sort-merge) and AQE
apply unchanged at 100 TB.

Float discipline: double aggregates are rounded identically here and in the
oracle SQL so independent summation orders hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table, tiny_df
from etl_lala_spark.plans import register

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (SURVEY.md §7 step 1; mirrors
# reference capabilities P1-P6 filters + A1-A5 aggregates at scale).
# ---------------------------------------------------------------------------

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                       AS sum_qty,
  round(sum(l_extendedprice), 2)                                  AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4)                                       AS avg_qty,
  round(avg(l_extendedprice), 4)                                  AS avg_price,
  round(avg(l_discount), 4)                                       AS avg_disc,
  count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + 8-way agg + sort: the flagship pricing summary.

    One shuffle (partial+final hash agg); the shipdate filter and the 7-column
    projection push down into the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Multi-way joins
# ---------------------------------------------------------------------------

Q3_ORACLE = """
SELECT
  l.l_orderkey,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⨝ orders ⨝ lineitem + agg + deterministic top-10.

    customer is dimension-sized → broadcast; lineitem⨝orders is the only
    shuffle join. TakeOrderedAndProject handles the top-k without a full sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


Q5_ORACLE = """
SELECT
  r.r_name,
  n.n_name,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  count(*) AS n_lines
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN supplier s ON l.l_suppkey   = s.s_suppkey AND s.s_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY r.r_name, n.n_name
ORDER BY revenue DESC, n.n_name
"""


@register("q5_local_supplier_volume", oracle=Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join over the full fk chain lineitem→orders→customer→nation→
    region + supplier co-nation condition (TPC-H Q5 shape).

    region/nation/supplier/customer are all dimensions → broadcast; the plan
    has exactly one big shuffle (lineitem⨝orders) + final agg shuffle.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "join_semi_orders",
    oracle="""
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def join_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders having any line with quantity > 45."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "join_anti_customers",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS acctbal_sum
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent order.

    The anti join is also the reference's idempotent-load primitive
    (``competencias_existentes`` skip, src/datasus/datasus.service.ts:33).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_left_outer_parts",
    oracle="""
SELECT p.p_brand,
       count(*)            AS n_parts_x_lines,
       count(l.l_orderkey) AS n_matched_lines,
       round(sum(coalesce(l.l_quantity, 0)), 2) AS qty_sum
FROM part p
LEFT JOIN (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01') l
  ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
""",
)
def join_left_outer_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-aware aggregates (unmatched parts count 0)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts_x_lines"),
            F.count("l_orderkey").alias("n_matched_lines"),
            F.round(F.sum(F.coalesce(F.col("l_quantity"), F.lit(0))), 2).alias("qty_sum"),
        )
        .orderBy("p_brand")
    )


@register(
    "join_full_outer_halves",
    oracle="""
WITH h1 AS (
  SELECT o_custkey, count(*) AS n1 FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey
), h2 AS (
  SELECT o_custkey, count(*) AS n2 FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY o_custkey
)
SELECT coalesce(h1.o_custkey, h2.o_custkey) AS custkey,
       coalesce(h1.n1, 0) AS n_before,
       coalesce(h2.n2, 0) AS n_after
FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
ORDER BY custkey
""",
)
def join_full_outer_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-customer order counts from two date halves."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    h1 = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n1"))
    )
    h2 = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n2"))
    )
    return (
        h1.join(h2, "o_custkey", "full_outer")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.coalesce(F.col("n1"), F.lit(0)).alias("n_before"),
            F.coalesce(F.col("n2"), F.lit(0)).alias("n_after"),
        )
        .orderBy("custkey")
    )


@register(
    "join_range_part_qty",
    oracle="""
SELECT p.p_brand, count(*) AS n_pairs
FROM part p
JOIN lineitem l
  ON l.l_partkey = p.p_partkey
 AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
GROUP BY p.p_brand
ORDER BY p.p_brand
""",
)
def join_range_part_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (band) join condition: quantity within ±2 of part size.

    With the equi key present Catalyst plans a hash join and evaluates the
    band as a post-join filter — no nested-loop blowup at scale.
    """
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(p),
            (li.l_partkey == p.p_partkey)
            & (li.l_quantity >= p.p_size - 2)
            & (li.l_quantity <= p.p_size + 2),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Aggregation variants (reference A1-A7 generalized; SURVEY.md §2.4, §2.12)
# ---------------------------------------------------------------------------


@register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*)                  AS n_lines,
       CAST(sum(l_orderkey) AS BIGINT) AS orderkey_sum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (reference A2 count-distinct-tables generalized)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_lines"),
            F.sum("l_orderkey").alias("orderkey_sum"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "rollup_pricing",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       round(sum(l_extendedprice), 2) AS price_sum
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (absent in reference; SURVEY.md §2.12)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "cube_pricing",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       round(sum(l_quantity), 2) AS qty_sum
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "grouping_sets_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (spark.sql over a temp view)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# Set operations (reference S3 union + §2.7 completion)
# ---------------------------------------------------------------------------


@register(
    "setop_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers with both open and finished orders."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


@register(
    "setop_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
ORDER BY o_custkey
""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): 'O' customers that are not 'P' customers."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.subtract(b).orderBy("o_custkey")


@register(
    "setop_union_months",
    oracle="""
SELECT strftime(o_orderdate, '%Y%m') AS competencia, count(*) AS n_orders
FROM (
  SELECT * FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT * FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT * FROM orders WHERE o_orderstatus = 'P'
)
GROUP BY 1 ORDER BY 1
""",
)
def setop_union_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName fan-in of per-partition scans (reference S3 fan-out+union,
    src/datasus/datasus.service.ts:139-158) then per-month counts."""
    from functools import reduce

    o = load_table(spark, sf_dir, "orders")
    parts = [o.filter(F.col("o_orderstatus") == s) for s in ("O", "F", "P")]
    unioned = reduce(lambda x, y: x.unionByName(y), parts)
    return (
        unioned.groupBy(F.date_format("o_orderdate", "yyyyMM").alias("competencia"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy("competencia")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (reference O1-O3)
# ---------------------------------------------------------------------------


@register(
    "topk_parts_by_revenue",
    oracle="""
SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY l_partkey
ORDER BY revenue DESC, l_partkey
LIMIT 10
""",
)
def topk_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tiebreak (TakeOrderedAndProject)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_partkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Scalar function surface (reference §2.8: string/date/math/format scalars)
# ---------------------------------------------------------------------------


@register(
    "scalar_functions",
    oracle="""
SELECT
  o_orderkey,
  lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')        AS mes,
  CAST(year(o_orderdate) AS BIGINT)                        AS ano,
  strftime(o_orderdate, '%Y%m')                            AS competencia,
  upper(trim(o_orderpriority))                             AS prio_upper,
  lower(o_orderstatus)                                     AS status_lower,
  concat('PA', 'PE', strftime(o_orderdate, '%y%m'), '.dbc') AS arquivo,
  regexp_replace(concat('PA', 'PE', strftime(o_orderdate, '%y%m'), '.dbc'),
                 '\\.[^/.]+$', '')                          AS arquivo_sem_ext,
  regexp_extract(concat('url=https://datasus.gov/f/', o_orderkey, '.zip'),
                 'https?://[^"\\s\\]]+\\.zip', 0)            AS link,
  round(o_totalprice / 1048576, 6)                         AS price_mb,
  round(sqrt(o_totalprice), 4)                             AS price_sqrt,
  CAST(floor(o_totalprice) AS BIGINT)                      AS price_floor,
  substr(o_orderpriority, 1, 1)                            AS prio_code
FROM orders
WHERE o_orderkey <= 1000
ORDER BY o_orderkey
""",
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar parity (reference §2.8: lpad month formatting
    src/datasus/datasus.service.ts:75, trim/lower :163-164,398, regex URL
    extract :204-205, strip-extension :323, MB division :267)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    arquivo = F.concat(
        F.lit("PA"), F.lit("PE"), F.date_format("o_orderdate", "yyMM"), F.lit(".dbc")
    )
    return o.select(
        "o_orderkey",
        F.lpad(F.month("o_orderdate").cast("string"), 2, "0").alias("mes"),
        F.year("o_orderdate").cast("long").alias("ano"),
        F.date_format("o_orderdate", "yyyyMM").alias("competencia"),
        F.upper(F.trim(F.col("o_orderpriority"))).alias("prio_upper"),
        F.lower("o_orderstatus").alias("status_lower"),
        arquivo.alias("arquivo"),
        F.regexp_replace(arquivo, r"\.[^/.]+$", "").alias("arquivo_sem_ext"),
        F.regexp_extract(
            F.concat(F.lit("url=https://datasus.gov/f/"), F.col("o_orderkey"), F.lit(".zip")),
            r'https?://[^"\s\]]+\.zip',
            0,
        ).alias("link"),
        F.round(F.col("o_totalprice") / 1048576, 6).alias("price_mb"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
    ).orderBy("o_orderkey")


@register(
    "setop_intersect_all",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_totalprice > 50000
ORDER BY o_custkey
""",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: bag semantics — each customer kept min(multiplicity)
    times (the distinct form is `setop_intersect`)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 50000).select("o_custkey")
    return a.intersectAll(b).orderBy("o_custkey")


@register(
    "setop_except_all",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_totalprice > 50000
ORDER BY o_custkey
""",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: bag difference — multiplicities subtract instead of the
    distinct form's set removal."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 50000).select("o_custkey")
    return a.exceptAll(b).orderBy("o_custkey")


@register(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, min(strftime(o_orderdate, '%Y%m')) AS cohort
  FROM orders GROUP BY o_custkey
),
activity AS (
  SELECT f.cohort, strftime(o.o_orderdate, '%Y%m') AS active_month, o.o_custkey
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
)
SELECT cohort, active_month,
       count(DISTINCT o_custkey) AS active_customers
FROM activity
WHERE cohort <= '199606'
GROUP BY cohort, active_month
ORDER BY cohort, active_month
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, counted
    distinct in every month they stay active — the classic warehouse
    self-aggregate + join-back shape (first-touch attribution)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyyMM")
    firsts = o.groupBy("o_custkey").agg(F.min(month).alias("cohort"))
    return (
        o.join(firsts, "o_custkey")
        .filter(F.col("cohort") <= "199606")
        .groupBy("cohort", month.alias("active_month"))
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
        .orderBy("cohort", "active_month")
    )


@register(
    "diag_key_skew",
    oracle="""
WITH per_key AS (
  SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows, count(*) AS n_keys FROM per_key
)
SELECT key, n,
       round(n / total_rows, 6) AS row_share,
       round(n * n_keys / total_rows, 4) AS x_uniform
FROM per_key, totals
ORDER BY n DESC, key
LIMIT 10
""",
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic over orders.o_custkey (the key every
    customer join hashes on): hottest keys, their row share, and their
    multiple of the uniform expectation — the pre-flight check that decides
    between a plain shuffle join, AQE skew splitting, and salting."""
    from etl_lala_spark.operators.relational import key_skew_profile

    return key_skew_profile(
        load_table(spark, sf_dir, "orders"), "o_custkey", top_n=10
    )


_ROLLUP_GID_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
       count(*) AS n_orders
FROM {src}
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_prio,
         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register(
    "rollup_grouping_markers",
    oracle=_ROLLUP_GID_SQL.format(src="orders"),
)
def rollup_grouping_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with ``grouping()`` markers: the bit that distinguishes a
    genuine NULL dimension value from a subtotal row — without it, rollup
    output is ambiguous the moment a dimension is nullable. Identical SQL
    text runs on both engines."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gid")
    return spark.sql(_ROLLUP_GID_SQL.format(src="orders_gid"))


@register(
    "join_theta_price_tiers",
    oracle="""
SELECT o.o_orderkey, t.tier,
       round(o.o_totalprice, 2) AS o_totalprice
FROM (SELECT * FROM orders WHERE o_custkey < 100) o
JOIN (VALUES ('low', 0.0, 100000.0),
             ('mid', 100000.0, 250000.0),
             ('high', 250000.0, 1e9)) t(tier, lo, hi)
  ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
ORDER BY o.o_orderkey
""",
)
def join_theta_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure theta join — NO equi conjunct, inequality-only condition —
    classifying orders into irregular price tiers. With no hashable key a
    nested-loop is the only physical strategy; it is CORRECT here exactly
    because the tier side is a 3-row broadcast literal, so the 'loop' is
    3 comparisons per order inside codegen. The inverse situation (two big
    sides, no equi key) is the shape the engine's range/band queries avoid
    by construction (SCALE.md no-NLJ invariant)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    tiers = tiny_df(
        spark,
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("high", 250000.0, 1e9)],
        "tier string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(tiers),
            (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi),
        )
        .select("o_orderkey", "tier", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


@register(
    "reconcile_snapshots",
    oracle="""
WITH old AS (
  SELECT o_orderkey,
         md5(concat(
             CASE WHEN o_orderstatus IS NULL THEN '0'
                  ELSE '1' || md5(o_orderstatus) END,
             CASE WHEN o_totalprice IS NULL THEN '0'
                  ELSE '1' || md5(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                       AS VARCHAR)) END)) AS l_hash
  FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey,
         md5(concat(
             CASE WHEN o_orderstatus IS NULL THEN '0'
                  ELSE '1' || md5(o_orderstatus) END,
             CASE WHEN o_totalprice IS NULL THEN '0'
                  ELSE '1' || md5(CAST(CAST(CASE WHEN o_orderkey % 5 = 0
                                                 THEN o_totalprice * 2
                                                 ELSE o_totalprice END
                                            AS DECIMAL(18,2))
                                       AS VARCHAR)) END)) AS r_hash
  FROM orders WHERE o_orderkey % 7 <> 3
),
diff AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         CASE WHEN old.o_orderkey IS NULL THEN 'added'
              WHEN new.o_orderkey IS NULL THEN 'removed'
              WHEN l_hash <> r_hash THEN 'changed'
              ELSE 'unchanged' END AS diff_status,
         l_hash, r_hash
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT o_orderkey, diff_status, l_hash, r_hash
FROM diff WHERE diff_status <> 'unchanged'
ORDER BY o_orderkey
""",
)
def reconcile_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (`operators/relational.py:table_diff`): after
    a reprocessing/backfill run, classify every order as added / removed /
    changed between the old and new table versions. Snapshots are derived
    deterministically from `orders` (new drops every 7th-mod-3 key, gains
    the mod-10 keys old lacked, and doubles the price of every 5th key).

    Compared columns are hashed per side BEFORE the full-outer join, so
    the diff moves (key, hash) pairs only — never row payloads; doubles
    are pinned through DECIMAL(18,2) so both engines render identical
    hash inputs. At 100 TB this is one co-partitioned join on the key,
    exchange-free when both snapshots are bucketed on it."""
    from etl_lala_spark.operators.relational import table_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_cmp"),
    )
    new = o.where(F.col("o_orderkey") % 7 != 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .alias("price_cmp"),
    )
    return table_diff(
        old, new, key="o_orderkey", compare=["o_orderstatus", "price_cmp"]
    ).orderBy("o_orderkey")


@register(
    "cdc_merge_apply",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 10 <> 0
),
log AS (
  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_orderstatus,
         CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 2, 'D', o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2))
  FROM orders WHERE o_orderkey % 7 = 3
  UNION ALL
  SELECT o_orderkey, 3, 'I', o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2))
  FROM orders WHERE o_orderkey % 10 = 0
),
winner AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM log
  ) WHERE rn = 1
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.price
  FROM base b LEFT JOIN winner w USING (o_orderkey)
  WHERE w.o_orderkey IS NULL
  UNION ALL
  SELECT o_orderkey, o_orderstatus, price FROM winner WHERE op <> 'D'
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       CAST(sum(price) AS DECIMAL(28,2)) AS total_price
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge-apply (`operators/relational.py:merge_changelog`): roll a
    changelog of upserts/deletes into a snapshot with latest-wins-per-key
    semantics — the MERGE INTO primitive behind incremental loads (the
    reference's delete-competence-then-reinsert loop,
    src/datasus/datasus.service.ts:15-39, is its whole-partition special
    case). Base and changelog are derived deterministically from `orders`:
    the base misses every mod-10 key; the log updates every mod-5 key
    (seq 1, price doubled), deletes every 7th-mod-3 key (seq 2), and
    re-inserts the mod-10 keys (seq 3) — overlapping keys exercise the
    latest-wins reduction (e.g. a key that is both updated and deleted must
    end up deleted). The merged snapshot is summarized per order status so
    the driver hashes a small exact-decimal result.

    Scale: latest-wins is one map-side-combinable max_by agg on the key
    (changelog-sized shuffle), the apply is a co-partitioned left-anti join
    plus union — the base shuffles once, and not at all when bucketed on
    the key. Prices stay DECIMAL(18,2) end-to-end so both engines sum
    exactly — no float-order sensitivity in the hash."""
    from etl_lala_spark.operators.relational import merge_changelog

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )

    # All three op slices come out of ONE orders scan: each row emits a
    # conditional array of its changelog entries (null when the predicate
    # misses), exploded and null-filtered — a union of three per-op scans
    # would read the table three times per consumer (plan-audited: this
    # keeps the whole query at 3 scans — base + the changelog's two
    # consumers — instead of 7).
    def entry(pred, seq: int, op: str, p):
        return F.when(
            pred,
            F.struct(
                F.lit(seq).alias("seq"),
                F.lit(op).alias("op"),
                F.col("o_orderstatus").alias("o_orderstatus"),
                p.alias("price"),
            ),
        )

    entries = F.array(
        entry(F.col("o_orderkey") % 5 == 0, 1, "U",
              (F.col("o_totalprice") * 2).cast("decimal(18,2)")),
        entry(F.col("o_orderkey") % 7 == 3, 2, "D", price),
        entry(F.col("o_orderkey") % 10 == 0, 3, "I", price),
    )
    changelog = (
        o.select("o_orderkey", F.explode(entries).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("o_orderkey", "e.seq", "e.op", "e.o_orderstatus", "e.price")
    )
    merged = merge_changelog(base, changelog, key="o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum("price").cast("decimal(28,2)").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "rfm_customer_segments",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders
  GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_order, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INT) AS r_quartile,
         CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INT) AS f_quartile,
         CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_quartile
  FROM rfm
)
SELECT r_quartile, f_quartile, m_quartile,
       count(*) AS n_customers,
       round(avg(monetary), 4) AS avg_monetary,
       CASE WHEN r_quartile = 4 AND f_quartile = 4 THEN 'champion'
            WHEN r_quartile = 1 AND f_quartile >= 3 THEN 'at_risk_loyal'
            WHEN r_quartile = 1 THEN 'lost'
            ELSE 'regular' END AS segment
FROM scored
GROUP BY r_quartile, f_quartile, m_quartile
ORDER BY r_quartile, f_quartile, m_quartile
""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics composition:
    per-customer recency/frequency/monetary in one hash agg, quartile
    scores via ntile (explicit customer-key tiebreaks so both engines cut
    identical quartiles), rolled up to segment cells with a rule-based
    label.

    Scale note: the three ntile windows are global orderings of the
    per-customer AGGREGATE (one row per customer, not per order) — at
    100 TB the same scores come from approx percentile bounds broadcast
    as cut points, avoiding the global sort; the window form here is the
    exact gate for that approximation."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = (
        rfm.withColumn(
            "r_quartile",
            F.ntile(4).over(W.orderBy("last_order", "o_custkey")).cast("int"),
        )
        .withColumn(
            "f_quartile",
            F.ntile(4).over(W.orderBy("frequency", "o_custkey")).cast("int"),
        )
        .withColumn(
            "m_quartile",
            F.ntile(4).over(W.orderBy("monetary", "o_custkey")).cast("int"),
        )
    )
    segment = (
        F.when(
            (F.col("r_quartile") == 4) & (F.col("f_quartile") == 4),
            F.lit("champion"),
        )
        .when(
            (F.col("r_quartile") == 1) & (F.col("f_quartile") >= 3),
            F.lit("at_risk_loyal"),
        )
        .when(F.col("r_quartile") == 1, F.lit("lost"))
        .otherwise(F.lit("regular"))
    )
    return (
        scored.groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("monetary"), 4).alias("avg_monetary"),
        )
        .withColumn("segment", segment)
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    )
