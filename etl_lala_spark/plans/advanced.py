"""Advanced relational surface: as-of join, pivot/unpivot, subqueries,
HAVING, and the UDF/UDTF extension points (SURVEY.md §2.10/§2.12).

The as-of join runs one strategy, the window-based JVM path
(``operators/relational.py:asof_join_window``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_events, load_table
from etl_lala_spark.operators import relational as rel
from etl_lala_spark.plans import register

ASOF_ORACLE = """
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'login' THEN ts END IGNORE NULLS)
         OVER (PARTITION BY user_id
               ORDER BY ts, CASE WHEN event_type = 'login' THEN 0 ELSE 1 END
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_login_ts
FROM events
ORDER BY event_id
"""


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = load_events(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts")
    logins = (
        ev.filter(F.col("event_type") == "login")
        .select("user_id", "ts", F.col("ts").alias("login_ts"))
    )
    return left, logins


@register("asof_join_window", oracle=ASOF_ORACLE)
def asof_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join, window strategy: each event gets the user's most
    recent login at-or-before it. One shuffle on user_id, no Python."""
    left, logins = _asof_inputs(spark, sf_dir)
    out = rel.asof_join_window(left, logins, on="ts", by="user_id", right_cols=["login_ts"])
    return out.select("event_id", "user_id", "ts", F.col("asof_login_ts")).orderBy("event_id")


@register(
    "pivot_status_by_month",
    oracle="""
SELECT strftime(o_orderdate, '%Y%m') AS competencia,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY 1
ORDER BY competencia
""",
)
def pivot_status_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order-status counts as columns per competência."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyyMM").alias("competencia"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0)
        .orderBy("competencia")
    )


@register(
    "unpivot_metrics",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
ORDER BY l_returnflag, metric
""",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): wide per-flag aggregates to (flag, metric, value)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(2, 'sum_qty', sum_qty, 'sum_price', sum_price) AS (metric, value)",
    ).orderBy("l_returnflag", "metric")


@register(
    "having_heavy_orders",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, round(t.qty, 2) AS total_qty
FROM orders o
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) t ON t.l_orderkey = o.o_orderkey
ORDER BY o.o_orderkey
""",
)
def having_heavy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING feeding a join (TPC-H Q18 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    return (
        o.join(heavy, o.o_orderkey == heavy.l_orderkey)
        .select("o_orderkey", "o_orderdate", F.round("qty", 2).alias("total_qty"))
        .orderBy("o_orderkey")
    )


@register(
    "subquery_scalar_avg",
    oracle="""
SELECT c_mktsegment, count(*) AS n_above
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (SQL surface — spark.sql)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_above
        FROM customer_sq
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_sq)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@register(
    "subquery_correlated",
    oracle="""
SELECT l.l_partkey, count(*) AS n_small
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.4 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
GROUP BY l.l_partkey
ORDER BY l.l_partkey
""",
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery (TPC-H Q17 shape) — Catalyst decorrelates it into
    an aggregate + join; the reference has no subquery machinery at all."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql(
        """
        SELECT l.l_partkey, count(*) AS n_small
        FROM lineitem_sq l
        WHERE l.l_quantity < (
          SELECT 0.4 * avg(l2.l_quantity) FROM lineitem_sq l2
          WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY l.l_partkey
        ORDER BY l.l_partkey
        """
    )


@register(
    "udf_pandas_charge",
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charge_sum,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def udf_pandas_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas_udf in the projection (§2.10 UDF surface) —
    same arithmetic as the JVM path so the oracle still hash-matches; the
    real engine keeps UDFs out of hot paths, this query proves the boundary
    works and stays numerically identical."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def charge(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("c", charge("l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("c"), 2).alias("charge_sum"), F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


@register(
    "udtf_token_positions",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(generate_subscripts(ts, 1) - 1 AS INT) AS pos,
       unnest(ts) AS token
FROM toks ORDER BY doc_id, pos
""",
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+): one-to-many expansion of a document into
    (token, position) rows — the §2.10 UDTF extension point, same shape as
    archive expansion S6. Oracle: whitespace split + ordinality in DuckDB
    (Python str.split() == regex-\\s+ split with empties dropped)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split()):
                yield doc_id, i, tok

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("docs_udtf")
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM docs_udtf d, LATERAL tokenize_udtf(d.doc_id, d.text) t
        ORDER BY t.doc_id, t.pos
        """
    )


@register(
    "udaf_pandas_geomean",
    oracle="""
SELECT l_returnflag,
       round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean_price,
       count(*) AS n
FROM lineitem
WHERE l_extendedprice > 0
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def udaf_pandas_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF surface, SURVEY.md §2.10): a
    per-group geometric mean computed vectorized in Arrow batches.

    The UDF computes mean(log(x)) per group — a value Spark's built-ins
    could also express (exp(avg(ln))), which is exactly why it makes a good
    oracle-checked UDAF: the custom-aggregation machinery is verified
    against a pure-SQL formulation. Log-domain accumulation also keeps the
    partial sums in a numerically safe range at 100 TB group sizes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mean_log(v: pd.Series) -> float:
        import numpy as np

        return float(np.log(v.to_numpy()).mean())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with built-in
        # aggregates in one agg, so the count is a pandas UDAF too.
        return len(v)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.exp(mean_log("l_extendedprice")), 4).alias("geo_mean_price"),
            n_rows("l_extendedprice").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scd2_customer_history",
    oracle="""
WITH cur AS (SELECT c_custkey, c_mktsegment FROM customer),
out AS (
  SELECT c_custkey, c_mktsegment,
         CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
         TRUE AS is_current
  FROM cur WHERE c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, 0, 1, FALSE
  FROM cur WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, 'MOVED', 1, NULL, TRUE
  FROM cur WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000, 'NEW', 1, NULL, TRUE
  FROM cur WHERE c_custkey % 100 = 0
)
SELECT * FROM out ORDER BY c_custkey, valid_from
""",
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance (`operators/relational.py:scd2_apply`)
    driven by a deterministic update batch: customers with key % 7 == 0 move
    segment (close + reopen), key % 5 == 0 arrive as no-op updates (pass
    through), key % 100 == 0 spawn brand-new keys (insert). One equi-join on
    the key against the current slice is the only wide work."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = F.lit(1).cast("long").alias("effective_batch")
    upd_existing = cust.filter((k % 7 == 0) | (k % 5 == 0)).select(
        "c_custkey",
        F.when(k % 7 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        batch,
    )
    upd_new = cust.filter(k % 100 == 0).select(
        (k + 10000000).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        batch,
    )
    updates = upd_existing.unionByName(upd_new)
    out = rel.scd2_apply(base, updates, "c_custkey", ["c_mktsegment"])
    return out.orderBy("c_custkey", "valid_from")


_RCTE_SQL = """
WITH RECURSIVE chain (c_custkey, depth) AS (
  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey <= 3
  UNION ALL
  SELECT c.c_custkey, ch.depth + 1
  FROM customer c JOIN chain ch ON c.c_custkey = ch.c_custkey * 2
  WHERE ch.depth < 12
)
SELECT depth, count(*) AS n_nodes,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM chain GROUP BY depth ORDER BY depth
"""


@register("recursive_cte_chain", oracle=_RCTE_SQL)
def recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): iterative key-doubling
    walk over customer — the hierarchy/graph-traversal shape (org charts,
    BOM explosions) that needed driver-side loops before Spark 4. The SAME
    SQL text runs on DuckDB as the oracle. Each iteration is one equi-join
    of the frontier against the dimension; the frontier shrinks
    geometrically, so total work is O(edges), not O(depth x table)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_RCTE_SQL)


@register(
    "dq_lineitem_expectations",
    oracle="""
WITH s AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS v_qty,
         sum(CASE WHEN l_discount <= 0.05 THEN 0 ELSE 1 END) AS v_disc,
         sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS v_flag,
         sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS v_ship,
         sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS v_price
  FROM lineitem
)
SELECT rule,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations,
       round(n_violations / n_rows, 6) AS violation_rate
FROM (
  SELECT 'discount_le_5pct' AS rule, n_rows, v_disc AS n_violations FROM s
  UNION ALL SELECT 'price_positive', n_rows, v_price FROM s
  UNION ALL SELECT 'quantity_1_to_50', n_rows, v_qty FROM s
  UNION ALL SELECT 'returnflag_domain', n_rows, v_flag FROM s
  UNION ALL SELECT 'shipdate_not_null', n_rows, v_ship FROM s
)
ORDER BY rule
""",
)
def dq_lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem
    (`operators/relational.py:check_expectations`): five rules — range,
    threshold, set-membership, not-null, positivity — summarized in one
    aggregate over one scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel.check_expectations(
        li,
        {
            "quantity_1_to_50": F.col("l_quantity").between(1, 50),
            "discount_le_5pct": F.col("l_discount") <= 0.05,
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "shipdate_not_null": F.col("l_shipdate").isNotNull(),
            "price_positive": F.col("l_extendedprice") > 0,
        },
    )


_LATERAL_SQL = """
SELECT n_name, c_name, c_acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
ORDER BY n_name, c_acctbal DESC, c_name
"""


@register("join_lateral_topn", oracle=_LATERAL_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-standard `, LATERAL (...)`): per
    nation, its top-2 customers by balance — the same SQL text runs on
    DuckDB as the oracle.

    Plan shape: Catalyst decorrelates the per-row subquery into a
    `WindowGroupLimit` (partial top-k per group pushed below the shuffle,
    Spark 3.5's group-limit optimization) + one equi-join — NOT a
    nested-loop re-execution of the subquery per outer row, so the lateral
    form costs the same as the hand-written row_number() window at any
    scale."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


@register(
    "udtf_polymorphic_split",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
  FROM documents WHERE doc_id < 50
)
SELECT doc_id, ts[1] AS tok0, ts[2] AS tok1, ts[3] AS tok2
FROM toks ORDER BY doc_id
""",
)
def udtf_polymorphic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): the OUTPUT SCHEMA is
    computed at plan time from a literal argument — ``split_fixed(text, 3)``
    emits columns tok0..tok2; ``split_fixed(text, 5)`` would emit five —
    the dynamic-schema extension point the reference's converter implements
    with per-file column discovery (SURVEY.md §1.3), here moved into query
    planning so Catalyst sees real typed columns, not a map."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitFixed:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression or n.value is None:
                raise ValueError("split_fixed: n must be a non-null literal")
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"tok{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            toks = (text or "").split()
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("docs_poly_udtf")
    spark.udtf.register("split_fixed", SplitFixed)
    return spark.sql(
        """
        SELECT d.doc_id, s.*
        FROM docs_poly_udtf d, LATERAL split_fixed(d.text, 3) s
        ORDER BY d.doc_id
        """
    )


@register(
    "er_fuzzy_part_names",
    oracle="""
WITH names AS (
  SELECT p_name, count(*) AS n, split_part(p_name, ' ', 2) AS noun
  FROM part
  GROUP BY p_name
)
SELECT a.noun AS noun,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.n AS n_records_a, b.n AS n_records_b,
       a.n * b.n AS n_record_pairs
FROM names a JOIN names b
  ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY a.noun, name_a, name_b
""",
)
def er_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution (record linkage) over part names: candidate
    pairs blocked on the head noun, verified with Levenshtein distance ≤ 3.

    The scale trick is domain deduplication BEFORE the quadratic step: the
    corpus collapses to its distinct names + occurrence counts with one
    hash agg, the pairwise match runs on the (tiny) name domain, and
    ``n_record_pairs = n_a × n_b`` maps each surviving name-pair back to
    the record pairs it represents. At 100 TB with a low-cardinality match
    domain the comparison cost is O(|domain|² / blocks), independent of
    corpus row count — the same shape string-similarity joins use in
    production MDM/dedup systems. For high-cardinality domains the block
    key graduates to q-gram buckets (dedup_ngram_jaccard's inverted
    index)."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count("*").alias("n"))
        .select(
            "p_name",
            "n",
            # try_element_at → NULL (not ANSI ARRAY_INDEX_OUT_OF_BOUNDS) on
            # single-token names; coalesce to '' matches DuckDB split_part.
            F.coalesce(
                F.try_element_at(F.split("p_name", " "), F.lit(2)), F.lit("")
            ).alias("noun"),
        )
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= 3)
        .select(
            F.col("a.noun").alias("noun"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("dist"),
            F.col("a.n").alias("n_records_a"),
            F.col("b.n").alias("n_records_b"),
            (F.col("a.n") * F.col("b.n")).alias("n_record_pairs"),
        )
        .orderBy("noun", "name_a", "name_b")
    )


def _pagerank_oracle(iters: int = 5) -> str:
    """DuckDB replay of the fixed-iteration PageRank: the iteration count
    is a compile-time constant, so the loop UNROLLS into chained CTEs —
    no recursion needed, and each CTE is exactly one scatter-join +
    gather-agg, the same relational algebra the Spark plan runs. Float
    discipline: the damping constants are written as DOUBLE arithmetic
    ((1.0 - 0.85) computed in IEEE double, matching Python's
    ``F.lit(1.0 - 0.85)`` bit-for-bit — DuckDB's bare 0.15 literal is a
    DECIMAL whose nearest double is one ulp off), and the 6-dp output
    rounding absorbs the engines' differing partial-sum orders."""
    parts = [
        """
WITH trade AS (
  SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cust AS src, supp AS dst FROM trade
  UNION ALL
  SELECT supp AS src, cust AS dst FROM trade
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT n.id,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         + CAST(0.85 AS DOUBLE) * coalesce(g.s, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(r.pr / d.out_deg) AS s
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.id
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) g ON n.id = g.id
)"""
        )
    parts.append(
        f"""
SELECT id, round(pr, 6) AS pagerank
FROM r{iters} WHERE id LIKE 's%'
ORDER BY pagerank DESC, id LIMIT 20"""
    )
    return "".join(parts)


@register(
    "graph_supplier_pagerank",
    oracle=_pagerank_oracle(),
    doc="iterative PageRank over the customer-supplier trade graph",
)
def graph_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier importance via PageRank on the bipartite customer↔supplier
    trade graph (edges from lineitem⨝orders, both directions so no node
    dangles): which suppliers sit at the center of the purchase network,
    weighted by their customers' own connectedness — a signal plain
    degree counts miss.

    Iterative (join-scatter + agg-gather per round with lineage
    truncation, `operators/graph.py:pagerank`), but the iteration count
    is FIXED, so the DuckDB oracle replays it exactly by unrolling the
    five rounds into chained CTEs (`_pagerank_oracle`) — the 6-dp output
    rounding absorbs float-sum order differences between the engines
    (distributed partial-agg merge order is not bit-stable); pytest
    additionally pins mass conservation Σrank = #nodes. Scale: each
    round is two shuffles on uniform keys moving one double per
    edge/node; at 100 TB the edge list is the co-purchase projection kept
    pre-bucketed on src so the scatter join is exchange-free."""
    from etl_lala_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    trade = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    edges = trade.selectExpr("cust AS src", "supp AS dst").unionByName(
        trade.selectExpr("supp AS src", "cust AS dst")
    )
    ranks = pagerank(edges, iters=5)
    return (
        ranks.filter(F.col("id").startswith("s"))
        .select("id", F.round("rank", 6).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "id")
        .limit(20)
    )


@register(
    "sql_udf_charge_summary",
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS charge_sum,
       round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_disc_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sql_udf_charge_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDFs (`CREATE FUNCTION ... RETURNS ... RETURN expr`):
    the pricing arithmetic is named once as catalog functions and reused in
    SQL — unlike external UDFs these are *expressions*, so Catalyst
    inlines them into whole-stage codegen and the plan is identical to
    writing the formula inline (no Python boundary, no black box blocking
    pushdown). The oracle states the same formulas literally."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charge(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               round(sum(charge(l_extendedprice, l_discount, l_tax)), 2)
                 AS charge_sum,
               round(avg(disc_price(l_extendedprice, l_discount)), 4)
                 AS avg_disc_price,
               count(*) AS n
        FROM lineitem_sqludf
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "sql_scripting_threshold",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_above,
       round((SELECT avg(c_acctbal) FROM customer), 4) AS threshold
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (`BEGIN ... END` with DECLARE/SET): the
    compute-a-parameter-then-use-it ETL step written procedurally — the
    threshold lands in a session variable and parameterizes the final
    statement, whose result is the script's result. Replaces the
    reference's imperative orchestration glue (run-etl.ts) with in-engine
    SQL control flow; semantics pinned against the scalar-subquery
    oracle."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_script")
    return spark.sql(
        """
        BEGIN
          DECLARE threshold DOUBLE;
          SET threshold = (SELECT avg(c_acctbal) FROM customer_script);
          SELECT c_mktsegment,
                 count(*) AS n_above,
                 round(threshold, 4) AS threshold
          FROM customer_script
          WHERE c_acctbal > threshold
          GROUP BY c_mktsegment
          ORDER BY c_mktsegment;
        END
        """
    )
