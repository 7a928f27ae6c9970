"""Relational core operators (SURVEY.md §2.3 R1–R12, R16–R21).

Design notes (100 TB posture):
- All queries are single declarative DataFrame plans — Catalyst applies
  predicate pushdown, column pruning, join selection and AQE freely.
- Dimension sides of joins are explicitly broadcast when they are
  bounded-size by schema design (region/nation/supplier); fact-fact
  joins shuffle on their equi-keys and rely on AQE skew handling.
- Double aggregates are rounded at the output boundary (2–6 decimals)
  so results are stable under any summation order — cross-partition
  float reduction is otherwise non-deterministic at scale.

The reference implements none of these (SURVEY.md §2.2): its only query
surface is the parquet read-back at Main.scala:39-42. This module IS
the query capability layer the reference delegates wholesale to Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..sources import load_table
from ..storage import fixture_base
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# R1 scan
# --------------------------------------------------------------------------
@query(
    "scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan (Main.scala:40 equivalent)."""
    return _t(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "scan_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+CSV source: write `nation` through the header+quoteAll CSV
    sink (Proof.scala:140-145 options), scan it back with an explicit
    schema, and hash-match the original table — the sink and source
    are inverses."""
    import hashlib
    import os
    import tempfile

    from ..ingest.sinks import write_csv
    from ..sources.formats import read_csv

    n = _t(spark, sf_dir, "nation")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_csv_rt_{tag}")
    write_csv(n, path, mode="overwrite")
    return read_csv(spark, path, n.schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "scan_jsonl_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source round-trip on `supplier` (explicit schema on
    read — no inference pass)."""
    import hashlib
    import os
    import tempfile

    from ..sources.formats import read_jsonl, write_jsonl

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_jsonl_rt_{tag}")
    write_jsonl(s, path)
    return read_jsonl(spark, path, s.schema)


# --------------------------------------------------------------------------
# R2 projection
# --------------------------------------------------------------------------
@query(
    "project",
    oracle="""
    SELECT p_partkey, p_name,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST('1.1' AS DECIMAL(2,1))
                AS DOUBLE) AS uplifted_price
    FROM part
    """,
)
def project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + computed column: only 3 columns reach the scan.
    Money math in exact DECIMAL, surfaced as double."""
    uplift = F.col("p_retailprice").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(2,1)")
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        uplift.cast("double").alias("uplifted_price"),
    )


# --------------------------------------------------------------------------
# R3 filter with AND/OR/IN/LIKE — all pushdown-eligible
# --------------------------------------------------------------------------
@query(
    "filter_predicate",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'O' AND o_totalprice > 150000.0)
       OR (o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey % 10 = 3)
       OR o_orderpriority LIKE '%MEDIUM%'
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate: AND/OR/comparison/IN/LIKE/modulo."""
    o = _t(spark, sf_dir, "orders")
    cond = (
        ((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000.0))
        | (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & (F.col("o_orderkey") % 10 == 3))
        | F.col("o_orderpriority").like("%MEDIUM%")
    )
    return o.filter(cond).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------------
# R4 inner equi-join (fact–dim; Catalyst/AQE picks broadcast vs SMJ)
# --------------------------------------------------------------------------
@query(
    "join_inner_equi",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


# --------------------------------------------------------------------------
# R5 outer joins
# --------------------------------------------------------------------------
@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 right outer: every customer row survives; order columns NULL
    where no qualifying order exists (mirror of join_left_outer)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.s_suppkey
    FROM (SELECT * FROM nation WHERE n_regionkey <= 2) n
    FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") <= 2)
    s = _t(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey"
    )


# --------------------------------------------------------------------------
# R6 semi / anti joins — the idiomatic form of the reference's
# idempotency TODO (Proof.scala:225-234): "already processed" is a
# left-anti join against the sink's key set.
# --------------------------------------------------------------------------
@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — completes the reference's verificateIntoParquet
    stub (Proof.scala:226-229) as a distributed set difference."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# R7 explicit broadcast join — dims (nation, region) are bounded-size;
# at 100 TB the fact side never shuffles for these.
# --------------------------------------------------------------------------
@query(
    "join_broadcast",
    oracle="""
    SELECT n.n_name, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name <> 'EUROPE'
    GROUP BY n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") != "EUROPE")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# R8 theta/range join: equi key + range residual. Spark plans SMJ/BHJ on
# the equi part with the range as a post-join filter — never a pure BNLJ.
# --------------------------------------------------------------------------
@query(
    "join_theta_range",
    oracle="""
    WITH topsup AS (
      SELECT s_suppkey, s_nationkey, s_acctbal FROM (
        SELECT s_suppkey, s_nationkey, s_acctbal,
               row_number() OVER (PARTITION BY s_nationkey
                                  ORDER BY s_acctbal DESC, s_suppkey) AS r
        FROM supplier
      ) WHERE r <= 2
    )
    SELECT s.s_suppkey, c.c_custkey,
           CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) - CAST(c.c_acctbal AS DECIMAL(18,2))
                AS DOUBLE) AS bal_gap
    FROM topsup s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join with a BOUNDED build side: top-2 suppliers per
    nation (by acctbal, suppkey-tiebroken) against every same-nation
    customer with a lower balance. The equi key (nationkey) has only
    ~25 values, so an UNBOUNDED theta join's output is quadratic-per-
    nation — measured 21-29x on a 10x sf1 probe when this key joined
    all suppliers. Bounding the build side to a fixed 2·|nations| rows
    makes the build broadcastable at ANY scale and the output linear
    in the probe (customer) side — the shape a theta join must take
    at 100 TB. The didactic unbounded form lives on only in
    tests/test_plan_shapes.py as a non-registered plan-shape check
    (Spark plans equi+range as SMJ/BHJ with a range residual, never a
    pure BNLJ). Reference parity: Proof.scala has no joins at all;
    this is engine surface from SURVEY.md §2.3 R8."""
    from pyspark.sql import Window

    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    top = (
        s.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )
    return F.broadcast(top).join(
        c,
        (top.s_nationkey == c.c_nationkey) & (top.s_acctbal > c.c_acctbal),
    ).select(
        "s_suppkey",
        "c_custkey",
        (F.col("s_acctbal").cast("decimal(18,2)") - F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_gap"),
    )


# --------------------------------------------------------------------------
# R9 hash aggregation — the flagship (TPC-H Q1 shape). Partial (map-side)
# aggregation then a 6-group final: the shuffle carries 6 rows per task.
# --------------------------------------------------------------------------
# Money aggregation runs in exact DECIMAL (order-independent, so any
# partial-aggregation schedule on any cluster gives the same answer)
# and surfaces as double; averages are exact-sum / count.
Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)      AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)      AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*)       AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_hash_group", oracle=Q1_ORACLE)
def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped flagship aggregation over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# R10 distinct aggregation
# --------------------------------------------------------------------------
@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# --------------------------------------------------------------------------
# R11 approximate distinct (HLL).  The estimate itself is
# sketch-dependent (Spark HLL++ ≠ DuckDB HLL), so the attestable output
# is (group key, exact distinct, estimate-within-tolerance flag).  The
# oracle does NOT assert TRUE: DuckDB runs its OWN approx_count_distinct
# and derives the SAME boolean from its own sketch vs its own exact
# count — each engine independently certifies the 5% error bound, and
# either sketch breaking it surfaces as a hash mismatch (the pagerank
# attestation pattern).  rsd=0.01 ⇒ 5% is generous for both sketches.
# --------------------------------------------------------------------------
@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders_exact,
           (abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
              <= 0.05 * count(DISTINCT l_orderkey)) AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — sketch-based, mergeable, scales to 100 TB
    where exact distinct would shuffle every key.  The exact companion
    count exists only to let the differential harness bound the sketch
    error; production callers use the estimate alone."""
    li = _t(spark, sf_dir, "lineitem")
    # Two SEPARATE aggregations, joined on the (tiny) group key.  Mixing
    # approx_count_distinct with count(DISTINCT) in ONE agg makes the
    # distinct-rewrite carry the 1.6k-word HLL buffer per DISTINCT KEY
    # through the shuffle (measured 36 s at sf0.1 vs ~1 s split).
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders_exact")
    )
    joined = exact.join(F.broadcast(approx), "l_returnflag")
    tol = (
        F.abs(F.col("approx_orders") - F.col("n_orders_exact"))
        / F.col("n_orders_exact")
        <= 0.05
    )
    return joined.select(
        "l_returnflag", "n_orders_exact", tol.alias("approx_within_5pct")
    )


# --------------------------------------------------------------------------
# R12 rollup / cube / grouping sets
# --------------------------------------------------------------------------
@query(
    "grouping_sets_cube_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def grouping_sets_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
    )


# --------------------------------------------------------------------------
# R16 sort + limit (Spark plans TakeOrderedAndProject: per-partition
# top-k then a k-row merge on the driver — no global sort at scale).
# --------------------------------------------------------------------------
@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# R17 set operations (UNION/INTERSECT/EXCEPT — SQL set semantics)
# --------------------------------------------------------------------------
@query(
    "set_union_intersect_except",
    oracle="""
    (SELECT c_nationkey AS nk FROM customer
     UNION
     SELECT s_nationkey AS nk FROM supplier)
    INTERSECT
    SELECT n_nationkey AS nk FROM nation
    EXCEPT
    SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 4
    """,
)
def set_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    n = _t(spark, sf_dir, "nation")
    n_all = n.select(F.col("n_nationkey").alias("nk"))
    n_r4 = n.filter(F.col("n_regionkey") == 4).select(F.col("n_nationkey").alias("nk"))
    return c.union(s).distinct().intersect(n_all).subtract(n_r4)


# --------------------------------------------------------------------------
# R18 scalar string functions (JVM-side, whole-stage codegen — P1/P3/P5
# of the reference generalized: split/trim/regex live here)
# --------------------------------------------------------------------------
@query(
    "scalar_string_fns",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                               AS brand_u,
           lower(p_type)                                AS type_l,
           substring(p_name, 1, 8)                      AS name_prefix,
           concat_ws('|', p_brand, p_type)              AS brand_type,
           regexp_extract(p_brand, '#(\\d+)', 1)        AS brand_num,
           replace(p_name, ' ', '_')                    AS name_snake,
           length(p_name)                               AS name_len,
           trim(concat(' ', p_brand, ' '))              AS brand_trim
    FROM part
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
    )


# --------------------------------------------------------------------------
# R19 scalar date/time functions
# --------------------------------------------------------------------------
@query(
    "scalar_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)                       AS order_year,
           CAST(month(o_orderdate) AS INTEGER)                      AS order_month,
           CAST(day(o_orderdate) AS INTEGER)                        AS order_day,
           date_trunc('month', o_orderdate)                         AS month_start,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                AS INTEGER)                                         AS days_to_2002,
           CAST(epoch(o_orderdate) AS BIGINT)                       AS epoch_s
    FROM orders
    """,
)
def scalar_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


# --------------------------------------------------------------------------
# R20 scalar math + CASE WHEN (rounded: libm vs JVM may differ in ulps)
# --------------------------------------------------------------------------
@query(
    "scalar_math_fns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS net_price,
           CAST(abs(CAST(l_discount AS DECIMAL(4,2))
                    - CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE)       AS disc_tax_gap,
           floor(ln(l_quantity + 1) * 1000000 + 0.5) / 1000000      AS log_qty,
           floor(sqrt(l_extendedprice) * 1000000 + 0.5) / 1000000   AS sqrt_price,
           floor(pow(1 + l_discount, 2) * 1000000 + 0.5) / 1000000  AS disc_sq,
           CASE WHEN l_quantity > 25 THEN 'bulk'
                WHEN l_quantity > 10 THEN 'mid'
                ELSE 'small' END                         AS qty_band
    FROM lineitem
    """,
)
def scalar_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - disc))
        .cast("double")
        .alias("net_price"),
        F.abs(disc - tax).cast("double").alias("disc_tax_gap"),
        dround(F.log(F.col("l_quantity") + 1), 6).alias("log_qty"),
        dround(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        dround(F.pow(F.col("l_discount") + 1, 2), 6).alias("disc_sq"),
        F.when(F.col("l_quantity") > 25, "bulk")
        .when(F.col("l_quantity") > 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
    )


# --------------------------------------------------------------------------
# R21 JSON extraction on events.props
# --------------------------------------------------------------------------
@query(
    "json_extract",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON exactly once per row.

    A plain ``select(parse).filter(alias)`` lets Catalyst push the filter
    below the projection and re-inline the parse expression — every row's
    JSON parsed twice (this was the slowest query in BENCH_r01 at 7.2 s).
    ``explode(array(x))`` is a 1:1 Generate barrier: projection collapse
    and predicate pushdown cannot cross it, so the parse materializes
    once and the filter reads the materialized column.
    """
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    parsed = e.select(
        "event_id", "user_id", F.explode(F.array(k)).alias("k_val")
    )
    return parsed.filter(F.col("k_val") >= 50)


# --------------------------------------------------------------------------
# Skew-aware join: salting (the manual fallback when AQE skew-join
# can't help, e.g. a skewed broadcast-ineligible key)
# --------------------------------------------------------------------------
@query(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join for skewed keys: events.user_id is hot (~150
    distinct keys over the whole table). The fact side gets a
    deterministic salt in [0,8); the dim side is exploded 8×; the join
    key becomes (key, salt), spreading each hot key over 8 reducers.
    Result ≡ the unsalted join — the oracle is the plain one."""
    n_salt = 8
    ev = _t(spark, sf_dir, "events").withColumn(
        "__salt", F.pmod(F.col("event_id"), F.lit(n_salt)).cast("int")
    )
    cust = _t(spark, sf_dir, "customer").withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    joined = ev.join(cust, (ev.user_id == cust.c_custkey) & (ev.__salt == cust.__salt))
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Bucketed co-located join: pre-shuffled storage layout, no exchange
# on the join keys at read time
# --------------------------------------------------------------------------
def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once) the bucketed orders/customer tables that
    `join_bucketed_colocated` reads, returning their names.

    Separated from the query so the one-time LAYOUT cost (two
    bucketBy(8).sortBy() writes) is a warmup/fixture step, not part of
    the timed join — at 100 TB a bucketed layout is written once by an
    ingest job and amortized over every subsequent co-located join;
    timing the write inside the join benchmark measured the wrong
    thing (r3: 6.0 s of which the join was a fraction)."""
    import hashlib
    import os
    import shutil
    from urllib.parse import urlparse

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    t_orders, t_cust = f"rg_orders_b_{tag}", f"rg_cust_b_{tag}"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _ensure(table: str, source: str, key: str) -> None:
        loc = os.path.join(warehouse, table.lower())
        if spark.catalog.tableExists(table):
            # with the persistent metastore (session.py) this is the
            # common path: layout written once, reused every session.
            # Guard the inverse staleness: metadata survived but the
            # warehouse files were wiped (e.g. a clean checkout).
            if os.path.exists(loc):
                return
            spark.sql(f"DROP TABLE {table}")
        # in-memory-catalog staleness: files survived, metadata didn't
        if os.path.exists(loc):
            shutil.rmtree(loc)
        _t(spark, sf_dir, source).write.bucketBy(8, key).sortBy(key).mode(
            "overwrite"
        ).saveAsTable(table)

    _ensure(t_orders, "orders", "o_custkey")
    _ensure(t_cust, "customer", "c_custkey")
    return t_orders, t_cust


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table join: both sides written bucketBy(8, custkey) +
    sortBy, so the sort-merge join reads co-located buckets with NO
    exchange on the join keys (asserted in tests/test_plan_shapes.py).
    At 100 TB this is the difference between re-shuffling the fact
    table per query and shuffling it once at write time. The bucketed
    layout itself is built by `ensure_bucketed_tables` (idempotent;
    bench.py runs it in warmup so the timed section measures the
    join, not the one-time table build)."""
    t_orders, t_cust = ensure_bucketed_tables(spark, sf_dir)

    o = spark.table(t_orders)
    c = spark.table(t_cust).filter(F.col("c_mktsegment") == "BUILDING")
    joined = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


# --------------------------------------------------------------------------
# ORC round-trip (third columnar format after parquet/CSV/JSONL)
# --------------------------------------------------------------------------
@query(
    "scan_orc_roundtrip",
    oracle="SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip on `part` (Spark's built-in ORC
    reader is vectorized and push-down capable, same as parquet)."""
    import hashlib
    import os
    import tempfile

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_retailprice")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_orc_rt_{tag}")
    p.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


# --------------------------------------------------------------------------
# XML round-trip (Spark 4 built-in XML source — the fifth format after
# parquet/CSV/JSONL/ORC; legacy enterprise feeds are XML)
# --------------------------------------------------------------------------
@query(
    "scan_xml_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip on `nation` via the built-in XML
    data source (integrated in Spark 4 from spark-xml). The read
    carries an EXPLICIT schema — XML type inference needs a second
    pass over the data and can drift (e.g. empty strings vs nulls), so
    a production feed always pins the schema."""
    import hashlib
    import os
    import tempfile

    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_xml_rt_{tag}")
    n.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(path)
    return (
        spark.read.format("xml")
        .schema(n.schema)
        .option("rowTag", "nation")
        .load(path)
    )


# --------------------------------------------------------------------------
# Deterministic train/validation/test split (reproducible by key, not
# by RNG — the only split that survives re-runs and backfills)
# --------------------------------------------------------------------------
@query(
    "train_test_split",
    oracle="""
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split assigned by key arithmetic (doc_id mod 10):
    deterministic, re-runnable, join-free — a doc's split never changes
    as the corpus grows, unlike fraction-based sampling."""
    d = _t(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "valid")
        .otherwise("test")
    )
    return d.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Fixed-width histogram (distributed: one groupBy on the bucket index)
# --------------------------------------------------------------------------
@query(
    "histogram_fixed_width",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram with fixed 50k-wide buckets: floor-divide to a
    bucket index, one partial-agg groupBy — the distributed histogram
    primitive (no driver-side binning)."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


# --------------------------------------------------------------------------
# SQL surface: the same ANSI text runs on spark.sql AND the oracle —
# the engine's second query API next to the DataFrame builders
# --------------------------------------------------------------------------
_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
           count(*) AS n_rows
    FROM {lineitem}
    WHERE l_quantity < 45.0
    GROUP BY l_returnflag, l_linestatus
"""


@query("sql_surface", oracle=_Q1_SQL.format(lineitem="lineitem"))
def sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql() entry path: the flagship Q1 shape as raw ANSI SQL
    over a registered view — the IDENTICAL text is the oracle, so this
    also pins the engine's SQL dialect to the portable subset."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("rg_sql_lineitem")
    return spark.sql(_Q1_SQL.format(lineitem="rg_sql_lineitem"))


# --------------------------------------------------------------------------
# Deterministic mode / arg-max per group (ties broken by value order —
# built-in mode() is tie-unstable on both engines, so neither side
# uses it; both compute the same count-then-rank plan).
# --------------------------------------------------------------------------
@query(
    "agg_argmax_mode",
    oracle="""
    SELECT user_id, event_type AS mode_event_type, cnt AS mode_count
    FROM (
      SELECT user_id, event_type, count(*) AS cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events
      GROUP BY user_id, event_type
    ) t
    WHERE rn = 1
    """,
)
def agg_argmax_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent event type per user. The heavy shuffle is the
    partial-aggregated (user, type) count — group-count-sized, not
    row-sized; the ranking window then runs over ~|groups| rows."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("mode_count"),
        )
    )


# --------------------------------------------------------------------------
# Ordered list aggregation (collect_list is unordered by contract —
# sort_array makes the result deterministic; string-join so the
# value-hash compares across engines).
# --------------------------------------------------------------------------
@query(
    "agg_collect_ordered",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           string_agg(s_name, '|' ORDER BY s_name) AS supplier_names
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted name roster per nation. collect_list's order is
    partition-arrival-dependent; array_sort restores determinism
    regardless of shuffle layout — required for reproducible results
    on any cluster size."""
    s = _t(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias(
            "supplier_names"
        ),
    )


# --------------------------------------------------------------------------
# Deterministic stratified sample — multiplicative hash on the key,
# not rand(): the sampled set is stable across re-runs, retries, and
# cluster layouts (rand()-based sampling is none of those).
# --------------------------------------------------------------------------
@query(
    "sample_stratified",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_sampled,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_value
    FROM orders
    WHERE ((o_orderkey % 2147483648) * 2654435761) % 1000 < 100
    GROUP BY o_orderpriority
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% per-stratum sample via Knuth multiplicative hash on the
    key. The predicate is a pure column expression: it pushes into the
    scan, samples identically on every executor count, and never
    needs a seed broadcast."""
    o = _t(spark, sf_dir, "orders")
    sampled = o.filter(((F.col("o_orderkey") % F.lit(2147483648)) * F.lit(2654435761)) % 1000 < 100)
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sampled_value"),
    )


# --------------------------------------------------------------------------
# Dataset profiling — per-column null/distinct/min/max in ONE pass
# (a map-side-combined aggregate; values stringified so one schema
# covers heterogeneous column types).
# --------------------------------------------------------------------------
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")


@query(
    "data_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of `orders`. One aggregate computes every
    column's stats simultaneously (single scan, partial aggregation);
    the per-column rows are unpivoted from that one result — NOT one
    scan per column like the oracle's UNION ALL spelling.

    The five countDistinct rewrite to an Expand (×6 rows) whose
    partial aggregation runs in the SCAN stage; a single-row-group
    fixture file yields one input partition, serializing that work on
    one core (guide §2.4 — parallelize heavy fan-out after a small
    scan). The round-robin respread costs one tiny-table shuffle and
    is sized from the scheduler's parallelism, not a constant; at
    cluster scale a many-file table already arrives split and the
    respread stays proportional to the same knob."""
    o = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


@query(
    "data_profile_approx",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct_exact,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value,
           (abs(approx_count_distinct(o_orderkey) - count(DISTINCT o_orderkey))
              <= 0.05 * count(DISTINCT o_orderkey)) AS approx_within_5pct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR),
           (abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
              <= 0.05 * count(DISTINCT o_custkey))
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
           (abs(approx_count_distinct(o_totalprice) - count(DISTINCT o_totalprice))
              <= 0.05 * count(DISTINCT o_totalprice))
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR),
           (abs(approx_count_distinct(o_orderdate) - count(DISTINCT o_orderdate))
              <= 0.05 * count(DISTINCT o_orderdate))
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR),
           (abs(approx_count_distinct(o_orderpriority)
                - count(DISTINCT o_orderpriority))
              <= 0.05 * count(DISTINCT o_orderpriority))
    FROM orders
    """,
)
def data_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`data_profile` with HyperLogLog++ distinct counts — the 100 TB
    profile mode: five approx_count_distinct sketches fold map-side in
    ONE scan with bounded (1.6 kB/sketch) state, where the exact
    variant's five countDistinct each expand the aggregate into a
    per-key shuffle of the whole table. The exact profile
    (`data_profile`) remains the audit mode; this key carries the
    tolerance attestation — the exact distinct count plus a boolean
    asserting the sketch landed within 5% (rsd 0.01), which the oracle
    derives from ITS OWN approx_count_distinct per column (each engine
    independently certifies its sketch's error bound)."""
    # no input respread here (unlike data_profile): the HLL sketches
    # fold map-side in the scan stage, and a measured respread variant
    # ran ~1 s SLOWER — the extra exchange outweighs parallelizing the
    # single exact companion agg
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, 0.01).alias(f"{c}__approx"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    # exact companion for the tolerance attestation ONLY (separate agg:
    # mixing countDistinct with approx in one agg drags the HLL buffer
    # through the distinct-rewrite shuffle — see agg_approx_distinct)
    exact = o.agg(*[F.countDistinct(c).alias(f"{c}__exact") for c in _PROFILE_COLS])
    # unpivot each single-row aggregate to per-column rows FIRST, then
    # equi-join the (5-row) sides on col_name — a real-key broadcast
    # hash join (a bare crossJoin of the two 1-row frames would plan a
    # nested-loop join, which the plan-shape sweep rejects on principle)
    approx_stack = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__approx, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    exact_stack = ", ".join(f"'{c}', {c}__exact" for c in _PROFILE_COLS)
    approx_rows = wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {approx_stack}) AS "
        "(col_name, n_rows, n_nulls, n_approx, min_value, max_value)"
    )
    exact_rows = exact.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {exact_stack}) AS (col_name, n_distinct_exact)"
    )
    both = approx_rows.join(F.broadcast(exact_rows), "col_name")
    return both.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct_exact",
        "min_value",
        "max_value",
        (
            F.abs(F.col("n_approx") - F.col("n_distinct_exact"))
            <= 0.05 * F.col("n_distinct_exact")
        ).alias("approx_within_5pct"),
    )


# --------------------------------------------------------------------------
# Approximate percentiles with a tolerance attestation
# --------------------------------------------------------------------------
@query(
    "agg_approx_percentile",
    oracle="""
    SELECT event_type,
           floor(quantile_cont(value, 0.5)  * 10000 + 0.5) / 10000 AS p50_exact,
           floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95_exact,
           (abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
              <= 0.05 * abs(quantile_cont(value, 0.5)) + 1e-6
            AND abs(approx_quantile(value, 0.95) - quantile_cont(value, 0.95))
              <= 0.05 * abs(quantile_cont(value, 0.95)) + 1e-6)
             AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — the mergeable-sketch
    path that replaces exact sort-based quantiles at 100 TB. Same
    attestation pattern as agg_approx_distinct: the exact companion is
    oracle-checked and the sketch must land within 5% of it; separate
    aggregations keep the GK buffer out of the exact agg's shuffle.
    """
    e = _t(spark, sf_dir, "events")
    exact = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50_e"),
        F.percentile("value", 0.95).alias("p95_e"),
    )
    approx = e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_a"),
        F.percentile_approx("value", 0.95, 10000).alias("p95_a"),
    )
    j = exact.join(F.broadcast(approx), "event_type")
    within = (
        (F.abs(F.col("p50_a") - F.col("p50_e")) <= 0.05 * F.abs(F.col("p50_e")) + 1e-6)
        & (F.abs(F.col("p95_a") - F.col("p95_e")) <= 0.05 * F.abs(F.col("p95_e")) + 1e-6)
    )
    return j.select(
        "event_type",
        dround(F.col("p50_e"), 4).alias("p50_exact"),
        dround(F.col("p95_e"), 4).alias("p95_exact"),
        within.alias("approx_within_5pct"),
    )


# --------------------------------------------------------------------------
# Unpivot / melt (wide metrics -> long)
# --------------------------------------------------------------------------
@query(
    "unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
             CAST(sum(CAST(l_tax           AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty'   AS metric, sum_qty   AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS metric, sum_disc  AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_tax'   AS metric, sum_tax   AS value FROM wide
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping with the native unpivot operator: ONE
    Expand over the aggregated frame, where the oracle's UNION ALL
    spelling scans it four times. The inverse of pivot_event_matrix."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double").alias("sum_disc"),
        F.sum(F.col("l_tax").cast("decimal(18,2)")).cast("double").alias("sum_tax"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc", "sum_tax"],
        "metric",
        "value",
    )


# --------------------------------------------------------------------------
# LATERAL correlated top-n subquery (SQL surface)
# --------------------------------------------------------------------------
_LATERAL_SQL = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o, LATERAL (
  SELECT l_linenumber, l_extendedprice FROM lineitem li
  WHERE li.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT 2) l
WHERE o.o_totalprice > 450000
"""


@query("sql_lateral_topn", oracle=_LATERAL_SQL)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT —
    the literal SQL text runs unchanged on both engines. Catalyst
    decorrelates it to a ranked window over one join, not a per-row
    re-execution."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# Null-safe equi-join (IS NOT DISTINCT FROM / <=>)
# --------------------------------------------------------------------------
@query(
    "join_null_safe",
    oracle="""
    WITH a AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS k
               FROM orders WHERE o_orderkey % 100 = 0),
         b AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS k
               FROM orders WHERE o_orderkey % 100 = 50)
    SELECT count(*) AS n_pairs,
           count(*) FILTER (WHERE a.k IS NULL) AS n_null_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-matching equi-join via <=> (EqualNullSafe). Catalyst still
    plans a HASH join — the null-safe operator is an equi-key over
    coalesced hashes, not a fallback to nested-loop, which is why this
    works at fact-table scale where an OR (both-null) predicate would
    degenerate to BNLJ."""
    o = _t(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    a = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("a_key"), k.alias("ak")
    )
    b = o.filter(F.col("o_orderkey") % 100 == 50).select(
        F.col("o_orderkey").alias("b_key"), k.alias("bk")
    )
    return (
        a.join(b, a.ak.eqNullSafe(b.bk))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ak").isNull().cast("long")).alias("n_null_pairs"),
        )
    )


# --------------------------------------------------------------------------
# Interval (point-in-range) join via bucketized equi-join
# --------------------------------------------------------------------------
@query(
    "join_range_binned",
    oracle="""
    WITH bands AS (
      SELECT p_partkey AS band_id, p_retailprice - 2 AS lo, p_retailprice + 2 AS hi
      FROM part WHERE p_size = 25
    )
    SELECT b.band_id, count(*) AS n_matches
    FROM lineitem l
    JOIN bands b ON l.l_extendedprice / l.l_quantity BETWEEN b.lo AND b.hi
    GROUP BY 1
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join on the SCALE path: each interval explodes
    to the fixed-width buckets it covers, each probe point hashes to
    exactly ONE bucket, and the join becomes a bucket equi-join with
    the BETWEEN as residual — no BroadcastNestedLoopJoin, no cartesian
    (join_theta_range takes the other bounded shape: a small build
    side broadcast against the probe side).
    A point lands in one bucket, so no post-join dedup is needed.
    Bucket width ~ median interval width; here w=2."""
    w = 2.0
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    bands = p.select(
        F.col("p_partkey").alias("band_id"),
        (F.col("p_retailprice") - 2).alias("lo"),
        (F.col("p_retailprice") + 2).alias("hi"),
    )
    exploded = bands.select(
        "band_id", "lo", "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("long"),
                F.floor(F.col("hi") / w).cast("long"),
            )
        ).alias("bucket"),
    )
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice") / F.col("l_quantity")
    probe = li.select(
        price.alias("unit_price"),
        F.floor(price / w).cast("long").alias("bucket"),
    )
    return (
        probe.join(exploded, "bucket")
        .filter(F.col("unit_price").between(F.col("lo"), F.col("hi")))
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# --------------------------------------------------------------------------
# Correlation / covariance from exact power sums
# --------------------------------------------------------------------------
@query(
    "agg_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS corr_qty_price,
           floor((sxy - sx * sy / n) / n * 1000000 + 0.5) / 1000000
             AS covar_pop_qty_price,
           TRUE AS builtin_matches
    FROM m
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance per group, computed
    from EXACT DECIMAL power sums (Σx, Σy, Σx², Σy², Σxy) combined in
    double — bit-deterministic cross-engine, where the built-in
    streaming co-moment aggregators (Spark's partition-merge order vs
    DuckDB's sequential Welford) differ in low-order bits and can flip
    a rounding boundary. The built-in F.corr runs alongside and must
    land within 1e-6 of the exact value (attested flag) — production
    callers use the built-in; the power-sum form is the attestation
    path AND the map-side-combinable form you'd use in an incremental
    rollup."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.corr("l_quantity", "l_extendedprice").alias("corr_builtin"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / F.sqrt(
        (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    )
    covar = (F.col("sxy") - sx * sy / n) / n
    return m.select(
        "l_returnflag",
        dround(corr, 6).alias("corr_qty_price"),
        dround(covar, 6).alias("covar_pop_qty_price"),
        (F.abs(F.col("corr_builtin") - corr) < 1e-6).alias("builtin_matches"),
    )


# --------------------------------------------------------------------------
# Boolean / conditional aggregates
# --------------------------------------------------------------------------
@query(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           bool_and(l_quantity > 0)  AS all_positive_qty,
           bool_or(l_tax > 0.07)     AS any_high_tax,
           bool_and(l_discount < 0.2) AS all_modest_discount
    FROM lineitem GROUP BY 1
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface: count_if, bool_and,
    bool_or — all partial-aggregable (map-side combine), the cheap
    building blocks of data-quality assertions at scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.bool_and(F.col("l_discount") < 0.2).alias("all_modest_discount"),
    )


# --------------------------------------------------------------------------
# Snapshot reconciliation: row-level diff audit between table versions
# --------------------------------------------------------------------------
@query(
    "table_diff_audit",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CAST(1.00 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey + 30000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT
      CAST(sum(CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_added,
      CAST(sum(CASE WHEN n.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      CAST(sum(CASE WHEN b.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND (b.o_orderstatus <> n.o_orderstatus
                     OR b.o_totalprice <> n.o_totalprice)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      CAST(sum(CASE WHEN b.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND b.o_orderstatus <> n.o_orderstatus
               THEN 1 ELSE 0 END) AS BIGINT) AS n_status_changed,
      CAST(sum(CASE WHEN b.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND b.o_totalprice <> n.o_totalprice
               THEN 1 ELSE 0 END) AS BIGINT) AS n_price_changed,
      CAST(sum(CASE WHEN b.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND b.o_orderstatus = n.o_orderstatus
                AND b.o_totalprice = n.o_totalprice
               THEN 1 ELSE 0 END) AS BIGINT) AS n_identical
    FROM orders b FULL OUTER JOIN v2 n USING (o_orderkey)
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: row-level diff between two versions of
    a table (added / removed / changed / identical, plus per-column
    change counts) — the audit every pipeline migration and backfill
    ends with. One full-outer equi-join on the key, flags as
    conditional sums in a single aggregate; per-column counts come
    free from the same join (no second pass). At 100 TB both
    snapshots shuffle once on the key — or zero times if both are
    bucketed on it (join_bucketed_colocated pins that layout). The v2
    snapshot here is derived deterministically (drops %11, restates
    %7 status, +1.00 on %13 price in exact DECIMAL, re-keys %17 as
    inserts) so both engines build the identical fixture."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    price_plus = (
        F.col("o_totalprice").cast("decimal(18,2)")
        + F.lit(1.00).cast("decimal(3,2)")
    ).cast("double")
    v2 = (
        base.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("F"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(F.col("o_orderkey") % 13 == 0, price_plus)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    n = v2.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("n_status"),
        F.col("o_totalprice").alias("n_price"),
    )
    j = base.join(n, "o_orderkey", "full_outer")
    in_base = F.col("o_orderstatus").isNotNull() | F.col("o_totalprice").isNotNull()
    in_new = F.col("n_status").isNotNull() | F.col("n_price").isNotNull()
    both = in_base & in_new
    st_chg = both & (F.col("o_orderstatus") != F.col("n_status"))
    pr_chg = both & (F.col("o_totalprice") != F.col("n_price"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.agg(
        cnt(~in_base).alias("n_added"),
        cnt(~in_new).alias("n_removed"),
        cnt(st_chg | pr_chg).alias("n_changed"),
        cnt(st_chg).alias("n_status_changed"),
        cnt(pr_chg).alias("n_price_changed"),
        cnt(both & ~st_chg & ~pr_chg).alias("n_identical"),
    )


# --------------------------------------------------------------------------
# Schema evolution: mergeSchema scan across table versions
# --------------------------------------------------------------------------
@query(
    "scan_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
      FROM nation
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey FROM nation
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_v1_rows,
           CAST(sum(n_regionkey) AS BIGINT) AS sum_region
    FROM unioned
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet data lake: version-1 files
    (2 columns) and version-2 files (+n_regionkey) live in the same
    table path; `mergeSchema` reconciles them at read time, surfacing
    the added column as NULL for old files — the append-only
    evolution every long-lived lake table goes through. The check
    aggregates over the merged scan (row count, v1 row count via the
    NULL marker, sum over the evolved column). At 100 TB mergeSchema's
    footer-union is driver-side metadata work proportional to file
    count, not data — the reason lakes keep schema in a catalog once
    file counts explode (the metastore posture this repo documents)."""
    import hashlib
    import os
    import tempfile

    nat = _t(spark, sf_dir, "nation")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"rg_evolve_{tag}")
    if not os.path.isdir(os.path.join(root, "v2")):
        nat.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
            os.path.join(root, "v1")
        )
        nat.select("n_nationkey", "n_name", "n_regionkey").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_regionkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_v1_rows"),
        F.sum("n_regionkey").cast("bigint").alias("sum_region"),
    )


@query(
    "agg_skew_salted",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n_rows,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation for skewed group keys — the agg
    counterpart of join_skew_salted. l_returnflag has 3 values over
    the whole fact table, so a direct groupBy funnels ~1/3 of 100 TB
    through 3 reducers (partial aggs soften but don't fix it when
    per-key state is large, e.g. collect/distinct aggs). Stage 1
    groups by (key, salt16) — 48 evenly-sized cells — and reduces to
    mergeable partials (sum/count/min/max); stage 2 merges the ≤48
    partial rows. Total shuffled: stage-1 partials (tiny) + 48 rows.
    Every aggregate here is a commutative monoid, so salting is
    exactly result-preserving — the oracle is the UNSALTED group-by.
    The salt is a row hash, NOT rand(): deterministic under task
    retry (a retried partition re-salts identically, so no partial
    is double-counted)."""
    li = _t(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)).alias("salt")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    partial = (
        li.select("l_returnflag", salt, qty.alias("qty"), "l_extendedprice")
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum("qty").alias("p_sum_qty"),
            F.count(F.lit(1)).alias("p_n"),
            F.min("l_extendedprice").alias("p_min"),
            F.max("l_extendedprice").alias("p_max"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("p_sum_qty").cast("double").alias("sum_qty"),
        F.sum("p_n").alias("n_rows"),
        F.min("p_min").alias("min_price"),
        F.max("p_max").alias("max_price"),
    )


@query(
    "top_k_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC) AS rk
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM r WHERE rk <= 3
    """,
)
def top_k_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group (rank() ≤ k) — the FETCH FIRST k ROWS
    WITH TIES semantics: equal values at the boundary are ALL kept,
    where row_number()'s arbitrary tiebreak (sql_lateral_topn) would
    drop some — the difference between "the 3 highest prices" and "3
    rows". Same single exchange + per-partition sort; rank() needs no
    extra state over row_number. Output is deterministic precisely
    BECAUSE ties aren't broken: the kept set is value-defined."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "histogram_log2",
    oracle="""
    SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS lo,
           max(n_chars) AS hi
    FROM documents
    WHERE n_chars > 0
    GROUP BY 1
    """,
)
def histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-width histogram — the right binning for long-tailed size
    distributions (doc lengths, token counts) where fixed-width
    buckets (histogram_fixed_width) put 99% of mass in bucket 0.
    floor(log2(x)) is stable cross-engine: log2 is exact at powers of
    two (the only boundary points) and strictly monotone between
    them. One partial-agg groupBy over ≤64 buckets — the shape every
    corpus-size audit at 100 TB wants."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("n_chars") > 0)
        .groupBy(F.floor(F.log2("n_chars")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
    )


@query(
    "observe_metrics",
    oracle="""
    SELECT count(*) AS n_out,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           max(l_extendedprice) AS max_price
    FROM lineitem
    WHERE l_discount > 0.05
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline telemetry via df.observe(): accumulator-style metrics
    (row count, quantity sum, max price) computed ON the executors
    DURING the pipeline's own pass — zero extra scans, zero extra
    shuffles, exactly what a 100 TB ingest job wants for row-count
    reconciliation and data-quality gates (vs re-aggregating the
    table, which doubles the I/O). The observed pipeline here is a
    filtered projection written to a noop sink; the returned 1-row
    frame IS the metric record the driver would log. Oracle recomputes
    the same metrics relationally."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem")
    ob = Observation("rg_observe")
    observed = li.filter(F.col("l_discount") > 0.05).observe(
        ob,
        F.count(F.lit(1)).alias("n_out"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )
    observed.select("l_orderkey", "l_linenumber").write.format("noop").mode(
        "overwrite"
    ).save()
    m = ob.get
    return spark.createDataFrame(
        [(m["n_out"], m["sum_qty"], m["max_price"])],
        "n_out bigint, sum_qty double, max_price double",
    )


@query(
    "fk_integrity_audit",
    oracle="""
    SELECT 'orders->customer' AS fk, count(*) AS n_orphans
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->orders', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem->part', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for every fact→dimension foreign key, as one result set.
    Each check is a LEFT ANTI join. TRUE dimensions (customer, part,
    supplier — small relative to facts by schema design) are
    broadcast explicitly: map-side existence probes sharing the fact
    scan. The lineitem→orders check is fact→fact — orders is NOT
    small (1.5M rows at sf1, fact-sized at 100 TB), so that check
    deliberately carries no broadcast hint: it plans as a shuffle
    anti-join (or whatever AQE picks at the actual sizes), which is
    the only shape that survives scale. A healthy snapshot reports
    zeros; the VALUE of each count (not just emptiness) is what the
    oracle pins, so a partially-loaded dimension shows its exact
    damage."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def orphans(
        fact: DataFrame, fk: str, dim: DataFrame, pk: str, name: str,
        broadcast_dim: bool = True,
    ) -> DataFrame:
        keys = dim.select(pk)
        if broadcast_dim:
            keys = F.broadcast(keys)
        return (
            fact.join(keys, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )

    checks = [
        orphans(orders, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey", "orders->customer"),
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders", broadcast_dim=False),
        orphans(li, "l_partkey", _t(spark, sf_dir, "part"), "p_partkey", "lineitem->part"),
        orphans(li, "l_suppkey", _t(spark, sf_dir, "supplier"), "s_suppkey", "lineitem->supplier"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# PERMISSIVE malformed-CSV ingest: bad rows are counted and quarantined
# by the reader itself, never fail the job, never corrupt good rows.
# --------------------------------------------------------------------------
@query(
    "scan_csv_malformed_permissive",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS sum_good_price
    FROM orders
    """,
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode CSV ingest of a deliberately dirty feed: every
    10th row carries an unparseable numeric field. The reader (not the
    pipeline) classifies rows — malformed rows surface once in
    `_corrupt_record` with the typed columns NULL, good rows parse
    normally, and the job NEVER fails (contrast FAILFAST) nor drops
    rows silently (contrast DROPMALFORMED). This is the reference's
    per-file error-isolation idea (SURVEY §2.1 P12,
    ingest_with_quarantine) pushed down to row granularity, and at
    100 TB it is the only viable posture: one bad row in a billion
    must cost one quarantine row, not a job restart. The dirty fixture
    is built from `orders` (key-modulo corruption, oracle-mirrored);
    the double→string→double round-trip is exact, so the good-row
    DECIMAL sum hash-matches the direct aggregation."""
    o = _t(spark, sf_dir, "orders")
    path = fixture_base(spark, sf_dir, "dirty_csv")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("N/A")).otherwise(
            F.col("o_totalprice").cast("string")
        ),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(path)

    back = (
        spark.read.schema("o_orderkey BIGINT, o_totalprice DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(corrupt, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(~corrupt, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(
            F.when(~corrupt, F.col("o_totalprice").cast("decimal(18,2)"))
        ).cast("double").alias("sum_good_price"),
    )


# --------------------------------------------------------------------------
# Order-independent block checksums: replication/migration verification
# --------------------------------------------------------------------------
@query(
    "table_checksum_blocks",
    oracle="""
    WITH rows_c AS (
      SELECT o_orderkey // 10000 AS block,
             CAST(('0x' || substring(md5(
                    CAST(o_orderkey AS STRING) || '|' || o_orderstatus || '|'
                    || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                            AS STRING)), 1, 15)) AS BIGINT) AS h
      FROM orders
    )
    SELECT block, count(*) AS n_rows,
           bit_xor(h) AS checksum
    FROM rows_c GROUP BY block
    """,
)
def table_checksum_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level table checksums — the replication/migration
    verifier: after copying a 100 TB table between stores, comparing
    per-block (n_rows, checksum) pairs localizes any divergence to a
    10k-key block without moving data. Three portability requirements,
    each explicit: the row hash is the md5-prefix family ANY engine
    reproduces (dedup_minhash_portable's); the canonical row string
    uses only integers and verbatim strings (money folds to integer
    cents — never a double→string format, which engines disagree on);
    and the block aggregate is bit_xor — order-independent and
    overflow-free, so any partitioning, any engine, any row order
    yields identical checksums. One partial-agg groupBy: scan-bound."""
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return (
        o.select(
            F.floor(F.col("o_orderkey") / 10000).cast("bigint").alias("block"),
            h.alias("h"),
        )
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("checksum"),
        )
    )


# --------------------------------------------------------------------------
# Multiline-JSON round-trip (sixth format: a single JSON ARRAY document,
# the config/API-export shape, vs JSONL's record-per-line)
# --------------------------------------------------------------------------
@query(
    "scan_json_multiline",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline (pretty-printed array) JSON source: one JSON document
    holding an array of records — the shape REST exports and config
    dumps arrive in, which the line-oriented JSONL reader
    (scan_jsonl_roundtrip) cannot split. Spark's multiLine=true parses
    the whole document per FILE (one task per file — the docstring
    caveat at 100 TB: multiline JSON is not splittable, so large
    exports must be many files; the fixture writes one file per
    nation partition slice to keep parallelism). Round-trip oracle:
    read-back equals the parquet source."""
    import hashlib
    import json as _json
    import os
    import tempfile

    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_mljson_{tag}")
    os.makedirs(path, exist_ok=True)
    # two pretty-printed array documents (multi-file => parallel read)
    rows = [r.asDict() for r in n.collect()]  # 25-row dim fixture
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(os.path.join(path, f"part-{i}.json"), "w") as f:
            _json.dump(chunk, f, indent=2)
    back = spark.read.option("multiLine", "true").json(path)
    return back.select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )


# --------------------------------------------------------------------------
# Schema-on-read inference audit
# --------------------------------------------------------------------------
@query(
    "json_schema_infer_audit",
    oracle="""
    SELECT * FROM (VALUES
      ('n_name',      'string'),
      ('n_nationkey', 'bigint'),
      ('n_regionkey', 'bigint')
    ) AS t(col_name, inferred_type)
    ORDER BY col_name
    """,
)
def json_schema_infer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read inference audit: write nation as JSONL, read it
    back with schema inference, and emit the inferred (column, type)
    catalog — pinned against the expected contract. This is the
    schema-drift tripwire for schemaless feeds: a producer switching
    ids to strings or appending a column changes THIS result before
    it silently corrupts a downstream join. Inference costs one extra
    pass over the data (the documented 100 TB caveat: sample with
    samplingRatio or pin an explicit schema in production; the audit
    exists precisely so the pinned schema has a checked source of
    truth)."""
    import hashlib
    import os
    import tempfile

    n = _t(spark, sf_dir, "nation")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_infer_{tag}")
    n.write.mode("overwrite").json(path)
    back = spark.read.json(path)  # full inference pass
    fields = sorted((f.name, f.dataType.simpleString()) for f in back.schema.fields)
    return spark.createDataFrame(fields, "col_name string, inferred_type string")


# --------------------------------------------------------------------------
# Compressed-CSV round-trip (gzip: the non-splittable codec gotcha)
# --------------------------------------------------------------------------
@query(
    "scan_csv_gzip_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV round-trip — the ingest shape most external
    feeds actually arrive in. The 100 TB caveat this key documents:
    gzip is NOT splittable, so ONE .csv.gz = ONE task no matter its
    size (a 50 GB gzip feed serializes onto one core); the fixture
    therefore writes multiple .gz parts (repartition(4) → 4 files,
    each independently decompressable — the many-medium-files layout
    a production feed should use, vs bzip2/zstd-seekable when
    splittability inside one file is required). Explicit read schema
    (no inference pass); values round-trip exactly via the oracle on
    the source table."""
    import hashlib
    import os
    import tempfile

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_csvgz_{tag}")
    sup.repartition(4).write.mode("overwrite").option("header", "true").option(
        "compression", "gzip"
    ).csv(path)
    return spark.read.schema(
        "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
    ).option("header", "true").csv(path)


# --------------------------------------------------------------------------
# Catalog statistics (ANALYZE TABLE → CBO inputs)
# --------------------------------------------------------------------------
@query(
    "analyze_table_cbo_stats",
    oracle="""
    SELECT count(*) AS rowcount_actual,
           count(*) AS rowcount_catalog,
           TRUE AS stats_match,
           TRUE AS size_recorded
    FROM orders
    """,
)
def analyze_table_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS — the catalog-statistics pass
    that feeds Spark's cost-based optimizer (join reordering,
    broadcast-threshold decisions, and the DPP benefit estimate this
    round's join_dpp_partition_pruned had to bypass at fixture scale
    all read these numbers). The key ANALYZEs the partitioned orders
    layout, reads rowCount/sizeInBytes back through the catalog, and
    attests catalog rowCount == actual count(*) — a stale-stats
    tripwire: at 100 TB a catalog row count that drifts from reality
    silently flips broadcast decisions, so the audit IS the
    operational check. Statistics collection is one scan-bound
    aggregate; on a real deployment it rides the ingest job."""
    from .scale_joins import ensure_dpp_tables

    t_fact, _ = ensure_dpp_tables(spark, sf_dir)
    spark.sql(f"ANALYZE TABLE {t_fact} COMPUTE STATISTICS")
    det = spark.sql(f"DESCRIBE TABLE EXTENDED {t_fact}").filter(
        F.col("col_name") == "Statistics"
    ).collect()  # 1-row catalog metadata
    stats_line = det[0]["data_type"] if det else ""
    n_catalog = -1
    for part in stats_line.replace(",", " ").split():
        if part.isdigit():
            # "X bytes  Y rows" — the LAST integer is the row count
            n_catalog = int(part)
    actual = spark.table(t_fact).count()
    return spark.range(1).select(
        F.lit(actual).cast("bigint").alias("rowcount_actual"),
        F.lit(n_catalog).cast("bigint").alias("rowcount_catalog"),
        F.lit(n_catalog == actual).alias("stats_match"),
        F.lit("bytes" in stats_line).alias("size_recorded"),
    )
