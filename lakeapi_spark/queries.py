"""The verified query catalog.

Every implemented operator from SURVEY.md §2 (plus the training-data
extensions) registers here as a named query: a Spark builder
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, a DuckDB
oracle SQL string producing the identical result (same column names —
the driver sorts columns by name and hashes values).

Determinism rules (so the order-insensitive value hash matches):
- float SUMs go through DECIMAL (see catalog.dec/money_sum);
- AVGs round(4); distances/cosines round to a safe digit count;
- every LIMIT/top-k has a unique total order (tiebreak on a key);
- timestamps are cast to DATE or epoch seconds in outputs (Spark
  returns tz-aware Arrow timestamps, DuckDB naive — avoid the clash).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lakeapi_spark.catalog import dec, money_sum, table
from lakeapi_spark.operators.pipeline import (
    QueryRequest,
    apply_query,
    ranked_topk,
    topk,
)
from lakeapi_spark.operators.scale import lit_array as scale_lit_array
from lakeapi_spark.operators.search import search
from lakeapi_spark.operators.nearby import nearby


@dataclass
class Query:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(build=fn, oracle=oracle, bench=bench)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship joins/aggregations (exercised through spark.sql-equivalent
# DataFrame plans; §2.4/2.5 are inherited Spark operators — these prove
# the engine surface at TPC-H-like shapes)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
           CAST(ROUND(AVG(l_quantity), 4) AS DOUBLE) AS avg_qty,
           CAST(ROUND(AVG(l_extendedprice), 4) AS DOUBLE) AS avg_price,
           CAST(ROUND(AVG(l_discount), 4) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec("l_quantity")).alias("sum_qty"),
            money_sum(dec("l_extendedprice")).alias("sum_base_price"),
            money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("sum_disc_price"),
            money_sum(
                dec("l_extendedprice") * (one - dec("l_discount")) * (one + dec("l_tax"))
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_revenue_forecast",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
    bench=True,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(dec("l_extendedprice") * dec("l_discount")).alias("revenue"))
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15' AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) DESC, o.o_orderkey
    LIMIT 10
    """,
    bench=True,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,4)")
    rev = F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(rev.alias("__rev_exact"))
        .orderBy(F.col("__rev_exact").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.round("__rev_exact", 2).cast("double").alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
    )


@register(
    "q5_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    bench=True,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    # region/nation/supplier are tiny — broadcast them so the only big
    # shuffle is orders|x|lineitem (AQE handles the rest at scale).
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("revenue"))
    )


@register(
    "rollup_region_nation",
    """
    SELECT COALESCE(r.r_name, '<all>') AS region_name,
           COALESCE(n.n_name, '<all>') AS nation_name,
           COUNT(c.c_custkey) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            money_sum(dec("c_acctbal")).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("region_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "window_top_orders_per_segment",
    """
    SELECT * FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
)
def window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           CAST(date_diff('day',
                          LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                                                               ORDER BY o_orderdate, o_orderkey),
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
    FROM orders
    WHERE o_custkey <= 200
    """,
)
def window_lag_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic (§2.6): per-customer days between consecutive
    orders. One shuffle on the partition key; the frame is implicit."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_custkey",
        "o_orderkey",
        d.alias("orderdate"),
        F.datediff(d, F.lag(d).over(w)).cast("long").alias("days_since_prev"),
    )


@register(
    "window_moving_sum_price",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS moving_total_price,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_in_frame
    FROM orders
    WHERE o_custkey <= 200
    """,
)
def window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit rows-frame aggregate window (§2.6): trailing 3-order
    total price per customer. Exact decimal throughout — windowed AVG
    output types differ between engines (DuckDB DOUBLE, Spark DECIMAL)
    and a final division lands on .005 half-way cases, so the query
    exposes (sum, count) instead."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("moving_total_price"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


@register(
    "cube_orders_priority_status",
    """
    SELECT COALESCE(o_orderpriority, '<all>') AS priority,
           COALESCE(o_orderstatus, '<all>') AS status,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping (§2.5): all 2^2 grouping combinations in one pass
    (Spark expands grouping sets before the single aggregate shuffle)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(dec("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "quantiles_event_value",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
)
def quantiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (§2.5 breadth).
    `percentile` is holistic (per-group value buffers) — fine for a
    5-key group; the 100 TB path with high-cardinality keys is
    `approx_percentile(value, p, accuracy)`, a mergeable KLL-style
    sketch with map-side partials, same call shape."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@register(
    "skew_safe_distinct_suppliers",
    """
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_distinct
    FROM lineitem GROUP BY l_returnflag
    """,
    bench=True,
)
def skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT over a 3-value (maximally hot) grouping key —
    the two-stage shuffle-by-(key,value) shape from operators/skew.py."""
    from lakeapi_spark.operators.skew import count_distinct_skew_safe

    l = table(spark, sf_dir, "lineitem")
    return count_distinct_skew_safe(l, ["l_returnflag"], "l_suppkey")


@register(
    "range_join_price_bands",
    """
    SELECT band, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 250000.0),
                 ('high', 250000.0, 400000.0), ('whale', 400000.0, 1000000.0))
         AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    bench=True,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bin-and-equi-join (operators/joins.py): the
    oracle runs the naive inequality join; ours never expands the fact
    side. Post-aggregated per band so the check is value-level."""
    from lakeapi_spark.operators.joins import range_join_binned
    from lakeapi_spark.operators.scale import local_df

    o = table(spark, sf_dir, "orders")
    bands = local_df(
        spark,
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0),
         ("high", 250000.0, 400000.0), ("whale", 400000.0, 1000000.0)],
        ["band", "lo", "hi"],
    )
    joined = range_join_binned(o, "o_totalprice", bands, "lo", "hi", bin_width=50000.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(dec("o_totalprice")).alias("total_price"),
    )


@register(
    "sample_hash_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 2
    """,
    bench=True,
)
def sample_hash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample keyed on o_orderkey: identical
    membership on every run/engine/partitioning (operators/sampling.py)."""
    from lakeapi_spark.operators.sampling import hash_sample

    o = table(spark, sf_dir, "orders")
    return hash_sample(o, "o_orderkey", 10, 2).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Filter algebra (§2.3) — each operator exercised through the actual
# compiled pipeline (QueryRequest -> apply_query), not ad-hoc DataFrame
# code, so the oracle verifies the compiler itself.
# ---------------------------------------------------------------------------


def _pipeline_query(name: str, oracle: str, tbl: str, req: QueryRequest, prep=None, bench=False):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = table(spark, sf_dir, tbl)
        if prep is not None:
            df = prep(df)
        return apply_query(df, req)

    QUERIES[name] = Query(build=build, oracle=oracle, bench=bench)


_pipeline_query(
    "filter_eq",
    "SELECT p_partkey, p_name, p_brand, p_size FROM part WHERE p_brand = 'Brand#13'",
    "part",
    QueryRequest(
        filters=[("p_brand", "=", "Brand#13")],
        select=[("p_partkey", None), ("p_name", None), ("p_brand", None), ("p_size", None)],
    ),
)

_pipeline_query(
    "filter_ne",
    "SELECT n_nationkey, n_name FROM nation WHERE n_name <> 'NATION_7'",
    "nation",
    QueryRequest(filters=[("n_name", "<>", "NATION_7")], select=[("n_nationkey", None), ("n_name", None)]),
)

_pipeline_query(
    "filter_lt_gte",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE l_quantity < 5 AND l_discount >= 0.08",
    "lineitem",
    QueryRequest(
        filters=[("l_quantity", "<", 5), ("l_discount", ">=", 0.08)],
        select=[("l_orderkey", None), ("l_linenumber", None), ("l_quantity", None), ("l_discount", None)],
    ),
)

_pipeline_query(
    "filter_gt_lte",
    "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9900.0 AND c_custkey <= 1200",
    "customer",
    QueryRequest(
        filters=[("c_acctbal", ">", 9900.0), ("c_custkey", "<=", 1200)],
        select=[("c_custkey", None), ("c_acctbal", None)],
    ),
)

_pipeline_query(
    "filter_in",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_name IN ('NATION_1','NATION_3','NATION_19')",
    "nation",
    QueryRequest(filters=[("n_name", "in", ["NATION_1", "NATION_3", "NATION_19"])]),
)

_pipeline_query(
    "filter_not_in",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus NOT IN ('O','P')",
    "orders",
    QueryRequest(
        filters=[("o_orderstatus", "not in", ["O", "P"])],
        select=[("o_orderkey", None), ("o_orderstatus", None)],
    ),
)

_pipeline_query(
    "filter_between",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 101000.0",
    "orders",
    QueryRequest(
        filters=[("o_totalprice", "between", [100000.0, 101000.0])],
        select=[("o_orderkey", None), ("o_totalprice", None)],
    ),
)

_pipeline_query(
    "filter_not_between",
    "SELECT p_partkey, p_size FROM part WHERE p_size NOT BETWEEN 5 AND 45",
    "part",
    QueryRequest(
        filters=[("p_size", "not between", [5, 45])],
        select=[("p_partkey", None), ("p_size", None)],
    ),
)

_pipeline_query(
    "filter_contains",
    "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE '%ONO%'",
    "part",
    QueryRequest(
        filters=[("p_type", "contains", "ONO")],
        select=[("p_partkey", None), ("p_name", None), ("p_type", None)],
    ),
)

_pipeline_query(
    "filter_not_contains",
    "SELECT p_partkey, p_type FROM part WHERE p_type NOT LIKE '%STANDARD%'",
    "part",
    QueryRequest(
        filters=[("p_type", "not contains", "STANDARD")],
        select=[("p_partkey", None), ("p_type", None)],
    ),
)

_pipeline_query(
    "filter_startswith",
    "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#00000012%'",
    "customer",
    QueryRequest(
        filters=[("c_name", "startswith", "Customer#00000012")],
        select=[("c_custkey", None), ("c_name", None)],
    ),
)

_pipeline_query(
    "filter_has",
    """
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE list_contains(string_split(text, ' '), 'spark')
    """,
    "documents",
    QueryRequest(
        filters=[("words", "has", "spark")],
        select=[("doc_id", None), ("lang", None), ("source", None), ("n_chars", None)],
    ),
    prep=lambda df: df.withColumn("words", F.split(F.col("text"), " ")),
)

_pipeline_query(
    "filter_eq_null",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE NULLIF(o_orderstatus, 'F') IS NULL",
    "orders",
    QueryRequest(
        filters=[("status_n", "=", None)],
        select=[("o_orderkey", None), ("o_orderstatus", None)],
    ),
    prep=lambda df: df.withColumn("status_n", F.nullif(F.col("o_orderstatus"), F.lit("F"))),
)

_pipeline_query(
    "filter_ne_null",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE NULLIF(o_orderstatus, 'F') IS NOT NULL",
    "orders",
    QueryRequest(
        filters=[("status_n", "<>", None)],
        select=[("o_orderkey", None), ("o_orderstatus", None)],
    ),
    prep=lambda df: df.withColumn("status_n", F.nullif(F.col("o_orderstatus"), F.lit("F"))),
)

_pipeline_query(
    "combi_or_of_ands",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE (o_orderstatus = 'O' AND o_orderpriority = '1-URGENT')
       OR (o_orderstatus = 'F' AND o_orderpriority = '5-LOW')
    """,
    "orders",
    QueryRequest(
        combi=[
            {"o_orderstatus": "O", "o_orderpriority": "1-URGENT"},
            {"o_orderstatus": "F", "o_orderpriority": "5-LOW"},
        ],
        select=[("o_orderkey", None), ("o_orderstatus", None), ("o_orderpriority", None)],
    ),
)

_pipeline_query(
    "select_alias_exclude",
    "SELECT s_suppkey AS supplier_id, s_name AS supplier_name FROM supplier WHERE s_nationkey = 3",
    "supplier",
    QueryRequest(
        filters=[("s_nationkey", "=", 3)],
        select=[("s_suppkey", "supplier_id"), ("s_name", "supplier_name"), ("s_acctbal", None)],
        exclude=["s_acctbal"],
    ),
)

_pipeline_query(
    "distinct_values",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer WHERE c_nationkey < 5",
    "customer",
    QueryRequest(
        filters=[("c_nationkey", "<", 5)],
        select=[("c_mktsegment", None), ("c_nationkey", None)],
        distinct=True,
    ),
)

_pipeline_query(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    "orders",
    QueryRequest(
        select=[("o_orderkey", None), ("o_totalprice", None)],
        sortby=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        limit=20,
    ),
    bench=True,
)

_pipeline_query(
    "offset_paging",
    """
    SELECT c_custkey, c_name FROM customer
    ORDER BY c_custkey LIMIT 50 OFFSET 100
    """,
    "customer",
    QueryRequest(
        select=[("c_custkey", None), ("c_name", None)],
        sortby=[("c_custkey", "asc")],
        limit=50,
        offset=100,
    ),
)


# ---------------------------------------------------------------------------
# Search (§2.10) + nearby (§2.11)
# ---------------------------------------------------------------------------


@register(
    "search_like_score",
    """
    SELECT doc_id, n_chars, search_score FROM (
      SELECT doc_id, n_chars,
             NULLIF((CASE WHEN lower(concat_ws(' ', text, source)) LIKE '%spark%' THEN 1 ELSE 0 END)
                  + (CASE WHEN lower(concat_ws(' ', text, source)) LIKE '%window%' THEN 1 ELSE 0 END), 0) AS search_score
      FROM documents
    ) WHERE search_score IS NOT NULL
    """,
    bench=True,
)
def search_like_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return search(df, ["text", "source"], "spark window").select("doc_id", "n_chars", "search_score")


@register(
    "search_tf_score",
    """
    SELECT d.doc_id, s.search_score FROM documents d
    JOIN (
      SELECT doc_id, COUNT(*) AS search_score
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok FROM documents)
      WHERE tok IN ('spark','window')
      GROUP BY doc_id
    ) s ON d.doc_id = s.doc_id
    """,
)
def search_tf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.search import tf_search

    df = table(spark, sf_dir, "documents")
    return tf_search(df, "doc_id", "text", "spark window").select("doc_id", "search_score")


@register(
    "search_bm25_score",
    """
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT d.doc_id,
           ROUND(SUM(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1)
                     * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4)
             AS bm25_score
    FROM tf t
    JOIN dfq q ON t.tok = q.tok
    JOIN dl l ON l.doc_id = t.doc_id
    CROSS JOIN stats s
    JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY d.doc_id
    """,
    bench=True,
)
def search_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served from the per-table-version BM25 index (the reference keys
    its persisted FTS index by table modified date, df_duckdb.py:321-379):
    the corpus aggregation happens once per version at build, and each
    query is a pruned postings scan + broadcast term stats + one
    co-partitioned join/aggregate — not a per-request corpus re-scan."""
    from lakeapi_spark.operators.search import bm25_index_for, bm25_scores
    from lakeapi_spark.sources.fs import latest_modification

    df = table(spark, sf_dir, "documents")
    uri = f"{sf_dir}/documents.parquet"
    idx = bm25_index_for(df, "doc_id", "text", key=(uri, latest_modification(spark, uri)))
    return bm25_scores(idx, "spark window").withColumnRenamed("__id", "doc_id")


@register(
    "hybrid_search_rerank",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bm AS (
      SELECT t.doc_id,
             ROUND(SUM(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1)
                       * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4)
               AS bm25_score
      FROM tf t
      JOIN dfq q ON t.tok = q.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ),
    cand AS (
      SELECT doc_id, bm25_score
      FROM bm QUALIFY ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) <= 50
    ),
    cand2 AS (SELECT doc_id, bm25_score, MAX(bm25_score) OVER () AS mx FROM cand),
    ev AS (
      SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i, embedding FROM embeddings
    ), ex AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM ev
    ), en AS (
      SELECT vec_id, sqrt(SUM(val*val)) AS nrm FROM ex GROUP BY vec_id
    ),
    qv AS (SELECT i, val FROM ex WHERE vec_id = 0),
    qn AS (SELECT sqrt(SUM(val*val)) AS nrm FROM qv),
    dt AS (
      SELECT c.doc_id, SUM(ex.val * qv.val) AS d
      FROM cand2 c JOIN ex ON ex.vec_id = c.doc_id JOIN qv ON qv.i = ex.i
      GROUP BY c.doc_id
    ),
    scored AS (
      SELECT c.doc_id, c.bm25_score,
             CASE WHEN en.vec_id IS NOT NULL
                  THEN ROUND(dt.d / (en.nrm * qn.nrm), 4) END AS cos_sim,
             ROUND(0.5 * c.bm25_score / c.mx
                   + 0.5 * COALESCE(CASE WHEN en.vec_id IS NOT NULL
                                         THEN ROUND(dt.d / (en.nrm * qn.nrm), 4) END,
                                    0), 4) AS hybrid_score
      FROM cand2 c
      LEFT JOIN dt ON dt.doc_id = c.doc_id
      LEFT JOIN en ON en.vec_id = c.doc_id
      CROSS JOIN qn
    )
    SELECT doc_id AS id, bm25_score, cos_sim, hybrid_score,
           CAST(ROW_NUMBER() OVER (ORDER BY hybrid_score DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 20
    """,
    bench=True,
)
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval (the RAG-standard stack): indexed
    BM25 recalls 50 candidates, a dense cosine against the vec_id-0
    embedding reranks them, hybrid = 0.5*bm25/max + 0.5*cos, top 20.
    The rerank join touches only the candidate ids — never a
    corpus-wide vector scan — and every score rounds to 4 so the
    oracle re-derives the exact ranking."""
    from lakeapi_spark.operators.search import bm25_index_for, hybrid_search
    from lakeapi_spark.sources.fs import latest_modification

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    uri = f"{sf_dir}/documents.parquet"
    idx = bm25_index_for(d, "doc_id", "text", key=(uri, latest_modification(spark, uri)))
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return hybrid_search(
        idx, e, "vec_id", "embedding", "spark window", qv, n_candidates=50, k=20
    )


@register(
    "search_rrf_fusion",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bm AS (
      SELECT t.doc_id,
             ROUND(SUM(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1)
                       * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4)
               AS bm25_score
      FROM tf t
      JOIN dfq q ON t.tok = q.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ),
    bmr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) AS r
      FROM bm QUALIFY r <= 50
    ),
    ev AS (
      SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i, embedding FROM embeddings
    ), ex AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM ev
    ), en AS (
      SELECT vec_id, sqrt(SUM(val*val)) AS nrm FROM ex GROUP BY vec_id
    ),
    qv AS (SELECT i, val FROM ex WHERE vec_id = 0),
    qn AS (SELECT sqrt(SUM(val*val)) AS nrm FROM qv),
    dt AS (
      SELECT ex.vec_id, SUM(ex.val * qv.val) AS d
      FROM ex JOIN qv ON qv.i = ex.i WHERE ex.vec_id <> 0
      GROUP BY ex.vec_id
    ),
    dr AS (
      SELECT dt.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(dt.d / (en.nrm * qn.nrm), 4) DESC, dt.vec_id
             ) AS r
      FROM dt JOIN en ON en.vec_id = dt.vec_id CROSS JOIN qn
      QUALIFY r <= 50
    ),
    contrib AS (
      SELECT doc_id, 1000000000000 // (60 + r) AS c FROM bmr
      UNION ALL
      SELECT doc_id, 1000000000000 // (60 + r) AS c FROM dr
    ),
    fused AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS s, COUNT(*) AS n_lists
      FROM contrib GROUP BY 1
    )
    SELECT doc_id AS id, n_lists,
           CAST(ROUND(CAST(s AS DOUBLE) / 1000000000000.0, 6) AS DOUBLE) + 0.0 AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank
    FROM fused QUALIFY rank <= 20
    """,
    bench=True,
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the indexed-BM25 top-50 and the dense
    cosine top-50 for the same query (operators/search.rrf_fuse) — the
    normalization-free alternative to hybrid_search_rerank's score
    interpolation: 1/(60+rank) contributions in fixed-point integer
    division, fused order decided on an exact int64 sum. Docs
    appearing in only one list still rank (n_lists tells which)."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.search import bm25_index_for, bm25_scores, rrf_fuse
    from lakeapi_spark.operators.similarity import brute_force_topk
    from lakeapi_spark.sources.fs import latest_modification

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    uri = f"{sf_dir}/documents.parquet"
    idx = bm25_index_for(
        d, "doc_id", "text", key=(uri, latest_modification(spark, uri))
    )
    bm_rank = ranked_topk(
        bm25_scores(idx, "spark window"),
        [F.col("bm25_score").desc(), F.col("__id")],
        k=50,
    ).select(F.col("__id").alias("id"), "rank")
    dense_rank = brute_force_topk(
        e, e.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=50
    ).select(F.col("neighbor_id").alias("id"), "rank")
    return rrf_fuse([bm_rank, dense_rank]).filter(F.col("rank") <= 20)


@register(
    "hybrid_search_partial_embeddings",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bm AS (
      SELECT t.doc_id,
             ROUND(SUM(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1)
                       * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4)
               AS bm25_score
      FROM tf t
      JOIN dfq q ON t.tok = q.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ),
    cand AS (
      SELECT doc_id, bm25_score
      FROM bm QUALIFY ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) <= 50
    ),
    cand2 AS (SELECT doc_id, bm25_score, MAX(bm25_score) OVER () AS mx FROM cand),
    ev AS (
      SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i, embedding
      FROM embeddings WHERE vec_id % 2 = 0
    ), ex AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM ev
    ), en AS (
      SELECT vec_id, sqrt(SUM(val*val)) AS nrm FROM ex GROUP BY vec_id
    ),
    qv AS (SELECT i, val FROM ex WHERE vec_id = 0),
    qn AS (SELECT sqrt(SUM(val*val)) AS nrm FROM qv),
    dt AS (
      SELECT c.doc_id, SUM(ex.val * qv.val) AS d
      FROM cand2 c JOIN ex ON ex.vec_id = c.doc_id JOIN qv ON qv.i = ex.i
      GROUP BY c.doc_id
    ),
    scored AS (
      SELECT c.doc_id, c.bm25_score,
             CASE WHEN en.vec_id IS NOT NULL
                  THEN ROUND(dt.d / (en.nrm * qn.nrm), 4) END AS cos_sim,
             ROUND(0.5 * c.bm25_score / c.mx
                   + 0.5 * COALESCE(CASE WHEN en.vec_id IS NOT NULL
                                         THEN ROUND(dt.d / (en.nrm * qn.nrm), 4) END,
                                    0), 4) AS hybrid_score
      FROM cand2 c
      LEFT JOIN dt ON dt.doc_id = c.doc_id
      LEFT JOIN en ON en.vec_id = c.doc_id
      CROSS JOIN qn
    )
    SELECT doc_id AS id, bm25_score, cos_sim, hybrid_score,
           CAST(ROW_NUMBER() OVER (ORDER BY hybrid_score DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 20
    """,
)
def hybrid_search_partial_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid rerank with HALF the vector store missing (even vec_ids
    only — the lazily-backfilled-embeddings reality): candidates
    without a vector keep their lexical rank with a null cosine and a
    dense contribution of 0 instead of silently vanishing. This pins
    the left-join semantics at the oracle level, not just in a unit
    test."""
    from lakeapi_spark.operators.search import bm25_index_for, hybrid_search
    from lakeapi_spark.sources.fs import latest_modification

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    uri = f"{sf_dir}/documents.parquet"
    idx = bm25_index_for(d, "doc_id", "text", key=(uri, latest_modification(spark, uri)))
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    partial = e.filter(F.col("vec_id") % 2 == 0)
    return hybrid_search(
        idx, partial, "vec_id", "embedding", "spark window", qv, n_candidates=50, k=20
    )


@register(
    "nearby_radius",
    """
    SELECT c_custkey, CAST(ROUND(dist, 2) AS DOUBLE) AS distance_m FROM (
      SELECT c_custkey,
             6371000.0 * acos(least(greatest(
               cos(radians(46.9)) * cos(radians(45.0 + (c_custkey % 400) / 100.0))
               * cos(radians(7.0 + (c_custkey % 700) / 100.0) - radians(7.44))
               + sin(radians(46.9)) * sin(radians(45.0 + (c_custkey % 400) / 100.0)), -1.0), 1.0)) AS dist
      FROM customer
    ) WHERE dist <= 150000.0
    """,
)
def nearby_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata has no lat/lon columns; derive deterministic coordinates
    # from the key (same arithmetic in the oracle) — the operator under
    # test is the haversine filter itself.
    df = (
        table(spark, sf_dir, "customer")
        .withColumn("geo_lat", F.lit(45.0) + (F.col("c_custkey") % 400) / F.lit(100.0))
        .withColumn("geo_lon", F.lit(7.0) + (F.col("c_custkey") % 700) / F.lit(100.0))
    )
    out = nearby(df, "geo_lat", "geo_lon", lat=46.9, lon=7.44, distance_m=150000.0)
    return out.select(
        "c_custkey", F.round("distance_m", 2).cast("double").alias("distance_m")
    )


# ---------------------------------------------------------------------------
# Partition pruning (§2.12) — queries run against hive-partitioned copies
# (built once under .cache/); filters on the LOGICAL column get rewritten
# into derived partition filters. Oracles run on the original flat files,
# proving semantics are unchanged by pruning.
# ---------------------------------------------------------------------------

_LINEITEM_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"]


@register(
    "partition_prune_direct",
    f"SELECT {', '.join(_LINEITEM_COLS)} FROM lineitem WHERE l_returnflag = 'R'",
    bench=True,
)
def partition_prune_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.partitioning import apply_partition_pruning
    from lakeapi_spark.sources.partitioned import partitioned_copy

    df = partitioned_copy(spark, sf_dir, "lineitem", ["l_returnflag"])
    filters = [("l_returnflag", "=", "R")]
    df = apply_partition_pruning(df, ["l_returnflag"], filters)
    return apply_query(df, QueryRequest(filters=filters, select=[(c, None) for c in _LINEITEM_COLS]))


@register(
    "partition_prune_md5_prefix",
    "SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'",
)
def partition_prune_md5_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.partitioning import apply_partition_pruning
    from lakeapi_spark.sources.partitioned import partitioned_copy

    pcol = "o_orderpriority_md5_prefix_2"
    df = partitioned_copy(
        spark, sf_dir, "orders", [pcol], derive=("o_orderpriority", "md5_prefix", 2)
    )
    filters = [("o_orderpriority", "=", "1-URGENT")]
    df = apply_partition_pruning(df, [pcol], filters)
    # hidden derived column must not leak into the output (config.py:59-65)
    return apply_query(
        df,
        QueryRequest(
            filters=filters,
            select=[("o_orderkey", None), ("o_custkey", None), ("o_orderpriority", None), ("o_totalprice", None)],
        ),
    )


@register(
    "partition_prune_md5_mod",
    "SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_nationkey IN (3, 7)",
)
def partition_prune_md5_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.partitioning import apply_partition_pruning
    from lakeapi_spark.sources.partitioned import partitioned_copy

    pcol = "c_nationkey_md5_mod_7"
    df = partitioned_copy(spark, sf_dir, "customer", [pcol], derive=("c_nationkey", "md5_mod", 7))
    filters = [("c_nationkey", "in", [3, 7])]
    df = apply_partition_pruning(df, [pcol], filters)
    return apply_query(
        df,
        QueryRequest(
            filters=filters,
            select=[("c_custkey", None), ("c_name", None), ("c_nationkey", None)],
        ),
    )


@register(
    "partition_prune_prefix",
    "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part WHERE p_brand = 'Brand#19'",
)
def partition_prune_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain value-prefix partitioning (ref datasource.py:344-353,
    ``col_prefix_N``): partition value = first N chars of the literal,
    derived in Python and pushed as a normal partition filter."""
    from lakeapi_spark.operators.partitioning import apply_partition_pruning
    from lakeapi_spark.sources.partitioned import partitioned_copy

    pcol = "p_brand_prefix_7"
    df = partitioned_copy(spark, sf_dir, "part", [pcol], derive=("p_brand", "prefix", 7))
    filters = [("p_brand", "=", "Brand#19")]
    df = apply_partition_pruning(df, [pcol], filters)
    return apply_query(
        df,
        QueryRequest(
            filters=filters,
            select=[("p_partkey", None), ("p_name", None), ("p_brand", None), ("p_retailprice", None)],
        ),
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch form of the streaming semantics, §7)
# ---------------------------------------------------------------------------

_EPOCH = "CAST(floor(epoch(ts)) AS BIGINT)"


@register(
    "events_tumbling_5m",
    f"""
    SELECT CAST(floor({_EPOCH} / 300) * 300 AS BIGINT) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
)
def events_tumbling_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.windows import tumbling

    e = table(spark, sf_dir, "events")
    return tumbling(
        e,
        "ts",
        300,
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), money_sum(dec("value")).alias("sum_value")],
    )


@register(
    "events_sliding_10m_5m",
    f"""
    SELECT window_start, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM (
      SELECT unnest([CAST(floor({_EPOCH}/300)*300 AS BIGINT),
                     CAST((floor({_EPOCH}/300)-1)*300 AS BIGINT)]) AS window_start,
             {_EPOCH} AS e, value
      FROM events
    ) WHERE e >= window_start AND e < window_start + 600
    GROUP BY window_start
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.windows import sliding

    e = table(spark, sf_dir, "events")
    return sliding(
        e,
        "ts",
        600,
        300,
        [],
        [F.count(F.lit(1)).alias("n_events"), money_sum(dec("value")).alias("sum_value")],
    )


@register("stream_watermark_metrics", None)  # streaming: rows-only check
def stream_watermark_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data / watermark observability for the streaming sinks
    (VERDICT r11 #6): stage the events table as three time-ordered
    micro-batch files with the middle slice withheld until last (so
    it arrives LATE, behind the watermark the second file advanced),
    drain a watermarked tumbling aggregation with availableNow, and
    return the per-micro-batch metrics relation — input rows,
    rows_dropped_late (numRowsDroppedByWatermark), watermark, state
    rows/bytes, watermark lag. This is the relation an operator reads
    before trusting an exactly-once sink: silent late-drop trends and
    unbounded state both show up here first. Not SQL-expressible
    (driver metadata of a streaming run) — rows-only check; the
    drop-count arithmetic itself is property-tested against a batch
    replay of the watermark rule in tests/test_streaming.py.
    operators: streaming/pipeline.streaming_progress_metrics."""
    import os
    import tempfile
    import uuid

    from lakeapi_spark.streaming.pipeline import (
        ProgressCapture,
        streaming_progress_metrics,
    )

    import shutil

    e = table(spark, sf_dir, "events").select("ts", "user_id", "value")
    p50, p90 = e.selectExpr(
        "percentile(unix_timestamp(ts), 0.5)", "percentile(unix_timestamp(ts), 0.9)"
    ).first()
    cut = F.unix_timestamp("ts")
    stage = tempfile.mkdtemp(prefix="wm_metrics_")
    try:
        src = f"{stage}/src"  # checkpoint lives OUTSIDE the source glob
        parts = [
            ("f1", e.filter(cut <= p50)),
            ("f2", e.filter(cut > p90)),
            ("f3", e.filter((cut > p50) & (cut <= p90))),  # late arrivals
        ]
        for i, (name, df) in enumerate(parts):
            d = f"{src}/{name}"
            df.coalesce(1).write.mode("overwrite").parquet(d)
            # the file source orders micro-batches by mtime: pin it
            # explicitly instead of sleeping between writes
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    os.utime(os.path.join(root, fn), (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        qname = f"wm_metrics_{uuid.uuid4().hex[:8]}"
        n_staged = e.count()
        with ProgressCapture(spark) as cap:
            q = (
                agg.writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .option("checkpointLocation", f"{stage}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            # a False return means the drain timed out: proceeding would
            # hand the driver PARTIAL recentProgress (flaky rows-only row
            # on a slow host) — fail loudly instead (ADVICE r12)
            if not q.awaitTermination(180):
                q.stop()
                raise RuntimeError(
                    "stream_watermark_metrics: availableNow drain did not "
                    "terminate within 180s; refusing to report partial progress"
                )
            # recentProgress can drop early-batch rows on a fast drain
            # (r13, measured); merge with listener-captured events so the
            # 3-data-row contract is deterministic. Only the DATA batches
            # are required: the trailing finalization batch is
            # conditional (it runs only when the last file advances the
            # watermark, which the withheld-late-slice scenario does not)
            progress = cap.await_batches(
                q, n_batches=len(parts), min_input_rows=n_staged
            )
            q.stop()
        out = (
            streaming_progress_metrics(progress, spark)
            # append mode may tack on a no-input batch to emit finalized
            # windows; keep the row count deterministic for the driver
            .filter(F.col("num_input_rows") > 0)
            .orderBy("batch_id")
        )
        # the metrics relation is built from driver-side progress dicts
        # (createDataFrame), so nothing references the staging dir once
        # the stream has stopped — localCheckpoint would be overkill
        return out
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register("stream_state_bound", None)  # streaming: rows-only check
def stream_state_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store BOUND assertion (ROADMAP_r12 #4): feed a
    watermarked (window x user) aggregation — a key space that GROWS
    with the stream — from four time-ordered slices of the events
    table, then check per micro-batch that the state store holds
    EXACTLY the keys the watermark says should be live:
    numRowsTotal(batch) == #distinct (window, user) keys seen so far
    whose window_end > the batch's reported watermark (the eviction
    watermark — measured r13: state cleanup at the end of batch b uses
    max event time through b-1 minus the delay, i.e. the same lagging
    value progress reports; the late-data FILTER lags one batch more).
    The builder RAISES on any batch where state deviates from the
    bound, and raises if the final state did not shrink below the
    cumulative key count (no eviction = watermark not bounding state =
    the unbounded-state failure this query exists to catch). Returns
    the per-batch relation (batch_id, input rows, state rows, expected
    live keys, cumulative keys, bounded). Driver-metadata-sized; not
    SQL-expressible (rows-only); the eviction arithmetic is
    property-tested against a synthetic growing-key stream in
    tests/test_streaming.py."""
    import os
    import shutil
    import tempfile
    import uuid

    from lakeapi_spark.streaming.pipeline import (
        ProgressCapture,
        streaming_progress_metrics,
    )

    e = table(spark, sf_dir, "events").select("ts", "user_id", "value")
    p25, p50, p75 = e.selectExpr(
        "percentile(unix_timestamp(ts), 0.25)",
        "percentile(unix_timestamp(ts), 0.5)",
        "percentile(unix_timestamp(ts), 0.75)",
    ).first()
    cut = F.unix_timestamp("ts")
    stage = tempfile.mkdtemp(prefix="state_bound_")
    try:
        src = f"{stage}/src"  # checkpoint lives OUTSIDE the source glob
        slices = [
            e.filter(cut <= p25),
            e.filter((cut > p25) & (cut <= p50)),
            e.filter((cut > p50) & (cut <= p75)),
            e.filter(cut > p75),
        ]
        for i, df in enumerate(slices):
            d = f"{src}/f{i}"
            df.coalesce(1).write.mode("overwrite").parquet(d)
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    os.utime(os.path.join(root, fn), (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        qname = f"state_bound_{uuid.uuid4().hex[:8]}"
        n_staged = e.count()
        with ProgressCapture(spark) as cap:
            q = (
                agg.writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .option("checkpointLocation", f"{stage}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(180):
                q.stop()
                raise RuntimeError(
                    "stream_state_bound: availableNow drain did not terminate "
                    "within 180s; refusing to report partial progress"
                )
            # one batch per staged file + the finalization batch;
            # raises rather than asserting against a partial view
            progress = cap.await_batches(
                q, n_batches=len(slices) + 1, min_input_rows=n_staged
            )
            q.stop()
        metrics = streaming_progress_metrics(progress, spark).orderBy("batch_id")
        rows = metrics.collect()  # micro-batch-sized driver relation
        # batch b consumed staged slice b (mtime order IS micro-batch
        # order; the trailing no-input finalization batch sees all
        # slices). Every batch is asserted against its own REPORTED
        # watermark: eviction follows the reported value, and WHICH
        # batch first carries one is racy on a fast drain (the batch-0
        # watermark commit can land in batch 1 or batch 2) — a batch
        # with no watermark yet simply admits every key seen so far.
        keys = F.struct(F.window("ts", "5 minutes").alias("w"), F.col("user_id"))
        wend = F.col("k.w.end")
        out, n_files = [], len(slices)
        for r in rows:
            upto = min(r.batch_id, n_files - 1)
            cum = slices[0]
            for s_ in slices[1:upto + 1]:
                cum = cum.unionByName(s_)
            kd = cum.select(keys.alias("k")).distinct()
            cum_keys = kd.count()
            live = (
                kd.filter(wend > F.lit(r.watermark)).count()
                if r.watermark is not None
                else cum_keys
            )
            bounded = r.state_rows == live
            out.append(
                (r.batch_id, r.num_input_rows, r.state_rows, live, cum_keys, bounded)
            )
            if not bounded:
                raise RuntimeError(
                    f"stream_state_bound: batch {r.batch_id} holds "
                    f"{r.state_rows} state rows, watermark admits {live}"
                )
        if not out:
            raise RuntimeError("stream_state_bound: no progress rows")
        if out[-1][2] >= out[-1][4]:
            raise RuntimeError(
                "stream_state_bound: final state never shrank below the "
                f"cumulative key count ({out[-1][2]} >= {out[-1][4]}) — "
                "watermark is not bounding state"
            )
        return spark.createDataFrame(
            out,
            "batch_id long, num_input_rows long, state_rows long, "
            "expected_live_keys long, cum_keys long, state_bounded boolean",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "events_sessionize_30m",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, {_EPOCH} AS e,
             CASE WHEN LAG({_EPOCH}) OVER w IS NULL
                    OR {_EPOCH} - LAG({_EPOCH}) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, e,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(e) AS session_start, MAX(e) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    bench=True,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.windows import session_stats

    e = table(spark, sf_dir, "events")
    out = session_stats(e, "ts", "user_id", 1800, "event_id")
    return out.withColumn("session_id", F.col("session_id").cast("long"))


@register(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "retention_cohorts",
    f"""
    WITH activity AS (
      SELECT user_id, CAST({_EPOCH} // 86400 AS BIGINT) AS day FROM events
    ), cohorted AS (
      SELECT user_id, day,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM activity
    )
    SELECT CAST(cohort_day // 7 AS BIGINT) AS cohort_week,
           CAST((day - cohort_day) // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT user_id) AS n_users
    FROM cohorted
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week, counted
    at each later week-offset — the standard product-analytics
    triangle. All time math is INTEGER epoch-day arithmetic (floor-div
    86400 then 7) so cohort and offset are engine-exact; no date_trunc
    dialect trap. Plan: one shuffle for the per-user MIN window (on
    user_id), one for the cohort aggregate — the distinct-user count
    rides the aggregate's partial dedup. At 100 TB the activity
    relation pre-aggregates to (user, day) pairs BEFORE the window, so
    the window input is bounded by user-days, not raw events."""
    e = table(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts") / 86400)).cast("long")
    activity = e.select("user_id", day.alias("day")).distinct()
    w = Window.partitionBy("user_id")
    cohorted = activity.withColumn("cohort_day", F.min("day").over(w))
    return (
        cohorted.groupBy(
            F.floor(F.col("cohort_day") / 7).cast("long").alias("cohort_week"),
            F.floor((F.col("day") - F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_daily",
    "SELECT CAST(ts AS DATE) AS day, "
    + ", ".join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES)
    + " FROM events GROUP BY 1",
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    p = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return p.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data extension)
# ---------------------------------------------------------------------------

_TOKS = "string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')"

#: Gopher-rule stopword probe set (the paper's "contains at least two
#: of ..." rule)
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@register(
    "gopher_quality_flags",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
                  AS BIGINT) AS total_len,
             len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                 AS n_alpha,
             len(list_intersect(toks,
                 {[s for s in _GOPHER_STOPS]})) AS n_stop
      FROM t
    )
    SELECT doc_id, n_words, total_len, n_alpha, n_stop,
           n_words BETWEEN 50 AND 100000 AS ok_word_count,
           total_len >= 3 * n_words AND total_len <= 10 * n_words
               AS ok_mean_word_len,
           5 * n_alpha >= 4 * n_words AS ok_alpha_fraction,
           n_stop >= 2 AS ok_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND total_len >= 3 * n_words AND total_len <= 10 * n_words
             AND 5 * n_alpha >= 4 * n_words
             AND n_stop >= 2 AS keep
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition-free quality rules as per-doc
    boolean flags (word-count bounds, mean-word-length 3..10,
    >=80% alphabetic words, >=2 distinct probe stopwords) and their
    conjunction ``keep`` — the standard pretraining quality gate
    (Rahbari et al.'s line-level rules need line structure the
    single-line synthetic docs don't have; the doc-level rules are
    implemented in full). Every threshold is INTEGER math
    (``5*n_alpha >= 4*n_words`` instead of a float ratio), so the
    flags are bit-identical across engines with no rounding
    discipline needed, and the raw counts ride along so the hash
    compare pins every token computation (on this synthetic corpus
    most flags are near-constant — the counts are the discriminating
    signal). One map-only pass over array expressions — no shuffle,
    no Python."""
    d = table(spark, sf_dir, "documents")
    from lakeapi_spark.operators.text import tokens

    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(toks, scale_lit_array(_GOPHER_STOPS, "string"))
    )
    ok_wc = n_words.between(50, 100000)
    ok_mwl = (total_len >= 3 * n_words) & (total_len <= 10 * n_words)
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        total_len.cast("long").alias("total_len"),
        n_alpha.cast("long").alias("n_alpha"),
        n_stop.cast("long").alias("n_stop"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_fraction"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


@register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END AS n_tokens,
           length(text) AS len_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import token_count

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
    )


@register(
    "text_quality_score",
    f"""
    SELECT doc_id,
           ROUND(0.4 * LEAST(length(text) / 200.0, 1.0)
               + 0.3 * (1 - CASE WHEN length(text) > 0
                                 THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                                 ELSE 0.0 END)
               + 0.3 * (len(list_filter(['the','and','of','to','a','in','is','that','it','for'],
                                        w -> list_contains({_TOKS}, w))) / 10.0),
           4) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import quality_score

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "preference_pairs_quality",
    f"""
    WITH scored AS (
      SELECT doc_id, doc_id % 50 AS grp,
             ROUND(0.4 * LEAST(length(text) / 200.0, 1.0)
                 + 0.3 * (1 - CASE WHEN length(text) > 0
                                   THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                                   ELSE 0.0 END)
                 + 0.3 * (len(list_filter(['the','and','of','to','a','in','is','that','it','for'],
                                          w -> list_contains({_TOKS}, w))) / 10.0),
             4) AS q
      FROM documents
    ), best AS (
      SELECT grp, doc_id AS chosen_id, q AS chosen_q
      FROM scored QUALIFY ROW_NUMBER() OVER (
        PARTITION BY grp ORDER BY q DESC, doc_id) = 1
    ), worst AS (
      SELECT grp, doc_id AS rejected_id, q AS rejected_q
      FROM scored QUALIFY ROW_NUMBER() OVER (
        PARTITION BY grp ORDER BY q, doc_id DESC) = 1
    )
    SELECT b.grp, b.chosen_id, w.rejected_id,
           ROUND(b.chosen_q - w.rejected_q, 4) AS quality_gap
    FROM best b JOIN worst w ON w.grp = b.grp
    WHERE b.chosen_id <> w.rejected_id
    """,
)
def preference_pairs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training
    data: within each prompt group (hash bucket standing in for the
    shared prompt), the highest- and lowest-quality responses become
    the (chosen, rejected) pair, with the score gap as a curriculum /
    margin signal. Two windows over the group key — one shuffle;
    deterministic tiebreaks keep the pairing engine-exact. Groups
    whose best and worst coincide (single doc) drop."""
    from pyspark.sql.window import Window as W

    from lakeapi_spark.operators.text import quality_score

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 50).alias("grp"),
        quality_score(F.col("text")).alias("q"),
    )
    wb = W.partitionBy("grp").orderBy(F.col("q").desc(), "doc_id")
    ww = W.partitionBy("grp").orderBy(F.col("q"), F.col("doc_id").desc())
    best = (
        d.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") == 1)
        .select("grp", F.col("doc_id").alias("chosen_id"), F.col("q").alias("cq"))
    )
    worst = (
        d.withColumn("_r", F.row_number().over(ww))
        .filter(F.col("_r") == 1)
        .select("grp", F.col("doc_id").alias("rejected_id"), F.col("q").alias("rq"))
    )
    return (
        best.join(worst, "grp")
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "grp",
            "chosen_id",
            "rejected_id",
            F.round(F.col("cq") - F.col("rq"), 4).alias("quality_gap"),
        )
    )


def _pii_oracle() -> str:
    from lakeapi_spark.operators.text import scrub_pii_oracle_sql

    enriched = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or +1 ' || CAST(doc_id % 900 + 100 AS VARCHAR) || "
        "'-555-0199 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )
    return f"""
    WITH enriched AS (SELECT doc_id, {enriched} AS t FROM documents)
    SELECT doc_id, {scrub_pii_oracle_sql('t')}
    FROM enriched
    """


@register("pii_scrub_docs", _pii_oracle())
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents (training-data curation): emails,
    SSNs, phone numbers and IPv4s replaced by typed tokens, with
    per-kind hit counts and an ``n_pii`` total for PII-density
    filtering. The documents text is synthetic (no real PII), so the
    query ENRICHES each doc with deterministic doc_id-derived PII in
    BOTH engines — the hash compare then proves the scrub itself
    (pattern semantics, replace-all behavior, application order)
    rather than a vacuous zero-match pass. Map-only, no shuffle, pure
    codegen expressions (operators/text.py:scrub_pii)."""
    from lakeapi_spark.operators.text import scrub_pii

    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com or +1 "),
            (did % 900 + 100).cast("string"),
            F.lit("-555-0199 at 10.0."),
            (did % 256).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    return scrub_pii(enriched, "doc_id", "t")


@register("text_lang_id", None)  # oracle injected below (built from the lexicon)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import lang_id

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("pred_lang"))


@register("langid_class_metrics", None)  # oracle injected below
def langid_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation of the heuristic lang-id against the
    documents table's ground-truth labels: per language, support,
    prediction count, correct count, and precision/recall/F1 as exact
    integer-ratio doubles — the confusion-matrix readout any quality
    gate needs before trusting a per-language pipeline split. One
    groupBy over (actual, predicted) cells, then two tiny window sums
    over the |classes|^2 matrix; classes the model never predicts keep
    recall and get precision NULL (no fabricated zeros)."""
    from lakeapi_spark.operators.text import lang_id

    d = table(spark, sf_dir, "documents")
    cells = d.groupBy(
        F.col("lang").alias("actual"),
        lang_id(F.col("text")).alias("predicted"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wa = Window.partitionBy("actual")
    wp = Window.partitionBy("predicted")
    per = cells.select(
        "actual",
        "predicted",
        "n",
        F.sum("n").over(wa).alias("n_actual"),
        F.sum("n").over(wp).alias("n_predicted"),
    )
    diag = per.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("lang"),
        "n_actual",
        "n_predicted",
        F.col("n").alias("n_correct"),
    )
    # classes with no diagonal cell (never correct) still need a row:
    # rebuild from the actual-side totals with n_correct = 0
    actual_tot = cells.groupBy(F.col("actual").alias("lang")).agg(
        F.sum("n").alias("n_actual")
    )
    pred_tot = cells.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n").alias("n_predicted")
    )
    base = actual_tot.join(pred_tot, "lang", "left").join(
        diag.select("lang", "n_correct"), "lang", "left"
    )
    corr = F.coalesce("n_correct", F.lit(0))
    prec = F.when(
        F.col("n_predicted") > 0,
        corr.cast("double") / F.col("n_predicted").cast("double"),
    )
    rec = corr.cast("double") / F.col("n_actual").cast("double")
    f1 = 2.0 * prec * rec / (prec + rec)
    return base.select(
        "lang",
        "n_actual",
        F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
        F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        (F.round(prec, 6) + 0.0).alias("precision"),
        (F.round(rec, 6) + 0.0).alias("recall"),
        (
            F.when(prec + rec > 0, F.round(f1, 6) + 0.0)
        ).alias("f1"),
    )


def _install_langid_oracle() -> None:
    from lakeapi_spark.operators.text import lang_id_oracle_sql

    QUERIES["text_lang_id"].oracle = (
        f"SELECT doc_id, lang, {lang_id_oracle_sql('text')} AS pred_lang FROM documents"
    )
    QUERIES["langid_class_metrics"].oracle = f"""
    WITH cells AS (
      SELECT lang AS actual, {lang_id_oracle_sql('text')} AS predicted, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ), at AS (
      SELECT actual AS lang, SUM(n) AS n_actual FROM cells GROUP BY 1
    ), pt AS (
      SELECT predicted AS lang, SUM(n) AS n_predicted FROM cells GROUP BY 1
    ), dg AS (
      SELECT actual AS lang, n AS n_correct FROM cells WHERE actual = predicted
    )
    SELECT at.lang,
           CAST(at.n_actual AS BIGINT) AS n_actual,
           CAST(COALESCE(pt.n_predicted, 0) AS BIGINT) AS n_predicted,
           CAST(COALESCE(dg.n_correct, 0) AS BIGINT) AS n_correct,
           CASE WHEN COALESCE(pt.n_predicted, 0) > 0
                THEN CAST(ROUND(CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / pt.n_predicted, 6) AS DOUBLE) + 0.0
           END AS precision,
           CAST(ROUND(CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / at.n_actual, 6) AS DOUBLE) + 0.0 AS recall,
           CASE WHEN COALESCE(pt.n_predicted, 0) > 0
                AND CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / pt.n_predicted
                     + CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / at.n_actual > 0
                THEN CAST(ROUND(2.0 * (CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / pt.n_predicted)
                           * (CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / at.n_actual)
                           / (CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / pt.n_predicted
                              + CAST(COALESCE(dg.n_correct, 0) AS DOUBLE) / at.n_actual), 6) AS DOUBLE) + 0.0
           END AS f1
    FROM at
    LEFT JOIN pt ON pt.lang = at.lang
    LEFT JOIN dg ON dg.lang = at.lang
    """


_install_langid_oracle()


@register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import fingerprint

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "text_bpe_token_count",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS INT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import bpe_ish_token_count

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"))


@register(
    "text_rolling_fingerprint",
    r"""
    SELECT doc_id,
           CASE WHEN toks = [''] THEN 0 ELSE
             list_reduce(
               list_transform(toks,
                 t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1000000007),
               (a, b) -> (a * 31 + b) % 1000000007) END AS roll_fp
    FROM (SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS toks FROM documents)
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.text import rolling_fingerprint

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("roll_fp"))


@register(
    "text_chunking",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), st AS (
      SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks
    )
    SELECT doc_id,
           CAST(s / 48 AS BIGINT) AS chunk_idx,
           CAST(len(t[s+1 : s+64]) AS BIGINT) AS n_tokens,
           array_to_string(t[s+1 : s+64], ' ') AS chunk_text
    FROM st
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48)
    — exact per-chunk oracle incl. the short tail window."""
    from lakeapi_spark.operators.text import chunk_documents

    d = table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16)


@register(
    "chunk_dedup_summary",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), st AS (
      SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM toks
    ), chunks AS (
      SELECT doc_id * 1000 + CAST(s / 48 AS BIGINT) AS chunk_key,
             array_to_string(t[s+1 : s+64], ' ') AS chunk_text
      FROM st
    )
    SELECT md5(regexp_replace(regexp_replace(lower(chunk_text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fingerprint,
           MIN(chunk_key) AS keeper_id, COUNT(*) AS n_dups
    FROM chunks GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def chunk_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof: chunking feeds straight into exact dedup —
    duplicated chunk groups across the corpus (cross-doc boilerplate
    detection, the chunk-level analogue of dedup_exact). chunk_key
    packs (doc_id, chunk_idx) so the keeper is deterministic."""
    from lakeapi_spark.operators.dedup import exact_dedup_keepers
    from lakeapi_spark.operators.text import chunk_documents

    d = table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("chunk_key"), "chunk_text"
    )
    return exact_dedup_keepers(chunks, "chunk_key", "chunk_text").filter(
        F.col("n_dups") > 1
    )


@register(
    "text_repetition_metrics",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') END AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, t,
             CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             END AS b
      FROM toks
    )
    SELECT doc_id,
           len(b) AS n_bigrams,
           CASE WHEN len(b) > 0
                THEN ROUND(1 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b), 4)
           END AS dup_bigram_frac,
           CASE WHEN len(t) > 0
                THEN ROUND(CAST(list_max(list_transform(list_distinct(t),
                       d -> len(list_filter(t, x -> x = d)))) AS DOUBLE) / len(t), 4)
           END AS top_token_share
    FROM bg
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (duplicate-bigram fraction,
    top-token share) — exact per-row oracle."""
    from lakeapi_spark.operators.text import repetition_metrics

    d = table(spark, sf_dir, "documents")
    return repetition_metrics(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# Deduplication (training-data extension)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fingerprint,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.dedup import exact_dedup_keepers

    d = table(spark, sf_dir, "documents")
    return exact_dedup_keepers(d, "doc_id", "text")


_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM idx
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 4) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE ROUND(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 4) >= 0.2
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.dedup import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2)


_PREFIX_JACCARD_ORACLE = r"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, t AS token
      FROM (SELECT doc_id, unnest(regexp_split_to_array(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+')) AS t
            FROM documents)
      WHERE t <> ''
    ), freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    ordered AS (
      SELECT o.id, o.token,
             ROW_NUMBER() OVER (PARTITION BY o.id ORDER BY f.cnt, o.token) AS pos,
             COUNT(*) OVER (PARTITION BY o.id) AS sz
      FROM toks o JOIN freq f USING (token)
    ), pref AS (
      SELECT * FROM ordered WHERE pos <= sz - ((19*sz + 19) // 20) + 1
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
      FROM pref a JOIN pref b ON a.token = b.token AND a.id < b.id
      WHERE LEAST(a.sz, b.sz) * 20 >= 19 * GREATEST(a.sz, b.sz)
    ), inter AS (
      SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, COUNT(*) AS inter_sz
      FROM cand c
      JOIN toks ta ON ta.id = c.id_a
      JOIN toks tb ON tb.id = c.id_b AND tb.token = ta.token
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, inter_sz, sz_a + sz_b - inter_sz AS union_sz,
           CAST(ROUND(inter_sz / CAST(sz_a + sz_b - inter_sz AS DOUBLE), 6) AS DOUBLE) AS jaccard
    FROM inter WHERE inter_sz * 20 >= 19 * (sz_a + sz_b - inter_sz)
"""


@register("dedup_jaccard_prefix_join", _PREFIX_JACCARD_ORACLE)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set similarity self-join at Jaccard >= 0.95 via
    AllPairs/PPJoin prefix filtering — the deterministic companion to
    the probabilistic MinHash-LSH path (same pairs contract). See
    operators/dedup.py:jaccard_prefix_pairs for the scale shape."""
    from lakeapi_spark.operators.dedup import jaccard_prefix_pairs

    d = table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(d, "doc_id", "text", 19, 20)


#: DuckDB twin of operators.text.portable_hash60 — the hinge that makes
#: every minhash/simhash signature value-exact cross-engine.
_PH60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _minhash_oracle(
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 32,
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """Exact oracle for the full MinHash-LSH pipeline: re-derives the
    60-bit shingle hashes, the universal-hash permutations (constants
    regenerated from the same seeded PRNG as the Spark side), the
    polynomial band keys (pure int64 arithmetic — see
    operators.dedup.band_key), the candidate set, and the exact-Jaccard
    verification — bit-for-bit. ``docs_sql`` swaps the (doc_id, text)
    source relation — the incremental-index query points it at the
    deterministically-transformed final table state."""
    from lakeapi_spark.operators.dedup import BAND_A, MINHASH_P, minhash_perm_constants

    a_c, b_c = minhash_perm_constants(num_hashes)
    rows = num_hashes // bands
    sig_aggs = ",\n             ".join(
        f"MIN(((h % {MINHASH_P}) * {a_c[i]} + {b_c[i]}) % {MINHASH_P}) AS s{i}"
        for i in range(num_hashes)
    )

    def bucket_expr(b: int) -> str:
        acc = f"CAST({b} AS BIGINT)"
        for r in range(rows):
            acc = f"((({acc}) * {BAND_A} + s{b * rows + r}) % {MINHASH_P})"
        return acc

    bucket_items = ",\n               ".join(bucket_expr(b) for b in range(bands))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t
      FROM ({docs_sql})
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM idx
    ), hsx AS (
      SELECT doc_id, {_PH60.format(x='g')} AS h FROM grams
    ), sig AS (
      SELECT doc_id,
             {sig_aggs}
      FROM hsx GROUP BY doc_id
    ), buckets AS (
      SELECT doc_id, unnest([{bucket_items}]) AS bucket FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM hsx GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ni
      FROM cand c
      JOIN hsx a ON a.doc_id = c.id_a
      JOIN hsx b ON b.doc_id = c.id_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 4) AS jaccard
    FROM inter i JOIN sizes na ON na.doc_id = i.id_a JOIN sizes nb ON nb.doc_id = i.id_b
    WHERE ROUND(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 4) >= {threshold}
    """


def _simhash_fp_cte(bits: int = 60) -> str:
    """CTE ``fp(doc_id, simhash)`` re-deriving the Spark simhash exactly:
    portable 60-bit token hashes, per-bit +-1 sums, sign-bit assembly."""
    terms = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    tok_hash = _PH60.format(x="tk")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \\t\\n\\x0B\\f\\r]')
    ), hsrel AS (
      SELECT doc_id, list_transform(t, tk -> {tok_hash}) AS hs FROM toks
    ), fp AS (
      SELECT doc_id,
           {terms}
           AS simhash
      FROM hsrel
    )
    """


def _lsh_quality_oracle(threshold: float = 0.5) -> str:
    """Composition oracle for the LSH quality report: the FULL minhash
    pipeline re-derivation (as a subquery) full-outer-joined against
    the exact hashed-shingle Jaccard pair set at the same threshold."""
    lsh_sql = _minhash_oracle(threshold=threshold)
    return f"""
    WITH lshp AS (SELECT id_a, id_b FROM ({lsh_sql})),
    toks2 AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx2 AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks2 WHERE len(t) >= 2
    ), grams2 AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM idx2
    ), hsx2 AS (
      SELECT doc_id, {_PH60.format(x='g')} AS h FROM grams2
    ), sizes2 AS (
      SELECT doc_id, COUNT(*) AS n FROM hsx2 GROUP BY doc_id
    ), inter2 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      FROM hsx2 a JOIN hsx2 b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2
    ), exactp AS (
      SELECT i.id_a, i.id_b FROM inter2 i
      JOIN sizes2 na ON na.doc_id = i.id_a
      JOIN sizes2 nb ON nb.doc_id = i.id_b
      WHERE ROUND(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 4) >= {threshold}
    ), m AS (
      SELECT CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS ex,
             CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS ls
      FROM exactp e FULL OUTER JOIN lshp l
        ON l.id_a = e.id_a AND l.id_b = e.id_b
    )
    SELECT CAST(SUM(ex) AS BIGINT) AS n_exact, CAST(SUM(ls) AS BIGINT) AS n_lsh,
           CAST(SUM(ex * ls) AS BIGINT) AS n_common,
           ROUND(CAST(SUM(ex * ls) AS DOUBLE) / SUM(ex), 6) + 0.0 AS recall,
           ROUND(CAST(SUM(ex * ls) AS DOUBLE) / SUM(ls), 6) + 0.0 AS precision
    FROM m
    """


@register("dedup_lsh_quality", _lsh_quality_oracle())
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality report — what a data-quality team measures before
    trusting approximate dedup at scale: the banded MinHash pair set
    vs the EXACT hashed-shingle Jaccard pair set at the same
    threshold, full-outer-joined into (n_exact, n_lsh, n_common,
    recall, precision). Precision is 1 by construction (LSH verifies
    candidates with the exact Jaccard); recall < 1 quantifies banding
    misses — the number you tune bands/rows against. Exact side costs
    one shingle self-join (the thing LSH avoids) — at corpus scale run
    the report with ``exact_sample_mod=m`` (wired in operators/dedup.
    lsh_quality_report: both sides restrict to a deterministic
    md5-sampled 1/m doc subset, bounding the all-pairs term at
    (n/m)^2); this registered query runs WHOLE at test scale so the
    oracle verifies the unsampled relation, and the sampled path is
    verified by the sample==prefiltered-universe unit test + the
    SCALING.md curve."""
    from lakeapi_spark.operators.dedup import lsh_quality_report

    d = table(spark, sf_dir, "documents")
    return lsh_quality_report(d, "doc_id", "text", threshold=0.5)


@register("dedup_minhash_lsh", _minhash_oracle(), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs, now EXACTLY oracle-verified:
    the portable-hash + universal-permutation internals (operators/
    dedup.py) are re-derived in SQL by _minhash_oracle; recall remains
    property-tested vs the exact Jaccard operator."""
    from lakeapi_spark.operators.dedup import minhash_lsh_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5)


@register(
    "dedup_simhash",
    _simhash_fp_cte()
    + """
    SELECT COUNT(DISTINCT simhash) AS n_fingerprints, COUNT(*) AS n_docs FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.dedup import simhash

    d = table(spark, sf_dir, "documents")
    s = simhash(d, "doc_id", "text")
    return s.agg(
        F.count_distinct("simhash").alias("n_fingerprints"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_EMB_DOT = """
    WITH v AS (
      SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i, embedding FROM embeddings
    ), x AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM v
    ), n AS (
      SELECT vec_id, sqrt(SUM(val*val)) AS nrm FROM x GROUP BY vec_id
    )
"""


@register(
    "dedup_embedding_cosine",
    _EMB_DOT
    + """
    , d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.val*b.val) AS dot
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(dot/(na.nrm*nb.nrm), 4) AS cosine
    FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
    WHERE ROUND(dot/(na.nrm*nb.nrm), 4) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.dedup import embedding_dup_pairs

    e = table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(e, "vec_id", "embedding", threshold=0.35)


# ---------------------------------------------------------------------------
# Similarity search (training-data extension)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = (
    _EMB_DOT
    + """
    , q AS (SELECT vec_id, i, val FROM x WHERE vec_id <= 4)
    , d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.val*c.val) AS dot
      FROM q JOIN x c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id, ROUND(dot/(nq.nrm*nc.nrm), 4) AS cosine
      FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """
)


_QUANTIZED_TOPK_ORACLE = """
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
             embedding
      FROM embeddings
    ), qz AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) / (mx / 127)) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
             END AS q
      FROM m
    ), xv AS (
      SELECT vec_id, unnest(range(1, len(q)+1)) AS i, q FROM qz
    ), xe AS (
      SELECT vec_id, i, q[i] AS qi FROM xv
    ), n2 AS (
      SELECT vec_id, SUM(qi*qi) AS n2 FROM xe GROUP BY vec_id
    ), d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.qi*c.qi) AS dot
      FROM (SELECT * FROM xe WHERE vec_id <= 4) q
      JOIN xe c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(nq.n2 AS DOUBLE) * nc.n2), 4) AS cosine
      FROM d JOIN n2 nq ON nq.vec_id = query_id JOIN n2 nc ON nc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@register("ann_quantized_topk", _QUANTIZED_TOPK_ORACLE)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-quantized embeddings: per-vector scales cancel in
    cosine, so the score is integer-exact and the oracle reproduces it
    bit-for-bit — the 4x-smaller storage path for embedding corpora."""
    from lakeapi_spark.operators.similarity import quantized_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = quantized_topk(e, q, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register("ann_brute_force_topk", _TOPK_ORACLE, bench=True)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = brute_force_topk(e, q, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "ann_pq_adc_topk",
    """
    WITH nrm AS (
      SELECT vec_id,
             sqrt(SUM(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                      * CAST(embedding[CAST(t.i AS INT)] AS DOUBLE))) AS nv
      FROM embeddings, range(1, 65) t(i) GROUP BY vec_id
    ), eq AS (
      SELECT e.vec_id, t.i AS i,
             CAST(ROUND(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000 / n.nv, 0) AS BIGINT) AS v,
             (t.i - 1) // 4 AS m
      FROM embeddings e JOIN nrm n ON n.vec_id = e.vec_id
      CROSS JOIN range(1, 65) t(i)
    ), cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS kidx, vec_id
      FROM embeddings WHERE vec_id BETWEEN 5 AND 20
    ), cbe AS (
      SELECT cb.kidx, eq.m, eq.i, eq.v FROM cb JOIN eq ON eq.vec_id = cb.vec_id
    ), dist AS (
      SELECT x.vec_id AS xid, c.kidx, x.m,
             SUM((x.v - c.v) * (x.v - c.v)) AS d
      FROM eq x JOIN cbe c ON c.i = x.i AND c.m = x.m
      GROUP BY x.vec_id, c.kidx, x.m
    ), codes AS (
      SELECT xid, m, kidx FROM (
        SELECT xid, m, kidx,
               row_number() OVER (PARTITION BY xid, m ORDER BY d, kidx) AS rn
        FROM dist
      ) WHERE rn = 1
    ), lut AS (
      SELECT xid AS query_id, m, kidx, d FROM dist WHERE xid <= 4
    ), adc AS (
      SELECT l.query_id, c.xid AS neighbor_id, SUM(l.d) AS adist
      FROM codes c JOIN lut l ON l.m = c.m AND l.kidx = c.kidx
      WHERE c.xid <> l.query_id
      GROUP BY l.query_id, c.xid
    )
    SELECT query_id, neighbor_id, CAST(adist AS BIGINT) AS adist,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adist, neighbor_id
             ) AS rank
      FROM adc
    ) WHERE rank <= 10
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py:pq_topk):
    16 subspaces x 16 seeded codewords over normalize-then-quantized
    int vectors — every subdistance, code and ADC score is INTEGER
    arithmetic, so the DuckDB oracle re-derives the whole pipeline
    exactly (no float-sum order risk anywhere past the one
    hash-green norm). The 100 TB memory format: corpus scans read
    16-byte codes instead of 64-float vectors."""
    from lakeapi_spark.operators.similarity import pq_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    return pq_topk(
        e, q, "vec_id", "embedding", k=10,
        codebook_ids=list(range(5, 21)), m_subspaces=16,
    )


@register("ann_numpy_topk", _TOPK_ORACLE)
def ann_numpy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.similarity import numpy_topk

    e = table(spark, sf_dir, "embeddings")
    qvecs = {
        r["vec_id"]: list(r["embedding"])
        for r in e.filter(F.col("vec_id") <= 4).collect()
    }
    out = numpy_topk(e, qvecs, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_oracle(dim: int = 64, n_planes: int = 4, n_tables: int = 8, seed: int = 42) -> str:
    """Exact oracle for the LSH pipeline: the hyperplanes are
    DATA-INDEPENDENT (seeded randn), so their literal values are baked
    into the SQL at registration and DuckDB re-derives the identical
    sign-bit signatures, candidate set, and cosine re-rank. Uses the
    same SUM-over-unnested-elements dot product already hash-green in
    dedup_embedding_cosine/ann_brute_force."""
    from lakeapi_spark.operators.similarity import random_hyperplanes

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(random_hyperplanes(dim, n_planes, seed + 1000 * t)):
            rows.extend(f"({t},{p},{i + 1},{w!r})" for i, w in enumerate(plane))
    values = ",".join(rows)
    return (
        _EMB_DOT
        + f"""
    , planes(t, p, i, w) AS (VALUES {values})
    , sigdot AS (
        SELECT x.vec_id, pl.t, pl.p, SUM(x.val * pl.w) AS d
        FROM x JOIN planes pl ON pl.i = x.i GROUP BY 1, 2, 3
    )
    , sig AS (
        SELECT vec_id, t,
               CAST(SUM(CASE WHEN d >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
               + CAST(t AS BIGINT) * 4294967296 AS sig
        FROM sigdot GROUP BY vec_id, t
    )
    , cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM sig q JOIN sig c ON q.sig = c.sig AND c.vec_id <> q.vec_id
        WHERE q.vec_id <= 4
    )
    , dt AS (
        SELECT cand.query_id, cand.neighbor_id, SUM(a.val * b.val) AS dot
        FROM cand
        JOIN x a ON a.vec_id = cand.query_id
        JOIN x b ON b.vec_id = cand.neighbor_id AND b.i = a.i
        GROUP BY 1, 2
    )
    , scored AS (
        SELECT dt.query_id, dt.neighbor_id,
               ROUND(dt.dot / (na.nrm * nb.nrm), 4) AS cosine
        FROM dt JOIN n na ON na.vec_id = dt.query_id
                JOIN n nb ON nb.vec_id = dt.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 10
    """
    )


@register("ann_lsh_topk", _lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH, now EXACTLY oracle-verified:
    data-independent hyperplanes are baked into the oracle as literals
    (see _lsh_oracle); recall remains property-tested vs brute force."""
    from lakeapi_spark.operators.similarity import lsh_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = lsh_topk(e, q, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


#: Fixed data-point centroid seeds (k-means init, zero iterations):
#: disjoint from the query ids (0-4) and present at every SF.
_IVF_CENTROID_IDS = list(range(5, 21))


def _ivf_oracle(
    centroid_ids: list[int],
    n_probe: int = 4,
    k: int = 10,
    prefix: str = _EMB_DOT,
    source: str = "embeddings",
) -> str:
    """Exact oracle for the seeded-centroid IVF pipeline: re-derives the
    centroid set (fixed vec_ids, cid = rank in id order), the rounded-
    cosine inverted-list assignment, the n_probe probe lists, and the
    exact re-rank — value-identical to operators/similarity.ivf_topk
    with ``centroid_ids``. ``prefix``/``source`` swap the corpus the
    x/n/cents CTEs derive from (the CDF-maintained index verifies
    against a MUTATED corpus re-derived in SQL)."""
    ids = ", ".join(str(i) for i in centroid_ids)
    return (
        prefix
        + f"""
    , cents AS (
      SELECT vec_id AS cvid, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM {source} WHERE vec_id IN ({ids})
    )
    , cdot AS (
      SELECT a.vec_id, c.cid, c.cvid, SUM(a.val * b.val) AS d
      FROM x a JOIN cents c ON TRUE JOIN x b ON b.vec_id = c.cvid AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    , cscore AS (
      SELECT cd.vec_id, cd.cid, ROUND(cd.d / (nv.nrm * nc.nrm), 4) AS cos
      FROM cdot cd JOIN n nv ON nv.vec_id = cd.vec_id JOIN n nc ON nc.vec_id = cd.cvid
    )
    , ranked AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      FROM cscore
    )
    , assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1)
    , probes AS (SELECT vec_id, cid FROM ranked WHERE rn <= {n_probe} AND vec_id <= 4)
    , cand AS (
      SELECT DISTINCT q.vec_id AS query_id, a2.vec_id AS neighbor_id
      FROM probes q JOIN assign a2 ON a2.cid = q.cid AND a2.vec_id <> q.vec_id
    )
    , dt AS (
      SELECT cand.query_id, cand.neighbor_id, SUM(a.val * b.val) AS dot
      FROM cand JOIN x a ON a.vec_id = cand.query_id
                JOIN x b ON b.vec_id = cand.neighbor_id AND b.i = a.i
      GROUP BY 1, 2
    )
    , scored AS (
      SELECT dt.query_id, dt.neighbor_id, ROUND(dt.dot / (na.nrm * nb.nrm), 4) AS cosine
      FROM dt JOIN n na ON na.vec_id = dt.query_id JOIN n nb ON nb.vec_id = dt.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """
    )


def _ivf_sq8_oracle(centroid_ids: list[int], n_probe: int = 4, k: int = 10) -> str:
    """Exact oracle for IVF-SQ8: the float seeded-centroid routing CTEs
    from _ivf_oracle joined with the integer quantized-cosine scoring
    from _QUANTIZED_TOPK_ORACLE — the whole composition re-derived."""
    ids = ", ".join(str(i) for i in centroid_ids)
    return (
        _EMB_DOT
        + f"""
    , cents AS (
      SELECT vec_id AS cvid, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM embeddings WHERE vec_id IN ({ids})
    )
    , cdot AS (
      SELECT a.vec_id, c.cid, c.cvid, SUM(a.val * b.val) AS d
      FROM x a JOIN cents c ON TRUE JOIN x b ON b.vec_id = c.cvid AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    , cscore AS (
      SELECT cd.vec_id, cd.cid, ROUND(cd.d / (nv.nrm * nc.nrm), 4) AS cos
      FROM cdot cd JOIN n nv ON nv.vec_id = cd.vec_id JOIN n nc ON nc.vec_id = cd.cvid
    )
    , ranked AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      FROM cscore
    )
    , assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1)
    , probes AS (SELECT vec_id, cid FROM ranked WHERE rn <= {n_probe} AND vec_id <= 4)
    , cand AS (
      SELECT DISTINCT q.vec_id AS query_id, a2.vec_id AS neighbor_id
      FROM probes q JOIN assign a2 ON a2.cid = q.cid AND a2.vec_id <> q.vec_id
    )
    , mq AS (
      SELECT vec_id,
             list_max(list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))) AS mx,
             embedding
      FROM embeddings
    ), qz AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         e -> CAST(round(CAST(e AS DOUBLE) / (mx / 127)) AS BIGINT))
                  ELSE list_transform(embedding, e -> CAST(0 AS BIGINT))
             END AS q
      FROM mq
    ), xvq AS (
      SELECT vec_id, unnest(range(1, len(q)+1)) AS i, q FROM qz
    ), xeq AS (
      SELECT vec_id, i, q[i] AS qi FROM xvq
    ), n2q AS (
      SELECT vec_id, SUM(qi*qi) AS n2 FROM xeq GROUP BY vec_id
    ), dt AS (
      SELECT cand.query_id, cand.neighbor_id, SUM(a.qi * b.qi) AS dot
      FROM cand JOIN xeq a ON a.vec_id = cand.query_id
                JOIN xeq b ON b.vec_id = cand.neighbor_id AND b.i = a.i
      GROUP BY 1, 2
    ), scored AS (
      SELECT dt.query_id, dt.neighbor_id,
             ROUND(CAST(dt.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 4) AS cosine
      FROM dt JOIN n2q na ON na.vec_id = dt.query_id JOIN n2q nb ON nb.vec_id = dt.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """
    )


@register("ann_ivf_sq8_topk", _ivf_sq8_oracle(_IVF_CENTROID_IDS))
def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8: float coarse quantizer routes into inverted lists,
    int8-quantized vectors score in-list with the integer-exact cosine
    — the FAISS-standard big-corpus ANN config, fully oracle-verified."""
    from lakeapi_spark.operators.similarity import ivf_sq8_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = ivf_sq8_topk(e, q, "vec_id", "embedding", k=10, centroid_ids=_IVF_CENTROID_IDS)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register("ann_ivf_indexed_topk", _ivf_oracle(_IVF_CENTROID_IDS))
def ann_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served from the PER-TABLE-VERSION inverted-list index
    (similarity.py:ivf_index_for — the ANN analogue of the persisted
    BM25 index): corpus assignment is paid once per table version, each
    query probes its n_probe lists with one equi-join against the
    cached lists + an exact re-rank. IDENTICAL results to ann_ivf_topk
    (same seeded quantizer, same rounded cosine, same oracle)."""
    from lakeapi_spark.operators.similarity import ivf_index_for, ivf_topk_indexed
    from lakeapi_spark.sources.fs import latest_modification

    e = table(spark, sf_dir, "embeddings")
    uri = f"{sf_dir}/embeddings.parquet"
    idx = ivf_index_for(
        e, "vec_id", "embedding", _IVF_CENTROID_IDS,
        key=(uri, latest_modification(spark, uri)),
    )
    q = e.filter(F.col("vec_id") <= 4)
    out = ivf_topk_indexed(idx, q, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register("ann_ivf_topk", _ivf_oracle(_IVF_CENTROID_IDS))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the seeded data-point quantizer, EXACTLY
    oracle-verified (see _ivf_oracle); recall of the k-means quantizer
    path stays property-tested vs brute force."""
    from lakeapi_spark.operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = ivf_topk(
        e, q, "vec_id", "embedding", k=10, centroid_ids=_IVF_CENTROID_IDS
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


#: oracle corpus for the CDF-maintained IVF index: the embeddings table
#: after the fixture's delete / update(reverse) / append(reverse) — the
#: query ids (<=4) and centroid seeds (5-20) are excluded from mutation
#: so the frozen quantizer stays re-derivable from the final state
_EMB_DOT_CDF = """
    WITH corpus AS (
      SELECT vec_id,
             CASE WHEN vec_id > 20 AND vec_id % 89 = 5
                  THEN list_reverse(embedding) ELSE embedding END AS embedding
      FROM embeddings
      WHERE NOT (vec_id > 20 AND vec_id % 97 = 3)
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, list_reverse(embedding) AS embedding
      FROM embeddings WHERE vec_id % 101 = 7
    ), v AS (
      SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i, embedding FROM corpus
    ), x AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM v
    ), n AS (
      SELECT vec_id, sqrt(SUM(val*val)) AS nrm FROM x GROUP BY vec_id
    )
"""


def _ivf_cdf_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once fixture proving CHANGE-FEED maintenance of the IVF
    index (operators/incremental.ivf_index_*): a CDF-enabled delta
    table of embeddings goes through v0 CREATE, v1 DELETE (vec_id>20 &
    %97==3), v2 UPDATE (vec_id>20 & %89==5 -> reversed vector — norm-
    preserving but direction-changing, so neighbors genuinely move),
    v3 APPEND (%101==7 -> id+100000, reversed) — the index built ONCE
    at v0, then advanced purely from delta_changes with FROZEN
    centroids. Every commit is a deterministic function of the
    embeddings table, so DuckDB re-derives the final corpus for the
    oracle. Returns (table_path, index_path)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.operators.incremental import (
        ivf_index_build_delta,
        ivf_index_refresh_delta,
        ivf_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_ivf_cdf_" + hashlib.md5((sf_dir + ":v1").encode()).hexdigest()[:12],
    )
    tbl, idx = os.path.join(dest, "embeddings"), os.path.join(dest, "ivf_index")
    marker = os.path.join(dest, "_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        write_delta(
            e, tbl, mode="append",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        ivf_index_build_delta(
            spark, tbl, idx, "vec_id", "embedding", _IVF_CENTROID_IDS
        )
        delete_delta(spark, tbl, "vec_id > 20 AND vec_id % 97 = 3")
        update_delta(
            spark, tbl, {"embedding": "reverse(embedding)"},
            "vec_id > 20 AND vec_id % 89 = 5",
        )
        write_delta(
            e.filter(F.col("vec_id") % 101 == 7).select(
                (F.col("vec_id") + 100000).alias("vec_id"),
                F.reverse(F.col("embedding")).alias("embedding"),
            ),
            tbl,
            mode="append",
        )
        ivf_index_refresh_delta(spark, tbl, idx, "vec_id", "embedding")
        if ivf_index_version(spark, idx) != 3:
            raise RuntimeError(f"{idx}: index fixture is not at version 3")
        with open(marker, "w") as f:
            f.write("v3\n")
    return tbl, idx


@register(
    "ann_ivf_cdf_refresh_topk",
    _ivf_oracle(_IVF_CENTROID_IDS, prefix=_EMB_DOT_CDF, source="corpus"),
)
def ann_ivf_cdf_refresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k served from the CHANGE-FEED-MAINTAINED IVF index: the
    index was built at table version 0 and advanced across a delete,
    an update, and an append purely from delta_changes with FROZEN
    centroids (operators/incremental.ivf_index_refresh_delta) —
    assignment cost proportional to churn, never the corpus — yet the
    served neighbors hash-match the oracle recomputing the whole IVF
    pipeline from scratch on the FINAL table state. The ANN analogue
    of dedup_lsh_incremental_index."""
    from lakeapi_spark.operators.incremental import ivf_index_topk_delta
    from lakeapi_spark.sources.delta import read_delta

    tbl, idx = _ivf_cdf_fixture(spark, sf_dir)
    q = read_delta(spark, tbl).filter(F.col("vec_id") <= 4)
    out = ivf_index_topk_delta(spark, idx, q, "vec_id", "embedding", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (training-data extension)
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    """
    SELECT doc_id AS id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.operators.multimodal import attach_fake_payload, media_metadata

    d = table(spark, sf_dir, "documents")
    return media_metadata(attach_fake_payload(d, "doc_id", "text"))


@register(
    "multimodal_png_dimensions",
    """
    SELECT doc_id AS id, TRUE AS valid_png,
           CAST(length(text) % 64 + 1 AS BIGINT) AS width,
           CAST(length(text) % 48 + 1 AS BIGINT) AS height
    FROM documents
    """,
)
def multimodal_png_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary header decode, zero Python: documents become PNG
    payloads (real signature + IHDR, built with unhex/concat), then
    png_dimensions parses width/height back out of the IHDR bytes with
    substring/hex/conv built-ins. The oracle computes the expected dims
    from the encoding formula, so the hash-match proves the binary
    parse exactly inverts the binary encode — a codec-free decode both
    engines agree on."""
    from lakeapi_spark.operators.multimodal import attach_png_payload, png_dimensions

    d = table(spark, sf_dir, "documents")
    return png_dimensions(attach_png_payload(d, "doc_id", "text"))


@register(
    "multimodal_wav_format",
    """
    SELECT doc_id AS id, TRUE AS valid_wav,
           CAST(length(text) % 2 + 1 AS BIGINT) AS n_channels,
           CAST(8000 + (length(text) % 5) * 8000 AS BIGINT) AS sample_rate
    FROM documents
    """,
)
def multimodal_wav_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little-endian twin of multimodal_png_dimensions: RIFF/WAVE fmt
    parse (channels + sample rate) with per-byte hex reordering —
    oracle proves the LE decode inverts the LE encode exactly."""
    from lakeapi_spark.operators.multimodal import attach_wav_payload, wav_format

    d = table(spark, sf_dir, "documents")
    return wav_format(attach_wav_payload(d, "doc_id", "text"))


@register(
    "multimodal_png_decode",
    """
    WITH m AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) % 16 + 1 AS w,
             length(text) % 12 + 1 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
      FROM documents WHERE length(text) > 0
    ), px AS (
      SELECT doc_id, text, n, w, h, c, unnest(range(0, w * h * c)) AS i FROM m
    ), v AS (
      SELECT doc_id, w, h, c, i,
             ascii(substr(text, CAST(i % n AS INT) + 1, 1)) % 256 AS p
      FROM px
    )
    SELECT doc_id AS id, TRUE AS valid,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(c AS BIGINT) AS n_channels,
           CAST(w * h * c AS BIGINT) AS n_px,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM((i + 1) * p) AS BIGINT) AS pixel_checksum
    FROM v GROUP BY doc_id, w, h, c
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real PNG pixel decode: documents become complete
    valid PNGs (zlib-deflated, per-scanline filters cycling through all
    five types, CRC-trailed, IDAT split in two), then decode_real walks
    the chunks, inflates, un-filters, and reduces the recovered raster
    to integer stats. The oracle re-derives the SAME stats straight
    from the fixture's pixel rule (code_point mod 256 over the text),
    so a hash match proves the pixels survived deflate+filter+inflate+
    unfilter bit-exactly — a real codec round-trip, no image library."""
    from lakeapi_spark.operators.multimodal import attach_real_png_payload, decode_real

    d = table(spark, sf_dir, "documents")
    return decode_real(attach_real_png_payload(d, "doc_id", "text"))


@register(
    "multimodal_png_resize",
    """
    WITH m AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) % 16 + 1 AS w,
             length(text) % 12 + 1 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
      FROM documents WHERE length(text) > 0
    ), px AS (
      SELECT doc_id, text, n, w, h, c, unnest(range(0, 4 * 5 * c)) AS i FROM m
    ), v AS (
      SELECT doc_id, c, i,
             ascii(substr(text, CAST(
               ((((i // (5 * c)) * h // 4) * w
                 + ((i % (5 * c)) // c) * w // 5) * c + (i % c)) % n
             AS INT) + 1, 1)) % 256 AS p
      FROM px
    )
    SELECT doc_id AS id, TRUE AS valid,
           CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           CAST(c AS BIGINT) AS n_channels,
           CAST(4 * 5 * c AS BIGINT) AS n_px,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM((i + 1) * p) AS BIGINT) AS pixel_checksum
    FROM v GROUP BY doc_id, c
    """,
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round-trip: real PNGs decode, nearest-neighbor
    resample to 5x4 per channel, RE-ENCODE as valid PNGs (fresh
    filters + CRCs), then decode_real recovers the resized raster. The
    oracle computes dst(y,x,ch) = src((y*h)//4, (x*w)//5, ch) straight
    from the pixel rule, so the hash match proves decode -> resample ->
    encode -> decode is bit-exact end to end."""
    from lakeapi_spark.operators.multimodal import (
        attach_real_png_payload,
        decode_real,
        png_resize,
    )

    d = table(spark, sf_dir, "documents")
    media = attach_real_png_payload(d, "doc_id", "text")
    return decode_real(png_resize(media, target_w=5, target_h=4))


@register(
    "multimodal_stub_features",
    """
    WITH b AS (
      SELECT doc_id, encode(text) AS payload, octet_length(encode(text)) AS total
      FROM documents
    ),
    bytes AS (
      SELECT b.doc_id,
             CAST(concat('0x', substr(hex(b.payload), 2 * CAST(t.i AS INT) - 1, 2)) AS INT) % 8 AS bucket
      FROM b, unnest(range(1, b.total + 1)) AS t(i)
    ),
    hist AS (SELECT doc_id, bucket, COUNT(*) AS c FROM bytes GROUP BY doc_id, bucket),
    grid AS (
      SELECT b.doc_id, b.total, p.pos FROM b, (SELECT unnest(range(8)) AS pos) p
    )
    SELECT g.doc_id AS id, CAST(g.pos AS INT) AS pos,
           CASE WHEN g.total = 0 THEN 0.0
                ELSE CAST(COALESCE(h.c, 0) AS DOUBLE) / g.total END AS value
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bucket = g.pos
    """,
)
def multimodal_stub_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas byte-histogram kernel, verified EXACTLY against a
    DuckDB oracle that re-derives the histogram from hex(payload) — the
    fake payload is the utf-8 text bytes, so both engines compute the
    identical count/total IEEE doubles (no decimal rounding; see
    operators/multimodal.py kernel note). Library callers get
    ``features array<double>``; the registered query posexplodes to
    (id, pos, value) because the driver canonicalizer cannot hash
    array columns."""
    from lakeapi_spark.operators.multimodal import attach_fake_payload, decode_stub_features

    d = table(spark, sf_dir, "documents")
    out = decode_stub_features(attach_fake_payload(d, "doc_id", "text"))
    return out.select("id", F.posexplode("features").alias("pos", "value"))


# ---------------------------------------------------------------------------
# SQL endpoint (§2.8/§3.2): set ops + CTE through the validated surface
# ---------------------------------------------------------------------------


def _sql_endpoint_query(name: str, sql: str, bench: bool = False) -> None:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from lakeapi_spark.catalog import TABLES, register_views
        from lakeapi_spark.sql import run_sql

        register_views(spark, sf_dir)
        return run_sql(spark, sql, allowed_tables=set(TABLES))

    QUERIES[name] = Query(build=build, oracle=sql, bench=bench)


_sql_endpoint_query(
    "sql_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)

_sql_endpoint_query(
    "sql_union_except",
    """
    SELECT n_regionkey AS k FROM nation
    EXCEPT
    SELECT r_regionkey FROM region WHERE r_name = 'ASIA'
    """,
)

_sql_endpoint_query(
    "sql_cte_join",
    """
    WITH big_orders AS (
      SELECT o_custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_totalprice > 300000.0
      GROUP BY o_custkey
    )
    SELECT c.c_mktsegment, CAST(SUM(b.n_orders) AS BIGINT) AS total_big_orders
    FROM big_orders b JOIN customer c ON c.c_custkey = b.o_custkey
    GROUP BY c.c_mktsegment
    """,
)

_sql_endpoint_query(
    "sql_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)


# ---------------------------------------------------------------------------
# Complex types: jsonify (§2.3 projection pipeline w/ jsonify_complex)
# ---------------------------------------------------------------------------


@register(
    "jsonify_complex",
    """
    SELECT n_nationkey,
           to_json(struct_pack(name := n_name, region := n_regionkey)) AS info,
           to_json([n_name, 'x']) AS tags
    FROM nation
    """,
)
def jsonify_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    df = n.select(
        "n_nationkey",
        F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("region")).alias("info"),
        F.array(F.col("n_name"), F.lit("x")).alias("tags"),
    )
    return apply_query(df, QueryRequest(jsonify_complex=True))


# ---------------------------------------------------------------------------
# Joins beyond the config pipeline (§2.4 — inherited Spark surface, plus
# the as-of extension from operators/joins.py)
# ---------------------------------------------------------------------------


@register(
    "asof_purchase_before_click",
    """
    WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT l.event_id, l.user_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_s,
           CAST(floor(epoch(r.ts)) AS BIGINT) AS purchase_ts_s,
           r.value AS purchase_value
    FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    WHERE l.event_type = 'click'
    """,
    bench=True,
)
def asof_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the user's most recent purchase at-or-before it.
    DuckDB's native ASOF JOIN is the oracle; ours is the union+running-
    last plan in operators/joins.py (one shuffle on user_id)."""
    from lakeapi_spark.operators.joins import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, "ts", ["user_id"], ["value"], payload_prefix="purchase_")
    return out.select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
        F.floor(F.unix_timestamp("purchase_ts")).cast("long").alias("purchase_ts_s"),
        F.col("purchase_value"),
    )


@register(
    "join_semi_customers_with_urgent_orders",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti_customers_without_urgent_orders",
    """
    SELECT c_custkey, c_name, c_nationkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


# ---------------------------------------------------------------------------
# Metadata operators (§2.15)
# ---------------------------------------------------------------------------


@register(
    "metadata_max_strlen",
    """
    SELECT CAST(MAX(length(p_name)) AS BIGINT) AS p_name,
           CAST(MAX(length(p_brand)) AS BIGINT) AS p_brand,
           CAST(MAX(length(p_type)) AS BIGINT) AS p_type
    FROM part
    """,
)
def metadata_max_strlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.metadata import max_string_lengths

    p = table(spark, sf_dir, "part")
    return max_string_lengths(p, ["p_name", "p_brand", "p_type"])


@register(
    "metadata_partition_values",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def metadata_partition_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeapi_spark.metadata import distinct_partition_values

    l = table(spark, sf_dir, "lineitem")
    return distinct_partition_values(l, ["l_returnflag", "l_linestatus"])


# ---------------------------------------------------------------------------
# Relational breadth: correlated-subquery shapes, conditional aggregation,
# distribution windows, time series. The reference reaches all of these
# through its SQL endpoint (endpoint/sql_endpoint.py:89-190, delegating the
# relational algebra to DuckDB); here each shape is a first-class Spark
# plan with the scale notes inline.
# ---------------------------------------------------------------------------


@register(
    "exists_late_shipment_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
    )
    GROUP BY o_orderpriority
    """,
    bench=True,
)
def exists_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: correlated EXISTS decorrelated to a LEFT SEMI
    join. The equality on l_orderkey keeps it a hash-partitionable
    equi-join (the date comparison rides along as a residual
    condition); semi-join short-circuits on first match, so no
    distinct shuffle on the big side. At 100 TB both sides shuffle on
    orderkey once — same key a bucketed layout would pre-co-locate."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 45 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "below_avg_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_items
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def below_avg_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: correlated scalar subquery (per-part average)
    decorrelated to an aggregate + self-equi-join on l_partkey. Both
    branches scan lineitem; Catalyst reuses the exchange (same
    partitioning on l_partkey feeds the aggregate AND the join probe).
    Cross-engine determinism: l_quantity is integral, so the per-part
    double sums are exact and the 0.2*avg boundary is bit-identical in
    DuckDB and Spark regardless of summation order."""
    l = table(spark, sf_dir, "lineitem")
    pa = l.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        l.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            money_sum(dec("l_extendedprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "agg_filter_conditional",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE) AS sum_price_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filter_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL FILTER-clause aggregation as conditional aggregates: one
    scan, one shuffle, N conditions — the relational replacement for
    N separate filtered queries. count(when(cond, 1)) skips nulls,
    matching FILTER semantics including the all-null -> NULL sum."""
    o = table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(is_f, 1)).alias("n_finished"),
        F.count(F.when(is_o, 1)).alias("n_open"),
        money_sum(F.when(is_f, dec("o_totalprice"))).alias("sum_price_finished"),
    )


@register(
    "window_ntile_deciles",
    """
    WITH t AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM t GROUP BY decile
    """,
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment over the (o_totalprice, o_orderkey) total
    order, reduced to per-decile stats. The oracle stays NTILE; the
    implementation is the BANDED scale path (r13, VERDICT r12 #1a):
    exact boundary tuples from histogram-guided selection
    (operators/windows.ntile_boundaries — 3 bounded passes, no global
    sort) + a map-side compare-and-count assignment. Hash-identical to
    the NTILE window it replaced because the boundaries are TUPLES
    (value, key), so ties split across tiles exactly like the window's
    total order. min/max are selections of stored doubles (no
    arithmetic), so they hash-match without rounding."""
    from lakeapi_spark.operators.windows import ntile_banded

    o = table(spark, sf_dir, "orders")
    t = ntile_banded(
        o.select("o_totalprice", "o_orderkey"),
        "o_totalprice",
        "o_orderkey",
        10,
        tile_col="decile",
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "ntile_deciles_banded",
    """
    WITH t AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM t GROUP BY decile
    """,
)
def ntile_deciles_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered scale twin of window_ntile_deciles (VERDICT r12
    #1a): same NTILE oracle, banded implementation — so the driver row
    for THIS name is the hash-proof that exact-boundary banded
    assignment == a global NTILE sort. Kept as a separate registration
    to carry fresh driver evidence for the new code path; the twin and
    the converted original share one builder."""
    return window_ntile_deciles(spark, sf_dir)


@register(
    "monthly_revenue_mom",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           LAG(revenue) OVER (ORDER BY month) AS prev_revenue
    FROM m
    """,
)
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar time series: date_trunc bucketing -> decimal-safe
    revenue -> month-over-month LAG. The window ordering runs over the
    already-aggregated relation (one row per month), so the global
    sort is result-sized — the 100 TB cost is the one groupBy
    shuffle, and date_trunc on the partition column prunes cleanly
    on date-partitioned layouts."""
    o = table(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            money_sum(dec("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("month")
    return m.select(
        "month", "revenue", "n_orders", F.lag("revenue").over(w).alias("prev_revenue")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline breadth: vocabulary building, stratified splits,
# PII-ish regex flagging (documents table; beyond-reference extensions)
# ---------------------------------------------------------------------------


@register(
    "vocab_top_tokens",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS n FROM tok
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 100
    """,
    bench=True,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode alpha tokens, count, top-100 with a
    token tiebreak (total order -> deterministic result set). The
    count aggregate partial-combines map-side so the shuffle carries
    (token, partial_n), not raw tokens; the top-k is
    TakeOrderedAndProject, never a global sort. [^a-z]+ is ASCII in
    both Java and RE2 regex dialects, so the token universe matches
    the oracle exactly. fan_out (inside tokenizer path) spreads the
    CPU-bound split across cores on narrow scans."""
    from lakeapi_spark.operators.scale import fan_out

    d = fan_out(table(spark, sf_dir, "documents").select("text"))
    tok = d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
    return (
        tok.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(100)
    )


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ), idf AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df
      FROM tok WHERE term <> '' GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln((n.n + 1.0) / (idf.df + 1.0)), 6) AS score
      FROM tf JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, rank FROM (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``) — the classic summarization/labeling
    primitive over a curated corpus. Rank is computed on the ROUNDED
    score with a term tiebreak, so the result is a total order both
    engines reproduce bit-identically despite float math. Plan shape:
    ONE corpus scan by construction: the TF aggregate (map-side
    combined on (doc, term)) is the only pass over documents, and
    document frequency is a COUNT window over it partitioned by term
    (tf has exactly one row per containing doc) — no second tokenize
    pass, no df join for the optimizer to duplicate (a join-shaped
    formulation re-scanned the corpus on the broadcast side; measured,
    not guessed). The doc-count N is a scalar; the final top-3 is a
    bounded per-doc window, never a global sort."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = d.count()
    df_w = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tf.select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log((F.lit(n) + 1.0) / (df_w + 1.0)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    )


@register(
    "stratified_split_counts",
    """
    SELECT lang,
           CASE WHEN h % 10 < 8 THEN 'train'
                WHEN h % 10 < 9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM (
      SELECT lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM documents
    )
    GROUP BY lang, split
    """,
)
def stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment from the stable 60-bit key hash
    (operators/sampling.py) — membership is a pure function of doc_id:
    identical across runs, engines, partitionings, and appends, unlike
    df.randomSplit. Stratification is free (group by lang x split);
    at 100 TB this is one shuffle on a 2-column key."""
    from lakeapi_spark.operators.sampling import key_hash

    d = table(spark, sf_dir, "documents")
    h = key_hash(F.col("doc_id")) % 10
    split = (
        F.when(h < 8, "train").when(h < 9, "val").otherwise("test").alias("split")
    )
    return d.select("lang", split).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "regex_flag_docs",
    """
    SELECT source,
           CAST(SUM(CASE WHEN regexp_matches(text, 'https?://') THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
           CAST(SUM(CASE WHEN regexp_matches(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def regex_flag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-ish screening: per-source counts of docs containing URL /
    email patterns. One scan, conditional aggregation (no N-pass
    filtering); rlike stays in codegen. The patterns use only
    constructs with identical semantics in Java regex (Spark) and RE2
    (DuckDB) — char classes, alternation, bounded repeat."""
    from lakeapi_spark.operators.scale import fan_out

    d = fan_out(table(spark, sf_dir, "documents").select("source", "text"))
    url = F.col("text").rlike("https?://")
    email = F.col("text").rlike(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}")
    return d.groupBy("source").agg(
        F.sum(F.when(url, 1).otherwise(0)).alias("n_url"),
        F.sum(F.when(email, 1).otherwise(0)).alias("n_email"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "top_supplier_by_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: per-supplier revenue, keep the max (WITH TIES —
    the scalar-subquery equality, not LIMIT 1). The max is a 1-row
    aggregate of the already-aggregated relation, cross-joined back as
    a broadcast; revenue is decimal-rounded BEFORE the equality so the
    tie set is engine-exact. Two shuffles total (supplier groupBy +
    the supplier-dim join); the dim side broadcasts."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(18,4)")
    rev = l.groupBy("l_suppkey").agg(
        money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "having_repeat_customers",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 10
    """,
)
def having_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: a post-aggregation predicate — in Spark just
    a filter above the agg (Catalyst keeps it there; nothing to push,
    the aggregate already reduced the data). One shuffle on
    o_custkey."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(dec("o_totalprice")).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 10)
    )


@register(
    "unpivot_status_counts",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'F' AS status, n_f AS n FROM wide
    UNION ALL SELECT o_orderpriority, 'O', n_o FROM wide
    UNION ALL SELECT o_orderpriority, 'P', n_p FROM wide
    """,
)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape (melt): conditional agg to one row per
    priority, then the native DataFrame.unpivot (Expand node — one
    pass, no self-union; the UNION ALL oracle re-reads the CTE three
    times, Spark emits 3 rows per input row in a single operator)."""
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
    )
    return (
        wide.unpivot(["o_orderpriority"], ["n_f", "n_o", "n_p"], "status", "n")
        .withColumn(
            "status",
            F.when(F.col("status") == "n_f", "F")
            .when(F.col("status") == "n_o", "O")
            .otherwise("P"),
        )
    )


@register(
    "user_event_type_sets",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation: the distinct event types a user emitted,
    as a canonical sorted CSV (engine-portable: array hashing differs,
    strings don't). collect_set partial-aggregates map-side; array_sort
    runs on the tiny per-user result, not the event stream."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "stats_price_quantity",
    """
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_quantity), 4) + 0 AS corr_pq,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr, sample stddev) — single-pass
    co-moment sketches in both engines, mergeable map-side partials at
    scale. Rounded to 4 digits: the co-moment merge order differs
    between engines (and across Spark partitionings), so only the
    stable digits are part of the contract."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_extendedprice", "l_quantity"), 4) + F.lit(0.0)).alias("corr_pq"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_CLUSTER_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM idx
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE ROUND(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 4) >= 0.2
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
"""


@register("dedup_clusters", _CLUSTER_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair list -> canonical cluster assignment (connected
    components, operators/dedup.dup_clusters). The DuckDB oracle is a
    recursive-CTE transitive closure — exponential fan-out that only
    works at oracle scale; the Spark side is the linear min-label
    propagation that survives 100 TB."""
    from lakeapi_spark.operators.dedup import dup_clusters, ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2)
    return dup_clusters(pairs)


@register("dedup_clusters_star", _CLUSTER_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair list and output contract as ``dedup_clusters``, computed
    with the alternating large-star/small-star rounds
    (operators/dedup.dup_clusters_star) — the O(log n)-round variant for
    adversarial long-chain graphs. Shares the recursive-CTE oracle:
    both implementations must produce the identical component-min
    labeling."""
    from lakeapi_spark.operators.dedup import dup_clusters_star, ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2)
    return dup_clusters_star(pairs)


@register(
    "label_centroids",
    """
    WITH ex AS (
      SELECT label, unnest(range(1, len(embedding)+1)) AS i, embedding
      FROM embeddings
    )
    SELECT label, i - 1 AS pos,
           CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,7))), 4) AS DOUBLE) AS centroid_sum,
           COUNT(*) AS n_vecs
    FROM ex GROUP BY label, i
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim, value)
    — the building block for IVF coarse quantizers and class
    prototypes. posexplode multiplies rows by the dim count, but the
    groupBy(label, pos) average partial-aggregates map-side, so the
    shuffle carries |labels| x dim rows, not |vectors| x dim. The
    centroid component is emitted as (exact decimal SUM, count) — a
    rounded double AVG of near-zero values diverges across engines on
    half-way digits and signed zero; the decimal sum path never does
    (the caller divides)."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return ex.groupBy("label", "pos").agg(
        F.round(F.sum(F.col("val").cast("double").cast("decimal(18,7)")), 4)
        .cast("double")
        .alias("centroid_sum"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@register(
    "funnel_view_to_purchase",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.first_view
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_viewers,
           COUNT(first_purchase) AS n_converted,
           ROUND(CAST(COUNT(first_purchase) AS DOUBLE) / COUNT(*), 4) AS conversion,
           CAST(SUM(epoch_us(first_purchase) - epoch_us(first_view)) AS BIGINT) AS total_us_to_convert
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: users whose first 'view' precedes a
    'purchase', conversion rate, mean time-to-convert. Two aggregates
    + two equi-joins on user_id — all the same shuffle key, so
    Catalyst/AQE reuses one partitioning end-to-end (and a user_id-
    bucketed events layout would make the whole funnel shuffle-free;
    see sources/bucketed.py). The time-to-convert total is an exact
    integer MICROSECOND sum (unix_micros/epoch_us) — a rounded AVG
    diverges on half-way doubles between engines and whole-second
    epochs truncate sub-second timestamps; the exact sum does
    neither."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    j = v.join(p, "user_id", "left")
    # cast("timestamp"): unix_micros requires LTZ; parquet naive
    # timestamps read as TIMESTAMP_NTZ in Spark 4 and the cast (no-op
    # on LTZ) interprets them in the UTC session tz, matching the
    # oracle's naive-epoch arithmetic.
    delta = F.unix_micros(F.col("first_purchase").cast("timestamp")) - F.unix_micros(
        F.col("first_view").cast("timestamp")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("first_purchase").alias("n_converted"),
        F.round(F.count("first_purchase") / F.count(F.lit(1)), 4).alias("conversion"),
        F.sum(delta).alias("total_us_to_convert"),
    )


@register(
    "window_trailing_7d_spend",
    """
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS trailing_7d_spend
    FROM orders
    """,
)
def window_trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: each order sees the customer's spend in
    the trailing 7 days — a sliding window keyed by VALUE distance
    (seconds), not row count, so bursts widen the frame contents.
    Ordering by integer epoch seconds keeps the range arithmetic
    identical across engines (DuckDB RANGE over INTERVAL and Spark
    rangeBetween agree only on numeric order columns). Partitioned by
    customer: frames never cross the shuffle key, so this scales as
    one shuffle + per-partition sort. Same-second peers are all in
    the frame (RANGE, not ROWS), so the result is deterministic
    without a tiebreak."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias(
            "trailing_7d_spend"
        ),
    )


@register(
    "window_first_last_order",
    """
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS last_order,
           COUNT(*) OVER w AS n_orders
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def window_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE over an explicit unbounded frame (the
    default frame ends at CURRENT ROW, where LAST_VALUE is a footgun in
    every engine — the frame is spelled out). One row per customer via
    DISTINCT over constant-per-partition window values; at scale this
    is equivalently a groupBy(min_by/max_by) — kept in window form to
    exercise the frame semantics. The orderkey tiebreak makes first/
    last deterministic under equal order dates."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    ).distinct()


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max per key (latest snapshot / SCD1 compaction shape): the
    newest event per user with a deterministic event_id tiebreak. The
    windowed ROW_NUMBER + rn=1 filter is the general form (top-k per
    key = rn<=k); for rn=1 specifically Catalyst/AQE can satisfy it
    with a partial max_by map-side — either way one shuffle on the
    key, which an upsert-compaction job would reuse as its write
    partitioning. Timestamps exported as exact epoch micros."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            # cast: unix_micros needs LTZ; NTZ parquet ts -> UTC session tz
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
        )
    )


@register(
    "q10_returned_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    bench=True,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: top-20 customers by returned-item revenue.
    Fact-fact join (orders x lineitem) shuffles on orderkey; nation is
    a broadcast dim. Customer is NOT hinted: it is small at test SF
    (stats/AQE broadcast it anyway) but ~15M rows at TPC-H sf100, where
    a forced broadcast would OOM — the size-based decision must stay
    with the optimizer. The returnflag filter is pushed to the lineitem
    scan so the join probe side is pre-shrunk. Top-20 is
    TakeOrderedAndProject with a custkey tiebreak."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q7_nation_trade_volume",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS volume,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: cross-border trade volume by (customer nation,
    supplier nation). One fact-fact shuffle on orderkey; the
    guaranteed-small dims (nation x2, supplier) are hinted broadcast.
    Customer is left unhinted — small at test SF so the optimizer
    broadcasts it from stats, but scale-proportional (15M rows at
    sf100) so the hint must not force it. The inequality filter runs
    after both nation names are attached (it references both sides,
    so it cannot push lower)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,4)")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q14_promo_revenue_share",
    """
    SELECT CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_revenue,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: promo revenue vs total in ONE pass — the
    conditional-aggregate formulation instead of q14's division (the
    ratio is the caller's one exact division; a rounded quotient would
    re-import the half-way-double trap). Part is a broadcast dim, so
    the whole query is scan -> broadcast join -> agg: zero wide
    shuffles beyond the 1-row aggregate."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    disc = dec("l_extendedprice") * (one - dec("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            money_sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero)).alias(
                "promo_revenue"
            ),
            money_sum(disc).alias("total_revenue"),
        )
    )


@register(
    "dedup_simhash_near",
    _simhash_fp_cte()
    + """
    , bk AS (
      SELECT doc_id, simhash, b.band, (simhash >> (b.band * 15)) & 32767 AS val
      FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS ha, b.simhash AS hb
      FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by banded simhash (4x15-bit bands over the
    portable 60-bit fingerprint; recall is exact for hamming <= 3 by
    pigeonhole — see operators/dedup.simhash_near_pairs). Oracle-exact:
    the fingerprint, banding, and hamming verify are re-derived in SQL."""
    from lakeapi_spark.operators.dedup import simhash_near_pairs

    d = table(spark, sf_dir, "documents")
    out = simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "corpus_curation_summary",
    """
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(regexp_replace(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
    ), kept AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h
      FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
      WHERE d.n_chars BETWEEN 80 AND 5000 AND d.lang IS NOT NULL
    )
    SELECT lang,
           CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY lang, split
    """,
)
def corpus_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline, composed from the catalog's own
    operators: exact dedup (normalized-content fingerprint, min-id
    keeper) -> quality gate (length bounds, known language) -> stable
    stratified split -> per-stratum accounting. Two shuffles total
    (fingerprint groupBy + final 2-key agg; the keeper join is an
    equi-join on doc_id). Every stage is a pure function of content /
    key — re-running after appends or repartitioning moves no existing
    doc between splits."""
    from lakeapi_spark.operators.dedup import exact_dedup_keepers
    from lakeapi_spark.operators.sampling import key_hash

    d = table(spark, sf_dir, "documents")
    keepers = exact_dedup_keepers(d, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = (
        d.join(keepers, "doc_id")
        .filter(F.col("n_chars").between(80, 5000) & F.col("lang").isNotNull())
        .withColumn("h", key_hash(F.col("doc_id")) % 10)
    )
    split = F.when(F.col("h") < 8, "train").when(F.col("h") < 9, "val").otherwise("test")
    return (
        kept.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_pipeline_query(
    "compiled_full_request",
    """
    SELECT DISTINCT o_orderpriority AS priority, o_orderstatus AS status
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 200000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
      AND ((o_orderstatus = 'F') OR (o_orderstatus = 'O'))
    ORDER BY priority, status
    LIMIT 4 OFFSET 1
    """,
    "orders",
    QueryRequest(
        filters=[
            ("o_totalprice", "between", [50000, 200000]),
            ("o_orderpriority", "in", ["1-URGENT", "2-HIGH", "3-MEDIUM"]),
        ],
        combi=[{"o_orderstatus": "F"}, {"o_orderstatus": "O"}],
        select=[("o_orderpriority", "priority"), ("o_orderstatus", "status")],
        distinct=True,
        sortby=[("priority", "asc"), ("status", "asc")],
        limit=4,
        offset=1,
    ),
)


@register(
    "histogram_doc_length",
    """
    SELECT LEAST(CAST(n_chars AS BIGINT) // 64, 9) AS bucket,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def histogram_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (64-char buckets, top-clamped) over doc
    lengths — the profiling primitive for corpus QA. Integer floor
    division keeps bucket assignment exact across engines (unlike
    width_bucket on doubles); one shuffle of 10 partial rows per
    map task."""
    d = table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 64), F.lit(9)).cast("long")
    return (
        d.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "delta_scan_roundtrip",
    """
    SELECT r_regionkey, r_name,
           CAST(r_regionkey % 2 AS VARCHAR) AS bucket
    FROM region
    """,
)
def delta_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable delta evidence without delta-spark: build the region
    table as a PARTITIONED delta table through the executor-parallel
    writer (sources/delta.py:write_delta) across THREE commits — a
    decoy append, an overwrite (remove actions), then an append — and
    read the result back through ``read_source("delta")``, which
    replays the log (read_delta_fallback). The oracle reads the source
    parquet directly, so the hash-compare proves multi-version log
    replay incl. removes, schema fidelity, and log-declared partition
    values end to end. delta-spark, when present, takes over the same
    read call transparently."""
    import hashlib
    import os
    import tempfile

    from lakeapi_spark.sources.delta import write_delta
    from lakeapi_spark.sources.readers import read_source

    src = (
        table(spark, sf_dir, "region")
        .select(
            "r_regionkey",
            "r_name",
            (F.col("r_regionkey") % 2).cast("string").alias("bucket"),
        )
    )
    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_region_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if not os.path.isdir(os.path.join(dest, "_delta_log")):
        decoy = src.withColumn("r_name", F.lit("WRONG"))
        write_delta(decoy, dest, mode="append", partition_by=["bucket"])
        write_delta(
            src.filter("r_regionkey < 2"), dest, mode="overwrite", partition_by=["bucket"]
        )
        write_delta(
            src.filter("r_regionkey >= 2"), dest, mode="append", partition_by=["bucket"]
        )
    return read_source(spark, dest, "delta").select("r_regionkey", "r_name", "bucket")


def _merge_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once (marker-guarded) demo delta table for the MERGE /
    version-diff queries: v0 = orders keys+status partitioned by
    ``bucket``; v1 = one copy-on-write merge that updates every
    ``o_orderkey % 97 == 0`` row's status to 'X' and inserts
    ``% 97 == 1`` keys shifted by 100M with status 'N'. Both commits
    are pure functions of the orders table, so DuckDB can re-derive
    every version's contents exactly."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import merge_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_merge_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_merge_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(base, dest, mode="append", partition_by=["bucket"])
        updates = base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderstatus", F.lit("X")
        )
        inserts = base.filter(F.col("o_orderkey") % 97 == 1).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            "bucket",
        )
        merge_delta(updates.unionByName(inserts), dest, on=["o_orderkey"])
        with open(marker, "w") as f:
            f.write("v1\n")
    return dest


@register(
    "delta_merge_upsert",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           CAST(o_orderkey % 4 AS VARCHAR) AS bucket
    FROM orders
    UNION ALL
    SELECT CAST(o_orderkey + 100000000 AS BIGINT), 'N',
           CAST(o_orderkey % 4 AS VARCHAR)
    FROM orders WHERE o_orderkey % 97 = 1
    """,
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) evidence end-to-end: the post-merge snapshot
    of :func:`_merge_demo_table` read back through the delta fallback
    must equal DuckDB's from-first-principles reconstruction — proving
    matched-update, not-matched-insert, touched-file-only rewrite and
    log replay in one hash compare. The write path is delta.py:
    merge_delta (copy-on-write, cost proportional to touched files —
    see its docstring for the 100 TB contract)."""
    from lakeapi_spark.sources.readers import read_source

    dest = _merge_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select(
        "o_orderkey", "o_orderstatus", "bucket"
    )


@register(
    "delta_version_diff_rows",
    """
    SELECT o_orderkey, 'X' AS o_orderstatus,
           CAST(o_orderkey % 4 AS VARCHAR) AS bucket,
           'insert' AS _change_type
    FROM orders WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT CAST(o_orderkey + 100000000 AS BIGINT), 'N',
           CAST(o_orderkey % 4 AS VARCHAR), 'insert'
    FROM orders WHERE o_orderkey % 97 = 1
    UNION ALL
    SELECT o_orderkey, o_orderstatus, CAST(o_orderkey % 4 AS VARCHAR),
           'delete'
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def delta_version_diff_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF-style row diff between delta versions v0 and v1 of
    :func:`_merge_demo_table` (update = delete+insert, like delta's CDF
    on non-CDC tables). The engine reads ONLY files absent from one
    side — common files cancel in the multiset difference without being
    opened (delta.py:delta_version_diff; the oracle re-derives the
    exact churn from the orders table)."""
    from lakeapi_spark.sources.delta import delta_version_diff

    dest = _merge_demo_table(spark, sf_dir)
    return delta_version_diff(spark, dest, 0, 1)


def _optimize_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the OPTIMIZE/VACUUM query: three
    appends (disjoint thirds of the orders subset, partitioned by
    ``bucket`` — a streaming-sink-shaped small-file pileup), then
    OPTIMIZE to 1 file per partition and a VACUUM of everything the
    latest version no longer references. Contents are a pure function
    of orders; the 1-file-per-partition invariant is read from the log."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import optimize_delta, vacuum_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_opt_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_opt_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        for third in range(3):
            write_delta(
                base.filter(F.col("o_orderkey") % 3 == third),
                dest,
                mode="append",
                partition_by=["bucket"],
            )
        optimize_delta(spark, dest, target_files_per_partition=1)
        vacuum_delta(spark, dest, keep_versions=0)
        with open(marker, "w") as f:
            f.write("v4\n")
    return dest


@register(
    "delta_optimize_vacuum",
    """
    SELECT CAST(o_orderkey % 4 AS VARCHAR) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(1 AS BIGINT) AS n_files
    FROM orders GROUP BY 1
    """,
)
def delta_optimize_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + VACUUM evidence end-to-end: after a 3-commit
    small-file pileup is compacted to 1 file per partition and the
    unreferenced originals vacuumed, the per-bucket contents still
    reconcile with DuckDB AND the log carries exactly one add per
    partition (n_files, read from the snapshot — the compaction
    invariant itself is driver-verified, not just repo-tested)."""
    from lakeapi_spark.sources.delta import delta_snapshot
    from lakeapi_spark.sources.readers import read_source

    dest = _optimize_demo_table(spark, sf_dir)
    snap = delta_snapshot(spark, dest)
    counts: dict[str, int] = {}
    for pvals in snap.files.values():
        b = pvals.get("bucket")
        counts[b] = counts.get(b, 0) + 1
    files_df = spark.createDataFrame(
        [(b, n) for b, n in sorted(counts.items())], "bucket string, n_files long"
    )
    data = (
        read_source(spark, dest, "delta")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
        )
    )
    return data.join(files_df, "bucket").select(
        "bucket", "n_rows", "sum_key", "n_files"
    )


def _hilbert_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the Hilbert-layout query: lineitem's
    (l_partkey, l_suppkey, l_extendedprice) written through
    sources/delta.hilbert_write — files laid out along the order-5
    Hilbert curve over (l_partkey, l_suppkey) buckets, so a 2D box
    predicate prunes files via per-file min/max stats on BOTH keys."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import hilbert_write

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_hilbert_" + hashlib.md5((sf_dir + ":v1").encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_done")
    tbl = os.path.join(dest, "lineitem_hilbert")
    if not os.path.exists(marker):
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        li = table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_extendedprice"
        )
        hilbert_write(li, tbl, cols=["l_partkey", "l_suppkey"], bits=5, n_files=32)
        with open(marker, "w") as f:
            f.write("v1\n")
    return tbl


@register(
    "delta_hilbert_layout",
    """
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_price_cents,
           TRUE AS pruned
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 30
    GROUP BY 1
    """,
)
def delta_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustered layout end-to-end (sources/delta.
    hilbert_write — the liquid-clustering key, better 2D locality than
    z-order's Morton interleave): a 2D box predicate over the curve-
    laid-out lineitem reads back EXACTLY the rows SQL computes on the
    raw table, and the `pruned` column certifies — from the snapshot's
    per-file stats, driver-verified like delta_optimize_vacuum's
    n_files — that file skipping actually eliminated over half the
    files on the way."""
    from lakeapi_spark.sources.delta import (
        _stats_overlap,
        delta_snapshot,
        read_delta_fallback,
    )

    dest = _hilbert_demo_table(spark, sf_dir)
    box = [("l_partkey", 100, 300), ("l_suppkey", 10, 30)]
    snap = delta_snapshot(spark, dest)
    kept = sum(1 for f in snap.files if _stats_overlap(snap.stats.get(f), box))
    pruned = kept < len(snap.files) / 2
    return (
        read_delta_fallback(spark, dest, predicates=box)
        .filter(
            F.col("l_partkey").between(100, 300)
            & F.col("l_suppkey").between(10, 30)
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("sum_price_cents"),
        )
        .withColumn("pruned", F.lit(bool(pruned)))
    )


def _replace_where_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the replaceWhere query: v0 = orders
    keyed (o_orderkey, price cents, bucket = key % 4) partitioned by
    bucket; v1 = one atomic replaceWhere backfill of bucket '2' — the
    replacement keeps only keys ≡ 2 (mod 8) at doubled price, so both
    the row COUNT and the values of the replaced scope change while
    every other bucket's files carry over untouched."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import replace_where_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_replwhere_" + hashlib.md5((sf_dir + ":v1").encode()).hexdigest()[:12],
    )
    tbl = os.path.join(dest, "orders_rw")
    marker = os.path.join(dest, "_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        o = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(o, tbl, partition_by=["bucket"])
        backfill = (
            o.filter(F.col("k") % 8 == 2)
            .select("k", (F.col("cents") * 2).alias("cents"), "bucket")
        )
        replace_where_delta(backfill, tbl, "bucket = '2'")
        with open(marker, "w") as f:
            f.write("v1\n")
    return tbl


@register(
    "delta_replace_where",
    """
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(o_orderkey % 4 AS VARCHAR) AS bucket
      FROM orders
    ), final AS (
      SELECT k, cents, bucket FROM o WHERE bucket <> '2'
      UNION ALL
      SELECT k, cents * 2 AS cents, bucket FROM o WHERE k % 8 = 2
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY 1
    """,
)
def delta_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere backfill end-to-end (sources/delta.
    replace_where_delta — delta-spark's predicate-scoped overwrite):
    after one atomic commit swaps bucket '2' for a reshaped reload
    (fewer rows, doubled prices), the per-bucket contents reconcile
    with DuckDB recomputing the final state from first principles —
    proving the scope boundary (other buckets untouched, carried by
    log reference) and the in-scope replacement both landed."""
    from lakeapi_spark.sources.readers import read_source

    dest = _replace_where_demo_table(spark, sf_dir)
    return (
        read_source(spark, dest, "delta")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def _restore_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the RESTORE query: v0 = orders
    subset, v1 = merge-on-read DELETE via deletion vectors, v2 =
    RESTORE to v0 (a new commit re-exposing v0's files, time travel
    intact), then VACUUM — which must keep every v2-referenced file.
    The latest version's contents therefore equal v0's exactly."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import (
        delete_delta,
        restore_delta,
        vacuum_delta,
        write_delta,
    )

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_restore_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_restore_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(base, dest, mode="append", partition_by=["bucket"])
        delete_delta(spark, dest, "o_orderkey % 3 = 0")
        restore_delta(spark, dest, 0)
        vacuum_delta(spark, dest, keep_versions=0)
        with open(marker, "w") as f:
            f.write("v2\n")
    return dest


@register(
    "delta_restore_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(o_orderkey % 4 AS VARCHAR) AS bucket
    FROM orders
    """,
)
def delta_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE evidence end-to-end: after a DV delete and a RESTORE to
    v0 (plus a VACUUM that must not touch restored-referenced files),
    the latest snapshot equals the original table exactly — deleted
    rows are back, no duplicates, log replay sound
    (sources/delta.py:restore_delta)."""
    from lakeapi_spark.sources.readers import read_source

    dest = _restore_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select(
        "o_orderkey", "o_orderstatus", "bucket"
    )


def _constraints_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the CHECK-constraint query: v0 =
    orders subset; v1 = ADD CONSTRAINT (validates existing rows, bumps
    minWriterVersion to 3); v2 = conforming append; then a VIOLATING
    append that must abort WITHOUT committing — the final table holds
    exactly the conforming rows (sources/delta.py:_enforce_row_rules,
    add_constraint_delta)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import (
        DeltaConstraintViolation,
        add_constraint_delta,
        write_delta,
    )

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_constr_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_constr_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        write_delta(orders.filter(F.col("o_orderkey") % 7 == 0), dest)
        add_constraint_delta(spark, dest, "key_positive", "o_orderkey >= 0")
        write_delta(orders.filter(F.col("o_orderkey") % 7 == 3), dest)
        try:
            write_delta(
                orders.filter(F.col("o_orderkey") % 7 == 5).select(
                    (-F.col("o_orderkey") - 1).alias("o_orderkey"), "o_custkey"
                ),
                dest,
            )
        except DeltaConstraintViolation:
            pass  # the point: violating rows must never land
        else:  # pragma: no cover - enforcement regression
            raise AssertionError("violating append committed")
        with open(marker, "w") as f:
            f.write("v2\n")
    return dest


@register(
    "delta_check_constraints",
    """
    SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 IN (0, 3)
    """,
)
def delta_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement end-to-end: after ADD CONSTRAINT,
    a conforming append committed and a violating append aborted, so
    the table equals exactly the conforming subset — proving rules are
    evaluated over written rows and failed writes leave no trace."""
    from lakeapi_spark.sources.readers import read_source

    dest = _constraints_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select("o_orderkey", "o_custkey")


def _alter_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once column-mapped table for the ALTER query: v0 = orders
    subset (mapped); v1 = RENAME o_custkey -> customer_key (metadata
    only); v2 = DROP o_orderstatus; v3 = append under the renamed
    schema. Final contents = the two subsets under the new names,
    dropped column gone (sources/delta.py:rename_column_delta,
    drop_column_delta)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import (
        drop_column_delta,
        rename_column_delta,
        write_delta,
        write_delta_column_mapped,
    )

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_alter_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_alter_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        orders = table(spark, sf_dir, "orders")
        write_delta_column_mapped(
            orders.filter(F.col("o_orderkey") % 5 == 0).select(
                "o_orderkey", "o_custkey", "o_orderstatus"
            ),
            dest,
        )
        rename_column_delta(spark, dest, "o_custkey", "customer_key")
        drop_column_delta(spark, dest, "o_orderstatus")
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 == 2).select(
                "o_orderkey", F.col("o_custkey").alias("customer_key")
            ),
            dest,
        )
        with open(marker, "w") as f:
            f.write("v3\n")
    return dest


@register(
    "delta_alter_columns",
    """
    SELECT o_orderkey, o_custkey AS customer_key
    FROM orders WHERE o_orderkey % 5 IN (0, 2)
    """,
)
def delta_alter_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column evolution end-to-end: RENAME + DROP on a
    column-mapped table touch zero data files, appends continue under
    the new logical names, and the final table equals the oracle's
    rename of the raw data — proving logical/physical decoupling all
    the way through the scan."""
    from lakeapi_spark.sources.readers import read_source

    dest = _alter_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select("o_orderkey", "customer_key")


def _cdf_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once CHANGE-DATA-FEED delta table: v0 = orders subset
    created with ``delta.enableChangeDataFeed=true``; v1 = one UPDATE
    whose pre/post images land as ``_change_data`` files committed
    atomically with the rewrite (sources/delta.py:_stage_cdc_files).
    Deterministic function of orders, so DuckDB re-derives the exact
    change rows."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import update_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_cdf_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_cdf_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(
            base,
            dest,
            mode="append",
            partition_by=["bucket"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        update_delta(spark, dest, {"o_orderstatus": "'U'"}, "o_orderkey % 53 = 0")
        with open(marker, "w") as f:
            f.write("v1\n")
    return dest


@register(
    "delta_cdf_update_tail",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(o_orderkey % 4 AS VARCHAR) AS bucket,
           'update_preimage' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey % 53 = 0
    UNION ALL
    SELECT o_orderkey, 'U', CAST(o_orderkey % 4 AS VARCHAR),
           'update_postimage', CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey % 53 = 0
    """,
)
def delta_cdf_update_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED end-to-end: tail the UPDATE commit of a
    ``delta.enableChangeDataFeed=true`` table and get the PRECISE
    ``update_preimage``/``update_postimage`` rows from its
    ``_change_data`` files — not the delete+insert approximation a
    version diff gives — equal to DuckDB's reconstruction from orders.
    Cost is the change files alone (sources/delta.py:delta_changes)."""
    from lakeapi_spark.sources.delta import delta_changes

    dest = _cdf_demo_table(spark, sf_dir)
    return delta_changes(spark, dest, 0, 1).select(
        "o_orderkey", "o_orderstatus", "bucket", "_change_type", "_commit_version"
    )


def _colmap_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once COLUMN-MAPPED delta table for the mapped-write query:
    v0 = nation (key, name) created with physicalName mapping
    (sources/delta.py:write_delta_column_mapped — files store col-nk /
    col-nm, never the logical names); v1 = one copy-on-write MERGE that
    lowercases every ``key % 5 == 0`` name and inserts ``% 5 == 1``
    keys shifted by 100. Both commits are pure functions of the nation
    table, so DuckDB re-derives the post-merge contents — proving the
    physical-layout rewrite end-to-end."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import merge_delta, write_delta_column_mapped

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_colmap_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_colmap_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("nation_key"),
            F.col("n_name").alias("nation_name"),
        )
        write_delta_column_mapped(
            base, dest,
            physical_names={"nation_key": "col-nk", "nation_name": "col-nm"},
        )
        updates = base.filter(F.col("nation_key") % 5 == 0).withColumn(
            "nation_name", F.lower("nation_name")
        )
        inserts = base.filter(F.col("nation_key") % 5 == 1).select(
            (F.col("nation_key") + 100).alias("nation_key"),
            F.concat(F.lit("new-"), F.lower("nation_name")).alias("nation_name"),
        )
        merge_delta(updates.unionByName(inserts), dest, on=["nation_key"])
        with open(marker, "w") as f:
            f.write("v1\n")
    return dest


@register(
    "delta_colmap_merge",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           CASE WHEN n_nationkey % 5 = 0 THEN lower(n_name) ELSE n_name END
               AS nation_name
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT), 'new-' || lower(n_name)
    FROM nation WHERE n_nationkey % 5 = 1
    """,
)
def delta_colmap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MAPPED delta write surface end-to-end: a mapped table
    (files keyed by physicalName, partitionValues/stats physical) takes
    a copy-on-write MERGE and reads back by LOGICAL names equal to
    DuckDB's from-first-principles reconstruction. Writes stage through
    the physical projection (delta.py:_stage_snapshot_files); reads
    resolve the mapping at every nesting level."""
    from lakeapi_spark.sources.readers import read_source

    dest = _colmap_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select("nation_key", "nation_name")


def _dv_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once demo delta table for the deletion-vector query:
    orders keys+status partitioned by ``bucket``, then ONE merge-on-read
    DELETE of every ``o_orderkey % 13 == 0`` row via deletion vectors
    (sources/delta.py:delete_delta) — no data file is rewritten, the
    commit is roaring bitmaps + log metadata. Deterministic function of
    the orders table, so DuckDB re-derives the post-delete contents."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import delete_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_dv_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_dv_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(base, dest, mode="append", partition_by=["bucket"])
        delete_delta(spark, dest, "o_orderkey % 13 = 0")
        with open(marker, "w") as f:
            f.write("v1\n")
    return dest


@register(
    "delta_delete_dv",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(o_orderkey % 4 AS VARCHAR) AS bucket
    FROM orders WHERE o_orderkey % 13 <> 0
    """,
    bench=True,
)
def delta_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors, end-to-end: the
    post-delete snapshot of :func:`_dv_demo_table` — read through the
    fallback's roaring-bitmap anti-join (delta.py:_files_to_df,
    sources/dv.py) — must equal DuckDB's WHERE-filtered reconstruction.
    One hash compare proves bitmap serialize/parse, Z85 uuid paths, the
    DV file framing, the protocol upgrade to readerFeatures, and the
    (file, row_index) anti-join semantics. The reference REJECTS DV
    tables (README.md:66) — this is one feature past its boundary, and
    the 100 TB rationale is the point: the delete wrote kilobytes of
    bitmap instead of rewriting every 13th-row-containing file."""
    from lakeapi_spark.sources.readers import read_source

    dest = _dv_demo_table(spark, sf_dir)
    return read_source(spark, dest, "delta").select(
        "o_orderkey", "o_orderstatus", "bucket"
    )


# ---------------------------------------------------------------------------
# TPC-H coverage widening (round 3): q8/q12/q13/q18/q19/q21/q22 shapes
# adapted to the driver schema (no partsupp/commitdate/receiptdate/phone
# columns in TESTDATA.md, so predicates use the columns that exist while
# keeping each query's canonical plan shape). These prove the §2.4/2.5
# surface on the remaining classic plan shapes: grouped-HAVING IN join,
# OR-of-conjuncts join pushdown, left-join distributions, correlated
# NOT EXISTS, and two-level max-equality semi joins.
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    """
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS nation_volume,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_volume
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: one nation's share of PROMO-part volume sold
    into EUROPE customers, by order year. Numerator and denominator
    are emitted separately (q14 discipline: the ratio is the caller's
    one exact division — a rounded quotient re-imports the half-way
    double trap). Plan: the p_type filter prunes the broadcast part
    dim BEFORE the join, one fact-fact shuffle (lineitem x orders on
    orderkey); the guaranteed-small dims (part, nation x2, region,
    supplier) are hinted broadcast. Customer is unhinted — the
    optimizer broadcasts it from stats at small SF but must be free
    to pick SMJ/AQE at sf100 where customer is GBs — so the 8-way
    join costs at most two wide exchanges at any scale, never an
    executor OOM."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = table(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = dec("l_extendedprice") * (one - dec("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            money_sum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)
            ).alias("nation_volume"),
            money_sum(vol).alias("total_volume"),
        )
    )


@register(
    "q12_shipping_delay_priority",
    """
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 0 THEN 'early'
                WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 90 THEN 'on_time'
                ELSE 'late' END AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q12_shipping_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape (adapted: the driver schema has no
    l_shipmode/commitdate, so the mode column is a derived ship-delay
    bucket): conditional priority counts per bucket. One fact-fact
    shuffle on orderkey, then a 3-group aggregate — the CASE counts
    are map-side partials, so the second exchange carries 3 rows per
    task regardless of scale."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 0, "early").when(delay <= 90, "on_time").otherwise("late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: distribution of per-customer order counts with
    a filtered LEFT join (customers with zero qualifying orders must
    appear as c_count=0 — the filter lives in the join condition, not
    WHERE, or the outer join collapses to inner). Plan: the orders
    side pre-aggregates to (custkey, count) BEFORE the join, so the
    join input is one row per customer (both sides ~|customer| — the
    optimizer picks the join strategy from stats; no broadcast hint,
    customer is scale-proportional), and the final distribution is a
    result-sized aggregate."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    counts = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    per_cust = (
        c.join(counts, c.c_custkey == counts.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
           SUM(l.l_quantity) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total quantity exceeds 300,
    with customer attribution. The HAVING subquery and the outer
    aggregate reuse the SAME groupBy(orderkey) — expressed once here,
    then filtered, so Spark computes one aggregation instead of the
    SQL text's two and the IN becomes a no-op (Catalyst sees the
    filter directly). One orderkey shuffle; customer is joined
    un-hinted (the >300-qty aggregate output is tiny, so either side
    may broadcast — the optimizer decides from stats; forcing
    broadcast(customer) would OOM at sf100). Top-100 is
    TakeOrderedAndProject with an orderkey tiebreak."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1  AND 15 AND l.l_quantity BETWEEN 1  AND 11)
       OR (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 16 AND 30 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 31 AND 50 AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: OR of three brand/size/quantity conjunct
    groups across a broadcast join. Catalyst factors the disjunction:
    the part-only prefix (brand OR'd with brand) prunes the broadcast
    build side, the lineitem-only quantity bound (1..30) pushes to the
    probe scan, and the full disjunct evaluates post-join in codegen —
    the shape that proves cross-relation OR pushdown works."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,4)")
    cond = (
        ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(16, 30) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(31, 50) & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(money_sum(dec("l_extendedprice") * (one - dec("l_discount"))).alias("revenue"))
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH sm AS (
      SELECT l.l_orderkey, l.l_suppkey, MAX(l.l_shipdate) AS sup_max
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ), om AS (
      SELECT l_orderkey, MAX(sup_max) AS order_max, COUNT(*) AS n_supp
      FROM sm GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM sm JOIN om ON sm.l_orderkey = om.l_orderkey
    JOIN supplier s ON sm.l_suppkey = s.s_suppkey
    WHERE om.n_supp >= 2 AND sm.sup_max = om.order_max
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (adapted: no receipt/commit dates, so "kept the
    order waiting" = shipped last among >= 2 suppliers on a finished
    order). The canonical EXISTS + NOT-EXISTS pair collapses to a
    two-level aggregate: per-(order, supplier) max shipdate, then a
    window over order for (order max, supplier count) — both on the
    SAME orderkey partitioning, so the whole query is one wide shuffle
    plus a broadcast supplier hop. The window replaces a self-join:
    no second pass over lineitem."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    sm = (
        l.join(o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("sup_max"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = sm.select(
        "l_orderkey", "l_suppkey", "sup_max",
        F.max("sup_max").over(w).alias("order_max"),
        F.count(F.lit(1)).over(w).alias("n_supp"),
    ).filter((F.col("n_supp") >= 2) & (F.col("sup_max") == F.col("order_max")))
    return (
        flagged.join(F.broadcast(s), flagged.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q22_dormant_customers",
    """
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c.c_nationkey % 5 AS INTEGER) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape (adapted: no phone column, so country code is
    nationkey mod 5; "no orders" would be empty on this data, so
    dormant = no order since 2000-01-01). Three classic pieces: a
    scalar AVG subquery (computed as exact decimal-sum / count, then
    broadcast as a 1-row cross join — no collect), a correlated NOT
    EXISTS (left-anti join against the date-filtered orders, pushed
    before the threshold filter's broadcast), and a final small
    aggregate. The anti join's build side is date-pruned at the scan."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum(dec("c_acctbal")).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H sweep completion: q2/q4/q9/q11/q16/q17/q20 shapes. This testdata
# has no partsupp table (TESTDATA.md), so the part<->supplier bridge is
# the distinct (l_partkey, l_suppkey) relation from lineitem, and
# ps_supplycost / ps_availqty become deterministic lineitem/part-derived
# proxies. The SHAPES — correlated min subquery, scalar-threshold
# HAVING, NOT-IN supplier exclusion, correlated AVG, nested IN — are the
# point; the proxies keep every query oracle-checkable.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH bridge AS (
      SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT b.l_partkey, b.l_suppkey, b.cost,
             MIN(b.cost) OVER (PARTITION BY b.l_partkey) AS best
      FROM bridge b
      JOIN supplier s ON b.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           CAST(eu.cost AS DOUBLE) AS supply_cost
    FROM eu
    JOIN part p ON eu.l_partkey = p.p_partkey
    JOIN supplier s ON eu.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE eu.cost = eu.best AND p.p_size = 15 AND p.p_type = 'LARGE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (min-cost supplier per part in a region). The
    canonical correlated MIN subquery is a window MIN over the
    part-partitioned bridge — one pass instead of the self-join the
    subquery spells. Plan: ONE wide shuffle total — lineitem is
    explicitly repartitioned on l_partkey alone, which satisfies the
    clustering requirement of both the (partkey, suppkey) groupBy and
    the partkey window, so neither inserts its own exchange;
    supplier/nation/region broadcast in between, part is a broadcast
    probe at the end, and the final top-100 is TakeOrdered."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    bridge = (
        l.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(dec("l_extendedprice")).alias("cost"))
    )
    eu = (
        bridge.join(F.broadcast(s), bridge.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("l_partkey")
    best = eu.withColumn("best", F.min("cost").over(w)).filter(
        F.col("cost") == F.col("best")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: per-priority count of orders with a late line
    (no commit/receipt dates in this data, so late = shipped > 60 days
    after the order date). EXISTS compiles to a LEFT SEMI join on
    orderkey — Spark dedups the build side during the semi probe, so
    there is no pre-DISTINCT pass over lineitem; the quarter filter
    pushes to the orders scan and prunes the probe side first."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q9_product_type_profit",
    """
    SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(
             CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
             - CAST(0.6 AS DECIMAL(18,4)) * CAST(p.p_retailprice AS DECIMAL(18,4)) * CAST(l.l_quantity AS DECIMAL(18,4))
           ), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: profit by supplier nation and order year for one
    part family (no ps_supplycost here, so cost = 0.6 x retailprice x
    quantity — a deterministic decimal proxy). Plan: part is filtered
    THEN broadcast, so the p_name family filter prunes lineitem at the
    probe (~1/8 survives) before the single wide orderkey shuffle
    against orders; supplier and nation are broadcast too. One wide
    shuffle + one small agg — the same skeleton at 100 TB."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,4)")
    cost_rate = F.lit(0.6).cast("decimal(18,4)")
    profit = dec("l_extendedprice") * (one - dec("l_discount")) - cost_rate * dec(
        "p_retailprice"
    ) * dec("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(money_sum(profit).alias("profit"))
    )


@register(
    "q11_important_stock",
    """
    WITH val AS (
      SELECT l.l_partkey, SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS part_value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    )
    SELECT v.l_partkey, CAST(ROUND(v.part_value, 2) AS DOUBLE) AS part_value
    FROM val v, (SELECT SUM(part_value) AS total FROM val) t
    WHERE v.part_value > CAST(0.01 AS DECIMAL(18,4)) * t.total
    ORDER BY part_value DESC, v.l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: per-part supply value for one nation's
    suppliers, kept only when above a fraction of the nation total
    (scalar-subquery HAVING). The grand total is summed straight off
    the broadcast-join rows (associativity makes it decimal-exact-equal
    to summing the per-part sums), so the total branch is a map-side
    partial aggregate into SinglePartition — NO second wide shuffle.
    Lineitem is scanned twice (deriving the total from `val` instead
    does not help: column pruning de-canonicalizes the branches and
    defeats ReuseExchange — verified on the physical plan for both the
    two-branch and rollup+grouping_id spellings; a real deployment
    would persist `val` to trade memory for the rescan). The total row
    is broadcast back via cross join — no collect, no single-partition
    window over the parts."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    joined = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", dec("l_extendedprice").alias("v"))
    )
    val = joined.groupBy("l_partkey").agg(F.sum("v").alias("part_value"))
    total = joined.agg(F.sum("v").alias("total"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.01).cast("decimal(18,4)") * F.col("total"))
        .select(
            "l_partkey",
            F.round("part_value", 2).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT b.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
    JOIN part p ON b.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND b.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct supplier count per part attribute
    triple, excluding a supplier blocklist (complaints become negative
    account balances in this data). The NOT IN is a broadcast LEFT ANTI
    join (supplier is tiny; NULL-key hazards of NOT IN don't arise —
    keys are non-null — and the anti join is the scale-safe spelling).
    No pre-DISTINCT pass over the bridge: COUNT(DISTINCT suppkey) is
    already set-valued, so Spark's two-phase distinct aggregate dedups
    (attrs, suppkey) in its first shuffle — a separate distinct() would
    add a full extra exchange for nothing; part is a broadcast filter."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    bridge = l.select("l_partkey", "l_suppkey")
    return (
        bridge.join(F.broadcast(bad), bridge.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), bridge.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l.l_partkey, SUM(l.l_quantity) AS sum_qty, COUNT(*) AS cnt
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#23'
      GROUP BY l.l_partkey
    )
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue_sum,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE p.p_brand = 'Brand#23' AND 5 * l.l_quantity * pa.cnt < pa.sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: revenue from lines whose quantity is under 20 %
    of that part's average. The correlated AVG subquery is a window
    over l_partkey on the brand-pruned lineitem — one shuffle, no
    rejoin — and the fractional comparison is cross-multiplied
    (5*qty*cnt < sum) so both engines compare exactly-representable
    integers instead of a rounded average. Quantities are whole
    numbers <= 50 stored as double, so every product is FP-exact."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pruned = l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    flagged = pruned.select(
        "l_partkey", "l_quantity", "l_extendedprice",
        F.sum("l_quantity").over(w).alias("sum_qty"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    ).filter(F.lit(5) * F.col("l_quantity") * F.col("cnt") < F.col("sum_qty"))
    return flagged.agg(
        money_sum(dec("l_extendedprice")).alias("revenue_sum"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q20_part_promotion",
    """
    SELECT s.s_name, CAST(ROUND(CAST(s.s_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
          AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 90
      )
    ORDER BY s.s_name
    """,
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: suppliers in given nations who moved more than
    a threshold of any 'blue%' part in 1997 (no ps_availqty, so the
    half-of-stock threshold is a constant). The nested INs become: part
    prefilter broadcast into lineitem -> (suppkey, partkey) aggregate
    with HAVING -> LEFT SEMI into the nation-filtered supplier. The
    year filter pushes to the lineitem scan; the semi join dedups
    qualifying suppliers without a DISTINCT pass, and the movers side
    is broadcast — its cardinality is bounded by the supplier count
    regardless of corpus size, so the supplier side never shuffles."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").startswith("blue"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_13")
    )
    movers = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 90)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", F.round(dec("s_acctbal"), 2).cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "text_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS (
      SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), nu AS (
      SELECT SUM(c) AS n FROM uni
    ), tr AS (
      SELECT doc_id, t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ), bc AS (
      SELECT a, b, COUNT(*) AS c_ab FROM tr GROUP BY a, b
    ), la AS (
      SELECT a, SUM(c_ab) AS c_a FROM bc GROUP BY a
    ), scored AS (
      SELECT tr.doc_id,
             CAST(ROUND(LN(0.7 * (CAST(c_ab AS DOUBLE) / c_a)
                    + 0.3 * (CAST(uni.c AS DOUBLE) / nu.n)) * 1000000.0, 0) AS BIGINT) AS lp
      FROM tr JOIN bc ON bc.a = tr.a AND bc.b = tr.b
              JOIN la ON la.a = tr.a
              JOIN uni ON uni.w = tr.b, nu
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) / 1000000.0, 4) + 0.0 AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score per doc (operators/text.py:
    bigram_interp_logprob) — the KenLM-direction upgrade of
    text_unigram_logprob; vocab-bounded broadcast sides, one shuffle
    join on the bigram key, unigram_logprob's rounding discipline."""
    from lakeapi_spark.operators.text import bigram_interp_logprob

    d = table(spark, sf_dir, "documents")
    return bigram_interp_logprob(d, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "domain_reputation",
    f"""
    WITH base AS (
      SELECT source, COALESCE(lang, '') AS lang,
             md5(regexp_replace(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp,
             ROUND(0.4 * LEAST(length(text) / 200.0, 1.0)
                 + 0.3 * (1 - CASE WHEN length(text) > 0
                                   THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                                   ELSE 0.0 END)
                 + 0.3 * (len(list_filter(['the','and','of','to','a','in','is','that','it','for'],
                                          w -> list_contains({_TOKS}, w))) / 10.0),
             4) AS q
      FROM documents
    ), flagged AS (
      SELECT source, lang, q,
             COUNT(*) OVER (PARTITION BY fp) AS c
      FROM base
    ), agg AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_docs,
             SUM(CAST(q AS DECIMAL(10,4))) AS sq
      FROM flagged GROUP BY source
    ), tl AS (
      SELECT source, lang AS top_lang, n_lang FROM (
        SELECT source, lang, COUNT(*) AS n_lang,
               row_number() OVER (
                 PARTITION BY source ORDER BY COUNT(*) DESC, lang
               ) AS rn
        FROM base GROUP BY source, lang
      ) WHERE rn = 1
    )
    SELECT a.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
           CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_rate,
           ROUND(CAST(sq AS DOUBLE) / n_docs, 4) + 0.0 AS avg_quality,
           top_lang,
           CAST(n_lang AS DOUBLE) / n_docs AS lang_share,
           CASE WHEN CAST(n_dup_docs AS DOUBLE) / n_docs <= 0.2
                  AND ROUND(CAST(sq AS DOUBLE) / n_docs, 4) + 0.0 >= 0.5
                THEN 'keep'
                WHEN CAST(n_dup_docs AS DOUBLE) / n_docs <= 0.4
                THEN 'review' ELSE 'drop' END AS verdict
    FROM agg a JOIN tl ON tl.source = a.source
    """,
    bench=True,
)
def domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup (operators/sampling.py:
    domain_reputation): corpus-wide dup-rate window, decimal-exact mean
    quality, modal language, and a keep/review/drop verdict per
    domain — the before-you-crawl-more screening table."""
    from lakeapi_spark.operators.sampling import domain_reputation as dr

    d = table(spark, sf_dir, "documents")
    return dr(d, "doc_id", "text", "source", "lang")


@register(
    "text_pmi_collocations",
    """
    WITH toks AS (
      SELECT string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
      WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    ), uc AS (
      SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), nu AS (
      SELECT SUM(c) AS n FROM uc
    ), bc AS (
      SELECT a, b, COUNT(*) AS n_pair FROM (
        SELECT t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
      ) GROUP BY a, b
    ), nb AS (
      SELECT SUM(n_pair) AS n FROM bc
    )
    SELECT a AS tok_a, b AS tok_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(ua.c AS BIGINT) AS n_a, CAST(ub.c AS BIGINT) AS n_b,
           ROUND(
             LN(CAST(n_pair AS DOUBLE)) + LN(CAST(nu.n AS DOUBLE))
             + LN(CAST(nu.n AS DOUBLE)) - LN(CAST(nb.n AS DOUBLE))
             - LN(CAST(ua.c AS DOUBLE)) - LN(CAST(ub.c AS DOUBLE)), 6
           ) + 0.0 AS pmi6
    FROM bc JOIN uc ua ON ua.w = a JOIN uc ub ON ub.w = b, nu, nb
    WHERE n_pair >= 5
    ORDER BY pmi6 DESC, tok_a, tok_b LIMIT 100
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations over adjacent token pairs
    (operators/text.py:pmi_collocations) — phrase mining for corpus
    analysis; integer counts + the six-term engine-ln score the oracle
    re-derives on the same rounding grid."""
    from lakeapi_spark.operators.text import pmi_collocations

    d = table(spark, sf_dir, "documents")
    return pmi_collocations(d, "doc_id", "text", min_count=5, top=100)


@register(
    "text_llr_collocations",
    """
    WITH toks AS (
      SELECT string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
      WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    ), bc AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair FROM (
        SELECT t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
      ) GROUP BY a, b
    ), fa AS (SELECT a, CAST(SUM(n_pair) AS BIGINT) AS c1 FROM bc GROUP BY a),
    fb AS (SELECT b, CAST(SUM(n_pair) AS BIGINT) AS c2 FROM bc GROUP BY b),
    nt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n FROM bc),
    cells AS (
      SELECT bc.a, bc.b, bc.n_pair,
             bc.n_pair AS k11, fa.c1 - bc.n_pair AS k12,
             fb.c2 - bc.n_pair AS k21, nt.n - fa.c1 - fb.c2 + bc.n_pair AS k22,
             fa.c1 AS c1, fb.c2 AS c2, nt.n AS n
      FROM bc JOIN fa ON fa.a = bc.a JOIN fb ON fb.b = bc.b, nt
      WHERE bc.n_pair >= 5
    )
    SELECT a AS tok_a, b AS tok_b, n_pair,
           ROUND(2.0 * (
             (CASE WHEN k11 = 0 THEN 0 ELSE k11 * LN(CAST(k11 AS DOUBLE)) END)
             + (CASE WHEN k12 = 0 THEN 0 ELSE k12 * LN(CAST(k12 AS DOUBLE)) END)
             + (CASE WHEN k21 = 0 THEN 0 ELSE k21 * LN(CAST(k21 AS DOUBLE)) END)
             + (CASE WHEN k22 = 0 THEN 0 ELSE k22 * LN(CAST(k22 AS DOUBLE)) END)
             - (CASE WHEN c1 = 0 THEN 0 ELSE c1 * LN(CAST(c1 AS DOUBLE)) END)
             - (CASE WHEN n - c1 = 0 THEN 0 ELSE (n - c1) * LN(CAST(n - c1 AS DOUBLE)) END)
             - (CASE WHEN c2 = 0 THEN 0 ELSE c2 * LN(CAST(c2 AS DOUBLE)) END)
             - (CASE WHEN n - c2 = 0 THEN 0 ELSE (n - c2) * LN(CAST(n - c2 AS DOUBLE)) END)
             + (CASE WHEN n = 0 THEN 0 ELSE n * LN(CAST(n AS DOUBLE)) END)
           ), 6) + 0.0 AS llr6
    FROM cells
    ORDER BY llr6 DESC, tok_a, tok_b LIMIT 100
    """,
)
def text_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by Dunning's log-likelihood ratio
    (operators/text.llr_collocations) — the evidence-weighted
    companion to text_pmi_collocations: PMI crowns rare-pair flukes,
    G^2 ranks by how much data backs the association, which is the
    statistic phrase-mining pipelines actually threshold. Integer 2x2
    cells + the entropy-identity ln expression on the shared rounding
    grid."""
    from lakeapi_spark.operators.text import llr_collocations

    d = table(spark, sf_dir, "documents")
    return llr_collocations(d, "doc_id", "text", min_count=5, top=100)


@register(
    "decontaminate_overlap",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks WHERE len(t) >= 5
    ), grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
      FROM idx
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0
    ), train AS (
      SELECT doc_id, g FROM grams WHERE doc_id % 11 <> 0
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS overlap_frac
    FROM train t LEFT JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
    bench=True,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: per training doc, the fraction of
    its distinct word 5-grams that occur anywhere in the benchmark set
    (here: every 11th doc stands in for the eval suite). The benchmark
    gram set is the BROADCAST side — the training corpus streams
    through the membership probe with no shuffle, and the only wide
    exchange is the per-doc count. See operators/contamination.py for
    the 100 TB design notes."""
    from lakeapi_spark.operators.contamination import benchmark_overlap

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 11 == 0)
    train = d.filter(F.col("doc_id") % 11 != 0)
    return benchmark_overlap(train, bench, "doc_id", "text", n=5).withColumnRenamed(
        "id", "doc_id"
    )


_PACK_ORACLE_CTE = """
    WITH t AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
             CAST(len(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      FROM t
    ), packed AS (
      SELECT doc_id, shard, n_tokens,
             cum_before // 512 AS seq_index,
             cum_before % 512 AS seq_offset
      FROM c
    )
"""


@register(
    "pack_sequences_assign",
    _PACK_ORACLE_CTE
    + """
    SELECT doc_id, shard, n_tokens, seq_index, seq_offset FROM packed
    """,
)
def pack_sequences_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: each document's position in the
    stream of 512-token context windows of its hash shard. The global
    running count is replaced by 8 shard-partitioned windows — the
    scale move that keeps packing off a single task; see
    operators/packing.py."""
    from lakeapi_spark.operators.packing import pack_sequences

    d = table(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", seq_len=512, n_shards=8).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "pack_sequences_summary",
    _PACK_ORACLE_CTE
    + """
    SELECT shard, seq_index,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(n_tokens, 512 - seq_offset)) AS BIGINT) AS tokens_started
    FROM packed GROUP BY shard, seq_index
    """,
)
def pack_sequences_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill accounting per packed window (docs starting in it, tokens
    they contribute before the boundary) — the dataloader/auditor view
    of the packing above."""
    from lakeapi_spark.operators.packing import pack_sequences, packing_summary

    d = table(spark, sf_dir, "documents")
    packed = pack_sequences(d, "doc_id", "text", seq_len=512, n_shards=8)
    return packing_summary(packed, seq_len=512)


@register(
    "dsir_importance_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents
    ), idx AS (
      SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
      FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1]), 1, 15)) AS BIGINT)
                 % 1024 AS b
      FROM idx
    ), cr AS (
      SELECT b, COUNT(*) AS c_r FROM grams GROUP BY b
    ), ct AS (
      SELECT b, COUNT(*) AS c_t FROM grams WHERE lang = 'en' GROUP BY b
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM grams) AS n_r,
             (SELECT COUNT(*) FROM grams WHERE lang = 'en') AS n_t
    ), ratios AS (
      SELECT cr.b,
             ROUND(ln(CAST((COALESCE(ct.c_t, 0) + 1) * (tot.n_r + 1024) AS DOUBLE))
                 - ln(CAST((cr.c_r + 1) * (tot.n_t + 1024) AS DOUBLE)), 6) AS lr
      FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(AVG(r.lr), 4) + 0.0 AS logw_mean,
           CAST(CASE WHEN ROUND(AVG(r.lr), 4) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM grams g JOIN ratios r USING (b)
    GROUP BY g.doc_id
    """,
    bench=True,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling scores (Xie et al. 2023):
    per-doc mean log ratio of Laplace-smoothed hashed-bigram bucket
    probabilities, target = English docs, raw = the whole corpus —
    the data-selection step that reweights a crawl toward a target
    domain. Bucket tables are K-bounded aggregates that broadcast;
    the corpus streams through one broadcast join + one per-doc
    aggregate (operators/sampling.py:dsir_importance)."""
    from lakeapi_spark.operators.sampling import dsir_importance

    d = table(spark, sf_dir, "documents")
    return dsir_importance(d, "doc_id", "text", "lang = 'en'").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "mixture_resample_counts",
    """
    WITH kept AS (
      SELECT source, n_chars FROM documents
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % (CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 WHEN 'src2' THEN 8 ELSE 1 END)
          < (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 1 WHEN 'src2' THEN 7 ELSE 1 END)
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY source
    """,
)
def mixture_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting before training: src0 thinned to 1/4,
    src1 to 1/2, src2 to 7/8, everything else kept — exact rational
    rates on the stable doc-id hash (operators/sampling.mixture_sample),
    then per-source accounting. Map-only filter + one small agg."""
    from lakeapi_spark.operators.sampling import mixture_sample

    d = table(spark, sf_dir, "documents")
    kept = mixture_sample(
        d, "doc_id", "source",
        {"src0": (1, 4), "src1": (1, 2), "src2": (7, 8)},
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "multimodal_jpeg_dimensions",
    """
    SELECT doc_id AS id, TRUE AS valid_jpeg,
           CAST(length(text) % 200 + 1 AS BIGINT) AS width,
           CAST(length(text) % 120 + 1 AS BIGINT) AS height
    FROM documents
    """,
)
def multimodal_jpeg_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL variable-layout binary decode, zero Python: documents become
    JPEG payloads (SOI + APP0 + a variable-length COM segment + SOF0),
    then jpeg_dimensions WALKS the marker chain — hop distance read
    from each segment's declared length via an F.aggregate fold — and
    parses height/width out of the SOF0 header. The oracle computes the
    expected dims from the encoding formula, so the hash-match proves
    the segment scan exactly inverts the encode even though every doc's
    COM segment shifts the SOF offset differently."""
    from lakeapi_spark.operators.multimodal import attach_jpeg_payload, jpeg_dimensions

    d = table(spark, sf_dir, "documents")
    return jpeg_dimensions(attach_jpeg_payload(d, "doc_id", "text"))


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style cluster-then-compare) + corpus-LM quality
# + deterministic shuffle/shard export
# ---------------------------------------------------------------------------

#: rounded-cosine threshold for the semantic near-dup queries: the
#: testdata embeddings are near-isotropic (within-cluster cosines top out
#: ~0.49), so 0.38 marks the extreme tail — 21 pairs at sf0.01, 376 at
#: sf0.1. Real embedding spaces run this at ~0.95+.
_SEMANTIC_THRESHOLD = 0.38


def _semantic_oracle_ctes(centroid_ids: list[int]) -> str:
    """Assignment + within-cluster scored pairs, re-deriving the seeded
    data-point quantizer routing exactly (same CTE chain as _ivf_oracle)."""
    ids = ", ".join(str(i) for i in centroid_ids)
    return (
        _EMB_DOT
        + f"""
    , cents AS (
      SELECT vec_id AS cvid, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM embeddings WHERE vec_id IN ({ids})
    )
    , cdot AS (
      SELECT a.vec_id, c.cid, c.cvid, SUM(a.val * b.val) AS d
      FROM x a JOIN cents c ON TRUE JOIN x b ON b.vec_id = c.cvid AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    , cscore AS (
      SELECT cd.vec_id, cd.cid, ROUND(cd.d / (nv.nrm * nc.nrm), 4) AS cos
      FROM cdot cd JOIN n nv ON nv.vec_id = cd.vec_id JOIN n nc ON nc.vec_id = cd.cvid
    )
    , ranked AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      FROM cscore
    )
    , assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1)
    , pr AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    , dt AS (
      SELECT pr.cid, pr.id_a, pr.id_b, SUM(xa.val * xb.val) AS d
      FROM pr JOIN x xa ON xa.vec_id = pr.id_a
              JOIN x xb ON xb.vec_id = pr.id_b AND xb.i = xa.i
      GROUP BY 1, 2, 3
    )
    , scored AS (
      SELECT dt.cid, dt.id_a, dt.id_b, ROUND(dt.d / (na.nrm * nb.nrm), 4) AS cos_sim
      FROM dt JOIN n na ON na.vec_id = dt.id_a JOIN n nb ON nb.vec_id = dt.id_b
    )
    """
    )


@register(
    "dedup_semantic",
    _semantic_oracle_ctes(_IVF_CENTROID_IDS)
    + f"""
    SELECT cid, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {_SEMANTIC_THRESHOLD}
    """,
    bench=True,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: coarse-quantizer cluster
    routing (zero-shuffle codegen over centroid literals), then cosine
    pairs >= threshold only WITHIN clusters — one self-equi-join on the
    cluster id instead of embedding_dup_pairs' all-pairs cross join.
    The seeded quantizer makes the whole composition value-exactly
    re-derivable by the SQL oracle."""
    from lakeapi_spark.operators.dedup import semantic_dedup_pairs

    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        e, "vec_id", "embedding", _IVF_CENTROID_IDS, _SEMANTIC_THRESHOLD
    )


@register(
    "dedup_semantic_multiprobe",
    _semantic_oracle_ctes(_IVF_CENTROID_IDS).replace(
        ", pr AS (\n      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b\n      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id\n    )",
        ", probe2 AS (SELECT vec_id, cid FROM ranked WHERE rn <= 2)\n"
        "    , pr AS (\n"
        "      SELECT DISTINCT a.cid, a.vec_id AS id_a, b.vec_id AS id_b\n"
        "      FROM probe2 a JOIN probe2 b ON a.cid = b.cid AND a.vec_id < b.vec_id\n"
        "    )",
    )
    + f"""
    SELECT DISTINCT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {_SEMANTIC_THRESHOLD}
    """,
)
def dedup_semantic_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with the n_probe=2 boundary-recall dial: vectors
    join their TWO nearest clusters, so near-dup pairs straddling a
    cluster boundary are co-bucketed whenever the members share either
    probed cluster; duplicated pair findings collapse with one distinct
    over the post-threshold set."""
    from lakeapi_spark.operators.dedup import semantic_dedup_pairs_multiprobe

    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs_multiprobe(
        e, "vec_id", "embedding", _IVF_CENTROID_IDS, _SEMANTIC_THRESHOLD, n_probe=2
    )


@register(
    "dedup_semantic_summary",
    _semantic_oracle_ctes(_IVF_CENTROID_IDS)
    + f"""
    , removed AS (
      SELECT cid, COUNT(DISTINCT id_b) AS n_removed
      FROM scored WHERE cos_sim >= {_SEMANTIC_THRESHOLD} GROUP BY cid
    )
    , sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_docs FROM assign GROUP BY cid)
    SELECT s.cid, s.n_docs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           ROUND((s.n_docs - COALESCE(r.n_removed, 0)) / CAST(s.n_docs AS DOUBLE), 4) AS keep_frac
    FROM sizes s LEFT JOIN removed r USING (cid)
    """,
)
def dedup_semantic_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster pruning report for the semantic dedup (docs, removed
    under the min-id keeper rule, keep fraction) — the dashboard view
    for tuning the threshold before a full prune."""
    from lakeapi_spark.operators.dedup import semantic_dedup_summary

    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_summary(
        e, "vec_id", "embedding", _IVF_CENTROID_IDS, _SEMANTIC_THRESHOLD
    )


_SUBSTRING_SPAN_CTES = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), pos AS (
      SELECT doc_id, t, unnest(range(0, greatest(len(t) - 20 + 1, 0))) AS p FROM toks
    ), wh AS (
      SELECT doc_id, p,
             CAST(concat('0x', substr(md5(array_to_string(t[p+1 : p+20], ' ')), 1, 15)) AS BIGINT) AS h
      FROM pos
    ), dup AS (SELECT h FROM wh GROUP BY h HAVING COUNT(*) > 1),
    d AS (SELECT doc_id, p FROM wh JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, p, p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM d
    ),
    spans AS (
      SELECT doc_id, MIN(p) AS start_pos, MAX(p) AS end_pos,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM isl GROUP BY doc_id, grp
    )
"""


@register(
    "dedup_substring_spans",
    _SUBSTRING_SPAN_CTES
    + """
    SELECT doc_id AS id, start_pos, end_pos, n_windows FROM spans
    """,
    bench=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim duplicated-substring spans (Lee et al. 2022 style):
    maximal token-position runs whose 20-token window occurs more than
    once in the corpus — the cut list for substring-level dedup.
    Fixed-window hashing turns the suffix-array step into one groupBy;
    spans merge with the p - row_number gaps-and-islands trick."""
    from lakeapi_spark.operators.dedup import substring_dup_spans

    d = table(spark, sf_dir, "documents")
    return substring_dup_spans(d, "doc_id", "text", window=20)


@register(
    "dedup_substring_cut",
    _SUBSTRING_SPAN_CTES
    + """
    , spl AS (
      SELECT doc_id, list({'start_pos': start_pos, 'end_pos': end_pos}) AS sp
      FROM spans GROUP BY doc_id
    )
    SELECT doc_id AS id,
           CAST(len(t) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after,
           COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
    FROM (
      SELECT tk.doc_id, tk.t,
             list_transform(
               list_filter(range(0, len(tk.t)),
                 i -> len(list_filter(
                        COALESCE(spl.sp, []::STRUCT(start_pos BIGINT, end_pos BIGINT)[]),
                        s -> i >= s.start_pos AND i <= s.end_pos + 19)) = 0),
               i -> tk.t[i+1]) AS kept
      FROM toks tk LEFT JOIN spl ON spl.doc_id = tk.doc_id
    )
    """,
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of substring dedup — APPLY the cut: every token
    covered by a duplicated span is removed and the text reassembled
    (detection -> removal, completing the Lee-et-al pipeline). Spans
    ride back onto their doc row as a collected array, so the cut is a
    pure per-row expression (F.filter with an index lambda + F.exists
    over the span array): no extra explode or shuffle."""
    from lakeapi_spark.operators.dedup import cut_dup_spans

    d = table(spark, sf_dir, "documents").filter(F.col("text").rlike(r"[^ \t\n\x0B\f\r]"))
    return cut_dup_spans(d, "doc_id", "text", window=20)


@register(
    "dedup_incremental",
    r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), pos AS (
      SELECT doc_id, source, t, unnest(range(0, greatest(len(t) - 20 + 1, 0))) AS p FROM toks
    ), wh AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(array_to_string(t[p+1 : p+20], ' ')), 1, 15)) AS BIGINT) AS h
      FROM pos
    ),
    corpus AS (SELECT DISTINCT h FROM wh WHERE source <> 'src3'),
    hits AS (
      SELECT DISTINCT doc_id FROM wh
      WHERE source = 'src3' AND h IN (SELECT h FROM corpus)
    )
    SELECT d.doc_id AS id, (hits.doc_id IS NOT NULL) AS is_known
    FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
    WHERE d.source = 'src3'
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest guard: treat src3 as the incoming batch and
    every other source as the existing corpus; flag each new doc whose
    any 20-token substring the corpus already contains. The corpus's
    distinct window-hash relation is the once-per-version artifact the
    batch semi-joins against (operators/dedup.incremental_dedup_flags)."""
    from lakeapi_spark.operators.dedup import incremental_dedup_flags

    d = table(spark, sf_dir, "documents")
    return incremental_dedup_flags(
        d.filter(F.col("source") == "src3"),
        d.filter(F.col("source") != "src3"),
        "doc_id",
        "text",
        window=20,
    )


@register(
    "tokens_to_ids_export",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), st AS (
      SELECT doc_id, t, unnest(range(0, len(t))) AS p FROM toks
    ), tl AS (
      SELECT doc_id, p, t[p+1] AS tok FROM st
    ), freq AS (SELECT tok, COUNT(*) AS n FROM tl GROUP BY tok),
    vocab AS (
      SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) - 1 AS BIGINT) AS tid
      FROM freq
    ),
    vc AS (SELECT tok, tid FROM vocab WHERE tid < 256),
    ids AS (
      SELECT tl.doc_id, tl.p, COALESCE(vc.tid, -1) AS tid
      FROM tl LEFT JOIN vc USING (tok)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE tid = -1) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY p)) AS ids_md5
    FROM ids GROUP BY doc_id
    """,
)
def tokens_to_ids_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tensor-ready id export: corpus-built top-256 vocabulary, tokens
    mapped to ids (-1 OOV), per-doc ORDERED id sequence proven by md5
    (nested arrays don't survive the driver canon; the hash pins the
    exact sequence). Completes the export chain with shuffle_shard and
    pack_sequences."""
    from lakeapi_spark.operators.text import word_id_export

    d = table(spark, sf_dir, "documents")
    return word_id_export(d, "doc_id", "text", vocab_size=256)


@register(
    "text_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+')) AS tok
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), freq AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM freq)
    , lp AS (
      SELECT tok, ROUND(ln(CAST(n AS DOUBLE) / t), 6) AS logp
      FROM freq CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(logp), 4) AS avg_logprob
    FROM toks JOIN lp USING (tok) GROUP BY doc_id
    """,
    bench=True,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM score per doc (the KenLM-perplexity-filter
    stand-in): vocab frequencies in one map-side-combined shuffle, logp
    join-back with the vocab broadcast, per-doc mean. Cross-engine
    exact via round-before-average."""
    from lakeapi_spark.operators.text import unigram_logprob

    d = table(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text")


@register(
    "curation_verdicts",
    r"""
    WITH q AS (
      SELECT doc_id, lang,
             ROUND(0.4 * LEAST(length(text) / 200.0, 1.0)
                 + 0.3 * (1 - CASE WHEN length(text) > 0
                                   THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                                   ELSE 0.0 END)
                 + 0.3 * (len(list_filter(['the','and','of','to','a','in','is','that','it','for'],
                                          w -> list_contains(string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+'), w))) / 10.0),
             4) AS quality
      FROM documents
    ),
    toks0 AS (
      SELECT doc_id,
             CASE WHEN regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') END AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, t,
             CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             END AS b
      FROM toks0
    ), rep AS (
      SELECT doc_id,
             CASE WHEN len(b) > 0
                  THEN ROUND(1 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b), 4)
             END AS dup_bigram_frac
      FROM bg
    ),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+')) AS tok
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM freq),
    lpt AS (SELECT tok, ROUND(ln(CAST(n AS DOUBLE) / t), 6) AS logp FROM freq CROSS JOIN tot),
    lp AS (
      SELECT doc_id, ROUND(AVG(logp), 4) AS avg_logprob
      FROM toks JOIN lpt USING (tok) GROUP BY doc_id
    ),
    canon AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(regexp_replace(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))
             ) AS is_canonical
      FROM documents
    )
    SELECT q.doc_id, q.lang, q.quality, rep.dup_bigram_frac, lp.avg_logprob,
           canon.is_canonical,
           (canon.is_canonical AND q.quality >= 0.6
            AND COALESCE(rep.dup_bigram_frac, 0) <= 0.06
            AND lp.avg_logprob >= -3.41) AS keep
    FROM q
    JOIN rep ON rep.doc_id = q.doc_id
    JOIN lp ON lp.doc_id = q.doc_id
    JOIN canon ON canon.doc_id = q.doc_id
    """,
)
def curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole filter stack fused into one per-doc verdict row — what
    a user actually runs before an export: heuristic quality >= 0.6,
    Gopher duplicate-bigram fraction <= 0.06, corpus-unigram logprob
    above the garbled tail, exact-dup canonical flag; keep = AND of
    all four. Every signal reuses its oracle-verified operator; the
    joins are all on doc_id so AQE coalesces them over one exchange
    family. Token-less docs drop (no logprob is measurable)."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.text import (
        fingerprint,
        quality_score,
        repetition_metrics,
        unigram_logprob,
    )

    d = table(spark, sf_dir, "documents")
    q = d.select("doc_id", "lang", quality_score(F.col("text")).alias("quality"))
    rep = repetition_metrics(d, "doc_id", "text").select("doc_id", "dup_bigram_frac")
    lp = unigram_logprob(d, "doc_id", "text").select("doc_id", "avg_logprob")
    canon = d.select("doc_id", fingerprint(F.col("text")).alias("__f")).select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("__f"))).alias(
            "is_canonical"
        ),
    )
    out = q.join(rep, "doc_id").join(lp, "doc_id").join(canon, "doc_id")
    keep = (
        F.col("is_canonical")
        & (F.col("quality") >= 0.6)
        & (F.coalesce("dup_bigram_frac", F.lit(0.0)) <= 0.06)
        & (F.col("avg_logprob") >= -3.41)
    )
    return out.select(
        "doc_id", "lang", "quality", "dup_bigram_frac", "avg_logprob",
        "is_canonical", keep.alias("keep"),
    )


@register(
    "profile_documents",
    """
    SELECT 'doc_id' AS column,
           CAST(COUNT(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang',
           CAST(COUNT(*) FILTER (WHERE lang IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT),
           CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source',
           CAST(COUNT(*) FILTER (WHERE source IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT),
           CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars',
           CAST(COUNT(*) FILTER (WHERE n_chars IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column data-quality profile of the documents table
    (nulls, distincts, stringified min/max) — computed as a single
    aggregate + stack unpivot, never one scan per column
    (metadata.profile_columns)."""
    from lakeapi_spark.metadata import profile_columns

    d = table(spark, sf_dir, "documents")
    return profile_columns(d, ["doc_id", "lang", "source", "n_chars"])


@register(
    "lang_quota_sample",
    """
    SELECT doc_id, lang FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id
    ) <= 40
    """,
)
def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus cap: at most 40 docs per language,
    chosen by stable hash rank — reproducible balancing of
    over-represented languages before training
    (operators/sampling.quota_sample)."""
    from lakeapi_spark.operators.sampling import quota_sample

    d = table(spark, sf_dir, "documents")
    return quota_sample(d, "doc_id", "lang", quota=40).select("doc_id", "lang")


@register(
    "shuffle_shard_docs",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM documents
    )
    SELECT doc_id, hv % 8 AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS shard_pos
    FROM h
    """,
)
def shuffle_shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + 8-way sharding — the terminal
    training-export step: shard and in-shard position are pure
    functions of (seed, doc_id), so the layout reproduces across runs,
    engines, and partitionings (orderBy(rand()) is none of those). One
    hash exchange + in-partition sort, never a global sort."""
    from lakeapi_spark.operators.sampling import shuffle_shard

    d = table(spark, sf_dir, "documents")
    return shuffle_shard(d, "doc_id", n_shards=8, seed=42)


# ---------------------------------------------------------------------------
# Clustering / graph / tokenizer-training steps (round 8)
# ---------------------------------------------------------------------------

_KMEANS_CENTROID_IDS = list(range(5, 13))  # 8 seeded data-point centroids


@register(
    "kmeans_lloyd_step",
    _EMB_DOT
    + f"""
    , cents AS (
      SELECT vec_id AS cvid, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in _KMEANS_CENTROID_IDS)})
    )
    , cdot AS (
      SELECT a.vec_id, c.cid, c.cvid, SUM(a.val * b.val) AS d
      FROM x a JOIN cents c ON TRUE JOIN x b ON b.vec_id = c.cvid AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    , cscore AS (
      SELECT cd.vec_id, cd.cid, ROUND(cd.d / (nv.nrm * nc.nrm), 4) AS cos
      FROM cdot cd JOIN n nv ON nv.vec_id = cd.vec_id JOIN n nc ON nc.vec_id = cd.cvid
    )
    , assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM cscore
      ) WHERE rn = 1
    )
    SELECT a.cid, x.i - 1 AS pos,
           CAST(ROUND(SUM(CAST(CAST(x.val AS DOUBLE) AS DECIMAL(18,7))), 4) AS DOUBLE) AS centroid_sum,
           COUNT(*) AS n_members
    FROM assign a JOIN x ON x.vec_id = a.vec_id
    GROUP BY 1, 2
    """,
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration of k-means (seeded data-point
    init shared with the IVF family): nearest-centroid assignment by
    rounded cosine, then per-cluster per-dim centroid recompute as
    (exact decimal sum, member count). The full training loop is this
    step iterated with the K x dim centroid table fed back through the
    assignment kernel — the driver never holds more than K x dim
    doubles. See operators/similarity.kmeans_lloyd_step."""
    from lakeapi_spark.operators.similarity import kmeans_lloyd_step as step

    e = table(spark, sf_dir, "embeddings")
    return step(e, "vec_id", "embedding", _KMEANS_CENTROID_IDS)


@register(
    "pagerank_cust_supp",
    """
    WITH eo AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-01-01'
    ), und AS (
      SELECT src, dst FROM eo UNION SELECT dst AS src, src AS dst FROM eo
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM und GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM und
    ), nn AS (
      SELECT COUNT(*) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM nodes
    ), pr1 AS (
      SELECT u.dst AS node,
             ROUND((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                   + 0.85::DOUBLE * CAST(SUM(CAST(p.pr / d.deg AS DECIMAL(28,12))) AS DOUBLE), 10) AS pr
      FROM und u JOIN pr0 p ON p.node = u.src JOIN deg d ON d.src = u.src
      GROUP BY u.dst
    ), pr2 AS (
      SELECT u.dst AS node,
             ROUND((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                   + 0.85::DOUBLE * CAST(SUM(CAST(p.pr / d.deg AS DECIMAL(28,12))) AS DOUBLE), 8) AS pr
      FROM und u JOIN pr1 p ON p.node = u.src JOIN deg d ON d.src = u.src
      GROUP BY u.dst
    )
    SELECT node, pr,
           CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rank
    FROM pr2 QUALIFY rank <= 50
    """,
)
def pagerank_cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration PageRank over the undirected customer-supplier
    purchase graph for first-year orders (date predicate pushed to the
    orders scan, TPC-H style; namespaced node ids: 2*custkey /
    2*suppkey+1), top 50 by rank. Link-structure authority for entity
    curation — the
    iterative-join family next to dedup's connected components. Per-
    iteration shuffle carries one row per node (map-side partial SUM);
    decimal-cast contributions make the reduction order-independent.
    See operators/graph.pagerank."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.graph import pagerank

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iters=2)
    return (
        ranked_topk(pr, [F.col("pr").desc(), F.col("node")], k=50)
        .withColumn("rank", F.col("rank").cast("long"))
        .select("node", "pr", "rank")
    )


@register(
    "bpe_merge_candidates",
    """
    WITH words AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
        FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
      ) GROUP BY w
    ), pairs AS (
      SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair, freq
      FROM (SELECT w, freq, unnest(range(1, len(w))) AS i FROM words WHERE len(w) >= 2)
    ), counted AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS weighted_count FROM pairs GROUP BY pair
    )
    SELECT pair, weighted_count,
           CAST(ROW_NUMBER() OVER (ORDER BY weighted_count DESC, pair) AS BIGINT) AS rank
    FROM counted QUALIFY rank <= 30
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE tokenizer-training iteration: corpus-weighted adjacent
    character-pair counts inside words, top 30 — counted over the
    Heaps-small distinct-word vocabulary weighted by word frequency,
    never over raw text. See operators/text.bpe_merge_candidates."""
    from lakeapi_spark.operators.text import bpe_merge_candidates as bmc

    d = table(spark, sf_dir, "documents")
    return bmc(d, "text", top_n=30).withColumn("rank", F.col("rank").cast("long"))


@register(
    "heavy_hitters_cms",
    """
    WITH toks AS (
      SELECT unnest(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS token
      FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    ), truth AS (
      SELECT token, COUNT(*) AS true_n FROM toks GROUP BY token
    ), top AS (
      SELECT token, true_n,
             CAST(ROW_NUMBER() OVER (ORDER BY true_n DESC, token) AS BIGINT) AS rank
      FROM truth QUALIFY rank <= 30
    ), rows_ AS (
      SELECT unnest(range(0, 4)) AS r
    ), grid AS (
      SELECT r.r AS row,
             CAST(concat('0x', substr(md5('42:' || CAST(r.r AS VARCHAR) || ':' || t.token), 1, 15)) AS BIGINT) % 512 AS col,
             COUNT(*) AS cnt
      FROM toks t CROSS JOIN rows_ r
      GROUP BY 1, 2
    ), probe AS (
      SELECT p.token,
             r.r AS row,
             CAST(concat('0x', substr(md5('42:' || CAST(r.r AS VARCHAR) || ':' || p.token), 1, 15)) AS BIGINT) % 512 AS col
      FROM top p CROSS JOIN rows_ r
    ), est AS (
      SELECT p.token, MIN(COALESCE(g.cnt, 0)) AS est_n
      FROM probe p LEFT JOIN grid g ON g.row = p.row AND g.col = p.col
      GROUP BY p.token
    )
    SELECT t.token, t.true_n, e.est_n, t.rank
    FROM top t JOIN est e ON e.token = t.token
    """,
    bench=True,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, demonstrated against
    ground truth: the corpus token stream builds a 4 x 512 counter grid
    (bounded memory at ANY corpus size — the sketch, not the key space,
    is what shuffles), and the true top-30 tokens are point-estimated
    from the grid. est_n >= true_n always; the gap is the CMS
    overcount. See operators/sketches.py."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.scale import TEXT_TASK_BYTES, fan_out
    from lakeapi_spark.operators.sketches import cms_build, cms_estimate
    from lakeapi_spark.operators.text import tokens

    d = fan_out(
        table(spark, sf_dir, "documents").select("text"),
        per_partition_bytes=TEXT_TASK_BYTES,
    )
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    # r13 (guide §2.3, aggregate before you shuffle): tokenize ONCE.
    # The per-token ground truth is the corpus aggregate anyway, and
    # the CMS grid built FROM it (cell += true_n per distinct token)
    # is integer-identical to counting occurrences one by one — so the
    # sketch pass now fans out the VOCAB-sized relation instead of
    # re-tokenizing the corpus. The persist is bounded by the vocab.
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_n")).persist()
    top = ranked_topk(truth, [F.col("true_n").desc(), F.col("token")], k=30).withColumn(
        "rank", F.col("rank").cast("long")
    )
    sketch = cms_build(truth, "token", depth=4, width=512, weight_col="true_n")
    est = cms_estimate(sketch, top.select("token"), "token", depth=4, width=512)
    return top.join(
        est.withColumnRenamed("key", "token").withColumnRenamed("est", "est_n"),
        "token",
    ).select("token", "true_n", "est_n", "rank")


@register(
    "fuzzy_join_part_names",
    """
    WITH names AS (
      SELECT DISTINCT p_name FROM part
    ), blocked AS (
      SELECT p_name AS name_a, split_part(p_name, ' ', 1) AS blk FROM names
    )
    SELECT a.name_a, b.name_a AS name_b,
           CAST(levenshtein(a.name_a, b.name_a) AS BIGINT) AS dist
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name_a < b.name_a
    WHERE levenshtein(a.name_a, b.name_a) <= 4
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs over part names: block on the
    first token, score within-block pairs with built-in Levenshtein,
    keep dist <= 4. The blocked self-join is the scale story — O(n^2)
    edit distances become one equi-join over the distinct-name
    relation. See operators/joins.blocked_fuzzy_pairs."""
    from lakeapi_spark.operators.joins import blocked_fuzzy_pairs

    p = table(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        p, "p_name", lambda c: F.split_part(c, F.lit(" "), F.lit(1)), max_dist=4
    )


@register(
    "er_jaro_winkler_parts",
    """
    WITH names AS (
      SELECT DISTINCT p_name FROM part
    ), blocked AS (
      SELECT p_name AS name_a, split_part(p_name, ' ', 1) AS blk FROM names
    )
    SELECT a.name_a, b.name_a AS name_b,
           ROUND(jaro_winkler_similarity(a.name_a, b.name_a), 4) AS jw
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name_a < b.name_a
    WHERE ROUND(jaro_winkler_similarity(a.name_a, b.name_a), 4) >= 0.86
    """,
)
def er_jaro_winkler_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage pairs over part names scored with Jaro-Winkler
    (operators/joins.jaro_winkler_pairs) — the transposition-tolerant,
    prefix-boosted complement to fuzzy_join_part_names' edit distance;
    same first-token blocking, so the scale story is identical. The
    Arrow-batched kernel reproduces DuckDB's jaro_winkler_similarity
    bit-identically (classic Winkler: boost threshold 0.7, prefix cap
    4), which is what lets the oracle use the built-in."""
    from lakeapi_spark.operators.joins import jaro_winkler_pairs

    p = table(spark, sf_dir, "part")
    return jaro_winkler_pairs(
        p, "p_name", lambda c: F.split_part(c, F.lit(" "), F.lit(1)),
        threshold=0.86,
    )


@register(
    "er_entity_clusters",
    """
    WITH RECURSIVE nid AS (
      SELECT p_name AS n, CAST(MIN(p_partkey) AS BIGINT) AS id
      FROM part GROUP BY p_name
    ), blocked AS (
      SELECT n, id, split_part(n, ' ', 1) AS blk FROM nid
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.n < b.n
      WHERE ROUND(jaro_winkler_similarity(a.n, b.n), 4) >= 0.86
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ), assign AS (
      SELECT id, MIN(label) AS ent FROM reach GROUP BY id
    )
    SELECT nn.n AS name, en.n AS entity_name,
           CAST(COUNT(*) OVER (PARTITION BY assign.ent) AS BIGINT) AS n_members
    FROM assign
    JOIN nid nn ON nn.id = assign.id
    JOIN nid en ON en.id = assign.ent
    """,
)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution pipeline end to end: blocked
    Jaro-Winkler match pairs -> connected components (min-label, the
    same linear propagation the dedup clusters use) -> one canonical
    entity per matched name plus its entity size — what a catalog-
    cleanup job publishes. Names map to stable NUMERIC ids (min part
    key per distinct name) before propagation — the scale-correct
    practice (labels stay 8 bytes through every round, and the
    monotone label-sum convergence probe applies) — then map back for
    the published canonical name. The oracle re-derives everything:
    DuckDB's built-in JW (bit-identical to our kernel) feeds a
    recursive-CTE transitive closure over the same numeric ids."""
    from lakeapi_spark.operators.dedup import dup_clusters
    from lakeapi_spark.operators.joins import jaro_winkler_pairs

    p = table(spark, sf_dir, "part")
    nid = p.groupBy(F.col("p_name").alias("n")).agg(
        F.min("p_partkey").cast("long").alias("id")
    )
    pairs = (
        jaro_winkler_pairs(
            p, "p_name", lambda c: F.split_part(c, F.lit(" "), F.lit(1)),
            threshold=0.86,
        )
        .join(F.broadcast(nid.select(F.col("n").alias("name_a"), F.col("id").alias("id_a"))), "name_a")
        .join(F.broadcast(nid.select(F.col("n").alias("name_b"), F.col("id").alias("id_b"))), "name_b")
        .select("id_a", "id_b")
    )
    clusters = dup_clusters(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        clusters.join(
            F.broadcast(nid.select(F.col("id"), F.col("n").alias("name"))), "id"
        )
        .join(
            F.broadcast(
                nid.select(
                    F.col("id").alias("cluster_id"), F.col("n").alias("entity_name")
                )
            ),
            "cluster_id",
        )
        .select(
            "name",
            "entity_name",
            F.count(F.lit(1)).over(w).cast("long").alias("n_members"),
        )
    )


@register(
    "events_gapfill_locf",
    f"""
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS hour_value
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM a GROUP BY user_id
    ), spine AS (
      SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket FROM bounds
    ), j AS (
      SELECT s.user_id, s.bucket, a.hour_value
      FROM spine s LEFT JOIN a ON a.user_id = s.user_id AND a.bucket = s.bucket
    ), g AS (
      SELECT user_id, bucket, hour_value,
             COUNT(hour_value) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS grp
      FROM j
    )
    SELECT user_id, bucket, hour_value IS NULL AS is_gap,
           MAX(hour_value) OVER (PARTITION BY user_id, grp) AS filled_value
    FROM g
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-user value series with gaps filled by the last
    observed hour (LOCF) — the resample step before any time-series
    model. Gaps-and-islands spelling, no IGNORE NULLS dependency. See
    operators/windows.gapfill_locf."""
    from lakeapi_spark.operators.windows import gapfill_locf

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return gapfill_locf(
        e, "ts", "user_id", 3600, money_sum(dec("value")), "hour_value"
    )


@register(
    "kmeans_transition_matrix",
    _EMB_DOT
    + f"""
    , cents AS (
      SELECT vec_id AS cvid, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in _KMEANS_CENTROID_IDS)})
    )
    , cdot AS (
      SELECT a.vec_id, c.cid, c.cvid, SUM(a.val * b.val) AS d
      FROM x a JOIN cents c ON TRUE JOIN x b ON b.vec_id = c.cvid AND b.i = a.i
      GROUP BY 1, 2, 3
    )
    , cscore AS (
      SELECT cd.vec_id, cd.cid, ROUND(cd.d / (nv.nrm * nc.nrm), 4) AS cos
      FROM cdot cd JOIN n nv ON nv.vec_id = cd.vec_id JOIN n nc ON nc.vec_id = cd.cvid
    )
    , a1 AS (
      SELECT vec_id, cid AS cid_from FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM cscore
      ) WHERE rn = 1
    )
    , cent2 AS (
      SELECT a.cid_from AS cid, x.i - 1 AS pos,
             ROUND(CAST(ROUND(SUM(CAST(x.val AS DECIMAL(18,7))), 4) AS DOUBLE) / COUNT(*), 6) AS c2
      FROM a1 a JOIN x ON x.vec_id = a.vec_id
      GROUP BY 1, 2
    )
    , cnorm AS (
      SELECT cid, sqrt(CAST(SUM(CAST(c2 * c2 AS DECIMAL(28,14))) AS DOUBLE)) AS cnrm
      FROM cent2 GROUP BY cid
    )
    , dots AS (
      SELECT x.vec_id, a.cid_from, c.cid,
             CAST(SUM(CAST(x.val * c.c2 AS DECIMAL(28,14))) AS DOUBLE) AS dot
      FROM x JOIN cent2 c ON c.pos = x.i - 1 JOIN a1 a ON a.vec_id = x.vec_id
      GROUP BY 1, 2, 3
    )
    , scored AS (
      SELECT d.vec_id, d.cid_from, d.cid,
             ROUND(d.dot / (nv.nrm * cn.cnrm), 4) AS cos
      FROM dots d JOIN n nv ON nv.vec_id = d.vec_id JOIN cnorm cn ON cn.cid = d.cid
    )
    , a2 AS (
      SELECT vec_id, cid_from, cid AS cid_to FROM (
        SELECT vec_id, cid_from, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT cid_from, cid_to, COUNT(*) AS n_vecs
    FROM a2 GROUP BY 1, 2
    """,
)
def kmeans_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fully-distributed Lloyd iterations reported as the
    (cid_from, cid_to, n_vecs) assignment-transition matrix — the
    k-means convergence diagnostic. See
    operators/similarity.kmeans_transition_matrix."""
    from lakeapi_spark.operators.similarity import kmeans_transition_matrix as ktm

    e = table(spark, sf_dir, "embeddings")
    return ktm(e, "vec_id", "embedding", _KMEANS_CENTROID_IDS)


@register(
    "market_basket_part_pairs",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem
    ), nb AS (
      SELECT COUNT(DISTINCT b) AS n_baskets FROM bi
    ), sup AS (
      SELECT item, COUNT(*) AS n_item FROM bi GROUP BY item
    ), pairs AS (
      SELECT x.item AS item_a, y.item AS item_b, COUNT(*) AS n_both
      FROM bi x JOIN bi y ON x.b = y.b AND x.item < y.item
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.item_a, p.item_b, p.n_both, sa.n_item AS n_a, sb.n_item AS n_b,
             (CAST(p.n_both AS DOUBLE)
                * CAST((SELECT n_baskets FROM nb) AS DOUBLE))
               / (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE)) AS lift
      FROM pairs p JOIN sup sa ON sa.item = p.item_a JOIN sup sb ON sb.item = p.item_b
    )
    SELECT item_a, item_b, n_both, n_a, n_b, lift,
           CAST(ROW_NUMBER() OVER (ORDER BY n_both DESC, item_a, item_b) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 40
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association pairs over order baskets: top-40 part pairs by
    co-occurrence support, with exact-integer-ratio lift. The pair
    explode is bounded by basket size (C(|basket|,2) per order), never
    global. See operators/basket.market_basket_pairs."""
    from lakeapi_spark.operators.basket import market_basket_pairs

    l = table(spark, sf_dir, "lineitem")
    return market_basket_pairs(l, "l_orderkey", "l_partkey", top_n=40)


@register(
    "market_basket_triples",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem
    ), nb AS (
      SELECT COUNT(DISTINCT b) AS n_baskets FROM bi
    ), sup AS (
      SELECT item, COUNT(*) AS n_item FROM bi GROUP BY item
    ), triples AS (
      SELECT x.item AS item_a, y.item AS item_b, z.item AS item_c,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM bi x
      JOIN bi y ON x.b = y.b AND x.item < y.item
      JOIN bi z ON y.b = z.b AND y.item < z.item
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ), scored AS (
      SELECT t.item_a, t.item_b, t.item_c, t.n_all,
             (CAST(t.n_all AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                * CAST(nb.n_baskets AS DOUBLE))
               / (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE)
                  * CAST(sc.n_item AS DOUBLE)) AS lift3
      FROM triples t
      JOIN sup sa ON sa.item = t.item_a
      JOIN sup sb ON sb.item = t.item_b
      JOIN sup sc ON sc.item = t.item_c, nb
    )
    SELECT item_a, item_b, item_c, n_all, lift3,
           CAST(ROW_NUMBER() OVER (
             ORDER BY n_all DESC, item_a, item_b, item_c
           ) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 40
    """,
)
def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top recurring 3-item sets over order baskets with exact-ratio
    lift against full independence (operators/basket.
    market_basket_triples) — the Apriori level above pair mining;
    triple expansion stays bounded at C(|basket|,3) per order and the
    min-support filter runs before any support join."""
    from lakeapi_spark.operators.basket import market_basket_triples

    l = table(spark, sf_dir, "lineitem")
    return market_basket_triples(l, "l_orderkey", "l_partkey", min_support=2, top_n=40)


@register(
    "anomaly_value_zscore",
    """
    WITH m AS (
      SELECT event_type AS g, COUNT(value) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS ss
      FROM events GROUP BY 1
    ), scored AS (
      SELECT e.event_id, e.event_type, e.value,
             m.n, (m.ss - m.s * m.s / m.n) / (m.n - 1) AS var,
             ROUND((e.value - m.s / m.n) / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1)), 4) AS z
      FROM events e JOIN m ON m.g = e.event_type
    )
    SELECT event_id, event_type, value, z
    FROM scored WHERE n >= 2 AND var > 0 AND ABS(z) >= 3
    """,
)
def anomaly_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| >= 3) with decimal-exact
    moments, so the usually-run-dependent variance arithmetic is
    engine-reproducible. One shuffle (group moments); the fact stream
    is scored map-side against broadcast moments. See
    operators/stats.zscore_outliers."""
    from lakeapi_spark.operators.stats import zscore_outliers

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return zscore_outliers(e, "event_type", "value", threshold=3.0).select(
        "event_id", "event_type", "value", "z"
    )


@register(
    "oov_rate_docs",
    """
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS token
      FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    ), vc AS (
      SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    ), vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk FROM vc
      ) WHERE rnk <= 500
    )
    SELECT t.id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_frac
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.id
    """,
)
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage check: per-doc out-of-vocabulary fraction
    against the corpus top-500 vocabulary. See operators/text.oov_rate."""
    from lakeapi_spark.operators.text import oov_rate

    d = table(spark, sf_dir, "documents")
    return oov_rate(d, "doc_id", "text", vocab_size=500)


_HLL_RAW = (
    "0.7213/(1+1.079/256) * CAST(256*256 AS DOUBLE) * CAST(CAST(1 AS BIGINT) << 62 AS DOUBLE)"
    " / CAST(s_obs + CAST(256 - n_obs AS DECIMAL(38,0))"
    " * CAST(CAST(1 AS BIGINT) << 62 AS DECIMAL(38,0)) AS DOUBLE)"
)


@register(
    "hll_distinct_users",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST(concat('0x', substr(md5(concat('hll0:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv & 255 AS reg,
             CASE WHEN (hv >> 8) = 0 THEN 0 ELSE length(bin(hv >> 8)) END AS hb
      FROM h
    ), m AS (
      SELECT event_type, reg, MAX(52 - hb + 1) AS mx FROM r GROUP BY 1, 2
    ), a AS (
      SELECT event_type,
             SUM(CAST((CAST(1 AS BIGINT) << (62 - mx)) AS DECIMAL(38,0))) AS s_obs,
             COUNT(*) AS n_obs
      FROM m GROUP BY 1
    ), e AS (
      SELECT event_type, n_obs, {_HLL_RAW} AS raw FROM a
    ), est AS (
      SELECT event_type, n_obs AS n_regs_set,
             ROUND(CASE WHEN raw <= 2.5*256 AND (256 - n_obs) > 0
                        THEN 256.0 * LN(256.0 / CAST(256 - n_obs AS DOUBLE))
                        ELSE raw END, 2) AS n_est
      FROM e
    )
    SELECT est.event_type, est.n_regs_set, CAST(est.n_est AS DOUBLE) AS n_est, x.n_exact
    FROM est JOIN (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
    ) x USING (event_type)
    """,
    bench=True,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user cardinality from a 256-register
    HyperLogLog, alongside the exact count to exhibit the error bound
    (~6.5% at m=256). The register build is the only corpus-wide pass
    — one shuffle of <= groups * 256 rows, mergeable by construction.
    See operators/sketches.hll_build/hll_estimate."""
    from lakeapi_spark.operators.sketches import hll_build, hll_estimate

    e = table(spark, sf_dir, "events")
    est = hll_estimate(hll_build(e, "user_id", ("event_type",), b=8), ("event_type",), b=8)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_regs_set", F.col("n_est").cast("double").alias("n_est"), "n_exact"
    )


@register(
    "bloom_semi_prefilter",
    """
    WITH build AS (
      SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer WHERE c_nationkey < 2
    ), bits AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(concat('bloom7:', i, ':', key)), 1, 15)) AS BIGINT) % 1024 AS pos
      FROM build, (SELECT unnest([0, 1, 2]) AS i)
    ), probe AS (
      SELECT DISTINCT o_custkey AS key FROM orders
    ), hits AS (
      SELECT p.key,
             SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM (
        SELECT key, CAST(concat('0x', substr(md5(concat('bloom7:', i, ':', CAST(key AS VARCHAR))), 1, 15)) AS BIGINT) % 1024 AS pos
        FROM probe, (SELECT unnest([0, 1, 2]) AS i)
      ) p LEFT JOIN bits b USING (pos)
      GROUP BY 1
    ), truth AS (
      SELECT DISTINCT o_custkey AS key FROM orders o
      WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_nationkey < 2)
    )
    SELECT COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN h.n_hit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN t.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN h.n_hit = 3 AND t.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN h.n_hit < 3 AND t.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM hits h LEFT JOIN truth t USING (key)
    """,
)
def bloom_semi_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter demonstrated as a semi-join
    accelerant: bits built from a SMALL key set (customers of 2
    nations), the BIG side (distinct order custkeys) probed map-side
    against the broadcast bits; the summary proves the contract —
    false positives bounded, false negatives zero. At 100 TB the probe
    side never shuffles for the filter. See
    operators/sketches.bloom_build/bloom_probe."""
    from lakeapi_spark.operators.sketches import bloom_build, bloom_probe

    c = table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 2)
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key")).distinct()
    bits = bloom_build(c, "c_custkey", m_bits=1024, k=3)
    pr = bloom_probe(o, bits, "key", m_bits=1024, k=3)
    truth = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 2),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("is_true", F.lit(1))
    )
    return (
        pr.join(truth, "key", "left")
        .agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(F.col("bloom_pass").cast("long")).alias("n_pass"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0)).cast("long")).alias("n_true"),
            F.sum(
                (F.col("bloom_pass") & F.col("is_true").isNull()).cast("long")
            ).alias("n_false_pos"),
            F.sum(
                ((~F.col("bloom_pass")) & F.col("is_true").isNotNull()).cast("long")
            ).alias("n_false_neg"),
        )
    )


@register(
    "boilerplate_line_removal",
    r"""
    WITH toks AS (
      SELECT doc_id AS id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), lines AS (
      SELECT id, CAST(s / 8 AS BIGINT) AS pos, array_to_string(t[s+1 : s+8], ' ') AS line
      FROM (SELECT id, t, unnest(range(0, len(t), 8)) AS s FROM toks)
    ), nd AS (
      SELECT COUNT(*) AS n_docs FROM toks
    ), dfreq AS (
      SELECT line, COUNT(DISTINCT id) AS docs_with FROM lines GROUP BY 1
    ), flagged AS (
      SELECT l.id, l.pos, l.line, (d.docs_with * 100 <= 1 * nd.n_docs) AS keep
      FROM lines l JOIN dfreq d USING (line) CROSS JOIN nd
    )
    SELECT id, COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS kept_text
    FROM flagged GROUP BY id
    """,
)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-frequency boilerplate strip over pseudo-lines
    (8-token segments — the synthetic docs have no newlines, so line
    boundaries are injected identically in both engines; on a real
    crawl the operator runs on the document's own newlines). Lines
    occurring in more than 1% of docs are dropped and each doc is
    rebuilt in order. See operators/text.strip_boilerplate_lines."""
    from lakeapi_spark.operators.text import strip_boilerplate_lines, tokens

    d = table(spark, sf_dir, "documents").filter(F.col("text").rlike(r"[^ \t\n\x0B\f\r]"))
    t = tokens(F.col("text"))
    # stage the token array once (CollapseProject blocker), then inject
    # a newline every 8 tokens
    staged = d.select("doc_id", F.when(F.size(t) >= 0, t).alias("t"))
    lin = staged.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(8)),
                lambda s: F.array_join(F.slice(F.col("t"), s + 1, 8), " "),
            ),
            "\n",
        ).alias("lined"),
    )
    return strip_boilerplate_lines(
        lin, "doc_id", "lined", max_frac_num=1, max_frac_den=100
    )


def _clone_demo_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once SOURCE + SHALLOW CLONE pair for the clone query:
    source = orders subset (bucket-partitioned), DV-delete keys
    divisible by 5, then SHALLOW CLONE (metadata-only commit,
    absolute-path adds + 'u'->'p' DV rewrite). The CLONE then diverges:
    DV-delete status 'F' rows and append three sentinel rows — none of
    which may leak back into the source."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import clone_delta, delete_delta, write_delta

    root = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_clone_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    src, dst = os.path.join(root, "src"), os.path.join(root, "clone")
    marker = os.path.join(root, "_clone_done")
    if not os.path.exists(marker):
        if os.path.isdir(root):
            shutil.rmtree(root)
        os.makedirs(root)
        base = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(base, src, mode="append", partition_by=["bucket"])
        delete_delta(spark, src, "o_orderkey % 5 = 0")
        clone_delta(spark, src, dst)
        delete_delta(spark, dst, "o_orderstatus = 'F'")
        extra = spark.createDataFrame(
            [(900000001, "X"), (900000002, "X"), (900000003, "X")],
            "o_orderkey long, o_orderstatus string",
        ).withColumn("bucket", (F.col("o_orderkey") % 4).cast("string"))
        write_delta(extra, dst, mode="append", partition_by=["bucket"])
        with open(marker, "w") as f:
            f.write("ok")
    return src, dst


@register(
    "delta_clone_shallow",
    """
    WITH live AS (
      SELECT o_orderkey, o_orderstatus, CAST(o_orderkey % 4 AS VARCHAR) AS bucket
      FROM orders WHERE o_orderkey % 5 <> 0
    ), clone_rows AS (
      SELECT o_orderkey, bucket FROM live WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT * FROM (VALUES (900000001, '1'), (900000002, '2'), (900000003, '3'))
        v(o_orderkey, bucket)
    ), src_side AS (
      SELECT 'source' AS side, bucket, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM live GROUP BY 2
    ), clone_side AS (
      SELECT 'clone' AS side, bucket, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM clone_rows GROUP BY 2
    )
    SELECT * FROM src_side UNION ALL SELECT * FROM clone_side
    """,
)
def delta_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE divergence proof: per-bucket summaries of the
    source AND its mutated clone in one result — the clone sees
    absolute-path source files minus its own DV deletes plus its own
    appends; the source is untouched by any of it. Exercises
    cross-root reads, 'u'->'p' DV rewrite, clone-local DVs, and a
    metadata-only 100 TB copy. See sources/delta.py:clone_delta."""
    from lakeapi_spark.sources.readers import read_source

    src, dst = _clone_demo_tables(spark, sf_dir)

    def side(path: str, name: str) -> DataFrame:
        return (
            read_source(spark, path, "delta")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("o_orderkey").alias("sum_key"))
            .select(F.lit(name).alias("side"), "bucket", "n_rows", "sum_key")
        )

    return side(src, "source").unionByName(side(dst, "clone"))


@register(
    "weighted_sample_orders",
    """
    SELECT o_orderkey, sample_key
    FROM (
      SELECT o_orderkey,
             ROUND(
               LN((CAST(CAST(concat('0x', substr(md5(concat('aes0:', CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                  / 1152921504606846976.0)
               / CAST(o_totalprice AS DOUBLE), 9) + 0.0 AS sample_key
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    )
    ORDER BY sample_key DESC, o_orderkey
    LIMIT 200
    """,
    bench=True,
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement: 200
    orders drawn with probability proportional to o_totalprice, fully
    deterministic (hash-derived randomness) and executed as a global
    top-k (TakeOrderedAndProject — per-partition heaps, no full sort).
    See operators/sampling.weighted_sample_aes."""
    from lakeapi_spark.operators.sampling import weighted_sample_aes

    o = table(spark, sf_dir, "orders")
    return weighted_sample_aes(o, "o_orderkey", "o_totalprice", k=200).select(
        "o_orderkey", "sample_key"
    )


@register(
    "multimodal_wav_decode",
    """
    WITH ids AS (SELECT doc_id AS id FROM documents),
    s AS (
      SELECT id, ((id * 31 + i * 17) % 2001) - 1000 AS v
      FROM (SELECT id, unnest(range(0, 64 + id % 64)) AS i FROM ids)
    )
    SELECT id, TRUE AS valid, COUNT(*) AS n_frames,
           CAST(SUM(CAST(v * v AS BIGINT)) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           CAST(ROUND(SQRT(CAST(SUM(CAST(v * v AS BIGINT)) AS DOUBLE) / COUNT(*)), 6) AS DOUBLE) AS rms
    FROM s GROUP BY id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize complete PCM WAV files
    (JVM hex assembly), parse them back byte-level in an Arrow kernel
    (RIFF chunk walk + s16le frames), and verify energy/peak against
    the analytic waveform. rms is computed JVM-side from the kernel's
    exact integers so ROUND semantics match the oracle. See
    operators/multimodal.attach_pcm_wav_payload/wav_decode_samples."""
    from lakeapi_spark.operators.multimodal import (
        attach_pcm_wav_payload,
        wav_decode_samples,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    dec = wav_decode_samples(attach_pcm_wav_payload(d, "doc_id"))
    return dec.select(
        "id",
        "valid",
        "n_frames",
        "sum_sq",
        "peak",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_frames")), 6
        ).alias("rms"),
    )


@register(
    "triangle_count_copurchase",
    """
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
    deg AS (
      SELECT x, COUNT(*) AS d
      FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1
    ), o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v) THEN e.v ELSE e.u END AS b
      FROM e JOIN deg da ON da.x = e.u JOIN deg db ON db.x = e.v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM o o1
              JOIN o o2 ON o2.a = o1.b
              JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b) AS n_triangles
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are
    adjacent when some order contains both). Degree orientation bounds
    the wedge join's fan-out at O(sqrt(m)) per node — the skew-proof
    plan shape for clustering-coefficient work at 100 TB. See
    operators/graph.triangle_count."""
    from lakeapi_spark.operators.graph import triangle_count

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    return triangle_count(edges)


@register(
    "weighted_sample_per_lang",
    """
    SELECT lang, doc_id, sample_rank
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS sample_rank
      FROM (
        SELECT lang, doc_id,
               ROUND(
                 LN((CAST(CAST(concat('0x', substr(md5(concat('aes0:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                    / 1152921504606846976.0)
                 / CAST(n_chars AS DOUBLE), 9) + 0.0 AS sample_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
      )
    )
    WHERE sample_rank <= 25
    """,
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sampling without replacement: 25 docs per
    lang drawn with probability proportional to n_chars — the balanced
    corpus-construction primitive (language quota + quality weighting
    in one deterministic pass). See
    operators/sampling.weighted_sample_aes_grouped."""
    from lakeapi_spark.operators.sampling import weighted_sample_aes_grouped

    d = table(spark, sf_dir, "documents")
    return weighted_sample_aes_grouped(
        d, "doc_id", "n_chars", "lang", k=25
    ).select("lang", "doc_id", "sample_rank")


@register(
    "random_projection_jl",
    """
    WITH ex AS (
      SELECT vec_id AS id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    ), ex2 AS (
      SELECT id, i, v, unnest(range(0, 8)) AS j FROM ex
    ), signed AS (
      SELECT id, j,
             v * (CASE WHEN CAST(concat('0x', substr(md5(concat('rp0:', CAST(j AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0
                       THEN 1.0 ELSE -1.0 END)
               * 0.35355339059327373 AS term
      FROM ex2
    )
    SELECT id, j,
           CAST(ROUND(CAST(SUM(CAST(term AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0 AS DOUBLE) AS val
    FROM signed GROUP BY id, j
    """,
)
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64->8 dim reduction with a hash-derived
    Rademacher matrix, exploded (id, j, val) form. See
    operators/similarity.random_projection."""
    from lakeapi_spark.operators.similarity import random_projection

    e = table(spark, sf_dir, "embeddings")
    return random_projection(e, "vec_id", "embedding", out_dim=8)


@register(
    "winsorized_event_values",
    """
    WITH p AS (
      SELECT event_type AS g,
             quantile_cont(value, 0.05) AS plo,
             quantile_cont(value, 0.95) AS phi
      FROM events GROUP BY 1
    )
    SELECT e.event_type, COUNT(e.value) AS n,
           CAST(SUM(CASE WHEN e.value < p.plo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > p.phi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           CAST(ROUND(CAST(SUM(CAST(ROUND(e.value, 6) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(e.value), 4) AS DOUBLE) AS mean_raw,
           CAST(ROUND(CAST(SUM(CAST(ROUND(LEAST(GREATEST(e.value, p.plo), p.phi), 6) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(e.value), 4) AS DOUBLE) AS mean_wins
    FROM events e JOIN p ON p.g = e.event_type
    GROUP BY e.event_type
    """,
)
def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean vs raw mean with clip counts —
    robust aggregation under outliers. See
    operators/stats.winsorized_stats."""
    from lakeapi_spark.operators.stats import winsorized_stats

    e = table(spark, sf_dir, "events").select("event_type", "value")
    return winsorized_stats(e, "event_type", "value", 0.05, 0.95)


@register(
    "session_paths_topk",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS BIGINT) AS rank
    FROM paths GROUP BY path
    QUALIFY rank <= 20
    """,
)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session event-type paths (30-minute gap sessions): the
    'what do users actually do' sequence census behind funnel design.
    Sessionization reuses the windows operator; paths are rebuilt in
    (ts, event_id) order so ties are deterministic. Two keyed window
    passes + one path aggregate; the final top-k is a 20-row
    TakeOrdered."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.windows import sessionize

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    s = sessionize(e, "ts", "user_id", 1800, "event_id")
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda r: r["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    # TakeOrdered bounds the distinct-path relation to 20 rows BEFORE
    # the single-partition rank window ever runs — the global window is
    # over a constant-size input at any corpus size
    top = counted.orderBy(F.col("n_sessions").desc(), F.col("path")).limit(20)
    return top.select(
        "path",
        "n_sessions",
        F.row_number()
        .over(Window.orderBy(F.col("n_sessions").desc(), F.col("path")))
        .alias("rank"),
    )


@register(
    "scd2_order_priority_history",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             CASE WHEN ROW_NUMBER() OVER w = 1
                       OR o_orderpriority IS DISTINCT FROM LAG(o_orderpriority) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), ver AS (
      SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      FROM ordered
    ), agg AS (
      SELECT o_custkey, version, MIN(o_orderpriority) AS attr_value,
             CAST(MIN(floor(epoch(o_orderdate))) AS BIGINT) AS valid_from,
             COUNT(*) AS n_obs
      FROM ver GROUP BY 1, 2
    )
    SELECT o_custkey, version, attr_value, valid_from,
           LEAD(valid_from) OVER wv AS valid_to,
           LEAD(valid_from) OVER wv IS NULL AS is_current,
           n_obs
    FROM agg
    WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
    """,
)
def scd2_order_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: each customer's order-priority
    observation stream collapsed into half-open validity ranges with an
    is_current flag — the lakehouse dimension-maintenance primitive
    (operators/windows.scd2_collapse; one exchange on the key covers
    both window passes and the version aggregate)."""
    from lakeapi_spark.operators.windows import scd2_collapse

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
    )
    return scd2_collapse(o, "o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey")


@register(
    "asof_click_after_purchase_15m",
    """
    WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT l.event_id, l.user_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_s,
           CASE WHEN floor(epoch(r.ts)) - floor(epoch(l.ts)) <= 900
                THEN CAST(floor(epoch(r.ts)) AS BIGINT) END AS click_ts_s,
           CASE WHEN floor(epoch(r.ts)) - floor(epoch(l.ts)) <= 900
                THEN r.value END AS click_value
    FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    WHERE l.event_type = 'purchase'
    """,
)
def asof_click_after_purchase_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: for every purchase, the user's
    FIRST click at-or-after it, kept only when it lands within 15
    minutes (post-purchase engagement attribution). DuckDB's native
    forward ASOF is the oracle; ours is the descending union+window
    plan (operators/joins.asof_join_forward, one shuffle on user_id)."""
    from lakeapi_spark.operators.joins import asof_join_forward

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join_forward(
        purchases, clicks, "ts", ["user_id"], ["value"],
        tolerance_s=900, payload_prefix="click_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
        F.floor(F.unix_timestamp("click_ts")).cast("long").alias("click_ts_s"),
        F.col("click_value"),
    )


@register(
    "mad_outlier_events",
    """
    WITH med AS (
      SELECT event_type AS g, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.g
    ), mad AS (
      SELECT event_type AS g, MIN(med) AS med, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT event_id, event_type, value, robust_z FROM (
      SELECT e.event_id, e.event_type, e.value,
             ROUND(0.6745 * ABS(e.value - m.med) / m.mad + 0.0, 4) AS robust_z
      FROM events e JOIN mad m ON e.event_type = m.g
      WHERE m.mad > 0
    ) WHERE robust_z >= 3.5
    """,
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type — the robust
    outlier gate a single extreme value can't hide from (unlike σ in a
    z-test). operators/stats.mad_outliers: two holistic group
    percentiles broadcast back, fact stream scored map-side."""
    from lakeapi_spark.operators.stats import mad_outliers

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(e, "event_type", "value", k=3.5)


@register(
    "psi_event_value_drift",
    """
    WITH ep AS (
      SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ), sp AS (
      SELECT CAST(FLOOR((MIN(es) + MAX(es)) / 2) AS BIGINT) AS s FROM ep
    ), base AS (
      SELECT event_type, value FROM ep, sp WHERE es < sp.s
    ), cur AS (
      SELECT event_type, value FROM ep, sp WHERE es >= sp.s
    ), bounds AS (
      SELECT event_type AS g, MIN(value) AS mn, MAX(value) AS mx
      FROM base GROUP BY 1
    ), bb AS (
      SELECT b.g,
             LEAST(GREATEST(CAST(FLOOR((t.value - b.mn) / ((b.mx - b.mn) / 10)) AS INT), 0), 9) AS bin,
             COUNT(*) AS nb
      FROM base t JOIN bounds b ON t.event_type = b.g WHERE b.mx > b.mn GROUP BY 1, 2
    ), cb AS (
      SELECT b.g,
             LEAST(GREATEST(CAST(FLOOR((t.value - b.mn) / ((b.mx - b.mn) / 10)) AS INT), 0), 9) AS bin,
             COUNT(*) AS nc
      FROM cur t JOIN bounds b ON t.event_type = b.g WHERE b.mx > b.mn GROUP BY 1, 2
    ), tot AS (
      SELECT tb.g, tb.tb, tc.tc FROM (SELECT g, SUM(nb) AS tb FROM bb GROUP BY 1) tb
      JOIN (SELECT g, SUM(nc) AS tc FROM cb GROUP BY 1) tc ON tb.g = tc.g
    ), spine AS (
      SELECT tot.g, tot.tb, tot.tc, r.bin FROM tot
      CROSS JOIN (SELECT UNNEST(range(0, 10)) AS bin) r
    ), terms AS (
      SELECT s.g, s.tb, s.tc,
             (CAST(COALESCE(bb.nb, 0) AS DOUBLE) + 0.5) / (s.tb + 5.0) AS p,
             (CAST(COALESCE(cb.nc, 0) AS DOUBLE) + 0.5) / (s.tc + 5.0) AS q
      FROM spine s
      LEFT JOIN bb ON bb.g = s.g AND bb.bin = s.bin
      LEFT JOIN cb ON cb.g = s.g AND cb.bin = s.bin
    ), core AS (
      SELECT g, ROUND(SUM((p - q) * LN(p / q)) + 0.0, 4) AS psi
      FROM terms GROUP BY 1
    ), gb AS (
      SELECT event_type AS g, COUNT(*) AS n_base FROM base GROUP BY 1
    ), gc AS (
      SELECT event_type AS g, COUNT(*) AS n_cur FROM cur GROUP BY 1
    )
    SELECT gb.g AS event_type, core.psi,
           CAST(gb.n_base AS BIGINT) AS n_base,
           CAST(COALESCE(gc.n_cur, 0) AS BIGINT) AS n_cur
    FROM gb LEFT JOIN gc ON gb.g = gc.g LEFT JOIN core ON gb.g = core.g
    """,
)
def psi_event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type, first half vs second half of the stream's time range — the
    standard drift gate before a data/model refresh
    (operators/stats.psi_drift: baseline-anchored equal-width bins,
    Laplace smoothing, counts-only shuffles)."""
    from lakeapi_spark.operators.stats import psi_drift

    e = table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_timestamp("ts").cast("long").alias("_es")
    )
    b = e.agg(
        F.floor((F.min("_es") + F.max("_es")) / 2).cast("long").alias("_split")
    )
    w = e.crossJoin(F.broadcast(b))
    base = w.filter(F.col("_es") < F.col("_split")).select("event_type", "value")
    cur = w.filter(F.col("_es") >= F.col("_split")).select("event_type", "value")
    return psi_drift(base, cur, "event_type", "value", n_bins=10)


@register(
    "fk_integrity_audit",
    """
    SELECT 'orders->customer' AS relationship, COUNT(*) AS n_child,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    FROM orders
    UNION ALL
    SELECT 'lineitem->orders', COUNT(*),
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    FROM lineitem
    UNION ALL
    SELECT 'lineitem->part', COUNT(*),
           CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    FROM lineitem
    UNION ALL
    SELECT 'lineitem->even_supplier', COUNT(*),
           CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey % 2 = 0 AND s.s_suppkey = l.l_suppkey))
    FROM lineitem
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep: orphaned-FK counts per declared
    relationship (operators/stats.orphan_counts; anti-join per pair
    against the parent's distinct keys). The last relationship audits
    against an intentionally-restricted parent (even supplier keys) so
    a NONZERO orphan path is exercised, not just the happy path."""
    from lakeapi_spark.operators.stats import orphan_counts

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    return orphan_counts([
        ("orders->customer", o, "o_custkey", c, "c_custkey"),
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        ("lineitem->part", li, "l_partkey", p, "p_partkey"),
        (
            "lineitem->even_supplier",
            li,
            "l_suppkey",
            s.filter(F.col("s_suppkey") % 2 == 0),
            "s_suppkey",
        ),
    ])


@register(
    "lang_temperature_weights",
    """
    WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    t AS (SELECT SUM(n_docs) AS tot,
                 CAST(SUM(CAST(POW(n_docs, 0.3) AS DECIMAL(28,10))) AS DOUBLE) AS tp
          FROM c)
    SELECT lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / tot + 0.0, 6) AS p_raw,
           ROUND(POW(n_docs, 0.3) / tp + 0.0, 6) AS p_temp,
           ROUND((POW(n_docs, 0.3) / tp) / (CAST(n_docs AS DOUBLE) / tot) + 0.0, 4)
               AS upsample
    FROM c, t
    """,
)
def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights (the XLM-R
    alpha=0.3 recipe): p_temp ∝ p_raw^0.3 flattens the language
    distribution so low-resource languages are upsampled; ``upsample``
    is the resulting per-language duplication factor. One tiny groupBy
    plus a broadcast 1-row total — nothing driver-side."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("_tot"),
        F.sum(F.pow(F.col("n_docs"), F.lit(0.3)).cast("decimal(28,10)"))
        .cast("double")
        .alias("_tp"),
    )
    j = c.crossJoin(F.broadcast(t))
    p = F.col("n_docs").cast("double") / F.col("_tot")
    q = F.pow(F.col("n_docs"), F.lit(0.3)) / F.col("_tp")
    return j.select(
        "lang",
        "n_docs",
        F.round(p + 0.0, 6).alias("p_raw"),
        F.round(q + 0.0, 6).alias("p_temp"),
        F.round(q / p + 0.0, 4).alias("upsample"),
    )


@register(
    "token_budget_head",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS tk
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), s AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             ROUND(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS quality
      FROM t
    ), c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
      FROM s
    )
    SELECT doc_id, quality, n_tokens, cum_weight FROM c WHERE cum_weight <= 10000
    """,
)
def token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection: keep the
    highest-unique-token-ratio documents until a 10k-token budget is
    spent — the curriculum/cut step of a data pipeline. The global
    running sum is the DISTRIBUTED two-pass prefix sum of
    operators/sampling.budget_select (bucketed by score quantiles, no
    single-partition window), oracle'd against DuckDB's global
    window."""
    from lakeapi_spark.operators.sampling import budget_select

    d = table(spark, sf_dir, "documents").filter(F.col("text").rlike(r"[^ \t\n\x0B\f\r]"))
    tk = F.split(
        F.regexp_replace(F.lower(F.col("text")), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+"
    )
    s = d.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(tk)).cast("double") / F.size(tk), 6
        ).alias("quality"),
    )
    out = budget_select(s, "doc_id", "quality", "n_tokens", budget=10000)
    return out.select("doc_id", "quality", "n_tokens", "cum_weight")


@register(
    "split_leakage_audit",
    f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    )
    SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: near-duplicate document pairs
    (exact bigram Jaccard >= 0.2, the dedup_ngram_jaccard machinery)
    that STRADDLE a hash-based 80/20 train/eval split — each one is an
    eval document whose twin leaked into training. The pair relation
    is the bounded candidate set; split labels join on after."""
    from lakeapi_spark.operators.dedup import ngram_jaccard_pairs
    from lakeapi_spark.operators.sampling import key_hash

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2)
    split = F.when(key_hash(F.col("doc_id")) % 10 < 8, "train").otherwise("eval")
    sp = d.select("doc_id", split.alias("split"))
    return (
        pairs.join(sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


def _imv_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once delta table for the incremental-view-maintenance
    query: v0 = orders subset (key, status, price, bucket) with CDF
    enabled; v1 = UPDATE flipping status to 'U' where key % 53 == 0
    (precise pre/post images in _change_data); v2 = append of new 'N'
    rows where key % 97 == 1. Deterministic function of orders, so
    DuckDB re-derives the final state from first principles."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import update_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_delta_imv_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    marker = os.path.join(dest, "_imv_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        o = table(spark, sf_dir, "orders")
        base = o.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(
            base,
            dest,
            mode="append",
            partition_by=["bucket"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        update_delta(spark, dest, {"o_orderstatus": "'U'"}, "o_orderkey % 53 = 0")
        appended = o.filter(F.col("o_orderkey") % 97 == 1).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice"),
            (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
        )
        write_delta(appended, dest, mode="append", partition_by=["bucket"])
        with open(marker, "w") as f:
            f.write("v2\n")
    return dest


@register(
    "delta_incremental_agg_refresh",
    """
    WITH final_state AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 53 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice, CAST(o_orderkey % 4 AS VARCHAR) AS bucket
      FROM orders
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', o_totalprice,
             CAST(o_orderkey % 4 AS VARCHAR)
      FROM orders WHERE o_orderkey % 97 = 1
    )
    SELECT bucket, o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
               AS sum_price
    FROM final_state GROUP BY 1, 2
    """,
)
def delta_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the (bucket, status)
    COUNT/SUM aggregate materialized at delta v0 is brought up to date
    by consuming ONLY the change feed of v1 (CDF update with pre/post
    images) and v2 (append) — operators/incremental.py. The oracle is
    a from-scratch recompute of the final state: DECIMAL accumulation
    makes incremental == full to the last bit, which is the property
    that lets a 100 TB table maintain its rollups at churn cost."""
    from lakeapi_spark.operators.incremental import cdf_agg_delta, refresh_agg
    from lakeapi_spark.sources.delta import delta_changes
    from lakeapi_spark.sources.readers import read_source

    dest = _imv_demo_table(spark, sf_dir)
    v0 = read_source(spark, dest, "delta", {"versionAsOf": "0"})
    agg0 = v0.groupBy("bucket", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("double").cast("decimal(28,10)")).alias(
            "sum_o_totalprice"
        ),
    )
    ch = delta_changes(spark, dest, 0, None)
    d = cdf_agg_delta(ch, ["bucket", "o_orderstatus"], ["o_totalprice"])
    ref = refresh_agg(
        agg0, d, ["bucket", "o_orderstatus"], "n", ["o_totalprice"]
    )
    return ref.select(
        "bucket",
        "o_orderstatus",
        "n",
        F.round(F.col("sum_o_totalprice"), 2).cast("double").alias("sum_price"),
    )


@register(
    "twap_event_value",
    """
    WITH stamped AS (
      SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             LEAD(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts) AS nxt
      FROM events
    ), terms AS (
      SELECT user_id, value, nxt - es AS dur FROM stamped WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(ROUND(CAST(SUM(CAST(value * dur AS DECIMAL(28,10))) AS DOUBLE)
                      / SUM(dur) + 0.0, 4) AS DOUBLE) AS twap_value,
           CAST(SUM(dur) AS BIGINT) AS duration_s,
           COUNT(*) AS n_obs
    FROM terms GROUP BY user_id HAVING SUM(dur) > 0
    """,
)
def twap_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user — each value holds
    until the user's next event, so bursts don't over-count (the
    TWAP/uptime aggregation; operators/windows.twap, one exchange for
    the lead window AND the aggregate)."""
    from lakeapi_spark.operators.windows import twap

    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return twap(e, "ts", "user_id", "value")


@register(
    "token_entropy_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+')) AS tok
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
    ), cnt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(ROUND(LOG2(CAST(SUM(c) AS DOUBLE))
                      - CAST(SUM(CAST(c * LOG2(CAST(c AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE)
                        / SUM(c) + 0.0, 4) AS DOUBLE) AS entropy
    FROM cnt GROUP BY doc_id
    """,
)
def token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each document's token distribution —
    the repetition/diversity quality signal (low entropy = a few
    tokens dominate; boilerplate and keyword-stuffed docs score low).
    Identity used: H = log2(n) − Σ c·log2(c) / n, with the Σ term in
    DECIMAL for order-independent engine-exact sums. Explode, two
    keyed aggregates — doc-partitioned throughout."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").rlike(r"[^ \t\n\x0B\f\r]"))
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.col("text")), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""),
                r"[ \t\n\x0B\f\r]+",
            )
        ).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                (F.col("c") * F.log2(F.col("c").cast("double"))).cast("decimal(28,10)")
            ).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("_s").cast("double") / F.col("n_tokens")
                + 0.0,
                4,
            ).alias("entropy"),
        )
    )


@register(
    "dedup_keep_best",
    r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]')
      UNION ALL
      SELECT doc_id + 1000000, text || '  '
      FROM documents WHERE regexp_matches(text, '[^ \t\n\x0B\f\r]') AND doc_id % 7 = 0
    ), scored AS (
      SELECT doc_id, text,
             ROUND(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS DOUBLE) / 1000, 6) AS quality
      FROM aug
    ), ranked AS (
      SELECT doc_id, quality,
             md5(regexp_replace(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fingerprint
      FROM scored
    )
    SELECT fingerprint, keeper_id, keeper_score, n_dups FROM (
      SELECT fingerprint,
             FIRST(doc_id ORDER BY quality DESC, doc_id ASC) AS keeper_id,
             MAX(quality) AS keeper_score,
             COUNT(*) AS n_dups
      FROM ranked GROUP BY 1
    ) WHERE n_dups > 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the highest-QUALITY duplicate instead of
    the lowest id — what a pipeline wants when duplicate extractions
    differ in upstream cleanliness
    (operators/dedup.best_dedup_keepers, one max_by shuffle). The
    corpus has no exact duplicates, so the query injects them
    deterministically: every 7th doc reappears under a shifted id with
    whitespace-mutated text (normalizes identically) and a
    hash-derived per-row extraction-quality score decides the
    keeper."""
    from lakeapi_spark.operators.dedup import best_dedup_keepers
    from lakeapi_spark.operators.sampling import key_hash

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").rlike(r"[^ \t\n\x0B\f\r]"))
        .select("doc_id", "text")
    )
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("  ")).alias("text"),
    )
    scored = d.unionByName(dup).withColumn(
        "quality",
        F.round((key_hash(F.col("doc_id")) % 1000).cast("double") / 1000, 6),
    )
    return best_dedup_keepers(scored, "doc_id", "text", "quality").filter(
        F.col("n_dups") > 1
    )


# ---------------------------------------------------------------------------
# Profiling / statistics extensions (round 8): shuffle-key skew report,
# Benford first-digit audit, per-group OLS trend, exact Pearson matrix
# ---------------------------------------------------------------------------


@register(
    "key_skew_report",
    """
    WITH c AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1
    ), t AS (
      SELECT SUM(n) AS tot, COUNT(*) AS nk FROM c
    )
    SELECT l_suppkey, n,
           CAST(ROUND(n * 100.0 / tot, 4) AS DOUBLE) + 0.0 AS share_pct,
           CAST(ROUND(n * nk / tot, 4) AS DOUBLE) + 0.0 AS skew_factor
    FROM c, t
    ORDER BY n DESC, l_suppkey
    LIMIT 15
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for lineitem's supplier join key:
    top keys by row count with table share and skew factor (count over
    mean count). The pre-flight check before choosing broadcast vs
    salt vs AQE for any join on this key. See
    operators/skew.key_skew_report (one partial-agg shuffle + a
    broadcast 1-row summary + TakeOrdered top-k)."""
    from lakeapi_spark.operators.skew import key_skew_report as skew_report

    li = table(spark, sf_dir, "lineitem").select("l_suppkey")
    return skew_report(li, ["l_suppkey"], top=15)


@register(
    "benford_price_audit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
    ), t AS (
      SELECT SUM(n) AS tot FROM c
    )
    SELECT digit, n,
           CAST(ROUND(n * 100.0 / tot, 4) AS DOUBLE) + 0.0 AS obs_pct,
           CAST(CASE digit WHEN 1 THEN 30.103 WHEN 2 THEN 17.6091 WHEN 3 THEN 12.4939
                      WHEN 4 THEN 9.691 WHEN 5 THEN 7.9181 WHEN 6 THEN 6.6947
                      WHEN 7 THEN 5.799 WHEN 8 THEN 5.1153 ELSE 4.5757 END AS DOUBLE) AS exp_pct,
           CAST(ROUND(ABS(CAST(ROUND(n * 100.0 / tot, 4) AS DOUBLE) + 0.0
                          - (CASE digit WHEN 1 THEN 30.103 WHEN 2 THEN 17.6091 WHEN 3 THEN 12.4939
                                        WHEN 4 THEN 9.691 WHEN 5 THEN 7.9181 WHEN 6 THEN 6.6947
                                        WHEN 7 THEN 5.799 WHEN 8 THEN 5.1153 ELSE 4.5757 END)), 4) AS DOUBLE) + 0.0 AS abs_dev
    FROM c, t
    ORDER BY digit
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of l_extendedprice against
    Benford's law — the fabricated-data / unit-mixing smell test. The
    digit is extracted via exact integer rendering (scale 100 for a
    2-decimal money column), never log10, so both engines derive it
    identically. See operators/stats.benford_audit."""
    from lakeapi_spark.operators.stats import benford_audit

    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return benford_audit(li, "l_extendedprice", scale=100)


@register(
    "trend_monthly_revenue_nation",
    """
    WITH monthly AS (
      SELECT n_name,
             (CAST(year(o_orderdate) AS BIGINT) - 1992) * 12 + month(o_orderdate) - 1 AS month_idx,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), m AS (
      SELECT n_name, COUNT(*) AS n_pts,
             SUM(month_idx) AS sx, SUM(month_idx * month_idx) AS sxx,
             CAST(SUM(CAST(rev AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(month_idx * rev AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM monthly GROUP BY 1
    )
    SELECT n_name, n_pts,
           CAST(ROUND((n_pts * sxy - sx * sy) / CAST(n_pts * sxx - sx * sx AS DOUBLE), 6) AS DOUBLE) + 0.0 AS slope,
           CAST(ROUND((sy - ((n_pts * sxy - sx * sy) / CAST(n_pts * sxx - sx * sx AS DOUBLE)) * sx) / n_pts, 6) AS DOUBLE) + 0.0 AS intercept
    FROM m
    WHERE n_pts * sxx - sx * sx <> 0
    """,
)
def trend_monthly_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend line of monthly order revenue — 'which
    markets are growing' as a closed-form slope/intercept from
    decimal-exact sums (operators/stats.ols_trend). Plan: customer
    joins shuffle once, nation broadcasts, the monthly rollup is one
    partial-agg shuffle, and the trend fit adds one |nations|-row
    aggregation."""
    from lakeapi_spark.operators.stats import ols_trend

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    month_idx = (
        (F.year("o_orderdate").cast("long") - 1992) * 12 + F.month("o_orderdate") - 1
    )
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", month_idx.alias("month_idx"))
        .agg(money_sum(dec("o_totalprice")).alias("rev"))
    )
    return ols_trend(monthly, ["n_name"], "month_idx", "rev")


@register(
    "corr_lineitem_measures",
    """
    WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sx1,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sy1,
        CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sxx1,
        CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS syy1,
        CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sxy1,
        CAST(SUM(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) AS sx2,
        CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,10))) AS DOUBLE) AS sxx2,
        CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sxy2
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n AS n_rows,
      CASE WHEN n * sxx1 - sx1 * sx1 > 0 AND n * syy1 - sy1 * sy1 > 0
           THEN CAST(ROUND((n * sxy1 - sx1 * sy1) / sqrt((n * sxx1 - sx1 * sx1) * (n * syy1 - sy1 * sy1)), 4) AS DOUBLE) + 0.0
      END AS corr_qty_price,
      CASE WHEN n * sxx2 - sx2 * sx2 > 0 AND n * syy1 - sy1 * sy1 > 0
           THEN CAST(ROUND((n * sxy2 - sx2 * sy1) / sqrt((n * sxx2 - sx2 * sx2) * (n * syy1 - sy1 * sy1)), 4) AS DOUBLE) + 0.0
      END AS corr_disc_price
    FROM m
    """,
)
def corr_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-returnflag Pearson correlations (quantity vs price,
    discount vs price) in ONE aggregation pass — the
    feature-redundancy profiling step. Moments accumulate in DECIMAL
    (order-independent), the closed form runs in double: engine-exact,
    unlike F.corr whose float summation order floats with
    partitioning. See operators/stats.pearson_corr."""
    from lakeapi_spark.operators.stats import pearson_corr

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    return pearson_corr(
        li,
        ["l_returnflag"],
        [
            ("l_quantity", "l_extendedprice", "corr_qty_price"),
            ("l_discount", "l_extendedprice", "corr_disc_price"),
        ],
    )


@register(
    "events_gapfill_linear",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS hour_value
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM a GROUP BY user_id
    ), spine AS (
      SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket FROM bounds
    ), j AS (
      SELECT s.user_id, s.bucket, a.hour_value
      FROM spine s LEFT JOIN a ON a.user_id = s.user_id AND a.bucket = s.bucket
    ), g AS (
      SELECT user_id, bucket, hour_value,
             COUNT(hour_value) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS gp,
             COUNT(hour_value) OVER (
               PARTITION BY user_id ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS gn
      FROM j
    ), br AS (
      SELECT user_id, bucket, hour_value,
             MAX(hour_value) OVER (PARTITION BY user_id, gp) AS pv,
             MIN(bucket) OVER (PARTITION BY user_id, gp) AS pb,
             MAX(hour_value) OVER (PARTITION BY user_id, gn) AS nv,
             MAX(bucket) OVER (PARTITION BY user_id, gn) AS nb
      FROM g
    ), ints AS (
      SELECT user_id, bucket, hour_value,
             CAST(ROUND(pv * 100, 0) AS BIGINT) AS pvc,
             CAST(ROUND(nv * 100, 0) AS BIGINT) AS nvc,
             bucket - pb AS k, nb - pb AS m
      FROM br
    ), r AS (
      SELECT user_id, bucket, hour_value,
             CASE WHEN m > 0
                  THEN (2 * (pvc * (m - k) + nvc * k) * 100 + m) // (2 * m)
             END AS r4
      FROM ints
    )
    SELECT user_id, bucket, hour_value IS NULL AS is_gap,
           (CASE WHEN hour_value IS NOT NULL THEN hour_value
                 ELSE CAST(r4 AS DOUBLE) / 10000 END) + 0.0 AS filled_value
    FROM r
    """,
)
def events_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill of the hourly per-user value
    series — the resample step when a step function (LOCF) would bias
    a downstream rate model. Interior gaps take the straight line
    between their bracketing observations; the spine guarantees every
    gap is interior. See operators/windows.gapfill_linear."""
    from lakeapi_spark.operators.windows import gapfill_linear

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return gapfill_linear(
        e, "ts", "user_id", 3600, money_sum(dec("value")), "hour_value"
    )


# ---------------------------------------------------------------------------
# Sketch set-algebra, corpus novelty, KS drift (round 8 batch)
# ---------------------------------------------------------------------------


@register(
    "kmv_distinct_users_by_type",
    """
    WITH d AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(concat('kmv0:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM events
    ), r AS (
      SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
      FROM d QUALIFY r <= 64
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                           ELSE 63.0 * 1152921504606846976.0 / CAST(MAX(CASE WHEN r = 64 THEN h END) AS DOUBLE) END, 2) AS DOUBLE) + 0.0 AS n_est
    FROM r GROUP BY event_type
    """,
)
def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a k=64 KMV bottom-k
    sketch — the mergeable alternative to HLL whose hash sets also
    support intersections (see kmv_overlap_viewers_buyers). Build is
    one dedup shuffle + a fan-bucketed exact bottom-k (no task ever
    ranks a corpus-sized set); estimate is sketch-sized. See
    operators/sketches.kmv_build."""
    from lakeapi_spark.operators.sketches import kmv_build, kmv_estimate

    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_build(e, "user_id", ("event_type",), k=64)
    return kmv_estimate(sk, ("event_type",), k=64)


@register(
    "kmv_overlap_viewers_buyers",
    """
    WITH da AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv0:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = 'view'
    ), ra AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r FROM da QUALIFY r <= 64
    ), db AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv0:', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), rb AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r FROM db QUALIFY r <= 64
    ), m AS (
      SELECT COALESCE(ra.h, rb.h) AS h,
             CASE WHEN ra.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
             CASE WHEN rb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
      FROM ra FULL JOIN rb ON ra.h = rb.h
    ), rk AS (
      SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS r FROM m QUALIFY r <= 64
    ), comb AS (
      SELECT COUNT(*) AS k_eff, MAX(h) AS hk,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS rho
      FROM rk
    )
    SELECT CAST((SELECT COUNT(*) FROM ra) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM rb) AS BIGINT) AS n_b,
           CAST(rho AS BIGINT) AS rho,
           CAST(ROUND(CAST(rho AS DOUBLE) / CAST(k_eff AS DOUBLE), 4) AS DOUBLE) + 0.0 AS jaccard_est,
           CAST(ROUND((CAST(rho AS DOUBLE) / CAST(k_eff AS DOUBLE))
                      * (CASE WHEN k_eff < 64 THEN CAST(k_eff AS DOUBLE)
                              ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END), 4) AS DOUBLE) + 0.0 AS intersection_est
    FROM comb
    """,
)
def kmv_overlap_viewers_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap WITHOUT co-shuffling the raw corpora: viewers
    and buyers are sketched independently (k=64 KMV), then Jaccard and
    intersection cardinality come from the bottom-k of the hash union
    (Beyer et al. 2007 set algebra). Every post-build relation is
    sketch-sized (<= k rows) — at 100 TB the overlap join never sees
    more than 2k rows. See operators/sketches.kmv_overlap."""
    from lakeapi_spark.operators.sketches import kmv_build, kmv_overlap

    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    a = kmv_build(e.filter(F.col("event_type") == "view"), "user_id", (), k=64)
    b = kmv_build(e.filter(F.col("event_type") == "purchase"), "user_id", (), k=64)
    return kmv_overlap(a, b, k=64)


@register(
    "novelty_ngram_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM idx
    ), dfreq AS (
      SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE) + 0.0 AS novelty
    FROM dfreq GROUP BY doc_id
    """,
)
def novelty_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus novelty — the fraction of a document's distinct
    word trigrams that no other document contains; the up-weight
    signal for genuinely novel text in curation mixes (inverse of the
    near-dup signal). Two keyed exchanges total (gram df via window on
    g, fold via groupBy id); no joins. See
    operators/contamination.novelty_scores."""
    from lakeapi_spark.operators.contamination import novelty_scores

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return novelty_scores(d, "doc_id", "text", n=3)


@register(
    "ks_value_drift_events",
    """
    WITH h AS (
      SELECT CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
    ), c AS (
      SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb
      FROM h
    ), t AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb FROM h
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(MAX(ROUND(ABS(fa / CAST(na AS DOUBLE) - fb / CAST(nb AS DOUBLE)), 4)) AS DOUBLE) + 0.0 AS ks_stat
    FROM c, t GROUP BY na, nb
    """,
)
def ks_value_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the value distributions
    of 'view' and 'purchase' events — the binning-free drift test that
    complements psi_event_value_drift's fixed deciles. The corpus
    collapses to a per-cent value histogram in one partial-agg
    shuffle; the CDF walk windows over that bounded value domain, not
    over rows. See operators/stats.ks_two_sample."""
    from lakeapi_spark.operators.stats import ks_two_sample

    e = table(spark, sf_dir, "events").select("event_type", "value")
    return ks_two_sample(e, "value", "event_type", "view", "purchase", scale=100)


@register(
    "sessions_overlap_pairs",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, {_EPOCH} AS e,
             CASE WHEN LAG({_EPOCH}) OVER w IS NULL
                    OR {_EPOCH} - LAG({_EPOCH}) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id < 15
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, e,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), iv AS (
      SELECT user_id, session_id, MIN(e) AS s, MAX(e) AS en
      FROM sess GROUP BY user_id, session_id
    )
    SELECT a.user_id AS user_a, a.session_id AS session_a,
           b.user_id AS user_b, b.session_id AS session_b,
           LEAST(a.en, b.en) - GREATEST(a.s, b.s) AS overlap_s
    FROM iv a JOIN iv b
      ON (a.user_id < b.user_id OR (a.user_id = b.user_id AND a.session_id < b.session_id))
     AND a.s <= b.en AND b.s <= a.en
    ORDER BY overlap_s DESC, user_a, session_a, user_b, session_b
    LIMIT 50
    """,
)
def sessions_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session mining: which 30-minute-gap sessions overlap
    in wall time (top 50 by overlap). The interval-interval self-join
    is spelled as a time-bucket EQUI-join (operators/joins.
    interval_overlap_pairs): intervals explode to their spanned hour
    buckets, each candidate pair materializes exactly once in the
    first shared bucket, and the exact predicate re-verifies — no
    unbounded inequality cross-join anywhere in the plan."""
    from lakeapi_spark.operators.joins import interval_overlap_pairs
    from lakeapi_spark.operators.windows import session_stats

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    iv = session_stats(e, "ts", "user_id", 1800, "event_id").withColumn(
        "session_id", F.col("session_id").cast("long")
    )
    pairs = interval_overlap_pairs(
        iv, ["user_id", "session_id"], "session_start", "session_end", 3600
    )
    out = pairs.select(
        F.col("ia.user_id").alias("user_a"),
        F.col("ia.session_id").alias("session_a"),
        F.col("ib.user_id").alias("user_b"),
        F.col("ib.session_id").alias("session_b"),
        "overlap_s",
    )
    return out.orderBy(
        F.col("overlap_s").desc(), "user_a", "session_a", "user_b", "session_b"
    ).limit(50)


@register(
    "mi_event_type_dow",
    """
    WITH cells AS (
      SELECT event_type AS x,
             CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS INT) AS y,
             COUNT(*) AS nxy
      FROM events GROUP BY 1, 2
    ), per AS (
      SELECT x, y, nxy,
             SUM(nxy) OVER (PARTITION BY x) AS nx,
             SUM(nxy) OVER (PARTITION BY y) AS ny,
             SUM(nxy) OVER () AS n
      FROM cells
    ), terms AS (
      SELECT n, x, y,
        CAST(ROUND((nxy / CAST(n AS DOUBLE)) * LN(nxy * CAST(n AS DOUBLE) / CAST(nx * ny AS DOUBLE)), 10) AS DECIMAL(38,12)) AS mi_t,
        CAST(ROUND((CAST(nxy AS DOUBLE) - CAST(nx * ny AS DOUBLE) / CAST(n AS DOUBLE))
                   * (nxy - CAST(nx * ny AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(nx * ny AS DOUBLE) / CAST(n AS DOUBLE))
                   - CAST(nx * ny AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DECIMAL(38,8)) AS chi_t
      FROM per
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT x) AS BIGINT) AS n_x,
           CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y,
           CAST(ROUND(CAST(SUM(mi_t) AS DOUBLE), 6) AS DOUBLE) + 0.0 AS mi_nats,
           CAST(ROUND(CAST(SUM(chi_t) AS DOUBLE) + MAX(n), 6) AS DOUBLE) + 0.0 AS chi2
    FROM terms
    """,
)
def mi_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is event type independent of day-of-week? Mutual information
    (nats) + Pearson chi-squared from one contingency pass over
    events (the day bucket is epoch-derived, calendar-free, so both
    engines bin identically). Marginals are window sums over the
    cell table — never corpus rows; per-cell terms round then sum in
    DECIMAL so float order cannot differ. See
    operators/stats.categorical_dependence."""
    from lakeapi_spark.operators.stats import categorical_dependence

    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7)
        .cast("int")
        .alias("dow"),
    )
    return categorical_dependence(e, "event_type", "dow")


@register(
    "ewma_event_value",
    f"""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS xv
      FROM events WHERE user_id < 20
    ), l AS (
      SELECT user_id, ts, xv,
             LAG(xv, 1) OVER w AS x1, LAG(xv, 2) OVER w AS x2,
             LAG(xv, 3) OVER w AS x3, LAG(xv, 4) OVER w AS x4,
             LAG(xv, 5) OVER w AS x5, LAG(xv, 6) OVER w AS x6,
             LAG(xv, 7) OVER w AS x7
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, {_EPOCH} AS e,
           CAST(ROUND(CAST(COALESCE(xv * 128, 0) + COALESCE(x1 * 64, 0)
                           + COALESCE(x2 * 32, 0) + COALESCE(x3 * 16, 0)
                           + COALESCE(x4 * 8, 0) + COALESCE(x5 * 4, 0)
                           + COALESCE(x6 * 2, 0) + COALESCE(x7 * 1, 0) AS DOUBLE)
                      / CAST((CASE WHEN xv IS NOT NULL THEN 128 ELSE 0 END)
                             + (CASE WHEN x1 IS NOT NULL THEN 64 ELSE 0 END)
                             + (CASE WHEN x2 IS NOT NULL THEN 32 ELSE 0 END)
                             + (CASE WHEN x3 IS NOT NULL THEN 16 ELSE 0 END)
                             + (CASE WHEN x4 IS NOT NULL THEN 8 ELSE 0 END)
                             + (CASE WHEN x5 IS NOT NULL THEN 4 ELSE 0 END)
                             + (CASE WHEN x6 IS NOT NULL THEN 2 ELSE 0 END)
                             + (CASE WHEN x7 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                      / 100.0, 4) AS DOUBLE) + 0.0 AS ewma
    FROM l
    """,
)
def ewma_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 1/2, trailing 8 observations) of the
    event value series — power-of-two weights over integer-quantized
    cents make numerator and denominator exact 64-bit sums, so the
    smoothing is engine-exact (only the final division is float). One
    key-partitioned window pass, W compile-time lags, no self-join.
    See operators/windows.ewma_halflife."""
    from lakeapi_spark.operators.windows import ewma_halflife

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return ewma_halflife(e, "ts", "user_id", "value", "event_id", window=8)


# ---------------------------------------------------------------------------
# Image near-dup, feature screening, growth accounting (round 8 batch 3)
# ---------------------------------------------------------------------------


@register(
    "multimodal_dhash_neardup",
    """
    WITH m AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) % 16 + 1 AS w,
             length(text) % 12 + 1 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
      FROM documents WHERE length(text) > 0
    ), grid AS (
      SELECT doc_id, text, n, w, h, c, jj.j, ii.i,
             (jj.j * h) // 8 AS y, (ii.i * w) // 9 AS x
      FROM m
      CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj
      CROSS JOIN (SELECT unnest(range(0, 9)) AS i) ii
    ), g AS (
      SELECT doc_id, j, i,
             CASE WHEN c = 1
                  THEN ascii(substr(text, CAST((y * w + x) % n AS INT) + 1, 1)) % 256
                  ELSE (299 * (ascii(substr(text, CAST(((y * w + x) * 3) % n AS INT) + 1, 1)) % 256)
                        + 587 * (ascii(substr(text, CAST(((y * w + x) * 3 + 1) % n AS INT) + 1, 1)) % 256)
                        + 114 * (ascii(substr(text, CAST(((y * w + x) * 3 + 2) % n AS INT) + 1, 1)) % 256)) // 1000
             END AS gv
      FROM grid
    ), b AS (
      SELECT doc_id, j, i, gv,
             LEAD(gv) OVER (PARTITION BY doc_id, j ORDER BY i) AS nxt
      FROM g
    ), bits AS (
      SELECT doc_id, j * 8 + i AS p, CASE WHEN gv > nxt THEN 1 ELSE 0 END AS bit
      FROM b WHERE i < 8
    ), hx AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN p >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(p - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN p < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id AS id, TRUE AS valid, hash_hi, hash_lo,
           CAST(COUNT(*) OVER (PARTITION BY hash_hi, hash_lo) AS BIGINT) AS n_same
    FROM hx
    """,
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup fingerprinting END TO END on real pixels:
    documents become complete valid PNGs, perceptual_dhash decodes the
    raster (all five PNG filters, CRC-checked, zlib), reduces to
    integer luma, samples a 9x8 grid and emits the 64-bit difference
    hash as two BIGINT halves; equal hashes group as near-dup
    candidates (n_same). The oracle re-derives the hash from the
    fixture pixel rule with no codec — a match proves decode, luma,
    sampling and bit packing all agree bit-for-bit. See
    operators/multimodal.perceptual_dhash."""
    from lakeapi_spark.operators.multimodal import (
        attach_real_png_payload,
        perceptual_dhash,
    )

    d = table(spark, sf_dir, "documents")
    hashed = perceptual_dhash(attach_real_png_payload(d, "doc_id", "text"))
    w = Window.partitionBy("hash_hi", "hash_lo")
    return hashed.select(
        "id",
        "valid",
        "hash_hi",
        "hash_lo",
        F.count(F.lit(1)).over(w).alias("n_same"),
    )


@register(
    "woe_orderpriority_status",
    """
    WITH cells AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_pos
      FROM orders GROUP BY 1
    ), c2 AS (
      SELECT o_orderpriority, n, n_pos, n - n_pos AS n_neg FROM cells
    ), tot AS (
      SELECT SUM(n_pos) AS p, SUM(n_neg) AS ng FROM c2
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST(ROUND(LN(((n_pos + 0.5) / (p + 1.0)) / ((n_neg + 0.5) / (ng + 1.0))), 6) AS DOUBLE) + 0.0 AS woe,
           CAST(ROUND(((n_pos + 0.5) / (p + 1.0) - (n_neg + 0.5) / (ng + 1.0))
                      * LN(((n_pos + 0.5) / (p + 1.0)) / ((n_neg + 0.5) / (ng + 1.0))), 6) AS DOUBLE) + 0.0 AS iv_term
    FROM c2, tot
    ORDER BY o_orderpriority
    """,
)
def woe_orderpriority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of order priority
    against the finished-order outcome — does the priority band
    separate finished from open orders, and by how much. One
    partial-agg groupBy to |categories| rows plus a broadcast 1-row
    total; Laplace-smoothed, rounded last. See
    operators/stats.woe_iv."""
    from lakeapi_spark.operators.stats import woe_iv

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", (F.col("o_orderstatus") == "F").alias("is_f")
    )
    return woe_iv(o, "o_orderpriority", "is_f")


@register(
    "user_growth_accounting",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
      FROM events
    ), cls AS (
      SELECT day,
             CASE WHEN LAG(day) OVER w IS NULL THEN 'new'
                  WHEN day - LAG(day) OVER w <= 7 THEN 'retained'
                  ELSE 'resurrected' END AS cls
      FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)
    )
    SELECT day, COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
    FROM cls GROUP BY day
    """,
)
def user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU growth accounting: each (user, active day) classified new /
    retained (active again within 7 days) / resurrected (back after a
    longer absence) — the standard decomposition of an active-user
    curve. Corpus collapses to distinct (user, day) in one shuffle;
    classification is one per-user lag; the rollup is day-domain
    sized. See operators/windows.growth_accounting."""
    from lakeapi_spark.operators.windows import growth_accounting

    e = table(spark, sf_dir, "events")
    return growth_accounting(e, "ts", "user_id", resurrect_gap_days=7)


def _mmr_oracle_sql(k: int = 8, n_candidates: int = 20) -> str:
    """Assemble the MMR oracle: the greedy chain unrolls into k
    explicit pick CTEs (p1..pk) — plain SQL any engine runs, no
    recursion features. Each stage scores the remaining candidates
    0.5*rel - 0.5*MAX(sim to picked) and takes the (score DESC, id)
    argmax, exactly the operator's driver loop."""
    parts = [
        _EMB_DOT,
        """
    , qx AS (SELECT i, val FROM x WHERE vec_id = 0)
    , dq AS (
      SELECT c.vec_id AS id, SUM(qx.val * c.val) AS dot
      FROM qx JOIN x c ON qx.i = c.i WHERE c.vec_id <> 0 GROUP BY c.vec_id
    ), rel0 AS (
      SELECT dq.id, ROUND(dq.dot / (nq.nrm * nc.nrm), 4) AS rel
      FROM dq JOIN n nq ON nq.vec_id = 0 JOIN n nc ON nc.vec_id = dq.id
    ), rel AS MATERIALIZED (
      SELECT id, rel FROM rel0
      QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, id) <= %(NC)d
    ), pd AS (
      SELECT a.id AS ia, b.id AS ib, SUM(xa.val * xb.val) AS dot
      FROM rel a JOIN rel b ON a.id <> b.id
      JOIN x xa ON xa.vec_id = a.id
      JOIN x xb ON xb.vec_id = b.id AND xb.i = xa.i
      GROUP BY a.id, b.id
    ), sims AS MATERIALIZED (
      SELECT ia, ib, ROUND(pd.dot / (na.nrm * nb.nrm), 4) AS s
      FROM pd JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib
    )
    , p1 AS (SELECT id, rel, rel AS score FROM rel ORDER BY rel DESC, id LIMIT 1)
"""
        % {"NC": n_candidates},
    ]
    for t in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT id FROM p{j}" for j in range(1, t))
        parts.append(
            f"""
    , pk{t} AS ({prev})
    , p{t} AS (
      SELECT c.id, c.rel, 0.5 * c.rel - 0.5 * MAX(sm.s) AS score
      FROM rel c JOIN sims sm ON sm.ia = c.id AND sm.ib IN (SELECT id FROM pk{t})
      WHERE c.id NOT IN (SELECT id FROM pk{t})
      GROUP BY c.id, c.rel
      ORDER BY score DESC, c.id LIMIT 1
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {t} AS rank, id, rel, score FROM p{t}" for t in range(1, k + 1)
    )
    parts.append(
        f"""
    SELECT CAST(rank AS BIGINT) AS rank, CAST(id AS BIGINT) AS vec_id,
           rel + 0.0 AS relevance, score + 0.0 AS mmr_score
    FROM ({union})
"""
    )
    return "".join(parts)


@register(
    "weighted_median_price_by_flag",
    """
    WITH hist AS (
      SELECT l_returnflag,
             CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT) AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(w) OVER (PARTITION BY l_returnflag) AS t
      FROM hist
    )
    SELECT l_returnflag, CAST(MAX(t) AS BIGINT) AS total_w,
           CASE WHEN MAX(t) > 0
                THEN CAST(ROUND(MIN(v) / 100.0, 2) AS DOUBLE) + 0.0 END AS w_median
    FROM cum WHERE 2 * c >= t GROUP BY l_returnflag
    """,
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    volume-aware robust center. All-integer pick rule (2*cum >= total
    over a per-cent value histogram) makes it engine-exact with no
    interpolation; windows walk the value domain, never corpus rows.
    See operators/stats.weighted_median."""
    from lakeapi_spark.operators.stats import weighted_median

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", value_scale=100
    )


@register(
    "invoice_reconciliation_audit",
    """
    WITH ls AS (
      SELECT l_orderkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))
                            * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS charge
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderkey, o.o_totalprice, ls.charge,
             CASE WHEN ls.charge IS NULL THEN NULL
                  ELSE abs(CAST(ROUND(ls.charge * 100, 0) AS BIGINT)
                           - CAST(ROUND(CAST(o.o_totalprice AS DOUBLE) * 100, 0) AS BIGINT))
             END AS diff_cents
      FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey
    )
    SELECT CASE WHEN diff_cents IS NULL THEN 'no_lineitems'
                WHEN diff_cents = 0 THEN 'exact'
                WHEN diff_cents <= 100 THEN 'within_1'
                ELSE 'off' END AS bucket,
           COUNT(*) AS n_orders,
           CAST(COALESCE(MAX(diff_cents), 0) AS BIGINT) AS max_diff_cents
    FROM j GROUP BY 1
    """,
)
def invoice_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice reconciliation: does each order's o_totalprice equal the
    decimal-exact sum of its lineitem charges? Orders bucket into
    exact / within-a-dollar / off / no_lineitems with the worst
    discrepancy per bucket — the classic fact-vs-rollup consistency
    audit. One partial-agg shuffle on orderkey + one join; buckets are
    integer-cent comparisons, engine-exact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    one = F.lit(1).cast("decimal(18,4)")
    ls = li.groupBy(F.col("l_orderkey")).agg(
        money_sum(
            dec("l_extendedprice") * (one - dec("l_discount")) * (one + dec("l_tax"))
        ).alias("charge")
    )
    j = o.join(ls, o.o_orderkey == ls.l_orderkey, "left")
    diff = F.when(
        F.col("charge").isNotNull(),
        F.abs(
            F.round(F.col("charge") * 100, 0).cast("long")
            - F.round(F.col("o_totalprice").cast("double") * 100, 0).cast("long")
        ),
    )
    bucket = (
        F.when(diff.isNull(), "no_lineitems")
        .when(diff == 0, "exact")
        .when(diff <= 100, "within_1")
        .otherwise("off")
    )
    return (
        j.select(bucket.alias("bucket"), diff.alias("diff_cents"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.coalesce(F.max("diff_cents"), F.lit(0)).cast("long").alias("max_diff_cents"),
        )
    )


@register("mmr_diverse_topk", _mmr_oracle_sql(k=8, n_candidates=20))
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR-greedy pick of 8 results from the
    20 nearest neighbors of query vector 0 (lambda = 1/2) — the
    post-ANN dedup step of a RAG serving path. Candidate generation
    and the pairwise candidate matrix are distributed; the k-deep
    greedy chain runs on the driver over the bounded rounded matrix.
    The oracle unrolls the same greedy chain into 8 pick CTEs. See
    operators/similarity.mmr_select."""
    from lakeapi_spark.operators.similarity import mmr_select

    e = table(spark, sf_dir, "embeddings")
    return mmr_select(e, "vec_id", "embedding", query_id=0, n_candidates=20, k=8)


@register(
    "customer_rfm_segments",
    """
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
    c AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                            (SELECT mxd FROM mx)) AS BIGINT) AS rec_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT) AS mon_cents
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT NTILE(5) OVER (ORDER BY rec_days, o_custkey) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
             NTILE(5) OVER (ORDER BY mon_cents DESC, o_custkey) AS m_q,
             mon_cents
      FROM c
    )
    SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
           CAST(SUM(mon_cents) AS BIGINT) AS monetary_cents
    FROM q GROUP BY r_q, f_q, m_q
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quintiles per
    customer, reduced to segment counts: the standard CRM slicing of a
    customer base. The oracle stays NTILE over the three total orders
    (custkey tiebreak); the implementation is the BANDED scale path
    (r13, VERDICT r12 #1a): per metric, exact boundary TUPLES from
    operators/windows.ntile_boundaries (3 bounded passes each over the
    localCheckpoint-materialized customer relation — no recompute, no
    session-cache residue) and map-side compare-and-count assignment.
    Tuple boundaries make the assignment NTILE-identical under ties;
    monetary stays integer cents end-to-end. At 100 TB the customer
    relation is one shuffle of orders and every subsequent pass scans
    the checkpointed 3-column relation, never orders again."""
    from lakeapi_spark.operators.windows import ntile_banded

    c = _rfm_customer_relation(spark, sf_dir).localCheckpoint(eager=True)
    q = ntile_banded(c, "rec_days", "o_custkey", 5, tile_col="r_q")
    q = ntile_banded(q, "freq", "o_custkey", 5, descending=True, tile_col="f_q")
    q = ntile_banded(q, "mon_cents", "o_custkey", 5, descending=True, tile_col="m_q")
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon_cents").cast("long").alias("monetary_cents"),
    )


def _rfm_customer_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-customer (rec_days, freq, mon_cents) relation the RFM
    family quintiles over — one groupBy shuffle of orders, monetary in
    integer cents, recency vs the corpus max order date."""
    o = table(spark, sf_dir, "orders")
    mx = F.broadcast(
        o.agg(F.max(F.col("o_orderdate").cast("date")).alias("mxd"))
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).alias("freq"),
            (F.sum(dec("o_totalprice")) * 100).cast("long").alias("mon_cents"),
        )
        .crossJoin(mx)
        .select(
            "o_custkey",
            F.datediff(F.col("mxd"), F.col("lastd")).cast("long").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )


@register(
    "rfm_segments_banded",
    """
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
    c AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                            (SELECT mxd FROM mx)) AS BIGINT) AS rec_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT) AS mon_cents
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT NTILE(5) OVER (ORDER BY rec_days, o_custkey) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
             NTILE(5) OVER (ORDER BY mon_cents DESC, o_custkey) AS m_q,
             mon_cents
      FROM c
    )
    SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
           CAST(SUM(mon_cents) AS BIGINT) AS monetary_cents
    FROM q GROUP BY r_q, f_q, m_q
    """,
)
def rfm_segments_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered scale twin of customer_rfm_segments (VERDICT r12
    #1a, the name it suggested): same three-NTILE oracle, banded
    implementation — the driver row for this name is the hash-proof
    that exact tuple-boundary assignment reproduces all three quintile
    windows (one ascending, two descending) simultaneously. Shares one
    builder with the converted original."""
    return customer_rfm_segments(spark, sf_dir)


@register(
    "rfm_quintile_boundaries",
    """
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
    c AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                            (SELECT mxd FROM mx)) AS BIGINT) AS rec_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT) AS mon_cents
      FROM orders GROUP BY o_custkey
    ), n AS (SELECT COUNT(*) AS n FROM c),
    ends AS (
      SELECT i, CAST(i * (n // 5) + LEAST(i, n % 5) AS BIGINT) AS end_rank
      FROM range(1, 5) t(i), n
    ),
    r AS (
      SELECT 'recency' AS metric,
             ROW_NUMBER() OVER (ORDER BY rec_days, o_custkey) AS rn,
             rec_days AS val, o_custkey FROM c
      UNION ALL
      SELECT 'frequency',
             ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey),
             CAST(freq AS BIGINT), o_custkey FROM c
      UNION ALL
      SELECT 'monetary',
             ROW_NUMBER() OVER (ORDER BY mon_cents DESC, o_custkey),
             mon_cents, o_custkey FROM c
    )
    SELECT metric, CAST(i AS INT) AS tile, end_rank,
           CAST(val AS BIGINT) AS boundary_value,
           CAST(o_custkey AS BIGINT) AS boundary_custkey
    FROM r JOIN ends ON r.rn = ends.end_rank
    """,
)
def rfm_quintile_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDARY relation the banded RFM path computes — (metric,
    tile, end_rank, boundary value, boundary custkey) for the four
    quintile ends of each of the three orders. This pins the exact
    rank rule (end_i = i*(n DIV 5) + LEAST(i, n MOD 5), the SQL NTILE
    sizing) and the tuple the selection picks at each rank; the oracle
    re-derives the same rows by ranking the full relation (fine in
    DuckDB) while Spark runs the 3-pass histogram-guided selection —
    never a global sort. The 12-row result is driver-assembled from
    ntile_boundaries' K-bounded collect, which is the honest shape: a
    boundary table IS driver-sized (it gets broadcast into the
    assignment expression). Degenerate n < tiles (duplicate end ranks)
    can't occur on this relation; operators/windows.ntile_boundaries
    handles it for callers that can hit it."""
    from lakeapi_spark.operators.windows import ntile_boundaries

    c = _rfm_customer_relation(spark, sf_dir).localCheckpoint(eager=True)
    rows = []
    for metric, col, desc in [
        ("recency", "rec_days", False),
        ("frequency", "freq", True),
        ("monetary", "mon_cents", True),
    ]:
        bnds = ntile_boundaries(c, col, "o_custkey", 5, descending=desc)
        for i, (rank, _s, k, v) in enumerate(bnds, start=1):
            rows.append((metric, i, rank, int(v), int(k)))
    return spark.createDataFrame(
        rows,
        "metric string, tile int, end_rank long, "
        "boundary_value long, boundary_custkey long",
    )


@register(
    "quantile_sketch_rollup",
    """
    WITH vals AS (SELECT o_totalprice AS v FROM orders),
    s AS (SELECT COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx FROM vals),
    hist AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((v - (SELECT mn FROM s))
                 / (((SELECT mx FROM s) - (SELECT mn FROM s)) / 512)) AS INT),
             0), 511) AS b,
             COUNT(*) AS c
      FROM vals GROUP BY 1
    ), cum AS (
      SELECT b, c,
             SUM(c) OVER (ORDER BY b) AS cm,
             SUM(c) OVER (ORDER BY b) - c AS cmb
      FROM hist
    ), ps AS (SELECT CAST(p AS DOUBLE) AS p
              FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(p)),
    tgt AS (
      SELECT p, GREATEST(1, CAST(CEIL(p * (SELECT n FROM s)) AS BIGINT)) AS r
      FROM ps
    ), pick AS (
      SELECT t.p, t.r, c.b, c.c, c.cmb
      FROM tgt t JOIN cum c ON c.cmb < t.r AND t.r <= c.cm
    ), ord AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM vals
    ), est AS (
      SELECT p, r,
             (SELECT mn FROM s)
             + (((SELECT mx FROM s) - (SELECT mn FROM s)) / 512)
               * (b + CAST(r - cmb AS DOUBLE) / CAST(c AS DOUBLE)) AS e
      FROM pick
    )
    SELECT est.p,
           (SELECT CAST(n AS BIGINT) FROM s) AS n,
           ROUND(est.e, 4) + 0.0 AS est,
           o.v AS exact,
           ROUND(ABS(ROUND(est.e, 4) - o.v), 4) + 0.0 AS abs_err,
           ROUND(ABS(ROUND(est.e, 4) - o.v), 4)
             <= (((SELECT mx FROM s) - (SELECT mn FROM s)) / 512) + 0.0001
             AS within_bucket
    FROM est JOIN ord o ON o.rn = est.r
    """,
)
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-of-percentiles / distributed-quantile dial
    (ROADMAP_r12 #5): estimate {p25, p50, p75, p90, p99} of order
    value from a MERGEABLE 512-bucket equi-width histogram sketch —
    counts add, so each executor partial-aggregates its slice and the
    shuffle reduce IS the merge; this is the t-digest-lite that scales
    to any volume in 2 bounded passes (min/max, histogram) — and
    compare each estimate against the EXACT order statistic at the
    same rank (operators/windows.order_statistics — the 3-pass
    histogram-guided selection, no global sort). abs_err must sit
    within one bucket width (both the estimate and the truth live in
    the rank's bucket), which the within_bucket flag asserts on every
    row. Rank rule pinned as max(1, ceil(p*n)); interpolation
    arithmetic is plain IEEE doubles evaluated in the same order on
    both engines, rounded(4) at the readout."""
    import math
    from bisect import bisect_left

    from lakeapi_spark.operators.windows import order_statistics

    o = table(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    n, mn, mx = o.agg(
        F.count(F.lit(1)), F.min("v"), F.max("v")
    ).first()
    width = (mx - mn) / 512
    b = F.least(
        F.greatest(F.floor((F.col("v") - F.lit(mn)) / F.lit(width)).cast("int"), F.lit(0)),
        F.lit(511),
    )
    hist = sorted(
        (r["b"], r["c"])
        for r in o.groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("c")).collect()
    )
    buckets = [bk for bk, _ in hist]
    cm, acc = [], 0
    for _, c in hist:
        acc += c
        cm.append(acc)
    probs = [0.25, 0.5, 0.75, 0.9, 0.99]
    ranks = [max(1, int(math.ceil(p * n))) for p in probs]
    exact = {rank: v for rank, _s, _k, v in order_statistics(o, "v", None, ranks)}
    rows = []
    for p, r in zip(probs, ranks):
        i = bisect_left(cm, r)
        cmb = cm[i - 1] if i else 0
        # same IEEE ops in the same order as the oracle's est expression
        e = mn + width * (buckets[i] + float(r - cmb) / float(cm[i] - cmb))
        rows.append((p, n, e, float(exact[r])))
    out = spark.createDataFrame(rows, "p double, n long, e double, exact double")
    est_r = F.round(F.col("e"), 4)
    err = F.round(F.abs(est_r - F.col("exact")), 4)
    return out.select(
        "p",
        "n",
        (est_r + 0.0).alias("est"),
        "exact",
        (err + 0.0).alias("abs_err"),
        (err <= F.lit(width + 0.0001)).alias("within_bucket"),
    )


@register(
    "top2_plus_other_by_nation",
    """
    WITH rev AS (
      SELECT n.n_name, c.c_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS r
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), rk AS (
      SELECT n_name, c_custkey, r,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY r DESC, c_custkey) AS rnk
      FROM rev
    )
    SELECT n_name,
           CASE WHEN rnk <= 2 THEN CAST(c_custkey AS VARCHAR)
                ELSE 'OTHER' END AS customer,
           COUNT(*) AS n_customers,
           CAST(SUM(r) * 100 AS BIGINT) AS revenue_cents
    FROM rk GROUP BY 1, 2
    """,
)
def top2_plus_other_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-plus-OTHER rollup: each nation's two biggest customers by
    revenue stay named; the long tail collapses into one 'OTHER' row —
    the BI contribution-report shape (leaders vs residual). Ranking is
    over exact DECIMAL revenue with a custkey tiebreak; revenue stays
    integer cents. One agg shuffle + one nation-partitioned window;
    nation is the broadcast side of the dim joins."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("r"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("r").desc(), "c_custkey")
    rk = rev.withColumn("rnk", F.row_number().over(w))
    label = F.when(
        F.col("rnk") <= 2, F.col("c_custkey").cast("string")
    ).otherwise(F.lit("OTHER"))
    return (
        rk.select("n_name", label.alias("customer"), "r")
        .groupBy("n_name", "customer")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("r") * 100).cast("long").alias("revenue_cents"),
        )
    )


@register(
    "revenue_gini_by_nation",
    """
    WITH rev AS (
      SELECT n.n_name, c.c_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), rk AS (
      SELECT n_name, cents,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY cents, c_custkey) AS r
      FROM rev
    )
    SELECT n_name, COUNT(*) AS n_entities,
           CAST(ROUND(SUM(cents) / 1.0, 2) AS DOUBLE) + 0.0 AS total_value,
           CASE WHEN COUNT(*) * SUM(cents) <> 0 THEN
             ROUND(CAST(2 * SUM(r * cents) - (COUNT(*) + 1) * SUM(cents) AS DOUBLE)
                   / CAST(COUNT(*) * SUM(cents) AS DOUBLE), 6) + 0.0
           END AS gini
    FROM rk GROUP BY n_name
    """,
)
def revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-revenue concentration per nation —
    "how top-heavy is each market". Integer-cents values, total-order
    ranks, and the closed-form BIGINT numerator/denominator make the
    inequality metric hash-exact across engines. See
    operators/stats.gini_concentration."""
    from lakeapi_spark.operators.stats import gini_concentration

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg((F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents"))
    )
    return gini_concentration(
        rev, ["n_name"], "c_custkey", "cents", value_scale=1
    )


@register(
    "allocate_order_totals",
    """
    WITH li AS (
      SELECT l_orderkey AS k, l_linenumber AS ln,
             CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT) AS w
      FROM lineitem
    ), o AS (
      SELECT o_orderkey AS k, o_orderpriority,
             CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100, 0) AS BIGINT) AS t
      FROM orders
    ), s AS (
      SELECT li.k, li.ln, li.w, o.t, o.o_orderpriority,
             SUM(li.w) OVER (PARTITION BY li.k) AS tw
      FROM li JOIN o ON li.k = o.k
    ), b AS (
      SELECT *, (t * w) // tw AS base, (t * w) % tw AS md FROM s
    ), r AS (
      SELECT *, t - SUM(base) OVER (PARTITION BY k) AS rem,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY md DESC, ln) AS rk
      FROM b
    )
    SELECT o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS BIGINT)
             AS alloc_cents,
           CAST(SUM(CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS BIGINT) AS n_bumped
    FROM r GROUP BY 1
    """,
    bench=True,
)
def allocate_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: each order's integer-cent total is
    split across its lineitems proportional to extended price so the
    parts sum EXACTLY to the header total (the allocation audit
    downstream ledgers require), rolled up per order priority. All
    integer arithmetic. The rollup never needs the per-row allocation:
    operators/stats.largest_remainder_rollup computes the per-priority
    sums in closed form (sum(allocated) = t, n_bumped = clamp(rem)),
    replacing the three orderkey windows + remainder sort of the
    row-level operator with one per-order array aggregation — the
    l_linenumber tie-break column drops out entirely (WHICH rows are
    bumped depends on it, HOW MANY does not)."""
    from lakeapi_spark.operators.stats import largest_remainder_rollup

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice").cast("double") * 100, 0)
        .cast("long")
        .alias("w"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice").cast("double") * 100, 0)
        .cast("long")
        .alias("t"),
    )
    return largest_remainder_rollup(
        li, "l_orderkey", "w", o, "o_orderkey", "t", ["o_orderpriority"]
    )


@register(
    "event_type_transitions",
    """
    WITH t AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), g AS (
      SELECT prev_type, event_type, COUNT(*) AS n_transitions
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, event_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) + 0.0 AS p_next
    FROM g
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event streams:
    P(next event type | current), from per-user LAG pairs — the
    behavioral fingerprint session-model features start from. One
    user-partitioned window + one partial-agg shuffle; the closing
    probability window runs over the TYPE-PAIR relation (25 rows),
    never the event stream."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    g = t.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return g.select(
        "prev_type",
        "event_type",
        "n_transitions",
        (
            F.round(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(wp).cast("double"),
                6,
            )
            + 0.0
        ).alias("p_next"),
    )


@register(
    "bfs_khop_copurchase",
    """
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    po AS (
      SELECT DISTINCT a.o, a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    e0 AS (SELECT u, v FROM po GROUP BY u, v HAVING COUNT(*) >= 2),
    e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    d0 AS (SELECT MIN(u) AS node FROM e0),
    n1 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN d0 ON e.u = d0.node
      WHERE e.v NOT IN (SELECT node FROM d0)
    ),
    n2 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN n1 ON e.u = n1.node
      WHERE e.v NOT IN (SELECT node FROM d0)
        AND e.v NOT IN (SELECT node FROM n1)
    ),
    n3 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN n2 ON e.u = n2.node
      WHERE e.v NOT IN (SELECT node FROM d0)
        AND e.v NOT IN (SELECT node FROM n1)
        AND e.v NOT IN (SELECT node FROM n2)
    )
    SELECT hops, n_parts FROM (
      SELECT 0 AS hops, COUNT(*) AS n_parts FROM d0 HAVING COUNT(*) > 0
      UNION ALL SELECT 1, COUNT(*) FROM n1 HAVING COUNT(*) > 0
      UNION ALL SELECT 2, COUNT(*) FROM n2 HAVING COUNT(*) > 0
      UNION ALL SELECT 3, COUNT(*) FROM n3 HAVING COUNT(*) > 0
    )
    """,
    bench=True,
)
def bfs_khop_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS neighborhood census from the lowest linked part id
    over the STRONG co-purchase graph (parts adjacent when >= 2 orders
    contain both — one shared order is noise at TPC-H densities; the
    support threshold is what keeps an affinity graph sparse at scale):
    how much of the catalog is within 1/2/3 links — the reachability
    probe recommendation features use. Level-synchronous frontier
    joins, node-sized state, min-distance by BFS invariant; graphs
    whose counted edge relation clears the dense budget (this one:
    ~7k doubled edges) run all rounds as array expressions over one
    adjacency row — zero per-round jobs. See
    operators/graph.bfs_hops."""
    from lakeapi_spark.operators.graph import bfs_hops

    edges = _strong_copurchase_edges(spark, sf_dir)
    seeds = edges.agg(F.min("src").alias("node"))
    dist = bfs_hops(edges, seeds, max_hops=3)
    return dist.groupBy("hops").agg(F.count(F.lit(1)).alias("n_parts"))


@register(
    "running_balance_floor_users",
    """
    WITH ev AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                  ELSE -CAST(ROUND(value * 100, 0) AS BIGINT) END AS d
      FROM events
    ), bal AS (
      WITH RECURSIVE r(user_id, rn, b, nf) AS (
        SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM (SELECT DISTINCT user_id FROM ev)
        UNION ALL
        SELECT e.user_id, e.rn, GREATEST(r.b + e.d, 0),
               r.nf + CASE WHEN r.b + e.d < 0 THEN 1 ELSE 0 END
        FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT user_id, MAX(rn) AS n_events,
           MAX_BY(b, rn) AS final_balance, MAX_BY(nf, rn) AS n_floored
    FROM bal GROUP BY user_id
    """,
    bench=True,
)
def running_balance_floor_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped wallet balance per user (purchases credit, every
    other event debits, balance never goes below zero) — the
    inherently-sequential ledger recurrence no window expresses. Spark
    runs it as ONE applyInPandas pass (vectorized reset-cumsum inside
    the kernel); the oracle replays the recurrence with a recursive
    CTE. Integer cents end-to-end. See
    operators/windows.running_balance_floor."""
    from lakeapi_spark.operators.windows import running_balance_floor

    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    delta = F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
    staged = e.select("user_id", "ts", "event_id", delta.alias("delta_cents"))
    return running_balance_floor(staged, "user_id", "ts", "event_id", "delta_cents")


@register(
    "multimodal_wav_energy_neardup",
    """
    WITH seeds AS (SELECT DISTINCT doc_id % 50 AS sid FROM documents),
    ex AS (
      SELECT sid,
             UNNEST(generate_series(CAST(0 AS BIGINT),
                                    CAST(64 + sid % 64 - 1 AS BIGINT))) AS i
      FROM seeds
    ), sm AS (
      SELECT sid, i, ((sid * 31 + i * 17) % 2001) - 1000 AS s,
             CAST(64 + sid % 64 AS BIGINT) AS n
      FROM ex
    ), en AS (
      SELECT sid, (i * 8) // n AS w, SUM(s * s) AS e
      FROM sm GROUP BY 1, 2
    ), lv AS (
      SELECT sid, w,
             (e * 8) // (SUM(e) OVER (PARTITION BY sid) + 1) AS l
      FROM en
    ), sg AS (
      SELECT sid, CAST(SUM(l * CAST(POWER(9, w) AS BIGINT)) AS BIGINT) AS signature
      FROM lv GROUP BY sid
    )
    SELECT sg.signature, COUNT(*) AS n_docs,
           COUNT(DISTINCT sg.sid) AS n_seeds,
           MIN(d.doc_id) AS min_doc_id
    FROM documents d JOIN sg ON d.doc_id % 50 = sg.sid
    GROUP BY 1
    """,
)
def multimodal_wav_energy_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via the energy-envelope signature: REAL WAV bytes
    (deterministic PCM fixtures seeded by doc_id % 50, so copies
    exist) decode in an Arrow kernel to an 8-window quantized-energy
    fingerprint, and documents sharing a fingerprint group together —
    the audio analogue of the image dHash near-dup. The oracle
    re-derives the same all-integer signature from the fixture
    waveform formula, verifying decode + windowing + quantization end
    to end. See operators/multimodal.wav_energy_signature."""
    from lakeapi_spark.operators.multimodal import (
        attach_pcm_wav_payload,
        wav_energy_signature,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 50).alias("sid")
    )
    media = attach_pcm_wav_payload(docs.select("sid").distinct(), "sid")
    sig = wav_energy_signature(media).select(
        F.col("id").alias("sid"), "signature"
    )
    return (
        docs.join(F.broadcast(sig), "sid")
        .groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("sid").alias("n_seeds"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "ab_test_conversion_z",
    """
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2
    ), v AS (
      SELECT variant, COUNT(*) AS n_users, SUM(converted) AS n_converted
      FROM u GROUP BY 1
    )
    SELECT a.n_users AS n_a, CAST(a.n_converted AS BIGINT) AS conv_a,
           b.n_users AS n_b, CAST(b.n_converted AS BIGINT) AS conv_b,
           ROUND(CAST(a.n_converted AS DOUBLE) / a.n_users, 6) + 0.0 AS p_a,
           ROUND(CAST(b.n_converted AS DOUBLE) / b.n_users, 6) + 0.0 AS p_b,
           ROUND(
             (CAST(a.n_converted AS DOUBLE) / a.n_users
              - CAST(b.n_converted AS DOUBLE) / b.n_users)
             / SQRT(
                 (CAST(a.n_converted + b.n_converted AS DOUBLE)
                  / (a.n_users + b.n_users))
                 * (1 - CAST(a.n_converted + b.n_converted AS DOUBLE)
                        / (a.n_users + b.n_users))
                 * (1.0 / a.n_users + 1.0 / b.n_users)
               ),
             6) + 0.0 AS z
    FROM (SELECT * FROM v WHERE variant = 0) a,
         (SELECT * FROM v WHERE variant = 1) b
    """,
)
def ab_test_conversion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B split (variant = user_id
    parity, conversion = any high-value purchase): the experimentation
    readout. Engine-exact because the statistic uses only IEEE-exact
    operations (integer-to-double casts, -, *, /, correctly-rounded
    SQRT) in a mirrored expression tree. One groupBy(user) + one tiny
    agg; the final cross join is 1x1."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") >= 200)
            ).cast("int")
        ).alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    a = v.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("conv_a")
    )
    b = v.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("conv_b")
    )
    j = a.crossJoin(b)
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1) - pp) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return j.select(
        "n_a",
        F.col("conv_a").cast("long").alias("conv_a"),
        "n_b",
        F.col("conv_b").cast("long").alias("conv_b"),
        (F.round(pa, 6) + 0.0).alias("p_a"),
        (F.round(pb, 6) + 0.0).alias("p_b"),
        (F.round(z, 6) + 0.0).alias("z"),
    )


@register(
    "per_lang_quality_filter",
    """
    WITH d AS (
      SELECT doc_id, lang,
             (len(list_distinct(string_split(text, ' '))) * 1000)
               // len(string_split(text, ' ')) AS score
      FROM documents
    ), hist AS (
      SELECT lang, score AS v, COUNT(*) AS w FROM d GROUP BY 1, 2
    ), cum AS (
      SELECT lang, v,
             SUM(w) OVER (PARTITION BY lang ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(w) OVER (PARTITION BY lang) AS t
      FROM hist
    ), med AS (
      SELECT lang,
             CAST(ROUND(MIN(v) / 1.0, 2) AS DOUBLE) + 0.0 AS threshold
      FROM cum WHERE 2 * c >= t GROUP BY lang
    )
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.score >= med.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MAX(med.threshold) AS threshold
    FROM d JOIN med ON d.lang = med.lang
    GROUP BY d.lang
    """,
)
def per_lang_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality gate (the CCNet discipline:
    thresholds calibrate WITHIN each language, because surface
    statistics aren't comparable across languages): score = integer
    type-token ratio, per-lang lower-median threshold from the
    weighted-median pick rule, keep docs at-or-above their own
    language's bar. Reuses operators/stats.weighted_median (weight 1);
    one shuffle for the histogram, threshold relation joins back
    broadcast."""
    from lakeapi_spark.operators.stats import weighted_median

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000L"
            " DIV size(split(text, ' '))"
        ).alias("score"),
    )
    med = weighted_median(
        d.withColumn("_one", F.lit(1)), ["lang"], "score", "_one", value_scale=1
    ).select("lang", F.col("w_median").alias("threshold"))
    return (
        d.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score") >= F.col("threshold")).cast("long")).alias(
                "n_kept"
            ),
            F.max("threshold").alias("threshold"),
        )
    )


@register(
    "orc_scan_roundtrip",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1
    """,
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format evidence: lineitem's (flag, quantity) projection
    round-trips through Spark's native ORC writer/reader (same
    pushdown + pruning machinery as parquet; sources/readers.py routes
    file_type='orc'), and the aggregate hash-matches the oracle
    reading the source parquet — proving the format conversion loses
    nothing. Staged once per sf_dir under the system tmp."""
    import hashlib
    import os
    import tempfile

    from lakeapi_spark.sources.readers import read_source

    src = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_orc_lineitem_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if not os.path.isdir(dest):
        src.write.mode("overwrite").orc(dest)
    df = read_source(spark, dest, "orc")
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
    )


@register(
    "xml_scan_roundtrip",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_total
    FROM orders GROUP BY 1
    """,
)
def xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML format evidence: orders' (priority, totalprice) projection
    round-trips through Spark 4's built-in distributed XML
    writer/reader (sources/readers.py routes file_type='xml' with the
    same <data><row> element naming serialize.py's sink emits), and
    the aggregate hash-matches the oracle reading the source parquet —
    proving the format conversion and the reader's schema inference
    lose nothing. Staged once per sf_dir under the system tmp."""
    import hashlib
    import os
    import tempfile

    from lakeapi_spark.sources.readers import read_source

    src = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_xml_orders_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if not os.path.isdir(dest):
        src.write.mode("overwrite").options(rootTag="data", rowTag="row").format(
            "xml"
        ).save(dest)
    df = read_source(spark, dest, "xml")
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec("o_totalprice")), 2).cast("double").alias("sum_total"),
    )


@register(
    "theil_sen_revenue_trend",
    """
    WITH monthly AS (
      SELECT n_name,
             (CAST(year(o_orderdate) AS BIGINT) - 1992) * 12 + month(o_orderdate) - 1 AS month_idx,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.n_name,
             (b.rev - a.rev) / CAST(b.month_idx - a.month_idx AS DOUBLE) AS s
      FROM monthly a JOIN monthly b
        ON a.n_name = b.n_name AND a.month_idx < b.month_idx
    ), ranked AS (
      SELECT n_name, s,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY n_name) AS c
      FROM pairs
    ), slope AS (
      SELECT n_name, CAST(MAX(c) AS BIGINT) AS n_pairs,
             CAST(ROUND(AVG(s), 6) AS DOUBLE) + 0.0 AS slope
      FROM ranked WHERE rn IN ((c + 1) // 2, (c + 2) // 2)
      GROUP BY n_name
    ), resid AS (
      SELECT m.n_name, sl.n_pairs, sl.slope,
             m.rev - sl.slope * m.month_idx AS r
      FROM monthly m JOIN slope sl ON m.n_name = sl.n_name
    ), rr AS (
      SELECT n_name, n_pairs, slope, r,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY r) AS rn,
             COUNT(*) OVER (PARTITION BY n_name) AS c
      FROM resid
    )
    SELECT n_name, n_pairs, slope,
           CAST(ROUND(AVG(r), 6) AS DOUBLE) + 0.0 AS intercept
    FROM rr WHERE rn IN ((c + 1) // 2, (c + 2) // 2)
    GROUP BY n_name, n_pairs, slope
    """,
    bench=True,
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Theil–Sen robust trend of monthly revenue — the
    outlier-immune twin of trend_monthly_revenue_nation's OLS fit
    (operators/stats.theil_sen_trend). The pair self-join is quadratic
    only in PERIODS (80 months -> 3,160 pairs/nation), never the fact
    table; medians are exact rank-picked values, identical in both
    engines by construction."""
    from lakeapi_spark.operators.stats import theil_sen_trend

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    month_idx = (
        (F.year("o_orderdate").cast("long") - 1992) * 12 + F.month("o_orderdate") - 1
    )
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", month_idx.alias("month_idx"))
        .agg(money_sum(dec("o_totalprice")).alias("rev"))
    )
    return theil_sen_trend(monthly, ["n_name"], "month_idx", "rev")


@register(
    "ann_hard_negatives",
    _EMB_DOT
    + """
    , lab AS (SELECT vec_id, label FROM embeddings)
    , q AS (SELECT vec_id, i, val FROM x WHERE vec_id <= 4)
    , d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.val*c.val) AS dot
      FROM q JOIN x c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, lq.label AS query_label, neighbor_id,
             lc.label AS neg_label,
             ROUND(dot/(nq.nrm*nc.nrm), 4) AS cosine
      FROM d
      JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = neighbor_id
      JOIN lab lq ON lq.vec_id = query_id JOIN lab lc ON lc.vec_id = neighbor_id
      WHERE lq.label <> lc.label
    )
    SELECT query_id, query_label, neighbor_id, neg_label, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives): per
    query vector, the 10 most-similar corpus vectors with a DIFFERENT
    label — the confusable examples a contrastive loss learns from.
    Brute-force exact here (the oracle-checkable baseline); the same
    LSH/IVF candidate generators swap in at corpus scale."""
    from lakeapi_spark.operators.similarity import hard_negatives

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    out = hard_negatives(e, q, "vec_id", "embedding", "label", k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "feature_hash_docs",
    """
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    )
    SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS idx,
           COUNT(*) AS cnt
    FROM t GROUP BY 1, 2
    """,
    bench=True,
)
def feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse bag-of-words (operators/text.
    feature_hash_counts): token occurrences -> 1024 hash buckets ->
    per-doc bucket counts, no vocabulary fit pass or driver state —
    the unbounded-vocab featurizer for 100 TB corpora. The portable
    md5-derived index means DuckDB re-derives every bucket exactly."""
    from lakeapi_spark.operators.text import feature_hash_counts

    d = table(spark, sf_dir, "documents")
    return feature_hash_counts(d, "doc_id", "text", dim=1024).withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "lpa_communities_copurchase",
    """
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    po AS (
      SELECT DISTINCT a.o AS o, a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ), e0 AS (
      SELECT u, v FROM po GROUP BY u, v HAVING COUNT(*) >= 2
    ), ed AS (
      SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v AS a, u AS b FROM e0
    ), l0 AS (
      SELECT DISTINCT a AS node, a AS label FROM ed
    ), c1 AS (
      SELECT ed.a AS node, l0.label, COUNT(*) AS c
      FROM ed JOIN l0 ON l0.node = ed.b GROUP BY 1, 2
    ), l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM c1) WHERE rn = 1
    ), c2 AS (
      SELECT ed.a AS node, l1.label, COUNT(*) AS c
      FROM ed JOIN l1 ON l1.node = ed.b GROUP BY 1, 2
    ), l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM c2) WHERE rn = 1
    ), c3 AS (
      SELECT ed.a AS node, l2.label, COUNT(*) AS c
      FROM ed JOIN l2 ON l2.node = ed.b GROUP BY 1, 2
    ), l3 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM c3) WHERE rn = 1
    )
    SELECT label AS community, COUNT(*) AS n_members
    FROM l3 GROUP BY 1
    """,
)
def lpa_communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the strong co-purchase graph via 3 rounds
    of synchronous label propagation (operators/graph.
    label_propagation) — finer-grained than connected components (a
    bridge edge no longer fuses cohorts). Deterministic mode-with-min-
    tie-break updates let the oracle unroll the identical 3 rounds in
    SQL. Output: community label -> member count."""
    from lakeapi_spark.operators.graph import label_propagation

    edges = _strong_copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=3)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@register(
    "next_event_training_pairs",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), ctx AS (
      SELECT user_id, rn AS seq_idx, event_type AS next_event,
             list(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
             ) AS c
      FROM ev
    )
    SELECT user_id, seq_idx, array_to_string(c, '>') AS context, next_event
    FROM ctx WHERE seq_idx >= 2
    """,
)
def next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model training-data export: every (context -> next)
    supervision pair from per-user event streams — context is the
    up-to-3 preceding event types in order, the label is the current
    one. One window pass, partitioned by user: the per-user total
    order (ts, event_id) makes the frame contents — and therefore the
    exported dataset — bit-identical in any engine. At 100 TB this
    shuffles once on user_id and streams; the context never
    materializes beyond the frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events")
    out = e.select(
        "user_id",
        F.row_number().over(w).alias("seq_idx"),
        F.col("event_type").alias("next_event"),
        F.array_join(
            F.collect_list("event_type").over(w.rowsBetween(-3, -1)), ">"
        ).alias("context"),
    )
    return out.filter(F.col("seq_idx") >= 2).select(
        "user_id", "seq_idx", "context", "next_event"
    )


@register(
    "roc_auc_value_purchase",
    """
    WITH e AS (
      SELECT CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS INT) AS dow,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), h AS (
      SELECT dow, s, COUNT(*) AS n, SUM(y) AS p FROM e GROUP BY 1, 2
    ), c AS (
      SELECT dow, n, p,
             COALESCE(SUM(n) OVER (PARTITION BY dow ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      FROM h
    ), a AS (
      SELECT dow, CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(n) - SUM(p) AS BIGINT) AS n_neg,
             SUM(p * (2 * bef + n + 1)) AS r2
      FROM c GROUP BY 1
    )
    SELECT dow, n_pos, n_neg,
           CAST(ROUND(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                      / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS DOUBLE) + 0.0 AS auc
    FROM a WHERE n_pos > 0 AND n_neg > 0
    """,
)
def roc_auc_value_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of event value predicting 'is a purchase', per
    epoch-day-of-week bucket (operators/stats.roc_auc) — the
    model/eval primitive a training pipeline runs on every scored
    column. The Mann-Whitney rank-sum stays integer until one final
    division; no per-row ranks ever materialize (per-score histogram +
    domain-windowed cumulative)."""
    from lakeapi_spark.operators.stats import roc_auc

    e = table(spark, sf_dir, "events").select(
        (
            F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long") % 7
        ).cast("int").alias("dow"),
        F.round(F.col("value") * 100, 0).cast("long").alias("s"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return roc_auc(e, ["dow"], "s", "y")


@register(
    "isotonic_calibration_value",
    """
    WITH e AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), mx AS (SELECT MAX(cents) AS mc FROM e),
    binned AS (
      SELECT (e.cents * 20) // (mx.mc + 1) AS b,
             CAST(SUM(e.y) AS BIGINT) AS p, CAST(COUNT(*) AS BIGINT) AS n
      FROM e, mx GROUP BY 1
    ), pre AS (
      SELECT b, p, n,
             SUM(p) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
             SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
      FROM binned
    ), pj AS (SELECT b AS jb, cp - p AS cpj, cn - n AS cnj FROM pre),
    pk AS (SELECT b AS kb, cp AS cpk, cn AS cnk FROM pre),
    tri AS (
      SELECT i.b, i.p, i.n, pj.jb,
             CAST(pk.cpk - pj.cpj AS DOUBLE) / CAST(pk.cnk - pj.cnj AS DOUBLE) AS m
      FROM pre i JOIN pj ON pj.jb <= i.b JOIN pk ON pk.kb >= i.b
    ), inn AS (
      SELECT b, p, n, jb, MIN(m) AS mn FROM tri GROUP BY 1, 2, 3, 4
    ), iso AS (
      SELECT b, p, n, MAX(mn) AS v FROM inn GROUP BY 1, 2, 3
    )
    SELECT b AS bin, n, p AS pos,
           ROUND(CAST(p AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS raw_rate,
           ROUND(v, 6) + 0.0 AS iso_rate
    FROM iso
    """,
)
def isotonic_calibration_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of purchase rate against event
    value over 20 fixed-width bins (operators/stats.
    isotonic_fit_minimax) — the nonparametric calibrator that beats
    Platt scaling when the score-probability relation is monotone but
    not sigmoid. Computed exactly through the minimax identity rather
    than a sequential PAV loop: the corpus collapses to the bin
    relation first, so the cubic-in-bins work is constant; the fit is
    differential-tested against classic PAV in the repo suite."""
    from lakeapi_spark.operators.stats import isotonic_fit_minimax

    e = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    mx = e.agg(F.max("cents").alias("mc"))
    binned = (
        e.crossJoin(F.broadcast(mx))
        .select(F.expr("(cents * 20) div (mc + 1)").alias("b"), "y")
        .groupBy("b")
        .agg(F.sum("y").alias("p"), F.count(F.lit(1)).alias("n"))
    )
    return isotonic_fit_minimax(binned, "b", "p", "n")


@register(
    "grouped_split_assignment",
    """
    WITH ua AS (
      SELECT DISTINCT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    ), j AS (
      SELECT e.user_id, e.event_id, ua.split FROM events e JOIN ua USING (user_id)
    ), per_user AS (
      SELECT user_id, COUNT(DISTINCT split) AS n_splits FROM j GROUP BY 1
    )
    SELECT j.split, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user WHERE n_splits > 1)
             AS leaked_users
    FROM j GROUP BY 1
    """,
)
def grouped_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split — the split a recommender or
    per-user model must use: the hash unit is the USER, so every event
    of a user lands in one split and cross-split leakage through
    shared users is structurally impossible. The readout publishes
    per-split volumes plus a leakage CERTIFICATE (users appearing in
    more than one split — zero by construction, and verified from the
    data rather than asserted). Deterministic md5 assignment: no
    stored split column, stable under appends; one broadcast-sized
    user relation joins back to the fact table."""
    from lakeapi_spark.operators.text import portable_hash60

    e = table(spark, sf_dir, "events")
    bucket = portable_hash60(F.col("user_id").cast("string")) % 10
    ua = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(bucket < 8, F.lit("train"))
            .when(bucket == 8, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    j = e.select("user_id", "event_id").join(F.broadcast(ua), "user_id")
    leaked = (
        j.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("leaked_users"))
    )
    return (
        j.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .crossJoin(F.broadcast(leaked))
        .select("split", "n_events", "n_users", "leaked_users")
    )


@register(
    "cv_fold_auc",
    """
    WITH e AS (
      SELECT CAST(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 5 AS INT) AS fold,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), h AS (
      SELECT fold, s, COUNT(*) AS n, SUM(y) AS p FROM e GROUP BY 1, 2
    ), c AS (
      SELECT fold, n, p,
             COALESCE(SUM(n) OVER (PARTITION BY fold ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      FROM h
    ), a AS (
      SELECT fold, CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(n) - SUM(p) AS BIGINT) AS n_neg,
             SUM(p * (2 * bef + n + 1)) AS r2
      FROM c GROUP BY 1
    )
    SELECT fold, n_pos, n_neg,
           CAST(ROUND(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                      / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS DOUBLE) + 0.0 AS auc
    FROM a WHERE n_pos > 0 AND n_neg > 0
    """,
)
def cv_fold_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation harness readout: 5 hash-assigned folds (the
    portable md5 of the event id — deterministic, engine-identical,
    no stored split column) each scored with the exact integer
    Mann-Whitney ROC-AUC. The spread across folds is the variance
    estimate an eval pipeline reports next to the point metric; folds
    land once at the histogram groupBy, so the whole readout costs
    the same one shuffle as a single AUC."""
    from lakeapi_spark.operators.stats import roc_auc
    from lakeapi_spark.operators.text import portable_hash60

    e = table(spark, sf_dir, "events").select(
        (portable_hash60(F.col("event_id").cast("string")) % 5)
        .cast("int")
        .alias("fold"),
        F.round(F.col("value") * 100, 0).cast("long").alias("s"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return roc_auc(e, ["fold"], "s", "y")


@register(
    "pr_auc_value_purchase",
    """
    WITH e AS (
      SELECT CAST(CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS INT) AS dow,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), h AS (
      SELECT dow, s, COUNT(*) AS n, SUM(y) AS p FROM e GROUP BY 1, 2
    ), c AS (
      SELECT dow, n, p,
             SUM(p) OVER (PARTITION BY dow ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
             SUM(n) OVER (PARTITION BY dow ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
      FROM h
    ), a AS (
      SELECT dow, CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n,
             SUM(p * ((cp * 1000000000000) // cn)) AS num
      FROM c GROUP BY 1
    )
    SELECT dow, n_pos, n,
           CAST(ROUND(CAST(num AS DOUBLE)
                      / CAST(n_pos * 1000000000000 AS DOUBLE), 6) AS DOUBLE) + 0.0 AS ap
    FROM a WHERE n_pos > 0
    """,
    bench=True,
)
def pr_auc_value_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware average precision (PR-AUC) of event value
    predicting 'is a purchase', per epoch-day-of-week bucket
    (operators/stats.average_precision) — the imbalance-robust
    companion to roc_auc_value_purchase: ROC-AUC saturates when
    negatives dominate, the precision-recall step area does not. The
    per-threshold precision quotient runs in fixed-point integer
    division so the sum is bit-identical cross-engine; no per-row
    ranks materialize."""
    from lakeapi_spark.operators.stats import average_precision

    e = table(spark, sf_dir, "events").select(
        (
            F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long") % 7
        ).cast("int").alias("dow"),
        F.round(F.col("value") * 100, 0).cast("long").alias("s"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return average_precision(e, ["dow"], "s", "y")


@register(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), g AS (
      SELECT MIN(d) AS mn, MAX(d) AS mx,
             CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x*x) AS BIGINT) AS q
      FROM daily
    ), ks AS (SELECT unnest(range(1, 8)) AS k),
    a AS (
      SELECT ks.k, CAST(SUM(da.x * db.x) AS BIGINT) AS ak
      FROM ks JOIN daily da ON TRUE JOIN daily db ON db.d = da.d + ks.k
      GROUP BY 1
    ), ht AS (
      SELECT ks.k,
             CAST(COALESCE(SUM(CASE WHEN daily.d < g.mn + ks.k THEN daily.x END), 0) AS BIGINT) AS head,
             CAST(COALESCE(SUM(CASE WHEN daily.d > g.mx - ks.k THEN daily.x END), 0) AS BIGINT) AS tail
      FROM ks CROSS JOIN g JOIN daily ON TRUE GROUP BY 1
    )
    SELECT a.k AS lag, CAST(g.mx - g.mn + 1 - a.k AS BIGINT) AS n_pairs,
           CAST(ROUND(
             (CAST(g.mx - g.mn + 1 AS DOUBLE) * (g.mx - g.mn + 1) * a.ak
              - CAST(g.mx - g.mn + 1 AS DOUBLE) * g.s
                * (2 * CAST(g.s AS DOUBLE) - ht.head - ht.tail)
              + (CAST(g.mx - g.mn + 1 AS DOUBLE) - a.k) * g.s * g.s)
             / (CAST(g.mx - g.mn + 1 AS DOUBLE) * (g.mx - g.mn + 1) * g.q
                - CAST(g.mx - g.mn + 1 AS DOUBLE) * g.s * g.s),
             6) AS DOUBLE) + 0.0 AS acf
    FROM a JOIN ht ON ht.k = a.k CROSS JOIN g
    """,
    bench=True,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the zero-filled daily order-revenue series at
    lags 1..7 (operators/stats.acf_zero_filled) — the seasonality probe
    a forecasting pipeline runs first: a weekly cycle shows as a lag-7
    spike, drift as slow decay. Revenue quantizes to whole currency
    units, keeping the sum-of-squares and lag products exact int64 at
    the tested scales (the quantization unit is the dial: coarsen
    dollars to tens/hundreds as the fact table grows — the estimator
    is scale-free); the single final double expression is derived from
    exact integers in the same written order in both engines."""
    from lakeapi_spark.operators.stats import acf_zero_filled

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_timestamp("o_orderdate").cast("double") / 86400)
            .cast("long")
            .alias("d")
        )
        .agg(F.sum(F.round(F.col("o_totalprice"), 0).cast("long")).alias("x"))
    )
    return acf_zero_filled(daily, "d", "x", max_lag=7)


def _permutation_test_oracle(n_reps: int = 60) -> str:
    """DuckDB twin of operators/stats.permutation_test_means over the
    purchase-vs-view event values: same md5 row seed, same LCG jump
    literals, same exact-integer Bernoulli assignment."""
    from lakeapi_spark.operators.stats import _lcg_jumps

    m_mod = 1 << 31
    jumps = _lcg_jumps(n_reps)
    a_list = ", ".join(str(a) for a, _ in jumps)
    c_list = ", ".join(str(c) for _, c in jumps)
    return f"""
    WITH e AS (
      SELECT event_id AS id, CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
      FROM events WHERE event_type IN ('purchase', 'view')
    ), tot AS (
      SELECT CAST(SUM(g) AS BIGINT) AS n_a, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 1 THEN x END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN g = 0 THEN x END) AS BIGINT) AS sb
      FROM e
    ), obs AS (
      SELECT n_a, n - n_a AS n_b,
             ABS(CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / (n - n_a)) AS d
      FROM tot
    ), seeded AS (
      SELECT x,
             CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {m_mod} AS h0
      FROM e
    ), r AS (
      SELECT x, h0, unnest(range(0, {n_reps})) AS b FROM seeded
    ), asn AS (
      SELECT b, x,
             ((([{a_list}])[CAST(b AS INT) + 1] * h0
               + ([{c_list}])[CAST(b AS INT) + 1]) % {m_mod}) * tot.n
               < tot.n_a * {m_mod} AS in_a
      FROM r, tot
    ), rep AS (
      SELECT b,
             CAST(SUM(CASE WHEN in_a THEN x END) AS BIGINT) AS sa,
             COUNT(CASE WHEN in_a THEN 1 END) AS na,
             CAST(SUM(CASE WHEN NOT in_a THEN x END) AS BIGINT) AS sb,
             COUNT(CASE WHEN NOT in_a THEN 1 END) AS nb
      FROM asn GROUP BY b HAVING na > 0 AND nb > 0
    ), cmp AS (
      SELECT CAST(SUM(CASE WHEN ABS(CAST(rep.sa AS DOUBLE) / rep.na
                                 - CAST(rep.sb AS DOUBLE) / rep.nb) >= obs.d
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
             CAST(COUNT(*) AS BIGINT) AS n_used
      FROM rep, obs
    )
    SELECT obs.n_a, obs.n_b,
           ROUND(obs.d, 6) + 0.0 AS diff_obs,
           cmp.n_used AS n_reps, cmp.n_ge,
           ROUND(CAST(cmp.n_ge + 1 AS DOUBLE) / (cmp.n_used + 1), 6) + 0.0 AS p_value
    FROM obs, cmp
    """


@register("permutation_test_value", _permutation_test_oracle())
def permutation_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assumption-free permutation test: are purchase event values
    drawn from the same distribution as view values? 60 derandomized
    label permutations (md5 row seed + LCG jump literals, Bernoulli
    assignment as an exact integer cross-multiplication) re-compute
    the mean difference under H0; the add-one p-value falls out of an
    order comparison on engine-identical doubles
    (operators/stats.permutation_test_means)."""
    from lakeapi_spark.operators.stats import permutation_test_means

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("x"),
            (F.col("event_type") == "purchase").cast("int").alias("g"),
        )
    )
    return permutation_test_means(e, "event_id", "x", "g", n_reps=60)


def _bootstrap_ci_oracle(n_reps: int = 40, trim: int = 1) -> str:
    """DuckDB twin of operators/stats.bootstrap_mean_ci over orders:
    same md5 row seed, same precomputed LCG jump literals, same
    Poisson(1) thresholds — bit-identical resamples."""
    a_mul, c_add, m_mod = 1103515245, 12345, 1 << 31
    A, C = 1, 0
    As, Cs = [], []
    for _ in range(n_reps):
        A = (a_mul * A) % m_mod
        C = (a_mul * C + c_add) % m_mod
        As.append(A)
        Cs.append(C)
    a_list = ", ".join(map(str, As))
    c_list = ", ".join(map(str, Cs))
    lo_rank = trim + 1
    return f"""
    WITH o AS (
      SELECT o_orderkey AS id, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x
      FROM orders
    ), seeded AS (
      SELECT x,
             CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {m_mod} AS h0
      FROM o
    ), r AS (
      SELECT x, h0, unnest(range(0, {n_reps})) AS b FROM seeded
    ), hu AS (
      SELECT b, x,
             (([{a_list}])[CAST(b AS INT) + 1] * h0
              + ([{c_list}])[CAST(b AS INT) + 1]) % {m_mod} AS hb
      FROM r
    ), w AS (
      SELECT b, x,
             CASE WHEN hb / {m_mod}.0 < 0.36787944117144233 THEN 0
                  WHEN hb / {m_mod}.0 < 0.7357588823428847 THEN 1
                  WHEN hb / {m_mod}.0 < 0.919698602928606 THEN 2
                  WHEN hb / {m_mod}.0 < 0.9810118431238462 THEN 3
                  WHEN hb / {m_mod}.0 < 0.9963401531726563 THEN 4
                  WHEN hb / {m_mod}.0 < 0.999405815182418 THEN 5
                  WHEN hb / {m_mod}.0 < 0.9999167588507119 THEN 6
                  WHEN hb / {m_mod}.0 < 0.9999897508033253 THEN 7
                  ELSE 8 END AS w
      FROM hu
    ), m AS (
      SELECT b, CAST(SUM(w * x) AS BIGINT) AS s, CAST(SUM(w) AS BIGINT) AS n
      FROM w GROUP BY b HAVING SUM(w) > 0
    ), mm AS (
      SELECT b, ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_b
      FROM m
    ), rk AS (
      SELECT mean_b,
             ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rnk,
             ROW_NUMBER() OVER (ORDER BY mean_b DESC, b DESC) AS rnk_d
      FROM mm
    ), full_m AS (
      SELECT ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0, 6)
               + 0.0 AS mean_full
      FROM o
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mm) AS n_replicates,
           (SELECT mean_b + 0.0 FROM rk WHERE rnk = {lo_rank}) AS ci_lo,
           (SELECT mean_full FROM full_m) AS mean_full,
           (SELECT mean_b + 0.0 FROM rk WHERE rnk_d = {lo_rank}) AS ci_hi
    """


@register(
    "bootstrap_ci_order_value",
    _bootstrap_ci_oracle(),
    bench=True,
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% percentile-bootstrap CI for the mean order value via the
    derandomized online Poisson bootstrap (operators/stats.
    bootstrap_mean_ci): 40 replicates whose per-row multiplicities are
    Poisson(1) draws seeded from the portable md5 of the order key and
    jumped per-replicate with precomputed LCG literals, so both
    engines materialize identical resamples and the interval is
    value-exact — the uncertainty primitive every ad-hoc mean in a
    dashboard should carry. One md5 per row (not per replicate); rows
    explode x40 but never shuffle — the only exchange is the 40-group
    partial-aggregated sum."""
    from lakeapi_spark.operators.stats import bootstrap_mean_ci

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
    )
    return bootstrap_mean_ci(
        o, "o_orderkey", "x", n_reps=40, trim=1, unit=100.0
    )


@register(
    "calibration_value_purchase",
    """
    WITH b AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS sq,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             NTILE(10) OVER (ORDER BY value, event_id) AS bin
      FROM events
    )
    SELECT bin, COUNT(*) AS n,
           CAST(ROUND(CAST(SUM(sq) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE), 6) AS DOUBLE) + 0.0 AS mean_score,
           CAST(ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) + 0.0 AS pos_rate,
           CAST(ROUND(ABS(CAST(SUM(sq) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE)
                    - CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6) AS DOUBLE) + 0.0 AS abs_gap
    FROM b GROUP BY 1
    """,
)
def calibration_value_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for event value vs purchase outcome
    (operators/stats.calibration_bins): 10 equal-count bins over the
    (value, event_id) total order, per-bin mean score vs positive rate
    and the |gap| terms of expected calibration error — all exact
    integer ratios."""
    from lakeapi_spark.operators.stats import calibration_bins

    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return calibration_bins(e, "value", "y", ["event_id"], n_bins=10)


@register(
    "readability_flesch_docs",
    """
    WITH t AS (
      SELECT doc_id, text,
             CAST(len(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_words
      FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    )
    SELECT doc_id, n_words,
           GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
           CAST(ROUND(206.835
                - 1.015 * (CAST(n_words AS DOUBLE)
                           / CAST(GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS DOUBLE))
                - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                          / CAST(n_words AS DOUBLE)), 4) AS DOUBLE) + 0.0 AS flesch
    FROM t
    """,
)
def readability_flesch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per document (operators/text.
    readability_scores) — the classic quality-mix signal for curriculum
    ordering and audience filtering. Three dialect-neutral regex counts
    and one fixed IEEE expression; map-side only."""
    from lakeapi_spark.operators.text import readability_scores

    d = table(spark, sf_dir, "documents")
    return readability_scores(d, "doc_id", "text").withColumnRenamed("id", "doc_id")


@register(
    "decontaminate_canary_hits",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t
      FROM documents
    ), canaries AS (
      SELECT DISTINCT array_to_string(t[1:5], ' ') AS canary
      FROM toks WHERE doc_id % 11 = 0 AND len(t) >= 5
    )
    SELECT d.doc_id, COUNT(*) AS n_canaries_hit
    FROM documents d
    JOIN canaries c
      ON contains(regexp_replace(lower(d.text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), c.canary)
    WHERE d.doc_id % 11 <> 0
    GROUP BY 1
    """,
)
def decontaminate_canary_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (operators/contamination.
    canary_hits): every 11th doc stands in for the eval suite and
    contributes its first-5-token canary string; training docs that
    contain any canary verbatim are flagged with their hit count —
    the copy-paste leak that paraphrase-tolerant n-gram overlap
    measures but a single contains() proves."""
    from lakeapi_spark.operators.contamination import canary_hits

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 11 == 0)
    train = d.filter(F.col("doc_id") % 11 != 0)
    return canary_hits(train, bench, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _lsh_incremental_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once fixture proving CHANGE-FEED maintenance of the LSH
    index: a CDF-enabled delta table of documents goes through four
    versions — v0 CREATE with doc_id%5 != 4, v1 APPEND the rest, v2
    UPDATE doc_id%7 == 0 to doubled text, v3 DELETE doc_id%13 == 0 —
    with the index built ONCE at v0 and then advanced purely from
    delta_changes (operators/incremental.lsh_index_refresh): only the
    appended/updated/deleted ids pay shingle+signature cost. Every
    commit is a deterministic function of the documents table, so
    DuckDB re-derives the final state for the oracle. Returns
    (table_path, index_path)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.operators.incremental import (
        lsh_index_build,
        lsh_index_refresh,
        lsh_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_lsh_incr_" + hashlib.md5((sf_dir + ":v2").encode()).hexdigest()[:12],
    )
    tbl, idx = os.path.join(dest, "docs"), os.path.join(dest, "lsh_index")
    marker = os.path.join(dest, "_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        write_delta(
            d.filter(F.col("doc_id") % 5 != 4),
            tbl,
            mode="append",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        lsh_index_build(spark, tbl, idx, "doc_id", "text")
        write_delta(d.filter(F.col("doc_id") % 5 == 4), tbl, mode="append")
        update_delta(
            spark, tbl, {"text": "concat(text, ' ', text)"}, "doc_id % 7 = 0"
        )
        delete_delta(spark, tbl, "doc_id % 13 = 0")
        lsh_index_refresh(spark, tbl, idx, "doc_id", "text")
        if lsh_index_version(spark, idx) != 3:
            raise RuntimeError(f"{idx}: index fixture is not at version 3")
        with open(marker, "w") as f:
            f.write("v3\n")
    return tbl, idx


@register(
    "dedup_lsh_incremental_index",
    _minhash_oracle(
        docs_sql="""
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 0
        """
    ),
)
def dedup_lsh_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs served from the INCREMENTALLY-MAINTAINED LSH
    index (operators/incremental.lsh_index_*): the index was built at
    table version 0 and advanced across an append, an update, and a
    delete purely from the change feed — text work proportional to
    churn, never the corpus — yet the served pairs hash-match the
    oracle recomputing MinHash-LSH from scratch on the FINAL table
    state. The lakehouse analogue of keeping a search index warm under
    a mutating table (the BM25/IVF persisted indexes rebuild per
    version; this one is maintained)."""
    from lakeapi_spark.operators.incremental import lsh_index_pairs

    _, idx = _lsh_incremental_fixture(spark, sf_dir)
    return lsh_index_pairs(spark, idx)


@register(
    "search_more_like_this",
    """
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS toks
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      GROUP BY 1, 2
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    qv AS (
      SELECT tf.tok, tf.tf AS qtf, dfq.df
      FROM tf JOIN dfq ON dfq.tok = tf.tok WHERE tf.doc_id = 0
    ), contrib AS (
      SELECT t.doc_id,
             CAST(ROUND(
               (qv.qtf * LN(CAST(nd.n AS DOUBLE) / qv.df))
               * (t.tf * LN(CAST(nd.n AS DOUBLE) / qv.df)) * 1000000.0, 0)
             AS BIGINT) AS c
      FROM tf t JOIN qv ON qv.tok = t.tok, nd
      WHERE t.doc_id <> 0
    ), scored AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS s FROM contrib GROUP BY 1
    )
    SELECT doc_id,
           CAST(ROUND(CAST(s AS DOUBLE) / 1000000.0, 4) AS DOUBLE) + 0.0 AS mlt_score,
           CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 20
    """,
)
def search_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'More like this' — top-20 documents by TF-IDF dot product with
    a query DOCUMENT (doc 0), the zero-setup related-content /
    find-similar primitive when no embeddings exist. Candidates come
    from the postings join on the QUERY DOC's terms only (never an
    all-pairs scan); each term contribution rounds to fixed-point
    int64 BEFORE the per-doc sum, so the ranking is an exact integer
    sort with no float-accumulation-order hazard — the rrf_fuse
    discipline applied to weighted retrieval. One tokenize pass feeds
    tf and df; the query vector is broadcast-sized."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    toks = F.split(
        F.regexp_replace(F.lower(F.col("text")), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+"
    )
    base = d.select("doc_id", toks.alias("toks"))
    tf = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).persist()
    try:
        n_docs = base.count()
        dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        qv = (
            tf.filter(F.col("doc_id") == 0)
            .join(dfq, "tok")
            .select("tok", F.col("tf").alias("qtf"), "df")
        )
        idf = F.log(F.lit(float(n_docs)) / F.col("df"))
        contrib = (
            tf.filter(F.col("doc_id") != 0)
            .join(F.broadcast(qv), "tok")
            .select(
                "doc_id",
                F.round(
                    (F.col("qtf") * idf) * (F.col("tf") * idf) * 1000000.0, 0
                )
                .cast("long")
                .alias("c"),
            )
        )
        scored = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        w = W.orderBy(F.col("s").desc(), "doc_id")
        out = (
            scored.orderBy(F.col("s").desc(), "doc_id")
            .limit(20)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select(
                "doc_id",
                (F.round(F.col("s").cast("double") / 1000000.0, 4) + 0.0).alias(
                    "mlt_score"
                ),
                "rank",
            )
        )
        return out.localCheckpoint(eager=True)  # sever persisted lineage
    finally:
        tf.unpersist()


def _bm25_incremental_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once fixture proving CHANGE-FEED maintenance of the BM25
    index — the same four-version document history as
    _lsh_incremental_fixture (v0 CREATE %5!=4, v1 APPEND the rest, v2
    UPDATE %7==0 to doubled text, v3 DELETE %13==0) with the index
    built ONCE at v0 and advanced purely from delta_changes
    (operators/incremental.bm25_index_refresh_delta): only churned
    docs re-tokenize; the term relation re-derives from the
    maintained postings. Returns (table_path, index_path)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from lakeapi_spark.operators.incremental import (
        bm25_index_build_delta,
        bm25_index_refresh_delta,
        bm25_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_bm25_incr_" + hashlib.md5((sf_dir + ":v2").encode()).hexdigest()[:12],
    )
    tbl, idx = os.path.join(dest, "docs"), os.path.join(dest, "bm25_index")
    marker = os.path.join(dest, "_done")
    if not os.path.exists(marker):
        if os.path.isdir(dest):  # stale partial build: start over
            shutil.rmtree(dest)
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        write_delta(
            d.filter(F.col("doc_id") % 5 != 4),
            tbl,
            mode="append",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        bm25_index_build_delta(spark, tbl, idx, "doc_id", "text")
        write_delta(d.filter(F.col("doc_id") % 5 == 4), tbl, mode="append")
        update_delta(
            spark, tbl, {"text": "concat(text, ' ', text)"}, "doc_id % 7 = 0"
        )
        delete_delta(spark, tbl, "doc_id % 13 = 0")
        bm25_index_refresh_delta(spark, tbl, idx, "doc_id", "text")
        if bm25_index_version(spark, idx) != 3:
            raise RuntimeError(f"{idx}: index fixture is not at version 3")
        with open(marker, "w") as f:
            f.write("v3\n")
    return tbl, idx


@register(
    "search_bm25_incremental",
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 0
    ), base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM docs
    ),
    dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT t.doc_id,
           ROUND(SUM(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1)
                     * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4)
             AS bm25_score
    FROM tf t
    JOIN dfq q ON t.tok = q.tok
    JOIN dl l ON l.doc_id = t.doc_id
    CROSS JOIN stats s
    GROUP BY t.doc_id
    """,
)
def search_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scores served from the CHANGE-FEED-MAINTAINED index
    (operators/incremental.bm25_index_*): built at table version 0,
    advanced across an append, an update, and a delete purely from
    delta_changes — tokenize cost proportional to churn, never the
    corpus — yet scores hash-match the oracle recomputing BM25 from
    scratch on the FINAL table state. Completes the maintained-index
    trilogy with dedup_lsh_incremental_index and
    ann_ivf_cdf_refresh_topk."""
    from lakeapi_spark.operators.incremental import bm25_index_scores_delta

    _, idx = _bm25_incremental_fixture(spark, sf_dir)
    return bm25_index_scores_delta(spark, idx, "spark window").withColumnRenamed(
        "__id", "doc_id"
    )


@register(
    "ndcg_search_tf",
    """
    WITH base AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'window') GROUP BY 1, 2
    ), r AS (
      SELECT tok, doc_id, tf, doc_id % 4 AS rel,
             ROW_NUMBER() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id % 4 DESC, doc_id) AS ri
      FROM tf
    ), g AS (
      SELECT tok,
             CASE WHEN ra <= 10
                  THEN CAST(ROUND((POW(2.0, rel) - 1) / log2(ra + 1), 9) AS DECIMAL(28,12))
                  ELSE CAST(0 AS DECIMAL(28,12)) END AS dg,
             CASE WHEN ri <= 10
                  THEN CAST(ROUND((POW(2.0, rel) - 1) / log2(ri + 1), 9) AS DECIMAL(28,12))
                  ELSE CAST(0 AS DECIMAL(28,12)) END AS ig
      FROM r
    ), a AS (
      SELECT tok, CAST(SUM(dg) AS DOUBLE) AS dcg, CAST(SUM(ig) AS DOUBLE) AS idcg
      FROM g GROUP BY 1
    )
    SELECT tok AS term,
           CAST(ROUND(dcg, 6) AS DOUBLE) + 0.0 AS dcg,
           CAST(ROUND(idcg, 6) AS DOUBLE) + 0.0 AS idcg,
           CAST(ROUND(dcg / idcg, 6) AS DOUBLE) + 0.0 AS ndcg
    FROM a WHERE idcg > 0
    """,
    bench=True,
)
def ndcg_search_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever ranking quality: NDCG@10 per query term over the
    term-frequency ranking of matching docs, graded relevance = doc_id
    % 4 (the deterministic stand-in for human judgments — the metric
    pipeline is the point). operators/stats.ndcg_at_k: rounded
    per-position terms accumulate in DECIMAL so both engines sum
    identically; log2 ulp differences are absorbed by the round."""
    from lakeapi_spark.operators.stats import ndcg_at_k
    from lakeapi_spark.operators.text import tokens

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin("spark", "window"))
    tf = toks.groupBy("doc_id", F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    scored = tf.withColumn("rel", F.col("doc_id") % 4)
    return ndcg_at_k(scored, ["term"], "tf", "rel", ["doc_id"], k=10)


@register(
    "k_anonymity_customers",
    """
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT floor(c_acctbal / 1000.0)) AS BIGINT) AS n_sensitive,
           COUNT(*) < 10 AS k_violation,
           COUNT(DISTINCT floor(c_acctbal / 1000.0)) < 2 AS l_violation
    FROM customer GROUP BY 1, 2
    """,
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release gate (operators/expectations.k_anonymity_report):
    per (nation, market-segment) quasi-identifier group, row count and
    distinct-sensitive-value count (binned account balance) with the
    k-anonymity (< 10 rows) and l-diversity (< 2 values) violation
    flags a publisher checks before exporting. One partial-agg
    groupBy; the report is |quasi-id combinations|-sized."""
    from lakeapi_spark.operators.expectations import k_anonymity_report

    c = table(spark, sf_dir, "customer")
    return k_anonymity_report(
        c,
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 1000.0),
        k=10,
        l_div=2,
    )


@register(
    "multimodal_jpeg_decode",
    """
    WITH m AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) % 4 + 1 AS bw,
             length(text) % 3 + 1 AS bh
      FROM documents WHERE length(text) > 0
    ), px AS (
      SELECT doc_id, text, n, bw, 8 * bw AS w, 8 * bh AS h,
             unnest(range(0, 64 * bw * bh)) AS i
      FROM m
    ), v AS (
      SELECT doc_id, w, h, i,
             ascii(substr(text,
               CAST((((i // w) // 8) * bw + ((i % w) // 8)) % n AS INT) + 1,
               1)) % 256 AS p
      FROM px
    )
    SELECT doc_id AS id, TRUE AS valid,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_channels, CAST(w * h AS BIGINT) AS n_px,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM((i + 1) * p) AS BIGINT) AS pixel_checksum
    FROM v GROUP BY doc_id, w, h
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real baseline JPEG decode: documents become complete
    valid grayscale JFIFs (standard Annex-K Huffman tables, DC-coded
    flat 8x8 blocks, byte-stuffed entropy data), then jpeg_decode_real
    parses DQT/DHT/SOF0/SOS, Huffman-decodes every block, dequantizes,
    inverse-zigzags, runs a full 8x8 IDCT and reduces the raster to
    integer stats. The oracle re-derives the same stats straight from
    the fixture's block-value rule, so a hash match proves the pixels
    survived Huffman coding + DCT quantization round-trip bit-exactly —
    a real entropy-coded codec, no image library. The PNG twin covers
    filters+deflate; this covers variable-length coding + transform
    coding."""
    from lakeapi_spark.operators.multimodal import (
        attach_real_jpeg_payload,
        jpeg_decode_real,
    )

    d = table(spark, sf_dir, "documents")
    return jpeg_decode_real(attach_real_jpeg_payload(d, "doc_id", "text"))


@register(
    "cuped_value_experiment",
    """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CASE WHEN floor(epoch(ts) / 86400) < 19738
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN floor(epoch(ts) / 86400) >= 19738
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), v AS (
      SELECT variant, COUNT(*) AS n_units,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy
      FROM per_user GROUP BY 1
    ), g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS gsx,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS gsy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS gsxx,
             CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS gsxy
      FROM per_user
    )
    SELECT v.variant, CAST(v.n_units AS BIGINT) AS n_units,
           CAST(ROUND(v.sx / v.n_units, 6) AS DOUBLE) + 0.0 AS mean_pre,
           CAST(ROUND(v.sy / v.n_units, 6) AS DOUBLE) + 0.0 AS mean_post,
           CAST(ROUND(v.sy / v.n_units
                - ((g.n * g.gsxy - g.gsx * g.gsy) / (g.n * g.gsxx - g.gsx * g.gsx))
                  * (v.sx / v.n_units - g.gsx / g.n), 6) AS DOUBLE) + 0.0 AS mean_post_adj,
           CAST(ROUND((g.n * g.gsxy - g.gsx * g.gsy)
                / (g.n * g.gsxx - g.gsx * g.gsx), 6) AS DOUBLE) + 0.0 AS theta
    FROM v CROSS JOIN g
    WHERE g.n * g.gsxx - g.gsx * g.gsx <> 0
    """,
)
def cuped_value_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment readout (operators/stats.cuped_adjusted_means):
    per-user pre-period spend (before epoch-day 19738) is the
    covariate, post-period spend the metric, variant a deterministic
    user split — raw vs variance-adjusted variant means plus the pooled
    theta, all from decimal-exact sums (the group-mean identity means
    no per-unit adjusted column ever materializes)."""
    from lakeapi_spark.operators.stats import cuped_adjusted_means

    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = e.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum(F.when(day < 19738, cents).otherwise(F.lit(0)))
        .cast("double")
        .alias("x"),
        F.sum(F.when(day >= 19738, cents).otherwise(F.lit(0)))
        .cast("double")
        .alias("y"),
    )
    return cuped_adjusted_means(per_user, "variant", "x", "y")


@register(
    "conformal_user_daily_spend",
    """
    WITH daily AS (
      SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y_cents
      FROM events GROUP BY 1, 2
    ), pred AS (
      SELECT user_id,
             CAST(ROUND(CAST(SUM(y_cents) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS DOUBLE) AS pred
      FROM daily WHERE day < 19733 GROUP BY 1
    ), obs AS (
      SELECT CASE WHEN d.day < 19743 THEN 'cal' ELSE 'test' END AS split,
             ABS(CAST(d.y_cents AS DOUBLE) / 100.0 - p.pred) AS r
      FROM daily d JOIN pred p ON d.user_id = p.user_id
      WHERE d.day >= 19733
    ), ncal AS (
      SELECT COUNT(*) AS n_cal,
             CAST(CEIL((COUNT(*) + 1) * 0.9) AS BIGINT) AS k
      FROM obs WHERE split = 'cal'
    ), ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn
      FROM obs WHERE split = 'cal'
    ), q AS (
      SELECT n.n_cal, n.k,
             CAST(ROUND(r.r, 6) AS DOUBLE) + 0.0 AS q_hat
      FROM ranked r CROSS JOIN ncal n
      WHERE r.rn = LEAST(n.k, n.n_cal)
    )
    SELECT q.n_cal, q.k, q.q_hat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN ROUND(o.r, 6) <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(ROUND(CAST(SUM(CASE WHEN ROUND(o.r, 6) <= q.q_hat THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) + 0.0 AS coverage
    FROM obs o CROSS JOIN q
    WHERE o.split = 'test'
    GROUP BY q.n_cal, q.k, q.q_hat
    """,
)
def conformal_user_daily_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (operators/stats.
    conformal_interval_report): each user's train-period mean daily
    spend predicts their later user-days; the conformal half-width is
    the rank-picked k-th smallest calibration |residual|
    (k = ceil((n+1)(1-alpha)), clamped to n_cal for tiny splits), and
    the report checks empirical coverage on the held-out test days —
    the distribution-free uncertainty primitive for any scored
    export."""
    from lakeapi_spark.operators.stats import conformal_interval_report

    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = e.groupBy("user_id", day.alias("day")).agg(
        F.sum(cents).alias("y_cents")
    )
    pred = (
        daily.filter(F.col("day") < 19733)
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum("y_cents").cast("double") / (100.0 * F.count(F.lit(1))), 6
            ).alias("pred")
        )
    )
    obs = (
        daily.filter(F.col("day") >= 19733)
        .join(pred, "user_id")
        .select(
            F.when(F.col("day") < 19743, F.lit("cal"))
            .otherwise(F.lit("test"))
            .alias("split"),
            (F.col("y_cents").cast("double") / 100.0).alias("y"),
            "pred",
        )
    )
    return conformal_interval_report(obs, "split", "y", "pred", alpha=0.1)


@register(
    "seasonal_decompose_dow_events",
    f"""
    WITH d AS (
      SELECT event_type, {_EPOCH} // 86400 AS day,
             SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, day, x,
             COUNT(*) OVER w AS cnt, SUM(x) OVER w AS sw
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, day % 7 AS dow, x - (sw // 7) AS dv
      FROM t WHERE cnt = 7
    ), si AS (
      SELECT event_type, dow, COUNT(*) AS n_days,
             CAST(SUM(dv) // COUNT(*) AS BIGINT) AS s_index
      FROM det GROUP BY 1, 2
    )
    SELECT si.event_type, CAST(si.dow AS BIGINT) AS dow,
           CAST(si.n_days AS BIGINT) AS n_days, si.s_index,
           CAST(SUM(ABS(det.dv - si.s_index)) // si.n_days AS BIGINT)
             AS mean_abs_residual
    FROM det JOIN si USING (event_type, dow)
    GROUP BY si.event_type, si.dow, si.n_days, si.s_index
    """,
)
def seasonal_decompose_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of per-event-type daily value
    (STL-lite): centered 7-observation moving-average TREND (full
    frames only), additive day-of-week index over the detrended
    series, and the mean absolute residual — the number that says how
    much signal is left AFTER trend and weekly seasonality, i.e.
    whether an anomaly detector still has anything to explain. Unlike
    seasonal_dow_index_events (global multiplicative ratio, no trend
    removal) this is per event type and trend-removed, so a series
    that GROWS does not smear its growth into the weekday profile.
    Integer micro-units end-to-end: trend = frame-sum DIV 7, index =
    detrended-sum DIV n, all toward-zero — bit-replayable. Plan: one
    fact aggregate to the (type x day) relation, one partitioned
    rows-frame window over it, two group-sized aggregates."""
    from pyspark.sql.window import Window as _W

    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long")
    daily = (
        e.groupBy("event_type", day.alias("day"))
        .agg(F.sum(F.round(F.col("value") * 1000000, 0).cast("long")).alias("x"))
    )
    w = _W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    det = (
        daily.withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("sw", F.sum("x").over(w))
        .filter(F.col("cnt") == 7)
        .select(
            "event_type",
            (F.col("day") % 7).alias("dow"),
            (F.col("x") - F.expr("sw DIV 7")).alias("dv"),
        )
    )
    si = det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("SUM(dv) DIV COUNT(1)").cast("long").alias("s_index"),
    )
    return (
        det.join(F.broadcast(si), ["event_type", "dow"])
        .groupBy("event_type", "dow", "n_days", "s_index")
        .agg(
            F.expr("SUM(ABS(dv - s_index)) DIV MAX(n_days)")
            .cast("long")
            .alias("mean_abs_residual")
        )
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_days").cast("long").alias("n_days"),
            "s_index",
            "mean_abs_residual",
        )
    )


_SEASONAL_CTE = """
    WITH daily AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    ), g AS (
      SELECT CAST(SUM(CAST(cents AS DECIMAL(28,10))) AS DOUBLE) / (100.0 * COUNT(*)) AS gmean
      FROM daily
    ), dowm AS (
      SELECT CAST(day % 7 AS INT) AS dow, COUNT(*) AS n_days,
             CAST(SUM(CAST(cents AS DECIMAL(28,10))) AS DOUBLE) / (100.0 * COUNT(*)) AS dmean
      FROM daily GROUP BY 1
    )
"""


@register(
    "seasonal_dow_index_events",
    _SEASONAL_CTE
    + """
    SELECT dow, CAST(n_days AS BIGINT) AS n_days,
           CAST(ROUND(dmean, 6) AS DOUBLE) + 0.0 AS dow_mean,
           CAST(ROUND(dmean / g.gmean, 6) AS DOUBLE) + 0.0 AS seasonal_index
    FROM dowm CROSS JOIN g
    """,
)
def seasonal_dow_index_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile of total event value: per epoch
    day-of-week, the mean daily total and its ratio to the overall
    daily mean — the multiplicative seasonal index a monitor divides
    out before alerting (see seasonal_adjusted_anomalies). Daily sums
    are exact integer cents; the two means come from decimal sums so
    the index is one fixed IEEE division in both engines."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = e.groupBy(day.alias("day")).agg(F.sum(cents).alias("cents"))
    g = daily.agg(
        (
            F.sum(F.col("cents").cast("decimal(28,10)")).cast("double")
            / (100.0 * F.count(F.lit(1)))
        ).alias("gmean")
    )
    dowm = daily.groupBy((F.col("day") % 7).cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.col("cents").cast("decimal(28,10)")).cast("double")
            / (100.0 * F.count(F.lit(1)))
        ).alias("dmean"),
    )
    return dowm.crossJoin(F.broadcast(g)).select(
        "dow",
        "n_days",
        (F.round(F.col("dmean"), 6) + 0.0).alias("dow_mean"),
        (F.round(F.col("dmean") / F.col("gmean"), 6) + 0.0).alias("seasonal_index"),
    )


@register(
    "seasonal_adjusted_anomalies",
    _SEASONAL_CTE
    + """
    , adj AS (
      SELECT d.day, ROUND(CAST(d.cents AS DOUBLE) / 100.0 / (m.dmean / g.gmean), 6) AS a
      FROM daily d
      JOIN dowm m ON m.dow = CAST(d.day % 7 AS INT)
      CROSS JOIN g
    ), mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(a AS DECIMAL(28,10))) AS DOUBLE) AS s,
             CAST(SUM(CAST(a * a AS DECIMAL(28,10))) AS DOUBLE) AS ss
      FROM adj
    )
    SELECT adj.day, adj.a AS adjusted_total,
           CAST(ROUND((adj.a - mom.s / mom.n)
                / sqrt((mom.ss - mom.s * mom.s / mom.n) / (mom.n - 1)), 4) AS DOUBLE) + 0.0 AS z
    FROM adj CROSS JOIN mom
    WHERE mom.n >= 2 AND (mom.ss - mom.s * mom.s / mom.n) / (mom.n - 1) > 0
      AND ABS((adj.a - mom.s / mom.n)
              / sqrt((mom.ss - mom.s * mom.s / mom.n) / (mom.n - 1))) >= 2
    """,
)
def seasonal_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted daily anomaly flags: each day's total is
    divided by its day-of-week seasonal index (so a quiet Sunday isn't
    an 'anomaly' every week), then days whose adjusted total sits >= 2
    sample standard deviations from the adjusted mean are flagged.
    Adjusted values are ROUNDED before the decimal moment sums — the
    round-before-sum discipline keeping the z-scores engine-exact."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = e.groupBy(day.alias("day")).agg(F.sum(cents).alias("cents"))
    g = daily.agg(
        (
            F.sum(F.col("cents").cast("decimal(28,10)")).cast("double")
            / (100.0 * F.count(F.lit(1)))
        ).alias("gmean")
    )
    dowm = daily.groupBy((F.col("day") % 7).cast("int").alias("dow")).agg(
        (
            F.sum(F.col("cents").cast("decimal(28,10)")).cast("double")
            / (100.0 * F.count(F.lit(1)))
        ).alias("dmean"),
    )
    adj = (
        daily.join(
            F.broadcast(dowm),
            (F.col("day") % 7).cast("int") == F.col("dow"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "day",
            F.round(
                F.col("cents").cast("double")
                / 100.0
                / (F.col("dmean") / F.col("gmean")),
                6,
            ).alias("a"),
        )
    )
    mom = adj.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast("decimal(28,10)")).cast("double").alias("s"),
        F.sum((F.col("a") * F.col("a")).cast("decimal(28,10)"))
        .cast("double")
        .alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = F.round((F.col("a") - F.col("s") / F.col("n")) / F.sqrt(var), 4)
    return (
        adj.crossJoin(F.broadcast(mom))
        .filter((F.col("n") >= 2) & (var > 0))
        .select("day", F.col("a").alias("adjusted_total"), (z + 0.0).alias("z"))
        .filter(F.abs(F.col("z")) >= 2)
    )


@register(
    "ses_backtest_mae",
    """
    WITH ev AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase'
    ), rec AS (
      WITH RECURSIVE r(user_id, rn, s, sae) AS (
        SELECT user_id, rn, x, CAST(0 AS BIGINT) FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               (300 * e.x + 700 * r.s) // 1000,
               r.sae + ABS(e.x - r.s)
        FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT user_id, MAX(rn) AS n_events,
           CAST(MAX(rn) - 1 AS BIGINT) AS n_pred,
           MAX_BY(sae, rn) AS sae,
           CAST((2 * MAX_BY(sae, rn) + (MAX(rn) - 1)) // (2 * (MAX(rn) - 1)) AS DOUBLE)
             / 1000000.0 AS mae
    FROM rec GROUP BY user_id
    HAVING MAX(rn) >= 2
    """,
)
def ses_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast evaluation: per user, the one-step-ahead
    mean absolute error of the SES spend forecaster (alpha = 0.3) —
    every step is predicted by the PRE-UPDATE running level, so the
    backtest falls out of the same single sequential pass as the
    forecast itself (operators/windows.exp_smooth_backtest). Errors
    accumulate in exact int64 micro-units; the recursive-CTE oracle
    replays level and error bit-identically. The 'is this forecaster
    any good' primitive next to the forecast it evaluates."""
    from lakeapi_spark.operators.windows import exp_smooth_backtest

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    staged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000, 0).cast("long").alias("x"),
    )
    out = exp_smooth_backtest(staged, "user_id", "ts", "event_id", "x", alpha_num=300)
    return out.select(
        "user_id",
        "n_events",
        "n_pred",
        "sae",
        # integer half-up division in micro-units: a double ROUND here
        # hits a genuine decimal tie (sae/(1e6*n) can end in ...5
        # exactly) where Java's HALF_UP and C's round() disagree — the
        # all-integer form cannot
        (
            F.expr("(2 * sae + n_pred) div (2 * n_pred)").cast("double")
            / 1000000.0
        ).alias("mae"),
    )


@register(
    "holt_backtest_user_spend",
    """
    WITH ev AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase'
    ), rec AS (
      WITH RECURSIVE r(user_id, rn, l, b, sae) AS (
        SELECT user_id, rn, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               (300 * e.x + 700 * (r.l + r.b)) // 1000,
               (100 * ((300 * e.x + 700 * (r.l + r.b)) // 1000 - r.l) + 900 * r.b) // 1000,
               r.sae + ABS(e.x - (r.l + r.b))
        FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT user_id, MAX(rn) AS n_events,
           MAX_BY(l, rn) AS level, MAX_BY(b, rn) AS trend,
           MAX_BY(sae, rn) AS sae,
           CAST((2 * MAX_BY(sae, rn) + (MAX(rn) - 1)) // (2 * (MAX(rn) - 1)) AS DOUBLE)
             / 1000000.0 AS mae
    FROM rec GROUP BY user_id
    HAVING MAX(rn) >= 2
    """,
)
def holt_backtest_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level + trend) smoothing of per-user purchase
    values with its rolling-origin one-step MAE from the same
    sequential pass (operators/windows.holt_smooth_backtest; alpha =
    0.3, gamma = 0.1) — the trend-aware companion to ses_backtest_mae:
    a flat SES lags drifting users by construction, Holt's l + b
    forecast does not, and the per-user MAEs quantify which model to
    trust. Truncating (toward-zero) division throughout, matching
    DuckDB's `//` (the trend register goes negative; flooring
    dialects would diverge there), errors in exact int64 micro-units,
    tie-proof integer half-up mean."""
    from lakeapi_spark.operators.windows import holt_smooth_backtest

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    staged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000, 0).cast("long").alias("x"),
    )
    out = holt_smooth_backtest(
        staged, "user_id", "ts", "event_id", "x", alpha_num=300, gamma_num=100
    )
    return out.filter(F.col("n_events") >= 2).select(
        "user_id",
        "n_events",
        "level",
        "trend",
        "sae",
        (
            F.expr("(2 * sae + (n_events - 1)) div (2 * (n_events - 1))").cast(
                "double"
            )
            / 1000000.0
        ).alias("mae"),
    )


@register(
    "ppr_nation_seeded",
    """
    WITH eo AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate < TIMESTAMP '1996-01-01'
    ), und AS (
      SELECT src, dst FROM eo UNION SELECT dst AS src, src AS dst FROM eo
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM und GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM und
    ), sd AS (
      SELECT DISTINCT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 0
    ), seeds AS (
      SELECT n.node FROM nodes n JOIN sd ON sd.node = n.node
    ), ns AS (
      SELECT COUNT(*) AS n_seeds FROM seeds
    ), fl AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n_seeds FROM ns)
                  ELSE 0.0::DOUBLE END AS base,
             CASE WHEN s.node IS NOT NULL
                  THEN 1.0::DOUBLE / (SELECT n_seeds FROM ns)
                  ELSE 0.0::DOUBLE END AS pr0
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node
    ), pr1 AS (
      SELECT u.dst AS node,
             ROUND(fb.base + 0.85::DOUBLE
                   * CAST(SUM(CAST(f.pr0 / d.deg AS DECIMAL(28,12))) AS DOUBLE), 10) AS pr
      FROM und u
      JOIN fl f ON f.node = u.src
      JOIN deg d ON d.src = u.src
      JOIN fl fb ON fb.node = u.dst
      GROUP BY u.dst, fb.base
    ), pr2 AS (
      SELECT u.dst AS node,
             ROUND(fb.base + 0.85::DOUBLE
                   * CAST(SUM(CAST(p.pr / d.deg AS DECIMAL(28,12))) AS DOUBLE), 8) AS pr
      FROM und u
      JOIN pr1 p ON p.node = u.src
      JOIN deg d ON d.src = u.src
      JOIN fl fb ON fb.node = u.dst
      GROUP BY u.dst, fb.base
    )
    SELECT node, pr,
           CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rank
    FROM pr2 WHERE pr > 0 QUALIFY rank <= 50
    """,
)
def ppr_nation_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the customer-supplier purchase graph,
    teleporting to nation-0 customers (operators/graph.
    personalized_pagerank): authority concentrated around one market's
    buyers — 'which suppliers matter TO THIS cohort', the seeded twin
    of the global pagerank_cust_supp. Top 50 by rank; same decimal-
    contribution exactness and per-iteration rounding contract."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.graph import personalized_pagerank

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    pr = personalized_pagerank(edges, seeds, iters=2)
    return ranked_topk(
        pr, [F.col("pr").desc(), F.col("node")], k=50
    ).withColumn("rank", F.col("rank").cast("long"))


@register(
    "dedup_savings_summary",
    """
    WITH f AS (
      SELECT doc_id,
             md5(regexp_replace(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp,
             CAST(len(string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tok
      FROM documents WHERE regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') <> ''
    ), k AS (
      SELECT doc_id, n_tok,
             doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
      FROM f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN is_dup THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
           CAST(SUM(CASE WHEN is_dup THEN n_tok ELSE 0 END) AS DOUBLE)
             / SUM(n_tok) AS savings_frac
    FROM k
    """,
)
def dedup_savings_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-planning readout for exact dedup: how many documents
    and — the number that matters for a training budget — how many
    TOKENS drop when only each canonical-fingerprint group's keeper
    (min doc_id) survives. savings_frac is the exact integer ratio of
    removable to total tokens. One fingerprint window over the scan;
    the fingerprint/tokenization spellings are the shared
    text-operator ones, so the whole estimate is oracle-exact."""
    from lakeapi_spark.operators.text import fingerprint, tokens

    d = table(spark, sf_dir, "documents").filter(
        F.regexp_replace(F.lower(F.col("text")), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", "") != ""
    )
    f = d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("fp")
    k = f.select(
        "n_tok", (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup")
    )
    dup_tok = F.sum(F.when(F.col("is_dup"), F.col("n_tok")).otherwise(F.lit(0)))
    return k.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_docs"),
        F.sum("n_tok").alias("total_tokens"),
        dup_tok.alias("dup_tokens"),
        (dup_tok.cast("double") / F.sum("n_tok")).alias("savings_frac"),
    )


@register(
    "spearman_qty_price_by_flag",
    """
    WITH r AS (
      SELECT l_returnflag AS flag,
             2 * (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) + 1 AS rx,
             2 * (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) + 1 AS ry
      FROM lineitem
    ), m AS (
      SELECT flag, COUNT(*) AS n_rows,
             CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM r GROUP BY 1
    )
    SELECT flag AS l_returnflag, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(ROUND((n_rows * sxy - sx * sy)
                / sqrt((n_rows * sxx - sx * sx) * (n_rows * syy - sy * sy)), 6) AS DOUBLE) + 0.0
             AS spearman_rho
    FROM m
    WHERE n_rows * sxx - sx * sx > 0 AND n_rows * syy - sy * sy > 0
    """,
)
def spearman_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag (operators/stats.spearman_corr) — the monotonic twin
    of corr_lineitem_measures' Pearson: rank-based, so one outlier
    order can't fabricate or destroy the association. Integer doubled
    midranks, DECIMAL(38,0) sums, one group exchange reused by both
    rank windows."""
    from lakeapi_spark.operators.stats import spearman_corr

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"), "l_quantity", "l_extendedprice"
    )
    return spearman_corr(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    ).withColumnRenamed("flag", "l_returnflag")


_LSH_FINAL_STATE_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 0
        """


@register(
    "dedup_lsh_index_keepers",
    "WITH RECURSIVE pairs AS (\n  SELECT id_a, id_b FROM ("
    + _minhash_oracle(docs_sql=_LSH_FINAL_STATE_SQL)
    + """) q
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, MIN(label) AS cluster_id, id = MIN(label) AS keep
    FROM reach GROUP BY id
    """,
)
def dedup_lsh_index_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained index DRIVING a dedup decision: near-dup pairs
    served from the change-feed-maintained LSH index (same fixture as
    dedup_lsh_incremental_index — built at v0, advanced across an
    append, an update, and a delete) feed connected components, and
    each clustered doc gets its canonical cluster id plus the
    keep/drop verdict (min-id keeper). End to end — stream of commits
    -> churn-priced index refresh -> candidate pairs -> transitive
    clusters -> curation verdicts — hash-matched against an oracle
    that recomputes ALL of it from scratch on the final table state."""
    from lakeapi_spark.operators.dedup import dup_clusters
    from lakeapi_spark.operators.incremental import lsh_index_pairs

    _, idx = _lsh_incremental_fixture(spark, sf_dir)
    pairs = lsh_index_pairs(spark, idx)
    clusters = dup_clusters(pairs)
    return clusters.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


@register(
    "kendall_trend_revenue_nation",
    """
    WITH monthly AS (
      SELECT n_name,
             (CAST(year(o_orderdate) AS BIGINT) - 1992) * 12 + month(o_orderdate) - 1 AS month_idx,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), p AS (
      SELECT a.n_name,
             CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END AS s
      FROM monthly a JOIN monthly b
        ON a.n_name = b.n_name AND a.month_idx < b.month_idx
    )
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
           CAST(ROUND(CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) + 0.0 AS tau
    FROM p GROUP BY 1
    """,
)
def kendall_trend_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall-style monotonic trend test per nation
    (operators/stats.kendall_tau_trend): tau over the monthly-revenue
    series — the nonparametric 'is the trend real' companion to
    theil_sen_revenue_trend's 'how steep' (same bounded periods^2 pair
    join). Integer concordance counts, one exact division."""
    from lakeapi_spark.operators.stats import kendall_tau_trend

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    month_idx = (
        (F.year("o_orderdate").cast("long") - 1992) * 12 + F.month("o_orderdate") - 1
    )
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", month_idx.alias("month_idx"))
        .agg(money_sum(dec("o_totalprice")).alias("rev"))
    )
    return kendall_tau_trend(monthly, ["n_name"], "month_idx", "rev")


@register(
    "contamination_by_source",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks WHERE len(t) >= 5
    ), grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
      FROM idx
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0
    ), perdoc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM (SELECT doc_id, g FROM grams WHERE doc_id % 11 <> 0) t
      LEFT JOIN bench b ON t.g = b.g
      GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(p.n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(p.n_hit) AS BIGINT) AS hit_grams,
           CAST(SUM(p.n_hit) AS DOUBLE) / SUM(p.n_grams) AS hit_frac
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """,
)
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level contamination rollup — curation acts at SOURCE
    granularity (drop a crawl seed, not one document): per source, how
    many training docs overlap the benchmark gram set at all, and the
    exact leaked-gram fraction. Composes benchmark_overlap's per-doc
    relation with one broadcast join back to the source labels; hit
    fractions are exact integer ratios."""
    from lakeapi_spark.operators.contamination import benchmark_overlap

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 11 == 0)
    train = d.filter(F.col("doc_id") % 11 != 0)
    per = benchmark_overlap(train, bench, "doc_id", "text", n=5)
    src = d.select(F.col("doc_id").alias("id"), "source")
    return (
        per.join(src, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hit") > 0).cast("long")).alias("n_contaminated"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_hit").alias("hit_grams"),
            (F.sum("n_hit").cast("double") / F.sum("n_grams")).alias("hit_frac"),
        )
    )


@register(
    "delta_convert_in_place",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY 1
    """,
)
def delta_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA evidence: a plain hive-partitioned parquet
    directory (orders by priority) is registered as a delta table IN
    PLACE — zero data movement, one commit with per-file stats and
    log-declared partitionValues — then read back through the delta
    reader; the aggregate hash-matches the oracle reading the source
    parquet. See sources/delta.convert_to_delta (delta-utils parity)."""
    import hashlib
    import os
    import tempfile

    from lakeapi_spark.sources.delta import convert_to_delta
    from lakeapi_spark.sources.readers import read_source

    src = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    dest = os.path.join(
        tempfile.gettempdir(),
        "lakeapi_convert_orders_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    if not os.path.isdir(os.path.join(dest, "_delta_log")):
        src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dest)
        convert_to_delta(spark, dest, partition_by=["o_orderpriority"])
    df = read_source(spark, dest, "delta")
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec("o_totalprice")), 2).cast("double").alias("revenue"),
    )


@register(
    "activity_streaks",
    """
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events),
    g AS (
      SELECT user_id, dt,
             date_diff('day', DATE '2024-01-01', dt)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dt) AS grp
      FROM d
    ), s AS (
      SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks (longest run of consecutive active
    days) — the engagement metric behind "7-day streak" product
    features, spelled gaps-and-islands: day_ordinal - row_number is
    constant within a consecutive run. Two shuffles (distinct days,
    streak agg), both partitioned by user; all integer."""
    e = table(spark, sf_dir, "events")
    d = e.select("user_id", F.col("ts").cast("date").alias("dt")).distinct()
    w = Window.partitionBy("user_id").orderBy("dt")
    g = d.select(
        "user_id",
        (
            F.datediff(F.col("dt"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
    )


def _strong_copurchase_edges(
    spark: SparkSession, sf_dir: str, cache_partitions: int = 1
) -> DataFrame:
    """Shared edge build for the graph queries: the STRONG co-purchase
    graph — (src < dst) part pairs contained together in >= 2 distinct
    orders. TWO shuffles total: collect_set(part) per order (partial
    map-side agg, dedupe inherent in the set), pairs generated JVM-side
    from the sorted array (baskets are small — TPC-H caps at 7 items —
    so the O(basket^2) expansion is per-row cheap), then one pair-keyed
    count. The previous distinct + self-join shape cost 4 shuffles and
    an edge-sized join; this one never joins. Persisted FRESH per call
    because the callers iterate over it; a cross-query memoized
    variant was tried (r9) and measured SLOWER under cache-clearing
    session hygiene — a long-lived DataFrame whose cache has been
    externally dropped recomputes its build once per downstream
    reference instead of re-materializing once.

    ``cache_partitions`` sets the CACHED layout width (r10): the
    support>=2 filter prunes the pair space to a few-thousand-row
    relation whose 32-way cached layout cost every downstream stage 32
    scheduling slots for microseconds of work — persist() pins the
    pre-AQE partitioning, so the coalesce AQE would have applied must
    be explicit. Measured on adamic_adar end-to-end: 2.08 s -> 1.26 s.
    Graphs whose strong edge set outgrows a few tens of MB should
    raise it toward the core count; every consumer re-shuffles by its
    own key anyway, so width only throttles the cache scan."""
    return _strong_copurchase_edges_build(spark, sf_dir, cache_partitions)


def _strong_copurchase_edges_build(
    spark: SparkSession, sf_dir: str, cache_partitions: int = 1
) -> DataFrame:
    from lakeapi_spark.operators.scale import plan_partitions

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li
        # explicit repartition ON the groupBy key: the scan's natural
        # parallelism is row-group-bounded (3 tasks at sf0.1), so the
        # fat map tasks serialize collect_set; pre-hashing by key costs
        # the SAME single exchange the groupBy needs anyway (Catalyst
        # reuses the partitioning) and spreads build work over every
        # core. Partial agg is no loss: order keys are near-unique.
        # The EXPLICIT partition count pins the width: without it AQE
        # coalesces this small-byte shuffle to its 1 MiB-minimum
        # partitions (5 tasks at sf0.1) and serializes the CPU-bound
        # set-build + O(basket^2) pair expansion — bytes are the wrong
        # proxy for this stage. Scale-adaptive: never below the session
        # parallelism, never narrower than the scan.
        .repartition(
            max(
                spark.sparkContext.defaultParallelism,
                plan_partitions(li),
            ),
            F.col("l_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .count()
        .filter(F.col("count") >= 2)
        .select("src", "dst")
        # repartition, NOT coalesce (r13): coalesce folds the final
        # pair aggregation into the single cached partition — a 1.2M
        # partial-row reduce ran as ONE ~1s task, twice when two cache
        # consumers raced. The narrow exchange costs a few-thousand-row
        # round-robin and lets the agg keep its AQE width.
        .repartition(max(1, cache_partitions))
        .persist()
    )


def _weighted_copurchase_edges(
    spark: SparkSession, sf_dir: str, cache_partitions: int = 1
) -> DataFrame:
    """The strong co-purchase graph WITH its support count kept as the
    edge weight ``w`` — the input for the weighted-centrality queries
    (weighted PageRank / eigenvector). Identical build and cache-layout
    discipline as :func:`_strong_copurchase_edges`; the only delta is
    that the >= 2 support count survives the projection."""
    from lakeapi_spark.operators.scale import plan_partitions

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li
        # explicit width for the same reason as _strong_copurchase_edges_build
        .repartition(
            max(
                spark.sparkContext.defaultParallelism,
                plan_partitions(li),
            ),
            F.col("l_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .count()
        .filter(F.col("count") >= 2)
        .select("src", "dst", F.col("count").alias("w"))
        .repartition(max(1, cache_partitions))  # see _strong_copurchase_edges_build
        .persist()
    )


#: shared oracle CTE prefix: strong co-purchase edges (e0 oriented
#: src<dst, e doubled) — mirrors _strong_copurchase_edges
_STRONG_EDGES_SQL = """
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    po AS (
      SELECT DISTINCT a.o, a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    e0 AS (SELECT u, v FROM po GROUP BY u, v HAVING COUNT(*) >= 2),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)
"""


@register(
    "link_prediction_common_neighbors",
    _STRONG_EDGES_SQL
    + """
    , deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
    cand AS (
      SELECT w1.u AS u, w2.v AS v, COUNT(*) AS cn
      FROM e w1 JOIN e w2 ON w1.v = w2.u AND w1.u < w2.v
      WHERE NOT EXISTS (
        SELECT 1 FROM e0 WHERE e0.u = w1.u AND e0.v = w2.v
      )
      GROUP BY 1, 2
    ), scored AS (
      SELECT cand.u, cand.v, cand.cn,
             ROUND(CAST(cand.cn AS DOUBLE)
                   / CAST(du.d + dv.d - cand.cn AS DOUBLE), 6) + 0.0 AS jaccard
      FROM cand JOIN deg du ON du.u = cand.u JOIN deg dv ON dv.u = cand.v
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY cn DESC, u, v) AS rank, u, v, cn, jaccard
      FROM scored
    ) WHERE rank <= 20
    """,
)
def link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count over the strong
    co-purchase graph: the top-20 NON-adjacent part pairs that share
    the most neighbors (+ neighborhood Jaccard) — the classic
    recommend-a-missing-link heuristic. Wedge join (one equi-join on
    the middle node, u<v orientation halves it), anti-join against
    existing edges, degree relation broadcast
    (operators/graph.common_neighbors_topk). At 100 TB wedge fan-out
    is bounded two ways: the strong-graph support threshold prunes
    implicitly, and the operator's ``max_hub_degree`` parameter caps
    the middle node's degree explicitly (off here — the oracle
    verifies the uncapped relation; the capped path is unit-tested on
    a star graph)."""
    from lakeapi_spark.operators.graph import common_neighbors_topk

    edges = _strong_copurchase_edges(spark, sf_dir)
    return common_neighbors_topk(edges, top_n=20)


@register(
    "link_prediction_adamic_adar",
    _STRONG_EDGES_SQL
    + """
    , deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
    wed AS (
      SELECT w1.u AS u, w2.v AS v, w1.v AS w
      FROM e w1 JOIN e w2 ON w1.v = w2.u AND w1.u < w2.v
      WHERE NOT EXISTS (
        SELECT 1 FROM e0 WHERE e0.u = w1.u AND e0.v = w2.v
      )
    ), contrib AS (
      SELECT wed.u, wed.v,
             CAST(ROUND(1000000000000.0 / LN(CAST(dw.d AS DOUBLE)), 0) AS BIGINT) AS c
      FROM wed JOIN deg dw ON dw.u = wed.w
    ), sc AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn, CAST(SUM(c) AS BIGINT) AS s
      FROM contrib GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY s DESC, u, v) AS rank, u, v, cn,
             CAST(ROUND(CAST(s AS DOUBLE) / 1000000000000.0, 6) AS DOUBLE) + 0.0 AS aa
      FROM sc
    ) WHERE rank <= 20
    """,
    bench=True,
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the strong co-purchase graph —
    the degree-discounted upgrade of link_prediction_common_neighbors:
    a shared HUB neighbor is weak evidence (everything connects to
    it), a shared rare neighbor is strong, so each common neighbor w
    contributes 1/ln(deg(w)). Contributions are fixed-point int64
    (round(1e12/ln d): each term exact, both engines compute the same
    double before the round), so the SUM — the usual float-order
    hazard — is an integer and the top-20 order is engine-exact. Same
    wedge-join scale shape as common neighbors; deg stays broadcast;
    ``max_hub_degree`` (operators/graph.adamic_adar_topk) is the
    explicit fan-out dial at 100x (off here for oracle parity —
    excluded hubs would contribute ~1/ln(huge) ~ 0 anyway)."""
    from lakeapi_spark.operators.graph import adamic_adar_topk

    edges = _strong_copurchase_edges(spark, sf_dir)
    return adamic_adar_topk(edges, top_n=20)


def _kcore_oracle(k: int = 2, rounds: int = 6) -> str:
    """Unrolled peel oracle for k_core (the LPA-oracle trick: a fixed
    round count that provably reaches the fixpoint at oracle scale —
    measured 3 peels at sf0.01, unrolled with 2x margin)."""
    ctes = [", e_0 AS (SELECT u, v FROM e)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f""", d_{r} AS (SELECT u AS nd, COUNT(*) AS c FROM e_{r - 1} GROUP BY 1)
    , e_{r} AS (
      SELECT x.u, x.v FROM e_{r - 1} x
      JOIN d_{r} a ON a.nd = x.u AND a.c >= {k}
      JOIN d_{r} b ON b.nd = x.v AND b.c >= {k}
    )"""
        )
    return (
        _STRONG_EDGES_SQL
        + "\n".join(ctes)
        + f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e_{rounds} GROUP BY 1
    """
    )


@register("kcore_copurchase", _kcore_oracle())
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the strong co-purchase graph (operators/graph.k_core):
    iteratively peel degree-1 fringe parts until every remaining part
    has >= 2 mutually-supported neighbors — the cohesion backbone a
    recommender mines instead of the raw graph. The oracle unrolls
    the same peel a fixed number of rounds (fixpoint reached well
    inside them at oracle scale); the Spark side iterates with a
    convergence probe and per-round localCheckpoint."""
    from lakeapi_spark.operators.graph import k_core

    edges = _strong_copurchase_edges(spark, sf_dir)
    # max_iter pinned to the oracle's unrolled round count so a peel
    # that needs more rounds fails LOUDLY on the Spark side instead of
    # silently diverging from a pre-fixpoint oracle relation (ADVICE r12)
    return k_core(edges, k=2, max_iter=6)


@register(
    "er_blocking_quality",
    """
    WITH names AS (
      SELECT DISTINCT p_name AS n FROM part
    ), blocked AS (
      SELECT n, split_part(n, ' ', 1) AS blk FROM names
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_names FROM names
    ), cand AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs
      FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.n < b.n
    ), samp AS (
      SELECT n, split_part(n, ' ', 1) AS blk FROM names
      WHERE CAST(concat('0x', substr(md5(n), 1, 15)) AS BIGINT) % 2 = 0
    ), truth AS (
      SELECT a.n AS na, b.n AS nb, a.blk = b.blk AS captured
      FROM samp a JOIN samp b ON a.n < b.n
      WHERE ROUND(jaro_winkler_similarity(a.n, b.n), 4) >= 0.86
    )
    SELECT tot.n_names, cand.cand_pairs,
           ROUND(1.0 - CAST(cand.cand_pairs AS DOUBLE)
                 / (CAST(tot.n_names AS DOUBLE) * (tot.n_names - 1) / 2.0), 6)
             + 0.0 AS reduction_ratio,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS sample_true_pairs,
           (SELECT CAST(COUNT(*) FILTER (WHERE captured) AS BIGINT) FROM truth)
             AS sample_captured
    FROM tot, cand
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality report for the entity-resolution pipeline —
    the two numbers every blocking scheme is judged by: REDUCTION
    RATIO (how much of the quadratic pair space the first-token
    blocks eliminate — exact integer ratio over the full name
    universe) and PAIR COMPLETENESS evidence (on a deterministic
    md5-sampled 1/20 name subset, ground-truth Jaro-Winkler matches
    are scored ALL-PAIRS — quadratic only in the sample, the standard
    evaluation shape; shrink the sampling fraction as the catalog
    grows (1/2 here because the test catalog has only dozens of
    distinct names) — and counted as captured when blocking would
    co-locate them). The sample keeps the quadratic term bounded at
    any corpus size; the blocking side stays one equi-join."""
    from lakeapi_spark.operators.joins import jaro_winkler_pairs
    from lakeapi_spark.operators.text import portable_hash60

    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("n")).distinct()
    blk = F.split_part(F.col("n"), F.lit(" "), F.lit(1))
    tot = names.agg(F.count(F.lit(1)).alias("n_names"))
    cand = (
        names.select("n", blk.alias("blk"))
        .alias("a")
        .join(names.select(F.col("n").alias("n2"), blk.alias("blk")).alias("b"), "blk")
        .filter(F.col("n") < F.col("n2"))
        .agg(F.count(F.lit(1)).alias("cand_pairs"))
    )
    samp = names.filter(portable_hash60(F.col("n")) % 2 == 0)
    truth = jaro_winkler_pairs(
        samp.select(F.col("n").alias("p_name")),
        "p_name",
        lambda c: F.lit(1),
        threshold=0.86,
    ).select(
        (
            F.split_part(F.col("name_a"), F.lit(" "), F.lit(1))
            == F.split_part(F.col("name_b"), F.lit(" "), F.lit(1))
        ).alias("captured")
    )
    tr = truth.agg(
        F.count(F.lit(1)).alias("sample_true_pairs"),
        F.coalesce(
            F.sum(F.col("captured").cast("long")), F.lit(0)
        ).alias("sample_captured"),
    )
    rr = F.round(
        1.0
        - F.col("cand_pairs").cast("double")
        / (F.col("n_names").cast("double") * (F.col("n_names") - 1) / 2.0),
        6,
    ) + 0.0
    return (
        F.broadcast(tot)
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tr))
        .select(
            "n_names",
            "cand_pairs",
            rr.alias("reduction_ratio"),
            "sample_true_pairs",
            "sample_captured",
        )
    )


@register(
    "target_encoding_loo",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100, 0) AS BIGINT) AS p
      FROM orders
    ), s AS (
      SELECT o_orderpriority, SUM(p) AS sp, COUNT(*) AS n FROM o GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(CAST(s.sp - o.p AS DOUBLE) / CAST(s.n - 1 AS DOUBLE), 4) + 0.0
             AS loo_mean_cents
    FROM o JOIN s ON o.o_orderpriority = s.o_orderpriority
    WHERE o.o_custkey <= 100
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (the leakage-safe categorical
    encoder: each row's category gets the target mean of every OTHER
    row in the category): one partial-agg shuffle builds per-category
    (sum, count) moments, broadcast back, scored map-side —
    (sum - own)/(n - 1) per row, integer numerators. NO window over
    the fact table; the output filter is a demo bound, the encode
    itself is corpus-wide."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice").cast("double") * 100, 0)
        .cast("long")
        .alias("p"),
    )
    s = o.groupBy(F.col("o_orderpriority").alias("_pr")).agg(
        F.sum("p").alias("sp"), F.count(F.lit(1)).alias("n")
    )
    return (
        o.filter(F.col("o_custkey") <= 100)
        .join(F.broadcast(s), o.o_orderpriority == F.col("_pr"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                F.round(
                    (F.col("sp") - F.col("p")).cast("double")
                    / (F.col("n") - 1).cast("double"),
                    4,
                )
                + 0.0
            ).alias("loo_mean_cents"),
        )
    )


@register(
    "cohort_ltv_cumulative",
    """
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ), coh AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', d0) // 7 AS cohort_week
      FROM f
    ), rev AS (
      SELECT c.cohort_week,
             date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) // 7 AS week,
             SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS rev_cents
      FROM events e JOIN coh c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT cohort_week, week, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS ltv_cents
    FROM rev
    """,
)
def cohort_ltv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users cohorted by first-seen week, purchase
    revenue accumulated per cohort x week — the lifetime-value readout
    next to retention_cohorts. Integer cents; the cumulative window
    runs over the COHORT x WEEK relation (result-sized), never the
    event stream. Cohort assignment joins back broadcast (the cohort
    relation is user-sized; at 100 TB it stays the small side)."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    coh = f.select(
        "user_id",
        F.expr("CAST(datediff(d0, DATE'2024-01-01') AS LONG) DIV 7").alias(
            "cohort_week"
        ),
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(coh), "user_id")
        .groupBy(
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS LONG) DIV 7"
            ).alias("week"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort_week",
        "week",
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.sum("rev_cents").over(wc).cast("long").alias("ltv_cents"),
    )


@register(
    "multimodal_video_frame_sample",
    """
    WITH m AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) % 16 + 1 AS w,
             length(text) % 12 + 1 AS h
      FROM documents WHERE length(text) > 0 AND doc_id < 200
    ), fr AS (
      SELECT doc_id, n, w, h, fs.fi AS f,
             substr(text, fs.fi + 1) || substr(text, 1, fs.fi) AS rt,
             CASE WHEN (doc_id * 64 + fs.fi) % 2 = 0 THEN 1 ELSE 3 END AS c
      FROM m CROSS JOIN (SELECT UNNEST([0, 3]) AS fi) fs
    ), px AS (
      SELECT doc_id, f, w, h, c, rt, n,
             UNNEST(range(0, w * h * c)) AS i
      FROM fr
    ), v AS (
      SELECT doc_id, f, w, h, c, i,
             ascii(substr(rt, CAST(i % n AS INT) + 1, 1)) % 256 AS p
      FROM px
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx, TRUE AS valid,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(c AS BIGINT) AS n_channels,
           CAST(w * h * c AS BIGINT) AS n_px,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM((i + 1) * p) AS BIGINT) AS pixel_checksum
    FROM v GROUP BY doc_id, f, w, h, c
    """,
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video plumbing end to end: documents become multi-frame VID0
    containers of REAL PNGs (frame f = text rotated by f), frame
    sampling keeps every 3rd frame BEFORE any decode (the keep-rate
    bounds codec cost, not clip length), and the sampled frames run
    through the full stdlib PNG pixel decode. The oracle re-derives
    each sampled frame's raster stats from the rotation rule alone —
    proving container framing + sampling + codec round-trip bit-exact.
    See operators/multimodal.attach_video_payload / video_frame_sample."""
    from lakeapi_spark.operators.multimodal import (
        attach_video_payload,
        decode_real,
        video_frame_sample,
    )

    d = table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") < 200)
    )
    media = attach_video_payload(d, "doc_id", "text", n_frames=6)
    fr = video_frame_sample(media, every_k=3).filter("valid")
    dec = decode_real(fr.select("id", "payload"))
    return dec.select(
        F.expr("id DIV 64").alias("doc_id"),
        (F.col("id") % 64).cast("int").alias("frame_idx"),
        "valid",
        "width",
        "height",
        "n_channels",
        "n_px",
        "pixel_sum",
        "pixel_checksum",
    )


@register(
    "expectations_orders_contract",
    """
    WITH a AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v1,
             SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 0 OR o_totalprice > 10000000)
                      THEN 1 ELSE 0 END) AS v2,
             SUM(CASE WHEN o_orderpriority IS NOT NULL
                       AND o_orderpriority NOT IN
                         ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                      THEN 1 ELSE 0 END) AS v3,
             SUM(CASE WHEN o_orderstatus IS NOT NULL
                       AND NOT regexp_full_match(o_orderstatus, '[A-Z]')
                      THEN 1 ELSE 0 END) AS v4,
             SUM(CASE WHEN o_orderdate IS NOT NULL
                       AND CAST(o_orderdate AS DATE) < DATE '1992-01-01'
                      THEN 1 ELSE 0 END) AS v5
      FROM orders
    )
    SELECT rule, kind, col, n AS n_rows,
           CAST(CASE idx WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END AS BIGINT)
             AS n_violations,
           (CASE idx WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
             WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END) = 0 AS passed
    FROM a CROSS JOIN (VALUES
      ('orderkey present',   'not_null', 'o_orderkey',      0),
      ('orderkey unique',    'unique',   'o_orderkey',      1),
      ('price in range',     'between',  'o_totalprice',    2),
      ('priority in domain', 'in_set',   'o_orderpriority', 3),
      ('status format',      'regex',    'o_orderstatus',   4),
      ('date floor',         'min',      'o_orderdate',     5)
    ) r(rule, kind, col, idx)
    """,
)
def expectations_orders_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract over orders: six expectations
    (presence, uniqueness, range, domain, format, date floor) verified
    in ONE aggregate pass and reported per rule — the publish gate an
    ingestion job runs before committing a table version. See
    operators/expectations.expectation_report."""
    import datetime as dt

    from lakeapi_spark.operators.expectations import expectation_report

    o = table(spark, sf_dir, "orders")
    rules = [
        {"name": "orderkey present", "kind": "not_null", "col": "o_orderkey"},
        {"name": "orderkey unique", "kind": "unique", "col": "o_orderkey"},
        {"name": "price in range", "kind": "between", "col": "o_totalprice",
         "lo": 0.0, "hi": 10_000_000.0},
        {"name": "priority in domain", "kind": "in_set", "col": "o_orderpriority",
         "values": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]},
        {"name": "status format", "kind": "regex", "col": "o_orderstatus",
         "pattern": "^[A-Z]$"},
        {"name": "date floor", "kind": "min", "col": "o_orderdate",
         "value": dt.datetime(1992, 1, 1)},
    ]
    return expectation_report(o, rules)


@register(
    "neyman_allocation_sample",
    """
    WITH m AS (
      SELECT o_orderpriority,
             COUNT(o_totalprice) AS n_h,
             CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(28,10)))
                  AS DOUBLE) AS s,
             CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE)
                           * CAST(o_totalprice AS DOUBLE) AS DECIMAL(28,10)))
                  AS DOUBLE) AS ss
      FROM orders GROUP BY 1
    ), st AS (
      SELECT o_orderpriority, n_h,
             SQRT((ss - s * s / n_h) / (n_h - 1)) AS sigma
      FROM m
    ), wts AS (
      SELECT o_orderpriority, n_h, sigma,
             CAST(ROUND(n_h * sigma, 0) AS BIGINT) AS w
      FROM st
    ), tot AS (SELECT SUM(w) AS tw FROM wts),
    b AS (
      SELECT o_orderpriority, n_h, sigma, w,
             (1000 * w) // tw AS base, (1000 * w) % tw AS md
      FROM wts, tot
    ), r AS (
      SELECT *, 1000 - SUM(base) OVER () AS rem,
             ROW_NUMBER() OVER (ORDER BY md DESC, o_orderpriority) AS rk
      FROM b
    )
    SELECT o_orderpriority, n_h, ROUND(sigma, 4) + 0.0 AS sigma,
           CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
             AS n_sample
    FROM r
    """,
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) stratified-sampling allocation: a 1,000-row
    sample budget split across order-priority strata proportional to
    N_h·σ_h — variance-heavy strata get more rows, the
    minimum-variance design for stratified estimators. σ from
    decimal-exact moments (the zscore discipline), the integer split
    through operators/stats.largest_remainder_allocation so the
    allocations sum EXACTLY to the budget. Stratum relation is tiny;
    the only corpus pass is the moments aggregate."""
    from lakeapi_spark.operators.stats import largest_remainder_allocation

    o = table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    m = o.groupBy("o_orderpriority").agg(
        F.count(v).alias("n_h"),
        F.sum(v.cast("decimal(28,10)")).cast("double").alias("s"),
        F.sum((v * v).cast("decimal(28,10)")).cast("double").alias("ss"),
    )
    sigma = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )
    wts = m.select(
        "o_orderpriority",
        "n_h",
        sigma.alias("_sig"),
        F.round(F.col("n_h") * sigma, 0).cast("long").alias("w"),
        F.lit(1).alias("_g"),
        F.lit(1000).alias("_t"),
    )
    alloc = largest_remainder_allocation(wts, "_g", "w", "_t", "o_orderpriority")
    return (
        wts.select("o_orderpriority", "n_h", "_sig")
        .join(alloc.select("o_orderpriority", "allocated"), "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_h",
            (F.round(F.col("_sig"), 4) + 0.0).alias("sigma"),
            F.col("allocated").cast("long").alias("n_sample"),
        )
    )


@register(
    "vocab_zipf_fit",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), f AS (
      SELECT t, COUNT(*) AS n FROM tok GROUP BY 1
    ), rk AS (
      SELECT t, n, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS r FROM f
      QUALIFY r <= 1000
    ), xy AS (
      SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
             CAST(ROUND(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      FROM rk
    ), s AS (
      SELECT COUNT(*) AS k, CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT k AS n_terms,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) + 0.0 AS slope,
           ROUND((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
             + 0.0 AS intercept
    FROM s
    """,
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope/intercept of
    ln(freq) against ln(rank) over the top-1000 terms — the
    distribution diagnostic that flags synthetic/templated corpora
    (natural text slopes ≈ -1). ln terms round to 9 digits and
    accumulate in DECIMAL (order-independent sums, the
    unigram_logprob discipline); the closed-form OLS is one mirrored
    double expression. One token shuffle; the fit runs over a
    1000-row relation."""
    d = table(spark, sf_dir, "documents")
    f = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = ranked_topk(f, [F.col("n").desc(), F.col("t")], k=1000, rank_col="r")
    # decimal(18,9) terms: the x*y / x*x products land at precision 37,
    # scale 18 — inside BOTH engines' 38-digit cap, so the products and
    # their sums are EXACT. Wider terms (28,12) overflowed the cap and
    # each engine rounded the product scale differently (last-ULP
    # intercept flake at a round-half boundary).
    xy = rk.select(
        F.round(F.log(F.col("r").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_terms"),
        (F.round(slope, 6) + 0.0).alias("slope"),
        (F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6) + 0.0).alias(
            "intercept"
        ),
    )


@register(
    "part_popularity_decayed",
    """
    WITH mx AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS mxd FROM lineitem),
    t AS (
      SELECT l_partkey,
             CAST(ROUND(exp(-CAST(date_diff('day', CAST(l_shipdate AS DATE),
                                             (SELECT mxd FROM mx)) AS DOUBLE)
                            / 30.0), 9) AS DECIMAL(28,12)) AS term
      FROM lineitem
    ), s AS (
      SELECT l_partkey,
             CAST(ROUND(CAST(SUM(term) AS DOUBLE), 4) AS DOUBLE) + 0.0 AS score,
             COUNT(*) AS n_sales
      FROM t GROUP BY 1
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY score DESC, l_partkey) AS rank,
             l_partkey, score, n_sales
      FROM s
    ) WHERE rank <= 20
    """,
)
def part_popularity_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed popularity (the recsys trending score): each
    sale contributes exp(-age_days/30), so last month's sales dominate
    and stale hits fade — top-20 parts by decayed score. Engine-exact
    via the logprob discipline: per-sale terms round to 9 digits and
    accumulate in DECIMAL (order-independent), one partial-agg
    shuffle; ranking runs over the part relation."""
    li = table(spark, sf_dir, "lineitem")
    mx = F.broadcast(
        li.agg(F.max(F.col("l_shipdate").cast("date")).alias("mxd"))
    )
    t = li.crossJoin(mx).select(
        "l_partkey",
        F.round(
            F.exp(
                -F.datediff(F.col("mxd"), F.col("l_shipdate").cast("date")).cast(
                    "double"
                )
                / 30.0
            ),
            9,
        )
        .cast("decimal(28,12)")
        .alias("term"),
    )
    s = t.groupBy("l_partkey").agg(
        (F.round(F.sum("term").cast("double"), 4) + 0.0).alias("score"),
        F.count(F.lit(1)).alias("n_sales"),
    )
    return ranked_topk(
        s, [F.col("score").desc(), F.col("l_partkey")], k=20
    ).select("rank", "l_partkey", "score", "n_sales")


@register(
    "spc_control_chart_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS dn,
             CAST(ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,10)))
                             AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS m
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE) AS s,
             CAST(SUM(CAST(m * m AS DECIMAL(28,10))) AS DOUBLE) AS ss
      FROM daily WHERE dn <= 15
    )
    SELECT dn AS day_num, ROUND(m, 4) + 0.0 AS daily_mean,
           ROUND(s / k, 4) + 0.0 AS baseline_mean,
           ABS(m - s / k) > 3 * SQRT((ss - s * s / k) / (k - 1)) AS out_of_control
    FROM daily CROSS JOIN base
    WHERE dn > 15
    """,
)
def spc_control_chart_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control chart: days 16+ of the event stream
    flagged out-of-control when their daily mean leaves the +-3 sigma
    band fit on the first 15 days' daily means — the ops-monitoring
    twin of the drift tests (point alarms, not distribution shift).
    Daily means and baseline moments are decimal-exact
    (round-before-average); the 3-sigma comparison is one mirrored
    IEEE expression. Two partial-agg shuffles over the DAY relation."""
    e = table(spark, sf_dir, "events")
    day0 = F.lit("2024-01-01").cast("date")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("d"),
        (F.datediff(F.col("ts").cast("date"), day0) + 1).alias("dn"),
    ).agg(
        F.round(
            F.sum(F.round(F.col("value"), 6).cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    base = F.broadcast(
        daily.filter(F.col("dn") <= 15).agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("m").cast("decimal(28,10)")).cast("double").alias("s"),
            F.sum((F.col("m") * F.col("m")).cast("decimal(28,10)"))
            .cast("double")
            .alias("ss"),
        )
    )
    mu = F.col("s") / F.col("k")
    sig = F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("k")) / (F.col("k") - 1))
    return (
        daily.filter(F.col("dn") > 15)
        .crossJoin(base)
        .select(
            F.col("dn").alias("day_num"),
            (F.round(F.col("m"), 4) + 0.0).alias("daily_mean"),
            (F.round(mu, 4) + 0.0).alias("baseline_mean"),
            (F.abs(F.col("m") - mu) > 3 * sig).alias("out_of_control"),
        )
    )


@register(
    "survival_km_conversion",
    """
    WITH per_user AS (
      SELECT user_id, MIN(ts) AS f,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp,
             MAX(ts) AS l
      FROM events GROUP BY 1
    ), obs AS (
      SELECT CASE WHEN fp IS NOT NULL
                  THEN date_diff('day', CAST(f AS DATE), CAST(fp AS DATE))
                  ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END AS t,
             CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ), byt AS (
      SELECT t, SUM(ev) AS d, COUNT(*) - SUM(ev) AS c FROM obs GROUP BY 1
    ), risk AS (
      SELECT t, d,
             (SELECT COUNT(*) FROM obs)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM byt
    ), evt AS (
      SELECT t, d, n,
             CASE WHEN d < n
                  THEN ROUND(LN(1 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             END AS term
      FROM risk WHERE d > 0
    )
    SELECT t AS t_day, CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_conv,
           CASE WHEN d < n
                THEN ROUND(EXP(CAST(SUM(CAST(term AS DECIMAL(28,12))) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS DOUBLE)), 6) + 0.0
                ELSE 0.0 END AS survival
    FROM evt
    """,
)
def survival_km_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase curve: per user, the
    observed time is days from first event to first purchase (event)
    or to last event (right-censored, no purchase yet); S(t) is the
    product-limit estimator over the at-risk counts. Engine-exact via
    the logprob discipline: per-day hazard terms ln(1 - d/n) round to
    9 digits, accumulate in DECIMAL (order-independent), exp + round 6
    at the end. ONE user-keyed partial-agg shuffle; everything after
    runs on the DAY relation (bounded by the observation span, so the
    unpartitioned cumulative windows are driver-trivial at any corpus
    size)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
        F.max("ts").alias("l"),
    )
    obs = per_user.select(
        F.when(
            F.col("fp").isNotNull(),
            F.datediff(F.col("fp").cast("date"), F.col("f").cast("date")),
        )
        .otherwise(F.datediff(F.col("l").cast("date"), F.col("f").cast("date")))
        .alias("t"),
        F.when(F.col("fp").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    byt = obs.groupBy("t").agg(
        F.sum("ev").alias("d"), (F.count(F.lit(1)) - F.sum("ev")).alias("c")
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n"),
    )
    evt = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n",
        F.when(
            F.col("d") < F.col("n"),
            F.round(F.log(1 - F.col("d").cast("double") / F.col("n").cast("double")), 9),
        ).alias("term"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return evt.select(
        F.col("t").alias("t_day"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_conv"),
        F.when(
            F.col("d") < F.col("n"),
            F.round(
                F.exp(
                    F.sum(F.col("term").cast("decimal(28,12)")).over(wcum).cast("double")
                ),
                6,
            )
            + 0.0,
        )
        .otherwise(F.lit(0.0))
        .alias("survival"),
    )


@register(
    "attribution_linear_touch",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.event_id, p.cents, t.event_type
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 24 HOURS
    ), cr AS (
      SELECT event_id, cents, event_type,
             COUNT(*) OVER (PARTITION BY event_id) AS nt
      FROM j
    ), touch AS (
      SELECT event_type AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0 / nt, 6)
                  AS DECIMAL(28,10)) AS credit
      FROM cr
    ), direct AS (
      SELECT 'direct' AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0, 6)
                  AS DECIMAL(28,10)) AS credit
      FROM p WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.event_id = p.event_id)
    )
    SELECT channel,
           ROUND(CAST(SUM(credit) AS DOUBLE), 2) + 0.0 AS attributed_revenue,
           COUNT(*) AS n_credits
    FROM (SELECT * FROM touch UNION ALL SELECT * FROM direct)
    GROUP BY channel
    """,
)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's revenue splits
    equally across the user's view/click touches in the preceding 24 h;
    purchases with no touch in the window credit a synthetic 'direct'
    channel. The time-range self-join runs as a DAY-BUCKETED equi-join
    (each purchase probes its epoch-day bucket and the previous one —
    a 24 h window spans at most two — then the exact interval filter
    trims), so fan-out is bounded x2 and there is no range-condition
    nested loop; at 100 TB both sides hash-partition by (user, day).
    Credits divide in IEEE double, round 6, accumulate in DECIMAL."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400))
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        day.alias("db"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
        day.alias("tb"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "pts",
        "cents",
        F.explode(F.array(F.col("db"), F.col("db") - 1)).alias("tb"),
    )
    j = probes.join(t, ["user_id", "tb"]).filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
    )
    wnt = Window.partitionBy("event_id")
    touch = j.select(
        "channel",
        F.round(
            F.col("cents").cast("double")
            / 100.0
            / F.count(F.lit(1)).over(wnt),
            6,
        )
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    direct = p.join(
        j.select("event_id").distinct(), "event_id", "left_anti"
    ).select(
        F.lit("direct").alias("channel"),
        F.round(F.col("cents").cast("double") / 100.0, 6)
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    return (
        touch.unionByName(direct)
        .groupBy("channel")
        .agg(
            (F.round(F.sum("credit").cast("double"), 2) + 0.0).alias(
                "attributed_revenue"
            ),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )


@register(
    "dedup_block_global",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), b AS (
      SELECT doc_id,
             UNNEST(generate_series(
               CAST(0 AS BIGINT),
               CAST(CEIL(len(ws) / 8.0) AS BIGINT) - 1)) AS bi,
             ws
      FROM w
    ), blocks AS (
      SELECT doc_id, bi,
             array_to_string(list_slice(ws, bi * 8 + 1, bi * 8 + 8), ' ') AS block
      FROM b
    ), k AS (
      SELECT doc_id, bi, block,
             ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, bi) AS rn
      FROM blocks
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MD5(COALESCE(string_agg(CASE WHEN rn = 1 THEN block END,
                                   ' ' ORDER BY bi), '')) AS kept_md5
    FROM k GROUP BY doc_id
    """,
    bench=True,
)
def dedup_block_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global exact block dedup (the C4/RefinedWeb line-dedup
    shape): documents split into fixed 8-word blocks; a block survives
    only in its FIRST corpus occurrence (by doc_id, then position) and
    is cut everywhere else; docs are rebuilt from surviving blocks in
    order. Plan: block expansion is a JVM-side array transform (no
    Python), first-occurrence is ONE block-keyed window shuffle (at
    100 TB the key is the block hash — boilerplate mega-blocks are the
    skew risk, and AQE's skew-split handles exactly that shape), and
    the rebuild reuses the SAME doc-keyed partitioning the explode
    started from. Output is per-doc counts + md5 of the rebuilt text,
    so the result stays row-bounded at any corpus size."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    nblocks = F.ceil(F.size(ws) / F.lit(8.0)).cast("int")
    blocks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblocks - 1),
                lambda i: F.array_join(F.slice(ws, i * 8 + 1, 8), " "),
            )
        ).alias("bi", "block"),
    )
    wfirst = Window.partitionBy("block").orderBy("doc_id", "bi")
    k = blocks.withColumn("rn", F.row_number().over(wfirst))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("bi"), F.col("block"))
    )
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["block"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )


@register(
    "agreement_cohens_kappa",
    """
    WITH r AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0 END AS b
      FROM documents
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             SUM(a) AS na, SUM(b) AS nb
      FROM r
    )
    SELECT n, agree,
           ROUND(CAST(agree AS DOUBLE) / n, 6) + 0.0 AS po,
           ROUND((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                 + (1 - CAST(na AS DOUBLE) / n) * (1 - CAST(nb AS DOUBLE) / n),
                 6) + 0.0 AS pe,
           ROUND((CAST(agree AS DOUBLE) / n
                  - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                     + (1 - CAST(na AS DOUBLE) / n) * (1 - CAST(nb AS DOUBLE) / n)))
                 / (1 - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                         + (1 - CAST(na AS DOUBLE) / n) * (1 - CAST(nb AS DOUBLE) / n))),
                 6) + 0.0 AS kappa
    FROM s
    """,
)
def agreement_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document 'annotators'
    (rater A: n_chars >= 300; rater B: >= 60 whitespace tokens) — the
    inter-annotator-agreement check every labeling pipeline runs before
    trusting its quality labels. ONE partial-agg scan reduces the whole
    corpus to four counters; kappa is arithmetic on the single reduced
    row, identical IEEE expressions both engines."""
    d = table(spark, sf_dir, "documents")
    r = d.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split(F.col("text"), " ")) >= 60, 1)
        .otherwise(0)
        .alias("b"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
    )
    nd = F.col("n").cast("double")
    pa = F.col("na").cast("double") / nd
    pb = F.col("nb").cast("double") / nd
    po = F.col("agree").cast("double") / nd
    pe = pa * pb + (1 - pa) * (1 - pb)
    return s.select(
        "n",
        "agree",
        (F.round(po, 6) + 0.0).alias("po"),
        (F.round(pe, 6) + 0.0).alias("pe"),
        (F.round((po - pe) / (1 - pe), 6) + 0.0).alias("kappa"),
    )


@register(
    "did_value_policy",
    """
    WITH cells AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS post,
             CAST(ROUND(value, 6) AS DECIMAL(28,10)) AS v
      FROM events
    ), m AS (
      SELECT treated, post,
             ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_value,
             COUNT(*) AS n
      FROM cells GROUP BY 1, 2
    )
    SELECT treated, post, mean_value, n,
           ROUND(
             MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_value END) OVER ()
             - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_value END) OVER ()
             - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_value END) OVER ()
                - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_value END) OVER ()),
             6) + 0.0 AS did
    FROM m
    """,
)
def did_value_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: odd user ids are the 'treated' group,
    Jan 16 the policy date; DiD = (treated post - pre) - (control post
    - pre) on mean event value — the standard quasi-experimental
    effect readout over an event stream. One partial-agg shuffle to
    the FOUR design cells (decimal round-before-average means); the
    DiD contrast is a window over those 4 rows, identical on both
    engines."""
    e = table(spark, sf_dir, "events")
    cells = e.select(
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treated"),
        F.when(F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.round(F.col("value"), 6).cast("decimal(28,10)").alias("v"),
    )
    m = cells.groupBy("treated", "post").agg(
        (F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6) + 0.0).alias(
            "mean_value"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    wall = Window.partitionBy()
    cell = lambda tr, po: F.max(  # noqa: E731 - tiny 4-row contrast helper
        F.when((F.col("treated") == tr) & (F.col("post") == po), F.col("mean_value"))
    ).over(wall)
    return m.select(
        "treated",
        "post",
        "mean_value",
        "n",
        (F.round(cell(1, 1) - cell(1, 0) - (cell(0, 1) - cell(0, 0)), 6) + 0.0).alias(
            "did"
        ),
    )


@register(
    "dedup_containment_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g FROM idx
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ni AS n_inter,
           ROUND(CAST(ni AS DOUBLE) / LEAST(na.n, nb.n), 4) AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE ROUND(CAST(ni AS DOUBLE) / LEAST(na.n, nb.n), 4) >= 0.4
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (|A∩B| / min set size) —
    catches the quote-inclusion / boilerplate-wrapper near-dups whose
    Jaccard stays near zero because the union is dominated by the
    longer doc. See operators/dedup.ngram_containment_pairs (shared
    packed-pair-key intersection core with the Jaccard operator)."""
    from lakeapi_spark.operators.dedup import ngram_containment_pairs

    d = table(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, "doc_id", "text", threshold=0.4)


def _pca_ctes(iters: int = 5, scale: int = 1_000_000) -> list[str]:
    """Shared CTE chain for the power-iteration oracles: integer
    mean-centering (ex/m/cen), the d x d covariance relation, then
    ``iters`` matvec + L1-normalize rounds ending at ``x_{iters}``,
    every division toward zero. All MATERIALIZED (each x_t is
    referenced by the next matvec)."""
    parts = [
        f"""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, j, CAST(ROUND(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT) AS xf
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   generate_subscripts(embedding, 1) AS j FROM embeddings)
    ), nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM ex)
    , m AS MATERIALIZED (
      SELECT j, CAST(SUM(xf) // (SELECT n FROM nn) AS BIGINT) AS mf
      FROM ex GROUP BY 1)
    , cen AS MATERIALIZED (
      SELECT e.vec_id, e.j, e.xf - m.mf AS v FROM ex e JOIN m USING (j))
    , cov AS MATERIALIZED (
      SELECT a.j, b.j AS k,
             CAST(SUM(a.v * b.v) // ((SELECT n FROM nn) * {scale}) AS BIGINT) AS c
      FROM cen a JOIN cen b ON a.vec_id = b.vec_id GROUP BY 1, 2)
    , x_0 AS (SELECT DISTINCT j, CAST({scale} AS BIGINT) AS x FROM m)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", y_{t} AS MATERIALIZED (
      SELECT c.j, CAST(SUM(c.c * x.x) // {scale} AS BIGINT) AS y
      FROM cov c JOIN x_{t - 1} x ON x.j = c.k GROUP BY 1)
    , x_{t} AS MATERIALIZED (
      SELECT j, CAST(y * {scale} //
                     NULLIF((SELECT SUM(ABS(y)) FROM y_{t}), 0) AS BIGINT) AS x
      FROM y_{t})"""
        )
    return parts


def _pca_oracle(iters: int = 5, scale: int = 1_000_000) -> str:
    parts = _pca_ctes(iters, scale)
    parts.append(
        f"""
    SELECT CAST(j AS BIGINT) AS dim, x AS loading_fp,
           ROUND(CAST(x AS DOUBLE) / {scale}.0, 6) + 0.0 AS loading
    FROM x_{iters}"""
    )
    return "\n".join(parts)


def _anisotropy_oracle(iters: int = 5, scale: int = 1_000_000) -> str:
    """PCA chain + L2-renormalized top direction + variance share:
    both engines hit the SAME IEEE sqrt (correctly rounded by the
    standard), so the integer L2 norm floor(sqrt(sum w^2)) is
    bit-identical and everything after stays in int64."""
    parts = _pca_ctes(iters, scale)
    parts.append(
        f""", l2 AS (
      SELECT CAST(FLOOR(SQRT(CAST(SUM(x * x) AS DOUBLE))) AS BIGINT) AS l
      FROM x_{iters})
    , w2 AS MATERIALIZED (
      SELECT j, CAST(x * {scale} // NULLIF((SELECT l FROM l2), 0) AS BIGINT) AS wx
      FROM x_{iters})
    , proj AS MATERIALIZED (
      SELECT c.vec_id, CAST(SUM(c.v * w2.wx) // {scale} AS BIGINT) AS p
      FROM cen c JOIN w2 ON w2.j = c.j GROUP BY 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM proj) AS n_vecs,
           (SELECT CAST(SUM(p * p) AS BIGINT) FROM proj) AS top_ss,
           (SELECT CAST(SUM(v * v) AS BIGINT) FROM cen) AS total_ss,
           ROUND(CAST((SELECT SUM(p * p) FROM proj) AS DOUBLE)
                 / CAST((SELECT SUM(v * v) FROM cen) AS DOUBLE), 6) + 0.0
             AS top_var_ratio"""
    )
    return "\n".join(parts)


def _abtt_oracle(iters: int = 5, scale: int = 1_000_000) -> str:
    """PCA chain + projection removal + a SECOND unrolled power
    iteration on the corrected relation — the all-but-the-top oracle.
    Every intermediate MATERIALIZED (two iteration chains reference
    their predecessors; plain CTE inlining would explode 3^rounds)."""
    parts = _pca_ctes(iters, scale)
    parts.append(
        f""", l2 AS (
      SELECT CAST(FLOOR(SQRT(CAST(SUM(x * x) AS DOUBLE))) AS BIGINT) AS l
      FROM x_{iters})
    , w2 AS MATERIALIZED (
      SELECT j, CAST(x * {scale} // NULLIF((SELECT l FROM l2), 0) AS BIGINT) AS wx
      FROM x_{iters})
    , proj AS MATERIALIZED (
      SELECT c.vec_id, CAST(SUM(c.v * w2.wx) // {scale} AS BIGINT) AS p
      FROM cen c JOIN w2 ON w2.j = c.j GROUP BY 1)
    , cen2 AS MATERIALIZED (
      SELECT c.vec_id, c.j, c.v - CAST((p.p * w2.wx) // {scale} AS BIGINT) AS v
      FROM cen c JOIN proj p ON p.vec_id = c.vec_id JOIN w2 ON w2.j = c.j)
    , cov2 AS MATERIALIZED (
      SELECT a.j, b.j AS k,
             CAST(SUM(a.v * b.v) // ((SELECT n FROM nn) * {scale}) AS BIGINT) AS c
      FROM cen2 a JOIN cen2 b ON a.vec_id = b.vec_id GROUP BY 1, 2)
    , x2_0 AS (SELECT DISTINCT j, CAST({scale} AS BIGINT) AS x FROM m)"""
    )
    for t in range(1, iters + 1):
        parts.append(
            f""", y2_{t} AS MATERIALIZED (
      SELECT c.j, CAST(SUM(c.c * x.x) // {scale} AS BIGINT) AS y
      FROM cov2 c JOIN x2_{t - 1} x ON x.j = c.k GROUP BY 1)
    , x2_{t} AS MATERIALIZED (
      SELECT j, CAST(y * {scale} //
                     NULLIF((SELECT SUM(ABS(y)) FROM y2_{t}), 0) AS BIGINT) AS x
      FROM y2_{t})"""
        )
    parts.append(
        f""", l2b AS (
      SELECT CAST(FLOOR(SQRT(CAST(SUM(x * x) AS DOUBLE))) AS BIGINT) AS l
      FROM x2_{iters})
    , w2b AS MATERIALIZED (
      SELECT j, CAST(x * {scale} // NULLIF((SELECT l FROM l2b), 0) AS BIGINT) AS wx
      FROM x2_{iters})
    , proj2 AS MATERIALIZED (
      SELECT c.vec_id, CAST(SUM(c.v * w.wx) // {scale} AS BIGINT) AS p
      FROM cen2 c JOIN w2b w ON w.j = c.j GROUP BY 1)
    SELECT (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM cen) AS n_vecs,
           (SELECT CAST(SUM(v * v) AS BIGINT) FROM cen) AS total_ss,
           (SELECT CAST(SUM(p * p) AS BIGINT) FROM proj) AS top_ss,
           ROUND(CAST((SELECT SUM(p * p) FROM proj) AS DOUBLE)
                 / CAST((SELECT SUM(v * v) FROM cen) AS DOUBLE), 6) + 0.0
             AS before_ratio,
           (SELECT CAST(SUM(v * v) AS BIGINT) FROM cen2) AS after_ss,
           (SELECT CAST(SUM(p * p) AS BIGINT) FROM proj2) AS top_ss_residual,
           ROUND(CAST((SELECT SUM(p * p) FROM proj2) AS DOUBLE)
                 / CAST((SELECT SUM(v * v) FROM cen2) AS DOUBLE), 6) + 0.0
             AS after_ratio"""
    )
    return "\n".join(parts)


@register("embedding_abtt_corrected", _abtt_oracle())
def embedding_abtt_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top correction with the before/after anisotropy
    readout (ROADMAP_r12 #2's remaining half): subtract each vector's
    top-PC projection, then re-run the power iteration on the RESIDUAL
    relation and report how much dominant-direction variance remains.
    before_ratio is embedding_anisotropy_topcomp's dial; after_ratio
    is the proof the correction worked. Exact int64 contract both
    blocks; the oracle unrolls TWO MATERIALIZED power-iteration
    chains. operators/similarity.abtt_corrected_anisotropy."""
    from lakeapi_spark.operators.similarity import abtt_corrected_anisotropy

    e = table(spark, sf_dir, "embeddings")
    return abtt_corrected_anisotropy(e, "vec_id", "embedding", iters=5)


@register("embedding_anisotropy_topcomp", _anisotropy_oracle())
def embedding_anisotropy_topcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy readout for the embeddings table — the diagnostic
    behind all-but-the-top (Mu & Viswanath 2018, public): the share of
    total centered variance captured by the TOP principal component.
    Isotropic embeddings put ~1/d here; a dominant common direction
    (the usual pathology that makes every cosine look similar) shows
    up as a ratio far above it, and is what you subtract before
    trusting similarity search. Composes the relational power
    iteration (pca_top_component's exact integer contract) with an
    L2 renormalization of the top direction (floor(sqrt(.)) — IEEE
    sqrt is correctly rounded, so both engines agree bit-for-bit) and
    two quadratic-form aggregates over the centered relation. One
    row: (n_vecs, top_ss, total_ss, top_var_ratio)."""
    from lakeapi_spark.operators.similarity import pca_top_component

    e = table(spark, sf_dir, "embeddings")
    w = pca_top_component(e, "vec_id", "embedding", iters=5)
    l2 = F.broadcast(
        w.agg(
            F.floor(
                F.sqrt(F.sum(F.col("loading_fp") * F.col("loading_fp")).cast("double"))
            )
            .cast("long")
            .alias("l")
        )
    )
    w2 = F.broadcast(
        w.crossJoin(l2).select(
            F.col("dim").alias("j"),
            F.expr("CAST(loading_fp * 1000000 DIV NULLIF(l, 0) AS LONG)").alias("wx"),
        )
    )
    # rebuild the centered relation with the operator's exact exprs
    ex = e.select(
        F.col("vec_id").alias("_id"),
        F.posexplode(F.col("embedding")).alias("_p", "_x"),
    ).select(
        "_id",
        (F.col("_p") + 1).alias("j"),
        F.round(F.col("_x").cast("double") * 1000000, 0).cast("long").alias("xf"),
    )
    n = ex.select("_id").distinct().count()
    m = ex.groupBy("j").agg(F.expr(f"SUM(xf) DIV {n}").alias("mf"))
    # localCheckpoint, not persist: one-shot query, nothing must
    # outlive the driver's collect (ADVICE r12 cache-hygiene fix)
    cen = ex.join(F.broadcast(m), "j").select(
        "_id", "j", (F.col("xf") - F.col("mf")).alias("v")
    ).localCheckpoint(eager=True)
    proj = (
        cen.join(w2, "j")
        .groupBy("_id")
        .agg(F.expr("SUM(v * wx) DIV 1000000").cast("long").alias("p"))
    )
    tv = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("p") * F.col("p")).alias("top_ss"),
    )
    tot = cen.agg(F.sum(F.col("v") * F.col("v")).alias("total_ss"))
    return tv.crossJoin(F.broadcast(tot)).select(
        "n_vecs",
        "top_ss",
        "total_ss",
        (
            F.round(
                F.col("top_ss").cast("double") / F.col("total_ss").cast("double"), 6
            )
            + 0.0
        ).alias("top_var_ratio"),
    )


@register("pca_top_component_embeddings", _pca_oracle())
def pca_top_component_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings table by relational
    power iteration — the anisotropy diagnostic run before trusting
    cosine similarity (embedding sets with a dominant common direction
    need it removed, all-but-the-top style, or every pair looks
    similar). No driver linear algebra: the covariance is a d^2-row
    RELATION built by one vec_id self-join + partial-agg shuffle, and
    each iteration is a broadcast matvec — the
    eigenvector_centrality plan shape on the dimension graph. Exact
    integer micro-unit contract (toward-zero divisions) replayed by
    the unrolled oracle. operators/similarity.pca_top_component."""
    from lakeapi_spark.operators.similarity import pca_top_component

    e = table(spark, sf_dir, "embeddings")
    return pca_top_component(e, "vec_id", "embedding", iters=5)


@register(
    "embedding_centroid_drift",
    """
    WITH ex AS (
      SELECT label, vec_id % 2 AS c, t.i AS i,
             CAST(ROUND(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE), 6)
                  AS DECIMAL(18,9)) AS xv
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ), g AS (
      SELECT label, c, i,
             ROUND(CAST(SUM(xv) AS DOUBLE) / COUNT(*), 9) AS m
      FROM ex GROUP BY 1, 2, 3
    ), j AS (
      SELECT a.label, a.m AS ma, b.m AS mb
      FROM g a JOIN g b ON a.label = b.label AND a.i = b.i
      WHERE a.c = 0 AND b.c = 1
    ), s AS (
      SELECT label, COUNT(*) AS n_dims,
             CAST(SUM(CAST(ROUND(ma * mb, 12) AS DECIMAL(28,14))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(ROUND(ma * ma, 12) AS DECIMAL(28,14))) AS DOUBLE) AS na2,
             CAST(SUM(CAST(ROUND(mb * mb, 12) AS DECIMAL(28,14))) AS DOUBLE) AS nb2
      FROM j GROUP BY 1
    )
    SELECT label, n_dims,
           ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) + 0.0 AS cosine
    FROM s
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift between two deterministic
    corpus cohorts (vec_id parity stands in for old/new snapshot):
    cosine between the cohorts' per-label mean vectors — the embedding
    monitoring probe that catches encoder version skew or upstream
    distribution shift before an ANN index goes stale. Elementwise
    means reduce with ONE (label, cohort, dim)-keyed partial agg
    (decimal round-before-average); the cosine runs over the tiny
    (labels x dims) centroid relation — constant size at any corpus
    scale. Dot/norm terms round to 12 digits and accumulate in DECIMAL
    so the contraction is order-independent on both engines."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("c"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "c",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("x").cast("double"), 6).cast("decimal(18,9)").alias("xv"),
    )
    g = ex.groupBy("label", "c", "i").agg(
        F.round(F.sum("xv").cast("double") / F.count(F.lit(1)), 9).alias("m")
    )
    a = g.filter(F.col("c") == 0).select("label", "i", F.col("m").alias("ma"))
    b = g.filter(F.col("c") == 1).select("label", "i", F.col("m").alias("mb"))
    j = a.join(b, ["label", "i"])
    s = j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(F.round(F.col("ma") * F.col("mb"), 12).cast("decimal(28,14)"))
        .cast("double")
        .alias("dot"),
        F.sum(F.round(F.col("ma") * F.col("ma"), 12).cast("decimal(28,14)"))
        .cast("double")
        .alias("na2"),
        F.sum(F.round(F.col("mb") * F.col("mb"), 12).cast("decimal(28,14)"))
        .cast("double")
        .alias("nb2"),
    )
    return s.select(
        "label",
        "n_dims",
        (
            F.round(
                F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6
            )
            + 0.0
        ).alias("cosine"),
    )


@register(
    "conversion_wilson_bounds",
    """
    WITH ft AS (
      SELECT user_id, event_type AS channel, MIN(ts) AS f
      FROM events WHERE event_type IN ('view', 'click', 'signup', 'error')
      GROUP BY 1, 2
    ), conv AS (
      SELECT ft.user_id, ft.channel,
             MAX(CASE WHEN p.ts > ft.f
                       AND p.ts <= ft.f + INTERVAL 24 HOURS
                      THEN 1 ELSE 0 END) AS converted
      FROM ft LEFT JOIN events p
        ON p.user_id = ft.user_id AND p.event_type = 'purchase'
      GROUP BY 1, 2
    ), s AS (
      SELECT channel, COUNT(*) AS n_users, CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM conv GROUP BY 1
    )
    SELECT channel, n_users, n_conv,
           ROUND(CAST(n_conv AS DOUBLE) / n_users, 6) + 0.0 AS rate,
           ROUND((CAST(n_conv AS DOUBLE) / n_users + 1.96 * 1.96 / (2 * n_users)
                  - 1.96 * SQRT((CAST(n_conv AS DOUBLE) / n_users
                                 * (1 - CAST(n_conv AS DOUBLE) / n_users)
                                 + 1.96 * 1.96 / (4.0 * n_users * n_users)) / n_users))
                 / (1 + 1.96 * 1.96 / n_users), 6) + 0.0 AS wilson_low
    FROM s
    """,
)
def conversion_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel conversion rate with the Wilson 95% lower bound — the
    small-sample-honest ranking statistic (a 2/2 channel must NOT
    outrank a 180/200 one, which raw rates do): converted = the user
    purchased within 24 h of their FIRST touch on the channel. Two
    user-keyed partial-agg shuffles; the Wilson algebra is one
    mirrored IEEE expression over the per-channel counters."""
    e = table(spark, sf_dir, "events")
    ft = (
        e.filter(F.col("event_type").isin("view", "click", "signup", "error"))
        .groupBy("user_id", F.col("event_type").alias("channel"))
        .agg(F.min("ts").alias("f"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        ft.join(p, "user_id", "left")
        .groupBy("user_id", "channel")
        .agg(
            F.max(
                F.when(
                    (F.col("pts") > F.col("f"))
                    & (F.col("pts") <= F.col("f") + F.expr("INTERVAL 24 HOURS")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    s = conv.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv")
    )
    z = 1.96
    nd = F.col("n_users").cast("double")
    ph = F.col("n_conv").cast("double") / nd
    wlow = (
        ph
        + F.lit(z * z) / (2 * nd)
        - z * F.sqrt((ph * (1 - ph) + F.lit(z * z) / (4.0 * nd * nd)) / nd)
    ) / (1 + F.lit(z * z) / nd)
    return s.select(
        "channel",
        "n_users",
        "n_conv",
        (F.round(ph, 6) + 0.0).alias("rate"),
        (F.round(wlow, 6) + 0.0).alias("wilson_low"),
    )


@register(
    "cusum_changepoint_daily",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS dn,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,10)))
                        AS DOUBLE) / COUNT(*), 6) AS m
      FROM events GROUP BY 1
    ), base AS (
      SELECT ROUND(CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS mu,
             ROUND(SQRT((CAST(SUM(CAST(m * m AS DECIMAL(28,10))) AS DOUBLE)
                         - CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE)
                           * CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(*))
                        / (COUNT(*) - 1)), 6) AS sigma
      FROM daily WHERE dn <= 15
    ), dev AS (
      SELECT dn, m,
             CAST(ROUND((m - mu - 0.5 * sigma) * 1000000, 0) AS BIGINT) AS d,
             CAST(ROUND(4 * sigma * 1000000, 0) AS BIGINT) AS h
      FROM daily CROSS JOIN base WHERE dn > 15
    ), cs0 AS (
      SELECT dn, m, h,
             SUM(d) OVER (ORDER BY dn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dev
    ), cs AS (
      SELECT dn, m, h, c,
             MIN(c) OVER (ORDER BY dn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmin
      FROM cs0
    )
    SELECT dn AS day_num, m AS daily_mean,
           ROUND((c - LEAST(0, cmin)) / 1000000.0, 6) + 0.0 AS cusum_pos,
           (c - LEAST(0, cmin)) > h AS breach
    FROM cs
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point monitor on the daily mean event
    value (baseline mu/sigma from the first 15 days, slack k = 0.5
    sigma, decision interval h = 4 sigma). The clamped recurrence
    S_t = max(0, S_{t-1} + d_t) is NOT a window function — but its
    closed form IS: the Lindley identity
    ``S_t = cs_t - min(0, min_{j<=t} cs_j)`` turns the sequential
    max-recursion into a running sum + running minimum, both plain
    windows, so the monitor stays fully declarative (no Python, no
    recursion) on BOTH engines. Deviations are scaled to integer
    micro-units first, so every windowed sum/min is exact int64 math.
    One shuffle to daily grain; the windows run on the tiny DAY
    relation (partitioned by series key when monitoring many metrics
    at once)."""
    e = table(spark, sf_dir, "events")
    day0 = F.lit("2024-01-01").cast("date")
    daily = e.groupBy(
        (F.datediff(F.col("ts").cast("date"), day0) + 1).alias("dn")
    ).agg(
        F.round(
            F.sum(F.round(F.col("value"), 6).cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    base = F.broadcast(
        daily.filter(F.col("dn") <= 15).agg(
            F.round(
                F.sum(F.col("m").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mu"),
            F.round(
                F.sqrt(
                    (
                        F.sum((F.col("m") * F.col("m")).cast("decimal(28,10)")).cast(
                            "double"
                        )
                        - F.sum(F.col("m").cast("decimal(28,10)")).cast("double")
                        * F.sum(F.col("m").cast("decimal(28,10)")).cast("double")
                        / F.count(F.lit(1))
                    )
                    / (F.count(F.lit(1)) - 1)
                ),
                6,
            ).alias("sigma"),
        )
    )
    dev = (
        daily.crossJoin(base)
        .filter(F.col("dn") > 15)
        .select(
            "dn",
            "m",
            F.round((F.col("m") - F.col("mu") - 0.5 * F.col("sigma")) * 1000000, 0)
            .cast("bigint")
            .alias("d"),
            F.round(4 * F.col("sigma") * 1000000, 0).cast("bigint").alias("h"),
        )
    )
    wcum = Window.orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    cs0 = dev.select("dn", "m", "h", F.sum("d").over(wcum).alias("c"))
    cs = cs0.select("dn", "m", "h", "c", F.min("c").over(wcum).alias("cmin"))
    splus = F.col("c") - F.least(F.lit(0).cast("bigint"), F.col("cmin"))
    return cs.select(
        F.col("dn").alias("day_num"),
        F.col("m").alias("daily_mean"),
        (F.round(splus / 1000000.0, 6) + 0.0).alias("cusum_pos"),
        (splus > F.col("h")).alias("breach"),
    )


@register(
    "search_phrase_count",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g'), '[ \t\n\x0B\f\r]+') AS ws
      FROM documents
    ), tf AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2
                  THEN len(list_filter(range(1, len(ws)),
                           i -> ws[i] = 'the' AND ws[i+1] = 'value'))
                  ELSE 0 END AS phrase_tf
      FROM w
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id) AS rank,
             doc_id, phrase_tf
      FROM tf WHERE phrase_tf > 0
    ) WHERE rank <= 20
    """,
)
def search_phrase_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("the value"): per-doc adjacent-token phrase
    occurrences, top-20 docs. Deliberately NOT a positional-index
    self-join: adjacency within one document is ARRAY-LOCAL, so the
    count is a JVM lambda over the token array — zero shuffles, zero
    candidate pairs, trivially linear at any corpus size (a positional
    self-join would shuffle every token twice to rediscover adjacency
    the array already encodes). Top-k compiles to
    TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(
        F.regexp_replace(F.lower(F.col("text")), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+"
    )
    hits = F.filter(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: (F.element_at(ws, i) == "the")
        & (F.element_at(ws, i + 1) == "value"),
    )
    tf = d.select(
        "doc_id",
        F.when(F.size(ws) >= 2, F.size(hits)).otherwise(0).alias("phrase_tf"),
    ).filter(F.col("phrase_tf") > 0)
    wr = Window.orderBy(F.col("phrase_tf").desc(), "doc_id")
    return (
        tf.orderBy(F.col("phrase_tf").desc(), "doc_id")
        .limit(20)
        .withColumn("rank", F.row_number().over(wr))
        .select("rank", "doc_id", "phrase_tf")
    )


@register(
    "item_item_cosine",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    freq AS (SELECT p, COUNT(*) AS n FROM li GROUP BY 1),
    co AS (
      SELECT a.p AS pa, b.p AS pb, COUNT(*) AS c
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), scored AS (
      SELECT pa, pb, c,
             ROUND(c / SQRT(CAST(fa.n AS DOUBLE) * fb.n), 6) + 0.0 AS cosine
      FROM co JOIN freq fa ON fa.p = pa JOIN freq fb ON fb.p = pb
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, pa, pb) AS rank,
             pa, pb, c AS n_co, cosine
      FROM scored
    ) WHERE rank <= 20
    """,
)
def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores: cosine over order
    co-occurrence (c / sqrt(n_a * n_b), support >= 2), top-20 part
    pairs — the classic "customers also bought" similarity. Pair
    counts come from the SAME two-shuffle basket expansion as the
    co-purchase graph (collect_set per order, JVM array pair
    expansion, pair-keyed count — no fact self-join); per-part order
    frequencies join the pair relation part-keyed; ranking compiles to
    TakeOrderedAndProject, never a global single-partition window."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    co = (
        baskets.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    freq = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        co.join(freq.select(F.col("p").alias("pa"), F.col("n").alias("na")), "pa")
        .join(freq.select(F.col("p").alias("pb"), F.col("n").alias("nb")), "pb")
        .select(
            "pa",
            "pb",
            F.col("c").alias("n_co"),
            (
                F.round(
                    F.col("c") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6
                )
                + 0.0
            ).alias("cosine"),
        )
    )
    wr = Window.orderBy(F.col("cosine").desc(), "pa", "pb")
    return (
        scored.orderBy(F.col("cosine").desc(), "pa", "pb")
        .limit(20)
        .withColumn("rank", F.row_number().over(wr))
        .select("rank", "pa", "pb", "n_co", "cosine")
    )


@register(
    "percentile_bands_daily",
    """
    WITH v AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS dn,
             value, event_id
      FROM events
    ), r AS (
      SELECT dn, value,
             ROW_NUMBER() OVER (PARTITION BY dn ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY dn) AS n
      FROM v
    )
    SELECT dn AS day_num, MAX(n) AS n_events,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN value END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99
    FROM r GROUP BY dn
    """,
)
def percentile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily p50/p90/p99 bands of event value (type-1 order
    statistic: the value at rank ceil(q*n), ties broken by event_id so
    the statistic is deterministic under duplicates) — the latency/
    spend percentile time series dashboards plot. One day-partitioned
    window sort + the per-day conditional rollup: at 100 TB each day
    sorts independently in its own partitions (no global sort), and
    days are the natural skew-free key. approx_percentile would be one
    pass cheaper but engine-specific — this is the hash-exact form."""
    e = table(spark, sf_dir, "events")
    day0 = F.lit("2024-01-01").cast("date")
    v = e.select(
        (F.datediff(F.col("ts").cast("date"), day0) + 1).alias("dn"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("dn").orderBy("value", "event_id")
    wn = Window.partitionBy("dn")
    r = v.select(
        "dn",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q: float) -> Column:
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )

    return r.groupBy(F.col("dn").alias("day_num")).agg(
        F.max("n").alias("n_events"),
        pick(0.50).alias("p50"),
        pick(0.90).alias("p90"),
        pick(0.99).alias("p99"),
    )


@register(
    "orders_backlog_aging",
    """
    WITH open_o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,4)) AS tp,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS age
      FROM orders
      WHERE o_orderstatus IN ('O', 'P') AND CAST(o_orderdate AS DATE) <= DATE '1998-01-01'
    )
    SELECT CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 90 THEN '31-90'
                WHEN age <= 365 THEN '91-365' ELSE '365+' END AS age_bucket,
           o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(tp) AS DOUBLE), 2) + 0.0 AS backlog_value
    FROM open_o GROUP BY 1, 2
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging as of a snapshot date: unfilled orders
    ('O'/'P') bucketed by age, value summed in decimal per (bucket,
    priority) — the operations WIP report. Filter + one partial-agg
    shuffle over a handful of groups; the status/date filters push to
    the scan."""
    o = table(spark, sf_dir, "orders")
    snap = F.lit("1998-01-01").cast("date")
    age = F.datediff(snap, F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        o.filter(
            F.col("o_orderstatus").isin("O", "P")
            & (F.col("o_orderdate").cast("date") <= snap)
        )
        .groupBy(bucket.alias("age_bucket"), F.col("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum(dec("o_totalprice")), 2).cast("double") + 0.0).alias(
                "backlog_value"
            ),
        )
    )


@register(
    "funnel_time_to_convert",
    """
    WITH v AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, MIN(ts) AS fp FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ), fv AS (
      SELECT v.user_id, MIN(v.ts) AS first_view
      FROM v JOIN p ON p.user_id = v.user_id AND v.ts < p.fp
      GROUP BY 1
    ), lag_h AS (
      SELECT fv.user_id,
             date_diff('hour', fv.first_view, p.fp) AS h
      FROM fv JOIN p ON p.user_id = fv.user_id
    )
    SELECT CASE WHEN h < 1 THEN '<1h' WHEN h < 6 THEN '1-6h'
                WHEN h < 24 THEN '6-24h' WHEN h < 72 THEN '1-3d'
                ELSE '3d+' END AS delay_bucket,
           COUNT(*) AS n_users
    FROM lag_h GROUP BY 1
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: hours from a user's first VIEW to
    their FIRST purchase (views after the purchase don't count),
    bucketed — the histogram behind the KM curve that tells you where
    the funnel actually stalls. Two user-keyed partial aggs + one
    user-keyed join; the bucket rollup reduces to five groups."""
    e = table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    fv = (
        e.filter(F.col("event_type") == "view")
        .join(p, "user_id")
        .filter(F.col("ts") < F.col("fp"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"), F.first("fp").alias("fp"))
    )
    h = (
        F.floor(F.unix_timestamp("fp") / 3600)
        - F.floor(F.unix_timestamp("first_view") / 3600)
    )
    bucket = (
        F.when(h < 1, "<1h")
        .when(h < 6, "1-6h")
        .when(h < 24, "6-24h")
        .when(h < 72, "1-3d")
        .otherwise("3d+")
    )
    return fv.groupBy(bucket.alias("delay_bucket")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "embedding_norm_outliers",
    """
    WITH ex AS (
      SELECT vec_id, label, t.i AS i,
             CASE WHEN vec_id % 10 = 0 AND t.i > 32 THEN 0.0
                  ELSE CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) END AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ), n AS (
      SELECT vec_id, label,
             ROUND(SQRT(CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,12)))
                             AS DOUBLE)), 6) AS nrm
      FROM ex GROUP BY 1, 2
    ), s AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(CAST(nrm AS DECIMAL(28,10))) AS DOUBLE) AS sn,
             CAST(SUM(CAST(nrm * nrm AS DECIMAL(28,10))) AS DOUBLE) AS snn
      FROM n
    )
    SELECT vec_id, label, nrm,
           ROUND((nrm - sn / k)
                 / SQRT((snn - sn * sn / k) / (k - 1)), 4) + 0.0 AS z
    FROM n CROSS JOIN s
    WHERE ABS((nrm - sn / k) / SQRT((snn - sn * sn / k) / (k - 1))) > 2
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene check: vectors whose L2 norm sits more than
    2 sigma from the corpus mean norm — the cheap screen that catches
    truncated/zeroed/double-scaled vectors before they poison cosine
    ranking. The fixture corpus is perfectly unit-normalized (sigma =
    0, nothing to catch), so the query SIMULATES the failure it
    screens for: every 10th vector has its tail dims zeroed (the
    classic truncated-write corruption) before norms are taken — the
    screen must flag exactly those. Per-vector norms reduce
    array-locally (posexplode + vec_id-keyed partial agg); corpus
    moments are ONE broadcast row; z-scoring is a mirrored IEEE
    expression. Norm terms round at 9 and accumulate in decimal."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x0")
    ).select(
        "vec_id",
        "label",
        F.when(
            (F.col("vec_id") % 10 == 0) & (F.col("pos") + 1 > 32), F.lit(0.0)
        )
        .otherwise(F.col("x0").cast("double"))
        .alias("x"),
    )
    n = ex.groupBy("vec_id", "label").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,12)")
                ).cast("double")
            ),
            6,
        ).alias("nrm")
    )
    s = F.broadcast(
        n.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("nrm").cast("decimal(28,10)")).cast("double").alias("sn"),
            F.sum((F.col("nrm") * F.col("nrm")).cast("decimal(28,10)"))
            .cast("double")
            .alias("snn"),
        )
    )
    mu = F.col("sn") / F.col("k")
    sd = F.sqrt((F.col("snn") - F.col("sn") * F.col("sn") / F.col("k")) / (F.col("k") - 1))
    z = (F.col("nrm") - mu) / sd
    return (
        n.crossJoin(s)
        .filter(F.abs(z) > 2)
        .select("vec_id", "label", "nrm", (F.round(z, 4) + 0.0).alias("z"))
    )


@register(
    "ses_user_spend_level",
    """
    WITH ev AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase'
    ), rec AS (
      WITH RECURSIVE r(user_id, rn, s) AS (
        SELECT user_id, rn, x FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, (300 * e.x + 700 * r.s) // 1000
        FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT user_id, MAX(rn) AS n_events,
           ROUND(MAX_BY(s, rn) / 1000000.0, 6) + 0.0 AS ses_level
    FROM rec GROUP BY user_id
    """,
)
def ses_user_spend_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-smoothed purchase level (alpha = 0.3):
    the flat-SES one-step forecast of what each user spends next —
    recency-weighted, robust to one-off spikes. The truncating integer
    recursion is inherently sequential; Spark runs it as ONE
    repartition+sort + mapInPandas pass
    (operators/windows.exp_smooth_final), the oracle replays it with a
    recursive CTE — bit-identical int64 math on both engines."""
    from lakeapi_spark.operators.windows import exp_smooth_final

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    staged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000, 0).cast("long").alias("x"),
    )
    out = exp_smooth_final(staged, "user_id", "ts", "event_id", "x", alpha_num=300)
    return out.select(
        "user_id",
        "n_events",
        (F.round(F.col("ses_final") / 1000000.0, 6) + 0.0).alias("ses_level"),
    )


# ---------------------------------------------------------------------------
# Round 11: weighted centralities on the co-purchase graph
# ---------------------------------------------------------------------------

#: weighted strong co-purchase edges (support count kept as w) —
#: mirrors _weighted_copurchase_edges
_WEIGHTED_EDGES_SQL = """
    WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
    po AS (
      SELECT DISTINCT a.o, a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    e0 AS (SELECT u, v, COUNT(*) AS w FROM po GROUP BY u, v HAVING COUNT(*) >= 2),
    e AS (SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0)
"""


@register(
    "pagerank_weighted_copurchase",
    _WEIGHTED_EDGES_SQL
    + """
    , wdeg AS (SELECT u, SUM(w) AS wdeg FROM e GROUP BY u),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM nodes),
    pr1 AS (
      SELECT e.v AS node,
             ROUND((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                   + 0.85::DOUBLE * CAST(SUM(CAST(p.pr * e.w / d.wdeg AS DECIMAL(28,12))) AS DOUBLE), 10) AS pr
      FROM e JOIN pr0 p ON p.node = e.u JOIN wdeg d ON d.u = e.u
      GROUP BY e.v
    ),
    pr2 AS (
      SELECT e.v AS node,
             ROUND((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                   + 0.85::DOUBLE * CAST(SUM(CAST(p.pr * e.w / d.wdeg AS DECIMAL(28,12))) AS DOUBLE), 8) AS pr
      FROM e JOIN pr1 p ON p.node = e.u JOIN wdeg d ON d.u = e.u
      GROUP BY e.v
    )
    SELECT node, pr,
           CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rank
    FROM pr2 QUALIFY rank <= 50
    """,
)
def pagerank_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration WEIGHTED PageRank over the strong co-purchase
    graph, edge weight = co-purchase support: a part's authority flows
    proportionally down its strongest co-purchase ties, top 50 by
    rank. Extends pagerank_cust_supp's exact-fixed-point contract
    (decimal-cast contributions, per-iteration rounding) to weighted
    mass splitting — see operators/graph.weighted_pagerank for the
    plan shape (weighted degree folded into the persisted edge
    relation, one broadcast join + one partial-agg shuffle per
    iteration)."""
    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.graph import weighted_pagerank

    handles: list = []
    edges = _weighted_copurchase_edges(spark, sf_dir)
    pr = weighted_pagerank(edges, weight="w", iters=2, cache_handles=handles)
    return (
        ranked_topk(pr, [F.col("pr").desc(), F.col("node")], k=50)
        .withColumn("rank", F.col("rank").cast("long"))
        .select("node", "pr", "rank")
    )


def _bfs_forward_ctes(n_seeds: int, depth: int) -> list[str]:
    """Shared forward-BFS CTE chain for the sampled-centrality oracles:
    top-``n_seeds`` degree seeds, then ``depth`` MATERIALIZED frontier
    levels f_l(s, node, sigma) with visited-set anti-joins (inlining
    would be exponential — each level references the previous one
    multiple times)."""
    parts = [
        _STRONG_EDGES_SQL,
        f""", deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY 1)
    , seeds AS (SELECT u AS s FROM deg ORDER BY d DESC, u LIMIT {n_seeds})
    , f_0 AS MATERIALIZED (SELECT s, s AS node, CAST(1 AS BIGINT) AS sigma FROM seeds)
    , vis_0 AS MATERIALIZED (SELECT s, node FROM f_0)""",
    ]
    for l in range(1, depth + 1):
        parts.append(
            f""", f_{l} AS MATERIALIZED (
      SELECT f.s, e.v AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM f_{l - 1} f JOIN e ON e.u = f.node
      WHERE NOT EXISTS (SELECT 1 FROM vis_{l - 1} x WHERE x.s = f.s AND x.node = e.v)
      GROUP BY 1, 2)
    , vis_{l} AS MATERIALIZED (
      SELECT s, node FROM vis_{l - 1} UNION ALL SELECT s, node FROM f_{l})"""
        )
    return parts


def _harmonic_oracle(n_seeds: int = 8, depth: int = 4, scale: int = 1_000_000) -> str:
    """Unrolled harmonic-centrality oracle: the forward BFS levels,
    each contributing scale // distance per (seed, node) — exact
    integers, order-independent sum."""
    parts = _bfs_forward_ctes(n_seeds, depth)
    union = " UNION ALL ".join(
        f"SELECT s, node, CAST({scale // d} AS BIGINT) AS t FROM f_{d}"
        for d in range(1, depth + 1)
    )
    parts.append(
        f"""
    SELECT node, CAST(SUM(t) AS BIGINT) AS hc_fp,
           ROUND(CAST(SUM(t) AS DOUBLE) / {scale}, 4) + 0.0 AS hc
    FROM ({union}) GROUP BY 1"""
    )
    return "\n".join(parts)


@register("harmonic_centrality_sampled", _harmonic_oracle())
def harmonic_centrality_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source bounded-depth harmonic centrality over the strong
    co-purchase graph: H(v) = sum over the 8 highest-degree pivot
    seeds of 1/d(seed, v), BFS capped at 4 levels — the closeness-
    family measure that stays finite on disconnected graphs
    (unreachable pairs contribute 0, not infinity). Shares the
    forward-BFS machinery (and its fixed-point integer contract) with
    betweenness_copurchase_sampled; one pass, no backward walk.
    operators/graph.harmonic_centrality_sampled."""
    from lakeapi_spark.operators.graph import harmonic_centrality_sampled

    edges = _strong_copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    seeds = deg.orderBy(F.col("d").desc(), "node").limit(8).select("node")
    return harmonic_centrality_sampled(
        edges, seeds, max_depth=4, scale=1_000_000, dedupe_edges=False
    )


def _betweenness_oracle(n_seeds: int = 8, depth: int = 4, scale: int = 1_000_000) -> str:
    """Unrolled Brandes oracle: the shared forward BFS (integer path
    counts), then the backward dependency walk in ``scale``-ths with
    truncating division — every sum an integer, so the accumulation is
    order-independent and bit-replayable."""
    parts = _bfs_forward_ctes(n_seeds, depth)
    parts.append(
        f""", d_{depth} AS MATERIALIZED (
      SELECT s, node, sigma, CAST(0 AS BIGINT) AS delta FROM f_{depth})"""
    )
    for l in range(depth - 1, 0, -1):
        parts.append(
            f""", c_{l} AS MATERIALIZED (
      SELECT v.s, v.node, SUM((v.sigma * ({scale} + d.delta)) // d.sigma) AS c
      FROM f_{l} v JOIN e ON e.u = v.node
      JOIN d_{l + 1} d ON d.s = v.s AND d.node = e.v
      GROUP BY 1, 2)
    , d_{l} AS MATERIALIZED (
      SELECT f.s, f.node, f.sigma, CAST(COALESCE(c.c, 0) AS BIGINT) AS delta
      FROM f_{l} f LEFT JOIN c_{l} c ON c.s = f.s AND c.node = f.node)"""
        )
    union = " UNION ALL ".join(
        f"SELECT s, node, delta FROM d_{l}" for l in range(1, depth)
    )
    parts.append(
        f"""
    SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_fp,
           ROUND(CAST(SUM(delta) AS DOUBLE) / {scale}, 4) + 0.0 AS bc
    FROM ({union}) GROUP BY 1 HAVING SUM(delta) > 0"""
    )
    return "\n".join(parts)


@register("betweenness_copurchase_sampled", _betweenness_oracle())
def betweenness_copurchase_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source bounded-depth betweenness over the strong
    co-purchase graph: Brandes dependency accumulation from the 8
    highest-degree parts (ties to the smaller id — a deterministic
    pivot set, not a random one, so the oracle re-derives it), BFS
    capped at 4 levels — the bridge-part detector: a part that links
    two co-purchase communities scores high here while PageRank and
    degree both sleep on it. Integer path counts, dependency in
    millionths with truncating division (order-independent sums);
    positive-dependency rows only.
    operators/graph.betweenness_bounded; the oracle unrolls the same
    forward/backward walk with MATERIALIZED CTEs."""
    from lakeapi_spark.operators.graph import betweenness_bounded

    edges = _strong_copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    seeds = deg.orderBy(F.col("d").desc(), "node").limit(8).select("node")
    return betweenness_bounded(
        edges, seeds, max_depth=4, scale=1_000_000, dedupe_edges=False
    )


def _weighted_kcore_oracle(s_min: int = 5, rounds: int = 16) -> str:
    """Unrolled peel oracle for weighted_k_core (same trick as
    _kcore_oracle: fixed round count with margin over the measured
    fixpoint — 10 peels at sf0.01, 0 at sf0.001; 16 unrolled)."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous relation three times — 3^rounds
    # expansion blows the file-handle budget before it blows the
    # planner. Materializing makes the chain linear.
    ctes = [", e_0 AS MATERIALIZED (SELECT u, v, w FROM e)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f""", s_{r} AS MATERIALIZED (SELECT u AS nd, SUM(w) AS s FROM e_{r - 1} GROUP BY 1)
    , e_{r} AS MATERIALIZED (
      SELECT x.u, x.v, x.w FROM e_{r - 1} x
      JOIN s_{r} a ON a.nd = x.u AND a.s >= {s_min}
      JOIN s_{r} b ON b.nd = x.v AND b.s >= {s_min}
    )"""
        )
    return (
        _WEIGHTED_EDGES_SQL
        + "\n".join(ctes)
        + f"""
    SELECT u AS node, CAST(SUM(w) AS BIGINT) AS strength,
           CAST(COUNT(*) AS BIGINT) AS degree
    FROM e_{rounds} GROUP BY 1
    """
    )


@register("kcore_weighted_copurchase", _weighted_kcore_oracle())
def kcore_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-strength s-core of the WEIGHTED co-purchase graph
    (operators/graph.weighted_k_core): peel parts whose total
    co-purchase support falls below 5 until every survivor keeps
    strength >= 5 — the volume-aware cohesion backbone, where
    kcore_copurchase's unweighted 2-core keeps any part with two weak
    ties, this demands real support mass (measured at sf0.01: a
    10-round peel cascade that the degree-based core never triggers).
    The oracle unrolls the same peel 16 rounds (fixpoint at 10 with
    margin); Spark iterates with a convergence probe, per-round
    localCheckpoint, and broadcast anti-joins against the churn-sized
    peeled set."""
    from lakeapi_spark.operators.graph import weighted_k_core

    edges = _weighted_copurchase_edges(spark, sf_dir)
    # max_iter == the oracle's 16 unrolled rounds: a deeper cascade
    # raises on the Spark side rather than diverging silently (ADVICE r12)
    return weighted_k_core(edges, s_min=5, max_iter=16)


def _weighted_harmonic_oracle(
    n_seeds: int = 8, max_dist: int = 6, scale: int = 1_000_000
) -> str:
    """Unrolled Dijkstra-by-rounds oracle: integer edge costs
    c = (5 + w) // w in {1, 2, 3}, one MATERIALIZED frontier level per
    DISTANCE unit — level d's candidates come from levels d-1/d-2/d-3
    through cost-1/2/3 edges, the visited anti-join settles them
    (Dijkstra's invariant for positive integer costs). Inlining would
    be exponential: each level is referenced by up to three later
    ones."""
    parts = [
        _WEIGHTED_EDGES_SQL,
        f""", ec AS MATERIALIZED (SELECT u, v, (5 + w) // w AS c FROM e)
    , st AS (SELECT u, SUM(w) AS s FROM e GROUP BY u)
    , seeds AS (SELECT u AS sd FROM st ORDER BY s DESC, u LIMIT {n_seeds})
    , f_0 AS MATERIALIZED (SELECT sd AS s, sd AS node FROM seeds)
    , vis_0 AS MATERIALIZED (SELECT s, node FROM f_0)""",
    ]
    for d in range(1, max_dist + 1):
        cand = "\n      UNION\n      ".join(
            f"SELECT f.s, ec.v AS node FROM f_{d - c} f "
            f"JOIN ec ON ec.u = f.node AND ec.c = {c}"
            for c in (1, 2, 3)
            if d - c >= 0
        )
        parts.append(
            f""", f_{d} AS MATERIALIZED (
      SELECT s, node FROM (
      {cand}
      ) cd
      WHERE NOT EXISTS (SELECT 1 FROM vis_{d - 1} x
                        WHERE x.s = cd.s AND x.node = cd.node))
    , vis_{d} AS MATERIALIZED (
      SELECT s, node FROM vis_{d - 1} UNION ALL SELECT s, node FROM f_{d})"""
        )
    union = " UNION ALL ".join(
        f"SELECT s, node, CAST({scale // d} AS BIGINT) AS t FROM f_{d}"
        for d in range(1, max_dist + 1)
    )
    parts.append(
        f"""
    SELECT node, CAST(SUM(t) AS BIGINT) AS hc_fp,
           ROUND(CAST(SUM(t) AS DOUBLE) / {scale}, 4) + 0.0 AS hc
    FROM ({union}) GROUP BY 1"""
    )
    return "\n".join(parts)


@register("weighted_harmonic_copurchase", _weighted_harmonic_oracle())
def weighted_harmonic_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED shortest-path centrality over the co-purchase graph
    (ROADMAP_r12 #3): harmonic centrality where distance runs
    Dijkstra-by-rounds over integer edge costs derived from support —
    cost = (5 + w) DIV w, so a well-supported tie (w >= 6) is a 1-unit
    hop and a barely-strong one (w = 2) a 3-unit detour. Seeds = the 8
    highest-STRENGTH parts (sum of incident support, ties to smaller
    id — deterministic, oracle-rederivable), total distance capped at
    6 units — the same sampled-source/bounded-horizon estimator
    contract as harmonic_centrality_sampled, now respecting tie
    strength. Exact integers end-to-end (scale DIV distance terms);
    the oracle unrolls one MATERIALIZED relaxation level per distance
    unit. operators/graph.weighted_harmonic_sampled + _dijkstra_levels."""
    from lakeapi_spark.operators.graph import weighted_harmonic_sampled

    edges = _weighted_copurchase_edges(spark, sf_dir)
    ec = edges.withColumn("c", F.expr("(5 + w) DIV w"))
    stg = (
        edges.select(F.col("src").alias("node"), "w")
        .unionByName(edges.select(F.col("dst").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("s"))
    )
    seeds = stg.orderBy(F.col("s").desc(), "node").limit(8).select("node")
    return weighted_harmonic_sampled(
        ec, seeds, max_dist=6, scale=1_000_000, dedupe_edges=False
    )


@register(
    "eigencentrality_copurchase",
    _WEIGHTED_EDGES_SQL
    + """
    , x0 AS (SELECT DISTINCT u AS node, 1.0::DOUBLE AS x FROM e),
    y1 AS (
      SELECT e.v AS node, SUM(CAST(x.x * e.w AS DECIMAL(28,12))) AS y
      FROM e JOIN x0 x ON x.node = e.u GROUP BY e.v
    ),
    x1 AS (
      SELECT node, ROUND(CAST(y AS DOUBLE) / CAST((SELECT SUM(y) FROM y1) AS DOUBLE), 10) AS x
      FROM y1
    ),
    y2 AS (
      SELECT e.v AS node, SUM(CAST(x.x * e.w AS DECIMAL(28,12))) AS y
      FROM e JOIN x1 x ON x.node = e.u GROUP BY e.v
    ),
    x2 AS (
      SELECT node, ROUND(CAST(y AS DOUBLE) / CAST((SELECT SUM(y) FROM y2) AS DOUBLE), 10) AS x
      FROM y2
    ),
    y3 AS (
      SELECT e.v AS node, SUM(CAST(x.x * e.w AS DECIMAL(28,12))) AS y
      FROM e JOIN x2 x ON x.node = e.u GROUP BY e.v
    ),
    x3 AS (
      SELECT node, ROUND(CAST(y AS DOUBLE) / CAST((SELECT SUM(y) FROM y3) AS DOUBLE), 8) AS x
      FROM y3
    )
    SELECT node, x AS score,
           CAST(ROW_NUMBER() OVER (ORDER BY x DESC, node) AS BIGINT) AS rank
    FROM x3 QUALIFY rank <= 50
    """,
)
def eigencentrality_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step power-iteration eigenvector centrality on the
    weighted strong co-purchase graph (L1-normalized each step, x0=1),
    top 50: "connected to well-connected parts" prestige, the
    teleport-free sibling of weighted PageRank. Exact across engines
    by the decimal-matvec + per-step-rounding contract; the L1
    normalizer rides the plan as a broadcast scalar, no driver
    collect. See operators/graph.eigenvector_centrality."""
    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.graph import eigenvector_centrality

    handles: list = []
    edges = _weighted_copurchase_edges(spark, sf_dir)
    x = eigenvector_centrality(
        edges, weight="w", iters=3, cache_handles=handles
    )
    return (
        ranked_topk(x, [F.col("score").desc(), F.col("node")], k=50)
        .withColumn("rank", F.col("rank").cast("long"))
        .select("node", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Round 11: scale-dial proving queries (the r10 dials, driven by the
# driver's own harness instead of only pytest)
# ---------------------------------------------------------------------------


@register(
    "lang_quota_sample_prefiltered",
    """
    SELECT doc_id, lang FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id
    ) <= 40
    """,
)
def lang_quota_sample_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_quota_sample with the r10 ``prefilter_keep`` scale dial ON
    (keep 3/4 of the hash space before ranking): the dial is
    exactness-preserving — the guard pass proves every language
    retains min(total, quota) survivors, so the oracle is IDENTICAL to
    the unfiltered query. This registers the dial under the driver's
    hash gate: a silent winner-set change would mismatch here.
    operators/sampling.quota_sample."""
    from lakeapi_spark.operators.sampling import quota_sample

    d = table(spark, sf_dir, "documents")
    return quota_sample(
        d, "doc_id", "lang", quota=40, prefilter_keep=(3, 4)
    ).select("doc_id", "lang")


@register(
    "mad_outlier_events_approx",
    """
    WITH med AS (
      SELECT event_type AS g, quantile_disc(value, 0.5) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.g
    ), mad AS (
      SELECT event_type AS g, MIN(med) AS med, quantile_disc(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT event_id, event_type, value, robust_z FROM (
      SELECT e.event_id, e.event_type, e.value,
             ROUND(0.6745 * ABS(e.value - m.med) / m.mad + 0.0, 4) AS robust_z
      FROM events e JOIN mad m ON e.event_type = m.g
      WHERE m.mad > 0
    ) WHERE robust_z >= 3.5
    """,
)
def mad_outlier_events_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mad_outlier_events with the r10 ``approx_accuracy`` dial ON
    (GK-sketch medians, hash join instead of broadcast — the >1e6-group
    plan). At accuracy 10000 the sketch is rank-EXACT for ~2000-row
    groups, so the dial's entire divergence from the exact path is
    element-vs-interpolation median selection — which DuckDB expresses
    PRECISELY as quantile_disc vs quantile_cont. The oracle therefore
    pins the approx path's full robust_z values bit-for-bit, not just
    the flagged id set. min_group_rows=0 is the documented explicit
    opt-out of the dial's group-size floor: the floor protects callers
    comparing against INTERPOLATING (exact-path) medians, while this
    query's oracle is the disc twin — the element-selection semantics
    hold at any group size the sketch is rank-exact for (accuracy
    10000 >> every fixture group).
    (operators/stats.mad_outliers)."""
    from lakeapi_spark.operators.stats import mad_outliers

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(
        e, "event_type", "value", k=3.5, approx_accuracy=10000, min_group_rows=0
    )


@register(
    "topk_customers_per_nation_two_phase",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, rank FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
             ) AS BIGINT) AS rank
      FROM customer
    ) WHERE rank <= 3
    """,
    bench=True,
)
def topk_customers_per_nation_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation via the TWO-PHASE
    top-k operator: per-partition Arrow-batch partial top-k over
    sortWithinPartitions (zero shuffle) + one bounded groupBy merge —
    NO per-group window over the fact table (plan-asserted WindowExec-
    free in tests/test_plans.py). The window-rank SQL is the oracle:
    same rows, same ranks, different (scale-correct) plan.
    operators/pipeline.topk_per_group."""
    from lakeapi_spark.operators.pipeline import topk_per_group

    c = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return topk_per_group(
        c, ["c_nationkey"], "c_acctbal", k=3, tiebreak_col="c_custkey"
    )


# ---------------------------------------------------------------------------
# Round 11: channel analytics — per-channel sessions, touch attribution,
# windowed funnel, decile bridge
# ---------------------------------------------------------------------------

#: derived acquisition channel: a deterministic function of the event's
#: props.k payload (the fixture has no channel column; the mapping IS
#: the contract both engines compute)
_CHANNEL_SQL = """CASE (CAST(json_extract_string(props, '$.k') AS INT) % 4)
             WHEN 0 THEN 'organic' WHEN 1 THEN 'paid'
             WHEN 2 THEN 'email' ELSE 'social' END"""


def _channel_col() -> F.Column:
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        F.when(k % 4 == 0, "organic")
        .when(k % 4 == 1, "paid")
        .when(k % 4 == 2, "email")
        .otherwise("social")
    )


def _channel_sessions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared session build for the channel queries: per (user,
    channel) 30-min-gap sessions with n_events / start / end /
    converted. One exchange on the composite key covers both window
    passes and the aggregate."""
    # r13 (guide §2.4/§2.5): the per-row JSON channel parse runs AFTER
    # a fan_out — a one-row-group events scan otherwise parses every
    # props payload in a single task — and the fan-out exchange HASHES
    # on user_id: HashPartitioning(user_id) satisfies the window's
    # ClusteredDistribution(user_id, channel) (subset rule — every row
    # of a (user, channel) group shares the user), so the parse and
    # both window passes run in ONE stage at the fan-out's explicit
    # width. The old round-robin spread paid a second corpus-sized
    # exchange into the window, which AQE then coalesced to 3 tasks
    # (0.50 s serialized on a CPU-bound two-window stage).
    from lakeapi_spark.operators.scale import TEXT_TASK_BYTES, fan_out

    e = table(spark, sf_dir, "events")
    ep = F.unix_timestamp(F.col("ts")).cast("long")
    ce = fan_out(
        e.select("user_id", "ts", "event_id", "event_type", "props"),
        per_partition_bytes=TEXT_TASK_BYTES,
        by=["user_id"],
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        ep.alias("e"),
        _channel_col().alias("channel"),
    )
    w = Window.partitionBy("user_id", "channel").orderBy("ts", "event_id")
    lag_e = F.lag("e").over(w)
    flagged = ce.withColumn(
        "new_s",
        F.when(lag_e.isNull() | (F.col("e") - lag_e > 1800), 1).otherwise(0),
    )
    ws = (
        Window.partitionBy("user_id", "channel")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_id", F.sum("new_s").over(ws).cast("long"))
    return sess.groupBy("user_id", "channel", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("e").alias("session_start"),
        F.max("e").alias("session_end"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )


@register(
    "channel_sessions_stats",
    f"""
    WITH ce AS (
      SELECT user_id, ts, event_id, event_type, {_EPOCH} AS e,
             {_CHANNEL_SQL} AS channel
      FROM events
    ), flagged AS (
      SELECT user_id, channel, ts, event_id, e, event_type,
             CASE WHEN LAG(e) OVER w IS NULL OR e - LAG(e) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM ce
      WINDOW w AS (PARTITION BY user_id, channel ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, channel, e, event_type,
             CAST(SUM(new_s) OVER (PARTITION BY user_id, channel
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, channel, session_id, COUNT(*) AS n_events,
           MIN(e) AS session_start, MAX(e) AS session_end,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM sess GROUP BY user_id, channel, session_id
    """,
    bench=True,
)
def channel_sessions_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, acquisition channel) 30-minute-gap sessionization
    with a session-level conversion flag — the real-world variant of
    events_sessionize_30m: journeys interleave across channels, so the
    inactivity gap must be measured WITHIN each channel's stream, and
    'did this channel-session convert' is the attribution input. Same
    gaps-and-islands spelling, composite partition key: ONE exchange
    on (user, channel) covers both window passes and the aggregate."""
    return _channel_sessions_df(spark, sf_dir)


@register(
    "session_attribution_first_last",
    f"""
    WITH t AS (
      SELECT user_id, {_EPOCH} * 1000000000 + event_id AS comb,
             {_CHANNEL_SQL} AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ), p AS (
      SELECT user_id, {_EPOCH} * 1000000000 + event_id AS comb
      FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT p.user_id, p.comb,
             MAX_BY(t.channel, t.comb) AS last_ch,
             MIN_BY(t.channel, t.comb) AS first_ch
      FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.comb <= p.comb
      GROUP BY p.user_id, p.comb
    )
    SELECT model, channel, COUNT(*) AS conversions FROM (
      SELECT 'first_touch' AS model, COALESCE(first_ch, 'direct') AS channel FROM m
      UNION ALL
      SELECT 'last_touch' AS model, COALESCE(last_ch, 'direct') AS channel FROM m
    ) GROUP BY model, channel
    """,
)
def session_attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: each purchase
    credits (a) the user's EARLIEST view/click channel and (b) the
    LATEST one at-or-before the purchase; purchases with no prior
    touch credit 'direct'. The linear-touch sibling is
    attribution_linear_touch; this adds the two boundary models every
    marketing readout compares.

    Spark plan: ONE union + window pass (the as-of shape of
    operators/joins.asof_join) computes both models — running
    first-non-null and last-non-null of the touch payload over the
    per-user (epoch*1e9 + event_id) total order — one exchange on
    user_id, then a tiny (model, channel) aggregate. The oracle
    spells the same semantics as a left join + MIN_BY/MAX_BY."""
    e = table(spark, sf_dir, "events")
    comb = (
        F.unix_timestamp(F.col("ts")).cast("long") * F.lit(1000000000).cast("long")
        + F.col("event_id")
    ).alias("comb")
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        comb,
        F.struct(_channel_col().alias("ch")).alias("__p"),
        F.lit(0).alias("__tag"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        comb,
        F.lit(None).cast(touches.schema["__p"].dataType).alias("__p"),
        F.lit(1).alias("__tag"),
    )
    unioned = touches.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("comb").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = (
        unioned.withColumn("last_ch", F.last("__p", ignorenulls=True).over(w)["ch"])
        .withColumn("first_ch", F.first("__p", ignorenulls=True).over(w)["ch"])
        .filter(F.col("__tag") == 1)
    )
    models = attributed.select(
        F.lit("first_touch").alias("model"),
        F.coalesce(F.col("first_ch"), F.lit("direct")).alias("channel"),
    ).unionByName(
        attributed.select(
            F.lit("last_touch").alias("model"),
            F.coalesce(F.col("last_ch"), F.lit("direct")).alias("channel"),
        )
    )
    return models.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("conversions")
    )


def _markov_removal_oracle(iters: int = 12, scale: int = 1_000_000) -> str:
    """Unrolled absorbing-chain oracle for the Markov removal-effect
    attribution: journey transitions -> integer millionth
    probabilities -> scenario-dimensioned matrix -> ``iters``
    MATERIALIZED matrix-power rounds -> removal-effect readout. Each
    x_k is referenced by x_{{k+1}}; MATERIALIZED keeps the chain
    linear (plain CTEs would inline exponentially)."""
    parts = [
        f"""
    WITH t AS (
      SELECT user_id, {_EPOCH} * 1000000000 + event_id AS comb,
             {_CHANNEL_SQL} AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ), pu AS (
      SELECT user_id, MIN({_EPOCH} * 1000000000 + event_id) AS pmin
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), jt AS (
      SELECT t.user_id, t.comb, t.channel, pu.pmin
      FROM t LEFT JOIN pu USING (user_id)
      WHERE pu.pmin IS NULL OR t.comb < pu.pmin
    ), seq AS (
      SELECT user_id, channel, pmin,
             LAG(channel) OVER (PARTITION BY user_id ORDER BY comb) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY comb DESC) AS rn_d
      FROM jt
    ), trans0 AS (
      SELECT COALESCE(prev, 'START') AS f, channel AS t FROM seq
      UNION ALL
      SELECT channel, CASE WHEN pmin IS NOT NULL THEN 'conv' ELSE 'drop' END
      FROM seq WHERE rn_d = 1
      UNION ALL
      SELECT 'START', 'conv' FROM pu
      WHERE user_id NOT IN (SELECT DISTINCT user_id FROM jt)
    ), cnt AS (SELECT f, t, COUNT(*) AS cnt FROM trans0 GROUP BY 1, 2),
    tot AS (SELECT f, SUM(cnt) AS n FROM cnt GROUP BY 1),
    prob AS (
      SELECT f, t, CAST(cnt * {scale} // n AS BIGINT) AS p
      FROM cnt JOIN tot USING (f)
    ),
    scen AS (SELECT * FROM (VALUES ('all'), ('organic'), ('paid'),
                                   ('email'), ('social')) s(sc)),
    ts AS MATERIALIZED (
      SELECT sc, f, t, p FROM prob CROSS JOIN scen
      WHERE sc = 'all' OR (f <> sc AND t <> sc)
    ), x_0 AS MATERIALIZED (
      SELECT DISTINCT sc, f AS state, CAST(0 AS BIGINT) AS x FROM ts
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", x_{k} AS MATERIALIZED (
      SELECT ts.sc, ts.f AS state,
             CAST(SUM(ts.p * (CASE WHEN ts.t = 'conv' THEN {scale}
                                   WHEN ts.t = 'drop' THEN 0
                                   ELSE COALESCE(x.x, 0) END)) // {scale} AS BIGINT) AS x
      FROM ts LEFT JOIN x_{k - 1} x ON x.sc = ts.sc AND x.state = ts.t
      GROUP BY 1, 2)"""
        )
    parts.append(
        f""", pa AS (
      SELECT MAX(CASE WHEN sc = 'all' AND state = 'START' THEN x END) AS p_all
      FROM x_{iters})
    , per AS (
      SELECT s.sc AS channel, COALESCE(x.x, 0) AS p_removed
      FROM (SELECT sc FROM scen WHERE sc <> 'all') s
      LEFT JOIN x_{iters} x ON x.sc = s.sc AND x.state = 'START'
    ), re AS (
      SELECT channel, (SELECT p_all FROM pa) AS p_all, p_removed,
             CAST(((SELECT p_all FROM pa) - p_removed) * {scale}
                  // NULLIF((SELECT p_all FROM pa), 0) AS BIGINT) AS re_fp
      FROM per
    )
    SELECT channel,
           CAST(p_all AS BIGINT) AS p_conv_all,
           CAST(p_removed AS BIGINT) AS p_conv_removed,
           ROUND(CAST(re_fp AS DOUBLE) / {scale}, 6) + 0.0 AS removal_effect,
           ROUND(CAST(re_fp AS DOUBLE)
                 / CAST(NULLIF((SELECT SUM(re_fp) FROM re), 0) AS DOUBLE), 6)
             + 0.0 AS attr_share
    FROM re"""
    )
    return "\n".join(parts)


@register("markov_removal_attribution", _markov_removal_oracle())
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (ROADMAP_r12 #6): model each
    user's pre-purchase view/click journey as a first-order chain over
    acquisition channels (START -> touches -> conv at the first
    purchase / drop otherwise; touch-less purchasers transition
    START -> conv directly), then credit each channel by how much the
    absorption probability into conv falls when that channel — its
    outgoing rows AND its inbound mass — is deleted. The data-sized
    work is ONE user-partitioned window pass (lag + last-touch rank);
    the chain itself is channel-vocabulary-bounded and all five
    scenarios (full + 4 removals) ride one 12-round bounded
    matrix-power pipeline in exact integer millionths.
    operators/graph.absorbing_removal_effects; the oracle unrolls the
    identical recurrence."""
    from lakeapi_spark.operators.graph import absorbing_removal_effects

    e = table(spark, sf_dir, "events")
    comb = (
        F.unix_timestamp(F.col("ts")).cast("long")
        * F.lit(1000000000).cast("long")
        + F.col("event_id")
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", comb.alias("comb"), _channel_col().alias("channel")
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(comb).alias("pmin"))
    )
    jt = t.join(pu, "user_id", "left").filter(
        F.col("pmin").isNull() | (F.col("comb") < F.col("pmin"))
    )
    w = Window.partitionBy("user_id").orderBy("comb")
    wd = Window.partitionBy("user_id").orderBy(F.col("comb").desc())
    seq = jt.select(
        "user_id",
        "channel",
        F.lag("channel").over(w).alias("prev"),
        F.row_number().over(wd).alias("rn_d"),
        F.col("pmin").isNotNull().alias("cv"),
    )
    inc = seq.select(
        F.coalesce("prev", F.lit("START")).alias("f"), F.col("channel").alias("t")
    )
    fin = seq.filter(F.col("rn_d") == 1).select(
        F.col("channel").alias("f"),
        F.when(F.col("cv"), "conv").otherwise("drop").alias("t"),
    )
    direct = pu.join(jt.select("user_id").distinct(), "user_id", "left_anti").select(
        F.lit("START").alias("f"), F.lit("conv").alias("t")
    )
    trans = (
        inc.unionByName(fin)
        .unionByName(direct)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return absorbing_removal_effects(
        trans, ["organic", "paid", "email", "social"], iters=12
    )


@register(
    "funnel_windowed_3step",
    f"""
    WITH ev AS (
      SELECT user_id, event_type, {_EPOCH} * 1000000000 + event_id AS comb
      FROM events
    ), v AS (
      SELECT user_id, MIN(comb) AS v0 FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.comb) AS c0
      FROM ev e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.comb >= v.v0
        AND e.comb // 1000000000 - v.v0 // 1000000000 <= 3600
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.comb) AS p0
      FROM ev e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.comb >= c.c0
        AND e.comb // 1000000000 - c.c0 // 1000000000 <= 3600
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
           (SELECT COUNT(*) FROM c) AS n_click_within_1h,
           (SELECT COUNT(*) FROM p) AS n_purchase_within_1h
    """,
)
def funnel_windowed_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step funnel with a PAIRWISE window constraint: first view
    -> first click within 1 h OF THE VIEW -> first purchase within 1 h
    OF THE CLICK (funnel_view_to_purchase / funnel_time_to_convert
    only constrain against the FIRST step — this is the
    steps-must-chain variant real funnel tools default to). Chained
    min-aggregate + join rounds, each keyed on user_id: the fact
    table scans once into per-user stage times; no row-pair
    explosion. Events totally ordered by epoch*1e9 + event_id, so
    stage picks are deterministic on both engines."""
    e = table(spark, sf_dir, "events")
    comb = (
        F.unix_timestamp(F.col("ts")).cast("long") * F.lit(1000000000).cast("long")
        + F.col("event_id")
    )
    ev = e.select("user_id", "event_type", comb.alias("comb"))
    epoch_of = lambda c: F.floor(c / F.lit(1000000000)).cast("long")  # noqa: E731
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("comb").alias("v0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("comb") >= F.col("v0"))
            & (epoch_of(F.col("comb")) - epoch_of(F.col("v0")) <= 3600)
        )
        .groupBy("user_id")
        .agg(F.min("comb").alias("c0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("comb") >= F.col("c0"))
            & (epoch_of(F.col("comb")) - epoch_of(F.col("c0")) <= 3600)
        )
        .groupBy("user_id")
        .agg(F.min("comb").alias("p0"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view_users"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click_within_1h"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_within_1h"))))
    )


@register(
    "decile_revenue_bridge",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.1) AS b1, quantile_cont(o_totalprice, 0.2) AS b2,
             quantile_cont(o_totalprice, 0.3) AS b3, quantile_cont(o_totalprice, 0.4) AS b4,
             quantile_cont(o_totalprice, 0.5) AS b5, quantile_cont(o_totalprice, 0.6) AS b6,
             quantile_cont(o_totalprice, 0.7) AS b7, quantile_cont(o_totalprice, 0.8) AS b8,
             quantile_cont(o_totalprice, 0.9) AS b9
      FROM orders
    ), a AS (
      SELECT o_totalprice AS v,
             CAST(1 + (CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END)
                    + (CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END) AS INT) AS decile
      FROM orders, b
    ), s AS (
      SELECT decile, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(18,4))) AS sd
      FROM a GROUP BY decile
    )
    SELECT decile, n,
           CAST(ROUND(sd, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(sd AS DOUBLE) / CAST(SUM(sd) OVER () AS DOUBLE), 6) AS share,
           ROUND(CAST(SUM(sd) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(SUM(sd) OVER () AS DOUBLE), 6) AS cum_share
    FROM s
    """,
)
def decile_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bridge / quantile-join analysis of order revenue: exact
    value-boundary deciles (NOT a global NTILE sort — boundaries come
    from ONE percentile aggregate, assignment is a broadcast
    compare-and-count against the 9-boundary array), then per-decile
    revenue, share of total, and cumulative share — the Pareto /
    concentration readout. window_ntile_deciles documents this as the
    scale path; this query IS it: no global sort, no single-partition
    window over the fact table (the only windows run over the 10-row
    decile relation). At 100 TB swap percentile for approx_percentile
    and re-verify rank stability."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")
    )
    a = o.crossJoin(F.broadcast(bounds)).select(
        F.col("o_totalprice").alias("v"),
        (
            F.lit(1)
            + F.size(
                F.filter(F.col("bs"), lambda b: F.col("o_totalprice") > b)
            )
        ).cast("int").alias("decile"),
    )
    s = a.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("v")).alias("sd"),
    )
    wt = Window.partitionBy()
    wc = Window.partitionBy().orderBy("decile")
    return s.select(
        "decile",
        "n",
        F.round(F.col("sd"), 2).cast("double").alias("revenue"),
        F.round(
            F.col("sd").cast("double") / F.sum("sd").over(wt).cast("double"), 6
        ).alias("share"),
        F.round(
            F.sum("sd").over(wc).cast("double") / F.sum("sd").over(wt).cast("double"),
            6,
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Round 11: corpus-mixing split audit, rolling actives, concentration,
# new-vs-returning revenue
# ---------------------------------------------------------------------------


@register(
    "mixture_split_rate_table",
    """
    WITH kept AS (
      SELECT doc_id, source FROM documents
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % (CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 ELSE 1 END)
          < (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 1 ELSE 1 END)
    ), tagged AS (
      SELECT source,
             CASE WHEN CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'eval' END AS split
      FROM kept
    )
    SELECT source, split, COUNT(*) AS n_docs,
           CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 1 ELSE 1 END AS rate_keep,
           CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 ELSE 1 END AS rate_mod
    FROM tagged GROUP BY source, split
    """,
)
def mixture_split_rate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture thinning COMPOSED with a train/eval split, plus the
    per-stratum rate table: src0 thinned to 1/4 and src1 to 1/2 by the
    doc-id hash, then an 80/20 split on a SEEDED hash ('split:' || id).
    The seed matters: reusing the raw key hash for both decisions
    correlates membership (every kept src0 doc has hash%4==0, so its
    hash%10 is NOT uniform) — the composition hazard this query pins.
    Both decisions stay pure row-local functions: map-only filter +
    one small aggregate. operators/sampling.{mixture_sample,key_hash}."""
    from lakeapi_spark.operators.sampling import key_hash, mixture_sample

    d = table(spark, sf_dir, "documents")
    rates = {"src0": (1, 4), "src1": (1, 2)}
    kept = mixture_sample(d, "doc_id", "source", rates)
    sh = key_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    tagged = kept.select(
        "source", F.when(sh < 8, "train").otherwise("eval").alias("split")
    )
    keep_c = (
        F.when(F.col("source") == "src0", 1)
        .when(F.col("source") == "src1", 1)
        .otherwise(1)
    )
    mod_c = (
        F.when(F.col("source") == "src0", 4)
        .when(F.col("source") == "src1", 2)
        .otherwise(1)
    )
    return tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.first(keep_c).alias("rate_keep"),
        F.first(mod_c).alias("rate_mod"),
    )


@register(
    "rolling_28d_mau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), spine AS (
      SELECT UNNEST(generate_series(
        (SELECT MIN(d) FROM ud), (SELECT MAX(d) FROM ud), INTERVAL 1 DAY)) AS day
    )
    SELECT CAST(s.day AS DATE) AS day, COUNT(DISTINCT u.user_id) AS mau_28d
    FROM spine s JOIN ud u ON u.d BETWEEN CAST(s.day AS DATE) - 27 AND CAST(s.day AS DATE)
    GROUP BY 1
    """,
    bench=True,
)
def rolling_28d_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling monthly-active-users for every day of the data
    range — the DAU/WAU/MAU family's expensive member, because rolling
    COUNT DISTINCT doesn't decompose into a window aggregate. Scale
    shape: collapse events to distinct (user, day) pairs FIRST (one
    shuffle, the fact table's only pass), then explode each pair into
    the <= 28 future days it keeps the user active on and count
    distinct users per day — a bounded 28x fan-out of the SMALL pair
    relation, never a per-day scan or a range self-join of events. The
    oracle spells the same semantics as a spine range join."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rng = F.broadcast(ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi")))
    contrib = (
        ud.crossJoin(rng)
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(F.date_add(F.col("d"), 27), F.col("hi")),
                )
            ).alias("day"),
        )
    )
    return contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("mau_28d")
    )


@register(
    "pareto_revenue_parts",
    """
    WITH pr AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum,
             SUM(rev) OVER () AS total
      FROM pr
    )
    SELECT COUNT(*) AS n_parts,
           COUNT(*) FILTER (WHERE cum - rev < CAST(0.8 AS DECIMAL(18,4)) * total) AS n_parts_80,
           ROUND(CAST(COUNT(*) FILTER (WHERE cum - rev < CAST(0.8 AS DECIMAL(18,4)) * total) AS DOUBLE)
                 / COUNT(*), 6) AS frac_parts_80
    FROM ranked
    """,
)
def pareto_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of part revenue: how many parts (and what
    fraction of the catalog) cover 80% of revenue — the 80/20 readout
    behind assortment and dedup-priority decisions. One fact-table
    aggregate to the bounded per-part relation, then rank windows OVER
    THAT relation only; membership is 'the cumulative sum BEFORE this
    part is still under 80%', so the cut is deterministic under the
    (rev desc, partkey) total order, and all sums are decimal-exact."""
    l = table(spark, sf_dir, "lineitem")
    pr = l.groupBy("l_partkey").agg(F.sum(dec("l_extendedprice")).alias("rev"))
    wc = Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
    wt = Window.partitionBy()
    ranked = pr.select(
        "rev",
        F.sum("rev").over(wc).alias("cum"),
        F.sum("rev").over(wt).alias("total"),
    )
    hit = (
        F.col("cum") - F.col("rev")
        < F.lit(0.8).cast("decimal(18,4)") * F.col("total")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.count(F.when(hit, 1)).alias("n_parts_80"),
        F.round(
            F.count(F.when(hit, 1)).cast("double") / F.count(F.lit(1)), 6
        ).alias("frac_parts_80"),
    )


@register(
    "new_vs_returning_revenue_monthly",
    """
    WITH fo AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
    )
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CASE WHEN date_trunc('month', o.o_orderdate) = date_trunc('month', f.first_dt)
                THEN 'new' ELSE 'returning' END AS cohort,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
)
def new_vs_returning_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into first-month ('new') vs repeat
    ('returning') customer orders — the growth-accounting twin for
    REVENUE (user_growth_accounting covers user states). Plan: one
    per-customer MIN aggregate, joined back on the customer key (both
    sides hash-partition by o_custkey — a single co-keyed exchange
    each), then a bounded (month, cohort) rollup with decimal money
    sums."""
    o = table(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    j = o.join(fo, "o_custkey")
    cohort = F.when(
        F.date_trunc("month", F.col("o_orderdate"))
        == F.date_trunc("month", F.col("first_dt")),
        "new",
    ).otherwise("returning")
    return (
        j.select(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
            cohort.alias("cohort"),
            "o_totalprice",
        )
        .groupBy("month", "cohort")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(dec("o_totalprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Round 11: nonparametric tests, independence, FDR-controlled readouts
# ---------------------------------------------------------------------------


@register(
    "mann_whitney_purchase_vs_click",
    """
    WITH vals AS (
      SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), hist AS (
      SELECT v, SUM(a) AS na, SUM(1 - a) AS nb FROM vals GROUP BY v
    ), ranked AS (
      SELECT na, na + nb AS t,
             COALESCE(SUM(na + nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      FROM hist
    ), agg AS (
      SELECT SUM(CAST(na AS DECIMAL(28,1))
                 * (CAST(bef AS DECIMAL(28,1)) + CAST(t + 1 AS DECIMAL(28,1)) / 2)) AS ra,
             SUM(na) AS n_a, SUM(t - na) AS n_b,
             SUM(t * t * t - t) AS ties
      FROM ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ra AS DOUBLE) - CAST(n_a * (n_a + 1) AS DOUBLE) / 2 AS u_stat,
           CASE WHEN SQRT(CAST(n_a * n_b AS DOUBLE) / 12
                        * (CAST(n_a + n_b + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))) > 0
           THEN ROUND((CAST(ra AS DOUBLE) - CAST(n_a * (n_a + 1) AS DOUBLE) / 2
                  - CAST(n_a * n_b AS DOUBLE) / 2)
                 / SQRT(CAST(n_a * n_b AS DOUBLE) / 12
                        * (CAST(n_a + n_b + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))), 6)
           + 0.0 END AS z
    FROM agg
    """,
)
def mann_whitney_purchase_vs_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do purchase event values
    stochastically dominate click values? Tie-corrected two-sided
    normal approximation; midranks sum exactly in decimal via the
    histogram-collapse shape (never ranks rows — see
    operators/stats.mann_whitney_u)."""
    from lakeapi_spark.operators.stats import mann_whitney_u

    e = table(spark, sf_dir, "events")
    return mann_whitney_u(e, "value", "event_type", "purchase", "click")


@register(
    "chi2_event_type_dow",
    """
    WITH cells AS (
      SELECT event_type AS a,
             (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 + 7) % 7 AS b,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY a) AS ra,
             SUM(o) OVER (PARTITION BY b) AS cb,
             SUM(o) OVER () AS n,
             a, b
      FROM cells
    ), agg AS (
      SELECT SUM(CAST((CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                      AS DECIMAL(28,10))) AS chi2d,
             COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c, MAX(n) AS n
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(CAST(chi2d AS DOUBLE), 6) + 0.0 AS chi2,
           CASE WHEN LEAST(r - 1, c - 1) > 0
           THEN ROUND(SQRT(CAST(chi2d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6)
           + 0.0 END AS cramers_v
    FROM agg
    """,
)
def chi2_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type vs day-of-week (+
    Cramér's V effect size) — 'is traffic mix a function of weekday',
    the categorical sibling of mi_event_type_dow's mutual information.
    Day-of-week is spelled as modular date arithmetic from a fixed
    Monday anchor so both engines agree on the labels.
    operators/stats.chi_square_independence."""
    from lakeapi_spark.operators.stats import chi_square_independence

    e = table(spark, sf_dir, "events")
    dow = (
        (F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) % 7 + 7)
        % 7
    )
    staged = e.select("event_type", dow.alias("dow"))
    return chi_square_independence(staged, "event_type", "dow")


def _fdr_p_sql(z_expr: str) -> str:
    from lakeapi_spark.operators.stats import NORMAL_SF_TWO_SIDED_SQL

    return NORMAL_SF_TWO_SIDED_SQL.format(z=z_expr)


@register(
    "fdr_bh_nation_price_tests",
    """
    WITH oc AS (
      SELECT c.c_nationkey AS nation,
             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (
      SELECT COUNT(*) AS n, SUM(cents) AS s,
             SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS ssq
      FROM oc
    ), per AS (
      SELECT nation, COUNT(*) AS n_i, SUM(cents) AS s_i FROM oc GROUP BY nation
    ), zt AS (
      SELECT per.nation, per.n_i,
             (CAST(per.s_i AS DOUBLE) / per.n_i - CAST(g.s AS DOUBLE) / g.n)
             / SQRT(((CAST(g.ssq AS DOUBLE)
                      - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE) / g.n)
                     / (g.n - 1)) / per.n_i) AS z
      FROM per, g
    ), pt AS (
      SELECT nation, n_i, z, {P_EXPR} AS p FROM zt
    ), ranked AS (
      SELECT nation, n_i, z, p,
             CAST(ROW_NUMBER() OVER (ORDER BY p, nation) AS BIGINT) AS bh_rank,
             COUNT(*) OVER () AS m
      FROM pt
    ), cut AS (
      SELECT *,
             MAX(CASE WHEN p <= 0.10 * bh_rank / m THEN bh_rank ELSE 0 END)
               OVER () AS k
      FROM ranked
    )
    SELECT nation, n_i, ROUND(z, 6) + 0.0 AS z, ROUND(p, 6) + 0.0 AS p,
           bh_rank, CAST(bh_rank <= k AS INT) AS is_discovery
    FROM cut
    """.replace(
        "{P_EXPR}", _fdr_p_sql("z")
    ),
)
def fdr_bh_nation_price_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order-value z-tests with Benjamini-Hochberg FDR
    control at q=0.10 — the multiple-testing readout an
    experimentation platform runs over many segments at once: rank the
    25 nations' two-sided p-values, find the largest rank k with
    p_(k) <= 0.10*k/m, flag ranks <= k as discoveries. Neither engine
    ships a normal CDF, so p comes from the Abramowitz-Stegun
    polynomial spelled identically in both
    (operators/stats.normal_sf_two_sided). Every moment feeding z is
    an exact integer-cents sum (decimal for the sum of squares), so
    the doubles entering the shared expressions are bit-identical;
    windows run over the 25-row test relation only."""
    from lakeapi_spark.operators.stats import normal_sf_two_sided

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    g = F.broadcast(
        oc.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
                "ssq"
            ),
        )
    )
    per = oc.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_i"), F.sum("cents").alias("s_i")
    )
    var = (
        F.col("ssq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z = (
        F.col("s_i").cast("double") / F.col("n_i")
        - F.col("s").cast("double") / F.col("n")
    ) / F.sqrt(var / F.col("n_i"))
    pt = per.crossJoin(g).select(
        "nation", "n_i", z.alias("z"), normal_sf_two_sided(z).alias("p")
    )
    wr = Window.orderBy("p", "nation")
    wall = Window.partitionBy()
    ranked = pt.select(
        "nation",
        "n_i",
        "z",
        "p",
        F.row_number().over(wr).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    k = F.max(
        F.when(
            F.col("p") <= F.lit(0.10) * F.col("bh_rank") / F.col("m"),
            F.col("bh_rank"),
        ).otherwise(F.lit(0))
    ).over(wall)
    cut = ranked.withColumn("k", k)
    return cut.select(
        "nation",
        "n_i",
        (F.round(F.col("z"), 6) + 0.0).alias("z"),
        (F.round(F.col("p"), 6) + 0.0).alias("p"),
        "bh_rank",
        (F.col("bh_rank") <= F.col("k")).cast("int").alias("is_discovery"),
    )


@register(
    "asof_nearest_click_for_purchase",
    f"""
    WITH c AS (
      SELECT user_id, ts, MIN(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), cand AS (
      SELECT p.event_id, c.click_id,
             CAST(floor(epoch(c.ts)) AS BIGINT) AS ce,
             ABS(CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.ts)) AS BIGINT)) AS gap,
             CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS fwd
      FROM p JOIN c ON c.user_id = p.user_id
      WHERE ABS(CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.ts)) AS BIGINT)) <= 900
    ), pick AS (
      SELECT event_id,
             MIN_BY(click_id, gap * 2 + fwd) AS click_id,
             MIN_BY(ce, gap * 2 + fwd) AS click_epoch,
             MIN_BY(CASE WHEN fwd = 0 THEN 'backward' ELSE 'forward' END,
                    gap * 2 + fwd) AS direction,
             MIN_BY(gap, gap * 2 + fwd) AS gap_s
      FROM cand GROUP BY event_id
    )
    SELECT p.event_id, pick.click_id, pick.click_epoch, pick.direction, pick.gap_s
    FROM p LEFT JOIN pick USING (event_id)
    """,
)
def asof_nearest_click_for_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-click attribution: each purchase matched to the CLOSEST
    click by the same user within +/- 15 minutes, either direction,
    ties preferring the at-or-before click (pandas merge_asof
    'nearest' semantics) — the missing direction between the existing
    backward (asof_purchase_before_click) and forward
    (asof_click_after_purchase_15m) queries. Spark runs the
    operators/joins.asof_join_nearest composition: two union+window
    passes, each one shuffle on user_id, never a range self-join; the
    oracle spells the same pick as an arg-min over the bounded
    candidate join."""
    from lakeapi_spark.operators.joins import asof_join_nearest

    e = table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    m = asof_join_nearest(
        purchases, clicks, "ts", ["user_id"], ["click_id"], tolerance_s=900
    )
    return m.select(
        "event_id",
        F.col("right_click_id").alias("click_id"),
        F.unix_timestamp("right_ts").cast("long").alias("click_epoch"),
        F.col("right_direction").alias("direction"),
        F.col("right_gap_s").alias("gap_s"),
    )


@register(
    "delta_vacuum_dry_run",
    """
    SELECT CAST(4 AS BIGINT) AS n_files_on_disk,
           CAST(1 AS BIGINT) AS n_dry_candidates,
           CAST(1 AS BIGINT) AS candidates_survive_dry_run,
           CAST(1 AS BIGINT) AS dry_equals_real,
           CAST(3 AS BIGINT) AS n_files_after_real
    """,
)
def delta_vacuum_dry_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM DRY RUN — the retention-audit read API on the vacuum
    surface: stage a table with a known removable file (overwrite v0's
    single file with two files at v1, then one at v2; keep_versions=1
    retains v1..v2, stranding exactly v0's file), then prove the audit
    contract end-to-end IN the result row: the dry run names exactly 1
    candidate out of 4 data files, deletes nothing (the candidate
    still exists afterward), and the subsequent REAL vacuum removes
    exactly the dry-run's list. Every number is a pure function of the
    staged commit sequence, so the oracle is the expected-constants
    row. sources/delta.vacuum_delta(dry_run=True)."""
    import os
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import vacuum_delta, write_delta

    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dest = tempfile.mkdtemp(prefix="lakeapi_vacuum_dry_")
    try:
        shutil.rmtree(dest)
        write_delta(base.filter(F.col("o_orderkey") % 5 == 0).coalesce(1), dest)
        write_delta(
            base.filter(F.col("o_orderkey") % 5 == 1).repartition(2),
            dest,
            mode="overwrite",
        )
        write_delta(
            base.filter(F.col("o_orderkey") % 5 == 2).coalesce(1),
            dest,
            mode="overwrite",
        )

        def data_files() -> set[str]:
            out = set()
            for root, dirs, files in os.walk(dest):
                dirs[:] = [d for d in dirs if d != "_delta_log"]
                out |= {
                    os.path.relpath(os.path.join(root, f), dest)
                    for f in files
                    if f.endswith(".parquet")
                }
            return out

        before = data_files()
        dry = vacuum_delta(spark, dest, keep_versions=1, dry_run=True)
        survive = all(os.path.exists(os.path.join(dest, r)) for r in dry)
        real = vacuum_delta(spark, dest, keep_versions=1)
        after = data_files()
        row = (
            len(before),
            len(dry),
            int(survive and data_files() | set(real) == before | set()),
            int(dry == real),
            len(after),
        )
    finally:
        shutil.rmtree(dest, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_files_on_disk long, n_dry_candidates long, "
        "candidates_survive_dry_run long, dry_equals_real long, "
        "n_files_after_real long",
    )


@register(
    "cosine_pair_histogram",
    _EMB_DOT.replace("FROM embeddings", """FROM embeddings
      WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0""")
    + """
    , d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.val*b.val) AS dot
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
    ), c AS (
      SELECT ROUND(dot/(na.nrm*nb.nrm), 4) AS cosine
      FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
    ), binned AS (
      SELECT CAST(LEAST(FLOOR((cosine + 1.0) / 0.2), 9) AS BIGINT) AS bin FROM c
    )
    SELECT bin,
           ROUND(bin * 0.2 - 1.0, 1) AS lo,
           ROUND(bin * 0.2 - 0.8, 1) AS hi,
           COUNT(*) AS n_pairs
    FROM binned GROUP BY bin
    """,
)
def cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over a hash-sampled embedding
    subset (~1/5 of vectors -> ~4.3k pairs), binned into ten [-1, 1)
    buckets — the similarity-threshold tuning aid run BEFORE choosing
    a dedup/ANN cutoff: you read the histogram's near-duplicate bump
    off the top bins. The sample is the stable md5 id hash, so the
    histogram is reproducible and the exact O(s^2) pair cost is capped
    at (n/5)^2 regardless of corpus size — the same bounded-exact-side
    discipline as dedup_lsh_quality's exact_sample_mod dial."""
    from lakeapi_spark.operators.dedup import embedding_dup_pairs
    from lakeapi_spark.operators.sampling import key_hash

    e = table(spark, sf_dir, "embeddings").filter(
        key_hash(F.col("vec_id").cast("string")) % 5 == 0
    )
    pairs = embedding_dup_pairs(e, "vec_id", "embedding", threshold=-2.0)
    binned = pairs.select(
        F.least(F.floor((F.col("cosine") + 1.0) / 0.2), F.lit(9))
        .cast("long")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs")).select(
        "bin",
        F.round(F.col("bin") * 0.2 - 1.0, 1).alias("lo"),
        F.round(F.col("bin") * 0.2 - 0.8, 1).alias("hi"),
        "n_pairs",
    )


@register(
    "ann_ivf_recall_report",
    """
    WITH ivf AS ({IVF}),
    brute AS ({BRUTE}),
    hits AS (
      SELECT b.query_id,
             COUNT(i.neighbor_id) AS n_hits,
             COUNT(*) AS k
      FROM brute b LEFT JOIN ivf i
        ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
      GROUP BY b.query_id
    )
    SELECT query_id, n_hits, k,
           ROUND(CAST(n_hits AS DOUBLE) / k, 2) AS recall_at_k
    FROM hits
    """.replace("{IVF}", _ivf_oracle(_IVF_CENTROID_IDS)).replace(
        "{BRUTE}", _TOPK_ORACLE
    ),
)
def ann_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF index against exact brute force, per query
    — the index-quality report you run before trusting an ANN path at
    scale (the ANN sibling of dedup_lsh_quality). Both sides are the
    ALREADY-verified pipelines (ann_ivf_topk / ann_brute_force_topk);
    this composes them with one bounded join on (query, neighbor) and
    scores overlap. The brute side's cost is capped by the query-set
    size (5 x corpus, broadcast queries), never corpus x corpus — the
    exact side stays affordable because the query sample, not the
    corpus, pays the quadratic term."""
    from lakeapi_spark.operators.similarity import brute_force_topk, ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 4)
    ivf = ivf_topk(
        e, q, "vec_id", "embedding", k=10, centroid_ids=_IVF_CENTROID_IDS
    ).select("query_id", "neighbor_id")
    brute = brute_force_topk(e, q, "vec_id", "embedding", k=10).select(
        "query_id", "neighbor_id"
    )
    hits = (
        brute.join(
            ivf.withColumnRenamed("neighbor_id", "__n"),
            (brute["query_id"] == ivf["query_id"])
            & (brute["neighbor_id"] == F.col("__n")),
            "left",
        )
        .drop(ivf["query_id"])
        .groupBy("query_id")
        .agg(
            F.count("__n").alias("n_hits"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    return hits.select(
        "query_id",
        "n_hits",
        "k",
        F.round(F.col("n_hits").cast("double") / F.col("k"), 2).alias(
            "recall_at_k"
        ),
    )


@register(
    "channel_session_rollup",
    f"""
    WITH ce AS (
      SELECT user_id, ts, event_id, event_type, {_EPOCH} AS e,
             {_CHANNEL_SQL} AS channel
      FROM events
    ), flagged AS (
      SELECT user_id, channel, ts, event_id, e, event_type,
             CASE WHEN LAG(e) OVER w IS NULL OR e - LAG(e) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM ce
      WINDOW w AS (PARTITION BY user_id, channel ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, channel, e, event_type,
             CAST(SUM(new_s) OVER (PARTITION BY user_id, channel
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), sm AS (
      SELECT user_id, channel, session_id,
             MAX(e) - MIN(e) AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM sess GROUP BY user_id, channel, session_id
    )
    SELECT channel, COUNT(*) AS n_sessions,
           ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 4) + 0.0 AS conversion_rate,
           ROUND(quantile_cont(dur, 0.5), 4) + 0.0 AS p50_duration_s,
           ROUND(quantile_cont(dur, 0.9), 4) + 0.0 AS p90_duration_s
    FROM sm GROUP BY channel
    """,
)
def channel_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The marketing readout OVER channel sessions: per channel,
    session count, conversion rate, and exact p50/p90 session duration
    — the rollup a team actually pages through (channel_sessions_stats
    is its raw input). Reuses the shared session build; one extra
    bounded aggregate per channel."""
    s = _channel_sessions_df(spark, sf_dir)
    dur = (F.col("session_end") - F.col("session_start")).alias("dur")
    sm = s.select("channel", dur, F.col("converted").alias("conv"))
    return sm.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        (F.round(F.sum("conv").cast("double") / F.count(F.lit(1)), 4) + 0.0).alias(
            "conversion_rate"
        ),
        (F.round(F.expr("percentile(dur, 0.5)"), 4) + 0.0).alias("p50_duration_s"),
        (F.round(F.expr("percentile(dur, 0.9)"), 4) + 0.0).alias("p90_duration_s"),
    )


@register(
    "ship_latency_percentiles_by_priority",
    """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority, COUNT(*) AS n,
           ROUND(quantile_cont(days, 0.5), 4) + 0.0 AS p50_days,
           ROUND(quantile_cont(days, 0.9), 4) + 0.0 AS p90_days,
           ROUND(quantile_cont(days, 0.99), 4) + 0.0 AS p99_days
    FROM lat GROUP BY priority
    """,
)
def ship_latency_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per order priority — the SLA
    readout shape (p50/p90/p99 of an integer day gap, exact holistic
    percentiles per bounded group COUNT). One fact join shuffled on
    the order key, one percentile aggregate per priority. Scale note:
    exact percentile() holds each group's values in one task — fine
    while a priority's rows fit an executor; at 100 TB swap in
    approx_percentile (mergeable sketch, and the day-gap domain is a
    few hundred DISTINCT ints, so the sketch is rank-exact there) or
    pre-collapse to (priority, days, count) — the histogram trick —
    before ranking."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    lat = l.join(o, l.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.expr("percentile(days, 0.5)"), 4) + 0.0).alias("p50_days"),
        (F.round(F.expr("percentile(days, 0.9)"), 4) + 0.0).alias("p90_days"),
        (F.round(F.expr("percentile(days, 0.99)"), 4) + 0.0).alias("p99_days"),
    )


@register(
    "knn_label_accuracy",
    _EMB_DOT
    + """
    , q AS (SELECT vec_id, i, val FROM x WHERE vec_id <= 49)
    , d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.val*c.val) AS dot
      FROM q JOIN x c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id, ROUND(dot/(nq.nrm*nc.nrm), 4) AS cosine
      FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = neighbor_id
    ), topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ), votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS cnt
      FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
      GROUP BY 1, 2
    ), pred AS (
      SELECT query_id, MIN((10 - cnt) * 100 + label) % 100 AS pred_label
      FROM votes GROUP BY query_id
    )
    SELECT e.label AS true_label, COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) + 0.0 AS accuracy
    FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
    GROUP BY e.label
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN label accuracy over the embedding corpus
    (50 query vectors, k=10 majority vote, ties to the smallest
    label): the embedding-quality smoke test every similarity pipeline
    runs — if neighbors don't share labels, no ANN index will save
    the downstream task. Reuses the verified brute-force top-k; the
    vote is an integer arg-min key ((10-count)*100+label), identical
    on both engines."""
    from lakeapi_spark.operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 49)
    topk = brute_force_topk(e, q, "vec_id", "embedding", k=10).select(
        "query_id", "neighbor_id"
    )
    labels = e.select("vec_id", "label")
    votes = (
        topk.join(labels, topk.neighbor_id == labels.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = votes.groupBy("query_id").agg(
        (F.min((10 - F.col("cnt")) * 100 + F.col("label")) % 100).alias(
            "pred_label"
        )
    )
    truth = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    j = pred.join(truth, "query_id")
    correct = (F.col("pred_label") == F.col("true_label")).cast("long")
    return j.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(correct).alias("n_correct"),
        (F.round(F.sum(correct).cast("double") / F.count(F.lit(1)), 4) + 0.0).alias(
            "accuracy"
        ),
    )


@register(
    "dedup_cluster_size_histogram",
    """
    WITH base AS ({CLUSTERS}),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS size FROM base GROUP BY cluster_id
    )
    SELECT size, COUNT(*) AS n_clusters, CAST(size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY size
    """.replace("{CLUSTERS}", _CLUSTER_ORACLE),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-duplicate cluster sizes — the dedup triage
    readout (many small clusters = boilerplate families; one mega
    cluster = a template or a broken threshold). Two bounded
    aggregates over the verified connected-components labeling; same
    recursive-CTE oracle as dedup_clusters, rolled up."""
    from lakeapi_spark.operators.dedup import dup_clusters, ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    clusters = dup_clusters(ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


@register(
    "stickiness_dau_mau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), spine AS (
      SELECT UNNEST(generate_series(
        (SELECT MIN(d) FROM ud), (SELECT MAX(d) FROM ud), INTERVAL 1 DAY)) AS day
    ), mau AS (
      SELECT CAST(s.day AS DATE) AS day, COUNT(DISTINCT u.user_id) AS mau_28d
      FROM spine s JOIN ud u ON u.d BETWEEN CAST(s.day AS DATE) - 27 AND CAST(s.day AS DATE)
      GROUP BY 1
    ), dau AS (
      SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY d
    )
    SELECT m.day, COALESCE(dau.dau, 0) AS dau, m.mau_28d,
           ROUND(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / m.mau_28d, 4) + 0.0 AS stickiness
    FROM mau m LEFT JOIN dau ON dau.day = m.day
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU(28d) stickiness per day — the engagement-frequency
    ratio product teams track (0.2 means the average monthly user
    shows up ~6 days). Shares rolling_28d_mau's bounded 28x explode of
    the distinct user-day relation; DAU is one count over the same
    relation; no range self-join anywhere."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rng = F.broadcast(ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi")))
    mau = (
        ud.crossJoin(rng)
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(F.date_add(F.col("d"), 27), F.col("hi")),
                )
            ).alias("day"),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau_28d"))
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    j = mau.join(dau, "day", "left")
    return j.select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).alias("dau"),
        "mau_28d",
        (
            F.round(
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("mau_28d"),
                4,
            )
            + 0.0
        ).alias("stickiness"),
    )


@register(
    "delta_history_operations",
    """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'WRITE',  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(1 AS BIGINT), 'WRITE',  CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), 'WRITE',  CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(3 AS BIGINT), 'DELETE', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
    ) t(version, operation, n_added_files, n_removed_files)
    """,
)
def delta_history_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a queryable relation — the audit-log read
    API over the write surface: stage a deterministic commit sequence
    (append 1 file, append 2, overwrite with 1 removing all 3, then a
    DV DELETE that re-adds 1 touched file with its bitmap and removes
    the old add), read the log back with sources/delta.delta_history,
    and return (version, operation, added, removed). Every cell is a
    pure function of the staged sequence, so the oracle is the
    expected rows; timestamps are excluded (wall-clock). Driver-side
    metadata only — KBs of commit JSON, no data IO. (This query also
    pinned a real delta_history defect: metrics-carrying commits were
    double-counted by the action-count fallback.)"""
    import shutil
    import tempfile

    from lakeapi_spark.sources.delta import (
        delete_delta,
        delta_history,
        write_delta,
    )

    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dest = tempfile.mkdtemp(prefix="lakeapi_hist_")
    try:
        shutil.rmtree(dest)
        write_delta(base.filter(F.col("o_orderkey") % 7 == 0).coalesce(1), dest)
        write_delta(
            base.filter(F.col("o_orderkey") % 7 == 1).repartition(2),
            dest,
            mode="append",
        )
        write_delta(
            base.filter(F.col("o_orderkey") % 7 == 2).coalesce(1),
            dest,
            mode="overwrite",
        )
        delete_delta(spark, dest, "o_orderkey % 3 = 0")
        hist = delta_history(spark, dest)
    finally:
        shutil.rmtree(dest, ignore_errors=True)
    rows = [
        (
            int(h["version"]),
            h["operation"],
            int(h["numAddedFiles"]),
            int(h["numRemovedFiles"]),
        )
        for h in sorted(hist, key=lambda h: h["version"])
    ]
    return spark.createDataFrame(
        rows,
        "version long, operation string, n_added_files long, n_removed_files long",
    )


@register(
    "jsd_source_unigrams",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(regexp_replace(lower(text),
               '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'),
               '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')
        AND regexp_matches(text, '[^ \\t\\n\\x0B\\f\\r]')
    ), cnt AS (
      SELECT tok,
             COUNT(*) FILTER (WHERE source = 'src0') AS a,
             COUNT(*) FILTER (WHERE source = 'src1') AS b
      FROM toks GROUP BY tok
    ), tot AS (
      SELECT SUM(a) AS ta, SUM(b) AS tb FROM cnt
    ), terms AS (
      SELECT CAST(a AS DOUBLE) / ta AS p, CAST(b AS DOUBLE) / tb AS q
      FROM cnt, tot
    ), contrib AS (
      SELECT CAST(CASE WHEN p > 0 THEN 0.5 * p * LN(p / ((p + q) / 2)) ELSE 0 END
                  + CASE WHEN q > 0 THEN 0.5 * q * LN(q / ((p + q) / 2)) ELSE 0 END
                  AS DECIMAL(28,12)) AS c
      FROM terms
    )
    SELECT (SELECT COUNT(*) FROM cnt) AS n_vocab,
           ROUND(CAST(SUM(c) AS DOUBLE), 6) + 0.0 AS jsd_nats
    FROM contrib
    """,
)
def jsd_source_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between src0's and src1's unigram
    distributions — the corpus-mixing diagnostic run before blending
    sources (JSD ~ 0: interchangeable; ~ ln 2: disjoint vocabularies).
    One token-count aggregate over both corpora (shuffled by token),
    scalar totals broadcast back, per-term contributions decimal-cast
    before the final sum so the reduction commutes — all built-in
    expressions, shared tokens() spelling."""
    from lakeapi_spark.operators.text import tokens

    d = (
        table(spark, sf_dir, "documents")
        .filter(
            F.col("source").isin("src0", "src1")
            & F.col("text").rlike(r"[^ \t\n\x0B\f\r]")
        )
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    cnt = d.groupBy("tok").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("a"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("b"),
    )
    tot = F.broadcast(cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb")))
    terms = cnt.crossJoin(tot).select(
        (F.col("a").cast("double") / F.col("ta")).alias("p"),
        (F.col("b").cast("double") / F.col("tb")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    c = (
        F.when(F.col("p") > 0, F.lit(0.5) * F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + F.when(F.col("q") > 0, F.lit(0.5) * F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    ).cast("decimal(28,12)")
    nv = F.broadcast(cnt.agg(F.count(F.lit(1)).alias("n_vocab")))
    return (
        terms.agg(F.sum(c).alias("s"))
        .crossJoin(nv)
        .select(
            "n_vocab",
            (F.round(F.col("s").cast("double"), 6) + 0.0).alias("jsd_nats"),
        )
    )


def _hw_oracle_sql() -> str:
    """Recursive-CTE oracle for additive Holt-Winters (alpha=.3,
    gamma=.1, season=.3, period 7) over per-event-type daily value
    totals. The seasonal slot for the step from rn to rn+1 is rn % 7;
    nl must inline everywhere it is referenced (a recursive CTE cannot
    name an intermediate), so the SQL is assembled here instead of
    hand-inlined nine times."""
    sd = "(CASE r.rn % 7 " + " ".join(
        f"WHEN {j} THEN r.s{j}" for j in range(7)
    ) + " END)"
    nl = f"((300 * (e.x - {sd}) + 700 * (r.l + r.b)) // 1000)"
    s_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * (e.x - {nl}) + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    zeros = ", ".join(["CAST(0 AS BIGINT)"] * 7)
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), ev AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn, x
      FROM d
    ), rec AS (
      WITH RECURSIVE r(event_type, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT), {zeros}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               {nl},
               (100 * ({nl} - r.l) + 900 * r.b) // 1000,
               {s_cols},
               r.sae + ABS(e.x - (r.l + r.b + {sd}))
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT event_type, MAX(rn) AS n_days,
           CAST(MAX_BY(l, rn) AS BIGINT) AS level,
           CAST(MAX_BY(b, rn) AS BIGINT) AS trend,
           CAST(MAX_BY(s0, rn) AS BIGINT) AS s0, CAST(MAX_BY(s1, rn) AS BIGINT) AS s1,
           CAST(MAX_BY(s2, rn) AS BIGINT) AS s2, CAST(MAX_BY(s3, rn) AS BIGINT) AS s3,
           CAST(MAX_BY(s4, rn) AS BIGINT) AS s4, CAST(MAX_BY(s5, rn) AS BIGINT) AS s5,
           CAST(MAX_BY(s6, rn) AS BIGINT) AS s6,
           CAST(MAX_BY(sae, rn) AS BIGINT) AS sae,
           CAST((2 * MAX_BY(sae, rn) + (MAX(rn) - 1)) // (2 * (MAX(rn) - 1)) AS DOUBLE)
             / 1000000.0 AS mae
    FROM rec GROUP BY event_type
    HAVING MAX(rn) >= 2
    """


@register("holt_winters_backtest_event_daily", _hw_oracle_sql())
def holt_winters_backtest_event_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 7-slot weekly seasonal)
    over per-event-type DAILY value totals, with the rolling-origin
    one-step MAE from the same sequential pass — the seasonality-aware
    top rung of the ses_backtest_mae -> holt_backtest_user_spend
    forecast ladder: on weekday-periodic traffic a Holt forecast lags
    by the seasonal amplitude; HW's l + b + s_slot does not, and the
    per-series MAEs say which model earns the page. Integer
    micro-units, toward-zero division, zero-init seasonals — bit-
    replayable by the recursive-CTE oracle.
    operators/windows.holt_winters_backtest."""
    from lakeapi_spark.operators.windows import holt_winters_backtest

    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("xm"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("xm").alias("x"))
    )
    out = holt_winters_backtest(
        daily, "event_type", "day", "x", alpha_num=300, gamma_num=100, season_num=300
    )
    return out.filter(F.col("n_events") >= 2).select(
        "event_type",
        F.col("n_events").alias("n_days"),
        "level",
        "trend",
        "s0", "s1", "s2", "s3", "s4", "s5", "s6",
        "sae",
        # integer half-up mean — `div` keeps it in int64 (a double
        # quotient could round up across an integer boundary)
        F.expr(
            "CAST((2 * sae + (n_events - 1)) DIV (2 * (n_events - 1)) AS DOUBLE)"
            " / 1000000.0"
        ).alias("mae"),
    )


def _shootout_oracle_sql() -> str:
    """Four recursive-CTE blocks over ONE shared gap-free daily series
    (keys filtered to strictly positive so the multiplicative model is
    well-defined and all four compare on identical data): SES, Holt,
    additive HW, multiplicative HW — each replaying its kernel's
    integer contract — joined into a per-key SAE table with a
    deterministic argmin (tie preference follows ladder order: the
    simpler model wins ties)."""
    # --- additive HW expressions (same algebra as _hw_oracle_sql) ---
    sd = "(CASE r.rn % 7 " + " ".join(
        f"WHEN {j} THEN r.s{j}" for j in range(7)
    ) + " END)"
    nl = f"((300 * (e.x - {sd}) + 700 * (r.l + r.b)) // 1000)"
    s_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * (e.x - {nl}) + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    zeros = ", ".join(["CAST(0 AS BIGINT)"] * 7)
    # --- multiplicative HW expressions (same as _hwm_oracle_sql) ---
    msd = sd
    mdes = f"(CASE WHEN {msd} = 0 THEN 0 ELSE (e.x * 1000000) // {msd} END)"
    mnl = f"((300 * {mdes} + 700 * (r.l + r.b)) // 1000)"
    mrat = f"(CASE WHEN {mnl} = 0 THEN 0 ELSE (e.x * 1000000) // {mnl} END)"
    ms_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * {mrat} + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    ones = ", ".join(["CAST(1000000 AS BIGINT)"] * 7)
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), pos AS (
      SELECT event_type FROM d GROUP BY 1 HAVING MIN(x) > 0
    ), ev AS (
      SELECT d.event_type,
             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY day) AS rn, x
      FROM d JOIN pos USING (event_type)
    ), rec_ses AS (
      WITH RECURSIVE r(event_type, rn, l, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT) FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               (300 * e.x + 700 * r.l) // 1000,
               r.sae + ABS(e.x - r.l)
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT event_type, MAX(rn) AS n_days,
             CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1 HAVING MAX(rn) >= 2
    ), rec_holt AS (
      WITH RECURSIVE r(event_type, rn, l, b, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               (300 * e.x + 700 * (r.l + r.b)) // 1000,
               (100 * ((300 * e.x + 700 * (r.l + r.b)) // 1000 - r.l)
                + 900 * r.b) // 1000,
               r.sae + ABS(e.x - (r.l + r.b))
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT event_type, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1 HAVING MAX(rn) >= 2
    ), rec_hwa AS (
      WITH RECURSIVE r(event_type, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT), {zeros}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               {nl},
               (100 * ({nl} - r.l) + 900 * r.b) // 1000,
               {s_cols},
               r.sae + ABS(e.x - (r.l + r.b + {sd}))
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT event_type, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1 HAVING MAX(rn) >= 2
    ), rec_hwm AS (
      WITH RECURSIVE r(event_type, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT), {ones}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               {mnl},
               (100 * ({mnl} - r.l) + 900 * r.b) // 1000,
               {ms_cols},
               r.sae + ABS(e.x - ((r.l + r.b) * {msd}) // 1000000)
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT event_type, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1 HAVING MAX(rn) >= 2
    )
    SELECT s.event_type, s.n_days,
           s.sae AS sae_ses, h.sae AS sae_holt,
           a.sae AS sae_hw_add, m.sae AS sae_hw_mult,
           CASE WHEN s.sae <= h.sae AND s.sae <= a.sae AND s.sae <= m.sae
                  THEN 'ses'
                WHEN h.sae <= a.sae AND h.sae <= m.sae THEN 'holt'
                WHEN a.sae <= m.sae THEN 'hw_add'
                ELSE 'hw_mult' END AS winner
    FROM rec_ses s
    JOIN rec_holt h USING (event_type)
    JOIN rec_hwa a USING (event_type)
    JOIN rec_hwm m USING (event_type)
    """


@register("forecast_shootout_event_daily", _shootout_oracle_sql())
def forecast_shootout_event_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-ladder shootout: SES, Holt, additive
    Holt-Winters, and multiplicative Holt-Winters backtested on the
    SAME per-event-type daily series (keys filtered to strictly
    positive so the multiplicative model is defined and all four see
    identical data), with per-key SAEs side by side and a
    deterministic winner (ties prefer the simpler model, ladder
    order) — the model-selection readout that says which rung each
    series actually earns, instead of four disconnected MAE pages.
    One repartition+sort feeds all four sequential kernels over the
    same staged relation; the SES/Holt kernels key on a dense integer
    id from a bounded (n-event-types-row) rank window. Every SAE is
    int64 micro-units under each kernel's replayable contract."""
    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.windows import (
        exp_smooth_backtest,
        holt_smooth_backtest,
        holt_winters_backtest,
        holt_winters_multiplicative_backtest,
    )

    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("xm"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("xm").alias("x"))
    )
    pos = (
        daily.groupBy("event_type")
        .agg(F.min("x").alias("_mn"))
        .filter(F.col("_mn") > 0)
        .select("event_type")
    )
    # localCheckpoint, not persist: the staged relation feeds all four
    # kernels within ONE final plan, and GC-managed blocks don't leak
    # session cache for one-shot callers (ADVICE r12)
    daily = daily.join(F.broadcast(pos), "event_type").localCheckpoint(eager=True)
    # the SES/Holt kernels carry int64 keys: dense id over the bounded
    # event-type relation (a handful of rows — the global window is
    # constant-size by construction)
    tid_dim = pos.withColumn(
        "tid", F.row_number().over(_W.orderBy("event_type")).cast("long")
    )
    dd = daily.join(F.broadcast(tid_dim), "event_type")
    ses = exp_smooth_backtest(dd, "tid", "day", "day", "x").select(
        "tid", F.col("n_events").alias("n_days"), F.col("sae").alias("sae_ses")
    )
    holt = holt_smooth_backtest(dd, "tid", "day", "day", "x").select(
        "tid", F.col("sae").alias("sae_holt")
    )
    hwa = (
        holt_winters_backtest(daily, "event_type", "day", "x")
        .filter(F.col("n_events") >= 2)
        .select("event_type", F.col("sae").alias("sae_hw_add"))
    )
    hwm = (
        holt_winters_multiplicative_backtest(daily, "event_type", "day", "x")
        .filter(F.col("n_events") >= 2)
        .select("event_type", F.col("sae").alias("sae_hw_mult"))
    )
    s1, s2 = F.col("sae_ses"), F.col("sae_holt")
    s3, s4 = F.col("sae_hw_add"), F.col("sae_hw_mult")
    winner = (
        F.when((s1 <= s2) & (s1 <= s3) & (s1 <= s4), F.lit("ses"))
        .when((s2 <= s3) & (s2 <= s4), F.lit("holt"))
        .when(s3 <= s4, F.lit("hw_add"))
        .otherwise(F.lit("hw_mult"))
    )
    out = (
        ses.join(holt, "tid")
        .join(F.broadcast(tid_dim), "tid")
        .join(hwa, "event_type")
        .join(hwm, "event_type")
        .select(
            "event_type", "n_days",
            "sae_ses", "sae_holt", "sae_hw_add", "sae_hw_mult",
            winner.alias("winner"),
        )
    )
    return out


#: shared oracle CTE prefix for the intermittent-demand queries:
#: 1995 lineitem window, top-20 parts by count, 365-day gap-filled
#: spine with rn/x (zeros injected) — mirrors _intermittent_part_series
_INTERMITTENT_SERIES_SQL = """
    WITH l95 AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS day, l_quantity
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE)
            BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    ), sel AS (
      SELECT l_partkey FROM l95 GROUP BY 1
      ORDER BY COUNT(*) DESC, l_partkey LIMIT 20
    ), days AS (
      SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '1995-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ), daily AS (
      SELECT l.l_partkey, l.day,
             SUM(CAST(ROUND(l.l_quantity * 1000000, 0) AS BIGINT)) AS x
      FROM l95 l JOIN sel USING (l_partkey) GROUP BY 1, 2
    ), ev AS (
      SELECT s.l_partkey,
             ROW_NUMBER() OVER (PARTITION BY s.l_partkey ORDER BY d.day) AS rn,
             d.day, COALESCE(dd.x, 0) AS x
      FROM sel s CROSS JOIN days d
      LEFT JOIN daily dd ON dd.l_partkey = s.l_partkey AND dd.day = d.day
    )"""


def _intermittent_part_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 1995 daily demand series for the top-20 parts by
    lineitem count — (l_partkey, day, x) with x in quantity
    micro-units and explicit zeros from a 365-day spine per part. The
    shared input of croston_part_demand_daily and the intermittent
    shootout."""
    l = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.col("l_shipdate").cast("date").alias("day"),
            "l_quantity",
        )
        .filter(
            (F.col("day") >= F.lit("1995-01-01").cast("date"))
            & (F.col("day") <= F.lit("1995-12-31").cast("date"))
        )
    )
    sel = (
        l.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "l_partkey")
        .limit(20)
        .select("l_partkey")
    )
    daily = (
        l.join(F.broadcast(sel), "l_partkey")
        .groupBy("l_partkey", "day")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 1000000, 0).cast("long")).alias("x")
        )
    )
    spine = sel.select(
        "l_partkey",
        F.explode(
            F.expr(
                "sequence(DATE'1995-01-01', DATE'1995-12-31', interval 1 day)"
            )
        ).alias("day"),
    )
    return (
        spine.join(daily, ["l_partkey", "day"], "left")
        .withColumn("x", F.coalesce("x", F.lit(0)))
    )


def _croston_oracle_sql() -> str:
    """Recursive-CTE oracle for Croston's method (alpha=.1) over
    gap-filled daily part demand, 1995, top-20 parts by lineitem
    count. State expressions are assembled here because the recursive
    CTE cannot name intermediates (q+1 and the started-gate repeat);
    the idle-period division is NULLIF-guarded so a vectorized CASE
    evaluation cannot divide by the pre-start p = 0."""
    znew = (
        "CAST(CASE WHEN e.x > 0 THEN "
        "(CASE WHEN r.started = 0 THEN e.x ELSE (100 * e.x + 900 * r.z) // 1000 END) "
        "ELSE r.z END AS BIGINT)"
    )
    pnew = (
        "CAST(CASE WHEN e.x > 0 THEN "
        "(CASE WHEN r.started = 0 THEN (r.q + 1) * 1000 "
        "ELSE (100 * (r.q + 1) * 1000 + 900 * r.p) // 1000 END) "
        "ELSE r.p END AS BIGINT)"
    )
    return _INTERMITTENT_SERIES_SQL + f""", rec AS (
      WITH RECURSIVE r(l_partkey, rn, started, z, p, q, nd, sae) AS (
        SELECT l_partkey, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM sel
        UNION ALL
        SELECT e.l_partkey, e.rn,
               CASE WHEN e.x > 0 THEN 1 ELSE r.started END,
               {znew},
               {pnew},
               CAST(CASE WHEN e.x > 0 THEN 0 ELSE r.q + 1 END AS BIGINT),
               r.nd + CASE WHEN e.x > 0 THEN 1 ELSE 0 END,
               r.sae + CASE WHEN r.started = 1
                            THEN ABS(e.x - (r.z * 1000 // NULLIF(r.p, 0)))
                            ELSE 0 END
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
           MAX(rn) AS n_periods,
           CAST(MAX_BY(nd, rn) AS BIGINT) AS n_demand,
           CAST(MAX_BY(z, rn) AS BIGINT) AS z,
           CAST(MAX_BY(p, rn) AS BIGINT) AS p,
           CAST(MAX_BY(sae, rn) AS BIGINT) AS sae,
           CAST((MAX_BY(z, rn) * 1000 // MAX_BY(p, rn)) AS DOUBLE) / 1000000.0
             AS demand_rate
    FROM rec GROUP BY 1
    """


@register("croston_part_demand_daily", _croston_oracle_sql())
def croston_part_demand_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand smoothing over GAP-FILLED daily part
    quantities (1995, top-20 parts by lineitem count): separate SES
    states for demand size and inter-demand interval, updated only on
    demand days, with the rolling one-step backtest — the forecast
    rung the rest of the ladder (SES/Holt/HW) gets wrong when most
    periods are ZERO, because level smoothing decays toward zero
    between demands and under-forecasts every spike. demand_rate =
    z/p is the Croston per-period rate. Integer micro-units/
    milli-periods, toward-zero division, recursive-CTE-replayable.
    The zeros are injected deterministically: a 365-day spine per
    part, left-joined and coalesced.
    operators/windows.croston_backtest."""
    from lakeapi_spark.operators.windows import croston_backtest

    series = _intermittent_part_series(spark, sf_dir).withColumn(
        "k", F.col("l_partkey").cast("string")
    )
    out = croston_backtest(series, "k", "day", "x", alpha_num=100)
    return out.select(
        F.col("k").cast("long").alias("l_partkey"),
        "n_periods",
        "n_demand",
        "z",
        "p",
        "sae",
        F.expr("CAST((z * 1000 DIV p) AS DOUBLE) / 1000000.0").alias("demand_rate"),
    )


def _croston_shootout_oracle_sql() -> str:
    """Five recursive-CTE blocks over the SAME gap-filled intermittent
    series (zeros present — the domain Croston exists for): SES, Holt,
    additive HW, multiplicative HW (its zero-guards are part of the
    pinned kernel contract, so it is total here and expected to lose),
    and Croston. Pre-first-demand periods contribute ZERO error to all
    five (the ladder models carry level 0 through leading zeros;
    Croston's gate skips them), so the SAEs cover the same periods and
    the argmin is a fair fight."""
    sd = "(CASE r.rn % 7 " + " ".join(
        f"WHEN {j} THEN r.s{j}" for j in range(7)
    ) + " END)"
    nl = f"((300 * (e.x - {sd}) + 700 * (r.l + r.b)) // 1000)"
    s_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * (e.x - {nl}) + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    zeros = ", ".join(["CAST(0 AS BIGINT)"] * 7)
    msd = sd
    mdes = f"(CASE WHEN {msd} = 0 THEN 0 ELSE (e.x * 1000000) // {msd} END)"
    mnl = f"((300 * {mdes} + 700 * (r.l + r.b)) // 1000)"
    mrat = f"(CASE WHEN {mnl} = 0 THEN 0 ELSE (e.x * 1000000) // {mnl} END)"
    ms_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * {mrat} + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    ones = ", ".join(["CAST(1000000 AS BIGINT)"] * 7)
    znew = (
        "CAST(CASE WHEN e.x > 0 THEN "
        "(CASE WHEN r.started = 0 THEN e.x ELSE (100 * e.x + 900 * r.z) // 1000 END) "
        "ELSE r.z END AS BIGINT)"
    )
    pnew = (
        "CAST(CASE WHEN e.x > 0 THEN "
        "(CASE WHEN r.started = 0 THEN (r.q + 1) * 1000 "
        "ELSE (100 * (r.q + 1) * 1000 + 900 * r.p) // 1000 END) "
        "ELSE r.p END AS BIGINT)"
    )
    return _INTERMITTENT_SERIES_SQL + f""", rec_ses AS (
      WITH RECURSIVE r(l_partkey, rn, l, sae) AS (
        SELECT l_partkey, rn, x, CAST(0 AS BIGINT) FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.l_partkey, e.rn, (300 * e.x + 700 * r.l) // 1000,
               r.sae + ABS(e.x - r.l)
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT l_partkey, MAX(rn) AS n_periods,
             CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1
    ), rec_holt AS (
      WITH RECURSIVE r(l_partkey, rn, l, b, sae) AS (
        SELECT l_partkey, rn, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.l_partkey, e.rn,
               (300 * e.x + 700 * (r.l + r.b)) // 1000,
               (100 * ((300 * e.x + 700 * (r.l + r.b)) // 1000 - r.l)
                + 900 * r.b) // 1000,
               r.sae + ABS(e.x - (r.l + r.b))
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT l_partkey, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae FROM r GROUP BY 1
    ), rec_hwa AS (
      WITH RECURSIVE r(l_partkey, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT l_partkey, rn, x, CAST(0 AS BIGINT), {zeros}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.l_partkey, e.rn,
               {nl},
               (100 * ({nl} - r.l) + 900 * r.b) // 1000,
               {s_cols},
               r.sae + ABS(e.x - (r.l + r.b + {sd}))
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT l_partkey, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae FROM r GROUP BY 1
    ), rec_hwm AS (
      WITH RECURSIVE r(l_partkey, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT l_partkey, rn, x, CAST(0 AS BIGINT), {ones}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.l_partkey, e.rn,
               {mnl},
               (100 * ({mnl} - r.l) + 900 * r.b) // 1000,
               {ms_cols},
               r.sae + ABS(e.x - ((r.l + r.b) * {msd}) // 1000000)
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT l_partkey, CAST(MAX_BY(sae, rn) AS BIGINT) AS sae FROM r GROUP BY 1
    ), rec_cro AS (
      WITH RECURSIVE r(l_partkey, rn, started, z, p, q, nd, sae) AS (
        SELECT l_partkey, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM sel
        UNION ALL
        SELECT e.l_partkey, e.rn,
               CASE WHEN e.x > 0 THEN 1 ELSE r.started END,
               {znew},
               {pnew},
               CAST(CASE WHEN e.x > 0 THEN 0 ELSE r.q + 1 END AS BIGINT),
               r.nd + CASE WHEN e.x > 0 THEN 1 ELSE 0 END,
               r.sae + CASE WHEN r.started = 1
                            THEN ABS(e.x - (r.z * 1000 // NULLIF(r.p, 0)))
                            ELSE 0 END
        FROM r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
      )
      SELECT l_partkey, CAST(MAX_BY(nd, rn) AS BIGINT) AS n_demand,
             CAST(MAX_BY(sae, rn) AS BIGINT) AS sae
      FROM r GROUP BY 1
    )
    SELECT CAST(s.l_partkey AS BIGINT) AS l_partkey, s.n_periods, c.n_demand,
           s.sae AS sae_ses, h.sae AS sae_holt,
           a.sae AS sae_hw_add, m.sae AS sae_hw_mult, c.sae AS sae_croston,
           CASE WHEN s.sae <= h.sae AND s.sae <= a.sae AND s.sae <= m.sae
                     AND s.sae <= c.sae THEN 'ses'
                WHEN h.sae <= a.sae AND h.sae <= m.sae AND h.sae <= c.sae
                  THEN 'holt'
                WHEN a.sae <= m.sae AND a.sae <= c.sae THEN 'hw_add'
                WHEN m.sae <= c.sae THEN 'hw_mult'
                ELSE 'croston' END AS winner
    FROM rec_ses s
    JOIN rec_holt h USING (l_partkey)
    JOIN rec_hwa a USING (l_partkey)
    JOIN rec_hwm m USING (l_partkey)
    JOIN rec_cro c USING (l_partkey)
    """


@register("croston_shootout_part_daily", _croston_shootout_oracle_sql())
def croston_shootout_part_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIVE-model shootout on the intermittent domain (ROADMAP_r12
    #1 remainder): SES, Holt, additive HW, multiplicative HW, and
    Croston backtested on the same gap-filled 1995 daily part-demand
    series — the domain where the ladder's level smoothers decay to
    zero between demand spikes and Croston's split size/interval
    states are the right model. All five are TOTAL on zero-heavy
    series (HW-mult by its pinned zero-guards) and pre-first-demand
    periods contribute zero error to every model, so the per-part SAEs
    cover identical periods; winner = ladder-order argmin (simpler
    model wins ties, Croston last as the specialist). One
    localCheckpoint-materialized series feeds all five sequential
    Arrow kernels. operators/windows.{{exp,holt,hw,hwm,croston}}."""
    from lakeapi_spark.operators.windows import (
        croston_backtest,
        exp_smooth_backtest,
        holt_smooth_backtest,
        holt_winters_backtest,
        holt_winters_multiplicative_backtest,
    )

    series = _intermittent_part_series(spark, sf_dir).localCheckpoint(eager=True)
    skey = series.withColumn("k", F.col("l_partkey").cast("string"))
    ses = exp_smooth_backtest(series, "l_partkey", "day", "day", "x").select(
        "l_partkey",
        F.col("n_events").alias("n_periods"),
        F.col("sae").alias("sae_ses"),
    )
    holt = holt_smooth_backtest(series, "l_partkey", "day", "day", "x").select(
        "l_partkey", F.col("sae").alias("sae_holt")
    )
    hwa = holt_winters_backtest(skey, "k", "day", "x").select(
        F.col("k").cast("long").alias("l_partkey"),
        F.col("sae").alias("sae_hw_add"),
    )
    hwm = holt_winters_multiplicative_backtest(skey, "k", "day", "x").select(
        F.col("k").cast("long").alias("l_partkey"),
        F.col("sae").alias("sae_hw_mult"),
    )
    cro = croston_backtest(skey, "k", "day", "x", alpha_num=100).select(
        F.col("k").cast("long").alias("l_partkey"),
        "n_demand",
        F.col("sae").alias("sae_croston"),
    )
    s1, s2 = F.col("sae_ses"), F.col("sae_holt")
    s3, s4, s5 = F.col("sae_hw_add"), F.col("sae_hw_mult"), F.col("sae_croston")
    winner = (
        F.when((s1 <= s2) & (s1 <= s3) & (s1 <= s4) & (s1 <= s5), F.lit("ses"))
        .when((s2 <= s3) & (s2 <= s4) & (s2 <= s5), F.lit("holt"))
        .when((s3 <= s4) & (s3 <= s5), F.lit("hw_add"))
        .when(s4 <= s5, F.lit("hw_mult"))
        .otherwise(F.lit("croston"))
    )
    return (
        ses.join(holt, "l_partkey")
        .join(hwa, "l_partkey")
        .join(hwm, "l_partkey")
        .join(cro, "l_partkey")
        .select(
            "l_partkey", "n_periods", "n_demand",
            "sae_ses", "sae_holt", "sae_hw_add", "sae_hw_mult", "sae_croston",
            winner.alias("winner"),
        )
    )


def _hwm_oracle_sql() -> str:
    """Recursive-CTE oracle for MULTIPLICATIVE Holt-Winters (alpha=.3,
    gamma=.1, season=.3, period 7, seasonal factors in integer
    millionths) over per-event-type daily value totals, keys filtered
    to strictly positive series. Assembled programmatically because a
    recursive CTE cannot name intermediates: nl (which itself inlines
    the deseasonalized term) must repeat in every expression that
    reads it."""
    sd = "(CASE r.rn % 7 " + " ".join(
        f"WHEN {j} THEN r.s{j}" for j in range(7)
    ) + " END)"
    des = f"(CASE WHEN {sd} = 0 THEN 0 ELSE (e.x * 1000000) // {sd} END)"
    nl = f"((300 * {des} + 700 * (r.l + r.b)) // 1000)"
    rat = f"(CASE WHEN {nl} = 0 THEN 0 ELSE (e.x * 1000000) // {nl} END)"
    s_cols = ", ".join(
        f"CASE WHEN r.rn % 7 = {j} THEN (300 * {rat} + 700 * r.s{j}) // 1000 "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    ones = ", ".join(["CAST(1000000 AS BIGINT)"] * 7)
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), pos AS (
      SELECT event_type FROM d GROUP BY 1 HAVING MIN(x) > 0
    ), ev AS (
      SELECT d.event_type,
             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY day) AS rn, x
      FROM d JOIN pos USING (event_type)
    ), rec AS (
      WITH RECURSIVE r(event_type, rn, l, b, s0, s1, s2, s3, s4, s5, s6, sae) AS (
        SELECT event_type, rn, x, CAST(0 AS BIGINT), {ones}, CAST(0 AS BIGINT)
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               {nl},
               (100 * ({nl} - r.l) + 900 * r.b) // 1000,
               {s_cols},
               r.sae + ABS(e.x - ((r.l + r.b) * {sd}) // 1000000)
        FROM r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1
      )
      SELECT * FROM r
    )
    SELECT event_type, MAX(rn) AS n_days,
           CAST(MAX_BY(l, rn) AS BIGINT) AS level,
           CAST(MAX_BY(b, rn) AS BIGINT) AS trend,
           CAST(MAX_BY(s0, rn) AS BIGINT) AS s0, CAST(MAX_BY(s1, rn) AS BIGINT) AS s1,
           CAST(MAX_BY(s2, rn) AS BIGINT) AS s2, CAST(MAX_BY(s3, rn) AS BIGINT) AS s3,
           CAST(MAX_BY(s4, rn) AS BIGINT) AS s4, CAST(MAX_BY(s5, rn) AS BIGINT) AS s5,
           CAST(MAX_BY(s6, rn) AS BIGINT) AS s6,
           CAST(MAX_BY(sae, rn) AS BIGINT) AS sae,
           CAST((2 * MAX_BY(sae, rn) + (MAX(rn) - 1)) // (2 * (MAX(rn) - 1)) AS DOUBLE)
             / 1000000.0 AS mae
    FROM rec GROUP BY event_type
    HAVING MAX(rn) >= 2
    """


@register("holt_winters_mult_backtest_event_daily", _hwm_oracle_sql())
def holt_winters_mult_backtest_event_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiplicative Holt-Winters (level + trend + 7-slot RATIO
    seasonal) over per-event-type daily value totals with the
    rolling-origin one-step MAE — the retail-seasonality twin of
    holt_winters_backtest_event_daily: when the weekday bump scales
    with volume (2x traffic means 2x the Saturday spike, not +fixed),
    the additive model under-forecasts peaks as the series grows and
    the multiplicative MAE says so. Keys are filtered to strictly
    positive daily series (the model divides by level and seasonal
    state); integer millionth-units, toward-zero division, identity-
    init seasonals — bit-replayable by the recursive-CTE oracle.
    operators/windows.holt_winters_multiplicative_backtest."""
    from lakeapi_spark.operators.windows import (
        holt_winters_multiplicative_backtest,
    )

    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("xm"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("xm").alias("x"))
    )
    pos = (
        daily.groupBy("event_type")
        .agg(F.min("x").alias("_mn"))
        .filter(F.col("_mn") > 0)
        .select("event_type")
    )
    out = holt_winters_multiplicative_backtest(
        daily.join(F.broadcast(pos), "event_type"),
        "event_type", "day", "x",
        alpha_num=300, gamma_num=100, season_num=300,
    )
    return out.filter(F.col("n_events") >= 2).select(
        "event_type",
        F.col("n_events").alias("n_days"),
        "level",
        "trend",
        "s0", "s1", "s2", "s3", "s4", "s5", "s6",
        "sae",
        F.expr(
            "CAST((2 * sae + (n_events - 1)) DIV (2 * (n_events - 1)) AS DOUBLE)"
            " / 1000000.0"
        ).alias("mae"),
    )


@register(
    "attribution_u_shaped",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS tid, user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.event_id, p.cents, t.event_type, t.ts AS tts, t.tid
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 24 HOURS
    ), pos AS (
      SELECT event_id, cents, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY tts, tid) AS rn,
             COUNT(*) OVER (PARTITION BY event_id) AS nt
      FROM j
    ), touch AS (
      SELECT event_type AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0 *
               CASE WHEN nt = 1 THEN 1.0
                    WHEN nt = 2 THEN 0.5
                    WHEN rn = 1 OR rn = nt THEN 0.4
                    ELSE 0.2 / (nt - 2) END, 6) AS DECIMAL(28,10)) AS credit
      FROM pos
    ), direct AS (
      SELECT 'direct' AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0, 6)
                  AS DECIMAL(28,10)) AS credit
      FROM p WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.event_id = p.event_id)
    )
    SELECT channel,
           ROUND(CAST(SUM(credit) AS DOUBLE), 2) + 0.0 AS attributed_revenue,
           COUNT(*) AS n_credits
    FROM (SELECT * FROM touch UNION ALL SELECT * FROM direct)
    GROUP BY channel
    """,
)
def attribution_u_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based 40/20/40) multi-touch attribution: the
    first and last touch in the purchase's 24 h window take 40% each,
    middles split the remaining 20% (1 touch: all; 2 touches: 50/50)
    — the boundary-weighted standard between the first/last extremes
    and linear. Same day-bucketed range-join shape as
    attribution_linear_touch (bounded x2 fan-out, no range nested
    loop); positions come from one window over the bounded per-
    purchase touch set with a (ts, event_id) total order."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400))
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        day.alias("db"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
        day.alias("tb"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "pts",
        "cents",
        F.explode(F.array(F.col("db"), F.col("db") - 1)).alias("tb"),
    )
    j = probes.join(t, ["user_id", "tb"]).filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
    )
    wp = Window.partitionBy("event_id")
    wo = Window.partitionBy("event_id").orderBy("tts", "tid")
    pos = j.select(
        "event_id",
        "cents",
        "channel",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("nt"),
    )
    w = (
        F.when(F.col("nt") == 1, F.lit(1.0))
        .when(F.col("nt") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("nt")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("nt") - 2))
    )
    touch = pos.select(
        "channel",
        F.round(F.col("cents").cast("double") / 100.0 * w, 6)
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    direct = p.join(
        j.select("event_id").distinct(), "event_id", "left_anti"
    ).select(
        F.lit("direct").alias("channel"),
        F.round(F.col("cents").cast("double") / 100.0, 6)
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    return (
        touch.unionByName(direct)
        .groupBy("channel")
        .agg(
            (F.round(F.sum("credit").cast("double"), 2) + 0.0).alias(
                "attributed_revenue"
            ),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )


@register(
    "attribution_time_decay",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS pe,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS te
      FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.event_id, p.cents, t.event_type,
             CAST(1 AS DOUBLE)
               / CAST((CAST(1 AS BIGINT) << ((p.pe - t.te) // 86400)) AS DOUBLE)
               AS raw
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAYS
    ), wsum AS (
      SELECT event_id, cents, event_type, raw,
             SUM(raw) OVER (PARTITION BY event_id) AS s
      FROM j
    ), touch AS (
      SELECT event_type AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0 * raw / s, 6)
                  AS DECIMAL(28,10)) AS credit
      FROM wsum
    ), direct AS (
      SELECT 'direct' AS channel,
             CAST(ROUND(CAST(cents AS DOUBLE) / 100.0, 6)
                  AS DECIMAL(28,10)) AS credit
      FROM p WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.event_id = p.event_id)
    )
    SELECT channel,
           ROUND(CAST(SUM(credit) AS DOUBLE), 2) + 0.0 AS attributed_revenue,
           COUNT(*) AS n_credits
    FROM (SELECT * FROM touch UNION ALL SELECT * FROM direct)
    GROUP BY channel
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution over a 7-day window: each
    touch's raw weight halves per whole day of age (2^-age_days —
    EXACT powers of two, so the per-purchase normalizer is an exact
    double sum regardless of addition order; the half-life never
    enters libm), normalized within the purchase. Day-bucketed range
    join with x8 bounded fan-out (a 7-day window spans at most eight
    epoch-day buckets) — the same no-range-nested-loop discipline as
    the other attribution queries."""
    e = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400))
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("pts"),
        F.unix_timestamp("ts").cast("long").alias("pe"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        day.alias("db"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.unix_timestamp("ts").cast("long").alias("te"),
        F.col("event_type").alias("channel"),
        day.alias("tb"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "pts",
        "pe",
        "cents",
        F.explode(
            F.array(*[F.col("db") - i for i in range(8)])
        ).alias("tb"),
    )
    raw = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(floor((pe - te) / 86400) AS INT)) AS DOUBLE)"
    )
    j = (
        probes.join(t, ["user_id", "tb"])
        .filter(
            (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS"))
        )
        .select("event_id", "cents", "channel", raw.alias("raw"))
    )
    ws = Window.partitionBy("event_id")
    touch = j.select(
        "channel",
        F.round(
            F.col("cents").cast("double") / 100.0 * F.col("raw")
            / F.sum("raw").over(ws),
            6,
        )
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    direct = p.join(
        j.select("event_id").distinct(), "event_id", "left_anti"
    ).select(
        F.lit("direct").alias("channel"),
        F.round(F.col("cents").cast("double") / 100.0, 6)
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    return (
        touch.unionByName(direct)
        .groupBy("channel")
        .agg(
            (F.round(F.sum("credit").cast("double"), 2) + 0.0).alias(
                "attributed_revenue"
            ),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )
