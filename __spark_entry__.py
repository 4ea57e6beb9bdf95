"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` provides the
DuckDB twin for each SQL-expressible query. Column names and types are
aligned on both sides; float outputs are rounded identically (money-scale
sums to 2 dp, scores/ratios to 6 dp) so the order-insensitive value hash
is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from riskloc_spark.data import (
    RCA_ATTRIBUTES,
    RCA_EVENTS_DERIVED_SQL,
    RCA_EVENTS_SQL,
    load_table,
    local_rows_df,
    rca_events,
    rca_events_derived,
)
from riskloc_spark.functions.scores import (
    NUMPY_OPS,
    add_deviation_score,
    add_explanatory_power,
    add_partition,
    add_weight,
    get_cutoff,
    half_deviation,
)
from riskloc_spark.functions import text as T
from riskloc_spark.operators.adtributor import (
    adtributor_candidates,
    merge_dimensions,
    rev_adtributor_candidates,
)
from riskloc_spark.operators.autoroot import autoroot
from riskloc_spark.operators.hotspot import hotspot
from riskloc_spark.operators.squeeze import squeeze
from riskloc_spark.operators.robustspot import (
    adapt_frame,
    add_influence_degree,
    robustspot_df,
)
from riskloc_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from riskloc_spark.operators.riskloc import riskloc_df
from riskloc_spark.operators.similarity import (
    cosine,
    ivf_knn,
    knn_bruteforce,
    lsh_bucket_knn,
)

from riskloc_spark.functions.scores import add_ep_and_surprise
from riskloc_spark.operators import graph as _graph_mod


# --------------------------------------------------------------------------
# Spark query builders
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in (
        "customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: top-3 customers by order revenue per
    nation (dense rank over a partitioned window after a broadcast-dim
    join)."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_custkey",
            F.round("revenue", 2).alias("revenue"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape on the reduced schema: bidirectional nation-pair
    trade volume by ship year.  Two broadcast joins against the SAME
    small nation dim under different aliases (supplier nation n1,
    customer nation n2) — the self-alias-on-a-dim pattern — plus the
    OR'd pair predicate Catalyst must keep above the joins."""
    t = {n: load_table(spark, sf_dir, n) for n in (
        "supplier", "lineitem", "orders", "customer", "nation")}
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    # two trade BLOCS (nation keys 0-2 vs 3-5) instead of Q7's single
    # nation pair: the synthetic data spreads each fact row uniformly
    # over 25x25 nation combos, so one pair is empty at sf0.001 — the
    # bloc form keeps the OR'd bidirectional predicate shape non-empty
    # at every scale.
    pair = (
        ((F.col("n1_key") < 3) & (F.col("n2_key") >= 3) & (F.col("n2_key") < 6))
        | ((F.col("n1_key") >= 3) & (F.col("n1_key") < 6) & (F.col("n2_key") < 3))
    )
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            pair
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (o_comment NOT LIKE swapped for the reduced
    schema's o_orderpriority <> '1-URGENT', applied INSIDE the join
    condition — the left-outer-with-ON-predicate shape that is wrong if
    rewritten as a post-join filter): per-customer non-urgent order
    counts, then the distribution of those counts.  Two aggregations,
    the second over the first's keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotional revenue share for one ship month — a
    fact-dim join (part broadcast at this scale) under a conditional
    aggregate; the filter must reach the lineitem scan."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with orders above a quantity threshold —
    a HAVING-backed semi-join (the qualifying-orderkey set) feeding a
    three-way join and a second aggregation; top 100 by total price.
    The qualifier reuses lineitem, so the scan is shared via exchange
    reuse rather than read twice logically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
               F.col("o_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"), "sum_qty",
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on the reduced schema (no partsupp —
    lineitem-derived supply relationships stand in): for each LARGE
    big part, the region-3 supplier with the MINIMUM total revenue on
    that part (the "cheapest supplier" correlated-min, decorrelated
    into a rank-1 window with a suppkey tiebreak), profiled by
    supplier account balance — Q2's min-cost-supplier-per-part join
    topology.  Region membership is s_nationkey % 5 (the generator's
    n_regionkey rule) so the predicate is scale-stable even where the
    nation dim has fewer rows than supplier nationkeys reference.
    Money sums in exact BIGINT cents (the q9 em-discipline)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    region3 = s.filter(F.col("s_nationkey") % 5 == 3)
    rev = (
        l.join(
            F.broadcast(region3.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("rev_em2")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("rev_em2").asc(), F.col("l_suppkey").asc()
    )
    best = (
        rev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        best.join(
            p.filter(
                (F.col("p_type") == "LARGE") & (F.col("p_size") > 30)
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                region3.select("s_suppkey", "s_name", "s_acctbal")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "p_partkey",
            "p_name",
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape on the reduced schema (no partsupp — shipped
    value stands in for stock value): parts whose region-3 shipped
    value exceeds TWICE the mean part value — the GROUP BY ... HAVING
    SUM > scalar-subquery-fraction-of-total shape, decorrelated into
    one aggregate plus a broadcast one-row total.  The mean-relative
    cut (value * n_parts > total * 2) is scale-free where Q11's fixed
    fraction would empty out as the part count grows.  Value in exact
    BIGINT (cents x integer quantity) so the sums and the threshold
    compare are bit-stable under any partitioning."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    val_em2 = F.round(F.col("l_extendedprice") * 100, 0).cast(
        "long"
    ) * F.col("l_quantity").cast("long")
    v = (
        l.join(
            F.broadcast(
                s.filter(F.col("s_nationkey") % 5 == 3)
                .select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(val_em2).alias("value_em2"))
    )
    tot = v.agg(
        F.sum("value_em2").alias("__tot"),
        F.count(F.lit(1)).alias("__np"),
    )
    # Compare in DECIMAL(38,0): BIGINT * row-count can overflow at
    # large SF, and non-ANSI Spark would wrap silently where DuckDB
    # raises — widening both sides keeps the gate exact and loud.
    dec = "decimal(38,0)"
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_em2").cast(dec) * F.col("__np")
            > F.col("__tot").cast(dec) * 2
        )
        .select("l_partkey", "value_em2")
    )


def q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape on the reduced schema (no partsupp — the
    distinct (part, supplier) pairs observed in lineitem stand in):
    supplier counts per (brand, type, size) over square sizes,
    excluding one brand, one type, and low-balance suppliers via a
    broadcast LEFT ANTI join (Q16's NOT IN complaint-supplier
    subquery).  countDistinct keeps the exchange keyed on the group
    columns; the anti join never shuffles the fact side."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    excl = s.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        p.filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_dominant_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape on the reduced schema (no partsupp — yearly
    shipped volume stands in for available stock): region-3 suppliers
    who shipped MORE THAN HALF of some rod-part's total 1997 volume —
    Q20's exists-with-correlated-aggregate, decorrelated into a
    per-(part, supplier) aggregate compared against the per-part
    total.  DATE-granularity year filter (the q12 timezone
    discipline); quantities in exact BIGINT."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    od = F.to_date("o_orderdate")
    q = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            p.filter(F.col("p_name").contains("rod")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(
            (od >= F.lit("1997-01-01").cast("date"))
            & (od < F.lit("1998-01-01").cast("date"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    pt = q.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("qty").alias("tot")
    )
    return (
        q.join(pt, F.col("l_partkey") == F.col("pt_partkey"))
        .filter(F.col("qty") * 2 > F.col("tot"))
        .join(
            F.broadcast(
                s.filter(F.col("s_nationkey") % 5 == 3)
                .select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("qualifying_parts"))
    )


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape on the reduced schema: above-average-balance
    customers with NO urgent order, profiled per market segment — a
    scalar aggregate subquery (broadcast one-row cross join) plus a
    left ANTI join against the urgent-order custkey set."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("abal")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("abal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned goods in one quarter, ranked
    by lost revenue — fact-fact join under a date-sliced filter, the
    nation dim broadcast, top 20 with a full deterministic tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name", "revenue",
        )
    )


def zorder_keys_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys under the hash gate (round 12;
    operators/zorder.py): two derived numeric columns per document,
    the broadcast min/max bounds, the IEEE-double quantization onto
    the 8-bit lattice, and the Morton bit interleave.  The oracle
    replays bounds, quantization (same multiply/divide/floor
    sequence), and every shift/mask term in SQL, so a drift anywhere
    in the layout key breaks the hash."""
    from riskloc_spark.operators.zorder import zorder_key

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 97).alias("x"),
        ((F.col("doc_id") * 7) % 89).alias("y"),
    )
    out = zorder_key(d, ["x", "y"], bits=8)
    return out.select("doc_id", "x", "y", F.col("__z").alias("z"))


def streaming_hll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming distinct-count registers under the
    hash gate (round 12; streaming/pipeline.hll_registers_stream):
    the events table arrives through an availableNow readStream and
    aggregates into per-event-type HLL registers in complete mode —
    state is the SKETCH (at most 2^12 rows per key), never the
    distinct user set.  The oracle replays every register in SQL, so
    streaming registers must equal batch registers exactly."""
    import os
    import uuid

    from riskloc_spark.streaming.pipeline import (
        events_stream,
        hll_registers_stream,
    )

    src = events_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_type", "user_id")
    regs = hll_registers_stream(src)
    name = "streaming_hll_" + uuid.uuid4().hex[:8]
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_hll: did not finish in 300s")
    q.stop()
    return spark.table(name)


def streaming_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming quantile registers under the hash gate
    (round 13; streaming/pipeline.quantile_registers_stream): the
    events table arrives through an availableNow readStream and
    aggregates into per-event-type bucketed-min sample registers in
    complete mode — state is the SAMPLE (at most k=128 rows per key),
    never the value multiset; a true bottom-k order statistic cannot
    run as a bounded streaming aggregation, which is why the
    bucketed-min variant exists (operators/quantiles.py).  The oracle
    replays every register in SQL (same seeded 60-bit id hash, same
    bucket split, same lexicographic (h, value) min), so streaming
    registers must equal batch registers exactly."""
    import os
    import uuid

    from riskloc_spark.streaming.pipeline import (
        events_stream,
        quantile_registers_stream,
    )

    src = events_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_type", "event_id", "value")
    regs = quantile_registers_stream(src, k=128)
    name = "streaming_quantiles_" + uuid.uuid4().hex[:8]
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_quantiles: did not finish in 300s")
    q.stop()
    return spark.table(name)


def streaming_cms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming frequency registers under the hash
    gate (round 13; streaming/pipeline.cms_registers_stream): the
    events table arrives through an availableNow readStream and
    aggregates into per-event-type Count-Min registers in complete
    mode — counts are additive, so the streaming aggregation must
    equal the batch sketch register-for-register; state is at most
    depth x width rows per key forever.  The oracle replays every
    register in SQL (same seeded 60-bit hash, same bucket mod, same
    exact sums)."""
    import os
    import uuid

    from riskloc_spark.streaming.pipeline import (
        cms_registers_stream,
        events_stream,
    )

    src = events_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_type", "user_id")
    regs = cms_registers_stream(src, width=512, depth=4)
    name = "streaming_cms_" + uuid.uuid4().hex[:8]
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_cms: did not finish in 300s")
    q.stop()
    return spark.table(name)


def streaming_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming membership filter under the hash gate
    (round 13; streaming/pipeline.bloom_positions_stream): the events
    table arrives through an availableNow readStream and aggregates
    into per-event-type Bloom set-bit tables in complete mode — the
    filter SATURATES at m_bits rows per key instead of tracking every
    distinct value like dropDuplicates state.  Streaming positions
    must equal the batch filter bit-for-bit; the oracle replays every
    seeded position in SQL.  Completes the bounded-state streaming
    sketch quartet (HLL / Count-Min / bucketed-min / Bloom)."""
    import os
    import uuid

    from riskloc_spark.streaming.pipeline import (
        bloom_positions_stream,
        events_stream,
    )

    src = events_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    ).select("event_type", "user_id")
    regs = bloom_positions_stream(src, m_bits=1 << 12, k=3)
    name = "streaming_bloom_" + uuid.uuid4().hex[:8]
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_bloom: did not finish in 300s")
    q.stop()
    return spark.table(name)


def bloom_membership_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership sketches under the hash gate (round 12;
    operators/bloom.py): per-event-type set-bit tables over user ids
    (4 seeded hash rows mod 2^16, distinct positions) probed with
    five fixed items including an id absent from the corpus.  The
    oracle replays every bit position and the all-k-positions-set
    membership rule (with the k-hash self-collision handled by
    counting DISTINCT required positions) in SQL."""
    from riskloc_spark.operators.bloom import bloom_build, bloom_probe

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    bloom = bloom_build(
        e, "user_id", key_cols=["event_type"], m_bits=1 << 16, k=4
    )
    items = local_rows_df(spark, 
        [("1",), ("7",), ("42",), ("31337",), ("no-such-user",)],
        "u string",
    )
    return bloom_probe(
        bloom, items, "u", key_cols=["event_type"],
        m_bits=1 << 16, k=4,
    )


def scd2_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change history under the hash gate (round 12;
    operators/temporal.scd2_history): the events feed as per-user
    attribute updates — same-instant ties resolved by the struct max,
    consecutive no-change updates collapsed, validity intervals
    chained by the lead, the open interval flagged current.  The
    oracle replays the tie-dedup, the change-collapse lag, and the
    interval lead in SQL window functions."""
    from riskloc_spark.operators.temporal import scd2_history

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    return scd2_history(e, ["user_id"], "ts", ["event_type"])


def events_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval-containment join under the hash gate
    (round 12; operators/temporal.interval_join): every purchase
    opens a [ts, ts + 90 min) window per user; all of that user's
    events inside the window pair with it.  The Spark side runs the
    bucket-explode equi-join (never BroadcastNestedLoop,
    plan-tested); the oracle is the PLAIN inequality join — the
    bucketed rewrite must reproduce exact containment, boundary
    exclusivity included."""
    from riskloc_spark.operators.temporal import interval_join

    e = load_table(spark, sf_dir, "events")
    pts = e.select("user_id", F.col("event_id").alias("pid"), "ts")
    ivs = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("iid"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("e"),
    )
    out = interval_join(
        pts, ivs, "ts", "s", "e", keys=["user_id"],
        bucket_seconds=3600,
    )
    return out.select("user_id", "pid", "iid")


def events_interval_join_hier_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical (multi-resolution) interval join under the hash
    gate (round 13; temporal.interval_join_hierarchical): every
    purchase opens a [ts, ts + 7 DAYS) window — the shape whose plain
    bucket explode fans 168 rows per interval at 1h buckets; the
    multi-level grid registers each interval at most TWICE at its own
    level while points probe one bucket per level.  The oracle is the
    PLAIN inequality join again — the rewrite must reproduce exact
    containment regardless of level assignment."""
    from riskloc_spark.operators.temporal import (
        interval_join_hierarchical,
    )

    e = load_table(spark, sf_dir, "events")
    pts = e.select("user_id", F.col("event_id").alias("pid"), "ts")
    ivs = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("iid"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("e"),
    )
    out = interval_join_hierarchical(
        pts, ivs, "ts", "s", "e", keys=["user_id"],
        base_bucket_seconds=3600, levels=12,
    )
    return out.select("user_id", "pid", "iid")


def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sampling under the hash gate (round 12;
    operators/sampling.weighted_sample_topk): 20 documents per source
    drawn without replacement proportionally to n_chars, in the
    md5-replayable hash family.  The oracle replays the uniform draw
    ((pmod + 1) / (grain + 1)), the exponential-race key ln(u)/w, and
    the rank with the doc_id tiebreak, so a drift in the draw, the
    key, or the selection order breaks the hash."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import weighted_sample_topk

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return weighted_sample_topk(
        d, 20, "n_chars", key_cols=["source"], salt="es",
        hash_fn=md5_hash64,
    )


def length_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantiles under the hash gate (round 12;
    functions/stats.histogram_quantiles): per-source n_chars
    quantiles at four fractions, resolution 1 — the no-global-sort
    percentile shape (lattice histogram + integer cumulative cuts).
    The oracle replays the lattice, the cumulative window, and the
    ceil(q*n) threshold with the SAME double fractions (a DECIMAL q
    would ceil differently on exact boundaries), so a drift in the
    lattice or the cut rule breaks the hash."""
    from riskloc_spark.functions.stats import histogram_quantiles

    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    )
    return histogram_quantiles(
        d, "n_chars", [0.25, 0.5, 0.9, 0.99], key_cols=["source"]
    )


def quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k quantile sketch under the hash gate (round 13;
    operators/quantiles.py): per-language n_chars quantiles from a
    k=256 hash-threshold sample — build (WindowGroupLimit bottom-k on
    the seeded doc_id hash), then the Type-1 ceil(q*s) pick over the
    sample.  The oracle replays the sample membership row-for-row
    (same 60-bit md5 of doc_id:salt, same (h, value) order, same
    rank cut) and the same epsilon-guarded ceil(q*s - 1e-9) rank
    arithmetic, so a drift in the hash, the bottom-k rule, or the
    estimator breaks the hash."""
    from riskloc_spark.operators.quantiles import (
        quantile_estimate,
        quantile_sketch,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    sk = quantile_sketch(
        d, "n_chars", "doc_id", key_cols=["lang"], k=256, salt=0
    )
    return quantile_estimate(
        sk, [0.25, 0.5, 0.9, 0.99], key_cols=["lang"]
    )


def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter DISCOVERY under the hash gate (round 13;
    operators/cms.heavy_hitters): top-15 users per event type from
    the bottom-1024 candidate sample composed with the Count-Min
    estimate — the sketch tier answering "WHO are the heavy hitters",
    not just "how often is X".  The oracle replays the candidate
    sample membership (seeded event_id hash, WindowGroupLimit rank),
    every CMS register, the min-with-absent-counts-zero lookup, and
    the est-desc/item-asc rank, so a drift anywhere in the
    composition breaks the hash."""
    from riskloc_spark.operators.cms import heavy_hitters

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    return heavy_hitters(
        e, "user_id", "event_id", key_cols=["event_type"],
        top_k=15, sample_k=1024, width=1024, depth=4, salt=0,
    )


def cms_term_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketches under the hash gate (round 12;
    operators/cms.py): per-source term-frequency registers (4 seeded
    hash rows x 1024 buckets, exact BIGINT counts) probed with six
    fixed terms including one absent from the corpus.  The oracle
    replays every register (same seeded 60-bit hash, same modulo
    bucketing, same row-min with the absent-register-counts-zero
    rule) in SQL, so a drift in seeding, bucketing, merging, or the
    lookup min breaks the hash."""
    from riskloc_spark.functions.text import WS_CLASS
    from riskloc_spark.operators.cms import cms_lookup, cms_sketch

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), WS_CLASS + "+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    sk = cms_sketch(
        toks, "term", key_cols=["source"], width=1024, depth=4
    )
    items = local_rows_df(spark, 
        [("the",), ("spark",), ("merge",), ("batch",), ("join",),
         ("zzz-absent",)],
        "t string",
    )
    return cms_lookup(
        sk, items, "t", key_cols=["source"], width=1024, depth=4
    )


_BM25_QUERIES = [
    (0, "spark sql engine"),
    (1, "table scan merge"),
    (2, "slow query filter join"),
]


def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval under the hash gate (round 12;
    operators/retrieval.py): three fixed corpus-vocabulary queries
    against the documents table — posting build, document-frequency
    idf, length-normalized tf saturation, score-desc/doc-id-asc
    ranking.  The oracle replays the whole scoring pipeline in SQL
    (same tokenization, same non-negative idf, same k1/b), so a drift
    in any stage or in the rank tiebreak breaks the hash."""
    from riskloc_spark.operators.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qs = local_rows_df(spark, 
        _BM25_QUERIES, "query_id long, query string"
    )
    return bm25_topk(d, qs, topk=10)


def hll_user_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketches under the hash gate (round
    12; operators/sketches.py): per event type, the register build
    (portable 60-bit md5 hash, integer bucket/rank slicing), the
    exact-BIGINT register sum, the zero count, and the estimate with
    its linear-counting branch.  The oracle replays every register in
    SQL (same hash, same binary-length rank, same shifted-integer
    sum), so a drift in the hash slicing, the max-merge, or the
    estimator arithmetic breaks the hash."""
    from riskloc_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    sk = hll_sketch(e, "user_id", key_cols=["event_type"], p=12)
    return hll_estimate(sk, key_cols=["event_type"], p=12)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape on the reduced schema: a target supplier
    nation's share of PROMO-part volume sold into the ASIA region, by
    order year — the conditional-numerator-over-total-denominator
    aggregate (two sums of the same join, one CASE-guarded) on a
    six-way join with two broadcast dims chained region<-nation."""
    t = {n: load_table(spark, sf_dir, n) for n in (
        "part", "lineitem", "orders", "customer", "supplier",
        "nation", "region")}
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["part"].filter(F.col("p_type") == "PROMO")
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(t["region"]),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate")
               >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("s_nationkey") == 7, vol).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape on the reduced schema (no partsupp table, so
    supply cost is the deterministic p_retailprice * quantity / 10):
    profit per supplier nation per order year over parts named
    '%rod%' — the LIKE-filtered five-way join with a two-term profit
    expression mixing fact and dim columns."""
    t = {n: load_table(spark, sf_dir, n) for n in (
        "part", "lineitem", "orders", "supplier", "nation")}
    # profit in 1e-4 currency units, rounded PER ROW to the integer it
    # mathematically is (prices have 2dp, discount 2dp): integer sums
    # are exact in doubles, so the two engines can never disagree at a
    # rounding boundary (a round-2 double sum here flaked: terms have
    # 1e-4 resolution, so group sums land exactly on half-cent
    # boundaries where ulp-level sum order decides the direction)
    profit_em4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        - F.col("p_retailprice") * F.col("l_quantity") * 1000,
        0,
    ).cast("long")
    return (
        t["part"].filter(F.col("p_name").contains("rod"))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit_em4).alias("sum_profit_em4"))
    )


def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape on the reduced schema (no l_shipmode /
    commit/receipt dates): lines shipped 60+ days after their order
    date during 1996-1997, bucketed by return flag, counting
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders — the
    two-CASE-sum aggregate over a date-arithmetic join predicate.

    The predicate runs at DATE granularity (to_date + date_add) on
    purpose: the timestamps load as timestamp_ntz, and comparing ntz
    against a string-cast TIMESTAMP literal coerces through the
    session timezone — a seam that can flip midnight-exact boundary
    rows between engines under a non-UTC driver TZ.  Dates have no
    zone in either engine, so this form is bit-stable anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ship = F.to_date("l_shipdate")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (ship >= F.date_add(F.to_date("o_orderdate"), 60))
            & (ship >= F.lit("1996-01-01").cast("date"))
            & (ship < F.lit("1998-01-01").cast("date"))
        )
        .groupBy("l_returnflag")
        .agg(
            # when/otherwise (not bool casts): mirrors SQL CASE
            # exactly — a NULL priority lands in the ELSE branch on
            # both engines instead of vanishing from the Spark sum
            F.sum(
                F.when(hi, F.lit(1)).otherwise(0).cast("long")
            ).alias("high_line_count"),
            F.sum(
                F.when(hi, F.lit(0)).otherwise(1).cast("long")
            ).alias("low_line_count"),
        )
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape on the reduced schema: suppliers from nation 3
    whose line shipped 90+ days late on a multi-supplier order where
    they were the ONLY late supplier — the exists/not-exists double
    correlation, expressed as one per-order aggregate (distinct
    suppliers, distinct LATE suppliers) re-joined to the late lines
    instead of two correlated self-scans.

    DATE-granularity lateness predicate for the same reason as
    q12_late_priority: to_date + date_add is timezone-free in both
    engines, timestamp-interval arithmetic is not."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        F.to_date("l_shipdate")
        > F.date_add(F.to_date("o_orderdate"), 90)
    )
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("nlate"),
    )
    return (
        lo.filter(F.col("late"))
        .join(
            per_order.filter(
                (F.col("nsupp") >= 2) & (F.col("nlate") == 1)
            ),
            "l_orderkey",
        )
        .join(
            s.filter(F.col("s_nationkey") == 3),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum quarterly revenue — the
    view-over-aggregate shape: a revenue CTE consumed twice (once for
    its global max, once for the equality filter), which Spark
    deduplicates via exchange reuse; the one-row max broadcasts."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders of one brand —
    the correlated scalar subquery (per-part average quantity) as a
    grouped aggregate joined back to the fact, the classic decorrelated
    plan Catalyst produces for the SQL form."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    avg_q = l.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_brand") == "Brand#1")
        .join(avg_q, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly")
        )
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape on the reduced schema (no p_container — size
    bands stand in): revenue from three OR'd brand/size/quantity
    windows — the disjunctive multi-attribute predicate Catalyst must
    keep as one pass over the join, with the shared conjuncts
    (quantity bounds) pushed to the lineitem scan."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 15))
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & (F.col("p_size").between(11, 25))
            & (F.col("l_quantity").between(10, 25))
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("p_size").between(26, 50))
            & (F.col("l_quantity").between(20, 35))
        )
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.hour("ts").cast("int").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def rca_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rca_events(spark, sf_dir).select(
        "event_type",
        "hr",
        "ub",
        F.round("real", 6).alias("real"),
        F.round("predict", 6).alias("predict"),
    )


def rca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import reuse_checkpoint

    # EP's global-totals subquery + the output pass each re-derive the
    # events aggregation otherwise — checkpoint the (leaf-bounded) frame
    df = reuse_checkpoint(rca_events(spark, sf_dir))
    df = add_explanatory_power(df)
    df = add_deviation_score(df)
    return df.select(
        "event_type",
        "hr",
        "ub",
        F.round("ep", 6).alias("ep"),
        F.round("deviation", 6).alias("deviation"),
    )


def rca_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import reuse_checkpoint

    # get_cutoff's TakeOrdered action and the output pass each re-derive
    # the events aggregation otherwise — checkpoint the leaf-bounded frame
    df = reuse_checkpoint(add_deviation_score(rca_events(spark, sf_dir)))
    cutoff = get_cutoff(df, n_remove=5)
    df = add_weight(add_partition(df, cutoff), cutoff)
    return df.select(
        "event_type",
        "hr",
        "ub",
        F.round("deviation", 6).alias("deviation"),
        F.col("partition").cast("int").alias("part"),
        F.round("weight", 6).alias("weight"),
    )


def adtributor_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.adtributor import _scored_elements

    df = rca_events(spark, sf_dir)
    # same merge -> EP + surprise chain, through the operator's
    # checkpointed element frame: the shared scalar-total subquery
    # re-derived the merge and the events aggregation otherwise
    el = _scored_elements(df, RCA_ATTRIBUTES, derived=False)
    return el.select(
        "dimension",
        "element",
        F.round("ep", 6).alias("ep"),
        F.round("surprise", 6).alias("surprise"),
    )


def adtributor_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    picked = adtributor_candidates(df, RCA_ATTRIBUTES, teep=0.05, tep=0.1)
    return picked.select(
        "dimension",
        "element",
        F.round("ep", 6).alias("ep"),
        F.round("surprise", 6).alias("surprise"),
    )


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    # two-stage select: token split / punct regex computed ONCE per row;
    # quality/lang are cheap CASE arithmetic over the stats columns
    # (Catalyst keeps the stage split because the split expressions are
    # non-cheap and multiply referenced)
    base = d.select(
        "doc_id",
        T.token_count(txt).cast("int").alias("n_tokens"),
        T.punct_ratio(txt).alias("__punct"),
        T.stopword_ratio(txt).alias("__stop"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round("__punct", 6).alias("punct_ratio"),
        F.round("__stop", 6).alias("stopword_ratio"),
        F.round(
            T.quality_score_from(
                F.col("n_tokens"), F.col("__punct"), F.col("__stop")
            ),
            2,
        ).alias("quality"),
        T.lang_id_from(F.col("__stop")).alias("lang_pred"),
    )


def lang_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    base = d.select(
        "source",
        T.token_count(txt).cast("int").alias("n_tokens"),
        T.punct_ratio(txt).alias("__punct"),
        T.stopword_ratio(txt).alias("__stop"),
    )
    stats = base.select(
        "source",
        "n_tokens",
        T.quality_score_from(
            F.col("n_tokens"), F.col("__punct"), F.col("__stop")
        ).alias("quality"),
        T.lang_id_from(F.col("__stop")).alias("lang_pred"),
    )
    return (
        stats.filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.7))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
    )


def corpus_curate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation pipeline (curate_corpus: shared-stat
    projection -> quality >= 0.5 -> lang == 'en' -> exact dedup keeping
    the lowest doc_id per normalized text) under the gate — the
    composed decision surface, not just its parts."""
    from riskloc_spark.operators.corpus import curate_corpus

    d = load_table(spark, sf_dir, "documents")
    out = curate_corpus(d, min_quality=0.5, lang="en")
    return out.select(
        "doc_id", "source",
        F.round("quality", 6).alias("quality"), "lang_pred",
    )


def corpus_curate_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-dup curation pipeline end-to-end under the gate:
    quality/language filters -> MinHash+LSH pairs over the survivors ->
    connected-components group closure -> one representative per group.
    The DuckDB twin chains the curation CTE into the parameterized
    minhash twin (_minhash_pairs_sql(src='kept')) and the recursive-CTE
    closure — the composed pipeline, filters feeding the pair graph."""
    from riskloc_spark.operators.corpus import curate_corpus_near_dup
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents")
    out = curate_corpus_near_dup(
        d, min_quality=0.5, lang="en", jaccard_threshold=0.5,
        hash_fn=md5_hash64,
    )
    return out.select(
        "doc_id", "source",
        F.round("quality", 6).alias("quality"), "lang_pred",
    )


def corpus_curate_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEMANTIC curation pipeline end-to-end under the gate (round
    9): quality/language filters -> unit-normalize survivor embeddings
    -> coarse cells + PQ codes (data-driven seed quantizers: the
    normalized first-16/first-8 embeddings by vec_id, so the DuckDB
    twin derives identical quantizers from the view — same carve-out
    as knn_pq/knn_ivfpq; the k-means fit is covered by the recall unit
    tests) -> co-cell pairs -> SDC code-lookup pre-filter -> exact
    cosine >= 0.4 -> connected-components closure -> one
    representative per group. Documents and embeddings align 1:1 by
    id. The SDC threshold sits 0.29 above the largest true-pair SDC at
    sf0.1 (measured), so the cross-engine float seam cannot flip an
    output row."""
    import numpy as np

    from riskloc_spark.operators.corpus import curate_corpus_semantic

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.select("embedding", "vec_id").orderBy("vec_id").limit(16).collect()
    )
    seeds = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    # sequential 64-element sums: bit-identical to the JVM fold and the
    # oracle's list_dot_product
    seeds = seeds / np.sqrt((seeds * seeds).sum(axis=1, keepdims=True))
    cb = seeds[:8].reshape(8, 8, 8).transpose(1, 0, 2)
    out = curate_corpus_semantic(
        d, emb, min_quality=0.5, lang="en", cos_threshold=0.4,
        centroids=seeds, codebooks=cb,
    )
    return out.select(
        "doc_id", "source",
        F.round("quality", 6).alias("quality"), "lang_pred",
    )


def corpus_sample_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash_split under the gate (round 9): the reproducible
    train/val/test assignment — every document labeled by its
    consecutive hash-range bucket (75/15/10, portable md5 family, salt
    'split'), disjoint + exhaustive by construction. The oracle
    replays the 60-bit md5 hash, the modulus and the exact boundary
    integers (750000 / 900000 — see sampling.split_bounds)."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    out = hash_split(
        d, {"train": 75, "val": 15, "test": 10},
        salt="split", hash_fn=md5_hash64,
    )
    return out.select("doc_id", "split")


def corpus_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shuffle_and_shard under the gate (round 11): the deterministic
    global shuffle + shard assignment of training export — shard =
    hash(id:salt) mod 8, pos = dense per-shard rank by an independent
    hash then id.  The oracle replays the md5 hash family, the
    modulus, and the window rank, so the full (shard, pos) permutation
    is hash-pinned — re-runs, repartitions and other engines must
    produce the identical permutation."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import shuffle_and_shard

    d = load_table(spark, sf_dir, "documents")
    out = shuffle_and_shard(d, 8, salt="shard", hash_fn=md5_hash64)
    return out.select("doc_id", "shard", "pos")


def corpus_sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stratified_sample under the gate (round 9): the mixture-weights
    operator — per-source keep rates (src0 1.0 / src1 0.5 / src2 0.25,
    default 0.05) decided by the same pure (id, salt) hash rule, so
    membership is reproducible and nested in the rate. Every kept
    (doc_id, source) row compared."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "source",
        salt="mix", default_fraction=0.05, hash_fn=md5_hash64,
    )
    return out.select("doc_id", "source")


def decontamination_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contamination_stats under the gate (round 9): benchmark
    decontamination — every document's distinct word-4-gram overlap
    against a benchmark drawn from the corpus itself (doc_id % 17 ==
    0: those docs audit at contamination 1.0, docs sharing phrases
    audit partially, the rest 0 — at sf0.01 that's 31 full / 37
    partial / 432 clean, so the gate exercises all three regimes).
    The production xxhash64 gram path runs on the Spark side; the
    oracle joins on the gram STRINGS (same carve-out as dedup_exact:
    a 64-bit collision is the only way they can differ). n=4 here
    because the synthetic corpus has no 8-gram collisions between
    distinct docs; production default stays n=8."""
    from riskloc_spark.operators.decontamination import contamination_stats

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    out = contamination_stats(d, bench, n=4)
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round("contamination", 6).alias("contamination"),
    )


def bloom_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-scale two-phase decontamination under the hash gate
    (round 13; decontamination.bloom_contamination_stats): the same
    audit as `decontamination_audit` but through the Bloom pipeline —
    archive gram hashes build a bounded bit table, corpus grams probe
    it through k broadcast joins (never an archive-vocabulary
    broadcast), maybe-hits are exactly re-verified against a second
    archive scan.  The ORACLE IS THE EXACT AUDIT SQL: no false
    negatives + exact re-verification means the two-phase result must
    equal the one-phase result bit-for-bit — the strongest possible
    gate for the composition (a single surviving false positive or a
    lost true match breaks the hash)."""
    from riskloc_spark.operators.decontamination import (
        bloom_contamination_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    arch = d.filter(F.col("doc_id") % 17 == 0)
    out = bloom_contamination_stats(d, arch, n=4, m_bits=1 << 18, k=4)
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round("contamination", 6).alias("contamination"),
    )


def decontamination_near_dup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FUZZY-level benchmark decontamination under the hash gate
    (round 14; decontamination.near_dup_contamination_stats): the
    MinHash-LSH machinery pointed at a benchmark — catches
    paraphrased/reformatted eval leakage that exact n-gram audits
    miss.  The benchmark is a deterministic paraphrase of every 23rd
    document (id-offset twin with an appended suffix — near-dup but
    not exact, so the exact path under-reports it while the fuzzy
    path must flag it), and the output is the COMPLETE per-document
    audit: match count, best estimated Jaccard, best benchmark id
    (max-est/min-id tiebreak).  md5-portable hashes: the oracle
    replays signatures, bands, the corpus x benchmark candidate
    join, the threshold, and the arg-max tiebreak."""
    from riskloc_spark.operators.decontamination import (
        near_dup_contamination_stats,
    )
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    bench = d.filter(F.col("doc_id") % 23 == 7).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz bench suffix")).alias(
            "text"
        ),
    )
    out = near_dup_contamination_stats(
        d, bench, jaccard_threshold=0.5, hash_fn=md5_hash64
    )
    return out.select(
        "doc_id",
        "n_bench_matches",
        F.round("max_est_jaccard", 6).alias("max_est_jaccard"),
        "bench_id",
    )


def decontamination_semantic_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC benchmark decontamination under the hash gate
    (round 14; decontamination.semantic_contamination_stats): the
    embedding tier of the decontamination suite — every corpus
    vector audited for cosine >= 0.8 against a benchmark built from
    every 37th vector (id-offset twins, so each planted source must
    flag itself at cos 1.0 plus any natural high-cos neighbors).
    EXACT broadcast audit (the honest baseline; the IVF-pruned scale
    path is property-tested against it).  The oracle replays the
    double-math dot products, the threshold, the match count, and
    the max-cos/min-id arg-max bit-for-bit."""
    from riskloc_spark.operators.decontamination import (
        semantic_contamination_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 37 == 5).select(
        (F.col("vec_id") + 10000000).alias("vec_id"), "embedding"
    )
    out = semantic_contamination_stats(emb, bench, cos_threshold=0.8)
    return out.select(
        "vec_id",
        "n_bench_matches",
        F.round("max_cos", 6).alias("max_cos"),
        "bench_id",
    )


def data_expectations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations under the hash gate
    (round 14; operators/expectations.validate_expectations): five
    invariants over the events table — id non-null + unique, a
    deliberately-too-small event-type domain and value range (so the
    gate exercises NONZERO violation counts), user non-null — all
    counted in ONE scan.  The oracle replays every rule's CASE sum,
    the unique-extras count, and the rate division, with the
    CAST(... AS BIGINT) dtype discipline on the counts."""
    from riskloc_spark.operators.expectations import (
        validate_expectations,
    )

    e = load_table(spark, sf_dir, "events")
    rules = [
        {"col": "event_id", "kind": "not_null"},
        {"col": "event_id", "kind": "unique"},
        {"col": "event_type", "kind": "in_set",
         "values": ["view", "click", "purchase", "signup"]},
        {"col": "value", "kind": "range", "min": 0, "max": 100},
        {"col": "user_id", "kind": "not_null"},
    ]
    out = validate_expectations(e, rules)
    return out.select(
        "rule", "col", "kind", "n_rows", "n_violations",
        F.round("violation_rate", 6).alias("violation_rate"),
    )


def streaming_expectations_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming data-quality expectations under the hash gate
    (round 14; streaming/pipeline.expectations_stream): the
    data_expectations audit (minus the unique rule — unbounded
    streaming state, refused by contract) as a complete-mode global
    aggregation over the events file read as a stream — state is ONE
    row of rule counters forever.  The oracle is the batch audit SQL
    for the same four rules: streaming == batch is the property
    under the hash."""
    import os
    import tempfile
    import uuid

    from riskloc_spark.streaming.pipeline import (
        events_stream,
        expectations_stream,
    )

    batch = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="sexpect_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = events_stream(spark, stage)
    rules = [
        {"col": "event_id", "kind": "not_null"},
        {"col": "event_type", "kind": "in_set",
         "values": ["view", "click", "purchase", "signup"]},
        {"col": "value", "kind": "range", "min": 0, "max": 100},
        {"col": "user_id", "kind": "not_null"},
    ]
    out = expectations_stream(stream, rules).select(
        "rule", "col", "kind", "n_rows", "n_violations",
        F.round("violation_rate", 6).alias("violation_rate"),
    )
    name = "streaming_expectations_" + uuid.uuid4().hex[:8]
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_expectations: run did not finish in 300s"
            )
        q.stop()
    finally:
        # the memory sink is materialized once the query terminates;
        # repeated gate runs must not leak staging dirs
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


def cms_join_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation under the hash gate
    (round 14; cms.cms_join_size — the Cormode-Muthukrishnan inner
    product): per event type, the register-only estimate of the
    user_id SELF-join cardinality (sum of per-user count squares) —
    the "will this join explode" planning diagnostic computed from
    KB-sized artifacts without scanning the table.  md5-portable
    registers; the oracle replays every register, the per-row dot
    products, and the min, with the outer CAST(... AS BIGINT)
    dtype discipline on the summed estimate."""
    from riskloc_spark.operators.cms import cms_join_size, cms_sketch
    from riskloc_spark.operators.dedup import md5_hash64

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    sk = cms_sketch(
        e, "user_id", key_cols=["event_type"], width=1024, depth=4,
        hash_fn=md5_hash64,
    )
    return cms_join_size(sk, sk, key_cols=["event_type"], depth=4)


def events_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution under the hash gate (round 14;
    temporal.attribution): every purchase's first/last preceding
    touch within a 7-day lookback plus the touch count — conversions
    with no touch appear with NULLs/0 (the instrumentation-gap
    number).  The Spark side routes through the bucketed interval
    equi-join (backward windows, user-keyed — no BNLJ); the oracle
    is the PLAIN inequality join with window-rank first/last picks,
    so the bucketing must be exactly containment-neutral."""
    from riskloc_spark.operators.temporal import attribution

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return attribution(e, "purchase", window_days=7.0)


def corpus_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff under the hash gate (round 14;
    corpus.corpus_diff): old = the documents table; new = a
    deterministic mutation (every 13th-congruent-1 doc dropped,
    every 7th-congruent-4 doc's text edited, a block of fresh ids
    added) — the per-document added/removed/changed/unchanged status
    a versioned ingest publishes.  Fingerprints compare the
    whitespace-normalized case-folded text; the oracle compares the
    normalized STRINGS directly (the hash-collision carve-out), so
    the status algebra itself is what's under the hash."""
    from riskloc_spark.operators.corpus import corpus_diff

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    new = (
        d.filter(F.col("doc_id") % 13 != 1)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 4,
                F.concat(F.col("text"), F.lit(" edited")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 2).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(d, new)


def quality_percentile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-relative quality filtering under the hash gate
    (round 14; corpus.quality_percentile_filter): keep each
    language's documents clearing that language's 0.6-quantile of
    the heuristic quality score — cutoffs from the bottom-k quantile
    sketch (k=256, md5-portable), never a global sort.  The oracle
    replays the score algebra, the sketch membership row-for-row,
    the epsilon-guarded Type-1 rank pick, and the per-group keep
    rule."""
    from riskloc_spark.operators.corpus import quality_percentile_filter
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    out = quality_percentile_filter(
        d, q=0.6, key_cols=("lang",), k=256, salt=0,
        hash_fn=md5_hash64,
    )
    return out.select(
        "doc_id",
        "lang",
        F.round("quality", 6).alias("quality"),
        F.round("quality_cutoff", 6).alias("quality_cutoff"),
    )


def decontamination_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination under the hash gate (round 14;
    decontamination.excise_contaminated_spans): the benchmark is the
    shared slogan the span-dedup corpus plants on every 10th document
    — the excision must cut exactly the slogan's token windows from
    the carriers (rebuilt text, token counts, merged-span counts all
    under the hash), leave the promo tail and every clean document
    untouched, and never drop a document.  The oracle replays the
    position grams and the interval rebuild by gram STRING (the
    xxhash64 carve-out), independent machinery from the Spark side's
    in-row hash probe."""
    from riskloc_spark.operators.decontamination import (
        excise_contaminated_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = local_rows_df(spark, 
        [(0, _SPAN_SLOGAN)], "doc_id long, text string"
    )
    out = excise_contaminated_spans(_span_framed(d), bench, n=8)
    return out.select(
        "doc_id", "text", "n_tokens", "n_tokens_removed",
        "n_contaminated_grams", "n_spans",
    )


def benchmark_exposure_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse (eval-side) contamination audit under the hash gate
    (round 14; decontamination.benchmark_exposure_stats): per
    benchmark item — built as every 17th document's text plus a
    novel suffix, so the copied body is fully exposed while the
    suffix grams are not — the distinct-gram exposure fraction and
    the count of corpus documents sharing at least one gram.  The
    oracle replays the gram sets, the matched (gram, corpus doc)
    pairs, and both aggregations on gram STRINGS (the xxhash64
    collision carve-out, as in decontamination_audit)."""
    from riskloc_spark.operators.decontamination import (
        benchmark_exposure_stats,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww ee rr")).alias("text"),
    )
    out = benchmark_exposure_stats(d, bench, n=4)
    return out.select(
        "bench_id",
        "n_ngrams",
        "n_exposed",
        F.round("exposure", 6).alias("exposure"),
        "n_corpus_docs",
    )


def streaming_decontamination_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING benchmark decontamination under the hash gate
    (round 14; streaming/pipeline.contamination_stream): the n-gram
    contamination audit as an append-mode + watermark stream — the
    bounded-state form of `decontamination_audit` (same benchmark:
    doc_id % 17 == 0, same n=4, same output columns).  Documents get
    synthesized event times inside one 2-hour window; two far-future
    carrier files (1h apart, inside each other's horizon) advance
    the watermark past every real document, so the emitted set is
    EXACTLY the full corpus — one row per doc, finalized once — and
    the oracle is the BATCH audit SQL verbatim.  The stream side:
    in-row distinct grams (no cross-row dedup state), stream-static
    broadcast gram probe (stateless), one watermark-bounded
    counting aggregation."""
    import os
    import shutil
    import tempfile
    import uuid

    from riskloc_spark.operators.decontamination import (
        benchmark_gram_set,
    )
    from riskloc_spark.streaming.pipeline import contamination_stream

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = 1_714_500_000  # fixed epoch anchor
    staged_docs = d.select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(base) + (F.col("doc_id") % 120) * 60
        ).alias("ts"),
        "text",
    )
    # JVM-side one-row frames (spark.range), NOT createDataFrame: a
    # Python-parallelized local relation splits into defaultParallelism
    # pickled slices, and the staging coalesce(1) task then pays one
    # SERIAL Python-worker round trip per slice — measured ~6s per
    # carrier write on local[32] vs 0.3s for the range form
    def _carrier(doc_id: int, text: str, ts_s: int):
        return spark.range(1).select(
            F.lit(doc_id).cast("long").alias("doc_id"),
            F.timestamp_seconds(F.lit(ts_s)).alias("ts"),
            F.lit(text).alias("text"),
        )

    carrier1 = _carrier(-1, "carrier one text", base + 2 * 86400)
    carrier2 = _carrier(-2, "carrier two text", base + 2 * 86400 + 3600)

    stage = tempfile.mkdtemp(prefix="sdecon_")
    try:
        stream_dir = os.path.join(stage, "stream")
        os.makedirs(stream_dir)
        for name, frame, mtime in (
            ("a.parquet", staged_docs, 1_000_000),
            ("b.parquet", carrier1, 1_000_100),
            ("c.parquet", carrier2, 1_000_200),
        ):
            out_dir = os.path.join(stage, name + ".dir")
            frame.coalesce(1).write.mode("overwrite").parquet(out_dir)
            part = [
                f for f in os.listdir(out_dir) if f.startswith("part-")
            ][0]
            dst = os.path.join(stream_dir, name)
            shutil.move(os.path.join(out_dir, part), dst)
            os.utime(dst, (mtime, mtime))

        from riskloc_spark.operators.dedup import reuse_checkpoint

        # the static side of a stream-static join is re-executed on
        # EVERY micro-batch — without the checkpoint each batch
        # re-scans documents, re-shingles the benchmark and rebuilds
        # the broadcast (3x the gram-set build in the r14 record)
        bg = reuse_checkpoint(
            benchmark_gram_set(d.filter(F.col("doc_id") % 17 == 0), n=4)
        )
        # two batches, not three: batch 1 = {docs, carrier1} (the
        # carrier's 3-token text has no 4-grams — explode of the empty
        # gram array drops it, so it can share the docs batch without
        # touching the output), batch 2 = {carrier2} arrives with the
        # watermark already past every document window and flushes the
        # full audit.  Emitted set is IDENTICAL to the 3-batch ladder
        # (oracle-replayed); one whole micro-batch lifecycle saved.
        stream = (
            spark.readStream.schema(
                "doc_id long, ts timestamp, text string"
            )
            .option("maxFilesPerTrigger", "2")
            .parquet(stream_dir)
        )
        out = contamination_stream(stream, bg, n=4, watermark="2 hours")
        qname = "streaming_decontamination_" + uuid.uuid4().hex[:8]
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            raise TimeoutError(
                "streaming_decontamination: availableNow run did not "
                "finish in 300s — emitted doc set would be truncated"
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(qname).select(
        "doc_id",
        "n_ngrams",
        "n_matched",
        F.round("contamination", 6).alias("contamination"),
    )


def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix under the hash gate (round 13;
    temporal.retention_cohorts): users bucketed by the week of their
    first event, distinct-counted in every week they return, as a
    fraction of the cohort.  DATE-granularity week buckets (to_date +
    datediff — the q12 timezone discipline; an epoch-microsecond
    bucket would shift under a non-UTC session).  The oracle replays
    the first-seen min, the user-period dedup, both aggregations, and
    the 6dp rounding in SQL."""
    from riskloc_spark.operators.temporal import retention_cohorts

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return retention_cohorts(e, period_days=7)


def fuzzy_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key join under the hash gate (round 13;
    operators/fuzzy.fuzzy_join): an 800-key identifier vocabulary
    built from the corpus (alpha term x doc-bucket suffix — the
    vendor-code / handle shape fuzzy joins exist for), each key
    typo'd by deleting its middle character, matched back at
    Levenshtein distance <= 1 through the deletion-neighborhood
    blocked equi-join.  The oracle is the BRUTE-FORCE levenshtein
    cross join — the blocking must be complete (a missed pair or a
    phantom candidate surviving the verify breaks the hash)."""
    from riskloc_spark.functions.text import WS_CLASS
    from riskloc_spark.operators.fuzzy import fuzzy_join

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.filter(F.trim(F.col("text")) != "")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), WS_CLASS + "+")
            ).alias("w"),
            (F.col("doc_id") % 50).alias("b"),
        )
        .filter(F.col("w").rlike("^[a-z]{4,12}$"))
        .select(
            F.concat(F.col("w"), F.lit("-"), F.col("b").cast("string"))
            .alias("k")
        )
        .distinct()
        .orderBy("k")
        .limit(800)
    )
    # delete the middle character (1-based position floor(len/2)+1)
    typos = vocab.select(
        F.concat(
            F.expr("substr(k, 1, CAST(floor(length(k)/2) AS INT))"),
            F.expr(
                "substr(k, CAST(floor(length(k)/2) AS INT) + 2)"
            ),
        ).alias("k")
    ).distinct()
    return fuzzy_join(typos, vocab, "k", max_distance=1)


def cdc_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE under the hash gate (round 13; temporal.cdc_apply):
    the customer table as the snapshot (priority 'NONE', balance
    cents), the orders stream as the change feed (o_orderkey as the
    monotone change sequence; 'F' status deletes the customer,
    otherwise upserts priority + total cents), applied in one
    WindowGroupLimit winner pick + one full-outer join.  The oracle
    replays the latest-change window and the three merge cases
    (update / delete / untouched) in SQL."""
    from riskloc_spark.operators.temporal import cdc_apply

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.lit("NONE").alias("pri"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long")
        .alias("total_em2"),
    )
    ch = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("ts"),
        F.when(F.col("o_orderstatus") == "F", "delete")
        .otherwise("upsert").alias("op"),
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("total_em2"),
    )
    return cdc_apply(c, ch, ["k"], "ts", ["pri", "total_em2"])


def bpe_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bpe_token_counts under the hash gate (round 9): the real merge
    machinery — JVM pre-tokenization, lowest-rank-pair iteration,
    merge-all-per-round rewrite — under a FIXED two-chain merge table
    ((t,h)->(th,e) and (i,n)->(in,g)). For that table the token count
    has a closed form the oracle recomputes from the RAW text: base
    symbols are the characters (the piece regex is exhaustive), each
    non-overlapping 'th'/'in' occurrence saves one symbol and each
    'the'/'ing' one more — the chains are over disjoint letters so the
    savings are additive, and letter merges cannot cross piece
    boundaries because a letter run IS a piece (the corpus has no
    contraction apostrophes, the one splitter of adjacent letters —
    verified at all three scales; the theorem itself is
    property-tested in tests/test_bpe.py). The LEARNED-table path is
    covered by the fit/encode parity and determinism tests — same
    carve-out as the k-means quantizers."""
    from riskloc_spark.functions.bpe import bpe_token_counts

    d = load_table(spark, sf_dir, "documents")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    return bpe_token_counts(d, merges)


def corpus_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_documents under the hash gate (round 9): deterministic
    sequence packing — whitespace token counts (the token_stats
    formula), md5 hash routing to 8 buckets, next-fit in id order at a
    120-token budget. Every (doc_id, bucket, seq_id, seq_tokens) row
    compared; the oracle replays the routing hash and the sequential
    next-fit fold as a per-bucket recursive CTE."""
    from riskloc_spark.functions.text import token_count
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.packing import pack_documents

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_documents(
        counted, max_tokens=120, n_buckets=8, hash_fn=md5_hash64
    )


def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id")


def _boilerplate_framed(d: DataFrame) -> DataFrame:
    """The synthetic paragraph corpus for the paragraph-dedup gates: the
    test documents have no blank lines, so frame each one with a
    per-source header and per-lang footer paragraph — the classic
    boilerplate shape (20 shared headers + 5 shared footers across 500+
    otherwise-distinct pages), built from the REAL table so the oracle
    can reconstruct it verbatim."""
    return d.select(
        "doc_id",
        F.concat(
            F.lit("share this page on "),
            F.col("source"),
            F.lit("\n\n"),
            F.col("text"),
            F.lit("\n\n"),
            F.lit("copyright notice "),
            F.col("lang"),
        ).alias("text"),
    )


def dedup_paragraphs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paragraph_dedup under the hash gate (round 9): blank-line split,
    whitespace-normalized keys, corpus-wide keep-first by (doc_id,
    position) — every surviving (doc_id, para_idx, para) row compared.
    The boilerplate header/footer paragraphs must survive exactly once
    each, at their smallest (doc_id, position)."""
    from riskloc_spark.operators.dedup import paragraph_dedup

    d = load_table(spark, sf_dir, "documents")
    out = paragraph_dedup(_boilerplate_framed(d))
    return out.select(
        "doc_id",
        F.col("para_idx").cast("int").alias("para_idx"),
        "para",
    )


def dedup_paragraphs_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_duplicate_paragraphs under the hash gate: documents
    reassembled from surviving paragraphs in original order (the
    array_sort(collect_list(struct)) ordering seam vs the oracle's
    string_agg ORDER BY), boilerplate-only documents absent."""
    from riskloc_spark.operators.dedup import remove_duplicate_paragraphs

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicate_paragraphs(_boilerplate_framed(d)).select(
        "doc_id", "text"
    )


def knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def riskloc_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    return riskloc_df(
        spark, df, RCA_ATTRIBUTES, risk_threshold=0.3, max_iterations=10
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable md5-derived hash so the whole signature -> band -> bucket
    # -> pair algebra is oracle-checked against DuckDB (production code
    # defaults to xxhash64; the pipeline shape is identical)
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_dedup(d, jaccard_threshold=0.5, hash_fn=md5_hash64)
    return out.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents")
    return simhash_dedup(d, max_hamming=3, hash_fn=md5_hash64)


def _avi_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.video import synthesize_avi_corpus

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return synthesize_avi_corpus(spread_small_scan(d))


def video_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container demux under the hash gate (round 9):
    deterministic MJPEG AVIs (canonical avih/strh/strf headers, 00dc
    movi chunks, idx1) parsed by operators/video.parse_avi — the RIFF
    walk, header unpack, and frame-chunk collection all on the gated
    path; the oracle recomputes every field (dimensions, frame count,
    integer frame duration and total duration) from the synthesis
    contract."""
    from riskloc_spark.operators.video import video_meta

    return video_meta(_avi_corpus(spark, sf_dir))


def video_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling + decode under the hash gate (round 9):
    each AVI demuxes to its MJPEG frames, every frame runs the full
    baseline-JPEG pipeline (Huffman, DC prediction, dequant, IDCT), and
    reduces to integer pixel stats stamped with the frame's integer
    presentation time. The oracle replays constant_block_round_trip per
    (tile, frame) — the still-image JPEG closed form with a frame
    axis."""
    from riskloc_spark.operators.video import video_frame_stats

    return video_frame_stats(_avi_corpus(spark, sf_dir))


def events_asof_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's TOLERANCE branch under the hash gate (round 9):
    matches strictly older than 30 minutes are nulled out (both the
    matched timestamp and the payload). The oracle post-filters
    DuckDB's native ASOF LEFT JOIN with the same integer-microsecond
    gap rule — the boundary (gap == tolerance exactly) stays matched
    on both sides."""
    from riskloc_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        left, right, on="user_id", tolerance_us=30 * 60 * 1_000_000
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
    )


def events_asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's FORWARD direction under the hash gate
    (round 9): every non-purchase event attached to the same user's
    EARLIEST at-or-after purchase (the "time-to-next-conversion"
    shape). The oracle flips DuckDB's native ASOF inequality."""
    from riskloc_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(left, right, on="user_id", direction="forward")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
    )


def events_rolling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window activity features under the hash gate (round 9):
    per event, the count and value-sum of the same user's events in the
    preceding hour (RANGE frame over integer microseconds, peers at the
    boundary and at equal timestamps included). The oracle is DuckDB's
    native RANGE window over epoch_us — an independent implementation
    of the frame semantics."""
    from riskloc_spark.operators.temporal import rolling_window_features

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = rolling_window_features(e, window_minutes=60.0)
    return out.select(
        "event_id",
        "user_id",
        "n_events_window",
        (F.round("sum_value_window", 6) + F.lit(0.0)).alias(
            "sum_value_window"
        ),
    )


def robots_admission_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL admission under the hash gate (round 11;
    operators/robots.py): per source host a closed-form robots file
    (a '*' group with nested Disallow/Allow plus RFC 9309 §2.2.3
    wildcard rules, a specific-agent group the '*' walk must ignore,
    comments, a sitemap line), and eight URL families per document —
    plain-disallowed, deeper-Allow-overridden, untouched, the
    '/private/publicX' near-miss that must match only the SHORTER
    Disallow prefix, a '$'-anchored '*.pdf' hit, its non-anchored
    near-miss, an interior-'*' hit, and a wildcard-Disallow beaten by
    a longer literal Allow.  The oracle states the expected verdict
    per family independently (doc_id % 8 CASE), so a drift in group
    parsing, agent selection, wildcard compilation, or
    most-specific-match ordering breaks the hash."""
    from riskloc_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )

    d = load_table(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    robots = d.select(F.col("source")).distinct().select(
        host.alias("host"),
        F.concat(
            F.lit("# robots\nUser-agent: *\nDisallow: /private/\n"
                  "Allow: /private/public/\n"
                  "Disallow: /*.pdf$\n"
                  "Disallow: /tmp/*/doc-\n"
                  "Disallow: /dl/*\n"
                  "Allow: /dl/ok/\n\n"
                  "User-agent: otherbot\nDisallow: /\n"
                  "Sitemap: https://"),
            host,
            F.lit("/sitemap.xml\n"),
        ).alias("body"),
    )
    fam = F.col("doc_id") % 8
    doc = F.col("doc_id").cast("string")
    path = (
        F.when(fam == 0, F.concat(F.lit("/private/doc-"), doc))
        .when(fam == 1, F.concat(F.lit("/private/public/doc-"), doc))
        .when(fam == 2, F.concat(F.lit("/open/doc-"), doc))
        .when(fam == 3, F.lit("/private/publicX"))
        .when(fam == 4, F.concat(F.lit("/cache/doc-"), doc,
                                 F.lit(".pdf")))
        .when(fam == 5, F.concat(F.lit("/cache/doc-"), doc,
                                 F.lit(".pdfx")))
        .when(fam == 6, F.concat(F.lit("/tmp/sub/doc-"), doc))
        .otherwise(F.concat(F.lit("/dl/ok/doc-"), doc))
    )
    urls = d.select(
        "doc_id", host.alias("host"), path.alias("path")
    )
    out = robots_verdicts(parse_robots(robots), urls)
    return out.select("doc_id", "host", "path", "allowed")


def robots_agent_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt AGENT-GROUP selection under the hash gate (round 12;
    operators/robots.py): per host a '*' group that disallows
    /private/, an 'otherbot' group that disallows everything, a
    crawl-delay-ONLY 'quietbot' group, and a BARE 'User-agent:
    freebot' group with no rules at all.  Three admission walks (one
    per named agent) union into one frame; the oracle states each
    agent's verdict closed-form — otherbot all blocked, quietbot and
    freebot all allowed because ANY group naming the agent (even a
    rule-less one) suppresses the '*' fallback per RFC 9309.  A drift
    back to rules-derived group visibility (the r11 advisory bug)
    flips the quietbot/freebot verdicts on /private/ paths and breaks
    the hash."""
    from riskloc_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )

    d = load_table(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    robots = d.select(F.col("source")).distinct().select(
        host.alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\n\n"
                  "User-agent: otherbot\nDisallow: /\n\n"
                  "User-agent: quietbot\nCrawl-delay: 7\n\n"
                  "User-agent: freebot\n"),
        ).alias("body"),
    )
    path = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("/private/doc-"), F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(F.lit("/open/doc-"), F.col("doc_id").cast("string"))
    )
    urls = d.select("doc_id", host.alias("host"), path.alias("path"))
    from riskloc_spark.operators.dedup import reuse_checkpoint

    # one parse shared by the three agent walks: the rules table is
    # KB-sized (distinct sources x ~10 rows) but its plan is the
    # posexplode + two-windows parse — without the checkpoint each
    # agent branch re-plans AND re-executes it (126-Exchange plan,
    # r14 bench)
    rules = reuse_checkpoint(parse_robots(robots))
    parts = [
        robots_verdicts(rules, urls, agent=a)
        .withColumn("agent", F.lit(a))
        .select("doc_id", "host", "path", "agent", "allowed")
        for a in ("otherbot", "quietbot", "freebot")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel under the hash gate (round 11;
    operators/temporal.funnel): per user, the first view, the first
    click STRICTLY after it, and the first purchase strictly after
    that — the oracle replays the chained conditional-min semantics
    with correlated joins, so a drift in the strict-after rule or the
    left-edge NULL propagation breaks the hash."""
    from riskloc_spark.operators.temporal import funnel

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel(e, ["view", "click", "purchase"])


def token_budget_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group TOKEN-budget sampling under the hash gate (round 9):
    the mixture step ("N tokens of web, M of code") — documents order
    within their source by the portable (id, salt) hash, a per-group
    running token total takes docs while it fits the budget, and the
    cum_tokens audit column rides along. Two explicit budgets + a
    default exercise every branch; the oracle replays the window
    cumsum + CASE budget in SQL."""
    from riskloc_spark.functions.text import token_count
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import token_budget_sample

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumn("n_tokens", token_count(F.col("text")).cast("long"))
        .drop("text")
    )
    out = token_budget_sample(
        d, {"src0": 400, "src1": 800}, default_budget=600,
        hash_fn=md5_hash64,
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def mixture_alpha_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture sampling under the hash gate (round 14;
    sampling.alpha_mixture_sample): per-source token budgets derived
    from (source token count)^0.5 — the multilingual up-sampling
    family — in integer-quantized arithmetic (floor(sqrt(n) * 2^20)
    weights, exact integer division), then the deterministic
    hash-order take while the running total fits.  The oracle replays
    the weight quantization in HUGEINT, the budget division, the
    window cumsum, and the keep rule; alpha=0.5 keeps the weight
    IEEE-portable (sqrt, not pow)."""
    from riskloc_spark.functions.text import token_count
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sampling import alpha_mixture_sample

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumn("n_tokens", token_count(F.col("text")).cast("long"))
        .drop("text")
    )
    out = alpha_mixture_sample(
        d, total_tokens=3000, alpha=0.5, hash_fn=md5_hash64
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def frequent_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate mining under the hash gate (round 9):
    top-30 word 3-grams by (doc_freq desc, total_count desc, ngram asc)
    — the fully deterministic tie-break makes the top-k set a pure
    function of the corpus, so an order-insensitive hash can gate a
    ranked result. Both engines sort strings bytewise (UTF8 binary /
    DuckDB default collation), so boundary ties resolve identically."""
    from riskloc_spark.operators.dedup import frequent_ngrams

    d = load_table(spark, sf_dir, "documents")
    return frequent_ngrams(d, n=3, top_k=30)


def jsonl_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL interchange sink/source under the hash gate (round 9):
    the documents table is written as newline-delimited JSON
    (sources/readers.write_jsonl) and read back with an explicit schema
    (read_jsonl) — the oracle is the ORIGINAL parquet relation, so any
    loss in the round trip (JSON string escaping, unicode, integer
    width, null handling, shard boundaries) breaks the hash."""
    import atexit
    import shutil
    import tempfile

    from riskloc_spark.sources.readers import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # the returned frame reads the staging dir LAZILY, so it can't be
    # removed here — atexit reclaims the corpus-sized JSONL copy once
    # the bench/gate process ends instead of leaking it per run
    base = tempfile.mkdtemp(prefix="jsonl_rt_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    stage = base + "/docs"
    write_jsonl(d, stage)
    back = read_jsonl(
        spark,
        stage,
        schema="doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def streaming_ingest_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-STATIC ingestion probe under the hash gate (round 9):
    documents with doc_id % 3 == 0 arrive through an availableNow
    readStream and are deduplicated against the STATIC
    build_near_dup_index artifact of the rest of the corpus — the
    continuous form of incremental_near_dup, stateless end to end (the
    per-band output is the contract; collapsing needs event time). The
    oracle replays the per-band candidate join in the md5 family, so a
    divergence under the streaming runner (micro-batch planning of the
    static side included) breaks the gate."""
    import os
    import tempfile
    import uuid

    from riskloc_spark.operators.dedup import build_near_dup_index, md5_hash64
    from riskloc_spark.streaming.pipeline import ingest_dedup_stream

    batch = load_table(spark, sf_dir, "documents")
    index = build_near_dup_index(
        batch.filter(F.col("doc_id") % 3 != 0), hash_fn=md5_hash64
    )
    import shutil

    stage = tempfile.mkdtemp(prefix="singest_")
    # the memory sink materializes inside this function (availableNow +
    # awaitTermination), so the symlink staging dir can be reclaimed
    # before returning instead of leaking one per gate run
    try:
        os.symlink(
            os.path.join(sf_dir, "documents.parquet"),
            os.path.join(stage, "documents.parquet"),
        )
        stream = (
            spark.readStream.schema(batch.schema)
            .parquet(stage)
            .filter(F.col("doc_id") % 3 == 0)
        )
        out = ingest_dedup_stream(
            stream, index, jaccard_threshold=0.5, hash_fn=md5_hash64
        ).select(
            "new_id",
            "base_id",
            F.col("band").cast("int").alias("band"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
        name = "streaming_ingest_" + uuid.uuid4().hex[:8]
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_ingest_dedup: did not finish in 300s"
            )
        q.stop()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name)


def corpus_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking under the hash gate (round 9):
    40-token windows with an 8-token overlap (step 32) over the
    documents table — full chunk TEXT, indices and lengths checked; the
    oracle replays the start-generation rule and token slicing with
    DuckDB list algebra (integer ceil division, 1-based inclusive
    slices)."""
    from riskloc_spark.operators.packing import chunk_documents

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, max_tokens=40, overlap=8)


def text_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization under the hash gate (round 9): each
    document is decorated with a deterministic suffix per doc_id % 5 —
    combining acute, combining ring, Hangul jamo pair, precomposed
    e-acute plus a C0 control — then control-stripped (JVM) and
    NFC-composed (Arrow-batched unicodedata UDF).  The oracle applies
    the same decoration with chr() literals and DuckDB's native
    nfc_normalize — two independent Unicode implementations must agree
    on the full normalized TEXT, code-point counts, and change flags."""
    from riskloc_spark.functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        # explicit escapes: decomposed e+acute / A+ring / Hangul
        # jamo pair / PREcomposed e-acute + a C0 control to strip
        F.when(F.col("doc_id") % 5 == 0, F.lit("e\u0301"))
        .when(F.col("doc_id") % 5 == 1, F.lit("A\u030a"))
        .when(F.col("doc_id") % 5 == 2, F.lit("\u1100\u1161"))
        .when(F.col("doc_id") % 5 == 3, F.lit("\u00e9\u0001"))
        .otherwise(F.lit(""))
    )
    deco = d.withColumn("text", F.concat(F.col("text"), suffix))
    return normalize_text(deco).select(
        "doc_id", "text", "n_chars_before", "n_chars_after", "changed"
    )


def incremental_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGESTION dedup tier under the hash gate (round 9): the
    corpus splits into a base (doc_id % 3 != 0) whose
    build_near_dup_index artifact is the only thing the probe touches,
    and an incoming batch (doc_id % 3 == 0) deduplicated against it via
    incremental_near_dup — signature -> band -> bucket probe join ->
    agreement threshold, all in the md5-portable family so the oracle
    replays the identical algebra (the SAME sigs/bands CTEs as
    minhash_pairs, with a new-x-base candidate join instead of the
    self-join)."""
    from riskloc_spark.operators.dedup import (
        build_near_dup_index,
        incremental_near_dup,
        md5_hash64,
    )

    d = load_table(spark, sf_dir, "documents")
    index = build_near_dup_index(
        d.filter(F.col("doc_id") % 3 != 0), hash_fn=md5_hash64
    )
    out = incremental_near_dup(
        d.filter(F.col("doc_id") % 3 == 0),
        index,
        jaccard_threshold=0.5,
        hash_fn=md5_hash64,
    )
    return out.select(
        "new_id", "base_id", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def dedup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution: the same md5-gated minhash pair graph
    as `minhash_pairs`, closed transitively into (doc_id, group_id,
    is_representative) via distributed hash-min connected components
    (operators/dedup.py:connected_components). Every document appears —
    unpaired docs as singleton groups."""
    from riskloc_spark.operators.dedup import dedup_groups, md5_hash64

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(d, jaccard_threshold=0.5, hash_fn=md5_hash64)
    return dedup_groups(pairs, documents=d)


def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the deliberate O(n^2) correctness baseline for the LSH path — the
    # operator itself refuses corpora past max_rows (gate runs sf0.01)
    from riskloc_spark.operators.similarity import embedding_near_dup_exact_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_exact_pairs(emb, threshold=0.4).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def rev_adtributor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    out = rev_adtributor_candidates(df, RCA_ATTRIBUTES, teep=0.05, k=2)
    return out.select(
        "dimension",
        "element",
        F.round("ep", 6).alias("ep"),
        F.round("surprise", 6).alias("surprise"),
    )


def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(d, shingle_n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def knn_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_bucket_knn(emb, queries, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def knn_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_knn's full probe machinery (assignment argmin, 6-cell probe,
    in-cell cosine top-5) under the hash gate: the quantizer seeds are
    the first 16 embeddings by vec_id — data-driven and sf-agnostic, so
    the DuckDB twin derives the identical centroids from the view (an
    iterative k-means fit is not SQL-expressible; the fitted-quantizer
    path is exercised by knn_ivf_warm + the recall/determinism tests)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(16)
            .collect()
        ]
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_knn(emb, queries, k=5, centroids=seeds)
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def knn_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_knn's full ADC machinery under the hash gate (round 8):
    product-quantization encode (per-subspace nearest-codebook argmin,
    8 subspaces x 8 dims over the 64-dim embeddings), per-query
    distance tables, and the table-lookup ADC ranking. The codebooks
    are data-driven seeds — subvectors of the first 8 embeddings by
    vec_id — so the DuckDB twin derives identical codebooks from the
    view (the k-means fit is exercised by the recall/exactness unit
    tests, same carve-out as knn_ivf)."""
    import numpy as np

    from riskloc_spark.operators.similarity import pq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(8)
            .collect()
        ]
    )  # (8, 64)
    # codebooks[m][j] = seed j's m-th subvector
    cb = seeds.reshape(8, 8, 8).transpose(1, 0, 2)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_knn(emb, queries, k=5, n_sub=8, codebooks=cb)
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rnk"),
    )


def knn_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ pipeline under the hash gate (round 8): the
    coarse probe (first-16-embedding seed centroids, 6-cell probe) AND
    the PQ ADC (first-8-embedding seed codebooks, table-lookup sum)
    running TOGETHER — candidate pruning and compressed scoring, the
    production ANN shape. Both quantizers are data-driven seeds so the
    DuckDB twin derives them from the view; the fitted path is covered
    by the unit recall tests."""
    import numpy as np

    from riskloc_spark.operators.similarity import ivfpq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.select("embedding", "vec_id").orderBy("vec_id").limit(16).collect()
    )
    seeds16 = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    cb = seeds16[:8].reshape(8, 8, 8).transpose(1, 0, 2)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_knn(
        emb, queries, k=5, n_sub=8, centroids=seeds16, codebooks=cb
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rnk"),
    )


# quantizer cache for the warm IVF serving path: in a real deployment the
# centroids are fit once (ivf_fit_centroids) and persisted; refitting
# k-means per query call is the cold-start cost BENCH_r03 exposed (16.1s
# cold vs 2.27s warm at sf0.1)
_IVF_CENTROIDS: dict[str, Any] = {}


def knn_ivf_warm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.similarity import ivf_fit_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _IVF_CENTROIDS:
        _IVF_CENTROIDS[sf_dir] = ivf_fit_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_knn(emb, queries, k=5, centroids=_IVF_CENTROIDS[sf_dir])
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def _causes_to_df(spark, causes, score_key, schema_score):
    rows = [
        (
            "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))),
            float(rc[score_key]),
            int(rc["layer"]),
        )
        for rc in causes
        for el in rc["elements"]
    ]
    return local_rows_df(spark, 
        rows, f"root_cause string, {schema_score} double, layer int"
    )


def autoroot_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    return _causes_to_df(
        spark, autoroot(df, RCA_ATTRIBUTES), "avg", "avg_score"
    )


def hotspot_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    best = hotspot(df, RCA_ATTRIBUTES, pt=0.67, m=100, scoring="gps")
    return _causes_to_df(spark, [best], "score", "score")


def squeeze_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    causes = squeeze(df, RCA_ATTRIBUTES)
    return local_rows_df(spark, 
        [(s,) for s in causes], "root_cause string"
    )


def squeeze_rca_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full derived-measure squeeze search (rows-only: the clustering +
    locate orchestration is not SQL-expressible)."""
    df = rca_events_derived(spark, sf_dir)
    causes = squeeze(df, RCA_ATTRIBUTES, derived=True)
    return local_rows_df(spark, 
        [(s,) for s in causes] or [("<none>",)], "root_cause string"
    )


def robustspot_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import reuse_checkpoint

    # the ID totals subquery + the output pass each re-derive the events
    # aggregation otherwise — checkpoint the leaf-bounded frame (r16)
    df = reuse_checkpoint(
        adapt_frame(rca_events(spark, sf_dir), derived=False)
    )
    out = add_influence_degree(df)
    return out.select(
        "event_type", "hr", "ub", F.round("ID", 6).alias("influence_degree")
    )


def robustspot_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events(spark, sf_dir)
    return robustspot_df(spark, df, RCA_ATTRIBUTES, k=3, derived=False)


def events_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON props parsed JVM-side
    (get_json_object) and aggregated — no Python in the path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def rca_derived_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from riskloc_spark.operators.dedup import reuse_checkpoint

    # checkpoint: the shared raw totals and the Σep normalization are
    # two scalar-total subqueries, each re-deriving the events
    # aggregation otherwise.  Lazy localCheckpoint instead of persist
    # (r16): no unpersist hook exists for a returned frame, and the
    # truncated lineage keeps every consumer's plan leaf-bounded.
    df = reuse_checkpoint(rca_events_derived(spark, sf_dir))
    df = add_ep_and_surprise(df, derived=True)
    return df.select(
        "event_type",
        "hr",
        "ub",
        F.round("ep", 6).alias("ep"),
        F.round("surprise", 6).alias("surprise"),
    )


def riskloc_rca_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rca_events_derived(spark, sf_dir)
    return riskloc_df(
        spark, df, RCA_ATTRIBUTES, risk_threshold=0.3, derived=True, max_iterations=5
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", T.fingerprint(F.col("text"), portable=True).alias("fp")
    )


def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing (Schleimer et al. 2003, the MOSS algorithm)
    under the hash gate (round 11): every document's k=5-gram hashes
    windowed by 4, the per-window minimum kept with the RIGHTMOST tie
    rule, selections deduped — the oracle replays normalization, the
    gram slide, the md5 hash family, the window enumeration
    (including the short-document single-window case) and the
    (h ASC, pos DESC) selection, so the exact fingerprint SET of
    every document is pinned."""
    from riskloc_spark.functions.text import winnow_fingerprints
    from riskloc_spark.operators.dedup import md5_hash64

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=5, window=4, hash_fn=md5_hash64)


def media_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash under the hash gate (round 11): the
    synthesized PNG corpus (all five color/depth variants, palette
    expansion included) through the REAL decode -> integer-luma ->
    nearest-resize(9x8) -> gradient-bit kernel
    (operators/multimodal.py:_dhash_kernel).  The oracle replays the
    generator formula, the floor resize mapping, the 299/587/114
    integer luma and the bit packing (bit 63 wrapping signed) in
    closed-form SQL — all 64 bits of every image's signature are
    pinned."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        media_dhash,
        synthesize_png_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    corpus = spread_small_scan(synthesize_png_corpus(d))
    return media_dhash(corpus)


def image_ingest_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image ingestion dedup under the hash gate (round
    12; operators/multimodal.build_image_index +
    incremental_image_dedup): the base corpus (doc_id % 4 != 3) is
    indexed ONCE — (id, dhash, block, bits) rows, the persistable
    artifact — and a batch (seeds with doc_id % 4 in (0, 3), re-id'd
    +10M after synthesis) probes it.  Seeds ≡ 0 (mod 4) are byte-
    identical to base images (planted dups, hamming 0); seeds ≡ 3 are
    absent from the base.  The oracle recomputes every 64-bit dhash
    from the synthesis contract and takes the BRUTE-FORCE hamming ≤ 4
    pairs — the pigeonhole banded probe must equal exhaustive
    comparison exactly, incidental near-matches included, or the hash
    breaks."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        build_image_index,
        incremental_image_dedup,
        synthesize_neardup_png_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    base = synthesize_neardup_png_corpus(
        spread_small_scan(d.filter(F.col("media_id") % 4 != 3))
    )
    index = build_image_index(base, max_hamming=4)
    seeds = d.filter(
        (F.col("media_id") % 4 == 0) | (F.col("media_id") % 4 == 3)
    )
    batch = synthesize_neardup_png_corpus(
        spread_small_scan(seeds)
    ).withColumn("media_id", F.col("media_id") + F.lit(10_000_000))
    out = incremental_image_dedup(batch, index, max_hamming=4)
    return out.select(
        "new_id", "base_id", F.col("hamming").cast("int").alias("hamming")
    )


def video_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs under the hash gate (round 12;
    operators/video.video_dhash + video_near_dup): the high-entropy
    AVI corpus (9x8 tile grid, xorshift-mixed values — see
    multimodal._mix256 for why the additive contract corpus would
    make this gate quadratic-dense) plus planted re-containers (seeds
    ≡ 0 mod 3 re-synthesized and re-id'd +10M — byte-identical frame
    streams), demuxed, per-frame JPEG-decoded, dhashed, and
    pair-matched at the same frame index (banded hamming ≤ 6, ≥ 2
    matching frames).  The oracle replays the ENTIRE pipeline
    closed-form — mixer, JPEG constant-block round trip, 9x8 floor
    resize, gradient bits, bit-63 signed wrap — then takes
    brute-force same-frame pairs, so a drift anywhere from the
    container walk to the banded join breaks the hash; output is
    exactly the planted duplicates (one pair per seed, all frames
    matched)."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.video import (
        synthesize_neardup_avi_corpus,
        video_near_dup,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    base = synthesize_neardup_avi_corpus(spread_small_scan(d))
    dups = synthesize_neardup_avi_corpus(
        spread_small_scan(d.filter(F.col("media_id") % 3 == 0))
    ).withColumn("media_id", F.col("media_id") + F.lit(10_000_000))
    media = base.unionByName(dups)
    out = video_near_dup(media, max_hamming=6, min_frame_matches=2)
    return out.select("id_a", "id_b", "matched_frames")


def media_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode under the hash gate (round 7): deterministic
    PNGs are synthesized per doc id (formula contract in
    operators/multimodal.py) with CYCLING row filters, shipped through a
    binary column, decoded by the stdlib zlib+numpy codec
    (operators/png.py — all five unfilter branches, bit depths 8/16,
    gray/RGB/palette/RGBA), and reduced to integer pixel statistics.
    The oracle replays the generator formula in closed-form SQL, so any
    bug in filtering, bit packing, palette expansion, or sample order
    breaks the hash."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        png_pixel_stats,
        synthesize_png_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_png_corpus(spread_small_scan(d))
    return png_pixel_stats(media)


# --------------------------------------------------------------------------
# Interior scoring surfaces of the iterative RCA searches.
#
# The full riskloc/hotspot/autoroot/squeeze searches are driver-orchestrated
# (no SQL oracle possible), but their *scoring interiors* — the distributed
# jobs that do all the per-leaf math — are pure aggregations. Exposing them
# as oracled queries puts the actual algebra under the DuckDB gate.
# --------------------------------------------------------------------------

def hotspot_element_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hotspot's sufficient statistics (plans/cuboid.py element_stats_all):
    every cuboid of every layer in ONE explode + shuffle."""
    from riskloc_spark.plans.cuboid import cuboids_of_layer, element_stats_all

    df = rca_events(spark, sf_dir)
    cuboids = [
        c
        for layer in range(1, len(RCA_ATTRIBUTES) + 1)
        for c in cuboids_of_layer(RCA_ATTRIBUTES, layer)
    ]
    # exact_sums: DECIMAL(38,9) per-term sums → order-independent, so the
    # 6-decimal gate surface is stable across JVM runs (r2's one red row
    # was a parallel-sum-ordering artifact at a .5e-6 boundary).
    out = element_stats_all(df, cuboids, exact_sums=True)
    return out.select(
        "cid",
        "elem",
        "n_e",
        F.round("V_e", 6).cast("double").alias("V_e"),
        F.round("F_e", 6).cast("double").alias("F_e"),
        F.round("B_e", 6).cast("double").alias("B_e"),
        F.round("Q_e", 6).cast("double").alias("Q_e"),
        F.round("A_e", 6).cast("double").alias("A_e"),
        F.round("P_e", 6).cast("double").alias("P_e"),
    )


def autoroot_nps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """autoroot's NPS scoring interior (functions/search_terms.py
    nps_leaf_terms + nps, and the LF ratio) over layer-1 cuboids, with the
    |deviation|>0.2 relevant set standing in for a KDE cluster. Fused:
    every dimension rides one explode + one shared window + one groupBy
    (the per-dim loop ran a window, a relevant-count agg, and a join per
    dimension)."""
    from pyspark.sql import Window

    df = add_deviation_score(rca_events(spark, sf_dir))
    df = df.select(
        # NULL -> "None" matches the SQL twin's COALESCE and keeps NULL
        # join keys from dropping rows.
        *[F.coalesce(F.col(a).cast("string"), F.lit("None")).alias(a)
          for a in RCA_ATTRIBUTES],
        "real",
        "predict",
        "deviation",
    ).persist()  # totals subquery reuses it
    # DECIMAL term sums → order-independent gate surface (see
    # hotspot_element_stats_q).
    b_term = F.when(F.col("real") == 0, F.lit(0.0)).otherwise(
        F.abs(F.col("real") - F.col("predict")) / F.col("real")
    )
    tot = df.agg(
        F.count(F.lit(1)).alias("N"),
        F.sum(b_term.cast("decimal(38,9)")).cast("double").alias("Bp_tot"),
    )
    structs = [
        F.struct(F.lit(d).alias("dimension"), F.col(d).alias("element"))
        for d in RCA_ATTRIBUTES
    ]
    ex = df.select(
        F.explode(F.array(*structs)).alias("de"), "real", "predict", "deviation"
    ).select(
        F.col("de.dimension").alias("dimension"),
        F.col("de.element").alias("element"),
        "real",
        "predict",
        "deviation",
    )
    w = Window.partitionBy("dimension", "element")
    Ve = F.sum(F.col("real").cast("decimal(38,9)")).over(w).cast("double")
    Fe = F.sum(F.col("predict").cast("decimal(38,9)")).over(w).cast("double")
    vhat = F.when(Fe != 0, F.col("predict") * Ve / Fe).otherwise(F.lit(0.0))
    a_term = F.when(F.col("real") == 0, F.lit(0.0)).otherwise(
        F.abs(F.col("real") - vhat) / F.col("real")
    )
    agg = (
        ex.withColumn("__a", a_term)
        .withColumn("__b", b_term)
        .groupBy("dimension", "element")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum(F.col("__a").cast("decimal(38,9)")).cast("double").alias("Ap_e"),
            F.sum(F.col("__b").cast("decimal(38,9)")).cast("double").alias("Bp_e"),
            F.sum((F.abs(F.col("deviation")) > 0.2).cast("long")).alias("x"),
        )
        .filter(F.col("x") > 0)  # the relevant-set inner join
        .crossJoin(F.broadcast(tot))
    )
    a = F.col("Ap_e") / F.col("n_full")
    b = F.col("Bp_e") / F.col("n_full")
    n_rest = F.col("N") - F.col("n_full")
    c = F.when(n_rest > 0, (F.col("Bp_tot") - F.col("Bp_e")) / n_rest).otherwise(
        F.lit(0.0)
    )
    nps = F.when(b + c != 0, 1 - (a + c) / (b + c)).otherwise(F.lit(0.0))
    return agg.select(
        "dimension",
        "element",
        "x",
        "n_full",
        F.round(nps, 6).alias("nps"),
        F.round(F.col("x") / F.col("n_full"), 6).alias("lf"),
    )


def squeeze_cluster_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """squeeze's locate pass 1 (operators/squeeze.py _locate_all):
    per-element abnormal counts / descents / selected measure sums, with
    deterministic cluster (dev >= 0.1) and normal (|dev| < 0.05) predicates
    standing in for the density-cluster ranges."""
    df = rca_events(spark, sf_dir).filter(F.col("predict") > 0)
    dev = F.when(
        F.col("predict") + F.col("real") == 0, F.lit(0.0)
    ).otherwise(
        (F.col("predict") - F.col("real")) / (F.col("predict") + F.col("real"))
    )
    df = df.withColumn("deviation", dev)
    cluster_pred = F.col("deviation") >= 0.1
    normal_pred = F.abs(F.col("deviation")) < 0.05
    # one explode + one groupBy over all dims (the per-dim union scanned
    # the events aggregation once per dimension)
    structs = [
        F.struct(
            F.lit(d).alias("dimension"),
            F.coalesce(F.col(d).cast("string"), F.lit("None")).alias("element"),
        )
        for d in RCA_ATTRIBUTES
    ]
    ex = df.select(
        F.explode(F.array(*structs)).alias("de"),
        "real",
        "predict",
        cluster_pred.cast("int").alias("__abn"),
        normal_pred.cast("int").alias("__norm"),
    )
    return (
        ex.groupBy(
            F.col("de.dimension").alias("dimension"),
            F.col("de.element").alias("element"),
        )
        .agg(
            F.sum("__abn").alias("num_elements"),
            F.count(F.lit(1)).alias("descents"),
            # DECIMAL sums → order-independent hash surface (see
            # hotspot_element_stats_q).
            F.sum(
                F.when(
                    F.col("__abn") + F.col("__norm") > 0, F.col("real")
                ).cast("decimal(38,9)")
            ).alias("V_e"),
            F.sum(
                F.when(
                    F.col("__abn") + F.col("__norm") > 0, F.col("predict")
                ).cast("decimal(38,9)")
            ).alias("F_e"),
        )
        .filter(F.col("num_elements") > 0)
        .select(
            "dimension",
            "element",
            "num_elements",
            "descents",
            F.round("V_e", 6).cast("double").alias("V_e"),
            F.round("F_e", 6).cast("double").alias("F_e"),
        )
    )


def squeeze_derived_cluster_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure squeeze's locate pass 1 (operators/squeeze.py
    _locate_all with derived=True): deviation on the a/b ratio KPI, but
    the selected measure sums are of the SEPARATE a and b measures — the
    ripple ratio is op(sum a, sum b), ref squeeze.py:192-199."""
    df = rca_events_derived(spark, sf_dir).filter(
        (F.col("predict_a") > 0) & (F.col("predict_b") > 0)
    )
    # the frame's own real/predict are the unguarded ratios; squeeze
    # recomputes with the op's 0-where-0 guard — do the same here
    ratio = lambda a, b: F.when(  # noqa: E731
        F.col(b) != 0, F.col(a) / F.col(b)
    ).otherwise(F.lit(0.0))
    df = df.withColumn("real", ratio("real_a", "real_b")).withColumn(
        "predict", ratio("predict_a", "predict_b")
    )
    dev = F.when(
        F.col("predict") + F.col("real") == 0, F.lit(0.0)
    ).otherwise(
        (F.col("predict") - F.col("real")) / (F.col("predict") + F.col("real"))
    )
    df = df.withColumn("deviation", dev)
    cluster_pred = F.col("deviation") >= 0.1
    normal_pred = F.abs(F.col("deviation")) < 0.05
    sel = F.col("__abn") + F.col("__norm") > 0

    def dsum(col):
        return F.sum(F.when(sel, F.col(col)).cast("decimal(38,9)"))

    structs = [
        F.struct(
            F.lit(d).alias("dimension"),
            F.coalesce(F.col(d).cast("string"), F.lit("None")).alias("element"),
        )
        for d in RCA_ATTRIBUTES
    ]
    ex = df.select(
        F.explode(F.array(*structs)).alias("de"),
        "real_a",
        "predict_a",
        "real_b",
        "predict_b",
        cluster_pred.cast("int").alias("__abn"),
        normal_pred.cast("int").alias("__norm"),
    )
    return (
        ex.groupBy(
            F.col("de.dimension").alias("dimension"),
            F.col("de.element").alias("element"),
        )
        .agg(
            F.sum("__abn").alias("num_elements"),
            F.count(F.lit(1)).alias("descents"),
            dsum("real_a").alias("Va_e"),
            dsum("predict_a").alias("Fa_e"),
            dsum("real_b").alias("Vb_e"),
            dsum("predict_b").alias("Fb_e"),
        )
        .filter(F.col("num_elements") > 0)
        .select(
            "dimension",
            "element",
            "num_elements",
            "descents",
            F.round("Va_e", 6).cast("double").alias("Va_e"),
            F.round("Fa_e", 6).cast("double").alias("Fa_e"),
            F.round("Vb_e", 6).cast("double").alias("Vb_e"),
            F.round("Fb_e", 6).cast("double").alias("Fb_e"),
        )
    )


_SIG_LABEL = "event_type=click&hr=3;event_type=view&ub=5"


def evaluation_f1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """score_root_causes / evaluate_batch under the hash gate (round 8;
    VERDICT r7 Missing #4): deterministic per-case predictions and
    labels are derived from the RCA frame — per event_type, the label
    is the top-2 leaves by |real - predict| as 'hr=H&ub=U' causes (the
    SECOND written dim-REVERSED, exercising canonical()'s sort), and
    the predictions are the top-3 leaves by real. The lexicographically
    smallest event_type gets NO predictions (the empty-prediction
    branch: tp=0, fp=0, fn=n_true) and the largest gets its first
    prediction DUPLICATED (duplicates count as FPs via len(preds)-tp).
    evaluate_df computes per-case TP/FP/FN/F1 plus the '__total__'
    aggregate; the oracle replays the construction and the set algebra
    in SQL (ref utils/evaluation.py:4-28, run.py:10-36)."""
    from pyspark.sql import Window

    from riskloc_spark.evaluation import evaluate_df

    rca = rca_events(spark, sf_dir)
    dev = F.abs(F.col("real") - F.col("predict"))
    w_dev = Window.partitionBy("event_type").orderBy(
        dev.desc(), F.col("hr").asc(), F.col("ub").asc()
    )
    w_real = Window.partitionBy("event_type").orderBy(
        F.col("real").desc(), F.col("hr").asc(), F.col("ub").asc()
    )
    # materialize the (tiny) ranked frame: labels, preds, the dup branch
    # and the bounds all reuse it — without it the events scan + rca
    # aggregation re-derive ~8x (the round-4 scalar-subquery lineage
    # blowup: 40 scans / 89 exchanges -> 1 scan). localCheckpoint, not
    # persist: a lazy result frame means no unpersist hook exists, and a
    # CacheManager entry would leak for the session; the checkpointed
    # RDD is ContextCleaner-reclaimed once the frame is GC'd (round 9,
    # same pattern as trigram_lm_scores)
    ranked = (
        rca.withColumn("rn_dev", F.row_number().over(w_dev))
        .withColumn("rn_real", F.row_number().over(w_real))
        .filter((F.col("rn_dev") <= 2) | (F.col("rn_real") <= 3))
        .localCheckpoint(eager=True)
    )
    # every event_type has an rn_dev=1 row, so the bounds of the ranked
    # frame equal the bounds of the full frame
    bounds = ranked.agg(
        F.min("event_type").alias("et_min"), F.max("event_type").alias("et_max")
    )
    cause = F.concat(
        F.lit("hr="), F.col("hr"), F.lit("&ub="), F.col("ub")
    )
    cause_rev = F.concat(
        F.lit("ub="), F.col("ub"), F.lit("&hr="), F.col("hr")
    )
    labels = ranked.groupBy("event_type").agg(
        F.concat_ws(
            ";",
            F.max(F.when(F.col("rn_dev") == 1, cause)),
            F.max(F.when(F.col("rn_dev") == 2, cause_rev)),
        ).alias("label")
    ).select(F.col("event_type").alias("case_id"), "label")
    preds0 = (
        ranked.filter(F.col("rn_real") <= 3)
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("event_type") != F.col("et_min"))
        .select(
            F.col("event_type").alias("case_id"),
            cause.alias("pred"),
            "rn_real",
            "et_max",
        )
    )
    dup = preds0.filter(
        (F.col("case_id") == F.col("et_max")) & (F.col("rn_real") == 1)
    )
    preds = preds0.unionByName(dup).select("case_id", "pred")
    return evaluate_df(preds, labels)


def dataset_significance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statistics.set_label + instance_significance under the hash gate:
    per-label leaf counts, predict amounts, |real-predict| errors, and
    error share of total predict (the significance numerator/denominator
    algebra of dataset_statistics.py:118-133) on the RCA frame with a
    deterministic two-cause label."""
    from riskloc_spark.operators.dedup import reuse_checkpoint
    from riskloc_spark.statistics import set_label

    # the total-predict subquery + the grouped output each re-derive the
    # events aggregation otherwise — checkpoint the leaf-bounded frame
    df = reuse_checkpoint(set_label(rca_events(spark, sf_dir), _SIG_LABEL))
    err = F.abs(F.col("real") - F.col("predict"))
    tot = df.agg(
        F.sum(F.col("predict").cast("decimal(38,9)"))
        .cast("double")
        .alias("__tp")
    )
    out = (
        df.withColumn("__err", err)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_leaves"),
            F.sum(F.col("predict").cast("decimal(38,9)")).alias("pa"),
            F.sum(F.col("__err").cast("decimal(38,9)")).alias("pe"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "label",
        "n_leaves",
        F.round("pa", 6).cast("double").alias("predict_amount"),
        F.round("pe", 6).cast("double").alias("predict_error"),
        F.round(F.col("pe").cast("double") / F.col("__tp"), 6).alias(
            "error_share"
        ),
    )


def riskloc_layer_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """riskloc's per-element layer scoring (operators/riskloc.py
    _layer_scores) for all layer-1 cuboids: the exact high/low/risk algebra
    the search ranks elements by, on the fully prepared (ep / partition /
    weight / ep-sign-flip) frame."""
    from riskloc_spark.operators.riskloc import _layer_scores
    from riskloc_spark.plans.cuboid import cuboids_of_layer

    from riskloc_spark.operators.dedup import reuse_checkpoint

    df = rca_events(spark, sf_dir)
    df = add_explanatory_power(df)
    df = add_deviation_score(df)
    # checkpoint: get_cutoff's top-k probes, the ep-sign action, and the
    # EP-totals subquery otherwise each re-derive the events aggregation
    # (lazy localCheckpoint, not persist — no unpersist hook exists for
    # a returned frame, and the truncated lineage keeps the _layer_scores
    # plan leaf-bounded; r16)
    df = reuse_checkpoint(df)
    cutoff = get_cutoff(df, n_remove=5)
    df = add_partition(df, cutoff)
    df = add_weight(df, cutoff)
    ep_sum_row = df.filter(F.col("partition") == 1).agg(F.sum("ep")).first()
    if (ep_sum_row[0] or 0.0) < 0:
        df = df.withColumn("ep", -F.col("ep"))
    df = df.withColumn(
        "ep_z", F.when(F.col("ep") > 0, F.col("ep")).otherwise(F.lit(0.0))
    )
    # exact_sums: DECIMAL aggregation → order-independent gate surface
    # (see hotspot_element_stats_q).
    scores = _layer_scores(
        df, cuboids_of_layer(RCA_ATTRIBUTES, 1), None, exact_sums=True
    )
    return scores.select(
        "cid",
        "elem",
        F.round("n_anom", 6).alias("n_anom"),
        F.round("n_norm", 6).alias("n_norm"),
        F.round("ep", 6).alias("ep"),
        F.round("ep_z", 6).alias("ep_z"),
        F.col("part_sum").cast("bigint").alias("part_sum"),
        F.round("w1", 6).alias("w1"),
        F.round("w2", 6).alias("w2"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("risk", 6).alias("risk"),
    )


def robustspot_ca_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robustspot's contribution-ability interior (operators/robustspot.py
    add_contribution_ability over the derived adapt_frame) — with
    influence degree (robustspot_scores) this puts both of the mining
    loop's scoring columns under the gate."""
    from riskloc_spark.operators.dedup import reuse_checkpoint
    from riskloc_spark.operators.robustspot import add_contribution_ability

    # the CA totals subquery + the output pass each re-derive the events
    # aggregation otherwise — checkpoint the leaf-bounded frame (r16)
    df = reuse_checkpoint(
        adapt_frame(rca_events_derived(spark, sf_dir), derived=True)
    )
    out = add_contribution_ability(df)
    return out.select(
        "event_type", "hr", "ub", F.round("CA", 6).alias("ca")
    )


def adtributor_elements_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure adtributor element scoring: merge_dimensions with
    a/b measure sums, derived EP (normalized) and derived surprise with
    the merged divide — the derived twin of adtributor_elements."""
    from riskloc_spark.operators.adtributor import _scored_elements

    df = rca_events_derived(spark, sf_dir)
    # the derived chain runs TWO scalar-total subqueries (the shared a/b
    # totals, then the ep normalization) — through the operator's
    # checkpointed element frame each reads it instead of re-deriving
    # the merge + events aggregation
    el = _scored_elements(df, RCA_ATTRIBUTES, derived=True)
    return el.select(
        "dimension",
        "element",
        F.round("ep", 6).alias("ep"),
        F.round("surprise", 6).alias("surprise"),
    )


def q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join surface (TPC-H q4 shape adapted to the testdata schema):
    orders in a quarter having at least one returned lineitem. The EXISTS
    becomes a left-semi hash join — no duplication, no distinct."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: customers with no 1997 orders, per market
    segment (NOT EXISTS -> left-anti hash join; the subquery filter is
    pushed below the join build side)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP surface: (event_type, hour) hierarchy with subtotal and
    grand-total rows — one pass, Spark expands grouping sets without
    rescanning."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", F.hour("ts").cast("int").alias("hr"), "value")
        .rollup("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def media_resize_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL nearest-resize path under the hash gate (round 7; named
    ``media_features`` until round 8 — renamed because it gates the
    RESIZE pipeline, not the feature kernel): synthetic PNGs ->
    resize_media (nearest-neighbor floor mapping, RE-ENCODED as PNG)
    -> second decode -> integer stats of the resized pixels. Gates the
    full encode -> decode -> resample -> re-encode -> decode chain; the
    oracle replays the floor-mapping resample (src = dst*extent_src //
    extent_dst) on the generator formula in closed-form SQL."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        png_pixel_stats,
        resize_media,
        synthesize_png_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_png_corpus(spread_small_scan(d))
    resized = resize_media(media, width=4, height=3, method="nearest")
    return png_pixel_stats(resized)


def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL feature kernel under the hash gate (round 8): gray8
    synthetic PNGs (corpus case d%5==0) -> media_features(dim=16) —
    channel mean / maxv plus a 12-bin gray histogram (pixel fractions),
    float32 — exploded to (media_id, i, feat). The oracle recomputes
    the formula pixels, the mean, and np.histogram's uniform-bin fast
    path BIT-EXACTLY in SQL: idx = trunc(g*12) with the linspace-edge
    decrement/increment corrections (edges[i] = i*(1/12), last edge
    pinned to 1.0), then count/(h*w), float32 cast, round 6. Pinned
    against np.histogram for every gray8 id up to sf0.1 scale before
    porting (round-8 finding)."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        media_features,
        synthesize_png_corpus,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("doc_id") % 5 == 0)
    )
    media = synthesize_png_corpus(spread_small_scan(d))
    feats = media_features(media, dim=16)
    return feats.select(
        "media_id", F.posexplode("feature").alias("i", "f")
    ).select(
        "media_id",
        F.col("i").cast("int").alias("i"),
        F.round(F.col("f").cast("double"), 6).alias("feat"),
    )


def media_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL APNG frame extraction under the hash gate (round 7):
    deterministic APNGs (formula contract on synthesize_apng_corpus —
    2-4 full-canvas gray8 frames, cycling row filters, frame 0 in IDAT,
    the rest in fdAT) -> sample_frames(every_n=2), whose real branch
    unfilters each frame and re-encodes it as a standalone PNG -> a
    second decode reduces each kept frame to integer pixel stats. The
    oracle replays the generator formula for frames 0, 2, ... in
    closed-form SQL, so frame ordering, fdAT sequence handling, and the
    per-frame filter stream are all under the hash."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        png_pixel_stats,
        sample_frames,
        synthesize_apng_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_apng_corpus(spread_small_scan(d))
    frames = sample_frames(media, every_n=2)
    stats = png_pixel_stats(
        frames, bytes_col="frame", passthrough=("frame_idx",)
    )
    return stats.select(
        "media_id", "frame_idx", "width", "height", "pix_sum", "pix_wsum"
    )


def media_gif_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode under the hash gate (round 7): deterministic
    GIFs (formula contract on synthesize_gif_corpus — multi-frame,
    8-color palette, odd ids INTERLACED) are LZW-encoded, shipped
    through a binary column, decoded by the pure-Python LZW codec
    (operators/gif.py — variable code widths verified against the
    published sample stream, 4-pass de-interlace), and reduced to
    per-frame integer stats over the index plane and the
    palette-expanded RGB. The oracle replays the generator formula in
    closed-form SQL."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        gif_frame_stats,
        synthesize_gif_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_gif_corpus(spread_small_scan(d))
    return gif_frame_stats(media)


def media_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The header-metadata surface itself under the hash gate
    (round 7): a mixed corpus rotates PNG / APNG / GIF payloads per id,
    decode_media's dependency-free header parsers (IHDR + acTL/fcTL,
    logical screen descriptor + block walk) extract width / height /
    channels / frame count / duration, and the oracle recomputes every
    field from the three formula contracts in closed-form SQL."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        decode_media,
        synthesize_mixed_media_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_mixed_media_corpus(spread_small_scan(d))
    out = decode_media(media)
    return out.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_channels").alias("n_channels"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def media_jpeg_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode under the hash gate (round 7):
    deterministic constant-tile grayscale JPEGs (formula contract on
    synthesize_jpeg_corpus; DC quantizer 13 makes the lossy round trip
    exactly reproducible) are Huffman-encoded, shipped through a binary
    column, decoded by the pure-numpy codec (operators/jpeg.py —
    marker walk, in-file DHT/DQT tables, entropy decode with byte
    unstuffing, DC prediction, dequant + IDCT), and reduced to integer
    pixel stats. The oracle replays constant_block_round_trip(v, 13)
    per tile in closed-form SQL."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        jpeg_pixel_stats,
        synthesize_jpeg_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_jpeg_corpus(spread_small_scan(d))
    return jpeg_pixel_stats(media)


def media_resize_bilinear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear resample under the hash gate (round 7): synthetic PNGs
    -> decode -> half-pixel-center bilinear to 4x3 -> plain and
    position-weighted MEANS of the resampled samples. The oracle
    replays the identical float recipe (src = (dst+0.5)*scale-0.5,
    clamped corners, nested lerp in the same operation order) on the
    generator formula; means keep values at sample magnitude so the
    engines' different summation orders sit ~1e-12 inside the
    9-significant-digit compare."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.multimodal import (
        png_bilinear_stats,
        synthesize_png_corpus,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synthesize_png_corpus(spread_small_scan(d))
    return png_bilinear_stats(media, width=4, height=3)


def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting surface: whitespace tokens + BPE-ish pre-tokenizer
    pieces (functions/text.bpe_token_count) per document — the LLM
    token-budget estimator, lookahead-free so Java and RE2 agree."""
    from riskloc_spark.functions.text import bpe_token_count, token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_tokens"),
        bpe_token_count(F.col("text")).cast("int").alias("n_bpe_pieces"),
    )


def text_trigram_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-conditional trigram LM scorer under the hash gate
    (round 8): P(c3 | c1 c2) trained on the documents table itself, and
    each document scored by the mean log-probability of its trigrams
    (functions/text.trigram_lm_scores). The oracle replays the trigram
    explode, the conditional counts, and the mean log in SQL; both
    engines' natural logs agree far inside the 6-decimal round."""
    from riskloc_spark.functions.text import trigram_lm_scores

    d = load_table(spark, sf_dir, "documents")
    out = trigram_lm_scores(d)
    return out.select(
        "doc_id",
        F.col("n_trigrams").cast("long").alias("n_trigrams"),
        F.round("avg_logprob", 6).alias("avg_logprob"),
    )


def domain_caps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps under the hash gate (round 11;
    operators/sampling.cap_per_key): keep the 7 largest documents per
    source, n_chars-descending with the doc_id tiebreak — the oracle
    replays the ranked filter, and the WindowGroupLimit scale shape
    (map-side partial limit) is plan-asserted in the test suite."""
    from riskloc_spark.operators.sampling import cap_per_key

    d = load_table(spark, sf_dir, "documents")
    return cap_per_key(
        d, ["source"], 7, order_by=[F.col("n_chars").desc()]
    ).select("doc_id", "source", "n_chars")


def perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language head/middle/tail perplexity bucketing
    (round 11; functions/text.perplexity_buckets): trigram-LM scores
    rounded to the gate-proven 6 dp, histogrammed per (lang, score),
    integer cumulative bucket index over the tiny histogram, broadcast
    assignment back — the oracle replays the identical integer
    arithmetic, so a drift in the histogram, the cumulative window, or
    the straddling-tie rule breaks the hash."""
    from riskloc_spark.functions.text import perplexity_buckets

    d = load_table(spark, sf_dir, "documents")
    out = perplexity_buckets(d)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_trigrams").cast("long").alias("n_trigrams"),
        "avg_logprob",
        F.col("bucket").cast("int").alias("bucket"),
        "ppl_bucket",
    )


def _link_pages(d: DataFrame) -> DataFrame:
    """Closed-form link-bearing pages for the link_graph gate: each
    document becomes TWO pages.  Page A at
    https://{source}.EXample.com/dir/sub/ (mixed-case host exercises
    the lowercase rule) carries one anchor per resolution rule —
    absolute, protocol-relative, root-relative, relative,
    fragment-bearing absolute, DOTTED relative (../ pops per RFC 3986
    §5.2.4), query-only (?page=N takes the base path whole), and an
    interior-newline absolute href (the HTML URL preprocessing rule) —
    plus three that must be DROPPED (mailto:, javascript:,
    fragment-only).  Page B carries a <base href> tag: its relative,
    root-relative, and query anchors must all resolve against the
    BASE, not the page URL."""
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".EXample.com/dir/sub/page-"), did, F.lit(".html"),
    )
    html = F.concat(
        F.lit('<html><body>\n<a class="m" href="https://s-'),
        F.col("source"), F.lit(".example.com/p/"), did,
        F.lit('">abs</a>\n<a href="//cdn-'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('.example.net/lib">cdn</a>\n<a href="/about/'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">about</a>\n<a href="item-'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('.html">rel</a>\n<a href="https://x.example.org/page#sec-'),
        did,
        F.lit('">frag</a>\n<a href="../up-'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('.html">up</a>\n<a href="?page='),
        (F.col("doc_id") % 6).cast("string"),
        F.lit('">next</a>\n<a href="https://ws.example.org/a\n\tb-'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">ws</a>\n<a href="mailto:info@example.com">mail</a>\n'
              '<a href="#top">top</a>\n'
              '<a href="javascript:void(0)">js</a>\n</body></html>'),
    )
    page_a = d.select("doc_id", url.alias("url"), html.alias("html"))
    url_b = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".EXample.com/b/page-"), did, F.lit(".html"),
    )
    html_b = F.concat(
        F.lit('<html><head><base href="https://based-'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('.example.org/root/leaf.html"></head><body>\n'
              '<a href="n-'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.html">bn</a>\n<a href="/r/'),
        (F.col("doc_id") % 2).cast("string"),
        F.lit('">br</a>\n<a href="?q='),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('">bq</a>\n</body></html>'),
    )
    page_b = d.select(
        "doc_id", url_b.alias("url"), html_b.alias("html")
    )
    return page_a.unionAll(page_b)


def link_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor extraction + URL resolution under the hash gate (round
    11, extended round 12; operators/graph.extract_links): eight kept
    anchors on page A (one per resolution rule, now including dotted
    relative, query-only, and interior-whitespace hrefs), three kept
    anchors on the <base href>-bearing page B, three dropped schemes —
    the oracle enumerates the resolved URL and lowercased host for
    each rule closed-form from the original columns, so a drift in
    the href regex, the scheme filter, the origin/directory split,
    the §5.2.4 dot-segment fold, base-tag honoring, or the host
    lowercasing breaks the hash."""
    from riskloc_spark.operators.graph import extract_links

    d = load_table(spark, sf_dir, "documents")
    return extract_links(_link_pages(d), keep=["doc_id"])


# the pagerank gate's closed-form host graph: three edge families from
# doc_id arithmetic (a fixed backbone, a scale-growing family, and
# dangling-only targets h50-h56 that never appear as sources), distinct,
# self-loops removed — mirrored EXACTLY by _PAGERANK_EDGES_CTE below
def _pagerank_edges(d: DataFrame) -> DataFrame:
    s = F.col("doc_id") % 50
    fams = [
        (7 * (F.col("doc_id") % 50) + 1) % 50,
        (F.expr("doc_id div 50") + F.col("doc_id")) % 50,
        F.lit(50) + F.col("doc_id") % 7,
    ]
    raw = None
    for dst in fams:
        part = d.select(s.alias("s"), dst.alias("d"))
        raw = part if raw is None else raw.unionAll(part)
    return (
        raw.filter(F.col("s") != F.col("d"))
        .select(
            F.concat(F.lit("h"), F.col("s").cast("string")).alias("src"),
            F.concat(F.lit("h"), F.col("d").cast("string")).alias("dst"),
        )
        .distinct()
    )


_PAGERANK_EDGES_CTE = """edges AS (
              SELECT DISTINCT 'h' || CAST(s AS VARCHAR) AS src,
                              'h' || CAST(d AS VARCHAR) AS dst
              FROM (
                SELECT doc_id % 50 AS s,
                       (7 * (doc_id % 50) + 1) % 50 AS d FROM documents
                UNION ALL
                SELECT doc_id % 50, (doc_id // 50 + doc_id) % 50
                FROM documents
                UNION ALL
                SELECT doc_id % 50, 50 + doc_id % 7 FROM documents
              ) WHERE s <> d
            )"""


def host_degrees_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webgraph degree stats under the hash gate (round 11;
    operators/graph.host_degree_stats): out/in/reciprocal degree per
    host over the closed-form edge set — the oracle replays the
    distinct edges, both degree aggregations, and the transpose
    self-join that counts mutually-linked neighbour pairs."""
    from riskloc_spark.operators.graph import host_degree_stats

    d = load_table(spark, sf_dir, "documents")
    return host_degree_stats(_pagerank_edges(d), "src", "dst")


def pagerank_hosts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank under the hash gate (round 11;
    operators/graph.pagerank): 5 damped iterations over the closed-form
    host graph (57 nodes, 7 of them permanently dangling), every score
    a BIGINT in 1e12 fixed-point mass units — the oracle unrolls the
    identical floor-division arithmetic (graph.pagerank_sql), so a
    drift in the share division, the dangling redistribution, or the
    damping rational breaks the hash EXACTLY (no float tolerance)."""
    from riskloc_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents")
    # 57 nodes: an 8-wide edge set instead of the session's shuffle width
    return pagerank(
        _pagerank_edges(d), "src", "dst", iterations=5, partitions=8,
    )


def streaming_kpi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface under the correctness gate: the
    windowed KPI stream (riskloc_spark.streaming.windowed_kpi_stream)
    executed as bounded micro-batches (availableNow trigger) into a
    memory sink. Output is deterministic aggregates, so the DuckDB twin
    hash-checks the streaming path end-to-end (complete output mode —
    the watermark still bounds state, emission is not gated on it)."""
    import uuid

    from riskloc_spark.streaming.pipeline import events_stream, windowed_kpi_stream

    from riskloc_spark.operators.dedup import reuse_checkpoint

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    base = load_table(spark, sf_dir, "events")
    # static side of a stream-static join: re-executed per micro-batch
    # without the checkpoint (full events scan + agg each time)
    baseline = reuse_checkpoint(
        base.groupBy("event_type").agg(
            (F.sum("value") / F.count(F.lit(1))).alias("mean_value")
        )
    )
    out = windowed_kpi_stream(ev, baseline)
    name = "streaming_kpi_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_kpi: run did not finish in 300s")
    q.stop()
    return spark.table(name).select(
        "event_type",
        "window_start",
        "n_events",
        F.round("real", 4).alias("real"),
        F.round("predict", 6).alias("predict"),
        F.round("deviation", 6).alias("deviation"),
    )


def robustspot_supports_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robustspot's distributed mining-support interior (_supports_dist,
    operators/robustspot.py — ref mining.py support semantics): MANY
    causes as ONE conditional-count aggregation, including a 2-condition
    cause and a cause-LIST (support = sum of member supports). The
    driver sees len(causes) numbers, never rows."""
    from riskloc_spark.operators.robustspot import _supports_dist, adapt_frame

    df = adapt_frame(rca_events(spark, sf_dir), derived=False)
    causes = [
        (("event_type", "click"),),
        (("event_type", "view"),),
        (("hr", 3),),
        (("ub", 5),),
        (("event_type", "click"), ("hr", 3)),
        [(("event_type", "view"),), (("ub", 5),)],
    ]
    labels = [
        "event_type=click",
        "event_type=view",
        "hr=3",
        "ub=5",
        "event_type=click&hr=3",
        "[event_type=view;ub=5]",
    ]
    sup = _supports_dist(df, causes)
    rows = [(l, round(float(s), 9)) for l, s in zip(labels, sup)]
    return local_rows_df(spark, rows, "cause string, support double")


def hotspot_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hotspot SEARCH itself (not just its stats) under the oracle:
    on a 2-dim slice of the RCA frame with 2 values per dimension, every
    cuboid has <= 4 elements, so the MCTS permutation tree has <= 64
    nodes and m=200 iterations enumerate it EXHAUSTIVELY — the returned
    candidate is the exact argmax of gps over all element subsets of all
    cuboids, which DuckDB reproduces by bitmask subset enumeration.
    pt=1.5 (> the gps upper bound of 1) disables early exit so argmax
    semantics hold. The rng only affects exploration order, not the
    exhaustive argmax (verified: seeds 0..4 return identical results)."""
    from riskloc_spark.operators.hotspot import hotspot

    df = rca_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error") & F.col("ub").isin(1, 5)
    )
    best = hotspot(
        df, ["event_type", "ub"], pt=1.5, m=200, scoring="gps", seed=0
    )
    elements = sorted(
        "&".join(f"{d}={v}" for d, v in zip(best["cuboid"], e))
        for e in best["elements"]
    )
    row = (
        best["layer"],
        "&".join(best["cuboid"]),
        ";".join(elements),
        round(float(best["score"]), 6),
    )
    return local_rows_df(spark, 
        [row], "layer int, cuboid string, elements string, score double"
    )


def rev_adtributor_rec_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL recursive r_adtributor under the oracle via the 2-dim
    slice trick (hotspot_search's move): with dimensions =
    [event_type, ub] the recursion depth is exactly two, so the whole
    operator — level-0 candidate selection, per-parent-element child
    candidate sets over the remaining dimension, the
    every-element-must-refine replacement rule, EP multiplication down
    the refinement, and the reference's concatenated-values dedupe
    (rev_rec_adtributor.py:6-12, faithfully including its
    separator-free key) — is SQL-expressible
    (_rev_adtributor_rec_sql). The per-level candidate surface for 3
    dims stays covered by rev_adtributor."""
    from riskloc_spark.operators.adtributor import rev_rec_adtributor

    df = rca_events(spark, sf_dir)
    out = rev_rec_adtributor(df, ["event_type", "ub"], teep=0.05, k=2)
    rows = [
        (
            "&".join(cs["cuboid"]),
            ";".join(",".join(e) for e in cs["elements"]),
            round(float(cs["explanatory_power"]), 6),
            round(float(cs["surprise"]), 6),
        )
        for cs in out
    ]
    return local_rows_df(spark, 
        rows, "cuboid string, elements string, ep double, surprise double"
    )


def streaming_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) under the
    gate: the events file plus an exact-duplicate copy of every 13th
    event are staged as ONE availableNow batch, so the in-batch dedup
    semantics are deterministic (duplicates are bit-identical rows —
    whichever copy survives, the emitted set is the distinct events).
    The DuckDB twin is the original events relation itself. The
    watermark-bounded state EVICTION semantics (a duplicate arriving
    after its key aged out is re-emitted — the explicit bounded-state
    trade) are pinned empirically in
    tests/test_streaming.py::test_streaming_dedup_state_eviction."""
    import os
    import shutil
    import tempfile
    import uuid

    from riskloc_spark.data import load_table
    from riskloc_spark.operators.dedup import reuse_checkpoint
    from riskloc_spark.streaming.pipeline import (
        dedup_events_stream,
        events_stream,
    )

    # both staged-file writes scan events — checkpoint once (the a.parquet
    # write is the materializing action; the duplicate-subset write reads
    # the checkpoint instead of re-scanning)
    ev = reuse_checkpoint(load_table(spark, sf_dir, "events"))
    stage = tempfile.mkdtemp(prefix="sdedup_")
    try:
        stream_dir = os.path.join(stage, "stream")
        os.makedirs(stream_dir)
        for name, frame in (
            ("a.parquet", ev),
            ("b.parquet", ev.filter(F.col("event_id") % 13 == 0)),
        ):
            out_dir = os.path.join(stage, name + ".dir")
            frame.coalesce(1).write.mode("overwrite").parquet(out_dir)
            part = [
                f for f in os.listdir(out_dir) if f.startswith("part-")
            ][0]
            shutil.move(
                os.path.join(out_dir, part), os.path.join(stream_dir, name)
            )
        stream = events_stream(spark, stream_dir)
        out = dedup_events_stream(stream, ["event_id"], watermark="2 hours")
        qname = "streaming_dedup_" + uuid.uuid4().hex[:8]
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming_dedup: run did not finish in 300s")
        q.stop()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(qname).select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )


def streaming_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup suppression under the hash gate (round 8):
    documents stream through the LSH-bucket stateful operator
    (near_dup_events_stream) in one availableNow batch with the
    PORTABLE md5 hash family, so the DuckDB twin replays the full
    pipeline — shingles, 32 seeded minhashes, 16 banded buckets, the
    per-bucket earliest-(ts,id) representative, and the signature-
    agreement verdict — in closed-form SQL. ts is derived monotonically
    from doc_id, so "first arrival" == MIN(doc_id) per bucket and the
    single-batch semantics are deterministic."""
    import uuid

    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.streaming.pipeline import near_dup_events_stream

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    # the file-stream source requires a DIRECTORY: point at sf_dir and
    # glob-filter to the documents file (the events_stream translation)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id")
            ).alias("ts"),
        )
    )
    # 8 bands (the operator default): the stateful op is group-count-
    # bound (one Python update() per (band, bucket)), so the gate keeps
    # the group count at docs x 8
    flags = near_dup_events_stream(
        stream, bands=8, jaccard_threshold=0.5, hash_fn=md5_hash64
    )
    qname = "streaming_near_dup_" + uuid.uuid4().hex[:8]
    q = (
        flags.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_near_dup: run did not finish in 300s")
    q.stop()
    return spark.table(qname).select(
        "doc_id",
        F.col("band").cast("int").alias("band"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


def hotspot_search_ps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hotspot's ps-scoring search variant under the oracle — the same
    exhaustive 2-dim slice as hotspot_search, scoring='ps' (euclidean
    ripple-replacement distance, ref hotspot.py:29-37): the argmax now
    exercises the P_e/Q_e squared-residual decomposition and the
    sqrt/clamp decision, previously covered only by element stats +
    the scorer-decomposition unit test."""
    from riskloc_spark.operators.hotspot import hotspot

    df = rca_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error") & F.col("ub").isin(1, 5)
    )
    best = hotspot(
        df, ["event_type", "ub"], pt=1.5, m=200, scoring="ps", seed=0
    )
    elements = sorted(
        "&".join(f"{d}={v}" for d, v in zip(best["cuboid"], e))
        for e in best["elements"]
    )
    row = (
        best["layer"],
        "&".join(best["cuboid"]),
        ";".join(elements),
        round(float(best["score"]), 6),
    )
    return local_rows_df(spark, 
        [row], "layer int, cuboid string, elements string, score double"
    )


def streaming_kpi_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode + watermark streaming gate — the bounded-state path
    (streaming_kpi runs complete mode, which retains every window in
    state; this is the shape a continuous production stream must use).

    The events table is re-staged as three mtime-ordered stream files:
    A = on-time rows with ts < max - 1h (bulk), A2 = on-time rows in
    the last hour (keeps the newest windows open and carries the max-ts
    row), B = the planted-late subset (event_id % 97 == 0 AND
    ts < max - 5h). Three files because Spark's late-input filter uses
    a one-trigger-LAGGING watermark (verified empirically: late rows in
    the batch right after the bulk are accepted — numRowsDroppedByWatermark
    = 0 — and wrongly emitted; in the third batch the filter watermark
    is max(A) - 2h and every B row is dropped). State eviction uses the
    current-batch watermark, so across batches the emitted set is
    exactly the windows with window_end <= max_ts - 2h (emission rule
    window_end <= wm, also verified), aggregated over on-time rows
    only. The DuckDB twin reproduces that window set in SQL — planted
    late rows excluded, open windows excluded."""
    import datetime
    import os
    import shutil
    import tempfile
    import uuid

    from riskloc_spark.operators.dedup import reuse_checkpoint
    from riskloc_spark.streaming.pipeline import events_stream, windowed_kpi_stream

    # FIVE consumers scan events before the stream starts (max-ts probe,
    # three staged-file writes, the baseline aggregation) — checkpoint
    # once so the scan+decode happens once (the r15 multi-branch rule);
    # the max-ts collect is the materializing action
    ev = reuse_checkpoint(load_table(spark, sf_dir, "events"))
    mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    late_cut = mx - datetime.timedelta(hours=5)
    fresh_cut = mx - datetime.timedelta(hours=1)
    late_cond = (F.col("event_id") % 97 == 0) & (F.col("ts") < F.lit(late_cut))

    stage = tempfile.mkdtemp(prefix="skpi_append_")
    try:
        stream_dir = os.path.join(stage, "stream")
        os.makedirs(stream_dir)
        for name, frame, mtime in (
            ("a.parquet", ev.filter(~late_cond & (F.col("ts") < F.lit(fresh_cut))), 1_000_000),
            ("a2.parquet", ev.filter(~late_cond & (F.col("ts") >= F.lit(fresh_cut))), 1_000_100),
            ("b.parquet", ev.filter(late_cond), 1_000_200),
        ):
            out_dir = os.path.join(stage, name + ".dir")
            frame.coalesce(1).write.mode("overwrite").parquet(out_dir)
            part = [f for f in os.listdir(out_dir) if f.startswith("part-")][0]
            dst = os.path.join(stream_dir, name)
            shutil.move(os.path.join(out_dir, part), dst)
            os.utime(dst, (mtime, mtime))

        from riskloc_spark.operators.dedup import reuse_checkpoint

        # static side of the stream-static baseline join — without the
        # checkpoint all three micro-batches re-scan events and re-run
        # the aggregation
        baseline = reuse_checkpoint(
            ev.groupBy("event_type").agg(
                (F.sum("value") / F.count(F.lit(1))).alias("mean_value")
            )
        )
        stream = events_stream(
            spark, stream_dir, options={"maxFilesPerTrigger": "1"}
        )
        out = windowed_kpi_stream(
            stream, baseline, window="1 hour", watermark="2 hours"
        )
        qname = "streaming_kpi_append_" + uuid.uuid4().hex[:8]
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError(
                "streaming_kpi_append: availableNow run did not finish in "
                "300s — emitted window set would be truncated"
            )
        # Pin the Spark behavior the gate depends on: every planted
        # late row (file b) must be dropped by the watermark. If a
        # Spark version changes late-row admission timing, fail HERE
        # with a diagnosable message, not as an opaque hash mismatch.
        # numRowsDroppedByWatermark counts rows entering the STATE
        # operator — i.e. map-side PARTIAL aggregates of the late
        # events, not raw events — so the exact count depends on how
        # the partial aggregation batched them: bounded below by the
        # late rows' distinct (window, event_type) group count and
        # above by the raw late-row count.
        n_late = ev.filter(late_cond).count()
        n_groups = (
            ev.filter(late_cond)
            .select(F.window("ts", "1 hour"), "event_type")
            .distinct()
            .count()
        )
        n_dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p.get("stateOperators", [])
        )
        q.stop()
        if not (n_groups <= n_dropped <= n_late):
            raise AssertionError(
                f"streaming_kpi_append: watermark dropped {n_dropped} "
                f"state-input rows, expected between {n_groups} (late "
                f"group count) and {n_late} (raw late rows) — Spark's "
                "late-input admission semantics changed; re-pin the staging"
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(qname).select(
        "event_type",
        "window_start",
        "n_events",
        F.round("real", 4).alias("real"),
        F.round("predict", 6).alias("predict"),
        F.round("deviation", 6).alias("deviation"),
    )


def _squeeze_dev_array(spark: SparkSession, sf_dir: str):
    """Shared driver-side deviation array for the squeeze clustering
    gates — ONE copy of the min-real shift (squeeze()'s driver path) and
    scores.half_deviation, so the four gates can never drift apart on
    it."""
    import numpy as np

    df = rca_events(spark, sf_dir).filter(F.col("predict") > 0)
    pdf = df.select(
        F.col("real").cast("double"), F.col("predict").cast("double")
    ).toPandas()
    real = pdf["real"].to_numpy()
    mn = float(real.min()) if len(real) else 0.0
    if mn < 0:
        real = real - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        return half_deviation(NUMPY_OPS, real, pdf["predict"].to_numpy())


def squeeze_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """squeeze's density CLUSTERING itself (density_cluster_1d — the
    driver-numpy phase with no prior oracle coverage) under the gate,
    on the fixed-bar-width branch, which is SQL-expressible end to end:
    histogram over arange edges (density-normalized), auto smoothing
    window (nonzero bins // 10), trailing-mean smoothing, CIRCULAR
    relextrema (np.roll wrap), minima boundaries, member ranges, and
    the mean(|dev|) >= max_normal_deviation (0.20) filter. Deviation and the
    min-real shift mirror squeeze()'s driver path exactly."""
    from riskloc_spark.operators.squeeze import SqueezeOptions, density_cluster_1d

    dev = _squeeze_dev_array(spark, sf_dir)
    ranges = density_cluster_1d(
        dev, SqueezeOptions(histogram_bar_width=0.05)
    )
    rows = [
        (i, round(lo, 6), round(hi, 6)) for i, (lo, hi) in enumerate(ranges)
    ]
    return local_rows_df(spark, 
        rows, "cluster int, lo double, hi double"
    )


def squeeze_clusters_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """squeeze's DEFAULT clustering surface under the gate:
    histogram_bar_width='auto' — np.histogram_bin_edges(array, 'auto')
    (min(Freedman-Diaconis, Sturges) width, type-7 IQR with numpy's
    lerp branch, linspace edges) plus the reference's edge padding
    (whose LEFT pad is an empty Python range — mirrored faithfully),
    then the same density/smoothing/extrema walk
    (ref density_cluster.py:37-41)."""
    from riskloc_spark.operators.squeeze import SqueezeOptions, density_cluster_1d

    dev = _squeeze_dev_array(spark, sf_dir)
    ranges = density_cluster_1d(dev, SqueezeOptions())  # auto bar width
    rows = [
        (i, round(lo, 6), round(hi, 6)) for i, (lo, hi) in enumerate(ranges)
    ]
    return local_rows_df(spark, 
        rows, "cluster int, lo double, hi double"
    )


def squeeze_auto_edges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-bin-edge algebra itself under the gate (companion to
    squeeze_clusters_auto, whose cluster output is empty at the larger
    scales): np.histogram_bin_edges(dev, 'auto') + the reference's edge
    padding, emitted as (i, edge) — non-empty and data-dependent at
    every scale, so the FD/Sturges/percentile/linspace algebra is
    hash-checked even where the downstream max_normal filter leaves no
    clusters."""
    import numpy as np

    dev = _squeeze_dev_array(spark, sf_dir)
    edges = np.histogram_bin_edges(dev, "auto").tolist()
    edges = [edges[0] - 0.1 * i for i in range(-5, 0, -1)] + edges + [
        edges[-1] + 0.1 * i for i in range(1, 6)
    ]
    return local_rows_df(spark, 
        [(i, round(e, 6)) for i, e in enumerate(edges)], "i int, edge double"
    )


def _metric_box_density(x, v, c):
    """Box density for the KPI pre-filter gate: halfwidth scaled to the
    metric range (metrics span arbitrary magnitudes, unlike deviations).
    (max - min) / 20.0 is one subtraction + one division — exact in
    both engines (SQL: (MAX(metric) - MIN(metric)) / 2e1)."""
    import numpy as np

    from riskloc_spark.operators.squeeze import box_density

    return box_density(
        x, v, c, halfwidth=float((np.max(v) - np.min(v)) / 20.0)
    )


def squeeze_clusters_kde_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """squeeze's KDE clustering branch under the gate via the injectable
    density (kde_density_fn=box_density — the density-level analogue of
    autoroot's cluster_ends): the non-bit-portable gaussian exp() grid
    is replaced by portable box counting, and everything else in the
    kde branch runs for REAL — the arange(min, max, 0.01) sample grid
    (numpy fill semantics), the (1,2,1) smoothing-kernel np.convolve
    ('full', truncated, /4), the auto smoothing window, circular
    relextrema, minima boundaries, member ranges, and the max_normal
    filter (ref density_cluster.py:27-33 kde branch)."""
    from riskloc_spark.operators.squeeze import (
        SqueezeOptions,
        box_density,
        density_cluster_1d,
    )

    dev = _squeeze_dev_array(spark, sf_dir)
    ranges = density_cluster_1d(
        dev,
        SqueezeOptions(
            density_estimation_method="kde",
            density_smooth_conv_kernel=(1.0, 2.0, 1.0),
            kde_density_fn=box_density,
        ),
    )
    rows = [
        (i, round(lo, 6), round(hi, 6)) for i, (lo, hi) in enumerate(ranges)
    ]
    return local_rows_df(spark, 
        rows, "cluster int, lo double, hi double"
    )


def squeeze_search_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL squeeze search with enable_filter=True under the gate —
    the last excluded option of the search surface (ref
    anomaly_amount_fileter.py). The KPI pre-filter's KDE is replaced by
    the injected box density (filter_density_fn); the CDF cumsum,
    kneedle knee, min-fallback, metric > threshold row filter, and the
    entire downstream search run for REAL, replayed by
    _squeeze_search_sql(variant='filtered')."""
    from riskloc_spark.operators.squeeze import SqueezeOptions, squeeze

    df = rca_events(spark, sf_dir)
    causes = squeeze(
        df,
        RCA_ATTRIBUTES,
        options=SqueezeOptions(
            histogram_bar_width=0.05,
            enable_filter=True,
            filter_density_fn=_metric_box_density,
        ),
    )
    return local_rows_df(spark, 
        [(c,) for c in causes], "root_cause string"
    )


def squeeze_search_derived_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure twin of squeeze_search: the full operator in
    derived mode (KPI = a/b ratio for deviation/clustering/ps
    distances, ripple ratios from the SEPARATE summed a/b measures —
    ref squeeze.py:192-199) on the same SQL-expressible option
    surface, replayed by _squeeze_search_sql(derived=True)."""
    from riskloc_spark.operators.squeeze import SqueezeOptions, squeeze

    df = rca_events_derived(spark, sf_dir)
    causes = squeeze(
        df,
        RCA_ATTRIBUTES,
        options=SqueezeOptions(
            histogram_bar_width=0.05, enable_filter=False
        ),
        derived=True,
    )
    return local_rows_df(spark, 
        [(c,) for c in causes], "root_cause string"
    )


def autoroot_search_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autoroot SEARCH + MERGE under the oracle: the real operator
    with injectable cluster boundaries (cluster_ends=[inf, 0.0] — two
    deterministic pseudo-clusters replacing the KDE fit, whose exp()
    grid is the one numpy piece with no bit-portable SQL twin). The
    whole remainder is replayed in SQL: relevance filter, cluster
    assignment, per-(cluster x cuboid) NPS candidates with the x/z and
    LF > 0.1 filters, the leaf-cuboid skip, (NPS, elem) winners,
    (avg, cuboid-order) per-cluster best, and merge_root_causes'
    same-layer + parent/child subset drops."""
    from riskloc_spark.operators.autoroot import autoroot

    df = rca_events(spark, sf_dir)
    causes = autoroot(
        df, RCA_ATTRIBUTES, cluster_ends=[float("inf"), 0.0]
    )
    rows = [
        (
            "&".join(
                sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))
            ),
            int(rc["layer"]),
            round(float(rc["avg"]), 6),
        )
        for rc in causes
        for el in rc["elements"]
    ]
    return local_rows_df(spark, 
        rows, "root_cause string, layer int, avg_score double"
    )


def autoroot_kde_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autoroot KDE-clustering path under the oracle via the
    injectable density (kde_density_fn=box_density — one level deeper
    than autoroot_search_fixed's cluster_ends): only the gaussian exp()
    kernel sum is replaced by portable box counting; the REAL
    linspace(-2, 2, 400) grid, strict-minima boundary detection
    (ref autoroot.py:30-47), descending ends ordering, cluster
    assignment, and the whole search + merge run for real, so the
    data-dependent boundary derivation the fixed-ends gate skipped is
    now hash-checked (_autoroot_kde_sql)."""
    from riskloc_spark.operators.autoroot import autoroot
    from riskloc_spark.operators.squeeze import box_density

    df = rca_events(spark, sf_dir)
    causes = autoroot(df, RCA_ATTRIBUTES, kde_density_fn=box_density)
    rows = [
        (
            "&".join(
                sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))
            ),
            int(rc["layer"]),
            round(float(rc["avg"]), 6),
        )
        for rc in causes
        for el in rc["elements"]
    ]
    return local_rows_df(spark, 
        rows, "root_cause string, layer int, avg_score double"
    )


def robustspot_round0_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robustspot's ROUND-0 mining under the oracle: the real driver
    pipeline (_select_frame -> _mine) on the adapted non-derived frame —
    ID scoring, the kneedle ID threshold over raw positive IDs, integer
    amplified weights, weighted-mode frequent items, association-rule
    confidence (> 0.8) over the frequent-item powerset, support deltas
    (exact integer-count ratios), and the (delta, cause) ranking. The
    DuckDB twin replays every step; confidences and deltas are ratios
    of integers so the only FP surface is the ID/kneedle algebra (same
    formulas both engines). Rounds 1-6 only re-run this on
    cause-filtered frames (covered by rows-only robustspot_rca +
    dual-path parity)."""
    from riskloc_spark.operators.robustspot import (
        _mine,
        _select_frame,
        adapt_frame,
    )

    base = adapt_frame(rca_events(spark, sf_dir), derived=False)
    for d in RCA_ATTRIBUTES:
        base = base.withColumn(
            d, F.coalesce(F.col(d).cast("string"), F.lit("None"))
        )
    pdf0 = base.select(
        *RCA_ATTRIBUTES,
        "k_real",
        "k_predict",
        "cnt_real",
        "cnt_predict",
        "value_real",
        "value_predict",
    ).toPandas()
    # non-derived robustspot: contribution_ability_threshold = -1
    before, after, w = _select_frame(pdf0, RCA_ATTRIBUTES, False, -1, 100)
    mined = _mine(before, after, w, RCA_ATTRIBUTES, 0.8)
    rows = [
        (i, "&".join(f"{c}={v}" for c, v in cause))
        for i, cause in enumerate(mined)
    ]
    return local_rows_df(spark, rows, "rnk int, root_cause string")


def robustspot_round1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robustspot's ROUND-1 mining under the oracle: round 0's top cause
    is dropped from the adapted frame (ref robustspot.py:54-69
    drop_top) and the WHOLE mining round re-runs on the residual — the
    ID/CA leave-one-out sums, kneedle threshold, weights, frequent
    items, rules, and deltas all change with the removed rows, which is
    the per-round recomputation the round-0 gate could not cover
    (_robustspot_round1_sql)."""
    from riskloc_spark.operators.robustspot import (
        _match_mask,
        _mine,
        _select_frame,
        adapt_frame,
    )

    base = adapt_frame(rca_events(spark, sf_dir), derived=False)
    for d in RCA_ATTRIBUTES:
        base = base.withColumn(
            d, F.coalesce(F.col(d).cast("string"), F.lit("None"))
        )
    pdf0 = base.select(
        *RCA_ATTRIBUTES,
        "k_real",
        "k_predict",
        "cnt_real",
        "cnt_predict",
        "value_real",
        "value_predict",
    ).toPandas()
    before0, after0, w0 = _select_frame(pdf0, RCA_ATTRIBUTES, False, -1, 100)
    mined0 = _mine(before0, after0, w0, RCA_ATTRIBUTES, 0.8)
    rows = []
    if mined0:
        resid = before0[~_match_mask(before0, mined0[0])]
        b1, a1, w1 = _select_frame(resid, RCA_ATTRIBUTES, False, -1, 100)
        mined1 = _mine(b1, a1, w1, RCA_ATTRIBUTES, 0.8)
        rows = [
            (i, "&".join(f"{c}={v}" for c, v in cause))
            for i, cause in enumerate(mined1)
        ]
    return local_rows_df(spark, rows, "rnk int, root_cause string")


def riskloc_two_pass_derived_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure twin of riskloc_two_pass: two search iterations
    with found-cause removal in derived mode, replayed by
    _riskloc_two_pass_sql(derived=True)."""
    from riskloc_spark.operators.riskloc import riskloc

    df = rca_events_derived(spark, sf_dir)
    causes = riskloc(
        df, RCA_ATTRIBUTES, risk_threshold=0.3, derived=True,
        max_iterations=2,
    )
    rows = []
    for i, rc in enumerate(causes[:2]):
        el = rc["elements"][0]
        rows.append(
            (
                i,
                "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))),
                int(rc["layer"]),
                round(float(rc["ep_score"]), 6),
                round(float(rc["risk score"]), 6),
                round(float(rc["high risk score"]), 6),
                round(float(rc["low risk score"]), 6),
            )
        )
    return local_rows_df(spark, 
        rows,
        "iteration int, root_cause string, layer int, ep_score double,"
        " risk double, high double, low double",
    )


def riskloc_first_cause_derived_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure twin of riskloc_first_cause: the full operator in
    derived mode (a/b-split EP normalized by its own sum, KPI = a/b
    ratio) with max_iterations=1, replayed end-to-end by
    _riskloc_first_cause_sql(derived=True)."""
    from riskloc_spark.operators.riskloc import riskloc

    df = rca_events_derived(spark, sf_dir)
    causes = riskloc(
        df, RCA_ATTRIBUTES, risk_threshold=0.3, derived=True,
        max_iterations=1,
    )
    rows = []
    for rc in causes[:1]:
        el = rc["elements"][0]
        rows.append(
            (
                "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))),
                int(rc["layer"]),
                round(float(rc["ep_score"]), 6),
                round(float(rc["risk score"]), 6),
                round(float(rc["high risk score"]), 6),
                round(float(rc["low risk score"]), 6),
            )
        )
    return local_rows_df(spark, 
        rows,
        "root_cause string, layer int, ep_score double, risk double,"
        " high double, low double",
    )


def robustspot_round0_derived_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-measure twin of robustspot_round0: adapt_frame in derived
    mode (flip: value = b - a, k = value/cnt), CA threshold 0.0 and
    weights trunc(ID*CA*100) — the full derived round-0 mining
    (_select_frame -> _mine) replayed by _robustspot_round0_sql
    (derived=True)."""
    from riskloc_spark.operators.robustspot import (
        _mine,
        _select_frame,
        adapt_frame,
    )

    base = adapt_frame(rca_events_derived(spark, sf_dir), derived=True)
    for d in RCA_ATTRIBUTES:
        base = base.withColumn(
            d, F.coalesce(F.col(d).cast("string"), F.lit("None"))
        )
    pdf0 = base.select(
        *RCA_ATTRIBUTES,
        "k_real",
        "k_predict",
        "cnt_real",
        "cnt_predict",
        "value_real",
        "value_predict",
    ).toPandas()
    # lambda = 10_000: this frame's CA magnitudes (~1e-2, from the 2%
    # derived b-bias) truncate to all-zero weights at the default 100,
    # which degenerates the mining to the empty path at every sf
    before, after, w = _select_frame(
        pdf0, RCA_ATTRIBUTES, True, 0.0, 10_000
    )
    mined = _mine(before, after, w, RCA_ATTRIBUTES, 0.8)
    rows = [
        (i, "&".join(f"{c}={v}" for c, v in cause))
        for i, cause in enumerate(mined)
    ]
    return local_rows_df(spark, rows, "rnk int, root_cause string")


def squeeze_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL squeeze search under the oracle: the real operator with
    histogram_bar_width=0.05 (the SQL-expressible clustering branch,
    see squeeze_clusters) and enable_filter=False (the KPI pre-filter's
    KDE knee is driver-numpy-only). Everything else is the operator's
    default surface — clustering, normal mask, auto score_weight,
    per-(cluster x cuboid) locate with descent ranking, ripple ratios,
    ps-score argmax, ps_upper_bound layer cut, rank-based winner, and
    root-cause string assembly — replayed end-to-end by
    _squeeze_search_sql."""
    from riskloc_spark.operators.squeeze import SqueezeOptions, squeeze

    df = rca_events(spark, sf_dir)
    causes = squeeze(
        df,
        RCA_ATTRIBUTES,
        options=SqueezeOptions(
            histogram_bar_width=0.05, enable_filter=False
        ),
    )
    return local_rows_df(spark, 
        [(c,) for c in causes], "root_cause string"
    )


def riskloc_first_cause_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The riskloc SEARCH itself (first pass) under the oracle: the full
    operator with max_iterations=1 — prepared frame, layer-1 pruning,
    all-7-cuboid element scoring, candidate thresholds, and the
    reference scan order are all deterministic (no rng), so DuckDB
    replays the complete first search pass in SQL
    (_riskloc_first_cause_sql). Iterations beyond the first only add
    found-cause row removal (the iteration loop of riskloc()) and stay
    covered by the rows-only riskloc_rca + planted-cause + dual-path
    parity."""
    from riskloc_spark.operators.riskloc import riskloc

    df = rca_events(spark, sf_dir)
    causes = riskloc(df, RCA_ATTRIBUTES, risk_threshold=0.3, max_iterations=1)
    rows = []
    for rc in causes[:1]:
        el = rc["elements"][0]
        rows.append(
            (
                "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))),
                int(rc["layer"]),
                round(float(rc["ep_score"]), 6),
                round(float(rc["risk score"]), 6),
                round(float(rc["high risk score"]), 6),
                round(float(rc["low risk score"]), 6),
            )
        )
    return local_rows_df(spark, 
        rows,
        "root_cause string, layer int, ep_score double, risk double,"
        " high double, low double",
    )


def riskloc_two_pass_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """riskloc's ITERATIVE found-cause removal under the oracle: the
    full operator with max_iterations=2. Pass 1 is the deterministic
    first search (riskloc_first_cause); the winner's rows are then
    excluded from the SAME prepared frame (no recomputation of
    ep/cutoff/partition/weight — riskloc.py keeps found causes as an
    exclusion predicate over the one cached base) and the search
    re-runs with the accumulated layer-1 prune state, gated on the
    per-iteration anomalous-ep stop check. DuckDB replays both passes
    (_riskloc_two_pass_sql), closing the iteration logic that was
    previously covered only by rows-only checks + planted-cause
    tests."""
    from riskloc_spark.operators.riskloc import riskloc

    df = rca_events(spark, sf_dir)
    causes = riskloc(df, RCA_ATTRIBUTES, risk_threshold=0.3, max_iterations=2)
    rows = []
    for i, rc in enumerate(causes[:2]):
        el = rc["elements"][0]
        rows.append(
            (
                i,
                "&".join(sorted(f"{d}={v}" for d, v in zip(rc["cuboid"], el))),
                int(rc["layer"]),
                round(float(rc["ep_score"]), 6),
                round(float(rc["risk score"]), 6),
                round(float(rc["high risk score"]), 6),
                round(float(rc["low risk score"]), 6),
            )
        )
    return local_rows_df(spark, 
        rows,
        "iteration int, root_cause string, layer int, ep_score double,"
        " risk double, high double, low double",
    )


def streaming_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator (ewma_anomaly_stream,
    applyInPandasWithState) under the hash gate: with the whole events
    file in one availableNow batch, the emit-on-close EWMA semantics
    are deterministic — per event_type, hourly windows in time order,
    each closed window emitted with predict = EWMA of prior windows
    (seeded with the first window's real), the LAST window left open
    and never emitted. The DuckDB twin replays the same recursion with
    a recursive CTE over ROW_NUMBER-indexed windows."""
    import uuid

    from riskloc_spark.streaming.pipeline import (
        events_stream,
        ewma_anomaly_stream,
    )

    ev = events_stream(spark, f"{sf_dir}/events.parquet")
    out = ewma_anomaly_stream(ev, alpha=0.3, threshold=0.5)
    qname = "streaming_ewma_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_ewma: run did not finish in 300s")
    q.stop()
    return spark.table(qname).select(
        "event_type",
        "window_start",
        F.round("real", 4).alias("real"),
        F.round("predict", 6).alias("predict"),
        F.round("deviation", 6).alias("deviation"),
        "is_anomaly",
    )


# --------------------------------------------------------------------------
# Corpus-quality gates (Gopher repetition / filter, C4 cleaning, PII,
# tf-idf) — functions/quality.py
# --------------------------------------------------------------------------


def _quality_framed(d: DataFrame) -> DataFrame:
    """Synthetic multi-line corpus for the Gopher-stat gates: the test
    documents are single-line, so frame each as a 4-line page — a
    per-source menu line, the body TWICE (a planted duplicate line), and
    a per-lang contact footer — built from the REAL table so the oracle
    reconstructs it verbatim."""
    return d.select(
        "doc_id",
        F.concat(
            F.col("source"),
            F.lit(" site menu\n"),
            F.col("text"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\ncontact "),
            F.col("lang"),
        ).alias("text"),
    )


def quality_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition statistics (functions/quality.repetition_stats,
    Rae et al. 2021 App. A) under the hash gate: duplicate-line fraction
    and char mass, top-2/3-gram coverage, (count-1)-weighted duplicate
    5/6-gram mass — computed as a zero-shuffle sorted-run fold in Spark
    and replayed as unnest + GROUP BY in the oracle (same values, fully
    independent evaluation strategy)."""
    from riskloc_spark.functions.quality import repetition_stats

    d = load_table(spark, sf_dir, "documents")
    out = repetition_stats(_quality_framed(d), top_ns=(2, 3), dup_ns=(5, 6))
    return out.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_words").cast("int").alias("n_words"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("top_3gram_char_frac", 6).alias("top_3gram_char_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_char_frac"),
        F.round("dup_6gram_char_frac", 6).alias("dup_6gram_char_frac"),
    )


# gate thresholds for gopher_quality: tuned so the framed sf corpus
# exercises a mix of kept pages and several distinct failure reasons
_GOPHER_GATE_KW: dict[str, Any] = dict(
    min_words=30,
    max_words=160,
    min_mean_word_len=2.5,
    max_mean_word_len=6.0,
    max_ellipsis_line_frac=0.3,
    min_alpha_word_frac=0.8,
    min_stopword_hits=1,
    max_dup_line_frac=0.4,
    max_dup_line_char_frac=0.95,
    top_ngram_limits=((2, 0.12),),
    dup_ngram_limits=((5, 2.0),),
)


def quality_gopher_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality verdict (functions/quality
    .gopher_quality): the full rule chain — length and mean-word-length
    bands, ellipsis/alpha/stopword rules, then the repetition thresholds
    — with the FIRST failing rule as the reason. The oracle replays the
    stats and the same CASE chain."""
    from riskloc_spark.functions.quality import gopher_quality

    d = load_table(spark, sf_dir, "documents")
    out = gopher_quality(_quality_framed(d), **_GOPHER_GATE_KW)
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.col("stopword_hits").cast("int").alias("stopword_hits"),
        F.coalesce(F.col("reason"), F.lit("none")).alias("reason"),
        "kept",
    )


def _c4_framed(d: DataFrame) -> DataFrame:
    """Synthetic page corpus for the C4 gate: a nav line without
    terminal punctuation, the body with a punctuated tail, then
    id-derived plantings of the C4 drop rules (a javascript line, a
    lorem-ipsum phrase, a curly brace), a too-short line, and a clean
    closing line."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("Site nav menu\n"),
            F.col("text"),
            F.lit(" extra tail here."),
            F.when(did % 13 == 0, F.lit("\nuses javascript today.")).otherwise(
                F.lit("")
            ),
            F.when(did % 97 == 0, F.lit("\nlorem ipsum block here.")).otherwise(
                F.lit("")
            ),
            F.when(did % 89 == 0, F.lit("\nbrace { line here.")).otherwise(
                F.lit("")
            ),
            F.lit("\nOk.\nThis closing line stays right here."),
        ).alias("text"),
    )


def c4_line_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (functions/quality.c4_line_audit, Raffel
    et al. 2020 §2.2) under the hash gate: terminal-punctuation and
    min-word line retention, the javascript line rule, and the
    lorem-ipsum / curly-brace / min-kept-lines page rules, with the
    cleaned text itself hash-compared."""
    from riskloc_spark.functions.quality import c4_line_audit

    d = load_table(spark, sf_dir, "documents")
    return c4_line_audit(_c4_framed(d), min_kept_lines=2).select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept_lines").cast("int").alias("n_kept_lines"),
        "page_kept",
        "clean_text",
    )


def _pii_framed(d: DataFrame) -> DataFrame:
    """PII-planted corpus for the redaction gate: an email, an IPv4, and
    (for every third id) a dashed phone number, all derived from row
    data so the oracle rebuilds the exact input."""
    did = F.col("doc_id")
    num = lambda m: (did % m).cast("string")  # noqa: E731
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("."),
            F.col("lang"),
            F.lit("@mail"),
            num(7),
            F.lit(".example.com ip 10."),
            num(256),
            F.lit("."),
            num(100),
            F.lit("."),
            num(250),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" call "),
                    F.lpad(num(1000), 3, "0"),
                    F.lit("-555-"),
                    F.lpad(num(10000), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/quality.redact_pii) end-to-end: the
    chained email -> IPv4 -> phone regexp passes with
    count-before-each-pass semantics. The real risk the gate pins is
    regex ENGINE parity — Java (leftmost-first) vs RE2
    (leftmost-longest) must produce byte-identical redactions, which
    holds because the patterns are alternation- and lookaround-free."""
    from riskloc_spark.functions.quality import redact_pii

    d = load_table(spark, sf_dir, "documents")
    return redact_pii(_pii_framed(d)).select(
        "doc_id", "text", "n_emails", "n_ips", "n_phones"
    )


def streaming_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality verdict as a STREAM (round 9, session 2): the
    documents file read through an availableNow readStream, framed and
    scored by the same stateless projection as quality_gopher_filter,
    into a memory sink. Batch/stream equality is the property under the
    hash: the oracle is the identical relation the batch gate uses, so
    a verdict that diverges under the streaming runner (state,
    micro-batch boundaries, schema drift) breaks the gate."""
    import os
    import tempfile
    import uuid

    from riskloc_spark.functions.quality import gopher_quality

    batch = load_table(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="squality_")
    os.symlink(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(stage, "documents.parquet"),
    )
    stream = spark.readStream.schema(batch.schema).parquet(stage)
    out = gopher_quality(_quality_framed(stream), **_GOPHER_GATE_KW).select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.col("stopword_hits").cast("int").alias("stopword_hits"),
        F.coalesce(F.col("reason"), F.lit("none")).alias("reason"),
        "kept",
    )
    name = "streaming_quality_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_quality: run did not finish in 300s")
    q.stop()
    return spark.table(name)


def langid_pred_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cavnar-Trenkle rank-order language classifier
    (functions/langid.py) fit on the documents table's own labels and
    applied back to every document. Distances are integer out-of-place
    sums, so fit, profile ranking, the (doc, lang) distance grid, and
    the argmin are ALL engine-exact — the twin replays the whole
    classifier with row_number windows, no float seam anywhere."""
    from riskloc_spark.functions.langid import (
        classify_language,
        doc_gram_counts,
        lang_profiles,
    )

    d = load_table(spark, sf_dir, "documents")
    # ONE corpus explode shared by fit and classify (VERDICT r9 Wrong
    # #2: deriving it twice made this the most expensive headline
    # query).  localCheckpoint materializes the per-(doc, gram) counts
    # so both consumers read the checkpoint; per-language counts are
    # sums of per-doc counts, so outputs are bit-identical
    counts = doc_gram_counts(d).localCheckpoint(eager=True)
    prof = lang_profiles(d, k=300, doc_counts=counts)
    out = classify_language(d, prof, k=300, doc_counts=counts)
    return out.select(
        "doc_id",
        "pred_lang",
        F.col("distance").cast("long").alias("distance"),
        F.col("n_grams").cast("int").alias("n_grams"),
    )


def _url_framed(d: DataFrame) -> DataFrame:
    """Corpus with planted URLs for the web-corpus gate: a per-source
    documentation URL on every page, plus an ad-tracker URL on every
    fourth — both derived from row data so the oracle reconstructs the
    text verbatim."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            (did % 50).cast("string"),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" and http://ads."),
                    F.col("lang"),
                    F.lit(".net/track?id="),
                    (did % 9).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def url_domains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL extraction (functions/quality.extract_urls): one
    row per URL occurrence with the lowercased domain — the exploded
    form the blocklist / per-domain-cap curation rules consume. The
    regex is whitespace-delimited with explicit classes, so Java and
    RE2 extract identical spans; the twin replays extract + domain
    capture in SQL."""
    from riskloc_spark.functions.quality import extract_urls

    d = load_table(spark, sf_dir, "documents")
    return extract_urls(_url_framed(d)).select("doc_id", "url", "domain")


def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet (functions/quality.corpus_report):
    EXACT type-1 token-count quantiles read off a per-(source, length)
    histogram — one corpus aggregation, then histogram-sized work. The
    oracle replays histogram, cumulative counts, and the
    ceil-threshold quantile rule; integer sums keep the cumulative
    window engine-exact."""
    from riskloc_spark.functions.quality import corpus_report

    d = load_table(spark, sf_dir, "documents")
    out = corpus_report(d)
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round("mean_tokens", 6).alias("mean_tokens"),
        F.col("max_tokens").cast("int").alias("max_tokens"),
        F.col("p50_tokens").cast("int").alias("p50_tokens"),
        F.col("p90_tokens").cast("int").alias("p90_tokens"),
        F.col("p99_tokens").cast("int").alias("p99_tokens"),
    )


# planted shared spans for the exact-substring gate (10 and 11 tokens —
# with n=8 each produces several overlapping duplicate grams that must
# merge to ONE removed interval per non-first occurrence)
_SPAN_SLOGAN = " the shared slogan of this network appears right here today"
_SPAN_PROMO = " trailing promo of the service follows you to every page now"


def _span_framed(d: DataFrame) -> DataFrame:
    """Corpus for the span-dedup gate: every 10th document carries a
    shared slogan, every 7th-congruent-to-3 a shared promo tail — the
    not-paragraph-aligned boilerplate exact_substring dedup exists for.
    Built from the REAL table so the oracle reconstructs it verbatim."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 10 == 0, F.lit(_SPAN_SLOGAN)).otherwise(F.lit("")),
            F.when(did % 7 == 3, F.lit(_SPAN_PROMO)).otherwise(F.lit("")),
        ).alias("text"),
    )


def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (duplicate n-token span) dedup under the hash
    gate (operators/dedup.remove_duplicate_spans, the Lee et al. 2022
    operator): the Spark side hashes token tuples in place and resolves
    first-occurrence with a partition-only window; the oracle counts by
    gram STRING with row_number — same equivalence classes (space-join
    of whitespace-split tokens is injective), fully independent
    strategy. Rebuilt text, removal counts, and merged-span counts all
    hash-compared."""
    from riskloc_spark.operators.dedup import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(_span_framed(d), n=8).select(
        "doc_id", "text", "n_tokens", "n_tokens_removed", "n_dup_grams",
        "n_spans",
    )


def dedup_spans_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-dedup 100-TB volume knob under the hash gate: only
    positions whose gram hash is divisible by sample_mod=4 enter the
    pipeline (content-based selection — occurrences of a duplicated
    span fingerprint the same relative positions regardless of
    alignment), cutting the exchanged fingerprint volume 4x. The
    md5-portable hash family makes the SELECTION itself oracle-checked,
    not just the downstream dedup."""
    from riskloc_spark.operators.dedup import (
        md5_hash64,
        remove_duplicate_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        _span_framed(d), n=8, sample_mod=4, hash_fn=md5_hash64
    ).select(
        "doc_id", "text", "n_tokens", "n_tokens_removed", "n_dup_grams",
        "n_spans",
    )


def tfidf_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tf-idf top terms (functions/quality.tfidf_top_terms):
    ONE corpus-sized explode + groupBy, then vocabulary-sized df/idf
    frames and a per-group top-k window with a deterministic (score
    desc, term asc) tie-break. Both engines compute idf with their
    native ln; the 6-dp round absorbs any sub-ulp disagreement."""
    from riskloc_spark.functions.quality import tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, group_col="source", k=8)
    return out.select(
        "source",
        F.col("rank").cast("int").alias("rank"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df_groups").cast("long").alias("df_groups"),
        F.round("score", 6).alias("score"),
    )


def events_asof_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.asof_join): every non-purchase
    event attached to the same user's latest prior-or-simultaneous
    purchase. The Spark side is the union-marker window (ONE hash
    exchange); the oracle is DuckDB's NATIVE ASOF LEFT JOIN — a fully
    independent implementation of the semantics, so a tie-break or
    ordering bug on either side breaks the hash. (user_id, ts) pairs
    are unique at every sf (verified), so the match is well-defined."""
    from riskloc_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(left, right, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
    )


_SESSION_GAP_MINUTES = 360.0  # 6 h: a mixed singleton/multi-event regime


def events_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization rollup (operators/temporal.
    session_stats): strictly-greater 6-hour gap rule (the
    session_window-compatible boundary), integer-microsecond
    durations. The oracle replays lag + running-sum + groupBy in SQL;
    inter-event gaps are all-integer micros so the boundary decision
    is engine-exact."""
    from riskloc_spark.operators.temporal import session_stats

    ev = load_table(spark, sf_dir, "events")
    out = session_stats(ev, gap_minutes=_SESSION_GAP_MINUTES)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "duration_us",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
    )


def streaming_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (operators/temporal.
    session_stats_stream): Structured Streaming's built-in
    session_window over an availableNow readStream of the events file,
    complete mode. The oracle is the SAME lag/running-sum SQL as the
    batch gate (minus the index column) — stream == batch is the
    property under the hash, including the touching-boundary merge
    rule."""
    import os
    import tempfile
    import uuid

    from riskloc_spark.operators.temporal import session_stats_stream

    batch = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="ssessions_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = spark.readStream.schema(batch.schema).parquet(stage)
    out = session_stats_stream(stream, gap_minutes=_SESSION_GAP_MINUTES)
    name = "streaming_sessions_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_sessions: run did not finish in 300s")
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").select(
        "user_id",
        "session_start",
        "session_end",
        "duration_us",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
    )


def _wav_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCM16 WAV payloads per document id (formula
    contract on operators/audio._synth_params / _synth_samples) —
    the audio-modality analogue of synthesize_png_corpus."""
    from riskloc_spark.operators.dedup import spread_small_scan
    from riskloc_spark.operators.audio import synthesize_wav_corpus

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return synthesize_wav_corpus(spread_small_scan(d))


def audio_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE container decode under the hash gate (round 9):
    deterministic PCM16 WAVs (with a LIST metadata chunk and the RIFF
    pad byte in half the payloads, so the generic chunk walk is ON the
    gated path) are parsed by operators/audio.parse_wav and reduced to
    container metadata; the oracle recomputes every field from the
    synthesis contract in closed-form SQL (integer duration_us, no
    float seam).  Audio has no reference counterpart — this surface is
    the training-data-pipeline multimodal brief."""
    from riskloc_spark.operators.audio import decode_audio

    return decode_audio(_wav_corpus(spark, sf_dir))


def audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel integer amplitude statistics (energy, sum|s|, peak,
    sign zero-crossings) from the REAL decoded PCM — stereo payloads
    de-interleave, so the channel dimension itself is gated.  The
    oracle replays the waveform formula per (doc, channel, index) with
    pure integer arithmetic and aggregates the identical stats."""
    from riskloc_spark.operators.audio import audio_features

    return audio_features(_wav_corpus(spark, sf_dir))


def audio_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimation resample (keep every 3rd sample) measured through the
    same integer feature reduction; the oracle reindexes the contract
    at i = 3j (zero-crossings across KEPT samples, j-1 -> j)."""
    from riskloc_spark.operators.audio import resample_audio_features

    return resample_audio_features(_wav_corpus(spark, sf_dir), 3)


def audio_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling: fixed 512-sample windows per channel (partial
    tail kept with its true length) reduced to integer energy + peak —
    one blob fans out to a bounded strip of rows inside the Arrow
    batch.  Oracle groups the replayed waveform by i // 512."""
    from riskloc_spark.operators.audio import audio_frame_energy

    return audio_frame_energy(_wav_corpus(spark, sf_dir), frame_len=512)


def audio_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gradient audio fingerprint under the hash gate (round
    11): the synthesized PCM corpus through frame energies and the
    64-bit gradient packing (operators/audio.audio_fingerprint).  The
    oracle replays the waveform contract, the 512-sample frame
    energies, the LEAD comparison and the bit packing (signed bit-63
    wrap) — every bit of every (media, channel) fingerprint pinned."""
    from riskloc_spark.operators.audio import audio_fingerprint

    return audio_fingerprint(_wav_corpus(spark, sf_dir), frame_len=512)


_HTTP_HEAD = (
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
)


def html_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction under the hash gate (round 10; VERDICT
    r9 Missing #2): every document row is wrapped in a closed-form HTML
    page exercising each extractor rule (title/script/style removal,
    block vs inline tags, entity decode incl. the &amp;-last ordering,
    comments hiding markup, block whitespace semantics), and the twin
    reconstructs the EXPECTED text directly from the original columns
    — so the gate checks the extraction semantics themselves, not a
    shared regex library."""
    from riskloc_spark.operators.html import (
        extract_html_docs,
        synthesize_html_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    return extract_html_docs(synthesize_html_corpus(d))


def html_extract_tree_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREE-parser HTML extraction under the hash gate (round 11;
    VERDICT r10 #1): every document row is wrapped in a closed-form
    ADVERSARIAL-but-parseable page — quoted attribute containing '>',
    conditional comment hiding block markup, unclosed <b>/<p>/<li>,
    a CDATA section, a script whose string literal contains '</div>'
    — constructs the regex chain's stated seams exclude, extracted by
    the stdlib-tokenizer path (operators/html.py:_extract_tree behind
    an Arrow-batched pandas_udf).  The twin reconstructs the EXPECTED
    text directly from the original columns, so the gate checks the
    tree extraction semantics, not a shared parser."""
    from riskloc_spark.operators.html import (
        extract_html_docs,
        synthesize_adversarial_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    return extract_html_docs(
        synthesize_adversarial_corpus(d), parser="tree"
    )


def warc_records_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC container round trip (round 10): synthesized HTML pages
    wrapped as HTTP responses, written through the WARC sink, read back
    through the record chunk-walk, HTTP-split, and text-extracted — the
    full crawl-to-documents ingestion path in one gate.  The oracle
    rebuilds every field closed-form from the original columns,
    INCLUDING the byte-exact Content-Length of the rebuilt payload, so
    a framing drift anywhere (record headers, payload slicing, the
    HTTP header split, extraction) breaks the hash."""
    import atexit
    import shutil
    import tempfile

    from riskloc_spark.operators.html import (
        html_to_text,
        synthesize_html_corpus,
    )
    from riskloc_spark.sources.warc import (
        http_response_parts,
        read_warc_records,
        write_warc,
    )

    d = load_table(spark, sf_dir, "documents")
    recs = synthesize_html_corpus(d, keep=["source"]).select(
        F.concat(
            F.lit("<urn:riskloc:"), F.col("doc_id"), F.lit(">")
        ).alias("record_id"),
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/doc/"), F.col("doc_id"),
        ).alias("target_uri"),
        F.concat(F.lit(_HTTP_HEAD), F.col("html"))
        .cast("binary")
        .alias("payload"),
    )
    # the reader consumes the staged files LAZILY -> atexit reclaim
    # (the jsonl_roundtrip precedent)
    stage = tempfile.mkdtemp(prefix="warc_rt_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    write_warc(recs.repartition(8), stage).count()
    parts = http_response_parts(read_warc_records(spark, stage))
    return parts.select(
        F.regexp_extract("record_id", r"urn:riskloc:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        "record_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_length",
        "http_status",
        "content_type",
        html_to_text(F.col("body")).alias("text"),
    )


def html_block_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block link-density extraction under the hash gate (round
    10): every synthesized page decomposes into its seven visible
    blocks with text, char counts, anchor-text chars and the
    Kohlschuetter-style link density — the oracle enumerates the
    blocks closed-form (nav block: 4 anchor chars of 'home' over its
    22 chars) and re-ranks after the same empty-block filter, so a
    drift in block segmentation, anchor extraction, or the density
    arithmetic breaks the hash."""
    from riskloc_spark.operators.html import (
        html_block_stats,
        synthesize_html_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    # flatten embedded newlines BEFORE page synthesis (both sides): a
    # text column containing a blank line would legitimately split the
    # body into extra blocks Spark-side while the oracle enumerates a
    # fixed seven — this gate tests PAGE block segmentation, and the
    # sanitize keeps it well-defined on any corpus (review r10)
    d = d.withColumn(
        "text", F.regexp_replace("text", r"\n+", " ")
    )
    return html_block_stats(synthesize_html_corpus(d))


def html_block_stats_tree_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tree-parser twin of html_block_stats under the hash gate
    (round 11): the SAME synthesized pages through the event-driven
    block walk (operators/html.py:html_block_stats_tree) — the oracle
    is the identical closed-form enumeration, so the tree walk's
    segmentation, per-anchor accounting and density arithmetic are
    hash-pinned to the regex path's."""
    from riskloc_spark.operators.html import (
        html_block_stats_tree,
        synthesize_html_corpus,
    )

    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn(
        "text", F.regexp_replace("text", r"\n+", " ")
    )
    return html_block_stats_tree(synthesize_html_corpus(d))


def warc_decoded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware HTTP body decode under the hash gate (round 11):
    each document becomes one of FOUR wire forms of the same page
    string — utf-8 with a header charset, ISO-8859-1 with a header
    charset (real latin-1 bytes on the wire), gzip-compressed utf-8
    (Content-Encoding honored, body decompressed), and header-less
    latin-1 declared only by an in-body <meta charset> (the sniff
    path) — and warc.decode_http_bodies must return the ORIGINAL
    string for all four.  The oracle enumerates the expected
    (status, type, encoding, charset, body) closed-form; the page
    carries latin-1-only accents so every branch is encodable."""
    import gzip as _gzip

    from pyspark.sql.functions import pandas_udf

    from riskloc_spark.sources.warc import decode_http_bodies

    d = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("café niño Motör "), F.col("source"),
        F.lit(" doc "), F.col("doc_id").cast("string"),
    )
    meta_page = F.concat(F.lit('<meta charset="iso-8859-1">'), page)

    @pandas_udf("binary")
    def gz(b: pd.Series) -> pd.Series:
        return b.map(lambda v: _gzip.compress(bytes(v), mtime=0))

    hdr = {
        0: b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: text/plain; charset=utf-8\r\n\r\n",
        1: b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: text/plain; charset=ISO-8859-1\r\n\r\n",
        2: b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
           b"Content-Encoding: gzip\r\n\r\n",
        3: b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
    }
    branch = F.col("doc_id") % 4
    payload = (
        F.when(branch == 0,
               F.concat(F.lit(bytearray(hdr[0])),
                        F.encode(page, "UTF-8")))
        .when(branch == 1,
              F.concat(F.lit(bytearray(hdr[1])),
                       F.encode(page, "ISO-8859-1")))
        .when(branch == 2,
              F.concat(F.lit(bytearray(hdr[2])),
                       gz(F.encode(page, "UTF-8"))))
        .otherwise(
            F.concat(F.lit(bytearray(hdr[3])),
                     F.encode(meta_page, "ISO-8859-1")))
    )
    framed = d.select("doc_id", payload.alias("payload"))
    return decode_http_bodies(framed).select(
        "doc_id", "http_status", "content_type", "content_encoding",
        "charset", "body",
    )


def sentence_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentence splitting under the hash gate (round 10):
    each document is framed as four known sentences (period / bang /
    question boundaries, digits and an upper-case continuation after
    each, the corpus text as the tail), and the oracle enumerates the
    EXPECTED sentences closed-form — the boundary pattern itself (Java
    lookaround) is never replayed.  The tail is SANITIZED on both
    sides (r10 advisory): every [.!?]+whitespace run is collapsed to a
    single space and trailing whitespace dropped, so no boundary can
    fire inside the tail on ANY corpus text (the boundary also
    triggers before digits/quotes, so 'uncapitalized-safe' alone is
    not enough) — the html_block_stats newline-flatten discipline."""
    from riskloc_spark.functions.text import split_sentences

    d = load_table(spark, sf_dir, "documents")
    tail = F.regexp_replace(
        F.regexp_replace(
            F.col("text"), r"[.!?]+[ \t\n\x0B\f\r]+", " "
        ),
        r"[ \t\n\x0B\f\r]+$", "",
    )
    framed = d.select(
        "doc_id",
        F.concat(
            F.lit("Alpha about "), F.col("source"),
            F.lit(". It has "), F.col("n_chars").cast("string"),
            F.lit(" things! Is "), F.col("lang"),
            F.lit(" fine? Then "), tail,
        ).alias("text"),
    )
    return split_sentences(framed)


def url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + crawl URL-level dedup under the hash
    gate (round 10): every document gets one of four deterministic URL
    variants of the same target page (plain; uppercased host with
    default port and fragment; utm-tracking query; tracking + a REAL
    query param that must survive) — canonicalization must collapse
    the first three variant classes per (source, page) group and keep
    the lowest id, while the ?ref= variant keeps its own canonical.
    The oracle builds both the variant URL and the EXPECTED canonical
    closed-form (never replaying the regex rules) and replays the
    keep-first."""
    from riskloc_spark.operators.dedup import url_dedup

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
    path = F.concat(F.lit("/page/"), (did % 100).cast("string"))
    url = (
        F.when(did % 4 == 0, F.concat(F.lit("https://"), base, path))
        .when(
            did % 4 == 1,
            F.concat(F.lit("HTTPS://"), F.upper(base), F.lit(":443"),
                     path, F.lit("#top")),
        )
        .when(
            did % 4 == 2,
            F.concat(F.lit("https://"), base, path,
                     F.lit("?utm_source=x")),
        )
        .otherwise(
            F.concat(F.lit("https://"), base, path,
                     F.lit("?utm_campaign=y&ref="), F.col("lang")),
        )
    )
    framed = d.select("doc_id", url.alias("target_uri"))
    return url_dedup(framed).select(
        "doc_id", "target_uri", "canonical_url"
    )


def knn_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus kNN GRAPH (round 10) under the hash gate: top-5
    cosine neighbors for EVERY embedding via IVF co-cell blocking —
    the same injectable-quantizer discipline as knn_ivf (seeds = first
    16 embeddings by vec_id, sf-agnostic), but with the corpus on BOTH
    sides of the cell join and self-pairs excluded, so the twin
    replays assignment, the 6-cell probe fan-out, the blocked
    candidate join, and the per-vector argmax ranking."""
    import numpy as np

    from riskloc_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(16)
            .collect()
        ]
    )
    out = knn_graph(emb, k=5, n_probe=6, centroids=seeds)
    return out.select(
        "vec_id",
        "nbr_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def knn_graph_gemm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked-GEMM kNN-graph scan (round 11) under the hash gate:
    the SAME construction as knn_graph but scored through the
    cogrouped float32-rank/float64-exact matrix path
    (operators/similarity.py:_knn_graph_gemm) — the 100-TB scan shape
    (BLAS tiles inside cells, no interpreted per-pair lambdas).  The
    oracle is the identical knn_graph SQL replay: the gemm path must
    produce the expression path's exact edges and cosines, hash-pinned
    at every sf."""
    import numpy as np

    from riskloc_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding", "vec_id")
            .orderBy("vec_id")
            .limit(16)
            .collect()
        ]
    )
    out = knn_graph(emb, k=5, n_probe=6, centroids=seeds, method="gemm")
    return out.select(
        "vec_id",
        "nbr_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rnk"),
    )


def quality_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED quality classifier under the hash gate (round 10;
    VERDICT r9 Missing #3): hashed char-trigram multinomial NB with
    fixed-point micronat weights (functions/classifier.py).  The
    labeled task is the standard curated-vs-garbled construction in
    closed form — every document as 'good', its reverse as 'bad'
    (reversed text has reversed trigram statistics, engine-computable
    on both sides).  Fit on the even-id half, scored over everything,
    so the gate covers fit AND scoring and the odd half is a genuine
    holdout; the twin replays the whole thing in SQL (the only float
    seam is the micronat rounding of the two ln() calls — everything
    after is exact integer sums and an exact argmax)."""
    from riskloc_spark.functions.classifier import (
        fit_text_classifier,
        score_text_classifier,
    )
    from riskloc_spark.operators.dedup import md5_hash64

    labeled = _nb_labeled(spark, sf_dir)
    model = fit_text_classifier(
        labeled.filter(F.col("doc_id") % 2 == 0),
        hash_fn=md5_hash64,
        n_buckets=1024,
    )
    out = score_text_classifier(labeled, model)
    return out.join(
        labeled.select("doc_id", "label"), "doc_id"
    ).select("doc_id", "label", "pred_label", "score", "n_grams")


def _nb_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated-vs-garbled labeled task shared by the two
    classifier gates: every document as 'good', its reverse as
    'bad'."""
    d = load_table(spark, sf_dir, "documents")
    good = d.select(
        "doc_id", "text", F.lit("good").alias("label")
    )
    bad = d.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.reverse("text").alias("text"),
        F.lit("bad").alias("label"),
    )
    return good.unionByName(bad)


# per-(sf_dir) persisted-model artifact dirs for the warm gate — fit
# and save happen ONCE per process (the _IVF_CENTROIDS precedent);
# the bench's min-of-2 then records the scoring-only serving cost
_NB_ARTIFACTS: dict[str, str] = {}


def classifier_warm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring-ONLY NB classification from a PERSISTED model artifact
    (round 11; VERDICT r10 Wrong #1): the fit — two corpus-volume
    groupBys + checkpoints that a deployment pays once at ingest — runs
    once per sf_dir, is saved through save_text_classifier (parquet
    weights/label_stats/params) and every call scores from the LOADED
    bounded tables: one broadcast join + one exchange.  Same labeled
    construction as quality_classifier and a deterministic fit, so the
    oracle is the identical from-scratch SQL replay — the hash pins
    warm serving to the cold fit's predictions."""
    import atexit
    import shutil
    import tempfile

    from riskloc_spark.functions.classifier import (
        fit_text_classifier,
        load_text_classifier,
        save_text_classifier,
        score_text_classifier,
    )
    from riskloc_spark.operators.dedup import md5_hash64

    labeled = _nb_labeled(spark, sf_dir)
    if sf_dir not in _NB_ARTIFACTS:
        stage = tempfile.mkdtemp(prefix="nb_model_")
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
        model = fit_text_classifier(
            labeled.filter(F.col("doc_id") % 2 == 0),
            hash_fn=md5_hash64,
            n_buckets=1024,
        )
        save_text_classifier(model, stage)
        _NB_ARTIFACTS[sf_dir] = stage
    model = load_text_classifier(spark, _NB_ARTIFACTS[sf_dir])
    out = score_text_classifier(labeled, model)
    return out.join(
        labeled.select("doc_id", "label"), "doc_id"
    ).select("doc_id", "label", "pred_label", "score", "n_grams")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full RiskLoc root-cause localization on the sf0.001
    events-derived RCA frame."""
    return riskloc_rca(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
    # ORDER MATTERS: the driver's correctness window records the FIRST 50
    # keys only, ROTATED each round so every hash gate accumulates
    # driver-recorded greens.  Round 16 order (pure stalest-first by
    # newest driver record — r14 AND r15 both recorded the same window,
    # so the r11 tier is now the stalest): the r11 tier leads, then the
    # r12 tier, the r13 tier, the r14/r15-recorded block (q11/q12, the
    # r14 gates, and the former r10 tier — all green twice over in
    # CORRECTNESS_r14+r15), rows-only last.  The r16 window = the full
    # r11 tier + the head of the r12 tier.
    # ---- newest driver record is round 11 (stalest: record first) ----
        "adtributor_candidates": adtributor_candidates_q,
        "audio_fingerprint": audio_fingerprint_q,
        "classifier_warm": classifier_warm_q,
        "corpus_shards": corpus_shards_q,
        "dataset_significance": dataset_significance_q,
        "doc_fingerprints": doc_fingerprints,
        "domain_caps": domain_caps_q,
        "events_funnel": events_funnel_q,
        "events_hourly": events_hourly,
        "events_props_agg": events_props_agg,
        "host_degrees": host_degrees_q,
        "html_block_stats_tree": html_block_stats_tree_q,
        "html_extract_tree": html_extract_tree_q,
        "knn_graph_gemm": knn_graph_gemm_q,
        "lang_quality_by_source": lang_quality_by_source,
        "media_decode": media_decode_q,
        "media_dhash": media_dhash_q,
        "media_frames": media_frames_q,
        "media_gif_decode": media_gif_decode_q,
        "media_jpeg_decode": media_jpeg_decode_q,
        "media_meta": media_meta_q,
        "media_resize_bilinear": media_resize_bilinear_q,
        "media_resize_nearest": media_resize_nearest_q,
        "pagerank_hosts": pagerank_hosts_q,
        "perplexity_buckets": perplexity_buckets_q,
        "q10_returned_items": q10_returned_items,
        "q13_order_distribution": q13_order_distribution,
        "q14_promo_effect": q14_promo_effect,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q22_idle_rich_customers": q22_idle_rich_customers,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q_top_customers_per_nation": q_top_customers_per_nation,
        "rca_partition": rca_partition,
        "rev_adtributor": rev_adtributor_q,
        "riskloc_first_cause": riskloc_first_cause_q,
        "riskloc_first_cause_derived": riskloc_first_cause_derived_q,
        "riskloc_two_pass": riskloc_two_pass_q,
        "riskloc_two_pass_derived": riskloc_two_pass_derived_q,
        "robustspot_scores": robustspot_scores,
        "squeeze_clusters": squeeze_clusters_q,
        "warc_decoded": warc_decoded_q,
        "winnow_fingerprints": winnow_fingerprints_q,
    # ---- newest driver record is round 12 ----
        "robots_agent_groups": robots_agent_groups_q,
        "image_ingest_dedup": image_ingest_dedup_q,
        "video_near_dup": video_near_dup_q,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "hll_user_counts": hll_user_counts_q,
        "bm25_topk": bm25_topk_q,
        "cms_term_counts": cms_term_counts_q,
        "zorder_keys": zorder_keys_q,
        "streaming_hll": streaming_hll_q,
        "bloom_membership": bloom_membership_q,
        "scd2_history": scd2_history_q,
        "events_interval_join": events_interval_join_q,
        "weighted_sample": weighted_sample_q,
        "length_quantiles": length_quantiles_q,
        "robots_admission": robots_admission_q,
        "link_graph": link_graph_q,
        "q18_large_volume_customer": q18_large_volume_customer,
        "squeeze_search": squeeze_search_q,
        "streaming_dedup": streaming_dedup_q,
        "streaming_ewma": streaming_ewma_q,
        "streaming_kpi_append": streaming_kpi_append_q,
        "adtributor_elements_derived": adtributor_elements_derived,
        "autoroot_kde_fixed": autoroot_kde_fixed_q,
        "autoroot_search_fixed": autoroot_search_fixed_q,
        "bpe_token_counts": bpe_token_counts_q,
        "c4_line_clean": c4_line_clean_q,
        "corpus_chunks": corpus_chunks_q,
        "corpus_curate": corpus_curate_q,
        "corpus_curate_near_dup": corpus_curate_near_dup_q,
        "corpus_curate_semantic": corpus_curate_semantic_q,
        "corpus_pack": corpus_pack_q,
        "corpus_report": corpus_report_q,
        "corpus_sample_split": corpus_sample_split_q,
        "corpus_sample_stratified": corpus_sample_stratified_q,
        "decontamination_audit": decontamination_audit_q,
        "dedup_groups": dedup_groups_q,
        "dedup_paragraphs": dedup_paragraphs_q,
        "dedup_paragraphs_rebuild": dedup_paragraphs_rebuild_q,
        "dedup_spans": dedup_spans_q,
        "dedup_spans_sampled": dedup_spans_sampled_q,
        "embedding_near_dup_exact": embedding_near_dup_exact,
        "events_asof_purchase": events_asof_purchase_q,
        "events_sessions": events_sessions_q,
        "hotspot_search": hotspot_search_q,
        "hotspot_search_ps": hotspot_search_ps_q,
        "incremental_near_dup": incremental_near_dup_q,
        "knn_ivf": knn_ivf_q,
    # ---- newest driver record is round 13 (freshest, rotate last) ----
        "quantile_sketch": quantile_sketch_q,
        "heavy_hitters": heavy_hitters_q,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q20_dominant_suppliers": q20_dominant_suppliers,
        "streaming_quantiles": streaming_quantiles_q,
        "bloom_decontamination": bloom_decontamination_q,
        "cdc_apply": cdc_apply_q,
        "streaming_cms": streaming_cms_q,
        "events_interval_join_hier": events_interval_join_hier_q,
        "streaming_bloom": streaming_bloom_q,
        "fuzzy_join": fuzzy_join_q,
        "retention_cohorts": retention_cohorts_q,
        "q21_waiting_supplier": q21_waiting_supplier,
        "knn_lsh": knn_lsh_q,
        "minhash_pairs": minhash_pairs,
        "ngram_jaccard": ngram_jaccard_q,
        "pii_redaction": pii_redaction_q,
        "quality_gopher_filter": quality_gopher_filter_q,
        "quality_repetition": quality_repetition_q,
        "rev_adtributor_rec": rev_adtributor_rec_q,
        "riskloc_layer_scores": riskloc_layer_scores_q,
        "simhash_pairs": simhash_pairs,
        "squeeze_clusters_kde": squeeze_clusters_kde_q,
        "squeeze_search_derived": squeeze_search_derived_q,
        "squeeze_search_filtered": squeeze_search_filtered_q,
        "streaming_quality": streaming_quality_q,
        "streaming_sessions": streaming_sessions_q,
        "text_normalize": text_normalize_q,
        "tfidf_terms": tfidf_terms_q,
        "video_frames": video_frames_q,
        "video_meta": video_meta_q,
        "adtributor_elements": adtributor_elements,
        "audio_features": audio_features_q,
        "audio_frames": audio_frames_q,
        "audio_meta": audio_meta_q,
        "audio_resample": audio_resample_q,
        "autoroot_nps": autoroot_nps_q,
        "dedup_exact": dedup_exact_q,
        "evaluation_f1": evaluation_f1_q,
        "events_asof_forward": events_asof_forward_q,
        "events_asof_tolerance": events_asof_tolerance_q,
        "events_rolling": events_rolling_q,
        "events_rollup": events_rollup,
        "frequent_ngrams": frequent_ngrams_q,
        "hotspot_element_stats": hotspot_element_stats_q,
        "html_block_stats": html_block_stats_q,
        "html_extract": html_extract_q,
    # ---- newest driver record is round 15 (freshest: rotate last) ----
        "q11_important_parts": q11_important_parts,
        "q12_late_priority": q12_late_priority,
        "decontamination_near_dup": decontamination_near_dup_q,
        "decontamination_semantic": decontamination_semantic_q,
        "streaming_decontamination": streaming_decontamination_q,
        "mixture_alpha_sample": mixture_alpha_sample_q,
        "benchmark_exposure": benchmark_exposure_q,
        "decontamination_spans": decontamination_spans_q,
        "quality_percentile": quality_percentile_q,
        "corpus_diff": corpus_diff_q,
        "events_attribution": events_attribution_q,
        "cms_join_size": cms_join_size_q,
        "data_expectations": data_expectations_q,
        "streaming_expectations": streaming_expectations_q,
        "jsonl_roundtrip": jsonl_roundtrip_q,
        "knn_bruteforce": knn_bruteforce_q,
        "knn_graph": knn_graph_q,
        "knn_ivfpq": knn_ivfpq_q,
        "knn_pq": knn_pq_q,
        "langid_pred": langid_pred_q,
        "media_features": media_features_q,
        "q1_pricing_summary": q1_pricing_summary,
        "q4_priority_semi": q4_priority_semi,
        "q_customers_without_orders": q_customers_without_orders,
        "quality_classifier": quality_classifier_q,
        "rca_derived_scores": rca_derived_scores,
        "rca_frame": rca_frame,
        "rca_scores": rca_scores,
        "robustspot_ca": robustspot_ca_q,
        "robustspot_round0": robustspot_round0_q,
        "robustspot_round0_derived": robustspot_round0_derived_q,
        "robustspot_round1": robustspot_round1_q,
        "robustspot_supports": robustspot_supports_q,
        "sentence_split": sentence_split_q,
        "squeeze_auto_edges": squeeze_auto_edges_q,
        "squeeze_cluster_stats": squeeze_cluster_stats_q,
        "squeeze_clusters_auto": squeeze_clusters_auto_q,
        "squeeze_derived_cluster_stats": squeeze_derived_cluster_stats_q,
        "streaming_ingest_dedup": streaming_ingest_dedup_q,
        "streaming_kpi": streaming_kpi_q,
        "streaming_near_dup": streaming_near_dup_q,
        "text_stats": text_stats,
        "text_trigram_lm": text_trigram_lm_q,
        "token_budget_sample": token_budget_sample_q,
        "token_stats": token_stats_q,
        "url_dedup": url_dedup_q,
        "url_domains": url_domains_q,
        "warc_records": warc_records_q,
    # ---- rows-only queries (no oracle twin) last ----
        "riskloc_rca": riskloc_rca,
        "riskloc_rca_derived": riskloc_rca_derived,
        "autoroot_rca": autoroot_rca,
        "hotspot_rca": hotspot_rca,
        "squeeze_rca": squeeze_rca,
        "squeeze_rca_derived": squeeze_rca_derived,
        "robustspot_rca": robustspot_rca,
        "knn_ivf_warm": knn_ivf_warm_q,
    }


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

_RCA_CTE = f"rca AS ({RCA_EVENTS_SQL})"

# DuckDB twin of contamination_stats(documents, doc_id % 17 == 0, n=4)
# — shared verbatim by the batch gate (decontamination_audit) and its
# streaming twin (streaming_decontamination), whose staging emits
# exactly this audit.  The oracle joins gram STRINGS where Spark joins
# xxhash64(gram): a 64-bit collision is the only way they can differ
# (the dedup_exact carve-out).
_DECON_AUDIT_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split({norm}, ' ') AS w
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(w) < 4
               THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(0, len(w) - 3),
                 i -> array_to_string(w[i+1 : i+4], ' ')) END) AS g
      FROM toks
    ),
    bench AS MATERIALIZED (
      SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0
    ),
    st AS (
      SELECT doc_id, COUNT(*) AS n_ngrams,
             CAST(SUM(CASE WHEN g IN (SELECT g FROM bench)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_ngrams, n_matched,
           round(CAST(n_matched AS DOUBLE) / n_ngrams, 6) + 0e0
             AS contamination
    FROM st
"""

# DuckDB twin of paragraph_dedup over the boilerplate-framed corpus
# (_boilerplate_framed): PARAGRAPH_BOUNDARY / normalization / blank
# filter verbatim from operators/dedup.py (explicit whitespace classes,
# engine-portable); parallel unnests zip, range() gives the 0-based raw
# split position posexplode produces; keep-first is the row_number twin
# of the min(struct) aggregate.
_PARAGRAPH_CTE = r"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                     regexp_split_to_array(
                       'share this page on ' || source
                         || chr(10) || chr(10) || text || chr(10)
                         || chr(10) || 'copyright notice ' || lang,
                       '\n[ \t\x0B\f\r]*\n[ \t\n\x0B\f\r]*') AS ps
              FROM documents
            ),
            parts AS (
              SELECT doc_id,
                     unnest(ps) AS para,
                     unnest(range(0, len(ps))) AS para_idx
              FROM framed
            ),
            ranked AS (
              SELECT doc_id, para_idx, para,
                     ROW_NUMBER() OVER (
                       PARTITION BY regexp_replace(lower(trim(para)),
                         '[ \t\n\x0B\f\r]+', ' ', 'g')
                       ORDER BY doc_id, para_idx) AS rn
              FROM parts
              WHERE regexp_matches(para, '[^ \t\n\x0B\f\r]')
            )
"""

_STOPWORDS_SQL = "['the','and','of','to','a','in','is','it','that','for']"

_TEXT_STATS_CTE = f"""
stats AS (
  SELECT doc_id, source,
    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS INT) AS n_tokens,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?]', '', 'g')) AS DOUBLE)
              / length(text) END AS punct_ratio,
    CASE WHEN trim(text) = '' THEN 0.0
         ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
              / len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS stopword_ratio
  FROM documents
),
scored_docs AS (
  SELECT *,
    (CASE WHEN n_tokens >= 5 AND n_tokens <= 10000 THEN 0.4 ELSE 0.0 END
     + CASE WHEN punct_ratio > 0.0 AND punct_ratio < 0.2 THEN 0.3 ELSE 0.0 END
     + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END) AS quality,
    CASE WHEN stopword_ratio >= 0.08 THEN 'en' ELSE 'unk' END AS lang_pred
  FROM stats
)
"""


def _hotspot_element_stats_sql() -> str:
    """DuckDB twin of plans/cuboid.element_stats_all over all cuboids of
    the RCA attribute set (cid order = cuboids_of_layer enumeration)."""
    from riskloc_spark.plans.cuboid import cuboids_of_layer

    cuboids = [
        c
        for layer in range(1, len(RCA_ATTRIBUTES) + 1)
        for c in cuboids_of_layer(RCA_ATTRIBUTES, layer)
    ]
    # DECIMAL(38,9) per-term sums mirror the Spark side's exact_sums mode:
    # order-independent aggregation → stable 6-decimal hash surface.
    dec = "DECIMAL(38,9)"
    parts = []
    for cid, cuboid in enumerate(cuboids):
        dims = ", ".join(cuboid)
        elem = "concat_ws(chr(31), " + ", ".join(
            f"COALESCE(CAST({d} AS VARCHAR), 'None')" for d in cuboid
        ) + ")"
        parts.append(f"""
            SELECT {cid} AS cid, {elem} AS elem,
                   COUNT(*) AS n_e,
                   CAST(round(SUM(CAST("real" AS {dec})), 6) + 0e0 AS DOUBLE) AS V_e,
                   CAST(round(SUM(CAST(predict AS {dec})), 6) + 0e0 AS DOUBLE) AS F_e,
                   CAST(round(SUM(CAST(ABS("real" - predict) AS {dec})), 6) + 0e0 AS DOUBLE) AS B_e,
                   CAST(round(SUM(CAST(("real" - predict) * ("real" - predict) AS {dec})), 6) + 0e0 AS DOUBLE) AS Q_e,
                   CAST(round(SUM(CAST(ABS("real" - __a) AS {dec})), 6) + 0e0 AS DOUBLE) AS A_e,
                   CAST(round(SUM(CAST(("real" - __a) * ("real" - __a) AS {dec})), 6) + 0e0 AS DOUBLE) AS P_e
            FROM (
              SELECT *, predict * (CASE WHEN Fe <> 0 THEN Ve / Fe ELSE 0.0 END) AS __a
              FROM (
                SELECT *,
                       CAST(SUM(CAST("real" AS {dec})) OVER (PARTITION BY {dims}) AS DOUBLE) AS Ve,
                       CAST(SUM(CAST(predict AS {dec})) OVER (PARTITION BY {dims}) AS DOUBLE) AS Fe
                FROM rca
              )
            )
            GROUP BY 2""")
        # GROUP BY the elem key only: cid is a constant per UNION branch,
        # and grouping on it makes DuckDB's binder unify the round(.., 6)
        # precision literal with the grouped constant →
        # "ROUND(DECIMAL, INTEGER) with non-constant precision".
    return f"WITH {_RCA_CTE}\n" + "\nUNION ALL\n".join(parts)


def _autoroot_nps_sql() -> str:
    """DuckDB twin of autoroot's NPS terms (search_terms.nps_leaf_terms)
    + NPS/LF over layer-1 cuboids (relevant set = |deviation| > 0.2)."""
    parts = []
    for dim in RCA_ATTRIBUTES:
        parts.append(f"""
            SELECT '{dim}' AS dimension, t.element, x.x, t.n_full,
                   round(CASE WHEN (t.Bp_e / t.n_full
                               + CASE WHEN (tot.N - t.n_full) > 0
                                      THEN (tot.Bp_tot - t.Bp_e) / (tot.N - t.n_full)
                                      ELSE 0.0 END) <> 0
                         THEN 1 - (t.Ap_e / t.n_full
                               + CASE WHEN (tot.N - t.n_full) > 0
                                      THEN (tot.Bp_tot - t.Bp_e) / (tot.N - t.n_full)
                                      ELSE 0.0 END)
                              / (t.Bp_e / t.n_full
                               + CASE WHEN (tot.N - t.n_full) > 0
                                      THEN (tot.Bp_tot - t.Bp_e) / (tot.N - t.n_full)
                                      ELSE 0.0 END)
                         ELSE 0.0 END, 6) + 0e0 AS nps,
                   round(CAST(x.x AS DOUBLE) / t.n_full, 6) + 0e0 AS lf
            FROM (
              SELECT COALESCE(CAST({dim} AS VARCHAR), 'None') AS element, COUNT(*) AS n_full,
                     CAST(SUM(CAST(CASE WHEN "real" = 0 THEN 0.0
                         ELSE ABS("real" - vhat) / "real" END
                         AS DECIMAL(38,9))) AS DOUBLE) AS Ap_e,
                     CAST(SUM(CAST(CASE WHEN "real" = 0 THEN 0.0
                         ELSE ABS("real" - predict) / "real" END
                         AS DECIMAL(38,9))) AS DOUBLE) AS Bp_e
              FROM (
                SELECT *, CASE WHEN Fe <> 0 THEN predict * Ve / Fe ELSE 0.0 END AS vhat
                FROM (
                  SELECT *,
                         CAST(SUM(CAST("real" AS DECIMAL(38,9)))
                              OVER (PARTITION BY {dim}) AS DOUBLE) AS Ve,
                         CAST(SUM(CAST(predict AS DECIMAL(38,9)))
                              OVER (PARTITION BY {dim}) AS DOUBLE) AS Fe
                  FROM dev
                )
              ) GROUP BY 1
            ) t
            JOIN (
              SELECT COALESCE(CAST({dim} AS VARCHAR), 'None') AS element, COUNT(*) AS x
              FROM dev WHERE ABS(deviation) > 0.2 GROUP BY 1
            ) x ON t.element = x.element
            CROSS JOIN tot""")
    return f"""
        WITH {_RCA_CTE},
        dev AS (
          SELECT *, CASE WHEN predict + "real" = 0 THEN 0.0
                    ELSE 2 * (predict - "real") / (predict + "real") END AS deviation
          FROM rca
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS N,
                 CAST(SUM(CAST(CASE WHEN "real" = 0 THEN 0.0
                     ELSE ABS("real" - predict) / "real" END
                     AS DECIMAL(38,9))) AS DOUBLE) AS Bp_tot
          FROM dev
        )
    """ + "\nUNION ALL\n".join(parts)


def _squeeze_cluster_stats_sql() -> str:
    """DuckDB twin of squeeze's _locate_in_cuboid pass-1 stats with the
    deterministic cluster/normal predicates of squeeze_cluster_stats_q."""
    parts = []
    for dim in RCA_ATTRIBUTES:
        parts.append(f"""
            SELECT '{dim}' AS dimension, COALESCE(CAST({dim} AS VARCHAR), 'None') AS element,
                   CAST(SUM(__abn) AS BIGINT) AS num_elements,
                   COUNT(*) AS descents,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN "real" END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS V_e,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN predict END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS F_e
            FROM flagged
            GROUP BY 1, 2
            HAVING SUM(__abn) > 0""")
    return f"""
        WITH {_RCA_CTE},
        dev AS (
          SELECT *, CASE WHEN predict + "real" = 0 THEN 0.0
                    ELSE (predict - "real") / (predict + "real") END AS deviation
          FROM rca WHERE predict > 0
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN deviation >= 0.1 THEN 1 ELSE 0 END AS __abn,
                 CASE WHEN ABS(deviation) < 0.05 THEN 1 ELSE 0 END AS __norm
          FROM dev
        )
    """ + "\nUNION ALL\n".join(parts)


# portable md5-derived 60-bit hash (operators/dedup.md5_hash64 twin)
_MD5H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

_NORM_TEXT = "regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"


def _minhash_pairs_sql(src: str = "documents") -> str:
    """DuckDB twin of minhash_lsh_dedup(hash_fn=md5_hash64): shingle ->
    32 seeded minhashes -> 8 banded buckets -> bucket join -> signature
    agreement >= 0.5 (operators/dedup.py:112-194). ``src``: any relation
    with (doc_id, text) — the curation gate feeds a filtered one."""
    h_seeded = _MD5H.format(x="concat(s, ':', CAST(k AS VARCHAR))")
    h_band = _MD5H.format(
        x="string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM {src}
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))
                 END AS ss
          FROM toks
        ),
        shingled AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sigs AS (
          SELECT doc_id, k, MIN({h_seeded}) AS mh
          FROM shingled CROSS JOIN range(32) t(k)
          GROUP BY doc_id, k
        ),
        bands AS (
          SELECT doc_id, k // 4 AS band, {h_band} AS bucket
          FROM sigs GROUP BY doc_id, k // 4
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bands l JOIN bands r
            ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        ),
        est AS (
          SELECT c.id_a, c.id_b,
                 SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 32.0 AS ej
          FROM cand c
          JOIN sigs a ON a.doc_id = c.id_a
          JOIN sigs b ON b.doc_id = c.id_b AND b.k = a.k
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, round(ej, 6) + 0e0 AS est_jaccard
        FROM est WHERE ej >= 0.5
    """


def _incremental_near_dup_sql() -> str:
    """DuckDB twin of incremental_near_dup over a build_near_dup_index
    artifact: the sigs/bands machinery of _minhash_pairs_sql verbatim,
    then a new-batch (doc_id % 3 == 0) x base (doc_id % 3 != 0)
    candidate join in place of the self-join; same-id matches excluded
    (vacuous here — the mod classes are disjoint — but part of the
    operator contract)."""
    h_seeded = _MD5H.format(x="concat(s, ':', CAST(k AS VARCHAR))")
    h_band = _MD5H.format(
        x="string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))
                 END AS ss
          FROM toks
        ),
        shingled AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sigs AS (
          SELECT doc_id, k, MIN({h_seeded}) AS mh
          FROM shingled CROSS JOIN range(32) t(k)
          GROUP BY doc_id, k
        ),
        bands AS (
          SELECT doc_id, k // 4 AS band, {h_band} AS bucket
          FROM sigs GROUP BY doc_id, k // 4
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id
          FROM bands n JOIN bands b
            ON n.band = b.band AND n.bucket = b.bucket
           AND n.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
           AND n.doc_id <> b.doc_id
        ),
        est AS (
          SELECT c.new_id, c.base_id,
                 SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 32.0 AS ej
          FROM cand c
          JOIN sigs a ON a.doc_id = c.new_id
          JOIN sigs b ON b.doc_id = c.base_id AND b.k = a.k
          GROUP BY 1, 2
        )
        SELECT new_id, base_id, round(ej, 6) + 0e0 AS est_jaccard
        FROM est WHERE ej >= 0.5
    """


def _near_dup_decontamination_sql() -> str:
    """DuckDB twin of near_dup_contamination_stats over the offset
    paraphrase benchmark (decontamination_near_dup_q): the minhash
    sigs/bands machinery of _minhash_pairs_sql over corpus UNION
    benchmark (bench ids offset by 1e7, text || ' zz bench suffix'),
    corpus x bench candidate join, signature-agreement estimate >=
    0.5, then the complete audit — every corpus doc with its match
    count, max estimate, and arg-max bench id (ej DESC, base_id ASC
    tiebreak, the min_by struct twin)."""
    h_seeded = _MD5H.format(x="concat(s, ':', CAST(k AS VARCHAR))")
    h_band = _MD5H.format(
        x="string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)"
    )
    return f"""
        WITH allr AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000 AS doc_id,
                 text || ' zz bench suffix' AS text
          FROM documents WHERE doc_id % 23 = 7
        ),
        toks AS (
          SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM allr
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))
                 END AS ss
          FROM toks
        ),
        shingled AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sigs AS (
          SELECT doc_id, k, MIN({h_seeded}) AS mh
          FROM shingled CROSS JOIN range(32) t(k)
          GROUP BY doc_id, k
        ),
        bands AS (
          SELECT doc_id, k // 4 AS band, {h_band} AS bucket
          FROM sigs GROUP BY doc_id, k // 4
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id
          FROM bands n JOIN bands b
            ON n.band = b.band AND n.bucket = b.bucket
           AND n.doc_id < 10000000 AND b.doc_id >= 10000000
        ),
        est AS (
          SELECT c.new_id, c.base_id,
                 SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 32.0 AS ej
          FROM cand c
          JOIN sigs a ON a.doc_id = c.new_id
          JOIN sigs b ON b.doc_id = c.base_id AND b.k = a.k
          GROUP BY 1, 2
        ),
        pairs AS (SELECT * FROM est WHERE ej >= 0.5),
        ranked AS (
          SELECT new_id, base_id, ej,
                 ROW_NUMBER() OVER (
                   PARTITION BY new_id
                   ORDER BY ej DESC, base_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY new_id) AS nm
          FROM pairs
        )
        SELECT d.doc_id,
               CAST(COALESCE(r.nm, 0) AS BIGINT) AS n_bench_matches,
               round(COALESCE(r.ej, 0.0), 6) + 0e0 AS max_est_jaccard,
               r.base_id AS bench_id
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
          ON d.doc_id = r.new_id
    """


def _streaming_ingest_dedup_sql() -> str:
    """DuckDB twin of the stream-static ingestion probe: identical
    machinery to _incremental_near_dup_sql but PER BAND (the stateless
    stream emits one row per matching band — collapsing would need
    event-time state), so the band column itself is under the hash."""
    h_seeded = _MD5H.format(x="concat(s, ':', CAST(k AS VARCHAR))")
    h_band = _MD5H.format(
        x="string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))
                 END AS ss
          FROM toks
        ),
        shingled AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sigs AS (
          SELECT doc_id, k, MIN({h_seeded}) AS mh
          FROM shingled CROSS JOIN range(32) t(k)
          GROUP BY doc_id, k
        ),
        bands AS (
          SELECT doc_id, k // 4 AS band, {h_band} AS bucket
          FROM sigs GROUP BY doc_id, k // 4
        ),
        cand AS (
          SELECT n.doc_id AS new_id, b.doc_id AS base_id, n.band
          FROM bands n JOIN bands b
            ON n.band = b.band AND n.bucket = b.bucket
           AND n.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
           AND n.doc_id <> b.doc_id
        ),
        est AS (
          SELECT c.new_id, c.base_id, c.band,
                 SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 32.0 AS ej
          FROM cand c
          JOIN sigs a ON a.doc_id = c.new_id
          JOIN sigs b ON b.doc_id = c.base_id AND b.k = a.k
          GROUP BY 1, 2, 3
        )
        SELECT new_id, base_id, CAST(band AS INTEGER) AS band,
               round(ej, 6) + 0e0 AS est_jaccard
        FROM est WHERE ej >= 0.5
    """


def _streaming_near_dup_sql() -> str:
    """DuckDB twin of streaming_near_dup_q: the md5-portable minhash
    machinery of _minhash_pairs_sql with 8 bands x 4 rows, then the
    single-batch stateful semantics — per (band, bucket) the
    representative is the earliest arrival (== MIN(doc_id): ts is
    monotone in doc_id), the representative emits is_dup 0, and every
    other member emits (signature agreement vs the REPRESENTATIVE
    >= 0.5)."""
    h_seeded = _MD5H.format(x="concat(s, ':', CAST(k AS VARCHAR))")
    h_band = _MD5H.format(
        x="string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))
                 END AS ss
          FROM toks
        ),
        shingled AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        sigs AS (
          SELECT doc_id, k, MIN({h_seeded}) AS mh
          FROM shingled CROSS JOIN range(32) t(k)
          GROUP BY doc_id, k
        ),
        bands AS (
          SELECT doc_id, k // 4 AS band, {h_band} AS bucket
          FROM sigs GROUP BY doc_id, k // 4
        ),
        rep AS (
          SELECT band, bucket, MIN(doc_id) AS rep_doc
          FROM bands GROUP BY band, bucket
        ),
        agree AS (
          SELECT b.doc_id, b.band, r.rep_doc,
                 SUM(CASE WHEN a.mh = c.mh THEN 1 ELSE 0 END) / 32.0 AS ag
          FROM bands b
          JOIN rep r ON b.band = r.band AND b.bucket = r.bucket
          JOIN sigs a ON a.doc_id = b.doc_id
          JOIN sigs c ON c.doc_id = r.rep_doc AND c.k = a.k
          GROUP BY 1, 2, 3
        )
        SELECT doc_id, CAST(band AS INT) AS band,
               CAST(CASE WHEN doc_id <> rep_doc AND ag >= 0.5
                    THEN 1 ELSE 0 END AS INT) AS is_dup
        FROM agree
    """


def _dedup_groups_sql() -> str:
    """DuckDB twin of dedup_groups over the md5-gated minhash pair graph:
    transitive closure by recursive CTE (reachability from each paired
    vertex), component label = min reachable id; unpaired documents are
    singleton groups of themselves."""
    return f"""
        WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
        ),
        comp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id)
        SELECT d.doc_id,
               COALESCE(comp.group_id, d.doc_id) AS group_id,
               d.doc_id = COALESCE(comp.group_id, d.doc_id) AS is_representative
        FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
    """


def _rev_adtributor_rec_sql() -> str:
    """DuckDB twin of rev_adtributor_rec_q (full recursion on the 2-dim
    slice). Level 0: element frame over BOTH dims, EP normalized by the
    element-frame totals (2x the leaf totals — _score_element_frame
    sums the concatenated per-dim frames), surprise with
    merged_divide=2; candidates = ep > teep AND a strict subset;
    top-k=2 dims by (surprise DESC, dim ASC). Level 1: per parent
    (dim, value) context, the remaining dim's elements scored over the
    SUB-frame (own totals, merged_divide=1); the parent is replaced
    only if EVERY parent element's context yields a candidate set;
    refined rows multiply EP down and keep the child surprise. Dedupe:
    the reference's separator-free concatenated-values key, first
    occurrence in (parent rank, parent element) order wins."""
    return f"""
        WITH {_RCA_CTE},
        f AS (
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS e,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS u,
                 "real" AS r, predict AS p
          FROM rca
        ),
        el0 AS (
          SELECT 'event_type' AS dim, e AS val, SUM(r) AS r, SUM(p) AS p
          FROM f GROUP BY e
          UNION ALL
          SELECT 'ub', u, SUM(r), SUM(p) FROM f GROUP BY u
        ),
        t0 AS (SELECT SUM(r) AS A2, SUM(p) AS F2 FROM el0),
        scored0 AS (
          SELECT dim, val,
                 (r - p) / (A2 - F2) AS ep,
                 0.5 * (
                   CASE WHEN (p / (F2 / 2)) = 0
                          OR (p / (F2 / 2) + r / (A2 / 2)) = 0 THEN 0.0
                        ELSE (p / (F2 / 2)) * ln(2.0 * (p / (F2 / 2))
                             / (p / (F2 / 2) + r / (A2 / 2))) END
                   + CASE WHEN (r / (A2 / 2)) = 0
                            OR (p / (F2 / 2) + r / (A2 / 2)) = 0 THEN 0.0
                          ELSE (r / (A2 / 2)) * ln(2.0 * (r / (A2 / 2))
                               / (p / (F2 / 2) + r / (A2 / 2))) END
                 ) AS surprise
          FROM el0 CROSS JOIN t0
        ),
        c0el AS MATERIALIZED (SELECT * FROM scored0 WHERE ep > 5e-2),
        c0 AS MATERIALIZED (
          SELECT * FROM (
            SELECT c.dim, SUM(c.ep) AS ep, SUM(c.surprise) AS surprise,
                   CAST(ROW_NUMBER() OVER (
                     ORDER BY SUM(c.surprise) DESC, c.dim ASC) AS INT) AS rk
            FROM c0el c
            GROUP BY c.dim
            HAVING COUNT(*) < (SELECT COUNT(*) FROM scored0 s
                               WHERE s.dim = c.dim)
          ) WHERE rk <= 2
        ),
        el1 AS (
          SELECT 'event_type' AS pdim, e AS pval, u AS val,
                 SUM(r) AS r, SUM(p) AS p
          FROM f GROUP BY e, u
          UNION ALL
          SELECT 'ub', u, e, SUM(r), SUM(p) FROM f GROUP BY u, e
        ),
        scored1 AS (
          SELECT pdim, pval, val,
                 (r - p) / (A1 - F1) AS ep,
                 0.5 * (
                   CASE WHEN (p / F1) = 0 OR (p / F1 + r / A1) = 0 THEN 0.0
                        ELSE (p / F1) * ln(2.0 * (p / F1)
                             / (p / F1 + r / A1)) END
                   + CASE WHEN (r / A1) = 0 OR (p / F1 + r / A1) = 0 THEN 0.0
                          ELSE (r / A1) * ln(2.0 * (r / A1)
                               / (p / F1 + r / A1)) END
                 ) AS surprise
          FROM (
            SELECT *, SUM(r) OVER (PARTITION BY pdim, pval) AS A1,
                      SUM(p) OVER (PARTITION BY pdim, pval) AS F1
            FROM el1
          )
        ),
        c1el AS MATERIALIZED (SELECT * FROM scored1 WHERE ep > 5e-2),
        c1 AS MATERIALIZED (
          SELECT c.pdim, c.pval, SUM(c.ep) AS ep, SUM(c.surprise) AS surprise
          FROM c1el c
          GROUP BY c.pdim, c.pval
          HAVING COUNT(*) < (SELECT COUNT(*) FROM scored1 s
                             WHERE s.pdim = c.pdim AND s.pval = c.pval)
        ),
        okd AS MATERIALIZED (
          SELECT c0.dim, c0.rk, c0.ep, c0.surprise,
                 NOT EXISTS (
                   SELECT 1 FROM c0el pe
                   WHERE pe.dim = c0.dim
                     AND NOT EXISTS (SELECT 1 FROM c1
                                     WHERE c1.pdim = pe.dim
                                       AND c1.pval = pe.val)
                 ) AS refined
          FROM c0
        ),
        finalrows AS (
          -- refined: one row per (parent element, its child set)
          SELECT 'event_type&ub' AS cuboid,
                 (SELECT string_agg(
                    CASE WHEN m.val < pe.val
                         THEN m.val || ',' || pe.val
                         ELSE pe.val || ',' || m.val END, ';'
                    ORDER BY m.val)
                  FROM c1el m
                  WHERE m.pdim = pe.dim AND m.pval = pe.val) AS elements,
                 (SELECT string_agg(
                    CASE WHEN m.val < pe.val
                         THEN m.val || pe.val
                         ELSE pe.val || m.val END, ''
                    ORDER BY m.val)
                  FROM c1el m
                  WHERE m.pdim = pe.dim AND m.pval = pe.val) AS dkey,
                 c1.ep * o.ep AS ep, c1.surprise AS surprise,
                 o.rk AS ord1, pe.val AS ord2
          FROM okd o
          JOIN c0el pe ON pe.dim = o.dim
          JOIN c1 ON c1.pdim = pe.dim AND c1.pval = pe.val
          WHERE o.refined
          UNION ALL
          -- unrefined: the parent set survives as singletons
          SELECT o.dim,
                 (SELECT string_agg(pe.val, ';' ORDER BY pe.val)
                  FROM c0el pe WHERE pe.dim = o.dim),
                 (SELECT string_agg(pe.val, '' ORDER BY pe.val)
                  FROM c0el pe WHERE pe.dim = o.dim),
                 o.ep, o.surprise, o.rk, ''
          FROM okd o WHERE NOT o.refined
        )
        SELECT cuboid, elements,
               round(ep, 6) + 0e0 AS ep,
               round(surprise, 6) + 0e0 AS surprise
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY dkey ORDER BY ord1 ASC, ord2 ASC) AS drn
          FROM finalrows
        ) WHERE drn = 1
    """


def _hotspot_search_sql(scoring: str = "gps") -> str:
    """DuckDB twin of the EXHAUSTIVE hotspot search (hotspot_search_q /
    hotspot_search_ps_q): per-cuboid element stats (native double sums,
    mirroring the search path) -> bitmask enumeration of every
    non-empty element subset -> gps or ps score -> global argmax by
    (score DESC, layer ASC, size ASC) — the same ordering as
    hotspot()'s final candidate sort. ps (ref hotspot.py:29-37) sums
    the per-element squared-residual decomposition P_e/Q_e (squares as
    x*x, never POW — libm pow can differ 1 ulp per engine) and clamps
    at 0.

    Tie caveat (ps pruning parents): the SQL layer-1 winner breaks
    exact score ties by (set_size ASC, elements ASC) while _mcts's
    new_q == max_q branch keeps a first-found superset over an
    equal-scoring subset — an EXACT float tie between a set and its
    superset could pick different prune parents per engine. Not
    observed at any tested scale; real-valued ps scores make exact
    ties measure-zero."""
    cuboids = [
        (0, 1, ["event_type"]),
        (1, 1, ["ub"]),
        (2, 2, ["event_type", "ub"]),
    ]
    parts = []
    for cid, layer, dims in cuboids:
        dims_sql = ", ".join(dims)
        label = " || '&' || ".join(
            f"'{d}=' || COALESCE(CAST({d} AS VARCHAR), 'None')" for d in dims
        )
        cuboid_str = "&".join(dims)
        parts.append(f"""
            SELECT {cid} AS cid, {layer} AS layer, '{cuboid_str}' AS cuboid,
                   {label} AS elem,
                   COUNT(*) AS n_e,
                   SUM(ABS("real" - __a)) AS A_e,
                   SUM(ABS("real" - predict)) AS B_e,
                   SUM(("real" - __a) * ("real" - __a)) AS P_e,
                   SUM(("real" - predict) * ("real" - predict)) AS Q_e
            FROM (
              SELECT *, predict * (CASE WHEN Fe <> 0 THEN Ve / Fe ELSE 0.0 END) AS __a
              FROM (
                SELECT *,
                       SUM("real") OVER (PARTITION BY {dims_sql}) AS Ve,
                       SUM(predict) OVER (PARTITION BY {dims_sql}) AS Fe
                FROM frame
              )
            )
            GROUP BY {dims_sql}""")
    stats_union = "\nUNION ALL\n".join(parts)
    if scoring == "ps":
        score_expr = """CASE WHEN tot.Q_tot = 0 THEN 0.0
                 ELSE GREATEST(1 - SQRT(tot.Q_tot - s.Q + s.P)
                               / SQRT(tot.Q_tot), 0.0) END"""
        # ps runs WITH hierarchical pruning (hotspot: use_pruning =
        # scoring != 'gps', ref hotspot.py:203-209): a layer-2 element
        # survives only if it refines EVERY layer-1 parent candidate
        # (the per-prev filters apply sequentially = AND) — i.e. its
        # event_type value is in cuboid-0's winning set AND its ub
        # value is in cuboid-1's winning set. A layer-2 subset is
        # admissible iff every member element survives.
        prune_ctes = """,
        w0m AS (
          SELECT unnest(string_split(elements, ';')) AS pe FROM (
            SELECT elements FROM scored WHERE cid = 0
            ORDER BY score DESC, set_size ASC, elements ASC LIMIT 1
          )
        ),
        w1m AS (
          SELECT unnest(string_split(elements, ';')) AS pe FROM (
            SELECT elements FROM scored WHERE cid = 1
            ORDER BY score DESC, set_size ASC, elements ASC LIMIT 1
          )
        )"""
        prune_where = """WHERE s.cid IN (0, 1)
           OR NOT EXISTS (
             SELECT 1 FROM unnest(string_split(s.elements, ';')) AS t(mem)
             WHERE NOT (
               EXISTS (SELECT 1 FROM w0m WHERE mem LIKE pe || '&%')
               AND EXISTS (SELECT 1 FROM w1m WHERE mem LIKE '%&' || pe)
             )
           )"""
    else:
        score_expr = """CASE WHEN (s.B / s.n
                            + CASE WHEN (tot.N - s.n) > 0
                                   THEN (tot.B_tot - s.B) / (tot.N - s.n)
                                   ELSE 0.0 END) <> 0
                      THEN 1 - ((s.A / s.n
                            + CASE WHEN (tot.N - s.n) > 0
                                   THEN (tot.B_tot - s.B) / (tot.N - s.n)
                                   ELSE 0.0 END)
                           / (s.B / s.n
                            + CASE WHEN (tot.N - s.n) > 0
                                   THEN (tot.B_tot - s.B) / (tot.N - s.n)
                                   ELSE 0.0 END))
                      ELSE 0.0 END"""
        prune_ctes = ""
        prune_where = ""
    return f"""
        WITH {_RCA_CTE},
        frame AS (
          SELECT event_type, hr, ub, "real", predict FROM rca
          WHERE event_type IN ('click', 'error') AND ub IN (1, 5)
        ),
        tot AS (
          SELECT COUNT(*) AS N, SUM(ABS("real" - predict)) AS B_tot,
                 SUM(("real" - predict) * ("real" - predict)) AS Q_tot
          FROM frame
        ),
        stats AS ({stats_union}),
        idx AS (
          SELECT *,
                 CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY elem) - 1
                      AS INT) AS i,
                 CAST(COUNT(*) OVER (PARTITION BY cid) AS INT) AS n_elems
          FROM stats
        ),
        masks AS (SELECT CAST(UNNEST(range(1, 16)) AS INT) AS mask),
        subsets AS (
          SELECT cid, MAX(layer) AS layer, MAX(cuboid) AS cuboid, mask,
                 SUM(n_e) AS n, SUM(A_e) AS A, SUM(B_e) AS B,
                 SUM(P_e) AS P, SUM(Q_e) AS Q,
                 COUNT(*) AS set_size,
                 string_agg(elem, ';' ORDER BY elem) AS elements
          FROM idx JOIN masks ON ((mask >> i) & 1) = 1
          WHERE mask < (1 << n_elems)
          GROUP BY cid, mask
        ),
        scored AS (
          SELECT s.cid, s.layer, s.cuboid, s.elements, s.set_size,
                 {score_expr} AS score
          FROM subsets s CROSS JOIN tot
        ){prune_ctes}
        SELECT CAST(layer AS INT) AS layer, cuboid, elements,
               round(score, 6) + 0e0 AS score
        FROM scored s
        {prune_where}
        ORDER BY score DESC, layer ASC, set_size ASC
        LIMIT 1
    """


def _simhash_pairs_sql() -> str:
    """DuckDB twin of simhash_dedup(hash_fn=md5_hash64): per-bit token
    majority vote -> 4 pigeonhole blocks -> block join -> hamming <= 3
    (operators/dedup.py:197-296). The md5 hash is 60-bit, so bits 60-63
    never vote positive in either engine — range(60) suffices."""
    h_tok = _MD5H.format(x="tok")
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split({_NORM_TEXT}, ' ')) AS tok
          FROM documents
        ),
        hashes AS (SELECT doc_id, {h_tok} AS hv FROM toks),
        votes AS (
          SELECT doc_id, i,
                 SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM hashes CROSS JOIN range(60) t(i)
          GROUP BY doc_id, i
        ),
        simh AS (
          SELECT doc_id,
                 CAST(COALESCE(SUM(CASE WHEN v > 0
                     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END), 0) AS BIGINT) AS sh
          FROM votes GROUP BY doc_id
        ),
        blocked AS (
          SELECT doc_id, sh, b AS blk, (sh >> CAST(b * 16 AS INT)) & 65535 AS blk_val
          FROM simh CROSS JOIN range(4) t(b)
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                          l.sh AS sha, r.sh AS shb
          FROM blocked l JOIN blocked r
            ON l.blk = r.blk AND l.blk_val = r.blk_val AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sha, shb)) <= 3
    """


def _knn_lsh_sql() -> str:
    """DuckDB twin of lsh_bucket_knn (operators/similarity.py:89-143):
    the 8 sign-random-projection hyperplanes are driver-side
    deterministic constants (seed 13), inlined here as DOUBLE[]
    literals; bucket-join then exact cosine top-5."""
    from riskloc_spark.operators.similarity import _hyperplane

    planes = [_hyperplane(64, 13 + i) for i in range(8)]

    def bucket(col: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product({col}, {lit}) >= 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return "(" + "\n + ".join(terms) + ")"

    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
                 {bucket("embedding::DOUBLE[]")} AS bkt
          FROM embeddings WHERE vec_id < 8
        ),
        c AS (
          SELECT vec_id, embedding::DOUBLE[] AS ee,
                 {bucket("embedding::DOUBLE[]")} AS bkt
          FROM embeddings
        ),
        s AS (
          SELECT query_id, vec_id,
                 list_dot_product(qe, ee)
                 / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee))) AS cs
          FROM q JOIN c USING (bkt)
        ),
        r AS (
          SELECT query_id, vec_id, round(cs, 6) + 0e0 AS cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cs DESC, vec_id ASC) AS INT) AS rnk
          FROM s
        )
        SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
    """


def _knn_ivf_sql() -> str:
    """DuckDB twin of knn_ivf_q: quantizer seeds = first 16 embeddings
    by vec_id (derived from the view — sf-agnostic), assignment is
    nearest-seed (first-min tie-break = np.argmin), each query probes
    its 6 nearest cells (stable order = ORDER BY d, cell), exact cosine
    top-5 inside them."""
    return """
        WITH seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 embedding::DOUBLE[] AS ce
          FROM embeddings ORDER BY vec_id LIMIT 16
        ),
        c AS (
          SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
        ),
        cells AS (
          SELECT vec_id, ee, cell FROM (
            SELECT c.vec_id, c.ee, s.cell,
                   row_number() OVER (PARTITION BY c.vec_id
                        ORDER BY list_distance(c.ee, s.ce), s.cell) AS rn
            FROM c CROSS JOIN seeds s
          ) WHERE rn = 1
        ),
        q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
          FROM embeddings WHERE vec_id < 8
        ),
        probes AS (
          SELECT query_id, qe, cell FROM (
            SELECT q.query_id, q.qe, s.cell,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_distance(q.qe, s.ce), s.cell) AS rn
            FROM q CROSS JOIN seeds s
          ) WHERE rn <= 6
        ),
        s AS (
          SELECT query_id, vec_id,
                 list_dot_product(qe, ee)
                 / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee))) AS cs
          FROM probes p JOIN cells cl ON p.cell = cl.cell
        ),
        r AS (
          SELECT query_id, vec_id, round(cs, 6) + 0e0 AS cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cs DESC, vec_id ASC) AS INT) AS rnk
          FROM s
        )
        SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
    """


def _squeeze_derived_cluster_stats_sql() -> str:
    """DuckDB twin of squeeze_derived_cluster_stats_q."""
    parts = []
    for dim in RCA_ATTRIBUTES:
        parts.append(f"""
            SELECT '{dim}' AS dimension, COALESCE(CAST({dim} AS VARCHAR), 'None') AS element,
                   CAST(SUM(__abn) AS BIGINT) AS num_elements,
                   COUNT(*) AS descents,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN real_a END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS Va_e,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN predict_a END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS Fa_e,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN real_b END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS Vb_e,
                   CAST(round(SUM(CAST(CASE WHEN __abn + __norm > 0 THEN predict_b END
                                       AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS Fb_e
            FROM flagged
            GROUP BY 1, 2
            HAVING SUM(__abn) > 0""")
    return f"""
        WITH rcad AS ({RCA_EVENTS_DERIVED_SQL}),
        ratios AS (
          SELECT *,
                 CASE WHEN real_b <> 0 THEN real_a / real_b ELSE 0.0 END AS r,
                 CASE WHEN predict_b <> 0 THEN predict_a / predict_b ELSE 0.0 END AS p
          FROM rcad WHERE predict_a > 0 AND predict_b > 0
        ),
        dev AS (
          SELECT *, CASE WHEN p + r = 0 THEN 0.0
                    ELSE (p - r) / (p + r) END AS deviation
          FROM ratios
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN deviation >= 0.1 THEN 1 ELSE 0 END AS __abn,
                 CASE WHEN ABS(deviation) < 0.05 THEN 1 ELSE 0 END AS __norm
          FROM dev
        )
    """ + "\nUNION ALL\n".join(parts)


def _rca_cuboids() -> list:
    """(cid, layer, dims) enumeration over RCA_ATTRIBUTES in
    cuboids_of_layer order — the single source for every search
    oracle's cuboid table (three hardcoded copies could silently
    desynchronize from the operator enumeration)."""
    from riskloc_spark.plans.cuboid import cuboids_of_layer

    out, cid = [], 0
    for layer in range(1, len(RCA_ATTRIBUTES) + 1):
        for c in cuboids_of_layer(RCA_ATTRIBUTES, layer):
            out.append((cid, layer, list(c)))
            cid += 1
    return out


_SQUEEZE_HIST_TAIL = """bins AS (
          SELECT l.i AS bi, l.e AS lo_e, r.e AS hi_e, (l.e + r.e) / 2 AS center
          FROM edges l JOIN edges r ON r.i = l.i + 1
        ),
        lastbin AS (SELECT MAX(bi) AS mb FROM bins),
        binsx AS (
          SELECT b.*, lb.mb, s.n FROM bins b CROSS JOIN lastbin lb
          CROSS JOIN st s
        ),
        hist AS (
          -- np.histogram(density=True) computes count/db/total (two
          -- divisions, in that order) — count/(total*db) is 1 ulp off
          SELECT b.bi, b.center,
                 COUNT(v.d) / (b.hi_e - b.lo_e) / b.n / 100.0 AS h
          FROM binsx b
          LEFT JOIN dev v
            ON (v.d >= b.lo_e AND v.d < b.hi_e)
            OR (b.bi = b.mb AND v.d = b.hi_e)
          GROUP BY b.bi, b.center, b.lo_e, b.hi_e, b.n
        ),"""


def _squeeze_cluster_ctes(derived: bool = False, variant: str = "hist") -> str:
    """Shared CTE chain: rca frame -> squeeze deviation -> density
    clustering, ending in ``ranges`` — one row per anomalous cluster
    with UNROUNDED member [lo, hi]. ``rows_`` carries the string-cast
    attributes + measures so the search oracle can reuse the same chain.
    Bit-exactness notes: float literals written 5e-2 (DuckDB parses
    0.05 as DECIMAL), np.arange fill semantics
    (e_i = start + i*fl((start+step)-start)), and np.histogram's
    density = count/width/total division order.

    ``variant``:
    - 'hist': fixed-bar-width (0.05) histogram branch (squeeze_clusters
      / squeeze_search gates).
    - 'kde': the operator's kde branch with the injected bit-portable
      box density (kde_density_fn=box_density) — arange(min, max, 0.01)
      sample grid, box counts / n, np.convolve with the (1,2,1)
      smoothing kernel ('full', ascending-index accumulation,
      truncated, / kernel-sum) — squeeze_clusters_kde gate.
    - 'filtered': 'hist' plus the enable_filter=True KPI pre-filter
      (ref anomaly_amount_fileter.py) with the injected box density
      over the metric linspace grid: CDF via recursive-CTE cumsum
      (DuckDB's windowed SUM is segment-tree, NOT sequential), kneedle
      knee, threshold fallback to min; the clustering input is then
      deviations of rows with metric > threshold. Callers must write
      WITH RECURSIVE — squeeze_search_filtered gate."""
    if derived:
        # squeeze derived mode (squeeze.py:860-868): filter predict_a>0
        # AND predict_b>0, per-leaf KPI = a/b ratio (0 where b = 0),
        # deviation and clustering on the ratio; the raw a/b measures
        # ride along for the locate phase's ripple ratios
        frame = f"""rcad AS ({RCA_EVENTS_DERIVED_SQL}),
        fbase AS (
          SELECT event_type, hr, ub, real_a, real_b, predict_a, predict_b,
                 CASE WHEN real_b <> 0 THEN real_a / real_b ELSE 0.0 END AS r0,
                 CASE WHEN predict_b <> 0 THEN predict_a / predict_b
                      ELSE 0.0 END AS p
          FROM rcad WHERE predict_a > 0 AND predict_b > 0
        ),"""
        measures = "real_a, real_b, predict_a, predict_b,"
    else:
        frame = f"""{_RCA_CTE},
        fbase AS (
          SELECT event_type, hr, ub, "real" AS r0, predict AS p
          FROM rca WHERE predict > 0
        ),"""
        measures = ""
    metric_col = (
        ",\n                 ABS(r - p) AS metric" if variant == "filtered" else ""
    )
    if variant == "filtered":
        # KPI pre-filter threshold: knee of the CDF of the injected box
        # density over np.linspace(mmin, mmax, 1000). linspace fill:
        # x_i = fl(i * fl((b-a)/(n-1))) + a, endpoint pinned to b.
        # Box halfwidth = (mmax - mmin) / 20 (mirrors the query's
        # metric_box_density closure). np.cumsum is strictly sequential
        # -> recursive CTE. Kneedle: first argmax of yn - xn, knee only
        # if the max difference is positive, else threshold = min.
        dev_cte = """mst AS MATERIALIZED (
          SELECT MIN(metric) AS mmin, MAX(metric) AS mmax,
                 CAST(COUNT(*) AS DOUBLE) AS nm,
                 COUNT(DISTINCT metric) AS ndist,
                 (MAX(metric) - MIN(metric)) / 2e1 AS hw
          FROM rows_
        ),
        tgrid AS MATERIALIZED (
          SELECT i, CASE WHEN i = 999 THEN mmax
                       ELSE CAST(i AS DOUBLE) * ((mmax - mmin) / 999) + mmin
                  END AS x
          FROM mst CROSS JOIN (SELECT UNNEST(range(1000)) AS i)
        ),
        tdens AS MATERIALIZED (
          SELECT g.i, g.x,
                 CAST((SELECT COUNT(*) FROM rows_ r, mst m
                       WHERE r.metric >= g.x - m.hw
                         AND r.metric <= g.x + m.hw) AS DOUBLE)
                   / (SELECT nm FROM mst) AS dens
          FROM tgrid g
        ),
        tcum AS (
          SELECT i, x, dens, dens AS y FROM tdens WHERE i = 0
          UNION ALL
          SELECT t.i, t.x, t.dens, c.y + t.dens
          FROM tdens t JOIN tcum c ON t.i = c.i + 1
        ),
        tnorm AS MATERIALIZED (
          SELECT i, x,
                 (y - (SELECT MIN(y) FROM tcum))
                   / ((SELECT MAX(y) FROM tcum)
                      - (SELECT MIN(y) FROM tcum) + 1e-300)
                 - (x - (SELECT mmin FROM mst))
                   / ((SELECT mmax FROM mst)
                      - (SELECT mmin FROM mst) + 1e-300) AS diff
          FROM tcum
        ),
        tknee AS MATERIALIZED (
          SELECT x, diff FROM tnorm ORDER BY diff DESC, i ASC LIMIT 1
        ),
        thr AS MATERIALIZED (
          SELECT CASE WHEN (SELECT ndist FROM mst) = 1
                        THEN (SELECT mmin FROM mst)
                      WHEN (SELECT diff FROM tknee) <= 0
                        THEN (SELECT mmin FROM mst)
                      ELSE (SELECT x FROM tknee) END AS t
        ),
        dev AS MATERIALIZED (
          SELECT d FROM rows_ WHERE metric > (SELECT t FROM thr)),"""
    else:
        dev_cte = "dev AS (SELECT d FROM rows_),"
    if variant == "kde":
        # the operator's kde branch with kde_density_fn=box_density:
        # sample grid np.arange(min, max, 0.01) (numpy _fill: e0=start,
        # e1=start+step, e_i = start + i*fl((start+step)-start)); box
        # density = count within +-0.05 / n; then the REAL smoothing
        # kernel np.convolve(dens, (1,2,1), 'full')/4 truncated to the
        # grid — accumulation ascends the density index
        # ((a[i-2]*1 + a[i-1]*2) + a[i]*1), absent terms skipped.
        density_chain = """nk AS (
          SELECT CAST(CEIL((dmax - dmin) / 1e-2) AS BIGINT) AS k FROM st
        ),
        kgrid AS (
          SELECT dmin AS e0, ((dmin + 1e-2) - dmin) AS delta FROM st
        ),
        samples AS (
          SELECT i, CASE WHEN i = 0 THEN e0
                         WHEN i = 1 THEN e0 + 1e-2
                         ELSE e0 + i * delta END AS s
          FROM kgrid CROSS JOIN (
            SELECT UNNEST(range((SELECT GREATEST(k, 1) FROM nk))) AS i)
        ),
        rawd AS (
          SELECT m.i, m.s,
                 CAST((SELECT COUNT(*) FROM dev v
                       WHERE v.d >= m.s - 5e-2
                         AND v.d <= m.s + 5e-2) AS DOUBLE)
                   / (SELECT CAST(n AS DOUBLE) FROM st) AS r
          FROM samples m
        ),
        hist AS (
          SELECT i AS bi, s AS center,
                 ((COALESCE(l2, 0e0) + COALESCE(l1, 0e0) * 2) + r) / 4 AS h
          FROM (SELECT i, s, r,
                       LAG(r, 2) OVER (ORDER BY i) AS l2,
                       LAG(r, 1) OVER (ORDER BY i) AS l1
                FROM rawd)
        ),"""
    elif variant == "auto":
        # the operator's DEFAULT clustering surface: np.histogram_bin_edges
        # (array, 'auto') = linspace(first, last, n_bins+1) with bin width
        # min(Freedman-Diaconis, Sturges) — IQR from type-7 percentiles
        # with numpy's _lerp branch (t >= 0.5 computes b - (b-a)*(1-t)),
        # FD = (2*iqr) * n^(-1/3), Sturges = ptp/(log2(n)+1), ptp==0 ->
        # single bin over [first-0.5, last+0.5]; then the reference's
        # edge padding (density_cluster.py:39): the LEFT pad
        # [e0 - 0.1*i for i in range(-5, 0, -1)] is an EMPTY Python
        # range — faithfully mirrored — and the right pad appends
        # e_last + 0.1*i for i in 1..5. glibc pow/log2 are correctly
        # rounded, so POW/LOG2 match numpy bitwise.
        density_chain = """sdev AS MATERIALIZED (
          SELECT d, ROW_NUMBER() OVER (ORDER BY d) - 1 AS rn FROM dev
        ),
        pst AS MATERIALIZED (
          -- numpy: the WIDTH estimators (FD/Sturges) use the RAW data
          -- ptp; only the outer edges are widened to +-0.5 when the
          -- data has zero range (then both widths are 0 -> 1 bin)
          SELECT n, dmax - dmin AS rawptp,
                 CASE WHEN dmax = dmin THEN dmin - 5e-1 ELSE dmin END AS fe,
                 CASE WHEN dmax = dmin THEN dmax + 5e-1 ELSE dmax END AS le
          FROM st
        ),
        perc AS MATERIALIZED (
          SELECT p75 - p25 AS iqr FROM (
            SELECT
              CASE WHEN f25 >= 5e-1
                   THEN v25b - (v25b - v25a) * (1 - f25)
                   ELSE v25a + (v25b - v25a) * f25 END AS p25,
              CASE WHEN f75 >= 5e-1
                   THEN v75b - (v75b - v75a) * (1 - f75)
                   ELSE v75a + (v75b - v75a) * f75 END AS p75
            FROM (
              SELECT
                (SELECT d FROM sdev WHERE rn = CAST(FLOOR((n-1) * 25e-2) AS BIGINT)) AS v25a,
                (SELECT d FROM sdev WHERE rn = LEAST(CAST(FLOOR((n-1) * 25e-2) AS BIGINT) + 1, n - 1)) AS v25b,
                (n-1) * 25e-2 - FLOOR((n-1) * 25e-2) AS f25,
                (SELECT d FROM sdev WHERE rn = CAST(FLOOR((n-1) * 75e-2) AS BIGINT)) AS v75a,
                (SELECT d FROM sdev WHERE rn = LEAST(CAST(FLOOR((n-1) * 75e-2) AS BIGINT) + 1, n - 1)) AS v75b,
                (n-1) * 75e-2 - FLOOR((n-1) * 75e-2) AS f75
              FROM st
            )
          )
        ),
        abw AS MATERIALIZED (
          SELECT CASE WHEN fd <> 0 THEN LEAST(fd, sturges) ELSE sturges END AS bw
          FROM (
            SELECT (2e0 * (SELECT iqr FROM perc))
                     * POW(CAST(n AS DOUBLE), -1e0 / 3e0) AS fd,
                   rawptp / (LOG2(CAST(n AS DOUBLE)) + 1e0) AS sturges
            FROM pst
          )
        ),
        nb AS MATERIALIZED (
          SELECT CASE WHEN (SELECT bw FROM abw) > 0
                      THEN CAST(CEIL((le - fe) / (SELECT bw FROM abw)) AS BIGINT)
                      ELSE 1 END AS k,
                 fe, le
          FROM pst
        ),
        edges AS MATERIALIZED (
          -- linspace fill (i * step + first, endpoint pinned) for the
          -- k+1 core edges, then 5 right-pad edges at le + 0.1*i
          SELECT i, CASE WHEN i = k THEN le
                         WHEN i > k THEN le + 1e-1 * CAST(i - k AS DOUBLE)
                         ELSE CAST(i AS DOUBLE) * ((le - fe) / k) + fe
                    END AS e
          FROM nb CROSS JOIN (SELECT UNNEST(range((SELECT k + 6 FROM nb))) AS i)
        ),
        """ + _SQUEEZE_HIST_TAIL
    else:
        density_chain = """ne AS (
          SELECT CAST(CEIL(((dmax + 5e-2 * 5) - (dmin - 5e-2 * 6)) / 5e-2)
                      AS BIGINT) AS k
          FROM st
        ),
        -- np.arange fill semantics (numpy _fill): e0 = start,
        -- e1 = start + step, e_i>=2 = start + i * delta with
        -- delta = fl((start + step) - start) — NOT start + i*step
        grid AS (
          SELECT dmin - 5e-2 * 6 AS e0,
                 ((dmin - 5e-2 * 6) + 5e-2) - (dmin - 5e-2 * 6) AS delta
          FROM st
        ),
        edges AS (
          SELECT i,
                 CASE WHEN i = 0 THEN e0
                      WHEN i = 1 THEN e0 + 5e-2
                      ELSE e0 + i * delta END AS e
          FROM grid CROSS JOIN (SELECT UNNEST(range((SELECT k FROM ne))) AS i)
        ),
        """ + _SQUEEZE_HIST_TAIL
    return f"""{frame}
        rows_ AS MATERIALIZED (
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS event_type,
                 COALESCE(CAST(hr AS VARCHAR), 'None') AS hr,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS ub,
                 {measures}
                 r, p,
                 CASE WHEN p + r = 0 THEN 0.0 ELSE (p - r) / (p + r) END AS d{metric_col}
          FROM (
            SELECT b.*, CASE WHEN mnr.m < 0 THEN r0 - mnr.m ELSE r0 END AS r
            FROM fbase b
            CROSS JOIN (SELECT MIN(r0) AS m FROM fbase) mnr
          )
        ),
        {dev_cte}
        st AS (
          -- max_normal_deviation default = 0.20 (ref squeeze_option.py:26)
          SELECT MIN(d) AS dmin, MAX(d) AS dmax, COUNT(*) AS n,
                 0.20 AS max_normal
          FROM dev
        ),
        {density_chain}
        win AS (
          SELECT GREATEST(COUNT(*) FILTER (WHERE h > 0) // 10, 1) AS w
          FROM hist
        ),
        sm AS (
          SELECT a.bi, a.center,
                 CASE WHEN a.bi < w.w - 1 THEN a.h
                      ELSE (SELECT SUM(b.h) FROM hist b
                            WHERE b.bi BETWEEN a.bi - w.w + 1 AND a.bi) / w.w
                 END AS s
          FROM hist a CROSS JOIN win w
        ),
        wrapped AS (
          SELECT bi, center, s,
                 COALESCE(LAG(s) OVER (ORDER BY bi),
                          (SELECT s FROM sm ORDER BY bi DESC LIMIT 1)) AS ls,
                 COALESCE(LEAD(s) OVER (ORDER BY bi),
                          (SELECT s FROM sm ORDER BY bi ASC LIMIT 1)) AS rs
          FROM sm
        ),
        maxima AS (
          SELECT center FROM wrapped WHERE s > ls AND s > rs AND s > 0
        ),
        bnds AS (
          SELECT center AS b FROM wrapped WHERE s <= ls AND s <= rs
          UNION ALL SELECT CAST('-infinity' AS DOUBLE)
          UNION ALL SELECT CAST('infinity' AS DOUBLE)
        ),
        rng AS (
          SELECT m.center,
                 (SELECT MAX(b) FROM bnds WHERE b <= m.center) AS lo,
                 (SELECT MIN(b) FROM bnds WHERE b >= m.center) AS hi
          FROM maxima m
        ),
        clusters AS (
          SELECT
            (SELECT MIN(d) FROM dev WHERE d >= r.lo AND d <= r.hi) AS cmin,
            (SELECT MAX(d) FROM dev WHERE d >= r.lo AND d <= r.hi) AS cmax,
            (SELECT AVG(ABS(d)) FROM dev WHERE d >= r.lo AND d <= r.hi) AS cmean,
            (SELECT COUNT(*) FROM dev WHERE d >= r.lo AND d <= r.hi) AS cn
          FROM rng r
        ),
        ranges AS MATERIALIZED (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY cmin) - 1 AS INT) AS cl,
                 cmin AS lo, cmax AS hi
          FROM clusters CROSS JOIN st
          WHERE cn > 0 AND cmean >= st.max_normal
        )"""


def _squeeze_clusters_sql(variant: str = "hist") -> str:
    """DuckDB twin of density_cluster_1d — 'hist' = the fixed-bar-width
    branch (squeeze_clusters_q), 'kde' = the kde branch with the
    injected box density (squeeze_clusters_kde_q). See
    _squeeze_cluster_ctes for the chains and the bit-exactness notes."""
    return f"""
        WITH {_squeeze_cluster_ctes(variant=variant)}
        SELECT cl AS cluster, round(lo, 6) + 0e0 AS lo, round(hi, 6) + 0e0 AS hi
        FROM ranges
    """


def _robustspot_frame_parts(derived: bool = False):
    """Shared frame/expression fragments for the robustspot round twins
    (adapt_frame + per-round expressions) — see _robustspot_round0_sql
    for semantics notes."""
    if derived:
        # adapt_frame(derived=True, flip): value = b - a, cnt = b,
        # k = value / cnt; any-measure-positive row filter
        frame_cte = f"rcad AS ({RCA_EVENTS_DERIVED_SQL})"
        frame_sql = """
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS event_type,
                 COALESCE(CAST(hr AS VARCHAR), 'None') AS hr,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS ub,
                 (real_b - real_a) / real_b AS k_real,
                 (predict_b - predict_a) / predict_b AS k_predict,
                 real_b AS cnt_real, predict_b AS cnt_predict,
                 real_b - real_a AS value_real,
                 predict_b - predict_a AS value_predict
          FROM rcad
          WHERE real_a > 0 OR predict_a > 0 OR real_b > 0 OR predict_b > 0"""
        # CA: rate1*rate2 - 1 with pandas fillna(0) for 0/0 (NULL in
        # DuckDB) — see _ca_local; this frame has no zero denominators
        ca_expr = """COALESCE(
            (fd / fm) * ((value_real + (fm - value_predict))
                         / (cnt_real + (fd - cnt_predict))) - 1, 0.0)"""
        aft_filter = "s.id > knee{sfx}.thr AND s.ca > 0.0"
        w_expr = "CAST(TRUNC(s.id * s.ca * 10000) AS DOUBLE)"
        ca_tot = ", SUM(value_predict) AS fm, SUM(cnt_predict) AS fd"
    else:
        frame_cte = _RCA_CTE
        frame_sql = """
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS event_type,
                 COALESCE(CAST(hr AS VARCHAR), 'None') AS hr,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS ub,
                 "real" AS k_real, predict AS k_predict
          FROM rca WHERE "real" > 0 OR predict > 0"""
        ca_expr = "0.0"
        aft_filter = "s.id > knee{sfx}.thr"
        w_expr = "CAST(TRUNC(s.id * 100) AS DOUBLE)"
        ca_tot = ""
    return frame_cte, frame_sql, ca_expr, aft_filter, w_expr, ca_tot


def _robustspot_mine_ctes(sfx: str, src: str, derived: bool = False) -> str:
    """One robustspot mining round (_select_frame -> _mine) as a CTE
    block over source frame ``src`` (an adapted leaf frame): ID/CA
    leave-one-out scoring RECOMPUTED on the round's frame, kneedle ID
    threshold, amplified integer weights, weighted-mode frequent items,
    rule confidences, support deltas, and the structured candidate set
    (typ + f-values carried so later rounds can drop the top cause's
    rows). Emits tot{sfx} .. cands{sfx}."""
    _, _, ca_expr, aft_filter, w_expr, ca_tot = _robustspot_frame_parts(derived)
    aft_filter = aft_filter.format(sfx=sfx)
    et, hr, ub = (
        f"a.event_type = f.f_et", f"a.hr = f.f_hr", f"a.ub = f.f_ub"
    )
    return f"""tot{sfx} AS (
          SELECT SUM(k_real) AS sv, SUM(k_predict) AS sf,
                 COUNT(*) AS n{ca_tot} FROM {src}
        ),
        scored{sfx} AS MATERIALIZED (
          -- pandas _id_local: x/0 gives +/-inf -> ID = 1.0 (0/0 gives
          -- NaN -> excluded by every > comparison); DuckDB float
          -- division by zero yields NULL, so emulate explicitly
          SELECT ad.*,
                 CASE WHEN (((sv - k_real) / (n - 1))
                            - ((sf - k_predict) / (n - 1))) = 0
                      THEN CASE WHEN k_real = k_predict THEN NULL
                           ELSE 1.0 END
                      ELSE 1 - 1 / (abs((k_real - k_predict)
                          / (((sv - k_real) / (n - 1))
                             - ((sf - k_predict) / (n - 1)))) + 1) END AS id,
                 {ca_expr} AS ca
          FROM {src} ad CROSS JOIN tot{sfx}
        ),
        ids{sfx} AS (
          SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn,
                 COUNT(*) OVER () AS n,
                 MIN(id) OVER () AS xmin, MAX(id) OVER () AS xmax
          FROM scored{sfx} WHERE id > 0
        ),
        knee{sfx} AS (
          SELECT CASE
            WHEN (SELECT COALESCE(MAX(n), 0) FROM ids{sfx}) < 3 THEN 0.5
            ELSE COALESCE((
              SELECT x FROM (
                SELECT id AS x,
                       ((CAST(rn AS DOUBLE) / n - 1.0 / n)
                          / (1.0 - 1.0 / n + 1e-300))
                       - ((id - xmin) / (xmax - xmin + 1e-300)) AS diff,
                       rn
                FROM ids{sfx}
              ) WHERE diff > 0 ORDER BY diff DESC, rn ASC LIMIT 1
            ), 0.5) END AS thr
        ),
        aft{sfx} AS MATERIALIZED (
          -- CA = 0 for every non-derived row and the threshold is -1,
          -- so the anomalous filter reduces to ID > knee; weights are
          -- trunc(ID * 100) like pandas .astype(int)
          SELECT s.*, {w_expr} AS w
          FROM scored{sfx} s CROSS JOIN knee{sfx} WHERE {aft_filter}
        ),
        fvals{sfx} AS (
          SELECT
            (SELECT event_type FROM aft{sfx} GROUP BY event_type
             ORDER BY SUM(w) DESC, event_type ASC LIMIT 1) AS f_et,
            (SELECT hr FROM aft{sfx} GROUP BY hr
             ORDER BY SUM(w) DESC, hr ASC LIMIT 1) AS f_hr,
            (SELECT ub FROM aft{sfx} GROUP BY ub
             ORDER BY SUM(w) DESC, ub ASC LIMIT 1) AS f_ub,
            (SELECT COALESCE(SUM(w), 0) FROM aft{sfx}) AS wtot,
            (SELECT COUNT(*) FROM aft{sfx}) AS n_aft,
            (SELECT COUNT(*) FROM scored{sfx}) AS n_bef
        ),
        wc{sfx} AS (
          SELECT f.*,
            SUM(CASE WHEN {et} THEN a.w ELSE 0 END) AS w_e,
            SUM(CASE WHEN {hr} THEN a.w ELSE 0 END) AS w_h,
            SUM(CASE WHEN {ub} THEN a.w ELSE 0 END) AS w_u,
            SUM(CASE WHEN {et} AND {hr} THEN a.w ELSE 0 END) AS w_eh,
            SUM(CASE WHEN {et} AND {ub} THEN a.w ELSE 0 END) AS w_eu,
            SUM(CASE WHEN {hr} AND {ub} THEN a.w ELSE 0 END) AS w_hu,
            SUM(CASE WHEN {et} AND {hr} AND {ub} THEN a.w ELSE 0 END) AS w_ehu
          FROM aft{sfx} a CROSS JOIN fvals{sfx} f
          GROUP BY ALL
        ),
        conf{sfx} AS (
          SELECT *,
            (CASE WHEN w_e > 0 THEN w_eh / w_e ELSE 0.0 END > 0.8
             OR CASE WHEN w_h > 0 THEN w_eh / w_h ELSE 0.0 END > 0.8)
              AS pass_eh,
            (CASE WHEN w_e > 0 THEN w_eu / w_e ELSE 0.0 END > 0.8
             OR CASE WHEN w_u > 0 THEN w_eu / w_u ELSE 0.0 END > 0.8)
              AS pass_eu,
            (CASE WHEN w_h > 0 THEN w_hu / w_h ELSE 0.0 END > 0.8
             OR CASE WHEN w_u > 0 THEN w_hu / w_u ELSE 0.0 END > 0.8)
              AS pass_hu,
            (CASE WHEN w_e > 0 THEN w_ehu / w_e ELSE 0.0 END > 0.8
             OR CASE WHEN w_h > 0 THEN w_ehu / w_h ELSE 0.0 END > 0.8
             OR CASE WHEN w_u > 0 THEN w_ehu / w_u ELSE 0.0 END > 0.8
             OR CASE WHEN w_eh > 0 THEN w_ehu / w_eh ELSE 0.0 END > 0.8
             OR CASE WHEN w_eu > 0 THEN w_ehu / w_eu ELSE 0.0 END > 0.8
             OR CASE WHEN w_hu > 0 THEN w_ehu / w_hu ELSE 0.0 END > 0.8)
              AS pass_ehu
          FROM wc{sfx}
        ),
        sup{sfx} AS (
          -- support deltas: before = the round's frame, after = aft;
          -- exact integer-count ratios in both engines
          SELECT c.*,
            CAST((SELECT COUNT(*) FROM scored{sfx} s WHERE s.event_type = c.f_et)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a WHERE a.event_type = c.f_et)
                     AS DOUBLE) / c.n_aft AS d_e,
            CAST((SELECT COUNT(*) FROM scored{sfx} s WHERE s.hr = c.f_hr)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a WHERE a.hr = c.f_hr)
                     AS DOUBLE) / c.n_aft AS d_h,
            CAST((SELECT COUNT(*) FROM scored{sfx} s WHERE s.ub = c.f_ub)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a WHERE a.ub = c.f_ub)
                     AS DOUBLE) / c.n_aft AS d_u,
            CAST((SELECT COUNT(*) FROM scored{sfx} s
                  WHERE s.event_type = c.f_et AND s.hr = c.f_hr)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a
                      WHERE a.event_type = c.f_et AND a.hr = c.f_hr)
                     AS DOUBLE) / c.n_aft AS d_eh,
            CAST((SELECT COUNT(*) FROM scored{sfx} s
                  WHERE s.event_type = c.f_et AND s.ub = c.f_ub)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a
                      WHERE a.event_type = c.f_et AND a.ub = c.f_ub)
                     AS DOUBLE) / c.n_aft AS d_eu,
            CAST((SELECT COUNT(*) FROM scored{sfx} s
                  WHERE s.hr = c.f_hr AND s.ub = c.f_ub)
                 AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a
                      WHERE a.hr = c.f_hr AND a.ub = c.f_ub)
                     AS DOUBLE) / c.n_aft AS d_hu,
            CAST((SELECT COUNT(*) FROM scored{sfx} s
                  WHERE s.event_type = c.f_et AND s.hr = c.f_hr
                    AND s.ub = c.f_ub) AS DOUBLE) / c.n_bef
              - CAST((SELECT COUNT(*) FROM aft{sfx} a
                      WHERE a.event_type = c.f_et AND a.hr = c.f_hr
                        AND a.ub = c.f_ub) AS DOUBLE) / c.n_aft AS d_ehu
          FROM conf{sfx} c
        ),
        cands{sfx} AS (
          -- grp: delta ties rank cross-rule causes (multi-item, grp 0)
          -- before single-item powerset causes (grp 1), mirroring
          -- _rank_by_delta's two-level key; typ + f-values carried so a
          -- later round can drop the winning cause's rows
          SELECT 'e' AS typ, f_et, f_hr, f_ub, wtot,
                 'event_type=' || f_et AS cause, d_e AS delta,
                 TRUE AS keep, 1 AS grp
          FROM sup{sfx}
          UNION ALL SELECT 'h', f_et, f_hr, f_ub, wtot,
                           'hr=' || f_hr, d_h, TRUE, 1 FROM sup{sfx}
          UNION ALL SELECT 'u', f_et, f_hr, f_ub, wtot,
                           'ub=' || f_ub, d_u, TRUE, 1 FROM sup{sfx}
          UNION ALL SELECT 'eh', f_et, f_hr, f_ub, wtot,
                           'event_type=' || f_et || '&hr=' || f_hr,
                           d_eh, pass_eh, 0 FROM sup{sfx}
          UNION ALL SELECT 'eu', f_et, f_hr, f_ub, wtot,
                           'event_type=' || f_et || '&ub=' || f_ub,
                           d_eu, pass_eu, 0 FROM sup{sfx}
          UNION ALL SELECT 'hu', f_et, f_hr, f_ub, wtot,
                           'hr=' || f_hr || '&ub=' || f_ub,
                           d_hu, pass_hu, 0 FROM sup{sfx}
          UNION ALL SELECT 'ehu', f_et, f_hr, f_ub, wtot,
                           'event_type=' || f_et || '&hr=' || f_hr
                           || '&ub=' || f_ub, d_ehu, pass_ehu, 0 FROM sup{sfx}
        )"""


def _robustspot_round0_sql(derived: bool = False) -> str:
    """DuckDB twin of robustspot_round0_q — see that docstring. The
    kneedle threshold mirrors _id_threshold exactly: CDF over RAW
    positive-ID rows (rn/n), extremes-normalized diff, first argmax,
    0.5 fallback below 3 rows or when no diff is positive."""
    frame_cte, frame_sql, *_ = _robustspot_frame_parts(derived)
    return f"""
        WITH {frame_cte},
        ad AS MATERIALIZED ({frame_sql}),
        {_robustspot_mine_ctes("", "ad", derived)}
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY delta ASC, grp ASC, cause ASC)
                    - 1 AS INT) AS rnk,
               cause AS root_cause
        FROM cands
        WHERE keep AND wtot > 0
        ORDER BY rnk
        LIMIT 5
    """


def _robustspot_round1_sql() -> str:
    """DuckDB twin of robustspot_round1_q: round 0's top cause (rank 0)
    is dropped from the adapted frame by its structured (typ, f-values)
    shape (ref robustspot.py:54-69 drop_top), then the ENTIRE mining
    round re-runs on the residual — ID/CA leave-one-out sums, kneedle
    threshold, weights, frequent items, rules, and deltas all
    recomputed (the leave-one-out recomputation is exactly what the
    round-0 gate could not cover). Empty when round 0 mined nothing."""
    frame_cte, frame_sql, *_ = _robustspot_frame_parts(False)
    return f"""
        WITH {frame_cte},
        ad AS MATERIALIZED ({frame_sql}),
        {_robustspot_mine_ctes("", "ad", False)},
        top0 AS MATERIALIZED (
          SELECT typ, f_et, f_hr, f_ub FROM cands
          WHERE keep AND wtot > 0
          ORDER BY delta ASC, grp ASC, cause ASC LIMIT 1
        ),
        ad1 AS MATERIALIZED (
          SELECT a.* FROM ad a WHERE NOT EXISTS (
            SELECT 1 FROM top0 t WHERE
              (t.typ = 'e' AND a.event_type = t.f_et) OR
              (t.typ = 'h' AND a.hr = t.f_hr) OR
              (t.typ = 'u' AND a.ub = t.f_ub) OR
              (t.typ = 'eh' AND a.event_type = t.f_et AND a.hr = t.f_hr) OR
              (t.typ = 'eu' AND a.event_type = t.f_et AND a.ub = t.f_ub) OR
              (t.typ = 'hu' AND a.hr = t.f_hr AND a.ub = t.f_ub) OR
              (t.typ = 'ehu' AND a.event_type = t.f_et
               AND a.hr = t.f_hr AND a.ub = t.f_ub)
          )
        ),
        {_robustspot_mine_ctes("1", "ad1", False)}
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY delta ASC, grp ASC, cause ASC)
                    - 1 AS INT) AS rnk,
               cause AS root_cause
        FROM cands1
        WHERE keep AND wtot > 0 AND EXISTS (SELECT 1 FROM top0)
        ORDER BY rnk
        LIMIT 5
    """

def _autoroot_search_sql() -> str:
    """DuckDB twin of autoroot_search_fixed_q. Cluster rule for
    ends=[inf, 0.0]: descending-overwrite assignment gives cluster 1
    for deviation <= 0, else 0 (relevant rows only). NPS terms over the
    FULL frame (windowed Ve/Fe ratio baseline), per-cluster x counts,
    the reference's filter and tie orders, and merge_root_causes as
    list_has_all subset drops."""
    parts = []
    for cid, layer, dims in _rca_cuboids():
        dims_sql = ", ".join(dims)
        label = " || '&' || ".join(f"'{d}=' || {d}" for d in dims)
        vals = "concat_ws(chr(31), " + ", ".join(dims) + ")"
        parts.append(f"""
            SELECT {cid} AS cid, {layer} AS layer, {label} AS elem,
                   {vals} AS vals,
                   COUNT(*) AS n_full,
                   SUM(a_term) AS Ap_e,
                   SUM(b_term) AS Bp_e,
                   SUM(CASE WHEN cluster = 0 THEN 1 ELSE 0 END) AS x0,
                   SUM(CASE WHEN cluster = 1 THEN 1 ELSE 0 END) AS x1
            FROM (
              SELECT *,
                     CASE WHEN r = 0 THEN 0.0
                          ELSE ABS(r - (CASE WHEN Fe <> 0 THEN p * Ve / Fe
                                        ELSE 0.0 END)) / r END AS a_term
              FROM (
                SELECT *,
                       SUM(r) OVER (PARTITION BY {dims_sql}) AS Ve,
                       SUM(p) OVER (PARTITION BY {dims_sql}) AS Fe
                FROM rows_
              )
            )
            GROUP BY {dims_sql}""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
        WITH {_RCA_CTE},
        rows_ AS MATERIALIZED (
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS event_type,
                 COALESCE(CAST(hr AS VARCHAR), 'None') AS hr,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS ub,
                 r, p, d,
                 CASE WHEN r = 0 THEN 0.0 ELSE ABS(r - p) / r END AS b_term,
                 CASE WHEN ABS(d) <= 0.2 THEN NULL
                      WHEN d <= 0.0 THEN 1 ELSE 0 END AS cluster
          FROM (
            SELECT event_type, hr, ub, "real" AS r, predict AS p,
                   CASE WHEN predict + "real" = 0 THEN 0.0
                        ELSE 2 * (predict - "real") / (predict + "real")
                   END AS d
            FROM rca
          )
        ),
        tot AS (SELECT COUNT(*) AS N, SUM(b_term) AS Bp_tot FROM rows_),
        zs AS (
          SELECT cluster, CAST(COUNT(*) AS DOUBLE) AS z
          FROM rows_ WHERE cluster IS NOT NULL GROUP BY cluster
        ),
        estats AS ({union}),
        melted AS (
          SELECT u.cid, u.layer, u.elem, u.vals, u.n_full,
                 u.cluster, u.x, zs.z
          FROM (
            SELECT cid, layer, elem, vals, n_full,
                   0 AS cluster, CAST(x0 AS DOUBLE) AS x FROM estats
            UNION ALL
            SELECT cid, layer, elem, vals, n_full,
                   1 AS cluster, CAST(x1 AS DOUBLE) AS x FROM estats
          ) u
          JOIN zs ON zs.cluster = u.cluster
          WHERE u.x / zs.z > 0.1
            AND u.x / u.n_full > 0.1
            AND NOT (u.layer = {len(RCA_ATTRIBUTES)} AND 1.0 / zs.z <= 0.1)
        ),
        scoredm AS (
          SELECT m.*,
                 1 - ((e.Ap_e / e.n_full
                       + CASE WHEN (t.N - e.n_full) > 0
                              THEN (t.Bp_tot - e.Bp_e) / (t.N - e.n_full)
                              ELSE 0.0 END)
                      / (e.Bp_e / e.n_full
                       + CASE WHEN (t.N - e.n_full) > 0
                              THEN (t.Bp_tot - e.Bp_e) / (t.N - e.n_full)
                              ELSE 0.0 END)) AS NPS,
                 m.x / m.n_full AS LF, m.x / m.z AS CF
          FROM melted m
          JOIN estats e ON e.cid = m.cid AND e.elem = m.elem
          CROSS JOIN tot t
        ),
        winners AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster, cid
                ORDER BY NPS DESC, vals ASC) AS rn
            FROM scoredm
          ) WHERE rn = 1
        ),
        bests AS (
          SELECT *, string_split(vals, chr(31)) AS vlist FROM (
            SELECT *, (NPS + LF + CF) / 3 AS avg_s,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY (NPS + LF + CF) / 3 DESC, cid ASC) AS brn
            FROM winners
          ) WHERE brn = 1
        ),
        -- merge_root_causes: drop the earlier-cluster cause of a
        -- same-layer subset pair, then drop children whose value set
        -- contains a surviving lower-layer parent's value set
        -- NOT EXISTS with LIST-typed correlated columns trips DuckDB
        -- 1.0's binder; anti left-joins express the same drops
        surv1 AS (
          SELECT b.cid, b.layer, b.elem, b.vals, b.vlist, b.avg_s
          FROM bests b
          LEFT JOIN bests o
            ON o.cluster > b.cluster AND o.layer = b.layer
            AND list_has_all(o.vlist, b.vlist)
          WHERE o.cid IS NULL
        ),
        finalc AS (
          SELECT ch.elem, ch.layer, ch.avg_s
          FROM surv1 ch
          LEFT JOIN surv1 par
            ON par.layer < ch.layer
            AND list_has_all(ch.vlist, par.vlist)
          WHERE par.cid IS NULL
        )
        SELECT elem AS root_cause, CAST(layer AS INT) AS layer,
               round(avg_s, 6) + 0e0 AS avg_score
        FROM finalc
    """


def _autoroot_kde_sql() -> str:
    """DuckDB twin of autoroot_kde_fixed_q — _autoroot_search_sql
    generalized from fixed ends=[inf, 0.0] (two hardcoded x0/x1
    columns) to DATA-DEPENDENT ends derived from the injected box
    density: linspace(-2, 2, 400) grid (numpy fill: s_i =
    fl(i * fl(4/399)) - 2, endpoint pinned), box counts / n over the
    relevant deviations, strict interior minima (e[i-1] > e[i] <
    e[i+1]), ends = minima + inf descending, cluster = MAX(end index)
    with end >= deviation; per-(element, cluster) x counts replace the
    fixed columns. The single-distinct-deviation early return
    (kde_boundaries_weighted -> [inf]) is the nd > 1 guard."""
    estat_parts, x_parts = [], []
    for cid, layer, dims in _rca_cuboids():
        dims_sql = ", ".join(dims)
        label = " || '&' || ".join(f"'{d}=' || {d}" for d in dims)
        vals = "concat_ws(chr(31), " + ", ".join(dims) + ")"
        estat_parts.append(f"""
            SELECT {cid} AS cid, {layer} AS layer, {label} AS elem,
                   {vals} AS vals,
                   COUNT(*) AS n_full,
                   SUM(a_term) AS Ap_e,
                   SUM(b_term) AS Bp_e
            FROM (
              SELECT *,
                     CASE WHEN r = 0 THEN 0.0
                          ELSE ABS(r - (CASE WHEN Fe <> 0 THEN p * Ve / Fe
                                        ELSE 0.0 END)) / r END AS a_term
              FROM (
                SELECT *,
                       SUM(r) OVER (PARTITION BY {dims_sql}) AS Ve,
                       SUM(p) OVER (PARTITION BY {dims_sql}) AS Fe
                FROM rows_
              )
            )
            GROUP BY {dims_sql}""")
        x_parts.append(f"""
            SELECT {cid} AS cid, cluster, {label} AS elem,
                   CAST(COUNT(*) AS DOUBLE) AS x
            FROM rows_ WHERE cluster IS NOT NULL
            GROUP BY {dims_sql}, cluster""")
    estats_union = "\nUNION ALL\n".join(estat_parts)
    x_union = "\nUNION ALL\n".join(x_parts)
    return f"""
        WITH {_RCA_CTE},
        rows0 AS MATERIALIZED (
          SELECT COALESCE(CAST(event_type AS VARCHAR), 'None') AS event_type,
                 COALESCE(CAST(hr AS VARCHAR), 'None') AS hr,
                 COALESCE(CAST(ub AS VARCHAR), 'None') AS ub,
                 r, p, d,
                 CASE WHEN r = 0 THEN 0.0 ELSE ABS(r - p) / r END AS b_term
          FROM (
            SELECT event_type, hr, ub, "real" AS r, predict AS p,
                   CASE WHEN predict + "real" = 0 THEN 0.0
                        ELSE 2 * (predict - "real") / (predict + "real")
                   END AS d
            FROM rca
          )
        ),
        relv AS MATERIALIZED (SELECT d FROM rows0 WHERE ABS(d) > 0.2),
        nrel AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(DISTINCT d) AS nd
          FROM relv
        ),
        kgrid AS MATERIALIZED (
          SELECT i, CASE WHEN i = 399 THEN 2e0
                      ELSE CAST(i AS DOUBLE) * (4e0 / 399) + (-2e0) END AS s
          FROM range(400) t(i)
        ),
        kdens AS MATERIALIZED (
          SELECT g.i, g.s,
                 CAST((SELECT COUNT(*) FROM relv v
                       WHERE v.d >= g.s - 5e-2
                         AND v.d <= g.s + 5e-2) AS DOUBLE)
                   / (SELECT n FROM nrel) AS e
          FROM kgrid g
        ),
        mins AS MATERIALIZED (
          SELECT s FROM (
            SELECT i, s, e,
                   LAG(e) OVER (ORDER BY i) AS pe,
                   LEAD(e) OVER (ORDER BY i) AS ne
            FROM kdens
          ) WHERE i BETWEEN 1 AND 398 AND e < pe AND e < ne
        ),
        ends AS MATERIALIZED (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY e DESC) - 1 AS INT) AS ci,
                 e
          FROM (
            SELECT CAST('infinity' AS DOUBLE) AS e
            UNION ALL
            SELECT s FROM mins WHERE (SELECT nd FROM nrel) > 1
          )
        ),
        rows_ AS MATERIALIZED (
          SELECT r.*,
                 CASE WHEN ABS(r.d) <= 0.2 THEN NULL
                      ELSE (SELECT MAX(ci) FROM ends e WHERE e.e >= r.d)
                 END AS cluster
          FROM rows0 r
        ),
        tot AS (SELECT COUNT(*) AS N, SUM(b_term) AS Bp_tot FROM rows_),
        zs AS (
          SELECT cluster, CAST(COUNT(*) AS DOUBLE) AS z
          FROM rows_ WHERE cluster IS NOT NULL GROUP BY cluster
        ),
        estats AS ({estats_union}),
        xstats AS ({x_union}),
        melted AS (
          SELECT x.cid, e.layer, x.elem, e.vals, e.n_full,
                 x.cluster, x.x, zs.z
          FROM xstats x
          JOIN zs ON zs.cluster = x.cluster
          JOIN estats e ON e.cid = x.cid AND e.elem = x.elem
          WHERE x.x / zs.z > 0.1
            AND x.x / e.n_full > 0.1
            AND NOT (e.layer = {len(RCA_ATTRIBUTES)} AND 1.0 / zs.z <= 0.1)
        ),
        scoredm AS (
          SELECT m.*,
                 1 - ((e.Ap_e / e.n_full
                       + CASE WHEN (t.N - e.n_full) > 0
                              THEN (t.Bp_tot - e.Bp_e) / (t.N - e.n_full)
                              ELSE 0.0 END)
                      / (e.Bp_e / e.n_full
                       + CASE WHEN (t.N - e.n_full) > 0
                              THEN (t.Bp_tot - e.Bp_e) / (t.N - e.n_full)
                              ELSE 0.0 END)) AS NPS,
                 m.x / m.n_full AS LF, m.x / m.z AS CF
          FROM melted m
          JOIN estats e ON e.cid = m.cid AND e.elem = m.elem
          CROSS JOIN tot t
        ),
        winners AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster, cid
                ORDER BY NPS DESC, vals ASC) AS rn
            FROM scoredm
          ) WHERE rn = 1
        ),
        bests AS (
          SELECT *, string_split(vals, chr(31)) AS vlist FROM (
            SELECT *, (NPS + LF + CF) / 3 AS avg_s,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY (NPS + LF + CF) / 3 DESC, cid ASC) AS brn
            FROM winners
          ) WHERE brn = 1
        ),
        surv1 AS (
          SELECT b.cid, b.layer, b.elem, b.vals, b.vlist, b.avg_s
          FROM bests b
          LEFT JOIN bests o
            ON o.cluster > b.cluster AND o.layer = b.layer
            AND list_has_all(o.vlist, b.vlist)
          WHERE o.cid IS NULL
        ),
        finalc AS (
          SELECT ch.elem, ch.layer, ch.avg_s
          FROM surv1 ch
          LEFT JOIN surv1 par
            ON par.layer < ch.layer
            AND list_has_all(ch.vlist, par.vlist)
          WHERE par.cid IS NULL
        )
        SELECT elem AS root_cause, CAST(layer AS INT) AS layer,
               round(avg_s, 6) + 0e0 AS avg_score
        FROM finalc
    """


def _squeeze_search_sql(derived: bool = False, variant: str = "hist") -> str:
    """DuckDB twin of the FULL squeeze search (squeeze_search_q:
    fixed-bar-width clustering, enable_filter=False): the shared
    cluster chain (_squeeze_cluster_ctes) -> normal mask (|d| <
    min |abnormal d|) -> auto score_weight -> per-(cluster, cuboid)
    element stats, descent-ratio ranking capped at
    min(#kept, 12, #elements-1), prefix ripple ratios r_p, ps-score
    terms for every partition size p, per-cuboid argmax (first max),
    ps_upper_bound=0.90 layer cut, and the per-cluster winner by
    rank = score*weight - p*layer with enumeration-order tie-break.
    Output: DISTINCT root-cause strings (no floats — FP noise can only
    flip decisions, which the three-scale gate runs would surface).

    Collation caveat: descent-ratio ties break on the concatenated
    'd=v&d=v' elem string, while the pandas path orders per-column
    value tuples — these agree for every character >= '&' (0x26),
    which covers this frame's alphabet (letters/digits/'None'), but
    values containing '!', space, etc. would collate differently."""
    cuboids = _rca_cuboids()

    def label(dims):
        return " || '&' || ".join(f"'{d}=' || {d}" for d in dims)

    if derived:
        msum = """SUM(CASE WHEN {sel} THEN r.real_a END) AS Va_e,
                   SUM(CASE WHEN {sel} THEN r.predict_a END) AS Fa_e,
                   SUM(CASE WHEN {sel} THEN r.real_b END) AS Vb_e,
                   SUM(CASE WHEN {sel} THEN r.predict_b END) AS Fb_e,"""
    else:
        msum = """SUM(CASE WHEN {sel} THEN r.rr END) AS V_e,
                   SUM(CASE WHEN {sel} THEN r.pp END) AS F_e,"""
    estat_parts, rowsel_parts = [], []
    for cid, layer, dims in cuboids:
        dims_sql = ", ".join(dims)
        lb = label(dims)
        sel = "(r.d >= g.lo AND r.d <= g.hi) OR r.is_normal"
        estat_parts.append(f"""
            SELECT g.cl, {cid} AS cid, {layer} AS layer, {lb} AS elem,
                   SUM(CASE WHEN r.d >= g.lo AND r.d <= g.hi
                       THEN 1 ELSE 0 END) AS num_elements,
                   COUNT(*) AS descents,
                   {msum.format(sel=sel)}
                   (SELECT COUNT(*) FROM
                      (SELECT DISTINCT {dims_sql} FROM rows_)) AS total_elements
            FROM rowsn r CROSS JOIN ranges g
            GROUP BY g.cl, {dims_sql}""")
        rowsel_parts.append(f"""
            SELECT g.cl, {cid} AS cid, {lb} AS elem, r.rr, r.pp
            FROM rowsn r CROSS JOIN ranges g
            WHERE {sel}""")
    estats_union = "\nUNION ALL\n".join(estat_parts)
    rowsel_union = "\nUNION ALL\n".join(rowsel_parts)
    inf = "CAST('infinity' AS DOUBLE)"
    ninf = "CAST('-infinity' AS DOUBLE)"
    if derived:
        prefix_cols = """SUM(COALESCE(Va_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS vap,
                 SUM(COALESCE(Fa_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS fap,
                 SUM(COALESCE(Vb_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS vbp,
                 SUM(COALESCE(Fb_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS fbp"""
        # _derived_ripple: real = va/vb (0 if vb=0); predict = fa/fb
        # (0 if fb=0); r_p = real/predict if predict else 0
        ripple_expr = """CASE WHEN (CASE WHEN fbp <> 0 THEN fap / fbp
                                    ELSE 0.0 END) <> 0
                 THEN (CASE WHEN vbp <> 0 THEN vap / vbp ELSE 0.0 END)
                      / (CASE WHEN fbp <> 0 THEN fap / fbp ELSE 0.0 END)
                 ELSE 0.0 END"""
    else:
        prefix_cols = """SUM(COALESCE(V_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS vp,
                 SUM(COALESCE(F_e, 0.0)) OVER (PARTITION BY cl, cid
                     ORDER BY rnk) AS fp"""
        ripple_expr = "CASE WHEN fp <> 0 THEN vp / fp ELSE 0.0 END"
    recursive = "RECURSIVE " if variant == "filtered" else ""
    return f"""
        WITH {recursive}{_squeeze_cluster_ctes(derived, variant=variant)},
        rowsn AS MATERIALIZED (
          SELECT r.event_type, r.hr, r.ub, {"r.real_a, r.real_b, r.predict_a, r.predict_b," if derived else ""}
                 r.r AS rr, r.p AS pp, r.d,
                 ABS(r.d) < (
                   SELECT COALESCE(MIN(ABS(x.d)), 0.0) FROM rows_ x
                   WHERE EXISTS (SELECT 1 FROM ranges g
                                 WHERE x.d >= g.lo AND x.d <= g.hi)
                 ) AS is_normal
          FROM rows_ r
        ),
        sw AS (
          SELECT (LN(nc + 1.0) / nc) * (na / LN(na + 1.0)) * gcov AS w
          FROM (
            SELECT CAST((SELECT COUNT(*) FROM ranges) AS DOUBLE) AS nc,
                   CAST((SELECT COUNT(DISTINCT event_type)
                              + COUNT(DISTINCT hr)
                              + COUNT(DISTINCT ub) FROM rows_) AS DOUBLE) AS na,
                   -LN(CAST(GREATEST((
                        SELECT COUNT(*) FROM rows_ x
                        WHERE EXISTS (SELECT 1 FROM ranges g
                                      WHERE x.d >= g.lo AND x.d <= g.hi)
                      ), 1) AS DOUBLE)
                      / GREATEST((SELECT COUNT(*) FROM rows_), 1)) AS gcov
          )
        ),
        estats AS ({estats_union}),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cl, cid
                     ORDER BY (CAST(num_elements AS DOUBLE) / descents) DESC,
                              elem ASC) AS INT) AS rnk,
                 COUNT(*) OVER (PARTITION BY cl, cid) AS n_kept
          FROM estats WHERE num_elements > 0
        ),
        pref AS (
          SELECT cl, cid, layer, elem, rnk,
                 {prefix_cols}
          FROM ranked WHERE rnk <= LEAST(n_kept, 12, total_elements - 1)
        ),
        rp AS (
          SELECT cl, cid, layer, rnk AS p_sz,
                 {ripple_expr} AS r_p
          FROM pref
        ),
        rowsel AS ({rowsel_union}),
        terms AS (
          SELECT rs.cl, rs.cid, q.p_sz, MAX(q.r_p) AS r_p,
                 MAX(q.layer) AS layer,
                 SUM(CASE WHEN t.rnk <= q.p_sz
                     THEN ABS(rs.rr - rs.pp * q.r_p) END) AS d1,
                 SUM(CASE WHEN t.rnk <= q.p_sz THEN 1 ELSE 0 END) AS n1,
                 SUM(CASE WHEN t.rnk IS NULL OR t.rnk > q.p_sz
                     THEN ABS(rs.rr - rs.pp) END) AS d2,
                 SUM(CASE WHEN t.rnk IS NULL OR t.rnk > q.p_sz
                     THEN 1 ELSE 0 END) AS n2,
                 SUM(CASE WHEN t.rnk <= q.p_sz
                     THEN ABS(rs.rr - rs.pp) END) AS b1
          FROM rowsel rs
          LEFT JOIN (SELECT cl, cid, elem, rnk FROM pref) t
            ON t.cl = rs.cl AND t.cid = rs.cid AND t.elem = rs.elem
          JOIN rp q ON q.cl = rs.cl AND q.cid = rs.cid
          GROUP BY rs.cl, rs.cid, q.p_sz
        ),
        pscore AS (
          SELECT cl, cid, layer, p_sz,
                 CASE WHEN denom = 0 THEN {ninf}
                      ELSE 1 - num / denom END AS score
          FROM (
            SELECT *,
              (CASE WHEN n1 > 0 THEN COALESCE(b1, 0.0) / n1
                    WHEN COALESCE(b1, 0.0) = 0 THEN 0.0 ELSE {inf} END)
              + (CASE WHEN n2 > 0 THEN COALESCE(d2, 0.0) / n2
                      WHEN COALESCE(d2, 0.0) = 0 THEN 0.0 ELSE {inf} END)
                AS denom,
              (CASE WHEN n1 > 0 THEN COALESCE(d1, 0.0) / n1
                    WHEN COALESCE(d1, 0.0) = 0 THEN 0.0 ELSE {inf} END)
              + (CASE WHEN n2 > 0 THEN COALESCE(d2, 0.0) / n2
                      WHEN COALESCE(d2, 0.0) = 0 THEN 0.0 ELSE {inf} END)
                AS num
            FROM terms
          )
        ),
        best AS (
          SELECT cl, cid, layer, p_sz AS p, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cl, cid
                ORDER BY (CASE WHEN isnan(score) THEN {ninf}
                          ELSE score END) DESC, p_sz ASC) AS brn
            FROM pscore
          ) WHERE brn = 1
        ),
        allc AS (
          SELECT g.cl, c.cid, c.layer
          FROM ranges g CROSS JOIN (VALUES {", ".join(f"({cid}, {layer})" for cid, layer, _ in cuboids)}) c(cid, layer)
        ),
        entries AS (
          SELECT a.cl, a.cid, a.layer, b.p,
                 COALESCE(CASE WHEN isnan(b.score) THEN {ninf}
                          ELSE b.score END, {ninf}) AS score
          FROM allc a LEFT JOIN best b
            ON b.cl = a.cl AND b.cid = a.cid
        ),
        layercut AS (
          SELECT cl, COALESCE(MIN(CASE WHEN score > 0.90 THEN layer END),
                              99) AS lstar
          FROM entries GROUP BY cl
        ),
        kept AS (
          SELECT e.*,
                 CASE WHEN e.score = {ninf} THEN {ninf}
                      ELSE e.score * (SELECT w FROM sw) - e.p * e.layer
                 END AS rnk_score
          FROM entries e JOIN layercut lc ON lc.cl = e.cl
          WHERE e.layer <= lc.lstar
        ),
        winner AS (
          SELECT cl, cid, p FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cl
                ORDER BY rnk_score DESC, cid ASC) AS wrn
            FROM kept
          ) WHERE wrn = 1
        ),
        rc AS (
          SELECT w.cl, string_agg(t.elem, ';' ORDER BY t.elem) AS root_cause
          FROM winner w JOIN pref t
            ON t.cl = w.cl AND t.cid = w.cid AND t.rnk <= w.p
          WHERE w.p IS NOT NULL
          GROUP BY w.cl
        )
        SELECT DISTINCT root_cause FROM rc
    """


def _riskloc_prepared_ctes(derived: bool = False) -> str:
    """Shared CTE chain building riskloc's fully prepared leaf frame in
    SQL: ep (global sums; derived mode uses the a/b-split EP normalized
    by its own sum, as in _riskloc_driver), deviation, cutoff
    (n_remove=5 distinct deviations), partition, weight, anomaly-ep
    sign flip (ep2), ep_z — mirror of the scoring prelude of riskloc()
    and _riskloc_driver in operators/riskloc.py. Used by the
    riskloc_layer_scores and riskloc_first_cause[_derived] oracles."""
    if derived:
        scored = f"""rcad AS ({RCA_EVENTS_DERIVED_SQL}),
        tot AS (SELECT SUM(predict_a) AS Fa, SUM(predict_b) AS Fb FROM rcad),
        ep0t AS (
          SELECT rcad.*,
                 ((real_a - predict_a) * Fb - (real_b - predict_b) * Fa)
                   / (Fb * (Fb + real_b - predict_b)) AS ep0,
                 CASE WHEN predict + "real" = 0 THEN 0.0
                 ELSE 2 * (predict - "real") / (predict + "real") END AS deviation
          FROM rcad CROSS JOIN tot
        ),
        scored AS (
          SELECT *, ep0 / (SELECT SUM(ep0) FROM ep0t) AS ep FROM ep0t
        ),"""
    else:
        scored = f"""{_RCA_CTE},
        tot AS (SELECT SUM("real") AS A, SUM(predict) AS Ff FROM rca),
        scored AS (
          SELECT rca.*, ("real" - predict) / (A - Ff) AS ep,
                 CASE WHEN predict + "real" = 0 THEN 0.0
                 ELSE 2 * (predict - "real") / (predict + "real") END AS deviation
          FROM rca CROSS JOIN tot
        ),"""
    return f"""{scored}
        devs AS (SELECT DISTINCT deviation AS d FROM scored),
        lo AS (SELECT MAX(d) AS v FROM (SELECT d FROM devs ORDER BY d ASC LIMIT 6)),
        hi AS (SELECT MIN(d) AS v FROM (SELECT d FROM devs ORDER BY d DESC LIMIT 6)),
        cut AS (SELECT CASE WHEN abs(lo.v) <= abs(hi.v) THEN -lo.v ELSE -hi.v END AS cutoff
                FROM lo CROSS JOIN hi),
        parts AS (
          SELECT s.*, c.cutoff,
                 -- mirror Python's copysign tie: cutoff == -0.0 means the
                 -- NEGATIVE side is anomalous (scores.add_partition:120)
                 CASE WHEN (CASE WHEN c.cutoff = 0 THEN NOT signbit(c.cutoff)
                            ELSE c.cutoff >= 0 END)
                      THEN (CASE WHEN s.deviation > c.cutoff THEN 1 ELSE 0 END)
                      ELSE (CASE WHEN s.deviation < c.cutoff THEN 1 ELSE 0 END)
                 END AS part
          FROM scored s CROSS JOIN cut c
        ),
        pw AS (
          SELECT *, LEAST(
                   CASE WHEN part = 1 THEN abs(deviation)
                        WHEN "real" = 0 AND predict = 0 THEN 0.0
                        ELSE abs(cutoff - deviation) END, 1.0) AS weight
          FROM parts
        ),
        eps AS (SELECT SUM(CASE WHEN part = 1 THEN ep END) AS s FROM pw),
        prepared AS MATERIALIZED (
          SELECT pw.*,
                 CASE WHEN e.s < 0 THEN -ep ELSE ep END AS ep2,
                 CASE WHEN (CASE WHEN e.s < 0 THEN -ep ELSE ep END) > 0
                      THEN (CASE WHEN e.s < 0 THEN -ep ELSE ep END)
                      ELSE 0.0 END AS ep_z
          FROM pw CROSS JOIN eps e
        )"""


def _riskloc_pass_ctes(src: str, sfx: str, prior: list[str]) -> str:
    """One riskloc search pass as a CTE block over source frame ``src``
    (a prepared-column frame): layer-1 prune scan (appending to the
    prune state, ref riskloc.py:89-96 / _driver_search), per-element
    scoring for all 7 cuboids, candidate filter, per-cuboid max-EP.
    ``prior`` lists pruneset CTE names from earlier passes — the prune
    dict ACCUMULATES across iterations, so layer-1 branches exclude the
    prior passes' pruned values (the pass's own prunes are computed
    from the already-excluded frame) and layer >= 2 branches exclude
    prior + this pass's. Emits l1{sfx}, pruneset{sfx}, layer{sfx},
    scored_layers{sfx}, cands{sfx}."""
    cuboids = _rca_cuboids()

    def excl_clause(dims, pruneset_names):
        if not pruneset_names:
            return ""
        parts = []
        for ps_name in pruneset_names:
            conds = " OR ".join(
                f"(ps.dim = '{d}' AND ps.val = COALESCE(CAST(p.{d} AS VARCHAR), 'None'))"
                for d in dims
            )
            parts.append(
                f"NOT EXISTS (SELECT 1 FROM {ps_name} ps WHERE {conds})"
            )
        return "WHERE " + " AND ".join(parts)

    branches = []
    for cid, layer, dims in cuboids:
        dims_sql = ", ".join(dims)
        label = " || '&' || ".join(
            f"'{d}=' || COALESCE(CAST({d} AS VARCHAR), 'None')" for d in dims
        )
        ps_names = list(prior) if layer == 1 else list(prior) + [f"pruneset{sfx}"]
        excl = excl_clause(dims, ps_names)
        branches.append(f"""
            SELECT {cid} AS cid, {layer} AS layer, {label} AS elem,
                   COALESCE(SUM(CASE WHEN part = 1 THEN weight END), 0.0) AS n_anom,
                   COALESCE(SUM(CASE WHEN part = 0 THEN weight END), 0.0) AS n_norm,
                   SUM(ep2) AS ep,
                   SUM(part) AS part_sum,
                   AVG(w1_term) AS w1,
                   AVG(w2_term) AS w2
            FROM (
              SELECT *,
                     CASE WHEN "real" <> 0 AND predict <> 0 AND P <> 0 THEN
                         ABS(CASE WHEN (predict * R / P + "real") = 0 THEN 0.0
                             ELSE 2.0 * (predict * R / P - "real")
                                  / (predict * R / P + "real") END) END AS w1_term,
                     CASE WHEN "real" <> 0 AND predict <> 0
                          THEN ABS(deviation) END AS w2_term
              FROM (
                SELECT *,
                       SUM(CASE WHEN "real" <> 0 AND predict <> 0 THEN "real" END)
                         OVER (PARTITION BY {dims_sql}) AS R,
                       SUM(CASE WHEN "real" <> 0 AND predict <> 0 THEN predict END)
                         OVER (PARTITION BY {dims_sql}) AS P
                FROM (SELECT * FROM {src} p {excl})
              )
            )
            GROUP BY {dims_sql}""")
    union = "\nUNION ALL\n".join(branches)
    l1_parts = []
    for d in RCA_ATTRIBUTES:
        excl = excl_clause([d], prior)
        l1_parts.append(
            f"""SELECT '{d}' AS dim, COALESCE(CAST({d} AS VARCHAR), 'None') AS val,
                   SUM(ep_z) AS epz, SUM(part) AS ps
            FROM (SELECT * FROM {src} p {excl}) GROUP BY 2"""
        )
    l1_union = "\nUNION ALL\n".join(l1_parts)
    return f"""l1{sfx} AS ({l1_union}),
        pruneset{sfx} AS (
          SELECT l.dim, l.val FROM l1{sfx} l CROSS JOIN adj
          WHERE l.epz < adj.v OR l.ps = 0
        ),
        layer{sfx} AS ({union}),
        scored_layers{sfx} AS (
          SELECT *, n_anom / (n_anom + n_norm + 1.0) AS high,
                 CASE WHEN w2 IS NULL OR w2 = 0 OR w1 IS NULL THEN 0.0
                      ELSE w1 / w2 END AS low
          FROM layer{sfx}
        ),
        cands{sfx} AS (
          SELECT * FROM (
            SELECT sl.*, ROW_NUMBER() OVER (
                     PARTITION BY cid ORDER BY ep DESC, elem ASC) AS rn
            FROM scored_layers{sfx} sl CROSS JOIN adj
            WHERE part_sum > 0 AND ep > adj.v AND (high - low) >= 0.3
          ) WHERE rn = 1
        )"""


def _riskloc_first_cause_sql(derived: bool = False) -> str:
    """DuckDB twin of the FIRST riskloc search pass (riskloc with
    max_iterations=1, risk_threshold=0.3): the prepared frame, layer-1
    element pruning (ep_z < adj OR part_sum = 0, ref riskloc.py:89-96),
    per-element scoring for all 7 cuboids with pruned values excluded
    from layers >= 2, candidate filter (part_sum > 0 AND ep > adj AND
    risk >= 0.3), per-cuboid max-EP, and the reference scan order:
    lowest layer wins, then max ep, then earliest cuboid."""
    return f"""
        WITH {_riskloc_prepared_ctes(derived)},
        adj AS (SELECT COALESCE(ABS(s), 0.0) * 0.02 AS v FROM eps),
        {_riskloc_pass_ctes("prepared", "", [])}
        SELECT elem AS root_cause, CAST(layer AS INT) AS layer,
               round(ep, 6) + 0e0 AS ep_score,
               round(high - low, 6) + 0e0 AS risk,
               round(high, 6) + 0e0 AS high, round(low, 6) + 0e0 AS low
        FROM cands
        ORDER BY layer ASC, ep DESC, cid ASC
        LIMIT 1
    """


def _riskloc_two_pass_sql(derived: bool = False) -> str:
    """DuckDB twin of riskloc_two_pass_q (riskloc, max_iterations=2):
    pass 1 = the first-cause search; the winner's leaf rows are removed
    from the prepared frame by matching the winning cuboid's label
    conjunction (the iteration loop of riskloc() — found causes become an
    exclusion predicate over the SAME prepared columns, nothing is
    recomputed); pass 2 re-runs the search over the residual with the
    ACCUMULATED prune state, gated on the iteration stop-check
    sum(anomalous ep) >= adj threshold over the residual."""
    cuboids = _rca_cuboids()
    match_w1 = " OR ".join(
        "(w.cid = {cid} AND {label} = w.elem)".format(
            cid=cid,
            label=" || '&' || ".join(
                f"'{d}=' || COALESCE(CAST(p.{d} AS VARCHAR), 'None')"
                for d in dims
            ),
        )
        for cid, _layer, dims in cuboids
    )
    return f"""
        WITH {_riskloc_prepared_ctes(derived)},
        adj AS (SELECT COALESCE(ABS(s), 0.0) * 0.02 AS v FROM eps),
        {_riskloc_pass_ctes("prepared", "", [])},
        w1 AS MATERIALIZED (
          SELECT cid, elem, layer, ep, high, low
          FROM cands ORDER BY layer ASC, ep DESC, cid ASC LIMIT 1
        ),
        resid AS MATERIALIZED (
          SELECT p.* FROM prepared p
          WHERE NOT EXISTS (SELECT 1 FROM w1 w WHERE {match_w1})
        ),
        stop2 AS MATERIALIZED (
          SELECT COALESCE(SUM(ep2), 0.0) AS ep_sum
          FROM resid WHERE part = 1
        ),
        {_riskloc_pass_ctes("resid", "2", ["pruneset"])},
        w2 AS MATERIALIZED (
          SELECT cid, elem, layer, ep, high, low
          FROM cands2 ORDER BY layer ASC, ep DESC, cid ASC LIMIT 1
        ),
        allw AS (
          SELECT 0 AS it, elem, layer, ep, high, low FROM w1
          UNION ALL
          SELECT 1, elem, layer, ep, high, low FROM w2
          WHERE EXISTS (SELECT 1 FROM w1)
            AND (SELECT ep_sum FROM stop2) >= (SELECT v FROM adj)
        )
        SELECT CAST(it AS INT) AS iteration, elem AS root_cause,
               CAST(layer AS INT) AS layer,
               round(ep, 6) + 0e0 AS ep_score,
               round(high - low, 6) + 0e0 AS risk,
               round(high, 6) + 0e0 AS high, round(low, 6) + 0e0 AS low
        FROM allw
    """


def _riskloc_layer_scores_sql() -> str:
    """DuckDB twin of riskloc's _layer_scores over layer-1 cuboids, on the
    fully prepared frame (ep, cutoff n_remove=5, partition, weight,
    anomaly-ep sign flip, ep_z)."""
    layer_parts = []
    for cid, dim in enumerate(RCA_ATTRIBUTES):
        layer_parts.append(f"""
            SELECT {cid} AS cid, COALESCE(CAST({dim} AS VARCHAR), 'None') AS elem,
                   COALESCE(CAST(SUM(CAST(CASE WHEN part = 1 THEN weight END
                       AS DECIMAL(38,9))) AS DOUBLE), 0.0) AS n_anom,
                   COALESCE(CAST(SUM(CAST(CASE WHEN part = 0 THEN weight END
                       AS DECIMAL(38,9))) AS DOUBLE), 0.0) AS n_norm,
                   CAST(SUM(CAST(ep2 AS DECIMAL(38,9))) AS DOUBLE) AS ep,
                   CAST(SUM(CAST(ep_z AS DECIMAL(38,9))) AS DOUBLE) AS ep_z,
                   CAST(SUM(part) AS BIGINT) AS part_sum,
                   CAST(SUM(CAST(w1_term AS DECIMAL(38,9))) AS DOUBLE)
                     / COUNT(w1_term) AS w1,
                   CAST(SUM(CAST(w2_term AS DECIMAL(38,9))) AS DOUBLE)
                     / COUNT(w2_term) AS w2
            FROM (
              -- terms materialized per-row so SUM/COUNT skip NULLs exactly
              -- like Spark's null-skipping avg: when P = 0 the Spark side's
              -- a = predict*R/P is NULL (div-by-zero -> NULL) and the term
              -- drops out of both numerator and denominator.
              SELECT *,
                     CASE WHEN "real" <> 0 AND predict <> 0 AND P <> 0 THEN
                         ABS(CASE WHEN (predict * R / P + "real") = 0 THEN 0.0
                             ELSE 2.0 * (predict * R / P - "real")
                                  / (predict * R / P + "real") END) END AS w1_term,
                     CASE WHEN "real" <> 0 AND predict <> 0
                          THEN ABS(deviation) END AS w2_term
              FROM (
                SELECT *,
                       CAST(SUM(CAST(CASE WHEN "real" <> 0 AND predict <> 0 THEN "real" END
                         AS DECIMAL(38,9))) OVER (PARTITION BY {dim}) AS DOUBLE) AS R,
                       CAST(SUM(CAST(CASE WHEN "real" <> 0 AND predict <> 0 THEN predict END
                         AS DECIMAL(38,9))) OVER (PARTITION BY {dim}) AS DOUBLE) AS P
                FROM prepared
              )
            )
            GROUP BY 1, 2""")
    union = "\nUNION ALL\n".join(layer_parts)
    return f"""
        WITH {_riskloc_prepared_ctes()},
        layer AS (
          {union}
        )
        SELECT cid, elem,
               round(n_anom, 6) + 0e0 AS n_anom, round(n_norm, 6) + 0e0 AS n_norm,
               round(ep, 6) + 0e0 AS ep, round(ep_z, 6) + 0e0 AS ep_z, part_sum,
               round(w1, 6) + 0e0 AS w1, round(w2, 6) + 0e0 AS w2,
               round(high, 6) + 0e0 AS high, round(low, 6) + 0e0 AS low,
               round(high - low, 6) + 0e0 AS risk
        FROM (
          SELECT *, n_anom / (n_anom + n_norm + 1.0) AS high,
                 CASE WHEN w2 IS NULL OR w2 = 0 OR w1 IS NULL THEN 0.0
                      ELSE w1 / w2 END AS low
          FROM layer
        )
    """


# Synthetic-PNG gate twins: dims + closed-form sample values per the
# formula contract in riskloc_spark/operators/multimodal.py (_synth_png).
_PNG_DIMS_CTE = """dims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     doc_id % 5 AS cs,
                     CASE doc_id % 5 WHEN 0 THEN 4 + doc_id % 5
                          WHEN 1 THEN 3 + doc_id % 4
                          WHEN 2 THEN 4 + doc_id % 6
                          WHEN 3 THEN 3 + doc_id % 3
                          ELSE 2 + doc_id % 3 END AS w,
                     CASE doc_id % 5 WHEN 0 THEN 3 + doc_id % 4
                          WHEN 1 THEN 2 + doc_id % 3
                          WHEN 2 THEN 3 + doc_id % 5
                          WHEN 3 THEN 2 + doc_id % 3
                          ELSE 2 + doc_id % 4 END AS h,
                     CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3
                          WHEN 2 THEN 3 WHEN 3 THEN 1 ELSE 4 END AS c,
                     CASE WHEN doc_id % 5 = 3 THEN 16 ELSE 8 END AS bit_depth,
                     CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 2
                          WHEN 2 THEN 3 WHEN 3 THEN 0 ELSE 6 END AS color_type
              FROM documents
            )"""


def _png_value_sql(m: str, cs: str, s: str) -> str:
    """Closed-form sample value v({m}, {s}) of the synthetic PNG corpus
    (palette case expands index -> RGB exactly as decoded_samples does)."""
    return f"""CASE {cs}
                 WHEN 0 THEN ({m} * 31 + {s} * 7) % 256
                 WHEN 1 THEN ({m} * 17 + {s} * 11) % 256
                 WHEN 2 THEN CASE {s} % 3
                   WHEN 0 THEN ((({m} + {s} // 3) % 16) * 37 + {m}) % 256
                   WHEN 1 THEN ((({m} + {s} // 3) % 16) * 59 + {m}) % 256
                   ELSE ((({m} + {s} // 3) % 16) * 83 + {m}) % 256 END
                 WHEN 3 THEN ({m} * 257 + {s} * 4099) % 65536
                 ELSE ({m} * 13 + {s} * 5) % 256
               END"""


# --------------------------------------------------------------------------
# DuckDB twins of the corpus-quality gates (functions/quality.py). The
# Spark side computes every per-document statistic as a zero-shuffle
# sorted-run fold inside the row; the twins use a completely independent
# strategy — unnest + GROUP BY — so a bug in either evaluation breaks the
# hash. Divisions are exact IEEE doubles on both sides; only outputs round.
# --------------------------------------------------------------------------

# engine-portable whitespace split (see functions/text.WS_CLASS)
_Q_WS = r"[ \t\n\x0B\f\r]+"

# the operator's own PII patterns (alternation- and lookaround-free, so
# Java and RE2 agree) — interpolated verbatim into the twin
from riskloc_spark.functions.quality import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL,
    IPV4_RE as _PII_IPV4,
    PHONE_RE as _PII_PHONE,
)

_QUALITY_BASE_CTE = rf"""
            framed AS MATERIALIZED (
              SELECT doc_id,
                     source || ' site menu' || chr(10) || text || chr(10)
                       || text || chr(10) || 'contact ' || lang AS text
              FROM documents
            ),
            qlines AS MATERIALIZED (
              SELECT f.doc_id, trim(u.l) AS line
              FROM framed f, unnest(string_split(f.text, chr(10))) u(l)
              WHERE regexp_matches(u.l, '[^ \t\n\x0B\f\r]')
            ),
            line_counts AS (
              SELECT doc_id, line, count(*) AS c FROM qlines GROUP BY 1, 2
            ),
            line_stats AS (
              SELECT doc_id,
                     sum(c)::BIGINT AS n_lines,
                     count(*)::BIGINT AS n_distinct,
                     sum(c * length(line))::BIGINT AS total_line_chars,
                     sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END)::BIGINT
                       AS dup_all_chars,
                     sum(CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN c
                         ELSE 0 END)::BIGINT AS ellipsis_lines
              FROM line_counts GROUP BY doc_id
            ),
            qtoks AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '{_Q_WS}'),
                                 x -> x <> '') AS t
              FROM framed
            ),
            tok_stats AS (
              SELECT doc_id, len(t)::BIGINT AS n_words,
                     length(array_to_string(t, ' '))::BIGINT AS norm_len,
                     coalesce(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT
                       AS tok_chars,
                     len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT
                       AS alpha_words,
                     len(list_filter(['the','be','to','of','and','that','have','with'],
                                     s -> list_contains(t, s)))::BIGINT AS stop_hits
              FROM qtoks
            )"""


def _gram_counts_cte(n: int) -> str:
    """Per-(doc, word n-gram) occurrence counts from the qtoks CTE."""
    return rf"""
            g{n} AS (
              SELECT tk.doc_id, g.gram, count(*) AS c
              FROM qtoks tk,
                   unnest(list_transform(range(0, greatest(len(tk.t) - {n - 1}, 0)),
                     i -> array_to_string(list_slice(tk.t, i + 1, i + {n}), ' ')))
                     g(gram)
              GROUP BY 1, 2
            )"""


def _top_gram_cte(n: int) -> str:
    """Most frequent n-gram per doc; ties to the smallest gram — the SQL
    twin of the _top_run fold's first-max-of-sorted-array rule."""
    return rf"""
            top{n} AS (
              SELECT doc_id, c, gram FROM (
                SELECT doc_id, c, gram,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, gram ASC) AS rn
                FROM g{n}
              ) WHERE rn = 1
            )"""


def _dup_gram_cte(n: int) -> str:
    """(count-1)-weighted duplicate n-gram char mass per doc."""
    return rf"""
            dupg{n} AS (
              SELECT doc_id, sum((c - 1) * length(gram))::BIGINT AS extra
              FROM g{n} WHERE c > 1 GROUP BY doc_id
            )"""


def _quality_stats_sql() -> str:
    """Shared CTE block + a per-doc stats projection (unrounded — gates
    round only in their final SELECT so threshold comparisons see the
    same doubles Spark compares)."""
    return (
        "WITH "
        + _QUALITY_BASE_CTE
        + ","
        + ",".join(_gram_counts_cte(n) for n in (2, 3, 5, 6))
        + ","
        + ",".join(_top_gram_cte(n) for n in (2, 3))
        + ","
        + ",".join(_dup_gram_cte(n) for n in (5, 6))
        + r""",
            qstats AS (
              SELECT f.doc_id,
                     coalesce(ls.n_lines, 0) AS n_lines,
                     coalesce(ts.n_words, 0) AS n_words,
                     CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0e0
                          ELSE (ls.n_lines - ls.n_distinct)::DOUBLE / ls.n_lines
                     END AS dup_line_frac,
                     CASE WHEN coalesce(ls.total_line_chars, 0) = 0 THEN 0e0
                          ELSE ls.dup_all_chars::DOUBLE / ls.total_line_chars
                     END AS dup_line_char_frac,
                     CASE WHEN coalesce(ts.norm_len, 0) = 0 OR t2.gram IS NULL
                          THEN 0e0
                          ELSE (t2.c * length(t2.gram))::DOUBLE / ts.norm_len
                     END AS top_2gram_char_frac,
                     CASE WHEN coalesce(ts.norm_len, 0) = 0 OR t3.gram IS NULL
                          THEN 0e0
                          ELSE (t3.c * length(t3.gram))::DOUBLE / ts.norm_len
                     END AS top_3gram_char_frac,
                     CASE WHEN coalesce(ts.norm_len, 0) = 0 THEN 0e0
                          ELSE coalesce(d5.extra, 0)::DOUBLE / ts.norm_len
                     END AS dup_5gram_char_frac,
                     CASE WHEN coalesce(ts.norm_len, 0) = 0 THEN 0e0
                          ELSE coalesce(d6.extra, 0)::DOUBLE / ts.norm_len
                     END AS dup_6gram_char_frac,
                     CASE WHEN coalesce(ts.n_words, 0) = 0 THEN 0e0
                          ELSE ts.tok_chars::DOUBLE / ts.n_words
                     END AS mean_word_len,
                     CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0e0
                          ELSE ls.ellipsis_lines::DOUBLE / ls.n_lines
                     END AS ellipsis_line_frac,
                     CASE WHEN coalesce(ts.n_words, 0) = 0 THEN 0e0
                          ELSE ts.alpha_words::DOUBLE / ts.n_words
                     END AS alpha_word_frac,
                     coalesce(ts.stop_hits, 0) AS stopword_hits
              FROM framed f
              LEFT JOIN line_stats ls ON ls.doc_id = f.doc_id
              LEFT JOIN tok_stats ts ON ts.doc_id = f.doc_id
              LEFT JOIN top2 t2 ON t2.doc_id = f.doc_id
              LEFT JOIN top3 t3 ON t3.doc_id = f.doc_id
              LEFT JOIN dupg5 d5 ON d5.doc_id = f.doc_id
              LEFT JOIN dupg6 d6 ON d6.doc_id = f.doc_id
            )"""
    )


def _dedup_spans_sql(sample_mod: int | None = None) -> str:
    """DuckDB twin of remove_duplicate_spans over the span-framed
    corpus. The exhaustive gate counts by gram STRING; the sampled gate
    additionally keeps only positions whose md5-portable gram hash is
    divisible by ``sample_mod`` — the same content-based selection the
    operator applies via hash_fn=md5_hash64, replayed with the repo's
    portable-hash SQL family."""
    sel = ""
    if sample_mod is not None:
        h = "CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)"
        sel = f"WHERE {h} % {sample_mod} = 0"
    return rf"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                text
                || CASE WHEN doc_id % 10 = 0 THEN '{_SPAN_SLOGAN}'
                   ELSE '' END
                || CASE WHEN doc_id % 7 = 3 THEN '{_SPAN_PROMO}'
                   ELSE '' END AS text
              FROM documents
            ),
            stoks AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '{_Q_WS}'),
                                 x -> x <> '') AS t
              FROM framed
            ),
            occ AS MATERIALIZED (
              SELECT * FROM (
                SELECT tk.doc_id, g.i AS pos,
                       array_to_string(list_slice(tk.t, g.i + 1, g.i + 8), ' ')
                         AS gram
                FROM stoks tk,
                     unnest(range(0, greatest(len(tk.t) - 7, 0))) g(i)
              ) {sel}
            ),
            removedq AS MATERIALIZED (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY gram) AS c,
                       row_number() OVER (PARTITION BY gram
                                          ORDER BY doc_id, pos) AS rn
                FROM occ
              ) WHERE c >= 2 AND rn > 1
            ),
            spansq AS (
              SELECT doc_id, list_sort(list(pos)) AS P
              FROM removedq GROUP BY doc_id
            ),
            nspans AS (
              SELECT doc_id,
                     sum(CASE WHEN prev IS NULL OR pos >= prev + 8
                         THEN 1 ELSE 0 END) AS k
              FROM (
                SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS prev
                FROM removedq
              ) GROUP BY doc_id
            ),
            rebuilt AS (
              SELECT tk.doc_id, tk.t,
                     coalesce(s.P, []) AS P,
                     list_filter(tk.t, (x, i) ->
                       len(list_filter(coalesce(s.P, []),
                           p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS K
              FROM stoks tk LEFT JOIN spansq s USING (doc_id)
            )
            SELECT r.doc_id,
                   -- array_to_string([]) is NULL in DuckDB but
                   -- F.array_join([]) is '' — coalesce to match
                   coalesce(array_to_string(r.K, ' '), '') AS text,
                   CAST(len(r.t) AS INT) AS n_tokens,
                   CAST(len(r.t) - len(r.K) AS INT) AS n_tokens_removed,
                   CAST(len(r.P) AS INT) AS n_dup_grams,
                   CAST(coalesce(ns.k, 0) AS INT) AS n_spans
            FROM rebuilt r LEFT JOIN nspans ns USING (doc_id)
        """


# the Gopher verdict twin — shared verbatim by the batch gate
# (quality_gopher_filter) and the streaming gate (streaming_quality): the
# operator is a stateless projection, so stream output == batch output
# over the same files, and both hash against this one relation. The CASE
# chain mirrors _GOPHER_GATE_KW rule-for-rule (float literals in e-form
# per the repo's DECIMAL-parse policy).
_GOPHER_VERDICT_SQL = (
    _quality_stats_sql()
    + """
            , verdict AS (
              SELECT doc_id, n_words, mean_word_len, stopword_hits,
                     CASE
                       WHEN n_words < 30 THEN 'n_words_low'
                       WHEN n_words > 160 THEN 'n_words_high'
                       WHEN mean_word_len < 25e-1 THEN 'mean_word_len_low'
                       WHEN mean_word_len > 6e0 THEN 'mean_word_len_high'
                       WHEN ellipsis_line_frac > 3e-1 THEN 'ellipsis_lines'
                       WHEN alpha_word_frac < 8e-1 THEN 'alpha_words'
                       WHEN stopword_hits < 1 THEN 'stopwords'
                       WHEN dup_line_frac > 4e-1 THEN 'dup_line_frac'
                       WHEN dup_line_char_frac > 95e-2 THEN 'dup_line_char_frac'
                       WHEN top_2gram_char_frac > 12e-2 THEN 'top_2gram'
                       WHEN dup_5gram_char_frac > 2e0 THEN 'dup_5gram'
                     END AS reason
              FROM qstats
            )
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   round(mean_word_len, 6) + 0e0 AS mean_word_len,
                   CAST(stopword_hits AS INT) AS stopword_hits,
                   coalesce(reason, 'none') AS reason,
                   reason IS NULL AS kept
            FROM verdict
        """
)


def _audio_vals_sql(k: int) -> str:
    """dims/chans/samp/vals CTE replaying the WAV synthesis contract
    (operators/audio._synth_params / _synth_samples) at decimation
    ``k``: kept sample j reads original index i = k*j; ``sprev`` is the
    previous KEPT sample (i = k*(j-1)), NULL at j = 0.  All terms are
    non-negative before the %, so Spark/DuckDB/numpy modulo agree, and
    everything stays integer — no float summation-order seam."""

    def s(i: str) -> str:
        # media_id reduced mod 4096 before the multiply, in lockstep
        # with _synth_samples: the raw product wraps int64 negative
        # past id ~ 3.5e9 where the engines' % signs diverge, and the
        # reduction is congruent mod 4096 so no value changes
        return (
            f"(CASE WHEN (({i}) // p) % 2 = 0 THEN 6000 ELSE -6000 END)"
            f" + ((media_id % 4096) * 2654435761 + c * 97"
            f" + ({i}) * 48271) % 4096 - 2048"
        )

    return f"""
            WITH dims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     1600 + (doc_id % 7) * 800 AS n,
                     1 + doc_id % 2 AS ch,
                     8 + doc_id % 29 AS p
              FROM documents
            ),
            chans AS (
              SELECT media_id, n, p, unnest(range(0, ch)) AS c FROM dims
            ),
            samp AS (
              SELECT media_id, p, c,
                     unnest(range(0, (n + {k} - 1) // {k})) AS j
              FROM chans
            ),
            vals AS (
              SELECT media_id, c, j,
                     {s(f"j * {k}")} AS s,
                     CASE WHEN j = 0 THEN NULL
                          ELSE {s(f"(j - 1) * {k}")} END AS sprev
              FROM samp
            )
"""


def _html_norm_sql(x: str) -> str:
    """The block-whitespace normalization chain of operators/html.py
    in DuckDB form (explicit classes, 'g' flag): horizontal runs ->
    one space, space-padded newlines -> newline, newline runs ->
    blank line, trimmed edges.  Applied to the CLOSED-FORM expected
    text so both engines canonicalize identically."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        + x
        + r", '[ \t\x0B\f\r]+', ' ', 'g')"
        + r", ' *\n *', chr(10), 'g')"
        + r", '\n\n+', chr(10)||chr(10), 'g')"
        + r", '^[ \n]+|[ \n]+$', '', 'g')"
    )


# expected extraction of the synthesized page: the seven visible blocks
# joined by blank lines — title, heading (entities decoded), the nav
# line (inline tags vanish), the body text (escape round-trips), the
# two list items, the entity-quoted footer
_HTML_EXPECTED_RAW = (
    "(source || ' ' || doc_id || {nn}"
    " || 'Doc \"' || doc_id || '\"' || {nn}"
    " || 'home | about | contact' || {nn}"
    " || text || {nn}"
    " || 'lang: ' || lang || {nn}"
    " || 'chars: ' || n_chars || {nn}"
    " || '''' || source || ''' fin')"
).format(nn="chr(10)||chr(10)")

# expected TREE extraction of the adversarial page (operators/html.py
# synthesize_adversarial_corpus): the six visible blocks joined by
# blank lines — attribute-with-'>' heading, the nav line (conditional
# comment and CDATA dropped, unclosed <b> inline), the body text
# (escape round-trips; chr(160) mapped to space like the extractor's
# &nbsp; rule), the two unclosed-<li> items, the entity-quoted footer
_HTML_TREE_EXPECTED_RAW = (
    "('Doc ' || doc_id || {nn}"
    " || 'home | about' || {nn}"
    " || replace(text, chr(160), ' ') || {nn}"
    " || 'lang: ' || lang || {nn}"
    " || 'chars: ' || n_chars || {nn}"
    " || '''' || source || ''' fin')"
).format(nn="chr(10)||chr(10)")

# byte-exact rebuild of the synthesized page (operators/html.py
# synthesize_html_corpus) for the WARC Content-Length check
_HTML_PAGE_SQL = r"""
            '<html>' || chr(10) || ' <head>' || chr(10)
            || '  <title>' || source || ' ' || doc_id || '</title>' || chr(10)
            || '  <style type="text/css">p { margin: 0; }</style>' || chr(10)
            || '  <script>if (1 < 2 && "a" > "b") { x = "&amp;"; }</script>' || chr(10)
            || ' </head>' || chr(10) || ' <body>' || chr(10)
            || '  <h1>Doc &quot;' || doc_id || '&quot;</h1>' || chr(10)
            || '  <div class="nav"><a href="https://' || source
            || '.example.com/?a=1&amp;b=2">home</a> | <b>about</b> | <i>contact</i></div>' || chr(10)
            || '  <p>' || replace(replace(replace(text, '&', '&amp;'),
                                          '<', '&lt;'), '>', '&gt;') || '</p>' || chr(10)
            || '  <ul><li>lang: ' || lang || '</li><li>chars: ' || n_chars
            || '</li></ul>' || chr(10)
            || '  <!-- hidden <p>spam</p> -->' || chr(10)
            || '  <footer>&#39;' || source || '&apos; &nbsp; fin</footer>' || chr(10)
            || ' </body>' || chr(10) || '</html>'
"""



# HLL estimator numerator alpha * m^2 * 2^rmax for p=12, computed the
# same way the operator computes it (one Python float, interpolated
# into both engines so the division inputs are bit-identical)
_HLL_C = (0.7213 / (1 + 1.079 / 4096)) * 4096 * 4096 * float(1 << 49)

def oracle_sql() -> dict[str, str]:
    out = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 2) + 0e0 AS sum_qty,
                   round(SUM(l_extendedprice), 2) + 0e0 AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0 AS sum_disc_price,
                   round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) + 0e0 AS sum_charge,
                   round(AVG(l_quantity), 6) + 0e0 AS avg_qty,
                   round(AVG(l_extendedprice), 6) + 0e0 AS avg_price,
                   round(AVG(l_discount), 6) + 0e0 AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0 AS revenue,
                   o_orderdate, o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0 AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT round(SUM(l_extendedprice * l_discount), 2) + 0e0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0 AS revenue
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_nationkey < 3 AND n2.n_nationkey BETWEEN 3 AND 5)
                OR (n1.n_nationkey BETWEEN 3 AND 5 AND n2.n_nationkey < 3))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q13_order_distribution": """
            WITH per_cust AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM per_cust
            GROUP BY c_count
        """,
        "q14_promo_effect": """
            SELECT round(
                     100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0e0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 6) + 0e0
                   AS promo_revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-03-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
        """,
        "q18_large_volume_customer": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) + 0e0 AS o_totalprice,
                   round(SUM(l_quantity), 2) + 0e0 AS sum_qty
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
            )
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            -- qualify the sort column so it binds to the RAW price
            -- (DuckDB resolves a bare o_totalprice to the rounded
            -- SELECT alias; Spark sorts raw — two rows raw-distinct
            -- but rounded-equal near the LIMIT would then diverge)
            ORDER BY orders.o_totalprice DESC, o_orderdate ASC,
                     o_orderkey ASC
            LIMIT 100
        """,
        "zorder_keys": """
            WITH src AS MATERIALIZED (
              SELECT doc_id, doc_id % 97 AS x, (doc_id * 7) % 89 AS y
              FROM documents
            ),
            b AS (
              SELECT MIN(x) AS lox, MAX(x) AS hix,
                     MIN(y) AS loy, MAX(y) AS hiy
              FROM src
            ),
            q AS (
              SELECT doc_id, x, y,
                     CASE WHEN hix - lox <= 0 THEN 0
                          ELSE LEAST(GREATEST(CAST(floor(
                            ((x - lox) * 255e0) / (hix - lox))
                            AS BIGINT), 0), 255) END AS qx,
                     CASE WHEN hiy - loy <= 0 THEN 0
                          ELSE LEAST(GREATEST(CAST(floor(
                            ((y - loy) * 255e0) / (hiy - loy))
                            AS BIGINT), 0), 255) END AS qy
              FROM src CROSS JOIN b
            ),
            bits AS (
              SELECT doc_id, x, y, qx, qy, unnest(range(0, 8)) AS bb
              FROM q
            )
            SELECT doc_id, x, y,
                   CAST(SUM((((qx >> bb) & 1) << (bb * 2))
                            + (((qy >> bb) & 1) << (bb * 2 + 1)))
                     AS BIGINT) AS z
            FROM bits
            GROUP BY doc_id, x, y
        """,
        "streaming_hll": """
            WITH h AS (
              SELECT event_type,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                          1, 15) AS BIGINT) AS hh
              FROM events
            )
            SELECT event_type,
                   CAST(hh % 4096 AS INT) AS bucket,
                   CAST(MAX(CASE WHEN hh >> 12 = 0 THEN 49
                        ELSE 49 - length(bin(hh >> 12)) END) AS INT)
                     AS rank
            FROM h GROUP BY event_type, bucket
        """,
        "bloom_membership": """
            WITH rws(rw) AS (VALUES (0), (1), (2), (3)),
            bloom AS MATERIALIZED (
              SELECT DISTINCT event_type,
                     CAST(CAST('0x' || substr(md5(
                          CAST(user_id AS VARCHAR) || ':' || rw),
                          1, 15) AS BIGINT) % 65536 AS BIGINT) AS pos
              FROM events CROSS JOIN rws
            ),
            probe0(item) AS (
              VALUES ('1'), ('7'), ('42'), ('31337'), ('no-such-user')
            ),
            probe AS (
              SELECT DISTINCT item,
                     CAST(CAST('0x' || substr(md5(item || ':' || rw),
                          1, 15) AS BIGINT) % 65536 AS BIGINT) AS pos
              FROM probe0 CROSS JOIN rws
            ),
            need AS (
              SELECT item, COUNT(*) AS nd FROM probe GROUP BY item
            ),
            hit AS (
              SELECT b.event_type, p.item, COUNT(*) AS ht
              FROM bloom b JOIN probe p USING (pos)
              GROUP BY b.event_type, p.item
            )
            SELECT s.event_type, n.item,
                   COALESCE(h.ht, 0) = n.nd AS maybe_present
            FROM (SELECT DISTINCT event_type FROM events) s
            CROSS JOIN need n
            LEFT JOIN hit h
              ON h.event_type = s.event_type AND h.item = n.item
        """,
        "scd2_history": """
            WITH dedup AS (
              SELECT user_id, ts, MAX(event_type) AS event_type
              FROM events GROUP BY user_id, ts
            ),
            changed AS (
              SELECT user_id, ts, event_type FROM (
                SELECT user_id, ts, event_type,
                       LAG(event_type) OVER (
                         PARTITION BY user_id ORDER BY ts) AS prev
                FROM dedup
              ) WHERE prev IS NULL OR prev <> event_type
            )
            SELECT user_id, event_type,
                   ts AS valid_from,
                   LEAD(ts) OVER (
                     PARTITION BY user_id ORDER BY ts) AS valid_to,
                   LEAD(ts) OVER (
                     PARTITION BY user_id ORDER BY ts) IS NULL
                     AS is_current
            FROM changed
        """,
        "events_interval_join": """
            SELECT p.user_id, p.event_id AS pid, i.event_id AS iid
            FROM events p
            JOIN (
              SELECT user_id, event_id, ts AS s,
                     ts + INTERVAL 90 MINUTE AS e
              FROM events WHERE event_type = 'purchase'
            ) i
              ON p.user_id = i.user_id
             AND p.ts >= i.s AND p.ts < i.e
        """,
        "events_interval_join_hier": """
            SELECT p.user_id, p.event_id AS pid, i.event_id AS iid
            FROM events p
            JOIN (
              SELECT user_id, event_id, ts AS s,
                     ts + INTERVAL 7 DAY AS e
              FROM events WHERE event_type = 'purchase'
            ) i
              ON p.user_id = i.user_id
             AND p.ts >= i.s AND p.ts < i.e
        """,
        "weighted_sample": """
            WITH u AS (
              SELECT source, doc_id, n_chars,
                     CAST('0x' || substr(md5(doc_id || ':es'), 1, 15)
                          AS BIGINT) % 1000000 AS hv
              FROM documents WHERE n_chars > 0
            ),
            es AS (
              SELECT source, doc_id, n_chars,
                     ln((hv + 1) / 1000001e0) / n_chars AS kk
              FROM u
            )
            SELECT source, doc_id, n_chars FROM (
              SELECT source, doc_id, n_chars,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY kk DESC, doc_id ASC) AS rn
              FROM es
            ) WHERE rn <= 20
        """,
        "length_quantiles": """
            WITH hist AS (
              SELECT source,
                     CAST(floor(n_chars / 1e0) AS BIGINT) AS cell,
                     COUNT(*) AS cnt
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY source, cell
            ),
            cum AS (
              SELECT source, cell,
                     SUM(cnt) OVER (
                       PARTITION BY source ORDER BY cell) AS cm,
                     SUM(cnt) OVER (PARTITION BY source) AS n
              FROM hist
            ),
            qs(q) AS (
              -- DOUBLE fractions: a DECIMAL 0.9 * n is exact and
              -- ceils differently than the engines' double product
              VALUES (0.25e0), (0.5e0), (0.9e0), (0.99e0)
            )
            SELECT source, q + 0e0 AS q,
                   MIN(cell) * 1e0 AS value
            FROM cum CROSS JOIN qs
            WHERE cm >= CAST(ceil(q * n) AS BIGINT)
            GROUP BY source, q
        """,
        "streaming_bloom": """
            SELECT DISTINCT event_type,
                   CAST(CAST('0x' || substr(
                       md5(CAST(user_id AS VARCHAR) || ':' || rw),
                       1, 15) AS BIGINT) % 4096 AS BIGINT) AS pos
            FROM events
            CROSS JOIN (VALUES (0), (1), (2)) AS rws(rw)
            WHERE user_id IS NOT NULL
        """,
        "streaming_cms": """
            SELECT event_type, rw AS row,
                   CAST(CAST('0x' || substr(
                       md5(CAST(user_id AS VARCHAR) || ':' || rw),
                       1, 15) AS BIGINT) % 512 AS INT) AS bucket,
                   COUNT(*) AS cnt
            FROM events
            CROSS JOIN (VALUES (0), (1), (2), (3)) AS rws(rw)
            WHERE user_id IS NOT NULL
            GROUP BY event_type, rw, bucket
        """,
        "retention_cohorts": """
            WITH ue AS (
              SELECT DISTINCT user_id AS u,
                     CAST(floor(date_diff('day', DATE '1970-01-01',
                          CAST(ts AS DATE)) / 7) AS BIGINT) AS p
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            f AS (SELECT u, MIN(p) AS cohort FROM ue GROUP BY u),
            per AS (
              SELECT cohort, p - cohort AS period,
                     COUNT(DISTINCT u) AS active_users
              FROM ue JOIN f USING (u) GROUP BY cohort, period
            ),
            sz AS (
              SELECT cohort AS c, active_users AS cohort_size
              FROM per WHERE period = 0
            )
            SELECT cohort, period, active_users, cohort_size,
                   round(active_users / CAST(cohort_size AS DOUBLE),
                         6) + 0e0 AS retention
            FROM per JOIN sz ON cohort = c
        """,
        "fuzzy_join": r"""
            WITH toks AS (
              SELECT unnest(string_split_regex(lower(trim(text)),
                     '[ \t\n\x0B\f\r]+')) AS w,
                     doc_id % 50 AS b
              FROM documents WHERE trim(text) <> ''
            ),
            vocab AS (
              SELECT DISTINCT w || '-' || CAST(b AS VARCHAR) AS k
              FROM toks
              WHERE regexp_matches(w, '^[a-z]{4,12}$')
              ORDER BY k LIMIT 800
            ),
            typos AS (
              SELECT DISTINCT
                     substr(k, 1, CAST(floor(length(k)/2) AS INT))
                     || substr(k, CAST(floor(length(k)/2) AS INT) + 2)
                       AS k
              FROM vocab
            )
            SELECT DISTINCT t.k AS left_key, v.k AS right_key,
                   CAST(levenshtein(t.k, v.k) AS INT) AS distance
            FROM typos t CROSS JOIN vocab v
            WHERE levenshtein(t.k, v.k) <= 1
        """,
        "cdc_apply": """
            WITH latest AS (
              SELECT k, op, pri, total_em2 FROM (
                SELECT o_custkey AS k, o_orderkey AS ts,
                       CASE WHEN o_orderstatus = 'F' THEN 'delete'
                            ELSE 'upsert' END AS op,
                       o_orderpriority AS pri,
                       CAST(round(o_totalprice * 100) AS BIGINT)
                         AS total_em2,
                       ROW_NUMBER() OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderkey DESC) AS rn
                FROM orders
              ) WHERE rn = 1
            )
            SELECT COALESCE(c.c_custkey, l.k) AS k,
                   CASE WHEN l.op IS NOT NULL THEN l.pri
                        ELSE 'NONE' END AS pri,
                   CASE WHEN l.op IS NOT NULL THEN l.total_em2
                        ELSE CAST(round(c.c_acctbal * 100) AS BIGINT)
                        END AS total_em2
            FROM customer c
            FULL OUTER JOIN latest l ON c.c_custkey = l.k
            WHERE l.op IS NULL OR l.op <> 'delete'
        """,
        "q2_min_cost_supplier": """
            WITH rev AS (
              SELECT l_partkey, l_suppkey,
                     SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS rev_em2
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE s_nationkey % 5 = 3
              GROUP BY l_partkey, l_suppkey
            ),
            best AS (
              SELECT l_partkey, l_suppkey FROM (
                SELECT l_partkey, l_suppkey,
                       ROW_NUMBER() OVER (
                         PARTITION BY l_partkey
                         ORDER BY rev_em2 ASC, l_suppkey ASC) AS rn
                FROM rev
              ) WHERE rn = 1
            )
            SELECT round(s_acctbal, 2) + 0e0 AS s_acctbal,
                   s_name, p_partkey, p_name
            FROM best
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE p_type = 'LARGE' AND p_size > 30
            ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC
            LIMIT 100
        """,
        "q11_important_parts": """
            WITH v AS (
              SELECT l_partkey,
                     SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(l_quantity AS BIGINT)) AS value_em2
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE s_nationkey % 5 = 3
              GROUP BY l_partkey
            ),
            t AS (
              SELECT SUM(value_em2) AS tot, COUNT(*) AS np FROM v
            )
            -- Outer CAST: DuckDB widens SUM(BIGINT) to HUGEINT, which
            -- pandas .df() renders as float64 while Spark outputs bigint
            -- (the proven r12/r13 driver hash-red mechanism; q9 has the
            -- same discipline). The cast pins the pandas dtype to int64.
            SELECT l_partkey, CAST(value_em2 AS BIGINT) AS value_em2
            FROM v CROSS JOIN t
            -- HUGEINT compare mirrors the Spark side's DECIMAL(38,0)
            -- widening (BIGINT * part-count could overflow at scale).
            WHERE CAST(value_em2 AS HUGEINT) * np
                    > CAST(tot AS HUGEINT) * 2
        """,
        "q16_supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
            GROUP BY p_brand, p_type, p_size
        """,
        "q20_dominant_suppliers": """
            WITH q AS (
              SELECT l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS BIGINT)) AS qty
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE '%rod%'
                AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
              GROUP BY l_partkey, l_suppkey
            ),
            pt AS (
              SELECT l_partkey, SUM(qty) AS tot FROM q GROUP BY 1
            )
            SELECT s_name, COUNT(*) AS qualifying_parts
            FROM q
            JOIN pt USING (l_partkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE qty * 2 > tot AND s_nationkey % 5 = 3
            GROUP BY s_name
        """,
        "streaming_quantiles": """
            WITH h AS (
              SELECT event_type,
                     CAST('0x' || substr(
                       md5(CAST(event_id AS VARCHAR) || ':0'),
                       1, 15) AS BIGINT) AS h,
                     CAST(value AS DOUBLE) AS value
              FROM events
              WHERE event_id IS NOT NULL AND value IS NOT NULL
            ),
            b AS (
              SELECT event_type, CAST(h % 128 AS INT) AS bucket,
                     h, value
              FROM h
            )
            SELECT event_type, bucket, h, value + 0e0 AS value
            FROM (
              SELECT event_type, bucket, h, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY event_type, bucket
                       ORDER BY h ASC, value ASC) AS rn
              FROM b
            ) WHERE rn = 1
        """,
        "streaming_expectations": """
            WITH t AS (
              SELECT COUNT(*) AS n,
                SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v0,
                SUM(CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN
                       ('view', 'click', 'purchase', 'signup')
                     THEN 1 ELSE 0 END) AS v1,
                SUM(CASE WHEN value IS NOT NULL
                     AND (value < 0 OR value > 100)
                     THEN 1 ELSE 0 END) AS v2,
                SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v3
              FROM events
            ),
            u AS (
              SELECT 'event_id_not_null' AS rule, 'event_id' AS col,
                     'not_null' AS kind, n, v0 AS v FROM t
              UNION ALL
              SELECT 'event_type_in_set', 'event_type', 'in_set', n, v1
              FROM t
              UNION ALL
              SELECT 'value_range', 'value', 'range', n, v2 FROM t
              UNION ALL
              SELECT 'user_id_not_null', 'user_id', 'not_null', n, v3
              FROM t
            )
            SELECT rule, col, kind,
                   CAST(n AS BIGINT) AS n_rows,
                   CAST(v AS BIGINT) AS n_violations,
                   round(CASE WHEN n = 0 THEN 0.0
                         ELSE CAST(v AS DOUBLE) / n END, 6) + 0e0
                     AS violation_rate
            FROM u
        """,
        "data_expectations": """
            WITH t AS (
              SELECT COUNT(*) AS n,
                SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v0,
                COUNT(event_id) - COUNT(DISTINCT event_id) AS v1,
                SUM(CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN
                       ('view', 'click', 'purchase', 'signup')
                     THEN 1 ELSE 0 END) AS v2,
                SUM(CASE WHEN value IS NOT NULL
                     AND (value < 0 OR value > 100)
                     THEN 1 ELSE 0 END) AS v3,
                SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v4
              FROM events
            ),
            u AS (
              SELECT 'event_id_not_null' AS rule, 'event_id' AS col,
                     'not_null' AS kind, n, v0 AS v FROM t
              UNION ALL
              SELECT 'event_id_unique', 'event_id', 'unique', n, v1
              FROM t
              UNION ALL
              SELECT 'event_type_in_set', 'event_type', 'in_set', n, v2
              FROM t
              UNION ALL
              SELECT 'value_range', 'value', 'range', n, v3 FROM t
              UNION ALL
              SELECT 'user_id_not_null', 'user_id', 'not_null', n, v4
              FROM t
            )
            SELECT rule, col, kind,
                   CAST(n AS BIGINT) AS n_rows,
                   CAST(v AS BIGINT) AS n_violations,
                   round(CASE WHEN n = 0 THEN 0.0
                         ELSE CAST(v AS DOUBLE) / n END, 6) + 0e0
                     AS violation_rate
            FROM u
        """,
        "cms_join_size": """
            WITH src AS (
              SELECT event_type, CAST(user_id AS VARCHAR) AS v
              FROM events WHERE user_id IS NOT NULL
            ),
            regs AS (
              SELECT event_type, k AS "row",
                     CAST(CAST('0x' || substr(
                       md5(v || ':' || CAST(k AS VARCHAR)),
                       1, 15) AS BIGINT) % 1024 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM src CROSS JOIN range(4) t(k)
              GROUP BY 1, 2, 3
            ),
            dots AS (
              SELECT event_type, "row",
                     CAST(SUM(cnt * cnt) AS BIGINT) AS dot
              FROM regs GROUP BY 1, 2
            )
            SELECT event_type, CAST(MIN(dot) AS BIGINT) AS est
            FROM dots GROUP BY 1
        """,
        "events_attribution": """
            WITH conv AS (
              SELECT event_id AS conversion_id, user_id,
                     ts AS conversion_ts
              FROM events WHERE event_type = 'purchase'
            ),
            t AS (
              SELECT user_id, ts AS touch_ts,
                     event_type AS touch_type, event_id AS touch_id
              FROM events
            ),
            p AS (
              SELECT c.conversion_id, c.user_id, c.conversion_ts,
                     t.touch_ts, t.touch_type, t.touch_id
              FROM conv c JOIN t ON c.user_id = t.user_id
              WHERE t.touch_ts >= c.conversion_ts - INTERVAL 7 DAY
                AND t.touch_ts < c.conversion_ts
            ),
            ranked AS (
              SELECT *,
                     ROW_NUMBER() OVER (
                       PARTITION BY conversion_id
                       ORDER BY touch_ts ASC, touch_id ASC) AS rf,
                     ROW_NUMBER() OVER (
                       PARTITION BY conversion_id
                       ORDER BY touch_ts DESC, touch_id DESC) AS rl,
                     COUNT(*) OVER (
                       PARTITION BY conversion_id) AS nt
              FROM p
            ),
            firsts AS (
              SELECT conversion_id, touch_type AS first_touch_type,
                     touch_ts AS first_touch_ts, nt
              FROM ranked WHERE rf = 1
            ),
            lasts AS (
              SELECT conversion_id, touch_type AS last_touch_type,
                     touch_ts AS last_touch_ts
              FROM ranked WHERE rl = 1
            )
            SELECT c.conversion_id, c.user_id, c.conversion_ts,
                   f.first_touch_type, f.first_touch_ts,
                   l.last_touch_type, l.last_touch_ts,
                   CAST(COALESCE(f.nt, 0) AS BIGINT) AS n_touches
            FROM conv c
            LEFT JOIN firsts f ON c.conversion_id = f.conversion_id
            LEFT JOIN lasts l ON c.conversion_id = l.conversion_id
        """,
        "corpus_diff": f"""
            WITH oldc AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)),
                       '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS fp
              FROM documents
            ),
            newc AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(
                       CASE WHEN doc_id % 7 = 4
                            THEN text || ' edited' ELSE text END)),
                       '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS fp
              FROM documents WHERE doc_id % 13 <> 1
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id,
                     regexp_replace(lower(trim(text)),
                       '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS fp
              FROM documents WHERE doc_id % 11 = 2
            )
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp IS NULL THEN 'added'
                        WHEN n.fp IS NULL THEN 'removed'
                        WHEN o.fp = n.fp THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM oldc o FULL OUTER JOIN newc n
              ON o.doc_id = n.doc_id
        """,
        "quality_percentile": """
            WITH stats AS (
              SELECT doc_id, lang,
                CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                     ELSE len(string_split_regex(trim(text),
                          '[ \\t\\n\\x0B\\f\\r]+')) END AS INT)
                  AS n_tokens,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(text) - length(regexp_replace(
                            text, '[.,!?]', '', 'g')) AS DOUBLE)
                          / length(text) END AS punct_ratio,
                CASE WHEN trim(text) = '' THEN 0.0
                     ELSE CAST(len(list_filter(string_split_regex(
                            lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                            x -> list_contains(['the','and','of','to',
                              'a','in','is','it','that','for'], x)))
                            AS DOUBLE)
                          / len(string_split_regex(trim(text),
                              '[ \\t\\n\\x0B\\f\\r]+')) END
                  AS stopword_ratio
              FROM documents
            ),
            scored AS (
              SELECT doc_id, lang,
                (CASE WHEN n_tokens >= 5 AND n_tokens <= 10000
                      THEN 0.4 ELSE 0.0 END
                 + CASE WHEN punct_ratio > 0.0 AND punct_ratio < 0.2
                        THEN 0.3 ELSE 0.0 END
                 + CASE WHEN stopword_ratio > 0.05
                        THEN 0.3 ELSE 0.0 END) AS quality
              FROM stats
            ),
            h AS (
              SELECT lang,
                     CAST('0x' || substr(
                       md5(CAST(doc_id AS VARCHAR) || ':0'),
                       1, 15) AS BIGINT) AS h,
                     CAST(quality AS DOUBLE) AS value
              FROM scored
            ),
            sk AS (
              SELECT lang, h, value FROM (
                SELECT lang, h, value,
                       ROW_NUMBER() OVER (
                         PARTITION BY lang
                         ORDER BY h ASC, value ASC) AS rn
                FROM h
              ) WHERE rn <= 256
            ),
            r AS (
              SELECT lang, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY value ASC, h ASC) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS s
              FROM sk
            ),
            cut AS (
              SELECT lang, value AS quality_cutoff
              FROM r WHERE rn = CAST(ceil(0.6e0 * s - 1e-9) AS INT)
            )
            SELECT sc.doc_id, sc.lang,
                   round(sc.quality, 6) + 0e0 AS quality,
                   round(c.quality_cutoff, 6) + 0e0 AS quality_cutoff
            FROM scored sc JOIN cut c ON sc.lang = c.lang
            WHERE sc.quality >= c.quality_cutoff
        """,
        "quantile_sketch": """
            WITH h AS (
              SELECT lang,
                     CAST('0x' || substr(
                       md5(CAST(doc_id AS VARCHAR) || ':0'),
                       1, 15) AS BIGINT) AS h,
                     CAST(n_chars AS DOUBLE) AS value
              FROM documents
              WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
            ),
            sk AS (
              SELECT lang, h, value FROM (
                SELECT lang, h, value,
                       ROW_NUMBER() OVER (
                         PARTITION BY lang
                         ORDER BY h ASC, value ASC) AS rn
                FROM h
              ) WHERE rn <= 256
            ),
            r AS (
              SELECT lang, h, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY value ASC, h ASC) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS s
              FROM sk
            ),
            qs(q) AS (
              -- DOUBLE fractions (length_quantiles note): a DECIMAL
              -- q * s is exact and ceils differently than doubles
              VALUES (0.25e0), (0.5e0), (0.9e0), (0.99e0)
            )
            SELECT lang, q + 0e0 AS q, value + 0e0 AS value
            FROM r CROSS JOIN qs
            -- the 1e-9 epsilon mirrors quantile_estimate: absorbs
            -- IEEE products a hair above an exact integer so both
            -- engines pick the textbook Type-1 rank
            WHERE rn = CAST(ceil(q * s - 1e-9) AS INT)
        """,
        "heavy_hitters": """
            WITH src AS (
              SELECT event_type, event_id, user_id
              FROM events
              WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            ),
            cand AS (
              SELECT DISTINCT event_type, item FROM (
                SELECT event_type, user_id AS item,
                       ROW_NUMBER() OVER (
                         PARTITION BY event_type
                         ORDER BY CAST('0x' || substr(
                             md5(CAST(event_id AS VARCHAR) || ':0'),
                             1, 15) AS BIGINT) ASC,
                           user_id ASC) AS rn
                FROM src
              ) WHERE rn <= 1024
            ),
            rws(rw) AS (VALUES (0), (1), (2), (3)),
            regs AS (
              SELECT event_type, rw,
                     CAST(CAST('0x' || substr(
                         md5(CAST(user_id AS VARCHAR) || ':' || rw),
                         1, 15) AS BIGINT) % 1024 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM src CROSS JOIN rws
              GROUP BY event_type, rw, bucket
            ),
            -- KEYED probe (r14 cms_lookup semantics): each key group
            -- is probed only with its OWN candidate items, so a value
            -- never sampled under a key cannot enter that key's
            -- estimates through a pooled cross-key candidate set
            probe AS (
              SELECT event_type, item, rw,
                     CAST(CAST('0x' || substr(
                         md5(CAST(item AS VARCHAR) || ':' || rw),
                         1, 15) AS BIGINT) % 1024 AS INT) AS bucket
              FROM cand CROSS JOIN rws
            ),
            per AS (
              SELECT p.event_type, p.item,
                     MIN(r.cnt) AS mn, COUNT(*) AS nrows
              FROM regs r
              JOIN probe p ON r.event_type = p.event_type
                          AND r.rw = p.rw AND r.bucket = p.bucket
              GROUP BY p.event_type, p.item
            ),
            est AS (
              SELECT c.event_type, c.item,
                     CASE WHEN per.nrows IS NULL OR per.nrows < 4
                          THEN CAST(0 AS BIGINT)
                          ELSE CAST(per.mn AS BIGINT) END AS est
              FROM cand c
              LEFT JOIN per ON per.event_type = c.event_type
                           AND per.item = c.item
            )
            SELECT event_type, CAST(rank AS INT) AS rank, item, est
            FROM (
              SELECT event_type, item, est,
                     ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY est DESC, item ASC) AS rank
              FROM est
            ) WHERE rank <= 15
        """,
        "cms_term_counts": r"""
            WITH toks AS MATERIALIZED (
              SELECT source,
                     unnest(string_split_regex(lower(trim(text)),
                            '[ \t\n\x0B\f\r]+')) AS term
              FROM documents WHERE trim(text) <> ''
            ),
            rws(rw) AS (VALUES (0), (1), (2), (3)),
            probe(item) AS (
              VALUES ('the'), ('spark'), ('merge'), ('batch'),
                     ('join'), ('zzz-absent')
            ),
            regs AS (
              SELECT source, rw,
                     CAST(CAST('0x' || substr(md5(term || ':' || rw),
                          1, 15) AS BIGINT) % 1024 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM toks CROSS JOIN rws
              WHERE term <> ''
              GROUP BY source, rw, bucket
            ),
            pr AS (
              SELECT item, rw,
                     CAST(CAST('0x' || substr(md5(item || ':' || rw),
                          1, 15) AS BIGINT) % 1024 AS INT) AS bucket
              FROM probe CROSS JOIN rws
            ),
            matched AS (
              SELECT regs.source, pr.item,
                     MIN(cnt) AS mn, COUNT(*) AS nrows
              FROM regs JOIN pr
                ON regs.rw = pr.rw AND regs.bucket = pr.bucket
              GROUP BY regs.source, pr.item
            )
            SELECT s.source, p.item,
                   CAST(CASE WHEN m.nrows IS NULL OR m.nrows < 4
                        THEN 0 ELSE m.mn END AS BIGINT) AS est
            FROM (SELECT DISTINCT source FROM toks WHERE term <> '') s
            CROSS JOIN probe p
            LEFT JOIN matched m
              ON m.source = s.source AND m.item = p.item
        """,
        "bm25_topk": r"""
            WITH queries(query_id, query) AS (
              VALUES (0, 'spark sql engine'),
                     (1, 'table scan merge'),
                     (2, 'slow query filter join')
            ),
            toks AS MATERIALIZED (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)),
                            '[ \t\n\x0B\f\r]+')) AS term
              FROM documents WHERE trim(text) <> ''
            ),
            tf AS (
              SELECT doc_id, term, COUNT(*) AS tf
              FROM toks WHERE term <> '' GROUP BY doc_id, term
            ),
            dl AS (
              SELECT doc_id, COUNT(*) AS dl
              FROM toks WHERE term <> '' GROUP BY doc_id
            ),
            stats AS (
              SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
            ),
            dfq AS (
              SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            ),
            qt AS (
              SELECT DISTINCT query_id, term FROM (
                SELECT query_id,
                       unnest(string_split_regex(lower(trim(query)),
                              '[ \t\n\x0B\f\r]+')) AS term
                FROM queries
              ) WHERE term <> ''
            ),
            scored AS (
              SELECT qt.query_id, tf.doc_id,
                     -- parenthesized to Spark's association order
                     -- (idf * ((tf*(k1+1)) / (tf + k1*(...)))):
                     -- double multiply is not associative
                     SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                         * ((tf.tf * 2.2)
                            / (tf.tf
                               + 1.2 * (1 - 0.75
                                        + 0.75 * (dl.dl / avgdl)))))
                       AS score
              FROM tf
              JOIN qt USING (term)
              JOIN dfq USING (term)
              JOIN dl USING (doc_id)
              CROSS JOIN stats
              GROUP BY qt.query_id, tf.doc_id
            )
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
                   round(score, 6) + 0e0 AS score
            FROM (
              SELECT query_id, doc_id, score,
                     ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 10
        """,
        "hll_user_counts": f"""
            WITH h AS (
              SELECT event_type,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                          1, 15) AS BIGINT) AS hh
              FROM events
            ),
            regs AS (
              SELECT event_type,
                     CAST(hh % 4096 AS INT) AS bucket,
                     MAX(CASE WHEN hh >> 12 = 0 THEN 49
                         ELSE 49 - length(bin(hh >> 12)) END) AS rank
              FROM h GROUP BY event_type, bucket
            ),
            agg AS (
              SELECT event_type,
                     COUNT(*) AS present,
                     SUM(CAST(1 AS BIGINT) << (49 - rank)) AS psum
              FROM regs GROUP BY event_type
            ),
            fin AS (
              SELECT event_type,
                     CAST(4096 - present AS BIGINT) AS zeros,
                     CAST(psum + (4096 - present)
                          * (CAST(1 AS BIGINT) << 49) AS BIGINT)
                       AS reg_sum
              FROM agg
            )
            SELECT event_type, zeros, reg_sum,
                   round(CASE WHEN {_HLL_C!r} / reg_sum <= 10240e0
                              AND zeros > 0
                         THEN 4096e0 * ln(4096e0 / zeros)
                         ELSE {_HLL_C!r} / reg_sum END, 4) + 0e0 AS est
            FROM fin
        """,
        "q8_market_share": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   round(SUM(CASE WHEN s_nationkey = 7
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0e0 END)
                         / SUM(l_extendedprice * (1 - l_discount)),
                         6) + 0e0 AS mkt_share
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_year
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   CAST(SUM(CAST(round(
                         l_extendedprice * (1 - l_discount) * 10000
                         - p_retailprice * l_quantity * 1000)
                       AS BIGINT)) AS BIGINT) AS sum_profit_em4
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%rod%'
            -- group by the COLUMN: a bare 'nation' binds to the table
            GROUP BY n_name, o_year
        """,
        "q12_late_priority": """
            -- Outer CASTs: DuckDB widens integer SUMs to HUGEINT ->
            -- pandas float64, vs Spark bigint (the proven r12/r13
            -- driver hash-red mechanism). CAST pins pandas int64.
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                       ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                       ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            -- DATE granularity on purpose: timezone-free in both
            -- engines (see q12_late_priority docstring)
            WHERE CAST(l_shipdate AS DATE)
                    >= CAST(o_orderdate AS DATE) + 60
              AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
            GROUP BY l_returnflag
        """,
        "q21_waiting_supplier": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     -- DATE granularity: timezone-free (q12 note)
                     CASE WHEN CAST(l_shipdate AS DATE)
                               > CAST(o_orderdate AS DATE) + 90
                          THEN 1 ELSE 0 END AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            po AS (
              SELECT l_orderkey,
                     COUNT(DISTINCT l_suppkey) AS nsupp,
                     COUNT(DISTINCT CASE WHEN late = 1
                           THEN l_suppkey END) AS nlate
              FROM lo GROUP BY l_orderkey
            )
            SELECT s_name, COUNT(*) AS numwait
            FROM lo
            JOIN po USING (l_orderkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE lo.late = 1 AND po.nsupp >= 2 AND po.nlate = 1
              AND s_nationkey = 3
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 100
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name,
                   round(c_acctbal, 2) + 0e0 AS c_acctbal,
                   n_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0
                     AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "q17_small_quantity_revenue": """
            SELECT round(SUM(l_extendedprice) / 7.0, 6) + 0e0 AS avg_yearly
            FROM lineitem l
            JOIN part ON l.l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
              AND l.l_quantity < (
                SELECT 0.2 * AVG(l2.l_quantity)
                FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
              )
        """,
        "q19_discounted_revenue": """
            SELECT round(SUM(l_extendedprice * (1 - l_discount)), 2) + 0e0
                     AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#7' AND p_size BETWEEN 11 AND 25
                   AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 26 AND 50
                   AND l_quantity BETWEEN 20 AND 35)
        """,
        "q22_idle_rich_customers": """
            WITH abal AS (
              SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
            )
            SELECT c_mktsegment,
                   COUNT(*) AS numcust,
                   round(SUM(c_acctbal), 2) + 0e0 AS totacctbal
            FROM customer CROSS JOIN abal
            WHERE c_acctbal > a
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "q_top_customers_per_nation": """
            WITH rev AS (
              SELECT o_custkey, SUM(o_totalprice) AS revenue
              FROM orders GROUP BY o_custkey
            ),
            ranked AS (
              SELECT n_name, c_custkey, revenue,
                     CAST(row_number() OVER (
                       PARTITION BY n_name
                       ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rnk
              FROM rev
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
            )
            SELECT n_name, c_custkey, round(revenue, 2) + 0e0 AS revenue, rnk
            FROM ranked WHERE rnk <= 3
        """,
        "events_hourly": """
            SELECT event_type,
                   CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                   COUNT(*) AS n_events,
                   round(SUM(value), 4) + 0e0 AS sum_value,
                   round(AVG(value), 6) + 0e0 AS avg_value
            FROM events
            GROUP BY event_type, hr
        """,
        "events_props_agg": """
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   round(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 6) + 0e0 AS avg_k
            FROM events
            GROUP BY event_type
        """,
        "rca_frame": f"""
            WITH {_RCA_CTE}
            SELECT event_type, hr, ub,
                   round("real", 6) + 0e0 AS "real",
                   round(predict, 6) + 0e0 AS predict
            FROM rca
        """,
        "rca_scores": f"""
            WITH {_RCA_CTE},
            tot AS (SELECT SUM("real") AS A, SUM(predict) AS Ff FROM rca)
            SELECT event_type, hr, ub,
                   round(("real" - predict) / (A - Ff), 6) + 0e0 AS ep,
                   round(CASE WHEN predict + "real" = 0 THEN 0.0
                         ELSE 2 * (predict - "real") / (predict + "real") END, 6) + 0e0 AS deviation
            FROM rca CROSS JOIN tot
        """,
        "rca_partition": f"""
            WITH {_RCA_CTE},
            scored AS (
              SELECT *, CASE WHEN predict + "real" = 0 THEN 0.0
                        ELSE 2 * (predict - "real") / (predict + "real") END AS deviation
              FROM rca
            ),
            devs AS (SELECT DISTINCT deviation AS d FROM scored),
            lo AS (SELECT MAX(d) AS v FROM (SELECT d FROM devs ORDER BY d ASC LIMIT 6)),
            hi AS (SELECT MIN(d) AS v FROM (SELECT d FROM devs ORDER BY d DESC LIMIT 6)),
            cut AS (SELECT CASE WHEN abs(lo.v) <= abs(hi.v) THEN -lo.v ELSE -hi.v END AS cutoff
                    FROM lo CROSS JOIN hi),
            parts AS (
              SELECT s.*, c.cutoff,
                     -- mirror Python's copysign tie: cutoff == -0.0 means the
                 -- NEGATIVE side is anomalous (scores.add_partition:120)
                 CASE WHEN (CASE WHEN c.cutoff = 0 THEN NOT signbit(c.cutoff)
                            ELSE c.cutoff >= 0 END)
                          THEN (CASE WHEN s.deviation > c.cutoff THEN 1 ELSE 0 END)
                          ELSE (CASE WHEN s.deviation < c.cutoff THEN 1 ELSE 0 END)
                     END AS part
              FROM scored s CROSS JOIN cut c
            )
            SELECT event_type, hr, ub,
                   round(deviation, 6) + 0e0 AS deviation,
                   CAST(part AS INT) AS part,
                   round(LEAST(
                     CASE WHEN part = 1 THEN abs(deviation)
                          WHEN "real" = 0 AND predict = 0 THEN 0.0
                          ELSE abs(cutoff - deviation) END, 1.0), 6) + 0e0 AS weight
            FROM parts
        """,
        "adtributor_elements": f"""
            WITH {_RCA_CTE},
            el AS (
              SELECT CAST(event_type AS VARCHAR) AS element, 'event_type' AS dimension,
                     SUM("real") AS "real", SUM(predict) AS predict FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(hr AS VARCHAR), 'hr', SUM("real"), SUM(predict) FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(ub AS VARCHAR), 'ub', SUM("real"), SUM(predict) FROM rca GROUP BY 1
            ),
            tot AS (SELECT SUM("real") AS A, SUM(predict) AS Ff FROM el)
            SELECT dimension, element,
                   round(("real" - predict) / (A - Ff), 6) + 0e0 AS ep,
                   round(
                     0.5 * (
                       CASE WHEN predict = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                            ELSE (predict / (Ff / 3.0)) * ln(2 * (predict / (Ff / 3.0))
                                 / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                       + CASE WHEN "real" = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                              ELSE ("real" / (A / 3.0)) * ln(2 * ("real" / (A / 3.0))
                                   / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                     ), 6) + 0e0 AS surprise
            FROM el CROSS JOIN tot
        """,
        "adtributor_candidates": f"""
            WITH {_RCA_CTE},
            el AS (
              SELECT CAST(event_type AS VARCHAR) AS element, 'event_type' AS dimension,
                     SUM("real") AS "real", SUM(predict) AS predict FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(hr AS VARCHAR), 'hr', SUM("real"), SUM(predict) FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(ub AS VARCHAR), 'ub', SUM("real"), SUM(predict) FROM rca GROUP BY 1
            ),
            tot AS (SELECT SUM("real") AS A, SUM(predict) AS Ff FROM el),
            scored AS (
              SELECT dimension, element,
                     ("real" - predict) / (A - Ff) AS ep,
                     0.5 * (
                       CASE WHEN predict = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                            ELSE (predict / (Ff / 3.0)) * ln(2 * (predict / (Ff / 3.0))
                                 / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                       + CASE WHEN "real" = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                              ELSE ("real" / (A / 3.0)) * ln(2 * ("real" / (A / 3.0))
                                   / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                     ) AS surprise
              FROM el CROSS JOIN tot
            ),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY dimension ORDER BY surprise DESC, element ASC) AS rn,
                     SUM(CASE WHEN ep > 0.05 THEN ep ELSE 0.0 END)
                       OVER (PARTITION BY dimension ORDER BY surprise DESC, element ASC
                             ROWS UNBOUNDED PRECEDING) AS cum_ep
              FROM scored
            ),
            stops AS (
              SELECT dimension,
                     MIN(CASE WHEN ep > 0.05 AND cum_ep > 0.1 THEN rn END) AS stop_rn
              FROM ranked GROUP BY dimension
            )
            SELECT r.dimension, r.element, round(r.ep, 6) + 0e0 AS ep, round(r.surprise, 6) + 0e0 AS surprise
            FROM ranked r JOIN stops s ON r.dimension = s.dimension
            WHERE r.rn <= s.stop_rn AND r.ep > 0.05
        """,
        "text_stats": f"""
            WITH {_TEXT_STATS_CTE}
            SELECT doc_id, n_tokens,
                   round(punct_ratio, 6) + 0e0 AS punct_ratio,
                   round(stopword_ratio, 6) + 0e0 AS stopword_ratio,
                   CAST(round(quality, 2) + 0e0 AS DOUBLE) AS quality,
                   lang_pred
            FROM scored_docs
        """,
        "lang_quality_by_source": f"""
            WITH {_TEXT_STATS_CTE}
            SELECT source, COUNT(*) AS n_docs,
                   round(AVG(n_tokens), 6) + 0e0 AS avg_tokens
            FROM scored_docs
            WHERE lang_pred = 'en' AND quality >= 0.7
            GROUP BY source
        """,
        "corpus_curate_near_dup": f"""
            WITH RECURSIVE {_TEXT_STATS_CTE},
            kept AS (
              SELECT s.doc_id, s.source, s.quality, s.lang_pred, d.text
              FROM scored_docs s JOIN documents d ON d.doc_id = s.doc_id
              WHERE s.quality >= 0.5 AND s.lang_pred = 'en'
            ),
            pairs AS ({_minhash_pairs_sql(src="kept")}),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
              SELECT u, u FROM edges
              UNION
              SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
            ),
            comp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id)
            SELECT k.doc_id, k.source,
                   round(k.quality, 6) + 0e0 AS quality, k.lang_pred
            FROM kept k LEFT JOIN comp ON comp.id = k.doc_id
            WHERE COALESCE(comp.group_id, k.doc_id) = k.doc_id
        """,
        "corpus_curate_semantic": f"""
            WITH RECURSIVE {_TEXT_STATS_CTE},
            kept AS MATERIALIZED (
              SELECT s.doc_id, s.source, s.quality, s.lang_pred
              FROM scored_docs s
              WHERE s.quality >= 0.5 AND s.lang_pred = 'en'
            ),
            -- unit-normalized survivor embeddings (sequential
            -- list_dot_product = the operator's JVM fold)
            ne AS MATERIALIZED (
              SELECT e.vec_id,
                     list_transform(e.embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                         e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS nv,
                     e.embedding::DOUBLE[] AS ee
              FROM embeddings e JOIN kept k ON e.vec_id = k.doc_id
            ),
            -- seed quantizers: normalized first 16 embeddings by vec_id
            seeds16 AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                         embedding::DOUBLE[], embedding::DOUBLE[]))) AS ce
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            ms AS (SELECT unnest(range(0, 8)) AS m),
            cbs AS MATERIALIZED (
              SELECT s.cell AS j, m, ce[m*8+1 : m*8+8] AS csub
              FROM seeds16 s CROSS JOIN ms WHERE s.cell < 8
            ),
            cells AS MATERIALIZED (
              SELECT vec_id, cell FROM (
                SELECT n.vec_id, s.cell,
                       row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY list_distance(n.nv, s.ce), s.cell)
                         AS rn
                FROM ne n CROSS JOIN seeds16 s
              ) WHERE rn = 1
            ),
            codes AS MATERIALIZED (
              SELECT vec_id, m, j AS code FROM (
                SELECT n.vec_id, c.m, c.j,
                       row_number() OVER (PARTITION BY n.vec_id, c.m
                            ORDER BY list_distance(
                              n.nv[c.m*8+1 : c.m*8+8], c.csub), c.j) AS rn
                FROM ne n CROSS JOIN cbs c
              ) WHERE rn = 1
            ),
            cpairs AS MATERIALIZED (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM cells a JOIN cells b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
            ),
            -- SDC: per-subspace squared L2 between the pair's codebook
            -- entries, summed — exact elementwise form (no
            -- sqrt-then-square), matching the numpy table
            sdc AS MATERIALIZED (
              SELECT p.id_a, p.id_b,
                     SUM(list_sum(list_transform(
                       list_zip(ca.csub, cb2.csub),
                       x -> (x[1] - x[2]) * (x[1] - x[2])))) AS d2
              FROM cpairs p
              JOIN codes ka ON ka.vec_id = p.id_a
              JOIN codes kb ON kb.vec_id = p.id_b AND kb.m = ka.m
              JOIN cbs ca ON ca.m = ka.m AND ca.j = ka.code
              JOIN cbs cb2 ON cb2.m = kb.m AND cb2.j = kb.code
              GROUP BY p.id_a, p.id_b
            ),
            pairs AS MATERIALIZED (
              SELECT s.id_a, s.id_b
              FROM sdc s
              JOIN ne a ON a.vec_id = s.id_a
              JOIN ne b ON b.vec_id = s.id_b
              WHERE s.d2 <= 2e0 * (2e0 - 2e0 * 4e-1)
                AND list_dot_product(a.ee, b.ee)
                    / (sqrt(list_dot_product(a.ee, a.ee))
                       * sqrt(list_dot_product(b.ee, b.ee))) >= 4e-1
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
              SELECT u, u FROM edges
              UNION
              SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
            ),
            comp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id)
            SELECT k.doc_id, k.source,
                   round(k.quality, 6) + 0e0 AS quality, k.lang_pred
            FROM kept k LEFT JOIN comp ON comp.id = k.doc_id
            WHERE COALESCE(comp.group_id, k.doc_id) = k.doc_id
        """,
        "corpus_curate": f"""
            WITH {_TEXT_STATS_CTE},
            kept AS (
              SELECT s.doc_id, s.source, s.quality, s.lang_pred, d.text
              FROM scored_docs s JOIN documents d ON d.doc_id = s.doc_id
              WHERE s.quality >= 0.5 AND s.lang_pred = 'en'
            ),
            surv AS (
              SELECT MIN(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)),
                                      '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS norm
                FROM kept
              ) GROUP BY norm
            )
            SELECT k.doc_id, k.source,
                   round(k.quality, 6) + 0e0 AS quality, k.lang_pred
            FROM kept k JOIN surv USING (doc_id)
        """,
        "corpus_pack": f"""
            WITH RECURSIVE d0 AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text),
                            '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT) AS tok,
                     CAST({_MD5H.format(x="CAST(doc_id AS VARCHAR) || ':pack'")}
                          % 1000000 % 8 AS INT) AS bucket
              FROM documents
            ),
            d AS MATERIALIZED (
              SELECT *, CAST(row_number() OVER (PARTITION BY bucket
                             ORDER BY doc_id) AS INT) AS i
              FROM d0
            ),
            -- the next-fit fold, one doc per recursion step per bucket
            rec(bucket, i, doc_id, tok, seq_id, used) AS (
              SELECT bucket, i, doc_id, tok, 1, tok FROM d WHERE i = 1
              UNION ALL
              SELECT nd.bucket, nd.i, nd.doc_id, nd.tok,
                     CASE WHEN rec.used + nd.tok > 120
                          THEN rec.seq_id + 1 ELSE rec.seq_id END,
                     CASE WHEN rec.used + nd.tok > 120
                          THEN nd.tok ELSE rec.used + nd.tok END
              FROM rec JOIN d nd
                ON nd.bucket = rec.bucket AND nd.i = rec.i + 1
            ),
            seqtot AS (
              SELECT bucket, seq_id, MAX(used) AS seq_tokens
              FROM rec GROUP BY bucket, seq_id
            )
            SELECT r.doc_id, r.bucket, CAST(r.seq_id AS INT) AS seq_id,
                   s.seq_tokens
            FROM rec r JOIN seqtot s
              ON s.bucket = r.bucket AND s.seq_id = r.seq_id
        """,
        "bpe_token_counts": """
            SELECT doc_id,
                   CAST(length(text)
                        - len(regexp_extract_all(text, 'th'))
                        - len(regexp_extract_all(text, 'the'))
                        - len(regexp_extract_all(text, 'in'))
                        - len(regexp_extract_all(text, 'ing'))
                     AS BIGINT) AS n_tokens
            FROM documents
        """,
        "corpus_sample_split": f"""
            SELECT doc_id,
                   CASE WHEN h < 750000 THEN 'train'
                        WHEN h < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     {_MD5H.format(x="CAST(doc_id AS VARCHAR) || ':split'")}
                       % 1000000 AS h
              FROM documents
            )
        """,
        # the full deterministic permutation replayed: hash family,
        # modulus, per-shard dense rank with the (ord-hash, id) order
        "corpus_shards": f"""
            SELECT doc_id,
                   CAST(h1 % 8 AS INT) AS shard,
                   CAST(row_number() OVER (
                          PARTITION BY h1 % 8
                          ORDER BY h2 % 1000000, doc_id
                        ) - 1 AS BIGINT) AS pos
            FROM (
              SELECT doc_id,
                     {_MD5H.format(x="CAST(doc_id AS VARCHAR) || ':shard'")} AS h1,
                     {_MD5H.format(x="CAST(doc_id AS VARCHAR) || ':shard:ord'")} AS h2
              FROM documents
            )
        """,
        "corpus_sample_stratified": f"""
            SELECT doc_id, source
            FROM (
              SELECT doc_id, source,
                     {_MD5H.format(x="CAST(doc_id AS VARCHAR) || ':mix'")}
                       % 1000000 AS h
              FROM documents
            )
            WHERE h < CASE source
                        WHEN 'src0' THEN 1000000
                        WHEN 'src1' THEN 500000
                        WHEN 'src2' THEN 250000
                        ELSE 50000 END
        """,
        "benchmark_exposure": f"""
            WITH b AS (
              SELECT doc_id + 10000000 AS bench_id,
                     text || ' qq ww ee rr' AS text
              FROM documents WHERE doc_id % 17 = 0
            ),
            ctoks AS (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w
              FROM documents
            ),
            cg AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     unnest(CASE WHEN len(w) < 4
                       THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(0, len(w) - 3),
                         i -> array_to_string(w[i+1 : i+4], ' ')) END) AS g
              FROM ctoks
            ),
            btoks AS (
              SELECT bench_id, string_split({_NORM_TEXT}, ' ') AS w
              FROM b
            ),
            bg AS MATERIALIZED (
              SELECT DISTINCT bench_id,
                     unnest(CASE WHEN len(w) < 4
                       THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(0, len(w) - 3),
                         i -> array_to_string(w[i+1 : i+4], ' ')) END) AS g
              FROM btoks
            ),
            matched AS MATERIALIZED (
              SELECT DISTINCT cg.g, cg.doc_id
              FROM cg JOIN (SELECT DISTINCT g FROM bg) s ON cg.g = s.g
            ),
            per_item AS (
              SELECT bench_id, COUNT(*) AS n_ngrams,
                     CAST(SUM(CASE WHEN g IN (SELECT g FROM matched)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed
              FROM bg GROUP BY 1
            ),
            docs_per AS (
              SELECT bench_id, COUNT(*) AS n_corpus_docs
              FROM (
                SELECT DISTINCT bg.bench_id, m.doc_id
                FROM bg JOIN matched m ON bg.g = m.g
              ) GROUP BY 1
            )
            SELECT p.bench_id, p.n_ngrams, p.n_exposed,
                   round(CAST(p.n_exposed AS DOUBLE) / p.n_ngrams, 6)
                     + 0e0 AS exposure,
                   CAST(COALESCE(d.n_corpus_docs, 0) AS BIGINT)
                     AS n_corpus_docs
            FROM per_item p LEFT JOIN docs_per d
              ON p.bench_id = d.bench_id
        """,
        "decontamination_audit": _DECON_AUDIT_SQL.format(
            norm=_NORM_TEXT
        ),
        # the streaming gate's staging guarantees the emitted set is
        # exactly the full corpus audit, one row per doc — so the
        # oracle IS the batch audit SQL (streaming == batch pinned)
        "streaming_decontamination": _DECON_AUDIT_SQL.format(
            norm=_NORM_TEXT
        ),
        "bloom_decontamination": f"""
            WITH toks AS (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w
              FROM documents
            ),
            grams AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     unnest(CASE WHEN len(w) < 4
                       THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(0, len(w) - 3),
                         i -> array_to_string(w[i+1 : i+4], ' ')) END) AS g
              FROM toks
            ),
            bench AS MATERIALIZED (
              SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0
            ),
            st AS (
              SELECT doc_id, COUNT(*) AS n_ngrams,
                     CAST(SUM(CASE WHEN g IN (SELECT g FROM bench)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
              FROM grams GROUP BY doc_id
            )
            SELECT doc_id, n_ngrams, n_matched,
                   round(CAST(n_matched AS DOUBLE) / n_ngrams, 6) + 0e0
                     AS contamination
            FROM st
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS doc_id
            FROM (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS norm
              FROM documents
            )
            GROUP BY norm
        """,
        "dedup_paragraphs": _PARAGRAPH_CTE + """
            SELECT doc_id, CAST(para_idx AS INT) AS para_idx, para
            FROM ranked WHERE rn = 1
        """,
        "dedup_paragraphs_rebuild": _PARAGRAPH_CTE + """
            SELECT doc_id,
                   string_agg(para, chr(10) || chr(10)
                              ORDER BY para_idx) AS text
            FROM ranked WHERE rn = 1
            GROUP BY doc_id
        """,
        "knn_bruteforce": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
              FROM embeddings WHERE vec_id < 8
            ),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
            s AS (
              SELECT query_id, vec_id,
                     list_dot_product(qe, ee)
                     / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee))) AS cs
              FROM q CROSS JOIN c
            ),
            r AS (
              SELECT query_id, vec_id, round(cs, 6) + 0e0 AS cos_sim,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cs DESC, vec_id ASC) AS INT) AS rnk
              FROM s
            )
            SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5
        """,
        "embedding_near_dup_exact": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(
                     list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
        """,
        "rev_adtributor_rec": _rev_adtributor_rec_sql(),
        "rev_adtributor": f"""
            WITH {_RCA_CTE},
            el AS (
              SELECT CAST(event_type AS VARCHAR) AS element, 'event_type' AS dimension,
                     SUM("real") AS "real", SUM(predict) AS predict FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(hr AS VARCHAR), 'hr', SUM("real"), SUM(predict) FROM rca GROUP BY 1
              UNION ALL
              SELECT CAST(ub AS VARCHAR), 'ub', SUM("real"), SUM(predict) FROM rca GROUP BY 1
            ),
            tot AS (SELECT SUM("real") AS A, SUM(predict) AS Ff FROM el),
            scored AS (
              SELECT dimension, element,
                     ("real" - predict) / (A - Ff) AS ep,
                     0.5 * (
                       CASE WHEN predict = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                            ELSE (predict / (Ff / 3.0)) * ln(2 * (predict / (Ff / 3.0))
                                 / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                       + CASE WHEN "real" = 0 OR (predict / (Ff / 3.0) + "real" / (A / 3.0)) = 0 THEN 0.0
                              ELSE ("real" / (A / 3.0)) * ln(2 * ("real" / (A / 3.0))
                                   / (predict / (Ff / 3.0) + "real" / (A / 3.0))) END
                     ) AS surprise
              FROM el CROSS JOIN tot
            ),
            dim_stats AS (
              SELECT dimension,
                     COUNT(*) AS n_total,
                     SUM(CASE WHEN ep > 0.05 THEN 1 ELSE 0 END) AS n_cand,
                     SUM(CASE WHEN ep > 0.05 THEN surprise END) AS dim_surprise
              FROM scored GROUP BY dimension
            ),
            picked AS (
              SELECT dimension FROM dim_stats
              WHERE n_cand > 0 AND n_cand < n_total
              ORDER BY dim_surprise DESC, dimension ASC LIMIT 2
            )
            SELECT s.dimension, s.element,
                   round(s.ep, 6) + 0e0 AS ep, round(s.surprise, 6) + 0e0 AS surprise
            FROM scored s JOIN picked p ON s.dimension = p.dimension
            WHERE s.ep > 0.05
        """,
        "minhash_pairs": _minhash_pairs_sql(),
        "decontamination_near_dup": _near_dup_decontamination_sql(),
        "decontamination_semantic": """
            WITH bench AS (
              SELECT vec_id + 10000000 AS bench_id, embedding
              FROM embeddings WHERE vec_id % 37 = 5
            ),
            pairs AS (
              SELECT c.vec_id, b.bench_id,
                     list_dot_product(c.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[])))
                       AS cos
              FROM embeddings c CROSS JOIN bench b
            ),
            hits AS (SELECT * FROM pairs WHERE cos >= 0.8),
            ranked AS (
              SELECT vec_id, bench_id, cos,
                     ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos DESC, bench_id ASC) AS rn,
                     COUNT(*) OVER (PARTITION BY vec_id) AS nm
              FROM hits
            )
            SELECT e.vec_id,
                   CAST(COALESCE(r.nm, 0) AS BIGINT) AS n_bench_matches,
                   round(COALESCE(r.cos, 0.0), 6) + 0e0 AS max_cos,
                   r.bench_id
            FROM (SELECT DISTINCT vec_id FROM embeddings) e
            LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
              ON e.vec_id = r.vec_id
        """,
        "incremental_near_dup": _incremental_near_dup_sql(),
        "streaming_ingest_dedup": _streaming_ingest_dedup_sql(),
        # video gates: the AVI synthesis contract in closed-form SQL
        # (operators/video._synth_params); frames replay the JPEG
        # constant_block_round_trip closed form with a frame axis
        "video_meta": """
            SELECT doc_id AS media_id,
                   CAST((2 + doc_id % 3) * 8 AS INTEGER) AS width,
                   CAST((1 + doc_id % 2) * 8 AS INTEGER) AS height,
                   CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
                   CAST(40000 * (1 + doc_id % 2) AS BIGINT) AS us_per_frame,
                   CAST((2 + doc_id % 3) * 40000 * (1 + doc_id % 2)
                        AS BIGINT) AS duration_us
            FROM documents
        """,
        "video_frames": """
            WITH vdims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     2 + doc_id % 3 AS tw,
                     1 + doc_id % 2 AS th,
                     40000 * (1 + doc_id % 2) AS upf,
                     unnest(range(0, 2 + doc_id % 3)) AS k
              FROM documents
            ),
            px AS (
              SELECT media_id, tw, th, upf, k,
                     unnest(range(0, tw * th * 64)) AS s
              FROM vdims
            ),
            tiles AS (
              SELECT media_id, tw, th, upf, k, s,
                     ((s // (8 * tw)) // 8) * tw + ((s % (8 * tw)) // 8) AS t
              FROM px
            ),
            vals AS (
              SELECT media_id, tw, th, upf, k, s,
                     (media_id * 23 + t * 71 + k * 37) % 256 AS v
              FROM tiles
            ),
            dec AS (
              SELECT media_id, tw, th, upf, k, s,
                     LEAST(GREATEST(CAST(floor(
                       (CAST(floor((8 * v - 1024) / 13e0 + 5e-1) AS BIGINT)
                        * 13 + 1028) / 8e0
                     ) AS BIGINT), 0), 255) AS f
              FROM vals
            )
            SELECT media_id,
                   CAST(k AS INTEGER) AS frame_idx,
                   CAST(k * upf AS BIGINT) AS ts_us,
                   CAST(8 * tw AS INTEGER) AS width,
                   CAST(8 * th AS INTEGER) AS height,
                   CAST(SUM(f) AS BIGINT) AS pix_sum,
                   CAST(SUM(f * ((s % 97) + 1)) AS BIGINT) AS pix_wsum,
                   CAST(MIN(f) AS BIGINT) AS pix_min,
                   CAST(MAX(f) AS BIGINT) AS pix_max
            FROM dec
            GROUP BY media_id, k, upf, tw, th
        """,
        # the forward direction: the native ASOF inequality flipped
        "events_asof_forward": """
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS asof_ts,
                   round(r.value, 6) + 0e0 AS asof_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type <> 'purchase') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        # the tolerance branch: native ASOF LEFT JOIN post-filtered by
        # the same integer-microsecond gap rule (boundary matched)
        "events_asof_tolerance": """
            SELECT l.event_id, l.user_id, l.ts,
                   CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
                             <= 1800000000
                        THEN r.ts END AS asof_ts,
                   CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
                             <= 1800000000
                        THEN round(r.value, 6) + 0e0 END AS asof_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type <> 'purchase') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # DuckDB's native RANGE window over epoch_us — an independent
        # implementation of the trailing-frame semantics (peers at the
        # boundary and equal timestamps included on both engines)
        "events_rolling": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_events_window,
                   round(SUM(value) OVER w, 6) + 0e0 AS sum_value_window
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
        """,
        # per-group window cumsum over the portable (id) hash order;
        # pmod == % on the non-negative md5-derived hash
        "mixture_alpha_sample": r"""
            WITH toks AS (
              SELECT doc_id, source,
                     CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text),
                                   '[ \t\n\x0B\f\r]+')) END AS BIGINT)
                       AS n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 15) AS BIGINT) % 1000000 AS h
              FROM documents
            ),
            -- alpha=0.5 weights, quantized to integers so the budget
            -- division is exact (HUGEINT): w = floor(sqrt(nt) * 2^20)
            g AS (
              SELECT source, SUM(n_tokens) AS nt FROM toks GROUP BY 1
            ),
            w AS (
              SELECT source,
                     CAST(floor(sqrt(CAST(nt AS DOUBLE)) * 1048576)
                          AS HUGEINT) AS wq
              FROM g
            ),
            b AS (
              SELECT source,
                     CAST((3000 * wq) // (SELECT SUM(wq) FROM w)
                          AS BIGINT) AS budget
              FROM w
            ),
            cum AS (
              SELECT doc_id, t.source, n_tokens, budget,
                     SUM(n_tokens) OVER (
                       PARTITION BY t.source ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM toks t JOIN b ON t.source = b.source
            )
            SELECT doc_id, source, n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM cum
            WHERE cum_tokens <= budget
        """,
        "token_budget_sample": r"""
            WITH toks AS (
              SELECT doc_id, source,
                     CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text),
                                   '[ \t\n\x0B\f\r]+')) END AS BIGINT)
                       AS n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 15) AS BIGINT) % 1000000 AS h
              FROM documents
            ),
            cum AS (
              SELECT doc_id, source, n_tokens,
                     SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM toks
            )
            SELECT doc_id, source, n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM cum
            WHERE cum_tokens <= CASE source WHEN 'src0' THEN 400
                                            WHEN 'src1' THEN 800
                                            ELSE 600 END
        """,
        # top-k set gated via the deterministic (doc_freq desc,
        # total desc, ngram asc) tie-break; both engines sort strings
        # bytewise so boundary ties resolve identically
        "frequent_ngrams": f"""
            WITH toks AS (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t
              FROM documents
            ),
            sh AS (
              -- strict n-grams: sub-n-token docs contribute NOTHING
              -- (the MinHash whole-text fallback is wrong here)
              SELECT doc_id,
                     CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(t) - 1),
                                         i -> array_to_string(t[i:i+2], ' '))
                     END AS ss
              FROM toks
            ),
            grams AS (SELECT doc_id, unnest(ss) AS g FROM sh),
            per_doc AS (
              SELECT g, doc_id, COUNT(*) AS c FROM grams GROUP BY 1, 2
            ),
            agg AS (
              SELECT g AS ngram,
                     CAST(COUNT(*) AS BIGINT) AS doc_freq,
                     CAST(SUM(c) AS BIGINT) AS total_count
              FROM per_doc GROUP BY 1
            )
            SELECT ngram, doc_freq, total_count
            FROM agg
            ORDER BY doc_freq DESC, total_count DESC, ngram ASC
            LIMIT 30
        """,
        # the oracle IS the original relation: any JSONL round-trip
        # loss (escaping, unicode, widths, nulls, shards) breaks it
        "jsonl_roundtrip": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        # full SQL replay of the NB classifier: hashed-gram counts,
        # even-id fit (Laplace-smoothed micronat weights: the ONLY
        # float seam is round(ln * 1e6); sums and argmax are exact
        # BIGINT), broadcast-shaped scoring grid, label-ASC tiebreak
        "quality_classifier": rf"""
            WITH labeled AS MATERIALIZED (
              SELECT doc_id, text, 'good' AS label FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, reverse(text) AS text,
                     'bad' AS label
              FROM documents
            ),
            lnorm AS (
              SELECT doc_id, label,
                     regexp_replace(lower(trim(text)), '{_Q_WS}', ' ', 'g')
                       AS s
              FROM labeled
            ),
            feats AS MATERIALIZED (
              SELECT doc_id, label,
                     CAST(CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                          % 1024 AS INT) AS bucket,
                     count(*) AS cnt
              FROM (
                SELECT doc_id, label, substr(s, CAST(i AS INT), 3) AS gram
                FROM (
                  SELECT doc_id, label, s,
                         unnest(range(1, length(s) - 1)) AS i
                  FROM lnorm WHERE length(s) >= 3
                )
              ) GROUP BY 1, 2, 3
            ),
            cb AS (
              SELECT label, bucket, sum(cnt) AS c FROM feats
              WHERE doc_id % 2 = 0 GROUP BY 1, 2
            ),
            tot AS (SELECT label, sum(c) AS tot FROM cb GROUP BY 1),
            weights AS (
              SELECT cb.label, cb.bucket,
                     CAST(round(ln((cb.c + 1) / (tot.tot + 1024))
                                * 1000000) AS BIGINT) AS w
              FROM cb JOIN tot USING (label)
            ),
            ndocs AS (
              SELECT label, count(*) AS nl FROM labeled
              WHERE doc_id % 2 = 0 GROUP BY 1
            ),
            label_stats AS (
              SELECT t.label,
                     CAST(round(ln(1.0 / (t.tot + 1024)) * 1000000)
                          AS BIGINT) AS w0,
                     CAST(round(ln(n.nl / (sum(n.nl) OVER ()))
                                * 1000000) AS BIGINT) AS prior
              FROM tot t JOIN ndocs n USING (label)
            ),
            doc_tot AS (
              SELECT doc_id, sum(cnt) AS n_grams FROM feats GROUP BY 1
            ),
            matched AS (
              SELECT f.doc_id, w.label,
                     sum(f.cnt * w.w) AS mw, sum(f.cnt) AS mc
              FROM feats f JOIN weights w USING (bucket)
              GROUP BY 1, 2
            ),
            grid AS (
              SELECT d.doc_id, s.label,
                     CAST(s.prior + coalesce(m.mw, 0)
                          + (d.n_grams - coalesce(m.mc, 0)) * s.w0
                          AS BIGINT) AS score,
                     d.n_grams
              FROM doc_tot d CROSS JOIN label_stats s
              LEFT JOIN matched m
                ON m.doc_id = d.doc_id AND m.label = s.label
            )
            SELECT g.doc_id, l.label, g.label AS pred_label, g.score,
                   CAST(g.n_grams AS BIGINT) AS n_grams
            FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, label ASC)
                          AS rn
              FROM grid
            ) g JOIN labeled l USING (doc_id)
            WHERE g.rn = 1
        """,
        # the seven visible blocks enumerated closed-form with their
        # anchor-char counts; re-ranked after the empty-block filter so
        # the indices match Spark's dense block_idx even for degenerate
        # text
        "html_block_stats": f"""
            WITH flat AS (
              SELECT doc_id, source, lang, n_chars,
                     regexp_replace(text, '\\n+', ' ', 'g') AS text
              FROM documents
            ),
            cand AS (
              SELECT doc_id, unnest([
                struct_pack(i := 0,
                            t := source || ' ' || doc_id, a := 0),
                struct_pack(i := 1,
                            t := 'Doc "' || doc_id || '"', a := 0),
                struct_pack(i := 2,
                            t := 'home | about | contact', a := 4),
                struct_pack(i := 3,
                            t := {_html_norm_sql("text")}, a := 0),
                struct_pack(i := 4, t := 'lang: ' || lang, a := 0),
                struct_pack(i := 5, t := 'chars: ' || n_chars, a := 0),
                struct_pack(i := 6,
                            t := '''' || source || ''' fin', a := 0)
              ]) AS b
              FROM flat
            ),
            ranked AS (
              SELECT doc_id, b,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY b.i) - 1 AS block_idx
              FROM cand WHERE length(b.t) > 0
            )
            SELECT doc_id,
                   CAST(block_idx AS INT) AS block_idx,
                   b.t AS text,
                   CAST(length(b.t) AS BIGINT) AS n_chars,
                   CAST(b.a AS BIGINT) AS anchor_chars,
                   round(b.a / length(b.t), 6) AS link_density
            FROM ranked
        """,
        # CLOSED-FORM expected extraction (not a shared regex library):
        # the synthesized page's visible blocks rebuilt from the raw
        # columns, canonicalized by the same block-whitespace rules
        "html_extract": f"""
            SELECT doc_id,
                   {_html_norm_sql(_HTML_EXPECTED_RAW)} AS text
            FROM documents
        """,
        # CLOSED-FORM expected TREE extraction of the adversarial page
        # (never replays the tokenizer — the html_extract discipline)
        "html_extract_tree": f"""
            SELECT doc_id,
                   {_html_norm_sql(_HTML_TREE_EXPECTED_RAW)} AS text
            FROM documents
        """,
        # every field rebuilt closed-form, INCLUDING the byte-exact
        # Content-Length of the HTTP-response payload around the
        # rebuilt page (encode -> octet_length counts UTF-8 bytes,
        # matching the sink's len(payload))
        "warc_records": f"""
            WITH page AS (
              SELECT doc_id, source, lang, n_chars, text,
                     {_HTML_PAGE_SQL} AS html
              FROM documents
            )
            SELECT doc_id,
                   '<urn:riskloc:' || doc_id || '>' AS record_id,
                   'response' AS warc_type,
                   'https://' || source || '.example.com/doc/' || doc_id
                     AS target_uri,
                   '2026-01-01T00:00:00Z' AS warc_date,
                   CAST(octet_length(encode(
                     'HTTP/1.1 200 OK' || chr(13) || chr(10)
                     || 'Content-Type: text/html; charset=utf-8'
                     || chr(13) || chr(10) || chr(13) || chr(10)
                     || html)) AS BIGINT) AS content_length,
                   200 AS http_status,
                   'text/html; charset=utf-8' AS content_type,
                   {_html_norm_sql(_HTML_EXPECTED_RAW)} AS text
            FROM page
        """,
        # DuckDB's NATIVE nfc_normalize vs Python's unicodedata — two
        # independent Unicode implementations agreeing on the full
        # normalized text; decoration via chr() codepoint literals
        # (769 = combining acute, 778 = combining ring, 4352/4449 =
        # Hangul jamo, 233 = precomposed e-acute, 1 = C0 control)
        # chunk window contract: step = 40 - 8 = 32; starts while they
        # introduce a token past the previous overlap (integer ceil);
        # DuckDB list slices are 1-based inclusive and clamp at n
        "corpus_chunks": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(text),
                                        '[ \t\n\x0B\f\r]+') AS t
              FROM documents
              WHERE trim(text) <> ''
            ),
            dims AS (SELECT doc_id, t, len(t) AS n FROM toks),
            starts AS (
              SELECT doc_id, t, n,
                     unnest(range(0, (greatest(n - 8, 1) + 31) // 32))
                       AS k
              FROM dims
            )
            SELECT doc_id,
                   CAST(k AS INTEGER) AS chunk_idx,
                   array_to_string(t[k*32+1 : k*32+40], ' ') AS chunk_text,
                   CAST(least(n - k*32, 40) AS BIGINT) AS n_tokens
            FROM starts
        """,
        "text_normalize": r"""
            WITH deco AS (
              SELECT doc_id,
                     text || CASE doc_id % 5
                       WHEN 0 THEN 'e' || chr(769)
                       WHEN 1 THEN 'A' || chr(778)
                       WHEN 2 THEN chr(4352) || chr(4449)
                       WHEN 3 THEN chr(233) || chr(1)
                       ELSE '' END AS t
              FROM documents
            ),
            norm AS (
              SELECT doc_id, t,
                     nfc_normalize(regexp_replace(t,
                       '[\x00-\x08\x0E-\x1F\x7F\x{0080}-\x{009F}]',
                       '', 'g')) AS tn
              FROM deco
            )
            SELECT doc_id, tn AS text,
                   CAST(length(t) AS BIGINT) AS n_chars_before,
                   CAST(length(tn) AS BIGINT) AS n_chars_after,
                   (tn <> t) AS changed
            FROM norm
        """,
        "streaming_near_dup": _streaming_near_dup_sql(),
        "token_stats": """
            SELECT doc_id,
                   CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))
                        END AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+')) AS INT) AS n_bpe_pieces
            FROM documents
        """,
        "dedup_groups": _dedup_groups_sql(),
        "simhash_pairs": _simhash_pairs_sql(),
        "knn_lsh": _knn_lsh_sql(),
        "knn_ivf": _knn_ivf_sql(),
        # the four framed sentences enumerated closed-form (the
        # lookaround boundary is never replayed); the tail sentence
        # carries the corpus text with the SAME sanitize as the Spark
        # side ([.!?]+ws collapsed, trailing ws dropped) so no further
        # boundary can fire in it — not a replay of the lookaround,
        # just the shared framing
        "sentence_split": """
            WITH cand AS (
              SELECT doc_id, unnest([
                struct_pack(i := 0,
                            s := 'Alpha about ' || source || '.'),
                struct_pack(i := 1,
                            s := 'It has ' || n_chars || ' things!'),
                struct_pack(i := 2, s := 'Is ' || lang || ' fine?'),
                struct_pack(i := 3, s := 'Then ' || regexp_replace(
                  regexp_replace(text,
                                 '[.!?]+[ \t\n\x0B\f\r]+', ' ', 'g'),
                  '[ \t\n\x0B\f\r]+$', ''))
              ]) AS b
              FROM documents
            )
            SELECT doc_id,
                   CAST(b.i AS INT) AS sent_idx,
                   b.s AS sentence,
                   CAST(length(b.s) AS BIGINT) AS n_chars
            FROM cand
        """,
        # closed-form canonical construction + keep-first replay: the
        # canonicalization rules themselves are never re-run in SQL
        "url_dedup": """
            WITH framed AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 0
                       THEN 'https://www.' || source
                            || '.example.com/page/' || (doc_id % 100)
                     WHEN doc_id % 4 = 1
                       THEN 'HTTPS://'
                            || upper('www.' || source || '.example.com')
                            || ':443/page/' || (doc_id % 100) || '#top'
                     WHEN doc_id % 4 = 2
                       THEN 'https://www.' || source
                            || '.example.com/page/' || (doc_id % 100)
                            || '?utm_source=x'
                     ELSE 'https://www.' || source
                          || '.example.com/page/' || (doc_id % 100)
                          || '?utm_campaign=y&ref=' || lang
                END AS target_uri,
                'https://www.' || source || '.example.com/page/'
                  || (doc_id % 100)
                  || CASE WHEN doc_id % 4 = 3 THEN '?ref=' || lang
                          ELSE '' END AS canonical_url
              FROM documents
            ),
            keep AS (
              SELECT min(doc_id) AS doc_id FROM framed
              GROUP BY canonical_url
            )
            SELECT f.doc_id, f.target_uri, f.canonical_url
            FROM framed f JOIN keep USING (doc_id)
        """,
        # knn_graph: the ivf twin with the corpus on BOTH sides of the
        # cell join (every vector probes its 6 nearest seed cells) and
        # self-pairs excluded
        "knn_graph": """
            WITH seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding::DOUBLE[] AS ce
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            c AS (
              SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
            ),
            cells AS (
              SELECT vec_id, ee, cell FROM (
                SELECT c.vec_id, c.ee, s.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY list_distance(c.ee, s.ce), s.cell)
                         AS rn
                FROM c CROSS JOIN seeds s
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT vec_id, ee AS qe, cell FROM (
                SELECT c.vec_id, c.ee, s.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY list_distance(c.ee, s.ce), s.cell)
                         AS rn
                FROM c CROSS JOIN seeds s
              ) WHERE rn <= 6
            ),
            s AS (
              SELECT p.vec_id, cl.vec_id AS nbr_id,
                     list_dot_product(p.qe, cl.ee)
                     / (sqrt(list_dot_product(p.qe, p.qe))
                        * sqrt(list_dot_product(cl.ee, cl.ee))) AS cs
              FROM probes p JOIN cells cl ON p.cell = cl.cell
              WHERE p.vec_id <> cl.vec_id
            ),
            r AS (
              SELECT vec_id, nbr_id, round(cs, 6) + 0e0 AS cos_sim,
                     CAST(row_number() OVER (PARTITION BY vec_id
                          ORDER BY cs DESC, nbr_id ASC) AS INT) AS rnk
              FROM s
            )
            SELECT vec_id, nbr_id, cos_sim, rnk FROM r WHERE rnk <= 5
        """,
        "text_trigram_lm": """
            WITH tris AS (
              SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri
              FROM (
                SELECT doc_id, text,
                       unnest(range(1, length(text) - 1)) AS i
                FROM documents WHERE length(text) >= 3
              )
            ),
            c3 AS (SELECT tri, COUNT(*) AS c3 FROM tris GROUP BY tri),
            c2 AS (
              SELECT substr(tri, 1, 2) AS pre, SUM(c3) AS c2
              FROM c3 GROUP BY 1
            ),
            probs AS (
              SELECT tri, CAST(c3 AS DOUBLE) / c2 AS p
              FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pre
            )
            SELECT t.doc_id,
                   COUNT(*) AS n_trigrams,
                   round(AVG(ln(p.p)), 6) + 0e0 AS avg_logprob
            FROM tris t JOIN probs p ON t.tri = p.tri
            GROUP BY t.doc_id
        """,
        "perplexity_buckets": """
            WITH tris AS (
              SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri
              FROM (
                SELECT doc_id, text,
                       unnest(range(1, length(text) - 1)) AS i
                FROM documents WHERE length(text) >= 3
              )
            ),
            c3 AS (SELECT tri, COUNT(*) AS c3 FROM tris GROUP BY tri),
            c2 AS (
              SELECT substr(tri, 1, 2) AS pre, SUM(c3) AS c2
              FROM c3 GROUP BY 1
            ),
            probs AS (
              SELECT tri, CAST(c3 AS DOUBLE) / c2 AS p
              FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pre
            ),
            scores AS (
              SELECT t.doc_id,
                     COUNT(*) AS n_trigrams,
                     round(AVG(ln(p.p)), 6) + 0e0 AS avg_logprob
              FROM tris t JOIN probs p ON t.tri = p.tri
              GROUP BY t.doc_id
            ),
            j AS (
              SELECT d.doc_id, d.lang, s.n_trigrams, s.avg_logprob
              FROM documents d JOIN scores s USING (doc_id)
            ),
            hist AS (
              SELECT lang, avg_logprob, COUNT(*) AS cnt
              FROM j GROUP BY 1, 2
            ),
            cum AS (
              SELECT lang, avg_logprob,
                     SUM(cnt) OVER (
                       PARTITION BY lang ORDER BY avg_logprob DESC
                       ROWS UNBOUNDED PRECEDING) - cnt AS strt,
                     SUM(cnt) OVER (PARTITION BY lang) AS tot
              FROM hist
            ),
            cuts AS (
              SELECT lang, avg_logprob,
                     CAST((strt * 3) // tot AS INT) AS bucket
              FROM cum
            )
            SELECT j.doc_id, j.lang, j.n_trigrams, j.avg_logprob, c.bucket,
                   CASE WHEN c.bucket = 0 THEN 'head'
                        WHEN c.bucket = 2 THEN 'tail'
                        ELSE 'middle' END AS ppl_bucket
            FROM j JOIN cuts c
              ON j.lang = c.lang AND j.avg_logprob = c.avg_logprob
        """,
        "link_graph": """
            SELECT doc_id,
                   'https://s-' || source || '.example.com/p/' || doc_id
                     AS href,
                   'https://s-' || source || '.example.com/p/' || doc_id
                     AS link_url,
                   's-' || source || '.example.com' AS link_host
            FROM documents
            UNION ALL
            SELECT doc_id,
                   '//cdn-' || (doc_id % 10) || '.example.net/lib',
                   'https://cdn-' || (doc_id % 10) || '.example.net/lib',
                   'cdn-' || (doc_id % 10) || '.example.net'
            FROM documents
            UNION ALL
            SELECT doc_id,
                   '/about/' || (doc_id % 5),
                   'https://' || source || '.EXample.com/about/'
                     || (doc_id % 5),
                   source || '.example.com'
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'item-' || (doc_id % 3) || '.html',
                   'https://' || source || '.EXample.com/dir/sub/item-'
                     || (doc_id % 3) || '.html',
                   source || '.example.com'
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'https://x.example.org/page',
                   'https://x.example.org/page',
                   'x.example.org'
            FROM documents
            UNION ALL
            -- ../ pops /dir/sub/ back to /dir/ (RFC 3986 §5.2.4)
            SELECT doc_id,
                   '../up-' || (doc_id % 4) || '.html',
                   'https://' || source || '.EXample.com/dir/up-'
                     || (doc_id % 4) || '.html',
                   source || '.example.com'
            FROM documents
            UNION ALL
            -- ?query joins the base path WHOLE (RFC 3986 §5.3)
            SELECT doc_id,
                   '?page=' || (doc_id % 6),
                   'https://' || source || '.EXample.com/dir/sub/page-'
                     || doc_id || '.html?page=' || (doc_id % 6),
                   source || '.example.com'
            FROM documents
            UNION ALL
            -- interior newline+tab removed by URL preprocessing
            SELECT doc_id,
                   'https://ws.example.org/ab-' || (doc_id % 7),
                   'https://ws.example.org/ab-' || (doc_id % 7),
                   'ws.example.org'
            FROM documents
            UNION ALL
            -- page B: <base href> replaces the page URL as the base
            SELECT doc_id,
                   'n-' || (doc_id % 5) || '.html',
                   'https://based-' || (doc_id % 3)
                     || '.example.org/root/n-' || (doc_id % 5) || '.html',
                   'based-' || (doc_id % 3) || '.example.org'
            FROM documents
            UNION ALL
            SELECT doc_id,
                   '/r/' || (doc_id % 2),
                   'https://based-' || (doc_id % 3)
                     || '.example.org/r/' || (doc_id % 2),
                   'based-' || (doc_id % 3) || '.example.org'
            FROM documents
            UNION ALL
            SELECT doc_id,
                   '?q=' || (doc_id % 4),
                   'https://based-' || (doc_id % 3)
                     || '.example.org/root/leaf.html?q=' || (doc_id % 4),
                   'based-' || (doc_id % 3) || '.example.org'
            FROM documents
        """,
        "pagerank_hosts": _graph_mod.pagerank_sql(
            _PAGERANK_EDGES_CTE, iterations=5
        ),
        "host_degrees": """
            WITH """ + _PAGERANK_EDGES_CTE + """,
            outd AS (
              SELECT src AS node, COUNT(*) AS out_degree
              FROM edges GROUP BY src
            ),
            ind AS (
              SELECT dst AS node, COUNT(*) AS in_degree
              FROM edges GROUP BY dst
            ),
            recip AS (
              SELECT a.src AS node, COUNT(*) AS reciprocal_degree
              FROM edges a JOIN edges b
                ON a.src = b.dst AND a.dst = b.src
              GROUP BY a.src
            )
            SELECT COALESCE(outd.node, ind.node) AS node,
                   COALESCE(out_degree, 0) AS out_degree,
                   COALESCE(in_degree, 0) AS in_degree,
                   COALESCE(reciprocal_degree, 0) AS reciprocal_degree
            FROM outd
            FULL OUTER JOIN ind ON outd.node = ind.node
            LEFT JOIN recip ON COALESCE(outd.node, ind.node) = recip.node
        """,
        "robots_admission": """
            SELECT doc_id,
                   source || '.example.com' AS host,
                   CASE doc_id % 8
                     WHEN 0 THEN '/private/doc-' || doc_id
                     WHEN 1 THEN '/private/public/doc-' || doc_id
                     WHEN 2 THEN '/open/doc-' || doc_id
                     WHEN 3 THEN '/private/publicX'
                     WHEN 4 THEN '/cache/doc-' || doc_id || '.pdf'
                     WHEN 5 THEN '/cache/doc-' || doc_id || '.pdfx'
                     WHEN 6 THEN '/tmp/sub/doc-' || doc_id
                     ELSE '/dl/ok/doc-' || doc_id
                   END AS path,
                   CASE doc_id % 8
                     WHEN 0 THEN false  -- /private/ prefix
                     WHEN 1 THEN true   -- deeper Allow wins
                     WHEN 2 THEN true   -- untouched
                     WHEN 3 THEN false  -- near-miss: shorter Disallow
                     WHEN 4 THEN false  -- /*.pdf$ anchored hit
                     WHEN 5 THEN true   -- .pdfx: '$' anchor rejects
                     WHEN 6 THEN false  -- interior '*' spans 'sub'
                     ELSE true          -- Allow /dl/ok/ (7) beats
                   END AS allowed       -- Disallow /dl/* (6)
            FROM documents
        """,
        "robots_agent_groups": """
            SELECT doc_id,
                   source || '.example.com' AS host,
                   CASE WHEN doc_id % 2 = 0
                        THEN '/private/doc-' || doc_id
                        ELSE '/open/doc-' || doc_id
                   END AS path,
                   agent,
                   CASE agent
                     WHEN 'otherbot' THEN false  -- Disallow: /
                     WHEN 'quietbot' THEN true   -- crawl-delay-only
                                                 -- group suppresses *
                     ELSE true                   -- bare marker group
                   END AS allowed
            FROM documents
            CROSS JOIN (VALUES ('otherbot'), ('quietbot'), ('freebot'))
                 AS agents(agent)
        """,
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id, MIN(ts) AS t1
              FROM events WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
              SELECT e.user_id, MIN(e.ts) AS t2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
              GROUP BY e.user_id
            ),
            s3 AS (
              SELECT e.user_id, MIN(e.ts) AS t3
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY e.user_id
            )
            SELECT s1.user_id, s1.t1, s2.t2, s3.t3
            FROM s1
            LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
        """,
        "domain_caps": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM documents
            ) WHERE rn <= 7
        """,
        "quality_repetition": _quality_stats_sql()
        + """
            SELECT doc_id,
                   CAST(n_lines AS INT) AS n_lines,
                   CAST(n_words AS INT) AS n_words,
                   round(dup_line_frac, 6) + 0e0 AS dup_line_frac,
                   round(dup_line_char_frac, 6) + 0e0 AS dup_line_char_frac,
                   round(top_2gram_char_frac, 6) + 0e0 AS top_2gram_char_frac,
                   round(top_3gram_char_frac, 6) + 0e0 AS top_3gram_char_frac,
                   round(dup_5gram_char_frac, 6) + 0e0 AS dup_5gram_char_frac,
                   round(dup_6gram_char_frac, 6) + 0e0 AS dup_6gram_char_frac
            FROM qstats
        """,
        "quality_gopher_filter": _GOPHER_VERDICT_SQL,
        # identical relation: the streaming gate runs the SAME stateless
        # verdict projection through an availableNow readStream into a
        # memory sink — batch/stream equality IS the property under test
        "streaming_quality": _GOPHER_VERDICT_SQL,
        "c4_line_clean": rf"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                'Site nav menu' || chr(10) || text || ' extra tail here.'
                || CASE WHEN doc_id % 13 = 0
                        THEN chr(10) || 'uses javascript today.' ELSE '' END
                || CASE WHEN doc_id % 97 = 0
                        THEN chr(10) || 'lorem ipsum block here.' ELSE '' END
                || CASE WHEN doc_id % 89 = 0
                        THEN chr(10) || 'brace {{ line here.' ELSE '' END
                || chr(10) || 'Ok.' || chr(10)
                || 'This closing line stays right here.' AS text
              FROM documents
            ),
            audit AS (
              SELECT doc_id, text,
                len(list_filter(string_split(text, chr(10)),
                    l -> regexp_matches(l, '[^ \t\n\x0B\f\r]'))) AS n_lines,
                list_transform(
                  list_filter(string_split(text, chr(10)), l ->
                    trim(l) <> ''
                    AND regexp_matches(trim(l), '[.!?"'']$')
                    AND len(list_filter(
                          regexp_split_to_array(lower(trim(l)), '{_Q_WS}'),
                          w -> w <> '')) >= 3
                    AND NOT list_contains(list_filter(
                          regexp_split_to_array(lower(trim(l)), '{_Q_WS}'),
                          w -> w <> ''), 'javascript')
                  ), l -> trim(l)) AS kl
              FROM framed
            )
            SELECT doc_id,
                   CAST(n_lines AS INT) AS n_lines,
                   CAST(len(kl) AS INT) AS n_kept_lines,
                   (len(kl) >= 2
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, '{{')) AS page_kept,
                   array_to_string(kl, chr(10)) AS clean_text
            FROM audit
        """,
        "pii_redaction": rf"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                text || ' contact ' || source || '.' || lang || '@mail'
                  || (doc_id % 7)::VARCHAR || '.example.com ip 10.'
                  || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
                  || '.' || (doc_id % 250)::VARCHAR
                  || CASE WHEN doc_id % 3 = 0
                       THEN ' call ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                            || '-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END AS text
              FROM documents
            ),
            s1 AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
              FROM framed
            ),
            s2 AS (
              SELECT doc_id, n_emails,
                     len(regexp_extract_all(t1, '{_PII_IPV4}')) AS n_ips,
                     regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS text,
                   CAST(n_emails AS INT) AS n_emails,
                   CAST(n_ips AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INT)
                     AS n_phones
            FROM s2
        """,
        "dedup_spans": _dedup_spans_sql(),
        "dedup_spans_sampled": _dedup_spans_sql(sample_mod=4),
        "decontamination_spans": rf"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                text
                || CASE WHEN doc_id % 10 = 0 THEN '{_SPAN_SLOGAN}'
                   ELSE '' END
                || CASE WHEN doc_id % 7 = 3 THEN '{_SPAN_PROMO}'
                   ELSE '' END AS text
              FROM framed_src
            ),
            stoks AS MATERIALIZED (
              SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS t
              FROM framed
            ),
            btoks AS (
              SELECT string_split(regexp_replace(lower(trim(
                       '{_SPAN_SLOGAN}')), '[ \t\n\x0B\f\r]+', ' ', 'g'),
                     ' ') AS bt
            ),
            bgrams AS MATERIALIZED (
              SELECT DISTINCT
                     array_to_string(list_slice(bt, g.i + 1, g.i + 8), ' ')
                       AS g
              FROM btoks,
                   unnest(range(0, greatest(len(bt) - 7, 0))) g(i)
            ),
            occ AS MATERIALIZED (
              SELECT tk.doc_id, g.i AS pos,
                     array_to_string(list_slice(tk.t, g.i + 1, g.i + 8), ' ')
                       AS gram
              FROM stoks tk,
                   unnest(range(0, greatest(len(tk.t) - 7, 0))) g(i)
            ),
            removedq AS MATERIALIZED (
              SELECT doc_id, pos FROM occ
              WHERE gram IN (SELECT g FROM bgrams)
            ),
            spansq AS (
              SELECT doc_id, list_sort(list(pos)) AS P
              FROM removedq GROUP BY doc_id
            ),
            nspans AS (
              SELECT doc_id,
                     sum(CASE WHEN prev IS NULL OR pos >= prev + 8
                         THEN 1 ELSE 0 END) AS k
              FROM (
                SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS prev
                FROM removedq
              ) GROUP BY doc_id
            ),
            rebuilt AS (
              SELECT tk.doc_id, tk.t,
                     coalesce(s.P, []) AS P,
                     list_filter(tk.t, (x, i) ->
                       len(list_filter(coalesce(s.P, []),
                           p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS K
              FROM stoks tk LEFT JOIN spansq s USING (doc_id)
            )
            SELECT r.doc_id,
                   coalesce(array_to_string(r.K, ' '), '') AS text,
                   CAST(len(r.t) AS INT) AS n_tokens,
                   CAST(len(r.t) - len(r.K) AS INT) AS n_tokens_removed,
                   CAST(len(r.P) AS INT) AS n_contaminated_grams,
                   CAST(coalesce(ns.k, 0) AS INT) AS n_spans
            FROM rebuilt r LEFT JOIN nspans ns USING (doc_id)
        """.replace("framed_src", "documents"),
        "url_domains": rf"""
            WITH framed AS MATERIALIZED (
              SELECT doc_id,
                text || ' see https://' || source || '.example.com/'
                  || lang || '/' || (doc_id % 50)::VARCHAR
                  || CASE WHEN doc_id % 4 = 0
                       THEN ' and http://ads.' || lang || '.net/track?id='
                            || (doc_id % 9)::VARCHAR
                       ELSE '' END AS text
              FROM documents
            ),
            u AS (
              SELECT doc_id, unnest(regexp_extract_all(text,
                       'https?://[^ \t\n\x0B\f\r]+')) AS url
              FROM framed
            )
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                     'https?://([^/ \t\n\x0B\f\r]+)', 1)) AS domain
            FROM u
        """,
        "langid_pred": rf"""
            WITH lnorm AS MATERIALIZED (
              SELECT doc_id, lang,
                     regexp_replace(lower(trim(text)), '{_Q_WS}', ' ', 'g')
                       AS s
              FROM documents
            ),
            lgrams AS MATERIALIZED (
              SELECT doc_id, lang, substr(s, CAST(i AS INT), 3) AS gram
              FROM (
                SELECT doc_id, lang, s, unnest(range(1, length(s) - 1)) AS i
                FROM lnorm WHERE length(s) >= 3
              )
            ),
            lp AS MATERIALIZED (
              SELECT lang, gram, rank FROM (
                SELECT lang, gram,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY count(*) DESC, gram ASC)
                         AS rank
                FROM lgrams GROUP BY lang, gram
              ) WHERE rank <= 300
            ),
            dp AS MATERIALIZED (
              SELECT doc_id, gram, r_doc FROM (
                SELECT doc_id, gram,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, gram ASC)
                         AS r_doc
                FROM lgrams GROUP BY doc_id, gram
              ) WHERE r_doc <= 300
            ),
            ds AS (SELECT doc_id, count(*) AS n_grams FROM dp GROUP BY doc_id),
            plangs AS (SELECT DISTINCT lang FROM lp),
            lmatched AS (
              SELECT dp.doc_id, lp.lang,
                     sum(abs(dp.r_doc - lp.rank)) AS m_dist,
                     count(*) AS m_n
              FROM dp JOIN lp USING (gram) GROUP BY 1, 2
            ),
            lgrid AS (
              SELECT ds.doc_id, l.lang, ds.n_grams,
                     coalesce(m.m_dist, 0)
                       + 300 * (ds.n_grams - coalesce(m.m_n, 0)) AS distance
              FROM ds CROSS JOIN plangs l
              LEFT JOIN lmatched m
                ON m.doc_id = ds.doc_id AND m.lang = l.lang
            )
            SELECT doc_id, lang AS pred_lang,
                   CAST(distance AS BIGINT) AS distance,
                   CAST(n_grams AS INT) AS n_grams
            FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY distance ASC, lang ASC)
                          AS rn
              FROM lgrid
            ) WHERE rn = 1
        """,
        "corpus_report": rf"""
            WITH th AS MATERIALIZED (
              SELECT source,
                     CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '{_Q_WS}'))
                          END AS INT) AS n_tokens
              FROM documents
            ),
            hist AS (
              SELECT source, n_tokens, count(*) AS c FROM th GROUP BY 1, 2
            ),
            cum AS (
              SELECT source, n_tokens, c,
                     sum(c) OVER (PARTITION BY source ORDER BY n_tokens
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
              FROM hist
            ),
            tot AS (
              SELECT source, sum(c)::BIGINT AS n_docs,
                     sum(n_tokens::BIGINT * c)::BIGINT AS total_tokens
              FROM hist GROUP BY source
            )
            SELECT h.source, t.n_docs, t.total_tokens,
                   round(t.total_tokens::DOUBLE / t.n_docs, 6) + 0e0
                     AS mean_tokens,
                   CAST(max(h.n_tokens) AS INT) AS max_tokens,
                   CAST(min(CASE WHEN h.cum >= ceil(5e-1 * t.n_docs)
                            THEN h.n_tokens END) AS INT) AS p50_tokens,
                   CAST(min(CASE WHEN h.cum >= ceil(9e-1 * t.n_docs)
                            THEN h.n_tokens END) AS INT) AS p90_tokens,
                   CAST(min(CASE WHEN h.cum >= ceil(99e-2 * t.n_docs)
                            THEN h.n_tokens END) AS INT) AS p99_tokens
            FROM cum h JOIN tot t USING (source)
            GROUP BY h.source, t.n_docs, t.total_tokens
        """,
        "tfidf_terms": rf"""
            WITH ttoks AS MATERIALIZED (
              SELECT source,
                     list_filter(regexp_split_to_array(lower(text), '{_Q_WS}'),
                                 x -> x <> '') AS t
              FROM documents
            ),
            tf AS (
              SELECT source, u.term, count(*) AS tf
              FROM ttoks, unnest(t) u(term) GROUP BY 1, 2
            ),
            dfq AS (SELECT term, count(*) AS df_groups FROM tf GROUP BY term),
            ng AS (SELECT count(DISTINCT source) AS n FROM documents),
            ranked AS (
              SELECT s.source, s.term, s.tf, d.df_groups,
                     s.tf * (ln((1 + n.n) / (1 + d.df_groups)) + 1) AS score,
                     row_number() OVER (
                       PARTITION BY s.source
                       ORDER BY s.tf * (ln((1 + n.n) / (1 + d.df_groups)) + 1)
                                  DESC,
                                s.term ASC) AS rank
              FROM tf s JOIN dfq d USING (term), ng n
            )
            SELECT source, CAST(rank AS INT) AS rank, term,
                   CAST(tf AS BIGINT) AS tf,
                   CAST(df_groups AS BIGINT) AS df_groups,
                   round(score, 6) + 0e0 AS score
            FROM ranked WHERE rank <= 8
        """,
        "knn_ivfpq": """
            WITH seeds16 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding::DOUBLE[] AS ce
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            seeds8 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                     embedding::DOUBLE[] AS se
              FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            ms AS (SELECT unnest(range(0, 8)) AS m),
            cb AS (
              SELECT j, m, se[m*8+1 : m*8+8] AS csub
              FROM seeds8 CROSS JOIN ms
            ),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
            cells AS (
              SELECT vec_id, cell FROM (
                SELECT c.vec_id, s.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY list_distance(c.ee, s.ce), s.cell) AS rn
                FROM c CROSS JOIN seeds16 s
              ) WHERE rn = 1
            ),
            codes AS (
              SELECT vec_id, m, j AS code FROM (
                SELECT c.vec_id, cb.m, cb.j,
                       row_number() OVER (PARTITION BY c.vec_id, cb.m
                            ORDER BY list_distance(
                              c.ee[cb.m*8+1 : cb.m*8+8], cb.csub), cb.j)
                         AS rn
                FROM c CROSS JOIN cb
              ) WHERE rn = 1
            ),
            q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
              FROM embeddings WHERE vec_id < 8
            ),
            probes AS (
              SELECT query_id, cell FROM (
                SELECT q.query_id, s.cell,
                       row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_distance(q.qe, s.ce), s.cell) AS rn
                FROM q CROSS JOIN seeds16 s
              ) WHERE rn <= 6
            ),
            qtab AS (
              SELECT q.query_id, cb.m, cb.j,
                     list_distance(q.qe[cb.m*8+1 : cb.m*8+8], cb.csub) ** 2
                       AS d2
              FROM q CROSS JOIN cb
            ),
            pairs AS (
              SELECT p.query_id, cl.vec_id
              FROM probes p JOIN cells cl ON p.cell = cl.cell
            ),
            adc AS (
              SELECT pr.query_id, pr.vec_id, SUM(t.d2) AS dist
              FROM pairs pr
              JOIN codes cd ON cd.vec_id = pr.vec_id
              JOIN qtab t
                ON t.query_id = pr.query_id
               AND t.m = cd.m AND t.j = cd.code
              GROUP BY pr.query_id, pr.vec_id
            ),
            r AS (
              SELECT query_id, vec_id, round(dist, 6) + 0e0 AS adc_dist,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY dist ASC, vec_id ASC) AS INT) AS rnk
              FROM adc
            )
            SELECT query_id, vec_id, adc_dist, rnk FROM r WHERE rnk <= 5
        """,
        "knn_pq": """
            WITH seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
                     embedding::DOUBLE[] AS se
              FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            ms AS (SELECT unnest(range(0, 8)) AS m),
            cb AS (
              SELECT j, m, se[m*8+1 : m*8+8] AS csub
              FROM seeds CROSS JOIN ms
            ),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
            codes AS (
              SELECT vec_id, m, j AS code FROM (
                SELECT c.vec_id, cb.m, cb.j,
                       row_number() OVER (PARTITION BY c.vec_id, cb.m
                            ORDER BY list_distance(
                              c.ee[cb.m*8+1 : cb.m*8+8], cb.csub), cb.j)
                         AS rn
                FROM c CROSS JOIN cb
              ) WHERE rn = 1
            ),
            q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
              FROM embeddings WHERE vec_id < 8
            ),
            qtab AS (
              SELECT q.query_id, cb.m, cb.j,
                     list_distance(q.qe[cb.m*8+1 : cb.m*8+8], cb.csub) ** 2
                       AS d2
              FROM q CROSS JOIN cb
            ),
            adc AS (
              SELECT t.query_id, cd.vec_id, SUM(t.d2) AS dist
              FROM codes cd JOIN qtab t ON t.m = cd.m AND t.j = cd.code
              GROUP BY t.query_id, cd.vec_id
            ),
            r AS (
              SELECT query_id, vec_id, round(dist, 6) + 0e0 AS adc_dist,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY dist ASC, vec_id ASC) AS INT) AS rnk
              FROM adc
            )
            SELECT query_id, vec_id, adc_dist, rnk FROM r WHERE rnk <= 5
        """,
        # the exact winnowing selection replayed: normalization, the
        # 5-gram slide (inclusive DuckDB list slices), md5 family,
        # window enumeration incl. the short-doc single window, and
        # the (h ASC, pos DESC) rightmost-tie pick
        "winnow_fingerprints": f"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                  '[ \t\n\x0B\f\r]+', ' ', 'g'),
                                  '') AS ch
              FROM documents
            ),
            gr AS (
              SELECT doc_id,
                     CASE WHEN len(ch) < 5 THEN []
                          ELSE list_transform(range(1, len(ch) - 3),
                               i -> array_to_string(ch[i:i+4], ''))
                     END AS gl
              FROM toks
            ),
            grams AS (
              SELECT doc_id, u.s.p AS pos,
                     {_MD5H.format(x="u.s.g")} AS h
              FROM (SELECT doc_id,
                           unnest(list_transform(range(0, len(gl)),
                                  i -> struct_pack(p := i,
                                                   g := gl[i+1]))) AS s
                    FROM gr) u(doc_id, s)
            ),
            nn AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
            starts AS (
              SELECT doc_id,
                     unnest(range(0, greatest(n - 4 + 1, 1))) AS s
              FROM nn
            ),
            wins AS (
              SELECT st.doc_id, st.s, g.pos, g.h,
                     row_number() OVER (PARTITION BY st.doc_id, st.s
                                        ORDER BY g.h ASC, g.pos DESC)
                       AS rn
              FROM starts st JOIN grams g
                ON g.doc_id = st.doc_id
               AND g.pos >= st.s AND g.pos < st.s + 4
            )
            SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, h AS fp
            FROM wins WHERE rn = 1
        """,
        "doc_fingerprints": f"""
            SELECT doc_id, {_MD5H.format(x=_NORM_TEXT)} AS fp FROM documents
        """,
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ') AS w
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                          ELSE list_transform(range(1, len(w) - 1),
                                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                     END AS shl
              FROM toks
            ),
            ex AS (
              SELECT DISTINCT doc_id, s
              FROM (SELECT doc_id, unnest(shl) AS s FROM sh)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS i
              FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(CAST(i AS DOUBLE) / (a.n + b.n - i), 6) + 0e0 AS jaccard
            FROM inter
            JOIN sizes a ON id_a = a.doc_id
            JOIN sizes b ON id_b = b.doc_id
            WHERE CAST(i AS DOUBLE) / (a.n + b.n - i) >= 0.5
        """,
        "rca_derived_scores": f"""
            WITH rcad AS ({RCA_EVENTS_DERIVED_SQL}),
            tot AS (
              SELECT SUM(predict_a) AS Fa, SUM(predict_b) AS Fb,
                     SUM(real_a) AS Aa, SUM(real_b) AS Ab
              FROM rcad
            ),
            raw AS (
              SELECT r.*, t.Fa, t.Fb, t.Aa, t.Ab,
                     ((real_a - predict_a) * t.Fb - (real_b - predict_b) * t.Fa)
                       / (t.Fb * (t.Fb + real_b - predict_b)) AS ep_raw
              FROM rcad r CROSS JOIN tot t
            ),
            eps AS (SELECT SUM(ep_raw) AS ep_sum FROM raw)
            SELECT event_type, hr, ub,
                   round(ep_raw / e.ep_sum, 6) + 0e0 AS ep,
                   round(
                     0.5 * (
                       CASE WHEN predict_a / Fa = 0 OR (predict_a / Fa + real_a / Aa) = 0 THEN 0.0
                            ELSE (predict_a / Fa) * ln(2 * (predict_a / Fa)
                                 / (predict_a / Fa + real_a / Aa)) END
                       + CASE WHEN real_a / Aa = 0 OR (predict_a / Fa + real_a / Aa) = 0 THEN 0.0
                              ELSE (real_a / Aa) * ln(2 * (real_a / Aa)
                                   / (predict_a / Fa + real_a / Aa)) END
                     )
                     + 0.5 * (
                       CASE WHEN predict_b / Fb = 0 OR (predict_b / Fb + real_b / Ab) = 0 THEN 0.0
                            ELSE (predict_b / Fb) * ln(2 * (predict_b / Fb)
                                 / (predict_b / Fb + real_b / Ab)) END
                       + CASE WHEN real_b / Ab = 0 OR (predict_b / Fb + real_b / Ab) = 0 THEN 0.0
                              ELSE (real_b / Ab) * ln(2 * (real_b / Ab)
                                   / (predict_b / Fb + real_b / Ab)) END
                     ), 6) + 0e0 AS surprise
            FROM raw CROSS JOIN eps e
        """,
        "robustspot_scores": f"""
            WITH {_RCA_CTE},
            ad AS (
              SELECT event_type, hr, ub, "real" AS k_real, predict AS k_predict
              FROM rca WHERE "real" > 0 OR predict > 0
            ),
            tot AS (SELECT SUM(k_real) AS sv, SUM(k_predict) AS sf, COUNT(*) AS n FROM ad)
            SELECT event_type, hr, ub,
                   round(1 - 1 / (abs((k_real - k_predict)
                         / (((sv - k_real) / (n - 1)) - ((sf - k_predict) / (n - 1)))) + 1),
                         6) AS influence_degree
            FROM ad CROSS JOIN tot
        """,
        "robustspot_ca": f"""
            WITH rcad AS ({RCA_EVENTS_DERIVED_SQL}),
            ad AS (
              SELECT event_type, hr, ub,
                     real_b - real_a AS value_real,
                     predict_b - predict_a AS value_predict,
                     real_b AS cnt_real, predict_b AS cnt_predict
              FROM rcad
              WHERE real_a > 0 OR predict_a > 0 OR real_b > 0 OR predict_b > 0
            ),
            tot AS (
              SELECT SUM(value_predict) AS fm, SUM(cnt_predict) AS fd FROM ad
            )
            SELECT event_type, hr, ub,
                   round(CASE WHEN fm = 0 OR (cnt_real + fd - cnt_predict) = 0
                         THEN 0.0
                         ELSE (fd / fm)
                              * ((value_real + (fm - value_predict))
                                 / (cnt_real + (fd - cnt_predict))) - 1.0
                         END, 6) + 0e0 AS ca
            FROM ad CROSS JOIN tot
        """,
        "adtributor_elements_derived": f"""
            WITH rcad AS ({RCA_EVENTS_DERIVED_SQL}),
            el AS (
              SELECT CAST(event_type AS VARCHAR) AS element, 'event_type' AS dimension,
                     SUM(real_a) AS real_a, SUM(real_b) AS real_b,
                     SUM(predict_a) AS predict_a, SUM(predict_b) AS predict_b
              FROM rcad GROUP BY 1
              UNION ALL
              SELECT CAST(hr AS VARCHAR), 'hr', SUM(real_a), SUM(real_b),
                     SUM(predict_a), SUM(predict_b) FROM rcad GROUP BY 1
              UNION ALL
              SELECT CAST(ub AS VARCHAR), 'ub', SUM(real_a), SUM(real_b),
                     SUM(predict_a), SUM(predict_b) FROM rcad GROUP BY 1
            ),
            tot AS (
              SELECT SUM(predict_a) AS Fa, SUM(predict_b) AS Fb,
                     SUM(real_a) AS Aa, SUM(real_b) AS Ab
              FROM el
            ),
            raw AS (
              SELECT el.*, t.Fa, t.Fb, t.Aa, t.Ab,
                     ((real_a - predict_a) * t.Fb - (real_b - predict_b) * t.Fa)
                       / (t.Fb * (t.Fb + real_b - predict_b)) AS ep_raw
              FROM el CROSS JOIN tot t
            ),
            eps AS (SELECT SUM(ep_raw) AS ep_sum FROM raw)
            SELECT dimension, element,
                   round(ep_raw / e.ep_sum, 6) + 0e0 AS ep,
                   round(
                     0.5 * (
                       CASE WHEN predict_a / (Fa / 3.0) = 0
                                 OR (predict_a / (Fa / 3.0) + real_a / (Aa / 3.0)) = 0 THEN 0.0
                            ELSE (predict_a / (Fa / 3.0)) * ln(2 * (predict_a / (Fa / 3.0))
                                 / (predict_a / (Fa / 3.0) + real_a / (Aa / 3.0))) END
                       + CASE WHEN real_a / (Aa / 3.0) = 0
                                   OR (predict_a / (Fa / 3.0) + real_a / (Aa / 3.0)) = 0 THEN 0.0
                              ELSE (real_a / (Aa / 3.0)) * ln(2 * (real_a / (Aa / 3.0))
                                   / (predict_a / (Fa / 3.0) + real_a / (Aa / 3.0))) END
                     )
                     + 0.5 * (
                       CASE WHEN predict_b / (Fb / 3.0) = 0
                                 OR (predict_b / (Fb / 3.0) + real_b / (Ab / 3.0)) = 0 THEN 0.0
                            ELSE (predict_b / (Fb / 3.0)) * ln(2 * (predict_b / (Fb / 3.0))
                                 / (predict_b / (Fb / 3.0) + real_b / (Ab / 3.0))) END
                       + CASE WHEN real_b / (Ab / 3.0) = 0
                                   OR (predict_b / (Fb / 3.0) + real_b / (Ab / 3.0)) = 0 THEN 0.0
                              ELSE (real_b / (Ab / 3.0)) * ln(2 * (real_b / (Ab / 3.0))
                                   / (predict_b / (Fb / 3.0) + real_b / (Ab / 3.0))) END
                     ), 6) + 0e0 AS surprise
            FROM raw CROSS JOIN eps e
        """,
        "q4_priority_semi": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
              )
            GROUP BY o_orderpriority
        """,
        "q_customers_without_orders": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            GROUP BY c_mktsegment
        """,
        "events_rollup": """
            SELECT event_type,
                   CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                   COUNT(*) AS n_events,
                   round(SUM(value), 4) + 0e0 AS sum_value
            FROM events
            GROUP BY ROLLUP(event_type, hr)
        """,
        "streaming_dedup": """
            SELECT event_id, event_type, round(value, 6) + 0e0 AS value
            FROM events
        """,
        "streaming_kpi": """
            WITH bl AS (
              SELECT event_type, SUM(value) / COUNT(*) AS mean_value
              FROM events GROUP BY 1
            ),
            w AS (
              SELECT event_type, date_trunc('hour', ts) AS window_start,
                     SUM(value) AS v, COUNT(*) AS n_events
              FROM events GROUP BY 1, 2
            )
            SELECT w.event_type, CAST(window_start AS TIMESTAMP) AS window_start,
                   n_events,
                   round(v, 4) + 0e0 AS "real",
                   round(n_events * COALESCE(mean_value, 0.0), 6) + 0e0 AS predict,
                   round(CASE WHEN n_events * COALESCE(mean_value, 0.0) + v = 0
                         THEN 0.0
                         ELSE 2 * (n_events * COALESCE(mean_value, 0.0) - v)
                              / (n_events * COALESCE(mean_value, 0.0) + v) END,
                         6) AS deviation
            FROM w LEFT JOIN bl ON w.event_type = bl.event_type
        """,
        "streaming_kpi_append": """
            WITH mt AS (SELECT MAX(ts) AS mx FROM events),
            ontime AS (
              SELECT e.* FROM events e, mt
              WHERE NOT (e.event_id % 97 = 0
                         AND e.ts < mt.mx - INTERVAL 5 HOUR)
            ),
            bl AS (
              SELECT event_type, SUM(value) / COUNT(*) AS mean_value
              FROM events GROUP BY 1
            ),
            w AS (
              SELECT event_type, date_trunc('hour', ts) AS ws,
                     SUM(value) AS v, COUNT(*) AS n_events
              FROM ontime GROUP BY 1, 2
            ),
            closed AS (
              SELECT w.* FROM w, mt
              WHERE ws + INTERVAL 1 HOUR <= mt.mx - INTERVAL 2 HOUR
            )
            SELECT c.event_type, CAST(ws AS TIMESTAMP) AS window_start,
                   n_events,
                   round(v, 4) + 0e0 AS "real",
                   round(n_events * COALESCE(mean_value, 0.0), 6) + 0e0 AS predict,
                   round(CASE WHEN n_events * COALESCE(mean_value, 0.0) + v = 0
                         THEN 0.0
                         ELSE 2 * (n_events * COALESCE(mean_value, 0.0) - v)
                              / (n_events * COALESCE(mean_value, 0.0) + v) END,
                         6) AS deviation
            FROM closed c LEFT JOIN bl ON c.event_type = bl.event_type
        """,
        "hotspot_search": _hotspot_search_sql(),
        "hotspot_search_ps": _hotspot_search_sql(scoring="ps"),
        "streaming_ewma": """
            WITH RECURSIVE win AS (
              SELECT event_type, date_trunc('hour', ts) AS ws,
                     SUM(value) AS v,
                     CAST(ROW_NUMBER() OVER (
                        PARTITION BY event_type
                        ORDER BY date_trunc('hour', ts)) - 1 AS INT) AS idx,
                     CAST(COUNT(*) OVER (PARTITION BY event_type) AS INT)
                        AS n_win
              FROM events GROUP BY 1, 2
            ),
            -- predict_0 = v_0 (n=0 seeds the forecast with the first
            -- real); ewma_after_k = 0.3*v_k + 0.7*ewma_after_{k-1}
            rec(event_type, idx, predict, ewma) AS (
              SELECT event_type, 0, v, v FROM win WHERE idx = 0
              UNION ALL
              SELECT r.event_type, r.idx + 1, r.ewma,
                     0.3 * w.v + 0.7 * r.ewma
              FROM rec r JOIN win w
                ON w.event_type = r.event_type AND w.idx = r.idx + 1
            ),
            joined AS (
              SELECT w.event_type, w.ws, w.v, r.predict, w.idx, w.n_win,
                     CASE WHEN r.predict + w.v = 0 THEN 0.0
                          ELSE 2.0 * (r.predict - w.v) / (r.predict + w.v)
                     END AS dev
              FROM win w JOIN rec r
                ON r.event_type = w.event_type AND r.idx = w.idx
            )
            SELECT event_type, CAST(ws AS TIMESTAMP) AS window_start,
                   round(v, 4) + 0e0 AS "real",
                   round(predict, 6) + 0e0 AS predict,
                   round(dev, 6) + 0e0 AS deviation,
                   ABS(dev) > 0.5 AS is_anomaly
            FROM joined
            WHERE idx < n_win - 1  -- emit-on-close: last window stays open
        """,
        "robustspot_supports": f"""
            -- rcaf mirrors adapt_frame(derived=False)'s row filter
            -- (operators/robustspot.py): rows with real<=0 AND
            -- predict<=0 are dropped before support computation
            WITH {_RCA_CTE},
            rcaf AS (SELECT * FROM rca WHERE "real" > 0 OR predict > 0)
            SELECT 'event_type=click' AS cause,
                   round(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) + 0e0 AS support FROM rcaf
            UNION ALL
            SELECT 'event_type=view',
                   round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) FROM rcaf
            UNION ALL
            SELECT 'hr=3',
                   round(CAST(SUM(CASE WHEN hr = 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) FROM rcaf
            UNION ALL
            SELECT 'ub=5',
                   round(CAST(SUM(CASE WHEN ub = 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) FROM rcaf
            UNION ALL
            SELECT 'event_type=click&hr=3',
                   round(CAST(SUM(CASE WHEN event_type = 'click' AND hr = 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) FROM rcaf
            UNION ALL
            SELECT '[event_type=view;ub=5]',
                   round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                              + SUM(CASE WHEN ub = 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) FROM rcaf
        """,
        "hotspot_element_stats": _hotspot_element_stats_sql(),
        "autoroot_nps": _autoroot_nps_sql(),
        "squeeze_cluster_stats": _squeeze_cluster_stats_sql(),
        "squeeze_derived_cluster_stats": _squeeze_derived_cluster_stats_sql(),
        "riskloc_layer_scores": _riskloc_layer_scores_sql(),
        "riskloc_first_cause": _riskloc_first_cause_sql(),
        "riskloc_two_pass": _riskloc_two_pass_sql(),
        "riskloc_two_pass_derived": _riskloc_two_pass_sql(derived=True),
        "riskloc_first_cause_derived": _riskloc_first_cause_sql(derived=True),
        "squeeze_clusters": _squeeze_clusters_sql(),
        "squeeze_clusters_kde": _squeeze_clusters_sql(variant="kde"),
        "squeeze_clusters_auto": _squeeze_clusters_sql(variant="auto"),
        "squeeze_auto_edges": f"""
            WITH {_squeeze_cluster_ctes(variant="auto")}
            SELECT CAST(i AS INT) AS i, round(e, 6) + 0e0 AS edge FROM edges
        """,
        "squeeze_search": _squeeze_search_sql(),
        "squeeze_search_filtered": _squeeze_search_sql(variant="filtered"),
        "squeeze_search_derived": _squeeze_search_sql(derived=True),
        "robustspot_round0": _robustspot_round0_sql(),
        "robustspot_round1": _robustspot_round1_sql(),
        "autoroot_search_fixed": _autoroot_search_sql(),
        "autoroot_kde_fixed": _autoroot_kde_sql(),
        "robustspot_round0_derived": _robustspot_round0_sql(derived=True),
        "dataset_significance": f"""
            WITH {_RCA_CTE},
            labeled AS (
              SELECT *,
                     CASE WHEN event_type = 'view' AND ub = 5
                            THEN 'event_type=view&ub=5'
                          WHEN event_type = 'click' AND hr = 3
                            THEN 'event_type=click&hr=3'
                          ELSE 'normal' END AS label
              FROM rca
            ),
            tot AS (
              SELECT CAST(SUM(CAST(predict AS DECIMAL(38,9))) AS DOUBLE) AS tp
              FROM labeled
            )
            SELECT label, COUNT(*) AS n_leaves,
                   CAST(round(SUM(CAST(predict AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS predict_amount,
                   CAST(round(SUM(CAST(ABS("real" - predict) AS DECIMAL(38,9))), 6) + 0e0 AS DOUBLE) AS predict_error,
                   round(CAST(SUM(CAST(ABS("real" - predict) AS DECIMAL(38,9))) AS DOUBLE)
                         / MAX(tot.tp), 6) + 0e0 AS error_share
            FROM labeled CROSS JOIN tot
            GROUP BY label
        """,
        "media_decode": f"""
            WITH {_PNG_DIMS_CTE},
            samples AS (
              SELECT media_id, cs, w, h, c, bit_depth, color_type,
                     unnest(range(0, w * h * c)) AS s
              FROM dims
            ),
            vals AS (
              SELECT *, {_png_value_sql("media_id", "cs", "s")} AS v
              FROM samples
            )
            SELECT media_id,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(c AS INTEGER) AS n_channels,
                   CAST(bit_depth AS INTEGER) AS bit_depth,
                   CAST(color_type AS INTEGER) AS color_type,
                   CAST(SUM(v) AS BIGINT) AS pix_sum,
                   CAST(SUM(v * ((s % 97) + 1)) AS BIGINT) AS pix_wsum,
                   CAST(MIN(v) AS BIGINT) AS pix_min,
                   CAST(MAX(v) AS BIGINT) AS pix_max
            FROM vals
            GROUP BY media_id, w, h, c, bit_depth, color_type
        """,
        "evaluation_f1": f"""
            WITH {_RCA_CTE},
            ranked AS (
              SELECT event_type, hr, ub,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY ABS("real" - predict) DESC, hr ASC, ub ASC)
                       AS rn_dev,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY "real" DESC, hr ASC, ub ASC) AS rn_real
              FROM rca
            ),
            bounds AS (
              SELECT MIN(event_type) AS et_min, MAX(event_type) AS et_max
              FROM rca
            ),
            labels AS (
              SELECT event_type AS case_id,
                     concat_ws(';',
                       MAX(CASE WHEN rn_dev = 1
                             THEN 'hr=' || hr || '&ub=' || ub END),
                       MAX(CASE WHEN rn_dev = 2
                             THEN 'ub=' || ub || '&hr=' || hr END)) AS label
              FROM ranked GROUP BY event_type
            ),
            preds0 AS (
              SELECT r.event_type AS case_id,
                     'hr=' || hr || '&ub=' || ub AS pred, rn_real
              FROM ranked r CROSS JOIN bounds b
              WHERE rn_real <= 3 AND r.event_type <> b.et_min
            ),
            preds AS (
              SELECT case_id, pred FROM preds0
              UNION ALL
              SELECT case_id, pred FROM preds0 CROSS JOIN bounds b
              WHERE case_id = b.et_max AND rn_real = 1
            ),
            canon AS (
              SELECT DISTINCT case_id,
                     array_to_string(list_sort(string_split(c, '&')), '&')
                       AS tl
              FROM (SELECT case_id, unnest(string_split(label, ';')) AS c
                    FROM labels)
            ),
            ntrue AS (
              SELECT case_id, COUNT(*) AS n_true FROM canon GROUP BY case_id
            ),
            npred AS (
              SELECT case_id, COUNT(*) AS n_pred FROM preds GROUP BY case_id
            ),
            hits AS (
              SELECT c.case_id, COUNT(*) AS tp FROM canon c
              WHERE EXISTS (SELECT 1 FROM preds p
                            WHERE p.case_id = c.case_id AND p.pred = c.tl)
              GROUP BY c.case_id
            ),
            per AS (
              SELECT t.case_id,
                     COALESCE(h.tp, 0) AS tp,
                     GREATEST(COALESCE(np.n_pred, 0) - COALESCE(h.tp, 0),
                              0) AS fp,
                     t.n_true - COALESCE(h.tp, 0) AS fn
              FROM ntrue t
              LEFT JOIN npred np USING (case_id)
              LEFT JOIN hits h USING (case_id)
            ),
            allrows AS (
              SELECT case_id, tp, fp, fn FROM per
              UNION ALL
              SELECT '__total__', SUM(tp), SUM(fp), SUM(fn) FROM per
            )
            SELECT case_id,
                   CAST(tp AS BIGINT) AS tp,
                   CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0e0
                              ELSE 2e0 * tp / (2 * tp + fp + fn) END,
                         6) + 0e0 AS f1
            FROM allrows
        """,
        "media_features": f"""
            WITH {_PNG_DIMS_CTE},
            g8 AS (SELECT media_id, w, h FROM dims WHERE cs = 0),
            vals AS (
              SELECT media_id, w, h,
                     CAST((media_id * 31 + s * 7) % 256 AS DOUBLE) AS v
              FROM (SELECT media_id, w, h,
                           unnest(range(0, w * h)) AS s FROM g8)
            ),
            stats AS (
              SELECT media_id, MAX(w) AS w, MAX(h) AS h,
                     COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sv,
                     CASE WHEN MAX(v) = 0 THEN 1e0 ELSE MAX(v) END AS maxv
              FROM vals GROUP BY media_id
            ),
            -- np.histogram uniform fast path, bit-exact: idx=trunc(g*12),
            -- clamp 12->11, then the linspace-edge corrections (edges[i]
            -- = i*(1/12) for i<=11; edges[12]=1.0 is never referenced
            -- because the increment check requires idx != 11).
            -- b1*(1e0/12) replicates np.linspace EXACTLY by construction,
            -- not just empirically: numpy 1.26's linspace takes the
            -- y *= step branch (step = fl(1/12) != 0; the (i*delta)/div
            -- branch only fires for step == 0 denormals), so edges[i] =
            -- i*fl(1/12) — verified bitwise for all 13 edges (round 9)
            binned AS (
              SELECT v.media_id,
                     CASE
                       WHEN g < b1 * (1e0 / 12) THEN b1 - 1
                       WHEN b1 <> 11 AND g >= (b1 + 1) * (1e0 / 12)
                         THEN b1 + 1
                       ELSE b1 END AS bi
              FROM (
                SELECT v.media_id, g,
                       CASE WHEN b0 = 12 THEN 11 ELSE b0 END AS b1
                FROM (
                  SELECT v.media_id, v.v / st.maxv AS g,
                         CAST(floor((v.v / st.maxv) * 12e0) AS BIGINT) AS b0
                  FROM vals v JOIN stats st ON v.media_id = st.media_id
                ) v
              ) v
            ),
            hist AS (
              SELECT media_id, bi, COUNT(*) AS cnt
              FROM binned GROUP BY media_id, bi
            ),
            feat AS (
              SELECT media_id, 0 AS i, (sv / n) / maxv AS f FROM stats
              UNION ALL
              SELECT media_id, z.i, 0e0 AS f
              FROM stats CROSS JOIN (VALUES (1), (2), (3)) z(i)
              UNION ALL
              SELECT st.media_id, 4 + b.bi AS i,
                     COALESCE(hi.cnt, 0) / CAST(st.n AS DOUBLE) AS f
              FROM stats st
              CROSS JOIN (SELECT unnest(range(0, 12)) AS bi) b
              LEFT JOIN hist hi
                ON hi.media_id = st.media_id AND hi.bi = b.bi
            )
            SELECT media_id, CAST(i AS INT) AS i,
                   round(CAST(CAST(f AS REAL) AS DOUBLE), 6) + 0e0 AS feat
            FROM feat
        """,
        # every bit of the 64-bit perceptual signature replayed: the
        # synth pixel formula, floor-mapped 9x8 nearest resize, integer
        # luma, gradient bits, bit-63 signed wrap
        "media_dhash": f"""
            WITH {_PNG_DIMS_CTE},
            dest AS (
              SELECT media_id, cs, w, h, c, unnest(range(0, 72)) AS t
              FROM dims
            ),
            chan AS (
              SELECT media_id, cs, w, h, c, t,
                     unnest(range(0, CASE WHEN c >= 3 THEN 3 ELSE 1 END))
                       AS k
              FROM dest
            ),
            mapped AS (
              -- s staged as a COLUMN: _png_value_sql interpolates its
              -- argument into multiplications, so an inline compound
              -- expression would re-associate (the '+ k * 7' trap)
              SELECT media_id, cs, c, t, k,
                     (((t // 9) * h) // 8 * w
                      + ((t % 9) * w) // 9) * c + k AS s
              FROM chan
            ),
            vals AS (
              SELECT media_id, c, t, k,
                     {_png_value_sql("media_id", "cs", "s")} AS v
              FROM mapped
            ),
            gray AS (
              SELECT media_id, t,
                     CASE WHEN MAX(c) >= 3
                          THEN SUM(CASE k WHEN 0 THEN 299 * v
                                   WHEN 1 THEN 587 * v
                                   ELSE 114 * v END) // 1000
                          ELSE MAX(v) END AS g
              FROM vals GROUP BY media_id, t
            ),
            bits AS (
              SELECT a.media_id,
                     (a.t // 9) * 8 + (a.t % 9) AS kbit,
                     CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
              FROM gray a
              JOIN gray b ON b.media_id = a.media_id AND b.t = a.t + 1
              WHERE a.t % 9 < 8
            )
            SELECT b.media_id,
                   CAST(d.w AS INTEGER) AS width,
                   CAST(d.h AS INTEGER) AS height,
                   CAST(SUM(CASE WHEN bit = 0 THEN CAST(0 AS BIGINT)
                            WHEN kbit = 63
                              THEN -9223372036854775807 - 1
                            ELSE CAST(1 AS BIGINT) << kbit END)
                     AS BIGINT) AS dhash
            FROM bits b JOIN dims d USING (media_id)
            GROUP BY b.media_id, d.w, d.h
        """,
        # incremental image ingest probe == brute-force hamming over
        # the replayed 64-bit signatures (the pigeonhole guarantee)
        "image_ingest_dedup": """
            WITH grid AS MATERIALIZED (
              SELECT doc_id AS media_id, unnest(range(0, 72)) AS t
              FROM documents
            ),
            sm AS (
              -- dest (gy=t//9, gx=t%9) -> 16x12 source sample
              SELECT media_id, t,
                     (((t // 9) * 12) // 8) * 16
                       + ((t % 9) * 16) // 9 AS s
              FROM grid
            ),
            m1 AS (
              SELECT media_id, t,
                     media_id * 2654435761 + s * 97 AS a
              FROM sm
            ),
            m2 AS (
              SELECT media_id, t,
                     (xor(a, a >> 15) % 2147483648) * 1103515245 AS c
              FROM m1
            ),
            gray AS (
              SELECT media_id, t, xor(c, c >> 13) % 256 AS g
              FROM m2
            ),
            bits AS (
              SELECT a.media_id,
                     (a.t // 9) * 8 + (a.t % 9) AS kbit,
                     CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
              FROM gray a
              JOIN gray b ON b.media_id = a.media_id AND b.t = a.t + 1
              WHERE a.t % 9 < 8
            ),
            dh AS MATERIALIZED (
              SELECT media_id,
                     CAST(SUM(CASE WHEN bit = 0 THEN CAST(0 AS BIGINT)
                              WHEN kbit = 63
                                THEN -9223372036854775807 - 1
                              ELSE CAST(1 AS BIGINT) << kbit END)
                       AS BIGINT) AS dhash
              FROM bits GROUP BY media_id
            )
            SELECT n.media_id + 10000000 AS new_id,
                   b.media_id AS base_id,
                   CAST(bit_count(xor(n.dhash, b.dhash)) AS INT)
                     AS hamming
            FROM dh n JOIN dh b
              ON n.media_id % 4 IN (0, 3) AND b.media_id % 4 <> 3
            WHERE bit_count(xor(n.dhash, b.dhash)) <= 4
        """,
        # full pipeline replay: AVI synthesis (high-entropy mixer) ->
        # JPEG constant-block round trip -> 9x8 floor resize (dest
        # sample == its own tile at the 72x64 geometry) -> gradient
        # bits -> signed bit-63 wrap -> brute-force same-frame pairs
        "video_near_dup": """
            WITH ids AS MATERIALIZED (
              SELECT doc_id AS media_id, doc_id AS seed FROM documents
              UNION ALL
              SELECT doc_id + 10000000, doc_id FROM documents
              WHERE doc_id % 3 = 0
            ),
            grid AS (
              SELECT media_id, seed,
                     unnest(range(0, 2 + seed % 3)) AS k
              FROM ids
            ),
            cells AS (
              SELECT media_id, seed, k, unnest(range(0, 72)) AS t
              FROM grid
            ),
            m1 AS (
              SELECT media_id, k, t,
                     seed * 2654435761 + t * 97
                       + (k + 1) * 1013904223 AS a
              FROM cells
            ),
            m2 AS (
              SELECT media_id, k, t,
                     (xor(a, a >> 15) % 2147483648) * 1103515245 AS c
              FROM m1
            ),
            vals AS (
              SELECT media_id, k, t, xor(c, c >> 13) % 256 AS v
              FROM m2
            ),
            gray AS (
              SELECT media_id, k, t,
                     LEAST(GREATEST(CAST(floor(
                       (CAST(floor((8 * v - 1024) / 13e0 + 5e-1)
                         AS BIGINT) * 13 + 1028) / 8e0
                     ) AS BIGINT), 0), 255) AS g
              FROM vals
            ),
            bits AS (
              SELECT a.media_id, a.k,
                     (a.t // 9) * 8 + (a.t % 9) AS kbit,
                     CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
              FROM gray a
              JOIN gray b ON b.media_id = a.media_id
                         AND b.k = a.k AND b.t = a.t + 1
              WHERE a.t % 9 < 8
            ),
            fh AS MATERIALIZED (
              SELECT media_id, k AS frame_idx,
                     CAST(SUM(CASE WHEN bit = 0 THEN CAST(0 AS BIGINT)
                              WHEN kbit = 63
                                THEN -9223372036854775807 - 1
                              ELSE CAST(1 AS BIGINT) << kbit END)
                       AS BIGINT) AS dhash
              FROM bits GROUP BY media_id, k
            ),
            fp AS (
              SELECT a.media_id AS id_a, b.media_id AS id_b,
                     a.frame_idx
              FROM fh a JOIN fh b
                ON a.frame_idx = b.frame_idx
               AND a.media_id < b.media_id
              WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
            )
            SELECT id_a, id_b, COUNT(*) AS matched_frames
            FROM fp GROUP BY id_a, id_b
            HAVING COUNT(*) >= 2
        """,
        "media_resize_nearest": f"""
            WITH {_PNG_DIMS_CTE},
            dest AS (
              SELECT media_id, cs, w, h, c, bit_depth, color_type,
                     unnest(range(0, 12 * c)) AS t
              FROM dims
            ),
            mapped AS (
              SELECT media_id, cs, c, bit_depth, color_type, t,
                     ((((t // (4 * c)) * h) // 3) * w
                      + ((((t % (4 * c)) // c) * w) // 4)) * c
                     + (t % c) AS s
              FROM dest
            ),
            vals AS (
              SELECT *, {_png_value_sql("media_id", "cs", "s")} AS v
              FROM mapped
            )
            SELECT media_id,
                   CAST(4 AS INTEGER) AS width,
                   CAST(3 AS INTEGER) AS height,
                   CAST(c AS INTEGER) AS n_channels,
                   CAST(bit_depth AS INTEGER) AS bit_depth,
                   CAST(color_type AS INTEGER) AS color_type,
                   CAST(SUM(v) AS BIGINT) AS pix_sum,
                   CAST(SUM(v * ((t % 97) + 1)) AS BIGINT) AS pix_wsum,
                   CAST(MIN(v) AS BIGINT) AS pix_min,
                   CAST(MAX(v) AS BIGINT) AS pix_max
            FROM vals
            GROUP BY media_id, c, bit_depth, color_type
        """,
        "media_meta": """
            SELECT doc_id AS media_id,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN CASE doc_id % 5
                       WHEN 0 THEN 4 + doc_id % 5 WHEN 1 THEN 3 + doc_id % 4
                       WHEN 2 THEN 4 + doc_id % 6 WHEN 3 THEN 3 + doc_id % 3
                       ELSE 2 + doc_id % 3 END
                     WHEN 1 THEN 3 + doc_id % 4
                     ELSE 3 + doc_id % 5 END AS INTEGER) AS width,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN CASE doc_id % 5
                       WHEN 0 THEN 3 + doc_id % 4 WHEN 1 THEN 2 + doc_id % 3
                       WHEN 2 THEN 3 + doc_id % 5 WHEN 3 THEN 2 + doc_id % 3
                       ELSE 2 + doc_id % 4 END
                     WHEN 1 THEN 2 + doc_id % 3
                     ELSE 2 + doc_id % 4 END AS INTEGER) AS height,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN CASE doc_id % 5
                       WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
                       WHEN 3 THEN 1 ELSE 4 END
                     ELSE 1 END AS INTEGER) AS n_channels,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN 0
                     WHEN 1 THEN ((1 + doc_id % 4) * 100)
                                 * (2 + doc_id % 3)
                     ELSE (10 * (1 + doc_id % 5)) * (1 + doc_id % 3)
                   END AS BIGINT) AS duration_ms,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN 1
                     WHEN 1 THEN 2 + doc_id % 3
                     ELSE 1 + doc_id % 3 END AS INTEGER) AS n_frames
            FROM documents
        """,
        "media_jpeg_decode": """
            WITH jdims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     2 + doc_id % 3 AS tw,
                     1 + doc_id % 2 AS th
              FROM documents
            ),
            px AS (
              SELECT media_id, tw, th,
                     unnest(range(0, tw * th * 64)) AS s
              FROM jdims
            ),
            tiles AS (
              -- pixel s (row-major over the 8*tw x 8*th image) sits in
              -- tile t = (y//8)*tw + x//8
              SELECT media_id, tw, th, s,
                     ((s // (8 * tw)) // 8) * tw + ((s % (8 * tw)) // 8) AS t
              FROM px
            ),
            vals AS (
              SELECT media_id, tw, th, s,
                     (media_id * 23 + t * 71) % 256 AS v
              FROM tiles
            ),
            dec AS (
              -- constant_block_round_trip(v, 13): dc = floor((8v-1024)/13
              -- + 0.5) (tie-free for odd q), sample = clip(floor((dc*13 +
              -- 1028)/8)) — exact double arithmetic at these magnitudes
              SELECT media_id, tw, th, s,
                     LEAST(GREATEST(CAST(floor(
                       (CAST(floor((8 * v - 1024) / 13e0 + 5e-1) AS BIGINT)
                        * 13 + 1028) / 8e0
                     ) AS BIGINT), 0), 255) AS f
              FROM vals
            )
            SELECT media_id,
                   CAST(8 * tw AS INTEGER) AS width,
                   CAST(8 * th AS INTEGER) AS height,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(SUM(f) AS BIGINT) AS pix_sum,
                   CAST(SUM(f * ((s % 97) + 1)) AS BIGINT) AS pix_wsum,
                   CAST(MIN(f) AS BIGINT) AS pix_min,
                   CAST(MAX(f) AS BIGINT) AS pix_max
            FROM dec
            GROUP BY media_id, tw, th
        """,
        "media_gif_decode": """
            WITH gdims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     1 + doc_id % 3 AS nf,
                     3 + doc_id % 5 AS w,
                     2 + doc_id % 4 AS h
              FROM documents
            ),
            kept AS (
              SELECT media_id, w, h, unnest(range(0, nf)) AS k
              FROM gdims
            ),
            samples AS (
              SELECT media_id, k, w, h, unnest(range(0, w * h)) AS p
              FROM kept
            ),
            vals AS (
              SELECT media_id, k, w, h, p,
                     (media_id + k * 11 + p * 3) % 8 AS idx
              FROM samples
            )
            SELECT media_id,
                   CAST(k AS INTEGER) AS frame_idx,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(SUM(idx) AS BIGINT) AS idx_sum,
                   CAST(SUM(idx * ((p % 97) + 1)) AS BIGINT) AS idx_wsum,
                   CAST(SUM((idx * 41 + media_id) % 256
                            + (idx * 67 + media_id) % 256
                            + (idx * 29 + media_id) % 256) AS BIGINT) AS rgb_sum
            FROM vals
            GROUP BY media_id, k, w, h
        """,
        "media_frames": """
            WITH adims AS MATERIALIZED (
              SELECT doc_id AS media_id,
                     2 + doc_id % 3 AS nf,
                     3 + doc_id % 4 AS w,
                     2 + doc_id % 3 AS h
              FROM documents
            ),
            kept AS (
              SELECT media_id, w, h, unnest(range(0, nf, 2)) AS k
              FROM adims
            ),
            samples AS (
              SELECT media_id, k, w, h, unnest(range(0, w * h)) AS p
              FROM kept
            ),
            vals AS (
              SELECT media_id, k, w, h, p,
                     (media_id * 19 + k * 257 + p * 7) % 256 AS v
              FROM samples
            )
            SELECT media_id,
                   CAST(k AS INTEGER) AS frame_idx,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(SUM(v) AS BIGINT) AS pix_sum,
                   CAST(SUM(v * ((p % 97) + 1)) AS BIGINT) AS pix_wsum
            FROM vals
            GROUP BY media_id, k, w, h
        """,
        "media_resize_bilinear": f"""
            WITH {_PNG_DIMS_CTE},
            dest AS (
              SELECT media_id, cs, w, h, c, unnest(range(0, 12 * c)) AS t
              FROM dims
            ),
            geom AS (
              SELECT media_id, cs, w, h, c, t,
                     (t // (4 * c)) AS y,
                     ((t % (4 * c)) // c) AS x,
                     (t % c) AS ch
              FROM dest
            ),
            coords AS (
              SELECT *,
                     ((y + 5e-1) * (h / 3e0) - 5e-1) AS sy,
                     ((x + 5e-1) * (w / 4e0) - 5e-1) AS sx
              FROM geom
            ),
            corners AS (
              SELECT *,
                     LEAST(GREATEST(CAST(floor(sy) AS BIGINT), 0), h - 1) AS y0,
                     LEAST(GREATEST(CAST(floor(sx) AS BIGINT), 0), w - 1) AS x0
              FROM coords
            ),
            corners2 AS (
              SELECT *,
                     LEAST(y0 + 1, h - 1) AS y1,
                     LEAST(x0 + 1, w - 1) AS x1,
                     LEAST(GREATEST(sy - y0, 0e0), 1e0) AS wy,
                     LEAST(GREATEST(sx - x0, 0e0), 1e0) AS wx
              FROM corners
            ),
            vals AS (
              SELECT media_id, c, t, wy, wx,
                     {_png_value_sql("media_id", "cs", "((y0 * w + x0) * c + ch)")} AS v00,
                     {_png_value_sql("media_id", "cs", "((y0 * w + x1) * c + ch)")} AS v01,
                     {_png_value_sql("media_id", "cs", "((y1 * w + x0) * c + ch)")} AS v10,
                     {_png_value_sql("media_id", "cs", "((y1 * w + x1) * c + ch)")} AS v11
              FROM corners2
            ),
            px AS (
              SELECT media_id, c, t,
                     (v00 * (1e0 - wx) + v01 * wx) * (1e0 - wy)
                     + (v10 * (1e0 - wx) + v11 * wx) * wy AS val
              FROM vals
            )
            SELECT media_id,
                   CAST(12 * c AS INTEGER) AS n_samples,
                   AVG(val) AS b_mean,
                   SUM(val * ((t % 89) + 1)) / SUM((t % 89) + 1) AS b_wmean
            FROM px
            GROUP BY media_id, c
        """,
        # DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation
        # of the as-of semantics (union-marker window on the Spark side).
        "events_asof_purchase": """
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS asof_ts,
                   round(r.value, 6) + 0e0 AS asof_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type <> 'purchase') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # lag + running-sum replay of the strictly-greater 6h gap rule;
        # all boundary decisions are integer-microsecond comparisons.
        "events_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 21600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            numbered AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING)
                       AS session_idx
              FROM flagged
            )
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
                   COUNT(*) AS n_events,
                   round(SUM(value), 6) + 0e0 AS sum_value
            FROM numbered
            GROUP BY 1, 2
        """,
        # the SAME batch relation minus the index column — stream ==
        # batch is the property under the hash (session_window merge
        # rule vs the strictly-greater batch rule, touching boundary
        # included).
        "streaming_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 21600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            numbered AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING)
                       AS session_idx
              FROM flagged
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
                   COUNT(*) AS n_events,
                   round(SUM(value), 6) + 0e0 AS sum_value
            FROM numbered
            GROUP BY user_id, session_idx
        """,
        # audio gates: every field recomputed from the WAV synthesis
        # contract (operators/audio._synth_params / _synth_samples) in
        # pure integer SQL — the Spark side decodes the REAL bytes.
        "audio_meta": """
            SELECT doc_id AS media_id,
                   CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
                   CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
                   CAST(16 AS INTEGER) AS bits,
                   CAST(1600 + (doc_id % 7) * 800 AS BIGINT) AS n_samples,
                   CAST(((1600 + (doc_id % 7) * 800) * 1000000)
                        // (8000 * (1 + doc_id % 3)) AS BIGINT)
                     AS duration_us
            FROM documents
        """,
        "audio_features": f"""
            {_audio_vals_sql(1)}
            SELECT media_id,
                   CAST(c AS INTEGER) AS channel,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(SUM(s * s) AS BIGINT) AS energy,
                   CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
                   CAST(MAX(ABS(s)) AS INTEGER) AS peak,
                   CAST(SUM(CASE WHEN sprev IS NOT NULL
                                  AND ((s >= 0) <> (sprev >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS zero_crossings
            FROM vals
            GROUP BY media_id, c
        """,
        "audio_resample": f"""
            {_audio_vals_sql(3)}
            SELECT media_id,
                   CAST(c AS INTEGER) AS channel,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(SUM(s * s) AS BIGINT) AS energy,
                   CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
                   CAST(MAX(ABS(s)) AS INTEGER) AS peak,
                   CAST(SUM(CASE WHEN sprev IS NOT NULL
                                  AND ((s >= 0) <> (sprev >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS zero_crossings
            FROM vals
            GROUP BY media_id, c
        """,
        # every bit of every (media, channel) fingerprint replayed:
        # waveform contract, 512-frame energies, LEAD comparison,
        # signed bit-63 packing
        "audio_fingerprint": f"""
            {_audio_vals_sql(1)},
            frames AS (
              SELECT media_id, c, j // 512 AS f,
                     SUM(s * s) AS energy
              FROM vals GROUP BY media_id, c, (j // 512)
            ),
            seq AS (
              SELECT media_id, c, f, energy,
                     LEAD(energy) OVER (
                       PARTITION BY media_id, c ORDER BY f
                     ) AS nxt
              FROM frames
            ),
            bits AS (
              SELECT media_id, c, f AS kbit,
                     CASE WHEN nxt > energy THEN 1 ELSE 0 END AS bit
              FROM seq WHERE nxt IS NOT NULL AND f < 64
            )
            SELECT media_id,
                   CAST(c AS INTEGER) AS channel,
                   CAST(SUM(CASE WHEN bit = 0 THEN CAST(0 AS BIGINT)
                            WHEN kbit = 63
                              THEN -9223372036854775807 - 1
                            ELSE CAST(1 AS BIGINT) << kbit END)
                     AS BIGINT) AS fingerprint,
                   CAST(COUNT(*) AS INTEGER) AS n_bits
            FROM bits GROUP BY media_id, c
        """,
        "audio_frames": f"""
            {_audio_vals_sql(1)}
            SELECT media_id,
                   CAST(c AS INTEGER) AS channel,
                   CAST(j // 512 AS INTEGER) AS frame_idx,
                   CAST(COUNT(*) AS INTEGER) AS frame_n,
                   CAST(SUM(s * s) AS BIGINT) AS energy,
                   CAST(MAX(ABS(s)) AS INTEGER) AS peak
            FROM vals
            GROUP BY media_id, c, (j // 512)
        """,
        # riskloc_rca / autoroot_rca / hotspot_rca / squeeze_rca /
        # robustspot_rca: iterative driver-orchestrated searches;
        # minhash_pairs / simhash_pairs / knn_lsh: engine-hash-based —
        # rows-only check (SURVEY §2/§5).
    }
    # classifier_warm scores from the PERSISTED artifact; the model is
    # identical to a from-scratch fit (deterministic), so the oracle IS
    # the quality_classifier replay — the hash pins warm scoring to it
    out["classifier_warm"] = out["quality_classifier"]
    # knn_graph_gemm must reproduce the expression path's exact edges
    # and cosines — same oracle, hash-pinning the BLAS scan to it
    out["knn_graph_gemm"] = out["knn_graph"]
    # the tree block walk must reproduce the regex path's exact rows
    # on the same synthesized pages — same closed-form oracle
    out["html_block_stats_tree"] = out["html_block_stats"]
    # the four wire forms of the decode gate, enumerated closed-form
    out["warc_decoded"] = """
        SELECT doc_id,
               200 AS http_status,
               CASE doc_id % 4
                 WHEN 0 THEN 'text/plain; charset=utf-8'
                 WHEN 1 THEN 'text/plain; charset=ISO-8859-1'
                 WHEN 2 THEN 'text/plain'
                 ELSE 'text/html' END AS content_type,
               CASE doc_id % 4 WHEN 2 THEN 'gzip' ELSE NULL END
                 AS content_encoding,
               CASE doc_id % 4
                 WHEN 1 THEN 'iso-8859-1'
                 WHEN 3 THEN 'iso-8859-1'
                 ELSE 'utf-8' END AS charset,
               CASE WHEN doc_id % 4 = 3
                    THEN '<meta charset="iso-8859-1">' ELSE '' END
                 || 'café niño Motör ' || source || ' doc ' || doc_id
                 AS body
        FROM documents
    """
    return out
