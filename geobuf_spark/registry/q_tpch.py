"""Registry family: TPC-H reference suite.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (22):
tpch_q1, tpch_q10, tpch_q11, tpch_q12, tpch_q13, tpch_q14, tpch_q15,
tpch_q16, tpch_q17, tpch_q18, tpch_q19, tpch_q2, tpch_q20, tpch_q21,
tpch_q22, tpch_q3, tpch_q4, tpch_q5, tpch_q6, tpch_q7, tpch_q8,
tpch_q9
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, knn, ranking, similarity, sketch
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403


def q_tpch_q1(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )

def q_tpch_q3(spark, sf):
    # lineitem is the streamed side: the filtered orders x customer chain
    # builds a shuffle-hash table (small SFs under-estimate the pruned
    # lineitem scan and would otherwise broadcast the fact table)
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    chain = (
        o.filter(F.col("o_orderdate") < "1995-03-15").select("o_orderkey", "o_custkey")
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")),
              F.col("o_custkey") == F.col("c_custkey"))
    ).hint("shuffle_hash")
    return (
        li.filter(F.col("l_shipdate") > "1995-03-15")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(chain, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )

def q_tpch_q5(spark, sf):
    r = spark.read.parquet(f"{sf}/region.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    # stream lineitem once; region->nation and supplier are true dims and
    # broadcast explicitly; the filtered orders x customer chain is the
    # shuffle-hash build side (the static planner's pruned-scan estimate
    # at small SFs would otherwise broadcast the whole fact table)
    n_asia = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    chain = (
        o.filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .select("o_orderkey", "o_custkey")
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
    ).hint("shuffle_hash")
    return (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(chain, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(n_asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )

def q_tpch_q6(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))

def q_tpch_q4(spark, sf):
    # EXISTS / left-semi shape
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    # adapted q4 predicate (no commit/receipt dates in this schema):
    # orders having ≥1 deeply-discounted lineitem
    late = li.filter(F.col("l_discount") > 0.05).select("l_orderkey").distinct()
    return (
        o.filter((F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01"))
        .join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))
    )

def q_tpch_q10(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    # same shape as q5: lineitem streams, the filtered orders x customer
    # chain is the shuffle-hash build, nation broadcasts
    chain = (
        o.filter((F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01"))
        .select("o_orderkey", "o_custkey")
        .join(c.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
    ).hint("shuffle_hash")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(chain, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )

def q_tpch_q14(spark, sf):
    # conditional-aggregate ratio (promo effect)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey")) \
        .filter((F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
    return joined.agg(
        F.round(promo, 2).alias("promo_revenue"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
    )

def q_tpch_q12(spark, sf):
    # q12 shape on this testdata's columns: priority-class line counts per
    # linestatus for a ship-date year (the CASE-aggregation pattern)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    # fact-fact edge: shuffle-hash, never broadcast either table
    j = (
        li.filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
        .select("l_orderkey", "l_linestatus")
        .join(o.select("o_orderkey", "o_orderpriority").hint("shuffle_hash"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    hi = F.sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
    lo = F.sum(F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
    return j.groupBy("l_linestatus").agg(hi.alias("high_line_count"),
                                         lo.alias("low_line_count"))

def q_tpch_q19(spark, sf):
    # disjunctive multi-predicate join filter (q19 shape, simplified brands)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    c1 = (F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
    c2 = (F.col("p_size").between(16, 30) & F.col("l_quantity").between(10, 30))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(c1 | c2).agg(
        F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n_lines"))

def q_tpch_q2(spark, sf):
    # min-cost supplier per part (q2 shape; no partsupp table in the
    # testdata, so the part<->supplier link comes from lineitem). Dims
    # (supplier x nation x region, filtered part) broadcast; the only
    # shuffle is the distinct over (partkey, suppkey) pairs.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet").filter(F.col("p_size") == 15)
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    r = spark.read.parquet(f"{sf}/region.parquet")
    eu = (s.join(F.broadcast(n.join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
                                    F.col("n_regionkey") == F.col("r_regionkey"))),
                 F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_name", "s_acctbal"))
    offers = (li.join(F.broadcast(p.select("p_partkey", "p_name")),
                      F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
              .select("p_partkey", "p_name", "s_name", "s_acctbal")
              .distinct())
    from pyspark.sql import Window
    w = Window.partitionBy("p_partkey")
    return (offers.withColumn("_mn", F.min("s_acctbal").over(w))
            .filter(F.col("s_acctbal") == F.col("_mn"))
            .select("p_partkey", "p_name", "s_name",
                    F.round("s_acctbal", 2).alias("s_acctbal")))

def q_tpch_q7(spark, sf):
    # bilateral shipping volume (q7): lineitem pruned FIRST by the
    # two-nation supplier dim (2/25 of suppliers, broadcast), then the
    # orders x customer chain builds shuffle-hash against the shrunken
    # stream; never broadcast a fact table.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    pair = n.filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    sn = (s.join(F.broadcast(pair), F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cn = (c.join(F.broadcast(pair), F.col("c_nationkey") == F.col("n_nationkey"))
          .select("c_custkey", F.col("n_name").alias("cust_nation")))
    chain = (o.select("o_orderkey", "o_custkey")
             .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
             .select("o_orderkey", "cust_nation")).hint("shuffle_hash")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01") &
                      (F.col("l_shipdate") < "1998-01-01"))
            .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(chain, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))

def q_tpch_q8(spark, sf):
    # market-share (q8): one streamed pass over lineitem pruned by the
    # broadcast part dim (p_type = 1/6 of rows); nation volume and total
    # volume as conditional sums in the SAME aggregate — no second scan.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    r = spark.read.parquet(f"{sf}/region.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    cn = (c.join(F.broadcast(
            n.join(F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
                   F.col("n_regionkey") == F.col("r_regionkey"))),
          F.col("c_nationkey") == F.col("n_nationkey")).select("c_custkey"))
    chain = (o.filter((F.col("o_orderdate") >= "1996-01-01") &
                      (F.col("o_orderdate") < "1998-01-01"))
             .select("o_orderkey", "o_custkey", "o_orderdate")
             .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
             .select("o_orderkey", "o_orderdate")).hint("shuffle_hash")
    sn = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(chain, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(F.when(F.col("supp_nation") == "NATION_5", vol)
                               .otherwise(0.0)), 2).alias("nation_volume"),
                 F.round(F.sum(vol), 2).alias("total_volume")))

def q_tpch_q9(spark, sf):
    # product-profit (q9; p_retailprice*qty*0.1 stands in for the missing
    # ps_supplycost): part + supplier dims broadcast, lineitem streams
    # into one shuffle join with orders on the order key.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    sn = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", F.col("n_name").alias("nation")))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity") * 0.1)
    return (li.join(F.broadcast(p.filter(F.col("p_name").like("%red%"))
                                .select("p_partkey", "p_retailprice")),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o.select("o_orderkey", "o_orderdate").hint("shuffle_hash"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(profit), 2).alias("sum_profit")))

def q_tpch_q11(spark, sf):
    # inventory-value concentration (q11 shape over lineitem x part):
    # per-part value, kept iff > 2x the mean part value (the official
    # query's fraction scales 0.0001/SF — a scale-free multiple-of-mean
    # keeps the query non-vacuous at every SF). The threshold is a 1-row
    # aggregate broadcast back over the per-part values — the scalar
    # subquery stays declarative, no driver collect.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    nat = (s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_9")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey"))
    val = (li.join(F.broadcast(nat), F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                 F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("l_partkey")
           .agg(F.sum(F.col("p_retailprice") * F.col("l_quantity")).alias("v")))
    total = val.agg((F.avg("v") * 2.0).alias("_thr"))
    return (val.join(F.broadcast(total))
            .filter(F.col("v") > F.col("_thr"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.round("v", 2).alias("part_value")))

def q_tpch_q13(spark, sf):
    # customer order-count distribution (q13): left join survives the
    # priority filter inside the join condition (not a WHERE — customers
    # with zero qualifying orders must keep their c_count = 0 row).
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    per = (c.select("c_custkey")
           .join(o.filter(F.col("o_orderpriority") != "1-URGENT")
                  .select("o_custkey", "o_orderkey"),
                 F.col("c_custkey") == F.col("o_custkey"), "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return per.groupBy("c_count").agg(F.count("*").alias("custdist"))

def q_tpch_q15(spark, sf):
    # top supplier by quarterly revenue (q15): the revenue "view" is one
    # partial-aggregated pass over the pruned lineitem scan; the max is a
    # 1-row broadcast, equality keeps ties like the reference query.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    rev = (li.filter((F.col("l_shipdate") >= "1996-01-01") &
                     (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("_rev")))
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (rev.join(F.broadcast(mx)).filter(F.col("_rev") == F.col("_mx"))
            .join(F.broadcast(s.select("s_suppkey", "s_name")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.round("_rev", 2).alias("total_revenue")))

def q_tpch_q16(spark, sf):
    # supplier diversity per part class (q16 shape; supplier link via
    # lineitem, comment-exclusion adapted to s_acctbal >= 0): broadcast
    # part filter + broadcast semi join, then countDistinct — the only
    # shuffle is the final (brand, type, size) aggregate.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    pf = p.filter((F.col("p_brand") != "Brand#11") & (F.col("p_type") != "PROMO")
                  & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    good = s.filter(F.col("s_acctbal") >= 0).select("s_suppkey")
    return (li.join(F.broadcast(pf.select("p_partkey", "p_brand", "p_type", "p_size")),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(good), F.col("l_suppkey") == F.col("s_suppkey"),
                  "left_semi")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))

def q_tpch_q17(spark, sf):
    # small-quantity revenue (q17): the correlated per-part avg is a
    # window over the SAME pruned join output — every lineitem of a
    # qualifying part survives the part-key equi-join, so the window avg
    # equals the subquery's full-table avg with one shuffle, not two.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    from pyspark.sql import Window
    lip = li.join(F.broadcast(p.filter((F.col("p_brand") == "Brand#3")
                                       & (F.col("p_type") == "SMALL"))
                              .select("p_partkey")),
                  F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (lip.withColumn("_halfavg", 0.5 * F.avg("l_quantity").over(w))
            .filter(F.col("l_quantity") < F.col("_halfavg"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")))

def q_tpch_q18(spark, sf):
    # large-volume orders (q18): the HAVING subquery is the same per-order
    # aggregate the outer query needs — computed once, filtered, and the
    # small survivor set broadcast back against orders + customer.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    # filter on the RAW sum (matching the oracle's HAVING sum(..) > 300);
    # rounding only in the projection — filtering the rounded value would
    # diverge for totals in (300, 300.005)
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("raw_qty"))
           .filter(F.col("raw_qty") > 300)
           .select("l_orderkey", F.round("raw_qty", 2).alias("sum_qty")))
    return (o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(c.select("c_custkey", "c_name")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"), "sum_qty"))

def q_tpch_q20(spark, sf):
    # excess-stock suppliers (q20 shape; shipped volume stands in for the
    # missing partsupp availability): the graded IN-chain collapses to one
    # aggregate over the part-pruned lineitem scan + a broadcast semi join.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    heavy = (li.filter((F.col("l_shipdate") >= "1996-01-01") &
                       (F.col("l_shipdate") < "1997-01-01"))
             .join(F.broadcast(p.filter(F.col("p_name").like("small%"))
                               .select("p_partkey")),
                   F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("_q"))
             .filter(F.col("_q") > 50).select("l_suppkey"))
    return (s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_2")),
                   F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
            .select("s_suppkey", "s_name"))

def q_tpch_q21(spark, sf):
    # suppliers who kept orders waiting (q21; "late" = shipped > 90 days
    # after the order date, replacing the missing commit/receipt dates).
    # The double EXISTS collapses to per-order distinct-supplier sets via
    # window collect_set — one shuffle on the order key, no self-joins.
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    from pyspark.sql import Window
    j = (li.select("l_orderkey", "l_suppkey", "l_shipdate")
         .join(o.filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate").hint("shuffle_hash"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .withColumn("_late", F.col("l_shipdate")
                     > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")))
    w = Window.partitionBy("l_orderkey")
    j = (j.withColumn("_supps", F.size(F.collect_set("l_suppkey").over(w)))
         .withColumn("_late_supps",
                     F.size(F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(w))))
    sn = (s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_4")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_name"))
    return (j.filter(F.col("_late") & (F.col("_supps") >= 2) & (F.col("_late_supps") == 1))
            .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name").agg(F.count("*").alias("numwait")))

def q_tpch_q22(spark, sf):
    # dormant high-balance customers (q22; nation keys replace the missing
    # phone country codes, "no orders" adapted to "no orders since
    # 2000-06"): scalar avg broadcast, then a shuffle anti join against
    # the date-pruned orders scan — the fact side is never broadcast.
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    base = (c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
            .select("c_custkey", "c_nationkey", "c_acctbal"))
    ab = base.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_ab"))
    recent = o.filter(F.col("o_orderdate") >= "2000-06-01").select("o_custkey")
    return (base.join(F.broadcast(ab)).filter(F.col("c_acctbal") > F.col("_ab"))
            .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
            .agg(F.count("*").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "tpch_q3": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey""",
        "tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM region, nation, customer, orders, lineitem, supplier
            WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
              AND c_nationkey = n_nationkey AND o_custkey = c_custkey
              AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
              AND s_nationkey = c_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name""",
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24""",
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
            GROUP BY o_orderpriority""",
        "tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, n_name""",
        "tpch_q14": """
            SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END), 2) AS promo_revenue,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01'""",
        "tpch_q12": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
            GROUP BY l_linestatus""",
        "tpch_q19": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
               OR (p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 30)""",
        "tpch_q2": """
            WITH eu_supp AS (
                SELECT s_suppkey, s_name, s_acctbal
                FROM supplier, nation, region
                WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                  AND r_name = 'EUROPE'),
            offers AS (
                SELECT DISTINCT l_partkey AS partkey, s_name, s_acctbal
                FROM lineitem JOIN eu_supp ON l_suppkey = s_suppkey),
            m AS (SELECT partkey, min(s_acctbal) AS mn FROM offers GROUP BY partkey)
            SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS s_acctbal
            FROM offers JOIN m ON offers.partkey = m.partkey AND s_acctbal = mn
            JOIN part ON p_partkey = offers.partkey
            WHERE p_size = 15""",
        "tpch_q7": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM supplier, lineitem, orders, customer, nation sn, nation cn
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = sn.n_nationkey
              AND c_nationkey = cn.n_nationkey
              AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
                OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3""",
        "tpch_q8": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_5'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END), 2) AS nation_volume,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
            FROM part, supplier, lineitem, orders, customer,
                 nation cn, nation sn, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = cn.n_nationkey AND cn.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = sn.n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND p_type = 'ECONOMY'
            GROUP BY 1""",
        "tpch_q9": """
            SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity * 0.1), 2) AS sum_profit
            FROM part, supplier, lineitem, orders, nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%red%'
            GROUP BY 1, 2""",
        "tpch_q11": """
            WITH val AS (
                SELECT l_partkey AS partkey,
                       sum(p_retailprice * l_quantity) AS v
                FROM lineitem, part, supplier, nation
                WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                  AND s_nationkey = n_nationkey AND n_name = 'NATION_9'
                GROUP BY 1)
            SELECT partkey AS p_partkey, round(v, 2) AS part_value
            FROM val WHERE v > (SELECT 2.0 * avg(v) FROM val)""",
        "tpch_q13": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
                  FROM customer LEFT JOIN orders
                    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                  GROUP BY c_custkey)
            GROUP BY c_count""",
        "tpch_q15": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       sum(l_extendedprice * (1 - l_discount)) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY 1)
            SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
              AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
              AND l_suppkey IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal >= 0)
            GROUP BY 1, 2, 3""",
        "tpch_q17": """
            SELECT round(sum(l1.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
            WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
              AND l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)""",
        "tpch_q18": """
            WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
                         FROM lineitem GROUP BY 1
                         HAVING sum(l_quantity) > 300)
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice, sum_qty
            FROM big JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey""",
        "tpch_q20": """
            SELECT s_suppkey, s_name
            FROM supplier, nation
            WHERE s_nationkey = n_nationkey AND n_name = 'NATION_2'
              AND s_suppkey IN (
                  SELECT l_suppkey
                  FROM lineitem JOIN part ON p_partkey = l_partkey
                  WHERE p_name LIKE 'small%'
                    AND l_shipdate >= TIMESTAMP '1996-01-01'
                    AND l_shipdate < TIMESTAMP '1997-01-01'
                  GROUP BY l_suppkey HAVING sum(l_quantity) > 50)""",
        "tpch_q21": """
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM supplier, lineitem l1, orders, nation
            WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND o3.o_orderkey = l3.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
              AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
            GROUP BY s_name""",
        "tpch_q22": """
            WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                          FROM customer
                          WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
            avgbal AS (SELECT avg(c_acctbal) AS ab FROM base
                       WHERE c_acctbal > 0.0)
            SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
                   CAST(count(*) AS BIGINT) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM base, avgbal
            WHERE c_acctbal > ab
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-06-01')
            GROUP BY 1""",
    }
    return out
