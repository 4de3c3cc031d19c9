"""Relational OLAP over the TPC-H-shaped star schema.

The warehouse half of the engine: classic pricing / shipping / market
reports over ``lineitem ⋈ orders ⋈ customer ⋈ part ⋈ supplier`` with
``nation``/``region`` as broadcast dims.  Everything follows the
repo-wide fixed-point discipline — money is summed as integer cents
(``floor(x·100 + 0.5)`` per row BEFORE aggregation, the identical
double expression in the DuckDB twins), ratios are integer basis
points via truncating ``div`` — so every result hashes bit-identically
across engines.

Scale notes (100 TB):
- ``nation`` (25 rows) and ``region`` (5 rows) are broadcast
  explicitly — they are constant-size at every scale factor.
- ``customer``/``part``/``supplier`` grow with SF, so they are joined
  WITHOUT a forced broadcast; AQE converts them to broadcast joins at
  small SF and falls back to shuffle-hash when they outgrow the
  threshold.  Fact-fact joins (``orders ⋈ lineitem``) shuffle on
  ``orderkey`` — the natural co-partitioning key for both tables.
- Every report aggregates BEFORE it windows or sorts: group frames are
  bounded (priorities, brands, flag×status, power-of-two bands), so no
  window ever sees a corpus-scale partition.

Reference: the kafana stack ships Kafka topics into ES/Kibana
(/root/reference/README.md); a warehouse-grade relational surface is
what its users graduate to — expressed here Spark-first.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from kafana_spark.store import append_table, read_table


def _cents(col: str) -> F.Column:
    """Integer cents with the engine-portable rounding used repo-wide."""
    return F.expr(f"cast(floor({col} * 100 + 0.5) as bigint)")


#: Discounted line revenue in cents — the one TPC-H money expression.
#: Left-to-right double products match DuckDB's evaluation exactly.
_REVENUE = "cast(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) as bigint)"
_CHARGE = ("cast(floor(l_extendedprice * (1.0 - l_discount) * "
           "(1.0 + l_tax) * 100 + 0.5) as bigint)")


def pricing_summary(lineitem: DataFrame, cutoff: str) -> DataFrame:
    """TPC-H Q1 pricing summary: per (returnflag, linestatus) integer
    sums of quantity / base / discounted / charged plus truncating
    integer averages.  One scan, map-side combinable, 6 output rows.
    """
    rows = lineitem.where(F.col("l_shipdate") <=
                          F.expr(f"timestamp '{cutoff}'"))
    agg = (rows.groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(_cents("l_quantity")).alias("sum_qty_c"),
                F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
                F.sum(F.expr(_REVENUE)).alias("sum_disc_cents"),
                F.sum(F.expr(_CHARGE)).alias("sum_charge_cents"),
                F.sum(F.expr("cast(floor(l_discount * 10000 + 0.5) "
                             "as bigint)")).alias("sum_disc_bp"),
                F.count(F.lit(1)).alias("count_order")))
    return (agg.select(
        "l_returnflag", "l_linestatus", "sum_qty_c", "sum_base_cents",
        "sum_disc_cents", "sum_charge_cents",
        F.expr("sum_qty_c div count_order").alias("avg_qty_c"),
        F.expr("sum_base_cents div count_order").alias("avg_price_c"),
        F.expr("sum_disc_bp div count_order").alias("avg_disc_bp"),
        "count_order")
        .orderBy("l_returnflag", "l_linestatus"))


def top_revenue_orders(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, segment: str,
                       cut: str, k: int) -> DataFrame:
    """TPC-H Q3 shipping priority: unshipped revenue of a market
    segment's orders placed before ``cut``.  Dimension-to-fact join
    order (customer→orders→lineitem) keeps the fact shuffle keyed on
    orderkey; top-k is a TakeOrdered over the per-order aggregate.
    """
    cust = (customer.where(F.col("c_mktsegment") == segment)
            .select("c_custkey"))
    ords = (orders.where(F.col("o_orderdate") <
                         F.expr(f"timestamp '{cut}'"))
            .select("o_orderkey", "o_custkey", "o_orderdate")
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate"))
    lines = lineitem.where(F.col("l_shipdate") >
                           F.expr(f"timestamp '{cut}'"))
    return (lines.join(ords, lines["l_orderkey"] == ords["o_orderkey"])
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select(F.col("o_orderkey"),
                    F.col("o_orderdate").cast("date").alias("o_orderdate"),
                    "revenue_cents", "n_lines")
            .orderBy(F.desc("revenue_cents"), "o_orderkey").limit(k))


def regional_volume(customer: DataFrame, orders: DataFrame,
                    lineitem: DataFrame, supplier: DataFrame,
                    nation: DataFrame, region: DataFrame,
                    y0: str, y1: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume, un-filtered by region: one-year
    revenue where the supplying nation equals the customer nation,
    reported per (region, nation).  nation/region broadcast (constant
    25/5 rows at any SF); supplier joined on suppkey with the local-
    supplier constraint applied as an equi-predicate.
    """
    geo = (nation.join(F.broadcast(region),
                       F.col("n_regionkey") == F.col("r_regionkey"))
           .select("n_nationkey", "n_name", "r_name"))
    ords = (orders
            .where((F.col("o_orderdate") >= F.expr(f"timestamp '{y0}'")) &
                   (F.col("o_orderdate") < F.expr(f"timestamp '{y1}'")))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_nationkey"))
    su = supplier.select("s_suppkey", "s_nationkey")
    return (lineitem
            .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(su, (F.col("l_suppkey") == F.col("s_suppkey")) &
                  (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(geo),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("r_name", "n_name")
            .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("r_name", "n_name"))


def returned_customers(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, nation: DataFrame,
                       d0: str, d1: str, k: int) -> DataFrame:
    """TPC-H Q10 returned-item ranking: customers who returned the
    most revenue in one quarter.  Group AFTER the fact join, on the
    customer grain; top-k via TakeOrdered, never a global sort.
    """
    ords = (orders
            .where((F.col("o_orderdate") >= F.expr(f"timestamp '{d0}'")) &
                   (F.col("o_orderdate") < F.expr(f"timestamp '{d1}'")))
            .select("o_orderkey", "o_custkey"))
    rev = (lineitem.where(F.col("l_returnflag") == "R")
           .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("o_custkey")
           .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_lines")))
    cust = (customer.join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name",
                _cents("c_acctbal").alias("acctbal_cents")))
    return (rev.join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "n_name", "acctbal_cents",
                    "revenue_cents", "n_lines")
            .orderBy(F.desc("revenue_cents"), "c_custkey").limit(k))


def brand_share(lineitem: DataFrame, part: DataFrame,
                y0: str, y1: str) -> DataFrame:
    """Brand revenue share (the Q14 promo-share shape generalized):
    one-year revenue per brand with integer-bp share of the total.
    The share window runs over the 25-row brand aggregate, never the
    fact table.
    """
    rows = (lineitem
            .where((F.col("l_shipdate") >= F.expr(f"timestamp '{y0}'")) &
                   (F.col("l_shipdate") < F.expr(f"timestamp '{y1}'")))
            .join(part.select("p_partkey", "p_brand"),
                  F.col("l_partkey") == F.col("p_partkey")))
    agg = (rows.groupBy("p_brand")
           .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_lines")))
    from pyspark.sql.window import Window
    total = F.sum("revenue_cents").over(
        Window.partitionBy())  # 25-row frame: safe single partition
    return (agg.select(
        "p_brand", "revenue_cents", "n_lines",
        F.expr("cast(revenue_cents * 10000 as bigint)")
        .alias("_num"), total.alias("_tot"))
        .select("p_brand", "revenue_cents", "n_lines",
                F.expr("_num div _tot").alias("share_bp"))
        .orderBy(F.desc("revenue_cents"), "p_brand"))


def big_orders(customer: DataFrame, orders: DataFrame,
               lineitem: DataFrame, qty_c_min: int, k: int) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total quantity
    exceeds the threshold.  The HAVING runs on the per-order partial
    aggregate — the order/customer join only ever sees the few
    surviving orders.
    """
    big = (lineitem.groupBy("l_orderkey")
           .agg(F.sum(_cents("l_quantity")).alias("total_qty_c"),
                F.count(F.lit(1)).alias("n_lines"))
           .where(F.col("total_qty_c") > qty_c_min))
    return (big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey",
                    F.col("o_orderdate").cast("date").alias("o_orderdate"),
                    "c_custkey", "c_name", "total_qty_c", "n_lines")
            .orderBy(F.desc("total_qty_c"), "o_orderkey").limit(k))


def supplier_hhi(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supplier concentration per brand: Herfindahl index over each
    brand's supplier revenue shares, all-integer (shares in truncated
    bp, HHI = Σ share_bp²).  Two bounded aggregates — (brand,
    supplier) then brand — the 100 TB plan is two map-side-combinable
    passes with no window over anything unbounded.
    """
    bs = (lineitem
          .join(part.select("p_partkey", "p_brand"),
                F.col("l_partkey") == F.col("p_partkey"))
          .groupBy("p_brand", "l_suppkey")
          .agg(F.sum(F.expr(_REVENUE)).alias("rev")))
    brand = (bs.groupBy("p_brand")
             .agg(F.sum("rev").alias("revenue_cents"),
                  F.count(F.lit(1)).alias("n_suppliers")))
    shares = (bs.join(brand, "p_brand")
              .select("p_brand", "revenue_cents", "n_suppliers",
                      F.expr("(rev * 10000) div revenue_cents")
                      .alias("share_bp")))
    return (shares.groupBy("p_brand", "n_suppliers", "revenue_cents")
            .agg(F.sum(F.expr("share_bp * share_bp")).alias("hhi"))
            .select("p_brand", "n_suppliers", "revenue_cents", "hhi")
            .orderBy("p_brand"))


def priority_sla(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-priority first-shipment lag report: days from order date to
    the order's earliest ship date (min/avg/max, truncating integer
    avg — both engines truncate toward zero on negatives).  Orders
    with no lineitems (27 at sf0.001) are excluded by the inner join,
    matching the oracle.
    """
    first = (lineitem.groupBy("l_orderkey")
             .agg(F.min("l_shipdate").alias("first_ship")))
    lag = (orders.join(first,
                       F.col("o_orderkey") == F.col("l_orderkey"))
           .select("o_orderpriority",
                   F.expr("cast(datediff(cast(first_ship as date), "
                          "cast(o_orderdate as date)) as bigint)")
                   .alias("lag")))
    return (lag.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("lag").alias("min_lag_days"),
                 F.sum("lag").alias("_sum"),
                 F.max("lag").alias("max_lag_days"))
            .select("o_orderpriority", "n_orders", "min_lag_days",
                    F.expr("_sum div n_orders").alias("avg_lag_days"),
                    "max_lag_days")
            .orderBy("o_orderpriority"))


def revenue_bands(orders: DataFrame) -> DataFrame:
    """Customer revenue concentration by power-of-two band: customers
    are bucketed by ``floor(log2(lifetime cents))`` computed exactly
    as ``length(bin(v)) - 1`` (integer, no libm), then each band
    reports population, revenue, bp share, and cumulative-from-top
    share.  The scale-safe Pareto curve: per-customer aggregate →
    ≤64-row band frame; the cumulative window never touches the
    customer grain.
    """
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.sum(_cents("o_totalprice")).alias("rev")))
    bands = (per_cust
             .select(F.expr("length(bin(rev)) - 1").alias("band"), "rev")
             .groupBy("band")
             .agg(F.count(F.lit(1)).alias("n_customers"),
                  F.sum("rev").alias("band_cents")))
    from pyspark.sql.window import Window
    w_all = Window.partitionBy()          # ≤64 band rows
    w_cum = (Window.partitionBy().orderBy(F.desc("band"))
             .rowsBetween(Window.unboundedPreceding, 0))
    return (bands.select(
        "band", "n_customers", "band_cents",
        F.sum("band_cents").over(w_all).alias("_tot"),
        F.sum("band_cents").over(w_cum).alias("_cum"))
        .select("band", "n_customers", "band_cents",
                F.expr("(band_cents * 10000) div _tot").alias("share_bp"),
                F.expr("(_cum * 10000) div _tot").alias("cum_share_bp"))
        .orderBy(F.desc("band")))


def late_order_priorities(orders: DataFrame,
                          lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line shipped after the
    order date, counted per priority.  A LEFT SEMI join with the
    correlated date predicate — Spark's semi-join never materializes
    the match side, and the per-priority aggregate is 5 rows.
    """
    late = (orders.join(
        lineitem,
        (orders["o_orderkey"] == lineitem["l_orderkey"]) &
        (lineitem["l_shipdate"] > orders["o_orderdate"]),
        "left_semi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_late_orders"))
            .orderBy("o_orderpriority"))


def idle_rich_customers(customer: DataFrame, orders: DataFrame,
                        nation: DataFrame, since: str) -> DataFrame:
    """TPC-H Q22 shape: customers with an above-average positive
    account balance and NO orders since ``since`` (dormant accounts —
    the fixtures give every customer some order, so the recency cut is
    what makes the anti-join discriminating), per nation.  The average
    threshold is applied by exact integer cross-multiplication
    (bal_c · n_pos > sum_pos_c — no float division anywhere); the
    dormancy test is a LEFT ANTI join on custkey against the filtered
    order stream.
    """
    bal = customer.select("c_custkey", "c_nationkey",
                          _cents("c_acctbal").alias("bal_c"))
    pos = (bal.where(F.col("bal_c") > 0)
           .agg(F.sum("bal_c").alias("sum_pos"),
                F.count(F.lit(1)).alias("n_pos")))
    rich = (bal.crossJoin(F.broadcast(pos))
            .where(F.col("bal_c") * F.col("n_pos") > F.col("sum_pos")))
    recent = (orders
              .where(F.col("o_orderdate") >= F.expr(f"timestamp '{since}'"))
              .select(F.col("o_custkey").alias("c_custkey")))
    idle = rich.join(recent, "c_custkey", "left_anti")
    return (idle.join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("bal_c").alias("acctbal_cents"))
            .orderBy("n_name"))


def small_qty_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in lines ordering less than
    half the part's average quantity, per brand.  The correlated
    average is a per-part aggregate joined back to the lines, and the
    comparison cross-multiplies (2·qty_c·n < sum_qty_c) so the half-
    average cut is exact integer arithmetic in both engines.
    """
    per_part = (lineitem.groupBy(F.col("l_partkey").alias("pk"))
                .agg(F.sum(_cents("l_quantity")).alias("sum_qc"),
                     F.count(F.lit(1)).alias("n")))
    small = (lineitem
             .join(per_part, F.col("l_partkey") == F.col("pk"))
             .where(_cents("l_quantity") * 2 * F.col("n") <
                    F.col("sum_qc")))
    return (small.join(part.select("p_partkey", "p_brand"),
                       F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_small_lines"),
                 F.sum(F.expr(_REVENUE)).alias("revenue_cents"))
            .orderBy("p_brand"))


def market_share(customer: DataFrame, orders: DataFrame,
                 lineitem: DataFrame, supplier: DataFrame,
                 nation: DataFrame, region: DataFrame) -> DataFrame:
    """TPC-H Q8 shape: per (region, order year), the bp share of
    revenue supplied from within the customer's own nation.  One fact
    pass with a conditional sum — the local/total split is a CASE
    inside the aggregate, not a second scan.
    """
    geo = (nation.join(F.broadcast(region),
                       F.col("n_regionkey") == F.col("r_regionkey"))
           .select("n_nationkey", "r_name"))
    ords = (orders
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_nationkey",
                    F.year("o_orderdate").alias("o_year")))
    joined = (lineitem
              .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(supplier.select("s_suppkey", "s_nationkey"),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(geo),
                    F.col("c_nationkey") == F.col("n_nationkey")))
    agg = (joined.groupBy("r_name", "o_year")
           .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                F.sum(F.expr(
                    f"case when c_nationkey = s_nationkey "
                    f"then {_REVENUE} else cast(0 as bigint) end"))
                .alias("local_cents")))
    return (agg.select(
        "r_name", "o_year", "revenue_cents", "local_cents",
        F.expr("(local_cents * 10000) div revenue_cents")
        .alias("local_share_bp"))
        .orderBy("r_name", "o_year"))


def order_cadence(customer: DataFrame, orders: DataFrame,
                  nation: DataFrame) -> DataFrame:
    """Per-nation re-order cadence: gaps in days between a customer's
    consecutive orders (lag window PARTITIONED BY custkey — bounded
    per customer at any scale), aggregated to 25 nation rows with a
    truncating integer average.
    """
    from pyspark.sql.window import Window
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    gaps = (orders
            .withColumn("prev", F.lag("o_orderdate").over(w))
            .where(F.col("prev").isNotNull())
            .select("o_custkey",
                    F.expr("cast(datediff(cast(o_orderdate as date), "
                           "cast(prev as date)) as bigint)")
                    .alias("gap")))
    cust = customer.select("c_custkey", "c_nationkey")
    return (gaps.join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.min("gap").alias("min_gap_days"),
                 F.sum("gap").alias("_sum"),
                 F.max("gap").alias("max_gap_days"))
            .select("n_name", "n_gaps", "min_gap_days",
                    F.expr("_sum div n_gaps").alias("avg_gap_days"),
                    "max_gap_days")
            .orderBy("n_name"))


def daily_revenue_running(orders: DataFrame) -> DataFrame:
    """Daily order revenue with a running cumulative and a trailing
    7-day RANGE window over the epoch-day key (gap-correct: missing
    days shrink the trailing sum, unlike a ROWS frame).  Both windows
    run over the ~2.4k-row daily aggregate, never the fact table
    (the window tail is shared with the stored-index path via
    :func:`running_from_daily`).
    """
    return running_from_daily(_daily_revenue(orders))


def _daily_revenue(orders: DataFrame) -> DataFrame:
    """(ds, day, day_cents): the shared daily-revenue reduction."""
    return (orders
            .groupBy(F.expr("cast(cast(o_orderdate as date) as string)")
                     .alias("ds"),
                     F.expr("datediff(cast(o_orderdate as date), "
                            "date '1970-01-01')").alias("day"))
            .agg(F.sum(_cents("o_totalprice")).alias("day_cents")))


def join_estimate_calibration(customer: DataFrame, orders: DataFrame,
                              lineitem: DataFrame,
                              part: DataFrame) -> DataFrame:
    """Optimizer-calibration advisor: for the three canonical star
    joins, the textbook equi-join cardinality estimate |L|·|R| /
    max(ndv_L, ndv_R) next to the measured row count, with the error
    in bp.  This is the report a cost-based planner would consult
    before choosing join order at 100 TB; every input is an exact
    integer (counts and exact NDVs), the estimate is one truncating
    div, and each actual is a counted equi-join.
    """
    def stats(df, col):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col(col)).alias("ndv"))

    def one(name, left, lcol, right, rcol):
        ls, rs = stats(left, lcol), stats(right, rcol)
        actual = (left.select(F.col(lcol).alias("k"))
                  .join(right.select(F.col(rcol).alias("k")), "k")
                  .agg(F.count(F.lit(1)).alias("actual_rows")))
        return (ls.crossJoin(rs.select(F.col("n").alias("n_r"),
                                       F.col("ndv").alias("ndv_r")))
                .crossJoin(actual)
                .select(F.lit(name).alias("join_name"),
                        F.col("n").alias("n_left"),
                        F.col("n_r").alias("n_right"),
                        F.col("ndv").alias("ndv_left"),
                        F.col("ndv_r").alias("ndv_right"),
                        F.expr("(n * n_r) div "
                               "greatest(ndv, ndv_r)").alias("est_rows"),
                        "actual_rows"))

    reports = [
        one("orders_customer", orders, "o_custkey",
            customer, "c_custkey"),
        one("lineitem_orders", lineitem, "l_orderkey",
            orders, "o_orderkey"),
        one("lineitem_part", lineitem, "l_partkey", part, "p_partkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return (out.select(
        "join_name", "n_left", "n_right", "ndv_left", "ndv_right",
        "est_rows", "actual_rows",
        F.expr("(abs(est_rows - actual_rows) * 10000) div "
               "greatest(actual_rows, cast(1 as bigint))")
        .alias("err_bp"))
        .orderBy("join_name"))


def priority_order_profile(orders: DataFrame,
                           lineitem: DataFrame) -> DataFrame:
    """Per-priority order-size profile: exact integer quartiles of (a)
    lines per order and (b) order total in whole $100 units, via the
    per-group cumulative distinct-value rule (``stats.group_quantiles``
    — both projections are bounded-NDV by construction, so no window
    ever sees a near-unique column).
    """
    from kafana_spark.operators import stats

    lines = (lineitem.groupBy("l_orderkey")
             .agg(F.count(F.lit(1)).alias("n_lines")))
    per_order = (orders.join(
        lines, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderpriority", "n_lines",
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) "
                       "div 10000").alias("price_h")))
    ql = stats.group_quantiles(per_order, "o_orderpriority",
                               F.col("n_lines"))
    qp = (stats.group_quantiles(per_order, "o_orderpriority",
                                F.col("price_h"))
          .select(F.col("o_orderpriority"),
                  F.col("p25").alias("p25_price_h"),
                  F.col("p50").alias("p50_price_h"),
                  F.col("p75").alias("p75_price_h")))
    return (ql.select("o_orderpriority", F.col("n").alias("n_orders"),
                      F.col("p25").alias("p25_lines"),
                      F.col("p50").alias("p50_lines"),
                      F.col("p75").alias("p75_lines"))
            .join(qp, "o_orderpriority")
            .orderBy("o_orderpriority"))


def revenue_rollup(customer: DataFrame, orders: DataFrame,
                   nation: DataFrame, region: DataFrame) -> DataFrame:
    """Order revenue ROLLUP over (region, nation): the (r, n), (r),
    and grand-total grouping sets in ONE pass — Catalyst expands the
    rollup into a single shuffle whose partial aggregates are shared
    across levels.  Rolled-up levels surface as 'ALL' (the x23 cube
    convention).
    """
    geo = (nation.join(F.broadcast(region),
                       F.col("n_regionkey") == F.col("r_regionkey"))
           .select("n_nationkey", "n_name", "r_name"))
    base = (orders
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(geo),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("r_name", "n_name",
                    _cents("o_totalprice").alias("cents")))
    return (base.rollup("r_name", "n_name")
            .agg(F.sum("cents").alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
                    F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
                    "revenue_cents", "n_orders")
            .orderBy("r_name", "n_name"))


def top_customers_per_nation(customer: DataFrame, orders: DataFrame,
                             nation: DataFrame, k: int) -> DataFrame:
    """Top-k customers by lifetime order revenue within each nation:
    rank window PARTITIONED BY nation over the per-customer aggregate
    — the window input is customer-grain (already reduced), and the
    partition key spreads the sort across nations.  Deterministic
    ties: revenue desc, custkey asc.
    """
    from pyspark.sql.window import Window
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.sum(_cents("o_totalprice")).alias("revenue_cents"),
                     F.count(F.lit(1)).alias("n_orders")))
    w = (Window.partitionBy("n_name")
         .orderBy(F.desc("revenue_cents"), F.asc("c_custkey")))
    return (per_cust
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", F.col("c_custkey"), "c_name",
                    "revenue_cents", "n_orders")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .orderBy("n_name", "rnk"))


def brand_affinity(lineitem: DataFrame, part: DataFrame,
                   min_pairs: int, top_k: int) -> DataFrame:
    """Market-basket affinity between brands: for brand pairs that
    co-occur in at least ``min_pairs`` orders, the lift vs independence
    in integer µunits — lift_u = (n_ab · N · 10⁶) div (n_a · n_b).
    The pair join is WITHIN each order's distinct-brand set (≤ lines
    per order, bounded), never a global cross of brands; n_a/n_ab are
    combinable counts.
    """
    ob = (lineitem
          .join(part.select("p_partkey", "p_brand"),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "p_brand").distinct())
    n_orders = (ob.select("l_orderkey").distinct()
                .agg(F.count(F.lit(1)).alias("n_tot")))
    per_brand = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    pairs = (ob.alias("a").join(
        ob.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey")) &
        (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"),
                 F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs))
    return (pairs
            .join(per_brand.select(F.col("p_brand").alias("brand_a"),
                                   F.col("n_b").alias("n_a")), "brand_a")
            .join(per_brand.select(F.col("p_brand").alias("brand_b"),
                                   F.col("n_b").alias("n_bb")), "brand_b")
            .crossJoin(F.broadcast(n_orders))
            .select("brand_a", "brand_b", "n_ab",
                    F.expr("(n_ab * n_tot * 1000000) div (n_a * n_bb)")
                    .alias("lift_u"))
            .orderBy(F.desc("lift_u"), "brand_a", "brand_b")
            .limit(top_k))


# --------------------------------------- persisted order-rollup index
DAILY_REV_DIR = "daily_rev"


def build_order_rollup(orders: DataFrame, path: str, *,
                       batch: str = "initial") -> None:
    """Persist the per-batch daily revenue partials (ds, day,
    day_cents) as one append commit of batch ``batch`` (a redelivered
    id replaces its own partials; a stream appends each micro-batch
    through ``streaming.pipeline.batch_sink``). Cents sums are
    distributive, so per-batch partials merged with SUM are exact —
    the same mergeability contract as the event-rollup index
    (event_index.py), proven by serving x255's oracle from a
    two-batch build.
    """
    append_table(_daily_revenue(orders), f"{path}/{DAILY_REV_DIR}", batch)


def daily_revenue_from_store(spark, path: str) -> DataFrame:
    """(ds, day, day_cents) merged across batches — exact partial
    sums."""
    return (read_table(spark, f"{path}/{DAILY_REV_DIR}")
            .groupBy("ds", "day")
            .agg(F.sum("day_cents").alias("day_cents")))


def running_from_daily(daily: DataFrame) -> DataFrame:
    """The window tail of :func:`daily_revenue_running`, shared by the
    full-recompute path and the stored-index path so both hash-match
    the same oracle."""
    from pyspark.sql.window import Window
    w_cum = (Window.orderBy("day")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_7d = (Window.orderBy("day").rangeBetween(-6, 0))
    return (daily.select(
        "ds", "day_cents",
        F.sum("day_cents").over(w_cum).alias("cum_cents"),
        F.sum("day_cents").over(w_7d).alias("trailing_7d_cents"))
        .orderBy("ds"))


def order_of_record(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand argmax: the single highest-revenue line per brand as
    ONE combinable struct-max aggregate — max(struct(rev, -orderkey))
    gives revenue-desc / orderkey-asc determinism without any window,
    so the 100 TB plan is a plain two-level hash aggregate.
    """
    rows = (lineitem
            .join(part.select("p_partkey", "p_brand"),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select("p_brand", F.expr(_REVENUE).alias("rev"),
                    "l_orderkey"))
    top = (rows.groupBy("p_brand")
           .agg(F.max(F.struct(F.col("rev"),
                               (-F.col("l_orderkey")).alias("negk")))
                .alias("m"),
                F.count(F.lit(1)).alias("n_lines")))
    return (top.select("p_brand",
                       F.col("m.rev").alias("top_revenue_cents"),
                       (-F.col("m.negk")).alias("top_orderkey"),
                       "n_lines")
            .orderBy("p_brand"))


def brand_return_z(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand return-rate significance: two-proportion z (brand vs
    rest of corpus) in bp — every operand an exact integer count, one
    floor-on-double at the end (the x225/x190 discipline).  Flags the
    brands whose 'R' share deviates beyond sampling noise.
    """
    per = (lineitem
           .join(part.select("p_partkey", "p_brand"),
                 F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("p_brand")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum((F.col("l_returnflag") == "R").cast("long"))
                .alias("r")))
    tot = per.agg(F.sum("n").alias("nt"), F.sum("r").alias("rt"))
    z = ("floor(10000.0 * cast(r * (nt - n) - (rt - r) * n as double) "
         "/ cast(n as double) / cast(nt - n as double) / sqrt("
         "cast(rt as double) * cast(nt - rt as double) "
         "/ cast(nt as double) / cast(nt as double) "
         "* (1.0 / cast(n as double) + 1.0 / cast(nt - n as double))))")
    guard = "n > 0 and nt > n and rt > 0 and rt < nt"
    return (per.crossJoin(F.broadcast(tot))
            .select("p_brand", "n", "r",
                    F.expr("(r * 10000) div n").alias("rate_bp"),
                    F.expr(f"cast(case when {guard} then {z} "
                           "else 0 end as bigint)").alias("z_bp"))
            .orderBy("p_brand"))


def yoy_growth(customer: DataFrame, orders: DataFrame,
               nation: DataFrame, y0: int, y1: int) -> DataFrame:
    """Year-over-year order revenue per nation: both years in ONE
    conditional-aggregate pass, growth in truncated bp (guarded for a
    zero base year)."""
    base = (orders
            .where(F.year("o_orderdate").isin(y0, y1))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", F.year("o_orderdate").alias("yr"),
                    _cents("o_totalprice").alias("cents")))
    agg = (base.groupBy("n_name")
           .agg(F.sum(F.when(F.col("yr") == y0, F.col("cents"))
                      .otherwise(F.lit(0))).alias("rev_y0_cents"),
                F.sum(F.when(F.col("yr") == y1, F.col("cents"))
                      .otherwise(F.lit(0))).alias("rev_y1_cents")))
    return (agg.select(
        "n_name", "rev_y0_cents", "rev_y1_cents",
        F.expr("case when rev_y0_cents > 0 then "
               "((rev_y1_cents - rev_y0_cents) * 10000) "
               "div rev_y0_cents else 0 end").alias("growth_bp"))
        .orderBy("n_name"))


def priority_status_chi2(orders: DataFrame) -> DataFrame:
    """Chi-square independence cells for priority × order status:
    per-cell contribution (o−e)²/e in µunits, computed as the single
    double expression (o·N − rt·ct)²/(rt·ct·N)·10⁶ floored PER CELL
    (integer before any cross-cell sum, so cross-engine addition
    order cannot move the result).  The contingency frame is 15 rows;
    everything before it is one conditional-aggregate pass.
    """
    cells = (orders.groupBy("o_orderpriority", "o_orderstatus")
             .agg(F.count(F.lit(1)).alias("o")))
    from pyspark.sql.window import Window
    w_all = Window.partitionBy()            # ≤15 cell rows
    w_row = Window.partitionBy("o_orderpriority")
    w_col = Window.partitionBy("o_orderstatus")
    with_tot = (cells
                .withColumn("nt", F.sum("o").over(w_all))
                .withColumn("rt", F.sum("o").over(w_row))
                .withColumn("ct", F.sum("o").over(w_col)))
    contrib = ("cast(floor(1000000.0 * "
               "cast(o * nt - rt * ct as double) "
               "* cast(o * nt - rt * ct as double) "
               "/ (cast(rt as double) * cast(ct as double) "
               "* cast(nt as double) * cast(nt as double))) as bigint)")
    return (with_tot.select("o_orderpriority", "o_orderstatus",
                            F.col("o").alias("observed"),
                            F.expr(contrib).alias("contrib_u"))
            .orderBy("o_orderpriority", "o_orderstatus"))


def discount_curve(lineitem: DataFrame) -> DataFrame:
    """Discount effectiveness: per discount level (exact bp bucket —
    the fixtures quantize discounts to 1%), line count, quantity sums
    and truncating average quantity, and the revenue share in bp.
    One scan plus a window over the ≤11 bucket rows."""
    rows = lineitem.select(
        F.expr("cast(floor(l_discount * 10000 + 0.5) as bigint)")
        .alias("disc_bp"),
        _cents("l_quantity").alias("qc"),
        F.expr(_REVENUE).alias("rev"))
    agg = (rows.groupBy("disc_bp")
           .agg(F.count(F.lit(1)).alias("n_lines"),
                F.sum("qc").alias("sum_qty_c"),
                F.sum("rev").alias("revenue_cents")))
    from pyspark.sql.window import Window
    tot = F.sum("revenue_cents").over(Window.partitionBy())
    return (agg.withColumn("_tot", tot)
            .select("disc_bp", "n_lines", "sum_qty_c",
                    F.expr("sum_qty_c div n_lines").alias("avg_qty_c"),
                    "revenue_cents",
                    F.expr("(revenue_cents * 10000) div _tot")
                    .alias("rev_share_bp"))
            .orderBy("disc_bp"))


# ------------------------------------------------ bucketed warehouse
#: Bucket count for the co-located orders ⋈ lineitem warehouse. At
#: 100 TB this is the knob that sizes per-bucket files; both tables
#: MUST use the same count for the join to skip its exchanges.
N_BUCKETS = 8


def build_bucketed_warehouse(spark, orders: DataFrame,
                             lineitem: DataFrame, path: str,
                             prefix: str) -> tuple[str, str]:
    """Persist orders and lineitem BUCKETED BY their join key
    (Spark's table bucketing: ``bucketBy(N, orderkey)`` +
    ``sortBy`` + ``saveAsTable``) so every future orderkey equi-join
    between them reads co-located buckets and skips BOTH exchanges —
    at 100 TB that's the difference between a full-fact shuffle per
    query and none.  Tables are external (data under ``path``), names
    prefixed for session-catalog isolation; returns the two names.
    """
    names = (f"{prefix}_orders", f"{prefix}_lineitem")
    for df, key, name, sub in (
            (orders, "o_orderkey", names[0], "orders"),
            (lineitem, "l_orderkey", names[1], "lineitem")):
        if not spark.catalog.tableExists(name):
            (df.write.bucketBy(N_BUCKETS, key).sortBy(key)
             .option("path", f"{path}/{sub}")
             .mode("overwrite").saveAsTable(name))
    return names


def bucketed_join_revenue(spark, orders_table: str,
                          lineitem_table: str) -> DataFrame:
    """Per-status revenue over the BUCKETED orders ⋈ lineitem join —
    the co-located-join demonstrator: with both sides bucketed by
    orderkey at the same count, the physical plan carries no Exchange
    on either join leg (pinned by test with broadcast disabled)."""
    o = spark.table(orders_table).select("o_orderkey", "o_orderstatus")
    li = spark.table(lineitem_table)
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("o_orderstatus"))


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of per-branch conjunctions
    mixing part and line predicates.  Catalyst splits each branch's
    single-table conjuncts for pushdown while the cross-table OR
    evaluates post-join; the report returns one row per branch (a
    conditional aggregate, not three scans).
    """
    qty = "cast(floor(l_quantity * 100 + 0.5) as bigint)"
    b1 = f"(p_type = 'PROMO' and {qty} <= 2000)"
    b2 = f"(p_size >= 40 and {qty} >= 4000)"
    b3 = f"(p_brand = 'Brand#11' and {qty} between 1000 and 3000)"
    joined = (lineitem
              .join(part.select("p_partkey", "p_brand", "p_type",
                                "p_size"),
                    F.col("l_partkey") == F.col("p_partkey"))
              .where(F.expr(f"{b1} or {b2} or {b3}")))
    branch = (F.when(F.expr(b1), "promo_small")
              .when(F.expr(b2), "large_bulk")
              .otherwise("brand11_mid"))
    return (joined.groupBy(branch.alias("branch"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.expr(_REVENUE)).alias("revenue_cents"))
            .orderBy("branch"))


def status_pivot(orders: DataFrame) -> DataFrame:
    """Priority × status contingency in WIDE form via Spark's pivot
    (explicit value list → deterministic schema); the oracle twin is
    the equivalent conditional aggregation.  One combinable pass."""
    return (orders.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.count(F.lit(1)))
            .select("o_orderpriority",
                    F.coalesce("F", F.lit(0)).alias("n_f"),
                    F.coalesce("O", F.lit(0)).alias("n_o"),
                    F.coalesce("P", F.lit(0)).alias("n_p"))
            .orderBy("o_orderpriority"))


def tukey_outlier_orders(orders: DataFrame) -> DataFrame:
    """Per-priority outlier-order rate by the Tukey fence on
    $100-bucketed totals: an order is flagged when its bucket exceeds
    p75 + 3·(p75 − p25), with the quartiles from the per-group
    cumulative distinct-value rule — all integers, so the fence is
    engine-exact.  Two passes over the order grain (quartiles, then a
    broadcast fence join); output is 5 rows.
    """
    from kafana_spark.operators import stats

    po = orders.select("o_orderpriority",
                       F.expr("cast(floor(o_totalprice * 100 + 0.5) "
                              "as bigint) div 10000").alias("price_h"))
    q = (stats.group_quantiles(po, "o_orderpriority", F.col("price_h"))
         .select("o_orderpriority",
                 F.expr("p75 + 3 * (p75 - p25)").alias("fence")))
    return (po.join(F.broadcast(q), "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum((F.col("price_h") > F.col("fence"))
                       .cast("long")).alias("n_outliers"))
            .select("o_orderpriority", "n_orders", "n_outliers",
                    F.expr("(n_outliers * 10000) div n_orders")
                    .alias("outlier_rate_bp"))
            .orderBy("o_orderpriority"))


def revenue_forecast_backtest(orders: DataFrame) -> DataFrame:
    """Naive trailing-7-day moving-average forecast of daily revenue,
    backtested: prediction for day d is the truncating mean of the 7
    STRICTLY PRIOR calendar days, evaluable only when all 7 exist
    (full-window gating — one missing day disqualifies every day
    whose window spans it).  Output is the per-day error table plus
    WAPE in bp computed over the evaluable days; all windows run on
    the calendar-length day series.
    """
    from pyspark.sql.window import Window
    daily = _daily_revenue(orders)
    w7 = Window.orderBy("day").rangeBetween(-7, -1)
    scored = (daily
              .withColumn("sum7", F.sum("day_cents").over(w7))
              .withColumn("n7", F.count("day_cents").over(w7))
              .where(F.col("n7") == 7)
              .select("ds", "day_cents",
                      F.expr("sum7 div 7").alias("pred_cents"))
              .withColumn("abs_err_cents",
                          F.expr("abs(day_cents - pred_cents)")))
    tot = scored.agg(
        F.sum("abs_err_cents").alias("sum_err"),
        F.sum("day_cents").alias("sum_act"))
    return (scored.crossJoin(F.broadcast(tot))
            .select("ds", "day_cents", "pred_cents", "abs_err_cents",
                    F.expr("(sum_err * 10000) div sum_act")
                    .alias("wape_bp"))
            .orderBy("ds"))


def referential_integrity(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame, part: DataFrame,
                          supplier: DataFrame) -> DataFrame:
    """Foreign-key audit over the star schema: per declared FK edge,
    child row count and orphan count (LEFT ANTI against the parent
    key set).  The data-quality primitive a 100 TB ingest pipeline
    runs after every load; each edge is one anti-join on the join key
    it would later shuffle on anyway.
    """
    edges = [
        ("lineitem_orders", lineitem, "l_orderkey",
         orders, "o_orderkey"),
        ("lineitem_part", lineitem, "l_partkey", part, "p_partkey"),
        ("lineitem_supplier", lineitem, "l_suppkey",
         supplier, "s_suppkey"),
        ("orders_customer", orders, "o_custkey",
         customer, "c_custkey"),
    ]
    outs = []
    for name, child, ck, parent, pk in edges:
        keys = child.select(F.col(ck).alias("k"))
        orphans = (keys.join(parent.select(F.col(pk).alias("k")),
                             "k", "left_anti")
                   .agg(F.count(F.lit(1)).alias("n_orphans")))
        outs.append(
            keys.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(F.broadcast(orphans))
            .select(F.lit(name).alias("fk_edge"), "n_rows",
                    "n_orphans"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fk_edge")


def forecast_revenue_change(lineitem: DataFrame, y0: str, y1: str,
                            d_lo: float, d_hi: float,
                            qty_max: int) -> DataFrame:
    """TPC-H Q6: the revenue that would be recovered by dropping
    small-quantity discounts in a band — one pushed-down filter and
    one combinable sum of ep·disc cents.  The single-row report."""
    rows = lineitem.where(
        (F.col("l_shipdate") >= F.expr(f"timestamp '{y0}'")) &
        (F.col("l_shipdate") < F.expr(f"timestamp '{y1}'")) &
        (F.col("l_discount") >= d_lo) & (F.col("l_discount") <= d_hi) &
        (F.expr("cast(floor(l_quantity * 100 + 0.5) as bigint)")
         < qty_max))
    return rows.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.expr("cast(floor(l_extendedprice * l_discount * 100 "
                     "+ 0.5) as bigint)")).alias("forgone_cents"))


def order_count_distribution(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """TPC-H Q13 custdist: how many customers placed exactly N orders
    — per-customer count via LEFT join (zero-order customers land in
    the 0 bucket), then the count-of-counts histogram.  Two combinable
    aggregates; the histogram frame is ≤ max-orders-per-customer rows.
    """
    per = (customer.select("c_custkey")
           .join(orders.groupBy("o_custkey")
                 .agg(F.count(F.lit(1)).alias("n_orders")),
                 F.col("c_custkey") == F.col("o_custkey"), "left")
           .select("c_custkey",
                   F.coalesce("n_orders", F.lit(0)).alias("n_orders")))
    return (per.groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .orderBy(F.desc("n_orders")))


def top_supplier_quarter(lineitem: DataFrame, supplier: DataFrame,
                         d0: str, d1: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) achieving the maximum quarter
    revenue — scalar-max semantics (ties all surface), computed as a
    per-supplier aggregate joined to its broadcast global max; no
    window, no sort beyond the final ≤-tie-count rows."""
    per = (lineitem
           .where((F.col("l_shipdate") >= F.expr(f"timestamp '{d0}'")) &
                  (F.col("l_shipdate") < F.expr(f"timestamp '{d1}'")))
           .groupBy("l_suppkey")
           .agg(F.sum(F.expr(_REVENUE)).alias("total_revenue_cents")))
    mx = per.agg(F.max("total_revenue_cents").alias("mx"))
    return (per.crossJoin(F.broadcast(mx))
            .where(F.col("total_revenue_cents") == F.col("mx"))
            .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey"), "s_name", "total_revenue_cents")
            .orderBy("s_suppkey"))


def blocking_suppliers(lineitem: DataFrame, supplier: DataFrame,
                       k: int) -> DataFrame:
    """TPC-H Q21 shape: in multi-supplier orders, the supplier whose
    line shipped LAST (strictly after every other supplier's lines) —
    the 'who held up the order' report.  Per-order aggregates only:
    the order's max shipdate, the max among OTHER suppliers via the
    two-top-values trick (max + distinct-supplier max pairs), never a
    per-line window.
    """
    pairs = (lineitem.groupBy("l_orderkey", "l_suppkey")
             .agg(F.max("l_shipdate").alias("supp_last")))
    stats = (pairs.groupBy("l_orderkey")
             .agg(F.count(F.lit(1)).alias("n_supps"),
                  F.max("supp_last").alias("order_last")))
    # a supplier blocks iff it is the UNIQUE holder of the order max:
    # count how many (order, supplier) pairs hit the max
    hitters = (pairs.join(
        stats.select("l_orderkey", "n_supps", "order_last"),
        "l_orderkey")
        .where((F.col("supp_last") == F.col("order_last")) &
               (F.col("n_supps") >= 2)))
    uniq = (hitters.groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_hitters")))
    blockers = (hitters.join(uniq, "l_orderkey")
                .where(F.col("n_hitters") == 1))
    return (blockers.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_blocked_orders"))
            .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "n_blocked_orders")
            .orderBy(F.desc("n_blocked_orders"), "s_suppkey")
            .limit(k))


def trade_matrix(customer: DataFrame, orders: DataFrame,
                 lineitem: DataFrame, supplier: DataFrame,
                 nation: DataFrame, y0: str, y1: str,
                 k: int) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade — revenue per (supplier
    nation → customer nation) pair where the nations DIFFER, one year,
    top-k pairs.  One fact pass; both nation lookups ride the same
    broadcast dim."""
    geo = F.broadcast(nation.select("n_nationkey", "n_name"))
    ords = (orders
            .where((F.col("o_orderdate") >= F.expr(f"timestamp '{y0}'")) &
                   (F.col("o_orderdate") < F.expr(f"timestamp '{y1}'")))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_nationkey"))
    joined = (lineitem
              .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(supplier.select("s_suppkey", "s_nationkey"),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .where(F.col("c_nationkey") != F.col("s_nationkey")))
    return (joined
            .join(geo.select(F.col("n_nationkey").alias("sk"),
                             F.col("n_name").alias("supp_nation")),
                  F.col("s_nationkey") == F.col("sk"))
            .join(geo.select(F.col("n_nationkey").alias("ck"),
                             F.col("n_name").alias("cust_nation")),
                  F.col("c_nationkey") == F.col("ck"))
            .groupBy("supp_nation", "cust_nation")
            .agg(F.sum(F.expr(_REVENUE)).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy(F.desc("revenue_cents"), "supp_nation",
                     "cust_nation")
            .limit(k))


def margin_proxy(lineitem: DataFrame, part: DataFrame,
                 supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """TPC-H Q9 shape with the schema we have: 'profit' proxied as
    discounted revenue minus retail cost (p_retailprice · quantity,
    both in exact cents), per (supplier nation, order year of
    shipment).  The real Q9 uses ps_supplycost — partsupp is absent
    from the fixtures, so the proxy is documented, not hidden."""
    cost = ("cast(floor(p_retailprice * 100 + 0.5) as bigint) * "
            "(cast(floor(l_quantity * 100 + 0.5) as bigint)) div 100")
    rows = (lineitem
            .join(part.select("p_partkey", "p_retailprice"),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(supplier.select("s_suppkey", "s_nationkey"),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("n_name", F.year("l_shipdate").alias("yr"),
                    F.expr(_REVENUE).alias("rev"),
                    F.expr(cost).alias("cost")))
    return (rows.groupBy("n_name", "yr")
            .agg(F.sum("rev").alias("revenue_cents"),
                 F.sum("cost").alias("cost_cents"),
                 F.sum(F.expr("rev - cost")).alias("margin_cents"))
            .orderBy("n_name", "yr"))


def abc_classification(lineitem: DataFrame, a_pct: int = 70,
                       b_pct: int = 90) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A = the head reaching ``a_pct``% of cumulative revenue,
    B to ``b_pct``%, C the tail — the 80/20 report every supply-chain
    and storage-tiering decision starts from.

    Class boundaries are exact integer cross-multiplication
    (100·cum ≤ pct·total — no division, no float share), inclusive of
    the part that crosses the boundary.

    Output: one row per class: (cls, n_parts, revenue_cents, share_bp)
    ordered by cls.

    Scale: the corpus collapses to the per-part revenue aggregate
    first; the running revenue is then two-phase (the x95
    token-budget shape): (1) per power-of-two revenue band
    (``length(bin(rev)) - 1``, the x248 discipline — ≤64 bands, no
    libm) an exclusive running total over the tiny band frame, (2) the
    within-band cumulative sum partitioned BY BAND — no ordered window
    ever runs over the whole part dimension in one task. Bands are
    disjoint rev ranges, so band-desc + within-band (rev desc,
    l_partkey) reproduces the global total order exactly; a band only
    degenerates to the full dimension if every part earns the same
    octave (tighten the band expression if a corpus does that). The
    banded per-part frame is persisted for exactly the life of the
    call — the ≤3-row output is materialized and the cache released
    before returning (the _local_result discipline; repeated calls
    must not accumulate executor storage).
    """
    cum, banded = _abc_cum(lineitem)
    cls = (F.when(F.expr(f"100 * cum <= {a_pct} * tot"), "A")
           .when(F.expr(f"100 * cum <= {b_pct} * tot"), "B")
           .otherwise("C"))
    out = (cum.select(cls.alias("cls"), "rev", "tot")
           .groupBy("cls")
           .agg(F.count(F.lit(1)).alias("n_parts"),
                F.sum("rev").alias("revenue_cents"),
                # tot = 0 (every part zero-revenue) -> share 0, not /0
                F.expr("CASE WHEN max(tot) > 0 "
                       "THEN 10000 * sum(rev) div max(tot) "
                       "ELSE 0 END")
                .alias("share_bp"))
           .orderBy("cls"))
    from kafana_spark.operators.similarity import _local_result

    return _local_result(out, banded)


def _abc_cum(lineitem: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The banded running-revenue frame behind abc_classification —
    (cum frame, persisted banded handle). Split out so the band-
    partitioned window plan stays pinnable (the public function
    materializes through _local_result, whose LocalTableScan hides
    the window specs from executedPlan)."""
    per_part = (lineitem.groupBy("l_partkey")
                .agg(F.sum(F.expr(_REVENUE)).alias("rev")))
    banded = (per_part
              .withColumn("band",
                          F.expr("length(bin(rev)) - 1").cast("int"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    tot = banded.agg(F.sum("rev").alias("tot"))
    bt = banded.groupBy("band").agg(F.sum("rev").alias("brev"))
    wb = (Window.orderBy(F.col("band").desc())
          .rowsBetween(Window.unboundedPreceding, -1))
    boff = (bt.withColumn("cum_before",
                          F.coalesce(F.sum("brev").over(wb), F.lit(0)))
            .select("band", "cum_before"))
    wib = (Window.partitionBy("band")
           .orderBy(F.col("rev").desc(), "l_partkey")
           .rowsBetween(Window.unboundedPreceding, 0))
    cum = (banded.join(F.broadcast(boff), "band")
           .crossJoin(F.broadcast(tot))
           .withColumn("cum",
                       F.col("cum_before") + F.sum("rev").over(wib)))
    return cum, banded
