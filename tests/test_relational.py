"""Closed-form tests for the relational OLAP family (x240–x249)."""
from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from kafana_spark.operators import dedup, relational
from kafana_spark.streaming.pipeline import batch_sink


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _lineitem(spark, rows):
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"]
    return spark.createDataFrame([Row(**dict(zip(cols, r))) for r in rows])


def test_pricing_summary_integer_sums_and_truncating_avg(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 3.0, 10.00, 0.10, 0.00, "A", "F", _ts("1996-01-01")),
        (2, 1, 1, 1, 4.0, 20.00, 0.00, 0.10, "A", "F", _ts("1996-01-02")),
        # past the cutoff: must be excluded
        (3, 1, 1, 1, 9.0, 99.00, 0.00, 0.00, "A", "F", _ts("2002-01-01")),
    ])
    out = relational.pricing_summary(li, "2001-09-02 00:00:00").collect()
    assert len(out) == 1
    r = out[0]
    assert r.sum_qty_c == 700          # (3.0 + 4.0) · 100
    assert r.sum_base_cents == 3000
    # 10·0.9 = 9.00 → 900; 20·1.0 = 2000
    assert r.sum_disc_cents == 2900
    # charges: 900·1.0 and 2000·1.1 = 2200
    assert r.sum_charge_cents == 3100
    assert r.count_order == 2
    assert r.avg_qty_c == 350
    assert r.avg_price_c == 1500
    assert r.avg_disc_bp == 500        # (1000 + 0) div 2


def test_big_orders_threshold_is_strict(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 250.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (2, 1, 1, 1, 250.01, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=7, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_custkey=7, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=7, c_name="c7", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    out = relational.big_orders(cust, orders, li, 25_000, 20).collect()
    # order 1 totals exactly 25000 qty-cents → excluded (strict >)
    assert [r.o_orderkey for r in out] == [2]
    assert out[0].total_qty_c == 25_001


def test_supplier_hhi_monopoly_and_even_split(spark):
    li = _lineitem(spark, [
        # brand M: one supplier → HHI = 10000² = 100_000_000
        (1, 1, 9, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # brand E: two equal suppliers → 2·5000² = 50_000_000
        (2, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (3, 2, 2, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="M", p_type="t",
             p_size=1, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="E", p_type="t",
             p_size=1, p_retailprice=1.0)])
    out = {r.p_brand: r for r in
           relational.supplier_hhi(li, part).collect()}
    assert out["M"].hhi == 100_000_000 and out["M"].n_suppliers == 1
    assert out["E"].hhi == 50_000_000 and out["E"].n_suppliers == 2


def test_priority_sla_truncates_negative_average_toward_zero(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1995-12-29")),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-03")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")])
    out = relational.priority_sla(orders, li).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.min_lag_days, r.max_lag_days) == (-3, 2)
    # sum = -1, n = 2 → -1 div 2 = 0 (toward zero, NOT floor's -1)
    assert r.avg_lag_days == 0


def test_revenue_bands_power_of_two_edges_and_cumulative(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=c, o_orderstatus="O",
             o_totalprice=p, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")
         for k, (c, p) in enumerate([
             (1, 0.01),    # 1 cent  → band 0
             (2, 0.02),    # 2 cents → band 1
             (3, 0.03),    # 3 cents → band 1
             (4, 0.04),    # 4 cents → band 2
         ])])
    out = relational.revenue_bands(orders).collect()
    by_band = {r.band: r for r in out}
    assert set(by_band) == {0, 1, 2}
    assert by_band[0].n_customers == 1 and by_band[0].band_cents == 1
    assert by_band[1].n_customers == 2 and by_band[1].band_cents == 5
    assert by_band[2].band_cents == 4
    # total 10 cents: shares 1000/5000/4000 bp; cum from top 4000/9000/10000
    assert by_band[2].share_bp == 4000 and by_band[2].cum_share_bp == 4000
    assert by_band[1].cum_share_bp == 9000
    assert by_band[0].cum_share_bp == 10000
    # rows ordered by band DESC
    assert [r.band for r in out] == [2, 1, 0]


def test_brand_share_bp_sums_to_at_most_10000(spark, tmp_path):
    from kafana_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    part = load_table(spark, "/root/testdata/sf0.001", "part")
    out = relational.brand_share(li, part,
                                 "1997-01-01 00:00:00",
                                 "1998-01-01 00:00:00").collect()
    assert out, "1997 brand revenue should be non-empty at sf0.001"
    assert sum(r.share_bp for r in out) <= 10_000
    assert all(r.share_bp >= 0 for r in out)
    revs = [r.revenue_cents for r in out]
    assert revs == sorted(revs, reverse=True)


def test_overlap_near_dup_subset_scores_10000_bp(spark):
    # doc 2 is a strict prefix of doc 1: containment = 1.0 even though
    # Jaccard is far below any resemblance threshold.
    long = " ".join(f"w{i}" for i in range(30))
    short = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame([Row(doc_id=1, text=long),
                                Row(doc_id=2, text=short)])
    out = dedup.overlap_near_dup(df, 6000).collect()
    assert len(out) == 1
    assert (out[0].da, out[0].db) == (1, 2)
    assert out[0].overlap_bp == 10_000
    jac = dedup.ngram_jaccard_dup(df, 0.5).collect()
    assert jac == []  # the resemblance family misses this pair


def test_regional_volume_requires_local_supplier(spark):
    li = _lineitem(spark, [
        (1, 1, 10, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
        (2, 1, 20, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-06-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-06-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c", c_nationkey=3, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    supp = spark.createDataFrame(
        [Row(s_suppkey=10, s_name="local", s_nationkey=3, s_acctbal=0.0),
         Row(s_suppkey=20, s_name="remote", s_nationkey=4,
             s_acctbal=0.0)])
    nation = spark.createDataFrame(
        [Row(n_nationkey=3, n_name="GONDOR", n_regionkey=1),
         Row(n_nationkey=4, n_name="ROHAN", n_regionkey=1)])
    region = spark.createDataFrame(
        [Row(r_regionkey=1, r_name="MIDDLE EARTH")])
    out = relational.regional_volume(
        cust, orders, li, supp, nation, region,
        "1996-01-01 00:00:00", "1997-01-01 00:00:00").collect()
    # only the local-supplier line survives the c_nation = s_nation cut
    assert len(out) == 1
    assert out[0].n_name == "GONDOR" and out[0].revenue_cents == 10_000


def test_late_order_priorities_semi_join_counts_orders_once(spark):
    li = _lineitem(spark, [
        # order 1: two late lines → still counted once
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-02-01")),
        (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-03-01")),
        # order 2: shipped same day → not late
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT") for k in (1, 2)])
    out = relational.late_order_priorities(orders, li).collect()
    assert len(out) == 1 and out[0].n_late_orders == 1
    plan = relational.late_order_priorities(orders, li)._jdf \
        .queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_idle_rich_customers_threshold_and_anti_join(spark):
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="poor", c_nationkey=1, c_acctbal=1.0,
             c_mktsegment="BUILDING"),
         Row(c_custkey=2, c_name="rich-idle", c_nationkey=1,
             c_acctbal=100.0, c_mktsegment="BUILDING"),
         Row(c_custkey=3, c_name="rich-active", c_nationkey=1,
             c_acctbal=100.0, c_mktsegment="BUILDING")])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=3, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("2000-06-01"),
             o_orderpriority="1-URGENT"),
         # customer 2's only order predates the dormancy cut
         Row(o_orderkey=2, o_custkey=2, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1997-06-01"),
             o_orderpriority="1-URGENT")])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_name="GONDOR", n_regionkey=1)])
    q = relational.idle_rich_customers(cust, orders, nation,
                                       "1999-01-01 00:00:00")
    out = q.collect()
    # avg positive balance = 67.0; only 2 and 3 exceed it; 3 is active
    assert len(out) == 1
    assert out[0].n_customers == 1 and out[0].acctbal_cents == 10_000
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_small_qty_revenue_half_average_cut_is_exact(spark):
    # part 1: quantities 2 and 6 → avg 4, half-avg 2 → only qty-2·n<sum
    # check: 2·200·2=800 < 800? NO (strict) — qty 2 is NOT below half
    # average when avg=4 ⇒ threshold exactly at boundary excluded.
    li = _lineitem(spark, [
        (1, 1, 1, 1, 2.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (2, 1, 1, 1, 6.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # part 2: 1 and 9 → half-avg 5 → the qty-1 line qualifies
        (3, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (4, 2, 1, 1, 9.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="B1", p_type="t",
             p_size=1, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="B2", p_type="t",
             p_size=1, p_retailprice=1.0)])
    out = {r.p_brand: r for r in
           relational.small_qty_revenue(li, part).collect()}
    assert "B1" not in out          # boundary: 2 · qty_c · n == sum
    assert out["B2"].n_small_lines == 1
    assert out["B2"].revenue_cents == 1000


def test_market_share_local_split(spark):
    li = _lineitem(spark, [
        (1, 1, 10, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
        (1, 1, 20, 2, 1.0, 300.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-06-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c", c_nationkey=3, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    supp = spark.createDataFrame(
        [Row(s_suppkey=10, s_name="local", s_nationkey=3, s_acctbal=0.0),
         Row(s_suppkey=20, s_name="remote", s_nationkey=4,
             s_acctbal=0.0)])
    nation = spark.createDataFrame(
        [Row(n_nationkey=3, n_name="GONDOR", n_regionkey=1)])
    region = spark.createDataFrame(
        [Row(r_regionkey=1, r_name="MIDDLE EARTH")])
    out = relational.market_share(cust, orders, li, supp, nation,
                                  region).collect()
    assert len(out) == 1
    r = out[0]
    assert r.o_year == 1996
    assert r.revenue_cents == 40_000 and r.local_cents == 10_000
    assert r.local_share_bp == 2500


def test_order_cadence_gaps_and_truncation(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=d, o_orderpriority="1-URGENT")
         for k, d in [(1, _ts("1996-01-01")), (2, _ts("1996-01-04")),
                      (3, _ts("1996-01-08"))]])
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_name="GONDOR", n_regionkey=1)])
    out = relational.order_cadence(cust, orders, nation).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_gaps == 2 and (r.min_gap_days, r.max_gap_days) == (3, 4)
    assert r.avg_gap_days == 3      # 7 div 2 truncates


def test_daily_revenue_running_range_frame_respects_gaps(spark):
    # days 0, 1, 10: the trailing-7d window at day 10 must NOT include
    # days 0/1 (a ROWS frame would).
    orders = spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
             o_totalprice=p, o_orderdate=d, o_orderpriority="1-URGENT")
         for k, (p, d) in enumerate([
             (1.0, _ts("1996-01-01")), (2.0, _ts("1996-01-02")),
             (4.0, _ts("1996-01-11"))])])
    out = {r.ds: r for r in
           relational.daily_revenue_running(orders).collect()}
    assert out["1996-01-02"].trailing_7d_cents == 300
    assert out["1996-01-11"].trailing_7d_cents == 400
    assert out["1996-01-11"].cum_cents == 700


def test_join_estimate_calibration_exact_on_keyed_join(spark):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = {r.join_name: r for r in relational.join_estimate_calibration(
        load_table(spark, sf, "customer"), load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "part")).collect()}
    lo = out["lineitem_orders"]
    # orderkey is the PK of orders → estimate = |L|·|O| / |O| = |L|,
    # and every lineitem has an order → exact calibration.
    assert lo.est_rows == lo.n_left
    assert lo.actual_rows == lo.n_left
    assert lo.err_bp == 0


def test_regional_volume_broadcasts_geo_dims(spark):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    q = relational.regional_volume(
        load_table(spark, sf, "customer"), load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "supplier"), load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
        "1996-01-01 00:00:00", "1997-01-01 00:00:00")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_group_quantiles_cumulative_rule(spark):
    from kafana_spark.operators import stats

    df = spark.createDataFrame(
        [Row(g="a", v=v) for v in [1, 2, 3, 4]] +
        [Row(g="b", v=v) for v in [10, 10, 10, 40]])
    out = {r.g: r for r in stats.group_quantiles(
        df, "g", F.col("v")).collect()}
    # group a: n=4 → thresholds ceil(q·4/100) = 1, 2, 3 → values 1,2,3
    assert (out["a"].p25, out["a"].p50, out["a"].p75) == (1, 2, 3)
    # group b: cum(10)=3 covers thresholds 1..3 → all quartiles = 10
    assert (out["b"].p25, out["b"].p50, out["b"].p75) == (10, 10, 10)
    assert out["a"].n == 4 and out["b"].n == 4


def test_revenue_rollup_levels_reconcile(spark):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = relational.revenue_rollup(
        load_table(spark, sf, "customer"), load_table(spark, sf, "orders"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region")).collect()
    total = [r for r in out if r.r_name == "ALL" and r.n_name == "ALL"]
    regions = [r for r in out if r.r_name != "ALL" and r.n_name == "ALL"]
    nations = [r for r in out if r.n_name != "ALL"]
    assert len(total) == 1
    # each level must sum to the same grand totals
    assert sum(r.revenue_cents for r in regions) == total[0].revenue_cents
    assert sum(r.revenue_cents for r in nations) == total[0].revenue_cents
    assert sum(r.n_orders for r in nations) == total[0].n_orders


def test_top_customers_per_nation_rank_and_ties(spark):
    cust = spark.createDataFrame(
        [Row(c_custkey=k, c_name=f"c{k}", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING") for k in (1, 2, 3)])
    orders = spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=c, o_orderstatus="O",
             o_totalprice=p, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")
         for i, (c, p) in enumerate([(1, 5.0), (2, 5.0), (3, 9.0)])])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_name="GONDOR", n_regionkey=1)])
    out = relational.top_customers_per_nation(cust, orders, nation,
                                              2).collect()
    # tie between 1 and 2 broken by custkey asc; k=2 cuts customer 2
    assert [(r.c_custkey, r.rnk) for r in out] == [(3, 1), (1, 2)]


def test_brand_affinity_lift_closed_form(spark):
    # 4 orders; brands X,Y co-occur in 2 of them; X in 3, Y in 2.
    # lift_u = (2·4·1e6) div (3·2) = 1_333_333
    rows, part_rows = [], []
    brands = {1: "X", 2: "Y", 3: "Z"}
    for pk, b in brands.items():
        part_rows.append(Row(p_partkey=pk, p_name=b, p_brand=b,
                             p_type="t", p_size=1, p_retailprice=1.0))
    orders_parts = [(1, [1, 2]), (2, [1, 2]), (3, [1, 3]), (4, [3])]
    ln = 0
    for ok, pks in orders_parts:
        for pk in pks:
            ln += 1
            rows.append((ok, pk, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O",
                         _ts("1996-01-01")))
    li = _lineitem(spark, rows)
    part = spark.createDataFrame(part_rows)
    out = relational.brand_affinity(li, part, 2, 10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.brand_a, r.brand_b, r.n_ab) == ("X", "Y", 2)
    assert r.lift_u == 1_333_333


def test_order_rollup_store_merges_batch_partials(spark, tmp_path):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    root = str(tmp_path / "ordidx")
    for i in (0, 1):
        relational.build_order_rollup(
            orders.where(F.col("o_orderkey") % 2 == i), root,
            batch=str(i))
    served = relational.running_from_daily(
        relational.daily_revenue_from_store(spark, root))
    direct = relational.daily_revenue_running(orders)
    assert served.orderBy("ds").collect() == \
        direct.orderBy("ds").collect()


def test_order_stream_sink_redelivery_safe(spark, tmp_path):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    root = str(tmp_path / "ordidx_stream")
    relational.build_order_rollup(
        orders.where(F.col("o_orderkey") % 2 == 0), root)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      relational.build_order_rollup, root)
    rest = orders.where(F.col("o_orderkey") % 2 == 1)
    sink(rest.where(F.col("o_orderkey") % 4 == 1), 0)
    sink(rest.where(F.col("o_orderkey") % 4 == 3), 1)
    sink(rest.where(F.col("o_orderkey") % 4 == 3), 1)   # redelivery
    served = relational.running_from_daily(
        relational.daily_revenue_from_store(spark, root))
    direct = relational.daily_revenue_running(orders)
    assert served.orderBy("ds").collect() == \
        direct.orderBy("ds").collect()


def test_order_of_record_argmax_tiebreak(spark):
    # two lines tie on revenue 10.00 → lower orderkey wins
    li = _lineitem(spark, [
        (5, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (9, 1, 1, 1, 1.0, 3.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="B", p_type="t",
             p_size=1, p_retailprice=1.0)])
    out = relational.order_of_record(li, part).collect()
    assert len(out) == 1
    r = out[0]
    assert r.top_revenue_cents == 1000 and r.top_orderkey == 2
    assert r.n_lines == 3


def test_brand_return_z_zero_when_rate_matches_pool(spark):
    # both brands have identical 50% return rates → z must be 0 ± 0
    rows = []
    for i, (brand_pk, flag) in enumerate([(1, "R"), (1, "N"),
                                          (2, "R"), (2, "N")] * 5):
        rows.append((i, brand_pk, 1, 1, 1.0, 1.0, 0.0, 0.0, flag, "O",
                     _ts("1996-01-01")))
    li = _lineitem(spark, rows)
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="A", p_type="t",
             p_size=1, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="B", p_type="t",
             p_size=1, p_retailprice=1.0)])
    out = relational.brand_return_z(li, part).collect()
    assert all(r.z_bp == 0 for r in out)
    assert all(r.rate_bp == 5000 for r in out)


def test_yoy_growth_conditional_split_and_guard(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=100.0, o_orderdate=_ts("1996-05-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_custkey=1, o_orderstatus="O",
             o_totalprice=150.0, o_orderdate=_ts("1997-05-01"),
             o_orderpriority="1-URGENT"),
         # nation 2's customer only has 1997 revenue → guard hits
         Row(o_orderkey=3, o_custkey=2, o_orderstatus="O",
             o_totalprice=10.0, o_orderdate=_ts("1997-02-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c1", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING"),
         Row(c_custkey=2, c_name="c2", c_nationkey=2, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_name="GONDOR", n_regionkey=1),
         Row(n_nationkey=2, n_name="ROHAN", n_regionkey=1)])
    out = {r.n_name: r for r in relational.yoy_growth(
        cust, orders, nation, 1996, 1997).collect()}
    assert out["GONDOR"].growth_bp == 5000      # +50%
    assert out["ROHAN"].rev_y0_cents == 0
    assert out["ROHAN"].growth_bp == 0          # guarded


def test_priority_status_chi2_independent_table_is_zero(spark):
    # perfectly independent 2×2 with equal margins → every cell
    # contribution is exactly 0
    rows = []
    k = 0
    for pri in ("1-URGENT", "5-LOW"):
        for st in ("O", "F"):
            for _ in range(10):
                k += 1
                rows.append(Row(o_orderkey=k, o_custkey=1,
                                o_orderstatus=st, o_totalprice=1.0,
                                o_orderdate=_ts("1996-01-01"),
                                o_orderpriority=pri))
    out = relational.priority_status_chi2(
        spark.createDataFrame(rows)).collect()
    assert len(out) == 4
    assert all(r.contrib_u == 0 for r in out)
    assert all(r.observed == 10 for r in out)


def test_discount_curve_shares_and_buckets(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 2.0, 10.0, 0.00, 0.0, "N", "O", _ts("1996-01-01")),
        (2, 1, 1, 1, 4.0, 10.0, 0.05, 0.0, "N", "O", _ts("1996-01-01")),
        (3, 1, 1, 1, 6.0, 10.0, 0.05, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    out = {r.disc_bp: r for r in
           relational.discount_curve(li).collect()}
    assert set(out) == {0, 500}
    assert out[500].n_lines == 2 and out[500].avg_qty_c == 500
    # revenue: 1000 + 950·2 = 2900; share(500bp) = 19000000//2900
    assert out[500].revenue_cents == 1900
    assert out[0].rev_share_bp == 1000 * 10000 // 2900


def test_bucketed_join_skips_both_exchanges(spark, tmp_path):
    from kafana_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    names = relational.build_bucketed_warehouse(
        spark, load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"), str(tmp_path / "bwh"),
        "test_bwh")
    # disable broadcast so the join strategy itself must avoid the
    # shuffle — the point of bucketing
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = relational.bucketed_join_revenue(spark, *names)
        plan = q._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # no Exchange below the join: bucketed scans satisfy the
        # join's distribution on both legs
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # and the answer matches the unbucketed join
        o = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem")
        plain = (li.join(o.select("o_orderkey", "o_orderstatus"),
                         F.col("l_orderkey") == F.col("o_orderkey"))
                 .groupBy("o_orderstatus")
                 .agg(F.expr("cast(sum(cast(floor(l_extendedprice * "
                             "(1.0 - l_discount) * 100 + 0.5) as "
                             "bigint)) as bigint)")
                      .alias("revenue_cents"),
                      F.count(F.lit(1)).alias("n_lines"))
                 .orderBy("o_orderstatus"))
        assert q.collect() == plain.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_disjunctive_revenue_branch_assignment(spark):
    li = _lineitem(spark, [
        # qty 10 → promo_small (branch 1 wins even if others match)
        (1, 1, 1, 1, 10.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # size-40 part, qty 45 → large_bulk
        (2, 2, 1, 1, 45.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # Brand#11, qty 20 → brand11_mid
        (3, 3, 1, 1, 20.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # matches nothing
        (4, 3, 1, 1, 99.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="Brand#1",
             p_type="PROMO", p_size=1, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="Brand#2",
             p_type="LARGE", p_size=40, p_retailprice=1.0),
         Row(p_partkey=3, p_name="c", p_brand="Brand#11",
             p_type="SMALL", p_size=1, p_retailprice=1.0)])
    out = {r.branch: r.n_lines for r in
           relational.disjunctive_revenue(li, part).collect()}
    assert out == {"promo_small": 1, "large_bulk": 1, "brand11_mid": 1}


def test_status_pivot_counts_and_zero_fill(spark):
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=2, o_custkey=1, o_orderstatus="F",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT"),
         Row(o_orderkey=3, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="5-LOW")])
    out = {r.o_orderpriority: r for r in
           relational.status_pivot(orders).collect()}
    assert (out["1-URGENT"].n_f, out["1-URGENT"].n_o,
            out["1-URGENT"].n_p) == (2, 0, 0)
    assert (out["5-LOW"].n_f, out["5-LOW"].n_o,
            out["5-LOW"].n_p) == (0, 1, 0)


def test_tukey_outliers_fence_boundary(spark):
    # priority with 20 orders at $100 and one at $100000: quartiles
    # all 1 ($100 bucket) → fence 1; the big order (bucket 1000) flags
    rows = [Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
                o_totalprice=100.0, o_orderdate=_ts("1996-01-01"),
                o_orderpriority="1-URGENT") for k in range(20)]
    rows.append(Row(o_orderkey=99, o_custkey=1, o_orderstatus="O",
                    o_totalprice=100000.0, o_orderdate=_ts("1996-01-01"),
                    o_orderpriority="1-URGENT"))
    out = relational.tukey_outlier_orders(
        spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_orders == 21 and r.n_outliers == 1
    assert r.outlier_rate_bp == 10000 // 21


def test_revenue_forecast_full_window_gating(spark):
    # 9 consecutive days then a gap then 1 more: only days 8 and 9
    # have 7 strictly-prior days; the post-gap day does not
    rows = []
    days = list(range(1, 10)) + [15]
    for i, d in enumerate(days):
        rows.append(Row(o_orderkey=i, o_custkey=1, o_orderstatus="O",
                        o_totalprice=float(d),
                        o_orderdate=_ts(f"1996-01-{d:02d}"),
                        o_orderpriority="1-URGENT"))
    out = relational.revenue_forecast_backtest(
        spark.createDataFrame(rows)).collect()
    assert [r.ds for r in out] == ["1996-01-08", "1996-01-09"]
    # day 8 pred: mean(100..700 cents) = 2800 div 7 = 400
    assert out[0].pred_cents == 400
    assert out[0].abs_err_cents == 400
    # WAPE over both evaluable days
    assert out[0].wape_bp == out[1].wape_bp


def test_referential_integrity_counts_orphans(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        (99, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=7, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=7, c_name="c", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="B", p_type="t",
             p_size=1, p_retailprice=1.0)])
    supp = spark.createDataFrame(
        [Row(s_suppkey=1, s_name="s", s_nationkey=1, s_acctbal=0.0)])
    out = {r.fk_edge: r for r in relational.referential_integrity(
        cust, orders, li, part, supp).collect()}
    assert out["lineitem_orders"].n_orphans == 1   # orderkey 99
    assert out["lineitem_part"].n_orphans == 0
    assert out["orders_customer"].n_orphans == 0
    assert out["lineitem_orders"].n_rows == 2


def test_blocking_suppliers_unique_last_only(spark):
    li = _lineitem(spark, [
        # order 1: supplier 1 ships last alone → blocks
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-03-01")),
        (1, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-01-01")),
        # order 2: both suppliers tie on the max day → nobody blocks
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-02-01")),
        (2, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-02-01")),
        # order 3: single supplier → excluded (n_supps < 2)
        (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("1996-05-01")),
    ])
    supp = spark.createDataFrame(
        [Row(s_suppkey=1, s_name="s1", s_nationkey=1, s_acctbal=0.0),
         Row(s_suppkey=2, s_name="s2", s_nationkey=1, s_acctbal=0.0)])
    out = relational.blocking_suppliers(li, supp, 10).collect()
    assert [(r.s_suppkey, r.n_blocked_orders) for r in out] == [(1, 1)]


def test_top_supplier_quarter_ties_all_surface(spark):
    li = _lineitem(spark, [
        (1, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", _ts("1996-02-01")),
        (2, 1, 2, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", _ts("1996-02-02")),
        (3, 1, 3, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _ts("1996-02-03")),
    ])
    supp = spark.createDataFrame(
        [Row(s_suppkey=k, s_name=f"s{k}", s_nationkey=1, s_acctbal=0.0)
         for k in (1, 2, 3)])
    out = relational.top_supplier_quarter(
        li, supp, "1996-01-01 00:00:00", "1996-04-01 00:00:00").collect()
    assert [r.s_suppkey for r in out] == [1, 2]   # scalar-max ties


def test_order_count_distribution_zero_bucket(spark):
    cust = spark.createDataFrame(
        [Row(c_custkey=k, c_name=f"c{k}", c_nationkey=1, c_acctbal=0.0,
             c_mktsegment="BUILDING") for k in (1, 2, 3)])
    orders = spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=c, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-01-01"),
             o_orderpriority="1-URGENT")
         for i, c in enumerate([1, 1, 2])])
    out = {r.n_orders: r.n_customers for r in
           relational.order_count_distribution(cust, orders).collect()}
    assert out == {2: 1, 1: 1, 0: 1}


def test_trade_matrix_excludes_domestic(spark):
    li = _lineitem(spark, [
        (1, 1, 10, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
        (1, 1, 20, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", _ts("1996-06-01")),
    ])
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=_ts("1996-06-01"),
             o_orderpriority="1-URGENT")])
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c", c_nationkey=3, c_acctbal=0.0,
             c_mktsegment="BUILDING")])
    supp = spark.createDataFrame(
        [Row(s_suppkey=10, s_name="domestic", s_nationkey=3,
             s_acctbal=0.0),
         Row(s_suppkey=20, s_name="foreign", s_nationkey=4,
             s_acctbal=0.0)])
    nation = spark.createDataFrame(
        [Row(n_nationkey=3, n_name="GONDOR", n_regionkey=1),
         Row(n_nationkey=4, n_name="ROHAN", n_regionkey=1)])
    out = relational.trade_matrix(
        cust, orders, li, supp, nation,
        "1996-01-01 00:00:00", "1997-01-01 00:00:00", 10).collect()
    assert len(out) == 1
    assert (out[0].supp_nation, out[0].cust_nation) == ("ROHAN",
                                                        "GONDOR")
    assert out[0].revenue_cents == 5000


def test_margin_proxy_arithmetic(spark):
    li = _lineitem(spark, [
        # rev = 100·(1−0.1) = 90.00 → 9000; cost = 20.00·3 = 6000
        (1, 1, 1, 1, 3.0, 100.0, 0.1, 0.0, "N", "O", _ts("1996-06-01")),
    ])
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="B", p_type="t",
             p_size=1, p_retailprice=20.0)])
    supp = spark.createDataFrame(
        [Row(s_suppkey=1, s_name="s", s_nationkey=1, s_acctbal=0.0)])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_name="GONDOR", n_regionkey=1)])
    out = relational.margin_proxy(li, part, supp, nation).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.revenue_cents, r.cost_cents, r.margin_cents) == \
        (9000, 6000, 3000)


def test_forecast_revenue_change_band_filter(spark):
    li = _lineitem(spark, [
        # in band: qty 20 < 24, disc 0.06 → forgone = 100·0.06 = 600c
        (1, 1, 1, 1, 20.0, 100.0, 0.06, 0.0, "N", "O",
         _ts("1996-06-01")),
        # qty 24 not < 24 → excluded
        (2, 1, 1, 1, 24.0, 100.0, 0.06, 0.0, "N", "O",
         _ts("1996-06-01")),
        # discount outside band → excluded
        (3, 1, 1, 1, 20.0, 100.0, 0.10, 0.0, "N", "O",
         _ts("1996-06-01")),
        # outside the year → excluded
        (4, 1, 1, 1, 20.0, 100.0, 0.06, 0.0, "N", "O",
         _ts("1997-06-01")),
    ])
    out = relational.forecast_revenue_change(
        li, "1996-01-01 00:00:00", "1997-01-01 00:00:00",
        0.05, 0.07, 2400).collect()
    assert len(out) == 1
    assert (out[0].n_lines, out[0].forgone_cents) == (1, 600)


def test_abc_classification_boundaries_inclusive(spark):
    from kafana_spark.operators.relational import abc_classification

    # revenues 70, 20, 10 (parts 1..3): A = {p1} (exactly 70%),
    # B = {p2} (90%), C = {p3}
    rows = [(1, 0.70), (2, 0.20), (3, 0.10)]
    li = spark.createDataFrame(
        [(p, 1, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O",
          __import__("datetime").datetime(1996, 1, 1))
         for p, ep in [(r[0], r[1]) for r in rows]],
        ["l_partkey", "l_orderkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"])
    out = {r.cls: r for r in abc_classification(li).collect()}
    assert out["A"].n_parts == 1 and out["A"].revenue_cents == 70
    assert out["B"].n_parts == 1 and out["B"].revenue_cents == 20
    assert out["C"].n_parts == 1 and out["C"].revenue_cents == 10
    assert out["A"].share_bp == 7000
    assert out["C"].share_bp == 1000


def test_abc_part_window_partitioned_by_band(spark):
    """The per-part running revenue must never sort the whole part
    dimension in one task: every rev-ordered window spec in the plan
    is partitioned by the power-of-two band column. Pinned on the
    internal cum frame — the public function materializes through
    _local_result (LocalTableScan hides the window specs)."""
    import re

    from kafana_spark.operators.relational import _abc_cum

    li = spark.createDataFrame(
        [(p, 1, 1, 1, 1.0, float(p), 0.0, 0.0, "N", "O",
          __import__("datetime").datetime(1996, 1, 1))
         for p in range(1, 9)],
        ["l_partkey", "l_orderkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"])
    cum, banded = _abc_cum(li)
    try:
        plan = cum._jdf.queryExecution().executedPlan().toString()
    finally:
        banded.unpersist()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for s in specs:
        if "rev" in s and "DESC" in s:
            assert s.lstrip().startswith("band"), s


def test_abc_releases_executor_cache(spark):
    """abc_classification must not leave its banded per-part frame
    persisted after returning (ADVICE r7: repeated calls accumulated
    executor storage)."""
    from kafana_spark.operators.relational import abc_classification

    li = spark.createDataFrame(
        [(p, 1, 1, 1, 1.0, float(p), 0.0, 0.0, "N", "O",
          __import__("datetime").datetime(1996, 1, 1))
         for p in range(1, 9)],
        ["l_partkey", "l_orderkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"])
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    abc_classification(li).collect()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= before
