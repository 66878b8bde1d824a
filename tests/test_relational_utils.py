"""Skew utilities."""

import pyspark.sql.functions as F

from transporter_spark.operators.relational import broadcast_dim_join, salted_sum
from transporter_spark.sources.files import read_table

from tests.test_plans import explain_str


def test_salted_sum_matches_plain_groupby(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    salted = {
        (r.l_returnflag): (round(r.sum_l_quantity, 6), r.n)
        for r in salted_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    plain = {
        r.l_returnflag: (round(r.s, 6), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert salted == plain


def test_broadcast_dim_join_plan(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    out = broadcast_dim_join(
        cust,
        [
            (nation, cust.c_nationkey == nation.n_nationkey),
            (region, nation.n_regionkey == region.r_regionkey),
        ],
    )
    assert out.count() == cust.count()


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The scale path for `percentiles`: approx_percentile (t-digest,
    map-side mergeable — no whole-group shuffle) must stay within 5%
    of the exact interpolated percentile."""
    import pyspark.sql.functions as F

    orders = read_table(spark, sf_dir, "orders")
    rows = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.9)").alias("exact"),
        F.expr("approx_percentile(o_totalprice, 0.9, 1000)").alias("approx"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.05, r


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join: orders and lineitem bucketed by orderkey join
    with ZERO Exchange operators — the layout replaces the shuffle.
    (The technique a recurring 100TB fact-to-fact join pays for once.)"""
    from transporter_spark.sources.files import read_table as rt
    from transporter_spark.sources.files import write_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    orders = rt(spark, sf_dir, "orders")
    li = rt(spark, sf_dir, "lineitem")
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice"), "b_orders",
        "o_orderkey", buckets=8,
    )
    write_bucketed(
        li.select("l_orderkey", "l_quantity"), "b_lineitem",
        "l_orderkey", buckets=8,
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(
            bl, bo.o_orderkey == bl.l_orderkey
        ).groupBy("o_orderkey").count()
        # disable broadcast so the test can't pass via a broadcast join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = explain_str(joined, "simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # inner join: one output group per order that HAS lineitems
        assert joined.count() == bl.select("l_orderkey").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join == plain join, row-for-row (inner and left), on a
    deliberately skewed fact (half the rows share one hot key)."""
    import pyspark.sql.functions as F

    from transporter_spark.operators.relational import salted_join
    from transporter_spark.sources.files import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    # skew it: fold half the supplier keys onto key 1
    fact = li.withColumn(
        "l_suppkey",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1)).otherwise(F.col("l_suppkey")),
    )
    dim = read_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")

    for how in ("inner", "left"):
        plain = fact.join(dim, "l_suppkey", how)
        salted = salted_join(fact, dim, "l_suppkey", salt_buckets=8, how=how)
        assert sorted(map(tuple, plain.select(sorted(plain.columns)).collect())) == \
               sorted(map(tuple, salted.select(sorted(salted.columns)).collect()))

    import pytest

    with pytest.raises(ValueError):
        salted_join(fact, dim, "l_suppkey", how="full")
