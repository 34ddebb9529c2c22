"""Salted aggregation equality + bucketed co-located joins."""

from pyspark.sql import functions as F

from scardina_spark.operators.skew import salted_group_agg


def _skewed_df(spark):
    # 90% of rows share one hot key
    base = spark.range(20_000).withColumn(
        "k", F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 100))
    return base.withColumn("v", (F.col("id") % 7).cast("double"))


def test_salted_group_agg_equals_plain(spark):
    df = _skewed_df(spark)
    plain = {(r["k"]): (r["s"], r["c"]) for r in
             df.groupBy("k").agg(F.sum("v").alias("s"),
                                 F.count(F.lit(1)).alias("c")).collect()}
    salted = {(r["k"]): (r["s"], r["c"]) for r in
              salted_group_agg(df, ["k"], {"v": "s"}, "c").collect()}
    assert salted == plain


def _aggregate_keys(plan) -> list[list[str]]:
    """Grouping column names of every Aggregate in a logical plan,
    outermost first."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Aggregate":
            ge = node.groupingExpressions()
            out.append([ge.apply(i).name() for i in range(ge.size())])
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_salted_agg_splits_hot_key_by_salt(spark):
    """salted_group_agg's first aggregate groups by (key, salt), so the
    hot key's rows spread over n_salts groups before the final
    per-key aggregate."""
    from scardina_spark.operators.skew import SALT
    out = salted_group_agg(_skewed_df(spark), ["k"], None, "c", n_salts=8)
    plan = out._jdf.queryExecution().optimizedPlan()
    assert _aggregate_keys(plan) == [["k"], ["k", SALT]]
    assert out.where(F.col("k") == 1).first()["c"] == 18_000


def test_bucketed_join_has_no_shuffle(spark, tables, tmp_path):
    """Bucketed tables on the join key co-locate: the sort-merge join plan
    reads both sides without an Exchange."""
    import shutil
    spark.sql("drop table if exists b_orders")
    spark.sql("drop table if exists b_lineitem")
    # the in-memory catalog forgets tables across sessions but their
    # warehouse directories persist; clear them or saveAsTable refuses
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    tables["orders"].write.bucketBy(8, "o_orderkey") \
        .sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    tables["lineitem"].write.bucketBy(8, "l_orderkey") \
        .sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, a["o_orderkey"] == b["l_orderkey"]) \
        .where(~F.col("o_orderkey").isNull())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # and the result is right
    assert joined.count() == tables["lineitem"].count()
