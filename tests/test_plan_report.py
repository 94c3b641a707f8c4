"""tools/plan_report.py: the per-query plan audit behind PLANS.md."""

from pyspark.sql import functions as F

from tools.plan_report import plan_stats


def test_arrow_and_pandas_map_stages_count_as_python(spark):
    # kernels defined here, not at module level: workers cannot import
    # the test module, so they must pickle by value
    def identity(batches):
        yield from batches

    def double(batches):
        for pdf in batches:
            yield pdf * 2

    df = spark.range(4)
    assert plan_stats(df.mapInArrow(identity, schema=df.schema))["python"]
    assert plan_stats(df.mapInPandas(double, schema=df.schema))["python"]
    assert not plan_stats(df.selectExpr("id * 2 AS id"))["python"]


def test_planned_shuffles_count_the_initial_plan(spark):
    # AQE sees the empty side at run time and drops the join and every
    # exchange from the final plan; the initial plan keeps all three
    empty = spark.range(100).where("id < 0").groupBy((F.col("id") % 7).alias("k")).count()
    full = spark.range(1000).groupBy((F.col("id") % 5).alias("k")).agg(F.sum("id").alias("s"))
    df = full.hint("shuffle_merge").join(empty, "k").groupBy("s").count()
    st = plan_stats(df)
    assert st["planned_shuffles"] == 3 and st["exchanges"] == 0
    assert plan_stats(df)["planned_shuffles"] == 3
    assert plan_stats(spark.range(4))["planned_shuffles"] == 0


def test_reused_exchange_is_not_counted_as_a_shuffle(spark):
    # both join sides read one aggregate: the initial plan has two
    # shuffles, the final plan runs one and the other side reads it
    # as a ReusedExchange
    agg = spark.range(1000).groupBy((F.col("id") % 5).alias("k")).agg(F.sum("id").alias("s"))
    df = agg.hint("shuffle_merge").join(agg.withColumnRenamed("s", "s2"), "k")
    st = plan_stats(df)
    assert (st["exchanges"], st["planned_shuffles"]) == (1, 2)
