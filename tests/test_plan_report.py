"""tools/plan_report.py: the per-query plan audit behind PLANS.md."""

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
