"""plans/parallel.spread_input — the r6 scan-parallelism floor.

The helper must (a) raise an under-partitioned input to the session's
default parallelism, (b) leave an already-wide input untouched (the
production no-op path), and (c) never change row content.
"""

import pyspark.sql.functions as F


def test_spread_raises_underpartitioned_input(spark):
    from php_lucene_analyzer_spark.plans.parallel import spread_input

    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000).coalesce(1).withColumn("v", F.col("id") * 2)
    assert df.rdd.getNumPartitions() == 1
    out = spread_input(df)
    assert out.rdd.getNumPartitions() == par
    assert sorted(r["v"] for r in out.collect()) == \
        sorted(r["v"] for r in df.collect())


def test_spread_is_noop_on_wide_input(spark):
    from php_lucene_analyzer_spark.plans.parallel import spread_input

    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=par + 4)
    out = spread_input(df)
    # no repartition inserted: same object plan — partition count kept
    assert out.rdd.getNumPartitions() == par + 4
    assert out is df

