"""The output digest is order-independent and sensitive to content."""

from __future__ import annotations

from pyspark.sql import functions as F

from workloads import digest


def test_digest_is_stable_under_repartitioning(spark):
    df = spark.range(5000).select(
        "id",
        (F.col("id") * 0.25).alias("x"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 3 == 0).alias("flag"),
    )
    base = digest(df)
    assert base[0] == 5000
    assert digest(df.repartition(7)) == base
    assert digest(df.repartition(3, "url").orderBy(F.desc("id"))) == base
    assert digest(df.where("id != 17")) != base
    assert digest(df.withColumn("x", F.when(F.col("id") == 5, 0.0).otherwise(F.col("x")))) != base
