from __future__ import annotations

from pyspark.sql import functions as F

from vcfdbr_spark.operators.ids import with_dense_ids


def test_dense_ids_basic(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("chr"), (999 - F.col("id")).alias("pos")
    )
    out = with_dense_ids(df, ["chr", "pos"])
    rows = out.orderBy("variant_id").collect()
    assert [r["variant_id"] for r in rows] == list(range(1, 1001))
    # ids must follow (chr, pos) sort order exactly
    keys = [(r["chr"], r["pos"]) for r in rows]
    assert keys == sorted(keys)


def test_dense_ids_density_invariant(spark):
    df = spark.range(0, 12345).select(F.col("id").alias("pos"))
    out = with_dense_ids(df, ["pos"])
    agg = out.agg(
        F.max("variant_id").alias("mx"),
        F.count("*").alias("n"),
        F.countDistinct("variant_id").alias("nd"),
    ).first()
    assert agg["mx"] == agg["n"] == agg["nd"] == 12345


def test_dense_ids_custom_start(spark):
    df = spark.range(0, 10).select(F.col("id").alias("pos"))
    out = with_dense_ids(df, ["pos"], start=101)
    ids = [r["variant_id"] for r in out.orderBy("variant_id").collect()]
    assert ids == list(range(101, 111))
