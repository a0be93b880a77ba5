"""Dense sequential id assignment — the reference's ``variant_id``.

Reference semantics (pipeline/02-build-db.R:258-259, :522): ids are a
dense 1..N sequence assigned in chunk order, i.e. in (chr, pos) order
of the tabix scan; density is load-bearing — the random-pull benchmark
samples uniformly from 1:max_id (benchmarks/00-benchmark-functions.R:58-59)
and file-mode uses the id as a filename.

Scale design: a naive ``row_number() OVER (ORDER BY ...)`` collapses
to a single partition — unusable at 100 TB.  Instead ids come from a
two-level scheme where the split is a **pure function of the data**:

1. every row gets a bucket = a monotone prefix function of its sort
   key (e.g. ``(chr, floor(pos / 1e6))`` for genomes) — bucket order
   IS sort-key order, so bucket-local ranks concatenate into the
   global rank;
2. per-bucket counts (one row per bucket) get a cumulative-sum window
   (tiny frame, single task) → bucket start offsets, broadcast back;
3. id = bucket offset + intra-bucket row_number (window partitioned
   by bucket — every bucket sorts independently in parallel).

Why not physical-partition tricks (``spark_partition_id`` after
``repartitionByRange``, or RDD ``zipWithIndex``)?  They tie ids to
one specific physical execution: range-boundary sampling is sensitive
to shuffle-fetch arrival order, AQE may coalesce the exchange
differently for different consumers of the same subplan, and a
recomputation after cache eviction can reassign partitions.  Each of
those produced silently wrong ids (rows lost or ids duplicated) in
practice.  A data-derived bucket is identical on every execution, on
any cluster, under any adaptive re-planning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "variant_id",
    start: int = 1,
    bucket: Column | list[str] | None = None,
) -> DataFrame:
    """Assign a dense sequential ``id_col`` (start..start+N-1) ordered
    by ``order_cols``.

    ``bucket`` — the parallelism unit: a Column expression (or list of
    column names) that is a MONOTONE PREFIX of the ``order_cols``
    ordering (rows in a lower bucket must sort before every row of a
    higher bucket).  Defaults to ``order_cols[:1]`` (the leading
    column — typically the contig, i.e. coarse); for very large
    data pass something finer, e.g. ``(chr, floor(pos/1e6))`` — aim
    for bucket sizes that sort comfortably in one task (≤ ~10M rows).

    Invariants (tested): ids dense 1..N, exactly rank order of
    ``order_cols``, identical across re-executions.
    """
    parts = [F.col(c) for c in order_cols]
    if bucket is None:
        # coarse default: the leading order column.  Callers with a
        # near-unique leading column should pass a coarser expression
        # (per-row buckets make the offsets frame as big as the data).
        bucket = order_cols[:1]
    if isinstance(bucket, list):
        bucket_expr = (
            F.struct(*[F.col(c) for c in bucket]) if bucket else F.lit(0)
        )
    else:
        bucket_expr = bucket
    with_b = df.withColumn("_bucket", bucket_expr)

    # One row per bucket → the cumulative-sum window runs over a tiny
    # frame in a single task; this is O(buckets), not O(rows).
    w_cum = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_b.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_offset",
            (F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0)) + F.lit(start)).cast(
                "long"
            ),
        )
        .drop("_cnt")
    )
    w_local = Window.partitionBy("_bucket").orderBy(*parts)
    out = (
        with_b.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            id_col,
            (F.row_number().over(w_local) - 1 + F.col("_offset")).cast("long"),
        )
        .drop("_bucket", "_offset")
    )
    return out.select(id_col, *df.columns)
