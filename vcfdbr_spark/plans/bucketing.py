"""Bucketed-table layout: shuffle-free co-located joins.

The reference's genotype pulls join on ``variant_id`` constantly
(benchmarks/00-benchmark-functions.R:45-51, :137-140).  At 100 TB the
geno⋈info join shuffles both sides every query unless the tables are
co-bucketed: ``bucketBy(n, key)`` at write time pins rows to buckets
by hash, so a later equi-join on the key reads matching buckets
side-by-side — no Exchange in the plan, ever.  This is the Spark
rendering of the reference's "both tables indexed on variant_id"
design (pipeline/03-index-db.R:37-43).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) parquet
    table registered in the session catalog."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
