"""Input spreading for CPU-heavy per-row expansions (:func:`spread_scan`).

Skewed join keys need no operator here: AQE's skew-join splitting
(enabled in session.py) splits hot partitions at runtime, and the
canonical gene queries are skew-proof by plan shape (the filtered
side broadcasts; per-gene counts partial-aggregate map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: a scan whose total input is below this many bytes PER CORE would
#: otherwise under-parallelize the row expansion; above it, parquet
#: range-splitting already yields enough scan tasks
_SPREAD_BYTES_PER_SLOT = 8 * 1024 * 1024


def spread_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Give a CPU-heavy per-row expansion (shingle/token/bigram
    explode) at least the session's default parallelism to run on.

    A scan of a small file set yields as few tasks as there are
    row groups — often ONE — so the expansion's whole-stage codegen
    runs on a single core while the rest of the cluster idles (the
    §2.5 input-parallelism problem: the cost is not the bytes scanned
    but the work fanned out PER row; measured at sf0.1 the
    shingle+md5 stage of the LSH pipeline was a single 5-second task
    with 31 cores idle).

    The decision uses only driver-side metadata — ``df.inputFiles()``
    plus file sizes — never the plan's RDD: converting an
    AQE-enabled plan to an RDD materializes its query stages, i.e.
    silently EXECUTES the upstream job (measured 4.6× on a deep
    plan).  The spread fires only when the frame's entire input is
    both few files (< parallelism) and small (< 8 MB/core): exactly
    the regime where the extra round-robin exchange is cheapest and
    the per-row CPU dominates.  At scale either test fails and this
    is a no-op — large inputs range-split into enough scan tasks on
    their own.

    The repartition is keyless round-robin — deterministic under task
    retry because ``spark.sql.execution.sortBeforeRepartition`` stays
    at its default — and sits BELOW every aggregation, so results are
    unchanged by construction.
    """
    spark = df.sparkSession
    if min_parts is not None:
        target = min_parts
    else:
        try:
            target = spark.sparkContext.defaultParallelism
        except Exception:
            # session types without a classic SparkContext (e.g.
            # Spark Connect): degrade to the documented no-op rather
            # than raising out of every caller
            return df
    if target <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:  # un-plannable frame (e.g. streaming source)
        return df
    if not files or len(files) >= target:
        return df
    try:
        jvm = spark._jvm
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            total += fs.getFileStatus(p).getLen()
    except Exception:
        return df
    if total >= target * _SPREAD_BYTES_PER_SLOT:
        return df
    return df.repartition(target)

