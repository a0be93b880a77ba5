"""Query-surface operators — SURVEY.md §2.C, the canonical read
workload of the reference (benchmarks/00-benchmark-functions.R).

Each function builds a lazy DataFrame (the reference's dbplyr verb
chains build lazy SQL the same way, §3.2); the caller triggers
execution.  Join strategy notes are inline — at 100 TB the filtered
impact side of ``filter_test`` is small, so Catalyst/AQE broadcast it
against the info scan; the geno pull is a left-semi join that prunes
row groups on the range-sorted variant_id layout.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_test(
    variant_impact: DataFrame,
    variant_info: DataFrame,
    symbol: str,
    af: float = 0.01,
) -> DataFrame:
    """Per-gene rare-variant query (benchmarks/00-benchmark-functions.R:79-88):
    symbol filter → distinct (variant_id, symbol) → inner join info
    (af < threshold), projecting any_of(variant_id, geno, af).
    """
    left = (
        variant_impact.filter(F.col("symbol") == symbol)
        .select("variant_id", "symbol")
        .distinct()
    )
    keep = [c for c in ("variant_id", "geno", "af") if c in variant_info.columns]
    right = variant_info.select(*keep).filter(F.col("af") < af)
    return left.join(right, "variant_id", "inner")


def pull_vars_by_id(
    variant_geno: DataFrame, ids: Sequence[int] | DataFrame
) -> DataFrame:
    """Genotype pull by id set (benchmarks/00-benchmark-functions.R:45-51).

    Literal lists become an IN-list predicate (pushed to Parquet
    row-group stats on the id-sorted layout), parsed from the SQL text
    of the ids in one JVM call — ``Column.isin`` makes one py4j call
    per literal, which dominated a 1,000-id pull.  Every id must be an
    integer (``int`` or a numpy integer; anything else raises
    ``ValueError`` before the text is built), and an empty list pulls
    no rows.  A DataFrame id set becomes a left-semi join — one
    distributed query replaces the reference's fork-cluster per-bin
    loop (:22-44).
    """
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias("variant_id")).distinct()
        return variant_geno.join(ids_df, "variant_id", "left_semi")
    try:
        ids = [operator.index(i) for i in ids]
    except TypeError as e:
        raise ValueError(f"variant ids must be integers: {e}") from None
    if not ids:
        return variant_geno.filter(F.lit(False))
    if len(ids) > 5_000:
        # a 100k-literal IN predicate bloats the plan (analysis +
        # codegen scale with expression count); past this size the id
        # set rides as data — an Arrow-backed local frame feeding a
        # broadcast-able semi-join
        import pandas as pd

        ids_df = variant_geno.sparkSession.createDataFrame(
            pd.DataFrame({"variant_id": pd.array(ids, dtype="int64")}),
            schema="variant_id long",
        )
        return variant_geno.join(
            F.broadcast(ids_df.distinct()), "variant_id", "left_semi"
        )
    in_list = ",".join(map(str, ids))
    return variant_geno.filter(F.expr(f"variant_id IN ({in_list})"))


def pull_geno_test(
    variant_impact: DataFrame,
    variant_info: DataFrame,
    variant_geno: DataFrame,
    symbol: str,
    af: float = 0.01,
) -> DataFrame:
    """filter_test ∘ genotype pull (benchmarks/00-benchmark-functions.R:105-147):
    genotype rows for every rare variant of a gene."""
    ids = filter_test(variant_impact, variant_info, symbol, af).select("variant_id")
    return variant_geno.join(ids.distinct(), "variant_id", "left_semi")


def get_genes(gene_map: DataFrame) -> DataFrame:
    """Gene universe for the benchmark sweep
    (benchmarks/00-benchmark-functions.R:153-160): EntrezGene +
    Transcript rows → distinct non-null symbols."""
    return (
        gene_map.filter(
            (F.col("symbol_source") == "EntrezGene")
            & (F.col("feature_type") == "Transcript")
        )
        .select("symbol")
        .distinct()
        .filter(F.col("symbol").isNotNull())
    )


def per_gene_counts(
    variant_impact: DataFrame,
    variant_info: DataFrame,
    af: float = 0.01,
    bin_width: int = 500,
) -> DataFrame:
    """Matching-variant count per gene + benchmark bin
    (benchmarks/00-benchmark-functions.R:93, :176-182).

    One aggregation over ALL genes replaces the reference's
    per-gene query loop — the map-side partial aggregation makes this
    a single shuffle at any scale.  Bin parity with
    ``cut_width(width=500, center=250)``: right-closed intervals
    (0,500], (500,1000], … → index ``ceil(n/500)``.
    """
    pairs = (
        variant_impact.select("variant_id", "symbol")
        .distinct()
        .join(
            variant_info.select("variant_id", "af").filter(F.col("af") < af),
            "variant_id",
            "inner",
        )
    )
    return pairs.groupBy("symbol").agg(F.count("*").alias("n_vars")).withColumn(
        "bin", F.ceil(F.col("n_vars") / bin_width).cast("long")
    )


def interval_query(
    variant_info: DataFrame, chrom: str, start: int, end: int
) -> DataFrame:
    """Locus/range query — the in-memory GRanges sidecar's job
    (pipeline/03-index-db.R:72-82) as a plain pruned scan:
    overlap(chr, [start, end])."""
    return variant_info.filter(
        (F.col("chr") == chrom)
        & (F.col("start") <= end)
        & (F.col("end") >= start)
    )


def interval_join(
    variants: DataFrame,
    intervals: DataFrame,
    bin_size: int = 1_000_000,
) -> DataFrame:
    """Range join: (variant_id, i_id) for every variant whose
    [start, end] overlaps an interval's [i_start, i_end] — the
    multi-interval generalization of ``interval_query`` (the
    reference's GRanges sidecar holds ALL variant ranges in memory;
    findOverlaps is its analog).

    Spark has no native range join; a plain non-equi join plans a
    nested-loop cross product.  This is the standard BIN JOIN: both
    sides explode into the fixed-width genomic bins they touch, join
    on (chr, bin) EQUALITY — a hash-partitioned shuffle join Catalyst
    handles like any other — then the exact overlap predicate filters
    within bins and distinct removes double-counted pairs that
    straddle a bin boundary.  Cost is O(overlapping-bin pairs), never
    |variants| × |intervals|.
    """
    v = variants.select(
        "variant_id",
        F.col("chr").alias("_vchr"),
        "start",
        F.col("end").alias("vend"),
        F.explode(
            F.sequence(
                F.floor(F.col("start") / bin_size),
                F.floor(F.col("end") / bin_size),
            )
        ).alias("_bin"),
    )
    iv = intervals.select(
        "i_id",
        F.col("i_chr").alias("_ichr"),
        "i_start",
        "i_end",
        F.explode(
            F.sequence(
                F.floor(F.col("i_start") / bin_size),
                F.floor(F.col("i_end") / bin_size),
            )
        ).alias("_bin"),
    )
    return (
        v.join(iv, (v._vchr == iv._ichr) & (v._bin == iv._bin))
        .filter(
            (F.col("start") <= F.col("i_end"))
            & (F.col("vend") >= F.col("i_start"))
        )
        .select("variant_id", "i_id")
        .distinct()
    )
