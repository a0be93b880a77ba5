"""Query-surface operators — SURVEY.md §2.C, the canonical read
workload of the reference (benchmarks/00-benchmark-functions.R).

Each function returns a lazy DataFrame (the reference's dbplyr verb
chains build lazy SQL the same way, §3.2); the caller triggers
execution.  The gene reads ``filter_test`` and ``pull_geno_test`` are
index-then-fetch, the reference's "searches are index lookups, not
scans": while the plan is built each runs a small driver collect of
the gene's ids (a ``symbol``-pruned ``variant_impact`` scan), then
reads ``variant_info`` — and ``variant_geno`` — by a ``variant_id``
IN-list, pruned on the id-sorted layout.  Driver memory is bounded by
``ID_LIST_LIMIT``: the collect stops at ``ID_LIST_LIMIT + 1`` impact
rows (one 8-byte Arrow id each), and a gene with more falls back to a
join, ``pull_vars_by_id``'s semi-join with the filtered impact ids,
whose small side the planner broadcasts so the big side never moves.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Most ids a plan carries as IN-list literals, and a gene read keeps on
# the driver: a 100k-literal IN predicate bloats the plan (analysis and
# codegen scale with expression count), so past this size the id set
# rides as data in a join.
ID_LIST_LIMIT = 5_000


def int_ids(ids) -> list[int]:
    """``ids`` as plain ints; anything else raises ``ValueError``
    before an id reaches SQL text."""
    try:
        return [operator.index(i) for i in ids]
    except TypeError as e:
        raise ValueError(f"variant ids must be integers: {e}") from None


def _by_ids(df: DataFrame, ids: list[int]) -> DataFrame:
    """``df`` rows whose ``variant_id`` is in ``ids`` (at most
    ``ID_LIST_LIMIT`` ints), as one IN predicate parsed from its SQL
    text in one JVM call — ``Column.isin`` makes one py4j call per
    literal, which dominated a 1,000-id pull."""
    if not ids:
        return df.filter(F.lit(False))
    # literals typed like a bigint column: the analyzer wraps each
    # untyped int literal in a Cast, 40 ms of a 1,777-id plan
    suffix = "L" if isinstance(df.schema["variant_id"].dataType, LongType) else ""
    return df.filter(F.expr(f"variant_id IN ({','.join(f'{i}{suffix}' for i in ids)})"))


def _gene_ids(variant_impact: DataFrame, symbol: str) -> list[int] | DataFrame:
    """The gene's variant ids for ``pull_vars_by_id``: a sorted list
    from one job — a ``symbol``-pruned impact scan collected as one
    Arrow column of at most ``ID_LIST_LIMIT + 1`` rows and deduplicated
    on the driver (a JVM ``distinct`` would add a shuffle job).  A gene
    with more impact rows than ``ID_LIST_LIMIT`` keeps its ids off the
    driver: the filtered scan itself is returned, for the semi-join."""
    rows = variant_impact.filter(
        (F.col("symbol") == symbol) & F.col("variant_id").isNotNull()
    ).select("variant_id")
    head = rows.limit(ID_LIST_LIMIT + 1).toPandas()["variant_id"].to_numpy()
    return rows if len(head) > ID_LIST_LIMIT else int_ids(np.unique(head))


def _rare_variants(
    variant_info: DataFrame, symbol: str, af: float, ids: list[int] | DataFrame
) -> DataFrame:
    """``filter_test``'s frame for the gene ids ``_gene_ids`` returned."""
    keep = [c for c in ("variant_id", "geno", "af") if c in variant_info.columns]
    right = variant_info.select(*keep).filter(F.col("af") < af)
    return pull_vars_by_id(right, ids).select(
        "variant_id", F.lit(symbol).alias("symbol"), *keep[1:]
    )


def filter_test(
    variant_impact: DataFrame,
    variant_info: DataFrame,
    symbol: str,
    af: float = 0.01,
) -> DataFrame:
    """Per-gene rare-variant query (benchmarks/00-benchmark-functions.R:79-88):
    symbol filter → distinct (variant_id, symbol) → inner join info
    (af < threshold), projecting any_of(variant_id, geno, af) — columns
    ``variant_id, symbol, [geno,] af``.

    Runs one small driver collect while the plan is built — the gene's
    ids, at most ``ID_LIST_LIMIT + 1`` impact rows, so driver memory is
    bounded by that limit — and returns one ``variant_info`` scan with
    ``variant_id IN (…)`` and the ``af`` bound pushed to Parquet.  A
    gene with more impact rows falls back to a join: ``variant_info``
    semi-joined with the ``symbol``-filtered impact ids, a small side
    the planner broadcasts.
    """
    return _rare_variants(variant_info, symbol, af, _gene_ids(variant_impact, symbol))


def pull_vars_by_id(
    variant_geno: DataFrame, ids: Sequence[int] | DataFrame
) -> DataFrame:
    """Genotype pull by id set (benchmarks/00-benchmark-functions.R:45-51);
    also the gene reads' fetch from ``variant_info`` — any frame with a
    ``variant_id`` column works, and this is the one place that picks
    how an id set reaches the scan.

    Literal lists of up to ``ID_LIST_LIMIT`` ids become an IN-list
    predicate (pushed to Parquet row-group stats on the id-sorted
    layout).  Every id must be an integer (``int`` or a numpy integer;
    anything else raises ``ValueError`` before the predicate is built),
    and an empty list pulls no rows.  A longer list rides as data — an
    Arrow-backed local frame feeding a broadcast-able semi-join — and a
    DataFrame id set becomes a left-semi join: one distributed query
    replaces the reference's fork-cluster per-bin loop (:22-44).
    """
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias("variant_id")).distinct()
        return variant_geno.join(ids_df, "variant_id", "left_semi")
    ids = int_ids(ids)
    if len(ids) > ID_LIST_LIMIT:
        import pandas as pd

        ids_df = variant_geno.sparkSession.createDataFrame(
            pd.DataFrame({"variant_id": pd.array(ids, dtype="int64")}),
            schema="variant_id long",
        )
        return variant_geno.join(
            F.broadcast(ids_df.distinct()), "variant_id", "left_semi"
        )
    return _by_ids(variant_geno, ids)


def pull_geno_test(
    variant_impact: DataFrame,
    variant_info: DataFrame,
    variant_geno: DataFrame,
    symbol: str,
    af: float = 0.01,
) -> DataFrame:
    """filter_test ∘ genotype pull (benchmarks/00-benchmark-functions.R:105-147):
    genotype rows for every rare variant of a gene.

    Runs ``filter_test``'s driver collect, plus one more of its rare
    ids, while the plan is built, and returns
    ``pull_vars_by_id(variant_geno, rare_ids)``.  Driver memory is
    bounded by ``ID_LIST_LIMIT``: the rare ids are a subset of the
    gene's.  For a gene past the limit the rare set stays a frame, and
    the fallback is one query — the geno table semi-joined with
    ``filter_test``'s join.
    """
    ids = _gene_ids(variant_impact, symbol)
    rare = _rare_variants(variant_info, symbol, af, ids).select("variant_id")
    if isinstance(ids, list):
        rare = rare.toPandas()["variant_id"].tolist()
    return pull_vars_by_id(variant_geno, rare)


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
