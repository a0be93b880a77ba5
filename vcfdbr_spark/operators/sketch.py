"""Deterministic set sketches: KMV bottom-k and corpus-overlap
estimation.

A training-data pipeline constantly asks "how much of corpus B is
already in corpus A?" — recrawl overlap, mixture double-counting,
corpus-level contamination.  Exact answers need a full distinct-join
of both corpora; a KMV (k-minimum-values) sketch answers with k
hashes per corpus, and — unlike HyperLogLog / approx_count_distinct —
is a pure DETERMINISTIC function of the data (the bottom-k of an
engine-portable md5 order), so estimates are reproducible across
engines, partitionings, and reruns, and a DuckDB oracle can replay
them bit-exactly.

Estimator background is textbook (Bar-Yossef et al. 2002; Beyer et
al. 2007 "Distinct-value synopses"): with h mapping values uniformly
into [0, H), the k-th smallest distinct hash h_k estimates
|S| ≈ (k−1)·H/h_k, and for two sets the bottom-k of the UNION of
their sketches M satisfies J(A,B) ≈ |M ∩ K_A ∩ K_B| / |M|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash domain: 15 md5 hex chars → integers in [0, 16^15) ⊂ long
HASH_SPACE = 16**15


def md5_hash60(col: Column) -> Column:
    """Engine-portable 60-bit uniform hash of ``col`` (15 md5 hex
    chars as a BIGINT — same value in Spark and DuckDB)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_bottom_k(
    df: DataFrame,
    value_col: str,
    k: int,
    prefilter: bool = False,
    oversample: int = 8,
) -> DataFrame:
    """The ``k`` smallest DISTINCT hash values of ``value_col`` — the
    KMV sketch — as a one-column frame ``h`` (≤ k rows; fewer iff the
    corpus has fewer distinct values).

    The result is a pure function of the data: bottom-k of distinct
    md5-derived integers, no RNG, no engine-internal sketch state.

    Scale shape — the naive plan is distinct() (a shuffle carrying
    EVERY distinct hash; linear but the whole corpus's key set moves)
    then TakeOrderedAndProject.  With ``prefilter=True`` the sketch
    instead (1) estimates the distinct count n̂ with one
    approx_count_distinct pass, (2) keeps only
    ``h < H·oversample·k/n̂`` — ~oversample·k expected survivors, so
    the distinct+sort runs over thousands of rows however large the
    corpus — and (3) falls back to the exact full path iff fewer than
    ``k`` distinct survivors remain (n̂ overshot, or the corpus really
    has < k distinct values — indistinguishable cheaply, and the
    fallback is correct for both).  n̂ influences only WHICH exact
    plan runs, never the result: any threshold ≥ the k-th smallest
    distinct hash yields the identical bottom-k, so the sketch stays
    deterministic while the cost adapts.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    # NULL values hash to NULL, and ascending orderBy puts NULLs FIRST
    # in Spark — an unfiltered NULL would occupy a sketch slot and bias
    # the (k-1)*H/h_max estimator.  Match countDistinct's NULL-ignoring
    # semantics (and the DuckDB oracle's NULLS LAST) by dropping them.
    hs = df.select(md5_hash60(F.col(value_col)).alias("h")).filter(
        F.col("h").isNotNull()
    )
    if prefilter:
        n_hat = hs.agg(F.approx_count_distinct("h").alias("n")).first()["n"]
        if n_hat > oversample * k:
            thr = int(HASH_SPACE * oversample * k / n_hat)
            # ~oversample*k expected survivors: small enough to collect,
            # so the filtered distinct+sort runs ONCE (the count check
            # and the returned frame share the collected rows) instead
            # of twice (once for .count(), again at consumption).
            rows = hs.filter(F.col("h") < thr).distinct().orderBy("h").limit(k).collect()
            if len(rows) >= k:
                return df.sparkSession.createDataFrame(rows, "h long")
            # fewer than k distinct survivors: threshold too tight OR
            # genuinely sparse corpus — re-run exact either way
    return hs.distinct().orderBy("h").limit(k)


def kmv_overlap(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    k: int = 256,
    prefilter: bool = False,
) -> DataFrame:
    """One-row corpus-overlap estimate between the value sets of two
    frames: ``kmv_jaccard`` (the bottom-k Jaccard estimator),
    ``kmv_union`` (KMV cardinality of A∪B), ``kmv_intersection``
    (their product, rounded down), ``merged_k`` (how many merged
    sketch slots were filled — the estimator's effective sample
    size), per-side cardinalities ``kmv_card_a``/``kmv_card_b``, and
    the directional containments ``containment_a`` (share of A's
    values also in B — "how much of my corpus does the other one
    cover?") and ``containment_b`` (share of B in A — "how much of
    the recrawl is NOT new?").

    All deterministic: the merged sketch M is the bottom-k of
    K_A ∪ K_B (itself the bottom-k of distinct(A ∪ B), since any of
    the union's k smallest hashes is within the bottom-k of every
    side that contains it), J = |M ∩ K_A ∩ K_B| / |M|, and every
    cardinality is (|K|−1)·H/max(K) when its sketch filled (the
    exact |K| otherwise — a sketch smaller than k IS the full
    distinct set).  An empty side gives a zero-overlap row: Jaccard,
    intersection and both containments 0, ``merged_k`` the other
    side's filled slots.

    Scale: each side moves at most its sketch (k rows) after its
    bottom-k pass (see :func:`kmv_bottom_k` for the prefiltered scan
    shape); the merge/join stage is O(k) regardless of corpus size —
    measuring overlap between two 100 TB corpora exchanges kilobytes.
    """
    ka = kmv_bottom_k(a, value_col, k, prefilter=prefilter)
    kb = kmv_bottom_k(b, value_col, k, prefilter=prefilter)
    return kmv_overlap_sketches(ka, kb, k)


def _ratio(num: str, den: str):
    """``num / den`` rounded to 6 places, 0.0 when ``den`` is 0: an
    empty sketch overlaps nothing (the division alone would raise
    ``DIVIDE_BY_ZERO`` under ANSI mode)."""
    return F.when(
        F.col(den) > 0, F.round(F.col(num) / F.col(den), 6)
    ).otherwise(F.lit(0.0))


def kmv_overlap_sketches(ka: DataFrame, kb: DataFrame, k: int) -> DataFrame:
    """:func:`kmv_overlap` over two ALREADY-BUILT bottom-k sketches
    (``h`` frames from :func:`kmv_bottom_k` or a persisted
    :func:`vcfdbr_spark.streaming.ingest.stream_sketch` state) — the
    corpora themselves are never touched, so overlap questions
    against a maintained sketch cost O(k) total.  Both sketches must
    have been built with the same ``k`` (and the same hash, which is
    fixed module-wide)."""
    merged = ka.union(kb).distinct().orderBy("h").limit(k)

    def _card(sketch: DataFrame, out: str) -> DataFrame:
        """KMV cardinality of one sketch as a 1-row frame."""
        return sketch.agg(
            F.count(F.lit(1)).alias("_n"), F.max("h").alias("_hm")
        ).select(
            F.when(F.col("_n") < k, F.col("_n").cast("long"))
            .otherwise(
                F.floor(
                    F.lit(float((k - 1) * HASH_SPACE)) / F.col("_hm")
                ).cast("long")
            )
            .alias(out)
        )

    stats = merged.agg(
        F.count(F.lit(1)).alias("merged_k"),
        F.max("h").alias("h_max"),
    )
    in_both = (
        merged.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        stats.crossJoin(in_both)
        .crossJoin(_card(ka, "kmv_card_a"))
        .crossJoin(_card(kb, "kmv_card_b"))
        .select(
            F.col("merged_k").cast("long").alias("merged_k"),
            _ratio("n_both", "merged_k").alias("kmv_jaccard"),
            F.when(
                F.col("merged_k") < k, F.col("merged_k").cast("long")
            )
            .otherwise(
                F.floor(
                    F.lit(float((k - 1) * HASH_SPACE)) / F.col("h_max")
                ).cast("long")
            )
            .alias("kmv_union"),
            "kmv_card_a",
            "kmv_card_b",
        )
        .select(
            "merged_k",
            "kmv_jaccard",
            "kmv_union",
            F.floor(F.col("kmv_jaccard") * F.col("kmv_union"))
            .cast("long")
            .alias("kmv_intersection"),
            "kmv_card_a",
            "kmv_card_b",
        )
        .select(
            "*",
            _ratio("kmv_intersection", "kmv_card_a").alias("containment_a"),
            _ratio("kmv_intersection", "kmv_card_b").alias("containment_b"),
        )
    )
