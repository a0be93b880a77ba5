"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — query set × corpus.
  Scale path: the query side is broadcast (small), the corpus scan
  stays partitioned; per-partition top-k happens inside the window's
  partial sort.  Cost is O(|Q|·|C|·d) — the baseline.
- ``lsh_topk``: random-hyperplane-free LSH variant using quantized
  component signs as the bucket key (engine-portable, no RNG):
  candidates share a bucket, then exact re-rank.  The scale path for
  |C| ≫ 10⁶ per query.

Scores are computed in QUANTIZED INTEGER space (component ×1000 →
BIGINT): dot/norms are exact integer sums (order-independent —
deterministic on any engine / any partitioning), converted to a
double cosine once at the end.  Rounded to 6 dp + id tiebreak →
stable ranking everywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _quantize(col, scale: int = 1000):
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def with_quantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    q = _quantize(F.col(vec_col))
    return df.withColumn("_qv", q).withColumn("_norm", _dot(F.col("_qv"), F.col("_qv")))


def cosine_score(qv, cv, qn, cn):
    return F.round(
        _dot(qv, cv).cast("double")
        / (F.sqrt(qn.cast("double")) * F.sqrt(cn.cast("double"))),
        6,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus
    (excluding self-matches by id)."""
    c = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.col("_qv").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_qv").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "score",
            cosine_score(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
        )
        .select("query_id", "cand_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def sign_band_buckets(vec_col, n_bands: int = 4, bits_per_band: int = 16):
    """Array of per-band sign buckets; band b hashes components
    [b·bpb, (b+1)·bpb).  The MinHash-style banding trade-off
    (dedup.py:65-77) applied to hyperplane LSH: WIDE buckets bound the
    per-bucket population (2^bits buckets ⇒ ~|C|/2^bits rows each, so
    the bucket self-join is never quadratic in |C|), while MULTIPLE
    bands restore recall (a near-dup pair agreeing on most signs
    collides in ≥1 band w.h.p.).  Round-1's single 8-bit bucket was
    the inverse — 256 buckets → O((|C|/256)²) pairs — a scale-killer
    at 10⁹ vectors."""
    bands = []
    for b in range(n_bands):
        sl = F.slice(vec_col, b * bits_per_band + 1, bits_per_band)
        signs = F.transform(
            sl,
            lambda x: F.when(x.cast("double") >= 0, F.lit("1")).otherwise(
                F.lit("0")
            ),
        )
        # bands past the vector's length would hash everything to "";
        # NULL instead — equality joins drop NULL buckets
        bands.append(F.when(F.size(sl) > 0, F.concat_ws("", signs)))
    return F.array(*bands)


# adaptive band-bits policy (shared with the DuckDB oracle, which
# computes GREATEST(floor, CEIL(LOG2(COUNT(*))) + slack) inline):
# 2^bits must scale with |C| or the same-bucket pair count grows
# ~n_bands·|C|²/2^bits even under UNIFORM bucket load — measured
# 124 → 25,241 candidate pairs for 10× vectors at a STATIC 16 bits
# (BENCH_NOTES r10).  bits = log2|C| + slack makes expected pairs
# ~n_bands·|C|/2^(slack+1): linear in the corpus by construction.
ADAPTIVE_BITS_FLOOR = 8
ADAPTIVE_BITS_SLACK = 4
BAND_STRIDE = 16


def adaptive_band_bits(
    n: int, floor: int = ADAPTIVE_BITS_FLOOR, slack: int = ADAPTIVE_BITS_SLACK
) -> int:
    """Corpus-size-derived bits per sign band: ``max(floor,
    ceil(log2 n) + slack)``.  ``(n-1).bit_length()`` IS ceil(log2 n)
    for every integer n ≥ 2 (exact — no float log), and matches the
    oracle's ``CEIL(LOG2(n))`` bit-for-bit including exact powers of
    two (see test_data_ops adaptive-bits parity test)."""
    if n < 2:
        return floor
    return max(floor, (n - 1).bit_length() + slack)


# recall-targeted band count (the other half of the adaptive-width
# policy): widening the bands to hold candidate growth linear
# (adaptive_band_bits) LOWERS the per-band collision probability
# p^bits of a true near-dup pair at the detection threshold, so a
# FIXED band count silently loses recall as the corpus grows —
# measured at sf1: final pairs 16,717 → 7,511 when 16-bit bands
# became 19-bit (BENCH_NOTES r11).  Classic LSH tuning closes it:
# pick the smallest n_bands with 1−(1−p^bits)^n_bands ≥ recall, so
# bands grow ~(1/p)^bits ≈ |C|^(log2(1/p)) and total candidate work
# is |C|^(1+ρ) — sub-quadratic, the textbook LSH exponent — instead
# of either quadratic (static width) or recall-decaying (static
# count).  ADAPTIVE_BANDS_CAP bounds the multiplier; past it (bits ≳
# 32 at threshold 0.95, a ~10⁹-vector corpus) recall decays again
# and raising the cap — linear cost — is the intended lever.
ADAPTIVE_BANDS_FLOOR = 4
ADAPTIVE_BANDS_CAP = 64
ADAPTIVE_RECALL_TARGET = 0.9
# auto-band offsets step by 17, not BAND_STRIDE=16: offsets
# (b·stride) mod d must be DISTINCT or extra bands re-read the same
# sign window and add zero recall — stride 16 on d=64 yields only 4
# distinct windows, while gcd(17, d)=1 for every power-of-two /
# common embedding dim, giving d distinct windows.
ADAPTIVE_BAND_STRIDE = 17


def collision_prob(threshold: float) -> float:
    """Per-sign-bit collision probability of a pair at exactly
    ``threshold`` cosine under hyperplane LSH: 1 − θ/π (Goemans–
    Williamson / Charikar's SimHash bound, public textbook result)."""
    return 1.0 - math.acos(threshold) / math.pi


def adaptive_band_count(
    bits: int,
    threshold: float,
    recall_target: float = ADAPTIVE_RECALL_TARGET,
    floor: int = ADAPTIVE_BANDS_FLOOR,
    cap: int = ADAPTIVE_BANDS_CAP,
) -> int:
    """Smallest band count holding ``P(≥1 band collides) ≥
    recall_target`` for a pair at ``threshold`` cosine given
    ``bits``-wide bands: ``ceil(log(1−recall)/log(1−p^bits))``,
    clamped to [floor, cap].  Python-only float math — the oracle
    side embeds the RESULT as a generated integer lookup over bits
    (entry_queries._band_count_case), never re-deriving it in SQL,
    so there is no cross-engine libm boundary to disagree on."""
    p = collision_prob(threshold)
    q = p**bits
    if q >= 1.0:
        return floor
    if q <= 0.0:  # p == 0 (threshold −1): no count can reach the target
        return cap
    need = math.log1p(-recall_target) / math.log1p(-q)
    return max(floor, min(cap, math.ceil(need)))


def estimated_band_recall(bits: int, n_bands: int, threshold: float) -> float:
    """Model recall 1−(1−p^bits)^n_bands for a pair at exactly
    ``threshold`` cosine — the number :func:`adaptive_band_count`
    targets.  Exposed so callers (and ``embedding_dup_pairs`` stats)
    can SEE when the cap has been hit and the target is no longer
    met, instead of discovering it in a downstream quality audit."""
    q = collision_prob(threshold) ** bits
    return 1.0 - (1.0 - q) ** n_bands


def sign_band_buckets_wrapped(
    vec_col, n_bands: int = 4, bits: int = 16, stride: int = BAND_STRIDE
):
    """Per-band sign buckets with WRAPPED reads: the full sign string
    (one char per component) is doubled and band b reads ``bits``
    chars starting at ``(b·stride) mod d`` — so ``bits`` can exceed
    the per-band share of the dimensionality (adaptive bits need
    e.g. 19 bits/band over a 64-dim vector; disjoint 16-dim slices
    cap out at 16).  With ``bits == stride`` and ``n_bands·stride ≤
    d`` this is bucket-identical to :func:`sign_band_buckets`'s
    disjoint slices (pinned by test).  Overlapping bands carry
    correlated bits — fine for LSH: selectivity comes from bucket
    width, recall from band count; neither needs independence."""
    signs = F.concat_ws(
        "",
        F.transform(
            vec_col,
            lambda x: F.when(x.cast("double") >= 0, F.lit("1")).otherwise(
                F.lit("0")
            ),
        ),
    )
    d = F.size(vec_col)
    doubled = F.concat(signs, signs)
    bands = []
    for b in range(n_bands):
        start = (F.lit(b * stride) % d) + F.lit(1)
        # empty vectors would bucket to "" — NULL instead, equality
        # joins drop NULL buckets (same contract as the disjoint path)
        bands.append(F.when(d > 0, doubled.substr(start, F.lit(bits))))
    return F.array(*bands)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist_mod: int = 25,
    nlist: int | None = None,
) -> DataFrame:
    """Deterministic, training-free centroid selection for the IVF
    index (no RNG, no k-means iterations — oracle-checkable).

    Two parameterizations:

    - ``nlist`` (absolute count, THE scale path): one representative
      per ``id % nlist`` hash bucket (the bucket's min-id vector), so
      |centroids| ≤ nlist NO MATTER how large the corpus grows — the
      centroid broadcast stays bounded at 10⁹ vectors and assignment
      cost is O(|C|·nlist), linear in the corpus.  Costs one
      aggregate over corpus ids at index-build time (amortized: the
      index is built once, reused per query batch).
    - ``nlist_mod`` (legacy default): vectors with
      ``id % nlist_mod == 0``.  |centroids| = |C|/nlist_mod grows
      WITH the corpus — fine for tests/oracles on bounded data,
      quadratic at scale; prefer ``nlist`` or injected centroids.

    Production recall: train real centroids offline (k-means on a
    sample) and pass them straight to ``ivf_assign``/``ivf_topk`` via
    their ``centroids=`` parameter instead of calling this."""
    if nlist is not None:
        reps = (
            corpus.groupBy((F.col(id_col) % nlist).alias("_bkt"))
            .agg(F.min(id_col).alias(id_col))
            .drop("_bkt")
        )
        return corpus.join(reps, id_col, "left_semi").select(id_col, vec_col)
    return corpus.filter(F.col(id_col) % nlist_mod == 0).select(id_col, vec_col)


def _quantized_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_vid, vv, vn) projection of ``with_quantized`` — the shared
    scoring-side shape for assignment."""
    return with_quantized(df, vec_col).select(
        F.col(id_col).alias("_vid"),
        F.col("_qv").alias("vv"),
        F.col("_norm").alias("vn"),
    )


def _nearest_centroid(qc: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector — shuffle-light argmin.

    The centroid side is broadcast, so all |centroids| candidate rows
    for a given vector are produced inside the partition that holds
    the vector; the ``max(struct)`` aggregate collapses them MAP-SIDE
    (partial aggregation) and the exchange carries one row per vector
    — not the |C|·|centroids| rows a ``row_number`` window would
    shuffle.  Tie-break identical to the old window (score desc, then
    cent_id asc): ``max`` of ``(score, -cent_id)`` is a total order,
    so the result is deterministic.

    ``qc``: ``(_vid, vv, vn)`` quantized vectors; ``cents``:
    ``(cent_id, cv, cn)`` quantized centroids.  Returns
    ``(_vid, cent_id)``.
    """
    scored = qc.join(F.broadcast(cents)).withColumn(
        "score",
        cosine_score(F.col("vv"), F.col("cv"), F.col("vn"), F.col("cn")),
    )
    best = scored.groupBy("_vid").agg(
        F.max(
            F.struct(F.col("score"), (-F.col("cent_id")).alias("_nc"))
        ).alias("_b")
    )
    return best.select("_vid", (-F.col("_b._nc")).alias("cent_id"))


def ivf_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist_mod: int = 25,
    nlist: int | None = None,
    centroids: DataFrame | None = None,
    spread: bool = False,
) -> DataFrame:
    """IVF inverted-list assignment: every vector → its nearest
    centroid.  Centroids come from ``centroids`` (externally trained —
    the production path), else ``ivf_centroids`` (deterministic,
    oracle-checkable; pass ``nlist`` for a corpus-independent bound).

    Scale shape: |C| × |centroids| scored with the centroid side
    broadcast (bounded when |centroids| is — use ``nlist`` or an
    external frame, never ``nlist_mod``, past ~10⁷ vectors); the
    argmin is a partial-aggregated ``max(struct)``, so the exchange
    carries |C| rows, not |C|·|centroids|.  The output is the
    inverted index, built once and reused across queries.

    ``spread``: opt-in ``skew.spread_scan`` of the corpus before the
    per-row O(nlist·dim) scoring.  ONLY the amortized build paths
    (``write_ivf_index``; ``ivf_train`` spreads its own persisted
    corpus) set it: r14 shipped the spread unconditionally and the
    driver measured the per-QUERY assign path (``ivf_topk``) at
    0.31× with anti-scaling ratio 0.34 — on a small corpus the extra
    round-robin exchange plus defaultParallelism near-empty tasks per
    action cost more than the one-task scan they replace, and the
    cost grows with core count.  Default off restores the r13 probe
    plan; a one-shot index build amortizes the exchange over the
    whole build and keeps it.
    """
    if centroids is None:
        centroids = ivf_centroids(corpus, id_col, vec_col, nlist_mod, nlist)
    if spread:
        from vcfdbr_spark.operators.skew import spread_scan

        corpus = spread_scan(corpus)
    qc = _quantized_vectors(corpus, id_col, vec_col)
    cents = with_quantized(centroids, vec_col).select(
        F.col(id_col).alias("cent_id"),
        F.col("_qv").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    return _nearest_centroid(qc, cents).select(
        F.col("_vid").alias(id_col), "cent_id"
    )


def ivf_train(
    corpus: DataFrame,
    nlist: int = 64,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means (Lloyd) centroid training for the IVF
    index — the production-recall path ``ivf_centroids``'s docstring
    defers to, now in-engine.

    Init = the ``nlist`` hash-bucket representatives (no RNG); each
    iteration is (1) nearest-centroid assignment (centroids broadcast,
    O(|C|·nlist) — same plan as ``ivf_assign``) and (2) new centroids
    as the per-dimension MEAN of the QUANTIZED member vectors,
    floor-divided — exact integer sums, so the result is identical on
    any partitioning/engine (floating-point k-means is famously
    order-dependent; this formulation is oracle-checkable in SQL).
    The mean maps back to float space as ``m/1000.0``, which
    re-quantizes to exactly ``m`` downstream — no drift between
    training space and scoring space.

    Empty clusters drop out (both engines identically).  Fixed
    ``n_iter`` rather than a convergence test keeps the plan finite
    and the oracle expressible; 2-3 Lloyd rounds capture most of the
    recall gain over raw representatives.  Each round's centroid
    frame is tiny (≤ nlist rows) and persisted before the next
    assignment broadcast.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, nlist=nlist)
    # One quantization of the corpus, persisted, reused by EVERY
    # iteration's assignment and mean step — without this each Lloyd
    # round re-scans and re-quantizes the corpus from source.  The
    # corpus is spread first (skew.spread_scan, no-op at scale): a
    # single-file corpus otherwise persists as ONE partition, and
    # every Lloyd round's assignment + posexplode mean then runs as a
    # single 5-9 s task with the rest of the cores idle (event-log
    # profile, r14).
    from vcfdbr_spark.operators.skew import spread_scan

    qcorp = _quantized_vectors(spread_scan(corpus), id_col, vec_col).persist()
    for _ in range(n_iter):
        cents = cents.persist()
        cq = with_quantized(cents, vec_col).select(
            F.col(id_col).alias("cent_id"),
            F.col("_qv").alias("cv"),
            F.col("_norm").alias("cn"),
        )
        assign = _nearest_centroid(qcorp, cq)
        dims = (
            qcorp.join(assign, "_vid")
            .select("cent_id", F.posexplode("vv").alias("pos", "v"))
            .groupBy("cent_id", "pos")
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1))
                )
                .cast("long")
                .alias("m")
            )
        )
        cents = dims.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m").cast("double") / 1000.0,
            ).alias(vec_col)
        ).select(F.col("cent_id").alias(id_col), vec_col)
    qcorp.unpersist()
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist_mod: int = 25,
    nprobe: int = 3,
    materialize: bool = True,
    nlist: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the vectors whose inverted
    list is among the query's ``nprobe`` nearest centroids — the
    |C| ≫ 10⁶ scale path where brute force is off the table.

    Centroid sourcing mirrors ``ivf_assign``: pass trained
    ``centroids`` or an absolute ``nlist`` for a corpus-independent
    centroid bound (the scale path); the ``nlist_mod`` default exists
    for deterministic oracles on bounded test data.

    ``materialize`` persists the centroid table (tiny, consumed by
    both the assignment scoring and the query probing) and the
    inverted-list assignment (the reusable "index"; |C| small rows) —
    a production system builds these once and amortizes them over
    every query batch."""
    if centroids is None:
        centroids = ivf_centroids(corpus, id_col, vec_col, nlist_mod, nlist)
    assign = ivf_assign(corpus, id_col, vec_col, centroids=centroids)
    if materialize:
        assign = assign.persist()
    c = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.col("_qv").alias("cv"),
        F.col("_norm").alias("cn"),
    ).join(assign.select(F.col(id_col).alias("cand_id"), "cent_id"), "cand_id")
    cents = with_quantized(centroids, vec_col).select(
        F.col(id_col).alias("cent_id"),
        F.col("_qv").alias("ccv"),
        F.col("_norm").alias("ccn"),
    )
    if materialize:
        cents = cents.persist()
    q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_qv").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    probes = _query_probes(q, cents, nprobe)
    return _probe_score_topk(c, probes, k)


def _query_probes(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, cent_id, qv, qn): each query's ``nprobe`` nearest
    centroids (broadcast centroid scoring; deterministic tie-break) —
    the probe-selection step shared by :func:`ivf_topk` and
    :func:`ivf_topk_indexed`."""
    qc = q.join(F.broadcast(cents)).withColumn(
        "cscore",
        cosine_score(F.col("qv"), F.col("ccv"), F.col("qn"), F.col("ccn")),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id")
    )
    return (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "cent_id", "qv", "qn")
    )


def _probe_score_topk(c: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Score each query against its probed lists' candidates and keep
    the top ``k`` — the scoring tail shared by :func:`ivf_topk` and
    :func:`ivf_topk_indexed`.  ``c``: (cand_id, cv, cn, cent_id)."""
    scored = (
        c.join(probes, "cent_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "score",
            cosine_score(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
        )
        .select("query_id", "cand_id", "score")
        .distinct()  # a candidate may appear via multiple probed lists
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank")
        )
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    nlist: int = 64,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the IVF inverted lists as a PARTITION-PRUNABLE layout:
    ``(vec_id, embedding)`` hive-partitioned by ``cent_id``, with the
    centroid table pinned in a ``_centroids`` sidecar dir (underscore
    prefix → invisible to parquet partition discovery).

    This is the build-once side :func:`ivf_topk`'s docstring defers
    to: at 10⁹ vectors the assignment is amortized across every
    query batch, and :func:`ivf_topk_indexed`'s probe reads ONLY the
    ``cent_id=`` directories the query batch probes (≤ nlist dirs,
    PartitionFilters on the scan) — never the whole corpus.

    ``centroids`` defaults to :func:`ivf_train` on the corpus (the
    deterministic k-means path); pass a frame to pin externally
    trained centroids.  The sidecar guard is the same class as the
    band index's pinned band parameters: probing with different
    centroids than the lists were assigned under silently searches
    the wrong lists, so :func:`ivf_topk_indexed` always reads the sidecar.
    ``mode="append"`` (streaming maintenance) validates the sidecar
    matches the assignment centroids first.
    """
    from vcfdbr_spark import fs as _fs

    spark = corpus.sparkSession
    if centroids is None:
        centroids = ivf_train(
            corpus, nlist=nlist, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    centroids = centroids.persist()
    cent_dir = f"{path}/_centroids"
    if mode == "append" and _fs.exists(spark, cent_dir):
        stored = read_ivf_centroids(spark, path, id_col=id_col)
        a = sorted(map(tuple, stored.collect()))
        b = sorted(map(tuple, centroids.select(id_col, vec_col).collect()))
        if a != b:
            centroids.unpersist()
            raise ValueError(
                f"IVF index at {path} was assigned under different "
                f"centroids than the append's; mixed assignments would "
                f"silently probe the wrong lists"
            )
    # spread=True: a one-shot index build amortizes the scan spread
    # (no-op at scale) over the whole assignment+write — the per-query
    # probe path in ivf_topk stays unspread (see ivf_assign docstring)
    assign = ivf_assign(corpus, id_col, vec_col, centroids=centroids, spread=True)
    (
        corpus.select(id_col, vec_col)
        .join(assign, id_col)
        # one task per inverted list before the dynamic-partition
        # write: without this every upstream task opens a writer per
        # cent_id dir it touches (T×nlist small files per build, and
        # every probe re-lists and re-opens them — the same §6 shape
        # fixed for the band index in r14).  cent_id is a
        # deterministic function of the vector, so retried map tasks
        # reproduce the assignment; at scale size nlist so one list
        # ≈ one healthy file.
        .repartition("cent_id")
        .write.mode(mode)
        .partitionBy("cent_id")
        .parquet(path)
    )
    # non-append overwrite deletes the sidecar with the dir
    if mode != "append" or not _fs.exists(spark, cent_dir):
        centroids.select(id_col, vec_col).write.mode("overwrite").parquet(
            cent_dir
        )
    centroids.unpersist()


def read_ivf_centroids(
    spark, path: str, id_col: str = "vec_id"
) -> DataFrame:
    """The pinned centroid table of a :func:`write_ivf_index` layout."""
    return spark.read.parquet(f"{path}/_centroids")


def ivf_list_stats(spark, path: str) -> DataFrame:
    """(cent_id, n) inverted-list populations of a
    :func:`write_ivf_index` / ``stream_ivf_assign`` layout — the
    skew probe.  Pruning wins scale with nprobe/nlist only while
    lists stay balanced: a hot list (a dense region the training
    sample under-represented, or stream drift) re-concentrates the
    probe scan onto one huge partition.  Measure, don't guess — a
    ``max(n)/median(n)`` ratio creeping past ~an order of magnitude
    is the retrain signal (re-pin + rebuild, same cadence as the
    band-width re-derivation).  One count aggregation over the
    partition column — the scan reads no data columns."""
    return (
        spark.read.parquet(path)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
    )


#: documented re-index signal for a persisted IVF layout: when the
#: hottest inverted list outgrows the median by this ratio, appended
#: drift has re-concentrated the probe scan onto a few huge
#: partitions and the pruning win (nprobe/nlist) is gone — retrain
#: (reindex_ivf).  An order of magnitude is the textbook heuristic;
#: the stat itself is exact, measure-don't-guess (ivf_imbalance).
IVF_REINDEX_RATIO = 8.0


def ivf_imbalance(spark, path: str) -> DataFrame:
    """One-row list-balance summary of a :func:`write_ivf_index`
    layout: ``n_lists``, ``max_n``, ``median_n``, ``imbalance``
    (max/median) and ``reindex_signal`` (imbalance ≥
    :data:`IVF_REINDEX_RATIO`) — the documented retrain trigger for
    drifted incremental corpora.  Same partition-column-only scan as
    :func:`ivf_list_stats` (reads no data columns)."""
    return ivf_list_stats(spark, path).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.max("n").cast("long").alias("max_n"),
        F.expr("percentile(n, 0.5)").alias("median_n"),
    ).select(
        "n_lists",
        "max_n",
        "median_n",
        F.round(F.col("max_n") / F.col("median_n"), 3).alias("imbalance"),
        (F.col("max_n") / F.col("median_n") >= IVF_REINDEX_RATIO).alias(
            "reindex_signal"
        ),
    )


def reindex_ivf(
    spark,
    path: str,
    nlist: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Retrain + reassign a DRIFTED :func:`write_ivf_index` layout in
    place, transactionally: incremental appends keep the centroids
    frozen (the sidecar guard demands it — mixed assignments probe
    the wrong lists), so a corpus whose distribution drifts away from
    the original training sample accumulates hot lists; once
    :func:`ivf_imbalance` fires the documented signal, this rewrites
    the whole layout under FRESH k-means centroids trained on the
    stored corpus itself.

    The rewrite goes through :func:`vcfdbr_spark.fs.swap_dir`, whose
    docstring states the crash windows: readers never see a partial
    layout, and the next call heals a swap a crash left half done.

    ``nlist`` defaults to the stored centroid count (re-balance under
    the same list budget); pass a larger value when the corpus has
    outgrown it (lists should stay ~|C|/nlist sized).
    """
    from vcfdbr_spark import fs as _fs

    def write(tmp: str) -> None:
        n = nlist
        if n is None:
            n = read_ivf_centroids(spark, path, id_col=id_col).count()
        write_ivf_index(
            spark.read.parquet(path).select(id_col, vec_col), tmp,
            nlist=n, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        )

    _fs.swap_dir(spark, path, write)
    # Invalidate every cached plan rooted at the swapped path: callers
    # that persisted frames over the OLD layout (ivf_topk's amortized
    # centroid/assignment caches are the documented instance) would
    # otherwise be served the pre-reindex rows for reads of the SAME
    # path string — Spark's overwrite-a-cached-path gotcha.  Covers
    # the _centroids sidecar too (prefix match).
    spark.catalog.refreshByPath(path)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k over a PERSISTED :func:`write_ivf_index`
    layout — identical results to :func:`ivf_topk` with the same
    centroids (pinned by the layout's sidecar), but the corpus scan
    is PRUNED to the probed inverted lists: the query batch's
    distinct probed ``cent_id`` set (≤ nlist ints — driver-bounded
    by the centroid count, never data-sized) is pushed as an ``IN``
    filter on the partition column, so Catalyst reads only those
    ``cent_id=`` directories.  At 10⁹ vectors × nprobe/nlist
    selectivity that is the difference between scanning the corpus
    per query batch and scanning a few percent of it.
    """
    cents = with_quantized(
        read_ivf_centroids(spark, path, id_col), vec_col
    ).select(
        F.col(id_col).alias("cent_id"),
        F.col("_qv").alias("ccv"),
        F.col("_norm").alias("ccn"),
    )
    q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_qv").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    from vcfdbr_spark.plans.checkpoints import eager_checkpoint

    # eager_checkpoint, not persist+unpersist: the probe frame feeds
    # the driver-side probed_lists collect NOW and the returned lazy
    # plan LATER — an unpersist before the caller's action would
    # silently re-run the probe selection per evaluation, and never
    # unpersisting leaks cache; checkpoint blocks release when the
    # returned frame is dropped (repo-wide checkpoint contract)
    probes = eager_checkpoint(_query_probes(q, cents, nprobe))
    probed_lists = [
        r[0] for r in probes.select("cent_id").distinct().collect()
    ]
    index = spark.read.parquet(path).filter(
        F.col("cent_id").isin(probed_lists)
    )
    c = with_quantized(index, vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.col("_qv").alias("cv"),
        F.col("_norm").alias("cn"),
        "cent_id",
    )
    return _probe_score_topk(c, probes, k)


def embedding_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int | str = 4,
    bits_per_band: int | str = 16,
    materialize: bool = True,
    max_bucket_size: int | None = None,
    stats: dict | None = None,
    wrapped: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share ANY
    sign band (multi-band LSH, see ``sign_band_buckets``), then exact
    rounded-cosine filter at ``threshold``.

    Plan shape for 10⁹ vectors: the banded self-join emits
    ~n_bands·|C|²/2^bits same-bucket rows (tunable via bits_per_band),
    pairs colliding in several bands are deduplicated BEFORE vectors
    are re-attached (ids only through the distinct), and the two
    attach joins carry no broadcast hint — Catalyst/AQE decides.
    The (id, band, bucket) frame is persisted (``materialize``):
    both sides of the self-join consume it and the rows are a few
    bytes each, so caching beats re-scanning the fat embedding
    column twice.

    ``bits_per_band="auto"`` (THE scale path) derives the band width
    from the corpus count via :func:`adaptive_band_bits` — 2^bits
    tracks |C| so the uniform-load candidate-pair term
    ~n_bands·|C|²/2^bits stays LINEAR in the corpus instead of
    quadratic (a static 16 bits measured 124 → 25,241 pairs for 10×
    vectors; the adaptive width is the fix for the growth a
    hot-bucket cap can't address).  Costs one count() job up front
    (count-only scan — no columns are read) and uses wrapped bands
    (:func:`sign_band_buckets_wrapped`) so bits may exceed the
    per-band share of the dimensionality.  The chosen width is
    reported in ``stats['band_bits']``.

    ``n_bands="auto"`` closes the adaptive width's recall side:
    wider bands shrink the per-band collision probability p^bits of
    a TRUE pair at ``threshold``, so a fixed 4-band count loses
    recall as the corpus (hence bits) grows.  The auto count is the
    smallest n with 1−(1−p^bits)^n ≥ :data:`ADAPTIVE_RECALL_TARGET`
    (:func:`adaptive_band_count`), giving the textbook |C|^(1+ρ)
    LSH cost instead of recall decay; the chosen count lands in
    ``stats['band_count']`` and band offsets step by the coprime
    :data:`ADAPTIVE_BAND_STRIDE` so every band reads a distinct
    sign window.  Meaningful for near-dup thresholds (≥ ~0.8); at
    loose thresholds the required count hits
    :data:`ADAPTIVE_BANDS_CAP` (sign-LSH cannot cheaply recall
    barely-correlated pairs — use the capped count knowingly or a
    banded-candidates-as-definition query like the 0.2-threshold
    bench entries).

    ``max_bucket_size``: same degenerate-bucket guard as the text
    LSH paths (``dedup.DEFAULT_MAX_BUCKET_SIZE`` semantics) — a
    corpus with millions of identical/zero embeddings (failed encoder
    runs, default-initialized rows: common in real pipelines) puts
    them all in one sign bucket and the self-join goes quadratic.
    The adaptive width does NOT subsume the cap: identical vectors
    share a bucket at ANY width.  Defaults to ``None`` (exact parity
    with the oracle at any threshold); pass
    ``dedup.DEFAULT_MAX_BUCKET_SIZE`` in production pipelines.
    Dropped-bucket counters land in ``stats``."""
    from vcfdbr_spark.operators.dedup import cap_buckets_window

    # ``wrapped`` forces the wrapped band layout for an explicit int
    # width (callers that computed adaptive_band_bits themselves —
    # e.g. to share one count() across several invocations); plain
    # int + wrapped=False keeps the original disjoint slices
    # bit-for-bit (existing fixtures/tests).
    if bits_per_band == "auto":
        bits = adaptive_band_bits(corpus.count())
        if stats is not None:
            stats["band_bits"] = bits
    else:
        bits = int(bits_per_band)
    if n_bands == "auto":
        # recall-targeted count at THIS query's threshold (see
        # adaptive_band_count): bands step by the coprime
        # ADAPTIVE_BAND_STRIDE so every band reads a distinct sign
        # window even when n_bands·stride exceeds the dimensionality.
        bands_n = adaptive_band_count(bits, threshold)
        if stats is not None:
            stats["band_count"] = bands_n
            # est_recall < target ⟺ the count saturated at the cap
            # (bits ≳ 32 at threshold 0.95 ⇒ ~10⁹ vectors): the
            # loud signal that raising ADAPTIVE_BANDS_CAP — linear
            # cost — is now the correct knob
            stats["est_recall"] = round(
                estimated_band_recall(bits, bands_n, threshold), 4
            )
            stats["band_count_capped"] = bands_n >= ADAPTIVE_BANDS_CAP
        buckets = sign_band_buckets_wrapped(
            F.col(vec_col), bands_n, bits, stride=ADAPTIVE_BAND_STRIDE
        )
    elif bits_per_band == "auto":
        buckets = sign_band_buckets_wrapped(F.col(vec_col), n_bands, bits)
    elif wrapped:
        buckets = sign_band_buckets_wrapped(F.col(vec_col), n_bands, bits)
    else:
        buckets = sign_band_buckets(F.col(vec_col), n_bands, bits)
    bb = corpus.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(buckets).alias("band", "bucket"),
    )
    bb = cap_buckets_window(bb, ("band", "bucket"), max_bucket_size, stats)
    if materialize:
        bb = bb.persist()
    cand = (
        bb.select("band", "bucket", F.col("_vid").alias("a"))
        .join(bb.select("band", "bucket", F.col("_vid").alias("b")), ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    vecs = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("_vid"),
        F.col("_qv").alias("v"),
        F.col("_norm").alias("n"),
    )
    return (
        cand.join(
            vecs.select(F.col("_vid").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")),
            "a",
        )
        .join(
            vecs.select(F.col("_vid").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
            "b",
        )
        .withColumn(
            "score",
            cosine_score(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
    )


def embedding_band_index(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    n_bands: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """``(vec_id, band, bucket)`` sign-band frame for an embedding
    corpus with PINNED adaptive parameters — the build-once side of
    incremental semantic dedup (the embedding analog of
    ``dedup.minhash_band_buckets`` feeding ``dedup.write_band_index``).

    ``bits``/``n_bands`` default to the adaptive policy evaluated at
    THIS corpus's size (:func:`adaptive_band_bits` /
    :func:`adaptive_band_count` at ``threshold``); pass them
    explicitly to rebuild an index compatible with an existing one.
    The chosen values land in ``stats`` — persist them next to the
    index (``write_embedding_band_index`` does) because every later
    probe batch MUST band with the same parameters or candidate
    pairs are silently lost.

    As accumulated batches grow the corpus past the width the index
    was pinned at, the uniform candidate term creeps back toward
    ~n_bands·|C|²/2^bits — re-derive the width and rebuild at the
    same cadence as ``compact_band_index`` (the index is one banded
    scan to rebuild; the re-derivation is the documented cost of
    pinning)."""
    if bits is None:
        bits = adaptive_band_bits(corpus.count())
    if n_bands is None:
        n_bands = adaptive_band_count(bits, threshold)
    if stats is not None:
        stats["band_bits"] = bits
        stats["band_count"] = n_bands
    return corpus.select(
        F.col(id_col),
        F.posexplode(
            sign_band_buckets_wrapped(
                F.col(vec_col), n_bands, bits, stride=ADAPTIVE_BAND_STRIDE
            )
        ).alias("band", "bucket"),
    )


def write_embedding_band_index(
    index: DataFrame,
    path: str,
    bits: int,
    n_bands: int,
    n_pfx: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist an :func:`embedding_band_index` frame in the
    partition-prunable ``dedup.write_band_index`` layout with the band
    parameters pinned (``dedup.BandIndex``), so probes cannot silently
    band a batch with a different width/count.  ``mode="append"``
    raises on parameters or an ``n_pfx`` that conflict with the
    recorded ones; an omitted ``n_pfx`` resumes the recorded one."""
    from vcfdbr_spark.operators.dedup import BandIndex

    params = {"bits": bits, "n_bands": n_bands, "stride": ADAPTIVE_BAND_STRIDE}
    if mode == "append":
        BandIndex(index.sparkSession, path, n_pfx, params).extend(index)
    else:
        BandIndex.put(index, path, n_pfx, params, mode)


def read_embedding_band_index(spark, path: str) -> tuple[DataFrame, int, int]:
    """Open a :func:`write_embedding_band_index` layout; returns
    ``(frame, bits, n_bands)`` with the pinned parameters.  Raises on a
    layout without them — probing with re-derived parameters against
    an index of unknown vintage is exactly the silent-pair-loss this
    layout exists to prevent."""
    from vcfdbr_spark.operators.dedup import BandIndex

    index = BandIndex(spark, path)
    params = index.pinned()
    return index.read(), params["bits"], params["n_bands"]


def incremental_embedding_dup_pairs(
    new_vecs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    bits: int,
    n_bands: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    stats: dict | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Incremental semantic dedup: exact-cosine near-dup pairs of a
    NEW embedding batch against an existing corpus's persisted sign-
    band index, plus new-vs-new pairs — WITHOUT re-banding the
    corpus.  Completes the dedup matrix (batch/incremental × text/
    embedding): the embedding analog of
    ``dedup.incremental_dedup_pairs``, sharing its probe
    (``band_probe_pairs`` — AQE-broadcast batch frame, pfx-pruned
    index scan, per-side hot-bucket caps).

    ``bits``/``n_bands`` are REQUIRED and must equal the index's
    pinned parameters (``read_embedding_band_index`` returns them) —
    a batch banded at a different width shares no buckets with the
    index and the probe silently returns nothing.  Ids in
    ``new_vecs`` must be disjoint from the corpus's.

    Verify step: candidates only — both sides' vectors are fetched
    by joining the (small) candidate id set back to
    ``corpus ∪ new_vecs``, the same candidates-only re-attach shape
    as ``ngram_jaccard``'s verify; the corpus is never scanned
    beyond that join plus the pruned index probe.  ``corpus`` must
    therefore contain EVERY id ever appended to the index (the full
    accumulated corpus, not just the original build batch) — a
    candidate whose vector is missing RAISES at execution time (the
    verify joins are left joins guarded by an in-plan assert) rather
    than silently dropping the pair, the same
    fail-loud-not-wrong-at-scale policy as ``dedup_components``.
    Returns ``(a, b, score)`` with ``a < b`` and ``score ≥
    threshold``."""
    from vcfdbr_spark.operators.dedup import band_probe_pairs

    new_b = embedding_band_index(
        new_vecs, threshold, id_col, vec_col, bits=bits, n_bands=n_bands
    )
    if materialize:
        new_b = new_b.persist()
    cand = band_probe_pairs(
        new_b, index, id_col, max_bucket_size=max_bucket_size, stats=stats
    )
    allv = corpus.select(id_col, vec_col).unionByName(
        new_vecs.select(id_col, vec_col)
    )
    vecs = with_quantized(allv, vec_col).select(
        F.col(id_col).alias("_vid"),
        F.col("_qv").alias("v"),
        F.col("_norm").alias("n"),
    )
    present = F.col("va").isNotNull() & F.col("vb").isNotNull()
    score = F.when(
        ~present,
        F.assert_true(
            present,
            F.concat(
                F.lit(
                    "incremental_embedding_dup_pairs: candidate pair ("
                ),
                F.col("a").cast("string"), F.lit(", "),
                F.col("b").cast("string"),
                F.lit(
                    ") has no vector in corpus ∪ new_vecs — pass the "
                    "FULL accumulated corpus (every id ever appended "
                    "to the index), or pairs would silently vanish"
                ),
            ),
        ).cast("double"),
    ).otherwise(
        cosine_score(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    )
    return (
        cand.join(
            vecs.select(F.col("_vid").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")),
            "a",
            "left",
        )
        .join(
            vecs.select(F.col("_vid").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
            "b",
            "left",
        )
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    bits_per_band: int = 16,
) -> DataFrame:
    """Approximate top-k: candidates share ANY sign band with the
    query (multi-band LSH — wide buckets bound candidate volume,
    multiple bands restore recall), exact re-rank inside.  The query
    side stays broadcast (bounded); collisions across several bands
    collapse via distinct on the deterministic score rows."""
    cq = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.posexplode(
            sign_band_buckets(F.col(vec_col), n_bands, bits_per_band)
        ).alias("band", "bucket"),
        F.col("_qv").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            sign_band_buckets(F.col(vec_col), n_bands, bits_per_band)
        ).alias("band", "bucket"),
        F.col("_qv").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    scored = (
        cq.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "score",
            cosine_score(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
        )
        .select("query_id", "cand_id", "score")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank"))
    )
