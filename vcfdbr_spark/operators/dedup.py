"""Deduplication operators for training-data pipelines.

Four families, all shuffle-frugal and engine-portable:

- **exact**: hash-groupBy on md5(text) — one shuffle, map-side
  partial agg.
- **MinHash + LSH**: shingle → k md5-minhashes → banded buckets →
  bucket-join candidate pairs.  The md5-lexicographic-min family is a
  valid uniform minhash (128-bit) and, unlike integer-mix hashes, is
  bit-identical across engines, so the whole pipeline is
  oracle-checkable in SQL.
- **n-gram Jaccard**: exact pairwise Jaccard over candidate pairs
  (bounded by the LSH buckets — never all-pairs).
- **SimHash**: 63-bit sign-aggregated token fingerprint; near-dups
  differ in few bits.

Scale notes: candidate generation is |bands| × |docs| rows; the
bucket self-join only materializes same-bucket pairs (skew-safe under
AQE), and buckets above :data:`DEFAULT_MAX_BUCKET_SIZE` members are
dropped before any join so one degenerate cluster can't go quadratic.
All-pairs similarity is deliberately absent.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vcfdbr_spark import fs as _fs
from vcfdbr_spark.functions.text import word_shingles

#: Default population cap for an LSH / simhash band bucket.  A bucket
#: with B members emits O(B²) candidate pairs out of the bucket join;
#: real web corpora contain degenerate clusters (boilerplate pages,
#: empty/near-empty texts) with B in the millions, and ONE such bucket
#: makes the whole dedup job quadratic.  Buckets above the cap are
#: dropped from candidate generation (standard practice: a near-dup
#: bucket that large is one dedup cluster anyway, and byte-identical
#: members are already caught by :func:`exact_dedup`); the drop is
#: surfaced through the optional ``stats`` dict.
DEFAULT_MAX_BUCKET_SIZE = 500


def resolve_bucket_cap(max_bucket_size: int | None) -> int | None:
    """A caller's bucket cap: ``None`` means
    :data:`DEFAULT_MAX_BUCKET_SIZE`, ``0`` disables the cap (``None``)."""
    if max_bucket_size is None:
        return DEFAULT_MAX_BUCKET_SIZE
    return max_bucket_size or None


def record_hot_bucket_stats(
    frame: DataFrame,
    keys: tuple[str, ...],
    max_bucket_size: int,
    stats: dict,
) -> None:
    """Accumulate dropped-bucket observability counters into ``stats``
    (``hot_buckets_dropped``, ``hot_bucket_rows_dropped``).  Runs one
    extra aggregation job over ``frame`` — only called when the caller
    asked for stats."""
    row = (
        frame.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > max_bucket_size)
        .agg(
            F.count(F.lit(1)).alias("_b"),
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_r"),
        )
        .first()
    )
    stats["hot_buckets_dropped"] = stats.get("hot_buckets_dropped", 0) + int(row["_b"])
    stats["hot_bucket_rows_dropped"] = stats.get("hot_bucket_rows_dropped", 0) + int(
        row["_r"]
    )


def cap_buckets_window(
    frame: DataFrame,
    keys: tuple[str, ...],
    max_bucket_size: int | None,
    stats: dict | None = None,
) -> DataFrame:
    """Drop rows of over-populated buckets via a count window.

    For SELF-JOIN candidate generation the window is the right shape:
    it shuffles on the same ``(band, bucket)`` keys the following
    equi-join hashes on, so the join reuses the window's partitioning
    instead of adding an Exchange — the cap rides the shuffle the join
    needed anyway.
    """
    if not max_bucket_size:
        return frame
    if stats is not None:
        record_hot_bucket_stats(frame, keys, max_bucket_size, stats)
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        frame.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def cap_buckets_antijoin(
    frame: DataFrame,
    keys: tuple[str, ...],
    max_bucket_size: int | None,
    stats: dict | None = None,
) -> DataFrame:
    """Drop rows of over-populated buckets via a broadcast anti-join
    against the (tiny) hot-bucket list.

    For the INDEX side of a probe this is the right shape: the bucket
    counts ride a map-side-partial aggregation (only distinct-bucket
    counts shuffle, never rows) and the anti-join broadcasts the hot
    list, so the index scan itself is never shuffled — the probe stays
    map-side, which a count window would break.
    """
    if not max_bucket_size:
        return frame
    hot = (
        frame.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > max_bucket_size)
    )
    if stats is not None:
        row = hot.agg(
            F.count(F.lit(1)).alias("_b"),
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_r"),
        ).first()
        stats["hot_buckets_dropped"] = stats.get("hot_buckets_dropped", 0) + int(
            row["_b"]
        )
        stats["hot_bucket_rows_dropped"] = stats.get(
            "hot_bucket_rows_dropped", 0
        ) + int(row["_r"])
    return frame.join(F.broadcast(hot.select(*keys)), list(keys), "left_anti")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: (text_hash, keep_id = min id, n_dups)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_words: int = 50,
) -> DataFrame:
    """(id, h0..h{n-1}) md5-slice-min signatures over word n-gram
    shingles.

    Each md5 is 128 bits = four independent 32-bit hashes, so hash
    function ``s`` is the 8-hex-char slice ``s%4`` of
    ``md5('{s//4}|' || shingle)`` — one md5 evaluation feeds FOUR
    minhash components (the md5s were the dominant cost of the whole
    LSH pipeline: 8 separate digests per shingle row, ~4× this).
    Lexicographic min over a fixed-width hex slice == numeric min of
    the 32-bit value, so each slice is a valid uniform minhash; the
    md5s are computed in a projection BEFORE the aggregation so each
    digest is evaluated once per shingle row, not once per aggregate.

    min() over the shingle multiset == min over the set, so no
    distinct pass is needed before aggregation.

    The input is :func:`~vcfdbr_spark.operators.skew.spread_scan`-
    spread first: the shingle explode + per-shingle md5s are the
    dominant CPU of the whole LSH pipeline, and a small-file scan
    otherwise runs them in ONE task (no-op at scale).  This is the
    ONE expansion operator where the spread won its interleaved A/B
    (minhash_pairs 0.74× at sf0.1); the cheaper token/bigram
    expansions (simhash, doc_bigrams, tfidf, repetition) measured
    1.4-1.6× WORSE with it — the extra text shuffle and broken
    scan→agg fusion outweigh the parallelism — so they stay unspread.
    """
    from vcfdbr_spark.operators.skew import spread_scan

    docs = spread_scan(docs)
    n_src = -(-num_hashes // 4)  # ceil: md5 sources needed
    sh = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n, max_words)).alias("sh"),
    ).select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{src}|"), F.col("sh"))).alias(f"_m{src}")
            for src in range(n_src)
        ],
    )
    aggs = [
        F.min(
            F.substring(F.col(f"_m{s // 4}"), 8 * (s % 4) + 1, 8)
        ).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    sigs: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """(id, band, bucket): hash each band of the signature."""
    hcols = [c for c in sigs.columns if c != id_col]
    n_bands = len(hcols) // rows_per_band
    bands = [
        F.md5(F.concat(*[F.col(hcols[b * rows_per_band + r]) for r in range(rows_per_band)]))
        for b in range(n_bands)
    ]
    return sigs.select(
        id_col, F.posexplode(F.array(*bands)).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stats: dict | None = None,
) -> DataFrame:
    """Distinct (a, b) with a < b sharing any band bucket.

    ``max_bucket_size`` (default :data:`DEFAULT_MAX_BUCKET_SIZE`)
    drops buckets whose population exceeds the cap BEFORE the
    self-join, bounding per-bucket pair fan-out at cap² — without it a
    single degenerate bucket (boilerplate / empty-text cluster, B in
    the millions on web corpora) emits B² rows and dominates the job.
    ``None``/``0`` disables.  Pass ``stats={}`` to receive
    ``hot_buckets_dropped`` / ``hot_bucket_rows_dropped`` counters
    (costs one extra aggregation job).
    """
    buckets = cap_buckets_window(
        buckets, ("band", "bucket"), max_bucket_size, stats
    )
    left = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("a")
    )
    right = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("b")
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_words: int = 50,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stats: dict | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup candidates (hot buckets above
    ``max_bucket_size`` dropped — see :func:`lsh_candidate_pairs`)."""
    sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_n, max_words
    )
    return lsh_candidate_pairs(
        minhash_band_buckets(sigs, id_col, rows_per_band), id_col,
        max_bucket_size=max_bucket_size, stats=stats,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_words: int = 50,
    threshold: float = 0.0,
    materialize: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (a, b) pairs.

    Each doc's distinct shingle set rides as ONE array row; the pair
    score is ``size(array_intersect(A, B))`` computed in-task — no
    shingle-grain shuffle (the naive exploded 3-way join is quadratic
    in shingle rows and ~30× slower at sf0.1).
    Integer arithmetic only → the rounded score is engine-portable.

    Scale shape: the per-doc set table is O(corpus) and must NEVER be
    force-broadcast (round-1 scale-killer).  The frames that ARE
    broadcast-hinted are all bounded by the candidate-pair count (post
    LSH, a small fraction of the corpus): the candidate-id list in the
    semi-join — so the O(corpus) sets table is never shuffled, the
    semi-join runs map-side in the same stage as the shingle scan —
    and the reduced per-pair set frame in the two attach joins.

    ``materialize`` persists the two small diamond-shaped
    intermediates (candidate pairs: used 3×; reduced shingle sets:
    used 2×).  Without it Catalyst re-executes the entire upstream
    LSH pipeline + corpus scan per use (measured 12 scans of the docs
    table in one query).  Both frames are post-LSH small — caching
    them is the scale-correct trade.  ``handles``: optional list the
    two persisted frames are appended to, so a caller that
    materializes its OWN terminal result (e.g. the decontamination
    operators' eager-checkpointed leak list) can release them and
    leave zero net cache.
    """
    if materialize:
        candidates = candidates.persist()
        if handles is not None:
            handles.append(candidates)
    sets_ = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            word_shingles(F.col(text_col), shingle_n, max_words)
        ).alias("_set"),
    )
    cand_ids = (
        candidates.select(F.col("a").alias("_id"))
        .union(candidates.select(F.col("b").alias("_id")))
        .distinct()
    )
    sets_needed = sets_.join(F.broadcast(cand_ids), "_id", "left_semi")
    if materialize:
        sets_needed = sets_needed.persist()
        if handles is not None:
            handles.append(sets_needed)
    out = (
        candidates.join(
            F.broadcast(
                sets_needed.select(
                    F.col("_id").alias("a"), F.col("_set").alias("_sa")
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                sets_needed.select(
                    F.col("_id").alias("b"), F.col("_set").alias("_sb")
                )
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("n_inter"),
            F.size("_sa").cast("long").alias("n_a"),
            F.size("_sb").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# Below this many (deduplicated, non-degenerate) edges the component
# labeling is solved exactly on the driver (union-find over the
# collected edge list) instead of running the distributed contraction
# loop: the edge frame at this size is ~3 MB of id pairs — far below
# any driver's memory — while the distributed loop costs ~3 jobs ×
# O(log diameter) rounds of scheduling + planning, seconds of fixed
# cost on ANY cluster regardless of data size.  The threshold tests
# the EDGE COUNT (known for free — the loop needed it anyway), never
# the corpus: a 100 TB corpus whose post-LSH dup graph is still
# billions of edges takes the distributed loop unchanged.
DEFAULT_LOCAL_EDGES_MAX = 200_000


def _union_find_min_labels(edge_rows):
    """Exact driver-side union-find over collected ``(x, y)`` edges;
    returns ``[(id, component_min)]`` for every vertex.  Roots are
    kept at the component minimum (the larger root is always pointed
    at the smaller), which with path compression reproduces the
    distributed loop's ``keep_id = component min`` labeling exactly
    (Python's ``<`` on int/str matches Spark's UTF8_BINARY/long
    ordering used by ``least()``)."""
    parent: dict = {}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    for x, y in edge_rows:
        if x not in parent:
            parent[x] = x
        if y not in parent:
            parent[y] = y
        rx, ry = find(x), find(y)
        if rx == ry:
            continue
        if ry < rx:
            rx, ry = ry, rx
        parent[ry] = rx  # larger root → smaller: every root is its
        # component's minimum, inductively
    return [(v, find(v)) for v in parent]


def dedup_components(
    pairs: DataFrame,
    max_iter: int = 20,
    materialize: bool = True,
    stats: dict | None = None,
    local_edges_max: int = DEFAULT_LOCAL_EDGES_MAX,
) -> DataFrame:
    """Connected components over near-dup candidate ``(a, b)`` pairs —
    the APPLY step of fuzzy dedup: pairs chain (A~B, B~C ⇒ keep one of
    {A,B,C}), so the keep-list needs components, not pairs.  Returns
    one row per doc appearing in any NON-degenerate pair:
    ``(doc_id, keep_id)`` with ``keep_id`` = the component's minimum
    id (deterministic).  Self-pairs (a == b) are ignored — a doc
    paired only with itself is not a duplicate of anything, gets no
    output row, and is therefore kept by every downstream consumer
    (they drop only ``doc_id != keep_id`` rows).

    Two execution paths, same answer (r14): below ``local_edges_max``
    canonical edges (default ``DEFAULT_LOCAL_EDGES_MAX``; ``0``
    forces distributed) the labeling is solved exactly on the driver
    by union-find over the collected edge list — the edge count is
    already known (the loop needs it), the collect is bounded to a
    few MB, and it replaces ~3 jobs × O(log diameter) rounds of
    scheduler/planner fixed cost with microseconds of driver CPU.
    At scale the threshold fails and the distributed loop below runs
    unchanged.  ``stats['local_edges']`` records when the short
    circuit fired.

    Edge-CONTRACTING min-label propagation on the DataFrame API.
    Per round, every vertex takes the min of (its label, its label's
    label [pointer doubling], its contracted neighbors' labels), and
    the edge list is then REWRITTEN onto the new labels (endpoints
    relabeled, loops dropped, duplicates merged).  The live graph
    therefore shrinks geometrically — each round merges whole label
    classes, not single hops — and "edge list empty" is a definitive
    convergence signal.  A short pointer-compression phase
    (``comp = comp[comp]`` to fixpoint, ≤ log(chain) tiny rounds)
    then resolves the remaining label chains to each component's
    minimum id.  Empirical rounds: 40-link chain 6+1, 10,000-link
    chain 14+1, stars/cliques 1-2; round-9's non-contracting
    formulation needed 28 rounds on the sf1 embedding dup graph and
    silently returned UNCONVERGED labels at the max_iter=20 cap (488
    wrong keep_ids) — this version raises instead of returning wrong
    answers, and no real graph gets near the cap (2^20-diameter).

    Scale shape: label state is one (id, label) row per UNIQUE paired
    doc — a small fraction of the corpus after LSH — never the corpus
    itself; the edge frame starts at |pairs| and SHRINKS every round.
    At billions of edges the same loop holds (this is the textbook
    contraction formulation, same round complexity as
    large-star/small-star).

    Driver-cost shape (r11): every round checkpoints through
    :func:`~vcfdbr_spark.plans.checkpoints.loop_checkpoint`, which
    RESETS the checkpointed leaf's size estimate — Spark's
    ``checkpoint`` otherwise copies the origin plan's estimated
    ``sizeInBytes`` forward, and Catalyst's join estimator multiplies
    children, so the estimate compounds doubly-exponentially with the
    round count: at ~15 rounds the driver spent 25+ minutes
    multiplying million-bit BigInts in join selection (a pure
    PLANNING cost, invisible to any ≤8-round fixture — caught by the
    10k-chain test).  With the reset, planning cost is O(1) per
    round at any round count.

    Caching contract: loop intermediates are persisted per round and
    released before return.  With ``materialize`` (default) the
    RETURNED frame is persisted and eagerly materialized — callers
    that consume it more than once (every dedup pipeline does) get
    cache hits, and are responsible for ``.unpersist()`` when done
    (the CLI does); with ``materialize=False`` nothing stays cached
    and each downstream use recomputes the loop from lineage.

    ``stats``: optional dict; on return, ``stats['rounds']`` holds the
    number of rounds executed, contraction + compression
    (observability + tests).

    Raises ``RuntimeError`` if ``max_iter`` rounds do not converge —
    a truncated component labeling is WRONG data (docs silently kept
    that should dedup away), never an acceptable fallback.
    """
    from ..plans.checkpoints import loop_checkpoint

    # Canonical undirected edge list — ONE evaluation of the
    # (typically expensive, LSH+verify) upstream plan: checkpointed
    # up front, and each round's contracted version replaces it.
    edges, edges_ck = loop_checkpoint(
        pairs.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )

    # Iterative DataFrame algorithms MUST truncate lineage each round:
    # a persisted frame still carries its full logical plan, and each
    # round here references the previous labels three times, so the
    # plan tree grows ~3^rounds — analysis cost and the per-action
    # plan-description string blow up long before max_iter (observed:
    # driver OOM building explainString at ~8 rounds on a 40-chain).
    # localCheckpoint materializes the round eagerly and replaces the
    # plan with a LogicalRDD scan: O(1) plan size every round — and
    # loop_checkpoint additionally RESETS the checkpointed leaf's
    # size ESTIMATE, which Spark otherwise copies from the origin
    # plan and which compounds doubly-exponentially across rounds
    # (25+ min of driver CPU multiplying million-bit BigInts at round
    # ~15 — see plans/checkpoints.py::loop_checkpoint).  The
    # documented trade (same as GraphFrames' CC): checkpoint blocks
    # are not fault-tolerant — an executor loss mid-loop fails the
    # job and the caller re-runs (irrelevant on local mode, a retry
    # at 100 TB; the loop is minutes, not the corpus scan).
    def _release(df) -> None:
        # free a localCheckpoint's storage NOW (df.unpersist() only
        # talks to the CacheManager, which doesn't track checkpoint
        # RDDs; without this they linger until JVM GC).  Must be the
        # CKPT handle from loop_checkpoint — the fresh wrapper's
        # analyzed().rdd() is the converter view, not the blocks.
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # best-effort: GC + ContextCleaner reclaim later

    n_edges = edges_ck.count()  # on the checkpointed blocks — no recompute

    # Scale-adaptive short-circuit (r14, guide §2.6/§5): the loop's
    # cost at SMALL edge counts is pure fixed overhead — ~3 jobs and
    # 2 plan compiles per round, ~15-20 driver round-trips for a
    # typical dup graph — while the data itself is a few MB.  Below
    # ``local_edges_max`` edges (count already in hand), solve the
    # components exactly on the driver with union-find and return the
    # same (doc_id, keep_id = component min) labeling; at scale the
    # test fails and the distributed contraction loop runs unchanged.
    # This is a BOUNDED collect — ≤ local_edges_max id pairs off an
    # already-checkpointed frame — the same class as the repo's other
    # O(small) driver materializations (band prefixes, KMV survivors),
    # not a corpus collect.  Measured at sf0.1 (interleaved A/B, warm
    # reps): semantic_dedup-shaped keys drop ~30-45 Spark jobs each.
    # local_edges_max=0 documents "force distributed" — gate on it
    # explicitly so an EMPTY canonical edge set (0 <= 0) honors the
    # forced-distributed contract instead of silently short-circuiting
    if local_edges_max > 0 and n_edges <= local_edges_max:
        edge_rows = [(r[0], r[1]) for r in edges_ck.collect()]
        _release(edges_ck)
        label_rows = _union_find_min_labels(edge_rows)
        if stats is not None:
            stats["rounds"] = 0
            stats["local_edges"] = n_edges
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        xt = edges_ck.schema["x"].dataType
        spark = edges_ck.sparkSession
        # pandas + Arrow → a JVM LocalRelation: evaluated without
        # Python workers (a plain list-of-tuples createDataFrame is a
        # parallelize() RDD that pays a Python-worker round trip on
        # EVERY downstream action — measured 0.5-5 s per action vs
        # 0.2 s here) and carrying ACCURATE size stats, so consumers'
        # joins see a broadcastable few-KB relation, not
        # defaultSizeInBytes.
        out = spark.createDataFrame(
            pd.DataFrame(label_rows, columns=["doc_id", "keep_id"]),
            StructType(
                [
                    # nullable=True matches the distributed loop's
                    # output schema exactly (its label columns come
                    # through joins/least() and are nullable); a
                    # strict schema comparison or a union of frames
                    # from the two paths must see ONE schema
                    StructField("doc_id", xt, True),
                    StructField("keep_id", xt, True),
                ]
            ),
        )
        if materialize:
            out = out.persist()
            out.count()
        return out

    labels, cached_ck = loop_checkpoint(
        edges.select(F.explode(F.array("x", "y")).alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    rounds = 0

    # --- contraction phase: loop while any edge still bridges two
    # label classes.  Invariants: comp(v) <= v (labels start as self
    # and only decrease via least()), and comp(v) is a vertex of v's
    # own component (values only flow along component edges / pointer
    # chains) — so relabeled edges never bridge components, and the
    # final root of every pointer tree is the component minimum.
    while n_edges > 0:
        if rounds >= max_iter:
            raise RuntimeError(
                f"dedup_components: {n_edges} edges still uncontracted "
                f"after {max_iter} rounds — raise max_iter (the loop "
                "halves remaining structure each round; hitting this "
                "bound means a ~2^max_iter-diameter component)"
            )
        rounds += 1
        # min label among contracted neighbors (both directions via
        # one explode so the checkpointed edge blocks are read once)
        nbr_min = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("src"), F.col("y").alias("dst")),
                        F.struct(F.col("y").alias("src"), F.col("x").alias("dst")),
                    )
                ).alias("_e")
            )
            .select("_e.src", "_e.dst")
            .join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("_nc")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nc").alias("_nbr"))
        )
        new_labels, new_labels_ck = loop_checkpoint(
            labels.join(
                # pointer doubling: v also reads comp(comp(v))
                labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("_dbl")
                ),
                "comp",
                "left",
            )
            .join(nbr_min.select(F.col("src").alias("id"), "_nbr"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"),
                    F.coalesce(F.col("_dbl"), F.col("comp")),
                    F.coalesce(F.col("_nbr"), F.col("comp")),
                ).alias("comp"),
            )
        )
        # contract: rewrite edges onto the new labels, drop the ones
        # whose endpoints just merged, merge parallel edges — the live
        # graph shrinks geometrically, which is what makes the round
        # count O(log), not O(diameter)
        new_edges, new_edges_ck = loop_checkpoint(
            edges.join(
                new_labels.select(F.col("id").alias("x"), F.col("comp").alias("_cx")),
                "x",
            )
            .join(
                new_labels.select(F.col("id").alias("y"), F.col("comp").alias("_cy")),
                "y",
            )
            .filter(F.col("_cx") != F.col("_cy"))
            .select(
                F.least("_cx", "_cy").alias("x"),
                F.greatest("_cx", "_cy").alias("y"),
            )
            .distinct()
        )
        n_edges = new_edges_ck.count()
        _release(edges_ck)
        edges, edges_ck = new_edges, new_edges_ck
        _release(cached_ck)
        cached_ck = new_labels_ck
        labels = new_labels

    # --- compression phase: edges are gone; labels form pointer
    # chains toward each component's min.  comp = comp[comp] to
    # fixpoint halves chain length per round (tiny label-table
    # self-joins; empirically 1-2 rounds).
    while True:
        if rounds >= 2 * max_iter:
            raise RuntimeError(
                "dedup_components: pointer compression did not reach "
                f"fixpoint within {2 * max_iter} total rounds"
            )
        rounds += 1
        new_labels, new_labels_ck = loop_checkpoint(
            labels.join(
                labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("_dbl")
                ),
                "comp",
                "left",
            )
            .select(
                "id",
                F.coalesce(F.col("_dbl"), F.col("comp")).alias("comp"),
                (F.coalesce(F.col("_dbl"), F.col("comp")) < F.col("comp")).alias(
                    "_changed"
                ),
            )
        )
        changed = new_labels_ck.filter("_changed").count()
        _release(cached_ck)
        cached_ck = new_labels_ck
        labels = new_labels.drop("_changed")
        if changed == 0:
            break

    _release(edges_ck)
    if stats is not None:
        stats["rounds"] = rounds
    out = labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("keep_id")
    )
    if materialize:
        out = out.persist()
        out.count()  # eager: downstream reads hit THIS cache only
        _release(cached_ck)  # final round's blocks no longer needed
    # materialize=False: cached_ck's checkpoint blocks stay — `out`
    # reads through them; ContextCleaner reclaims on GC of the frame
    return out


DEFAULT_N_PFX = 64


def band_pfx(bucket, n_pfx: int = DEFAULT_N_PFX):
    """Partition prefix of a band bucket: ``pmod(hash(bucket), n_pfx)``.

    Purely a storage-layout key (never part of the result), so the
    engine-native murmur hash is fine — the index is written and
    probed by the same engine.  Writer and prober must agree on
    ``n_pfx``: :class:`BandIndex` records it with every layout it
    writes and tags the ``pfx`` column of every frame it reads with
    it, and :func:`band_probe_pairs` prunes under that modulus — a
    silently different one would prune the WRONG ``pfx=`` partitions
    and drop near-dup candidate pairs.
    """
    return F.pmod(F.hash(bucket), F.lit(n_pfx))


def _pfx_list(bands: DataFrame, n_pfx: int) -> list:
    """The distinct ``pfx`` values of ``bands``' buckets under
    ``n_pfx``, in one collect bounded by ``n_pfx`` ints.  ``band_pfx``
    of a NULL bucket is still non-null, so the list is empty exactly
    when ``bands`` is."""
    return [
        r[0]
        for r in bands.select(band_pfx(F.col("bucket"), n_pfx).alias("p"))
        .distinct()
        .collect()
    ]


def index_n_pfx(spark, path: str) -> int | None:
    """The ``n_pfx`` a :func:`write_band_index` layout was written
    with; ``None`` for a pre-sidecar or foreign layout."""
    return BandIndex._sidecars(spark, path)[0]


def write_band_index(
    bands: DataFrame,
    path: str,
    n_pfx: int = DEFAULT_N_PFX,
    mode: str = "overwrite",
) -> None:
    """Persist a ``(doc_id, band, bucket)`` band frame as a
    PARTITION-PRUNABLE index: hive-partitioned by
    ``pfx = pmod(hash(bucket), n_pfx)``.

    This is the production layout for incremental / streaming fuzzy
    dedup at scale: a probe only touches the ``pfx=`` directories its
    own buckets hash into, so per-batch probe I/O is bounded by the
    batch's bucket spread, not the total index size.  (A flat layout
    forces every probe to scan the whole accumulated index — O(index)
    per batch, the scale-killer this layout exists to remove.)

    :class:`BandIndex` writes it (:meth:`BandIndex.put`).
    ``mode="append"`` opens the existing layout first, which raises
    when ``n_pfx`` differs from the recorded modulus.
    """
    if mode == "append":
        BandIndex(bands.sparkSession, path, n_pfx).extend(bands)
    else:
        BandIndex.put(bands, path, n_pfx, mode=mode)


def read_band_index(spark, path: str, n_pfx: int | None = None) -> DataFrame:
    """Open a :func:`write_band_index` layout (:meth:`BandIndex.read`);
    its ``pfx`` column carries the recorded modulus, which
    :func:`band_probe_pairs` prunes under.  A given ``n_pfx`` that
    conflicts with the recorded one raises."""
    return BandIndex(spark, path, n_pfx).read()


class BandIndex:
    """The one owner of the stored band-index protocol: the layout,
    its sidecars and their guards, for the static layouts
    (:func:`write_band_index`, ``similarity.write_embedding_band_index``,
    :func:`compact_band_index`'s output) and the streaming one, plus
    the stream's history read, per-batch append and fold.

    Layout: ``pfx=M/`` parquet dirs written by :meth:`put`.  A static
    index is one layout at its root; a streaming one holds a tail
    layout per micro-batch at ``<root>/batch=N/`` plus at most one
    folded layout at ``<root>_compacted``.  A fold rewrites
    ``<root>_compacted`` by :func:`vcfdbr_spark.fs.swap_dir` (its
    docstring states the crash windows; :meth:`history` reads a
    half-swapped layout through :func:`~vcfdbr_spark.fs.swapped_dir`),
    then deletes the folded tail dirs.  A crash before those deletes
    leaves tail dirs that were already folded: duplicate rows,
    harmless, because probe output is distinct and the next fold's
    ``distinct`` drops them.

    Sidecars: ``_n_pfx`` records the partition modulus baked into
    every ``pfx=`` dir, and ``_band_params`` the optional pinned
    banding parameters (an embedding index's ``bits`` and
    ``n_bands``).  Opening validates both, because a different
    modulus prunes the wrong dirs and different band parameters band
    new rows into a different bucket space; either silently loses
    candidate pairs.  An explicit value that conflicts with the
    recorded one raises; an omitted one (``None``) resumes with the
    recorded value (``n_pfx``: :data:`DEFAULT_N_PFX` when none is
    recorded).  Opening writes nothing (a manual compaction stays
    read-only on the stream's directory); :meth:`record` writes the
    sidecars a new stream lacks, and :meth:`put` writes them with
    every layout.  The frames this reads (:meth:`read`,
    :meth:`history`) carry the modulus in their ``pfx`` column's
    metadata, where :func:`band_probe_pairs` takes it from.
    """

    def __init__(
        self,
        spark,
        root: str,
        n_pfx: int | None = None,
        params: dict | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.compacted = f"{self.root}_compacted"
        stored, pinned = self._sidecars(spark, self.root)
        if n_pfx is None:
            n_pfx = DEFAULT_N_PFX if stored is None else stored
        elif stored is not None and stored != n_pfx:
            raise ValueError(
                f"band index at {self.root} was written with "
                f"n_pfx={stored}; n_pfx={n_pfx} would mix partition "
                f"moduli and prune the wrong pfx= partitions. Omit "
                f"n_pfx to use the recorded one, or rebuild the index."
            )
        self.n_pfx = n_pfx
        self._n_pfx_recorded = stored is not None
        if pinned is not None and params is not None:
            params = {k: pinned.get(k) if v is None else v for k, v in params.items()}
            if any(pinned.get(k, v) != v for k, v in params.items()):
                raise ValueError(
                    f"band index at {self.root} is pinned at "
                    + ", ".join(f"{k}={pinned[k]}" for k in params if k in pinned)
                    + f"; {tuple(params.values())} would band new rows "
                    f"into a different bucket space and silently lose "
                    f"candidate pairs"
                )
        self.params = pinned if params is None else dict(params)
        self._params_recorded = pinned is not None

    @staticmethod
    def _sidecars(spark, path: str) -> tuple[int | None, dict | None]:
        """The recorded ``(n_pfx, band params)`` of the layout at
        ``path``; ``None`` for each one that is absent."""
        raw = _fs.read_text(spark, f"{path}/_n_pfx")
        n_pfx = int(raw.strip()) if raw else None
        raw = _fs.read_text(spark, f"{path}/_band_params")
        return n_pfx, json.loads(raw) if raw else None

    @staticmethod
    def put(
        bands: DataFrame,
        path: str,
        n_pfx: int | None = None,
        params: dict | None = None,
        mode: str = "overwrite",
    ) -> None:
        """The one layout writer: ``bands`` hive-partitioned by ``pfx``
        under modulus ``n_pfx`` (default :data:`DEFAULT_N_PFX`) at
        ``path``, then the ``_n_pfx`` sidecar and, given ``params``,
        the ``_band_params`` one.  A non-append write DELETES the
        target dir, sidecars included, so both are always rewritten.

        File-count shape (r14): the frame is hash-REPARTITIONED on
        ``pfx`` before the dynamic-partition write, so each ``pfx=``
        dir receives its rows from ONE task → ≤ ``n_pfx`` files per
        write.  Without it every upstream task opens a writer per pfx
        it touches — T×n_pfx tiny files per write (measured 32×64 = up
        to 2,048 files per micro-batch at sf0.1, and the per-batch
        index write was 50 s of file-create/close stall for 5,000
        rows).  Probes pay the same bill again at read time: the
        accumulated layout's file count is what every later scan lists
        and tasks over.  The added exchange is O(batch band rows) of
        narrow columns — the classic §6 trade (fewer, larger files) at
        micro-batch granularity.  ``pfx`` is a deterministic function
        of ``bucket``, so retried map tasks reproduce the same
        row→partition assignment."""
        spark = bands.sparkSession
        n_pfx = DEFAULT_N_PFX if n_pfx is None else n_pfx
        (
            bands.withColumn("pfx", band_pfx(F.col("bucket"), n_pfx))
            .repartition("pfx")
            .write.mode(mode)
            .partitionBy("pfx")
            .parquet(path)
        )
        _fs.write_text(spark, f"{path}/_n_pfx", str(n_pfx))
        if params is not None:
            _fs.write_text(spark, f"{path}/_band_params", json.dumps(params))

    def record(self) -> None:
        """Write the root sidecars this index has not recorded yet."""
        if not self._n_pfx_recorded:
            _fs.write_text(self.spark, f"{self.root}/_n_pfx", str(self.n_pfx))
            self._n_pfx_recorded = True
        if self.params is not None and not self._params_recorded:
            _fs.write_text(
                self.spark, f"{self.root}/_band_params",
                json.dumps(self.params),
            )
            self._params_recorded = True

    def pinned(self) -> dict:
        """The pinned band parameters; raises when there are none."""
        if self.params is None:
            raise ValueError(
                f"band index at {self.root} has no _band_params sidecar; "
                f"rebuild it with write_embedding_band_index (probing "
                f"with re-derived parameters can silently lose pairs)"
            )
        return self.params

    def _tagged(self, frame: DataFrame) -> DataFrame:
        return frame.withMetadata("pfx", {"n_pfx": self.n_pfx})

    def read(self) -> DataFrame:
        """The static layout at the root, ``pfx`` tagged with its
        modulus."""
        return self._tagged(self.spark.read.parquet(self.root))

    def extend(self, bands: DataFrame) -> None:
        """Append ``bands`` to the static layout at the root, under the
        modulus and band parameters this index opened with."""
        self.put(bands, self.root, self.n_pfx, self.params, mode="append")

    def tail(self, exclude_batch: int | None = None) -> list[str]:
        """The ``batch=N`` tail dirs, minus ``exclude_batch``'s own."""
        return [
            d
            for d in _fs.list_subdirs(self.spark, self.root, "batch=")
            if d.rsplit("/", 1)[-1] != f"batch={exclude_batch}"
        ]

    def _read_tail(self, tail: list[str]) -> DataFrame:
        # basePath anchors partition discovery at the root, so the
        # batch=N dirs surface one `pfx` column the probe prunes on;
        # without it, several batch=* roots that each hold pfx=*
        # children are rejected as conflicting
        return (
            self.spark.read.option("basePath", self.root)
            .parquet(*tail)
            .drop("batch")
        )

    def pfxs(self, bands: DataFrame) -> list:
        """:func:`_pfx_list` under this index's modulus; doubles as the
        batch's emptiness probe."""
        return _pfx_list(bands, self.n_pfx)

    def history(self, exclude_batch: int | None = None) -> DataFrame | None:
        """Every indexed row except batch ``exclude_batch``'s own, with
        its tagged ``pfx`` column; ``None`` when nothing is indexed.

        Reads the compacted layout (or its ``.old`` while a fold's
        swap is half done) unioned with the tail.  A replayed batch
        whose rows were already folded pairs against itself through the
        compacted layout, which yields the same distinct pairs as its
        own self-join, so replays stay exactly-once across a fold.  A
        ``pfx`` ``isin`` filter on the result pushes through the union
        into PartitionFilters on every scan."""
        frames = []
        comp = _fs.swapped_dir(self.spark, self.compacted)
        if comp is not None:
            frames.append(self.spark.read.parquet(comp))
        tail = self.tail(exclude_batch)
        if tail:
            frames.append(self._read_tail(tail))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return self._tagged(out)

    def drop(self, batch_id: int) -> None:
        """Delete batch ``batch_id``'s tail dir, if any."""
        _fs.delete_dir(self.spark, f"{self.root}/batch={batch_id}")

    def append(self, bands: DataFrame, batch_id: int) -> None:
        """Write ``bands`` as batch ``batch_id``'s tail dir,
        delete-before-write so a replayed batch replaces its own rows.
        Callers skip an empty frame (and :meth:`drop` instead): an
        empty partitioned write leaves a dir with no parquet files,
        which breaks every later history read."""
        self.drop(batch_id)
        write_band_index(
            bands, f"{self.root}/batch={batch_id}", n_pfx=self.n_pfx,
            mode="errorifexists",
        )

    def fold(self, every: int | None) -> None:
        """Once the tail holds ``every`` dirs (``None`` never), fold it
        and the compacted layout into a new compacted layout."""
        if not every:
            return
        spark, comp = self.spark, self.compacted
        tail = self.tail()
        if len(tail) < every:
            return

        def write(tmp: str) -> None:
            bands = self._read_tail(tail)
            if _fs.exists(spark, comp):
                bands = bands.unionByName(spark.read.parquet(comp))
            self.put(bands.drop("pfx").distinct(), tmp, self.n_pfx, self.params)

        _fs.swap_dir(spark, comp, write)
        for d in tail:
            _fs.delete_dir(spark, d)


def compact_band_index(
    spark,
    stream_idx_dir: str,
    out_dir: str,
    n_pfx: int = DEFAULT_N_PFX,
) -> int:
    """Compact a streaming :class:`BandIndex` (its ``batch=N/pfx=M``
    tail plus any folded ``<stream_idx_dir>_compacted`` layout, or its
    ``.old`` after a crash mid-swap) into ONE consolidated
    :func:`write_band_index` layout at ``out_dir``; returns the row
    count.  Works on any stream state, including one whose tail the
    auto-fold already emptied.

    Read-only on the stream's directory: it writes only ``out_dir``
    (atomic swap is the caller's choice — e.g. write, verify, rename
    over), never a sidecar or a fold under a live stream.

    Works on BOTH stream flavors: the id column (``doc_id`` for the
    MinHash text stream, ``vec_id`` for the sign-LSH embedding
    stream) is inferred from the layout rather than assumed, and a
    semantic index's pinned band parameters are carried to the
    output so probes against the compacted index keep the pinned
    band-width guard.
    """
    index = BandIndex(spark, stream_idx_dir)
    bands = index.history()
    if bands is None:
        raise FileNotFoundError(
            f"no batch=* partitions under {index.root} and no "
            f"compacted layout at {index.compacted}"
        )
    ids = [c for c in bands.columns if c not in ("band", "bucket", "pfx")]
    if len(ids) != 1:
        raise ValueError(
            f"band index layout has ambiguous id columns {ids}; "
            f"expected exactly one besides (band, bucket)"
        )
    index.put(
        bands.select(ids[0], "band", "bucket").distinct(), out_dir, n_pfx,
        index.params,
    )
    return spark.read.parquet(out_dir).count()


def incremental_dedup_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_words: int = 50,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stats: dict | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Incremental fuzzy dedup: near-dup candidate pairs of a NEW
    document batch against an existing corpus's persisted MinHash band
    index (``minhash_band_buckets`` output, stored once), plus
    new-vs-new pairs — WITHOUT re-signing the indexed corpus.  This is
    the production shape: at 100 TB you LSH the corpus once, persist
    the ``(doc_id, band, bucket)`` index, and each ingest batch only
    signs itself and probes the index.

    Returns distinct ``(a, b)`` with ``a < b`` (canonical order across
    cross and new-new pairs).

    Scale shape: the new batch's band frame is tiny relative to the
    index, so AQE broadcasts it and the probe is a map-side join over
    the index scan — the index is never shuffled.  When ``index`` came
    from :func:`read_band_index` (it carries a tagged ``pfx``
    partition column) the probe additionally PRUNES index partitions
    to the new batch's own bucket prefixes, so probe I/O is O(batch
    spread), not O(index).

    ``materialize`` (default True) persists the batch's band frame —
    it feeds ~6 plan subtrees (hot-bucket list, anti-join side,
    self-join sides, count window, pfx collection), so without the
    persist the batch signature pipeline re-runs per subtree
    (measured 8× slower).  The trade: the persist has no release
    handle from here (a |batch|×bands frame stays cached per call).
    Pipelines that need both the persist and an explicit release use
    :func:`band_probe_pairs` directly with their own persisted frame
    (the CLI and the streaming sink do).
    """
    new_b = minhash_band_buckets(
        minhash_signatures(
            new_docs, text_col, id_col, num_hashes, shingle_n, max_words
        ),
        id_col=id_col,
        rows_per_band=rows_per_band,
    )
    if materialize:
        new_b = new_b.persist()
    return band_probe_pairs(
        new_b, index, id_col, max_bucket_size=max_bucket_size, stats=stats
    )


def band_probe_pairs(
    new_bands: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stats: dict | None = None,
    self_pairs: bool = True,
    pfxs: list | None = None,
) -> DataFrame:
    """Candidate pairs of a (persisted) new band frame against a
    stored band index, plus new-vs-new pairs — the probe step shared
    by :func:`incremental_dedup_pairs` and the streaming fuzzy dedup.
    Caller persists ``new_bands`` (it feeds both joins).

    When the index carries a ``pfx`` partition column (a layout read
    through :class:`BandIndex`, e.g. by :func:`read_band_index`) the
    probe first collects the new batch's DISTINCT bucket prefixes
    under the modulus in that column's metadata (a ``pfx`` column
    without one raises) — a driver-bounded set (≤ ``n_pfx`` ints)
    computed from the already-persisted band frame — and pushes them
    as an ``IN`` filter on the partition column, which Catalyst turns
    into PartitionFilters on the parquet scan: only the matching
    ``pfx=`` directories are read.  A caller that already holds that
    prefix list (the streaming core collects it as its
    batch-emptiness probe) passes ``pfxs`` to skip the collect job.

    ``max_bucket_size`` caps bucket populations on EACH side
    independently (anti-join shape on the index so its scan stays
    unshuffled and the probe stays map-side; the capped-new side also
    flows through :func:`lsh_candidate_pairs`' window cap).  Per-side
    capping bounds per-bucket fan-out at cap·|new-in-bucket| ≤ cap²
    — without it one degenerate index bucket (B in the millions)
    multiplies against every probing batch forever.  Capping after pfx
    pruning equals capping before it: ``pfx`` is a pure function of
    ``bucket``, so pruning never splits a bucket's population.

    ``self_pairs=False`` returns ONLY the index-vs-new cross pairs
    (no new-vs-new self-join) — for callers that need the two pair
    populations separately, e.g. a first-seen-wins streaming keep
    policy where an edge to history and an edge within the batch
    have different consequences.
    """
    if "pfx" in index.columns:
        if pfxs is None:
            n_pfx = index.schema["pfx"].metadata.get("n_pfx")
            if n_pfx is None:
                raise ValueError(
                    "band index frame has a pfx column but no recorded "
                    "modulus; open stored layouts with read_band_index"
                )
            pfxs = _pfx_list(new_bands, n_pfx)
        index = index.filter(F.col("pfx").isin(pfxs)).drop("pfx")
    index = cap_buckets_antijoin(
        index, ("band", "bucket"), max_bucket_size, stats
    )
    capped_new = cap_buckets_antijoin(
        new_bands, ("band", "bucket"), max_bucket_size, stats
    )
    cross = (
        index.select("band", "bucket", F.col(id_col).alias("_x"))
        .join(
            capped_new.select("band", "bucket", F.col(id_col).alias("_y")),
            ["band", "bucket"],
        )
        .filter(F.col("_x") != F.col("_y"))
        .select(
            F.least("_x", "_y").alias("a"),
            F.greatest("_x", "_y").alias("b"),
        )
    )
    if not self_pairs:
        return cross.distinct()
    return cross.unionByName(
        lsh_candidate_pairs(new_bands, id_col, max_bucket_size=max_bucket_size)
    ).distinct()


def dedup_keep_best(
    pairs: DataFrame,
    docs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Quality-aware keep selection: like :func:`dedup_components`,
    but each component keeps its HIGHEST-``score_col`` member
    (tiebreak: minimum id) instead of the minimum id.  Production
    dedup pipelines keep the best-quality representative, not an
    arbitrary one — min-id keep silently biases the retained corpus
    toward whatever happened to be ingested first.

    Returns ``(doc_id, keep_id)`` for every doc in any pair, where
    ``keep_id`` is the component's best-scoring member.

    Scale shape: the component frame holds only LSH-paired docs (a
    small fraction of the corpus); the score join touches only those
    ids, and the per-component window partitions by component label —
    components are tiny cliques/chains, so no skewed partition.

    Caching contract mirrors :func:`dedup_components`: with
    ``materialize`` (default) the returned frame is
    persisted+materialized (it feeds both a write and an anti-join in
    every real pipeline) and the intermediate component cache is
    released here; caller ``.unpersist()``s the result.  Pass
    ``materialize=False`` when the result is consumed exactly once
    (e.g. a single oracle/bench action) — nothing stays cached.
    """
    comps = dedup_components(pairs, materialize=materialize)

    scored = comps.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("_s")),
        "doc_id",
    )
    w = Window.partitionBy("keep_id").orderBy(
        F.desc("_s"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col("keep_id").alias("_comp"), F.col("doc_id").alias("_best"))
    )
    out = comps.join(best, comps["keep_id"] == best["_comp"]).select(
        "doc_id", F.col("_best").alias("keep_id")
    )
    if materialize:
        out = out.persist()
        out.count()  # eager: reads hit THIS cache, comps' can be released
        comps.unpersist()
    return out


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    n_bands: int = 4,
    materialize: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stats: dict | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates share at least one
    16-bit band of the 63-bit fingerprint, verified by exact Hamming
    distance ≤ ``max_hamming``.

    The banding is the standard simhash dedup trick (pigeonhole: any
    pair within Hamming distance ``n_bands - 1`` shares a band, and
    most near-dup pairs far closer than that collide in several);
    per-band bucket population is ~|docs|/2¹⁶ so the self-join never
    goes quadratic — EXCEPT for degenerate clusters (identical
    boilerplate / empty texts hash to one simhash → one bucket of B
    members → B² candidates), which ``max_bucket_size`` drops before
    the self-join, same contract as :func:`lsh_candidate_pairs`.

    ``materialize`` persists the signature frame (one 64-bit hash per
    doc — tiny): both sides of the self-join consume it, and without
    the persist the full tokenize+aggregate pipeline runs twice.
    """
    sig = simhash(docs, text_col, id_col)
    if materialize:
        sig = sig.persist()
    width = 64 // n_bands
    bands = F.array(
        *[
            F.shiftright("simhash", b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for b in range(n_bands)
        ]
    )
    bb = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(bands).alias("band", "bucket"),
    )
    bb = cap_buckets_window(bb, ("band", "bucket"), max_bucket_size, stats)
    a = bb.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sa"),
        "band", "bucket",
    )
    b = bb.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sb"),
        "band", "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 63,
) -> DataFrame:
    """63-bit SimHash over whitespace tokens.

    Token hash = first 15 hex chars of md5 (60 bits, extended to
    ``bits`` by reusing low bits) — chosen over xxhash/murmur because
    md5 is identical in every engine, keeping the operator
    oracle-checkable.  Per bit j: sum_t (2*bit_j(h(t)) - 1); sign
    packs into the output.  Integer-only → deterministic.

    BIT-SLICED plan: one conditional-sum aggregate column per bit in a
    single groupBy over token rows.  Round 1 exploded the token table
    ×63 (a per-bit row for every token) before a two-level
    aggregation; this shape keeps the row count at |tokens|, gets
    map-side partial aggregation, and all 63 sums ride one shuffle of
    |docs| rows.  (A zero-shuffle higher-order-function variant was
    measured 4× slower: array lambdas evaluate interpreted, outside
    whole-stage codegen.)
    """
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long"),
    )
    votes = [
        F.sum(
            (F.shiftright("h", j % 60).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    packed = None
    for j in range(bits):
        term = F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return per_doc.select(id_col, packed.cast("long").alias("simhash"))


# --------------------------------------------------------------------
# Passage-level (window) exact dedup
# --------------------------------------------------------------------

def passage_windows(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each document into overlapping ``window``-word passages
    every ``stride`` words: (id, w_start, passage [, *keep_cols]).
    ``keep_cols`` are carried through the explode unchanged (e.g. the
    doc's source label for :func:`source_overlap_matrix`).

    This is the distributed stand-in for substring-level training-data
    dedup (the suffix-array approach of "Deduplicating Training Data
    Makes Language Models Better" finds repeated spans exactly; fixed
    stride windows approximate it with an embarrassingly parallel
    per-row explode).  Blowup is ceil(words/stride) rows per doc —
    linear in corpus size with a constant ~window/stride factor, never
    quadratic.  A short document (fewer words than ``window``) yields
    exactly one passage of all its words, and when the stride sequence
    does not land on the last full window (``(L-1) % stride != 0``) an
    extra tail window clamped to end at the last word is emitted — so
    EVERY word of every document is covered by at least one passage,
    not just the first ``stride``-aligned ones.
    """
    words = F.split(F.col(text_col), " ")
    last_start = F.greatest(F.size(words) - (window - 1), F.lit(1))
    # array_union dedupes: the tail start folds into the stride
    # sequence whenever the sequence already ends on it
    starts = F.array_union(
        F.sequence(F.lit(1), last_start, F.lit(stride)),
        F.array(last_start),
    )
    exploded = docs.select(
        id_col,
        *keep_cols,
        words.alias("_w"),
        F.explode(starts).alias("w_start"),
    )
    return exploded.select(
        id_col,
        "w_start",
        F.concat_ws(
            " ", F.slice(F.col("_w"), F.col("w_start"), window)
        ).alias("passage"),
        *keep_cols,
    )


def repeated_passages(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passages that occur more than once across the corpus —
    cross-document boilerplate / quoted-span / template detection at
    word-window granularity.

    Plan shape: explode → ONE hash groupBy on md5(passage) with
    map-side partial aggregation (count / count-distinct / min fold
    per mapper), HAVING count > 1.  No join, no window function, so a
    degenerate passage shared by millions of documents is a single
    combined aggregation group, not a candidate-pair blowup — this op
    needs no bucket cap.
    """
    wins = passage_windows(docs, window, stride, id_col, text_col)
    return (
        wins.groupBy(F.md5(F.col("passage")).alias("passage_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


def source_overlap_matrix(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT per-source-pair shared-passage matrix — which corpus
    sources syndicate/mirror each other, at word-window granularity.

    The curation question this answers: "crawl B shares 40% of its
    passages with crawl A — dedup them against each other (or drop B)
    before mixing."  :func:`~vcfdbr_spark.operators.sketch.kmv_overlap`
    ESTIMATES the same directional containments from two k-hash
    sketches (the right tool when the corpora are separate tables /
    snapshots); this operator computes them exactly, for all source
    pairs at once, from one corpus with a source label.

    One row per unordered source pair sharing >= 1 distinct passage:
    (source_a, source_b, shared_passages, n_a, n_b, containment_a,
    containment_b, jaccard), where n_x is source x's DISTINCT-passage
    count, containment_a = shared/n_a (share of A's passages also in
    B), and source_a < source_b (binary string order on both engines).

    Plan shape: passage explode (linear, ~window/stride rows per doc)
    → ONE hash groupBy on md5(passage) collecting the DISTINCT source
    set per passage (set size is bounded by the number of sources, a
    few dozen — never by corpus size, so a boilerplate passage in
    millions of docs is one group with a tiny set, not a blowup) →
    one in-array expansion emitting BOTH the per-source singletons
    (for the distinct-passage totals) and the unordered pairs
    (<= n_sources^2/2 structs per passage) → ONE tiny groupBy on
    (source_a, source_b) where a NULL source_b row is source_a's
    total.  That counts frame is O(n_sources^2) rows and gets an
    :func:`~vcfdbr_spark.plans.checkpoints.eager_checkpoint` so the
    heavy explode+aggregate lineage runs exactly once (deriving
    totals and matrix as separate subtrees re-ran the corpus scan
    3x — the lm_score r10 lesson; measured here too, Catalyst's
    ReuseExchange does not fire across the differently-pruned
    subtrees).  The final joins broadcast O(n_sources) rows.  No
    self-join on passage hash: the classic `per JOIN per ON h`
    pairing would square the hot-passage row count; the set
    formulation caps it at the source-set size.
    """
    from vcfdbr_spark.plans.checkpoints import eager_checkpoint

    wins = passage_windows(
        docs, window, stride, id_col, text_col, keep_cols=(group_col,)
    )
    grouped = wins.groupBy(F.md5(F.col("passage")).alias("h")).agg(
        F.sort_array(F.collect_set(F.col(group_col))).alias("_gs")
    )
    # singletons (a, NULL) count distinct passages per source; pairs
    # (gs[i], gs[j]) i<j count passages shared by the pair
    emit_expr = F.expr(
        "concat("
        "transform(_gs, a -> "
        "struct(a AS source_a, CAST(NULL AS STRING) AS source_b)), "
        "flatten(transform(_gs, (a, i) -> "
        "transform(slice(_gs, i + 2, size(_gs)), "
        "b -> struct(a AS source_a, b AS source_b)))))"
    )
    counts = eager_checkpoint(
        grouped.select(F.explode(emit_expr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.filter(F.col("source_b").isNull())
    matrix = counts.filter(F.col("source_b").isNotNull()).withColumnRenamed(
        "c", "shared_passages"
    )
    ta = totals.select(F.col("source_a").alias("_sa"), F.col("c").alias("n_a"))
    tb = totals.select(F.col("source_a").alias("_sb"), F.col("c").alias("n_b"))
    joined = (
        matrix.join(F.broadcast(ta), F.col("source_a") == F.col("_sa"))
        .join(F.broadcast(tb), F.col("source_b") == F.col("_sb"))
        .drop("_sa", "_sb")
    )
    shared_d = F.col("shared_passages").cast("double")
    return joined.select(
        "source_a",
        "source_b",
        "shared_passages",
        "n_a",
        "n_b",
        F.round(shared_d / F.col("n_a"), 6).alias("containment_a"),
        F.round(shared_d / F.col("n_b"), 6).alias("containment_b"),
        F.round(
            shared_d
            / (F.col("n_a") + F.col("n_b") - F.col("shared_passages")),
            6,
        ).alias("jaccard"),
    )


def scrub_repeated_passages(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The APPLY step to ``repeated_passages``' detection: REMOVE
    cross-document boilerplate from every doc except the span's
    canonical holder.  A word is scrubbed iff some window covering it
    hashes to a passage seen in >1 distinct documents AND this doc is
    not that passage's ``first_doc`` (min id) — i.e. exactly one copy
    of every cross-document span survives, the keep-first policy of
    substring-level training-data dedup ("Deduplicating Training Data
    Makes Language Models Better", word-window approximation).
    Within-document repeats (n_docs == 1) are deliberately left
    alone — that is ``doc_repetition``'s signal, not boilerplate.

    Returns one row per input doc: (id, text, n_removed) with the
    scrubbed text (unchanged when nothing matched) and the number of
    words removed.

    Plan shape: the detection groupBy [shuffle 1] → spans re-attached
    to their windows by hash [shuffle 2] → per-doc span list [shuffle
    3, bounded by ~words/stride structs per doc] → per-row rebuild
    with higher-order functions (transform/filter/exists — no UDF).
    The span-coverage test is order-independent, so collect_list's
    nondeterministic order cannot affect the output.
    """
    wins = passage_windows(docs, window, stride, id_col, text_col).select(
        id_col, "w_start", F.md5(F.col("passage")).alias("h")
    )
    rep = (
        wins.groupBy("h")
        .agg(
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )
    spans = (
        wins.join(rep, "h")
        .filter(F.col(id_col) != F.col("first_doc"))
        .select(
            id_col,
            F.col("w_start").cast("long").alias("s0"),
            (F.col("w_start") + window - 1).cast("long").alias("s1"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s0", "s1")).alias("_spans"))
    )
    words = F.split(F.col(text_col), " ")
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s0:long,s1:long>>"),
    )
    indexed = F.transform(
        words, lambda w, i: F.struct(w.alias("w"), (i + 1).alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            spans_arr,
            lambda sp: (s["i"] >= sp["s0"]) & (s["i"] <= sp["s1"]),
        ),
    )
    return (
        docs.join(spans, id_col, "left")
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(kept, lambda s: s["w"])
            ).alias(text_col),
            (F.size(words) - F.size(kept)).cast("long").alias("n_removed"),
        )
    )
