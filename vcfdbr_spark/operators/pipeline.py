"""End-to-end training-corpus filter — the capstone composition a
pretraining pipeline ships: per-row quality gates (length,
type-token ratio), the bigram-LM gibberish cap (operators/lm.py),
and MinHash-LSH fuzzy dedup (operators/dedup.py) applied as ONE
declarative plan.

Ordering is load-bearing: dedup runs AMONG THE QUALITY SURVIVORS
(only passing docs are shingled/signed/banded).  Deduping the raw
corpus first with min-id keep would let a cluster whose minimum-id
member fails a quality gate silently drop every member — including
passing docs — because the kept doc dies at the gate and the passing
ones died in the drop list.  Restricting BEFORE signing (not just
filtering the pair list afterwards) also makes the dominant dedup
stage cost pass-rate × corpus instead of corpus — the difference
between re-shingling 100 TB and re-shingling the 40 TB that survived
the gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcfdbr_spark.plans.checkpoints import eager_checkpoint


def quality_pass_frame(
    docs: DataFrame,
    min_tokens: int = 20,
    min_ttr: float = 0.3,
    max_bits: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang", "source"),
    model: DataFrame | None = None,
    score_lm: bool = True,
) -> DataFrame:
    """The quality-gate stage of :func:`corpus_filter`, factored out
    so the batch capstone and its streaming twin
    (``streaming.ingest.stream_corpus_filter``) share ONE definition
    of the gates: (id, *keep_cols, n_tokens, ttr, bits_per_bigram)
    for every doc passing length/ttr (and, with ``max_bits``, the
    LM cap).  ``model`` scores against a pre-trained bigram model
    (``operators.lm.train_bigram_model``) instead of self-training —
    the streaming path MUST pass one (a per-batch self-trained model
    would judge each batch by a different ruler).  ``score_lm=False``
    (only valid with ``max_bits=None``) skips LM scoring entirely and
    returns NULL bits — the streaming no-model path, where
    self-training a throwaway model per micro-batch would cost a
    corpus aggregation per batch just to fill an informational
    column with batch-relative numbers."""
    from vcfdbr_spark.operators.lm import lm_score

    if not score_lm and max_bits is not None:
        raise ValueError("max_bits requires score_lm")
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    ttr = F.round(
        F.size(F.array_distinct(toks)) / n_tokens.cast("double"), 6
    )
    qual = docs.select(
        id_col,
        *keep_cols,
        n_tokens.cast("long").alias("n_tokens"),
        ttr.alias("ttr"),
    )
    gates = (F.col("n_tokens") >= min_tokens) & (F.col("ttr") >= min_ttr)
    if not score_lm:
        return qual.withColumn(
            "bits_per_bigram", F.lit(None).cast("double")
        ).filter(gates)
    lm = lm_score(
        docs, model=model, text_col=text_col, id_col=id_col
    ).select(id_col, "bits_per_bigram")
    if max_bits is not None:
        gates = gates & (F.col("bits_per_bigram") <= max_bits)
    return qual.join(
        lm, id_col, "inner" if max_bits is not None else "left"
    ).filter(gates)


def corpus_filter(
    docs: DataFrame,
    min_tokens: int = 20,
    min_ttr: float = 0.3,
    max_bits: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """(id, *keep_cols, n_tokens, ttr, bits_per_bigram) — the docs
    that pass every gate, deduplicated among themselves.

    ``max_bits=None`` skips the LM gate: the bits column is still
    returned, as NULL for docs with fewer than 2 tokens (no bigrams →
    no ``lm_score`` row; the LM attach is a LEFT join in this mode so
    such docs are judged by the length/ttr gates alone).  With a
    ``max_bits`` cap the attach is INNER — a doc without bigrams has
    no measurable bits_per_bigram and cannot pass a bits gate.

    Plan shape: quality predicates evaluate at the scan; the LM model
    joins back AQE-broadcast; ONLY QUALITY SURVIVORS are shingled,
    signed and banded (the dedup stage's cost is proportional to the
    pass rate, not the corpus — at 100 TB the gates typically drop
    30-60% of docs before the expensive stage); the drop list is the
    LSH-bounded component loser set applied as a terminal anti-join —
    the corpus is never self-joined.  Cap semantics follow from the
    restriction: ``minhash_dedup_pairs``'s hot-bucket cap counts
    SURVIVOR bucket membership (a bucket over the cap among survivors
    is dropped even if the raw corpus would have split differently) —
    the oracle SQL encodes the same policy.
    """
    from vcfdbr_spark.operators.dedup import (
        dedup_components,
        minhash_dedup_pairs,
    )

    passing = quality_pass_frame(
        docs, min_tokens, min_ttr, max_bits, text_col, id_col, keep_cols
    )
    # Materialize the survivor frame ONCE: it is consumed by the
    # semi-join below (which sits under BOTH sides of the banded
    # candidate self-join) and by the terminal anti-join.  Without
    # this each consumer re-evaluates the full gates+LM subtree —
    # measured 2-3 extra corpus passes per run.  The frame is
    # O(survivors) rows of scalar columns, far below corpus size.
    # eager_checkpoint: reliable checkpoint (executor-loss-survivable,
    # files cleaned by ContextCleaner) when the session configures a
    # checkpoint dir — the production deployment at 100 TB — else
    # localCheckpoint, whose blocks are released when the returned
    # frame is GC'd (long-lived drivers looping this operator should
    # set a checkpoint dir; see plans/checkpoints.py).
    passing = eager_checkpoint(passing)
    pass_ids = passing.select(id_col)
    survivors = docs.join(pass_ids, id_col, "left_semi")
    pairs = minhash_dedup_pairs(
        survivors, text_col=text_col, id_col=id_col
    ).select("a", "b")
    drops = (
        dedup_components(pairs, materialize=False)
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return passing.join(drops, id_col, "left_anti")


def decontaminate_splits(
    docs: DataFrame,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_split: str = "train",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Split the corpus AND remove cross-split near-duplicate leaks:
    a train doc that is a near-duplicate of a val/test doc inflates
    eval scores exactly like verbatim contamination, and
    :func:`~vcfdbr_spark.operators.sampling.split_corpus` alone
    cannot see it (splits are independent of content).  Returns
    (id, *keep_cols, split) where every ``train`` row whose verified
    near-dup counterpart landed in a held-out split has been dropped;
    held-out rows are never dropped (eval sets stay complete — the
    leak is fixed on the train side only, the standard
    decontamination direction).

    Near-dup evidence is the engine's existing LSH pipeline: banded
    MinHash candidates (hot-bucket capped, never all-pairs) verified
    by exact shingle-set Jaccard >= ``jaccard_threshold``.

    Scale shape: because the split is a pure function of the key
    (:func:`~vcfdbr_spark.operators.sampling.split_assign_col`), both
    endpoints of every candidate pair are classified by per-row
    column algebra directly on the O(pairs) frame — the corpus is
    never joined to itself to look up splits.  The leaked-id frame is
    bounded by the verified-pair count (post-LSH small) and rides a
    broadcast anti-join; the corpus-side plan is one LSH pipeline +
    one scan with the split expression fused at the scan.
    """
    from vcfdbr_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from vcfdbr_spark.operators.sampling import split_assign_col

    names = [n for n, _ in fractions]
    if train_split not in names:
        raise ValueError(f"train_split {train_split!r} not in fractions")
    cand = minhash_dedup_pairs(docs, text_col=text_col, id_col=id_col)
    handles: list = []
    verified = ngram_jaccard_pairs(
        docs, cand, text_col=text_col, id_col=id_col,
        threshold=jaccard_threshold, handles=handles,
    ).select("a", "b")
    edges = verified.unionByName(
        verified.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    leaked = (
        edges.withColumn("_sa", split_assign_col(F.col("a"), fractions))
        .withColumn("_sb", split_assign_col(F.col("b"), fractions))
        .filter(
            (F.col("_sa") == train_split) & (F.col("_sb") != train_split)
        )
        .select(F.col("a").alias(id_col))
        .distinct()
    )
    # materialize the (pair-bounded, tiny) leak list NOW and release
    # every upstream persist — repeated invocations leave zero net
    # cache (localCheckpoint blocks are GC-released, the module
    # contract); without this the jaccard internals stay cached with
    # no release handle
    leaked = eager_checkpoint(leaked)
    for h in handles:
        h.unpersist()
    assigned = docs.select(
        id_col, *keep_cols,
        split_assign_col(F.col(id_col), fractions).alias("split"),
    )
    return assigned.join(F.broadcast(leaked), id_col, "left_anti")


def decontaminate_batch(
    batch: DataFrame,
    eval_docs: DataFrame,
    eval_index: DataFrame | None = None,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental decontamination — the production shape of
    :func:`decontaminate_splits`: the held-out/benchmark set is
    FIXED and small, so its band index is built once (persist with
    :func:`~vcfdbr_spark.operators.dedup.write_band_index`) and each
    arriving TRAIN batch only signs itself and probes the index.
    Returns the batch minus every row whose verified near-duplicate
    (exact Jaccard >= ``jaccard_threshold``) is an eval doc.  Cost is
    O(batch), never O(corpus) — re-running the full-corpus
    decontamination per daily ingest is the scale-killer this exists
    to remove.

    ``eval_index``: a band frame (``minhash_band_buckets`` output or
    a :func:`~vcfdbr_spark.operators.dedup.read_band_index` layout,
    whose ``pfx=`` partitions the probe prunes to the batch's own
    bucket spread under the modulus the layout recorded).  ``None``
    builds it in-plan from ``eval_docs`` (fine for one-shot use;
    persist it for repeated batches).

    Scale shape: the probe is :func:`~vcfdbr_spark.operators.dedup.
    band_probe_pairs` with ``self_pairs=False`` — batch-vs-batch
    pairs are NOT leakage (that's dedup's job) — so every candidate
    pair has exactly one batch end and one eval end; the eval-id
    frame (benchmark-sized) and the leaked-id frame (pair-bounded)
    both ride broadcast joins, and the batch is scanned once.
    """
    from vcfdbr_spark.operators.dedup import (
        band_probe_pairs,
        minhash_band_buckets,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    # the probe's self-pair filter (x != y on ids) would silently hide
    # a genuine leak between a batch doc and an eval doc SHARING an
    # id, and duplicate ids in the union frame would attach the wrong
    # text at verification — id spaces must be disjoint, loudly
    overlap = batch.select(F.col(id_col)).join(
        F.broadcast(eval_docs.select(F.col(id_col))), id_col, "left_semi"
    )
    if overlap.take(1):
        raise ValueError(
            f"batch and eval_docs share {id_col} values (e.g. "
            f"{overlap.take(1)[0][0]!r}); decontamination needs "
            f"disjoint id spaces — re-key one side"
        )
    if eval_index is None:
        eval_index = minhash_band_buckets(
            minhash_signatures(eval_docs, text_col, id_col), id_col=id_col
        )
    batch_bands = minhash_band_buckets(
        minhash_signatures(batch, text_col, id_col), id_col=id_col
    ).persist()
    cand = band_probe_pairs(
        batch_bands, eval_index, id_col, self_pairs=False
    )
    union_docs = batch.select(id_col, text_col).unionByName(
        eval_docs.select(id_col, text_col)
    )
    handles: list = []
    verified = ngram_jaccard_pairs(
        union_docs, cand, text_col, id_col,
        threshold=jaccard_threshold, handles=handles,
    ).select("a", "b")
    edges = verified.unionByName(
        verified.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    eval_ids = eval_docs.select(F.col(id_col).alias("_eid"))
    leaked = (
        edges.join(F.broadcast(eval_ids), edges["b"] == F.col("_eid"), "left_semi")
        .select(F.col("a").alias(id_col))
        .distinct()
    )
    # same zero-net-cache contract as decontaminate_splits: the leak
    # list is materialized once, then every persist this call made is
    # released (the streaming twin invokes this per micro-batch —
    # un-released frames would accumulate for the stream's lifetime)
    leaked = eager_checkpoint(leaked)
    for h in handles:
        h.unpersist()
    batch_bands.unpersist()
    return batch.join(F.broadcast(leaked), id_col, "left_anti")
