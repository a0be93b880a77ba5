"""Eager materialization of small intermediate frames.

Two operators (``operators/pipeline.py::corpus_filter``,
``operators/lm.py::train_bigram_model``) materialize an O(survivors)
/ O(distinct-bigrams) scalar frame once so several consumers read the
stored rows instead of re-running the corpus subtree.  This module
centralizes the mechanism and its two production caveats:

- ``localCheckpoint`` blocks live until the JVM garbage-collects the
  RDD and the ContextCleaner runs — a long-lived driver invoking the
  operator in a loop accumulates blocks between GC cycles, and the
  blocks die with their executor (the job fails and is retried; fine
  for a minutes-long stage, not for a day-long one).
- With a CHECKPOINT DIR configured
  (``spark.sparkContext.setCheckpointDir(...)``), ``checkpoint()``
  writes to reliable storage instead: executor loss is survivable,
  and Spark deletes the files when the frame is GC'd if
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

``eager_checkpoint`` picks reliable when the session has a checkpoint
dir (the production deployment sets one), local otherwise (tests,
single-JVM benches) — callers get the right durability for their
deployment without threading a flag through every operator.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_FLIP_LOCK = threading.Lock()


def has_checkpoint_dir(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:
        return False


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage: reliable
    ``checkpoint`` when the session has a checkpoint dir, else
    ``localCheckpoint`` (see module docstring for the trade).

    The materialization runs with AQE's
    ``coalescePartitions.parallelismFirst`` scoped OFF (r15): a
    checkpoint freezes its final stage's partitioning into the leaf —
    AQE can never re-coalesce a checkpointed RDD — and with the
    default ``parallelismFirst=true`` AQE refuses to coalesce below
    ``defaultParallelism`` even when the whole frame is a few KB, so
    every consumer of a small checkpointed frame paid
    ``defaultParallelism`` near-empty tasks PER STAGE forever (the
    r14 verdict's ``eager_checkpoint`` partition-leak item; 32 tasks
    at local[32], more on a real cluster — the cost grows with core
    count).  Scoping the flag to the checkpoint job makes the frozen
    partition count SIZE-based (``advisoryPartitionSizeInBytes``):
    a few-hundred-row survivor frame checkpoints into 1 partition, a
    100 TB frame keeps its many advisory-sized partitions — and the
    flag reverts immediately, so CPU-heavy post-shuffle stages
    elsewhere keep their parallelism-first coalescing.

    The flag is session-global and driver threads checkpoint
    concurrently, so calls run one at a time under a module lock:
    unserialized, one call could restore the flag while another runs,
    and the later restore left it pinned to ``false``.
    """
    spark = df.sparkSession
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    materialize = df.checkpoint if has_checkpoint_dir(df) else df.localCheckpoint
    with _FLIP_LOCK:
        try:
            # default=None → None when the key was never SET (conf.get
            # without a default would return the config's built-in
            # default, and the restore below would then pin it explicitly)
            old = spark.conf.get(key, None)
            spark.conf.set(key, "false")
        except Exception:
            # conf not settable (exotic session) — checkpoint as-is
            return materialize(eager=True)
        try:
            return materialize(eager=True)
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def loop_checkpoint(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Eager ``localCheckpoint`` for ITERATED algorithms: checkpoints
    ``df`` and RESETS the checkpointed leaf's size estimate.

    ``Dataset.checkpoint`` copies the origin plan's *estimated*
    ``Statistics`` into the new ``LogicalRDD`` — harmless for a
    one-shot checkpoint, a driver bomb in a loop.  Catalyst's
    size-only estimator computes a join's ``sizeInBytes`` as the
    PRODUCT of its children's, so when round N's plan joins round
    N−1's checkpoint three times, ``log2(sizeInBytes)`` roughly
    TRIPLES per round (measured: bit-length 40 → 117 → 349 → 1045 →
    3133 → 9398 over six rounds).  The estimate is a ``BigInt``;
    around round 13 it has millions of bits, and join selection
    (``canBroadcastBySize`` → stats → BigInteger.multiply) pins the
    driver for MINUTES per round — observed 25+ min of driver CPU
    inside Karatsuba/ToomCook3 multiplication planning round ~15 of
    :func:`~vcfdbr_spark.operators.dedup.dedup_components` on a
    10,000-link chain.  The blowup is pure planning cost: it depends
    only on the ROUND COUNT, not the data size, so small-fixture
    tests (≤8 rounds) never see it.

    Re-wrapping the checkpointed RDD in a fresh ``LogicalRDD`` (via
    the JVM ``createDataFrame(RDD[Row], schema)``) drops the origin
    stats: the leaf reverts to ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue), whose join products stay a constant few hundred
    bits however many rounds run.  The plan-time cost of the huge
    default is that loop-state joins are never AUTO-broadcast — the
    right call anyway: AQE re-plans them from actual runtime shuffle
    sizes, which a loop's shrinking state defeats estimate-wise.

    Returns ``(fresh, ckpt)``: compose the next round's plan (and
    count) on ``fresh``; hold ``ckpt`` ONLY to free the checkpoint
    blocks afterwards (its ``analyzed().rdd()`` is the block-backed
    RDD — see ``dedup_components``'s ``_release``).  Note ``fresh``
    re-reads blocks through a Row→InternalRow converter (linear,
    per-consumption); both frames return identical rows.
    """
    ck = df.localCheckpoint(eager=True)
    jdf = ck._jdf
    fresh = DataFrame(
        ck.sparkSession._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema()),
        ck.sparkSession,
    )
    return fresh, ck
