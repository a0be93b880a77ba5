"""Structured Streaming surfaces.

The reference is pure batch, but its chunked, checkpointed,
resumable ingest loop (pipeline/02-build-db.R:249-529) is exactly the
contract Structured Streaming provides natively: source offsets +
checkpointLocation replace the .progress.RData file, and
``Trigger.AvailableNow`` replaces the --end-chunk partial-run flag
(pipeline/02-build-db.R:34-38).

``stream_vcf_ingest`` is the file-source streaming VCF ingest, with
three-table parity with the batch path.  Dense global ids can't come
from a streaming window; ``foreachBatch`` assigns per-batch dense ids
continuing from an O(1) manifest carry (``_stream_progress.json``) —
the exact analog of the reference's cross-chunk ``index_start`` carry
(pipeline/02-build-db.R:258-259, :522).  The dedup streams keep their
history in an ``operators.dedup.BandIndex``.

The micro-batch sink protocol has one implementation each: every
stream starts through :func:`_drain`, writes its per-batch
``<root>/batch=N`` output through :func:`_write_batch_output`, and is
read back through :func:`read_stream_output`.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vcfdbr_spark import fs as _fs


def _parquet_source(
    spark: SparkSession, source_dir: str, schema: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def _drain(
    source: DataFrame, checkpoint: str, write_batch, release=()
) -> None:
    """The one stream launcher: run ``write_batch(batch_df, batch_id)``
    over everything ``source`` holds now (``Trigger.AvailableNow``,
    the reference's ``--end-chunk``), offsets checkpointed at
    ``checkpoint`` (its ``.progress.RData``), and wait for the drain.
    ``release``: frames cached for the stream's life, unpersisted when
    it ends — also when a batch raised, so a long-lived driver
    restarting a failing stream does not accumulate them."""
    try:
        (
            source.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        for df in release:
            df.unpersist()


def _write_batch_output(
    spark: SparkSession, root: str, batch_id: int,
    out: DataFrame | None = None, probe: bool = False,
    partition_by: str | None = None,
) -> None:
    """The one writer of a stream's per-batch output ``<root>/batch=N``.

    Delete-before-write: ``foreachBatch`` is at-least-once, and a
    replayed batch replaces its own dir, so output is exactly-once.
    A known-empty output writes NO dir: an empty write leaves a dir
    without parquet files, and the next read of ``root`` dies with
    UNABLE_TO_INFER_SCHEMA.  Emptiness comes from a check the caller
    already runs — ``out=None`` after its own ``take(1)`` or pfx
    probe, or ``probe=True`` when that check is ``out.take(1)`` — so
    the writer adds no Spark action."""
    path = f"{root}/batch={batch_id}"
    _fs.delete_dir(spark, path)
    if out is None or (probe and not out.take(1)):
        return
    w = out.write.partitionBy(partition_by) if partition_by else out.write
    w.parquet(path)


def read_stream_output(
    spark: SparkSession, root: str, schema: str
) -> DataFrame:
    """The rows of every ``batch=N`` dir under a stream output ``root``
    (:func:`_write_batch_output`'s layout), or zero rows of ``schema``
    when the stream wrote none — a fresh or empty source fires no
    batch, and empty outputs write no dir.  Any other read error
    raises."""
    if not _fs.list_subdirs(spark, root, "batch="):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(root)


def stream_fuzzy_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int | None = None,
    n_pfx: int | None = None,
    max_bucket_size: int | None = None,
    compact_every: int | None = 16,
) -> None:
    """Streaming incremental fuzzy dedup: each micro-batch is
    MinHash-signed once, probed against the band index accumulated
    from all PRIOR batches (near-dup pairs across the whole stream
    history), then its own bands are appended to the index — the
    streaming twin of ``operators.dedup.incremental_dedup_pairs``.
    Per-batch cost is O(|batch| + probe); stream history is touched
    only through the index scan, never re-signed.

    Layout under ``out_dir``:

    - ``band_index`` — ``(doc_id, band, bucket)``, the growing
      :class:`~vcfdbr_spark.operators.dedup.BandIndex` (per-batch tail
      dirs plus a folded layout), sub-partitioned by the bucket prefix
      ``pmod(hash(bucket), n_pfx)`` (``operators.dedup.band_pfx``) so
      a probe only READS the ``pfx=`` directories its own buckets
      hash into — per-batch probe I/O is bounded by the batch's
      bucket spread, not the accumulated index size (a flat layout
      re-scans the whole index every batch: O(batches·index)
      cumulative, the streaming scale-killer).  A restart must reuse
      the recorded ``n_pfx``; omitted, it resumes with it.
    - ``pairs/batch=N/`` — ``(a, b)`` candidate pairs per batch.

    Exactly-once under replays: both writes go to per-batch partition
    dirs with delete-before-write, and the probe excludes the current
    batch's own partition, so a replayed batch recomputes identical
    output instead of pairing against its stale self.

    All side-state I/O (batch-dir listing / delete) goes through the
    Hadoop FS API, so ``out_dir`` may be ``hdfs://`` / ``s3a://``.

    ``max_bucket_size`` (default ``dedup.DEFAULT_MAX_BUCKET_SIZE``)
    caps bucket populations at PROBE time (degenerate boilerplate
    buckets would otherwise multiply against every future batch); the
    index itself stays complete — the cap is a query-time policy, so
    re-probing with a different cap needs no index rebuild.

    ``compact_every``: once the tail reaches this many batch dirs,
    the batch folds them into the index's compacted layout
    (:meth:`~vcfdbr_spark.operators.dedup.BandIndex.fold`).  Without
    it a long-lived stream's probe must LIST every batch dir ever
    written — file-listing cost grows linearly with stream age even
    though pfx pruning bounds the bytes read.  ``None`` disables (the
    manual ``compact-band-index`` CLI remains).
    """
    from vcfdbr_spark.operators.dedup import (
        BandIndex,
        minhash_band_buckets,
        minhash_signatures,
    )

    _stream_banded_dedup(
        spark,
        source_dir,
        out_dir,
        schema,
        lambda batch: minhash_band_buckets(minhash_signatures(batch)),
        BandIndex(spark, f"{out_dir}/band_index", n_pfx),
        id_col="doc_id",
        max_files_per_trigger=max_files_per_trigger,
        max_bucket_size=max_bucket_size,
        compact_every=compact_every,
    )


DEFAULT_STREAM_BAND_BITS = 16


def stream_semantic_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str = "vec_id long, embedding array<float>, label int",
    threshold: float = 0.95,
    bits: int | None = None,
    n_bands: int | None = None,
    max_files_per_trigger: int | None = None,
    n_pfx: int | None = None,
    max_bucket_size: int | None = None,
    compact_every: int | None = 16,
) -> None:
    """Streaming incremental SEMANTIC dedup — the sign-LSH embedding
    twin of :func:`stream_fuzzy_dedup`: each micro-batch of vectors is
    sign-banded once (``similarity.sign_band_buckets_wrapped``),
    probed against the band index accumulated from all prior batches,
    then appended to it.  Index layout, pfx pruning, hot-bucket caps,
    exactly-once replay and auto-compaction are the SAME tested core
    (:func:`_stream_banded_dedup`) — only the banding function and id
    column differ.

    Band parameters are PINNED for the stream's life by its index
    (:class:`~vcfdbr_spark.operators.dedup.BandIndex`), validated on
    every restart like the ``n_pfx`` modulus: a stream has no final
    corpus count to derive the adaptive width from, and re-deriving
    per batch would band new batches into a DIFFERENT bucket space
    than the accumulated index — silent candidate-pair loss.  Omitted parameters resume with the
    recorded ones; a conflicting explicit one raises.  Defaults for a
    new stream: ``bits=16`` (right-sized up to ~2^12-vector corpora
    under the batch-side adaptive policy) and the recall-targeted
    ``n_bands`` at ``threshold`` (``similarity.adaptive_band_count``).
    When the accumulated stream outgrows the pinned width the uniform
    pair term creeps toward ~n_bands·|C|²/2^bits — the documented
    remedy is the same as the batch index: stop, re-pin wider,
    rebuild from the compacted layout (one banded scan), restart.
    """
    from vcfdbr_spark.operators.dedup import BandIndex
    from vcfdbr_spark.operators.similarity import (
        adaptive_band_count,
        embedding_band_index,
    )

    index = BandIndex(
        spark, f"{out_dir}/band_index", n_pfx,
        params={"bits": bits, "n_bands": n_bands},
    )
    pinned = index.params
    if pinned["bits"] is None:
        pinned["bits"] = DEFAULT_STREAM_BAND_BITS
    if pinned["n_bands"] is None:
        pinned["n_bands"] = adaptive_band_count(pinned["bits"], threshold)

    _stream_banded_dedup(
        spark,
        source_dir,
        out_dir,
        schema,
        lambda batch: embedding_band_index(
            batch, threshold=threshold, bits=pinned["bits"],
            n_bands=pinned["n_bands"],
        ),
        index,
        id_col="vec_id",
        max_files_per_trigger=max_files_per_trigger,
        max_bucket_size=max_bucket_size,
        compact_every=compact_every,
    )


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    n_pfx: int | None = None,
    compact_every: int | None = 16,
) -> None:
    """Streaming EXACT dedup with UNBOUNDED history: per micro-batch,
    every doc's content hash is probed against a persistent
    ``hash → keeper`` index and the batch emits one
    ``(doc_id, keep_id)`` row per doc — ``keep_id`` is the FIRST doc
    ever seen with that text (first-seen-wins, stable once assigned).

    Why not Spark's ``dropDuplicatesWithinWatermark``: watermark state
    is BOUNDED by design — a duplicate arriving after the watermark
    passes its original is NOT caught.  Why not the banded core: exact
    dedup over pairs is the wrong shape at scale (B identical
    boilerplate docs would emit B² pairs); the right state is ONE row
    per DISTINCT hash, so the index is corpus-vocabulary-sized and a
    boilerplate cluster of any size costs one probe row.

    The index is a :class:`~vcfdbr_spark.operators.dedup.BandIndex` at
    ``hash_index`` (``bucket`` = md5(text), ``doc_id`` = keeper, band
    0), with the same ``n_pfx`` restart guard and ``compact_every``
    fold as :func:`stream_fuzzy_dedup`: each probe pushes its batch's
    hash prefixes as PartitionFilters and reads only the matching
    ``pfx=`` dirs — per-batch cost is O(|batch| + pruned probe),
    independent of stream age.  Exactly-once: ``keep/batch=N`` and the
    index's ``batch=N`` tail dir are delete-before-write, the probe
    excludes the batch's own dir, and a replayed batch recomputes the
    identical keeper assignment (keepers are min-id within the batch
    for unseen hashes, so the choice is deterministic, not
    arrival-order-dependent within a batch).
    """
    from vcfdbr_spark.operators.dedup import BandIndex

    index = BandIndex(spark, f"{out_dir}/hash_index", n_pfx)
    index.record()
    keep_dir = f"{out_dir}/keep"

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        index.drop(batch_id)
        hashes = batch_df.select(
            "doc_id", F.md5(F.col(text_col)).alias("bucket")
        ).persist()
        pfxs = index.pfxs(hashes)
        if not pfxs:
            _write_batch_output(spark, keep_dir, batch_id)
            hashes.unpersist()
            return
        batch_min = hashes.groupBy("bucket").agg(
            F.min("doc_id").alias("_bmin")
        )
        history = index.history(exclude_batch=batch_id)
        if history is not None:
            known = (
                history.filter(F.col("pfx").isin(pfxs))
                .select(F.col("bucket"), F.col("doc_id").alias("_keeper"))
                # a replayed batch's own folded rows can coexist with
                # older true keepers in the compacted layout; min is
                # the deterministic, replay-stable choice
                .groupBy("bucket")
                .agg(F.min("_keeper").alias("_keeper"))
            )
            resolved = batch_min.join(known, "bucket", "left").select(
                "bucket",
                F.coalesce(F.col("_keeper"), F.col("_bmin")).alias("keep_id"),
                F.col("_keeper").isNull().alias("_new"),
            )
        else:
            resolved = batch_min.select(
                "bucket", F.col("_bmin").alias("keep_id"),
                F.lit(True).alias("_new"),
            )
        resolved = resolved.persist()
        keep = hashes.join(resolved, "bucket").select("doc_id", "keep_id")
        _write_batch_output(spark, keep_dir, batch_id, keep)
        fresh = resolved.filter(F.col("_new")).select(
            F.col("keep_id").alias("doc_id"),
            F.lit(0).alias("band"),
            "bucket",
        )
        # an all-seen batch adds no keepers: skip the write, since an
        # empty batch=N dir breaks later history reads
        if fresh.take(1):
            index.append(fresh, batch_id)
        resolved.unpersist()
        hashes.unpersist()
        index.fold(compact_every)

    _drain(
        _parquet_source(spark, source_dir, schema, max_files_per_trigger),
        f"{out_dir}/_checkpoint", _write_batch,
    )


def stream_sketch(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    value_col: str = "text",
    k: int = 1024,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a KMV bottom-k sketch (operators/sketch.py) of a
    GROWING corpus under streaming ingest — so "how much does the
    incoming crawl overlap corpus X" (:func:`kmv_overlap_sketches`)
    is answerable at any moment for O(k) cost, without ever
    re-scanning the accumulated stream.

    The state is ideal for streaming: the bottom-k of a union is the
    bottom-k of (previous bottom-k ∪ batch's bottom-k), so the whole
    per-batch update merges two ≤ k-row frames — per-batch cost is
    one batch scan + an O(k) merge, independent of stream age.

    Layout + exactly-once: ``out_dir/sketch/batch=N`` holds the FULL
    merged sketch after batch N (≤ k rows).  Delete-before-write on
    the batch's own dir, prior state = the largest EARLIER batch dir;
    a replayed batch recomputes the identical merge (the sketch is a
    deterministic monotone fold).  Only the latest batch can ever
    replay under availableNow (offsets commit before the next batch
    is handed out), so batches ≤ N−2 are pruned after each write —
    state on disk stays at ≤ 2 × k rows however long the stream runs.

    Read the current sketch with :func:`read_stream_sketch`.
    """
    from vcfdbr_spark.operators.sketch import kmv_bottom_k

    sk_dir = f"{out_dir}/sketch"
    stored = _fs.read_text(spark, f"{sk_dir}/_k")
    if stored is not None and int(stored) != k:
        raise ValueError(
            f"stream sketch at {sk_dir} was built with k={stored}; "
            f"restarting with k={k} would corrupt the estimator "
            f"(a short sketch reads as an exact small corpus)"
        )
    if stored is None:
        _fs.write_text(spark, f"{sk_dir}/_k", str(k))

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = kmv_bottom_k(batch_df, value_col, k)
        prior_ids = sorted(
            int(d.rsplit("=", 1)[1])
            for d in _fs.list_subdirs(spark, sk_dir, "batch=")
            if int(d.rsplit("=", 1)[1]) < batch_id
        )
        if prior_ids:
            prev = spark.read.parquet(f"{sk_dir}/batch={prior_ids[-1]}")
            fresh = fresh.union(prev).distinct().orderBy("h").limit(k)
        _write_batch_output(spark, sk_dir, batch_id, fresh.coalesce(1))
        for old in prior_ids[:-1]:
            _fs.delete_dir(spark, f"{sk_dir}/batch={old}")

    _drain(
        _parquet_source(spark, source_dir, schema, max_files_per_trigger),
        f"{out_dir}/_checkpoint", _write_batch,
    )


def read_stream_sketch(spark: SparkSession, out_dir: str) -> tuple[DataFrame, int]:
    """(latest sketch frame, its k) from a :func:`stream_sketch`
    state dir; a stream that has seen no batch has an empty sketch."""
    sk_dir = f"{out_dir}/sketch"
    k = int(_fs.read_text(spark, f"{sk_dir}/_k"))
    batches = _fs.list_subdirs(spark, sk_dir, "batch=")
    if not batches:
        return spark.createDataFrame([], "h long"), k
    return spark.read.parquet(batches[-1]), k


def stream_ivf_assign(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    centroids_path: str,
    schema: str = "vec_id long, embedding array<float>, label int",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming IVF index maintenance: each micro-batch of vectors
    is assigned to its nearest PINNED centroid and appended to the
    partition-prunable inverted-list layout
    (``similarity.write_ivf_index``'s shape, one ``batch=N`` dir per
    micro-batch so replays are exactly-once) —
    ``similarity.ivf_topk_indexed`` queries the accumulated layout
    with the same probed-list pruning as a batch-built index.

    Centroids are pinned for the stream's life (the ``_centroids``
    sidecar is written at first run and every later run must pass a
    path with the SAME centroid table — assignment under different
    centroids would interleave incompatible inverted lists, the IVF
    analog of the band-width pinning guard).  Train them offline
    (``similarity.ivf_train`` on a reference sample) — a stream has
    no final corpus to train on, the same reasoning as
    ``stream_semantic_dedup``'s pinned band params.  As the
    accumulated stream drifts from the training distribution, lists
    skew; the remedy is the familiar re-pin + rebuild: retrain,
    ``write_ivf_index`` over the accumulated vectors, restart.
    """
    from vcfdbr_spark.operators.similarity import ivf_assign

    idx_dir = f"{out_dir}/index"
    cents = spark.read.parquet(centroids_path).select(
        "vec_id", "embedding"
    )
    cent_dir = f"{idx_dir}/_centroids"
    if _fs.exists(spark, cent_dir):
        stored = sorted(
            map(tuple, spark.read.parquet(cent_dir).collect())
        )
        given = sorted(map(tuple, cents.collect()))
        if stored != given:
            raise ValueError(
                f"stream IVF index at {idx_dir} is pinned to different "
                f"centroids than {centroids_path}; assigning new "
                f"batches under them would interleave incompatible "
                f"inverted lists"
            )
    else:
        cents.write.parquet(cent_dir)
    cents = cents.persist()

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        vecs = batch_df.select("vec_id", "embedding")
        out = None
        if vecs.take(1):
            out = vecs.join(ivf_assign(vecs, centroids=cents), "vec_id")
        _write_batch_output(
            spark, idx_dir, batch_id, out, partition_by="cent_id"
        )

    _drain(
        _parquet_source(spark, source_dir, schema, max_files_per_trigger),
        f"{out_dir}/_checkpoint", _write_batch, release=(cents,),
    )


def stream_corpus_filter(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str = "doc_id long, text string, lang string, source string",
    min_tokens: int = 20,
    min_ttr: float = 0.3,
    max_bits: float | None = None,
    model_path: str | None = None,
    keep_cols: tuple[str, ...] = ("lang", "source"),
    max_files_per_trigger: int | None = None,
    n_pfx: int | None = None,
    max_bucket_size: int | None = None,
    compact_every: int | None = 16,
) -> None:
    """The streaming twin of the :func:`operators.pipeline.corpus_filter`
    capstone: per micro-batch, quality gates (length / type-token
    ratio, same definitions via ``pipeline.quality_pass_frame``), the
    optional bigram-LM cap against a PRE-TRAINED model, then fuzzy
    dedup against the whole stream history — ONLY quality survivors
    are shingled/signed/banded (the batch capstone's survivors-only
    cost principle: dedup cost is pass-rate × batch, never batch),
    probed through the same pfx-pruned band index as
    :func:`stream_fuzzy_dedup`, and appended to it.

    Keep policy is FIRST-SEEN-WINS — the online rendering of the
    batch capstone's one-doc-per-component: a survivor is DROPPED if
    (a) it candidate-pairs with ANY previously indexed survivor
    (kept or dropped: dropped docs stay in the index so chains
    A←B←C collapse transitively, exactly like batch components), or
    (b) its in-batch component contains such a matched doc (the
    cluster's representative already exists upstream), or (c) it is
    not the minimum id of its (unmatched) in-batch component.  This
    is deterministic given the batch order.  It is NOT always equal
    to the batch capstone's min-id-per-final-component: a later doc
    that would retroactively MERGE two earlier kept docs' clusters
    drops (first-seen-wins keeps both earlier docs) where the batch
    semantics would re-elect one representative — the inherent
    difference between online and offline dedup, verified against a
    pure-Python replay oracle in the sf1 scale gate.

    LM semantics: a per-batch self-trained model would judge each
    batch by a different ruler, so ``max_bits`` REQUIRES
    ``model_path`` — a :func:`operators.lm.train_bigram_model` frame
    persisted as parquet (train once on a reference corpus, score
    every batch; unseen bigrams take the model's smoothed miss
    floor).  Without ``max_bits`` the LM attach stays a left join
    and docs are judged by the length/ttr gates alone.

    Layout under ``out_dir`` adds ``kept/batch=N/`` — the passing,
    stream-deduplicated docs with the capstone's columns
    ``(doc_id, *keep_cols, n_tokens, ttr, bits_per_bigram)`` — next
    to the core's ``pairs/`` and ``band_index/``; all three are
    per-batch partitions written delete-before-write, so replays are
    exactly-once end to end.
    """
    from vcfdbr_spark.operators.dedup import (
        BandIndex,
        dedup_components,
        minhash_band_buckets,
        minhash_signatures,
    )
    from vcfdbr_spark.operators.pipeline import quality_pass_frame

    if max_bits is not None and model_path is None:
        raise ValueError(
            "streaming LM gate needs a pre-trained model: max_bits "
            "without model_path would self-train a different model "
            "per micro-batch (each batch judged by a different ruler)"
        )
    model = None
    if model_path is not None:
        model = spark.read.parquet(model_path)
    kept_dir = f"{out_dir}/kept"
    state: dict = {}

    def make_bands(batch_df: DataFrame) -> DataFrame:
        surv = quality_pass_frame(
            batch_df, min_tokens, min_ttr, max_bits,
            "text", "doc_id", keep_cols, model=model,
            # no model → NULL bits: never self-train a throwaway
            # per-batch model (each batch would get its own ruler)
            score_lm=model is not None,
        ).persist()
        surv.count()  # eager: consumed by bands now and the keep hook
        state["surv"] = surv
        surv_docs = batch_df.join(
            surv.select("doc_id"), "doc_id", "left_semi"
        )
        return minhash_band_buckets(minhash_signatures(surv_docs))

    def keep_hook(batch_df, cross, inbatch, batch_id) -> None:
        surv = state.pop("surv")
        if inbatch is None:
            # bandless batch: every doc failed the gates, nothing to
            # keep
            _write_batch_output(spark, kept_dir, batch_id)
            surv.unpersist()
            return
        drops = None
        edges = inbatch
        if cross is not None:
            # In a normal run every cross pair holds one historical +
            # one batch id.  On a REPLAY after auto-compaction folded
            # this batch's own bands, the batch's self-pairs surface
            # as cross pairs too — re-classify any both-endpoints-in-
            # batch pair as an IN-BATCH edge so the replayed keep
            # decision is identical to the original run's (the pairs
            # output already has this property; the kept output must
            # keep it).
            mark = surv.select("doc_id", F.lit(True).alias("_in"))
            c = (
                cross.join(
                    mark.select(
                        F.col("doc_id").alias("a"),
                        F.col("_in").alias("_a_in"),
                    ),
                    "a",
                    "left",
                ).join(
                    mark.select(
                        F.col("doc_id").alias("b"),
                        F.col("_in").alias("_b_in"),
                    ),
                    "b",
                    "left",
                )
            )
            both_in = F.coalesce(F.col("_a_in"), F.lit(False)) & F.coalesce(
                F.col("_b_in"), F.lit(False)
            )
            edges = inbatch.unionByName(
                c.filter(both_in).select("a", "b")
            )
            hist = c.filter(~both_in)
            # (a) matched history: the batch-side endpoint of each
            # genuine history pair
            matched = (
                hist.select(
                    F.when(
                        F.coalesce(F.col("_a_in"), F.lit(False)), F.col("a")
                    )
                    .otherwise(F.col("b"))
                    .alias("doc_id")
                )
                .distinct()
            )
            drops = matched
        # (b)+(c): in-batch components — contaminated components drop
        # whole (their representative lives upstream), clean ones keep
        # their min id
        comp = dedup_components(edges, materialize=False)
        if drops is not None:
            bad_comps = (
                comp.join(drops, "doc_id", "left_semi")
                .select("keep_id")
                .distinct()
            )
            comp_drops = comp.join(bad_comps, "keep_id", "left_semi").select(
                "doc_id"
            )
            losers = comp.filter(
                F.col("doc_id") != F.col("keep_id")
            ).select("doc_id")
            drops = drops.unionByName(comp_drops).unionByName(losers)
        else:
            drops = comp.filter(F.col("doc_id") != F.col("keep_id")).select(
                "doc_id"
            )
        # persist: kept feeds the emptiness probe AND the write, and
        # its lineage includes the per-batch components loop — without
        # the cache that loop's tail re-executes per consumer
        kept = surv.join(drops.distinct(), "doc_id", "left_anti").persist()
        _write_batch_output(spark, kept_dir, batch_id, kept, probe=True)
        kept.unpersist()
        surv.unpersist()

    _stream_banded_dedup(
        spark,
        source_dir,
        out_dir,
        schema,
        make_bands,
        BandIndex(spark, f"{out_dir}/band_index", n_pfx),
        id_col="doc_id",
        max_files_per_trigger=max_files_per_trigger,
        max_bucket_size=max_bucket_size,
        compact_every=compact_every,
        post_batch=keep_hook,
    )


def _stream_banded_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str,
    make_bands,
    index,
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    max_bucket_size: int | None = None,
    compact_every: int | None = 16,
    post_batch=None,
) -> None:
    """The banding-agnostic streaming dedup core shared by
    :func:`stream_fuzzy_dedup` (MinHash text bands) and
    :func:`stream_semantic_dedup` (sign-LSH embedding bands):
    ``make_bands(batch_df) → (id_col, band, bucket)`` is the only
    modality-specific step; the band ``index``
    (:class:`~vcfdbr_spark.operators.dedup.BandIndex`, opened by the
    caller), pfx pruning, exactly-once replay semantics, hot-bucket
    caps and auto-compaction are identical and tested once.

    ``post_batch(batch_df, cross, inbatch, batch_id)``: optional
    per-batch hook (``stream_corpus_filter``'s keep policy) called
    AFTER the batch's pairs and index partitions are written, with
    the cross (index-vs-batch, ``None`` on the first batch) and
    in-batch candidate pair frames SEPARATELY — an edge to history
    and an edge within the batch have different keep consequences.
    BOTH are ``None`` for a bandless batch (no pairs exist and no
    index partition was written).  The hook writes its own per-batch
    output through :func:`_write_batch_output`, which keeps the
    replay-exactly-once contract.
    """
    from vcfdbr_spark.operators.dedup import (
        band_probe_pairs,
        lsh_candidate_pairs,
        resolve_bucket_cap,
    )

    index.record()
    pairs_dir = f"{out_dir}/pairs"
    max_bucket_size = resolve_bucket_cap(max_bucket_size)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # r14 tried an unconditional defaultParallelism repartition of
        # the batch here (foreachBatch frames hide their file list, so
        # the signing operators' own spread_scan can't probe them);
        # its own interleaved A/B measured wall-time NEUTRAL at sf0.1
        # (ratio 1.01) and an unconditional shuffle of every batch's
        # full text is a scale cost, not a win — reverted (r15; large
        # source files range-split into scan tasks on their own)
        bands = make_bands(batch_df).persist()
        # one collect: the batch-emptiness probe AND the probe's pfx list
        pfxs = index.pfxs(bands)
        if not pfxs:
            # A bandless batch (empty file, or every doc gated out by
            # a filtering make_bands) writes no pairs and no index
            # dir; the hook still runs (with None pair frames) so its
            # own per-batch output stays replay-clean.
            _write_batch_output(spark, pairs_dir, batch_id)
            index.drop(batch_id)
            if post_batch is not None:
                post_batch(batch_df, None, None, batch_id)
            bands.unpersist()
            return
        history = index.history(exclude_batch=batch_id)
        cross = inbatch = None
        if history is not None:
            if post_batch is None:
                pairs = band_probe_pairs(
                    bands, history, id_col=id_col,
                    max_bucket_size=max_bucket_size, pfxs=pfxs,
                )
            else:
                # split probe: the hook consumes cross and in-batch
                # pairs separately; their union is the same distinct
                # pair set the unsplit path writes
                cross = band_probe_pairs(
                    bands, history, id_col=id_col,
                    max_bucket_size=max_bucket_size, self_pairs=False,
                    pfxs=pfxs,
                ).persist()
                inbatch = lsh_candidate_pairs(
                    bands, id_col, max_bucket_size=max_bucket_size
                ).persist()
                pairs = cross.unionByName(inbatch).distinct()
        else:
            inbatch = lsh_candidate_pairs(
                bands, id_col, max_bucket_size=max_bucket_size
            )
            if post_batch is not None:
                inbatch = inbatch.persist()
            pairs = inbatch
        # the pairs and index writes are INDEPENDENT jobs over the
        # already-materialized band cache — submit them concurrently
        # (guide §2.6) so one small job's tail/commit back-fills the
        # other's
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(
                    _write_batch_output, spark, pairs_dir, batch_id, pairs
                ),
                pool.submit(index.append, bands, batch_id),
            ]
            # wait for BOTH writes and report every failure: raising
            # only the first would hide a concurrent index-write error
            errs = [f.exception() for f in futs]
            if all(errs):
                raise RuntimeError(
                    f"batch {batch_id} pairs and index writes both "
                    f"failed: pairs: {errs[0]!r}; index: {errs[1]!r}"
                ) from errs[0]
            if any(errs):
                raise next(e for e in errs if e is not None)
        if post_batch is not None:
            post_batch(batch_df, cross, inbatch, batch_id)
            if cross is not None:
                cross.unpersist()
            if inbatch is not None:
                inbatch.unpersist()
        bands.unpersist()
        index.fold(compact_every)

    _drain(
        _parquet_source(spark, source_dir, schema, max_files_per_trigger),
        f"{out_dir}/_checkpoint", _write_batch,
    )


def stream_decontaminate(
    spark: SparkSession,
    source_dir: str,
    eval_docs_path: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    eval_index_dir: str | None = None,
    jaccard_threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Streaming twin of
    :func:`~vcfdbr_spark.operators.pipeline.decontaminate_batch`:
    every arriving train micro-batch probes the FIXED held-out set's
    band index and only the non-leaking rows are written to
    ``kept/batch=N``.  This is decontamination as an ingest stage —
    a doc near-dupping a benchmark doc never reaches the training
    corpus at all.

    Unlike the dedup streams the index NEVER grows (the eval set is
    frozen by definition), so there is no append, no compaction, and
    no cross-batch state: per-batch cost is O(batch + pruned probe)
    forever, and batches are independent — a replay recomputes the
    identical survivor set from the same static index
    (delete-before-write ``batch=N`` keeps output exactly-once).
    ``eval_index_dir``: a :func:`~vcfdbr_spark.operators.dedup.
    write_band_index` layout, opened by ``read_band_index`` so probes
    prune its ``pfx=`` dirs under the modulus it recorded; omitted,
    the band frame is built from ``eval_docs_path`` once at stream
    start.
    """
    from vcfdbr_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        read_band_index,
    )
    from vcfdbr_spark.operators.pipeline import decontaminate_batch

    eval_docs = spark.read.parquet(eval_docs_path)
    release = ()
    if eval_index_dir is not None:
        eval_index = read_band_index(spark, eval_index_dir)
    else:
        # built once, persisted for the stream's lifetime (eval sets
        # are benchmark-sized); released when the stream ends
        eval_index = minhash_band_buckets(
            minhash_signatures(eval_docs, text_col, id_col), id_col=id_col
        ).persist()
        release = (eval_index,)
    keep_dir = f"{out_dir}/kept"

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = None
        if batch_df.take(1):
            kept = decontaminate_batch(
                batch_df, eval_docs, eval_index=eval_index,
                jaccard_threshold=jaccard_threshold,
                text_col=text_col, id_col=id_col,
            )
        _write_batch_output(spark, keep_dir, batch_id, kept, probe=True)

    _drain(
        _parquet_source(spark, source_dir, schema, max_files_per_trigger),
        f"{out_dir}/_checkpoint", _write_batch, release=release,
    )


def _finalize_stream_store(
    spark: SparkSession, out_dir: str, header, layout: dict
) -> None:
    """Make the streamed output an openable VcfDb store: samples +
    header metadata tables, gene_map rebuilt over every streamed
    batch, and the store manifest ``layout`` — so a user queries a
    streamed store exactly like a batch-built one (``open_vcfdb`` →
    filter / pull / sql).  Idempotent: re-runs after each stream drain
    rewrite only the small dimension tables."""
    from vcfdbr_spark.sources.store import (
        write_gene_map,
        write_manifest,
        write_small,
    )
    from vcfdbr_spark.sources.vcf import build_metadata

    write_small(out_dir, *build_metadata(spark, header))
    impact_dir = f"{out_dir}/variant_impact"
    if _fs.exists(spark, impact_dir):  # no CSQ in this VCF → no table
        write_gene_map(out_dir, spark.read.parquet(impact_dir))
    write_manifest(spark, out_dir, layout)


_STREAM_TABLES = ("variant_info", "variant_impact", "variant_geno", "_rejects")


def _compact_stream_table(
    spark: SparkSession, out_dir: str, table: str, current_batch_id: int,
    layout: dict,
) -> None:
    """Fold a streamed table's ``ingest_batch=N`` tail dirs into ONE
    consolidated ``ingest_batch=-1`` partition, leaving the CURRENT
    batch's dir untouched.

    The current batch is excluded because ``foreachBatch`` is
    at-least-once: until its checkpoint commit lands it can replay,
    and a replay re-writes ``ingest_batch=<id>`` from scratch — if
    compaction had folded those rows, the replay would duplicate
    them.  Batches below the current id have committed (micro-batches
    run in order) and can never replay, so folding them is safe.

    The swap is whole-table, by :func:`vcfdbr_spark.fs.swap_dir`: the
    complete new layout — folded ``-1`` partition plus the current
    batch's dir, written by :func:`~vcfdbr_spark.sources.store.
    write_table` — replaces the table, so a crash leaves the original
    or the finished copy, never dup/missing rows; the stream heals a
    half-done swap at its next start.  Cost is O(table) per
    compaction (same model as the band-index fold); ``compact_every``
    amortizes it — raise it for very long streams.
    """
    from vcfdbr_spark.sources.store import write_table

    table_path = f"{out_dir}/{table}"
    tail = [
        d
        for d in _fs.list_subdirs(spark, table_path, "ingest_batch=")
        if d.rsplit("=", 1)[-1] not in ("-1", str(current_batch_id))
    ]
    if not tail:
        return
    # Zero-row batches (the common _rejects case) write schema-only
    # (or no) part files.  Two husk traps: a table with NO data files
    # fails schema inference outright, and a readable-but-all-empty
    # tail would make the partitionBy rewrite emit nothing — the swap
    # would then replace the table with a bare _SUCCESS husk.  In
    # both cases the tail dirs hold no rows: deleting them bounds the
    # dir count without touching the (possibly row-bearing) current
    # batch dir.
    try:
        df = spark.read.parquet(table_path)
        tail_is_empty = (
            set(df.columns) <= {"ingest_batch"}
            or df.filter(F.col("ingest_batch") != current_batch_id).isEmpty()
        )
    except AnalysisException:
        tail_is_empty = True
    if tail_is_empty:
        for d in tail:
            _fs.delete_dir(spark, d)
        return
    folded = df.withColumn(
        "ingest_batch",
        F.when(F.col("ingest_batch") == current_batch_id,
               F.col("ingest_batch")).otherwise(F.lit(-1)),
    )
    _fs.swap_dir(
        spark, table_path,
        lambda tmp: write_table(folded, out_dir, table, layout, dest=tmp),
    )


def stream_vcf_ingest(
    spark: SparkSession,
    vcf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    header_path: str,
    multi_value: str = "melt",
    probe_rows: int = 1000,
    finalize: bool = True,
    compact_every: int | None = 16,
) -> None:
    """Streaming VCF ingest with full three-table parity: new VCF text
    files appearing in ``vcf_dir`` are parsed with the SAME
    ``parse_lines`` + ``derive_tables`` pipeline as the batch path
    (sources/vcf.py), so each micro-batch appends variant_info,
    variant_impact and variant_geno partitions — the streaming
    rendering of the reference's per-chunk three-table write loop
    (pipeline/02-build-db.R:461-497).  Rejected records (multiallelic
    / malformed) land in ``_rejects`` partitions, same rules as batch.

    Schema decisions (FORMAT fields kept) are probed ONCE at stream
    start from ``header_path`` — the reference's first-chunk schema
    lock (pipeline/02-build-db.R:140-177) — so every batch writes an
    identical schema.

    Dense-id carry is O(1) per batch: ``_stream_progress.json`` holds
    ``next_id`` (the analog of the reference's cross-chunk
    ``index_start``, pipeline/02-build-db.R:522) — no re-scan of
    previously written batches, so batch cost is independent of how
    many batches came before.

    Idempotency: ``foreachBatch`` is at-least-once, so each batch
    writes its own ``ingest_batch=<id>`` partition directories,
    deleting any partial remnant of the same batch first; a replayed
    batch reuses its manifest-recorded ``id_start``, producing the
    exact same rows it would have the first time.

    ``finalize`` (default) writes samples / header metadata /
    gene_map / the store manifest after the drain, so the streamed
    output opens with ``open_vcfdb`` like a batch-built store.

    ``compact_every``: once a table's ``ingest_batch=N`` tail reaches
    this many dirs, the batch folds them into one consolidated
    ``ingest_batch=-1`` partition per table via an atomic whole-table
    swap (:func:`_compact_stream_table`) — without it a long-lived
    stream's file count grows linearly with batch count and every
    later read pays the listing.  ``None`` disables (the manual
    ``compact`` CLI remains usable after the stream stops)."""
    import json

    from vcfdbr_spark.schema import read_header
    from vcfdbr_spark.sources.store import store_manifest
    from vcfdbr_spark.sources.vcf import (
        derive_tables,
        parse_lines,
        probe_format_fields_local,
        split_rejects_and_id,
    )

    header = read_header(header_path)
    layout = store_manifest(header, streamed=True)
    kept_fields = []
    if header.samples and header.format:
        kept_fields = probe_format_fields_local(
            header_path, header, probe_rows, multi_value
        )

    # progress manifest lives NEXT TO the (possibly hdfs://-s3a://)
    # store output, so it goes through the Hadoop FS, not local open()
    progress_path = f"{out_dir}/_stream_progress.json"

    # heal any compaction swap the previous run crashed inside of
    # before a batch writes: a batch would otherwise recreate a table
    # dir that is only at its .old, and the next heal would then
    # delete .old, the table's history
    for _t_name in _STREAM_TABLES:
        _fs.heal_swap(spark, f"{out_dir}/{_t_name}")

    def _load_progress() -> dict:
        raw = _fs.read_text(spark, progress_path)
        if raw is None:
            return {"batches": {}, "next_id": 1}
        return json.loads(raw)

    def _save_progress(prog: dict) -> None:
        _fs.write_text(spark, progress_path, json.dumps(prog))

    lines = spark.readStream.format("text").load(vcf_dir)
    records = lines.filter(~F.col("value").startswith("#"))

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark_l = batch_df.sparkSession
        prog = _load_progress()
        key = str(batch_id)
        # replayed batch: reuse its recorded id range (manifest carry,
        # no scan of prior batches' output)
        start = int(prog["batches"].get(key, {}).get("id_start", prog["next_id"]))
        for t in _STREAM_TABLES:
            _fs.delete_dir(spark_l, f"{out_dir}/{t}/ingest_batch={batch_id}")

        rejects, keyed = split_rejects_and_id(
            parse_lines(batch_df.select("value"), header), header, start
        )
        rejects.write.parquet(f"{out_dir}/_rejects/ingest_batch={batch_id}")
        keyed = keyed.persist()
        try:
            n = keyed.count()
            info, impact, geno = derive_tables(
                keyed, header, kept_fields, multi_value
            )
            info.write.parquet(
                f"{out_dir}/variant_info/ingest_batch={batch_id}"
            )
            if impact is not None:
                impact.write.parquet(
                    f"{out_dir}/variant_impact/ingest_batch={batch_id}"
                )
            if geno is not None:
                geno.write.parquet(
                    f"{out_dir}/variant_geno/ingest_batch={batch_id}"
                )
        finally:
            keyed.unpersist()
        prog["batches"][key] = {"id_start": start, "n_rows": int(n)}
        # max() guards the (checkpoint-replay) case where an older
        # batch re-runs after later batches already advanced the carry
        prog["next_id"] = max(int(prog["next_id"]), start + int(n))
        _save_progress(prog)
        if compact_every and len(
            [
                d
                for d in _fs.list_subdirs(
                    spark_l, f"{out_dir}/variant_info", "ingest_batch="
                )
                if d.rsplit("=", 1)[-1] != "-1"
            ]
        ) >= compact_every:
            for t in _STREAM_TABLES:
                _compact_stream_table(spark_l, out_dir, t, batch_id, layout)

    _drain(records, checkpoint_dir, _write_batch)
    if finalize:
        _finalize_stream_store(spark, out_dir, header, layout)
