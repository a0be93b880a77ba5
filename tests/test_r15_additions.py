"""Focused tests for the r15 optimization-round internals changes.

Each test pins an operator whose INTERNALS changed this round to its
unchanged observable behavior:

- ``band_probe_pairs(pfxs=...)``: the precomputed-prefix fast path (the
  streaming core's merged emptiness+pfx probe) returns the identical
  pair set as the self-collecting path.
- ``dedup_components``: ``local_edges_max=0`` now forces the
  distributed path even on an EMPTY canonical edge set (the documented
  "0 forces distributed" contract), and the local path's schema matches
  the distributed one exactly, nullability included.
- ``eager_checkpoint``: the scoped ``parallelismFirst`` toggle restores
  the session conf, returns identical rows, and a small frame
  checkpoints into one partition (the frozen-partition-leak fix); two
  threads checkpointing at once leave the conf unset.
- ``ivf_assign``: ``spread=True`` (build path) and ``spread=False``
  (probe path) produce the identical assignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _pairs(df):
    return sorted((r["a"], r["b"]) for r in df.collect())


def test_band_probe_pairs_precomputed_pfxs_matches(spark, tmp_path):
    from vcfdbr_spark.operators.dedup import (
        DEFAULT_N_PFX,
        band_pfx,
        band_probe_pairs,
        minhash_band_buckets,
        minhash_signatures,
        read_band_index,
        write_band_index,
    )

    old = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i % 3}") for i in range(1, 7)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i % 3}") for i in range(7, 13)],
        "doc_id long, text string",
    )
    idx_dir = str(tmp_path / "idx")
    write_band_index(
        minhash_band_buckets(minhash_signatures(old)), idx_dir
    )
    index = read_band_index(spark, idx_dir)
    bands = minhash_band_buckets(minhash_signatures(new)).persist()
    try:
        auto = band_probe_pairs(bands, index)
        pfxs = [
            r[0]
            for r in bands.select(
                band_pfx(F.col("bucket"), DEFAULT_N_PFX).alias("p")
            ).distinct().collect()
        ]
        given = band_probe_pairs(bands, index, pfxs=pfxs)
        assert _pairs(auto) == _pairs(given)
        assert _pairs(auto)  # non-degenerate: the fixture has dups
    finally:
        bands.unpersist()


def test_dedup_components_empty_graph_honors_forced_distributed(spark):
    from vcfdbr_spark.operators.dedup import dedup_components

    empty = spark.createDataFrame([], "a long, b long")
    stats: dict = {}
    out = dedup_components(
        empty, materialize=False, stats=stats, local_edges_max=0
    )
    assert out.count() == 0
    # the forced-distributed contract: the local short-circuit must NOT
    # have fired (it records stats["local_edges"] when it does)
    assert "local_edges" not in stats


def test_dedup_components_local_and_distributed_schemas_identical(spark):
    from vcfdbr_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    local = dedup_components(pairs, materialize=False)
    dist = dedup_components(pairs, materialize=False, local_edges_max=0)
    # full schema equality INCLUDING nullability — a union of the two
    # paths' outputs must see one schema
    assert local.schema == dist.schema
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, dist.collect())
    )


def test_eager_checkpoint_scoped_conf_and_small_frame_partitions(spark):
    from vcfdbr_spark.plans.checkpoints import eager_checkpoint

    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    before = spark.conf.get(key, None)
    df = (
        spark.range(0, 1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = eager_checkpoint(df)
    after = spark.conf.get(key, None)
    assert before == after  # conf restored
    assert sorted(map(tuple, ck.collect())) == sorted(
        map(tuple, df.collect())
    )
    # a KB-sized frame must not freeze parallelism-count partitions
    assert ck.rdd.getNumPartitions() == 1


def test_eager_checkpoint_conf_restored_under_threads(spark):
    """Two driver threads checkpointing at once leave the
    session-global ``parallelismFirst`` unset: one call's restore can
    no longer run inside the other's flip and pin ``false``."""
    import threading

    from vcfdbr_spark.plans.checkpoints import eager_checkpoint

    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    spark.conf.unset(key)
    start = threading.Barrier(2)
    got, errors = {}, []

    def work(seed):
        try:
            start.wait()
            for r in range(4):
                df = (
                    spark.range(0, 2000)
                    .withColumn("g", (F.col("id") + seed + r) % 11)
                    .groupBy("g")
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                got[seed, r] = sorted(map(tuple, eager_checkpoint(df).collect()))
        except Exception as e:  # surfaced on the main thread below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(s,)) for s in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert spark.conf.get(key, None) is None
    assert all(sum(n for _, n in rows) == 2000 for rows in got.values())
    assert len(got) == 8


def test_ivf_assign_spread_flag_is_result_invariant(spark):
    from vcfdbr_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)])
            for i in range(1, 41)
        ],
        "vec_id long, embedding array<double>",
    )
    a = ivf_assign(vecs, nlist=4, spread=False)
    b = ivf_assign(vecs, nlist=4, spread=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
