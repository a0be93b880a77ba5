from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.vcf_fixture import write_vcf
from vcfdbr_spark.operators.multimodal import (
    decode_image,
    decode_media,
    fake_decode,
    frame_sample_plan,
)
from vcfdbr_spark.streaming.ingest import stream_vcf_ingest


def _media(spark):
    return spark.createDataFrame(
        [
            (1, "image", b"\x89PNGfakebytes", {"n_frames": "0"}),
            (2, "video", b"\x00\x00movbytes", {"n_frames": "25"}),
            (3, "audio", b"RIFFbytes", {}),
        ],
        "media_id long, kind string, content binary, meta map<string,string>",
    )


def test_decode_media_stub(spark):
    out = decode_media(_media(spark)).orderBy("media_id").collect()
    assert len(out) == 3
    r = out[0]
    assert r["n_bytes"] == 13 and len(r["features"]) == 8
    # deterministic: same input → same features
    again = decode_media(_media(spark)).orderBy("media_id").first()
    assert again["features"] == r["features"]


def test_decode_image_non_png_is_stubbed():
    """PNG decodes natively now; every other format still raises."""
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish bytes")


def test_decode_png_roundtrip_and_filters():
    """Stdlib PNG decoder: encode→decode roundtrip recovers exact
    dimensions and channel means for RGB, gray and RGBA; a hand-built
    stream using ALL five scanline filters decodes to the same stats
    as its filter-0 encoding (real writers pick filters per line)."""
    import struct
    import zlib

    from vcfdbr_spark.operators.multimodal import decode_png, encode_png

    # 4x3 RGB: left half pure red, right half pure green
    px = bytearray()
    for _y in range(3):
        px += bytes([255, 0, 0] * 2 + [0, 255, 0] * 2)
    w, h, feats = decode_png(encode_png(4, 3, bytes(px)))
    assert (w, h) == (4, 3)
    r, g, b, a = feats[:4]
    assert abs(r - 0.5) < 1e-9 and abs(g - 0.5) < 1e-9 and b == 0.0 and a == 1.0
    assert feats[7] == 0.75  # 3 channels / 4

    # gray 2x2 gradient
    w, h, feats = decode_png(encode_png(2, 2, bytes([0, 85, 170, 255]), color_type=0))
    assert (w, h) == (2, 2)
    assert abs(feats[0] - (0 + 85 + 170 + 255) / 4 / 255) < 1e-9
    assert feats[5] == 0.0 and feats[6] == 1.0  # luma min/max

    # RGBA with half-transparent alpha
    rgba = bytes([10, 20, 30, 128] * 4)
    w, h, feats = decode_png(encode_png(2, 2, rgba, color_type=6))
    assert abs(feats[3] - 128 / 255) < 1e-9 and feats[7] == 1.0

    # all five filter types: filter each scanline of a 4x5 RGB image
    # with type y%5 (the encoder's inverse transform), then decode and
    # compare against the filter-0 encoding of the same pixels
    wd, ht, nch = 4, 5, 3
    stride = wd * nch
    pix = bytes((7 * i + 3) % 256 for i in range(stride * ht))

    def _paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    prev = bytes(stride)
    for y in range(ht):
        line = pix[y * stride : (y + 1) * stride]
        f = y % 5
        raw.append(f)
        for x in range(stride):
            left = line[x - nch] if x >= nch else 0
            up = prev[x]
            ul = prev[x - nch] if x >= nch else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = (line[x] - left) & 0xFF
            elif f == 2:
                v = (line[x] - up) & 0xFF
            elif f == 3:
                v = (line[x] - ((left + up) >> 1)) & 0xFF
            else:
                v = (line[x] - _paeth(left, up, ul)) & 0xFF
            raw.append(v)
        prev = line

    def _chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    filtered_png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", wd, ht, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(filtered_png) == decode_png(encode_png(wd, ht, pix))

    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"garbage")


def test_decode_media_with_real_png_decoder(spark):
    """VERDICT r6 #8: a generated PNG decodes through the REAL decoder
    on the same Arrow mapInPandas path the fake stand-in exercises."""
    from vcfdbr_spark.operators.multimodal import decode_image, encode_png

    png = encode_png(5, 4, bytes([200, 100, 50] * 20))
    media = spark.createDataFrame(
        [(1, "image", png, {})],
        "media_id long, kind string, content binary, meta map<string,string>",
    )
    row = decode_media(media, decoder=decode_image).first()
    assert (row["width"], row["height"]) == (5, 4)
    assert row["n_bytes"] == len(png)
    assert abs(row["features"][0] - 200 / 255) < 1e-9


def test_frame_sample_plan(spark):
    out = frame_sample_plan(_media(spark), every_n=10).collect()
    # only the video row explodes; frames 0,10,20 of 25
    assert [(r["media_id"], r["frame_idx"]) for r in out] == [
        (2, 0),
        (2, 10),
        (2, 20),
    ]


def test_stream_fuzzy_dedup_pairs_across_batches(spark, tmp_path):
    """Batch 2's near-dup of a batch-1 doc is found by probing the
    band index (cross-batch), its in-batch dup by the self-join; the
    index accumulates one partition per batch."""
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text about spark engines"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog"),
            (12, "unrelated brand new content entirely here now"),
            (13, "unrelated brand new content entirely here now"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    # third batch: dups of docs from BOTH earlier batches — the probe
    # must read MULTIPLE prior batch=N index partitions at once
    spark.createDataFrame(
        [
            (21, "completely different text about spark engines"),
            (22, "unrelated brand new content entirely here now"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    out = tmp_path / "dedup_out"
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out), max_files_per_trigger=1
    )
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    assert (1, 11) in pairs  # cross-batch, via the index probe
    assert (12, 13) in pairs  # in-batch
    assert (2, 21) in pairs  # batch 3 vs batch 1 (two priors probed)
    assert (12, 22) in pairs and (13, 22) in pairs  # batch 3 vs batch 2
    assert (1, 2) not in pairs
    import glob

    assert len(glob.glob(str(out / "band_index" / "batch=*"))) == 3


def test_stream_fuzzy_dedup_reports_both_write_failures(
    spark, tmp_path, monkeypatch
):
    """The pairs and band-index writes of a batch run concurrently;
    when both fail the stream's error carries both, not the first."""
    from pyspark.sql.readwriter import DataFrameWriter

    from vcfdbr_spark.operators import dedup
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    src = tmp_path / "fail_src"
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "f0"))
    parquet = DataFrameWriter.parquet

    def pairs_write(self, path, *args, **kwargs):
        if "/pairs/batch=" in path:
            raise OSError("pairs writer down")
        return parquet(self, path, *args, **kwargs)

    def index_write(*args, **kwargs):
        raise OSError("index writer down")

    monkeypatch.setattr(DataFrameWriter, "parquet", pairs_write)
    monkeypatch.setattr(dedup, "write_band_index", index_write)
    with pytest.raises(Exception) as err:
        stream_fuzzy_dedup(spark, str(src) + "/*", str(tmp_path / "fail_out"))
    assert "pairs writer down" in str(err.value)
    assert "index writer down" in str(err.value)


def test_sample_exact_k_plan_and_determinism(spark):
    """Exact-k sampling compiles to TakeOrderedAndProject (per-
    partition heaps, no global sort Exchange) and returns the same k
    rows on every run and any partitioning."""
    from vcfdbr_spark.operators.sampling import sample_exact_k

    df = spark.range(0, 10_000).select(F.col("id").alias("doc_id"))
    out = sample_exact_k(df, "doc_id", 25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sample_exact_k(df.repartition(7), "doc_id", 25).collect()
    )
    assert len(a) == 25 and a == b


def test_stream_fuzzy_dedup_empty_batch_mid_stream(spark, tmp_path):
    """A zero-row file mid-stream (empty crawl shard) must not write
    an empty batch=N index dir — the next batch's basePath read of it
    would die with UNABLE_TO_INFER_SCHEMA (latent until r11's
    bandless-batch guard) — and cross-batch pairs across the gap
    still work."""
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    src = tmp_path / "gap_src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame([], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(
        [(21, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    out = tmp_path / "gap_out"
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out), max_files_per_trigger=1
    )
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    assert (1, 21) in pairs
    import glob

    # only the two non-empty batches left index partitions
    assert len(glob.glob(str(out / "band_index" / "batch=*"))) == 2


def test_stream_exact_dedup_unbounded_history(spark, tmp_path):
    """Exact dedup against the WHOLE stream history: a dup arriving
    many batches after its original still maps to the original
    keeper (no watermark bound), the index stays one row per
    DISTINCT hash (a boilerplate cluster of any size costs one
    index row), and keepers never change once assigned."""
    from vcfdbr_spark.streaming.ingest import stream_exact_dedup

    src = tmp_path / "ed_src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(5, "original text"), (6, "boilerplate"), (7, "boilerplate")],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, "something else")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(21, "original text"), (22, "boilerplate"), (23, "new stuff")],
        schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    out = tmp_path / "ed_out"
    stream_exact_dedup(
        spark, str(src) + "/*", str(out), max_files_per_trigger=1
    )
    keep = {
        r["doc_id"]: r["keep_id"]
        for r in spark.read.option("basePath", str(out / "keep"))
        .parquet(str(out / "keep")).collect()
    }
    assert keep == {
        5: 5, 6: 6, 7: 6, 11: 11,
        21: 5,   # two batches after its original — no watermark loss
        22: 6, 23: 23,
    }
    # index: one row per DISTINCT hash, not per doc
    idx = spark.read.option("basePath", str(out / "hash_index")).parquet(
        str(out / "hash_index")
    )
    assert idx.count() == 4  # original/boilerplate/something/new
    assert {r["doc_id"] for r in idx.collect()} == {5, 6, 11, 23}

    # a later re-run with a new file keeps old keepers stable
    spark.createDataFrame(
        [(31, "boilerplate")], schema
    ).coalesce(1).write.parquet(str(src / "f3"))
    stream_exact_dedup(
        spark, str(src) + "/*", str(out), max_files_per_trigger=1
    )
    keep2 = {
        r["doc_id"]: r["keep_id"]
        for r in spark.read.option("basePath", str(out / "keep"))
        .parquet(str(out / "keep")).collect()
    }
    assert keep2[31] == 6 and keep2[5] == 5


def test_stream_semantic_dedup_pairs_across_batches(spark, tmp_path):
    """The sign-LSH embedding twin over the same streaming core:
    cross-batch near-dups via the index probe, in-batch via the
    self-join; band params are pinned in a sidecar and a conflicting
    restart raises instead of silently mixing bucket spaces."""
    import pytest

    from vcfdbr_spark.streaming.ingest import stream_semantic_dedup

    src = tmp_path / "vec_src"
    src.mkdir()
    schema = "vec_id long, embedding array<float>, label int"
    up = [1.0] * 8  # all-positive signs
    mixed = [1.0, -1.0] * 4
    other = [-1.0] * 8
    spark.createDataFrame(
        [(1, up, 0), (2, mixed, 0)], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, [x * 0.9 for x in up], 0), (12, other, 0), (13, other, 0)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))

    out = tmp_path / "sem_out"
    stream_semantic_dedup(
        spark, str(src) + "/*", str(out), max_files_per_trigger=1
    )
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    assert (1, 11) in pairs  # cross-batch, via the index probe
    assert (12, 13) in pairs  # in-batch
    assert (1, 2) not in pairs and (2, 12) not in pairs
    import glob

    assert len(glob.glob(str(out / "band_index" / "batch=*"))) == 2

    # restart with conflicting pinned band width → hard error, never
    # a mixed bucket space
    with pytest.raises(ValueError, match="pinned at"):
        stream_semantic_dedup(
            spark, str(src) + "/*", str(out), bits=24
        )


def test_stream_ivf_assign_matches_batch_index(spark, tmp_path):
    """Streaming IVF maintenance: vectors streamed in 2 micro-batches
    through stream_ivf_assign answer ivf_topk_indexed queries with
    EXACTLY the in-memory ivf_topk results over the union corpus at
    the same pinned centroids; the probe scan prunes to the probed
    cent_id= partitions; a restart under different centroids dies."""
    import pytest

    from vcfdbr_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_train,
    )
    from vcfdbr_spark.streaming.ingest import stream_ivf_assign

    schema = "vec_id long, embedding array<float>, label int"
    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)], 0)
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, schema)
    cents = ivf_train(
        corpus.select("vec_id", "embedding"), nlist=4, n_iter=1
    )
    cpath = str(tmp_path / "cents")
    cents.write.parquet(cpath)

    src = tmp_path / "ivf_src"
    src.mkdir()
    spark.createDataFrame(rows[:20], schema).coalesce(1).write.parquet(
        str(src / "f0")
    )
    spark.createDataFrame(rows[20:], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    out = str(tmp_path / "ivf_out")
    stream_ivf_assign(
        spark, str(src) + "/*", out, cpath, max_files_per_trigger=1
    )
    import glob

    assert len(glob.glob(f"{out}/index/batch=*")) == 2

    q = corpus.filter("vec_id % 10 = 0").select("vec_id", "embedding")
    got = ivf_topk_indexed(spark, f"{out}/index", q, k=3, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in l and "cent_id" in l and " IN " in l
        for l in plan.split("\n")
    ), "probe scan must prune to the probed cent_id= partitions"
    want = ivf_topk(
        corpus.select("vec_id", "embedding"), q, k=3, nprobe=2,
        centroids=spark.read.parquet(cpath),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    other = str(tmp_path / "cents2")
    ivf_train(
        corpus.select("vec_id", "embedding"), nlist=3, n_iter=1
    ).write.parquet(other)
    with pytest.raises(ValueError, match="pinned to different"):
        stream_ivf_assign(spark, str(src) + "/*", out, other)


def test_stream_ivf_assign_releases_centroids_when_a_batch_fails(
    spark, tmp_path, monkeypatch
):
    """A batch that raises must not leave the stream's persisted
    centroid frame cached: a long-lived driver restarting a failing
    stream would otherwise accumulate one per attempt."""
    from pyspark import StorageLevel

    from vcfdbr_spark.operators import similarity
    from vcfdbr_spark.streaming.ingest import stream_ivf_assign

    schema = "vec_id long, embedding array<float>, label int"
    rows = [(i, [float(i % 3), 1.0], 0) for i in range(6)]
    cpath = str(tmp_path / "cents")
    spark.createDataFrame(rows[:2], schema).select(
        "vec_id", "embedding"
    ).write.parquet(cpath)
    src = tmp_path / "ivf_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "f0")
    )

    def failing_assign(*args, **kwargs):
        raise RuntimeError("assign failed")

    monkeypatch.setattr(similarity, "ivf_assign", failing_assign)
    with pytest.raises(Exception, match="assign failed"):
        stream_ivf_assign(spark, str(src) + "/*", str(tmp_path / "out"), cpath)
    # a frame with the centroid frame's plan reports its cache entry
    cents = spark.read.parquet(cpath).select("vec_id", "embedding")
    assert cents.storageLevel == StorageLevel.NONE


def test_stream_corpus_filter_first_seen_wins(spark, tmp_path):
    """The streaming capstone: per-batch quality gates, then fuzzy
    dedup against stream history with first-seen-wins — a doc
    matching ANY previously indexed survivor (kept or dropped)
    drops; in-batch clusters keep their min id; quality-failed docs
    are never signed or indexed."""
    from vcfdbr_spark.streaming.ingest import stream_corpus_filter

    src = tmp_path / "cf_src"
    src.mkdir()
    schema = "doc_id long, text string, lang string, source string"
    A = "alpha beta gamma delta epsilon zeta eta theta"
    B = "one two three four five six seven eight nine"
    C = "red orange yellow green blue indigo violet colors"
    spark.createDataFrame(
        [
            (1, A, "en", "web"),
            (2, "spam spam spam spam spam spam", "en", "web"),  # low ttr
            (3, B, "en", "web"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [
            (11, A, "en", "web"),   # dup of kept d1 → drop
            (12, C, "en", "web"),   # in-batch cluster {12, 13}: keep 12
            (13, C, "en", "web"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(21, C, "en", "web")],  # dup of DROPPED-but-indexed 13 → drop
        schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    out = tmp_path / "cf_out"
    stream_corpus_filter(
        spark, str(src) + "/*", str(out),
        min_tokens=5, min_ttr=0.3, max_files_per_trigger=1,
    )
    kept = spark.read.option("basePath", str(out / "kept")).parquet(
        str(out / "kept")
    )
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 12}
    by_batch = {
        r["doc_id"]: r["batch"]
        for r in kept.select("doc_id", "batch").collect()
    }
    assert by_batch == {1: 0, 3: 0, 12: 1}
    # capstone columns ride along
    row = kept.filter("doc_id = 1").first()
    assert row["lang"] == "en" and row["n_tokens"] == 8
    assert row["ttr"] == 1.0 and row["bits_per_bigram"] is None
    # quality-failed d2 was never signed: no band index row, so a
    # later identical doc would be judged on its own merits
    idx = spark.read.option("basePath", str(out / "band_index")).parquet(
        str(out / "band_index")
    )
    assert idx.filter("doc_id = 2").count() == 0


def test_stream_corpus_filter_all_filtered_batch(spark, tmp_path):
    """A micro-batch whose docs ALL fail the quality gates writes NO
    kept partition and NO index partition (an empty partitioned dir
    has no parquet files and breaks later multi-dir reads — the exact
    husk the bandless-batch guard exists to prevent) — and the next
    batch's docs are judged on their own merits (an all-garbage
    batch, e.g. a bad crawl shard, must not poison or crash the
    stream)."""
    from vcfdbr_spark.streaming.ingest import stream_corpus_filter

    src = tmp_path / "bad_src"
    src.mkdir()
    schema = "doc_id long, text string, lang string, source string"
    spark.createDataFrame(
        [(1, "x x x x x x x x", "en", "web"),
         (2, "y", "en", "web")],  # low ttr / too short: all fail
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, "alpha beta gamma delta epsilon zeta", "en", "web")],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    out = tmp_path / "bad_out"
    stream_corpus_filter(
        spark, str(src) + "/*", str(out),
        min_tokens=5, min_ttr=0.3, max_files_per_trigger=1,
    )
    kept = spark.read.option("basePath", str(out / "kept")).parquet(
        str(out / "kept")
    )
    assert {r["doc_id"] for r in kept.collect()} == {11}
    idx = spark.read.option("basePath", str(out / "band_index")).parquet(
        str(out / "band_index")
    )
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == {11}


def test_stream_corpus_filter_lm_gate_needs_model(spark, tmp_path):
    """max_bits without a pre-trained model is a hard error (a
    per-batch self-trained model judges each batch by a different
    ruler); with a model, the cap drops high-entropy docs and the
    scored bits ride into kept/."""
    import pytest

    from vcfdbr_spark.operators.lm import doc_bigrams, train_bigram_model
    from vcfdbr_spark.streaming.ingest import stream_corpus_filter

    src = tmp_path / "lm_src"
    src.mkdir()
    schema = "doc_id long, text string, lang string, source string"
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog", "en", "web")
         for i in range(20)],
        schema,
    )
    model = train_bigram_model(doc_bigrams(ref), materialize=False)
    model_path = str(tmp_path / "model.parquet")
    model.write.parquet(model_path)

    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "web"),
            (2, "zxqv wkjh plmn bvcx qwer asdf zxcv tyui", "en", "web"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))

    with pytest.raises(ValueError, match="pre-trained model"):
        stream_corpus_filter(
            spark, str(src) + "/*", str(tmp_path / "x"),
            min_tokens=5, min_ttr=0.3, max_bits=2.0,
        )

    out = tmp_path / "lm_out"
    stream_corpus_filter(
        spark, str(src) + "/*", str(out),
        min_tokens=5, min_ttr=0.3, max_bits=2.0, model_path=model_path,
    )
    kept = spark.read.parquet(str(out / "kept")).collect()
    assert {r["doc_id"] for r in kept} == {1}
    assert kept[0]["bits_per_bigram"] is not None
    assert kept[0]["bits_per_bigram"] <= 2.0


def test_stream_vcf_ingest_resumable(spark, tmp_path):
    vcf_dir = tmp_path / "vcf_in"
    vcf_dir.mkdir()
    header_path = write_vcf(str(tmp_path / "header.vcf"))
    write_vcf(str(vcf_dir / "chunk1.vcf"))
    out = str(tmp_path / "db")
    ckpt = str(tmp_path / "ckpt")
    stream_vcf_ingest(spark, str(vcf_dir), out, ckpt, header_path)
    info = spark.read.parquet(f"{out}/variant_info")
    assert info.count() == 6
    assert info.agg(F.max("variant_id")).first()[0] == 6
    # drop a second file in: ids continue across runs (resume).  The
    # carry is the manifest, NOT a table scan — prove it by making the
    # already-written batch unreadable before the second run.
    import shutil

    shutil.move(f"{out}/variant_info", f"{out}/variant_info_hidden")
    src2 = write_vcf(str(tmp_path / "tmp2.vcf"))
    shutil.copy(src2, str(vcf_dir / "chunk2.vcf"))
    stream_vcf_ingest(spark, str(vcf_dir), out, ckpt, header_path)
    second = spark.read.parquet(f"{out}/variant_info")
    assert second.agg(F.min("variant_id")).first()[0] == 7  # carried
    shutil.move(
        f"{out}/variant_info_hidden/ingest_batch=0",
        f"{out}/variant_info/ingest_batch=0",
    )
    info = spark.read.parquet(f"{out}/variant_info")
    assert info.count() == 12
    assert info.agg(F.max("variant_id")).first()[0] == 12
    assert info.select("variant_id").distinct().count() == 12


def test_stream_vcf_ingest_three_table_batch_parity(spark, tmp_path):
    """A streamed ingest must equal the batch ``read_vcf`` on the same
    fixture — all three tables, row-for-row (pipeline/02-build-db.R:
    461-497 writes info+impact+geno every chunk)."""
    from vcfdbr_spark.sources.vcf import read_vcf

    vcf_dir = tmp_path / "vcf_in"
    vcf_dir.mkdir()
    header_path = write_vcf(str(tmp_path / "header.vcf"))
    write_vcf(str(vcf_dir / "data.vcf"), include_multiallelic=True)
    out = str(tmp_path / "db")
    stream_vcf_ingest(
        spark, str(vcf_dir), out, str(tmp_path / "ckpt"), header_path
    )
    batch = read_vcf(spark, str(vcf_dir / "data.vcf"))
    for name, batch_df in [
        ("variant_info", batch.variant_info),
        ("variant_impact", batch.variant_impact),
        ("variant_geno", batch.variant_geno),
    ]:
        streamed = spark.read.parquet(f"{out}/{name}").drop("ingest_batch")
        assert streamed.columns == batch_df.columns, name
        cols = batch_df.columns
        got = sorted(map(str, streamed.select(cols).collect()))
        want = sorted(map(str, batch_df.select(cols).collect()))
        assert got == want, name
    rejects = spark.read.parquet(f"{out}/_rejects").drop("ingest_batch")
    assert rejects.count() == 1
    assert rejects.first()["reason"] == "multiallelic"
    # finalize makes the streamed output a first-class store: the
    # canonical batch queries run unchanged against it
    from vcfdbr_spark.operators.query import filter_test
    from vcfdbr_spark.sources.store import open_vcfdb

    db = open_vcfdb(spark, out)
    assert db.manifest.get("streamed") is True
    assert db.samples.count() == 4
    assert db.gene_map.count() >= 3
    hits = filter_test(db.variant_impact, db.variant_info, "GENE2", af=0.9)
    assert hits.count() > 0
    assert db.pull([1, 4]).count() == 8


def test_stream_vcf_ingest_auto_compaction(spark, tmp_path):
    """VERDICT r7 #4: a long-lived ingest stream's per-batch
    ``ingest_batch=N`` dirs must not grow unboundedly — every
    ``compact_every`` batches they fold into one consolidated
    ``ingest_batch=-1`` partition per table (atomic whole-table swap,
    current batch excluded for at-least-once replay safety), with the
    streamed data bit-identical afterwards."""
    import glob
    import os
    import shutil

    vcf_dir = tmp_path / "vcf_in"
    vcf_dir.mkdir()
    header_path = write_vcf(str(tmp_path / "header.vcf"))
    out = str(tmp_path / "db")
    ckpt = str(tmp_path / "ckpt")
    src = write_vcf(str(tmp_path / "chunk.vcf"))
    for k in range(5):  # one drain per file -> batch ids 0..4
        shutil.copy(src, str(vcf_dir / f"chunk{k}.vcf"))
        stream_vcf_ingest(
            spark, str(vcf_dir), out, ckpt, header_path, compact_every=3
        )

    def batch_dirs(table):
        return sorted(
            os.path.basename(d)
            for d in glob.glob(f"{out}/{table}/ingest_batch=*")
        )

    # compaction fired at batches 2 and 4: only the folded history
    # partition and the latest batch remain — NOT five dirs per table
    for table in ("variant_info", "variant_geno"):
        assert batch_dirs(table) == ["ingest_batch=-1", "ingest_batch=4"], table
    # all-empty _rejects: the empty tail dirs (no data files) are
    # deleted rather than folded — bounded without a schemaless rewrite
    assert batch_dirs("_rejects") == ["ingest_batch=4"]
    # no swap debris
    assert not os.path.exists(f"{out}/variant_info.tmp")
    assert not os.path.exists(f"{out}/variant_info.old")
    # data integrity: 5 identical chunks x 6 variants, dense ids carry
    info = spark.read.parquet(f"{out}/variant_info")
    assert info.count() == 30
    assert info.select("variant_id").distinct().count() == 30
    assert info.agg(F.max("variant_id")).first()[0] == 30
    # the compacted store still opens and queries like any other
    from vcfdbr_spark.operators.query import filter_test
    from vcfdbr_spark.sources.store import open_vcfdb

    db = open_vcfdb(spark, out)
    assert filter_test(db.variant_impact, db.variant_info, "GENE2", af=0.9).count() > 0

    # crash-heal: simulate dying between the two swap renames (table
    # renamed away, tmp never promoted) — the next run heals it back
    shutil.move(f"{out}/variant_info", f"{out}/variant_info.old")
    shutil.copy(src, str(vcf_dir / "chunk5.vcf"))
    stream_vcf_ingest(
        spark, str(vcf_dir), out, ckpt, header_path, compact_every=3
    )
    info = spark.read.parquet(f"{out}/variant_info")
    assert info.count() == 36  # healed history + new batch
    assert info.select("variant_id").distinct().count() == 36


def test_finalize_stream_store_raises_on_unreadable_impact(spark, tmp_path):
    """A streamed ``variant_impact`` that exists but cannot be read
    fails finalize loudly instead of leaving the store without a
    gene_map (only a missing table means "no CSQ in this VCF")."""
    from vcfdbr_spark.schema import read_header
    from vcfdbr_spark.sources.store import store_manifest
    from vcfdbr_spark.streaming.ingest import _finalize_stream_store

    header = read_header(write_vcf(str(tmp_path / "header.vcf")))
    out = tmp_path / "db"
    part = out / "variant_impact" / "ingest_batch=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        _finalize_stream_store(
            spark, str(out), header, store_manifest(header, streamed=True)
        )


def test_compact_table_keeps_streamed_batches(spark, tmp_path):
    """``compact_table`` on a streamed store folds every
    ``ingest_batch=N`` dir into the stream's own ``ingest_batch=-1``
    history partition, so a batch streamed afterwards lands beside it
    and reads see all rows (a plain-file rewrite left partition
    discovery reading only the new batch dir)."""
    import glob
    import os
    import shutil

    from vcfdbr_spark.sources.build import compact_table
    from vcfdbr_spark.sources.store import open_vcfdb

    vcf_dir = tmp_path / "vcf_in"
    vcf_dir.mkdir()
    header_path = write_vcf(str(tmp_path / "header.vcf"))
    out = str(tmp_path / "db")
    ckpt = str(tmp_path / "ckpt")
    src = write_vcf(str(tmp_path / "chunk.vcf"))

    def stream(k):  # one drain per file -> batch id k
        shutil.copy(src, str(vcf_dir / f"chunk{k}.vcf"))
        stream_vcf_ingest(
            spark, str(vcf_dir), out, ckpt, header_path, compact_every=None
        )

    stream(0)
    stream(1)
    assert compact_table(spark, out, "variant_info") == 12
    stream(2)

    assert sorted(
        os.path.basename(d) for d in glob.glob(f"{out}/variant_info/*")
        if not os.path.basename(d).startswith(("_", "."))
    ) == ["ingest_batch=-1", "ingest_batch=2"]
    info = open_vcfdb(spark, out).variant_info
    assert info.count() == 18
    assert info.select("variant_id").distinct().count() == 18
    assert info.agg(F.max("variant_id")).first()[0] == 18


def test_stream_fuzzy_dedup_file_scheme_out_dir(spark, tmp_path):
    """Side-state goes through the Hadoop FS: an explicitly
    scheme-qualified ``file://`` out_dir (the local stand-in for
    hdfs://-s3a://) works end-to-end — batch-dir listing, delete-
    before-write, the pfx-partitioned index, and the checkpoint."""
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))

    out_uri = f"file://{tmp_path}/dedup_out_uri"
    stream_fuzzy_dedup(
        spark, str(src) + "/*", out_uri, max_files_per_trigger=1
    )
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(f"{out_uri}/pairs").collect()
    }
    assert (1, 11) in pairs
    # pfx-partitioned layout on disk
    import glob

    assert glob.glob(str(tmp_path / "dedup_out_uri" / "band_index" / "batch=*" / "pfx=*"))


def test_stream_vcf_ingest_file_scheme_progress(spark, tmp_path):
    """The dense-id progress manifest reads/writes through the Hadoop
    FS on a scheme-qualified out_dir."""
    import json

    from vcfdbr_spark import fs as _fs

    out_uri = f"file://{tmp_path}/store_uri"
    _fs.write_text(spark, f"{out_uri}/_stream_progress.json", json.dumps({"x": 1}))
    assert json.loads(_fs.read_text(spark, f"{out_uri}/_stream_progress.json")) == {"x": 1}
    # local path view of the same file exists (file:// scheme)
    assert (tmp_path / "store_uri" / "_stream_progress.json").exists()
    assert _fs.read_text(spark, f"{out_uri}/absent.json") is None
    _fs.delete_dir(spark, f"{out_uri}")
    assert not (tmp_path / "store_uri").exists()
    assert _fs.list_subdirs(spark, f"{out_uri}", "batch=") == []


def test_stream_fuzzy_dedup_auto_compaction(spark, tmp_path):
    """VERDICT r6 #5: with compact_every=3, a 7-batch stream folds the
    batch=N tail into band_index_compacted/ (write-to-side + atomic
    swap) so the probe's dir-listing stays bounded on a long-lived
    stream — and the pair results are IDENTICAL to an uncompacted
    run, including pairs whose index side crossed a compaction."""
    import glob

    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    schema = "doc_id long, text string"
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "completely different text about spark engines",
        "unrelated brand new content entirely here now",
    ]
    src = tmp_path / "src"
    src.mkdir()
    # 7 single-file batches; batch k carries a dup of text[k%3] (so
    # late batches must pair against early batches THROUGH the
    # compacted layout) plus one unique doc
    for k in range(7):
        spark.createDataFrame(
            [
                (100 * k + 1, texts[k % 3]),
                (100 * k + 2, f"unique filler number {k} with extra words"),
            ],
            schema,
        ).coalesce(1).write.parquet(str(src / f"f{k}"))

    out_c = tmp_path / "with_compaction"
    out_p = tmp_path / "plain"
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out_c),
        max_files_per_trigger=1, compact_every=3,
    )
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out_p),
        max_files_per_trigger=1, compact_every=None,
    )
    got_c = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out_c / "pairs")).collect()
    }
    got_p = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out_p / "pairs")).collect()
    }
    assert got_c == got_p
    # batch 6 (doc 601, texts[0]) paired with batch 0 (doc 1) and
    # batch 3 (doc 301) — both folded into the compacted layout by then
    assert (1, 601) in got_c and (301, 601) in got_c
    # tail stays bounded: compaction fired at batches 3 and 6 → ≤2
    # batch dirs remain; the plain run keeps all 7
    assert len(glob.glob(str(out_c / "band_index" / "batch=*"))) <= 2
    assert len(glob.glob(str(out_p / "band_index" / "batch=*"))) == 7
    assert (out_c / "band_index_compacted" / "_n_pfx").exists()
    # no half-swap debris
    assert not (out_c / "band_index_compacted.tmp").exists()
    assert not (out_c / "band_index_compacted.old").exists()


def test_manual_compaction_folds_auto_compacted_layout(spark, tmp_path):
    """compact-band-index must work on ANY stream state: after
    auto-compaction folded every batch dir, the manual CLI compacts
    from the band_index_compacted sibling (plus any new tail) instead
    of failing on an empty batch list."""
    from vcfdbr_spark.operators.dedup import (
        band_probe_pairs,
        compact_band_index,
        minhash_band_buckets,
        minhash_signatures,
        read_band_index,
    )
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    for k in range(4):
        spark.createDataFrame(
            [(10 * k + 1, f"document number {k} about distributed engines")],
            schema,
        ).coalesce(1).write.parquet(str(src / f"f{k}"))
    out = tmp_path / "out"
    # compact_every=2 -> all 4 batches end up folded, tail empty
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out),
        max_files_per_trigger=1, compact_every=2,
    )
    import glob

    assert glob.glob(str(out / "band_index" / "batch=*")) == []
    n = compact_band_index(
        spark, str(out / "band_index"), str(tmp_path / "manual_idx")
    )
    assert n == 16  # 4 docs x 4 bands, deduplicated
    # the manually-compacted index probes identically
    probe = spark.createDataFrame(
        [(99, "document number 0 about distributed engines")], schema
    )
    bands = minhash_band_buckets(minhash_signatures(probe)).persist()
    got = {
        (r["a"], r["b"])
        for r in band_probe_pairs(
            bands, read_band_index(spark, str(tmp_path / "manual_idx"))
        ).collect()
    }
    bands.unpersist()
    assert (1, 99) in got


def test_stream_compaction_crash_heal(spark, tmp_path):
    """Crash window between the two swap renames leaves only
    <index>_compacted.old: the probe must fall back to it (no lost
    cross-batch pairs or keepers) and the next compaction must heal it
    back into the live layout with no debris — for the fuzzy stream's
    band index and the exact stream's hash index alike."""
    import os

    from vcfdbr_spark.streaming.ingest import (
        stream_exact_dedup,
        stream_fuzzy_dedup,
    )

    schema = "doc_id long, text string"
    files = [
        [(1, "the quick brown fox jumps over the lazy dog")],
        [(2, "some entirely different filler content here")],
        # the later files each carry one unseen text too, so the exact
        # stream's hash index grows a tail and folds again
        [(11, "the quick brown fox jumps over the lazy dog"),
         (13, "a third text about parquet partition layouts")],
        [(12, "some entirely different filler content here"),
         (14, "a fourth text on hadoop file system renames")],
    ]

    def write_files(src, ks):
        for k in ks:
            spark.createDataFrame(files[k], schema).coalesce(1).write.parquet(
                str(src / f"f{k}")
            )

    def crash_then_heal(run, idx):
        src, out = tmp_path / f"src_{idx}", tmp_path / f"out_{idx}"
        write_files(src, (0, 1))
        run(
            spark, str(src) + "/*", str(out),
            max_files_per_trigger=1, compact_every=2,
        )
        comp = out / f"{idx}_compacted"
        assert comp.exists()
        # simulate a crash between `rename current -> .old` and
        # `rename .tmp -> current`
        os.rename(str(comp), str(comp) + ".old")
        # two more files: the first batch probes THROUGH the .old
        # fallback; the second triggers compaction, which heals
        write_files(src, (2, 3))
        run(
            spark, str(src) + "/*", str(out),
            max_files_per_trigger=1, compact_every=2,
        )
        assert comp.exists()
        assert not (out / f"{idx}_compacted.old").exists()
        assert not (out / f"{idx}_compacted.tmp").exists()
        return src, out

    _, out = crash_then_heal(stream_fuzzy_dedup, "band_index")
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(str(out / "pairs")).collect()
    }
    # cross-batch pairs found through the degraded (.old) index
    assert (1, 11) in pairs and (2, 12) in pairs

    src, out = crash_then_heal(stream_exact_dedup, "hash_index")
    clean = tmp_path / "exact_clean"
    stream_exact_dedup(
        spark, str(src) + "/*", str(clean),
        max_files_per_trigger=1, compact_every=2,
    )

    def keepers(d):
        return {
            r["doc_id"]: r["keep_id"]
            for r in spark.read.parquet(str(d / "keep")).collect()
        }

    # keepers found through the .old fallback equal an uncrashed run's
    assert keepers(out) == keepers(clean)
    assert keepers(out)[11] == 1 and keepers(out)[12] == 2


@pytest.mark.parametrize(
    "stream, idx",
    [("stream_fuzzy_dedup", "band_index"), ("stream_exact_dedup", "hash_index")],
)
def test_stream_restart_keeps_recorded_n_pfx(spark, tmp_path, stream, idx):
    """The pfx modulus is baked into every batch dir, so a restart
    with a conflicting explicit n_pfx raises naming the recorded one,
    and a restart with n_pfx omitted resumes with the recorded one."""
    from vcfdbr_spark.operators.dedup import band_pfx, index_n_pfx
    from vcfdbr_spark.streaming import ingest

    run = getattr(ingest, stream)
    schema = "doc_id long, text string"
    src, out = tmp_path / "src", str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    run(spark, str(src) + "/*", out, max_files_per_trigger=1, n_pfx=16)
    with pytest.raises(ValueError, match="n_pfx=16"):
        run(spark, str(src) + "/*", out, n_pfx=8)

    spark.createDataFrame(
        [(10 + k, f"fresh document {k} about partition moduli")
         for k in range(8)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    run(spark, str(src) + "/*", out, max_files_per_trigger=1)
    assert index_n_pfx(spark, f"{out}/{idx}") == 16
    resumed = spark.read.parquet(f"{out}/{idx}/batch=1")
    assert resumed.count() > 0
    assert resumed.filter(
        F.col("pfx") != band_pfx(F.col("bucket"), 16)
    ).isEmpty()
    # the data tells the moduli apart: the default 64 would differ
    assert not resumed.filter(
        F.col("pfx") != band_pfx(F.col("bucket"), 64)
    ).isEmpty()


def test_stream_semantic_fold_carries_band_params(spark, tmp_path):
    """The auto-fold carries the semantic stream's pinned
    _band_params sidecar to the compacted layout, which therefore
    opens as an embedding band index with the pinned parameters."""
    import json

    from vcfdbr_spark.operators.similarity import read_embedding_band_index
    from vcfdbr_spark.streaming.ingest import stream_semantic_dedup

    src = tmp_path / "vec_src"
    schema = "vec_id long, embedding array<float>, label int"
    spark.createDataFrame(
        [(1, [1.0] * 8, 0), (2, [1.0, -1.0] * 4, 0)], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, [0.9] * 8, 0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    out = tmp_path / "sem_out"
    stream_semantic_dedup(
        spark, str(src) + "/*", str(out),
        max_files_per_trigger=1, compact_every=1,
    )
    pinned = json.loads((out / "band_index" / "_band_params").read_text())
    idx, bits, n_bands = read_embedding_band_index(
        spark, str(out / "band_index_compacted")
    )
    assert (bits, n_bands) == (pinned["bits"], pinned["n_bands"])
    assert idx.select("vec_id").distinct().count() == 3


def test_manual_compaction_heals_from_old_sibling(spark, tmp_path):
    """ADVICE r7: in the crash window (current renamed to .old, .tmp
    never promoted) the MANUAL compact-band-index CLI must fold the
    .old layout like the stream's own heal path does — otherwise it
    silently emits an output missing all previously compacted rows."""
    import os

    from vcfdbr_spark.operators.dedup import compact_band_index
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    for k in range(2):
        spark.createDataFrame(
            [(k + 1, f"document number {k} about distributed engines")],
            schema,
        ).coalesce(1).write.parquet(str(src / f"f{k}"))
    out = tmp_path / "out"
    stream_fuzzy_dedup(
        spark, str(src) + "/*", str(out),
        max_files_per_trigger=1, compact_every=2,
    )
    comp = out / "band_index_compacted"
    assert comp.exists()
    os.rename(str(comp), str(comp) + ".old")  # simulated crash window
    n = compact_band_index(
        spark, str(out / "band_index"), str(tmp_path / "manual_idx")
    )
    assert n == 8  # 2 docs x 4 bands — history NOT dropped


def test_decode_media_mixed_real_decoders(spark):
    """decode_content dispatches per row inside one Arrow batch: a
    real PNG and a real PCM WAV decode side by side through the same
    mapInPandas plan; audio lands (sample_rate, n_channels) in the
    schema's (width, height) slots as documented."""
    import struct

    from vcfdbr_spark.operators.multimodal import (
        decode_content,
        decode_media,
        encode_png,
        encode_wav,
    )

    png = encode_png(3, 2, bytes(range(3 * 2 * 3)), color_type=2)
    samples = [0, 1000, -1000, 32767, -32768, 0, 500, -500]
    wav = encode_wav(16000, 2, 2, struct.pack("<8h", *samples))
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), {}), (2, "audio", bytearray(wav), {})],
        "media_id long, kind string, content binary, meta map<string,string>",
    )
    rows = {
        r["media_id"]: r
        for r in decode_media(media, decoder=decode_content).collect()
    }
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert (rows[2]["width"], rows[2]["height"]) == (16000, 2)
    feats = rows[2]["features"]
    assert feats[0] == 4 / 16000  # duration: 4 stereo frames
    assert feats[1] == 2.0 and feats[2] == 2.0
    assert abs(feats[5] - 1.0) < 1e-6  # peak is full-scale -32768
    assert feats[7] == 4.0


def test_stream_decontaminate_matches_batch_and_replays_clean(spark, tmp_path):
    """Streaming decontamination == one-shot decontaminate_batch over
    the same corpus (batches are independent: a doc's leak status
    depends only on itself vs the frozen eval set), from BOTH the
    in-memory and the persisted-index paths."""
    from vcfdbr_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        write_band_index,
    )
    from vcfdbr_spark.operators.pipeline import decontaminate_batch
    from vcfdbr_spark.streaming.ingest import stream_decontaminate

    schema = "doc_id long, text string"
    base = ("red orange yellow green blue indigo violet crimson teal "
            "maroon silver golden purple magenta cyan beige ochre "
            "salmon coral ivory pearl amber jade ruby topaz onyx")
    eval_rows = [(900, base + " benchA"), (901, "nothing like the rest")]
    batches = [
        [(1, base + " trainA"), (2, "unique one two three")],
        [(3, "another clean document"), (4, base + " trainB")],
        [(5, "the final unrelated doc")],
    ]
    src = tmp_path / "dc_src"; src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    eval_p = str(tmp_path / "evald")
    spark.createDataFrame(eval_rows, schema).write.parquet(eval_p)
    idx_p = str(tmp_path / "eval_idx")
    write_band_index(
        minhash_band_buckets(minhash_signatures(spark.read.parquet(eval_p))),
        idx_p,
    )

    out1 = tmp_path / "dc_out1"
    stream_decontaminate(
        spark, str(src) + "/*", eval_p, str(out1), max_files_per_trigger=1
    )
    got1 = {
        r["doc_id"]
        for r in spark.read.option("basePath", str(out1 / "kept"))
        .parquet(str(out1 / "kept")).collect()
    }
    out2 = tmp_path / "dc_out2"
    stream_decontaminate(
        spark, str(src) + "/*", eval_p, str(out2),
        eval_index_dir=idx_p, max_files_per_trigger=1,
    )
    got2 = {
        r["doc_id"]
        for r in spark.read.option("basePath", str(out2 / "kept"))
        .parquet(str(out2 / "kept")).collect()
    }
    full = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {
        r["doc_id"]
        for r in decontaminate_batch(
            full, spark.read.parquet(eval_p)
        ).collect()
    }
    assert got1 == want == got2
    assert 1 not in want and 4 not in want     # the planted leaks
    assert {2, 3, 5} <= want


def test_stream_sketch_equals_batch_and_prunes(spark, tmp_path):
    """Streaming KMV maintenance ≡ one-shot batch sketch over the
    concatenated corpus (exact equality — the sketch is a
    deterministic monotone fold), a restart with new files continues
    from the persisted state, on-disk state stays ≤ 2 batch dirs,
    and a k mismatch on restart is refused."""
    import pytest as _pytest

    from vcfdbr_spark.operators.sketch import (
        kmv_bottom_k,
        kmv_overlap,
        kmv_overlap_sketches,
    )
    from vcfdbr_spark.streaming.ingest import (
        read_stream_sketch,
        stream_sketch,
    )

    src = tmp_path / "sk_src"
    src.mkdir()
    schema = "doc_id long, text string"
    batches = [
        [(i, f"alpha {i}") for i in range(40)],
        [(100 + i, f"beta {i}") for i in range(40)],
        [(200 + i, f"alpha {i}") for i in range(30)],  # dups of batch 0
    ]
    for n, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{n}")
        )

    out = tmp_path / "sk_out"
    stream_sketch(
        spark, str(src) + "/*", str(out), k=16, max_files_per_trigger=1
    )
    got, k = read_stream_sketch(spark, str(out))
    assert k == 16
    all_rows = [r for rows in batches for r in rows]
    want = kmv_bottom_k(
        spark.createDataFrame(all_rows, schema), "text", 16
    )
    assert [r["h"] for r in got.collect()] == [r["h"] for r in want.collect()]
    # pruning: at most the last two batch dirs remain
    from vcfdbr_spark import fs as _fs

    assert len(_fs.list_subdirs(spark, str(out / "sketch"), "batch=")) <= 2

    # restart with one more file continues from persisted state
    extra = [(300 + i, f"gamma {i}") for i in range(25)]
    spark.createDataFrame(extra, schema).coalesce(1).write.parquet(
        str(src / "f3")
    )
    stream_sketch(
        spark, str(src) + "/*", str(out), k=16, max_files_per_trigger=1
    )
    got2, _ = read_stream_sketch(spark, str(out))
    want2 = kmv_bottom_k(
        spark.createDataFrame(all_rows + extra, schema), "text", 16
    )
    assert [r["h"] for r in got2.collect()] == [
        r["h"] for r in want2.collect()
    ]

    # k mismatch on restart is refused, not silently mixed
    with _pytest.raises(ValueError, match="k=16"):
        stream_sketch(spark, str(src) + "/*", str(out), k=8)

    # overlap against a maintained sketch == overlap on the corpora
    other_rows = [(i, f"alpha {i}") for i in range(20)] + [
        (900 + i, f"delta {i}") for i in range(20)
    ]
    other = spark.createDataFrame(other_rows, schema)
    via_sketch = kmv_overlap_sketches(
        got2, kmv_bottom_k(other, "text", 16), 16
    ).first()
    via_corpus = kmv_overlap(
        spark.createDataFrame(all_rows + extra, schema), other, "text", k=16
    ).first()
    assert via_sketch.asDict() == via_corpus.asDict()
