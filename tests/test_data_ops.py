from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from vcfdbr_spark.functions.text import lang_guess, quality_stats, token_count
from vcfdbr_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_band_buckets,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from vcfdbr_spark.operators.similarity import brute_force_topk, lsh_topk


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines"),
        (5, "der hund und die katze sind mit von auf"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    assert len(out) == 4  # 5 docs, one exact dup collapses
    by_hash = {r["text_hash"]: r for r in out}
    dup = [r for r in out if r["n_dups"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1


def test_minhash_finds_near_dups(spark):
    docs = _docs(spark)
    pairs = {(r["a"], r["b"]) for r in minhash_dedup_pairs(docs).collect()}
    assert (1, 2) in pairs  # identical text shares every band
    # jaccard on candidates: exact dup = 1.0, near dup high, computed exactly
    jac = ngram_jaccard_pairs(docs, minhash_dedup_pairs(docs))
    got = {(r["a"], r["b"]): r["jaccard"] for r in jac.collect()}
    assert got[(1, 2)] == 1.0
    if (1, 3) in got:
        # 1-word difference on a 9-word doc: 4 of 7 word-trigrams shared
        assert 0.3 < got[(1, 3)] < 1.0


def test_minhash_signature_is_md5_slice_min(spark):
    """Hash s = min over the 8-hex slice s%4 of md5('{s//4}|'+shingle)
    — one digest feeds four 32-bit minhash components."""
    docs = _docs(spark).filter(F.col("doc_id") == 4)
    sig = minhash_signatures(docs, num_hashes=8).first()
    words = "completely different text about spark engines".split(" ")
    shs = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    for s in (0, 1, 5):
        want = min(
            hashlib.md5(f"{s // 4}|{x}".encode()).hexdigest()[
                8 * (s % 4) : 8 * (s % 4) + 8
            ]
            for x in shs
        )
        assert sig[f"h{s}"] == want


def test_dedup_components_chain(spark):
    """Pairs chain across multiple hops: A~B, B~C, C~D must collapse
    into ONE component keyed by the minimum id (the propagation loop
    needs diameter-many rounds, not one)."""
    from vcfdbr_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(3, 4), (4, 9), (9, 12), (20, 21), (30, 21)],
        "a long, b long",
    )
    got = {
        r["doc_id"]: r["keep_id"] for r in dedup_components(pairs).collect()
    }
    assert got == {3: 3, 4: 3, 9: 3, 12: 3, 20: 20, 21: 20, 30: 20}


def test_corpus_dedup_retention(spark):
    """Retained corpus = all docs minus non-keep members of each
    component; every component's keep_id survives and never-paired
    docs are untouched."""
    from vcfdbr_spark.entry_queries import q_corpus_dedup
    from vcfdbr_spark.operators.dedup import dedup_components

    docs = _docs(spark).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text"))

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        kept = {r["doc_id"] for r in q_corpus_dedup(spark, d).collect()}
    comps = {
        r["doc_id"]: r["keep_id"]
        for r in dedup_components(minhash_dedup_pairs(docs)).collect()
    }
    dropped = {d_ for d_, k in comps.items() if d_ != k}
    assert kept == {1, 2, 3, 4, 5} - dropped
    assert set(comps.values()) <= kept  # every keep_id retained
    assert {4, 5} <= kept  # never-paired docs untouched


def test_dedup_keep_best_by_score(spark):
    """Component {3,4,9} keeps 9 (longest), not min-id 3; ties fall
    back to the minimum id (component {20,21})."""
    from vcfdbr_spark.operators.dedup import dedup_keep_best

    pairs = spark.createDataFrame(
        [(3, 4), (4, 9), (20, 21)], "a long, b long"
    )
    docs = spark.createDataFrame(
        [(3, 10), (4, 12), (9, 99), (20, 7), (21, 7)],
        "doc_id long, n_chars long",
    )
    got = {
        r["doc_id"]: r["keep_id"]
        for r in dedup_keep_best(pairs, docs).collect()
    }
    assert got == {3: 9, 4: 9, 9: 9, 20: 20, 21: 20}


def test_incremental_dedup_probes_index(spark):
    """A new exact-dup of an indexed doc is caught by probing the
    stored band index; new-vs-new dups are caught too; pairs come out
    in canonical a<b order."""
    from vcfdbr_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_band_buckets,
    )

    old = _docs(spark)  # ids 1-5
    index = minhash_band_buckets(minhash_signatures(old))
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog"),  # dup of 1,2
            (12, "unrelated brand new content entirely here now"),
            (13, "unrelated brand new content entirely here now"),  # dup of 12
        ],
        "doc_id long, text string",
    )
    got = {
        (r["a"], r["b"])
        for r in incremental_dedup_pairs(new, index).collect()
    }
    assert (1, 11) in got and (2, 11) in got  # cross: new vs indexed
    assert (12, 13) in got  # new vs new
    assert all(a < b for a, b in got)
    assert not any(a in (3, 4, 5) and b in (3, 4, 5) for a, b in got)


def test_incremental_equals_full_batch_restricted(spark):
    """Invariant: incremental pairs (new batch vs old index, plus
    new-new) == the full-corpus LSH pairs restricted to pairs touching
    at least one new doc.  Pins that the index probe loses nothing vs
    a from-scratch run."""
    from vcfdbr_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_band_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    inc = {
        (r["a"], r["b"])
        for r in incremental_dedup_pairs(
            new, minhash_band_buckets(minhash_signatures(old))
        ).collect()
    }
    full = {
        (r["a"], r["b"])
        for r in minhash_dedup_pairs(docs).collect()
        if r["a"] % 5 == 4 or r["b"] % 5 == 4
    }
    assert inc == full


def test_incremental_embedding_equals_batch_restricted(spark):
    """The embedding analog of the invariant above: incremental
    semantic-dedup pairs (new batch probing the corpus's sign-band
    index, plus new-new) == the batch ``embedding_dup_pairs`` run
    over the union at the SAME pinned (bits, n_bands), restricted to
    pairs touching at least one new vector.  Pins both that the
    probe loses nothing and that parameter pinning (bits from the
    CORPUS count, not the union or the batch) is the compatible
    contract."""
    from vcfdbr_spark.entry_queries import _NEARDUP_ID_BASE, _neardup_embeddings
    from vcfdbr_spark.operators.similarity import (
        embedding_band_index,
        embedding_dup_pairs,
        incremental_embedding_dup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    corpus = spark.read.parquet(f"{sf}/embeddings.parquet")
    new = _neardup_embeddings(spark, sf).filter(
        F.col("vec_id") >= _NEARDUP_ID_BASE
    )
    stats: dict = {}
    idx = embedding_band_index(corpus, 0.95, stats=stats)
    inc = {
        (r["a"], r["b"])
        for r in incremental_embedding_dup_pairs(
            new, idx, corpus, stats["band_bits"], stats["band_count"],
            materialize=False,
        ).collect()
    }
    union = corpus.unionByName(new.select(*corpus.columns))
    batch = {
        (r["a"], r["b"])
        for r in embedding_dup_pairs(
            union,
            threshold=0.95,
            n_bands=stats["band_count"],
            bits_per_band=stats["band_bits"],
            wrapped=True,
            materialize=False,
        ).collect()
        if r["a"] >= _NEARDUP_ID_BASE or r["b"] >= _NEARDUP_ID_BASE
    }
    assert inc == batch and len(inc) > 0


def test_embedding_band_index_sidecar_roundtrip_and_guards(spark, tmp_path):
    """write/read_embedding_band_index must round-trip the pinned
    band parameters and REFUSE a layout of unknown vintage — probing
    with re-derived parameters against an old index silently returns
    no pairs, the failure mode the sidecar exists to prevent."""
    import pytest as _pytest

    from vcfdbr_spark.operators.dedup import read_band_index
    from vcfdbr_spark.operators.similarity import (
        embedding_band_index,
        read_embedding_band_index,
        write_embedding_band_index,
    )

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    stats: dict = {}
    idx = embedding_band_index(corpus, 0.95, stats=stats)
    path = str(tmp_path / "emb_idx")
    write_embedding_band_index(
        idx, path, stats["band_bits"], stats["band_count"]
    )
    frame, bits, n_bands = read_embedding_band_index(spark, path)
    assert (bits, n_bands) == (stats["band_bits"], stats["band_count"])
    assert "pfx" in frame.columns  # prunable layout preserved
    assert frame.count() == idx.count()
    # a plain write_band_index layout (no _band_params) is refused
    bare = str(tmp_path / "bare_idx")
    from vcfdbr_spark.operators.dedup import write_band_index

    write_band_index(idx, bare)
    read_band_index(spark, bare)  # the raw reader accepts it...
    with _pytest.raises(ValueError, match="_band_params"):
        read_embedding_band_index(spark, bare)  # ...the typed one doesn't


def test_cap_per_group_partition_invariant(spark):
    """The two-phase cap returns the same rows as the naive global
    window on any input partitioning (the local pre-cap may discard
    different doomed rows, never a winner)."""
    from vcfdbr_spark.operators.sampling import cap_per_group

    rows = [(i, "en" if i % 4 else "fr") for i in range(200)]
    base = spark.createDataFrame(rows, "doc_id long, lang string")
    want = None
    for parts in (1, 7, 32):
        got = sorted(
            (r["doc_id"], r["lang"], r["rk"])
            for r in cap_per_group(
                base.repartition(parts), "lang", 10
            ).collect()
        )
        assert len(got) == 20  # 10 per lang
        if want is None:
            want = got
        assert got == want
    assert all(1 <= rk <= 10 for _, _, rk in want)


def _kmv_py(texts, k):
    """Python replay of kmv_bottom_k: bottom-k distinct 60-bit md5s."""
    import hashlib

    hs = sorted(
        {int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in texts}
    )
    return hs[:k]


def test_kmv_bottom_k_matches_python_and_prefilter_is_invisible(spark):
    """The sketch is the bottom-k distinct hash set on any path:
    naive, prefiltered (engaged: n̂ > oversample·k), and prefiltered
    with a forced fallback (oversample so large the threshold math
    still keeps everything — degenerate but exercises the branch)."""
    from vcfdbr_spark.operators.sketch import kmv_bottom_k

    texts = [f"doc {i % 97}" for i in range(400)]  # dups: 97 distinct
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = _kmv_py(texts, 16)
    naive = [r["h"] for r in kmv_bottom_k(df, "text", 16).collect()]
    assert naive == want
    pre = [
        r["h"]
        for r in kmv_bottom_k(
            df.repartition(7), "text", 16, prefilter=True, oversample=2
        ).collect()
    ]
    assert pre == want
    # fewer distinct values than k: the sketch IS the distinct set
    small = [r["h"] for r in kmv_bottom_k(df, "text", 200).collect()]
    assert small == _kmv_py(texts, 200)
    assert len(small) == 97


def test_kmv_bottom_k_ignores_nulls(spark):
    """A NULL value hashes to NULL and Spark's ascending sort puts
    NULLs FIRST — unfiltered it would occupy the top sketch slot and
    bias the estimator while the DuckDB oracle (NULLS LAST) drops it.
    The sketch must match countDistinct's NULL-ignoring semantics:
    identical with and without NULL rows, and never containing NULL."""
    from vcfdbr_spark.operators.sketch import kmv_bottom_k

    texts = [f"doc {i}" for i in range(60)]
    clean = spark.createDataFrame([(t,) for t in texts], "text string")
    dirty = spark.createDataFrame(
        [(t,) for t in texts] + [(None,)] * 5, "text string"
    )
    want = [r["h"] for r in kmv_bottom_k(clean, "text", 16).collect()]
    assert want == _kmv_py(texts, 16)
    for pf in (False, True):
        got = [
            r["h"]
            for r in kmv_bottom_k(
                dirty, "text", 16, prefilter=pf, oversample=2
            ).collect()
        ]
        assert got == want
        assert None not in got


def test_kmv_overlap_identical_disjoint_and_estimator(spark):
    """Identical corpora → jaccard exactly 1.0; disjoint → 0.0; a
    partial overlap reproduces the python replay of the estimator
    (deterministic bottom-k, so the replay is exact, not approximate)."""
    import math

    from vcfdbr_spark.operators.sketch import HASH_SPACE, kmv_overlap

    a_texts = [f"a {i}" for i in range(120)]
    b_texts = a_texts[:40] + [f"b {i}" for i in range(80)]
    df_a = spark.createDataFrame([(t,) for t in a_texts], "text string")
    df_b = spark.createDataFrame([(t,) for t in b_texts], "text string")

    same = kmv_overlap(df_a, df_a, "text", k=32).first()
    assert same["kmv_jaccard"] == 1.0
    disj = kmv_overlap(
        df_a,
        spark.createDataFrame([("z zzz",)], "text string"),
        "text",
        k=32,
    ).first()
    assert disj["kmv_jaccard"] == 0.0

    k = 32
    got = kmv_overlap(df_a, df_b, "text", k=k).first()
    ka, kb = set(_kmv_py(a_texts, k)), set(_kmv_py(b_texts, k))
    merged = sorted(ka | kb)[:k]
    n_both = sum(1 for h in merged if h in ka and h in kb)
    want_j = round(n_both / len(merged), 6)
    assert got["merged_k"] == k
    assert got["kmv_jaccard"] == want_j
    # mirror the engine's IEEE-double nesting exactly (the numerator
    # exceeds 2^53, so integer // would drift from the double path)
    want_union = math.floor(float((k - 1) * HASH_SPACE) / max(merged))
    assert got["kmv_union"] == want_union
    want_inter = math.floor(want_j * want_union)
    assert got["kmv_intersection"] == want_inter
    card_a = math.floor(float((k - 1) * HASH_SPACE) / max(sorted(ka)[:k]))
    card_b = math.floor(float((k - 1) * HASH_SPACE) / max(sorted(kb)[:k]))
    assert got["kmv_card_a"] == card_a
    assert got["kmv_card_b"] == card_b
    assert got["containment_a"] == round(want_inter / card_a, 6)
    assert got["containment_b"] == round(want_inter / card_b, 6)
    # sanity vs ground truth: A∩B = 40 of |A|=120, |B|=120
    assert abs(got["containment_a"] - 40 / 120) < 0.25


def test_quality_prune_partition_invariant(spark):
    """Two-phase per-group top-fraction prune returns the same rows
    as the naive global window on any input partitioning, and the
    integer-rational keep count is exact: 150 'en' rows at 1/4 keep
    ceil(150/4)=38; 50 'fr' keep ceil(50/4)=13."""
    from vcfdbr_spark.operators.sampling import quality_prune_per_group

    rows = [(i, "en" if i % 4 else "fr", (i * 37) % 211) for i in range(200)]
    base = spark.createDataFrame(rows, "doc_id long, lang string, score long")
    want = None
    for parts in (1, 7, 32):
        got = sorted(
            (r["doc_id"], r["lang"], r["score"], r["keep_k"], r["rk"])
            for r in quality_prune_per_group(
                base.repartition(parts), "lang", "score", 1, 4
            ).collect()
        )
        assert len(got) == 38 + 13
        if want is None:
            want = got
        assert got == want
    by_lang = {"en": [], "fr": []}
    for _, lang, score, keep_k, rk in want:
        by_lang[lang].append((rk, score))
        assert keep_k == (38 if lang == "en" else 13)
    for scores in by_lang.values():
        ordered = sorted(scores)
        assert [s for _, s in ordered] == sorted(
            (s for _, s in scores), reverse=True
        )


def test_quality_prune_edges(spark):
    """Fraction 1/1 is the identity (plus ranks), a one-row group
    keeps its row (ceil of a positive fraction is >= 1), and invalid
    fractions raise."""
    import pytest as _pytest

    from vcfdbr_spark.operators.sampling import quality_prune_per_group

    rows = [(1, "en", 10), (2, "en", 20), (3, "fr", 5)]
    base = spark.createDataFrame(rows, "doc_id long, lang string, score long")
    full = quality_prune_per_group(base, "lang", "score", 1, 1)
    assert full.count() == 3
    tiny = quality_prune_per_group(base, "lang", "score", 1, 1000)
    got = {(r["doc_id"], r["keep_k"]) for r in tiny.collect()}
    assert got == {(2, 1), (3, 1)}  # best 'en' by score, the lone 'fr'
    for num, den in ((0, 4), (5, 4), (1, 0), (-1, 4)):
        with _pytest.raises(ValueError, match="keep fraction"):
            quality_prune_per_group(base, "lang", "score", num, den)
    # NULL group is its own group (null-safe count attach), not
    # silently dropped by the join
    with_null = spark.createDataFrame(
        [(1, None, 9), (2, None, 7), (3, "en", 1)],
        "doc_id long, lang string, score long",
    )
    got_null = {
        (r["doc_id"], r["keep_k"])
        for r in quality_prune_per_group(
            with_null, "lang", "score", 1, 2
        ).collect()
    }
    assert got_null == {(1, 1), (3, 1)}  # top half of {1,2}, lone 'en'


def test_quality_prune_score_bucketed_rank_is_equivalent(spark):
    """The ids.py-style score-bucketed rank path (no single-task
    whole-domain sort) returns EXACTLY the plain-window result — any
    partitioning, heavy score ties, ties straddling bucket
    boundaries, NULL groups, coarse and fine bucket widths."""
    from vcfdbr_spark.operators.sampling import quality_prune_per_group

    rows = [
        (i, None if i % 11 == 0 else ("en" if i % 3 else "fr"), (i * 7) % 40)
        for i in range(300)
    ]
    base = spark.createDataFrame(rows, "doc_id long, lang string, score long")
    want = sorted(
        (r["doc_id"], r["lang"], r["keep_k"], r["rk"])
        for r in quality_prune_per_group(
            base, "lang", "score", 2, 3
        ).collect()
    )
    for width in (1, 8, 64):
        for parts in (1, 13):
            got = sorted(
                (r["doc_id"], r["lang"], r["keep_k"], r["rk"])
                for r in quality_prune_per_group(
                    base.repartition(parts), "lang", "score", 2, 3,
                    score_bucket=F.floor(F.col("score") / width),
                ).collect()
            )
            assert got == want, (width, parts)


def test_dedup_edge_cases_empty_inputs(spark):
    """Empty candidate graphs and empty indexes degrade cleanly: no
    components from no pairs, cap larger than every group is the
    identity (plus ranks), an empty index yields new-new pairs only."""
    from vcfdbr_spark.operators.dedup import (
        dedup_components,
        incremental_dedup_pairs,
    )
    from vcfdbr_spark.operators.sampling import cap_per_group

    no_pairs = spark.createDataFrame([], "a long, b long")
    assert dedup_components(no_pairs).count() == 0

    docs = _docs(spark).withColumn("lang", F.lit("en"))
    capped = cap_per_group(docs.select("doc_id", "lang"), "lang", 99)
    assert capped.count() == 5  # cap above group size keeps all

    empty_index = spark.createDataFrame(
        [], "doc_id long, band int, bucket string"
    )
    got = {
        (r["a"], r["b"])
        for r in incremental_dedup_pairs(docs, empty_index).collect()
    }
    # exactly the in-batch candidates — no phantom cross pairs
    in_batch = {
        (r["a"], r["b"]) for r in minhash_dedup_pairs(docs).collect()
    }
    assert got == in_batch and (1, 2) in got


def test_band_buckets_shape(spark):
    sigs = minhash_signatures(_docs(spark), num_hashes=8)
    b = minhash_band_buckets(sigs)
    rows = b.collect()
    assert len(rows) == 5 * 4  # 8 hashes / 2 rows-per-band = 4 bands per doc
    assert lsh_candidate_pairs(b).filter(F.col("a") >= F.col("b")).count() == 0


def test_simhash_properties(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert out[1] == out[2]  # identical text → identical fingerprint
    assert out[1] != out[4]
    # near-dup differs in few bits
    ham = bin(out[1] ^ out[3]).count("1")
    assert ham < 20


def test_text_functions(spark):
    df = _docs(spark)
    stats = df.select(
        "doc_id", *[v.alias(k) for k, v in quality_stats(F.col("text")).items()]
    )
    r = {x["doc_id"]: x for x in stats.collect()}
    assert r[1]["n_tokens"] == 9
    assert r[1]["n_types"] == 8  # 'the' twice
    assert r[1]["n_stopwords"] == 2  # 'the' twice; no other list words
    tk = df.select(token_count(F.col("text")).alias("n")).first()["n"]
    assert tk == 9
    lg = {x["doc_id"]: x["g"] for x in df.select("doc_id", lang_guess(F.col("text")).alias("g")).collect()}
    assert lg[1] == "en"
    assert lg[5] == "de"


def test_brute_force_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 1)
    out = brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r["cand_id"] for r in out] == [2, 3]
    assert out[0]["score"] > 0.99


def test_lsh_topk_bucket_restriction(spark):
    rows = [
        (1, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (2, [0.9, 0.9, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # different bucket
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 1)
    out = lsh_topk(emb, q, k=5).collect()
    assert {r["cand_id"] for r in out} == {2}  # 3 excluded by sign bucket


def test_multimodal_decode_matches_duckdb_oracle(spark):
    """The Arrow-UDF decode path vs its SQL oracle — pins the one
    query that used to be rows-only in the driver gate."""
    import duckdb

    from vcfdbr_spark.entry_queries import ORACLE, QUERIES

    sf = "/root/testdata/sf0.001"
    got = (
        QUERIES["multimodal_decode"](spark, sf)
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = (
        con.execute(ORACLE["multimodal_decode"])
        .df()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("media_id", "width", "height", "n_bytes"):
        assert got[c].astype("int64").tolist() == want[c].astype("int64").tolist(), c
    for c in ("kind", "features_csv"):
        assert got[c].tolist() == want[c].tolist(), c


def test_band_index_pruned_probe_equivalence(spark, tmp_path):
    """A pfx-partitioned band index (write_band_index layout) probes to
    the SAME pairs as the flat in-memory index, and the probe's scan
    carries PartitionFilters on pfx — partition pruning, not a full
    index scan."""
    from vcfdbr_spark.operators.dedup import (
        band_probe_pairs,
        incremental_dedup_pairs,
        minhash_band_buckets,
        read_band_index,
        write_band_index,
    )
    from vcfdbr_spark.plans.layout import formatted_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    flat_index = minhash_band_buckets(minhash_signatures(old))
    write_band_index(flat_index, str(tmp_path / "idx"), n_pfx=16)
    stored = read_band_index(spark, str(tmp_path / "idx"))
    assert "pfx" in stored.columns

    flat = {
        (r["a"], r["b"])
        for r in incremental_dedup_pairs(new, flat_index).collect()
    }
    pruned = {
        (r["a"], r["b"])
        for r in incremental_dedup_pairs(new, stored, n_pfx=16).collect()
    }
    assert pruned == flat and flat  # identical pairs, non-empty

    # plan audit: the index scan is partition-pruned on pfx, the
    # hot-bucket cap runs as a BROADCAST anti-join (the index is never
    # shuffled for the cap), and no sort-merge join appears anywhere
    # on the probe path — the probe stays map-side
    new_bands = minhash_band_buckets(minhash_signatures(new)).persist()
    try:
        probe = band_probe_pairs(new_bands, stored, n_pfx=16)
        plan = formatted_plan(probe)
        assert "PartitionFilters" in plan
        pf = [
            seg.split("]")[0]
            for seg in plan.split("PartitionFilters: [")[1:]
        ]
        assert any("pfx" in seg for seg in pf), pf
        exec_plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti, BuildRight" in exec_plan  # broadcast cap
        assert "SortMergeJoin" not in exec_plan
    finally:
        new_bands.unpersist()


def test_band_index_pfx_mismatch_is_detected(spark, tmp_path):
    """Probing with a different n_pfx than the index was written with
    must not silently drop pairs when the moduli agree on the probe's
    buckets; with a WRONG modulus the pfx set simply selects different
    partitions — pin the contract that matching n_pfx reproduces the
    flat result exactly (the guard is the equivalence test above; this
    pins determinism of the pfx function itself)."""
    from pyspark.sql import Row

    from vcfdbr_spark.operators.dedup import band_pfx

    df = spark.createDataFrame(
        [Row(bucket="abc"), Row(bucket="abc"), Row(bucket="xyz")]
    )
    got = df.select(
        "bucket", band_pfx(F.col("bucket"), 16).alias("p")
    ).collect()
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["bucket"], set()).add(r["p"])
    assert all(len(v) == 1 for v in by_bucket.values())
    assert all(0 <= next(iter(v)) < 16 for v in by_bucket.values())


def test_dedup_components_local_path_matches_distributed(spark):
    """r14 optimization: below ``local_edges_max`` edges the labeling
    is solved by driver-side union-find — it must produce EXACTLY the
    distributed contraction loop's output (one row per paired vertex,
    keep_id = component min) on a mixed graph (chain + star + clique
    + duplicate/reversed/self pairs), for long AND string ids."""
    from vcfdbr_spark.operators.dedup import dedup_components

    edges = (
        [(i, i + 1) for i in range(10, 20)]  # chain
        + [(50, j) for j in (51, 52, 53)]  # star
        + [(70, 71), (71, 72), (70, 72)]  # clique
        + [(71, 70), (5, 5), (51, 50)]  # reversed / self / dup
    )
    for ids in (
        lambda v: v,
        lambda v: f"d{v:04d}",
    ):
        pairs = spark.createDataFrame(
            [(ids(a), ids(b)) for a, b in edges],
            (
                "a long, b long"
                if ids(0) == 0
                else "a string, b string"
            ),
        )
        stats_l: dict = {}
        local = dedup_components(
            pairs, materialize=False, stats=stats_l
        )
        stats_d: dict = {}
        dist = dedup_components(
            pairs, materialize=False, stats=stats_d, local_edges_max=0
        )
        assert stats_l.get("local_edges") is not None
        assert "local_edges" not in stats_d and stats_d["rounds"] > 0
        got_l = {(r[0], r[1]) for r in local.collect()}
        got_d = {(r[0], r[1]) for r in dist.collect()}
        assert got_l == got_d, (got_l, got_d)
        # self-paired-only doc 5 appears in neither
        assert ids(5) not in {a for a, _ in got_l}
        assert local.schema["doc_id"].dataType == dist.schema["doc_id"].dataType


def test_dedup_components_chain_logarithmic_rounds(spark):
    """Label-edge acceleration: a 40-link chain (diameter 40) must
    converge well under 40 neighbor-min rounds (plain propagation
    moves the min one hop per round and would exhaust max_iter=20) —
    and still produce the exact union-find answer."""
    from vcfdbr_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "a long, b long"
    )
    stats: dict = {}
    out = dedup_components(chain, stats=stats, local_edges_max=0)
    got = {r["doc_id"]: r["keep_id"] for r in out.collect()}
    out.unpersist()
    assert got == {i: 100 for i in range(100, 141)}
    assert stats["rounds"] <= 10, stats  # ~log2(40)+slack, not 40


def test_cli_dedup_releases_all_caches(spark, tmp_path):
    """The dedup subcommand leaves ZERO net persisted frames: every
    loop intermediate and both result frames are unpersisted before
    it returns (repeated invocations in one session must not
    accumulate executor storage).  Compared as an ID-SET DELTA, not
    equality: earlier tests leave ContextCleaner-managed
    localCheckpoint blocks that vanish asynchronously on GC, so old
    ids may disappear mid-test (the equality form flaked on exactly
    that race); only NEWLY-APPEARING ids are ours to assert."""
    from vcfdbr_spark.cli import main

    docs = _docs(spark).withColumn("n_chars", F.length("text"))
    docs.write.parquet(str(tmp_path / "docs.parquet"))

    def _cached_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = _cached_ids()
    for keep in ("min-id", "best"):
        rc = main(
            [
                "dedup",
                "--docs", str(tmp_path / "docs.parquet"),
                "--out", str(tmp_path / f"out_{keep}"),
                "--keep", keep,
            ]
        )
        assert rc == 0
    assert _cached_ids() - before == set()


def _hot_corpus(spark, n_hot=1000):
    """A degenerate corpus: one boilerplate cluster of ``n_hot``
    byte-identical docs (every band bucket population = n_hot) plus a
    small legitimate near-dup pair that must survive the cap."""
    rows = [(i, "click here to accept cookies and continue") for i in range(n_hot)]
    rows += [
        (9001, "the quick brown fox jumps over the lazy dog"),
        (9002, "the quick brown fox jumps over the lazy dog"),
        (9003, "totally unrelated content about spark plans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_bucket_cap_bounds_minhash_pairs(spark):
    """VERDICT r6 #1: a 1,000-member identical-text bucket must NOT
    emit its ~500k quadratic candidate pairs.  With the default cap
    the hot cluster is dropped from candidate generation (it is one
    dedup cluster, already caught by exact_dedup), small buckets are
    untouched, and the drop is surfaced via stats."""
    docs = _hot_corpus(spark)
    stats: dict = {}
    pairs = minhash_dedup_pairs(docs, stats=stats).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (9001, 9002) in got  # legitimate near-dup pair survives
    assert not any(a < 1000 and b < 1000 for a, b in got)  # hot cluster silent
    assert len(got) < 10  # bounded, nowhere near C(1000,2)
    # 8 hashes / 2 rows-per-band = 4 bands -> 4 hot buckets, 1000 rows each
    assert stats["hot_buckets_dropped"] == 4
    assert stats["hot_bucket_rows_dropped"] == 4000


def test_hot_bucket_cap_disabled_and_small_cap(spark):
    """cap=None restores uncapped semantics; a small cap on a small
    cluster drops exactly the over-cap buckets."""
    docs = spark.createDataFrame(
        [(i, "same text repeated here") for i in range(20)]
        + [(100, "another doc entirely"), (101, "another doc entirely")],
        "doc_id long, text string",
    )
    bands = minhash_band_buckets(minhash_signatures(docs))
    uncapped = lsh_candidate_pairs(bands, max_bucket_size=None).count()
    assert uncapped == 190 + 1  # C(20,2) cluster pairs + the (100,101) pair
    capped = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(bands, max_bucket_size=10).collect()
    }
    assert capped == {(100, 101)}


def test_hot_bucket_cap_simhash(spark):
    """Same contract on the simhash path: identical-doc cluster hashes
    to one fingerprint -> one hot bucket per band -> dropped; distinct
    near-dup pairs survive."""
    from vcfdbr_spark.operators.dedup import simhash_dup_pairs

    docs = _hot_corpus(spark, n_hot=600)
    stats: dict = {}
    got = {
        (r["a"], r["b"])
        for r in simhash_dup_pairs(docs, stats=stats).collect()
    }
    assert (9001, 9002) in got
    assert not any(a < 600 and b < 600 for a, b in got)
    assert stats["hot_buckets_dropped"] >= 4
    assert stats["hot_bucket_rows_dropped"] >= 2400


def test_hot_bucket_cap_probe_path(spark):
    """band_probe_pairs caps the INDEX side with a broadcast anti-join
    (the scan must stay unshuffled): a hot indexed cluster no longer
    multiplies against every probing batch, normal probes unaffected."""
    from vcfdbr_spark.operators.dedup import band_probe_pairs

    old = _hot_corpus(spark, n_hot=600).filter(F.col("doc_id") != 9002)
    index = minhash_band_buckets(minhash_signatures(old))
    new = spark.createDataFrame(
        [
            (8000, "click here to accept cookies and continue"),  # hits hot bucket
            (9002, "the quick brown fox jumps over the lazy dog"),  # hits 9001
        ],
        "doc_id long, text string",
    )
    bands = minhash_band_buckets(minhash_signatures(new)).persist()
    stats: dict = {}
    got = {
        (r["a"], r["b"])
        for r in band_probe_pairs(bands, index, stats=stats).collect()
    }
    bands.unpersist()
    assert (9001, 9002) in got
    assert not any(a < 600 or b < 600 for a, b in got)
    assert stats["hot_buckets_dropped"] >= 4


def test_band_index_n_pfx_sidecar_guard(spark, tmp_path):
    """ADVICE r6: the index records its modulus in an _n_pfx sidecar;
    reading for a probe with a different n_pfx, or appending under a
    different one, is a hard error instead of silently pruning the
    wrong pfx= partitions."""
    import pytest

    from vcfdbr_spark.operators.dedup import (
        index_n_pfx,
        read_band_index,
        write_band_index,
    )

    bands = minhash_band_buckets(minhash_signatures(_docs(spark)))
    idx = str(tmp_path / "idx")
    write_band_index(bands, idx, n_pfx=16)
    assert index_n_pfx(spark, idx) == 16
    # matching (or unspecified) modulus reads fine
    assert read_band_index(spark, idx, n_pfx=16).count() > 0
    assert read_band_index(spark, idx).count() > 0
    with pytest.raises(ValueError, match="n_pfx=16"):
        read_band_index(spark, idx, n_pfx=64)
    with pytest.raises(ValueError, match="mix partition moduli"):
        write_band_index(bands, idx, n_pfx=32, mode="append")
    # append under the recorded modulus is allowed
    write_band_index(bands, idx, n_pfx=16, mode="append")
    # overwrite may re-bucket: sidecar follows
    write_band_index(bands, idx, n_pfx=8, mode="overwrite")
    assert index_n_pfx(spark, idx) == 8
    # ADVICE r7: overwrite DELETES the dir (sidecar included) — a
    # same-modulus rebuild must rewrite the sidecar, or the guard is
    # silently stripped and a later default-n_pfx probe prunes wrong
    write_band_index(bands, idx, n_pfx=8, mode="overwrite")
    assert index_n_pfx(spark, idx) == 8


def test_list_subdirs_numeric_ordering(spark, tmp_path):
    """ADVICE r6: batch=10 must sort AFTER batch=2 (numeric =N
    suffix), not before it (string sort)."""
    from vcfdbr_spark import fs as _fs

    root = str(tmp_path / "idx")
    for n in (1, 2, 10, 12):
        (tmp_path / "idx" / f"batch={n}").mkdir(parents=True)
    got = [p.rsplit("/", 1)[-1] for p in _fs.list_subdirs(spark, root, "batch=")]
    assert got == ["batch=1", "batch=2", "batch=10", "batch=12"]


def test_hot_bucket_cap_embedding_dup_pairs(spark):
    """Embedding twin of the LSH hot-bucket guard: a degenerate
    cluster of identical vectors (failed-encoder / default-init rows)
    shares every sign band; with the cap those rows are dropped from
    candidate generation, while distinct near-dup vector pairs
    survive.  Default stays None (no other operator reports exact
    embedding dups, so dropping is strictly opt-in)."""
    from vcfdbr_spark.operators.similarity import embedding_dup_pairs

    base = [0.5 if i % 2 else -0.5 for i in range(16)]
    rows = [(i, [0.1] * 16) for i in range(40)]  # degenerate cluster
    rows += [(901, base), (902, [x * 1.01 for x in base])]  # real near-dups
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = {
        (r["a"], r["b"])
        for r in embedding_dup_pairs(corpus, threshold=0.99).collect()
    }
    assert (901, 902) in uncapped
    assert sum(1 for a, b in uncapped if a < 40 and b < 40) == 40 * 39 // 2

    stats: dict = {}
    capped = {
        (r["a"], r["b"])
        for r in embedding_dup_pairs(
            corpus, threshold=0.99, max_bucket_size=10, stats=stats
        ).collect()
    }
    assert capped == {(901, 902)}
    assert stats["hot_buckets_dropped"] == 4  # the cluster's 4 bands


def test_tfidf_keywords(spark):
    """tf-idf keywords: corpus-common words score low, doc-unique
    words score high; rank is deterministic (score desc, word asc)."""
    from vcfdbr_spark.functions.text import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark shared"),
            (2, "duck duck shared"),
            (3, "goose shared"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {d: rows[0] for d, rows in by_doc.items()}
    assert top1[1]["word"] == "spark" and top1[1]["tf"] == 3
    assert top1[2]["word"] == "duck"
    assert top1[3]["word"] == "goose"
    # df=1 for unique words, score = tf * 3 / 1
    assert top1[1]["score"] == 9.0 and top1[3]["score"] == 3.0
    # 'shared' appears in all docs: df=3 -> score 1.0, ranked below
    shared = [r for r in out if r["word"] == "shared"]
    assert shared and all(r["score"] == 1.0 and r["rank"] == 2 for r in shared)


def test_semantic_dedup_keeps_component_minimum(spark):
    """semantic_dedup composition (entry_queries.q_semantic_dedup
    shape): embedding near-dup pairs -> components -> keep-list
    anti-join.  A planted chain of near-identical vectors collapses
    to its min id; distinct vectors all survive."""
    from vcfdbr_spark.operators.dedup import dedup_components
    from vcfdbr_spark.operators.similarity import embedding_dup_pairs

    base = [0.5 if i % 2 else -0.5 for i in range(16)]
    # chain 10~11~12 (pairwise near-identical), plus isolated vectors
    rows = [
        (10, base),
        (11, [x * 1.001 for x in base]),
        (12, [x * 1.002 for x in base]),
        (20, [float(i) / 16 for i in range(16)]),
        (21, [1.0 if i == 0 else 0.0 for i in range(16)]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_dup_pairs(emb, threshold=0.999).select("a", "b")
    drops = (
        dedup_components(pairs, materialize=False)
        .filter("doc_id != keep_id")
        .selectExpr("doc_id AS vec_id")
    )
    kept = {
        r["vec_id"]
        for r in emb.join(drops, "vec_id", "left_anti").collect()
    }
    assert kept == {10, 20, 21}


def test_scrub_repeated_passages_keep_first(spark):
    """Removal APPLY step: an identical doc pair keeps exactly one
    copy (the min id); unique docs are untouched byte-for-byte."""
    from vcfdbr_spark.operators.dedup import scrub_repeated_passages

    boiler = " ".join(f"b{i}" for i in range(12))
    unique = " ".join(f"u{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, unique)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in scrub_repeated_passages(docs, window=5, stride=2).collect()
    }
    assert len(out) == 3
    # min-id holder keeps the span, twin is fully scrubbed
    assert out[1]["text"] == boiler and out[1]["n_removed"] == 0
    assert out[2]["text"] == "" and out[2]["n_removed"] == 12
    # unique doc untouched
    assert out[3]["text"] == unique and out[3]["n_removed"] == 0


def test_dedup_components_raises_instead_of_truncating(spark):
    """A max_iter too small for the graph must RAISE, never return a
    partially-propagated labeling — truncated components are wrong
    dedup data (docs kept that should collapse), and round 9 shipped
    exactly that failure silently at sf1 (488 wrong keep_ids on a
    558-member component at the 20-round cap)."""
    import pytest

    from vcfdbr_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="uncontracted"):
        dedup_components(chain, max_iter=2, local_edges_max=0)
    # and the same graph converges fine with the default budget
    out = dedup_components(chain, materialize=False)
    assert {r["keep_id"] for r in out.collect()} == {100}


def test_split_corpus_deterministic_and_stable_under_growth(spark):
    """Dataset split invariants: total coverage (every doc gets
    exactly one split), deterministic across re-runs and
    repartitioning, proportions near the requested fractions, and —
    the leakage-safety property — growing the corpus never moves an
    existing doc's assignment."""
    from vcfdbr_spark.operators.sampling import split_corpus, split_thresholds

    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r["split"] for r in split_corpus(docs).collect()}
    assert len(got) == 2000
    frac = {s: sum(1 for v in got.values() if v == s) / 2000 for s in set(got.values())}
    assert abs(frac["train"] - 0.9) < 0.03
    assert abs(frac.get("val", 0) - 0.05) < 0.02
    assert abs(frac.get("test", 0) - 0.05) < 0.02
    # repartitioning must not change assignments
    again = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs.repartition(7)).collect()
    }
    assert again == got
    # growth stability: doubling the corpus leaves old docs in place
    grown = {
        r["doc_id"]: r["split"]
        for r in split_corpus(
            spark.range(4000).select(F.col("id").alias("doc_id"))
        ).collect()
    }
    assert all(grown[k] == v for k, v in got.items())
    # bad fractions rejected
    import pytest

    with pytest.raises(ValueError):
        split_thresholds((("train", 0.9), ("val", 0.2)))
    # EVERY fraction must be positive, including the remainder split:
    # (.5, .5, 0.0) sums to 1 but would silently yield an empty
    # 'test' split (ADVICE r10)
    with pytest.raises(ValueError):
        split_thresholds((("train", 0.5), ("val", 0.5), ("test", 0.0)))


def test_passage_windows_keep_cols_passthrough(spark):
    """keep_cols columns ride the explode unchanged, once per window."""
    from vcfdbr_spark.operators.dedup import passage_windows

    docs = spark.createDataFrame(
        [(1, "a b c d e f g", "web"), (2, "x y", "books")],
        ["doc_id", "text", "source"],
    )
    rows = passage_windows(
        docs, window=3, stride=2, keep_cols=("source",)
    ).collect()
    assert set(passage_windows(docs, window=3, stride=2).columns) == {
        "doc_id", "w_start", "passage",
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["source"])
    assert by_doc == {1: {"web"}, 2: {"books"}}


def test_source_overlap_matrix_exact_counts(spark):
    """Known 3-source corpus: the matrix's shared counts, totals, and
    containment/jaccard arithmetic are exact, pairs are ordered
    source_a < source_b, and disjoint pairs emit no row."""
    from vcfdbr_spark.operators.dedup import source_overlap_matrix

    p1 = " ".join(f"p{i}" for i in range(4))   # shared by A and B
    p2 = " ".join(f"q{i}" for i in range(4))   # only in A
    p3 = " ".join(f"r{i}" for i in range(4))   # only in B
    p4 = " ".join(f"s{i}" for i in range(4))   # only in C (disjoint)
    docs = spark.createDataFrame(
        [
            (1, p1, "A"), (2, p2, "A"),
            (3, p1, "B"), (4, p3, "B"), (5, p3, "B"),  # dup within B
            (6, p4, "C"),
        ],
        ["doc_id", "text", "source"],
    )
    # window >= doc length -> one passage per doc
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(docs, window=10, stride=5).collect()
    }
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    # A has 2 distinct passages, B has 2 (p3 dup collapses), 1 shared
    assert r["shared_passages"] == 1
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["containment_a"] == 0.5 and r["containment_b"] == 0.5
    assert abs(r["jaccard"] - round(1 / 3, 6)) < 1e-12


def test_source_overlap_matrix_lineage_truncated(spark):
    """The returned frame's plan reads the checkpointed counts, not
    the corpus: the heavy explode+aggregate lineage ran exactly once
    at construction (deriving totals and matrix from separate
    subtrees re-scanned the corpus 3x - measured, ReuseExchange does
    not fire across the differently-pruned subtrees)."""
    from vcfdbr_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "a b c", "A"), (2, "a b c", "B")], ["doc_id", "text", "source"]
    )
    df = source_overlap_matrix(docs, window=5, stride=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan
    # the passage explode (Generate) and the collect_set aggregate
    # live BELOW the checkpoint: the returned plan must not replay them
    assert "Generate" not in plan
    assert "collect_set" not in plan


def test_heavy_ngrams_exact_counts_and_policy(spark):
    """Two-pass heavy hitters: a planted heavy bigram surfaces with
    its EXACT corpus count (sampling chooses which n-grams are
    counted, never the counts), and the candidate cap bounds the
    output."""
    from vcfdbr_spark.functions.text import heavy_ngrams

    # 64 docs all containing "hot pair"; doc i also carries a unique
    # filler bigram so the vocabulary is wide
    rows = [(i, f"hot pair filler{i} tail{i}") for i in range(64)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["ngram"]: r["n"] for r in heavy_ngrams(
        docs, n=2, top_k=3, sample_sixteenths=4, candidate_factor=4
    ).collect()}
    assert len(out) == 3
    assert out["hot pair"] == 64  # exact count over ALL docs


def test_heavy_ngrams_agrees_with_full_groupby_on_shipped_corpora(spark):
    """Policy adequacy on the real test corpora: every n-gram the
    two-pass op returns carries its EXACT exhaustive count, and the
    clearly-heavy head (top 10) matches the exhaustive top 10 at both
    shipped sf tiers.  Full top-50 equality is deliberately NOT
    asserted: at 500-5000 docs the rank-50 boundary is a dense band
    of near-tied counts, and which near-tie clears the sampled
    candidate cut is sampling noise at the boundary — the documented
    approximation.  True heavy hitters sit far above that band."""
    from vcfdbr_spark.functions.text import heavy_ngrams, word_shingles

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fast = [(r["ngram"], r["n"]) for r in heavy_ngrams(docs).collect()]
        full = {
            r["ngram"]: r["n"]
            for r in docs.select(
                F.explode(
                    word_shingles(F.col("text"), n=2, max_words=50)
                ).alias("ngram")
            )
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # counts are exact, never sample-scaled estimates
        assert all(full[g] == n for g, n in fast), sf_dir
        # the shipped corpora are near-uniform (max bigram count ~39
        # vs a dense band at ~35 over thousands of bigrams): there
        # are no true heavy hitters, so head recovery THERE is noise
        # by construction.  Plant a real frequency gap over the real
        # corpus and require the heavy hitter surfaces as #1 with its
        # exact count.
        planted = docs.sparkSession.createDataFrame(
            [(10_000_000 + i, "zzqq heavy zzqq heavy zzqq") for i in range(400)],
            "doc_id long, text string",
        )
        got = heavy_ngrams(
            docs.select("doc_id", "text").unionByName(planted)
        ).collect()
        # "zzqq heavy zzqq heavy zzqq" yields two 800-count bigrams,
        # above both tiers' natural maxima (39 at sf0.01, 276 at sf0.1)
        assert [(r["ngram"], r["n"]) for r in got[:2]] == [
            ("heavy zzqq", 800),
            ("zzqq heavy", 800),
        ], sf_dir


def test_heavy_ngrams_planted_query_recovers_full_gapped_head(spark):
    """The REGISTERED planted-ladder query (q_heavy_ngrams_planted)
    must prove the full head-recovery claim, not just policy parity:
    with every top-k slot occupied by a gapped planted bigram, the
    two-pass top-k equals the exhaustive top-k everywhere
    (n_top_agree == top_k), all planted heads are recovered, and the
    sample pass genuinely pruned (candidates < vocabulary).  The
    driver row hash-checks these numbers vs DuckDB; this test pins the
    semantic inequalities the hashes alone don't express."""
    from vcfdbr_spark.entry_queries import (
        _HN_TOP_K,
        _HNP_HEADS,
        q_heavy_ngrams_planted,
    )

    row = q_heavy_ngrams_planted(spark, "/root/testdata/sf0.01").first()
    assert row["n_top_agree"] == _HN_TOP_K
    assert row["n_planted_in_top"] == _HNP_HEADS == _HN_TOP_K
    assert row["n_candidates"] < row["vocab_size"]


def test_set_mtime_reads_the_time_back(spark, tmp_path, monkeypatch):
    """set_mtime lands on the local FS, and a filesystem that ignores
    setTimes (S3A) raises an error naming it instead of passing."""
    import os
    from types import SimpleNamespace

    import pytest

    from vcfdbr_spark import fs as _fs

    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"x")
    _fs.set_mtime(spark, str(f), 1_000_000.0)
    assert os.path.getmtime(f) == 1_000_000.0

    ignoring = SimpleNamespace(
        setTimes=lambda p, mtime, atime: None,
        getFileStatus=lambda p: SimpleNamespace(getModificationTime=lambda: 5),
        getScheme=lambda: "s3a",
    )
    monkeypatch.setattr(_fs, "_fs", lambda spark, path: (ignoring, path))
    with pytest.raises(OSError, match="s3a:// filesystem ignored setTimes"):
        _fs.set_mtime(spark, "s3a://bucket/part-0.parquet", 1_000_000.0)
