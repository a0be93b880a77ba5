from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vcfdbr_spark.operators.sampling import deterministic_sample, stratified_sample
from vcfdbr_spark.plans.bucketing import write_bucketed
from vcfdbr_spark.plans.layout import formatted_plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables must join without a shuffle: the plan's
    SortMergeJoin reads both scans directly (no Exchange operators)."""
    left = spark.range(0, 10_000).select(
        F.col("id").alias("variant_id"), (F.col("id") % 97).alias("af_bin")
    )
    right = spark.range(0, 10_000).select(
        F.col("id").alias("variant_id"), (F.col("id") % 7).alias("gt")
    )
    spark.sql("DROP TABLE IF EXISTS b_info")
    spark.sql("DROP TABLE IF EXISTS b_geno")
    write_bucketed(left, "b_info", ["variant_id"], 8,
                   sort_cols=["variant_id"], path=str(tmp_path / "b_info"))
    write_bucketed(right, "b_geno", ["variant_id"], 8,
                   sort_cols=["variant_id"], path=str(tmp_path / "b_geno"))
    j = (
        spark.table("b_info")
        .hint("merge")
        .join(spark.table("b_geno"), "variant_id")
    )
    assert j.count() == 10_000
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: no shuffle anywhere
    spark.sql("DROP TABLE IF EXISTS b_info")
    spark.sql("DROP TABLE IF EXISTS b_geno")


def test_ngram_jaccard_no_forced_broadcast(spark, monkeypatch):
    """Round-1 scale-killer regression: the per-doc shingle-set table
    is O(corpus) and must never be force-broadcast.  Broadcast hints
    ARE allowed — but only on frames bounded by the candidate-pair
    count (the post-LSH id list and the semi-join-reduced sets), and
    the corpus sets must still be reduced via semi-join first."""
    import pyspark.sql.functions as Fmod

    from vcfdbr_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )

    broadcasted = []
    orig = Fmod.broadcast

    def spy(df):
        broadcasted.append(df)
        return orig(df)

    monkeypatch.setattr(Fmod, "broadcast", spy)
    # mostly-unique corpus with ONE near-dup pair → the candidate set
    # is a small fraction of the corpus, like post-LSH at scale
    rows = [(i, f"u{i} v{i} w{i} x{i} y{i} z{i}") for i in range(2, 20)]
    rows += [(0, "a b c d e f g h"), (1, "a b c d e f g h")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    candidates = minhash_dedup_pairs(docs)
    n_pairs = candidates.count()
    assert n_pairs >= 1
    broadcasted.clear()  # only audit the jaccard stage's hints
    jac = ngram_jaccard_pairs(docs, candidates)
    optimized = jac._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in optimized  # sets reduced to candidate ids first
    assert jac.count() > 0
    assert broadcasted  # the bounded frames carry the hint
    n_docs = docs.count()
    for df in broadcasted:
        # every hinted frame must be candidate-bounded, not O(corpus)
        assert df.count() <= 2 * n_pairs < n_docs


def test_sign_band_buckets_bound_candidates(spark):
    """Multi-band LSH must bound per-bucket population (wide 16-bit
    buckets) while still colliding true near-dups in ≥1 band —
    round-1's single 8-bit bucket was quadratic per bucket."""
    import hashlib

    from vcfdbr_spark.operators.similarity import (
        embedding_dup_pairs,
        sign_band_buckets,
    )

    def vec(i):
        h = hashlib.md5(f"v{i}".encode()).digest() * 4
        return [float(h[j] - 128) / 128.0 for j in range(64)]

    rows = [(i, vec(i)) for i in range(200)]
    near = list(vec(7))
    near[0] *= 0.5  # same signs everywhere → collides in every band
    rows.append((999, near))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bb = emb.select(
        F.posexplode(sign_band_buckets(F.col("embedding"))).alias(
            "band", "bucket"
        )
    )
    biggest = (
        bb.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert biggest <= 4  # 201 vectors over 2^16 buckets per band

    pairs = {
        (r["a"], r["b"])
        for r in embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert (7, 999) in pairs


def test_canonical_queries_on_skewed_gene_fixture(spark):
    """Reference-scale gene skew (benchmarks/01-filter-benchmark-
    genome.csv: the hottest gene carries 121,630 variants ≈ 10% of
    all impact rows).  Drive the canonical filter_test /
    pull_geno_test / per_gene_counts paths on a fixture with one
    symbol = 10% of rows and pin the skew defenses:

    1. the single-symbol filtered side BROADCASTS, so the hot gene
       can never skew a shuffle (the big side doesn't move);
    2. per_gene_counts partial-aggregates map-side, so the hot
       symbol adds no reducer pressure;
    3. AQE skew-split stays enabled for full-shuffle joins in the
       256 MB-partition regime tests can't reach.
    """
    from vcfdbr_spark.operators.query import (
        filter_test,
        per_gene_counts,
        pull_geno_test,
    )
    from vcfdbr_spark.plans.layout import physical_plan

    n = 60_000
    impact = spark.range(0, n).select(
        F.col("id").alias("variant_id"),
        F.when(F.col("id") % 10 == 0, F.lit("HOTGENE"))
        .otherwise(F.concat(F.lit("G"), (F.col("id") % 200).cast("string")))
        .alias("symbol"),
    )
    info = spark.range(0, n).select(
        F.col("id").alias("variant_id"),
        (F.pmod(F.col("id"), F.lit(100)) / 100.0).alias("af"),
    )
    geno = spark.range(0, n).select(
        F.col("id").alias("variant_id"), F.lit("0/1").alias("gt")
    )

    # hot ids are multiples of 10 → af ∈ {.0,.1,…,.9}; af<0.5 keeps half
    ft = filter_test(impact, info, "HOTGENE", af=0.5)
    ft.collect()
    assert ft.count() == 3_000
    assert "BroadcastHashJoin" in physical_plan(ft)

    pg = pull_geno_test(impact, info, geno, "HOTGENE", af=0.5)
    pg.collect()
    assert pg.count() == 3_000
    assert "BroadcastHashJoin" in physical_plan(pg)

    pgc = per_gene_counts(impact, info, af=0.5)
    counts = {r["symbol"]: r["n_vars"] for r in pgc.collect()}
    assert counts["HOTGENE"] == 3_000
    assert "partial_count" in physical_plan(pgc)

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_sampling_rates_and_determinism(spark):
    df = spark.range(0, 16_000).select(F.col("id").alias("doc_id"))
    s1 = deterministic_sample(df, "doc_id", 2)
    n1 = s1.count()
    assert abs(n1 / 16_000 - 2 / 16) < 0.02  # ~12.5%
    # repeatable: same rows every run
    ids_a = {r["doc_id"] for r in s1.collect()}
    ids_b = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 2).collect()}
    assert ids_a == ids_b
    # stratified drops unlisted strata
    df2 = df.withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("xx"))
    st = stratified_sample(df2, "doc_id", "lang", {"en": 8})
    assert st.filter(F.col("lang") == "xx").count() == 0
    assert abs(st.count() / 8_000 - 0.5) < 0.05


def test_new_pair_ops_plans_are_bounded(spark):
    """Pair generators must never plan a cartesian/nested-loop join or
    force-broadcast a corpus-derived side — candidates come from
    banded equi-joins and dedup BEFORE payload re-attach."""
    from vcfdbr_spark.operators.dedup import simhash_dup_pairs
    from vcfdbr_spark.operators.similarity import embedding_dup_pairs

    emb = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") + j) % (j + 2) + 1).cast("float") for j in range(64)]
        ).alias("embedding"),
    )
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} a b c d e") for i in range(30)],
        "doc_id long, text string",
    )
    for df in (embedding_dup_pairs(emb, threshold=0.0),
               simhash_dup_pairs(docs, max_hamming=63)):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in optimized.lower()  # no forced hint
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        df.count()  # executes without error


def test_pack_sequences_invariants(spark):
    """Within a shard, offsets are the exact running token total in id
    order (no gaps, no overlap) and pack_id = offset // window."""
    from vcfdbr_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, window_tokens=16, n_shards=4)
    rows = sorted(
        out.collect(), key=lambda r: (r["shard"], r["doc_id"])
    )
    running = {}
    for r in rows:
        expect = running.get(r["shard"], 0)
        assert r["offset"] == expect
        assert r["pack_id"] == r["offset"] // 16
        assert r["straddles"] == (
            (r["offset"] // 16) != ((r["offset"] + r["n_tokens"] - 1) // 16)
        )
        running[r["shard"]] = expect + r["n_tokens"]


def test_normalize_text(spark):
    from vcfdbr_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   World! 42 "), (2, "hello world 42")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    assert got[1] == got[2] == "hello world 42"


def test_repeated_passages_finds_planted_span(spark):
    """A 12-word span planted in two otherwise-different documents
    surfaces as a repeated window; unique docs contribute nothing;
    short docs (< window words) are represented by one whole-doc
    passage and can still collide exactly."""
    from vcfdbr_spark.operators.dedup import (
        passage_windows,
        repeated_passages,
    )

    span = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(10)) + " " + span),
            (2, span + " " + " ".join(f"b{i}" for i in range(10))),
            (3, " ".join(f"c{i}" for i in range(30))),
            (4, "tiny doc"),
            (5, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rep = repeated_passages(docs, window=12, stride=1).collect()
    by_docs = {(r["n_docs"], r["first_doc"]): r["n_occurrences"] for r in rep}
    # the planted span aligns at stride-1 in both docs 1 and 2
    assert (2, 1) in by_docs
    # the two identical tiny docs collide on their whole-doc passage
    assert (2, 4) in by_docs
    # no window from the unique doc 3 repeats
    wins3 = passage_windows(docs.filter(F.col("doc_id") == 3), 12, 1)
    hashes3 = {r["passage"] for r in wins3.collect()}
    rep_hashes = {r["passage_hash"] for r in rep}
    import hashlib

    assert all(
        hashlib.md5(p.encode()).hexdigest() not in rep_hashes
        for p in hashes3
    )
    # short doc yields exactly ONE whole-doc window
    assert wins3.count() == 19  # 30 words, window 12, stride 1
    assert passage_windows(docs.filter(F.col("doc_id") == 4), 12, 1).count() == 1


def test_passage_windows_cover_document_tail(spark):
    """Every word of every document lands in at least one window: when
    the stride sequence does not reach the last full window, a tail
    window clamped to end at the last word is emitted (25 words,
    window 20, stride 10 → starts 1 AND 6, not just 1 — a span living
    in words 21-25 is detectable)."""
    from vcfdbr_spark.operators.dedup import passage_windows

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(25)))], "doc_id long, text string"
    )
    wins = {r["w_start"]: r["passage"] for r in
            passage_windows(docs, window=20, stride=10).collect()}
    assert set(wins) == {1, 6}
    assert wins[6].split(" ")[-1] == "w24"  # tail window ends at last word
    # exact stride landing emits no duplicate tail window
    docs2 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(31)))], "doc_id long, text string"
    )  # 31 words → last start 12; starts 1, 11 ... then tail 12
    starts2 = sorted(
        r["w_start"]
        for r in passage_windows(docs2, window=20, stride=10).collect()
    )
    assert starts2 == [1, 11, 12]
    docs3 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(39)))], "doc_id long, text string"
    )  # 39 words → last start 20 = 1 + 10 + 10 exactly: no extra row
    starts3 = sorted(
        r["w_start"]
        for r in passage_windows(docs3, window=20, stride=10).collect()
    )
    assert starts3 == [1, 11, 20]


def test_scrub_pii_and_counts(spark):
    """Emails, IPv4s and phone-like runs are replaced with typed
    tokens; counts reflect the raw text; clean text carries no
    residual matches; non-PII digits/words survive."""
    from vcfdbr_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-site.org and root@10.2.3.4 now"),
            (2, "call +1 (319) 555-0123 or 0044 207 946 0958 ok"),
            (3, "plain text with year 2024 and version 1.2"),
            (4, "x@y.io x@y.io twice"),
        ],
        "doc_id long, text string",
    )
    c = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["n_emails"].alias("e"),
            c["n_ips"].alias("i"),
            c["n_phones"].alias("p"),
            scrub_pii(F.col("text")).alias("clean"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["i"]) == (1, 1)
    assert out[1]["clean"] == "mail <EMAIL> and root@<IP> now"
    assert out[2]["p"] == 2
    assert out[2]["clean"] == "call <PHONE> or <PHONE> ok"
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (0, 0, 0)
    assert out[3]["clean"] == out[3]["clean"] == "plain text with year 2024 and version 1.2"
    assert out[4]["e"] == 2 and out[4]["clean"] == "<EMAIL> <EMAIL> twice"


def test_asof_join_semantics(spark):
    """Latest right row at-or-before the left time; NULL when none;
    equal timestamps count (right sorts before left at the same ts)."""
    from vcfdbr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 50, 103)],
        "k long, ts long, event_id long",
    )
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 15, 901), (2, 60, 902)],
        "k long, ts long, event_id long",
    )
    out = {
        r["event_id"]: r["asof_event_id"]
        for r in asof_join(
            left, right, on="k", right_cols=["event_id"], tiebreak="event_id"
        ).collect()
    }
    assert out[100] == 900  # equal ts matches
    assert out[101] == 901  # latest prior
    assert out[102] is None  # nothing at or before ts=5
    assert out[103] is None  # right row is AFTER the left row
    # plan shape: one window, no join operator
    plan = asof_join(
        left, right, on="k", right_cols=["event_id"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_asof_join_null_payload_whole_row_carry(spark):
    """A NULL field in the LATEST matching right row must surface as
    NULL — not be back-filled from an older right row (whole-row
    semantics: fields never mix across right rows)."""
    from vcfdbr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 20, 100), (1, 40, 101), (2, 10, 102)],
        "k long, ts long, event_id long",
    )
    right = spark.createDataFrame(
        [
            (1, 10, 7.0, "old"),
            (1, 30, None, "new"),  # latest row has a NULL price
            (2, 5, None, None),  # latest (only) row is all-NULL
        ],
        "k long, ts long, price double, label string",
    )
    rows = {
        r["event_id"]: (r["asof_price"], r["asof_label"])
        for r in asof_join(
            left, right, on="k", right_cols=["price", "label"]
        ).collect()
    }
    assert rows[100] == (7.0, "old")  # only the older row matches
    # ts=40 matches the ts=30 row: price NULL must NOT revert to 7.0
    assert rows[101] == (None, "new")
    # an all-NULL right row still counts as "a match happened"
    assert rows[102] == (None, None)


def test_ivf_train_deterministic_and_bounded(spark):
    """Quantized-space Lloyd training: centroid count stays ≤ nlist,
    and two runs produce bit-identical centroids (integer sums +
    floor-divided means — no float-order dependence)."""
    from vcfdbr_spark.operators.similarity import ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ivf_train(emb, nlist=8, n_iter=2)
    c2 = ivf_train(emb, nlist=8, n_iter=2)
    r1 = sorted(map(str, c1.collect()))
    r2 = sorted(map(str, c2.collect()))
    assert r1 == r2
    assert 0 < len(r1) <= 8
    # trained centroids are means, not corpus members: at least one
    # must differ from every raw embedding
    raw = {str(r["embedding"]) for r in emb.collect()}
    assert any(str(r["embedding"]) not in raw for r in c1.collect())


def test_ivf_centroid_count_bounded_as_corpus_grows(spark):
    """nlist is an ABSOLUTE centroid bound: doubling the corpus must
    not grow the centroid set (the r2 scale-killer was |C|/nlist_mod
    centroids → unbounded broadcast at 1e9 vectors)."""
    from vcfdbr_spark.operators.similarity import ivf_centroids, ivf_topk

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    doubled = base.unionByName(
        base.select(
            (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
        )
    )
    n1 = ivf_centroids(base, nlist=16).count()
    n2 = ivf_centroids(doubled, nlist=16).count()
    assert n1 == n2 == 16
    # legacy modulus default grows with the corpus (documented trap)
    m1 = ivf_centroids(base, nlist_mod=25).count()
    m2 = ivf_centroids(doubled, nlist_mod=25).count()
    assert m2 > m1

    # injected external centroids drive the whole query path
    cents = base.filter(F.col("vec_id") < 8)
    q = base.filter(F.col("vec_id") == 3)
    out = ivf_topk(base, q, k=5, centroids=cents, nprobe=2).collect()
    assert len(out) == 5
    assert all(r["query_id"] == 3 for r in out)


def test_asof_join_directions_and_exact_matches(spark):
    """pandas merge_asof parity: forward picks the earliest at-or-
    after row, nearest picks the closer side (ties -> backward), and
    allow_exact_matches=False excludes equal timestamps in every
    direction."""
    from vcfdbr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 22, 101), (1, 5, 102), (2, 50, 103)],
        "k long, ts long, event_id long",
    )
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 15, 901), (1, 30, 902), (2, 60, 903)],
        "k long, ts long, event_id long",
    )

    def run(**kw):
        return {
            r["event_id"]: r["asof_event_id"]
            for r in asof_join(
                left, right, on="k", right_cols=["event_id"],
                tiebreak="event_id", **kw,
            ).collect()
        }

    fwd = run(direction="forward")
    assert fwd[100] == 900   # exact ts=10 matches forward too
    assert fwd[101] == 902   # earliest at-or-after 22 is ts=30
    assert fwd[102] == 900   # earliest at-or-after 5 is ts=10
    assert fwd[103] == 903   # right at 60 is after 50

    near = run(direction="nearest")
    assert near[100] == 900  # exact match, distance 0
    # ts=22: backward 15 (d=7) vs forward 30 (d=8) -> backward
    assert near[101] == 901
    assert near[102] == 900  # only forward exists
    assert near[103] == 903

    back_x = run(direction="backward", allow_exact_matches=False)
    # right ts=10 is excluded, nothing strictly earlier -> NULL
    assert back_x[100] is None
    assert back_x[101] == 901

    fwd_x = run(direction="forward", allow_exact_matches=False)
    assert fwd_x[100] == 901  # ts=10 excluded, next is 15
    near_x = run(direction="nearest", allow_exact_matches=False)
    # ts=10: backward none, forward 15
    assert near_x[100] == 901

    # nearest runs both carries over ONE shuffle: a single Exchange
    plan = asof_join(
        left, right, on="k", right_cols=["event_id"],
        direction="nearest",
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_asof_join_tolerance(spark):
    """tolerance nulls out matches farther than the bound (numeric
    time units here), in every direction."""
    from vcfdbr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2)], "k long, ts long, event_id long"
    )
    right = spark.createDataFrame(
        [(1, 95, 900), (1, 120, 901)], "k long, ts long, event_id long"
    )

    def run(**kw):
        return {
            r["event_id"]: r["asof_event_id"]
            for r in asof_join(
                left, right, on="k", right_cols=["event_id"],
                tiebreak="event_id", **kw,
            ).collect()
        }

    back = run(direction="backward", tolerance=10)
    assert back[1] == 900      # |100-95| = 5 <= 10
    assert back[2] is None     # nearest prior is 120, d=80 > 10
    near = run(direction="nearest", tolerance=30)
    assert near[1] == 900      # d=5 beats d=20
    assert near[2] is None     # d=80 > 30
    near_wide = run(direction="nearest", tolerance=100)
    assert near_wide[2] == 901


def test_weighted_sample_rate_and_determinism(spark):
    """Keep rate tracks base_rate·E[min(w,cap)/cap]; same rows every
    run; heavier rows kept proportionally more often."""
    from vcfdbr_spark.operators.sampling import weighted_sample

    df = spark.range(0, 20_000).select(
        F.col("id").alias("doc_id"),
        # weights 100..400 uniform-ish
        (100 + (F.col("id") % 301)).cast("long").alias("w"),
    )
    s = weighted_sample(df, "doc_id", "w", base_rate=0.5, weight_cap=400)
    n = s.count()
    # E[min(w,400)/400] ≈ E[w]/400 = 250.5/400 → expect ~0.5*0.626
    expect = 0.5 * (250.0 / 400)
    assert abs(n / 20_000 - expect) < 0.03
    ids_a = {r["doc_id"] for r in s.collect()}
    ids_b = {
        r["doc_id"]
        for r in weighted_sample(
            df, "doc_id", "w", base_rate=0.5, weight_cap=400
        ).collect()
    }
    assert ids_a == ids_b
    # monotone in weight: light rows kept at ~half the rate of heavy
    light = s.filter(F.col("w") < 200).count() / df.filter(F.col("w") < 200).count()
    heavy = s.filter(F.col("w") >= 300).count() / df.filter(F.col("w") >= 300).count()
    assert light < heavy


def test_adaptive_band_bits_matches_duckdb_formula():
    """The Spark side computes the adaptive band width in Python
    ((n-1).bit_length() + slack) while the oracle computes
    GREATEST(floor, CEIL(LOG2(n)) + slack) in DuckDB SQL — the two
    must agree for EVERY corpus size, including exact powers of two
    and their neighbors (where float log2 could plausibly flip a
    ceil)."""
    import duckdb

    from vcfdbr_spark.operators.similarity import (
        ADAPTIVE_BITS_FLOOR,
        ADAPTIVE_BITS_SLACK,
        adaptive_band_bits,
    )

    ns = [1, 2, 3]
    for k in range(2, 31):
        ns += [2**k - 1, 2**k, 2**k + 1]
    con = duckdb.connect()
    for n in ns:
        sql = (
            f"SELECT GREATEST({ADAPTIVE_BITS_FLOOR}, "
            f"CAST(ceil(log2({n})) AS INT) + {ADAPTIVE_BITS_SLACK})"
        )
        assert adaptive_band_bits(n) == con.execute(sql).fetchone()[0], n


def test_wrapped_bands_match_disjoint_at_stride_width(spark):
    """sign_band_buckets_wrapped(bits=stride) over a 64-dim vector
    must produce bucket-identical output to the original disjoint
    slices — the adaptive path is a strict generalization, not a
    silent re-bucketing of existing fixtures."""
    from vcfdbr_spark.operators.similarity import (
        sign_band_buckets,
        sign_band_buckets_wrapped,
    )

    vecs = spark.range(200).select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda p: (F.xxhash64(F.col("id"), p) % 2001).cast("double")
            / 1000.0,
        ).alias("v"),
    )
    both = vecs.select(
        "id",
        sign_band_buckets(F.col("v"), 4, 16).alias("old"),
        sign_band_buckets_wrapped(F.col("v"), 4, 16).alias("new"),
    )
    assert both.filter(F.col("old") != F.col("new")).count() == 0
    # and wider-than-share widths wrap instead of truncating
    wide = vecs.select(
        sign_band_buckets_wrapped(F.col("v"), 4, 19).alias("w")
    ).first()["w"]
    assert all(len(b) == 19 for b in wide)


def test_adaptive_bits_linear_candidates_on_isotropic_corpus(spark):
    """THE scale property the adaptive width buys (r10 verdict item):
    on an isotropic corpus (hash-generated components, no planted
    structure) the banded self-join's candidate-pair count grows
    ~LINEARLY with the corpus — 10x vectors => ~10x pairs, not the
    ~100x a static width yields.  The sf-table curve cannot pin this
    (the sf1 derivation plants sign-correlated jittered copies, i.e.
    genuine near-dup mass); isotropic vectors isolate the uniform-
    load collision term the formula controls."""
    from vcfdbr_spark.operators.similarity import (
        adaptive_band_bits,
        sign_band_buckets_wrapped,
    )

    def cand_count(n: int) -> int:
        vecs = spark.range(n).select(
            F.col("id").alias("vid"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda p: (F.xxhash64(F.col("id"), p) % 2001).cast(
                    "double"
                )
                / 1000.0,
            ).alias("v"),
        )
        bits = adaptive_band_bits(n)
        bb = vecs.select(
            "vid",
            F.posexplode(
                sign_band_buckets_wrapped(F.col("v"), 4, bits)
            ).alias("band", "bucket"),
        )
        return (
            bb.selectExpr("band", "bucket", "vid AS a")
            .join(
                bb.selectExpr("band", "bucket", "vid AS b"),
                ["band", "bucket"],
            )
            .filter("a < b")
            .select("a", "b")
            .distinct()
            .count()
        )

    small, big = cand_count(1_500), cand_count(15_000)
    assert small > 0  # non-degenerate: the small corpus does collide
    # linear +/- noise; a static width would give ~100x here
    assert big <= 30 * small, (small, big)


def test_adaptive_band_count_formula_and_case_parity():
    """The recall-targeted band count (similarity.adaptive_band_count)
    is derived with float math in Python ONLY; the oracle consumes a
    generated integer CASE lookup (entry_queries._band_count_case).
    Pin (a) hand-computed values at the production threshold, (b)
    floor/cap clamps and monotonicity, and (c) bit-for-bit parity of
    the SQL lookup with the Python function across every width the
    bits formula can produce for corpora up to 2^44."""
    import duckdb

    from vcfdbr_spark.entry_queries import _band_count_case
    from vcfdbr_spark.operators.similarity import (
        ADAPTIVE_BANDS_CAP,
        ADAPTIVE_BANDS_FLOOR,
        adaptive_band_count,
    )

    # hand-checked: p(0.95)=0.8989, n = ceil(ln0.1/ln(1-p^bits))
    assert adaptive_band_count(16, 0.95) == 12
    assert adaptive_band_count(19, 0.95) == 17
    assert adaptive_band_count(28, 0.95) == 45
    assert adaptive_band_count(8, 0.99) == ADAPTIVE_BANDS_FLOOR
    assert adaptive_band_count(48, 0.95) == ADAPTIVE_BANDS_CAP
    # sign-LSH cannot cheaply recall barely-correlated pairs: loose
    # thresholds saturate the cap instead of going quadratic
    assert adaptive_band_count(8, 0.2) == ADAPTIVE_BANDS_CAP
    prev = 0
    for bits in range(8, 49):
        n = adaptive_band_count(bits, 0.95)
        assert ADAPTIVE_BANDS_FLOOR <= n <= ADAPTIVE_BANDS_CAP
        assert n >= prev  # monotone in bits (q shrinks, need grows)
        prev = n
    con = duckdb.connect()
    case = _band_count_case(0.95)
    for bits in range(8, 49):
        got = con.execute(
            f"SELECT {case} FROM (SELECT {bits} AS bits)"
        ).fetchone()[0]
        assert got == adaptive_band_count(bits, 0.95), bits


def test_band_count_cap_saturation_is_observable():
    """Past the cap the recall target is NOT met (bits ≳ 32 at 0.95
    ⇒ ~10⁹ vectors) — est_recall/band_count_capped in the stats dict
    must say so loudly rather than leaving it to a downstream
    quality audit (the silent-degradation-at-scale failure class the
    r9 CC bug taught)."""
    from vcfdbr_spark.operators.similarity import (
        ADAPTIVE_BANDS_CAP,
        ADAPTIVE_RECALL_TARGET,
        adaptive_band_count,
        estimated_band_recall,
    )

    # below saturation the chosen count meets the target by design
    for bits in (16, 19, 28):
        n = adaptive_band_count(bits, 0.95)
        assert n < ADAPTIVE_BANDS_CAP
        assert estimated_band_recall(bits, n, 0.95) >= ADAPTIVE_RECALL_TARGET
    # at saturation it visibly does not
    n = adaptive_band_count(40, 0.95)
    assert n == ADAPTIVE_BANDS_CAP
    assert estimated_band_recall(40, n, 0.95) < ADAPTIVE_RECALL_TARGET


def test_auto_band_count_restores_recall_at_wide_bits(spark):
    """THE property the auto band count buys (the recall half of the
    adaptive-width policy): at the band width a ~16M-vector corpus
    would get (28 bits), a FIXED 4-band count finds well under half
    of the true >=0.95-cosine pairs, while n_bands="auto" (45 bands
    at this width/threshold) holds recall at the 0.9 target.

    Fixture: 60 planted near-dup pairs in 256 dims with noise sized
    so pair cosines straddle ~0.95 and sign agreement is ~0.93/bit —
    pairs AT the detection threshold, the regime the target is
    defined for (the existing planted-cluster fixture's siblings
    share EVERY sign, which any band count finds).  Ground truth is
    exhaustive quantized cosine in numpy — same x1000-integer dot
    and 6dp rounding as the engine, so the threshold cut is
    identical."""
    import math
    import random

    from vcfdbr_spark.operators.similarity import (
        adaptive_band_count,
        embedding_dup_pairs,
    )

    rng = random.Random(11)
    dim, n_pairs, n_distract, delta = 256, 60, 60, 0.3
    rows, vid = [], 0
    for _ in range(n_pairs):
        base = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        rows.append((vid, base))
        rows.append(
            (vid + 1, [x + rng.uniform(-delta, delta) for x in base])
        )
        vid += 2
    for _ in range(n_distract):
        rows.append((vid, [rng.uniform(-1.0, 1.0) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # exhaustive ground truth with the engine's integer quantization
    qv = {i: [round(x * 1000) for x in v] for i, v in rows}
    truth = set()
    ids = sorted(qv)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            va, vb = qv[a], qv[b]
            dot = sum(x * y for x, y in zip(va, vb))
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            if round(dot / (na * nb), 6) >= 0.95:
                truth.add((a, b))
    assert len(truth) >= 20  # enough mass for a meaningful recall

    def recall(nb) -> float:
        got = {
            (r["a"], r["b"])
            for r in embedding_dup_pairs(
                emb,
                threshold=0.95,
                n_bands=nb,
                bits_per_band=28,
                wrapped=True,
                materialize=False,
            ).collect()
        }
        return len(got & truth) / len(truth)

    assert adaptive_band_count(28, 0.95) == 45
    fixed, auto = recall(4), recall("auto")
    assert auto >= 0.9, f"auto-band recall below target: {auto:.3f}"
    assert fixed <= auto - 0.2, (
        f"fixed-4 recall {fixed:.3f} vs auto {auto:.3f}: the gap the "
        "auto count exists to close has disappeared — fixture drift?"
    )


def test_dedup_components_10k_chain_converges_in_log_rounds(spark):
    """r10 verdict item 7: the operator docstring's '10,000-link
    chain: 14+1 rounds' claim was empirical but untested.  A 10k
    chain is the worst realistic diameter (every doc transitively
    near-dups its neighbor — boilerplate ladders); edge contraction
    must close it in O(log L) rounds, far under max_iter=20, and
    label every vertex with the chain head."""
    from vcfdbr_spark.operators.dedup import dedup_components

    links = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(links)], "a long, b long"
    )
    stats: dict = {}
    out = dedup_components(
        chain, stats=stats, materialize=False, local_edges_max=0
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("keep_id") != 0).cast("long")).alias("bad"),
    ).first()
    assert agg["n"] == links + 1 and agg["bad"] == 0, agg
    # 2*log2(10k) + slack = ~30; empirical is 14+1 — fail loudly if
    # a refactor regresses the contraction to per-hop propagation
    import math

    budget = 2 * math.ceil(math.log2(links)) + 4
    assert stats["rounds"] <= budget, stats


def test_loop_checkpoint_bounds_the_size_estimate_across_rounds(spark):
    """Pins the property that makes the 10k-chain test finish in
    seconds instead of hours: Spark's ``checkpoint`` copies the
    origin plan's estimated sizeInBytes into the checkpointed leaf,
    and Catalyst's join estimator MULTIPLIES children — so an
    iterated self-join loop's estimate compounds doubly-
    exponentially (measured bit-length 40 → 117 → 349 → 1045 → 3133
    → 9398 over six rounds; ~15 rounds = million-bit BigInts and
    25+ min of driver CPU inside join selection).  loop_checkpoint
    re-wraps the checkpointed RDD in a fresh LogicalRDD, resetting
    the leaf to defaultSizeInBytes: the estimate must stay a
    CONSTANT few hundred bits however many rounds run."""
    from vcfdbr_spark.plans.checkpoints import loop_checkpoint

    def bitlen(df) -> int:
        s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(s).bit_length()

    labels, ck = loop_checkpoint(
        spark.range(100).select("id", F.col("id").alias("comp"))
    )
    for _ in range(8):
        labels, ck = loop_checkpoint(
            labels.join(
                labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("_d")
                ),
                "comp",
                "left",
            )
            .join(
                labels.select("id", F.col("comp").alias("_n")), "id", "left"
            )
            .select(
                "id",
                F.least(
                    "comp",
                    F.coalesce("_d", "comp"),
                    F.coalesce("_n", "comp"),
                ).alias("comp"),
            )
        )
        # fresh wrapper: exactly the 63-bit default leaf
        assert bitlen(labels) <= 64
        # ckpt handle: ONE round's bounded join product, never the
        # compounded history (pre-fix this crosses 512 at round 4)
        assert bitlen(ck) <= 512
    # both frames read the same checkpointed rows
    assert labels.count() == 100 and ck.count() == 100


# --------------------------------------------------------------------
# domain_mix_sample / epoch_shuffle (continuation-session additions)
# --------------------------------------------------------------------


def _py_u32(key: str) -> int:
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)


def test_domain_mix_matches_pure_python_replay(spark):
    """Exact row-set equality against a hashlib+IEEE-double replay of
    the published formula (thr_d = floor(2^32·((c·t_d)/W_d)),
    c = min(W_d/t_d)) — the same determinism contract the DuckDB
    oracle relies on."""
    import math

    from vcfdbr_spark.operators.sampling import domain_mix_sample

    rows = [(i, "web" if i % 4 else "code", 50 + (i * 37) % 400) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, w long")
    targets = {"web": 0.7, "code": 0.3}
    got = {
        r["doc_id"]
        for r in domain_mix_sample(
            df, targets, key_col="doc_id", domain_col="dom", weight_col="w"
        ).collect()
    }
    w_d = {d: float(sum(w for _, dd, w in rows if dd == d)) for d in targets}
    c = min(w_d[d] / targets[d] for d in targets)
    thr = {
        d: math.floor(float(2**32) * ((c * targets[d]) / w_d[d])) for d in targets
    }
    expect = {
        i for i, d, _ in rows if _py_u32(f"mix:{i}") < thr[d]
    }
    assert got == expect


def test_domain_mix_hits_target_shares_and_scale_invariance(spark):
    """Kept per-domain weight shares converge to the targets (law of
    large numbers over the md5 uniforms); scaling all targets by a
    constant yields the identical sample (only ratios matter); the
    binding domain keeps ~everything; untargeted domains are
    dropped."""
    from vcfdbr_spark.operators.sampling import domain_mix_sample

    df = spark.range(0, 30_000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("de"), F.lit("xx")),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("dom"),
        F.lit(100).alias("w"),
    )
    targets = {"en": 0.5, "de": 0.5}
    out = domain_mix_sample(df, targets, domain_col="dom", weight_col="w")
    kept = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert set(kept) == {"en", "de"}          # 'xx' dropped
    # de is binding (6k rows vs en 18k at equal targets): keeps all
    assert kept["de"] == 6_000
    # en keeps ~6k of 18k (rate 1/3), within LLN tolerance
    assert abs(kept["en"] - 6_000) < 300
    scaled = domain_mix_sample(df, {d: 7 * t for d, t in targets.items()},
                               domain_col="dom", weight_col="w")
    assert scaled.count() == out.count()
    assert (
        scaled.select("doc_id").exceptAll(out.select("doc_id")).count() == 0
    )


def test_domain_mix_validation():
    from vcfdbr_spark.operators.sampling import domain_mix_sample

    with pytest.raises(ValueError):
        domain_mix_sample(None, {})
    with pytest.raises(ValueError):
        domain_mix_sample(None, {"en": 0.0})


def test_epoch_shuffle_replay_and_plan(spark):
    """Python replay equality (order_key + bucket are pure functions
    of seed:epoch:key); per-epoch orders differ; the plan is a pure
    projection — no Exchange, no Sort."""
    from vcfdbr_spark.operators.sampling import epoch_shuffle

    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, epochs=2, n_buckets=16)
    rows = out.collect()
    assert len(rows) == 1000
    width = 2**32 // 16
    for r in rows[:50] + rows[-50:]:
        u = _py_u32(f"shuf:{r['epoch']}:{r['doc_id']}")
        assert r["order_key"] == u
        assert r["bucket"] == u // width
        assert 0 <= r["bucket"] < 16
    order0 = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["epoch"], r["order_key"])) if r["epoch"] == 0]
    order1 = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["epoch"], r["order_key"])) if r["epoch"] == 1]
    assert order0 != order1                   # epochs decorrelated
    assert sorted(order0) == sorted(order1)   # same membership
    plan = formatted_plan(out)
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_epoch_shuffle_bucket_major_order_is_global_md5_order(spark):
    """THE consumption contract: concatenating buckets in order, each
    sorted internally by order_key, equals the global order_key sort
    — a uniform permutation recovered without any global sort."""
    from vcfdbr_spark.operators.sampling import epoch_shuffle

    df = spark.range(0, 2_000).select(F.col("id").alias("doc_id"))
    pdf = epoch_shuffle(df, epochs=1, n_buckets=8).toPandas()
    global_order = pdf.sort_values("order_key")["doc_id"].tolist()
    bucket_major = (
        pdf.sort_values(["bucket", "order_key"])["doc_id"].tolist()
    )
    assert bucket_major == global_order
    # equal-width buckets on a uniform variate: balanced within 4x
    sizes = pdf.groupby("bucket").size()
    assert len(sizes) == 8 and sizes.max() < 4 * sizes.min()


def test_epoch_shuffle_validation():
    from vcfdbr_spark.operators.sampling import epoch_shuffle

    with pytest.raises(ValueError):
        epoch_shuffle(None, epochs=0)
    with pytest.raises(ValueError):
        epoch_shuffle(None, n_buckets=12)


def test_decontaminate_splits_removes_train_side_of_cross_split_dups(spark):
    """Plant a near-dup pair straddling train/eval: the train member
    must be dropped, the eval member kept, and within-train dups must
    NOT be dropped (that's dedup's job, not decontamination's)."""
    from vcfdbr_spark.operators.pipeline import decontaminate_splits
    from vcfdbr_spark.operators.sampling import split_assign_col

    fr = (("train", 0.5), ("val", 0.5))
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again while the cat watches from the warm windowsill "
            "every single morning before breakfast is even served")
    # find ids on each side of the split
    ids = spark.range(0, 200).select(
        F.col("id"), split_assign_col(F.col("id"), fr).alias("s")
    ).collect()
    train_ids = [r["id"] for r in ids if r["s"] == "train"]
    val_ids = [r["id"] for r in ids if r["s"] == "val"]
    cross_t, cross_v = train_ids[0], val_ids[0]
    intra_a, intra_b = train_ids[1], train_ids[2]
    clean = train_ids[3]
    rows = [
        (cross_t, base + " alpha", "en"),
        (cross_v, base + " beta", "en"),       # near-dup across splits
        (intra_a, base.upper() + " gamma", "en"),
        (intra_b, base.upper() + " delta", "en"),  # near-dup within train
        (clean, "completely different text with nothing shared at all "
                "short and unique", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = decontaminate_splits(docs, fractions=fr, jaccard_threshold=0.5)
    kept = {r["doc_id"]: r["split"] for r in out.collect()}
    assert cross_t not in kept          # train side of cross-split dup dropped
    assert kept[cross_v] == "val"       # eval side kept
    assert intra_a in kept and intra_b in kept  # within-train dup kept
    assert clean in kept


def test_decontaminate_splits_validation():
    from vcfdbr_spark.operators.pipeline import decontaminate_splits

    with pytest.raises(ValueError):
        decontaminate_splits(None, train_split="nope")


def test_snapshot_delta_classifies_all_four_states(spark):
    from vcfdbr_spark.operators.delta import snapshot_delta

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c-modified"), (4, "d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_delta(old, new).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_delta_prunes_to_key_and_hash_at_scan(spark, tmp_path):
    """The join sides must reduce to (key, md5) before the shuffle —
    a wide snapshot must not ship its payload through the Exchange —
    and the parquet scan must read only the hashed + key columns."""
    from vcfdbr_spark.operators.delta import snapshot_delta

    p = str(tmp_path / "snap")
    spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"),
        F.lit("payload-we-must-not-read").alias("big_blob"),
        F.lit("en").alias("lang"),
    ).write.parquet(p)
    snap = spark.read.parquet(p)
    plan = formatted_plan(snapshot_delta(snap, snap))
    assert "big_blob" not in plan and "lang" not in plan
    assert "ReadSchema" in plan


def test_decontaminate_batch_probe_matches_in_memory_and_pfx_index(spark, tmp_path):
    """The batch flavor drops exactly the batch rows near-dupping an
    eval doc; batch-vs-batch dups survive; and probing a persisted
    pfx-partitioned index yields the identical survivor set to the
    in-memory band frame (layout must not change answers)."""
    from vcfdbr_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        read_band_index,
        write_band_index,
    )
    from vcfdbr_spark.operators.pipeline import decontaminate_batch

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen "
            "eighteen nineteen twenty twentyone twentytwo twentythree")
    eval_docs = spark.createDataFrame(
        [(1000, base + " evalA"), (1001, "totally unrelated eval text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base + " trainX"),          # leaks vs 1000
            (2, base.upper() + " p"),        # dup of 3, NOT of eval
            (3, base.upper() + " q"),
            (4, "clean and unique short doc"),
        ],
        "doc_id long, text string",
    )
    out1 = {r["doc_id"] for r in decontaminate_batch(batch, eval_docs).collect()}
    assert out1 == {2, 3, 4}
    idx_path = str(tmp_path / "eval_idx")
    write_band_index(
        minhash_band_buckets(minhash_signatures(eval_docs)), idx_path
    )
    out2 = {
        r["doc_id"]
        for r in decontaminate_batch(
            batch, eval_docs, eval_index=read_band_index(spark, idx_path)
        ).collect()
    }
    assert out2 == out1


@pytest.mark.parametrize("n_pfx", [16, 128])
def test_read_band_index_probes_under_its_recorded_modulus(spark, tmp_path, n_pfx):
    """A probe of a read_band_index layout prunes under the modulus
    the layout recorded, not the default one: band_probe_pairs and
    decontaminate_batch against it equal the in-memory index, for the
    whole batch and for its first document alone.  A stored frame
    whose pfx column carries no modulus raises instead of pruning
    under a guessed one."""
    from vcfdbr_spark.operators.dedup import (
        band_probe_pairs,
        minhash_band_buckets,
        minhash_signatures,
        read_band_index,
        write_band_index,
    )
    from vcfdbr_spark.operators.pipeline import decontaminate_batch

    # eval: the first 200 sf0.001 documents; batch: their " zz" copies
    eval_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(200)
    )
    batch = eval_docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    in_memory = minhash_band_buckets(minhash_signatures(eval_docs))
    idx = str(tmp_path / "idx")
    write_band_index(in_memory, idx, n_pfx=n_pfx)
    stored = read_band_index(spark, idx)
    for b in (batch, batch.orderBy("doc_id").limit(1)):
        bands = minhash_band_buckets(minhash_signatures(b)).persist()
        try:
            def pairs(index):
                return {
                    (r["a"], r["b"])
                    for r in band_probe_pairs(
                        bands, index, self_pairs=False
                    ).collect()
                }

            want = pairs(in_memory)
            assert want and pairs(stored) == want
        finally:
            bands.unpersist()

        def kept(index):
            return {
                r["doc_id"]
                for r in decontaminate_batch(
                    b, eval_docs, eval_index=index
                ).collect()
            }

        assert kept(stored) == kept(in_memory)
    with pytest.raises(ValueError, match="read_band_index"):
        band_probe_pairs(in_memory, spark.read.parquet(idx))


def test_pack_shuffled_is_decorrelated_and_parallel(spark):
    """Packs mix non-adjacent ids (vs pack_sequences' id-adjacent
    packs); offsets are a correct per-bucket cumsum in order_key
    order; the window partitions by bucket (no global-order window)."""
    from vcfdbr_spark.operators.packing import pack_shuffled

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.lit("ten little words make up this tiny document body x").alias("text"),
    )
    pdf = pack_shuffled(docs, window_tokens=64, n_buckets=8).toPandas()
    assert len(pdf) == 400
    # per-bucket offsets replay as cumsum of n_tokens in order
    for b, grp in pdf.groupby("bucket"):
        g = grp.sort_values(["order_key", "doc_id"])
        run = 0
        for _, r in g.iterrows():
            assert r["offset"] == run
            run += r["n_tokens"]
    # shuffled packs: the first pack of bucket 0 must not be a
    # contiguous id range (id-order packing would make it one)
    first = pdf[(pdf.bucket == 0) & (pdf.pack_id == 0)]["doc_id"].tolist()
    assert len(first) > 1
    srt = sorted(first)
    assert srt != list(range(srt[0], srt[0] + len(srt)))
    with pytest.raises(ValueError):
        pack_shuffled(docs, n_buckets=12)


def test_decontaminate_ops_leave_zero_net_cache(spark):
    """Both decontamination operators materialize their leak list and
    release every persist they made — the streaming twin calls
    decontaminate_batch per micro-batch, so an un-released frame
    would accumulate for the stream's lifetime.  Delta-form assert
    (new ids only): older localCheckpoint blocks vanish on GC."""
    from vcfdbr_spark.operators.pipeline import (
        decontaminate_batch,
        decontaminate_splits,
    )

    base = ("zero one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen sixteen")
    docs = spark.createDataFrame(
        [(i, base + f" d{i}", "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    eval_docs = spark.createDataFrame(
        [(900, base + " d0x")], "doc_id long, text string"
    )

    def cached():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = cached()
    decontaminate_splits(docs).count()
    decontaminate_batch(docs, eval_docs).count()
    new = cached() - before
    # the only entries allowed to survive are the two
    # eager-checkpointed leak lists (one per op; GC-released
    # localCheckpoint blocks, the module contract) — before the
    # release fix this was 7+ (bands + two jaccard internals per op,
    # never unpersisted)
    assert len(new) <= 2, new
