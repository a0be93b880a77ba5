"""Property tests (SURVEY.md §5c): invariants that must hold for any
input, checked against independent Python reimplementations.

Strategy note: hypothesis generates the inputs, but each test runs ONE
Spark job over the whole generated batch (a per-example Spark job
would be minutes per test).
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from vcfdbr_spark.functions.genotype import (
    HET_RE,
    HOM_ALT_RE,
    HOM_REF_RE,
    gt2snp,
)
from vcfdbr_spark.operators.ids import with_dense_ids

# Independent oracle: the reference's case_when over str_detect
# (pipeline/02-build-db.R:101-108) re-expressed with Python re.search.


def gt2snp_py(x: str) -> float | None:
    if re.search(HOM_REF_RE, x):
        return 0.0
    if re.search(HET_RE, x):
        return 1.0
    if re.search(HOM_ALT_RE, x):
        return 2.0
    return None


gt_alphabet = st.text(alphabet="01234./|", min_size=0, max_size=6)


@settings(max_examples=30, deadline=None)
@given(st.lists(gt_alphabet, min_size=1, max_size=50))
def test_gt2snp_matches_python_oracle(spark, gts):
    df = spark.createDataFrame([(g,) for g in gts], "gt_raw string")
    got = [
        r["gt"]
        for r in df.select(gt2snp(F.col("gt_raw")).alias("gt")).collect()
    ]
    want = [gt2snp_py(g) for g in gts]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)),
        min_size=1,
        max_size=500,
    )
)
def test_dense_ids_always_dense_and_ordered(spark, rows):
    df = spark.createDataFrame(rows, "chr int, pos int")
    out = with_dense_ids(df, ["chr", "pos"]).collect()
    ids = sorted(r["variant_id"] for r in out)
    assert ids == list(range(1, len(rows) + 1))
    by_id = sorted(out, key=lambda r: r["variant_id"])
    keys = [(r["chr"], r["pos"]) for r in by_id]
    assert keys == sorted(keys)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "splice_x", "c&d", "e&f&g"]),
                 min_size=1, max_size=4),
        min_size=1,
        max_size=30,
    )
)
def test_explode_row_count_invariant(spark, csqs):
    """rows(impact) == sum over variants of Σ transcripts × (1 + '&'s)
    — the A6+A8 row-multiplication law."""
    df = spark.createDataFrame(
        [(i, ",".join(t)) for i, t in enumerate(csqs)], "vid int, csq string"
    )
    out = (
        df.withColumn("t", F.explode(F.split("csq", ",")))
        .withColumn("c", F.explode(F.split("t", "&")))
        .count()
    )
    want = sum(1 + t.count("&") for ts in csqs for t in ts)
    assert out == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 300), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    ),
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 300), st.integers(0, 120)),
        min_size=1,
        max_size=20,
    ),
)
def test_interval_join_matches_bruteforce(spark, vars_, ivls):
    """Binned range join ≡ brute-force overlap for any input, at any
    bin size (incl. bins smaller than intervals → straddling)."""
    from vcfdbr_spark.operators.query import interval_join

    vrows = [
        (i, str(c), s, s + w) for i, (c, s, w) in enumerate(vars_)
    ]
    irows = [
        (j, str(c), s, s + w) for j, (c, s, w) in enumerate(ivls)
    ]
    vdf = spark.createDataFrame(
        vrows, "variant_id long, chr string, start long, end long"
    )
    idf = spark.createDataFrame(
        irows, "i_id long, i_chr string, i_start long, i_end long"
    )
    got = {
        (r["variant_id"], r["i_id"])
        for r in interval_join(vdf, idf, bin_size=64).collect()
    }
    want = {
        (vi, ij)
        for vi, vc, vs, ve in vrows
        for ij, ic, is_, ie in irows
        if vc == ic and vs <= ie and ve >= is_
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_components_matches_union_find(spark, raw_pairs):
    """Min-label propagation ≡ classic union-find for ANY pair graph
    (cliques, chains, cycles, self-contradicting orders)."""
    from vcfdbr_spark.operators.dedup import dedup_components

    pairs = [(min(a, b), max(a, b)) for a, b in raw_pairs]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        r["doc_id"]: r["keep_id"] for r in dedup_components(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    want = {
        x: min(members) for members in comp.values() for x in members
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from("abcd")),
        min_size=1,
        max_size=120,
        unique_by=lambda r: r[0],
    ),
    st.integers(1, 12),
)
def test_cap_per_group_matches_python_oracle(spark, rows, n):
    """Two-phase cap ≡ per-group sort by (md5(id), id) truncated to n,
    for any groups and any cap."""
    import hashlib

    from vcfdbr_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        (r["doc_id"], r["lang"], r["rk"])
        for r in cap_per_group(df.repartition(5), "lang", n).collect()
    }
    want = set()
    by_group: dict[str, list[int]] = {}
    for i, g in rows:
        by_group.setdefault(g, []).append(i)
    for g, ids in by_group.items():
        order = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        for rk, i in enumerate(order[:n], start=1):
            want.add((i, g, rk))
    assert got == want


def test_quality_prune_matches_python_oracle_seeded(spark):
    """quality_prune_per_group ≡ per-group sort by (score desc, id)
    truncated to ceil(n·num/den), over a seeded batch of fraction and
    group shapes (one Spark job per case keeps this fast; the shapes
    cover ties, singleton groups, and fraction extremes)."""
    import random

    from vcfdbr_spark.operators.sampling import quality_prune_per_group

    rng = random.Random(1106)
    cases = []
    for num, den in ((1, 4), (1, 2), (3, 4), (1, 7), (9, 10)):
        n_rows = rng.randint(1, 90)
        rows = [
            (i, rng.choice("abcd"), rng.randint(0, 9))  # heavy score ties
            for i in range(n_rows)
        ]
        cases.append((num, den, rows))
    for num, den, rows in cases:
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, score long"
        )
        got = {
            (r["doc_id"], r["lang"], r["keep_k"], r["rk"])
            for r in quality_prune_per_group(
                df.repartition(5), "lang", "score", num, den
            ).collect()
        }
        want = set()
        by_group: dict[str, list[tuple[int, int]]] = {}
        for i, g, s in rows:
            by_group.setdefault(g, []).append((i, s))
        for g, members in by_group.items():
            k = (len(members) * num + den - 1) // den
            order = sorted(members, key=lambda t: (-t[1], t[0]))
            for rk, (i, _) in enumerate(order[:k], start=1):
                want.add((i, g, k, rk))
        assert got == want, (num, den)


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join vs pandas.merge_asof itself, over every
    (direction × allow_exact_matches × tolerance) combination on a
    deterministic multi-key fixture with duplicate timestamps and
    keys that exist on only one side."""
    import pandas as pd

    rng = __import__("random").Random(1234)
    lrows = sorted(
        (rng.randrange(1, 6), rng.randrange(0, 50) * 10, 1000 + i)
        for i in range(120)
    )
    rrows = sorted(
        (rng.randrange(1, 7), rng.randrange(0, 50) * 10 + rng.choice((0, 5)), 2000 + i)
        for i in range(150)
    )
    lpdf = pd.DataFrame(lrows, columns=["k", "ts", "lid"])
    rpdf = pd.DataFrame(rrows, columns=["k", "ts", "rid"])
    left = spark.createDataFrame(lpdf.astype("int64"))
    right = spark.createDataFrame(rpdf.astype("int64"))

    from vcfdbr_spark.operators.asof import asof_join

    for direction in ("backward", "forward", "nearest"):
        for exact in (True, False):
            for tol in (None, 20):
                got = (
                    asof_join(
                        left, right, on="k", right_cols=["rid"],
                        direction=direction, allow_exact_matches=exact,
                        tolerance=tol,
                    )
                    .select("lid", F.col("asof_rid").alias("rid"))
                    .toPandas()
                    .sort_values("lid", ignore_index=True)
                )
                want = (
                    pd.merge_asof(
                        lpdf.sort_values("ts", kind="stable"),
                        rpdf.sort_values("ts", kind="stable"),
                        on="ts", by="k", direction=direction,
                        allow_exact_matches=exact,
                        tolerance=tol,
                    )[["lid", "rid"]]
                    .sort_values("lid", ignore_index=True)
                )
                # Only where the match is UNIQUE is the picked right
                # row comparable (pandas' duplicate-ts tiebreak is
                # positional, ours is value-ordered); match/no-match
                # parity must hold everywhere.
                assert (
                    got["rid"].notna().tolist()
                    == want["rid"].notna().tolist()
                ), (direction, exact, tol)
                # and on timestamps with a single candidate the row
                # itself must agree
                r_ts_counts = rpdf.groupby(["k", "ts"]).size()
                uniq = {
                    (k, t) for (k, t), n in r_ts_counts.items() if n == 1
                }
                merged = got.assign(want_rid=want["rid"])
                rid_to_kts = {
                    rid: (k, t) for k, t, rid in rrows
                }
                for _, row in merged.iterrows():
                    if pd.isna(row["rid"]):
                        continue
                    kts = rid_to_kts[int(row["want_rid"])] if not pd.isna(row["want_rid"]) else None
                    if kts in uniq:
                        assert row["rid"] == row["want_rid"], (
                            direction, exact, tol, row,
                        )


@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.sampled_from([0, 2, 6]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_property(width, height, color_type, rnd):
    """encode_png→decode_png recovers exact dimensions and exact
    per-channel means for arbitrary small images of every supported
    color type (the pixel statistics are pure integer sums, so the
    comparison is exact up to one float division)."""
    from vcfdbr_spark.operators.multimodal import (
        _PNG_CHANNELS,
        decode_png,
        encode_png,
    )

    nch = _PNG_CHANNELS[color_type]
    n = width * height * nch
    pixels = bytes(rnd.randrange(256) for _ in range(n))
    w, h, feats = decode_png(encode_png(width, height, pixels, color_type))
    assert (w, h) == (width, height)
    want = [
        sum(pixels[i] for i in range(c, n, nch)) / (width * height) / 255.0
        for c in range(nch)
    ]
    got = feats[:nch] if nch != 1 else feats[:1]
    for a, b in zip(got, want):
        assert abs(a - b) < 1e-12
    assert feats[7] == nch / 4.0


# --- PII scrub: cross-engine regex parity -----------------------------
# The pii_scrub oracle claims the pattern constants behave identically
# under Java regex (Spark) and RE2 (DuckDB).  Fuzz that claim directly:
# texts composed from adversarial fragments (near-emails, bad IPv4
# octet counts, digit runs spanning spaces, stray pattern metachars)
# must scrub AND count identically in both engines.

_PII_FRAGMENTS = st.sampled_from([
    "a@b.co", "x.y+z@mail-host.org", "user@site", "@", "a@b", "b.co",
    "A@B.DE.", "%+-a@b.cc", "1.2.3.4", "10.0.0.255", "999.999.999.999",
    "1.2.3", "1.2.3.4.5", "+1 (319) 555-0100", "0044 207 946 0958",
    "12345678", "123-456-7890", "(12) 3456 789", "word", "W0rd.",
    "2024", "v1.2", "a..b", "..", "-", "+", "()", "12 34", "+1+2",
])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(_PII_FRAGMENTS, min_size=1, max_size=6).map(" ".join),
        min_size=1,
        max_size=30,
    )
)
def test_scrub_pii_matches_duckdb_oracle(spark, texts):
    import duckdb
    import pandas as pd

    from vcfdbr_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_counts,
        scrub_pii,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    c = pii_counts(F.col("text"))
    got = [
        (r["doc_id"], r["e"], r["i"], r["p"], r["clean"])
        for r in df.select(
            "doc_id",
            c["n_emails"].alias("e"),
            c["n_ips"].alias("i"),
            c["n_phones"].alias("p"),
            scrub_pii(F.col("text")).alias("clean"),
        )
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want = con.execute(
        f"""
        SELECT doc_id,
          CAST(length(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT),
          CAST(length(regexp_extract_all(text, '{PII_IPV4_RE}')) AS BIGINT),
          CAST(length(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT),
          regexp_replace(regexp_replace(regexp_replace(text,
            '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
            '{PII_IPV4_RE}', '<IP>', 'g'),
            '{PII_PHONE_RE}', '<PHONE>', 'g')
        FROM t ORDER BY doc_id
        """
    ).fetchall()
    con.close()
    assert got == [tuple(w) for w in want]


@given(
    st.integers(min_value=1, max_value=2),   # channels
    st.sampled_from([1, 2]),                 # sample width
    st.integers(min_value=1, max_value=200),  # frames
    st.integers(min_value=8000, max_value=48000),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_property(nch, sw, nframes, rate, rnd):
    """encode_wav→decode_wav recovers (rate, channels) exactly and the
    8 signal stats match an independent recomputation from the source
    samples (integer sums + single float divisions — exact)."""
    import struct

    from vcfdbr_spark.operators.multimodal import decode_wav, encode_wav

    n = nframes * nch
    if sw == 1:
        vals = [rnd.randrange(256) for _ in range(n)]
        frames = bytes(vals)
        samples = [v - 128 for v in vals]
        full = 128.0
    else:
        samples = [rnd.randrange(-32768, 32768) for _ in range(n)]
        frames = struct.pack(f"<{n}h", *samples)
        full = 32768.0
    got_rate, got_nch, feats = decode_wav(encode_wav(rate, nch, sw, frames))
    assert (got_rate, got_nch) == (rate, nch)
    means = []
    for c in range(min(nch, 2)):
        ch = samples[c::nch]
        means.append(sum(abs(s) for s in ch) / len(ch) / full)
    while len(means) < 2:
        means.append(0.0)
    ch0 = samples[0::nch]
    zc = sum(1 for a, b in zip(ch0, ch0[1:]) if (a >= 0) != (b >= 0))
    want = [
        nframes / rate,
        float(nch),
        float(sw),
        means[0],
        means[1],
        max(abs(s) for s in samples) / full,
        zc / (len(ch0) - 1) if len(ch0) > 1 else 0.0,
        float(nframes),
    ]
    assert feats == want


# ------------------------------------------------------------------
# chunking / passage scrub (r9)
# ------------------------------------------------------------------


def _py_chunks(words: list[str], window: int, stride: int):
    """Pure-Python reference for chunk_documents: clamped-tail starts."""
    n = len(words)
    last = max(n - window + 1, 1)
    starts = list(range(1, last + 1, stride))
    if starts[-1] != last:
        starts.append(last)
    return [
        (idx, s, min(window, n - s + 1), " ".join(words[s - 1 : s - 1 + window]))
        for idx, s in enumerate(starts)
    ]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcX", min_size=1, max_size=3),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=12),
    st.data(),
)
def test_chunk_documents_matches_python_oracle(spark, words, window, data):
    from vcfdbr_spark.operators.chunking import chunk_documents

    stride = data.draw(st.integers(min_value=1, max_value=window))
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    got = sorted(
        (r["chunk_id"], r["w_start"], r["chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, window=window, stride=stride).collect()
    )
    assert got == _py_chunks(words, window, stride)


def _py_scrub(corpus: dict[int, list[str]], window: int, stride: int):
    """Pure-Python reference for scrub_repeated_passages."""
    wins: dict[int, list[tuple[int, str]]] = {}
    for did, words in corpus.items():
        n = len(words)
        last = max(n - window + 1, 1)
        starts = sorted({*range(1, last + 1, stride), last})
        wins[did] = [
            (s, " ".join(words[s - 1 : s - 1 + window])) for s in starts
        ]
    first: dict[str, int] = {}
    docs_of: dict[str, set[int]] = {}
    for did, ws in wins.items():
        for _, p in ws:
            docs_of.setdefault(p, set()).add(did)
            first[p] = min(first.get(p, did), did)
    out = {}
    for did, words in corpus.items():
        removed = set()
        for s, p in wins[did]:
            if len(docs_of[p]) > 1 and first[p] != did:
                removed.update(range(s, s + window))
        kept = [w for i, w in enumerate(words, start=1) if i not in removed]
        out[did] = (" ".join(kept), len(words) - len(kept))
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["p", "q", "r"]),  # tiny alphabet -> collisions
            min_size=1,
            max_size=14,
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_scrub_passages_matches_python_oracle(spark, docs_words, window):
    from vcfdbr_spark.operators.dedup import scrub_repeated_passages

    stride = max(1, window // 2)
    corpus = {i: ws for i, ws in enumerate(docs_words)}
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in corpus.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in scrub_repeated_passages(
            docs, window=window, stride=stride
        ).collect()
    }
    assert got == _py_scrub(corpus, window, stride)


def _py_lm_scores(corpus: dict[int, str]):
    """Pure-Python reference for self-trained lm_score (add-1/2
    smoothing, micro-bit quantization)."""
    import math
    from collections import Counter

    from vcfdbr_spark.operators.lm import LM_QUANT

    bigrams = {
        did: list(zip(t.lower().split(" "), t.lower().split(" ")[1:]))
        for did, t in corpus.items()
    }
    counts = Counter(b for bs in bigrams.values() for b in bs)
    ctx = Counter()
    for (p, _), c in counts.items():
        ctx[p] += c
    vocab = len({c for _, c in counts})
    q = {
        b: round(math.log2((2 * c + 1) / (2 * ctx[b[0]] + vocab)) * LM_QUANT)
        for b, c in counts.items()
    }
    out = {}
    for did, bs in bigrams.items():
        if not bs:
            continue
        # integer round-half-up of S/N micro-bits, then one exact
        # integer-by-1e6 division — the engine-portable boundary rule
        # lm_score and its DuckDB oracle both compute (r11: the
        # float-path round(S/N/1e6, 6) was engine-dependent on exact
        # half-micro-bit boundaries)
        s, n = -sum(q[b] for b in bs), len(bs)
        bits = ((2 * s + n) // (2 * n)) / LM_QUANT
        out[did] = (n, bits)
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "Dd"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_lm_score_matches_python_oracle(spark, docs_words):
    from vcfdbr_spark.operators.lm import lm_score

    corpus = {i: " ".join(ws) for i, ws in enumerate(docs_words)}
    docs = spark.createDataFrame(
        list(corpus.items()), ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["bits_per_bigram"])
        for r in lm_score(docs).collect()
    }
    assert got == _py_lm_scores(corpus)


# --- domain_mix_sample vs a pure-Python replay (continuation) -------
# Oracle: hashlib md5 + the published fixed IEEE-double nesting
# thr_d = floor(2^32 * ((c * t_d) / W_d)), c = min_d(W_d / t_d).


def _mix_py(rows, targets, seed="mix"):
    import hashlib
    import math

    w_d: dict[str, float] = {}
    for _k, d, w in rows:
        if d in targets:
            w_d[d] = w_d.get(d, 0.0) + float(w)
    if not w_d:
        return set()
    c = min(w_d[d] / targets[d] for d in w_d)
    thr = {
        d: math.floor(float(2**32) * ((c * targets[d]) / w_d[d])) for d in w_d
    }
    out = set()
    for k, d, _w in rows:
        if d not in thr:
            continue
        u = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:8], 16)
        if u < thr[d]:
            out.add(k)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["web", "code", "wiki", "books"]),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=1,
        max_size=120,
    ),
    st.dictionaries(
        st.sampled_from(["web", "code", "wiki", "books"]),
        st.floats(min_value=0.01, max_value=10.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=4,
    ),
)
def test_domain_mix_matches_python_oracle(spark, entries, targets):
    """Exact keep-set equality for arbitrary domain/weight corpora
    and arbitrary (unnormalized) positive targets — including
    extreme ratios, single-domain targets, and domains absent from
    the corpus."""
    from vcfdbr_spark.operators.sampling import domain_mix_sample

    rows = [(i, d, w) for i, (d, w) in enumerate(entries)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, w long")
    got = {
        r["doc_id"]
        for r in domain_mix_sample(
            df, targets, key_col="doc_id", domain_col="dom", weight_col="w"
        ).collect()
    }
    assert got == _mix_py(rows, targets)
