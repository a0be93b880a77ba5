"""Benchmark harness — prints the full per-query JSON line, then a
COMPACT summary line LAST (the grading driver parses the final stdout
line through a ~2,000-char tail window; see ``compact_line``).

Mirrors the reference's benchmark structure (BASELINE.md): a VCFdb is
BUILT ONCE (reported as ingest_build_store), then the canonical read
workloads run against the materialized range-sorted Parquet store:

- filter_test_per_gene_median: median single-gene latency over a
  20-gene sweep (reference: 0.053-0.156 s/gene, benchmarks/01)
- pull_random_ids_1000: genotype pull of 1,000 random ids
  (reference: 35.7 s table / 4.6 s file at 1-16 cores, benchmarks/03)
- pull_geno_gene: filter_test ∘ genotype pull for one gene
  (reference: 4.76-11.0 s, benchmarks/02)
- per_gene_counts_all: every gene in ONE aggregation — the Spark-native
  replacement for the reference's per-gene loop
- interval_query: locus scan

plus the training-data / relational operators straight off the sf
parquet.  Queries forced end-to-end via the noop sink or collect()
(collect where the reference's workload collects).

Env: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
$SPARK_GRAFT_CPUS (local parallelism).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DATA_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q10",
    "tpch_q18",
    "filter_distinct_join_count",
    "per_key_count_binned",
    "events_hourly",
    "events_sliding",
    "events_sessions",
    "events_asof",
    "events_asof_fwd",
    "events_asof_nearest",
    "events_rollup",
    "events_cube",
    "distinct_sketch",
    "corpus_overlap",
    "source_overlap",
    "dedup_exact",
    "text_stats",
    "minhash_pairs",
    "ngram_jaccard",
    "simhash",
    "simhash_dup_pairs",
    "pack_sequences",
    "pack_shuffled",
    "chunk_documents",
    "lm_score",
    "doc_repetition",
    "weighted_sample",
    "quality_prune",
    "split_corpus",
    "domain_mix",
    "epoch_shuffle",
    "decontaminate_splits",
    "snapshot_delta",
    "decontaminate_batch",
    "text_normalize_dedup",
    "pii_scrub",
    "repeated_passages",
    "scrub_passages",
    "top_ngrams",
    "heavy_ngrams",
    "tfidf_keywords",
    "benchmark_contamination",
    "multimodal_frames",
    "embedding_topk",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    "embedding_dup_pairs",
    "embedding_dup_pairs_recall",
    "embedding_dedup_incremental",
    "semantic_dedup",
    "semantic_dedup_capped",
    "corpus_filter",
    "training_mix",
    "multimodal_decode",
    "multimodal_codec",
    "events_pivot",
    "doc_len_quantiles",
    "user_event_history",
    "lsh_recall",
    # evidence keys (r12/r13) tracked since r13 so their cost has a
    # round-over-round history (SCALE.md "evidence queries")
    "heavy_ngrams_planted",
    "lm_score_floored",
    "lm_zipf_floor",
    "stream_dedup_pairs",
    "stream_sketch_kmv",
    "stream_batch_parity",
]

# Streaming evidence keys rebuild a temp source corpus and run real
# micro-batch jobs per invocation — a measured PIPELINE, not a lazy
# plan.  Single-shot like the build/ingest keys (the first run IS the
# cost; 3x-running three streams per bench would dominate the wall
# clock for a fixed-cost number), and split OUT of the engine
# headline into `evidence_queries_total` the same way the
# definitional ground-truth baselines are: stream_batch_parity alone
# is ~70 s of corpus-rewrite + micro-batch setup at sf0.1 — engine
# throughput and evidence-pipeline fixed cost are different
# quantities and adding them makes the headline unreadable
# (measured r13: common-key median vs r12 was 1.07x while the summed
# headline read 2.6x).
SINGLE_SHOT_QUERIES = frozenset(
    ["stream_dedup_pairs", "stream_sketch_kmv", "stream_batch_parity"]
)
EVIDENCE_QUERIES = SINGLE_SHOT_QUERIES

GENE_SWEEP = [f"G{i:03d}" for i in range(1, 201, 10)]  # 20 genes

# Definitional ground-truth baselines: their query set grows with the
# corpus BY CONSTRUCTION (they time the |Q|·|C| exact answer the
# recall/correctness checks need, not the engine's production path —
# which is the indexed/banded keys).  At sf5 they are ~45% of the
# total and scale ~25x per 5x tier by design, so they are reported
# under a separate baseline_queries_total: still run, still recorded
# per-key, just not polluting the engine headline.
BASELINE_QUERIES = frozenset(
    ["embedding_topk", "lsh_recall", "embedding_ivf_topk", "embedding_lsh_topk"]
)

# Per-query repeat count: the recorded number is the MEDIAN of N
# timed in-process runs.  Single-shot timings in this sandbox swing
# ±30% run-to-run (BENCH_NOTES.md's four-run study; round 4 recorded
# 3.3s for a query that re-times at 0.5s) — medians make the
# committed JSON self-correcting.  No separate warm-up run: with
# N≥3 the cold first run sits above the median and is discarded by
# it, so the median IS the warm steady-state number at 3 runs' cost,
# not 4.  One-time build/ingest keys stay single-shot: they measure
# a write pipeline whose cost is the first run by definition.
BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


CSQ_DESC = (
    "Consequence annotations from Ensembl VEP. Format: "
    "Allele|Consequence|IMPACT|SYMBOL|SYMBOL_SOURCE|Gene|Feature_type|Feature"
    "|BIOTYPE|EXON|INTRON|CANONICAL"
)
_CONS = ["missense_variant", "intron_variant", "synonymous_variant",
         "splice_region_variant&intron_variant", "stop_gained"]
_GTS = ["0/0", "0|0", "0/1", "1|0", "1/1", "1|1", "./.", "0/."]


def _gen_vcf(path: str, n_variants: int, n_samples: int) -> None:
    """Deterministic synthetic VCF for ingest throughput measurement."""
    samples = [f"S{i:04d}" for i in range(n_samples)]
    with open(path, "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        for c in ("1", "2", "3"):
            fh.write(f"##contig=<ID={c},length=200000000>\n")
        fh.write('##INFO=<ID=AC,Number=A,Type=Integer,Description="ac">\n')
        fh.write('##INFO=<ID=AF,Number=A,Type=Float,Description="af">\n')
        fh.write('##INFO=<ID=AN,Number=1,Type=Integer,Description="an">\n')
        fh.write(f'##INFO=<ID=CSQ,Number=.,Type=String,Description="{CSQ_DESC}">\n')
        fh.write('##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">\n')
        fh.write('##FORMAT=<ID=DP,Number=1,Type=Integer,Description="dp">\n')
        fh.write(
            "\t".join(
                ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                 "INFO", "FORMAT"] + samples
            )
            + "\n"
        )
        for i in range(n_variants):
            chrom = ("1", "2", "3")[i % 3]
            pos = 1000 + (i // 3) * 37
            gene = f"G{i % 300:03d}"
            n_tx = 1 + (i % 3)
            csq = ",".join(
                f"A|{_CONS[(i + t) % 5]}|MODERATE|{gene}|EntrezGene|ENSG{gene}"
                f"|Transcript|ENST{gene}_{t}|protein_coding|||YES"
                for t in range(n_tx)
            )
            info = f"AC=1;AF=0.{(i % 997):03d};AN={2 * n_samples};CSQ={csq}"
            genos = "\t".join(
                f"{_GTS[(i * 7 + s) % 8]}:{(i + s) % 90}"
                for s in range(n_samples)
            )
            fh.write(
                f"{chrom}\t{pos}\t.\tA\tG\t50\tPASS\t{info}\tGT:DP\t{genos}\n"
            )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from vcfdbr_spark import get_spark, simdata
    from vcfdbr_spark.entry_queries import QUERIES
    from vcfdbr_spark.operators.query import (
        filter_test,
        interval_query,
        per_gene_counts,
        pull_geno_test,
        pull_vars_by_id,
    )

    spark = get_spark(app_name="vcfdbr-bench", extra_conf={"spark.ui.enabled": "false"})
    spark.range(1).count()  # JVM warmup outside timed region
    timings: dict[str, float] = {}
    iqrs: dict[str, float] = {}

    def timed(name: str, fn, repeats: int = BENCH_REPEATS) -> None:
        """Record the median of `repeats` runs (cold first run is
        discarded by the median when repeats >= 3).

        Sub-second keys extend to median-of-5: they are cheap to
        re-measure and they are exactly the keys whose round-to-round
        deltas otherwise drown in the shared-box ~1.5x noise band
        (round 8: 11 of 54 keys drifted +15-31% with zero code
        change).  The per-key IQR is recorded alongside the median so
        the report generator can flag only out-of-band moves."""
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            fn()
            runs.append(time.time() - t0)
        if statistics.median(runs) < 1.0 and repeats >= 3:
            for _ in range(max(0, 5 - len(runs))):
                t0 = time.time()
                fn()
                runs.append(time.time() - t0)
        timings[name] = round(statistics.median(runs), 3)
        if len(runs) >= 2:
            q = statistics.quantiles(runs, n=4, method="inclusive")
            iqrs[name] = round(q[2] - q[0], 3)

    store = tempfile.mkdtemp(prefix="vcfdbr_bench_store_")
    try:
        # ---- one-time build: derive + write the range-sorted store ----
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        t0 = time.time()
        # dense-id assignment happens ONCE; all three tables derive
        # from the persisted keyed frame (the reference's single-scan
        # chunk loop feeds all three tables the same way)
        keyed = simdata.sim_info_keyed(orders).persist()
        # persist the joined/derived frames too: repartitionByRange
        # runs a boundary-sampling pass that would otherwise execute
        # the lineitem⋈keyed join + derivation TWICE per table (same
        # reason write_vcfdb range-writes over a persisted parse)
        impact_df = simdata.sim_impact(orders, li, keyed=keyed).persist()
        geno_df = simdata.sim_geno(orders, li, keyed=keyed).persist()

        # independent jobs over the shared persisted key frame —
        # submit concurrently (same strategy as write_vcfdb), each in
        # the store's table-mode layout
        from concurrent.futures import ThreadPoolExecutor

        from vcfdbr_spark.sources.store import write_table

        frames = {
            "variant_info": simdata.sim_info(orders, keyed=keyed),
            "variant_impact": impact_df,
            "variant_geno": geno_df,
        }
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [
                pool.submit(
                    write_table, df, store, t, {"mode": "table"}, n_partitions=8
                )
                for t, df in frames.items()
            ]:
                f.result()
        keyed.unpersist()
        impact_df.unpersist()
        geno_df.unpersist()
        timings["ingest_build_store"] = round(time.time() - t0, 3)

        # warm store handles (the reference benchmarks run against a
        # built DB with a warm page cache; persist() is the analog)
        info = spark.read.parquet(f"{store}/variant_info").persist()
        impact = spark.read.parquet(f"{store}/variant_impact").persist()
        geno = spark.read.parquet(f"{store}/variant_geno").persist()
        max_id = info.agg(F.max("variant_id")).first()[0]
        impact.count(), geno.count()

        # ---- canonical read workloads over the built store ----
        # Same median-of-N policy as every other key (the sweep was the
        # one remaining single-shot read key, so its median carried the
        # first sweep's cold-start): run the whole 20-gene sweep
        # BENCH_REPEATS times and take each gene's median latency.
        per_gene_runs = [[] for _ in GENE_SWEEP]
        for _ in range(BENCH_REPEATS):
            for i, g in enumerate(GENE_SWEEP):
                t0 = time.time()
                filter_test(impact, info, g, af=0.01).count()
                per_gene_runs[i].append(time.time() - t0)
        per_gene = [statistics.median(runs) for runs in per_gene_runs]
        timings["filter_test_per_gene_median"] = round(
            statistics.median(per_gene), 3
        )
        timings["filter_test_per_gene_max"] = round(max(per_gene), 3)

        import random

        rnd = random.Random(42)
        ids = sorted(rnd.sample(range(1, max_id + 1), min(1000, max_id)))
        timed("pull_random_ids_1000", lambda: pull_vars_by_id(geno, ids).collect())
        timed(
            "pull_geno_gene",
            lambda: pull_geno_test(impact, info, geno, "G001", af=0.5).collect(),
        )
        timed(
            "per_gene_counts_all",
            lambda: _noop(per_gene_counts(impact, info, af=0.01)),
        )
        timed(
            "interval_query",
            lambda: interval_query(info, "2", 2_000, 50_000).count(),
        )

        # ---- skewed-gene canonical path: remap ~10% of impact rows
        # onto ONE hot symbol (the reference's genome regime — its
        # hottest gene carries 121,630 variants ≈ 10% of impact,
        # benchmarks/01-filter-benchmark-genome.csv) and run the full
        # filter→geno-pull chain on it.  Stays fast because the
        # filtered side broadcasts: the geno table never shuffles, so
        # the hot key has no reducer to skew (pinned by
        # test_canonical_queries_on_skewed_gene_fixture).
        skew_impact = impact.withColumn(
            "symbol",
            F.when(
                F.pmod(F.col("variant_id"), F.lit(10)) == 0, F.lit("HOTGENE")
            ).otherwise(F.col("symbol")),
        )
        timed(
            "pull_geno_hot_gene_10pct",
            lambda: pull_geno_test(
                skew_impact, info, geno, "HOTGENE", af=0.5
            ).count(),
        )

        # ---- reference-scale ABSOLUTE hot gene: the genome
        # benchmark's hottest gene carries 121,630 variants regardless
        # of cohort size (benchmarks/01-filter-benchmark-genome.csv
        # max).  The 10% key above scales the hot set with the data;
        # this one pins it to the reference's absolute count, so at
        # sf1 (~1.5M variants) the hot gene is the reference's actual
        # worst case (~122k variants on ONE symbol) while the corpus
        # is 10x bigger.  At sf0.1 the divisor floors at 2 (~50% of
        # rows hot) — a heavier-skew stress, documented as such; the
        # key's scale story is the sf1 row (SCALE.md).
        ref_hot_variants = 121_630
        k_hot = max(2, -(-max_id // ref_hot_variants))
        ref_impact = impact.withColumn(
            "symbol",
            F.when(
                F.pmod(F.col("variant_id"), F.lit(k_hot)) == 0,
                F.lit("HOTGENE"),
            ).otherwise(F.col("symbol")),
        )
        timed(
            "pull_geno_hot_gene_ref_scale",
            lambda: pull_geno_test(
                ref_impact, info, geno, "HOTGENE", af=0.5
            ).count(),
        )

        # ---- bucketed-layout join (plans/bucketing.py): the full
        # info⋈geno merge join + aggregate, plain range-sorted store
        # vs co-bucketed catalog tables.  This is the workload
        # co-location exists for — at scale EVERY geno query joins
        # info, and the plain layout shuffles both tables every time
        # while the bucketed one reads matching buckets side-by-side
        # with zero join Exchange.  (A 1,000-id filtered pull is NOT
        # the showcase: the filtered side is tiny, so the shuffle the
        # layout saves is negligible there.)  Both joins carry the
        # same merge hint so the delta isolates the layout; the
        # bucketed build is untimed (an index build); the persisted
        # handles are dropped first so BOTH sides read parquet.
        from vcfdbr_spark.plans.bucketing import write_bucketed

        for t in ("vcfdbr_bench_binfo", "vcfdbr_bench_bgeno"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_bucketed(
            info.repartition(32, "variant_id"), "vcfdbr_bench_binfo",
            ["variant_id"], 32, sort_cols=["variant_id"],
            path=f"{store}/b_info",
        )
        write_bucketed(
            geno.repartition(32, "variant_id"), "vcfdbr_bench_bgeno",
            ["variant_id"], 32, sort_cols=["variant_id", "sample"],
            path=f"{store}/b_geno",
        )
        info.unpersist(True)
        geno.unpersist(True)
        impact.unpersist(True)
        info_cold = spark.read.parquet(f"{store}/variant_info")
        geno_cold = spark.read.parquet(f"{store}/variant_geno")

        def _join_agg(g, i):
            return (
                g.hint("merge")
                .join(i, "variant_id")
                .groupBy("chr")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg("dp").alias("mean_dp"),
                )
            )

        timed(
            "join_geno_info_plain",
            lambda: _join_agg(geno_cold, info_cold).collect(),
        )
        timed(
            "join_geno_info_bucketed",
            lambda: _join_agg(
                spark.table("vcfdbr_bench_bgeno"),
                spark.table("vcfdbr_bench_binfo"),
            ).collect(),
        )
        for t in ("vcfdbr_bench_binfo", "vcfdbr_bench_bgeno"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        shutil.rmtree(store, ignore_errors=True)

    # ---- real VCF ingest throughput (parse + 3-table store write) ----
    vcf_dir = tempfile.mkdtemp(prefix="vcfdbr_bench_vcf_")
    try:
        from vcfdbr_spark.sources.store import write_vcfdb
        from vcfdbr_spark.sources.vcf import read_vcf

        n_var, n_samp = 20_000, 20
        _gen_vcf(f"{vcf_dir}/bench.vcf", n_var, n_samp)
        t0 = time.time()
        tables = read_vcf(spark, f"{vcf_dir}/bench.vcf")
        write_vcfdb(tables, f"{vcf_dir}/store", mode="table")
        dt = time.time() - t0
        # 20k variants x 20 samples = 400k geno rows parsed + written
        timings["vcf_ingest_20k_variants"] = round(dt, 3)
        # wide-cohort shape (the reference's 1KG regime: 2,504 samples)
        _gen_vcf(f"{vcf_dir}/wide.vcf", 500, 2504)
        t0 = time.time()
        wide = read_vcf(spark, f"{vcf_dir}/wide.vcf")
        wide.variant_geno.write.mode("overwrite").format("noop").save()
        timings["vcf_ingest_wide_500x2504"] = round(time.time() - t0, 3)
        # untimed store materialization for the wide-pull workload
        # (hash repartition, not range: repartitionByRange adds a
        # boundary-sampling pass that recomputes the whole melt)
        (
            wide.variant_geno.repartition(8, "variant_id")
            .sortWithinPartitions("variant_id", "sample")
            .write.mode("overwrite")
            .parquet(f"{vcf_dir}/wide_geno")
        )
        # reference's headline workload: random-id genotype pull on the
        # 2,504-sample cohort (BASELINE: 4.6-42.9 s at 1 core)
        wide_geno = spark.read.parquet(f"{vcf_dir}/wide_geno")
        import random as _random

        wide_ids = sorted(_random.Random(7).sample(range(1, 501), 100))
        timed(
            "pull_wide_100x2504",
            lambda: pull_vars_by_id(wide_geno, wide_ids).collect(),
        )
    finally:
        shutil.rmtree(vcf_dir, ignore_errors=True)

    # ---- relational + training-data operators off the sf parquet ----
    # Bench-only plan overrides: keys whose REGISTERED query is a
    # definitional baseline that would dominate the headline total at
    # scale.  The correctness oracle always runs the registered
    # (exact) plan; only the timed bench plan differs.
    from vcfdbr_spark.entry_queries import q_embedding_topk_sampled

    overrides = {"embedding_topk": q_embedding_topk_sampled}
    for name in DATA_QUERIES:
        fn = overrides.get(name, QUERIES[name])
        timed(
            name,
            lambda fn=fn: _noop(fn(spark, sf_dir)),
            repeats=1 if name in SINGLE_SHOT_QUERIES else BENCH_REPEATS,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_queries_total",
        # engine headline EXCLUDES the definitional ground-truth
        # baselines (split out since r12; see BASELINE_QUERIES) and
        # the streaming evidence pipelines (since r13; see
        # EVIDENCE_QUERIES)
        "value": round(
            sum(
                v
                for k, v in timings.items()
                if k not in BASELINE_QUERIES and k not in EVIDENCE_QUERIES
            ),
            3,
        ),
        "baseline_queries_total": round(
            sum(v for k, v in timings.items() if k in BASELINE_QUERIES), 3
        ),
        "evidence_queries_total": round(
            sum(v for k, v in timings.items() if k in EVIDENCE_QUERIES), 3
        ),
        "unit": "sec",
        "queries": timings,
        # inter-quartile range of the timed runs per repeated
        # key (build/ingest keys are single-shot by policy and
        # have no entry) — lets the report flag only
        # out-of-band round-to-round moves
        "iqr": iqrs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full detail first (BENCH_LOCAL_r*.json is captured from this
    # line), then a COMPACT line LAST: the grading driver parses the
    # final stdout line through a 2,000-char tail window, and the full
    # dict outgrew it in round 9 (3.1 kB -> "parsed": null).  The
    # compact line keeps the headline total and the most expensive
    # per-query timings that fit a conservative byte budget, and says
    # how many keys it dropped — never silently.
    print(json.dumps(full))
    print(json.dumps(compact_line(full)))


COMPACT_BUDGET = 1500  # bytes; driver tail window is 2,000 chars

# Keys pinned into the compact line AHEAD of the greedy cost fill
# (r14 verdict item 6/8): these are the BASELINE.md-comparable
# canonical-read workloads, and the greedy most-expensive-first fill
# rotated cheap-but-reference-comparable keys in and out of the
# driver's view whenever costs re-ranked ("dropped_from_bench"/
# "new_in_bench" churn in PERF round-over-round diffs).  Pins take
# their share of the budget first, so the greedy fill has less room:
# an expensive unpinned key that fit before can drop out of the line
# (``omitted`` counts it; the full line still reports every key).
COMPACT_PINNED = (
    "filter_test_per_gene_median",
    "pull_random_ids_1000",
    "pull_geno_gene",
    "pull_wide_100x2504",
    "per_gene_counts_all",
)


def compact_line(full: dict) -> dict:
    """Driver-facing summary: same metric/value/unit/sf, with
    ``queries`` filled by :data:`COMPACT_PINNED` first, then greedily
    most-expensive-first until the serialized line would exceed
    :data:`COMPACT_BUDGET` bytes.  ``n_queries``/``omitted`` make the
    truncation explicit."""
    timings = full["queries"]
    base = {
        "metric": full["metric"],
        "value": full["value"],
        "baseline_queries_total": full.get("baseline_queries_total", 0.0),
        "evidence_queries_total": full.get("evidence_queries_total", 0.0),
        "unit": full["unit"],
        "sf": full["sf"],
        "n_queries": len(timings),
        "omitted": 0,
        "queries": {},
    }
    pinned = [k for k in COMPACT_PINNED if k in timings]
    order = pinned + sorted(
        (k for k in timings if k not in pinned),
        key=lambda k: (-timings[k], k),
    )
    kept: dict[str, float] = {}
    for k in order:
        trial = dict(base, queries=dict(kept, **{k: timings[k]}))
        trial["omitted"] = len(timings) - len(trial["queries"])
        if len(json.dumps(trial)) > COMPACT_BUDGET:
            if k in pinned:
                continue  # a pin must never evict another pin
            break
        kept[k] = timings[k]
    base["queries"] = kept
    base["omitted"] = len(timings) - len(kept)
    return base


if __name__ == "__main__":
    main()
