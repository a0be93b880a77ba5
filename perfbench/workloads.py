"""The benchmark's workloads: one client, closed loop, one process.

Each workload has a ``setup`` (input generation, store build, warm-up;
reported as ``setup_s``), a ``warm`` that readies a fresh session over
the same set-up state, and a ``timed`` loop that runs rounds of
operations until the run's deadline.  Every timed operation is checked
against the generator's truth; a wrong answer or an exception counts as
failed and the loop goes on.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

import gen
from spans import Tracer

N_SAMPLES = 32
N_GENES = 200
STORE_SITES = 10_000
APPEND_SITES = 1_000
# untimed rounds of the query mix before timing: the first minute of
# queries in a fresh JVM runs ~20% slower while the JIT catches up
WARM_ROUNDS = 4
PULL_IDS = 1_000
INTERVAL_BP = 100_000
STREAM_DOCS = 900
STREAM_FILES = 3
STREAM_COMPACT_EVERY = 1
# the index holds 3,600 band rows (4 bands x 900 docs): the default
# 64 prefix dirs would make each fold write 64 tiny files
STREAM_N_PFX = 8


def parquet_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


@dataclass
class Ctx:
    """State one workload run shares across set-up and timed loops."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer = field(default_factory=Tracer)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    rows_out: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    attempted: int = 0
    failed: int = 0
    info: dict[str, float] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, span: str, fn, check):
        """Time ``fn()``, then ``check(result)`` -> (ok, rows returned)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                result = fn()
            dt = time.perf_counter() - t0
            ok, rows = check(result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.samples[kind].append(dt)
        self.rows_out[span] += rows
        if not ok:
            print(f"wrong result: {kind} ({span})", file=sys.stderr)
            self.failed += 1
        return result


def timed_loop(ctx: Ctx, step) -> None:
    """Call ``step(1)``, ``step(2)``, ... until the run's ``seconds``
    have passed; at least once."""
    deadline = time.perf_counter() + ctx.seconds
    n = 0
    while n == 0 or time.perf_counter() < deadline:
        n += 1
        step(n)


# ------------------------------------------------------------- VCF reads


def _pdf_ids(pdf) -> set[int]:
    return set(int(v) for v in pdf["variant_id"])


def _geno_ok(pdf, want: tuple[int, int, int]) -> bool:
    gt = pdf["gt"].fillna(0)
    return (len(pdf), int((gt > 0).sum()), int(gt.sum())) == want


class GeneQueries:
    """Seeded read mix against a store that set-up built, grew by
    appends and compacted; the timed loop does no writes."""

    name = "gene_queries"
    mix = {"filter": 3, "pull_ids": 1, "pull_gene": 1, "interval": 1, "gene_counts": 1}

    def build(self, ctx: Ctx, vcf: str, store: str) -> None:
        from vcfdbr_spark import read_vcf, write_vcfdb

        t0 = time.perf_counter()
        with ctx.tracer.span("vcf.read_vcf"):
            tables = read_vcf(ctx.spark, vcf)
        with ctx.tracer.span("store.write_vcfdb"):
            write_vcfdb(tables, store, mode="table")
        ctx.info["build_s"] = time.perf_counter() - t0
        with ctx.tracer.span("vcf.rejects"):
            ctx.info["vcf.rejects"] = tables.rejects.count()

    def open(self, ctx: Ctx, store: str) -> None:
        from vcfdbr_spark import open_vcfdb

        self.db = open_vcfdb(ctx.spark, store)

    def filter(self, ctx: Ctx, kind: str, gene: int) -> None:
        from vcfdbr_spark.operators.query import filter_test

        db, want = self.db, self.truth.gene_rare_ids(gene)
        ctx.op(
            kind, "query.filter",
            lambda: filter_test(db.variant_impact, db.variant_info, gen.gene_symbol(gene)).toPandas(),
            lambda pdf: (len(pdf) == len(want) and _pdf_ids(pdf) == set(want.tolist()), len(pdf)),
        )

    def pull_ids(self, ctx: Ctx, kind: str, rng) -> None:
        ids = np.sort(rng.choice(self.truth.ids(), PULL_IDS, replace=False))
        want = self.truth.geno_summary(ids)
        ctx.op(
            kind, "query.pull_ids",
            lambda: self.db.pull(ids.tolist()).toPandas(),
            lambda pdf: (_geno_ok(pdf, want), len(pdf)),
        )

    def pull_gene(self, ctx: Ctx, kind: str, gene: int) -> None:
        from vcfdbr_spark.operators.query import pull_geno_test

        db = self.db
        want = self.truth.geno_summary(self.truth.gene_rare_ids(gene))
        ctx.op(
            kind, "query.pull_gene",
            lambda: pull_geno_test(
                db.variant_impact, db.variant_info, db.variant_geno, gen.gene_symbol(gene)
            ).toPandas(),
            lambda pdf: (_geno_ok(pdf, want), len(pdf)),
        )

    def interval(self, ctx: Ctx, kind: str, rng) -> None:
        from vcfdbr_spark.operators.query import interval_query

        c = self.truth.cohort
        contig = int(rng.integers(0, len(gen.CONTIGS)))
        on = c.pos[self.truth.rows][c.contig[self.truth.rows] == contig]
        start = int(rng.integers(on.min(), max(on.min() + 1, on.max() - INTERVAL_BP)))
        end = start + INTERVAL_BP
        want = set(self.truth.interval_ids(contig, start, end).tolist())
        ctx.op(
            kind, "query.interval",
            lambda: interval_query(self.db.variant_info, gen.CONTIGS[contig], start, end).toPandas(),
            lambda pdf: (_pdf_ids(pdf) == want and len(pdf) == len(want), len(pdf)),
        )

    def gene_counts(self, ctx: Ctx, kind: str) -> None:
        from vcfdbr_spark.operators.query import per_gene_counts

        want = self.truth.rare_by_gene()

        def check(pdf):
            got = {r.symbol: int(r.n_vars) for r in pdf.itertuples()}
            bins_ok = all(int(r.bin) == math.ceil(r.n_vars / 500) for r in pdf.itertuples())
            return got == want and bins_ok, len(pdf)

        ctx.op(
            kind, "query.gene_counts",
            lambda: per_gene_counts(self.db.variant_impact, self.db.variant_info).toPandas(),
            check,
        )

    def setup(self, ctx: Ctx) -> None:
        from vcfdbr_spark import append_vcf
        from vcfdbr_spark.sources.build import compact_table

        n = STORE_SITES + APPEND_SITES
        self.cohort = gen.Cohort(ctx.seed, n, N_SAMPLES, N_GENES)
        order = np.random.default_rng([ctx.seed, 3]).permutation(n)
        base, extra = order[:STORE_SITES], order[STORE_SITES:]
        vcf, extra_vcf = ctx.path("base.vcf.gz"), ctx.path("append.vcf.gz")
        ctx.info["vcf.input_bytes"] = self.cohort.write_vcf(vcf, base, 3, 2)
        ctx.info["vcf.variants"] = STORE_SITES
        extra_bytes = self.cohort.write_vcf(extra_vcf, extra)
        self.truth = gen.StoreTruth(self.cohort)
        self.truth.add_part(base)
        self.store = ctx.path("store")
        t0 = time.perf_counter()
        self.build(ctx, vcf, self.store)
        ctx.info["store.files_written"] = parquet_stats(self.store)[0]
        n_new = ctx.op(
            "append", "build.append_vcf",
            lambda: append_vcf(ctx.spark, extra_vcf, self.store),
            lambda n_new: (n_new == len(extra), 0),
        )
        if n_new is not None:
            self.truth.add_part(extra)
            ctx.info["append_input_bytes"] = extra_bytes
        tables = ("variant_info", "variant_impact", "variant_geno")
        ctx.info["build.files_per_table"] = statistics.mean(
            parquet_stats(os.path.join(self.store, t))[0] for t in tables
        )
        want = self.truth.n_variants * N_SAMPLES
        ctx.op(
            "compact", "build.compact_table",
            lambda: compact_table(ctx.spark, self.store, "variant_geno"),
            lambda n_rows: (n_rows == want, 0),
        )
        ctx.info["engine_setup_s"] = time.perf_counter() - t0
        in_bytes = ctx.info["vcf.input_bytes"] + ctx.info.get("append_input_bytes", 0)
        ctx.info["bytes_per_input_byte"] = parquet_stats(self.store)[1] / in_bytes
        self.warm(ctx, WARM_ROUNDS)

    def warm(self, ctx: Ctx, rounds: int = 0) -> None:
        """Open the store, then ``rounds`` checked, untimed rounds of the
        mix (at least one call of each query shape)."""
        t0 = time.perf_counter()
        self.open(ctx, self.store)
        for r in range(max(1, rounds)):
            self.round(ctx, np.random.default_rng([ctx.seed, 1, r]), kind="warm")
        ctx.info["engine_setup_s"] = ctx.info.get("engine_setup_s", 0) + time.perf_counter() - t0

    def round(self, ctx: Ctx, rng, kind: str | None = None) -> None:
        """The hot gene and two uniform genes, a uniform 1,000-id pull,
        a genotype pull of one of the 20 next-largest genes, one 100 kb
        interval and the all-gene count.  Samples go under each op's
        name, or all under ``kind``."""
        self.filter(ctx, kind or "filter", 0)
        for g in rng.choice(N_GENES, 2, replace=False):
            self.filter(ctx, kind or "filter", int(g))
        self.pull_ids(ctx, kind or "pull_ids", rng)
        self.pull_gene(ctx, kind or "pull_gene", int(rng.integers(1, 21)))
        self.interval(ctx, kind or "interval", rng)
        self.gene_counts(ctx, kind or "gene_counts")

    def timed(self, ctx: Ctx) -> None:
        timed_loop(ctx, lambda r: self.round(ctx, np.random.default_rng([ctx.seed, 2, r])))


# ------------------------------------------------------------- streaming


class BatchListener(StreamingQueryListener):
    """Per-batch timings of every stream, plus a hook run after each
    batch (the stream workload snapshots the folded index there)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[tuple[int, float, int]] = []
        self.after_batch = None

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            with self.lock:
                self.batches.append((p.batchId, p.batchDuration / 1000, p.numInputRows))
            if self.after_batch is not None:
                self.after_batch()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamDedup:
    """``stream_fuzzy_dedup`` over a seeded corpus split into source
    files, one file per micro-batch, folding the index every
    ``STREAM_COMPACT_EVERY`` batches."""

    name = "stream_dedup"
    # the round is one stream's worth of micro-batches, each at the
    # median batch time (from the listener) over all timed streams
    mix = {"batch": STREAM_FILES}

    def setup(self, ctx: Ctx) -> None:
        import pandas as pd
        from vcfdbr_spark.operators.dedup import minhash_dedup_pairs

        docs = gen.make_documents(ctx.seed, STREAM_DOCS)
        src = ctx.path("src")
        gen.write_documents(docs, src, STREAM_FILES)
        ctx.info["stream.input_bytes"] = gen.document_bytes(docs)
        self.src = src + "/*.parquet"
        os.makedirs(ctx.path("src_warm"))
        shutil.copy(os.path.join(src, "part-000.parquet"), ctx.path("src_warm"))
        self.warm_src = ctx.path("src_warm", "*.parquet")
        t0 = time.perf_counter()
        frame = ctx.spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
        self.want = gen.pair_digest(minhash_dedup_pairs(frame).collect())
        ctx.info["engine_setup_s"] = time.perf_counter() - t0
        self.runs = 0
        self.warm(ctx, stream=True)

    def warm(self, ctx: Ctx, stream: bool = False) -> None:
        """Register the batch listener; with ``stream``, run one untimed
        stream over the first source file: a fresh JVM's first stream
        takes about twice as long as the later ones."""
        t0 = time.perf_counter()
        self.listener = BatchListener()
        ctx.spark.streams.addListener(self.listener)
        if stream:
            self.stream(ctx, "warm")
        ctx.info["engine_setup_s"] = ctx.info.get("engine_setup_s", 0) + time.perf_counter() - t0

    def _snapshot(self, comp_dir: str, seen: dict) -> None:
        files = []
        for d, _, names in os.walk(comp_dir):
            files += [os.path.join(d, n) for n in names if n.endswith(".parquet")]
        try:
            key = frozenset(files)
            if key and key not in seen:
                seen[key] = sum(os.path.getsize(f) for f in files)
        except OSError:
            pass  # a fold swapped the layout while listing; the next batch sees it

    def stream(self, ctx: Ctx, kind: str) -> None:
        """One stream into a fresh output dir.  A timed one (``kind``
        "stream") reads the whole source, is checked, and adds its
        batches, folds and bytes to the run's counters; the warm-up one
        reads one file, under its own span, and is not checked."""
        from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

        self.runs += 1
        out = ctx.path(f"stream{self.runs}")
        comp_dir = os.path.join(out, "band_index_compacted")
        seen: dict = {}
        with self.listener.lock:
            self.listener.batches = []
        self.listener.after_batch = lambda: self._snapshot(comp_dir, seen)

        def check(_):
            pairs = ctx.spark.read.parquet(out + "/pairs").select("a", "b").distinct().collect()
            got = gen.pair_digest(pairs)
            return got == self.want, got[0]

        timed = kind == "stream"
        ctx.op(kind, "stream.fuzzy_dedup" if timed else "stream.warm", lambda: stream_fuzzy_dedup(
            ctx.spark, self.src if timed else self.warm_src, out, max_files_per_trigger=1,
            compact_every=STREAM_COMPACT_EVERY, n_pfx=STREAM_N_PFX,
        ), check if timed else lambda _: (True, 0))
        # progress events arrive on the listener bus after the query ends
        n_files = STREAM_FILES if timed else 1
        wait_until = time.perf_counter() + 10
        while len(self.listener.batches) < n_files and time.perf_counter() < wait_until:
            time.sleep(0.05)
        self.listener.after_batch = None
        self._snapshot(comp_dir, seen)
        with self.listener.lock:
            batches = list(self.listener.batches)
        if timed:
            ctx.samples["batch"] += [b[1] for b in batches]
            ctx.info["stream.docs"] = ctx.info.get("stream.docs", 0) + sum(b[2] for b in batches)
            ctx.info["stream.batches"] = ctx.info.get("stream.batches", 0) + len(batches)
            ctx.info["stream.folds"] = ctx.info.get("stream.folds", 0) + len(seen)
            ctx.info["stream.fold_bytes"] = ctx.info.get("stream.fold_bytes", 0) + sum(seen.values())
            idx_files, _ = parquet_stats(os.path.join(out, "band_index"))
            ctx.info["stream.index_files"] = idx_files + parquet_stats(comp_dir)[0]
            out_bytes = sum(
                parquet_stats(os.path.join(out, d))[1]
                for d in ("band_index", "band_index_compacted", "pairs")
            )
            ctx.info["bytes_per_input_byte"] = out_bytes / ctx.info["stream.input_bytes"]
        shutil.rmtree(out, ignore_errors=True)

    def timed(self, ctx: Ctx) -> None:
        timed_loop(ctx, lambda _: self.stream(ctx, "stream"))


WORKLOADS = {w.name: w for w in (GeneQueries, StreamDedup)}
