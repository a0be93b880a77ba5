"""Command-line surface mirroring the reference's ``VCFdb.R`` flags
(VCFdb.R:13-124) plus query subcommands for the built store.

    python -m vcfdbr_spark.cli build --vcf in.vcf --prefix out/db \\
        --mode table|file [--include-multivalue-gt] [--threads N]
    python -m vcfdbr_spark.cli filter --prefix out/db --symbol GENE1 [--af 0.01]
    python -m vcfdbr_spark.cli pull --prefix out/db --ids 1,2,3
    python -m vcfdbr_spark.cli interval --prefix out/db --chr 1 --start 100 --end 5000

The reference's ``--threads`` becomes local core count; on a cluster
spark-submit supplies parallelism and the flag is ignored.
"""

from __future__ import annotations

import argparse
import contextlib
import sys
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from vcfdbr_spark import fs as _fs
from vcfdbr_spark import get_spark
from vcfdbr_spark.functions.text import pii_counts, scrub_pii
from vcfdbr_spark.operators.dedup import (
    BandIndex,
    band_probe_pairs,
    compact_band_index,
    dedup_components,
    dedup_keep_best,
    minhash_band_buckets,
    minhash_dedup_pairs,
    minhash_signatures,
    read_band_index,
    resolve_bucket_cap,
    source_overlap_matrix,
    write_band_index,
)
from vcfdbr_spark.operators.delta import snapshot_delta
from vcfdbr_spark.operators.lm import doc_bigrams, train_bigram_model
from vcfdbr_spark.operators.pipeline import corpus_filter, decontaminate_batch
from vcfdbr_spark.operators.query import filter_test, interval_query
from vcfdbr_spark.operators.sampling import (
    domain_mix_sample,
    epoch_shuffle,
    quality_prune_per_group,
    split_assign_col,
    split_thresholds,
)
from vcfdbr_spark.operators.similarity import (
    embedding_band_index,
    incremental_embedding_dup_pairs,
    ivf_imbalance,
    ivf_list_stats,
    ivf_topk_indexed,
    read_embedding_band_index,
    reindex_ivf,
    write_embedding_band_index,
    write_ivf_index,
)
from vcfdbr_spark.operators.sketch import kmv_overlap, kmv_overlap_sketches
from vcfdbr_spark.plans.checkpoints import eager_checkpoint
from vcfdbr_spark.sources.build import (
    append_vcf,
    build_vcfdb_resumable,
    compact_table,
)
from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb
from vcfdbr_spark.sources.vcf import read_vcf
from vcfdbr_spark.streaming.ingest import (
    read_stream_output,
    read_stream_sketch,
    stream_corpus_filter,
    stream_decontaminate,
    stream_exact_dedup,
    stream_fuzzy_dedup,
    stream_ivf_assign,
    stream_semantic_dedup,
    stream_sketch,
    stream_vcf_ingest,
)


@contextlib.contextmanager
def _stage(name: str, enabled: bool):
    """Per-stage wall-time print for ``build --debug`` — the
    reference's debug timing surface (VCFdb.R:88 sets ``debug``;
    pipeline/02-build-db.R:309-313 prints per-block elapsed times).
    Stages are the driver-visible phase boundaries; intra-stage task
    detail lives in the Spark UI."""
    t0 = time.time()
    try:
        yield
    finally:
        if enabled:
            print(
                f"[debug] stage={name} wall={time.time() - t0:.2f}s",
                file=sys.stderr,
            )


def _abort_on_rejects(rejects, n_rejects: int, prefix: str) -> int:
    """Abort the build as the reference does on multiallelic input
    (pipeline/01-generate-variant-ranges-index.R:43-53): write the
    reject report, print an ERROR naming it, return exit code 2.

    The report is tab-separated, ONE flat TSV file beside the store
    (matching the reference pipeline's single-file report,
    pipeline/01-vcf-to-parquet.R's reject artifact) so downstream
    consumers can open it directly.  The write itself stays
    executor-side (never collected to the driver — a pathological
    input where an unsplit multiallelic VCF rejects EVERY site makes
    the channel corpus-sized, and a ``toPandas`` there OOMs the
    driver).  ``coalesce(1)`` bounds it to one part file without a
    shuffle; the part is then renamed over the report path so the
    artifact is a file, not a directory with per-part repeated
    headers.
    """
    spark = rejects.sparkSession
    path = f"{prefix}-multiallelic-sites.tsv"
    tmp = f"{path}.__spark_tmp__"
    (
        rejects.coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(tmp)
    )
    parts = _fs.list_files(spark, tmp, "part-")
    _fs.delete_dir(spark, path)
    if parts:
        _fs.rename(spark, parts[0], path)
    else:  # zero-row channel still yields a (header-only or empty) report
        _fs.write_text(spark, path, "")
    _fs.delete_dir(spark, tmp)
    print(
        f"ERROR: {n_rejects} rejected records (multiallelic/"
        f"malformed) — written to {path}; fix the input and re-run",
        file=sys.stderr,
    )
    return 2


def _parse_kv_floats(specs, flag: str) -> dict[str, float] | None:
    """NAME=NUMBER spec list → dict; prints a styled error and returns
    None on a malformed spec (missing '=', non-numeric value)."""
    out: dict[str, float] = {}
    for spec in specs:
        name, _, val = spec.partition("=")
        try:
            out[name] = float(val)
        except ValueError:
            val = ""
        if not val:
            print(
                f"ERROR: {flag} wants NAME=NUMBER, got {spec!r}",
                file=sys.stderr,
            )
            return None
    return out


def _multi_value_flags(
    p, melt_help: str | None = None,
    array_help: str = "keep multi-value FORMAT fields as native arrays",
) -> None:
    """The two FORMAT flags that :func:`_multi_value` resolves."""
    p.add_argument("--include-multivalue-gt", action="store_true",
                   help=melt_help)
    p.add_argument("--multivalue-as-array", action="store_true",
                   help=array_help)


def _multi_value(args) -> str:
    """``read_vcf``'s ``multi_value`` from the two FORMAT flags."""
    if args.multivalue_as_array:
        return "array"
    return "melt" if args.include_multivalue_gt else "skip"


def build_parser() -> argparse.ArgumentParser:
    """The subcommand table: every subcommand's flags, and its handler
    ``(spark, args) -> exit code`` as the parser default ``run``."""
    p = argparse.ArgumentParser(prog="vcfdb", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def cmd(name, run, **kw):
        sp = sub.add_parser(name, **kw)
        sp.set_defaults(run=run)
        return sp

    b = cmd("build", _build, help="VCF → relational store (stages 01-03)")
    b.add_argument("--vcf", required=True)
    b.add_argument("--prefix", required=True, help="output store directory")
    b.add_argument("--mode", choices=["table", "file"], default="table")
    _multi_value_flags(
        b, melt_help="melt multi-value FORMAT fields to field_k columns "
        "(reference default skips them)",
    )
    b.add_argument("--threads", type=int, default=None)
    b.add_argument(
        "--resumable",
        action="store_true",
        help="chunked build with a progress manifest: a killed or "
        "--end-chunk-limited run resumes where it stopped "
        "(reference .progress.RData parity)",
    )
    b.add_argument(
        "--chunks", type=int, default=4,
        help="contig groups per resumable build (resume granularity)",
    )
    b.add_argument(
        "--end-chunk", type=int, default=None,
        help="stop after this chunk index (partial run; re-run to continue)",
    )
    b.add_argument(
        "--debug",
        action="store_true",
        help="print per-stage wall times to stderr (VCFdb.R:88 parity)",
    )

    f = cmd("filter", _filter, help="per-gene rare-variant query")
    f.add_argument("--prefix", required=True)
    f.add_argument("--symbol", required=True)
    f.add_argument("--af", type=float, default=0.01)

    g = cmd("pull", _pull, help="genotype pull by variant ids")
    g.add_argument("--prefix", required=True)
    g.add_argument("--ids", required=True, help="comma-separated variant ids")

    iv = cmd("interval", _interval, help="locus range query")
    iv.add_argument("--prefix", required=True)
    iv.add_argument("--chr", required=True)
    iv.add_argument("--start", type=int, required=True)
    iv.add_argument("--end", type=int, required=True)

    ap = cmd(
        "append", _append, help="append another VCF to an existing table-mode "
        "store (dense ids continue from the stored max)",
    )
    ap.add_argument("--vcf", required=True)
    ap.add_argument("--prefix", required=True)
    _multi_value_flags(
        ap, array_help="keep multi-value FORMAT fields as native arrays "
        "(must match the store being appended to)",
    )

    cp = cmd(
        "compact", _compact, help="rewrite a store table into range-sorted "
        "files (run after many appends)",
    )
    cp.add_argument("--prefix", required=True)
    cp.add_argument(
        "--table", default="variant_geno",
        choices=["variant_info", "variant_impact", "variant_geno"],
    )
    cp.add_argument("--partitions", type=int, default=None)

    si = cmd(
        "stream-ingest", _stream_ingest,
        help="streaming VCF ingest: parse new VCF files appearing in "
        "--vcf-dir into three-table parquet partitions, dense ids "
        "continuing across runs (streaming analog of the resumable "
        "chunk loop; re-run to pick up new files)",
    )
    si.add_argument("--vcf-dir", required=True)
    si.add_argument("--prefix", required=True, help="output store directory")
    si.add_argument(
        "--header",
        required=True,
        help="a VCF whose header (and first rows, for the FORMAT "
        "schema probe) defines the stream's schema",
    )
    si.add_argument(
        "--compact-every",
        type=int,
        default=16,
        help="fold ingest_batch=N partition dirs into one consolidated "
        "partition per table once this many accumulate (0 disables)",
    )
    _multi_value_flags(si)

    dd = cmd(
        "dedup", _dedup,
        help="fuzzy-dedup a documents parquet (MinHash+LSH): writes "
        "near-dup pairs, connected components with keep ids, and the "
        "retained corpus",
    )
    dd.add_argument("--docs", required=True, help="parquet with (doc_id, text, ...)")
    dd.add_argument("--out", required=True, help="output directory")
    dd.add_argument(
        "--keep",
        choices=["min-id", "best"],
        default="min-id",
        help="keep the minimum id per component, or the best --score-col",
    )
    dd.add_argument("--score-col", default="n_chars")
    dd.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="drop LSH buckets above this population before candidate "
        "generation (default: dedup.DEFAULT_MAX_BUCKET_SIZE; 0 "
        "disables) — bounds the quadratic blowup of degenerate "
        "boilerplate/empty-text clusters",
    )

    di = cmd(
        "dedup-index", _dedup_index,
        help="MinHash-sign a documents parquet and store its band "
        "index in the bucket-prunable (pfx-partitioned) layout — "
        "build once, then probe each new batch with dedup-probe",
    )
    di.add_argument("--docs", required=True)
    di.add_argument("--out", required=True, help="index directory")
    di.add_argument("--n-pfx", type=int, default=64)

    dp = cmd(
        "dedup-probe", _dedup_probe,
        help="near-dup candidate pairs of a NEW documents parquet "
        "against a stored dedup-index (plus new-vs-new), without "
        "re-signing the indexed corpus; probe prunes index partitions",
    )
    dp.add_argument("--docs", required=True, help="the new batch")
    dp.add_argument("--index", required=True, help="dedup-index directory")
    dp.add_argument("--out", required=True, help="pairs output directory")
    dp.add_argument(
        "--n-pfx", type=int, default=None,
        help="partition modulus (default: the index's recorded _n_pfx "
        "sidecar; an explicit mismatching value is an error)",
    )
    dp.add_argument(
        "--append-index",
        action="store_true",
        help="also append the new batch's bands to the index (so the "
        "next probe sees this batch)",
    )
    dp.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="per-side bucket population cap for the probe (default: "
        "dedup.DEFAULT_MAX_BUCKET_SIZE; 0 disables)",
    )

    ei = cmd(
        "emb-index", _emb_index,
        help="sign-band an embeddings parquet into the bucket-prunable "
        "index layout with adaptive (bits, n_bands) pinned in a "
        "_band_params sidecar — build once, probe batches with "
        "emb-probe (incremental semantic dedup)",
    )
    ei.add_argument("--vecs", required=True,
                    help="parquet with (vec_id, embedding)")
    ei.add_argument("--out", required=True, help="index directory")
    ei.add_argument("--threshold", type=float, default=0.95,
                    help="cosine threshold the band count targets")
    ei.add_argument("--n-pfx", type=int, default=64)

    ep = cmd(
        "emb-probe", _emb_probe,
        help="exact-cosine near-dup pairs of a NEW embeddings parquet "
        "against a stored emb-index (plus new-vs-new) without "
        "re-banding the corpus; batch bands with the index's PINNED "
        "parameters (sidecar-validated)",
    )
    ep.add_argument("--vecs", required=True, help="the new batch")
    ep.add_argument("--index", required=True, help="emb-index directory")
    ep.add_argument("--corpus", required=True,
                    help="FULL accumulated corpus parquet — every id "
                    "ever appended to the index (vectors for the "
                    "candidates-only verify join; a candidate whose "
                    "vector is missing raises, never silently drops)")
    ep.add_argument("--out", required=True, help="pairs output directory")
    ep.add_argument("--threshold", type=float, default=0.95)
    ep.add_argument("--append-index", action="store_true",
                    help="also append the batch's bands so the next "
                    "probe sees it")
    ep.add_argument("--max-bucket-size", type=int, default=None,
                    help="per-side bucket cap (default "
                    "dedup.DEFAULT_MAX_BUCKET_SIZE; 0 disables)")

    ib = cmd(
        "ivf-index", _ivf_index,
        help="build the partition-prunable IVF ANN index: train "
        "deterministic k-means centroids (or pin externally trained "
        "ones), assign every vector to its nearest centroid, store "
        "inverted lists hive-partitioned by cent_id with the "
        "centroids pinned in a _centroids sidecar — build once, "
        "search with ivf-search",
    )
    ib.add_argument("--vecs", required=True,
                    help="parquet with (vec_id, embedding)")
    ib.add_argument("--out", required=True, help="index directory")
    ib.add_argument("--centroids", default=None,
                    help="externally trained centroid parquet "
                    "(vec_id, embedding); default trains in-engine")
    ib.add_argument("--nlist", type=int, default=64,
                    help="centroid count when training in-engine")
    ib.add_argument("--n-iter", type=int, default=2,
                    help="Lloyd rounds when training in-engine")

    isr = cmd(
        "ivf-search", _ivf_search,
        help="approximate top-k cosine search of a query parquet "
        "against a stored ivf-index: probes the nprobe nearest "
        "lists per query and READS ONLY those cent_id= partitions "
        "(partition-pruned scan; centroids from the pinned sidecar)",
    )
    isr.add_argument("--index", required=True, help="ivf-index directory")
    isr.add_argument("--queries", required=True,
                     help="parquet with (vec_id, embedding)")
    isr.add_argument("--out", required=True, help="results directory")
    isr.add_argument("--k", type=int, default=5)
    isr.add_argument("--nprobe", type=int, default=3)

    irx = cmd(
        "ivf-reindex", _ivf_reindex,
        help="retrain + reassign a DRIFTED ivf-index in place "
        "(write-to-side + rename swap; readers never see a PARTIAL "
        "layout — a read during the brief swap window fails loudly "
        "and should be retried): appends keep centroids frozen, so once "
        "ivf_imbalance fires the documented signal (hottest list "
        ">= IVF_REINDEX_RATIO x median) this rebuilds the lists "
        "under fresh k-means centroids trained on the stored corpus",
    )
    irx.add_argument("--index", required=True, help="ivf-index directory")
    irx.add_argument("--nlist", type=int, default=None,
                     help="new centroid count (default: keep stored)")
    irx.add_argument("--n-iter", type=int, default=2,
                     help="Lloyd rounds for the retrain")
    irx.add_argument("--if-signaled", action="store_true",
                     help="only reindex when the imbalance signal "
                     "fires; otherwise report the stat and exit 0")

    sia = cmd(
        "stream-ivf-assign", _stream_ivf_assign,
        help="streaming IVF index maintenance: assign each parquet "
        "file of new vectors to the PINNED centroids and append "
        "exactly-once batch=N/cent_id=M partitions; ivf-search "
        "queries the accumulated layout with the same pruning",
    )
    sia.add_argument("--vecs-dir", required=True,
                     help="directory watched for (vec_id, embedding) "
                     "parquet files")
    sia.add_argument("--out", required=True,
                     help="output root (index/, _checkpoint)")
    sia.add_argument("--centroids", required=True,
                     help="trained centroid parquet — pinned at first "
                     "run, restart must match")
    sia.add_argument("--schema",
                     default="vec_id long, embedding array<float>, label int")
    sia.add_argument("--max-files-per-trigger", type=int, default=None)

    sd = cmd(
        "stream-dedup", _stream_dedup,
        help="streaming incremental fuzzy dedup: each parquet file "
        "appearing under --docs-dir is MinHash-signed once, probed "
        "against the accumulated band index (near-dup pairs across "
        "the whole stream history), and appended to the index; "
        "re-run to pick up new files (checkpointed)",
    )
    sd.add_argument("--docs-dir", required=True,
                    help="directory watched for (doc_id, text) parquet files")
    sd.add_argument("--out", required=True,
                    help="output root (pairs/, band_index/, _checkpoint)")
    sd.add_argument("--max-files-per-trigger", type=int, default=None)
    sd.add_argument("--n-pfx", type=int, default=None,
                    help="index partition modulus (default: resume with "
                    "the recorded value, else 64)")
    sd.add_argument("--max-bucket-size", type=int, default=None,
                    help="probe-time hot-bucket cap (default "
                    "dedup.DEFAULT_MAX_BUCKET_SIZE; 0 disables)")
    sd.add_argument("--compact-every", type=int, default=16,
                    help="fold the batch tail into one compacted layout "
                    "every N batches (0 disables)")

    sdc = cmd(
        "stream-decontaminate", _stream_decontaminate,
        help="streaming decontamination: each parquet file appearing "
        "under --docs-dir probes the FIXED eval set's band index; "
        "only non-leaking rows reach kept/ (the index never grows — "
        "no compaction, no cross-batch state)",
    )
    sdc.add_argument("--docs-dir", required=True)
    sdc.add_argument("--eval-docs", required=True)
    sdc.add_argument("--eval-index", default=None,
                     help="persisted write_band_index layout (default: "
                     "band the eval docs once at stream start)")
    sdc.add_argument("--out", required=True,
                     help="output root (kept/, _checkpoint)")
    sdc.add_argument("--jaccard", type=float, default=0.5)
    sdc.add_argument("--max-files-per-trigger", type=int, default=None)

    sed = cmd(
        "stream-exact-dedup", _stream_exact_dedup,
        help="streaming exact dedup with UNBOUNDED history: each "
        "doc's content hash is probed against a persistent "
        "hash→keeper index (one row per distinct text, pfx-pruned "
        "probes) and keep/batch=N maps every doc to the FIRST doc "
        "ever seen with its text — no watermark bound; re-run to "
        "pick up new files (checkpointed)",
    )
    sed.add_argument("--docs-dir", required=True,
                     help="directory watched for (doc_id, text) parquet")
    sed.add_argument("--out", required=True,
                     help="output root (keep/, hash_index/, _checkpoint)")
    sed.add_argument("--schema", default="doc_id long, text string")
    sed.add_argument("--text-col", default="text")
    sed.add_argument("--max-files-per-trigger", type=int, default=None)
    sed.add_argument("--n-pfx", type=int, default=None)
    sed.add_argument("--compact-every", type=int, default=16)

    ssd = cmd(
        "stream-semantic-dedup", _stream_semantic_dedup,
        help="streaming incremental semantic dedup: each parquet file "
        "of (vec_id, embedding) appearing under --vecs-dir is "
        "sign-banded once, probed against the accumulated band index "
        "(near-dup candidate pairs across the whole stream history), "
        "and appended to the index; band width/count are pinned at "
        "first run (sidecar-validated on restart); re-run to pick up "
        "new files (checkpointed)",
    )
    ssd.add_argument("--vecs-dir", required=True,
                     help="directory watched for (vec_id, embedding) "
                     "parquet files")
    ssd.add_argument("--out", required=True,
                     help="output root (pairs/, band_index/, _checkpoint)")
    ssd.add_argument("--schema",
                     default="vec_id long, embedding array<float>, label int",
                     help="stream schema (must cover the source files)")
    ssd.add_argument("--threshold", type=float, default=0.95,
                     help="target cosine for the recall-targeted band "
                     "count (only used when --n-bands is not given)")
    ssd.add_argument("--bits", type=int, default=None,
                     help="sign-band width (default 16; pinned for the "
                     "stream's life — restart must match)")
    ssd.add_argument("--n-bands", type=int, default=None,
                     help="band count (default: recall-targeted at "
                     "--threshold; pinned like --bits)")
    ssd.add_argument("--max-files-per-trigger", type=int, default=None)
    ssd.add_argument("--n-pfx", type=int, default=None,
                     help="index partition modulus (default: resume with "
                     "the recorded value, else 64)")
    ssd.add_argument("--max-bucket-size", type=int, default=None,
                     help="probe-time hot-bucket cap (default "
                     "dedup.DEFAULT_MAX_BUCKET_SIZE; 0 disables)")
    ssd.add_argument("--compact-every", type=int, default=16,
                     help="fold the batch tail into one compacted layout "
                     "every N batches (0 disables)")

    scf = cmd(
        "stream-corpus-filter", _stream_corpus_filter,
        help="streaming corpus filter (the capstone's streaming "
        "twin): per micro-batch quality gates + optional bigram-LM "
        "cap against a pre-trained model, then fuzzy dedup against "
        "the whole stream history with first-seen-wins keep; "
        "passing docs land in kept/batch=N; re-run to pick up new "
        "files (checkpointed)",
    )
    scf.add_argument("--docs-dir", required=True,
                     help="directory watched for (doc_id, text, lang, "
                     "source) parquet files")
    scf.add_argument("--out", required=True,
                     help="output root (kept/, pairs/, band_index/, "
                     "_checkpoint)")
    scf.add_argument("--schema",
                     default="doc_id long, text string, lang string, "
                     "source string")
    scf.add_argument("--min-tokens", type=int, default=20)
    scf.add_argument("--min-ttr", type=float, default=0.3)
    scf.add_argument("--max-bits", type=float, default=None,
                     help="bigram-LM cross-entropy cap; requires "
                     "--model (a train_bigram_model parquet)")
    scf.add_argument("--model", default=None,
                     help="pre-trained bigram model parquet "
                     "(vcfdb train-lm output or "
                     "operators.lm.train_bigram_model persisted)")
    scf.add_argument("--keep-cols", default="lang,source",
                     help="comma-separated passthrough columns (must "
                     "exist in --schema); empty string for none")
    scf.add_argument("--max-files-per-trigger", type=int, default=None)
    scf.add_argument("--n-pfx", type=int, default=None)
    scf.add_argument("--max-bucket-size", type=int, default=None)
    scf.add_argument("--compact-every", type=int, default=16)

    tl = cmd(
        "train-lm", _train_lm,
        help="train the smoothed bigram model on a reference corpus "
        "and persist it as parquet — the reusable scoring index "
        "stream-corpus-filter's --model and lm_score(model=...) "
        "consume (train once, score every batch)",
    )
    tl.add_argument("--docs", required=True,
                    help="parquet with (doc_id, text, ...)")
    tl.add_argument("--out", required=True, help="model output directory")
    tl.add_argument("--text-col", default="text")

    sc = cmd(
        "scrub", _scrub,
        help="PII-scrub a documents parquet (emails/IPv4/phones → "
        "typed tokens): writes the scrubbed corpus and prints "
        "per-type hit totals",
    )
    sc.add_argument("--docs", required=True, help="parquet with (doc_id, text, ...)")
    sc.add_argument("--out", required=True, help="scrubbed corpus output directory")
    sc.add_argument(
        "--text-col", default="text",
        help="column to scrub (replaced in place in the output)",
    )

    cb = cmd(
        "compact-band-index", _compact_band_index,
        help="compact a streaming band index (batch=N/pfx=M dirs) "
        "into one consolidated prunable index",
    )
    cb.add_argument("--stream-index", required=True)
    cb.add_argument("--out", required=True)
    cb.add_argument("--n-pfx", type=int, default=64)

    dm = cmd(
        "domain-mix", _domain_mix,
        help="resample a corpus to a target domain mixture "
        "(largest subsample with per-domain weight totals "
        "proportional to the targets)",
    )
    dm.add_argument("--docs", required=True)
    dm.add_argument("--out", required=True)
    dm.add_argument(
        "--target", action="append", required=True, metavar="DOMAIN=SHARE",
        help="repeatable, e.g. --target en=0.4 --target de=0.15; "
        "shares need not sum to 1 (only ratios matter); domains "
        "not listed are dropped",
    )
    dm.add_argument("--key-col", default="doc_id")
    dm.add_argument("--domain-col", default="lang")
    dm.add_argument("--weight-col", default="n_chars")

    co = cmd(
        "corpus-overlap", _corpus_overlap,
        help="estimate Jaccard/union/intersection overlap between "
        "two corpora from deterministic KMV bottom-k sketches "
        "(O(k) cross-corpus exchange)",
    )
    co.add_argument("--a", required=True, help="first corpus parquet")
    co.add_argument("--b", required=True, help="second corpus parquet")
    co.add_argument("--value-col", default="text")
    co.add_argument("--k", type=int, default=1024)
    co.add_argument(
        "--prefilter", action="store_true",
        help="threshold-prefiltered bottom-k scan (same answer, "
        "smaller distinct+sort at large corpus sizes)",
    )
    co.add_argument(
        "--from-sketches", action="store_true",
        help="treat --a/--b as stream-sketch state dirs instead of "
        "corpus parquet (both must share one k; --k/--value-col/"
        "--prefilter are ignored)",
    )

    so = cmd(
        "source-overlap", _source_overlap,
        help="exact per-source-pair shared-passage matrix over one "
        "labeled corpus: shared counts, directional containments, "
        "jaccard (the exact counterpart of corpus-overlap's KMV "
        "estimates)",
    )
    so.add_argument("--docs", required=True, help="corpus parquet")
    so.add_argument("--group-col", default="source")
    so.add_argument("--text-col", default="text")
    so.add_argument("--id-col", default="doc_id")
    so.add_argument("--window", type=int, default=30)
    so.add_argument("--stride", type=int, default=15)
    so.add_argument(
        "--out", default=None,
        help="write the matrix as parquet instead of printing it",
    )

    sk = cmd(
        "stream-sketch", _stream_sketch,
        help="maintain a KMV bottom-k sketch of a growing corpus "
        "under streaming ingest (O(k) state; overlap questions "
        "answerable anytime without rescanning the stream)",
    )
    sk.add_argument("--source", required=True, help="parquet dir/glob to watch")
    sk.add_argument("--out", required=True, help="sketch state dir")
    sk.add_argument("--value-col", default="text")
    sk.add_argument("--k", type=int, default=1024)
    sk.add_argument("--schema", default="doc_id long, text string")
    sk.add_argument("--max-files-per-trigger", type=int, default=None)

    qp = cmd(
        "quality-prune", _quality_prune,
        help="per-domain top-fraction curation: keep each domain's "
        "best NUM/DEN of rows by a score column (exact integer "
        "keep counts; skew-safe two-phase rank)",
    )
    qp.add_argument("--docs", required=True)
    qp.add_argument("--out", required=True)
    qp.add_argument("--score-col", required=True)
    qp.add_argument("--keep-num", type=int, default=1)
    qp.add_argument("--keep-den", type=int, default=4)
    qp.add_argument("--key-col", default="doc_id")
    qp.add_argument("--group-col", default="lang")

    es = cmd(
        "epoch-shuffle", _epoch_shuffle,
        help="materialize deterministic training order: bucket-"
        "partitioned parquet, sorted by order_key within each "
        "bucket — reading epoch=E buckets in order IS the global "
        "shuffled order",
    )
    es.add_argument("--docs", required=True)
    es.add_argument("--out", required=True)
    es.add_argument("--epochs", type=int, default=1)
    es.add_argument("--buckets", type=int, default=64)
    es.add_argument("--key-col", default="doc_id")
    es.add_argument("--seed", default="shuf")

    dc = cmd(
        "decontaminate", _decontaminate,
        help="drop train-batch docs whose verified near-dup is in "
        "the held-out/benchmark set (probes the eval band index; "
        "O(batch) per ingest)",
    )
    dc.add_argument("--batch", required=True, help="train batch parquet")
    dc.add_argument("--eval-docs", required=True, help="held-out docs parquet")
    dc.add_argument(
        "--eval-index",
        help="persisted write_band_index layout for the eval set "
        "(built in-plan from --eval-docs when omitted)",
    )
    dc.add_argument("--out", required=True)
    dc.add_argument("--jaccard", type=float, default=0.5)

    bts = cmd(
        "build-training-set", _build_training_set,
        help="end-to-end training-set build: quality gates + "
        "optional LM cap + fuzzy dedup (corpus-filter), then "
        "token-weighted target-mixture resampling, then leakage-"
        "safe split assignment; writes split-partitioned parquet",
    )
    bts.add_argument("--docs", required=True)
    bts.add_argument("--out", required=True)
    bts.add_argument(
        "--target", action="append", default=None, metavar="DOMAIN=SHARE",
        help="repeatable token-share targets over --domain-col "
        "(omit to skip the mixing stage)",
    )
    bts.add_argument("--domain-col", default="lang")
    bts.add_argument("--min-tokens", type=int, default=20)
    bts.add_argument("--min-ttr", type=float, default=0.3)
    bts.add_argument(
        "--max-bits", type=float, default=None,
        help="bigram-LM bits/bigram cap (omit to skip the LM gate)",
    )
    bts.add_argument(
        "--splits", default="train=0.9,val=0.05,test=0.05",
        help="comma-separated NAME=FRACTION list, fractions sum to 1",
    )

    sdl = cmd(
        "snapshot-delta", _snapshot_delta,
        help="recrawl CDC: classify keys across two corpus snapshots "
        "as added/removed/changed/unchanged by content hash",
    )
    sdl.add_argument("--old", required=True)
    sdl.add_argument("--new", required=True)
    sdl.add_argument("--out", required=True)
    sdl.add_argument("--key-col", default="doc_id")
    sdl.add_argument(
        "--hash-cols", default="text",
        help="comma-separated columns hashed into the content hash",
    )

    q = cmd(
        "sql", _sql,
        help="plain SQL over the store tables (variant_info, "
        "variant_impact, variant_geno, gene_map, samples) — the "
        "reference's thin query surface",
    )
    q.add_argument("--prefix", required=True)
    q.add_argument("--query", required=True)
    return p


def _build(spark, args) -> int:
    multi = _multi_value(args)
    dbg = args.debug
    if args.resumable:
        with _stage("resumable_build", dbg):
            prog = build_vcfdb_resumable(
                spark, args.vcf, args.prefix, mode=args.mode,
                multi_value=multi, n_chunks=args.chunks,
                end_chunk=args.end_chunk, abort_on_rejects=True,
            )
        if prog.get("aborted_on_rejects"):
            return _abort_on_rejects(
                spark.read.parquet(f"{args.prefix}/_rejects").drop("chunk"),
                prog["aborted_on_rejects"], args.prefix,
            )
        if not prog.get("tables_done"):
            done = sum(1 for c in prog["chunks"].values() if c.get("done"))
            print(
                f"partial build: {done} chunk(s) staged, "
                f"next_id={prog['next_id']} — re-run to continue"
            )
            return 0
        print(f"built {args.prefix} (mode={args.mode}, resumable)")
        return 0
    # stage boundaries mirror the reference's timed blocks
    # (pipeline/02-build-db.R:309-313): header probe + parse plan,
    # the reject-channel action, then the three-table store write
    with _stage("parse_and_schema_probe", dbg):
        tables = read_vcf(spark, args.vcf, multi_value=multi)
    with _stage("reject_check", dbg):
        n_rejects = tables.rejects.count()
    if n_rejects:
        return _abort_on_rejects(tables.rejects, n_rejects, args.prefix)
    with _stage("write_store", dbg):
        write_vcfdb(tables, args.prefix, mode=args.mode)
    print(f"built {args.prefix} (mode={args.mode})")
    return 0


def _store_read(spark, prefix: str, read) -> int:
    """Open the store at ``prefix`` (an ERROR when there is none), then
    print at most 50 rows of ``read(db)`` and the exact count."""
    try:
        db = open_vcfdb(spark, prefix)
    except FileNotFoundError:
        print(
            f"ERROR: no vcfdb store at '{prefix}' "
            f"(missing _vcfdb_manifest.json — run 'build' first)",
            file=sys.stderr,
        )
        return 1
    out = read(db)
    # display cap: never collect the full result to the driver
    # (a whole-chromosome pull would OOM it); the exact count runs
    # as its own distributed aggregate
    rows = out.limit(50).collect()
    for r in rows:
        print(r.asDict())
    n = out.count() if len(rows) == 50 else len(rows)
    print(f"({n} rows)")
    return 0


def _filter(spark, args) -> int:
    return _store_read(spark, args.prefix, lambda db: filter_test(
        db.variant_impact, db.variant_info, args.symbol, args.af
    ))


def _pull(spark, args) -> int:
    try:
        ids = [int(x) for x in args.ids.split(",")]
    except ValueError:
        print(
            f"ERROR: --ids wants comma-separated integer variant ids, "
            f"got {args.ids!r}",
            file=sys.stderr,
        )
        return 1
    # store-aware pull: file mode prunes id-bucket partitions
    return _store_read(spark, args.prefix, lambda db: db.pull(ids))


def _interval(spark, args) -> int:
    return _store_read(spark, args.prefix, lambda db: interval_query(
        db.variant_info, args.chr, args.start, args.end
    ))


def _sql(spark, args) -> int:
    return _store_read(spark, args.prefix, lambda db: db.sql(args.query))


def _append(spark, args) -> int:
    n = append_vcf(spark, args.vcf, args.prefix, multi_value=_multi_value(args))
    print(f"appended {n} variants to {args.prefix}")
    return 0


def _compact(spark, args) -> int:
    n = compact_table(
        spark, args.prefix, args.table, n_partitions=args.partitions
    )
    print(f"compacted {args.prefix}/{args.table}: {n} rows")
    return 0


def _stream_ingest(spark, args) -> int:
    stream_vcf_ingest(
        spark,
        args.vcf_dir,
        args.prefix,
        f"{args.prefix}/_checkpoint",
        args.header,
        multi_value=_multi_value(args),
        compact_every=args.compact_every,
    )
    print(f"stream-ingested {args.vcf_dir} into {args.prefix}")
    return 0


def _dedup(spark, args) -> int:
    cap = resolve_bucket_cap(args.max_bucket_size)
    hot_stats: dict = {}
    docs = spark.read.parquet(args.docs)
    pairs = minhash_dedup_pairs(
        docs, max_bucket_size=cap, stats=hot_stats
    ).persist()
    # dedup_components/dedup_keep_best return an already-persisted,
    # eagerly-materialized frame (their caching contract) — no
    # second persist here, and BOTH caches are released below so
    # the subcommand leaves zero net cached frames in the session
    comps = (
        dedup_keep_best(pairs, docs, score_col=args.score_col)
        if args.keep == "best"
        else dedup_components(pairs)
    )
    drops = comps.filter(F.col("doc_id") != F.col("keep_id")).select(
        "doc_id"
    )
    retained = docs.join(drops, "doc_id", "left_anti")
    pairs.write.mode("overwrite").parquet(f"{args.out}/pairs")
    comps.write.mode("overwrite").parquet(f"{args.out}/components")
    retained.write.mode("overwrite").parquet(f"{args.out}/corpus")
    n_pairs, n_comp = pairs.count(), comps.count()
    n_docs, n_kept = docs.count(), retained.count()
    pairs.unpersist()
    comps.unpersist()
    print(
        f"dedup {args.docs}: {n_pairs} candidate pairs, "
        f"{n_comp} docs in components, kept {n_kept}/{n_docs} "
        f"→ {args.out}"
    )
    if hot_stats.get("hot_buckets_dropped"):
        print(
            f"WARNING: dropped {hot_stats['hot_buckets_dropped']} "
            f"hot bucket(s) over {cap} members "
            f"({hot_stats['hot_bucket_rows_dropped']} band rows) "
            f"from candidate generation"
        )
    return 0


def _dedup_index(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    bands = minhash_band_buckets(minhash_signatures(docs))
    write_band_index(bands, args.out, n_pfx=args.n_pfx)
    n = spark.read.parquet(args.out).count()
    print(f"indexed {args.docs}: {n} band rows → {args.out}")
    return 0


def _dedup_probe(spark, args) -> int:
    new_docs = spark.read.parquet(args.docs)
    # opening raises when an explicit --n-pfx contradicts the
    # index's recorded modulus; the probe and the append use it
    index = BandIndex(spark, args.index, args.n_pfx)
    # sign the batch ONCE: the persisted band frame feeds the
    # probe, the new-new self-join AND the optional index append;
    # both caches are released before return (zero net cache)
    bands = minhash_band_buckets(minhash_signatures(new_docs)).persist()
    pairs = band_probe_pairs(
        bands, index.read(),
        max_bucket_size=resolve_bucket_cap(args.max_bucket_size),
    ).persist()
    pairs.write.mode("overwrite").parquet(args.out)
    n = pairs.count()
    if args.append_index:
        index.extend(bands)
    pairs.unpersist()
    bands.unpersist()
    print(f"probed {args.docs} vs {args.index}: {n} pairs → {args.out}")
    return 0


def _emb_index(spark, args) -> int:
    vecs = spark.read.parquet(args.vecs)
    stats: dict = {}
    idx = embedding_band_index(vecs, args.threshold, stats=stats)
    write_embedding_band_index(
        idx, args.out, stats["band_bits"], stats["band_count"],
        n_pfx=args.n_pfx,
    )
    n = spark.read.parquet(args.out).count()
    print(
        f"indexed {args.vecs}: {n} band rows "
        f"(bits={stats['band_bits']}, n_bands={stats['band_count']}) "
        f"→ {args.out}"
    )
    return 0


def _emb_probe(spark, args) -> int:
    new_vecs = spark.read.parquet(args.vecs)
    corpus = spark.read.parquet(args.corpus)
    index, bits, n_bands = read_embedding_band_index(spark, args.index)
    pairs = incremental_embedding_dup_pairs(
        new_vecs, index, corpus, bits, n_bands,
        threshold=args.threshold,
        max_bucket_size=resolve_bucket_cap(args.max_bucket_size),
    ).persist()
    pairs.write.mode("overwrite").parquet(args.out)
    n = pairs.count()
    if args.append_index:
        write_embedding_band_index(
            embedding_band_index(
                new_vecs, args.threshold, bits=bits, n_bands=n_bands
            ),
            args.index, bits, n_bands, mode="append",
        )
    pairs.unpersist()
    print(
        f"probed {args.vecs} vs {args.index}: {n} pairs "
        f"≥ {args.threshold} → {args.out}"
    )
    return 0


def _ivf_index(spark, args) -> int:
    vecs = spark.read.parquet(args.vecs).select("vec_id", "embedding")
    cents = (
        spark.read.parquet(args.centroids).select("vec_id", "embedding")
        if args.centroids
        else None
    )
    write_ivf_index(
        vecs, args.out, centroids=cents,
        nlist=args.nlist, n_iter=args.n_iter,
    )
    stats = ivf_list_stats(spark, args.out).collect()
    n = sum(r["n"] for r in stats)
    sizes = sorted(r["n"] for r in stats)
    med = sizes[len(sizes) // 2]
    print(
        f"ivf-indexed {args.vecs}: {n} vectors in {len(sizes)} "
        f"lists (max {sizes[-1]}, median {med}) → {args.out}"
    )
    if med and sizes[-1] > 10 * med:
        print(
            f"WARNING: hottest list is {sizes[-1] / med:.0f}x the "
            f"median — probe pruning degrades on skewed lists; "
            f"consider retraining centroids on a fresher sample"
        )
    return 0


def _ivf_search(spark, args) -> int:
    queries = spark.read.parquet(args.queries).select(
        "vec_id", "embedding"
    )
    out = ivf_topk_indexed(
        spark, args.index, queries, k=args.k, nprobe=args.nprobe
    )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(
        f"ivf-searched {args.queries} (k={args.k}, "
        f"nprobe={args.nprobe}): {n} result rows → {args.out}"
    )
    return 0


def _ivf_reindex(spark, args) -> int:
    before = ivf_imbalance(spark, args.index).first()
    print(
        f"ivf-imbalance {args.index}: max {before['max_n']} / "
        f"median {before['median_n']:.0f} = {before['imbalance']}x "
        f"across {before['n_lists']} lists — signal: "
        f"{'REINDEX' if before['reindex_signal'] else 'healthy'}"
    )
    if args.if_signaled and not before["reindex_signal"]:
        return 0
    reindex_ivf(
        spark, args.index, nlist=args.nlist, n_iter=args.n_iter
    )
    after = ivf_imbalance(spark, args.index).first()
    print(
        f"ivf-reindexed {args.index}: imbalance "
        f"{before['imbalance']}x → {after['imbalance']}x "
        f"({after['n_lists']} lists)"
    )
    return 0


def _stream_ivf_assign(spark, args) -> int:
    stream_ivf_assign(
        spark,
        args.vecs_dir,
        args.out,
        args.centroids,
        schema=args.schema,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    n = read_stream_output(
        spark, f"{args.out}/index", "vec_id long"
    ).count()
    print(
        f"stream-ivf-assigned {args.vecs_dir}: "
        f"{n} vectors in index → {args.out}"
    )
    return 0


def _stream_decontaminate(spark, args) -> int:
    stream_decontaminate(
        spark,
        args.docs_dir,
        args.eval_docs,
        args.out,
        eval_index_dir=args.eval_index,
        jaccard_threshold=args.jaccard,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    kept_dir = f"{args.out}/kept"
    n = read_stream_output(spark, kept_dir, "doc_id long").count()
    print(f"stream-decontaminate: {n} docs kept → {kept_dir}")
    return 0


def _stream_dedup(spark, args) -> int:
    stream_fuzzy_dedup(
        spark,
        args.docs_dir,
        args.out,
        max_files_per_trigger=args.max_files_per_trigger,
        n_pfx=args.n_pfx,
        max_bucket_size=args.max_bucket_size,
        compact_every=args.compact_every,
    )
    n = read_stream_output(
        spark, f"{args.out}/pairs", "a long, b long"
    ).count()
    print(f"stream-deduped {args.docs_dir}: {n} candidate pairs → {args.out}")
    return 0


def _stream_exact_dedup(spark, args) -> int:
    stream_exact_dedup(
        spark,
        args.docs_dir,
        args.out,
        schema=args.schema,
        text_col=args.text_col,
        max_files_per_trigger=args.max_files_per_trigger,
        n_pfx=args.n_pfx,
        compact_every=args.compact_every,
    )
    kf = read_stream_output(
        spark, f"{args.out}/keep", "doc_id long, keep_id long"
    )
    n, d = kf.count(), kf.filter("doc_id != keep_id").count()
    print(
        f"stream-exact-deduped {args.docs_dir}: {n} docs mapped, "
        f"{d} duplicates → {args.out}"
    )
    return 0


def _stream_semantic_dedup(spark, args) -> int:
    stream_semantic_dedup(
        spark,
        args.vecs_dir,
        args.out,
        schema=args.schema,
        threshold=args.threshold,
        bits=args.bits,
        n_bands=args.n_bands,
        max_files_per_trigger=args.max_files_per_trigger,
        n_pfx=args.n_pfx,
        max_bucket_size=args.max_bucket_size,
        compact_every=args.compact_every,
    )
    n = read_stream_output(
        spark, f"{args.out}/pairs", "a long, b long"
    ).count()
    print(
        f"stream-semantic-deduped {args.vecs_dir}: "
        f"{n} candidate pairs → {args.out}"
    )
    return 0


def _stream_corpus_filter(spark, args) -> int:
    keep_cols = tuple(
        c.strip() for c in args.keep_cols.split(",") if c.strip()
    )
    stream_corpus_filter(
        spark,
        args.docs_dir,
        args.out,
        schema=args.schema,
        min_tokens=args.min_tokens,
        min_ttr=args.min_ttr,
        max_bits=args.max_bits,
        model_path=args.model,
        keep_cols=keep_cols,
        max_files_per_trigger=args.max_files_per_trigger,
        n_pfx=args.n_pfx,
        max_bucket_size=args.max_bucket_size,
        compact_every=args.compact_every,
    )
    n = read_stream_output(
        spark, f"{args.out}/kept", "doc_id long"
    ).count()
    print(
        f"stream-corpus-filtered {args.docs_dir}: "
        f"{n} docs kept → {args.out}"
    )
    return 0


def _train_lm(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    model = train_bigram_model(
        doc_bigrams(docs, text_col=args.text_col), materialize=False
    )
    model.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"trained bigram model on {args.docs}: {n} bigrams → {args.out}")
    return 0


def _scrub(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    col = args.text_col
    if col not in docs.columns:
        print(f"ERROR: no '{col}' column in {args.docs}", file=sys.stderr)
        return 1
    counts = pii_counts(F.col(col))
    # ONE scan: the totals ride the write job itself via observe()
    # — metrics accumulate on the exact rows the write
    # materializes, so the printed counts can never diverge from
    # the written output (a separate agg job would re-read the
    # source and race any concurrent change to it)
    obs = Observation("pii_totals")
    observed = docs.observe(
        obs, *[F.sum(c).alias(n) for n, c in counts.items()]
    )
    scrubbed = observed.withColumn(col, scrub_pii(F.col(col)))
    scrubbed.write.mode("overwrite").parquet(args.out)
    totals = obs.get
    print(
        f"scrubbed {args.docs}: {totals['n_emails']} emails, "
        f"{totals['n_ips']} ips, {totals['n_phones']} phones "
        f"redacted → {args.out}"
    )
    return 0


def _compact_band_index(spark, args) -> int:
    n = compact_band_index(
        spark, args.stream_index, args.out, n_pfx=args.n_pfx
    )
    print(f"compacted {args.stream_index}: {n} band rows → {args.out}")
    return 0


def _domain_mix(spark, args) -> int:
    targets = _parse_kv_floats(args.target, "--target")
    if targets is None:
        return 1
    docs = spark.read.parquet(args.docs)
    kept = domain_mix_sample(
        docs, targets, key_col=args.key_col,
        domain_col=args.domain_col, weight_col=args.weight_col,
    )
    kept.write.mode("overwrite").parquet(args.out)
    mix = (
        spark.read.parquet(args.out)
        .groupBy(args.domain_col)
        .agg(F.sum(args.weight_col).alias("w"))
        .collect()
    )
    tot = sum(r["w"] for r in mix) or 1
    shares = ", ".join(
        f"{r[args.domain_col]}={r['w'] / tot:.3f}"
        for r in sorted(mix, key=lambda r: r[args.domain_col])
    )
    print(f"mixed {args.docs} → {args.out} ({shares})")
    return 0


def _corpus_overlap(spark, args) -> int:
    if args.from_sketches:
        ka, k = read_stream_sketch(spark, args.a)
        kb, k_b = read_stream_sketch(spark, args.b)
        if k != k_b:
            print(
                f"ERROR: sketch k mismatch: {k} vs {k_b} — re-run "
                f"stream-sketch on both sources with one --k",
                file=sys.stderr,
            )
            return 1
        row = kmv_overlap_sketches(ka, kb, k).first()
    else:
        k = args.k
        a = spark.read.parquet(args.a)
        b = spark.read.parquet(args.b)
        row = kmv_overlap(
            a, b, args.value_col, k=k, prefilter=args.prefilter
        ).first()
    print(
        f"jaccard={row['kmv_jaccard']} union={row['kmv_union']} "
        f"intersection={row['kmv_intersection']} "
        f"containment_a={row['containment_a']} "
        f"containment_b={row['containment_b']} "
        f"(merged_k={row['merged_k']}/{k})"
    )
    return 0


def _source_overlap(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    mat = source_overlap_matrix(
        docs, window=args.window, stride=args.stride,
        group_col=args.group_col, id_col=args.id_col,
        text_col=args.text_col,
    )
    if args.out:
        mat.write.mode("overwrite").parquet(args.out)
        print(
            f"wrote {spark.read.parquet(args.out).count()} "
            f"source-pair rows to {args.out}"
        )
        return 0
    # top pairs by containment either way — the "drop or dedup B
    # against A" shortlist
    for r in mat.orderBy(
        F.greatest("containment_a", "containment_b").desc()
    ).limit(20).collect():
        print(
            f"{r['source_a']} ~ {r['source_b']}: "
            f"shared={r['shared_passages']} "
            f"cont_a={r['containment_a']} "
            f"cont_b={r['containment_b']} "
            f"jaccard={r['jaccard']}"
        )
    return 0


def _stream_sketch(spark, args) -> int:
    stream_sketch(
        spark, args.source, args.out, value_col=args.value_col,
        k=args.k, schema=args.schema,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    sketch, k = read_stream_sketch(spark, args.out)
    print(f"sketch at {args.out}: {sketch.count()}/{k} slots filled")
    return 0


def _quality_prune(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    kept = quality_prune_per_group(
        docs, args.group_col, args.score_col,
        args.keep_num, args.keep_den, key_col=args.key_col,
    )
    kept.write.mode("overwrite").parquet(args.out)
    n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
    print(
        f"pruned {args.docs} → {args.out}: kept {n_out}/{n_in} "
        f"(top {args.keep_num}/{args.keep_den} per "
        f"{args.group_col} by {args.score_col})"
    )
    return 0


def _epoch_shuffle(spark, args) -> int:
    docs = spark.read.parquet(args.docs)
    order = epoch_shuffle(
        docs, key_col=args.key_col, epochs=args.epochs,
        n_buckets=args.buckets, seed=args.seed,
    )
    # sort-on-write: each (epoch, bucket) partition holds its
    # slice of the global order already sorted — a training
    # reader streams partitions in bucket order with zero
    # sorting.  The sort MUST lead with the partition columns:
    # partitionBy's writer requires (epoch, bucket) ordering and
    # would otherwise insert its own non-stable sort on exactly
    # those keys, destroying the intra-bucket order_key order.
    (
        order.repartition("epoch", "bucket")
        .sortWithinPartitions("epoch", "bucket", "order_key")
        .write.mode("overwrite")
        .partitionBy("epoch", "bucket")
        .parquet(args.out)
    )
    print(
        f"wrote training order for {args.epochs} epoch(s) × "
        f"{args.buckets} buckets → {args.out}"
    )
    return 0


def _decontaminate(spark, args) -> int:
    batch = spark.read.parquet(args.batch)
    eval_docs = spark.read.parquet(args.eval_docs)
    idx = (
        read_band_index(spark, args.eval_index)
        if args.eval_index
        else None
    )
    kept = decontaminate_batch(
        batch, eval_docs, eval_index=idx,
        jaccard_threshold=args.jaccard,
    )
    kept.write.mode("overwrite").parquet(args.out)
    n_in = batch.count()
    n_out = spark.read.parquet(args.out).count()
    print(
        f"decontaminated {args.batch}: {n_in - n_out} of {n_in} "
        f"docs leaked vs {args.eval_docs} → {args.out}"
    )
    return 0


def _build_training_set(spark, args) -> int:
    # validate EVERY user spec before touching the corpus: the
    # filter stage is the expensive one (hours at 100 TB), and a
    # typo'd target must not error out after it has run
    splits = _parse_kv_floats(args.splits.split(","), "--splits")
    if splits is None:
        return 1
    fractions = list(splits.items())
    try:
        split_thresholds(tuple(fractions))
    except ValueError as ex:
        print(f"ERROR: --splits: {ex}", file=sys.stderr)
        return 1
    targets = None
    if args.target:
        targets = _parse_kv_floats(args.target, "--target")
        if targets is None:
            return 1
    docs = spark.read.parquet(args.docs)
    surv = corpus_filter(
        docs, min_tokens=args.min_tokens, min_ttr=args.min_ttr,
        max_bits=args.max_bits,
    )
    if targets is not None:
        # the mix re-reads the survivors for its token-sum
        # calibration pass; checkpoint so the filter's dedup
        # lineage runs once
        surv = eager_checkpoint(surv)
        surv = domain_mix_sample(
            surv, targets, key_col="doc_id",
            domain_col=args.domain_col, weight_col="n_tokens",
        )
    out = surv.withColumn(
        "split", split_assign_col(F.col("doc_id"), tuple(fractions))
    )
    out.write.mode("overwrite").partitionBy("split").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .groupBy("split")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .collect()
    )
    summary = ", ".join(
        f"{r['split']}={r['docs']} docs/{r['tokens']} tokens"
        for r in sorted(stats, key=lambda r: r["split"])
    )
    print(f"built training set from {args.docs} → {args.out} ({summary})")
    return 0


def _snapshot_delta(spark, args) -> int:
    out = snapshot_delta(
        spark.read.parquet(args.old),
        spark.read.parquet(args.new),
        key_col=args.key_col,
        hash_cols=tuple(args.hash_cols.split(",")),
    )
    out.write.mode("overwrite").parquet(args.out)
    counts = {
        r["status"]: r["n"]
        for r in spark.read.parquet(args.out)
        .groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    print(
        f"delta {args.old} → {args.new}: "
        + ", ".join(f"{k}={counts.get(k, 0)}"
                    for k in ("added", "removed", "changed", "unchanged"))
        + f" → {args.out}"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(
        app_name=f"vcfdb-{args.cmd}",
        master=(
            f"local[{args.threads}]"
            if getattr(args, "threads", None)
            else None
        ),
    )
    return args.run(spark, args)


if __name__ == "__main__":
    sys.exit(main())
