"""Resumable chunked batch build — A23 parity.

The reference resumes a killed build from ``.progress.RData``
(pipeline/02-build-db.R:521-528, resume load :216-218) and supports
``--end-chunk`` partial runs (:34-38).  The Spark rendering:

- **chunk** = a contiguous group of contigs in header order (a
  monotone prefix of the dense-id sort order, so per-chunk ids with a
  carried ``next_id`` concatenate into the same global dense sequence
  ``read_vcf`` assigns in one pass);
- each chunk's parsed + id'd rows land in their own
  ``_staging/chunk=k`` parquet directory, deleted-before-rewrite so a
  killed attempt is overwritten, never duplicated (same idempotency
  scheme as streaming/ingest.py);
- ``_build_progress.json`` records completed chunks and the id carry
  — the ``.progress.RData`` analog;
- after every chunk is staged, the three tables derive from ONE read
  of the staging parquet (``vcf.derive_tables``) and write through
  ``write_vcfdb`` — no re-parse of the VCF text.

Trade-off vs the single-pass ``read_vcf`` path: each chunk re-scans
the text file (predicate on contig; the reference's tabix windows
seek instead), so use few, large chunks.  The default build stays
single-pass; this path is for builds long enough to need kill-resume
insurance, where n_chunks bounds the work lost to a crash.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from vcfdbr_spark import fs as _fs
from vcfdbr_spark.schema import read_header
from vcfdbr_spark.sources.store import (
    TABLE_SORTS,
    open_vcfdb,
    read_manifest,
    write_table,
    write_tables,
    write_vcfdb,
)
from vcfdbr_spark.sources.vcf import (
    VcfTables,
    _probe_format_fields,
    build_metadata,
    derive_tables,
    parse_records,
    read_vcf,
    split_rejects_and_id,
)


def _progress_path(out_path: str) -> str:
    return f"{out_path}/_build_progress.json"


def _load_progress(spark: SparkSession, out_path: str) -> dict:
    # Hadoop FS, not local open(): the progress manifest lives next
    # to the (possibly hdfs://-s3a://) store output
    raw = _fs.read_text(spark, _progress_path(out_path))
    if raw is None:
        return {"chunks": {}, "next_id": 1, "tables_done": False}
    return json.loads(raw)


def _save_progress(spark: SparkSession, out_path: str, prog: dict) -> None:
    _fs.write_text(spark, _progress_path(out_path), json.dumps(prog))


def _contig_groups(contigs: list[str], n_chunks: int) -> list[list[str]]:
    """Split contigs into ≤n_chunks contiguous header-order groups."""
    if not contigs:
        return [[]]
    n_chunks = max(1, min(n_chunks, len(contigs)))
    size = -(-len(contigs) // n_chunks)  # ceil
    return [contigs[i : i + size] for i in range(0, len(contigs), size)]


def build_vcfdb_resumable(
    spark: SparkSession,
    vcf_path: str,
    out_path: str,
    mode: str = "table",
    multi_value: str = "melt",
    n_chunks: int = 4,
    end_chunk: int | None = None,
    probe_rows: int = 1000,
    geno_bucket_width: int = 100_000,
    exonic_on_consequence: bool = False,
    abort_on_rejects: bool = False,
) -> dict:
    """Build (or resume building) a store; returns the final progress
    dict.  Call again after a crash or an ``end_chunk`` partial run —
    completed chunks are skipped, ids continue from the carry.

    ``abort_on_rejects``: after staging, stop before deriving tables
    when any records were rejected (the reference aborts the whole
    build on multiallelic input,
    pipeline/01-generate-variant-ranges-index.R:43-53); the returned
    progress carries ``aborted_on_rejects`` and the staged chunks
    remain valid for a re-run against fixed input.
    """
    header = read_header(vcf_path)
    prog = _load_progress(spark, out_path)
    groups = _contig_groups(header.contigs, n_chunks)
    # Regroup guard: resuming skips chunks purely on their 'done'
    # flag, so a resume under a DIFFERENT contig grouping (changed
    # --chunks, changed header) would re-stage contigs already staged
    # elsewhere → duplicated/missing contigs with overlapping ids.
    # The staged grouping is persisted; any mismatch is a hard error,
    # never silent corruption.
    if prog["chunks"]:
        saved_groups = prog.get("groups")
        if saved_groups is None:  # legacy manifest: per-chunk lists
            saved_groups = [
                prog["chunks"].get(str(k), {}).get("contigs")
                for k in range(len(prog["chunks"]))
            ]
        if [list(g) for g in saved_groups] != [list(g) for g in groups]:
            raise ValueError(
                f"resume grouping mismatch: store at {out_path} was "
                f"staged as {len(saved_groups)} contig group(s) "
                f"(n_chunks={prog.get('n_chunks')}) but this run "
                f"groups into {len(groups)} (n_chunks={n_chunks}). "
                f"Re-run with the original --chunks, or delete "
                f"{_progress_path(out_path)} and {out_path}/_staging "
                f"to restart."
            )
    prog["groups"] = [list(g) for g in groups]
    prog["n_chunks"] = n_chunks
    staging = f"{out_path}/_staging"
    rejects_dir = f"{out_path}/_rejects"

    for k, group in enumerate(groups):
        key = str(k)
        if prog["chunks"].get(key, {}).get("done"):
            continue
        if end_chunk is not None and k > end_chunk:
            break
        parsed = parse_records(spark, vcf_path, header)
        if group:
            in_group = F.col("chr").isin(group)
            # unknown contigs (absent from the header) ride the last chunk
            if k == len(groups) - 1:
                in_group = in_group | ~F.col("chr").isin(header.contigs)
            parsed = parsed.filter(in_group)
        rejects, keyed = split_rejects_and_id(
            parsed, header, id_start=int(prog["next_id"])
        )
        # idempotency: delete any partial output of THIS chunk before
        # writing (and before counting, so the id carry stays exact)
        _fs.delete_dir(spark, f"{staging}/chunk={k}")
        _fs.delete_dir(spark, f"{rejects_dir}/chunk={k}")
        rejects.write.parquet(f"{rejects_dir}/chunk={k}")
        keyed.write.parquet(f"{staging}/chunk={k}")
        n = spark.read.parquet(f"{staging}/chunk={k}").count()
        prog["chunks"][key] = {
            "done": True,
            "n_rows": n,
            "id_start": int(prog["next_id"]),
            "id_end": int(prog["next_id"]) + n - 1,
            "contigs": group,
        }
        prog["next_id"] = int(prog["next_id"]) + n
        _save_progress(spark, out_path, prog)

    if any(
        not prog["chunks"].get(str(k), {}).get("done")
        for k in range(len(groups))
    ):
        return prog  # partial run (end_chunk) — resumable later

    # ---- all chunks staged: reject-abort gate, then derive ----
    rejects = spark.read.parquet(rejects_dir).drop("chunk")
    if abort_on_rejects:
        n_rej = rejects.count()
        if n_rej:
            # reference parity: abort BEFORE building any table
            # (pipeline/01:43-53); staging stays for a post-fix re-run
            prog["aborted_on_rejects"] = int(n_rej)
            _save_progress(spark, out_path, prog)
            return prog
    prog.pop("aborted_on_rejects", None)
    ok_all = spark.read.parquet(staging).drop("chunk")
    kept_fields = []
    if header.samples and header.format:
        kept_fields = _probe_format_fields(ok_all, header, probe_rows, multi_value)
    variant_info, variant_impact, variant_geno = derive_tables(
        ok_all, header, kept_fields, multi_value, exonic_on_consequence
    )
    samples, metadata = build_metadata(spark, header)
    tables = VcfTables(
        header=header,
        variant_info=variant_info,
        variant_impact=variant_impact,
        variant_geno=variant_geno,
        samples=samples,
        metadata=metadata,
        rejects=rejects,
    )
    write_vcfdb(
        tables, out_path, mode=mode, geno_bucket_width=geno_bucket_width
    )
    prog["tables_done"] = True
    _save_progress(spark, out_path, prog)
    return prog


def _table_schema(df, ignore: tuple[str, ...] = ()) -> list[tuple[str, str]]:
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if f.name not in ignore
    ]


def append_vcf(
    spark: SparkSession,
    vcf_path: str,
    store_path: str,
    multi_value: str = "melt",
    probe_rows: int = 1000,
) -> int:
    """Append a new VCF to an existing table- or file-mode store,
    continuing the dense id sequence from the stored maximum — a
    capability the reference's one-shot build lacks (its id carry
    exists only within a single build, pipeline/02-build-db.R:522).

    New rows land in their own sorted parquet files whose id ranges
    are disjoint from existing files, so id-range row-group pruning
    keeps working; in file mode new genotype rows route into their
    ``vbucket=`` hive partitions (and variant_info gets the matching
    geno path column), so the O(buckets) partition-pruned pull spans
    old and new ingests alike.  The tables are written concurrently,
    by the same writer as :func:`write_vcfdb`; ``gene_map`` is then
    rebuilt from the full impact table.  Ids stay dense overall but
    position-sorted only within each ingest (append order = arrival
    order, like the reference's chunk-order semantics).  Returns the
    number of appended variants.

    Guards: the appended VCF must have the SAME sample cohort and the
    SAME derived table schemas (INFO/FORMAT header drift would append
    mixed-schema parquet that later plain reads silently mis-handle —
    parquet resolves columns per file, so a drifted file's extra
    columns vanish and missing ones read as NULL with no error).
    Bucketed stores are rejected: appending around the catalog's
    bucket layout would silently break the zero-Exchange join
    contract; compact to a plain layout first.  Streamed stores are
    rejected: their ids come from the stream's progress file, which
    would hand the appended ids out again.
    """
    db = open_vcfdb(spark, store_path)
    if db.manifest.get("bucketed"):
        raise ValueError(
            "append_vcf does not support bucketed stores (new files "
            "would not join the catalog bucket layout) — compact to a "
            "plain layout, append, then rewrite bucketed"
        )
    if db.manifest.get("streamed"):
        raise ValueError(
            f"append_vcf does not support the streamed store at "
            f"{store_path}: its _stream_progress.json next_id would hand "
            f"the appended ids out again — put the VCF into the stream's "
            f"input dir (stream_vcf_ingest's vcf_dir) instead"
        )
    start = (db.variant_info.agg(F.max("variant_id")).first()[0] or 0) + 1
    tables = read_vcf(
        spark, vcf_path, multi_value=multi_value,
        probe_rows=probe_rows, id_start=start,
    )
    new_samples = tables.header.samples
    if new_samples != db.manifest.get("samples", new_samples):
        raise ValueError(
            "appended VCF has a different sample cohort than the store"
        )
    # file mode's layout columns (variant_info.geno, variant_geno's
    # vbucket) are stored but added only by write_table
    layout_cols = ("geno", "vbucket") if db.manifest["mode"] == "file" else ()

    def _guard(name: str, new_df) -> None:
        try:
            store_df = db.table(name)
        except Exception:
            store_df = None
        if (store_df is None) != (new_df is None):
            raise ValueError(
                f"schema drift: table {name} "
                f"{'exists in the store but not in' if new_df is None else 'derived from'} "
                f"the appended VCF does not match the store's tables"
            )
        if store_df is None:
            return
        want = _table_schema(store_df, layout_cols)
        got = _table_schema(new_df, layout_cols)
        if want != got:
            drift = sorted(set(want).symmetric_difference(got))
            raise ValueError(
                f"schema drift on {name}: appended VCF's INFO/FORMAT "
                f"headers derive a different table schema "
                f"(differing columns: {drift}) — fix the header or "
                f"build a separate store"
            )

    _guard("variant_info", tables.variant_info)
    _guard("variant_impact", tables.variant_impact)
    _guard("variant_geno", tables.variant_geno)

    # count once off the persisted parse — the id range is dense by
    # construction, so this IS the appended-row count (no post-write
    # re-read of the whole store's max id)
    n_new = tables.variant_info.count()
    write_tables(
        tables, store_path, db.manifest, mode="append",
        gene_map_from=lambda: db.variant_impact,
    )
    return int(n_new)


def compact_table(
    spark: SparkSession,
    store_path: str,
    table: str = "variant_geno",
    n_partitions: int | None = None,
) -> int:
    """Rewrite a store table into ``n_partitions`` range-sorted files
    — the maintenance pass after many appends have accumulated small
    files (each append writes its own sorted file set; row-group
    pruning still works but per-file overhead grows).

    Manifest-aware, through :func:`~vcfdbr_spark.sources.store.
    write_table`: a bucketed store's variant_info/variant_geno are
    refused (a plain rewrite would destroy the catalog bucket layout
    behind the catalog's back — the zero-Exchange join would then
    return wrong bucket pruning); a file-mode variant_geno keeps its
    ``vbucket=`` hive partitioning, compacting to one sorted file per
    bucket so the partition-pruned pull contract survives; a streamed
    store's ``ingest_batch=N`` dirs all fold into the stream's own
    ``ingest_batch=-1`` history partition, so batches streamed later
    still land beside it.

    The rewrite goes through :func:`vcfdbr_spark.fs.swap_dir`: a
    crash leaves the original or the finished copy, never a
    half-written table, and the next call heals a swap a crash left
    half done.  Returns the row count.
    """
    manifest = read_manifest(spark, store_path)
    if table not in TABLE_SORTS:
        raise ValueError(
            f"compact_table rewrites one of {sorted(TABLE_SORTS)}, not {table}"
        )
    if manifest.get("bucketed") and table in ("variant_info", "variant_geno"):
        raise ValueError(
            f"compact_table refuses {table} on a bucketed store: a "
            f"plain rewrite would break the catalog bucket layout — "
            f"rewrite the store via write_vcfdb(bucketed=True) instead"
        )
    table_path = f"{store_path}/{table}"

    def write(tmp: str) -> int:
        df = spark.read.parquet(table_path)
        n = df.count()
        if manifest.get("streamed"):
            df = df.withColumn("ingest_batch", F.lit(-1))
        write_table(
            df, store_path, table, manifest, n_partitions=n_partitions, dest=tmp
        )
        return int(n)

    return _fs.swap_dir(spark, table_path, write)
