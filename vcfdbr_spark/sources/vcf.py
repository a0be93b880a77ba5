"""VCF → three linked DataFrames, Spark-first.

Reference pipeline being re-expressed (citations into /root/reference):
``pipeline/01-generate-variant-ranges-index.R`` (scan planning +
multiallelic reject channel) and ``pipeline/02-build-db.R`` (chunked
parse into ``variant_info`` / ``variant_impact`` / ``variant_geno`` +
header metadata tables).

Architecture notes (how this differs from the reference, on purpose):

- The reference pre-plans ~1000-variant tabix windows and loops over
  them with explicit checkpointing because R holds one chunk in memory
  at a time.  Spark's partition-at-a-time execution IS that loop: one
  distributed text scan, Catalyst handles chunking/parallelism, and a
  transactional Parquet write replaces the progress file.
- SQLite can't store lists, so the reference stringifies or drops
  multi-valued fields (README.md:111).  We keep native ``ArrayType``
  columns (``multi_value='array'``) and also offer the reference's
  melt-to-``field_k`` shape (``'melt'``, pipeline/02-build-db.R:395-409)
  and its default skip behavior (``'skip'``, :164-167).
- The whole parse is built-in-function column algebra (split /
  str_to_map / explode / when) — no Python UDFs anywhere, so the plan
  stays inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vcfdbr_spark.functions.genotype import gt2snp
from vcfdbr_spark.functions.impact import impact_flags
from vcfdbr_spark.operators.ids import with_dense_ids
from vcfdbr_spark.schema import VcfField, VcfHeader, mangle_name, read_header

# Columns dropped from variant_impact after the CSQ explode
# (pipeline/02-build-db.R:284): every "*_af" plus this fixed list.
_IMPACT_DROP = {
    "clin_sig",
    "pheno",
    "somatic",
    "pubmed",
    "consequence_annotations_from_ensembl_vep__format__allele",
}
# INFO fields routed to variant_impact instead of variant_info when CSQ
# exists (pipeline/02-build-db.R:287-305, :319).
_CLINVAR_FIELDS = ("clinvar_sig", "clinvar_disease_name")


@dataclass
class VcfTables:
    """The relational form of one VCF (SURVEY.md §1.1)."""

    header: VcfHeader
    variant_info: DataFrame
    variant_impact: DataFrame | None
    variant_geno: DataFrame | None
    samples: DataFrame
    metadata: dict[str, DataFrame] = dc_field(default_factory=dict)
    rejects: DataFrame | None = None

    def tables(self) -> dict[str, DataFrame]:
        out = {"variant_info": self.variant_info, "samples": self.samples}
        if self.variant_impact is not None:
            out["variant_impact"] = self.variant_impact
        if self.variant_geno is not None:
            out["variant_geno"] = self.variant_geno
        return out


def _null_if_dot(c: Column) -> Column:
    return F.when(c == ".", F.lit(None)).otherwise(c)


def _cast_scalar(c: Column, f: VcfField) -> Column:
    return _null_if_dot(c).try_cast(f.spark_type)


def _cast_array(c: Column, f: VcfField) -> Column:
    elem = F.split(_null_if_dot(c), ",")
    return F.transform(elem, lambda x: x.try_cast(f.spark_type))


def _info_column(info_map: Column, f: VcfField, n_alts: int = 1) -> Column:
    raw = info_map.getItem(f.id)
    if f.is_flag:
        return F.map_contains_key(info_map, f.id)
    n = f.scalar_count(n_alts=n_alts)
    if n == 1:
        return _cast_scalar(raw, f)
    return _cast_array(raw, f)


def vcf_member_files(path: str, spark: SparkSession | None = None) -> list[str]:
    """Resolve a directory or glob of per-chromosome VCF shards (the
    normal layout for population-scale data) to the member files.
    Shards must share one header (same cohort) — the standard
    bcftools-split contract; the distributed text scan itself takes
    the dir/glob unchanged.

    Scheme-qualified paths (``hdfs://``, ``s3a://``, ``file://``)
    resolve through the Hadoop FileSystem (needs ``spark``): a remote
    directory of ``.gz`` shards must still surface member NAMES so the
    gzip-unsplittable test sees them — the local-only fallback would
    miss them and mis-estimate the scan's split count."""
    import glob as _glob
    import os as _os

    if "://" in path and spark is not None:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if any(ch in path for ch in "*?["):
            statuses = fs.globStatus(jpath) or []
        elif fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory():
            statuses = fs.listStatus(jpath)
        else:
            return [path]
        members = sorted(
            s.getPath().toString()
            for s in statuses
            if s.isFile()
            and s.getPath().getName().endswith((".vcf", ".vcf.gz", ".vcf.bgz"))
        )
        if not members:
            raise FileNotFoundError(f"no .vcf[.gz] files under {path}")
        return members
    if _os.path.isdir(path):
        members = sorted(
            p
            for p in _glob.glob(_os.path.join(path, "*"))
            if p.endswith((".vcf", ".vcf.gz", ".vcf.bgz"))
        )
        if not members:
            raise FileNotFoundError(f"no .vcf[.gz] files under {path}")
        return members
    if any(ch in path for ch in "*?["):
        members = sorted(_glob.glob(path))
        if not members:
            raise FileNotFoundError(f"glob matched nothing: {path}")
        return members
    return [path]


def first_vcf_file(path: str) -> str:
    """One member file for driver-side header/probe reads."""
    return vcf_member_files(path)[0]


def contig_rank_expr(header: VcfHeader) -> Column:
    """Header-order contig rank (ids sort by header order, not string
    order — pipeline/02-build-db.R:258-259); unknown contigs rank last."""
    contig_rank = {ctg: i for i, ctg in enumerate(header.contigs)}
    if not contig_rank:
        return F.lit(0)
    return F.coalesce(
        *(
            [
                F.when(F.col("chr") == ctg, F.lit(i))
                for ctg, i in contig_rank.items()
            ]
            + [F.lit(len(contig_rank))]
        )
    )


def parse_records(spark: SparkSession, path: str, header: VcfHeader) -> DataFrame:
    """Distributed text scan → typed base columns (no ids yet).

    One select of built-in functions: fixed fields, INFO as a map,
    FORMAT string, and ONE array column holding every sample cell.
    """
    raw = spark.read.text(path).filter(~F.col("value").startswith("#"))
    # A single modest VCF arrives as one input split; spread the parse
    # across the cluster (dense ids are sort-derived, so input
    # partitioning is irrelevant to correctness).  Large inputs
    # already split by maxPartitionBytes and skip this.
    # MUST be a deterministic redistribution: round-robin repartition()
    # varies across re-executions, and a partially-cached persisted
    # frame mixes cached and recomputed partitions — observed losing
    # ~2/3 of rows.  Hash-partitioning on the line content is stable.
    # The split estimate is driver-side filesystem metadata — asking
    # the DataFrame's RDD (`raw.rdd.getNumPartitions()`) costs ~1 s of
    # plan→RDD conversion per ingest.  Resolve globs/dirs to member
    # files first: getContentSummary throws on glob patterns, and the
    # gzip test must see member NAMES (a dir of .vcf.gz shards is
    # still unsplittable per shard even though the dir path has no
    # .gz suffix).
    parallelism = spark.sparkContext.defaultParallelism
    try:
        members = vcf_member_files(path, spark)
    except (FileNotFoundError, OSError):
        members = [path]
    try:
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        conf = spark._jsc.hadoopConfiguration()
        n_bytes = 0
        for m in members:
            jp = jvm_path(m)
            n_bytes += jp.getFileSystem(conf).getContentSummary(jp).getLength()
    except Exception:
        n_bytes = None
    any_gzip = any(m.endswith((".gz", ".bgz")) for m in members)
    if any_gzip:
        # gzip is not splittable: each shard arrives as ONE split, so
        # the scan's parallelism is capped at len(members) however
        # large the shards are — spread unless the shard count alone
        # already covers the cluster
        est_splits = len(members)
    else:
        # size unknown (FS error on a plain-text input): do NOT force
        # a spread — plain text splits natively, and repartitioning an
        # arbitrarily large scan is a full shuffle of the input
        est_splits = None if n_bytes is None else n_bytes // (128 << 20) + 1
    if est_splits is not None and est_splits < parallelism:
        raw = raw.repartition(parallelism, F.col("value"))
    return parse_lines(raw, header)


def parse_lines(raw: DataFrame, header: VcfHeader) -> DataFrame:
    """Typed base columns from a DataFrame of raw VCF record lines
    (one ``value`` string column; header lines must already be
    filtered out).  Shared by the batch path (``parse_records``) and
    the streaming ingest's per-micro-batch parse."""
    c = F.split(F.col("value"), "\t")
    base_cols = [
        c.getItem(0).alias("chr"),
        c.getItem(1).try_cast("long").alias("start"),
        c.getItem(3).alias("ref"),
        c.getItem(4).alias("alt"),
        _null_if_dot(c.getItem(5)).try_cast("double").alias("qual"),
        c.getItem(6).alias("filter"),
        F.str_to_map(c.getItem(7), F.lit(";"), F.lit("=")).alias("_info"),
    ]
    if header.samples:
        base_cols.append(c.getItem(8).alias("_format"))
        # ONE array column for all samples — never per-sample columns:
        # a 2,504-sample cohort would otherwise put thousands of
        # expression nodes in every operator (planning + codegen blow
        # up quadratically; observed 185 s for 500 wide variants).
        base_cols.append(
            F.slice(c, 10, len(header.samples)).alias("_samples")
        )
    return raw.select(*base_cols)


def read_vcf(
    spark: SparkSession,
    path: str,
    *,
    multi_value: str = "melt",
    probe_rows: int = 1000,
    exonic_on_consequence: bool = False,
    id_start: int = 1,
) -> VcfTables:
    """Parse a (biallelic-split) VCF into the three-table relational
    model.  One distributed text scan; ids dense in (contig, pos, ref,
    alt) order starting at ``id_start`` — the Spark rendering of the
    reference's chunk-order id with cross-build carry
    (pipeline/02-build-db.R:258-259, :522).

    ``multi_value``: 'melt' → reference's ``field_k`` columns
    (pipeline/02-build-db.R:395-409); 'array' → native ArrayType
    columns (Spark-native improvement); 'skip' → reference default
    (:164-167).
    """
    assert multi_value in ("melt", "array", "skip")
    header = read_header(first_vcf_file(path))
    parsed = parse_records(spark, path, header)

    rejects, ok = split_rejects_and_id(parsed, header, id_start)
    # Schema probe BEFORE persisting: a limit() must never be the
    # first action on a persisted frame — the truncated consumption
    # poisons the partition cache (observed: ~2/3 of rows lost from
    # every later full read of the cache).
    kept_fields: list[VcfField] = []
    if header.samples and header.format:
        kept_fields = probe_format_fields_local(
            first_vcf_file(path), header, probe_rows, multi_value
        )
    # Three tables branch off this parse: materialize it once.
    ok = ok.persist()

    variant_info, variant_impact, variant_geno = derive_tables(
        ok, header, kept_fields, multi_value, exonic_on_consequence
    )

    # ---- samples + header metadata (02:110-136) ----
    samples, metadata = build_metadata(spark, header)

    return VcfTables(
        header=header,
        variant_info=variant_info,
        variant_impact=variant_impact,
        variant_geno=variant_geno,
        samples=samples,
        metadata=metadata,
        rejects=rejects,
    )


def split_rejects_and_id(
    parsed: DataFrame, header: VcfHeader, id_start: int = 1
) -> tuple[DataFrame, DataFrame]:
    """``(rejects, keyed)`` from a parsed frame; both lazy.  Shared by
    the batch read, the resumable build and the streaming ingest.

    Reject channel: multiallelic sites (pipeline/01:43-53 — the
    reference aborts the build on these) plus malformed records
    (unparseable POS), surfaced as a DataFrame with a reason column
    instead of silently ingesting NULL coordinates.  ``keyed`` is the
    rest, with a dense sequential ``variant_id`` from ``id_start`` in
    (contig-rank, pos, ref, alt) order."""
    is_multi = F.col("alt").contains(",")
    is_malformed = F.col("start").isNull()
    rejects = parsed.filter(is_multi | is_malformed).select(
        "chr",
        "start",
        "ref",
        "alt",
        F.when(is_multi, "multiallelic").otherwise("malformed").alias("reason"),
    )
    ok = parsed.filter(~is_multi & ~is_malformed).withColumn(
        "_crank", contig_rank_expr(header)
    )
    keyed = with_dense_ids(
        ok,
        ["_crank", "chr", "start", "ref", "alt"],
        id_col="variant_id",
        start=id_start,
        # genome-shaped bucketing: one bucket per (contig, 1Mb window)
        # — monotone prefix of the sort order, ~3k buckets per genome,
        # each sorting independently
        bucket=F.struct(
            F.col("_crank"), F.col("chr"), F.floor(F.col("start") / 1_000_000)
        ),
    ).drop("_crank")
    return rejects, keyed


def derive_tables(
    ok: DataFrame,
    header: VcfHeader,
    kept_fields: list[VcfField],
    multi_value: str = "melt",
    exonic_on_consequence: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """The three relational tables from a parsed-and-id'd frame
    (columns: variant_id, chr, start, ref, alt, qual, filter, _info
    [, _format, _samples]).  Split out of ``read_vcf`` so the
    resumable chunked builder (sources/build.py) can derive tables
    from its staged parse without re-reading the VCF."""
    csq_cols = header.csq_columns
    info_fields = [f for k, f in header.info.items()]

    # ---- variant_info (pipeline/02-build-db.R:316-335) ----
    skip_info = {"CSQ"} if csq_cols else set()
    if csq_cols:
        skip_info |= {
            k for k in header.info if mangle_name(k) in _CLINVAR_FIELDS
        }
    info_cols: list[Column] = [
        F.col("variant_id"),
        F.col("chr"),
        F.col("start"),
        (F.col("start") + F.length("ref") - 1).alias("end"),
        F.col("ref"),
        F.col("alt"),
        F.col("qual"),
        F.col("filter"),
    ]
    seen = {"variant_id", "chr", "start", "end", "ref", "alt", "qual", "filter"}
    for f_ in info_fields:
        if f_.id in skip_info:
            continue
        name = mangle_name(f_.id)
        if name in seen:  # first occurrence wins (02:348)
            continue
        seen.add(name)
        info_cols.append(_info_column(F.col("_info"), f_).alias(name))
    variant_info = ok.select(*info_cols)

    # ---- variant_impact (pipeline/02-build-db.R:269-306) ----
    variant_impact = None
    if csq_cols:
        csq_arr = F.split(F.col("_info").getItem("CSQ"), ",")
        imp = (
            ok.select(
                "variant_id",
                "_info",
                F.explode(csq_arr).alias("_csq"),  # unnest(CSQ): inner, drops null
            )
            .withColumn("_f", F.split(F.col("_csq"), r"\|"))
        )
        picked, seen_imp = [], set()
        for i, name in enumerate(csq_cols):
            if name in seen_imp:
                continue
            seen_imp.add(name)
            picked.append(F.coalesce(F.get("_f", i), F.lit("")).alias(name))
        imp = imp.select("variant_id", "_info", *[p for p in picked])
        # separate_rows(consequence, sep='&') (02:279)
        if "consequence" in seen_imp:
            imp = imp.withColumn(
                "consequence", F.explode(F.split(F.col("consequence"), "&"))
            )
            flags = impact_flags(
                F.col("consequence"),
                F.col("impact") if "impact" in seen_imp else F.lit(None),
                F.col("biotype") if "biotype" in seen_imp else F.lit(None),
                F.col("intron") if "intron" in seen_imp else F.lit(""),
                exonic_on_consequence=exonic_on_consequence,
            )
            for fname, expr in flags.items():
                imp = imp.withColumn(fname, expr)
        # drop *_af + fixed list (02:284)
        drop = [
            n
            for n in imp.columns
            if n.endswith("_af") or n in _IMPACT_DROP
        ]
        imp = imp.drop(*drop)
        # clinvar enrichment from INFO (02:287-305) — same row, no join
        # needed: the reference only joins because it re-derives the
        # column from a separate tibble; on a single parsed record the
        # value is already in scope.
        for k in header.info:
            if mangle_name(k) in _CLINVAR_FIELDS:
                imp = imp.withColumn(
                    mangle_name(k),
                    _cast_scalar(F.col("_info").getItem(k), header.info[k]),
                )
        variant_impact = imp.drop("_info")

    # ---- variant_geno (pipeline/02-build-db.R:368-424) ----
    variant_geno = None
    if kept_fields:
        variant_geno = _build_geno(ok, header, kept_fields, multi_value)

    return variant_info, variant_impact, variant_geno


def build_metadata(
    spark: SparkSession, header: VcfHeader
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """samples table + one small table per header section (02:110-136).

    Local frames go through pandas/Arrow on purpose: a list-of-tuples
    ``createDataFrame`` becomes a Python-RDD-backed scan that spawns a
    Python worker per downstream job (measured ~4-6 s PER tiny table
    write — 19 s of a 26 s store write); the Arrow path plans as a
    JVM-local relation and writes in milliseconds.
    """
    import pandas as pd

    samples = spark.createDataFrame(
        pd.DataFrame(
            {
                "name": pd.array(
                    range(1, len(header.samples) + 1), dtype="int64"
                ),
                "value": pd.array(header.samples, dtype="object"),
            }
        ),
        schema="name long, value string",  # explicit: may be empty (sites-only VCF)
    )
    metadata: dict[str, DataFrame] = {}
    for section, rows in header.raw_sections.items():
        keys: list[str] = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        cols = ["name" if k == "ID" else k for k in keys]
        pdf = pd.DataFrame(
            {c: [r.get(k) for r in rows] for k, c in zip(keys, cols)},
            dtype="object",
        )
        metadata[section] = spark.createDataFrame(
            pdf, schema=", ".join(f"`{c}` string" for c in cols)
        )
    return samples, metadata


_MISSING_RE = __import__("re").compile(r"^\.?(/\.|\|\.)*$")


def probe_format_fields_local(
    path: str, header: VcfHeader, probe_rows: int, multi_value: str
) -> list[VcfField]:
    """Driver-side first-chunk schema probe — the same bounded
    single-chunk peek the reference does in-process
    (pipeline/02-build-db.R:140-177): read the first ``probe_rows``
    data lines straight off the file (no Spark job; saves ~1.5 s per
    ingest), keep FORMAT fields with ≥1 non-missing value, apply the
    multi-value policy, GT first.
    """
    import gzip
    import io

    opener = gzip.open if path.endswith((".gz", ".bgz")) else open
    present: set[str] = set()
    fields = list(header.format.values())
    n_seen = 0
    with opener(path, "rb") as fh:
        text = io.TextIOWrapper(fh, encoding="utf-8", errors="replace")
        for line in text:
            if line.startswith("#"):
                continue
            cols = line.rstrip("\n").split("\t")
            if len(cols) < 10:
                continue
            fmt = cols[8].split(":")
            for cell in cols[9:]:
                vals = cell.split(":")
                for i, fid in enumerate(fmt):
                    if fid in present or i >= len(vals):
                        continue
                    v = vals[i]
                    if v != "" and not _MISSING_RE.match(v):
                        present.add(fid)
            n_seen += 1
            if n_seen >= probe_rows or len(present) == len(fields):
                break
    kept = []
    for f_ in fields:
        if f_.id not in present:
            continue  # all-missing → skipped (02:146-154)
        if f_.scalar_count() != 1 and multi_value == "skip":
            continue  # reference default skips arrays (02:164-167)
        kept.append(f_)
    kept.sort(key=lambda f_: (f_.id != "GT",))
    return kept


def _probe_format_fields(
    ok: DataFrame, header: VcfHeader, probe_rows: int, multi_value: str
) -> list[VcfField]:
    """Distributed first-chunk schema probe — used when the parsed
    frame already exists but the raw file may not be line-readable
    (the resumable builder probes its staging parquet with this;
    ``read_vcf`` uses the driver-side ``probe_format_fields_local``).
    Reference: pipeline/02-build-db.R:140-177 — drop
    FORMAT fields that are entirely missing in the first ``probe_rows``
    records; drop multi-value fields under ``multi_value='skip'``.

    The probe explodes the bounded sample slice — simple expressions
    over (probe_rows × n_samples) rows instead of a width-quadratic
    expression tree; one tiny job, mirroring the reference's
    single-chunk peek.
    """
    fields = list(header.format.values())
    probe = (
        ok.select("_format", "_samples")
        .limit(probe_rows)
        .select(
            F.split(F.col("_format"), ":").alias("_fmt"),
            F.explode(F.col("_samples")).alias("_raw"),
        )
        .select("_fmt", F.split(F.col("_raw"), ":").alias("_vals"))
    )
    checks = []
    for f_ in fields:
        pos = F.array_position(F.col("_fmt"), f_.id)
        present = F.max(
            F.when(
                pos > 0,
                (
                    ~F.coalesce(
                        F.get(F.col("_vals"), (pos - 1).cast("int")), F.lit(".")
                    ).rlike(r"^\.?(/\.|\|\.)*$")
                ).cast("int"),
            ).otherwise(F.lit(0))
        ).alias(f_.id)
        checks.append(present)
    present = probe.agg(*checks).first()
    kept = []
    for f_ in fields:
        if not present[f_.id]:
            continue  # all-missing → skipped (02:146-154)
        if f_.scalar_count() != 1 and multi_value == "skip":
            continue  # reference default skips arrays (02:164-167)
        kept.append(f_)
    # GT first — the reference builds the long table from the first
    # geno field and binds the rest (02:370-394); column order parity.
    kept.sort(key=lambda f_: (f_.id != "GT",))
    return kept


def _build_geno(
    ok: DataFrame, header: VcfHeader, kept: list[VcfField], multi_value: str
) -> DataFrame:
    """Wide FORMAT matrix → long (variant_id, sample, fields…) in ONE
    posexplode of the sample-slice array, then slice fields out of the
    raw string by the per-row FORMAT layout.  This is the Spark-native
    rendering of the reference's gather/bind_cols melt (02:368-394) —
    no shuffle at all; row count multiplies by n_samples inside the
    stage.  Sample names resolve from a single array literal by
    ordinal, so plan size is independent of cohort width.
    """
    names = F.array(*[F.lit(s) for s in header.samples])
    g = ok.select(
        "variant_id",
        F.split(F.col("_format"), ":").alias("_fmt"),
        F.posexplode(F.col("_samples")).alias("_sidx", "_raw"),
    ).select(
        "variant_id",
        F.element_at(names, F.col("_sidx") + 1).alias("sample"),
        F.split(F.col("_raw"), ":").alias("_vals"),
        "_fmt",
    )

    def raw_field(fid: str) -> Column:
        pos = F.array_position(F.col("_fmt"), fid)
        return F.when(pos > 0, F.get(F.col("_vals"), (pos - 1).cast("int")))

    out_cols: list[Column] = [F.col("variant_id"), F.col("sample")]
    has_gt = False
    for f_ in kept:
        name = mangle_name(f_.id)
        n = f_.scalar_count()
        raw = raw_field(f_.id)
        if f_.id == "GT":
            has_gt = True
            out_cols.append(gt2snp(raw).alias("gt"))
            continue
        if n == 1:
            out_cols.append(_cast_scalar(raw, f_).alias(name))
        elif multi_value == "array":
            out_cols.append(_cast_array(raw, f_).alias(name))
        else:  # melt → field_k scalar columns (02:395-409)
            arr = F.split(raw, ",")
            width = n if n is not None else 2
            for k in range(width):
                out_cols.append(
                    _cast_scalar(F.get(arr, k), f_).alias(f"{name}_{k + 1}")
                )
    if has_gt:
        out_cols.append(raw_field("GT").alias("gt_raw"))
    return g.select(*out_cols)
