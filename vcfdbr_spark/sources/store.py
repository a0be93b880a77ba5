"""Physical layout: Parquet tables standing in for SQLite + indexes.

The reference's index stage (pipeline/03-index-db.R) creates 13 B-tree
indexes; a columnar store replaces them with LAYOUT (SURVEY.md §4):

- ``variant_info``  → range-partitioned + sorted by ``variant_id``:
  Parquet row-group min/max stats give point/IN-list pruning (B1).
- ``variant_geno``  → same on ``variant_id``(, sample) — the layout
  that makes genotype pull feasible (B2); in ``file`` mode it is
  additionally hive-partitioned into fixed-width id buckets, the
  capability analog of one-file-per-variant (README.md:32-36) with
  O(1) files touched per id.
- ``variant_impact`` → range-partitioned + sorted by ``symbol`` so the
  canonical gene query prunes row groups (B3); low-cardinality flag
  columns rely on dictionary + stats pruning.
- ``gene_map``      → distinct gene/transcript dimension
  (pipeline/03-index-db.R:86-101), '' normalized to NULL (:95).

At cluster scale each table write is a single shuffle; bucket width
controls file count (tune so one bucket ≈ one HDFS-block-sized file).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vcfdbr_spark import fs as _fs
from vcfdbr_spark.schema import VcfHeader
from vcfdbr_spark.sources.vcf import VcfTables

GENE_MAP_COLS = [
    "symbol",
    "symbol_source",
    "gene",
    "source",
    "feature",
    "canonical",
    "ensp",
    "ccds",
    "motif_name",
    "feature_type",
]

_TABLES = ("variant_info", "variant_impact", "variant_geno", "samples", "gene_map")


def build_gene_map(variant_impact: DataFrame) -> DataFrame:
    """Distinct gene/transcript dimension (pipeline/03-index-db.R:86-101):
    ``select(any_of(GENE_MAP_COLS)) %>% distinct()`` with '' → NULL."""
    cols = [c for c in GENE_MAP_COLS if c in variant_impact.columns]
    out = variant_impact.select(*cols).distinct()
    for c in cols:
        out = out.withColumn(c, F.when(F.col(c) == "", None).otherwise(F.col(c)))
    # '' and NULL collapse to the same value after normalization —
    # re-distinct to keep the set semantics of the reference (which
    # normalizes before writing the distinct frame).
    return out.distinct()


def _manifest_path(path: str) -> str:
    return f"{path}/_vcfdb_manifest.json"


def read_manifest(spark: SparkSession, path: str) -> dict:
    """The store manifest at ``path``, read through the Hadoop FS (the
    store may live on ``hdfs://``/``s3a://``); raises
    ``FileNotFoundError`` when ``path`` holds no store."""
    raw = _fs.read_text(spark, _manifest_path(path))
    if raw is None:
        raise FileNotFoundError(f"no store manifest at {_manifest_path(path)}")
    return json.loads(raw)


def write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    """Write the store manifest at ``path`` through the Hadoop FS."""
    _fs.write_text(spark, _manifest_path(path), json.dumps(manifest))


def _catalog_base(path: str) -> str:
    """Deterministic catalog-table name prefix for a store path."""
    import re

    return "vcfdb_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.abspath(path)).strip("_")


# Each fact table's sort keys: the range partitioning and in-file sort
# order whose Parquet row-group stats stand in for its B-tree index.
TABLE_SORTS = {
    "variant_info": ("variant_id",),
    "variant_impact": ("symbol", "variant_id"),
    "variant_geno": ("variant_id", "sample"),
}


def store_manifest(
    header: VcfHeader,
    mode: str = "table",
    geno_bucket_width: int | None = None,
    bucketed: bool = False,
    n_buckets: int | None = None,
    streamed: bool = False,
) -> dict:
    """The store manifest, which is also the ``layout`` that
    :func:`write_table` writes by."""
    manifest = {
        "mode": mode,
        "geno_bucket_width": geno_bucket_width,
        "sections": sorted(header.raw_sections),
        "samples": header.samples,
        "bucketed": bool(bucketed),
        "n_buckets": n_buckets if bucketed else None,
    }
    if streamed:
        manifest["streamed"] = True
    return manifest


def write_table(
    df: DataFrame,
    path: str,
    table: str,
    layout: dict,
    mode: str = "overwrite",
    n_partitions: int | None = None,
    dest: str | None = None,
) -> None:
    """Write ``df`` as the fact table ``table`` of the store at ``path``
    in the store's ``layout`` (its manifest).  The one place a table's
    physical design is decided; build, append, compaction and the
    stream's fold all write through it:

    - the :data:`TABLE_SORTS` keys range-partition the rows (into
      ``n_partitions`` files when given) and sort each file;
    - ``bucketed`` stores hash-bucket variant_info and variant_geno on
      ``variant_id`` through the catalog (:func:`write_vcfdb`);
    - ``file`` mode hive-partitions variant_geno by ``vbucket`` (one
      sorted file per bucket) and gives variant_info a ``geno`` column
      with the variant's bucket dir; each column is added when absent;
    - ``streamed`` stores partition every table by ``ingest_batch``.

    ``dest`` is the directory written, ``<path>/<table>`` by default;
    a compaction passes its swap's ``.tmp``.
    """
    dest = dest or f"{path}/{table}"
    keys = TABLE_SORTS.get(table, ())
    if layout.get("bucketed") and table in ("variant_info", "variant_geno"):
        from vcfdbr_spark.plans.bucketing import write_bucketed

        n = int(layout["n_buckets"])
        write_bucketed(
            df.repartition(n, "variant_id"),
            f"{_catalog_base(path)}_{table}",
            ["variant_id"],
            n,
            sort_cols=list(keys),
            path=dest,
        )
        return
    file_mode = layout["mode"] == "file"
    if file_mode:
        bucket = (F.col("variant_id") / int(layout["geno_bucket_width"])).cast("long")
    if file_mode and table == "variant_info" and "geno" not in df.columns:
        # reference parity: file mode records a per-variant genotype
        # path in variant_info.geno (pipeline/02-build-db.R:433-436);
        # the engine's unit of genotype storage is the id bucket, so
        # the path points at the variant's vbucket partition directory
        df = df.withColumn(
            "geno",
            F.concat(F.lit(f"{path}/variant_geno/vbucket="), bucket.cast("string")),
        )
    parts = ["ingest_batch"] if layout.get("streamed") else []
    if file_mode and table == "variant_geno":
        if "vbucket" not in df.columns:
            df = df.withColumn("vbucket", bucket)
        df, parts = df.repartition("vbucket"), ["vbucket"]
    elif keys:
        # a streamed table range-partitions on its sort keys too: its
        # folded -1 partition is nearly the whole table, and hashing on
        # ingest_batch would funnel it into a single write task
        df = df.repartitionByRange(*([n_partitions] if n_partitions else []), *keys)
    if keys:
        df = df.sortWithinPartitions(*keys)
    writer = df.write.mode(mode)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(dest)


def write_small(path: str, samples: DataFrame, metadata: dict[str, DataFrame]) -> None:
    """The single-file dimension tables: samples and one table per
    header section under ``_meta/``."""
    samples.coalesce(1).write.mode("overwrite").parquet(f"{path}/samples")
    for section, df in metadata.items():
        df.coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta/{section}")


def write_gene_map(path: str, variant_impact: DataFrame) -> None:
    """gene_map, one file, built from ``variant_impact``, replaced by
    :func:`vcfdbr_spark.fs.swap_dir` so a failed write leaves the old
    map readable."""
    _fs.swap_dir(
        variant_impact.sparkSession,
        f"{path}/gene_map",
        build_gene_map(variant_impact).coalesce(1).write.parquet,
    )


def write_tables(
    tables: VcfTables,
    path: str,
    layout: dict,
    mode: str = "overwrite",
    gene_map_from: Callable[[], DataFrame] | None = None,
) -> None:
    """Write one parse's tables into the store at ``path``: each fact
    table through :func:`write_table` in ``mode``, then gene_map from
    ``gene_map_from()`` after variant_impact (default: the parse's own
    impact table; an append passes the whole stored one).  An
    overwrite also writes samples and ``_meta``; an append keeps them.

    The table writes are independent Spark jobs over the same shared
    (persisted) parse — they are submitted concurrently from driver
    threads so the cluster overlaps their shuffles instead of idling
    between jobs.  The block manager computes each cached partition
    once (concurrent consumers block on the same partition lock), so
    the shared parent is still evaluated a single time.
    """
    from concurrent.futures import ThreadPoolExecutor

    def write(table: str) -> None:
        write_table(getattr(tables, table), path, table, layout, mode)

    def write_impact() -> None:
        write("variant_impact")
        impact = gene_map_from() if gene_map_from else tables.variant_impact
        write_gene_map(path, impact)

    jobs = [lambda: write("variant_info")]
    if mode == "overwrite":
        jobs.append(lambda: write_small(path, tables.samples, tables.metadata))
    if tables.variant_impact is not None:
        jobs.append(write_impact)
    if tables.variant_geno is not None:
        jobs.append(lambda: write("variant_geno"))
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(j) for j in jobs]
        for f in futures:
            f.result()  # re-raise the first failure


def write_vcfdb(
    tables: VcfTables,
    path: str,
    mode: str = "table",
    geno_bucket_width: int = 100_000,
    bucketed: bool = False,
    n_buckets: int = 16,
) -> None:
    """Write the relational store.  ``mode='file'`` hive-partitions the
    geno table by id bucket (file-mode analog); ``'table'`` writes one
    range-sorted table (table-mode analog, pipeline/02-build-db.R:461-473).

    ``bucketed=True`` (table mode only) additionally hash-buckets
    variant_info and variant_geno on ``variant_id`` via the catalog
    (plans/bucketing.py): the recurring info⋈geno pull join then reads
    matching buckets side-by-side with NO Exchange — the Spark
    rendering of the reference's "both tables indexed on variant_id"
    (pipeline/03-index-db.R:37-43).  Trade-off: bucket-hash layout
    replaces the id-range sort for variant_info, so id-range row-group
    pruning weakens; each bucket is still sorted by variant_id.
    """
    assert mode in ("table", "file")
    if bucketed and mode != "table":
        raise ValueError("bucketed layout requires mode='table'")
    layout = store_manifest(
        tables.header, mode, geno_bucket_width, bucketed, n_buckets
    )
    write_tables(tables, path, layout)
    write_manifest(tables.variant_info.sparkSession, path, layout)


class VcfDb:
    """Handle over a written store — the engine's analog of a SQLite
    connection (benchmarks/00-benchmark-functions.R:75).

    Like a connection, the handle keeps state across the queries run
    through it: each table's schema is inferred on its first read
    (a file listing plus a footer-reading Spark job) and pinned for
    every later read, which then submits no job of its own.  The file
    listing is NOT pinned: every read lists the table again, so a
    handle sees the files ``append_vcf`` adds and the ones
    ``compact_table`` swaps in (both keep the schema — appends refuse
    drift).  A ``write_vcfdb`` overwrite of the same path may change
    the schema: open a new handle after one.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.manifest = read_manifest(spark, path)
        self._schemas: dict[str, StructType] = {}

    def table(self, name: str) -> DataFrame:
        if self.manifest.get("bucketed") and name in (
            "variant_info",
            "variant_geno",
        ):
            return self._bucketed_table(name)
        table_path = f"{self.path}/{name}"
        schema = self._schemas.get(name)
        if schema is None:
            df = self.spark.read.parquet(table_path)
            self._schemas[name] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(table_path)

    def _catalog_base_name(self) -> str:
        return _catalog_base(self.path)

    def _bucketed_table(self, name: str) -> DataFrame:
        """Read through the catalog so Spark sees the bucket layout
        (a raw parquet read of the same files would forget it and
        reintroduce the join Exchange).  The catalog is per-session;
        a fresh session re-registers the external bucketed table over
        the existing files."""
        cat_name = f"{_catalog_base(self.path)}_{name}"
        if not self.spark.catalog.tableExists(cat_name):
            schema = self.spark.read.parquet(f"{self.path}/{name}").schema
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            self.spark.sql(
                f"CREATE TABLE {cat_name} ({ddl}) USING PARQUET "
                f"CLUSTERED BY (variant_id) "
                f"SORTED BY ({', '.join(TABLE_SORTS[name])}) "
                f"INTO {int(self.manifest['n_buckets'])} BUCKETS "
                f"LOCATION '{self.path}/{name}'"
            )
        return self.spark.table(cat_name)

    def __getattr__(self, name: str) -> DataFrame:
        if name in _TABLES:
            return self.table(name)
        raise AttributeError(name)

    def meta(self, section: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/_meta/{section}")

    def register_views(self, prefix: str = "") -> list[str]:
        """Register every store table as a temp view so users query
        with plain SQL — the reference's deliberately thin query
        surface ("no bespoke interface to the database", README.md:70;
        users run SQL/dbplyr against the built SQLite file).  Returns
        the registered view names."""
        names = []
        for t in _TABLES:
            try:
                df = self.table(t)
            except Exception:
                continue  # table absent (e.g. sites-only VCF: no geno)
            name = f"{prefix}{t}"
            df.createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str, prefix: str = "") -> DataFrame:
        """Run plain SQL over the store's tables (auto-registers the
        views): ``db.sql("SELECT count(*) FROM variant_impact WHERE
        symbol = 'GENE1'")``."""
        self.register_views(prefix)
        return self.spark.sql(query)

    def pull(self, ids: list[int]) -> DataFrame:
        """Genotype pull that exploits the store layout: in file mode
        the id→bucket arithmetic becomes a hive PARTITION filter, so
        only O(|distinct buckets|) directories are touched — the
        engine's rendering of the reference's one-file-per-variant
        O(1) access (README.md:32-36); in table mode the IN-list
        predicate prunes row groups on the id-sorted layout."""
        from vcfdbr_spark.operators.query import int_ids, pull_vars_by_id

        ids = int_ids(ids)
        geno = self.variant_geno
        if self.manifest["mode"] == "file":
            width = int(self.manifest["geno_bucket_width"])
            buckets = sorted({i // width for i in ids})
            geno = geno.filter(F.col("vbucket").isin(buckets))
        # id predicate via pull_vars_by_id: IN-list for small sets,
        # Arrow semi-join past ID_LIST_LIMIT ids (plan-size safety)
        return pull_vars_by_id(geno, ids)


def open_vcfdb(spark: SparkSession, path: str) -> VcfDb:
    return VcfDb(spark, path)
