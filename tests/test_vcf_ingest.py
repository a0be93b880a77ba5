from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.vcf_fixture import SAMPLES, write_vcf
from vcfdbr_spark.sources.vcf import read_vcf


@pytest.fixture(scope="module")
def vcf_path(tmp_path_factory):
    return write_vcf(str(tmp_path_factory.mktemp("vcf") / "toy.vcf"))


@pytest.fixture(scope="module")
def tables(spark, vcf_path):
    return read_vcf(spark, vcf_path)


def test_header(tables):
    h = tables.header
    assert h.samples == SAMPLES
    assert list(h.contigs) == ["1", "2", "X"]
    assert h.csq_columns is not None
    assert h.csq_columns[0] == (
        "consequence_annotations_from_ensembl_vep__format__allele"
    )
    assert h.csq_columns[1:4] == ["consequence", "impact", "symbol"]


def test_variant_info(tables):
    info = tables.variant_info.orderBy("variant_id")
    rows = info.collect()
    assert [r["variant_id"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert [r["chr"] for r in rows] == ["1", "1", "1", "2", "2", "X"]
    # indel end arithmetic: start + len(ref) - 1
    r5 = rows[4]
    assert (r5["start"], r5["end"], r5["ref"], r5["alt"]) == (120, 121, "AT", "A")
    # '.' qual → null
    assert rows[2]["qual"] is None
    # Flag INFO
    assert [r["db"] for r in rows] == [False, True, False, False, False, True]
    # typed INFO scalars (Number=A with biallelic input → scalar)
    assert rows[0]["af"] == 0.25 and rows[0]["ac"] == 1 and rows[0]["an"] == 8
    # CSQ and clinvar_sig must NOT be variant_info columns (routed away)
    assert "csq" not in info.columns and "clinvar_sig" not in info.columns


def test_variant_impact(tables):
    imp = tables.variant_impact
    rows = imp.orderBy("variant_id", "feature", "consequence").collect()
    # rec1: 2 transcripts; rec2: 1 transcript x 2 '&'-consequences;
    # rec4: 1; rec5: 1; rec3/rec6 no CSQ → dropped by inner unnest
    assert len(rows) == 6
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["variant_id"], []).append(r)
    assert len(by_vid[1]) == 2 and len(by_vid[2]) == 2
    assert sorted(r["consequence"] for r in by_vid[2]) == [
        "splice_region_variant",
        "synonymous_variant",
    ]
    # flags
    splice = [r for r in by_vid[2] if r["consequence"] == "splice_region_variant"][0]
    assert splice["is_splicing"] is True and splice["is_lof"] is False
    lof = by_vid[5][0]
    assert lof["is_lof"] is True  # HIGH + protein_coding
    intronic = [r for r in by_vid[1] if r["feature"] == "ENST02"][0]
    assert intronic["is_intronic"] is True
    exonic_vals = {r["is_exonic"] for r in rows}
    # reference quirk: biotype tested against consequence vocabulary
    assert exonic_vals == {False}
    # dropped columns: *_af and clin_sig and the long allele column
    assert "gnomad_af" not in imp.columns
    assert "clin_sig" not in imp.columns
    assert (
        "consequence_annotations_from_ensembl_vep__format__allele"
        not in imp.columns
    )
    # clinvar routed from INFO
    assert by_vid[1][0]["clinvar_sig"] == "benign"
    assert by_vid[4][0]["clinvar_sig"] == "pathogenic"
    assert by_vid[2][0]["clinvar_sig"] is None


def test_variant_impact_exonic_on_consequence(spark, vcf_path):
    t = read_vcf(spark, vcf_path, exonic_on_consequence=True)
    rows = t.variant_impact.collect()
    ex = {r["consequence"]: r["is_exonic"] for r in rows}
    assert ex["missense_variant"] is True
    assert ex["frameshift_variant"] is True
    assert ex["synonymous_variant"] is True
    assert ex["intron_variant"] is False


def test_variant_geno(tables):
    geno = tables.variant_geno.orderBy("variant_id", "sample")
    rows = geno.collect()
    assert len(rows) == 6 * 4  # n_variants x n_samples invariant
    g = {(r["variant_id"], r["sample"]): r for r in rows}
    # gt2snp recode parity table
    assert g[(1, "HG001")]["gt"] == 0.0 and g[(1, "HG001")]["gt_raw"] == "0|0"
    assert g[(1, "HG002")]["gt"] == 1.0
    assert g[(1, "HG003")]["gt"] == 2.0
    assert g[(1, "HG004")]["gt"] is None and g[(1, "HG004")]["gt_raw"] == "./."
    assert g[(3, "HG001")]["gt"] == 0.0  # "0/."
    assert g[(3, "HG002")]["gt"] == 0.0  # bare "0"
    assert g[(3, "HG003")]["gt"] == 1.0  # bare "1"
    assert g[(3, "HG004")]["gt"] is None  # "2/2"
    assert g[(2, "HG003")]["gt"] == 1.0  # "./1"
    assert g[(2, "HG004")]["gt"] == 1.0  # "1/."
    # typed scalars + missing
    assert g[(1, "HG001")]["dp"] == 10 and g[(1, "HG004")]["dp"] is None
    # multi-value FORMAT melted to ad_1/ad_2 (Number=R, biallelic → 2)
    assert g[(1, "HG001")]["ad_1"] == 8 and g[(1, "HG001")]["ad_2"] == 2
    assert g[(5, "HG002")]["ad_1"] is None
    # all-missing FT skipped by the schema probe
    assert "ft" not in tables.variant_geno.columns


def test_variant_geno_array_mode(spark, vcf_path):
    t = read_vcf(spark, vcf_path, multi_value="array")
    row = (
        t.variant_geno.filter((F.col("variant_id") == 1) & (F.col("sample") == "HG001"))
        .first()
    )
    assert row["ad"] == [8, 2]


def test_variant_geno_skip_mode(spark, vcf_path):
    t = read_vcf(spark, vcf_path, multi_value="skip")
    assert "ad" not in t.variant_geno.columns
    assert "ad_1" not in t.variant_geno.columns


def test_rejects_channel(spark, tmp_path):
    p = write_vcf(str(tmp_path / "multi.vcf"), include_multiallelic=True)
    # append a malformed record (unparseable POS)
    with open(p, "a") as fh:
        fh.write("1\tBADPOS\t.\tA\tG\t50\tPASS\tAN=8\tGT:DP:GQ:AD:FT\t"
                 + "\t".join(["0/1:1:1:1,1:."] * 4) + "\n")
    t = read_vcf(spark, p)
    rej = {r["reason"]: r for r in t.rejects.collect()}
    assert rej["multiallelic"]["alt"] == "G,T"
    assert rej["malformed"]["start"] is None
    # both excluded from the built tables
    assert t.variant_info.count() == 6


def test_samples_and_metadata(tables):
    s = tables.samples.orderBy("name").collect()
    assert [r["value"] for r in s] == SAMPLES
    assert [r["name"] for r in s] == [1, 2, 3, 4]
    assert set(tables.metadata) >= {"INFO", "FORMAT", "FILTER", "contig"}
    info_meta = {r["name"]: r for r in tables.metadata["INFO"].collect()}
    assert info_meta["AC"]["Number"] == "A"
    assert info_meta["CSQ"]["Type"] == "String"


def test_resumable_build_kill_and_resume(spark, tmp_path):
    """A23 parity: a build stopped mid-way (--end-chunk) resumes from
    its progress manifest and finishes with the SAME dense
    non-duplicated ids as the single-pass read_vcf build — even after
    a simulated mid-chunk crash leaves partial staging output."""

    from vcfdbr_spark.sources.build import build_vcfdb_resumable
    from vcfdbr_spark.sources.store import open_vcfdb

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    out = str(tmp_path / "db")

    # partial run: contigs 1,2,X across 3 chunks, stop after chunk 0
    prog = build_vcfdb_resumable(spark, vcf, out, n_chunks=3, end_chunk=0)
    assert prog["chunks"]["0"]["done"] and not prog.get("tables_done")
    assert prog["next_id"] == 4  # contig '1' holds variants 1-3

    # simulated crash: partial (garbage) output for the NEXT chunk
    crash_dir = tmp_path / "db" / "_staging" / "chunk=1"
    crash_dir.mkdir(parents=True, exist_ok=True)
    spark.createDataFrame(
        [(99,)], "variant_id long"
    ).write.mode("overwrite").parquet(str(crash_dir))

    # resume: chunk 0 skipped, chunk 1 partial output overwritten
    prog = build_vcfdb_resumable(spark, vcf, out, n_chunks=3)
    assert prog["tables_done"]
    assert [prog["chunks"][str(k)]["done"] for k in range(3)] == [True] * 3

    db = open_vcfdb(spark, out)
    ids = [r["variant_id"] for r in db.variant_info.orderBy("variant_id").collect()]
    assert ids == [1, 2, 3, 4, 5, 6]  # dense, no dups, no 99 remnant

    # equivalence with the single-pass path on every table
    ref = read_vcf(spark, vcf)
    for a, b in [
        (db.variant_info, ref.variant_info),
        (db.variant_impact, ref.variant_impact),
        (db.variant_geno, ref.variant_geno),
    ]:
        al = sorted(map(tuple, a.collect()))
        bl = sorted(map(tuple, b.collect()))
        assert al == bl

    # idempotent re-run of a finished build: no chunk re-staged
    prog = build_vcfdb_resumable(spark, vcf, out, n_chunks=3)
    assert prog["tables_done"]
    assert db.variant_info.count() == 6


def test_resumable_build_regroup_guard(spark, tmp_path):
    """Resuming under a DIFFERENT contig grouping (changed --chunks)
    must fail hard — silent resume would re-stage contigs over stale
    staged dirs → duplicated/missing contigs, overlapping ids."""
    import pytest

    from vcfdbr_spark.sources.build import build_vcfdb_resumable

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    out = str(tmp_path / "db")
    prog = build_vcfdb_resumable(spark, vcf, out, n_chunks=3, end_chunk=0)
    assert prog["chunks"]["0"]["done"] and prog["n_chunks"] == 3
    with pytest.raises(ValueError, match="grouping mismatch"):
        build_vcfdb_resumable(spark, vcf, out, n_chunks=2)
    # the original grouping still resumes cleanly
    prog = build_vcfdb_resumable(spark, vcf, out, n_chunks=3)
    assert prog["tables_done"]


def test_append_vcf_continues_ids(spark, tmp_path):
    """Incremental store growth: a second VCF appends with the dense id
    sequence continuing from the stored max; queries span both."""
    from vcfdbr_spark.sources.build import append_vcf
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb

    vcf1 = write_vcf(str(tmp_path / "a.vcf"))
    out = str(tmp_path / "db")
    write_vcfdb(read_vcf(spark, vcf1), out, mode="table")

    # second cohort-identical VCF at shifted positions
    text = open(vcf1).read()
    shifted = []
    for line in text.splitlines():
        if line.startswith("#"):
            shifted.append(line)
        else:
            f = line.split("\t")
            f[1] = str(int(f[1]) + 1_000_000)
            shifted.append("\t".join(f))
    vcf2 = str(tmp_path / "b.vcf")
    open(vcf2, "w").write("\n".join(shifted) + "\n")

    n_new = append_vcf(spark, vcf2, out)
    assert n_new == 6
    db = open_vcfdb(spark, out)
    ids = sorted(
        r["variant_id"] for r in db.variant_info.select("variant_id").collect()
    )
    assert ids == list(range(1, 13))  # dense across both ingests
    assert db.variant_geno.count() == 12 * 4
    assert db.variant_impact.filter(F.col("variant_id") > 6).count() > 0
    # gene_map rebuilt over the full table
    assert db.gene_map.count() >= 3


def test_multi_file_vcf_ingest(spark, tmp_path):
    """Per-chromosome shard directories ingest identically to the
    concatenated single file (ids ordered by contig rank + position
    across shards)."""
    single = write_vcf(str(tmp_path / "all.vcf"))
    lines = open(single).read().splitlines()
    header = [l for l in lines if l.startswith("#")]
    data = [l for l in lines if not l.startswith("#")]
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    by_chr = {}
    for l in data:
        by_chr.setdefault(l.split("\t")[0], []).append(l)
    for c, rows in by_chr.items():
        (shard_dir / f"chr{c}.vcf").write_text(
            "\n".join(header + rows) + "\n"
        )

    t_single = read_vcf(spark, single)
    t_multi = read_vcf(spark, str(shard_dir))
    for a, b in [
        (t_multi.variant_info, t_single.variant_info),
        (t_multi.variant_impact, t_single.variant_impact),
        (t_multi.variant_geno, t_single.variant_geno),
    ]:
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_vcf_member_files_scheme_path(spark, tmp_path):
    """Scheme-qualified dirs/globs resolve through the Hadoop FS, so a
    remote directory of gzip shards surfaces member NAMES (the gzip
    unsplittability test needs them; local-only glob would miss)."""
    import gzip

    from vcfdbr_spark.sources.vcf import vcf_member_files

    shard_dir = tmp_path / "shards_gz"
    shard_dir.mkdir()
    for c in ("1", "2"):
        with gzip.open(shard_dir / f"chr{c}.vcf.gz", "wt") as fh:
            fh.write("##fileformat=VCFv4.2\n")
    (shard_dir / "notes.txt").write_text("ignored")
    members = vcf_member_files(f"file://{shard_dir}", spark)
    assert len(members) == 2
    assert all(m.endswith(".vcf.gz") for m in members)
    # glob form through the same Hadoop route
    members_g = vcf_member_files(f"file://{shard_dir}/*.vcf.gz", spark)
    assert len(members_g) == 2
    # a plain remote FILE path passes through unchanged
    assert vcf_member_files(
        f"file://{shard_dir}/chr1.vcf.gz", spark
    ) == [f"file://{shard_dir}/chr1.vcf.gz"]


def test_compact_table_after_append(spark, tmp_path):
    from vcfdbr_spark.sources.build import append_vcf, compact_table
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb

    vcf = write_vcf(str(tmp_path / "a.vcf"))
    out = str(tmp_path / "db")
    write_vcfdb(read_vcf(spark, vcf), out, mode="table")
    text = open(vcf).read().replace("\t205\t", "\t905\t")
    vcf2 = str(tmp_path / "b.vcf")
    open(vcf2, "w").write(text)
    append_vcf(spark, vcf2, out)

    n = compact_table(spark, out, "variant_geno", n_partitions=2)
    assert n == 12 * 4
    db = open_vcfdb(spark, out)
    assert db.variant_geno.count() == 48
    assert db.pull([7]).count() == 4  # post-compaction pulls intact


def _shift_positions(src: str, dst: str, delta: int = 1_000_000) -> str:
    text = open(src).read()
    shifted = []
    for line in text.splitlines():
        if line.startswith("#"):
            shifted.append(line)
        else:
            f = line.split("\t")
            f[1] = str(int(f[1]) + delta)
            shifted.append("\t".join(f))
    open(dst, "w").write("\n".join(shifted) + "\n")
    return dst


@pytest.mark.parametrize("rewrite", ["compact_table", "reindex_ivf"])
def test_rewrite_heals_a_crashed_swap(spark, tmp_path, rewrite):
    """A crash between a swap's two renames leaves the rewritten dir
    only at ``<dir>.old``, beside stale ``.tmp`` debris.  The next
    rewrite heals it and equals an uncrashed run, with no ``.tmp`` or
    ``.old`` dir left."""
    import math
    import os
    import shutil

    from vcfdbr_spark.operators.similarity import reindex_ivf, write_ivf_index
    from vcfdbr_spark.sources.build import append_vcf, compact_table
    from vcfdbr_spark.sources.store import write_vcfdb

    def build(name: str) -> str:
        out = str(tmp_path / name)
        if rewrite == "compact_table":
            vcf = write_vcf(str(tmp_path / f"{name}_a.vcf"))
            write_vcfdb(read_vcf(spark, vcf), out, mode="table")
            append_vcf(
                spark, _shift_positions(vcf, str(tmp_path / f"{name}_b.vcf")), out
            )
            return f"{out}/variant_geno"
        vecs = [
            (i, [(1.0 if d // 2 == i % 4 else 0.0) + math.sin(i * 7.3 + d) * 0.05
                 for d in range(8)])
            for i in range(160)
        ]
        corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        write_ivf_index(corpus, out, nlist=4, n_iter=2)
        return out

    def run(path: str) -> list[str]:
        if rewrite == "compact_table":
            assert compact_table(spark, path.rsplit("/", 1)[0], "variant_geno") == 48
        else:
            reindex_ivf(spark, path)
        return sorted(str(r) for r in spark.read.parquet(path).collect())

    crashed, clean = build("crashed"), build("clean")
    shutil.move(crashed, f"{crashed}.old")
    os.makedirs(f"{crashed}.tmp")
    open(f"{crashed}.tmp/part-00000.parquet", "w").write("half-written")

    got = run(crashed)
    assert len(got) == (48 if rewrite == "compact_table" else 160)
    assert got == run(clean)
    assert not os.path.exists(f"{crashed}.tmp")
    assert not os.path.exists(f"{crashed}.old")


def test_store_manifest_goes_through_hadoop_fs(spark, tmp_path, monkeypatch):
    """A store addressed by a ``file://`` URI (the local stand-in for
    ``hdfs://``) keeps its manifest in the store dir, not under a
    ``file:`` dir below the driver's working dir, and opens and
    compacts from any working dir."""
    from vcfdbr_spark.sources.build import compact_table
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb

    vcf = write_vcf(str(tmp_path / "a.vcf"))
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "db"
    uri = f"file://{out}"
    write_vcfdb(read_vcf(spark, vcf), uri, mode="table")
    assert (out / "_vcfdb_manifest.json").is_file()
    assert not (cwd / "file:").exists()
    assert open_vcfdb(spark, uri).manifest["mode"] == "table"
    assert compact_table(spark, uri, "variant_geno") == 24
    assert open_vcfdb(spark, uri).pull([2]).count() == 4


def test_vcfdb_handle_pins_schema_not_listing(spark, tmp_path):
    """A handle infers each table's schema once, so a second access
    submits no Spark job; it lists files on every access, so a handle
    opened before an append and a compaction reads the grown tables."""
    from vcfdbr_spark.sources.build import append_vcf, compact_table
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb

    vcf = write_vcf(str(tmp_path / "a.vcf"))
    out = str(tmp_path / "db")
    write_vcfdb(read_vcf(spark, vcf), out, mode="table")
    db = open_vcfdb(spark, out)
    sc = spark.sparkContext

    def jobs(group, read):
        sc.setJobGroup(group, group)
        try:
            read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("vcfdb-handle-first", lambda: db.variant_geno) >= 1
    assert jobs("vcfdb-handle-second", lambda: db.variant_geno) == 0
    assert db.variant_info.count() == 6 and db.variant_geno.count() == 24

    append_vcf(spark, _shift_positions(vcf, str(tmp_path / "b.vcf")), out)
    compact_table(spark, out, "variant_geno")
    assert db.variant_info.count() == 12
    assert db.variant_geno.count() == 48
    assert db.pull([9]).count() == 4


def test_append_vcf_file_mode_routes_vbuckets(spark, tmp_path):
    """File-mode append: new geno rows land in their vbucket= hive
    partitions, ids continue, and the partition-pruned pull spans old
    and new ingests."""
    from vcfdbr_spark.plans.layout import formatted_plan
    from vcfdbr_spark.sources.build import append_vcf
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb

    vcf1 = write_vcf(str(tmp_path / "a.vcf"))
    out = str(tmp_path / "db")
    write_vcfdb(read_vcf(spark, vcf1), out, mode="file", geno_bucket_width=2)
    vcf2 = _shift_positions(vcf1, str(tmp_path / "b.vcf"))

    n_new = append_vcf(spark, vcf2, out)
    assert n_new == 6
    db = open_vcfdb(spark, out)
    ids = sorted(
        r["variant_id"] for r in db.variant_info.select("variant_id").collect()
    )
    assert ids == list(range(1, 13))
    # appended info rows carry the matching geno path column
    row = db.variant_info.filter(F.col("variant_id") == 9).first()
    assert row["geno"].endswith("/variant_geno/vbucket=4")
    # pull spanning both ingests still prunes partitions
    q = db.pull([2, 9])
    assert {r["variant_id"] for r in q.collect()} == {2, 9}
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "vbucket" in plan.split(
        "PartitionFilters"
    )[1][:200]
    # compaction preserves the hive layout and the pull contract
    from vcfdbr_spark.sources.build import compact_table

    n = compact_table(spark, out, "variant_geno")
    assert n == 12 * 4
    db2 = open_vcfdb(spark, out)
    assert db2.pull([9]).count() == 4
    assert "vbucket" in formatted_plan(db2.pull([9]))


def test_append_vcf_schema_guards(spark, tmp_path):
    """Drifted INFO headers must raise, not append mixed-schema
    parquet; bucketed and streamed stores must be refused outright."""
    import pytest

    from vcfdbr_spark.sources.build import append_vcf, compact_table
    from vcfdbr_spark.sources.store import write_vcfdb

    vcf1 = write_vcf(str(tmp_path / "a.vcf"))
    out = str(tmp_path / "db")
    write_vcfdb(read_vcf(spark, vcf1), out, mode="table")

    # header gains an INFO field → derived variant_info drifts
    drifted = str(tmp_path / "drift.vcf")
    text = open(vcf1).read().replace(
        '##INFO=<ID=DP,',
        '##INFO=<ID=ZZ,Number=1,Type=Integer,Description="New">\n##INFO=<ID=DP,',
    )
    open(drifted, "w").write(text)
    with pytest.raises(ValueError, match="schema drift on variant_info"):
        append_vcf(spark, drifted, out)

    bucketed_out = str(tmp_path / "dbb")
    write_vcfdb(read_vcf(spark, vcf1), bucketed_out, bucketed=True, n_buckets=4)
    vcf2 = _shift_positions(vcf1, str(tmp_path / "b.vcf"))
    with pytest.raises(ValueError, match="bucketed"):
        append_vcf(spark, vcf2, bucketed_out)
    with pytest.raises(ValueError, match="bucketed"):
        compact_table(spark, bucketed_out, "variant_geno")

    # a streamed store hands out ids from its progress file: appending
    # beside the stream would reuse them
    import shutil

    from vcfdbr_spark.streaming.ingest import stream_vcf_ingest

    vcf_dir = tmp_path / "vcf_in"
    vcf_dir.mkdir()
    shutil.copy(vcf1, str(vcf_dir / "chunk0.vcf"))
    streamed_out = str(tmp_path / "dbs")
    stream_vcf_ingest(
        spark, str(vcf_dir), streamed_out, str(tmp_path / "ckpt"), vcf1
    )
    with pytest.raises(ValueError, match="streamed store.*stream's input dir"):
        append_vcf(spark, vcf2, streamed_out)
