from __future__ import annotations

import uuid

import duckdb
import pytest

from pyspark.sql import functions as F

from tests.vcf_fixture import write_vcf
from vcfdbr_spark.operators.query import (
    filter_test,
    get_genes,
    interval_query,
    per_gene_counts,
    pull_geno_test,
    pull_vars_by_id,
)
from vcfdbr_spark.sources.store import build_gene_map, open_vcfdb, write_vcfdb
from vcfdbr_spark.sources.vcf import read_vcf


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("vcfdb")
    vcf = write_vcf(str(root / "toy.vcf"))
    tables = read_vcf(spark, vcf)
    write_vcfdb(tables, str(root / "store"), mode="table")
    return open_vcfdb(spark, str(root / "store"))


@pytest.fixture(scope="module")
def oracle(db):
    """DuckDB over the SAME parquet files — the driver's t2 pattern."""
    con = duckdb.connect()
    for t in ("variant_info", "variant_impact", "variant_geno", "gene_map"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{db.path}/{t}/*.parquet')"
        )
    return con


def test_filter_test_matches_oracle(db, oracle):
    got = filter_test(db.variant_impact, db.variant_info, "GENE2", af=0.3).collect()
    want = oracle.execute(
        """
        SELECT DISTINCT i.variant_id, i.symbol, v.af
        FROM variant_impact i
        JOIN variant_info v USING (variant_id)
        WHERE i.symbol = 'GENE2' AND v.af < 0.3
        """
    ).fetchall()
    assert sorted((r["variant_id"], r["symbol"], r["af"]) for r in got) == sorted(
        want
    )


def test_pull_vars_by_id_list_and_df(db, spark):
    by_list = pull_vars_by_id(db.variant_geno, [1, 5]).collect()
    assert {r["variant_id"] for r in by_list} == {1, 5}
    assert len(by_list) == 8  # 2 variants x 4 samples
    ids_df = spark.createDataFrame([(1,), (5,), (5,)], ["variant_id"])
    by_df = pull_vars_by_id(db.variant_geno, ids_df).collect()
    assert sorted(map(tuple, by_df)) == sorted(map(tuple, by_list))
    # the IN-list is built from text: empty, numpy and non-integer ids
    import numpy as np

    assert pull_vars_by_id(db.variant_geno, []).count() == 0
    by_np = pull_vars_by_id(db.variant_geno, np.array([1, 5], dtype=np.int64))
    assert sorted(map(tuple, by_np.collect())) == sorted(map(tuple, by_list))
    for bad in (["1) OR (1=1"], [1, 1.5]):
        with pytest.raises(ValueError, match="must be integers"):
            pull_vars_by_id(db.variant_geno, bad)


def test_pull_geno_test(db, oracle):
    got = pull_geno_test(
        db.variant_impact, db.variant_info, db.variant_geno, "GENE1", af=0.3
    ).collect()
    want = oracle.execute(
        """
        SELECT g.* FROM variant_geno g
        WHERE g.variant_id IN (
          SELECT DISTINCT i.variant_id
          FROM variant_impact i JOIN variant_info v USING (variant_id)
          WHERE i.symbol = 'GENE1' AND v.af < 0.3)
        ORDER BY g.variant_id, g.sample
        """
    ).fetchall()
    assert len(got) == len(want) == 4


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_gene_reads_fetch_by_id(spark, tmp_path, monkeypatch):
    """filter_test and pull_geno_test resolve the gene to its ids in one
    job and then read by id: at most 2 and 3 jobs, equal to the oracle
    on an appended store (a gene's ids then sit in two runs).  An
    unknown gene returns no rows with the same columns; past the id
    limit, the join fallback returns the same rows."""
    from vcfdbr_spark import append_vcf
    from vcfdbr_spark.operators import query
    from vcfdbr_spark.plans.layout import physical_plan

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    store = str(tmp_path / "store")
    write_vcfdb(read_vcf(spark, vcf), store, mode="table")
    append_vcf(spark, vcf, store)
    db = open_vcfdb(spark, store)
    con = duckdb.connect()
    for t in ("variant_info", "variant_impact", "variant_geno"):
        db.table(t)  # pins the schema: a first read infers it in a job
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{store}/{t}/*.parquet')"
        )
    af = 0.6

    def reads(symbol):
        ft, ft_jobs = _jobs(spark, lambda: filter_test(
            db.variant_impact, db.variant_info, symbol, af=af
        ))
        rows, n = _jobs(spark, ft.collect)
        assert ft_jobs + n <= 2
        pg, n = _jobs(spark, lambda: pull_geno_test(
            db.variant_impact, db.variant_info, db.variant_geno, symbol, af=af
        ).collect())
        assert n <= 3
        return ft, sorted(map(tuple, rows)), sorted((r["variant_id"], r["sample"]) for r in pg)

    rare = f"""SELECT DISTINCT i.variant_id, i.symbol, v.af
        FROM variant_impact i JOIN variant_info v USING (variant_id)
        WHERE i.symbol = ? AND v.af < {af}"""
    got = {s: reads(s) for s in ("GENE1", "GENE2", "GENE3", "NOPE")}
    for s, (_, rows, geno) in got.items():
        assert rows == sorted(con.execute(rare, [s]).fetchall())
        assert geno == sorted(con.execute(
            f"SELECT variant_id, sample FROM variant_geno "
            f"WHERE variant_id IN (SELECT variant_id FROM ({rare}))", [s]
        ).fetchall())
    assert len(got["GENE2"][1]) == 4  # two ids in each of two runs
    assert got["NOPE"][1] == [] and got["NOPE"][2] == []
    columns = [(f.name, f.dataType) for f in got["GENE2"][0].schema]
    assert columns == [(f.name, f.dataType) for f in got["NOPE"][0].schema]

    monkeypatch.setattr(query, "ID_LIST_LIMIT", 1)
    # past the limit the driver collect stops and the ids stay a frame
    assert not isinstance(query._gene_ids(db.variant_impact, "GENE2"), list)
    ft = filter_test(db.variant_impact, db.variant_info, "GENE2", af=af)
    assert sorted(map(tuple, ft.collect())) == got["GENE2"][1]
    assert [(f.name, f.dataType) for f in ft.schema] == columns
    assert "BroadcastHashJoin" in physical_plan(ft)
    pg = pull_geno_test(
        db.variant_impact, db.variant_info, db.variant_geno, "GENE2", af=af
    )
    assert sorted((r["variant_id"], r["sample"]) for r in pg.collect()) == got["GENE2"][2]
    assert "BroadcastHashJoin" in physical_plan(pg)


def test_gene_map(db, oracle):
    gm = db.gene_map.collect()
    # distinct over available dimension columns; '' → NULL
    want = oracle.execute(
        "SELECT DISTINCT symbol, symbol_source, gene, feature, canonical, "
        "feature_type FROM variant_impact"
    ).fetchall()
    assert len(gm) == len(want)
    genes = get_genes(db.gene_map).collect()
    # GENE3 is HGNC-sourced → excluded by the EntrezGene predicate
    assert {r["symbol"] for r in genes} == {"GENE1", "GENE2"}


def test_per_gene_counts(db, oracle):
    got = {
        r["symbol"]: (r["n_vars"], r["bin"])
        for r in per_gene_counts(db.variant_impact, db.variant_info, af=0.6).collect()
    }
    want = dict(
        oracle.execute(
            """
            SELECT symbol, COUNT(*) FROM (
              SELECT DISTINCT i.variant_id, i.symbol
              FROM variant_impact i JOIN variant_info v USING (variant_id)
              WHERE v.af < 0.6) GROUP BY symbol
            """
        ).fetchall()
    )
    assert {k: v[0] for k, v in got.items()} == want
    assert all(b == 1 for _, b in got.values())  # all counts in (0,500]


def test_interval_query(db):
    rows = interval_query(db.variant_info, "1", 200, 310).collect()
    assert sorted(r["start"] for r in rows) == [205, 300]
    # indel overlap: region [121, 130] overlaps AT@120 (end=121)
    rows = interval_query(db.variant_info, "2", 121, 130).collect()
    assert [r["start"] for r in rows] == [120]


def test_file_mode_layout(spark, tmp_path):
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    tables = read_vcf(spark, vcf)
    write_vcfdb(tables, str(tmp_path / "store"), mode="file", geno_bucket_width=2)
    db = open_vcfdb(spark, str(tmp_path / "store"))
    got = pull_vars_by_id(db.variant_geno, [4]).collect()
    assert len(got) == 4 and {r["variant_id"] for r in got} == {4}
    # partition pruning: the id → bucket predicate touches one bucket dir
    assert db.manifest["mode"] == "file"
    # reference parity (02-build-db.R:433-436): file mode records each
    # variant's genotype location in variant_info.geno, and
    # filter_test's any_of projection surfaces it (00-benchmark:85)
    info_row = db.variant_info.filter(F.col("variant_id") == 4).first()
    assert info_row["geno"].endswith("/variant_geno/vbucket=2")
    ft = filter_test(db.variant_impact, db.variant_info, "GENE2", af=2.0)
    assert "geno" in ft.columns
    assert all(r["geno"] is not None for r in ft.collect())
    # file mode coerces ids like table mode before the bucket arithmetic
    with pytest.raises(ValueError, match="must be integers"):
        db.pull(["3"])


def test_gene_map_empty_string_normalized(spark, tmp_path):
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    tables = read_vcf(spark, vcf)
    gm = build_gene_map(tables.variant_impact)
    # exon='' rows exist in impact; gene_map canonical col must be NULL not ''
    vals = {r["canonical"] for r in gm.collect()}
    assert "" not in vals


def test_write_gene_map_failure_keeps_old_map(spark, tmp_path, monkeypatch):
    """A gene_map rewrite whose write job fails leaves the old map
    readable with its old rows."""
    from vcfdbr_spark.sources import store

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    path = str(tmp_path / "store")
    write_vcfdb(read_vcf(spark, vcf), path, mode="table")
    before = sorted(map(tuple, spark.read.parquet(f"{path}/gene_map").collect()))
    impact = spark.read.parquet(f"{path}/variant_impact")
    monkeypatch.setattr(
        store, "build_gene_map",
        lambda imp: imp.select(F.assert_true(F.lit(False)).alias("x")),
    )
    with pytest.raises(Exception):
        store.write_gene_map(path, impact)
    after = sorted(map(tuple, spark.read.parquet(f"{path}/gene_map").collect()))
    assert before and after == before


def test_sql_surface_over_store(db):
    """Reference parity: the built store answers plain SQL (the
    reference's thin query model — users write SQL, no bespoke API)."""
    rows = db.sql(
        "SELECT symbol, COUNT(*) AS n FROM variant_impact "
        "GROUP BY symbol ORDER BY symbol"
    ).collect()
    assert len(rows) > 0 and rows[0]["n"] >= 1
    joined = db.sql(
        "SELECT COUNT(*) AS n FROM variant_info i "
        "JOIN variant_geno g ON i.variant_id = g.variant_id"
    ).first()["n"]
    assert joined == db.variant_geno.count()
