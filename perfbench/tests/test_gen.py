"""The generator is deterministic, and its truth matches a built store."""

from __future__ import annotations

import gzip
import math

import numpy as np

import gen


def _text(path):
    with gzip.open(path, "rt") as fh:
        return fh.read()


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (gen.Cohort(s, 400, 6, n_genes=20) for s in (5, 5, 6))
    rows = np.arange(400)
    a.write_vcf(str(tmp_path / "a.vcf.gz"), rows, 2, 1)
    b.write_vcf(str(tmp_path / "b.vcf.gz"), rows, 2, 1)
    c.write_vcf(str(tmp_path / "c.vcf.gz"), rows, 2, 1)
    assert _text(tmp_path / "a.vcf.gz") == _text(tmp_path / "b.vcf.gz")
    assert _text(tmp_path / "a.vcf.gz") != _text(tmp_path / "c.vcf.gz")
    ta, tb = gen.StoreTruth(a), gen.StoreTruth(b)
    ta.add_part(rows)
    tb.add_part(rows)
    assert ta.rare_by_gene() == tb.rare_by_gene()
    assert gen.make_documents(3, 50) == gen.make_documents(3, 50)
    assert gen.make_documents(3, 50) != gen.make_documents(4, 50)


def test_cohort_shape():
    c = gen.Cohort(1, 2000, 8, n_genes=40)
    sizes = gen.zipf_sizes(1000, 40)
    assert sizes.sum() == 1000 and sizes[0] == sizes.max() and sizes.min() >= 1
    assert np.all(np.diff(c.pos[c.contig == 0]) > 0)  # genome order, unique loci
    assert any(len(g) == 2 for g in c.genes)  # overlapping genes
    assert any(not g for g in c.genes)  # intergenic sites
    assert any("&" in (s or "") for s in c.csq)
    assert not np.any(np.abs(c.af - gen.RARE_AF) < 1e-4)
    # genotypes follow AF: carriers of common sites outnumber rare ones
    d = c.dosage()
    assert d[c.af > 0.1].mean() > d[c.af < 0.01].mean()


def test_truth_matches_a_built_store(spark, tmp_path):
    from vcfdbr_spark import append_vcf, open_vcfdb, read_vcf, write_vcfdb
    from vcfdbr_spark.operators.query import filter_test, interval_query, per_gene_counts

    c = gen.Cohort(9, 600, 4, n_genes=12)
    base, extra = np.arange(500), np.arange(500, 600)
    vcf = str(tmp_path / "base.vcf.gz")
    c.write_vcf(vcf, base, n_multiallelic=2, n_malformed=1)
    store = str(tmp_path / "store")
    tables = read_vcf(spark, vcf)
    write_vcfdb(tables, store, mode="table")
    truth = gen.StoreTruth(c)
    truth.add_part(base)
    assert tables.rejects.count() == 3

    def check(db):
        counts = per_gene_counts(db.variant_impact, db.variant_info).toPandas()
        assert {r.symbol: r.n_vars for r in counts.itertuples()} == truth.rare_by_gene()
        assert all(r.bin == math.ceil(r.n_vars / 500) for r in counts.itertuples())
        got = filter_test(db.variant_impact, db.variant_info, gen.gene_symbol(0)).toPandas()
        assert sorted(got.variant_id) == sorted(truth.gene_rare_ids(0).tolist())
        ids = truth.ids()[::7]
        pdf = db.pull(ids.tolist()).toPandas()
        gt = pdf["gt"].fillna(0)
        assert (len(pdf), int((gt > 0).sum()), int(gt.sum())) == truth.geno_summary(ids)
        lo = int(c.pos[c.contig == 1].min())
        got = interval_query(db.variant_info, gen.CONTIGS[1], lo, lo + 5_000).toPandas()
        assert set(got.variant_id) == set(truth.interval_ids(1, lo, lo + 5_000).tolist())

    check(open_vcfdb(spark, store))
    vcf2 = str(tmp_path / "more.vcf.gz")
    c.write_vcf(vcf2, extra)
    assert append_vcf(spark, vcf2, store) == len(extra)
    truth.add_part(extra)
    check(open_vcfdb(spark, store))


def test_pair_digest_is_order_free():
    assert gen.pair_digest([(1, 2), (3, 4)]) == gen.pair_digest([(3, 4), (1, 2)])
    assert gen.pair_digest([(1, 2)])[0] == 1
