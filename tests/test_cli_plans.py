from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.vcf_fixture import write_vcf
from vcfdbr_spark.cli import main as cli_main
from vcfdbr_spark.operators.query import filter_test
from vcfdbr_spark.plans.layout import (
    assert_broadcast_join,
    assert_no_cartesian,
    pushed_filters,
    scan_schemas,
)


def test_cli_build_and_query(spark, tmp_path, capsys):
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    prefix = str(tmp_path / "db")
    assert cli_main(["build", "--vcf", vcf, "--prefix", prefix,
                     "--include-multivalue-gt"]) == 0
    assert cli_main(["filter", "--prefix", prefix, "--symbol", "GENE2",
                     "--af", "0.9"]) == 0
    out = capsys.readouterr().out
    assert "rows)" in out
    assert cli_main(["pull", "--prefix", prefix, "--ids", "1,2"]) == 0
    assert "(8 rows)" in capsys.readouterr().out
    assert cli_main(["interval", "--prefix", prefix, "--chr", "1",
                     "--start", "200", "--end", "310"]) == 0
    assert "(2 rows)" in capsys.readouterr().out


def test_cli_build_debug_stage_timings(spark, tmp_path, capsys):
    """``build --debug`` prints per-stage wall times to stderr
    (VCFdb.R:88 / pipeline/02-build-db.R:309-313 parity); without the
    flag the stderr channel stays clean."""
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    prefix = str(tmp_path / "dbg_db")
    assert cli_main(["build", "--vcf", vcf, "--prefix", prefix,
                     "--debug"]) == 0
    err = capsys.readouterr().err
    for stage in ("parse_and_schema_probe", "reject_check", "write_store"):
        assert f"[debug] stage={stage} wall=" in err
    # the flag is opt-in: a plain build prints no stage lines
    prefix2 = str(tmp_path / "dbg_db2")
    assert cli_main(["build", "--vcf", vcf, "--prefix", prefix2]) == 0
    assert "[debug]" not in capsys.readouterr().err
    # resumable path gets a stage line too
    prefix3 = str(tmp_path / "dbg_db3")
    assert cli_main(["build", "--vcf", vcf, "--prefix", prefix3,
                     "--resumable", "--debug"]) == 0
    assert "[debug] stage=resumable_build wall=" in capsys.readouterr().err


def test_cli_dedup(spark, tmp_path, capsys):
    """`vcfdb dedup` writes pairs/components/corpus; --keep best
    retains the longest member instead of the minimum id."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", 44),
            (2, "the quick brown fox jumps over the lazy dog!!", 46),
            (3, "completely different text about spark engines", 45),
        ],
        "doc_id long, text string, n_chars long",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "dedup_out")
    assert cli_main(["dedup", "--docs", src, "--out", out,
                     "--keep", "best"]) == 0
    assert "kept 2/3" in capsys.readouterr().out
    kept = {r["doc_id"] for r in
            spark.read.parquet(f"{out}/corpus").collect()}
    assert kept == {2, 3}  # 2 is the longer near-dup; 3 untouched
    comps = {r["doc_id"]: r["keep_id"] for r in
             spark.read.parquet(f"{out}/components").collect()}
    assert comps == {1: 2, 2: 2}


def test_cli_scrub(spark, tmp_path, capsys):
    """`vcfdb scrub` redacts PII in place and reports per-type totals;
    non-PII rows pass through byte-identical."""
    docs = spark.createDataFrame(
        [
            (1, "reach me at a@b.io or 10.1.2.3"),
            (2, "call +1 (319) 555-0100 twice: +1 (319) 555-0101"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "clean")
    assert cli_main(["scrub", "--docs", src, "--out", out]) == 0
    assert "1 emails, 1 ips, 2 phones" in capsys.readouterr().out
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "reach me at <EMAIL> or <IP>"
    assert got[2] == "call <PHONE> twice: <PHONE>"
    assert got[3] == "nothing sensitive here"
    # bad column name errors out instead of writing
    assert cli_main(["scrub", "--docs", src, "--out", out,
                     "--text-col", "body"]) == 1


def test_cli_build_rejects_multiallelic(spark, tmp_path):
    vcf = write_vcf(str(tmp_path / "bad.vcf"), include_multiallelic=True)
    prefix = str(tmp_path / "db2")
    assert cli_main(["build", "--vcf", vcf, "--prefix", prefix]) == 2
    import os

    report = f"{prefix}-multiallelic-sites.tsv"
    # ADVICE r7: the artifact is ONE flat TSV file (reference parity —
    # downstream consumers open the path directly), produced by an
    # executor-side coalesce(1) write + part rename, never a driver
    # toPandas (which would OOM when every site is rejected)
    assert os.path.isfile(report)
    with open(report) as fh:
        lines = fh.read().strip().splitlines()
    assert lines[0].startswith("chr")  # exactly one header line
    assert sum(1 for ln in lines if ln == lines[0]) == 1
    assert any("," in ln for ln in lines[1:])
    # no leftover tmp dir from the rename
    assert not os.path.exists(f"{report}.__spark_tmp__")


def test_cli_resumable_build_rejects_multiallelic(spark, tmp_path):
    """--resumable must honor the same reject-abort contract as the
    plain path (pipeline/01:43-53): exit 2, no tables built."""
    import os

    vcf = write_vcf(str(tmp_path / "bad.vcf"), include_multiallelic=True)
    prefix = str(tmp_path / "db3")
    assert cli_main(
        ["build", "--vcf", vcf, "--prefix", prefix, "--resumable"]
    ) == 2
    assert os.path.exists(f"{prefix}-multiallelic-sites.tsv")
    assert not os.path.exists(f"{prefix}/variant_info")
    # fixed input (same grouping): the re-run completes the build
    ok_vcf = write_vcf(str(tmp_path / "bad.vcf"))
    import shutil

    shutil.rmtree(prefix)  # input changed → staged chunks are stale
    assert cli_main(
        ["build", "--vcf", ok_vcf, "--prefix", prefix, "--resumable"]
    ) == 0
    assert os.path.exists(f"{prefix}/variant_info")


def test_cli_stream_ingest(spark, tmp_path):
    """stream-ingest parses new files into three-table partitions and
    a re-run picks up only new files, ids continuing."""
    import shutil

    vcf_dir = tmp_path / "in"
    vcf_dir.mkdir()
    header = write_vcf(str(tmp_path / "h.vcf"))
    write_vcf(str(vcf_dir / "a.vcf"))
    prefix = str(tmp_path / "sdb")
    args = ["stream-ingest", "--vcf-dir", str(vcf_dir), "--prefix",
            prefix, "--header", header, "--include-multivalue-gt"]
    assert cli_main(args) == 0
    assert spark.read.parquet(f"{prefix}/variant_info").count() == 6
    shutil.copy(header, str(vcf_dir / "b.vcf"))
    assert cli_main(args) == 0
    info = spark.read.parquet(f"{prefix}/variant_info")
    assert info.count() == 12
    assert info.agg(F.max("variant_id")).first()[0] == 12


def test_file_mode_pull_prunes_partitions(spark, tmp_path):
    """db.pull in file mode must reach the scan as a PARTITION filter
    on vbucket — touching O(buckets) directories, not the whole table."""
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    from vcfdbr_spark.plans.layout import formatted_plan
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb
    from vcfdbr_spark.sources.vcf import read_vcf

    write_vcfdb(read_vcf(spark, vcf), str(tmp_path / "db"),
                mode="file", geno_bucket_width=2)
    db = open_vcfdb(spark, str(tmp_path / "db"))
    q = db.pull([4, 5])
    rows = q.collect()
    assert {r["variant_id"] for r in rows} == {4, 5} and len(rows) == 8
    # the second pull reads through the handle's pinned schema, which
    # must keep vbucket a partition column
    q2 = db.pull([1])
    assert q2.count() == 4
    for plan in (formatted_plan(q), formatted_plan(q2)):
        assert "PartitionFilters" in plan and "vbucket" in plan.split(
            "PartitionFilters"
        )[1][:200]


def test_bucketed_store_pull_join_has_no_exchange(spark, tmp_path):
    """Opt-in bucketed store: the recurring info⋈geno pull join must
    read co-located buckets with ZERO Exchange in the plan (the
    catalog route preserves the bucket layout across sessions)."""
    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    from vcfdbr_spark.plans.layout import formatted_plan
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb
    from vcfdbr_spark.sources.vcf import read_vcf

    write_vcfdb(
        read_vcf(spark, vcf), str(tmp_path / "dbb"), bucketed=True, n_buckets=4
    )
    db = open_vcfdb(spark, str(tmp_path / "dbb"))
    j = db.variant_info.hint("merge").join(db.variant_geno, "variant_id")
    assert j.count() > 0
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # a fresh open must re-register and still avoid the shuffle
    spark.sql(f"DROP TABLE IF EXISTS {db._catalog_base_name()}_variant_info")
    spark.sql(f"DROP TABLE IF EXISTS {db._catalog_base_name()}_variant_geno")
    db2 = open_vcfdb(spark, str(tmp_path / "dbb"))
    j2 = db2.variant_info.hint("merge").join(db2.variant_geno, "variant_id")
    plan2 = formatted_plan(j2)
    assert "Exchange" not in plan2


def test_filter_test_plan_properties(spark, tmp_path, monkeypatch):
    """The canonical query reads info by id: the gene's ids reach the
    info scan as one pushed IN (never an OR of id ranges), with the af
    bound pushed too, columns pruned and no cartesian.  Past the id
    limit it falls back to the join: the symbol filter reaches the
    impact scan and the filtered side broadcasts."""
    from vcfdbr_spark.operators import query

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    from vcfdbr_spark.sources.store import open_vcfdb, write_vcfdb
    from vcfdbr_spark.sources.vcf import read_vcf

    write_vcfdb(read_vcf(spark, vcf), str(tmp_path / "db"))
    db = open_vcfdb(spark, str(tmp_path / "db"))

    def check(q):
        q.collect()  # finalize AQE plan
        assert_no_cartesian(q)
        for schema in scan_schemas(q):
            # column pruning: no scan should read the wide geno/exon cols
            assert "gt_raw" not in schema and "biotype" not in schema
        return pushed_filters(q)

    (pf,) = check(filter_test(db.variant_impact, db.variant_info, "GENE2", af=0.9))
    assert pf.count("In(variant_id") == 1 and "Or(" not in pf
    assert "af" in pf  # predicate reached the parquet scan

    monkeypatch.setattr(query, "ID_LIST_LIMIT", 1)  # GENE2 has 2 ids
    q = filter_test(db.variant_impact, db.variant_info, "GENE2", af=0.9)
    pf = " ".join(check(q))
    assert_broadcast_join(q)
    assert "symbol" in pf and "af" in pf


def test_cli_stream_ingest_and_append_array_mode(spark, tmp_path):
    """--multivalue-as-array reaches both the streaming and append
    paths: the streamed store's geno table equals the batch build's
    array-mode geno table row-for-row, and append continues it."""
    from vcfdbr_spark.sources.vcf import read_vcf

    vcf_dir = tmp_path / "in"
    vcf_dir.mkdir()
    header = write_vcf(str(tmp_path / "h.vcf"))
    write_vcf(str(vcf_dir / "a.vcf"))
    prefix = str(tmp_path / "sdb_arr")
    assert cli_main(
        ["stream-ingest", "--vcf-dir", str(vcf_dir), "--prefix", prefix,
         "--header", header, "--multivalue-as-array"]
    ) == 0
    streamed = spark.read.parquet(f"{prefix}/variant_geno")
    batch = read_vcf(
        spark, str(vcf_dir / "a.vcf"), multi_value="array"
    ).variant_geno
    cols = sorted(batch.columns)
    # array-typed multi-value FORMAT column present, and row parity
    assert any("array" in f.simpleString() for f in streamed.schema.fields)
    got = sorted(map(str, streamed.select(*cols).collect()))
    want = sorted(map(str, batch.select(*cols).collect()))
    assert got == want

    # batch-built array store accepts an array-mode append
    bprefix = str(tmp_path / "bdb_arr")
    vcf2 = write_vcf(str(tmp_path / "b.vcf"))
    assert cli_main(
        ["build", "--vcf", vcf2, "--prefix", bprefix,
         "--multivalue-as-array"]
    ) == 0
    n_before = spark.read.parquet(f"{bprefix}/variant_geno").count()
    assert cli_main(
        ["append", "--vcf", vcf2, "--prefix", bprefix,
         "--multivalue-as-array"]
    ) == 0
    after = spark.read.parquet(f"{bprefix}/variant_geno")
    assert after.count() == 2 * n_before


def test_cli_dedup_index_probe_and_compact(spark, tmp_path):
    """dedup-index → dedup-probe --append-index → dedup-probe again:
    the second probe sees the first batch through the index; the
    pairs equal a from-scratch full-corpus LSH restricted to pairs
    touching the probed batches; compact-band-index collapses a
    streaming index into one layout that probes identically."""
    from pyspark.sql import functions as F

    from vcfdbr_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    base.write.parquet(str(tmp_path / "base.parquet"))
    b1.write.parquet(str(tmp_path / "b1.parquet"))
    b2.write.parquet(str(tmp_path / "b2.parquet"))
    idx = str(tmp_path / "idx")

    assert cli_main(
        ["dedup-index", "--docs", str(tmp_path / "base.parquet"), "--out", idx]
    ) == 0
    assert cli_main(
        ["dedup-probe", "--docs", str(tmp_path / "b1.parquet"),
         "--index", idx, "--out", str(tmp_path / "p1"), "--append-index"]
    ) == 0
    assert cli_main(
        ["dedup-probe", "--docs", str(tmp_path / "b2.parquet"),
         "--index", idx, "--out", str(tmp_path / "p2")]
    ) == 0

    got1 = {(r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "p1")).collect()}
    got2 = {(r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "p2")).collect()}
    full = {(r["a"], r["b"]) for r in minhash_dedup_pairs(docs).collect()}
    # probe 1 sees base ∪ b1 only: at least one endpoint in b1 and
    # NO endpoint in the not-yet-indexed b2
    want1 = {
        p for p in full
        if (p[0] % 3 == 1 or p[1] % 3 == 1)
        and p[0] % 3 != 2 and p[1] % 3 != 2
    }
    # batch2 probes base+batch1 (appended), so any pair touching b2
    want2 = {p for p in full if p[0] % 3 == 2 or p[1] % 3 == 2}
    assert got1 == want1
    assert got2 == want2

    # streaming index → compacted index probes identically
    src = tmp_path / "stream_src"
    src.mkdir()
    base.coalesce(1).write.parquet(str(src / "f0"))
    b1.coalesce(1).write.parquet(str(src / "f1"))
    from vcfdbr_spark.streaming.ingest import stream_fuzzy_dedup

    sout = str(tmp_path / "stream_out")
    stream_fuzzy_dedup(spark, str(src) + "/*", sout, max_files_per_trigger=1)
    assert cli_main(
        ["compact-band-index", "--stream-index", f"{sout}/band_index",
         "--out", str(tmp_path / "cidx")]
    ) == 0
    assert cli_main(
        ["dedup-probe", "--docs", str(tmp_path / "b2.parquet"),
         "--index", str(tmp_path / "cidx"), "--out", str(tmp_path / "p2c")]
    ) == 0
    got2c = {(r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "p2c")).collect()}
    assert got2c == got2


def test_quality_prune_counts_attach_is_broadcast(spark):
    """quality_prune's per-domain keep-count attach must be a
    broadcast join (the counts frame is one row per domain) — a
    shuffled join here would move the whole corpus for a frame that
    fits in a pocket.  The corpus-side movement is the rank window
    alone."""
    from vcfdbr_spark.entry_queries import QUERIES

    df = QUERIES["quality_prune"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_every_registered_query_plan_is_scale_clean(spark):
    """Sweeping plan audit over EVERY queries() entry: no cartesian
    product anywhere (except the documented 1x1 sketch join).  Mostly
    plan compilation only — the iterative dedup_components queries
    necessarily execute their label-propagation loop at construction
    (each round's convergence check is an action); they run with
    materialize=False so nothing stays cached.  Catches any future
    query that accidentally plans a nested-loop join at corpus
    scale."""
    import __spark_entry__ as e

    # documented 1x1 scalar crossJoins (sketch union / n_docs attach /
    # the bigram model's vocab-size attach — corpus_filter embeds
    # lm_score, so it inherits that one)
    allowed_cartesian = {
        "distinct_sketch",
        "tfidf_keywords",
        "lm_score",
        "corpus_filter",
        # training_mix embeds corpus_filter (and so lm_score's 1x1
        # vocab-size attach) — same inherited exemption
        "training_mix",
        # three 1-row aggregates crossJoined into the single summary
        # row (cap-effect evidence query, r11) — each side broadcast
        "embedding_cap_skew",
        # KMV sketch: 1-row stats x 1-row match-count x two 1-row
        # exact aggregates (late r11) — each side broadcast
        "corpus_overlap",
        # planted heavy-hitter evidence (r12): four 1-row aggregates
        # crossJoined into the single summary row — each broadcast
        "heavy_ngrams_planted",
        # floored LM (r12): inherits lm_score's 1x1 vocab attach plus
        # the miss path's 1-row scalars attach
        "lm_score_floored",
        # planted-Zipf floor evidence (r13): the same inherited lm 1x1
        # attaches plus the summary row's 1-row aggregate crossJoins
        "lm_zipf_floor",
    }
    from vcfdbr_spark.entry_queries import SIDE_EFFECTING_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in e.queries().items():
        # side-effecting evidence queries run REAL streaming jobs at
        # construction and return a local summary relation — nothing
        # to plan-audit, and "compiling" them would execute the
        # streams (ADVICE r12); their plan hygiene is the underlying
        # streaming/ingest.py code, audited by its own tests
        if name in SIDE_EFFECTING_QUERIES:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if "Join Cross" in plan and name not in allowed_cartesian:
            bad[name] = "cartesian"
    assert not bad, bad


def test_cli_end_chunk_partial_then_resume(spark, tmp_path, capsys):
    """The reference's --end-chunk bounded partial run
    (pipeline/02-build-db.R:34-38) through the CLI: a --end-chunk 0
    build exits 0 with a valid manifest and NO tables; re-running
    without the flag resumes and the finished store equals a one-shot
    build."""
    import os

    vcf = write_vcf(str(tmp_path / "toy.vcf"))
    prefix = str(tmp_path / "partial_db")
    assert cli_main(
        ["build", "--vcf", vcf, "--prefix", prefix, "--resumable",
         "--chunks", "3", "--end-chunk", "0"]
    ) == 0
    assert "partial build: 1 chunk(s) staged" in capsys.readouterr().out
    assert not os.path.exists(f"{prefix}/variant_info")

    assert cli_main(
        ["build", "--vcf", vcf, "--prefix", prefix, "--resumable",
         "--chunks", "3"]
    ) == 0
    one_shot = str(tmp_path / "oneshot_db")
    assert cli_main(["build", "--vcf", vcf, "--prefix", one_shot]) == 0
    resumed = sorted(
        map(tuple, spark.read.parquet(f"{prefix}/variant_info").collect())
    )
    direct = sorted(
        map(tuple, spark.read.parquet(f"{one_shot}/variant_info").collect())
    )
    assert resumed == direct


def test_cli_stream_dedup(spark, tmp_path, capsys):
    """`vcfdb stream-dedup` drains new parquet files into cross-batch
    near-dup pairs; a re-run picks up only NEW files (checkpointed)
    and pairs them against the accumulated index."""
    src = tmp_path / "docs_in"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    out = str(tmp_path / "sd_out")
    args = ["stream-dedup", "--docs-dir", str(src) + "/*", "--out", out,
            "--max-files-per-trigger", "1"]
    assert cli_main(args) == 0
    assert "0 candidate pairs" in capsys.readouterr().out
    # a later file with a dup arrives; re-run drains ONLY the new file
    spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    assert cli_main(args) == 0
    assert "1 candidate pairs" in capsys.readouterr().out
    got = {(r["a"], r["b"])
           for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert got == {(1, 2)}


def test_cli_stream_semantic_dedup(spark, tmp_path, capsys):
    """`vcfdb stream-semantic-dedup` drains new vector files into
    cross-batch sign-LSH candidate pairs; the re-run picks up only
    NEW files and probes them against the accumulated index with the
    PINNED band params from the first run."""
    src = tmp_path / "vecs_in"
    src.mkdir()
    schema = "vec_id long, embedding array<float>, label int"
    up = [1.0] * 8
    spark.createDataFrame([(1, up, 0)], schema).coalesce(1).write.parquet(
        str(src / "f0")
    )
    out = str(tmp_path / "ssd_out")
    args = ["stream-semantic-dedup", "--vecs-dir", str(src) + "/*",
            "--out", out, "--max-files-per-trigger", "1"]
    assert cli_main(args) == 0
    assert "0 candidate pairs" in capsys.readouterr().out
    spark.createDataFrame(
        [(2, [x * 0.5 for x in up], 0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    assert cli_main(args) == 0
    assert "1 candidate pairs" in capsys.readouterr().out
    got = {(r["a"], r["b"])
           for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert got == {(1, 2)}
    # pinned params survive in the sidecar; a conflicting restart dies
    import pytest

    with pytest.raises(ValueError, match="pinned at"):
        cli_main(args + ["--bits", "24"])

    # manual compaction works on the vec_id flavor too (id column is
    # inferred, not assumed doc_id) and carries the pinned-params
    # sidecar so probes against the compacted index keep the guard
    cidx = str(tmp_path / "ssd_cidx")
    assert cli_main(
        ["compact-band-index", "--stream-index", f"{out}/band_index",
         "--out", cidx]
    ) == 0
    from vcfdbr_spark.operators.similarity import (
        read_embedding_band_index,
    )

    idx, bits, n_bands = read_embedding_band_index(spark, cidx)
    assert bits == 16 and n_bands > 0
    assert "vec_id" in idx.columns
    assert idx.select("vec_id").distinct().count() == 2


def test_cli_train_lm_then_stream_corpus_filter(spark, tmp_path, capsys):
    """The train-once/score-forever workflow: `vcfdb train-lm` on a
    reference corpus, then `vcfdb stream-corpus-filter --model` gates
    each micro-batch against the pinned model and dedups against the
    stream history with first-seen-wins."""
    schema = "doc_id long, text string, lang string, source string"
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog dear reader",
          "en", "web") for i in range(10)],
        schema,
    )
    ref.write.parquet(str(tmp_path / "ref.parquet"))
    model = str(tmp_path / "model")
    assert cli_main(
        ["train-lm", "--docs", str(tmp_path / "ref.parquet"),
         "--out", model]
    ) == 0
    assert "trained bigram model" in capsys.readouterr().out

    src = tmp_path / "scf_src"
    src.mkdir()
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog dear reader",
             "en", "web"),
            (2, "zxqv wkjh plmn bvcx qwer asdf zxcv tyui poiu mnbv",
             "en", "web"),  # gibberish: fails the LM cap
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy dog dear reader",
          "en", "web")],  # dup of kept 1 → dropped
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    out = str(tmp_path / "scf_out")
    assert cli_main(
        ["stream-corpus-filter", "--docs-dir", str(src) + "/*",
         "--out", out, "--min-tokens", "5", "--max-bits", "2.0",
         "--model", model, "--max-files-per-trigger", "1"]
    ) == 0
    assert "1 docs kept" in capsys.readouterr().out
    kept = spark.read.parquet(f"{out}/kept").collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_cli_ivf_index_search_and_stream_assign(spark, tmp_path, capsys):
    """The IVF CLI workflow: ivf-index builds the pruned layout,
    ivf-search answers from it, and stream-ivf-assign maintains an
    equivalent layout incrementally — both layouts return identical
    results for the same queries."""
    schema = "vec_id long, embedding array<float>, label int"
    rows = [
        (i, [float((i * 5 + d * 7) % 13 - 6) for d in range(8)], 0)
        for i in range(30)
    ]
    vecs = spark.createDataFrame(rows, schema).select("vec_id", "embedding")
    vecs.write.parquet(str(tmp_path / "vecs.parquet"))
    idx = str(tmp_path / "ivf_idx")
    assert cli_main(
        ["ivf-index", "--vecs", str(tmp_path / "vecs.parquet"),
         "--out", idx, "--nlist", "4", "--n-iter", "1"]
    ) == 0
    built = capsys.readouterr().out
    assert "30 vectors" in built and "lists (max" in built

    from vcfdbr_spark.operators.similarity import ivf_list_stats

    stats = ivf_list_stats(spark, idx).collect()
    assert sum(r["n"] for r in stats) == 30
    # the stats scan reads only the partition column, no data columns
    plan = (
        ivf_list_stats(spark, idx)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<>" in plan

    q = vecs.filter("vec_id % 10 = 0")
    q.write.parquet(str(tmp_path / "q.parquet"))
    res1 = str(tmp_path / "res1")
    assert cli_main(
        ["ivf-search", "--index", idx, "--queries",
         str(tmp_path / "q.parquet"), "--out", res1, "--k", "3"]
    ) == 0
    out1 = sorted(map(tuple, spark.read.parquet(res1).collect()))
    assert len(out1) == 9  # 3 queries x k=3

    # streaming maintenance reaches the same answers
    src = tmp_path / "ivf_src"
    src.mkdir()
    vecs.filter("vec_id < 15").coalesce(1).write.parquet(str(src / "f0"))
    vecs.filter("vec_id >= 15").coalesce(1).write.parquet(str(src / "f1"))
    sout = str(tmp_path / "ivf_stream")
    assert cli_main(
        ["stream-ivf-assign", "--vecs-dir", str(src) + "/*",
         "--out", sout, "--centroids", f"{idx}/_centroids",
         "--schema", "vec_id long, embedding array<float>",
         "--max-files-per-trigger", "1"]
    ) == 0
    res2 = str(tmp_path / "res2")
    assert cli_main(
        ["ivf-search", "--index", f"{sout}/index", "--queries",
         str(tmp_path / "q.parquet"), "--out", res2, "--k", "3"]
    ) == 0
    out2 = sorted(map(tuple, spark.read.parquet(res2).collect()))
    assert out1 == out2


def test_ivf_drift_signal_and_reindex(spark, tmp_path, capsys):
    """IVF index lifecycle under corpus drift (r11 verdict item 7):
    appends are pinned to the frozen centroids (the sidecar guard),
    so a drifted append concentrates into few lists.  Pins that (1) a
    planted drift cluster fires the DOCUMENTED imbalance signal
    (ivf_imbalance >= IVF_REINDEX_RATIO), (2) queries on the drifted
    index remain exact vs the non-indexed operator under the SAME
    pinned centroids (drift degrades pruning, never correctness),
    (3) the ivf-reindex CLI verb rewrites the layout transactionally
    (fresh centroids, signal cleared, no vectors lost) and queries
    again match the non-indexed operator under the NEW centroids."""
    import math

    from vcfdbr_spark.operators.similarity import (
        IVF_REINDEX_RATIO,
        ivf_imbalance,
        ivf_topk,
        ivf_topk_indexed,
        read_ivf_centroids,
        write_ivf_index,
    )

    # cosine space: clusters must differ in DIRECTION, not scale —
    # region r points along dims {2r, 2r+1}
    def vec(seed, region):
        return [
            round(
                (1.0 if d // 2 == region else 0.0)
                + math.sin(seed * 7.3 + d) * 0.05,
                3,
            )
            for d in range(8)
        ]

    # base corpus: 4 well-separated regions, 10 vectors each
    base_rows = [(i, vec(i, i % 4)) for i in range(40)]
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(base_rows, schema)
    idx = str(tmp_path / "ivf_drift_idx")
    write_ivf_index(base, idx, nlist=4, n_iter=2)

    healthy = ivf_imbalance(spark, idx).first()
    assert not healthy["reindex_signal"]

    # drifted append: 120 vectors over a NEW internally-spread region
    # (a cone over dims 0-2 the training never saw) — each decisively
    # nearest region 0's frozen centroid, so the drift piles into one
    # list; the internal spread is what lets the retrain SPLIT it
    # (k-means correctly refuses to split a point mass)
    def dvec(i):
        w = [1.0, 0.5 + (i % 3) * 0.5, 0.5 + ((i // 3) % 3) * 0.5] + [0.0] * 5
        return [
            round(w[d] + math.sin(i * 7.3 + d) * 0.05, 3) for d in range(8)
        ]

    drift = spark.createDataFrame(
        [(100 + i, dvec(i)) for i in range(120)], schema
    )
    write_ivf_index(
        drift, idx,
        centroids=read_ivf_centroids(spark, idx),
        mode="append",
    )
    drifted = ivf_imbalance(spark, idx).first()
    assert drifted["reindex_signal"]
    assert drifted["imbalance"] >= IVF_REINDEX_RATIO
    assert drifted["n_lists"] <= 4

    # correctness is undamaged by drift: indexed results == the
    # non-indexed operator under the same pinned centroids
    full = base.unionByName(drift)
    q = full.filter("vec_id % 20 = 0")
    pinned = read_ivf_centroids(spark, idx)
    want = sorted(map(tuple, ivf_topk(
        full, q, k=3, centroids=pinned
    ).collect()))
    got = sorted(map(tuple, ivf_topk_indexed(
        spark, idx, q, k=3
    ).collect()))
    assert got == want

    # transactional reindex via the CLI verb: signal clears, all 160
    # vectors survive, queries match the non-indexed op under the
    # FRESH centroids
    # nlist grows with the corpus (40 → 160 vectors): retraining at
    # a larger list budget lets k-means split the drift cluster
    assert cli_main(["ivf-reindex", "--index", idx, "--nlist", "8"]) == 0
    out = capsys.readouterr().out
    assert "signal: REINDEX" in out and "ivf-reindexed" in out
    after = ivf_imbalance(spark, idx).first()
    assert not after["reindex_signal"]
    assert spark.read.parquet(idx).count() == 160
    want2 = sorted(map(tuple, ivf_topk(
        full, q, k=3, centroids=read_ivf_centroids(spark, idx)
    ).collect()))
    got2 = sorted(map(tuple, ivf_topk_indexed(
        spark, idx, q, k=3
    ).collect()))
    assert got2 == want2
    # --if-signaled on a healthy index reports and exits without work
    assert cli_main(["ivf-reindex", "--index", idx, "--if-signaled"]) == 0
    assert "healthy" in capsys.readouterr().out


_EMPTY_STREAM_CASES = {
    "stream-dedup": ("--docs-dir", [], "0 candidate pairs"),
    "stream-exact-dedup": ("--docs-dir", [], "0 docs mapped, 0 duplicates"),
    "stream-semantic-dedup": ("--vecs-dir", [], "0 candidate pairs"),
    "stream-corpus-filter": ("--docs-dir", [], "0 docs kept"),
    "stream-decontaminate": (
        "--docs-dir", ["--eval-docs", "{evald}"], "0 docs kept"
    ),
    "stream-ivf-assign": (
        "--vecs-dir", ["--centroids", "{cents}"], "0 vectors in index"
    ),
    "stream-sketch": ("--source", [], "0/1024 slots filled"),
}


@pytest.mark.parametrize("cmd", list(_EMPTY_STREAM_CASES))
def test_cli_stream_dedup_empty_source(spark, tmp_path, capsys, cmd):
    """ADVICE r7: a fresh/empty source dir fires zero batches, so no
    batch=N output is ever created — every stream subcommand must
    report zero, not die reading a missing path."""
    src_flag, extra, want = _EMPTY_STREAM_CASES[cmd]
    src = tmp_path / "empty_in"
    src.mkdir()
    evald, cents = str(tmp_path / "evald"), str(tmp_path / "cents")
    spark.createDataFrame(
        [(1, "held out doc")], "doc_id long, text string"
    ).write.parquet(evald)
    spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    ).write.parquet(cents)
    out = str(tmp_path / "sd_empty_out")
    args = [cmd, src_flag, str(src) + "/*", "--out", out,
            "--max-files-per-trigger", "1"]
    args += [a.format(evald=evald, cents=cents) for a in extra]
    assert cli_main(args) == 0
    assert want in capsys.readouterr().out


def test_lm_selftrained_plan_scans_corpus_once_when_gated_on():
    """Round-9 verdict asked for a ReusedExchange assert on
    lm_score's self-trained path (the docstring then claimed exchange
    reuse deduplicated the repeated bigram-count subtree).  Measuring
    instead of asserting the claim showed reuse NEVER fired — the
    three counts consumers (model join / context totals / vocabulary)
    prune different columns, so their canonicalized exchanges differ
    and the corpus was scanned FOUR times.  Round 10 materialized the
    counts table unconditionally; round 11 SIZE-GATED it
    (materialize_counts="auto": the blocking write measured +22% at
    sf1 on an idle local[32] where scans overlap for free, and wins
    only when the corpus scan dominates — LM_COUNTS_GATE_BYTES).
    This test pins BOTH gate outcomes on the sf0.001 corpus: gated ON
    → the physical plan reads the documents parquet exactly once and
    every model branch reads the stored counts RDD; gated OFF (what
    "auto" picks below the byte gate) → no checkpoint RDD in the
    plan, scans stay lazy/overlapping."""
    from vcfdbr_spark import get_spark
    from vcfdbr_spark.operators.lm import lm_score

    spark = get_spark(extra_conf={"spark.ui.enabled": "false"})
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = lm_score(docs, materialize_counts=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    # the three training consumers read the checkpointed counts
    assert plan.count("ExistingRDD") >= 2, plan

    # auto on a tiny local corpus = gated OFF: fully lazy plan
    df_off = lm_score(docs)  # materialize_counts="auto"
    plan_off = df_off._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan_off, plan_off
    assert plan_off.count("FileScan parquet") >= 3, plan_off


def test_cli_emb_index_probe_append_and_guards(spark, tmp_path):
    """emb-index → emb-probe --append-index → emb-probe again: the
    second probe sees the first batch through the index at the
    PINNED (bits, n_bands); pairs equal a from-scratch batch run at
    the same parameters restricted to pairs touching the probed
    batch.  Guards: appending bands built at different parameters is
    refused, and a probe whose --corpus is missing an appended id
    RAISES instead of silently dropping the pair."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vcfdbr_spark.operators.similarity import (
        embedding_band_index,
        embedding_dup_pairs,
        incremental_embedding_dup_pairs,
        read_embedding_band_index,
        write_embedding_band_index,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def flipped(mod_val: int, id_base: int):
        d = F.size(F.col("embedding"))
        k0 = (F.col("vec_id") % d).cast("int")
        return base.filter(F.col("vec_id") % 10 == mod_val).select(
            (F.lit(id_base) + F.col("vec_id")).cast("long").alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x, i: F.when(i == k0, -x).otherwise(x)
            ).alias("embedding"),
            F.col("label"),
        )

    b1, b2 = flipped(0, 20_000_000), flipped(5, 30_000_000)
    base.write.parquet(str(tmp_path / "base.parquet"))
    b1.select(*base.columns).write.parquet(str(tmp_path / "b1.parquet"))
    b2.select(*base.columns).write.parquet(str(tmp_path / "b2.parquet"))
    base.unionByName(b1.select(*base.columns)).write.parquet(
        str(tmp_path / "base_b1.parquet")
    )
    idx = str(tmp_path / "eidx")

    assert cli_main(
        ["emb-index", "--vecs", str(tmp_path / "base.parquet"), "--out", idx]
    ) == 0
    assert cli_main(
        ["emb-probe", "--vecs", str(tmp_path / "b1.parquet"),
         "--index", idx, "--corpus", str(tmp_path / "base.parquet"),
         "--out", str(tmp_path / "p1"), "--append-index",
         "--max-bucket-size", "0"]
    ) == 0
    assert cli_main(
        ["emb-probe", "--vecs", str(tmp_path / "b2.parquet"),
         "--index", idx, "--corpus", str(tmp_path / "base_b1.parquet"),
         "--out", str(tmp_path / "p2"), "--max-bucket-size", "0"]
    ) == 0

    _, bits, n_bands = read_embedding_band_index(spark, idx)
    full = base.unionByName(b1.select(*base.columns)).unionByName(
        b2.select(*base.columns)
    )
    allp = {
        (r["a"], r["b"])
        for r in embedding_dup_pairs(
            full, threshold=0.95, n_bands=n_bands, bits_per_band=bits,
            wrapped=True, materialize=False,
        ).collect()
    }
    got1 = {(r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "p1")).collect()}
    got2 = {(r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "p2")).collect()}
    in1 = lambda i: 20_000_000 <= i < 30_000_000
    in2 = lambda i: i >= 30_000_000
    want1 = {p for p in allp if (in1(p[0]) or in1(p[1]))
             and not in2(p[0]) and not in2(p[1])}
    want2 = {p for p in allp if in2(p[0]) or in2(p[1])}
    assert got1 == want1 and len(got1) > 0
    assert got2 == want2 and len(got2) > 0

    # appending bands pinned at DIFFERENT parameters is refused
    with _pytest.raises(ValueError, match="pinned at"):
        write_embedding_band_index(
            embedding_band_index(b2, 0.95, bits=bits + 1, n_bands=n_bands),
            idx, bits + 1, n_bands, mode="append",
        )

    # a verify corpus missing the appended b1 ids must raise, not
    # silently drop the b1-touching pairs
    index, bits, n_bands = read_embedding_band_index(spark, idx)
    with _pytest.raises(Exception, match="accumulated corpus"):
        incremental_embedding_dup_pairs(
            b2, index, base, bits, n_bands, materialize=False,
        ).count()


def test_cli_decontaminate_eval_index_keeps_in_memory_rows(spark, tmp_path):
    """`vcfdb dedup-index --n-pfx 128` then `vcfdb decontaminate
    --eval-index` keeps exactly the rows that the run which bands the
    eval docs in memory keeps: the probe prunes under the index's
    recorded modulus."""
    eval_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id").limit(200)
    )
    batch = eval_docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    eval_p, batch_p = str(tmp_path / "eval"), str(tmp_path / "batch")
    eval_docs.write.parquet(eval_p)
    batch.write.parquet(batch_p)
    idx = str(tmp_path / "idx")
    assert cli_main(
        ["dedup-index", "--docs", eval_p, "--out", idx, "--n-pfx", "128"]
    ) == 0
    args = ["decontaminate", "--batch", batch_p, "--eval-docs", eval_p]
    assert cli_main(args + ["--eval-index", idx, "--out", str(tmp_path / "k1")]) == 0
    assert cli_main(args + ["--out", str(tmp_path / "k2")]) == 0

    def kept(out):
        return {r["doc_id"] for r in spark.read.parquet(str(tmp_path / out)).collect()}

    assert kept("k1") == kept("k2")


def test_cli_training_data_subcommands(spark, tmp_path, capsys):
    """domain-mix / epoch-shuffle / snapshot-delta / decontaminate
    drive their operators end-to-end and report sane summaries."""
    import pyspark.sql.functions as F

    docs_p = str(tmp_path / "docs")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(base + " tail"), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
        F.lit(100).alias("n_chars"),
    ).write.parquet(docs_p)

    mix_p = str(tmp_path / "mix")
    assert cli_main([
        "domain-mix", "--docs", docs_p, "--out", mix_p,
        "--target", "en=0.5", "--target", "de=0.5",
    ]) == 0
    assert "mixed" in capsys.readouterr().out
    mixed = spark.read.parquet(mix_p)
    assert 0 < mixed.count() <= 120

    ord_p = str(tmp_path / "order")
    assert cli_main([
        "epoch-shuffle", "--docs", docs_p, "--out", ord_p,
        "--epochs", "2", "--buckets", "4",
    ]) == 0
    order = spark.read.parquet(ord_p)
    assert order.count() == 240
    # sort-on-write contract: files within an (epoch, bucket)
    # partition are already ordered by order_key
    one = order.filter((F.col("epoch") == 0) & (F.col("bucket") == 0))
    vals = [r["order_key"] for r in one.collect()]
    assert vals == sorted(vals)

    # snapshot-delta over a modified copy
    docs2_p = str(tmp_path / "docs2")
    spark.read.parquet(docs_p).filter(F.col("doc_id") != 0).withColumn(
        "text",
        F.when(F.col("doc_id") == 1, F.lit("rewritten")).otherwise(F.col("text")),
    ).write.parquet(docs2_p)
    delta_p = str(tmp_path / "delta")
    assert cli_main([
        "snapshot-delta", "--old", docs_p, "--new", docs2_p,
        "--out", delta_p,
    ]) == 0
    got = {r["status"]: r["n"] for r in spark.read.parquet(delta_p)
           .groupBy("status").count().withColumnRenamed("count", "n").collect()}
    assert got == {"removed": 1, "changed": 1, "unchanged": 118}

    # decontaminate: doc 5's near-dup placed in the eval side
    eval_p = str(tmp_path / "evald")
    spark.createDataFrame(
        [(9001, base + " tail5x")], "doc_id long, text string"
    ).write.parquet(eval_p)
    kept_p = str(tmp_path / "kept")
    assert cli_main([
        "decontaminate", "--batch", docs_p, "--eval-docs", eval_p,
        "--out", kept_p,
    ]) == 0
    out = capsys.readouterr().out
    assert "leaked" in out
    kept = spark.read.parquet(kept_p)
    assert kept.count() < 120          # at least doc 5's twin dropped


def test_cli_build_training_set(spark, tmp_path, capsys):
    """The capstone command writes split-partitioned survivors with
    per-split doc/token totals."""
    import pyspark.sql.functions as F

    docs_p = str(tmp_path / "docs")
    words = " ".join(f"w{i}" for i in range(40))
    spark.range(0, 80).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(words + " t"), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.lit("s").alias("source"),
    ).write.parquet(docs_p)
    out_p = str(tmp_path / "tset")
    assert cli_main([
        "build-training-set", "--docs", docs_p, "--out", out_p,
        "--target", "en=0.5", "--target", "de=0.5",
        "--splits", "train=0.8,val=0.2",
    ]) == 0
    assert "built training set" in capsys.readouterr().out
    got = spark.read.parquet(out_p)
    assert set(r["split"] for r in got.select("split").distinct().collect()) <= {"train", "val"}
    assert 0 < got.count() <= 80
    assert "n_tokens" in got.columns
