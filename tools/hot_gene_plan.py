"""Capture the skew-defense plan evidence for the reference-scale hot
gene at a given sf dir (SCALE.md's committed excerpt is produced by
running this against the sf1 derivation):

    python tools/make_sf1.py --out /tmp/sf1
    python tools/hot_gene_plan.py /tmp/sf1

Builds the simdata store the same way bench.py does, remaps the
reference's absolute hottest-gene count (121,630 variants,
benchmarks/01-filter-benchmark-genome.csv max) onto ONE symbol, runs
the canonical filter→geno-pull chain, and prints:

- the hot-gene row count actually planted,
- wall time for the pull,
- the physical-plan excerpt showing the skew defenses: the filtered
  single-symbol side BROADCASTS (BroadcastHashJoin / BroadcastExchange)
  so the geno table never shuffles and the hot key has no reducer to
  skew, plus the AQE skew-join setting in force.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vcfdbr_spark import get_spark, simdata  # noqa: E402
from vcfdbr_spark.operators.query import pull_geno_test  # noqa: E402
from vcfdbr_spark.plans.layout import physical_plan  # noqa: E402

REF_HOT_VARIANTS = 121_630


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="hot-gene-plan", extra_conf={"spark.ui.enabled": "false"}
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keyed = simdata.sim_info_keyed(orders).persist()
    info = simdata.sim_info(orders, keyed=keyed).persist()
    impact = simdata.sim_impact(orders, li, keyed=keyed).persist()
    geno = simdata.sim_geno(orders, li, keyed=keyed).persist()
    info.count(), impact.count(), geno.count()

    max_id = info.agg(F.max("variant_id")).first()[0]
    k_hot = max(2, -(-max_id // REF_HOT_VARIANTS))
    ref_impact = impact.withColumn(
        "symbol",
        F.when(
            F.pmod(F.col("variant_id"), F.lit(k_hot)) == 0, F.lit("HOTGENE")
        ).otherwise(F.col("symbol")),
    )
    n_hot = ref_impact.filter(F.col("symbol") == "HOTGENE").count()
    print(f"sf_dir={sf_dir}  max_id={max_id}  k_hot={k_hot}  "
          f"hot impact rows={n_hot}")

    # project down to the join key and COLLECT the frame itself (not
    # .count(), which plans a separate query): executing q's own
    # QueryExecution is what makes executedPlan() the AQE FINAL plan
    # (isFinalPlan=true) — the runtime re-plan is the evidence here.
    # The timer starts before pull_geno_test: it runs its gene-id
    # collect while the plan is built.
    t0 = time.time()
    q = pull_geno_test(ref_impact, info, geno, "HOTGENE", af=0.5).select(
        "variant_id"
    )
    n = len(q.collect())
    dt = time.time() - t0
    print(f"pull_geno_hot_gene_ref_scale: {n} geno rows in {dt:.2f}s")
    print(f"spark.sql.adaptive.skewJoin.enabled="
          f"{spark.conf.get('spark.sql.adaptive.skewJoin.enabled')}")

    plan = physical_plan(q)
    # excerpt: the join/exchange skeleton, minus codegen ids and
    # per-run expression ids
    keep = re.compile(
        r"BroadcastHashJoin|BroadcastExchange|ShuffledHashJoin|"
        r"SortMergeJoin|Exchange|HashAggregate|Filter|Scan|AQE"
    )
    print("--- plan excerpt ---")
    for line in plan.splitlines():
        if keep.search(line):
            print(re.sub(r"#\d+L?", "#x", line.rstrip()))


if __name__ == "__main__":
    main()
