"""VCFdb benchmark: one workload per process, one client, closed loop.

    python3 perfbench/run.py --workload gene_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Every other line is a
human-readable report.  All files go under ``.bench_work/`` at the
root of the checkout and are removed at exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

QUERY_OPS = ("filter", "pull_ids", "pull_gene", "interval", "gene_counts")
E2E_UNITS = {
    "setup_s": "s",
    "mix_p50_s": "s",
    "bytes_per_input_byte": "B/B",
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    units.update({"vcf.read_vcf_s": "s", "vcf.input_bytes": "B", "vcf.variants": "count",
                  "vcf.rejects": "count"})
    units.update({"store.write_s": "s", "store.jobs": "count", "store.task_s": "s",
                  "store.driver_gap_s": "s", "store.shuffle_bytes": "B", "store.spill_bytes": "B",
                  "store.files_written": "count", "store.bytes_written": "B"})
    for op in QUERY_OPS:
        units.update({f"query.{op}.p50_s": "s", f"query.{op}.jobs": "count",
                      f"query.{op}.task_s": "s", f"query.{op}.driver_s": "s",
                      f"query.{op}.input_bytes": "B", f"query.{op}.rows_scanned": "count",
                      f"query.{op}.scan_per_row": "ratio"})
    units.update({"build.append_s": "s", "build.append_jobs": "count",
                  "build.append_bytes_written": "B", "build.append_write_amp": "B/B",
                  "build.files_per_table": "count", "build.compact_s": "s",
                  "build.compact_bytes_rewritten": "B"})
    units.update({"stream.batches": "count", "stream.batch_p50_s": "s",
                  "stream.docs_per_s": "1/s", "stream.jobs_per_batch": "count",
                  "stream.driver_gap_s": "s", "stream.task_s": "s", "stream.folds": "count",
                  "stream.fold_bytes": "B", "stream.index_files": "count", "stream.pairs": "count"})
    units.update({"trace.mix_p50_s": "s", "trace.untraced_mix_p50_s": "s", "trace.overhead_s": "s"})
    return units


def start_session(work: str, event_log: str | None):
    """A SparkSession whose scratch files all live under ``work``."""
    from vcfdbr_spark import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under /tmp; JVM temp files under ``work``
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def mix_p50(ctx, workload) -> float:
    """One round of the workload's operation mix, each operation at its
    median latency in the run."""
    return sum(w * statistics.median(ctx.samples[k]) for k, w in workload.mix.items())


def end_to_end(ctx, workload, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + ctx.info["engine_setup_s"],
        "mix_p50_s": mix_p50(ctx, workload),
        "bytes_per_input_byte": ctx.info["bytes_per_input_byte"],
    }


def report(ctx, workload, e2e: dict[str, float]) -> list[tuple[str, float, str]]:
    """The named end-to-end figures of this workload, for humans."""
    from stats import summarize

    rows = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]

    def lat(name, kind):
        s = summarize(ctx.samples[kind])
        if s["n"]:
            rows.append((f"{name}_p50_s", s["p50"], f"s (n={s['n']})"))
            if "p90" in s:
                rows.append((f"{name}_p90_s", s["p90"], "s"))

    if workload.name == "gene_queries":
        rows.append(("build_variants_per_s", ctx.info["vcf.variants"] / ctx.info["build_s"],
                     "1/s (set-up)"))
        lat("append", "append")
        rows.append(("compact_s", statistics.median(ctx.samples["compact"]), "s (set-up)"))
        rows.append(("store_bytes_per_input_byte", ctx.info["bytes_per_input_byte"], "B/B"))
        for op in QUERY_OPS:
            lat(op, op)
    else:
        rows.append(("stream_docs_per_s", ctx.info["stream.docs"] / sum(ctx.samples["stream"]), "1/s"))
        lat("stream_batch", "batch")
    rows.append(("failed_ratio", ctx.failed / max(1, ctx.attempted), "ratio"))
    return rows


def per_layer(ctx, workload, session_s: float, layers, untraced) -> dict[str, float]:
    out = {name: 0.0 for name in per_layer_units()}
    out["session.start_s"] = session_s
    info = ctx.info

    for k in ("vcf.input_bytes", "vcf.variants", "vcf.rejects", "store.files_written",
              "build.files_per_table", "stream.batches", "stream.folds", "stream.fold_bytes",
              "stream.index_files"):
        out[k] = float(info.get(k, 0))
    if "vcf.read_vcf" in layers:
        out["vcf.read_vcf_s"] = layers["vcf.read_vcf"].wall_s
    if "store.write_vcfdb" in layers:
        st = layers["store.write_vcfdb"]
        out.update({"store.write_s": st.wall_s, "store.jobs": st.jobs, "store.task_s": st.task_s,
                    "store.driver_gap_s": st.driver_s, "store.shuffle_bytes": st.shuffle_bytes,
                    "store.spill_bytes": st.spill_bytes, "store.bytes_written": st.output_bytes})
    for op in QUERY_OPS:
        st = layers.get(f"query.{op}")
        if st is None:
            continue
        rows = ctx.rows_out[f"query.{op}"]
        out.update({f"query.{op}.jobs": st.jobs, f"query.{op}.task_s": st.task_s,
                    f"query.{op}.driver_s": st.driver_s, f"query.{op}.input_bytes": st.input_bytes,
                    f"query.{op}.rows_scanned": st.records_read,
                    f"query.{op}.scan_per_row": st.records_read / max(1, rows)})
        if untraced.samples[op]:
            out[f"query.{op}.p50_s"] = statistics.median(untraced.samples[op])
    if "build.append_vcf" in layers:
        st = layers["build.append_vcf"]
        out.update({"build.append_s": st.wall_s, "build.append_jobs": st.jobs,
                    "build.append_bytes_written": st.output_bytes,
                    "build.append_write_amp": st.output_bytes / max(1, info.get("append_input_bytes", 0))})
    if "build.compact_table" in layers:
        st = layers["build.compact_table"]
        out.update({"build.compact_s": st.wall_s, "build.compact_bytes_rewritten": st.output_bytes})
    if "stream.fuzzy_dedup" in layers:
        st = layers["stream.fuzzy_dedup"]
        runs = max(1, st.calls)
        out.update({"stream.jobs_per_batch": st.jobs / max(1, info["stream.batches"]),
                    "stream.driver_gap_s": st.driver_s / runs, "stream.task_s": st.task_s / runs,
                    "stream.pairs": ctx.rows_out["stream.fuzzy_dedup"] / runs,
                    "stream.docs_per_s": untraced.info["stream.docs"] / sum(untraced.samples["stream"])})
        out["stream.batch_p50_s"] = statistics.median(untraced.samples["batch"])
    traced, plain = mix_p50(ctx, workload), mix_p50(untraced, workload)
    out.update({"trace.mix_p50_s": traced, "trace.untraced_mix_p50_s": plain,
                "trace.overhead_s": traced - plain})
    return out


def run(args, work: str) -> dict:
    from spans import attribute, read_event_log
    from workloads import WORKLOADS, Ctx

    workload = WORKLOADS[args.workload]()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark, session_s = start_session(work, event_log)
    try:
        ctx = Ctx(spark, work, args.seed, args.seconds)
        workload.setup(ctx)
        workload.timed(ctx)
        if not args.trace:
            e2e = end_to_end(ctx, workload, session_s)
            for name, value, unit in report(ctx, workload, e2e):
                print(f"{workload.name:14s} {name:28s} {value:14.6g} {unit}")
            metrics = e2e
            units = E2E_UNITS
        else:
            # the traced half ends here: stopping the session flushes
            # the event log; the untraced half reruns the timed loop on
            # a fresh session in the same JVM, for the overhead figure
            spark.stop()
            lines = []
            for path in sorted(glob.glob(os.path.join(event_log, "*"))):
                with open(path) as fh:
                    lines += fh.readlines()
            if not lines:
                raise RuntimeError(f"no Spark event log under {event_log}")
            layers = attribute(ctx.tracer.spans, read_event_log(lines))
            spark, _ = start_session(work, None)
            # the untraced half reuses the set-up's inputs, not its counters
            setup_info = {k: v for k, v in ctx.info.items() if k.endswith("input_bytes")}
            untraced = Ctx(spark, work, args.seed, args.seconds, info=setup_info)
            workload.warm(untraced)
            workload.timed(untraced)
            metrics = per_layer(ctx, workload, session_s, layers, untraced)
            units = per_layer_units()
            for name in sorted(metrics):
                print(f"{workload.name:14s} {name:34s} {metrics[name]:14.6g} {units[name]}")
            ctx.attempted += untraced.attempted
            ctx.failed += untraced.failed
    finally:
        stop_jvm(spark)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("gene_queries", "stream_dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.seed %= 1 << 63  # numpy seeds must be non-negative
    if not os.path.isdir(os.path.join(ROOT, "vcfdbr_spark")):
        print(f"no vcfdbr_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark gets half the usable cores: the JVM's JIT and GC threads and
    # the Python driver need the rest, and a stage whose task threads
    # fill every core of a shared host waits on whichever core the host
    # takes away.  Every scratch file of the engine and its JVM stays in
    # the checkout.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
