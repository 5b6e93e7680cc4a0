"""perfbench entry point.

    python3 perfbench/run.py --workload cdc_mor --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as its last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the run
is traced and the metrics are the per-layer ones (see README.md). Exits 1
when a result check fails, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

import numpy as np

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import ops  # noqa: E402

sys.path.insert(0, harness.ROOT)

WORKLOADS = ("cdc_mor", "ops_dedup")
# per-layer metric name -> unit; every traced run reports all of them, with
# 0 for a layer the workload does not exercise
PER_LAYER = {
    "source.scan_ms": "ms", "envelope.parse_ms": "ms", "envelope.records": "count",
    "envelope.control": "count", "envelope.malformed": "count",
    "dedup.argmax_ms": "ms", "dedup.rows_in": "count", "dedup.rows_out": "count",
    "dedup.keep_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_skew": "ratio",
    "spark.exec_run_ms": "ms", "spark.spill_bytes": "bytes",
    "lake.merge_self_ms": "ms", "lake.bytes_written": "bytes", "lake.compact_ms": "ms",
    "lake.compactions": "count", "lake.compacted_buckets": "count",
    "lake.read_state_ms": "ms", "lake.table_changes_ms": "ms",
    "lake.delta_files_per_bucket_max": "count", "lake.files": "count",
    "pipeline.batches": "count", "pipeline.batch_ms_p50": "ms", "pipeline.batch_ms_max": "ms",
    "pipeline.self_ms_p50": "ms", "pipeline.snapshot_ms": "ms", "pipeline.unattributed_ms": "ms",
    "pipeline.span_coverage_pct": "%",
    "trickle.fresh_p50_s": "s", "trickle.fresh_p90_s": "s", "trickle.fresh_samples": "count",
    "trickle.files_per_batch": "count", "trickle.backlog_files_max": "count",
    **{f"ops.{q}_s": "s" for q in ops.QUERIES},
    "ops.small_corpus_share_pct": "%", "ops.shuffle_write_bytes": "bytes", "ops.spill_bytes": "bytes",
    "bench.gen_late_max_s": "s", "bench.trace_overhead_pct": "%",
}
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "cpu_us_per_rec": "us/record"}
MIN_FREE_BYTES = 2 << 30


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def install_cdc_tracing(tracer, probes: list):
    """Span wrappers around the CDC layers' public entry points, plus the
    per-batch probes: noop-sink writes of (a) the raw batch, (b) its parse,
    (c) the per-key arg-max of its keyed data rows."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from debezium_connector_cockroachdb_spark.operators.dedup import dedupe_batch
    from debezium_connector_cockroachdb_spark.sources.envelope import parse_changefeed
    from debezium_connector_cockroachdb_spark.sources.lake import SnapshotTable
    from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def data_rows(parsed):
        return parsed.filter(~F.col("is_control") & F.col("pk").isNotNull()).select(
            "pk", "commit_wall_ns", "commit_logical", "seq", "op", "after")

    def probe(pipe, raw, batch_id, *a, **k):
        if tracer.current() != "pipeline.catchup":
            return  # the trickle's freshness is measured without probes
        spec, pk = pipe.specs, pipe.cfg.pk_name
        rec = {}
        with tracer.span("source.scan") as sp:
            noop(raw)
        rec["a"] = sp
        o_parse = Observation()
        parsed = parse_changefeed(raw, spec, pk, with_drift_keys=False).observe(
            o_parse, F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_control").cast("long")).alias("control"),
            F.sum(F.col("is_malformed").cast("long")).alias("malformed"))
        with tracer.span("envelope.parse") as sp:
            noop(parsed)
        rec["b"] = sp
        o_in, o_out = Observation(), Observation()
        data = data_rows(parse_changefeed(raw, spec, pk, with_drift_keys=False)).observe(
            o_in, F.count(F.lit(1)).alias("n"))
        with tracer.span("dedup.argmax") as sp:
            noop(dedupe_batch(data, "pk").observe(o_out, F.count(F.lit(1)).alias("n")))
        rec["c"] = sp
        rec.update(parse=o_parse.get, rows_in=o_in.get["n"], rows_out=o_out.get["n"])
        probes.append(rec)

    def compact_attrs(self, spark, buckets=None, *a, **k):
        return {"buckets": len(buckets) if buckets is not None else None}

    undo = [
        tracer.wrap(CDCPipeline, "run_snapshot", "pipeline.run_snapshot"),
        tracer.wrap(CDCPipeline, "start_stream", "pipeline.start_stream"),
        tracer.wrap(CDCPipeline, "process_batch", "pipeline.process_batch", before=probe),
        tracer.wrap(SnapshotTable, "merge", "lake.merge"),
        tracer.wrap(SnapshotTable, "compact", "lake.compact", attrs=compact_attrs),
    ]
    return lambda: [u() for u in undo]


def spark_layer(tracer, ops_spans) -> dict:
    """Per-operation means of the Spark stage metrics, and the median over
    operations of the task skew of each operation's heaviest stage."""
    n = max(len(ops_spans), 1)
    out = {
        "spark.shuffle_write_bytes": tracer.stage_sum(ops_spans, "shuffle_write") / n,
        "spark.shuffle_read_bytes": tracer.stage_sum(ops_spans, "shuffle_read") / n,
        "spark.exec_run_ms": tracer.stage_sum(ops_spans, "run_ms") / n,
        "spark.spill_bytes": tracer.stage_sum(ops_spans, "spill") / n,
        "spark.stages": sum(len(s.attrs["stages"]) for s in ops_spans) / n,
        "spark.tasks": sum(tracer.stage_rows[i]["tasks"] for s in ops_spans for i in s.attrs["stages"]) / n,
    }
    skews = []
    for s in ops_spans:
        if s.attrs["stages"]:
            heaviest = max(s.attrs["stages"], key=lambda i: tracer.stage_rows[i]["run_ms"])
            k = tracer.task_skew(heaviest)
            if k is not None:
                skews.append(k)
    out["spark.task_skew"] = statistics.median(skews) if skews else 0.0
    return out


def cdc_layers(tracer, res: dict, probes: list) -> dict:
    d = res["detail"]
    spans = tracer.spans
    catchup = d["catchup_span"]
    pbs = [s for s in spans if s.name == "pipeline.process_batch"]
    in_catchup = [s for s in pbs if s.parent == catchup.sid]
    snap = next(s for s in spans if s.name == "pipeline.run_snapshot")
    starts = [s for s in spans if s.name == "pipeline.start_stream" and s.parent == catchup.sid]
    merges = {s.parent: s for s in spans if s.name == "lake.merge"}
    compacts = [s for s in spans if s.name == "lake.compact"]
    comp_of = {s.parent: s for s in compacts}
    by_pb = dict(zip([s.sid for s in in_catchup], probes))

    def merge_ms(pb):
        m = merges.get(pb.sid)
        return m.ms if m else 0.0

    scan = parse = argmax = merge_self = 0.0
    n_rec = n_ctl = n_bad = rows_in = rows_out = 0
    for pb in in_catchup:
        p = by_pb[pb.sid]
        a, b, c = p["a"].ms, p["b"].ms, p["c"].ms
        scan, parse, argmax = scan + a, parse + (b - a), argmax + (c - b)
        m = merges.get(pb.sid)
        comp = comp_of.get(m.sid) if m else None
        merge_self += (m.ms if m else 0.0) - (comp.ms if comp else 0.0) - c
        n_rec += int(p["parse"]["n"])
        n_ctl += int(p["parse"]["control"] or 0)
        n_bad += int(p["parse"]["malformed"] or 0)
        rows_in += int(p["rows_in"])
        rows_out += int(p["rows_out"])
    probe_ms = sum(p["c"].ms + p["b"].ms + p["a"].ms for p in probes)
    named = snap.ms + sum(s.ms for s in starts) + sum(pb.ms for pb in in_catchup) + probe_ms
    unattributed = catchup.ms - named

    table = d["table_path"]
    written = 0
    for dirpath, _, files in os.walk(os.path.join(table, "data")):
        written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    deltas: dict[int, int] = {}
    for fe in d["manifest"]:
        if fe.get("kind") == "delta":
            deltas[fe["bucket"]] = deltas.get(fe["bucket"], 0) + 1
    batch_ms = [pb.ms for pb in pbs]
    self_ms = [pb.ms - merge_ms(pb) for pb in pbs]
    catchup_wall = catchup.ms
    overhead = probe_ms + tracer.overhead_s * 1e3
    out = {
        "source.scan_ms": scan, "envelope.parse_ms": parse, "envelope.records": n_rec,
        "envelope.control": n_ctl, "envelope.malformed": n_bad,
        "dedup.argmax_ms": argmax, "dedup.rows_in": rows_in, "dedup.rows_out": rows_out,
        "dedup.keep_ratio": rows_out / rows_in if rows_in else 0.0,
        **spark_layer(tracer, in_catchup),
        "lake.merge_self_ms": merge_self, "lake.bytes_written": written,
        "lake.compact_ms": sum(s.ms for s in compacts), "lake.compactions": len(compacts),
        "lake.compacted_buckets": sum(s.attrs.get("buckets") or 0 for s in compacts),
        "lake.read_state_ms": d["read_state_ms"],
        "lake.table_changes_ms": d["table_changes_ms"],
        "lake.delta_files_per_bucket_max": max(deltas.values(), default=0),
        "lake.files": len(d["manifest"]),
        "pipeline.batches": len(pbs),
        "pipeline.batch_ms_p50": statistics.median(batch_ms),
        "pipeline.batch_ms_max": max(batch_ms),
        "pipeline.self_ms_p50": statistics.median(self_ms),
        "pipeline.snapshot_ms": snap.ms,
        "pipeline.unattributed_ms": unattributed,
        "pipeline.span_coverage_pct": 100.0 * named / catchup_wall,
        "trickle.fresh_p50_s": np.percentile(d["fresh"], 50),
        "trickle.fresh_p90_s": np.percentile(d["fresh"], 90),
        "trickle.fresh_samples": len(d["fresh"]),
        "trickle.files_per_batch": d["files_per_batch"],
        "trickle.backlog_files_max": d["backlog_max"],
        "bench.gen_late_max_s": max(d["late"]),
        "bench.trace_overhead_pct": 100.0 * overhead / (catchup_wall - overhead),
    }
    return out


def ops_layers(tracer, res: dict) -> dict:
    spans = [s for s in tracer.spans if s.name.startswith("ops.")]
    total_ms = sum(s.ms for s in spans)
    overhead = tracer.overhead_s * 1e3
    return {
        **spark_layer(tracer, spans),
        **{f"ops.{q}_s": res["detail"]["times"][q] for q in ops.QUERIES},
        "ops.small_corpus_share_pct": res["detail"]["small_share_pct"],
        "ops.shuffle_write_bytes": tracer.stage_sum(spans, "shuffle_write"),
        "ops.spill_bytes": tracer.stage_sum(spans, "spill"),
        "bench.trace_overhead_pct": 100.0 * overhead / (total_ms - overhead),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import debezium_connector_cockroachdb_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {e}", file=sys.stderr)
        return 2
    free = os.statvfs(harness.ROOT)
    if free.f_bavail * free.f_frsize < MIN_FREE_BYTES:
        print("perfbench: less than 2 GiB free in the checkout", file=sys.stderr)
        return 2

    work_existed = os.path.exists(os.path.join(harness.ROOT, "_work"))
    run = harness.RunDir()
    spark = None
    try:
        spark = harness.start_session(run, f"perfbench-{args.workload}")
        session_s = time.time() - T_START
        is_cdc = args.workload == "cdc_mor"
        if is_cdc:
            import cdc as workload
        else:
            workload = ops
        inp = workload.setup(spark, run, args.seed, args.seconds)
        setup_s = session_s + inp["setup_s"]
        # tracing starts after set-up, so the warm-up records no spans
        tracer = harness.Tracer(spark, os.path.basename(run.path)) if args.trace else None
        probes: list = []
        undo = install_cdc_tracing(tracer, probes) if tracer and is_cdc else None
        try:
            res = workload.run(spark, run, inp, tracer)
        finally:
            if undo:
                undo()
        if tracer:
            tracer.check_parents()
            tracer.attach_stages()
            if is_cdc:
                layer = cdc_layers(tracer, res, probes)
            else:
                layer = ops_layers(tracer, res)
            trace_path = os.path.join(harness.ROOT, ".perfbench_trace",
                                      f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
            print(f"perfbench: {len(tracer.spans)} spans -> {trace_path}", file=sys.stderr)
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            vals = dict(res["metrics"], setup_s=setup_s, peak_rss_mb=harness.peak_rss_mb(spark))
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
        notes = res.get("notes", {})
        print("perfbench: " + json.dumps({"workload": args.workload, "seed": args.seed,
                                          "setup_s": setup_s, "session_s": session_s, **notes}, default=str),
              file=sys.stderr)
        correct = bool(res["correct"])
        failed = res.get("failed", 0 if correct else res["attempted"])
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            run.remove()
            if not work_existed:
                import shutil

                shutil.rmtree(os.path.join(harness.ROOT, "_work"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
