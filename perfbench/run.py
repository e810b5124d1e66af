"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with keys ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` every end-to-end metric, with ``--trace 1`` every per-layer
metric. The full record (spans, self times, stage rollups, samples with
their percentiles and counts, check messages) is written to
``.perfbench/<workload>-s<seed>-t<trace>/record.json``. The exit code is
nonzero when any output was wrong. See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("warehouse", "curation")

END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb", "write_amp", "rows_per_s",
              "batch_p50_ms", "read_p50_ms")

# layers whose Spark stages are rolled up per traced run
STAGE_LAYERS = ("csv", "pipeline", "warehouse", "atomic", "status", "views",
                "analytics", "text", "dedup", "ingest", "similarity")
# metric, unit, rollup field, scale
STAGE_METRICS = (("executor_cpu_s", "s", "executor_cpu_ns", 1e-9),
                 ("shuffle_mb", "MB", "shuffle_bytes", 1e-6),
                 ("spill_mb", "MB", "spill_bytes", 1e-6),
                 ("tasks", "count", "tasks", 1))

# name -> unit; a layer a workload does not exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "csv.read_detected_ms": "ms",
    "csv.detected_ratio": "files/files",
    "pipeline.process_files_s": "s",
    "pipeline.spark_jobs": "count",
    "etl.clean_ratio": "rows/rows",
    "etl.quarantined_rows": "count",
    "warehouse.write_s": "s",
    "warehouse.files_written": "count",
    "warehouse.bytes_written": "bytes",
    "warehouse.open_ms": "ms",
    "atomic.upsert_s": "s",
    "atomic.partitions_rewritten": "count",
    "atomic.bytes_rewritten": "bytes",
    "status.append_ms": "ms",
    "status.merge_ms": "ms",
    "status.eligible_keys": "count",
    "status.partitions_swapped": "count",
    "status.lookup_plan_ms": "ms",
    "status.lookup_action_ms": "ms",
    "status.lookup_tail_ms": "ms",
    "views.register_ms": "ms",
    "analytics.report_p50_ms": "ms",
    "analytics.report_action_ms": "ms",
    "analytics.rows_scanned_per_row_out": "rows/rows",
    "text.quality_s": "s",
    "dedup.lsh_s": "s",
    "dedup.components_s": "s",
    "dedup.candidates": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "pairs/pairs",
    "dedup.near_dup_recall": "pairs/pairs",
    "ingest.batch_ms": "ms",
    "ingest.growth": "ratio",
    "ingest.store_files": "count",
    "ingest.store_bytes": "bytes",
    "similarity.index_build_s": "s",
    "similarity.topk_action_ms": "ms",
    "cache.persisted_rdds": "count",
    "trace.timed_phase_s": "s",
    "trace.spans": "count",
}
for _layer in STAGE_LAYERS:
    for _m, _u, _, _ in STAGE_METRICS:
        PER_LAYER[f"{_layer}.{_m}"] = _u


def process_start_epoch() -> float:
    """When this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload gets: the session, tracer, checks, and places to
    put samples and counts."""

    def __init__(self, args, workdir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.layer: dict[str, float] = defaultdict(int)  # per-layer values
        self.samples: dict[str, list[float]] = {}
        self.manifest: dict = {}   # the generator's expected outcome
        self.spark = None
        self.tracer = None
        self.checks = None
        self.timed = {}

    def begin_timed(self) -> None:
        import procstat
        self.timed["cpu0"] = procstat.cpu_seconds()
        self.timed["t0"] = time.perf_counter()
        self.timed["epoch0"] = time.time()

    def end_timed(self) -> None:
        import procstat
        self.timed["t1"] = time.perf_counter()
        self.timed["cpu1"] = procstat.cpu_seconds()
        self.timed["rss_by_process"] = procstat.peak_rss_by_process()
        self.timed["rss_mb"] = sum(self.timed["rss_by_process"].values())

    def timed_durations(self, name: str) -> list[float]:
        """Durations of the spans of one name inside the timed phase."""
        t0, t1 = self.timed["t0"], self.timed["t1"]
        return [s["end"] - s["start"] for s in self.tracer.spans
                if s["name"] == name and s["start"] >= t0 and s["end"] <= t1]


# per-layer timings taken from spans: metric -> (span name, scale). The
# median over the span's timed-phase calls, else over its setup or probe
# calls (layers only a traced run's probe reaches)
SPAN_METRICS = {
    "csv.read_detected_ms": ("csv.read_detected", 1000),
    "pipeline.process_files_s": ("pipeline.process_files", 1),
    "warehouse.write_s": ("warehouse.write", 1),
    "warehouse.open_ms": ("warehouse.open", 1000),
    "atomic.upsert_s": ("atomic.upsert", 1),
    "status.append_ms": ("status.append", 1000),
    "status.merge_ms": ("status.merge", 1000),
    "status.lookup_plan_ms": ("status.lookup_plan", 1000),
    "status.lookup_action_ms": ("status.lookup_action", 1000),
    "views.register_ms": ("views.register", 1000),
    "analytics.report_action_ms": ("analytics.revenue_by_dims", 1000),
    "text.quality_s": ("text.quality_score", 1),
    "dedup.lsh_s": ("dedup.ngram_jaccard_pairs", 1),
    "dedup.components_s": ("dedup.connected_components", 1),
    "ingest.batch_ms": ("ingest.batch", 1000),
    "similarity.index_build_s": ("similarity.index_build", 1),
    "similarity.topk_action_ms": ("similarity.topk", 1000),
}


def per_layer_metrics(ctx: Context, rollups: dict) -> dict[str, float]:
    import harness
    tr = ctx.tracer
    out = {k: 0 for k in PER_LAYER}
    out.update(ctx.layer)
    for metric, (span, scale) in SPAN_METRICS.items():
        xs = ctx.timed_durations(span) or tr.durations(span)
        out[metric] = harness.median(xs) * scale
    out["pipeline.spark_jobs"] = rollups.get(
        "pipeline.process_files", {}).get("jobs", 0)
    out["status.lookup_tail_ms"] = harness.tail(ctx.samples.get("lookup_ms", []))[0]
    out["analytics.report_p50_ms"] = harness.median(ctx.samples.get("report_ms", []))
    out["cache.persisted_rdds"] = tr.persisted_max
    out["trace.timed_phase_s"] = ctx.timed["t1"] - ctx.timed["t0"]
    out["trace.spans"] = len(tr.spans)
    layers = harness.layer_rollups(rollups)
    for layer in STAGE_LAYERS:
        for m, _, field, scale in STAGE_METRICS:
            out[f"{layer}.{m}"] = layers.get(layer, {}).get(field, 0) * scale
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def main() -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the package must be importable from the checkout; fail before
    # creating or starting anything when it is not
    from airline_data_warehouse_spark.session import get_spark

    import harness
    import wl_curation
    import wl_warehouse

    workdir = os.path.abspath(os.path.join(
        ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    ctx = Context(args, workdir)
    ctx.checks = harness.Checks()
    t0 = time.perf_counter()
    spark = harness.start_spark(workdir, get_spark)
    ctx.layer["session.start_s"] = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer = harness.Tracer(spark, ctx.trace)
    run = {"warehouse": wl_warehouse.run, "curation": wl_curation.run}[args.workload]
    try:
        e2e = run(ctx)
        rollups = ctx.tracer.stage_rollups() if ctx.trace else {}
    except Exception:
        traceback.print_exc()
        harness.stop_spark(spark)
        return 2
    layer = per_layer_metrics(ctx, rollups) if ctx.trace else {}
    harness.stop_spark(spark)

    setup_s = ctx.timed["epoch0"] - t_start
    e2e = {"setup_s": (setup_s, "s"),
           "cpu_s": (ctx.timed["cpu1"] - ctx.timed["cpu0"], "s"),
           "peak_rss_mb": (ctx.timed["rss_mb"], "MB"),
           **e2e}
    if ctx.trace:
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]}
                   for k in END_TO_END}
    tails = {}
    for k, v in ctx.samples.items():
        value, pct = harness.tail(v)
        tails[k] = {"p50": harness.median(v), "tail": value,
                    "tail_percentile": pct, "n": len(v)}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "timed_phase_s": ctx.timed["t1"] - ctx.timed["t0"],
        "rss_by_process_mb": ctx.timed["rss_by_process"],
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "per_layer": layer, "samples": ctx.samples, "tails": tails,
        "checks": {"attempted": ctx.checks.attempted,
                   "failed": ctx.checks.failed,
                   "messages": ctx.checks.messages},
        "spans": ctx.tracer.spans, "self_time_s": ctx.tracer.self_times(),
        "stage_rollups": rollups, "manifest": ctx.manifest,
    }
    for d in os.listdir(workdir):    # keep the record, drop the data
        if d != "record.json":
            shutil.rmtree(os.path.join(workdir, d), ignore_errors=True)
    with open(os.path.join(workdir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    correct = ctx.checks.failed == 0
    print(json.dumps({"correct": correct, "attempted": ctx.checks.attempted,
                      "failed": ctx.checks.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
