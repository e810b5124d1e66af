"""Ad-hoc perf probe: time registry queries (or experimental variants)
at a given SF with warm JVM, N runs, median — the bench.py measurement
protocol without the full headline sweep. Usage:

    python tools/perf_probe.py sf0.1 name [name ...]
    python tools/perf_probe.py --stages sf0.1 name [name ...]

--stages additionally pulls per-stage metrics for the measured run from
the Spark UI REST API (executor run time, input/shuffle bytes, task
count), sorted by run time — so optimization targets STAGES, not query
totals (VERDICT r05 item 7). Output feeds the PLANS.md breakdown table.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_metrics(spark, since_ms: float) -> list[dict]:
    """Completed stages submitted after ``since_ms``, via the UI REST API
    (the AppStatusStore the UI itself reads — no listener plumbing)."""
    import json
    import urllib.request
    base = spark.sparkContext.uiWebUrl
    if not base:
        return []
    with urllib.request.urlopen(f"{base}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    from datetime import datetime, timezone
    out = []
    for s in stages:
        sub = s.get("submissionTime")
        if not sub:
            continue
        t = datetime.strptime(sub, "%Y-%m-%dT%H:%M:%S.%f%Z") \
            .replace(tzinfo=timezone.utc).timestamp() * 1000
        if t < since_ms:
            continue
        out.append({
            "stage": s["stageId"],
            "run_ms": s.get("executorRunTime", 0),
            "tasks": s.get("numCompleteTasks", 0),
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "shuffle_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "shuffle_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "desc": (s.get("description") or s.get("name", ""))[:90],
        })
    return sorted(out, key=lambda d: -d["run_ms"])


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--stages"]
    want_stages = "--stages" in sys.argv
    sf = argv[0] if argv else "sf0.1"
    names = argv[1:]
    sf_dir = f"/root/testdata/{sf}"
    from airline_data_warehouse_spark.operators.dedup import cache_scope
    from airline_data_warehouse_spark.plans.registry import all_queries
    from airline_data_warehouse_spark.session import get_spark

    spark = get_spark(app_name="perf-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    for name in names:
        # warm-up at tiny sf
        try:
            with cache_scope():
                registry[name].builder(spark, "/root/testdata/sf0.001") \
                    .write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {name}: {exc}")
        samples = []
        stage_rows: list[dict] = []
        for i in range(runs):
            t0 = time.time()
            with cache_scope():
                registry[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
            if want_stages and i == runs - 1:  # stages of the LAST (warmest) run
                stage_rows = _stage_metrics(spark, t0 * 1000)
        print(f"{name}: median={statistics.median(samples)} runs={samples}")
        if want_stages:
            for s in stage_rows[:8]:
                print(f"    stage {s['stage']:>4} {s['run_ms']:>7}ms "
                      f"{s['tasks']:>4}t in={s['input_mb']:>8}MB "
                      f"sr={s['shuffle_r_mb']:>7}MB sw={s['shuffle_w_mb']:>7}MB "
                      f" {s['desc']}")


if __name__ == "__main__":
    main()
