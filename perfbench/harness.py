"""Shared benchmark machinery: the Spark session lifecycle, spans with
Spark job groups and stage rollups, latency samples, output checks and
committed-file accounting.

Everything here measures the package from outside: it times calls into
the package's public functions and reads Spark's own status store; no
package code is changed or wrapped.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

# -- samples -----------------------------------------------------------------

PERCENTILES = (50, 75, 90, 95, 99)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest of PERCENTILES with at least 10 samples beyond it:
    (value, percentile). Falls back to the median (p50) when there are
    fewer than 20 samples, and reports that percentile as 50."""
    best = 50
    for p in PERCENTILES:
        if len(xs) * (100 - p) / 100 >= 10:
            best = p
    return (percentile(xs, best) if xs else 0.0), best


def schedule(per_10s: dict[str, int], seconds: int) -> dict[str, int]:
    """Operation counts for a run of ``seconds``: each workload states
    its counts per 10 s; every class runs at least once."""
    return {op: max(1, round(n * seconds / 10)) for op, n in per_10s.items()}


# -- output checks -----------------------------------------------------------

class Checks:
    """Counts the output checks made and those that found a wrong
    output (an operation that raises ends the run instead); keeps the
    first messages for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok


# -- committed data files ----------------------------------------------------

def _skip_dir(name: str) -> bool:
    """Directories that hold no committed table data: Spark's streaming
    sink log (``_spark_metadata``), hidden swap backups and in-flight
    writes (``.``), and the merge/upsert staging siblings. Checkpoints
    live outside the measured roots."""
    return name.startswith((".", "_")) or "staging" in name


def data_files(root: str) -> dict[str, int]:
    """path -> size of every committed data file under ``root``: files
    not hidden ('.'/'_' prefixes: _SUCCESS, .crc) in directories that
    are neither metadata, staging nor backups."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not _skip_dir(d)]
        for f in filenames:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class WriteLedger:
    """Bytes and files newly committed under a root between snapshots.
    A rewritten partition gets new file names, so it counts again."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen = data_files(root)
        self.files = 0
        self.bytes = 0

    def step(self) -> dict[str, int]:
        """Account everything committed since the last step; returns the
        step's new files (path -> size) plus, with size 0, the files it
        removed, so callers can see which directories it touched."""
        now = data_files(self.root)
        new = {p: s for p, s in now.items() if p not in self.seen}
        gone = {p: 0 for p in self.seen if p not in now}
        self.seen = now
        self.files += len(new)
        self.bytes += sum(new.values())
        return {**gone, **new}


def partition_dirs(changed: dict[str, int], column: str) -> set[str]:
    """The ``column=value`` directories a ledger step touched."""
    return {os.path.dirname(p) for p in changed
            if os.path.basename(os.path.dirname(p)).startswith(column + "=")}


# -- spans -------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer.

    Disabled, a span is a bare context manager. Enabled, each span
    records (name, start, end, parent) in memory and sets the Spark job
    group to its name, so every job it launches is attributed to it;
    streaming queries run their jobs under their run id, which
    ``bind_query`` maps to the enclosing span. ``stage_rollups`` reads
    Spark's status store once, at the end.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: dict[str, str] = {}   # job group -> span name
        self.persisted_max = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._groups[name] = name
        sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]["name"]
                sc.setJobGroup(parent, parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if not self._stack:   # after each top-level call
                self.persisted_max = max(
                    self.persisted_max,
                    sc._jsc.getPersistentRDDs().size())

    def bind_query(self, query) -> None:
        """Attribute a streaming query's jobs to the current span."""
        if self.enabled and self._stack:
            self._groups[str(query.runId)] = self._stack[-1]["name"]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its child spans
        cover (children of one span never overlap: one client thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) \
                    + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) \
                + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def stage_rollups(self) -> dict[str, dict]:
        """Per span name: executor CPU time, shuffle write bytes, spilled
        bytes, tasks and jobs, summed over the stages of every job that
        ran under a span of that name."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_group: dict[int, str] = {}
        jobs_per: dict[str, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in self._groups:
                continue
            name = self._groups[g.get()]
            jobs_per[name] = jobs_per.get(name, 0) + 1
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_group[int(ids.apply(k))] = name
        out: dict[str, dict] = {}
        for name, n in jobs_per.items():
            out.setdefault(name, _zero_rollup())["jobs"] += n
        gw = self.spark.sparkContext._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for sid, name in stage_group.items():
            try:
                attempts = store.stageData(sid, False, no_status, False,
                                           no_quantiles)
            except Exception:   # skipped stage: no data in the store
                continue
            r = out.setdefault(name, _zero_rollup())
            for a in range(attempts.size()):
                st = attempts.apply(a)
                r["executor_cpu_ns"] += st.executorCpuTime()
                r["shuffle_bytes"] += st.shuffleWriteBytes()
                r["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                r["tasks"] += st.numCompleteTasks()
        return out


def _zero_rollup() -> dict:
    # integers, so sums do not depend on the order stages are visited
    return {"executor_cpu_ns": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "tasks": 0, "jobs": 0}


def layer_rollups(by_span: dict[str, dict]) -> dict[str, dict]:
    """Span rollups summed per layer (span name up to the first '.')."""
    out: dict[str, dict] = {}
    for name, r in by_span.items():
        agg = out.setdefault(name.split(".")[0], _zero_rollup())
        for k, v in r.items():
            agg[k] += v
    return out


# -- session -----------------------------------------------------------------

def start_spark(workdir: str, get_spark):
    """The package's session on local[nproc], with Spark's scratch space
    and every JVM's temp files inside the run's work dir."""
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the launcher JVM and the driver JVM: temp dir inside the work dir,
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": local,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        # shuffle width ~2x cores, as session.py advises for deployments
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
