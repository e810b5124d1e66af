"""Workload `warehouse`: the reference's warehouse day in one process.

Setup lands a seeded dirty CSV drop through ``pipeline.run_full_pipeline``
(the load, cold, as a fresh upload job runs it) and merges the first
status file (warm-up). The timed phase is one client in a closed loop
over a fixed seeded schedule: blocks of
``check_insurance`` lookups and BI reports, with one status file merged
through ``streaming.status`` (append sink, then the eligibility merge)
between blocks, so partitions are swapped under live reads. A traced run
then probes the layers ``run_full_pipeline`` hides, plus one incremental
drop through ``Warehouse.upsert_fact_incremental``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

from airline_data_warehouse_spark import analytics, pipeline, views
from airline_data_warehouse_spark.streaming import status as S
from airline_data_warehouse_spark.warehouse import Warehouse

import gen
import harness
from oracle import ReportOracle, revenue_matches

# base drop and per-op sizes; schedule counts are per 10 s of --seconds.
# INC_ROWS sizes the incremental drop the traced run's probe upserts.
N_TA, N_CO = 2000, 1000
INC_ROWS = 2000
STATUS_ROWS = 50
PER_10S = {"status": 3, "lookups": 18, "reports": 2}


def run(ctx) -> dict:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checks
    sched = harness.schedule(PER_10S, ctx.seconds)
    root = ctx.workdir
    inputs = gen.airline_inputs(
        os.path.join(root, "in"), ctx.seed, N_TA, N_CO,
        n_inc=1, inc_rows=INC_ROWS,
        n_status=1 + sched["status"], status_rows=STATUS_ROWS)
    wh_root = os.path.join(root, "wh")
    wh = Warehouse(wh_root)
    fact_path = wh.path("fact_sales")
    status_path = wh.path("flight_status_updates")
    landing = os.path.join(root, "status_landing")
    os.makedirs(landing)
    rng = random.Random(ctx.seed * 7919 + 1)
    ledger = harness.WriteLedger(wh_root)
    in_bytes = sum(os.path.getsize(os.path.join(inputs.drop_dir, f))
                   for f in os.listdir(inputs.drop_dir))

    # the expected warehouse; version counts every change to it
    state = {"fact": inputs.fact_after_load, "applied": [], "version": 0}
    eligible: list[list[str]] = []   # expected eligible flights per batch
    ctx.manifest = {
        "files": {n: {"total": t.total, "clean": t.clean, "dirty": t.dirty,
                      "reasons": dict(t.reasons)}
                  for n, t in inputs.files.items()},
        "cross_file_duplicates": inputs.cross_file_dups,
        "eligible_flights_after_status_batch": eligible}

    # -- setup: the load, as a fresh process landing a drop ---------------
    t0 = time.perf_counter()
    with tr.span("pipeline.run_full_pipeline"):
        res = pipeline.run_full_pipeline(spark, inputs.drop_dir, wh_root)
    load_s = time.perf_counter() - t0
    ledger.step()
    _check_base(ctx, inputs, res, wh)

    def status_batch(i: int) -> float:
        """Land one status file; run the append sink and the eligibility
        merge, one file per trigger, until both have committed."""
        t0 = time.perf_counter()
        with tr.span("request.status_batch"):
            shutil.copy(inputs.status_paths[i], landing)
            src = (spark.readStream.schema("key string, value string")
                   .option("maxFilesPerTrigger", 1).json(landing))
            parsed = S.parse_status_stream(src)
            with tr.span("status.append"):
                q = S.append_status_sink(parsed, status_path,
                                         os.path.join(root, "ck_append"))
                tr.bind_query(q)
                q.awaitTermination()
            with tr.span("status.merge"):
                q = S.start_eligibility_merge(parsed, fact_path,
                                              os.path.join(root, "ck_merge"))
                tr.bind_query(q)
                q.awaitTermination()
        dt = time.perf_counter() - t0
        batch = inputs.status_batches[i]
        state["applied"].append(batch)
        state["fact"] = inputs.fact_after_status(state["fact"], batch)
        state["version"] += 1
        state["latest"] = gen.latest_status(state["applied"])
        eligible.append(sorted({r["flight_key"] for r in state["fact"].values()
                                if r["is_eligible"]}))
        return dt

    def register() -> None:
        with tr.span("views.register"):
            tables = {n: wh.table(spark, n) for n in views.WAREHOUSE_TABLES}
            views.register_views(spark, tables)
        state["views_at"] = state["version"]

    oracles: dict[int, ReportOracle] = {}

    def oracle() -> ReportOracle:
        if state["version"] not in oracles:
            oracles[state["version"]] = ReportOracle(inputs, state["fact"])
        return oracles[state["version"]]

    pending: list[tuple] = []   # outputs, checked after the timed phase

    def lookup(fk: str) -> float:
        t0 = time.perf_counter()
        with tr.span("request.lookup"):
            with tr.span("warehouse.open"):
                table = wh.table(spark, "flight_status_updates")
            with tr.span("status.lookup_plan"):
                df = S.check_insurance(table, fk)
            with tr.span("status.lookup_action"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        pending.append(("lookup", fk, rows, state["latest"].get(fk)))
        return dt

    def report(j: int) -> float:
        """One BI report; the first after a merge re-registers the views
        (their file listings predate the swap), as an API handler must."""
        t0 = time.perf_counter()
        with tr.span("request.report"):
            if state.get("views_at") != state["version"]:
                register()
            if j % 2 == 0:
                with tr.span("analytics.revenue_by_dims"):
                    rows = analytics.revenue_by_dims(
                        spark.table("v_airline_analytics")).collect()
                check = ("revenue", rows)
            else:
                month = rng.randrange(24)
                y, m = 2023 + month // 12, month % 12 + 1
                lo, hi = y * 10000 + m * 100 + 1, y * 10000 + m * 100 + 31
                with tr.span("warehouse.fact_sales_for_range"):
                    rows = (wh.fact_sales_for_range(spark, lo, hi)
                            .groupBy("sales_source")
                            .agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("total_amount").alias("revenue"))
                            .collect())
                check = ("slice", rows, lo, hi)
        dt = time.perf_counter() - t0
        pending.append((*check[:2], oracle(), *check[2:]))
        return dt

    def reads(n_lookups: int, n_reports: int, lookups: list, reps: list):
        ops = ["l"] * n_lookups + ["r"] * n_reports
        rng.shuffle(ops)
        for op in ops:
            if op == "l":
                lookups.append(lookup(rng.choice(inputs.flights)))
            else:
                reps.append(report(len(reps)))

    # -- setup: status history (the status path's warm-up). The first
    #    lookup and report of the timed phase run cold, to fit the run
    #    budget: medians absorb the one cold lookup, and reports are a
    #    per-layer number.
    status_batch(0)
    ledger.step()
    in_bytes += os.path.getsize(inputs.status_paths[0])

    # -- timed phase: closed loop, one client; read blocks between the
    #    status merges ---------------------------------------------------
    ctx.begin_timed()
    lookups, reps, batches = [], [], []
    blocks = sched["status"] + 1
    for b in range(blocks):
        reads(_share(sched["lookups"], blocks, b),
              _share(sched["reports"], blocks, b), lookups, reps)
        if b == blocks - 1:
            break
        batches.append(status_batch(1 + b))
        in_bytes += os.path.getsize(inputs.status_paths[1 + b])
        ctx.layer["status.partitions_swapped"] += len(
            harness.partition_dirs(ledger.step(), "sale_year_month"))
    ctx.end_timed()

    # -- checks -------------------------------------------------------------
    _check_pending(ctx, pending)
    fact = wh.table(spark, "fact_sales")
    got = fact.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("total_amount").alias("s"),
                   F.countDistinct(F.when(F.col("is_eligible_insurance"),
                                          F.col("flight_key"))).alias("e")
                   ).collect()[0]
    want = state["fact"]
    chk.expect(got["n"] == len(want) and _cents(got["s"]) == _fact_cents(want),
               f"fact after merges: {got['n']} rows, sum {got['s']}")
    want_elig = {r["flight_key"] for r in want.values() if r["is_eligible"]}
    chk.expect(got["e"] == len(want_elig),
               f"eligible flights {got['e']} != {len(want_elig)}")
    for o in oracles.values():
        o.close()

    revenue_rows = next(p[1] for p in pending if p[0] == "revenue")
    ctx.layer["status.eligible_keys"] = got["e"]
    ctx.layer["analytics.rows_scanned_per_row_out"] = round(
        len(want) / len(revenue_rows), 6)
    ctx.layer["warehouse.files_written"] = ledger.files
    ctx.layer["warehouse.bytes_written"] = ledger.bytes
    ctx.samples["load_s"] = [load_s]
    ctx.samples["status_batch_ms"] = [x * 1000 for x in batches]
    ctx.samples["lookup_ms"] = [x * 1000 for x in lookups]
    ctx.samples["report_ms"] = [x * 1000 for x in reps]

    if ctx.trace:
        _probe_layers(ctx, inputs, res, wh, want)

    rows = sum(t.total for t in inputs.files.values())
    return {
        "rows_per_s": (rows / load_s, "rows/s"),
        "batch_p50_ms": (harness.median(ctx.samples["status_batch_ms"]), "ms"),
        "read_p50_ms": (harness.median(ctx.samples["lookup_ms"]), "ms"),
        "write_amp": (ledger.bytes / in_bytes, "bytes/byte"),
    }


def _share(n: int, k: int, i: int) -> int:
    """Block i's share when n operations are spread over k blocks."""
    return n // k + (1 if i < n % k else 0)


def _cents(x) -> int:
    return int(x * 100)


def _fact_cents(fact: dict) -> int:
    return sum(_cents(r["total_amount"]) for r in fact.values())


def _check_base(ctx, inputs: gen.AirlineInputs, res, wh: Warehouse) -> None:
    """Per-file clean/dirty counts and the quarantine reason histogram
    of the base drop against the manifest."""
    chk = ctx.checks
    for f in res.files:
        t = inputs.files.get(f.filename)
        chk.expect(t is not None and f.success and
                   (f.total_records, f.clean_records, f.dirty_records)
                   == (t.total, t.clean, t.dirty),
                   f"base drop {f.filename}: {f}")
    got = {(r["source_table"], r["error_reason"]): r["count"] for r in
           wh.table(ctx.spark, "dirty_data")
             .groupBy("source_table", "error_reason").count().collect()}
    want: dict[tuple, int] = {}
    for name, t in inputs.files.items():
        src = name.split(".")[0].rstrip("_0123456789")
        for reason, n in t.reasons.items():
            want[(src, reason)] = want.get((src, reason), 0) + n
    if inputs.cross_file_dups:
        want[("fact_sales", gen.REASON_XFILE)] = inputs.cross_file_dups
    chk.expect(got == want, f"quarantine histogram {got} != {want}")
    ctx.layer["etl.quarantined_rows"] = sum(got.values())
    ctx.layer["csv.detected_ratio"] = \
        sum(1 for f in res.files if f.file_type) / len(res.files)


def _check_pending(ctx, pending: list) -> None:
    chk = ctx.checks
    for p in pending:
        if p[0] == "lookup":
            _, fk, rows, want = p
            if want is None:
                chk.expect(rows == [], f"lookup {fk}: expected no status")
                continue
            ok = (len(rows) == 1
                  and rows[0]["delay_minutes"] == want["delay_minutes"]
                  and rows[0]["status"] == want["status"]
                  and rows[0]["is_eligible"]
                  == (want["delay_minutes"] > gen.INSURANCE_DELAY_MINUTES))
            chk.expect(ok, f"lookup {fk}: {rows} vs {want}")
        elif p[0] == "revenue":
            _, rows, o = p
            chk.expect(revenue_matches(rows, o.revenue_by_dims()),
                       "revenue_by_dims differs from DuckDB")
        else:
            _, rows, o, lo, hi = p
            got = {r["sales_source"]: (r["n"], int(r["revenue"] * 100))
                   for r in rows}
            chk.expect(got == o.fact_slice(lo, hi),
                       f"fact slice {lo}-{hi}: {got}")


def _probe_layers(ctx, inputs: gen.AirlineInputs, res, wh: Warehouse,
                  fact: dict) -> None:
    """Traced run only, after the timed phase and its checks: time the CSV
    detection that run_full_pipeline hides, per file of the drop, then
    land one incremental drop layer by layer (process_files, the
    quarantine append, the upsert into the fact) and check it."""
    from airline_data_warehouse_spark.sources.csv import read_detected

    spark, tr = ctx.spark, ctx.tracer
    for f in sorted(os.listdir(inputs.drop_dir)):
        with tr.span("csv.read_detected"):
            sig, raw = read_detected(spark, os.path.join(inputs.drop_dir, f))
            if raw is not None:
                raw.count()
    with tr.span("pipeline.process_files"):
        inc = pipeline.process_files(spark, [inputs.inc_paths[0]])
    with tr.span("warehouse.write"):
        if inc.quarantine is not None:
            wh.append_dirty(inc.quarantine)
    before = harness.WriteLedger(wh.path("fact_sales"))
    with tr.span("atomic.upsert"):
        wh.upsert_fact_incremental(spark, inc.tables["fact_sales"])
    changed = before.step()
    months = harness.partition_dirs(changed, "sale_year_month")
    ctx.layer["atomic.partitions_rewritten"] = len(months)
    ctx.layer["atomic.bytes_rewritten"] = sum(
        s for p, s in changed.items() if os.path.dirname(p) in months)
    f, t = inc.files[0], inputs.inc_truth[0]
    ctx.checks.expect((f.total_records, f.clean_records, f.dirty_records)
                      == (t.total, t.clean, t.dirty),
                      f"incremental drop counts {f}")
    want = {**fact, **inputs.inc_updates[0]}
    got = wh.table(spark, "fact_sales").agg(
        F.count(F.lit(1)).alias("n"), F.sum("total_amount").alias("s")
    ).collect()[0]
    ctx.checks.expect(got["n"] == len(want)
                      and _cents(got["s"]) == _fact_cents(want),
                      f"fact after upsert: {got['n']} rows, sum {got['s']}")
    ctx.layer["etl.clean_ratio"] = \
        (sum(r.clean_records for r in res.files) + f.clean_records) \
        / (sum(r.total_records for r in res.files) + f.total_records)
