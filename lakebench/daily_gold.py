"""``daily_gold``: the reference's 02:00 batch, one simulated day at a time.

Set-up loads the history as day 0. Each timed day lands that day's CDC
wave in bronze, rebuilds silver from bronze, and runs the daily DAG
(``gold_batch_job``: gold build -> optimize -> validate) through
``jobs.runner.run_job`` on the same lake. Write-heavy: sources,
silver, expectations, SCD2, gold, storage MERGE/overwrite, maintenance
and the job runner all work; the query operators sit idle.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

from inputs import ENTITIES, ENTITY_KEYS, CdcGenerator, write_wave
from measure import median

HISTORY_TRIPS = 1500
WAVE_TRIPS = 300
MIN_DAYS = 1
DAG_TASKS = ("gold_dimensions_scd2", "optimize_gold_tables", "data_quality_validation")
DIMS = ("dim_eater", "dim_merchant", "dim_courier")


def effective_ts(day: int) -> str:
    return (datetime(2024, 12, 2, 2) + timedelta(days=day)).strftime("%Y-%m-%d %H:%M:%S")


class DailyLake:
    """A lake fed one CDC wave at a time, by the package's batch path."""

    def __init__(self, spark, root: str):
        from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

        self.spark = spark
        self.root = root
        self.cdc = os.path.join(root, "cdc")
        self.staging = os.path.join(root, "staging")
        self.lake = Lakehouse(spark, os.path.join(root, "lake"))

    def write(self, wave) -> None:
        write_wave(wave, self.cdc, self.staging)

    def land_and_silver(self, wave) -> None:
        """Append the wave's envelopes to bronze, then rebuild silver
        from all of bronze (latest row per key, expectations applied)."""
        from ubeardw_databricks_lakehouse_spark.pipelines.silver import SILVER_BUILDERS
        from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
        from ubeardw_databricks_lakehouse_spark.streaming.pipeline import RAW_STREAM_SCHEMA

        def one(entity: str) -> None:
            path = os.path.join(self.cdc, entity, f"wave-{wave.index:05d}.jsonl")
            if os.path.exists(path):
                raw = self.spark.read.schema(RAW_STREAM_SCHEMA).json(path)
                self.lake.append(f"bronze_{entity}", to_bronze(raw, entity))
            silver = SILVER_BUILDERS[entity](self.lake.read(f"bronze_{entity}"))
            self.lake.overwrite(f"silver_{entity}", silver)

        # the entity pipelines are independent tables, run side by side
        # as the reference's four DLT tables are
        with ThreadPoolExecutor(max_workers=len(ENTITIES)) as pool:
            for f in [pool.submit(one, e) for e in ENTITIES]:
                f.result()

    def silver_frames(self) -> dict:
        return {e: self.lake.read(f"silver_{e}") for e in ENTITIES}

    def run_dag(self, day: int):
        from ubeardw_databricks_lakehouse_spark.jobs.runner import gold_batch_job, run_job

        return run_job(gold_batch_job(self.lake, self.silver_frames(), effective_ts(day)))


def account_dag(ops, report) -> None:
    """Count each DAG task; a failed task is an error the run raises."""
    for name in DAG_TASKS:
        r = report.tasks.get(name)
        ops.record("dag_tasks", r is not None and r.status == "success",
                   f"{name}: {r.status if r else 'missing'} {r.error if r else ''}")
    if not report.succeeded:
        raise RuntimeError(f"gold DAG failed: { {k: v.error for k, v in report.tasks.items()} }")


def load_history(spark, root: str, seed: int, ops, tracer):
    """Day 0: generate inputs and load them into a fresh lake."""
    gen = CdcGenerator(seed, HISTORY_TRIPS, WAVE_TRIPS)
    daily = DailyLake(spark, root)
    wave = gen.wave(0)
    daily.write(wave)
    with tracer.span("history"):
        daily.land_and_silver(wave)
        report = daily.run_dag(0)
    account_dag(ops, report)
    return gen, daily, wave


def run(ctx) -> dict:
    spark, ops, tracer = ctx.spark, ctx.ops, ctx.tracer

    # -- set-up: the history load, which also warms the JIT ---------------
    t0 = time.perf_counter()
    gen, daily, wave0 = load_history(spark, os.path.join(ctx.work, "daily"), ctx.seed, ops, tracer)
    history_s = time.perf_counter() - t0

    landed_events = set(wave0.valid_event_ids)
    landed_trips = set(wave0.trip_ids)
    hooks = ctx.layer_hooks(daily.lake)

    # -- timed days --------------------------------------------------------
    days, fresh, per_day = [], [], []
    t_end = time.perf_counter() + ctx.seconds
    day = 0
    # no day starts that would not end within the window
    while day < MIN_DAYS or time.perf_counter() + days[-1] <= t_end:
        day += 1
        wave = gen.wave(day)
        daily.write(wave)
        before = hooks.before_day()
        with tracer.span("day", day=day):
            t0 = time.perf_counter()
            with tracer.span("silver"):
                daily.land_and_silver(wave)
            t_silver = time.perf_counter() - t0
            with tracer.span("jobs.run_job"):
                report = daily.run_dag(day)
            t_day = time.perf_counter() - t0
        account_dag(ops, report)
        status = report.tasks["data_quality_validation"].value["status"]
        ops.check(f"validate_gold day {day}", status == "PASS", status)
        landed_events |= wave.valid_event_ids
        landed_trips |= wave.trip_ids
        days.append(t_day)
        # every event of the wave waits from landing to the trip_fact
        # MERGE at the end of the gold build task: one sample per day
        fresh.append(t_silver + report.tasks["gold_dimensions_scd2"].seconds)
        per_day.append(hooks.after_day(before, wave, report, t_silver))

    # -- correctness -------------------------------------------------------
    from pyspark.sql import functions as F

    lake = daily.lake
    trips = {r.trip_id for r in lake.read("trip_fact").select("trip_id").collect()}
    ops.check("trip_fact rows == distinct generated trips", trips == landed_trips,
              f"{len(trips)} vs {len(landed_trips)}")
    n_silver = lake.read("silver_trip_events").count()
    ops.check("silver_trip_events rows == unique valid events", n_silver == len(landed_events),
              f"{n_silver} vs {len(landed_events)}")
    for dim, entity in zip(DIMS, ENTITY_KEYS):
        total, current = lake.read(dim).agg(
            F.count("*"), F.sum(F.col("is_current").cast("int"))).first()
        ops.check(f"{dim} current rows == entities", current == len(gen.entities[entity]),
                  f"{current} vs {len(gen.entities[entity])}")
        ops.check(f"{dim} versions == snapshot + injected updates",
                  total == gen.versions[entity], f"{total} vs {gen.versions[entity]}")

    metrics = {
        "setup_s": (ctx.session_s + history_s, "s"),
        "gold_day_s": (median(days), "s"),
        # all events of a day share its one value, so p95 == p50 here
        "fresh_p50_s": (median(fresh), "s"),
        "fresh_p95_s": (median(fresh), "s"),
        "drain_s": (fresh[-1], "s"),
    }
    info = {"days": len(days), "day_s": [round(d, 3) for d in days],
            "session_s": round(ctx.session_s, 3), "history_s": round(history_s, 3),
            "fresh_s": [round(f, 3) for f in fresh]}
    return {"metrics": metrics, "info": info, "per_day": per_day}
