"""Per-layer metrics of a traced run.

Sources, by layer:

- spans the benchmark records around its calls into the package
  (``tracing.install``): gold table builds, SCD2, storage writes,
  maintenance;
- counts taken between timed days (rows in and out of silver, SCD2
  versions, data files written) and around each ``Lakehouse.upsert``
  (rows in the files it wrote);
- the ``JobReport`` of each day's DAG;
- ``StreamingQueryProgress`` of each streaming query;
- Spark's event log, for task metrics.

A layer a workload leaves idle reports 0. The traced run also reports
its own end-to-end values as ``traced.<metric>``; their difference from
an untraced run of the same seed is the tracing overhead.
"""

from __future__ import annotations

import os

from measure import median, percentile
from tracing import (
    attribute,
    data_files,
    read_event_log,
    stage_metrics,
    top_level,
    totals,
)

GOLD_TABLES = ("dim_location", "dim_eater", "dim_merchant", "dim_courier", "trip_fact")
DIMS = ("dim_eater", "dim_merchant", "dim_courier")
SILVER = ("eater", "merchant", "courier", "trip_events")
JOB_TASKS = ("gold_dimensions_scd2", "optimize_gold_tables", "data_quality_validation")
TRACED = ("setup_s", "gold_day_s", "fresh_p50_s", "fresh_p95_s", "drain_s")


class NoHooks:
    """Untraced runs count nothing between days."""

    def before_day(self):
        return None

    def after_day(self, before, wave, report, t_silver):
        return {}


class LayerHooks(NoHooks):
    def __init__(self, ctx, lake):
        self.ctx = ctx
        self.lake = lake

    def _dim_counts(self) -> dict:
        """Dimension -> (rows, current rows)."""
        from pyspark.sql import functions as F

        return {d: tuple(self.lake.read(d).agg(
            F.count("*"), F.sum(F.col("is_current").cast("int"))).first()) for d in DIMS}

    def before_day(self):
        return {"files": data_files(self.lake.root), "dims": self._dim_counts(),
                "upserts": len(self.ctx.upserts)}

    def after_day(self, before, wave, report, t_silver):
        files = data_files(self.lake.root)
        new = [p for p in files if p not in before["files"]]
        dims = self._dim_counts()
        rows_in = sum(self.lake.read(f"bronze_{e}").count() for e in SILVER)
        rows_out = sum(self.lake.read(f"silver_{e}").count() for e in SILVER)
        opt = report.tasks["optimize_gold_tables"].value or []
        fact_upserts = [u for u in self.ctx.upserts[before["upserts"]:] if u["table"] == "trip_fact"]
        return {
            "silver.rows_in": rows_in,
            "silver.rows_out": rows_out,
            "silver.rows_dropped": rows_in - rows_out,
            "silver.s": t_silver,
            "scd2.rows_inserted": sum(dims[d][0] - before["dims"][d][0] for d in DIMS),
            "scd2.rows_expired": sum(
                (dims[d][0] - dims[d][1]) - (before["dims"][d][0] - before["dims"][d][1])
                for d in DIMS),
            "storage.files_written": len(new),
            "storage.bytes_written": sum(files[p] for p in new),
            "storage.trip_fact.rows_rewritten": sum(u["rows"] for u in fact_upserts),
            "storage.trip_fact.rows_changed": len(wave.trip_ids),
            "maintenance.files_before": sum(r.get("files_before", 0) for r in opt),
            "maintenance.files_after": sum(r.get("files_after", 0) for r in opt),
            **{f"jobs.{t}.s": report.tasks[t].seconds for t in JOB_TASKS},
        }


def _span_seconds(spans: list[dict], name: str, within=None, table=None) -> float:
    total = 0.0
    for s in top_level(spans, name):
        if table is not None and s.get("table") != table:
            continue
        if within is not None and not (within[0] <= s["start"] and s["end"] <= within[1]):
            continue
        total += s["end"] - s["start"]
    return total


def _gold_seconds(spans, table, within) -> float:
    """Wall time spent building one gold table: SCD2 for the dimensions,
    build + write for dim_location and trip_fact."""
    if table in DIMS:
        return _span_seconds(spans, "scd2.apply_scd2", within, table)
    build = "gold.build_dim_location" if table == "dim_location" else "gold.build_trip_fact"
    write = "storage.overwrite" if table == "dim_location" else "storage.upsert"
    return _span_seconds(spans, build, within, table) + _span_seconds(spans, write, within, table)


def _windows(ctx, name: str) -> list[tuple[float, float]]:
    return [(s["start"], s["end"]) for s in ctx.tracer.spans
            if s["name"] == name and s["end"] is not None]


def _zero(spec) -> dict:
    return {m["name"]: 0.0 for m in spec["per_layer"]}


def _daily(ctx, res, stages) -> dict:
    spans = ctx.tracer.spans
    days = _windows(ctx, "day")
    per_day = res["per_day"]
    rows = []
    for w, counts in zip(days, per_day):
        r = dict(counts)
        for t in GOLD_TABLES:
            r[f"gold.{t}.s"] = _gold_seconds(spans, t, w)
        r["storage.upsert.s"] = _span_seconds(spans, "storage.upsert", w)
        r["storage.overwrite.s"] = _span_seconds(spans, "storage.overwrite", w)
        r["maintenance.optimize.s"] = _span_seconds(spans, "maintenance.optimize_gold_tables", w)
        r["maintenance.validate.s"] = _span_seconds(spans, "maintenance.validate_gold", w)
        for f, v in totals(stages, *w).items():
            r[f"spark.{f}"] = v
        rows.append(r)
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    changed = out["storage.trip_fact.rows_changed"]
    out["storage.trip_fact.rewrite_amplification"] = (
        out["storage.trip_fact.rows_rewritten"] / changed if changed else 0.0)
    return out


def _stream(ctx, res, stages) -> dict:
    spans = ctx.tracer.spans
    st = res["stream"]
    window = st["window"]
    prog = st["progress"]
    out: dict = {}

    def durations(ps, key="triggerExecution"):
        return [p["durationMs"].get(key, 0) for p in ps if p.get("numInputRows", 0) > 0]

    silver_ps = prog["silver"]
    fact_ps = [p for p in prog["fact"] if p.get("numInputRows", 0) > 0]
    out["streaming.bronze.batch_ms_p50"] = median(durations(prog["bronze"]) or [0])
    out["streaming.silver.batch_ms_p50"] = median(durations(silver_ps) or [0])
    out["streaming.silver.batches"] = len(silver_ps)
    out["streaming.silver.empty_batch_share"] = (
        sum(1 for p in silver_ps if p.get("numInputRows", 0) == 0) / len(silver_ps)
        if silver_ps else 0.0)
    state = [op for p in silver_ps for op in (p.get("stateOperators") or [])]
    if state:
        last = state[-1]
        out["streaming.silver.state_rows"] = last.get("numRowsTotal", 0)
        out["streaming.silver.state_bytes"] = last.get("memoryUsedBytes", 0)
    fresh_silver = list(st["fresh_silver"].values())
    out["streaming.silver.fresh_p50_s"] = percentile(fresh_silver, 50) if fresh_silver else 0.0
    out["streaming.fact.batches"] = len(fact_ps)
    out["streaming.fact.batch_ms_p50"] = median(durations(fact_ps) or [0])
    out["streaming.fact.addBatch_ms_p50"] = median(durations(fact_ps, "addBatch") or [0])
    trips = st["trips_in_batch"]
    out["streaming.fact.trips_per_batch"] = median(trips) if trips else 0.0
    out["writer.late_ms_p50"] = percentile(st["late"], 50) * 1000
    out["writer.late_ms_max"] = max(st["late"]) * 1000

    out["silver.rows_in"] = st["silver_rows_in"]
    out["silver.rows_out"] = st["silver_rows_out"]
    out["silver.rows_dropped"] = st["silver_rows_in"] - st["silver_rows_out"]
    out["silver.s"] = sum(durations(silver_ps)) / 1000.0
    out["gold.trip_fact.s"] = _gold_seconds(spans, "trip_fact", window)
    out["storage.upsert.s"] = _span_seconds(spans, "storage.upsert", window)
    out["storage.overwrite.s"] = _span_seconds(spans, "storage.overwrite", window)
    fact_upserts = [u for u in ctx.upserts if window[0] <= u["end"] <= window[1]
                    and u["table"] == "trip_fact"]
    out["storage.files_written"] = sum(u["files"] for u in fact_upserts)
    out["storage.bytes_written"] = sum(u["bytes"] for u in fact_upserts)
    rewritten = sum(u["rows"] for u in fact_upserts)
    changed = sum(trips)
    out["storage.trip_fact.rows_rewritten"] = rewritten
    out["storage.trip_fact.rows_changed"] = changed
    out["storage.trip_fact.rewrite_amplification"] = rewritten / changed if changed else 0.0
    for f, v in totals(stages, *window).items():
        out[f"spark.{f}"] = v
    return out


def per_layer(ctx, res, spec) -> dict:
    log_dir = os.path.join(ctx.work, "eventlog")
    stages = stage_metrics(read_event_log(log_dir)) if os.path.isdir(log_dir) else []
    attribute(ctx.tracer.spans, stages)
    ctx.write_spans()
    values = _zero(spec)
    values.update(_daily(ctx, res, stages) if "per_day" in res else _stream(ctx, res, stages))
    for name in TRACED:
        values[f"traced.{name}"] = res["metrics"][name][0]
    values["traced.peak_rss_mb"] = res["metrics"]["peak_rss_mb"][0]
    values["trace.spans"] = len(ctx.tracer.spans)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    missing = set(values) - set(units)
    if missing:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(missing)}")
    return {k: (values[k], units[k]) for k in units}
