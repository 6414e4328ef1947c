"""``cdc_stream``: the CDC -> bronze -> silver -> trip_fact freshness path.

Set-up starts the continuous queries over a history file --
``streaming.pipeline.run_entity_pipeline`` for ``trip_events`` (bronze
and silver) and ``streaming.incremental_gold.start_incremental_trip_fact``
-- and waits until the history has reached ``trip_fact``.

A single-process open-loop writer then drops one CDC file every
``PERIOD_S`` seconds, ``RATE`` events a second, whatever the queries
do. Every envelope carries its due time as its Kafka and CDC stamp, so
an event's freshness counts from when it was due, including any wait a
stall imposed on it. The stream's first ``trip_fact`` batch warms the
queries up and is not scored; the scored window runs from its commit to
the first commit at least ``--seconds`` later, when the writer sends the
drain probe. The low-volume entity topics stay out: more concurrent
queries on a few cores would measure the scheduler.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from freshness import (
    batch_started_before,
    commit_times,
    freshness,
    normalize,
    parse_ts,
    source_log,
)
from inputs import (
    CdcGenerator,
    render,
    restamp,
    stream_base_ms,
    write_records,
    write_text,
)
from measure import median, percentile, require_percentile

HISTORY_TRIPS = 300
WAVE_TRIPS = 1000  # trips the generator draws at a time
RATE = 1600  # events per second the writer sends
PERIOD_S = 1.0  # one file per period
EXTEND_S = 60.0  # longest the stream runs past --seconds waiting for fact commits
POLL_S = 0.02


class StreamLake:
    """Where the stream's inputs, tables and checkpoints live."""

    def __init__(self, spark, root: str):
        from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

        self.root = root
        self.src = os.path.join(root, "cdc", "trip_events")
        self.entities = os.path.join(root, "cdc", "entities")
        self.staging = os.path.join(root, "staging")
        self.out = os.path.join(root, "stream")
        self.silver_path = os.path.join(self.out, "silver_trip_events")
        self.ck_fact = os.path.join(root, "_ck_trip_fact")
        self.lake = Lakehouse(spark, os.path.join(root, "lake"))


def _entity_silver(spark, sl: StreamLake, wave) -> dict:
    """Static eater/merchant silver and dim_location from the history."""
    from ubeardw_databricks_lakehouse_spark.pipelines.gold import build_dim_location
    from ubeardw_databricks_lakehouse_spark.pipelines.silver import SILVER_BUILDERS
    from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
    from ubeardw_databricks_lakehouse_spark.streaming.pipeline import RAW_STREAM_SCHEMA

    lake = sl.lake

    def one(e: str):
        path = write_records(wave.records[e], sl.entities, f"{e}.jsonl", sl.staging)
        raw = spark.read.schema(RAW_STREAM_SCHEMA).json(path)
        lake.overwrite(f"silver_{e}", SILVER_BUILDERS[e](to_bronze(raw, e)))
        return lake.read(f"silver_{e}")

    # independent tables, loaded side by side: one after the other they
    # were the set-up's longest path, longer than the history's pass
    # through bronze and silver
    with ThreadPoolExecutor(max_workers=2) as pool:
        out = dict(zip(("eater", "merchant"), pool.map(one, ("eater", "merchant"))))
    lake.overwrite("dim_location", build_dim_location(out["eater"], out["merchant"]))
    out["dim_location"] = lake.read("dim_location")
    return out


def _start_queries(spark, sl: StreamLake, pending) -> dict:
    """Start bronze, silver and fact continuously over the history file
    and return once the history has reached ``trip_fact``. The fact
    query needs silver's schema and the static side, so it starts after
    silver has caught up and ``pending`` (the static side) is done."""
    from ubeardw_databricks_lakehouse_spark.streaming.incremental_gold import (
        start_incremental_trip_fact,
    )
    from ubeardw_databricks_lakehouse_spark.streaming.pipeline import run_entity_pipeline

    qs = run_entity_pipeline(spark, sl.src, "trip_events", sl.out, available_now=False)
    qs["bronze"].processAllAvailable()
    qs["silver"].processAllAvailable()
    statics = pending.result()
    schema = spark.read.parquet(sl.silver_path).schema
    stream = spark.readStream.schema(schema).parquet(sl.silver_path)
    qs["fact"] = start_incremental_trip_fact(
        spark, stream, sl.silver_path, statics["eater"], statics["merchant"],
        statics["dim_location"], sl.lake, sl.ck_fact, available_now=False,
    )
    qs["fact"].processAllAvailable()
    return qs, statics


def _ticks(gen: CdcGenerator, per_file: int):
    """Trip-event records of waves 1, 2, ... cut into files."""
    d, buf = 0, []
    while True:
        while len(buf) < per_file:
            d += 1
            w = gen.wave(d)
            buf.extend((r, w) for r in w.records["trip_events"])
        chunk, buf = buf[:per_file], buf[per_file:]
        yield chunk


def _last_commit(q) -> float | None:
    """Commit time of ``q``'s latest batch, if its latest progress report
    is of a batch that read input rows (an idle report ran no batch)."""
    p = q.lastProgress
    if not p or p.get("numInputRows", 0) <= 0:
        return None
    return parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def _raise_if_failed(ops, qs: dict) -> None:
    for name, q in qs.items():
        err = q.exception()
        if err is not None:
            ops.record("micro_batches", False, f"{name} query failed: {err}")
            raise RuntimeError(f"{name} query failed: {err}")


def run(ctx) -> dict:
    spark, ops, tracer = ctx.spark, ctx.ops, ctx.tracer

    # -- set-up: history into silver and trip_fact -------------------------
    t0 = time.perf_counter()
    sl = StreamLake(spark, os.path.join(ctx.work, "stream"))
    gen = CdcGenerator(ctx.seed, HISTORY_TRIPS, WAVE_TRIPS)
    wave0 = gen.wave(0)
    with tracer.span("history"):
        # the static side and the history stream are independent: load
        # them side by side, then fold the history into trip_fact
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending = pool.submit(_entity_silver, spark, sl, wave0)
            write_records(wave0.records["trip_events"], sl.src, "history.jsonl", sl.staging)
            qs, statics = _start_queries(spark, sl, pending)
    _raise_if_failed(ops, qs)
    history_s = time.perf_counter() - t0
    sent_events = set(wave0.valid_event_ids)

    # -- open-loop writer --------------------------------------------------
    per_file = max(1, round(RATE * PERIOD_S))
    vbase = stream_base_ms(HISTORY_TRIPS)
    ticks = _ticks(gen, per_file)
    stamp_of: dict[int, int] = {}  # kafka offset -> stamp of its first send
    due_ms: dict[int, int] = {}  # event_id -> due time, ms after the start
    file_of: dict[int, int] = {}  # event_id -> writer file index

    def next_file(i: int) -> str:
        """File ``i``, rendered before its due time."""
        recs = []
        for rec, wave in next(ticks):
            stamp = stamp_of.setdefault(rec["kafka_offset"], vbase + int(i * PERIOD_S * 1000))
            recs.append(restamp(rec, stamp))
            eid = _event_id(rec)
            if eid is not None and eid in wave.valid_event_ids and eid not in file_of:
                due_ms[eid] = stamp - vbase
                file_of[eid] = i
        return render(recs)

    late, written_at = [], []
    start = time.time() + 0.5
    # The scored window opens at the commit of the stream's first fact
    # batch (that cold batch is the warm-up) and closes at the first
    # commit at least --seconds later, when the drain probe goes out at
    # once. Both ends fall on fact commits, so the scored events span
    # whole fact cycles and the drain starts at the same point of a
    # cycle every run, wherever the schedule happens to cut the cycles.
    scored_from = window_end = probe = None
    seen = _last_commit(qs["fact"])
    with tracer.span("stream"):
        for i in range(int((ctx.seconds + EXTEND_S) / PERIOD_S)):
            text = next_file(i)
            due = start + i * PERIOD_S
            while True:
                commit = _last_commit(qs["fact"])
                if commit is not None and commit != seen and commit > start:
                    seen = commit
                    if scored_from is None:
                        scored_from, window_end = commit, commit + ctx.seconds
                    elif commit >= window_end:
                        probe = i
                        break
                now = time.time()
                if now >= due:
                    break
                time.sleep(min(POLL_S, due - now))
            write_text(text, sl.src, f"tick-{i:06d}.jsonl", sl.staging)
            written_at.append(time.time())
            if probe is not None:
                break
            late.append(written_at[-1] - due)
            if i % 8 == 0:
                _raise_if_failed(ops, qs)
        else:
            raise RuntimeError(f"the fact commits did not close the window within {EXTEND_S}s")
        t_last = written_at[-1]
        # drain in pipeline order, so each query sees its input complete
        with tracer.span("drain"):
            for name in ("bronze", "silver", "fact"):
                qs[name].processAllAvailable()
        drained_at = time.time()
    _raise_if_failed(ops, qs)
    t_drained = time.perf_counter()
    progress = {name: q.recentProgress for name, q in qs.items()}
    for q in (qs["fact"], qs["silver"], qs["bronze"]):
        q.stop()
    for ps in progress.values():
        for p in ps:
            if "addBatch" in p["durationMs"]:  # idle reports ran no batch
                ops.record("micro_batches", True)
    # the scored window: batches triggered after the warm-up batch
    window = {name: [p for p in ps if parse_ts(p["timestamp"]) >= scored_from - 0.01]
              for name, ps in progress.items()}
    created = {e: start + ms / 1000.0 for e, ms in due_ms.items()}
    sent_events |= set(created)
    scored_ids = {e for e, t in created.items() if t >= scored_from and file_of[e] != probe}

    # -- freshness ---------------------------------------------------------
    from pyspark.sql import functions as F

    silver = spark.read.parquet(sl.silver_path)
    rows = silver.select("event_id", "trip_id", "silver_load_time",
                         F.input_file_name().alias("f")).collect()
    fact_files = source_log(sl.ck_fact)
    fact_commits = commit_times(progress["fact"])
    silver_commits = commit_times(progress["silver"])
    silver_batch_at = batch_started_before(progress["silver"])
    fact_batch, silver_batch, trips_in_batch = {}, {}, {}
    silver_out = 0
    for r in rows:
        if r.event_id in created:
            b = fact_files.get(normalize(r.f))
            fact_batch[r.event_id] = b
            trips_in_batch.setdefault(b, set()).add(r.trip_id)
            loaded = r.silver_load_time.timestamp()
            silver_batch[r.event_id] = silver_batch_at(loaded)
            silver_out += loaded >= scored_from
    fresh_fact = freshness(created, fact_batch, fact_commits)
    fresh_silver = freshness({e: created[e] for e in scored_ids}, silver_batch, silver_commits)
    if not ops.check("every sent event reached trip_fact", len(fresh_fact) == len(created),
                     f"{len(fresh_fact)} of {len(created)}"):
        raise RuntimeError("events sent but never committed to trip_fact")
    scored = [fresh_fact[e] for e in scored_ids]
    last_commit = max(fact_commits[fact_batch[e]] for e in created if file_of[e] == probe)

    # -- correctness -------------------------------------------------------
    from ubeardw_databricks_lakehouse_spark.pipelines.gold import build_trip_fact

    t_fresh = time.perf_counter()

    n_silver = len(rows)
    n_unique = len({r.event_id for r in rows})
    ops.check("silver rows == unique events sent (exactly once)",
              n_silver == len(sent_events) == n_unique,
              f"rows {n_silver}, distinct {n_unique}, sent {len(sent_events)}")
    fact = sl.lake.read("trip_fact")
    batch = build_trip_fact(silver, statics["eater"], statics["merchant"], statics["dim_location"])
    batch = batch.select(fact.columns)
    diff = fact.exceptAll(batch).unionByName(batch.exceptAll(fact)).count()
    ops.check("incremental trip_fact == build_trip_fact(final silver)", diff == 0,
              f"{diff} differing rows")

    fact_ps = [p for p in window["fact"] if p.get("numInputRows", 0) > 0]
    metrics = {
        "setup_s": (ctx.session_s + history_s, "s"),
        "gold_day_s": (median([p["durationMs"]["triggerExecution"] / 1000.0 for p in fact_ps]),
                       "s"),
        "fresh_p50_s": (require_percentile(scored, 50, "fresh"), "s"),
        "fresh_p95_s": (require_percentile(scored, 95, "fresh"), "s"),
        "drain_s": (last_commit - t_last, "s"),
    }
    info = {
        "rate_eps": RATE, "period_s": PERIOD_S, "files": len(written_at),
        "events_scored": len(scored), "fact_batches": len(fact_ps),
        "writer_late_p50_ms": round(percentile(late, 50) * 1000, 2),
        "writer_late_max_ms": round(max(late) * 1000, 2),
        "drained_after_s": round(drained_at - t_last, 3),
        "scored_from_s": round(scored_from - start, 3),
        "window_end_s": round(window_end - start, 3), "probe_s": round(t_last - start, 3),
        "fact_cycle_s": [
            [int(p["batchId"]), round(parse_ts(p["timestamp"]) - start, 2),
             p["durationMs"]["triggerExecution"] / 1000.0, p.get("numInputRows", 0)]
            for p in progress["fact"] if p.get("numInputRows", 0) > 0],
        "session_s": round(ctx.session_s, 3), "history_s": round(history_s, 3),
        "freshness_s": round(t_fresh - t_drained, 3),
        "checks_s": round(time.perf_counter() - t_fresh, 3),
    }
    stream = {
        "window": (scored_from, drained_at), "progress": window,
        "fresh_silver": fresh_silver, "late": late,
        "trips_in_batch": [len(trips_in_batch.get(int(p["batchId"]), ())) for p in fact_ps],
        "silver_rows_in": sum(p.get("numInputRows", 0) for p in window["silver"]),
        "silver_rows_out": silver_out,
    }
    return {"metrics": metrics, "info": info, "stream": stream}


def _event_id(rec: dict) -> int | None:
    import json

    try:
        env = json.loads(rec["raw_value"])
        return json.loads(env["payload"]["after"]).get("event_id")
    except (json.JSONDecodeError, KeyError, TypeError):
        return None
