"""Seeded CDC load generator.

Everything the benchmark feeds the lakehouse is made here, from the
``--seed`` alone: the history (day 0), each day's CDC wave, and the
envelope files. The same seed gives byte-identical files.

A wave is new trips, late events for trips of the previous wave (the
last lifecycle event of a share of trips is held back one wave),
entity updates that force new SCD2 versions, and a fixed share of
re-delivered and malformed envelopes. Trip events are built on
``testing.generator.generate``, entity updates on ``with_updates``.

Files are JSON lines in the Kafka-record shape that
``streaming.pipeline.file_cdc_stream`` reads. Each is written to a
staging directory and renamed into place, so a reader never sees a
partial file.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

from ubeardw_databricks_lakehouse_spark.testing.fixtures import debezium_envelope
from ubeardw_databricks_lakehouse_spark.testing.generator import (
    BASE_MS,
    VEHICLES,
    generate,
    with_updates,
)

ENTITY_KEYS = {"eater": "eater_id", "merchant": "merchant_id", "courier": "courier_id"}
ENTITIES = ("eater", "merchant", "courier", "trip_events")
TRIP_MS = 60_000  # generate() spaces trips one minute apart


# entity counts and per-wave shares, the same in every workload
N_EATERS, N_MERCHANTS, N_COURIERS = 400, 80, 200
UPDATE_SHARE = 0.05  # entities updated per wave
LATE_SHARE = 0.10  # trips whose last event arrives a wave late
DUP_SHARE = 0.01  # envelopes delivered twice
BAD_SHARE = 0.005  # malformed envelopes, each kind


@dataclass
class Wave:
    """One batch of CDC, per entity: envelope records plus the truth
    the correctness checks need."""

    index: int
    records: dict[str, list[dict]] = field(default_factory=dict)
    valid_event_ids: set[int] = field(default_factory=set)
    trip_ids: set[str] = field(default_factory=set)
    updated: dict[str, int] = field(default_factory=dict)  # entity -> keys updated


def _iso(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def record(entity: str, key: str, envelope: str, offset: int, ts_ms: int) -> dict:
    """One Kafka-shaped record (the columns of ``RAW_STREAM_SCHEMA``)."""
    return {
        "kafka_key": key,
        "raw_value": envelope,
        "kafka_topic": f"ubear.public.{entity}",
        "kafka_partition": 0,
        "kafka_offset": offset,
        "kafka_timestamp": _iso(ts_ms),
    }


def _mutate_eater(row: dict, rng: random.Random) -> None:
    row["address_line_1"] = f"{row['eater_id']} Rue Nouvelle {rng.randrange(10**6)}"


def _mutate_merchant(row: dict, rng: random.Random) -> None:
    row["phone_number"] = f"+331{rng.randrange(10**8):08d}"


def _mutate_courier(row: dict, rng: random.Random) -> None:
    row["license_plate"] = f"ZZ-{rng.randrange(10**6):06d}"
    row["vehicle_type"] = rng.choice(VEHICLES)


MUTATORS = {"eater": _mutate_eater, "merchant": _mutate_merchant, "courier": _mutate_courier}


class CdcGenerator:
    """Deterministic stream of CDC waves for one seed.

    Wave 0 is the history: every entity snapshot plus
    ``history_trips`` trips. Wave ``d >= 1`` is one day of CDC.
    Waves must be drawn in order; ``wave(d)`` holds back late events
    for ``wave(d + 1)``.
    """

    def __init__(self, seed: int, history_trips: int, wave_trips: int):
        self.seed = seed
        self.wave_trips = wave_trips
        self._offset = 0
        self._held: list[dict] = []  # late events owed to the next wave
        self._next = 0
        base = generate(n_eaters=N_EATERS, n_merchants=N_MERCHANTS, n_couriers=N_COURIERS,
                        n_trips=history_trips, seed=seed)
        self.entities = {e: base[e] for e in ENTITY_KEYS}
        self._history_events = base["trip_events"]
        self.n_events = len(self._history_events)
        self.n_trips = history_trips
        self.versions = {e: len(rows) for e, rows in self.entities.items()}

    # -- trip events -------------------------------------------------------

    def _day_events(self, d: int) -> list[dict]:
        """``wave_trips`` fresh trips, renumbered after all earlier ones."""
        day = generate(n_eaters=N_EATERS, n_merchants=N_MERCHANTS, n_couriers=N_COURIERS,
                       n_trips=self.wave_trips, seed=self.seed * 1_000_003 + d)["trip_events"]
        trip_base = self.n_trips
        out = []
        for e in day:
            n = int(e["trip_id"].split("-")[1]) + trip_base
            shift = trip_base * TRIP_MS
            out.append(dict(
                e,
                event_id=e["event_id"] + self.n_events,
                trip_id=f"trip-{n:06d}",
                order_id=f"order-{n:06d}",
                event_time=e["event_time"] + shift,
                created_at=e["created_at"] + shift,
            ))
        self.n_events += len(day)
        self.n_trips += self.wave_trips
        return out

    def _hold_back(self, events: list[dict], rng: random.Random) -> list[dict]:
        """Move the last event of ``LATE_SHARE`` of the trips to the next wave."""
        by_trip: dict[str, list[dict]] = {}
        for e in events:
            by_trip.setdefault(e["trip_id"], []).append(e)
        multi = sorted(t for t, evs in by_trip.items() if len(evs) > 1)
        late = set(rng.sample(multi, int(len(multi) * LATE_SHARE)))
        held = [by_trip[t][-1] for t in sorted(late)]
        held_ids = {e["event_id"] for e in held}
        self._held = held
        return [e for e in events if e["event_id"] not in held_ids]

    # -- waves -------------------------------------------------------------

    def wave(self, d: int) -> Wave:
        """Draw wave ``d``."""
        if d != self._next:
            raise ValueError(f"waves are drawn in order: expected {self._next}, got {d}")
        self._next += 1
        rng = random.Random(self.seed * 7919 + d)
        w = Wave(index=d)
        late, self._held = self._held, []
        fresh = self._history_events if d == 0 else self._day_events(d)
        events = late + self._hold_back(fresh, rng)

        for entity, key in ENTITY_KEYS.items():
            rows = self.entities[entity]
            if d == 0:
                changed, op = rows, "r"
            else:
                n = max(1, int(len(rows) * UPDATE_SHARE))
                changed = with_updates(rows, n, MUTATORS[entity], seed=rng.randrange(2**31))
                by_id = {r[key]: r for r in changed}
                self.entities[entity] = [by_id.get(r[key], r) for r in rows]
                self.versions[entity] += len(changed)
                w.updated[entity] = len(changed)
                op = "u"
            w.records[entity] = [
                self._record(entity, str(r[key]), debezium_envelope(entity, r, op, r["updated_at"]),
                             r["updated_at"])
                for r in changed
            ]

        recs = []
        for e in events:
            recs.append(self._record(
                "trip_events", str(e["event_id"]),
                debezium_envelope("trip_events", e, "c", e["created_at"]), e["created_at"]))
            w.valid_event_ids.add(e["event_id"])
            w.trip_ids.add(e["trip_id"])
        recs.extend(self._noise(recs, rng))
        w.records["trip_events"] = recs
        return w

    def _record(self, entity: str, key: str, envelope: str, ts_ms: int) -> dict:
        self._offset += 1
        return record(entity, key, envelope, self._offset, ts_ms)

    def _noise(self, recs: list[dict], rng: random.Random) -> list[dict]:
        """Re-delivered copies and two kinds of malformed envelope."""
        if not recs:
            return []
        out = [dict(r) for r in rng.sample(recs, max(1, int(len(recs) * DUP_SHARE)))]
        n_bad = max(1, int(len(recs) * BAD_SHARE))
        for i in range(n_bad):
            src = rng.choice(recs)
            out.append(dict(src, raw_value="NOT JSON", kafka_offset=self._bump()))
            broken = json.loads(json.loads(src["raw_value"])["payload"]["after"])
            broken["trip_id"] = None
            broken["event_id"] = -1 - self._offset  # never collides with a real id
            stamp = json.loads(src["raw_value"])["payload"]["ts_ms"]
            out.append(dict(
                src, kafka_offset=self._bump(),
                raw_value=debezium_envelope("trip_events", broken, "c", stamp)))
        return out

    def _bump(self) -> int:
        self._offset += 1
        return self._offset


def render(records: list[dict]) -> str:
    """``records`` as JSON lines."""
    return "".join(json.dumps(r, sort_keys=True) + "\n" for r in records)


def write_text(text: str, directory: str, name: str, staging: str) -> str:
    """Write ``text`` to ``directory/name`` atomically: the file is
    complete before it appears under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, name)
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    final = os.path.join(directory, name)
    os.replace(tmp, final)
    return final


def write_records(records: list[dict], directory: str, name: str, staging: str) -> str:
    return write_text(render(records), directory, name, staging)


def write_wave(wave: Wave, root: str, staging: str) -> dict[str, str]:
    """One file per entity under ``root/<entity>/``; returns the dirs."""
    dirs = {}
    for entity, recs in wave.records.items():
        d = os.path.join(root, entity)
        if recs:
            write_records(recs, d, f"wave-{wave.index:05d}.jsonl", staging)
        dirs[entity] = d
    return dirs


def restamp(rec: dict, ts_ms: int) -> dict:
    """Copy of ``rec`` whose Kafka and CDC stamps read ``ts_ms``."""
    out = dict(rec, kafka_timestamp=_iso(ts_ms))
    try:
        env = json.loads(rec["raw_value"])
    except json.JSONDecodeError:
        return out  # a malformed envelope has no CDC stamp to move
    env["payload"]["ts_ms"] = ts_ms
    env["payload"]["source"]["ts_ms"] = ts_ms
    out["raw_value"] = json.dumps(env)
    return out


def stream_base_ms(history_trips: int) -> int:
    """CDC stamps of the stream start after every history event."""
    return BASE_MS + (history_trips + 10) * TRIP_MS + 24 * 3_600_000
