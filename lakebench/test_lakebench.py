"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

from accounting import Ops  # noqa: E402
from freshness import (  # noqa: E402
    batch_started_before,
    commit_times,
    freshness,
    normalize,
    source_log,
)
from inputs import CdcGenerator, restamp, write_wave  # noqa: E402
from measure import percentile, require_percentile, supported_percentile  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
HISTORY, WAVE = 40, 15  # trips


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _generate(seed: int, root: str, waves: int = 3) -> dict[str, bytes]:
    gen = CdcGenerator(seed, HISTORY, WAVE)
    for d in range(waves):
        write_wave(gen.wave(d), os.path.join(root, "cdc"), os.path.join(root, "staging"))
    return _files(os.path.join(root, "cdc"))


# -- generator ------------------------------------------------------------------

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    assert _generate(7, str(tmp_path / "a")) != _generate(8, str(tmp_path / "b"))


def test_staging_is_empty_after_writes(tmp_path):
    _generate(3, str(tmp_path))
    assert os.listdir(tmp_path / "staging") == []


def test_wave_truth_matches_records():
    gen = CdcGenerator(5, HISTORY, WAVE)
    w0, w1 = gen.wave(0), gen.wave(1)
    ids = set()
    for rec in w1.records["trip_events"]:
        try:
            after = json.loads(json.loads(rec["raw_value"])["payload"]["after"])
        except json.JSONDecodeError:
            continue  # a malformed envelope
        if after["trip_id"] is not None:
            ids.add(after["event_id"])
    assert ids == w1.valid_event_ids
    assert not (w0.valid_event_ids & w1.valid_event_ids)
    # late events of the history arrive in wave 1
    assert any(int(e.split("-")[1]) <= HISTORY for e in w1.trip_ids)
    # every update is counted as one more SCD2 version
    for entity, n in w1.updated.items():
        assert gen.versions[entity] == len(gen.entities[entity]) + n


def test_waves_are_drawn_in_order():
    gen = CdcGenerator(1, HISTORY, WAVE)
    with pytest.raises(ValueError):
        gen.wave(1)


def test_restamp_moves_both_stamps():
    rec = CdcGenerator(2, HISTORY, WAVE).wave(0).records["trip_events"][0]
    out = restamp(rec, 1_700_000_000_123)
    assert out["kafka_timestamp"] == "2023-11-14T22:13:20.123Z"
    assert json.loads(out["raw_value"])["payload"]["ts_ms"] == 1_700_000_000_123
    assert restamp(dict(rec, raw_value="NOT JSON"), 5)["raw_value"] == "NOT JSON"


# -- percentile rule --------------------------------------------------------------

@pytest.mark.parametrize("n, p", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_highest_percentile_with_ten_samples_beyond(n, p):
    assert supported_percentile(n) == p


def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 95) == 95
    assert percentile([3.0], 99) == 3.0


def test_unsupported_tail_is_refused():
    with pytest.raises(ValueError):
        require_percentile(list(range(100)), 95, "x")
    assert require_percentile(list(range(200)), 95, "x") == 189


# -- freshness accounting ------------------------------------------------------------

def _progress(batch, start, dur_ms, rows):
    return {"batchId": batch, "timestamp": start, "numInputRows": rows,
            "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10}}


PROGRESS = [
    _progress(0, "2026-01-01T00:00:00.000Z", 2000, 10),
    _progress(1, "2026-01-01T00:00:02.000Z", 500, 0),  # an empty batch
    _progress(2, "2026-01-01T00:00:02.500Z", 3000, 5),
]
T0 = 1767225600.0  # 2026-01-01T00:00:00Z


def test_commit_is_trigger_start_plus_duration():
    assert commit_times(PROGRESS) == {0: T0 + 2.0, 2: T0 + 5.5}


def test_row_stamp_maps_to_its_batch():
    batch_at = batch_started_before(PROGRESS)
    assert batch_at(T0 + 0.0004) == 0
    assert batch_at(T0 + 2.2) == 0  # batch 1 read nothing
    assert batch_at(T0 + 2.5) == 2
    assert batch_at(T0 - 1) is None


def test_freshness_counts_from_creation_to_commit():
    created = {"a": T0 - 1.0, "b": T0 + 1.0, "c": T0 + 1.5, "lost": T0}
    batch_of = {"a": 0, "b": 2, "c": 2, "lost": 9}
    fresh = freshness(created, batch_of, commit_times(PROGRESS))
    assert fresh == {"a": 3.0, "b": 4.5, "c": 4.0}


def test_source_log_reads_plain_and_compact_entries(tmp_path):
    d = tmp_path / "ck" / "sources" / "0"
    d.mkdir(parents=True)
    (d / "9.compact").write_text(
        'v1\n{"path":"file:///x/a.parquet","timestamp":1,"batchId":3}\n'
        '{"path":"file:///x/b.parquet","timestamp":1,"batchId":9}\n')
    (d / "10").write_text('v1\n{"path":"file:///x/c.parquet","timestamp":2,"batchId":10}\n')
    log = source_log(str(tmp_path / "ck"))
    assert log == {"x/a.parquet": 3, "x/b.parquet": 9, "x/c.parquet": 10}
    assert normalize("file:/x/a.parquet") == normalize("/x/a.parquet") == "x/a.parquet"


# -- accounting --------------------------------------------------------------------

def test_exceptions_are_counted_and_reraised():
    ops = Ops()
    with pytest.raises(KeyError):
        with ops.op("micro_batches"):
            raise KeyError("boom")
    with ops.op("micro_batches"):
        pass
    ops.check("ok", True)
    ops.check("bad", False, "detail")
    assert ops.attempted == {"micro_batches": 2, "checks": 2}
    assert ops.failed == {"micro_batches": 1, "checks": 1}
    assert any("boom" in e for e in ops.errors)


# -- BENCHMARK.json -------------------------------------------------------------------

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_and_units_are_valid_and_unique():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    for key in ("end_to_end", "per_layer"):
        names += [m["name"] for m in spec[key]]
        for m in spec[key]:
            assert NAME_RE.match(m["name"]), m["name"]
            assert UNIT_RE.match(m["unit"]), m["unit"]
            assert m["better"] in ("higher", "lower")
    assert len(names) == len(set(names))


def test_benchmark_contract_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60


def test_name_rule_rejects_invalid_names():
    assert not NAME_RE.match("_x")
    assert not NAME_RE.match("a" * 65)
    assert not NAME_RE.match("has space")
    assert not UNIT_RE.match("")
    assert UNIT_RE.match("1/s")
