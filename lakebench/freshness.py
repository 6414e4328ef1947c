"""Freshness accounting over Structured Streaming progress.

An event is fresh in a table once the micro-batch that wrote it has
committed. A batch commits at the end of its trigger: the progress
``timestamp`` (trigger start) plus ``durationMs.triggerExecution``.
These functions take plain dicts, so a synthetic progress log tests
them without Spark.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
from datetime import datetime


def parse_ts(stamp: str) -> float:
    """Progress timestamp ('2024-01-01T00:00:00.123Z') -> epoch seconds."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def commit_times(progress: list[dict]) -> dict[int, float]:
    """batchId -> commit time of batches that read input rows."""
    out = {}
    for p in progress:
        if p.get("numInputRows", 0) <= 0:
            continue
        dur = (p.get("durationMs") or {}).get("triggerExecution", 0)
        out[int(p["batchId"])] = parse_ts(p["timestamp"]) + dur / 1000.0
    return out


def batch_started_before(progress: list[dict]):
    """A function mapping a time ``ts`` to the data batch with the latest
    trigger start at or before it: the batch whose ``current_timestamp()``
    stamped a row at ``ts``."""
    starts = sorted(
        (parse_ts(p["timestamp"]), int(p["batchId"]))
        for p in progress if p.get("numInputRows", 0) > 0
    )
    times = [s for s, _ in starts]

    def batch_at(ts: float) -> int | None:
        i = bisect.bisect_right(times, ts + 1e-3) - 1
        return starts[i][1] if i >= 0 else None

    return batch_at


def source_log(checkpoint: str) -> dict[str, int]:
    """File path -> batchId, from the checkpoint log of a query's one
    file source (plain and ``.compact`` entries alike)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith(".") or path.endswith(".tmp"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[normalize(entry["path"])] = int(entry["batchId"])
    return out


def normalize(path: str) -> str:
    return path[len("file:"):].lstrip("/") if path.startswith("file:") else path.lstrip("/")


def freshness(created: dict, batch_of: dict, commits: dict[int, float]) -> dict:
    """event -> seconds from creation to the commit of its batch.
    Events with no committed batch are absent from the result."""
    out = {}
    for ev, t0 in created.items():
        b = batch_of.get(ev)
        if b is not None and b in commits:
            out[ev] = commits[b] - t0
    return out
