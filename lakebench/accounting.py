"""Operation accounting: attempted and failed, per kind.

An exception inside ``op`` is counted as a failure and re-raised, so
no error is ever swallowed. A failed ``check`` is counted and recorded
but does not stop the run; it makes the run incorrect.
"""

from __future__ import annotations

import contextlib
import sys
import traceback
from collections import Counter


class Ops:
    KINDS = ("dag_tasks", "micro_batches", "checks")

    def __init__(self):
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.errors: list[str] = []

    @contextlib.contextmanager
    def op(self, kind: str):
        self.attempted[kind] += 1
        try:
            yield
        except BaseException:
            self.failed[kind] += 1
            self.errors.append(f"{kind}: {traceback.format_exc()}")
            raise

    def record(self, kind: str, ok: bool, detail: str = "") -> None:
        """Count one operation whose outcome arrived as a value."""
        self.attempted[kind] += 1
        if not ok:
            self.failed[kind] += 1
            self.errors.append(f"{kind}: {detail}")

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.record("checks", bool(ok), f"{name}: {detail}")
        return bool(ok)

    @property
    def checks_failed(self) -> int:
        return self.failed["checks"]

    def summary(self) -> dict:
        return {
            k: {"attempted": self.attempted[k], "failed": self.failed[k]}
            for k in sorted(set(self.attempted) | set(self.KINDS))
        }

    def report_errors(self) -> None:
        for e in self.errors:
            print(e, file=sys.stderr)
