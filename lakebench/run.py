#!/usr/bin/env python3
"""Lakehouse benchmark: one named workload, one seed, one JSON result.

    python3 lakebench/run.py --workload daily_gold --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Diagnostics go to standard error. Everything the run
writes stays under ``.lakebench_work/`` in the checkout and is removed
at the end. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ubeardw_databricks_lakehouse_spark"
WORKLOADS = ("daily_gold", "cdc_stream")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


class Context:
    """What a workload gets: the session, its seed and time budget,
    the accounting, the tracer and a private work directory."""

    def __init__(self, args, work: str):
        from accounting import Ops
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.ops = Ops()
        self.tracer = Tracer(self.trace, run_id=uuid.uuid4().hex[:12])
        self.spark = None
        self.session_s = 0.0
        self.upserts: list[dict] = []  # one record per traced Lakehouse.upsert

    def on_upsert(self, table: str, before: dict, after: dict) -> None:
        from tracing import parquet_rows

        new = [p for p in after if p not in before]
        self.upserts.append({"table": table, "end": time.time(), "files": len(new),
                             "bytes": sum(after[p] for p in new), "rows": parquet_rows(new)})

    def write_spans(self) -> str:
        """Spans go to .lakebench_traces/ in the checkout, which outlives
        the work directory."""
        out = os.path.join(ROOT, ".lakebench_traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.tracer.run_id}.jsonl")
        self.tracer.write(path)
        return path

    def layer_hooks(self, lake):
        from layers import LayerHooks, NoHooks

        return LayerHooks(self, lake) if self.trace else NoHooks()


def _result(ctx, metrics: dict, spec_metrics: list[dict]) -> dict:
    out = {}
    for m in spec_metrics:
        name = m["name"]
        if name not in metrics:
            raise KeyError(f"workload did not measure {name}")
        value, unit = metrics[name]
        if unit != m["unit"]:
            raise ValueError(f"{name}: unit {unit} != {m['unit']}")
        out[name] = {"value": float(value), "unit": unit}
    attempted = sum(ctx.ops.attempted.values())
    failed = sum(ctx.ops.failed.values())
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"lakebench: package {PACKAGE!r} not found next to {os.path.basename(HERE)}/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import engine
    from measure import HostStamp, peak_rss_mb

    spec = _load_spec()
    host = HostStamp()
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = Context(args, work)
    status = 1
    try:
        ctx.spark, ctx.session_s = engine.start(work, ctx.trace, ROOT)
        ctx.tracer.sc = ctx.spark.sparkContext if ctx.trace else None
        if args.workload == "daily_gold":
            import daily_gold as workload
        else:
            import cdc_stream as workload
        saved = []
        if ctx.trace:
            import tracing

            saved = tracing.install(ctx.tracer, on_upsert=ctx.on_upsert)
        try:
            with ctx.ops.op("workload_runs"), \
                    ctx.tracer.span("run", workload=args.workload, seed=args.seed):
                res = workload.run(ctx)
        finally:
            if ctx.trace:
                tracing.uninstall(saved)
        res["metrics"]["peak_rss_mb"] = (peak_rss_mb([engine.jvm_pid(ctx.spark)]), "MB")
        metrics = res["metrics"]
        spark, ctx.spark = ctx.spark, None
        engine.stop(spark)
        if ctx.trace:
            from layers import per_layer

            metrics = per_layer(ctx, res, spec)
            wanted = spec["per_layer"]
        else:
            wanted = spec["end_to_end"]
        out = _result(ctx, metrics, wanted)
        info = {"workload": args.workload, "seed": args.seed, "ops": ctx.ops.summary(),
                **res.get("info", {}), **host.finish()}
        print(json.dumps({"info": info}), file=sys.stderr)
        ctx.ops.report_errors()
        print(json.dumps(out))
        status = 0 if out["correct"] else 1
    except Exception:  # the run's boundary: report and exit non-zero
        traceback.print_exc()
        ctx.ops.report_errors()
    finally:
        if ctx.spark is not None:
            try:
                engine.stop(ctx.spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return status


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"lakebench: exit {code} after {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
