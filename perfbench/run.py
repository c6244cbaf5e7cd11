"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_battery --seed 1 --seconds 16 --trace 0

Runs one workload in a fresh Spark session and prints, as the last
line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The full record (run context, warm-up curve, checks,
all metrics and, when traced, every span) is written to
``.perfbench_out/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import itertools
import json
import math
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, layers  # noqa: E402

WORKLOADS = {"olap_battery": "perfbench.olap", "cdc_ingest": "perfbench.cdc"}


@dataclass
class Op:
    id: int
    kind: str
    group: int
    start: float = 0.0
    end: float = 0.0
    latency: float | None = None
    units: int = 1
    ok: bool = True
    error: str | None = None
    probe_s: float | None = None


class Result:
    """What one run measured: timed operations, checks and layer
    metrics."""

    def __init__(self, run: common.Run):
        self.run = run
        self.ops: list[Op] = []
        self.checks: list[dict] = []
        self.layer: dict[str, float] = {}
        self.context = run.context
        self.warm_curve: list[float] = []
        self._ids = itertools.count()
        self.session_start_s = self.setup_s = None
        self.t0 = self.t1 = None

    @property
    def tracer(self):
        return self.run.tracer

    def session_ready(self) -> None:
        self.session_start_s = common.process_age_s()

    def begin_window(self) -> None:
        self.setup_s = common.process_age_s()
        self.jobs0 = self.run.jobs_so_far()
        self.t0 = time.perf_counter()

    def end_window(self) -> None:
        self.t1 = time.perf_counter()
        self.jobs1 = self.run.jobs_so_far()

    @contextmanager
    def op(self, kind: str, group: int):
        """Time one operation of ``kind``. ``group`` is the pass or
        merge cycle it belongs to."""
        op = Op(next(self._ids), kind, group)
        self.ops.append(op)
        op.start = time.perf_counter()
        try:
            if self.tracer is None:
                yield op
            else:
                with self.tracer.span("op", op=op.id, kind=kind):
                    yield op
        except Exception as exc:  # a failed operation counts, the loop goes on
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
        op.end = time.perf_counter()
        if op.latency is None:
            op.latency = op.end - op.start
        if self.tracer is not None:
            self.tracer.resolve_jobs()

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    # -- summaries ---------------------------------------------------------
    def latencies(self) -> list[float]:
        return [o.latency for o in self.ops if o.ok]

    def end_to_end(self) -> dict[str, float]:
        """Medians over the window, so a burst of host contention that
        slows one pass or one query does not move the figures.

        ``throughput_per_s``: operations per second of each group (a
        pass or a merge cycle, first start to last end), median over
        the groups. ``latency_p50_s``: the median latency of each
        operation kind, geometric mean over the kinds, so every query
        of a pass counts and the median never jumps between the
        latencies of two different queries."""
        groups: dict[int, list[Op]] = {}
        kinds: dict[str, list[float]] = {}
        for o in self.ops:
            groups.setdefault(o.group, []).append(o)
            if o.ok:
                kinds.setdefault(o.kind, []).append(o.latency)
        rates = [sum(o.units for o in g if o.ok) / (g[-1].end - g[0].start)
                 for g in groups.values()]
        logs = [math.log(common.median(v)) for v in kinds.values()]
        return {
            "setup_s": self.setup_s,
            "throughput_per_s": common.median(rates),
            "latency_p50_s": math.exp(sum(logs) / len(logs)) if logs else 0.0,
        }

    def attempted_failed(self) -> tuple[int, int]:
        attempted = sum(o.units for o in self.ops) + len(self.checks)
        failed = sum(o.units for o in self.ops if not o.ok)
        failed += sum(1 for c in self.checks if not c["ok"])
        return attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    probe_start, steal_start = common.cpu_probe_s(), common.steal_s()
    run = common.Run(a.workload, a.seed, a.seconds, bool(a.trace))
    workload = importlib.import_module(WORKLOADS[a.workload])
    rss = common.RssSampler().start()
    result = Result(run)
    try:
        workload.run(run, result)
        if run.tracer is not None:
            run.tracer.resolve_jobs()
            run.tracer.uninstall()
    finally:
        peak_rss_mb = rss.stop()
        run.close()
    probe_end = common.cpu_probe_s()

    e2e = result.end_to_end()
    run.context.update(cpu_probe_start_s=probe_start, cpu_probe_end_s=probe_end,
                       cpu_steal_s=common.steal_s() - steal_start,
                       peak_rss_mb=peak_rss_mb)
    attempted, failed = result.attempted_failed()
    correct = failed == 0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "context": run.context,
        "session_start_s": result.session_start_s,
        "warm_curve_s": result.warm_curve,
        "window_s": result.t1 - result.t0,
        "ops": [[o.kind, o.group, o.start - result.t0, o.latency, o.probe_s, o.ok]
                for o in result.ops],
        "spark_jobs_in_window": result.jobs1 - result.jobs0,
        "end_to_end": e2e,
        "latency_samples": len(result.latencies()),
        "checks": result.checks,
        "errors": [o.error for o in result.ops if not o.ok][:20],
    }
    units = common.declared_units("per_layer" if a.trace else "end_to_end")
    if a.trace:
        metrics = layers.per_layer(result, e2e)
        record["per_layer"] = metrics
        record["spans"] = run.tracer.dump()
    else:
        metrics = e2e
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics out of step with BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    path = os.path.join(run.out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"context": run.context, "record": os.path.relpath(path, common.ROOT)}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
