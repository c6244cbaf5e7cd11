"""Steadiness check: run one or more workloads over several seeds and
report, for each end-to-end metric (``--trace 0``), the median and the spread between
the first and third quartile as a share of the median, next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads cdc_ingest olap_battery --seeds 1-10

Runs are sequential (one Spark session at a time). The summary is
printed and written to ``.perfbench_out/steady-<workloads>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads:
        runs = []
        for seed in seeds_of(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, **res})
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
        rows = {}
        for name in runs[0]["metrics"]:
            vs = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            rows[name] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None,
                          "bound": bounds.get(name), "values": vs}
            b = bounds.get(name)
            print(f"  {name:18s} median={med:.4f} spread={rows[name]['spread']:.3f}"
                  + (f" bound={b} ({'ok' if rows[name]['spread'] < b / 3 else 'WIDE'})"
                     if b else ""))
        summary[w] = {"runs": runs, "metrics": rows,
                      "mean_wall_s": statistics.mean(r["wall_s"] for r in runs)}
        print(f"  mean wall {summary[w]['mean_wall_s']:.1f}s", flush=True)
    out = os.path.join(ROOT, ".perfbench_out", f"steady-{'-'.join(a.workloads)}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
