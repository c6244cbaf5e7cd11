"""Per-layer metrics of the traced run, computed from its spans.

Every metric is reported on every workload. A layer that is not on a
workload's path reads 0 there. The names and units are declared in
BENCHMARK.json; the table in README.md says what each metric means,
which workloads it is expected to move on and which end-to-end metric
it explains. Times are seconds and counts are per operation unless
the table says "per call".
"""

from __future__ import annotations

from perfbench import common
from perfbench.olap import FAMILIES


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result, e2e: dict) -> dict[str, float]:
    tr = result.tracer
    t0, t1 = result.t0, result.t1
    spans = [s for s in tr.spans if s.end is not None and t0 <= s.start <= t1]
    kids = tr.children()
    n_ops = max(1, len(result.ops))

    def named(name, **attrs):
        return [s for s in spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def per_op(xs):
        return sum(xs) / n_ops

    m: dict[str, float] = {
        "session.start_s": result.session_start_s,
        "session.warmup_s": result.setup_s - result.session_start_s,
    }
    loads = named("catalog.load")
    distinct = {(s.op, s.attrs.get("table")) for s in loads}
    m.update({
        "catalog.load_calls": per_op(1 for _ in loads),
        "catalog.load_s": per_op(s.dur for s in loads),
        "catalog.load_jobs": per_op(s.jobs or 0 for s in loads),
        "catalog.distinct_per_call": len(distinct) / len(loads) if loads else 0.0,
    })
    sel = named("ch_select.ch_select")
    m["ch_select.calls"] = per_op(1 for _ in sel)
    m["ch_select.compile_s"] = per_op(tr.self_time(s, kids) for s in sel)

    def jobs(s):
        """Jobs of a span and every span under it."""
        return (s.jobs or 0) + sum(d.jobs or 0 for d in tr.descendants(s, kids))

    for ph in ("build", "plan", "exec"):
        ss = named(f"query.{ph}")
        m[f"query.{ph}_s"] = _mean(s.dur for s in ss)
        if ph != "plan":
            m[f"query.{ph}_jobs"] = _mean(jobs(s) for s in ss)
    passes = result.context.get("timed_passes", 0)
    for fam in FAMILIES:
        for ph in ("build", "exec"):
            ss = named(f"query.{ph}", family=fam)
            m[f"query.{fam}.{ph}_s"] = sum(s.dur for s in ss) / passes if passes else 0.0

    ex_opt = named("ChDdlCatalog.execute", kind="OPTIMIZE")
    ins = named("ChDdlCatalog.insert")
    qry = named("ChDdlCatalog.query")
    top_qry = [s for s in qry if s.parent is None or
               tr.spans[s.parent].name != "ChDdlCatalog.query"]
    m.update({
        "ch_ddl.apply_mv_s": _mean(s.dur for s in named("ChDdlCatalog.apply_mv")),
        "ch_ddl.insert_s": _mean(s.dur for s in ins),
        "ch_ddl.insert_jobs": _mean(jobs(s) for s in ins),
        "ch_ddl.optimize_s": _mean(s.dur for s in ex_opt),
        "ch_ddl.optimize_jobs": _mean(jobs(s) for s in ex_opt),
        "ch_ddl.query_s": _mean(s.dur for s in top_qry),
        "ch_ddl.query_jobs": _mean(jobs(s) for s in top_qry),
        "ch_ddl.tables_read_per_statement": _mean(
            sum(1 for d in tr.descendants(s, kids) if d.name == "ManifestTable.read")
            for s in top_qry),
    })
    reads = named("ManifestTable.read")
    m["manifest.parts_at_read_mean"] = _mean(s.attrs["parts"] for s in reads)
    m["manifest.parts_at_read_max"] = max((s.attrs["parts"] for s in reads), default=0)
    for k in ("manifest.commits", "manifest.bytes_written_per_input_byte",
              "manifest.bytes_stored_per_live_byte"):
        m[k] = result.layer.get(k, 0.0)

    probes = [o.probe_s for o in result.ops if o.probe_s is not None]
    m["wire.point_p50_s"] = common.median(probes)
    m["wire.server_overhead_s"] = (
        (sum(probes) - sum(s.dur for s in top_qry if s.parent is None)) / len(probes)
        if probes else 0.0)
    m["wire.http_errors"] = sum(1 for o in result.ops
                                if o.error and "HTTP" in o.error)
    m["spark.jobs_per_op"] = (result.jobs1 - result.jobs0) / n_ops
    m["traced.throughput_per_s"] = e2e["throughput_per_s"]
    m["traced.latency_p50_s"] = e2e["latency_p50_s"]
    m["trace.spans"] = len(spans) / n_ops
    m["trace.bookkeeping_s"] = tr.bookkeeping_s / n_ops
    ctx = result.context
    m.update({
        "env.cpu_probe_start_s": ctx["cpu_probe_start_s"],
        "env.cpu_probe_end_s": ctx["cpu_probe_end_s"],
        "env.cpu_steal_s": ctx["cpu_steal_s"],
        "mem.peak_rss_mb": ctx["peak_rss_mb"],
        "env.nproc": ctx["nproc"],
        "env.default_parallelism": ctx["defaultParallelism"],
    })
    return m
