"""The traced run's wrappers reach every place their callers look the
entry points up, and each one fires on the workloads that exercise it.

    python3 -m pytest perfbench/test_trace_coverage.py -q

The second test runs each workload once, traced, for one second of
timed window (about a minute per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import WRAPPED, WRAPPER_NAMES, Tracer  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The wrappers each workload's path goes through. catalog.load is the
# fixture loader, which cdc_ingest never calls; olap_battery commits no
# CDC data, so the ChDdlCatalog and manifest entry points are
# cdc_ingest's alone.
EXPECTED = {
    "olap_battery": {"catalog.load", "ch_select.ch_select"},
    "cdc_ingest": {"ch_select.ch_select", "ChDdlCatalog.apply_mv", "ChDdlCatalog.insert",
                   "ChDdlCatalog.execute", "ChDdlCatalog.query", "ManifestTable.read"},
}


def test_expected_sets_cover_every_wrapper():
    assert set().union(*EXPECTED.values()) == set(WRAPPER_NAMES)


def test_install_patches_every_lookup_site():
    import importlib

    from postgre_to_clickhouse_spark import ch_ddl, ch_http, ch_select

    originals = {}
    for mod_name, owner, attr, _ in WRAPPED:
        mod = importlib.import_module(mod_name)
        originals[(mod_name, owner, attr)] = (
            getattr(mod, owner).__dict__[attr] if owner else getattr(mod, attr))
    binders = [m for m in list(sys.modules.values())
               if getattr(m, "__name__", "").startswith("postgre_to_clickhouse_spark")
               and getattr(m, "ch_select", None) is originals[
                   ("postgre_to_clickhouse_spark.ch_select", None, "ch_select")]]
    assert ch_ddl in binders and ch_http in binders
    tracer = Tracer(sc=None)
    tracer.install()
    try:
        for (mod_name, owner, attr), fn in originals.items():
            mod = importlib.import_module(mod_name)
            now = getattr(mod, owner).__dict__[attr] if owner else getattr(mod, attr)
            assert now is not fn and now.__wrapped__ is fn, (mod_name, owner, attr)
        for m in binders:
            assert m.ch_select.__wrapped__ is ch_select.ch_select.__wrapped__, m.__name__
    finally:
        tracer.uninstall()
    assert ch_ddl.ch_select is originals[
        ("postgre_to_clickhouse_spark.ch_select", None, "ch_select")]


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_every_wrapper_fires(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed1-trace1.json")) as f:
        fired = {s["name"] for s in json.load(f)["spans"]}
    assert EXPECTED[workload] <= fired, EXPECTED[workload] - fired
