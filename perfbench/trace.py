"""Spans around the engine's public entry points, for the traced run.

:class:`Tracer` replaces each entry point named in :data:`WRAPPED` with
a wrapper that records a span (name, start, end, parent, operation id)
and tags the Spark jobs it issues with a job group of its own, so the
jobs of every span can be counted through ``sc.statusTracker()``,
which works with the Spark UI off. Spans stay in memory and are
written out when the run ends. The wrappers are installed only in the
traced run; the end-to-end numbers come from an untraced run.
"""

from __future__ import annotations

import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, owner attribute or None for a module function, attribute,
# span name). A module function is patched in every module of the
# package that bound it at import, e.g. ch_ddl's ``ch_select``.
WRAPPED = (
    ("postgre_to_clickhouse_spark.catalog", None, "load", "catalog.load"),
    ("postgre_to_clickhouse_spark.ch_select", None, "ch_select", "ch_select.ch_select"),
    ("postgre_to_clickhouse_spark.ch_ddl", "ChDdlCatalog", "apply_mv", "ChDdlCatalog.apply_mv"),
    ("postgre_to_clickhouse_spark.ch_ddl", "ChDdlCatalog", "insert", "ChDdlCatalog.insert"),
    ("postgre_to_clickhouse_spark.ch_ddl", "ChDdlCatalog", "execute", "ChDdlCatalog.execute"),
    ("postgre_to_clickhouse_spark.ch_ddl", "ChDdlCatalog", "query", "ChDdlCatalog.query"),
    ("postgre_to_clickhouse_spark.sinks.manifest", "ManifestTable", "read", "ManifestTable.read"),
)
WRAPPER_NAMES = tuple(w[3] for w in WRAPPED)
_PACKAGE = "postgre_to_clickhouse_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float | None = None
    jobs: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _parts_at_read(table, version) -> int:
    """Base data files (``system.parts`` rows) of the snapshot a
    ManifestTable.read will scan."""
    m = table.current_manifest() if version is None else table.manifest_at(version)
    return sum(1 for f in m["files"] if not f.get("proj"))


def _attrs(name: str, args: tuple, kwargs: dict) -> dict:
    """Cheap facts about one call, recorded on its span."""
    if name == "catalog.load":
        return {"table": args[2] if len(args) > 2 else kwargs.get("name")}
    if name == "ChDdlCatalog.execute":
        sql = args[1] if len(args) > 1 else kwargs.get("sql", "")
        return {"kind": sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""}
    if name == "ManifestTable.read":
        version = args[2] if len(args) > 2 else kwargs.get("version")
        return {"parts": _parts_at_read(args[0], version)}
    return {}


class Tracer:
    """Records spans and per-span Spark job counts for one run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._ops = itertools.count(1_000_000)  # ops opened by server threads
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._resolved = 0
        self.bookkeeping_s = 0.0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """One span; ``op`` opens a new operation (a root span)."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None:
            op = parent.op if parent is not None else next(self._ops)
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None, op, 0.0,
                     attrs=attrs)
            self.spans.append(s)
        self.sc.setJobGroup(f"pb-{s.id}", name)
        stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - s.end)

    def resolve_jobs(self) -> None:
        """Count the jobs of every span closed so far. Waits for the
        listener bus first, so each finished job is visible."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        with self._lock:
            todo = [s for s in self.spans[self._resolved:]]
        for s in todo:
            if s.jobs is None and s.end is not None:
                s.jobs = len(tracker.getJobIdsForGroup(f"pb-{s.id}"))
        with self._lock:
            while (self._resolved < len(self.spans)
                   and self.spans[self._resolved].jobs is not None):
                self._resolved += 1

    # -- wrappers ----------------------------------------------------------
    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, **_attrs(name, args, kwargs)):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every entry point in :data:`WRAPPED` where its callers
        look it up."""
        import importlib

        for mod_name, owner, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if owner is not None:
                cls = getattr(mod, owner)
                fn = cls.__dict__[attr]
                self._patch(cls, attr, fn, self._wrapper(fn, name))
                continue
            fn = getattr(mod, attr)
            traced = self._wrapper(fn, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(_PACKAGE) and \
                        getattr(m, attr, None) is fn:
                    self._patch(m, attr, fn, traced)

    def _patch(self, target, attr: str, original, replacement) -> None:
        setattr(target, attr, replacement)
        self._patched.append((target, attr, original))

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._patched):
            setattr(target, attr, original)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part of it its child spans cover."""
        iv = sorted((c.start, c.end) for c in kids.get(s.id, ()) if c.end is not None)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.dur - covered

    def descendants(self, s: Span, kids: dict[int, list[Span]]):
        todo = list(kids.get(s.id, ()))
        while todo:
            c = todo.pop()
            yield c
            todo.extend(kids.get(c.id, ()))

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, "jobs": s.jobs, **s.attrs}
            for s in self.spans
        ]
