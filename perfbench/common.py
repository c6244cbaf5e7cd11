"""Shared pieces of the benchmark: the run's working directory and
session, percentiles, the process-tree memory sampler, the machine
reference probe and clean shutdown of every process the run started."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a machine reference that
    shows host speed drift in the record. Never used to rescale."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (this Python process, the JVM and the Python workers) sampled
    together."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.every_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024


class Run:
    """The run's private working directory, environment and session.

    Everything the run writes lands under ``<checkout>/.perfbench_work``
    (removed at the end) except the record, which goes to
    ``<checkout>/.perfbench_out``.
    """

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        ncpu = str(len(os.sched_getaffinity(0)))
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_CPUS": ncpu,
            "PYSPARK_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "TZ": "UTC",
        })
        time.tzset()
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        self.spark = None
        self.tracer = None
        self.context: dict = {"nproc": int(ncpu), "SPARK_GRAFT_CPUS": ncpu}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from postgre_to_clickhouse_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        # one trivial job brings the Python workers up
        sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).map(
            lambda x: x).collect()
        import pyspark

        self.context.update(master=sc.master, defaultParallelism=sc.defaultParallelism,
                            pyspark=pyspark.__version__)
        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(sc)
            self.tracer.install()
        return self.spark

    def jobs_so_far(self) -> int:
        """Spark jobs submitted since the session started."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def close(self) -> None:
        """Stop the session and the JVM, wait for every descendant
        process to end, and remove the working directory."""
        procs = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                     and _state(p) not in ("Z", "X")]
            if not alive:
                break
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"
