"""Session hygiene and host-side probes for the CDC streaming benchmark.

Everything the benchmark reads about the system from outside the package:
the Spark session it builds through ``mysql_streamer_spark.session``, a
``StreamingQueryListener`` that records engine progress, a memory sampler
over the driver JVM and its Python workers, JVM GC time, and host load.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field

#: heap for the single local JVM (driver = executor in local mode): Spark's
#: own default. The package default (32g) is sized for a 32-core box; at 2g
#: the peak memory moved by a quarter between runs as the heap grew
DRIVER_MEM = "1g"


def prepare_env(root: str, work: str) -> None:
    """Point every temp/spill location inside ``work`` and put ``root`` on
    the Python workers' path. Must run before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # JVMs write /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def build_session(root: str, work: str, cpus: int):
    """The package's tuned session at ``local[cpus]`` with every scratch
    path inside ``work``."""
    from mysql_streamer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "cdcbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap starts at its full size: growing it mid-run made each
            # timed unit faster than the one before
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}"
            ),
            "spark.executorEnv.PYTHONPATH": root,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def clean_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker and
    checksum files."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


# -- host probes -------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def loadavg1() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


class HostWindow:
    """CPU steal share and 1-minute load over a window."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def close(self) -> dict[str, float]:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        return {"host.steal_pct": 100.0 * steal / total, "host.loadavg1": loadavg1()}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked Python workers, a JVM child before its exec) split
    among the sharers, so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


@dataclass
class RssSampler:
    """Samples the resident memory of the JVM plus every descendant (the
    Python worker daemon and its workers) on a background thread, summed as
    PSS; keeps the peak sum."""

    pid: int
    period_s: float = 0.2
    peak_bytes: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def sample(self) -> int:
        kids = _children_map()
        todo, total = [self.pid], 0
        while todo:
            p = todo.pop()
            total += _pss_bytes(p)
            todo.extend(kids.get(p, ()))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


# -- engine progress -----------------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event as a plain
    dict (batch id, trigger start, input rows, phase durations)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "run_id": str(p.runId),
                "batch_id": int(p.batchId),
                "timestamp": p.timestamp,
                "rows": int(p.numInputRows),
                "durations_ms": {k: int(v) for k, v in dict(p.durationMs).items()},
                "seen": time.time(),
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self.events = self.events, []
            return out

    return ProgressListener()


def drain_listener(listener, expected_batches: int, timeout_s: float = 10.0) -> list[dict]:
    """Progress events are delivered asynchronously on the listener bus:
    wait until every executed micro-batch has reported (data batches only)."""
    deadline = time.time() + timeout_s
    got: list[dict] = []
    while True:
        got.extend(listener.take())
        if sum(1 for e in got if e["rows"] > 0) >= expected_batches or time.time() > deadline:
            return got
        time.sleep(0.05)
