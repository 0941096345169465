"""Shared machinery of a benchmark run: the work directory, the Spark
session, memory sampling and shutdown."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time

from spans import NullTracer, SparkCounters, Tracer, catalyst_phases

# set-ups per run; setup_s is their median
SETUPS = 3


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop_event = threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1]
                                             .split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def sample(self):
        pids = self._tree(os.getpid())
        self.seen.update(p for p in pids if p != os.getpid())
        self.peak_bytes = max(self.peak_bytes,
                              sum(self._rss(p) for p in pids))

    def run(self):
        while not self._stop_event.wait(self.period):
            self.sample()

    def stop(self):
        self._stop_event.set()
        self.join(timeout=5)


class Bench:
    """One run of one workload."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".bench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer() if trace else NullTracer()
        self.spark = None
        self.counters: SparkCounters | None = None
        self.rss = RssSampler()
        # human-readable lines printed before the result
        self.notes: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def session(self):
        """The Spark session, created on first use with every scratch
        location inside the work directory; its start-up time is noted
        as ``session_s``."""
        if self.spark is not None:
            return self.spark
        t0 = time.perf_counter()
        tmp = self.path("tmp", "")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p])
        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(self.cpus))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", self.path("spark-local", ""))
            .config("spark.sql.warehouse.dir", self.path("warehouse", ""))
            # a heap that never resizes removes one source of run-to-run
            # variance
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -Djava.io.tmpdir={tmp} "
                    f"-Dderby.system.home={tmp}")
            .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
            .config("spark.sql.streaming.schemaInference", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)
        self.notes["session_s"] = time.perf_counter() - t0
        return self.spark

    def write_spec(self, name: str, spec: dict) -> str:
        """Applications reach the program as JSON files, like a user's."""
        p = self.path("specs", f"{name}.json")
        with open(p, "w") as f:
            json.dump(spec, f)
        return p

    def write_sink(self, df, path: str, catalyst: dict[str, float]):
        """Write one batch sink as parquet; when tracing, first add its
        plan's Catalyst phase times to ``catalyst``."""
        if self.tracer.enabled:
            for k, v in catalyst_phases(df).items():
                catalyst[k] = catalyst.get(k, 0.0) + v
        df.write.mode("overwrite").parquet(path)

    def close(self):
        """Stop Spark and its JVM, wait for every process this run
        started, and remove the work directory."""
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()   # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        self.rss.stop()
        deadline = time.monotonic() + 20
        while True:
            alive = [p for p in self.rss.seen if _is_spark_process(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass   # another run's work directory is still there


def catalyst_medians(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Median over batch ops of each Catalyst phase time."""
    return {f"catalyst.{k}_ms": statistics.median(c.get(k, 0.0)
                                                  for c in per_op)
            for k in ("analysis", "optimization", "planning")}


def _is_spark_process(pid: int) -> bool:
    """A live JVM or Python worker of this run (the check on the command
    line keeps a recycled pid from being mistaken for one)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                return False
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"spark" in f.read()
    except OSError:
        return False
