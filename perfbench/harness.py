"""Run context shared by the workloads: the pinned Spark session,
operation timing and failure counting, peak-RSS sampling, the traced
run's spans and counters, and the result lines."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

from spans import Counters, Patches, Tracer, install_layer_spans, per_request_self


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak resident set of this process plus the JVM child, sampled
    every 50 ms on a background thread."""

    def __init__(self) -> None:
        self.pids = [os.getpid()]
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def close(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak_kb / 1024.0


class Bench:
    """One run of one workload."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, size: str) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.cores = nproc()
        self.work = os.path.join(root, "perfbench", ".work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.session_starts: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: op kind -> latencies (s) of timed operations
        self.lat: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.loadavg_start = os.getloadavg()
        self.rss = RssSampler()
        self.trace = trace
        #: set by start_tracing in the traced run, once warm-up is done
        self.tracer: Tracer | None = None
        self.patches: Patches | None = None
        self.counters: Counters | None = None
        self._group: str | None = None  # the open operation's job group
        self._req = 0

    # -- session -------------------------------------------------------

    def start_session(self) -> None:
        """(Re)start the pinned session: ``local[nproc]`` with one
        shuffle partition per core. The JVM outlives a restart, so only
        the first start pays the JVM launch."""
        from ceres_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
        )
        self.spark.range(1).count()
        self.session_starts.append(time.perf_counter() - t0)
        jvm = self.spark.sparkContext._gateway.proc.pid
        if jvm not in self.rss.pids:
            self.rss.pids.append(jvm)

    def start_tracing(self) -> None:
        """Traced run: from here on, record spans and counters."""
        if self.trace:
            self.tracer = Tracer()
            self.patches = Patches(self.tracer)
            self.counters = Counters(self.spark)
            install_layer_spans(self.patches)

    # -- operations ----------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """One operation: latency recorded under ``kind`` (if timed);
        in the traced run also a root span and a job group whose Spark
        counters are read right after. An exception counts as a failed
        operation and is reported, and the run goes on."""
        if timed:
            self.attempted += 1
        self._req += 1
        group = None
        if self.counters is not None:
            group = self._group = self.counters.group()
            self.counters.set_group(group)
        ctx = self.tracer.span(f"op.{kind}", request=self._req) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                yield
        except Exception as exc:  # keep measuring; the run reports it
            self.fail(f"{kind}: {type(exc).__name__}: {exc}", timed)
            traceback.print_exc(file=sys.stderr)
        else:
            if timed:
                self.lat.setdefault(kind, []).append(time.perf_counter() - t0)
        finally:
            if group is not None:
                self._group = None
                self.counters.clear_group()
                if timed:
                    self.counters.record(kind, self.counters.read(group))

    @contextmanager
    def job_group(self):
        """Traced run: count the Spark jobs launched inside the block
        under a group of its own (added to the enclosing operation's
        counters by the caller); yields a dict filled on exit."""
        out: dict[str, float] = {}
        if self.counters is None:
            yield out
            return
        group = self.counters.group()
        self.counters.set_group(group)
        try:
            yield out
        finally:
            if self._group is None:
                self.counters.clear_group()
            else:
                self.counters.set_group(self._group)
            out.update(self.counters.read(group))

    def check(self, ok: bool, what: str) -> bool:
        """A wrong answer counts as one failed operation."""
        if not ok:
            self.fail(what, True)
        return ok

    def fail(self, what: str, counted: bool) -> None:
        if counted:
            self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    # -- results -------------------------------------------------------

    def layer_spans(self, names: dict[str, str], scale: float = 1000.0) -> list[str]:
        """Per-layer self-time medians (span name -> metric name);
        returns the span names that never fired."""
        per = per_request_self(self.tracer.spans) if self.tracer else {}
        missing = []
        for span, metric in names.items():
            vals = per.get(span)
            if not vals:
                missing.append(span)
            self.layer[metric] = statistics.median(vals) * scale if vals else 0.0
        return missing

    def provenance(self) -> dict:
        import pyspark

        import ceres_spark

        def git(*args):
            try:
                r = subprocess.run(
                    ["git", "-C", self.root, *args], capture_output=True,
                    text=True, timeout=20,
                )
            except (OSError, subprocess.TimeoutExpired):
                return None
            return r.stdout.strip() if r.returncode == 0 else None

        status = git("status", "--porcelain", "--untracked-files=no")
        java = None
        if self.spark is not None:
            java = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        return {
            "cores": self.cores,
            "master": f"local[{self.cores}]",
            "git_sha": git("rev-parse", "HEAD"),
            "git_dirty": None if status is None else bool(status),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "java": java,
            "seed": self.seed,
            "seconds": self.seconds,
            "size": self.size,
            "loadavg_start": self.loadavg_start,
            "loadavg_end": os.getloadavg(),
            "ceres_spark_file": ceres_spark.__file__,
        }

    def close(self) -> float:
        """Stop tracing, the session and the JVM (waiting for it), and
        remove the run's data; returns peak RSS in MB."""
        if self.patches is not None:
            self.patches.undo()
        peak = self.rss.close()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = gateway.proc
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        return peak


def emit(bench: Bench, metrics: dict[str, tuple[float, str]], detail: dict) -> None:
    """Print the detail line, then the result line (always last)."""
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
