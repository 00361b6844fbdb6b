"""Run plumbing shared by the workloads.

A :class:`Run` owns one fresh run root inside the checkout, the Spark
session the engine runs on, the op timings of the timed window, and — in
a traced run — the in-memory spans that the event-log fold later splits
by layer. One Python process, one client, no benchmark-side threads.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import time

# a percentile is reported only when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], p: int) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``TAIL_SAMPLES`` samples lie above it (p90 needs >= 100 samples)."""
    rank = -(-len(values) * p // 100)  # ceil, in integers
    if not values or len(values) - rank < TAIL_SAMPLES:
        return None
    return sorted(values)[max(rank, 1) - 1]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    figure the benchmark's bounds are checked against)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class OpFailed(Exception):
    """An op raised; it counts as attempted and failed, never as a latency."""


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, checkout: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = os.path.join(checkout, ".bench_run", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.spark = None
        self.latencies: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0
        self.layers: dict[str, list[float]] = {}  # per-layer samples (traced window)
        self.in_window = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    # -- session ------------------------------------------------------------

    def start_spark(self):
        """The engine's own session factory at local[nproc], shuffle
        partitions = nproc, every scratch path under the run root."""
        from analytics_data_platform_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name=f"lakebench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM it launched to exit (kill
        it if stopping fails or hangs)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            self.spark = None
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the launcher exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    pass
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)

    # -- spans and ops --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one public call. Recorded only in a traced run; the duration
        also lands in ``layers`` (``<name>_s`` in the timed window,
        ``setup.<name>_s`` before it)."""
        if not self.trace:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        full = f"{self.spans[parent]['name']}/{name}" if parent is not None else name
        rec = {"name": full, "parent": parent, "op_id": self._op_id, "window": self.in_window,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            key = name + "_s" if self.in_window else f"setup.{name}_s"
            self.layers.setdefault(key, []).append(rec["end"] - rec["start"])

    def op(self, kind: str, fn, *args, timed: bool = True):
        """Run one op of ``kind`` (read, write, maintain, ...), closed loop: the
        next op starts only after this one returns. Returns fn's result, or
        raises OpFailed after counting the failure."""
        self._op_id += 1
        if timed:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"{self.workload}/{kind}" if timed else f"{self.workload}/warmup/{kind}"):
                out = fn(*args)
        except Exception as exc:  # an op that raises is a failed op, not a crash
            if timed:
                self.failed += 1
            raise OpFailed(f"{kind} op failed: {exc!r}") from exc
        if timed:
            self.latencies.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def layer_count(self, name: str, value: float) -> None:
        """Record a per-layer count or ratio (traced window only)."""
        if self.trace and self.in_window:
            self.layers.setdefault(name, []).append(float(value))
