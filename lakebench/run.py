"""lakebench: closed-loop workloads over the engine's public functions.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client: set-up (JVM
start, seeded inputs, initial landing/build, warm-up), then a timed window
of whole maintenance cycles, then untimed output checks and the host
calibration. The last stdout line is the result object; the line before
it is the run record (sizes, op counts, calibration and, in a traced run,
the per-layer breakdown). Exit code is non-zero, with no result line, if
the run cannot complete.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.getcwd()
WORKLOADS = ("warehouse_refresh", "corpus_sync_serve")
OP_KINDS = ("read", "write", "maintain")
SPARK_FIELDS = ("driver_only_s", "executor_run_s", "stages", "shuffle_write_bytes", "input_bytes")


def _environment() -> str:
    """Pin everything the engine and Spark read from the environment:
    local[nproc], UTC, every scratch file under the checkout, and the
    checkout on the Python workers' path. Returns the temp dir."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(CHECKOUT, ".bench_run", f"tmp-p{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (CHECKOUT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    time.tzset()
    sys.path[:0] = [CHECKOUT, HERE]
    return tmp


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _fold(run, log_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Event-log fold of the window's spans: ``spark.<kind>.<field>`` per op
    kind (median over the window's ops), and ``<layer>.driver_only_s`` per
    public call the workload wraps."""
    import eventlog

    records = eventlog.fold(run.spans, eventlog.read(log_dir))
    spark = {}
    for kind in OP_KINDS:
        recs = [r for r in records if r["name"] == f"{run.workload}/{kind}"]
        for f in SPARK_FIELDS:
            spark[f"spark.{kind}.{f}"] = _median([r[f] for r in recs])
    calls: dict[str, list[float]] = {}
    for span, rec in zip(run.spans, records):
        leaf = span["name"].rsplit("/", 1)[-1]
        if span["window"] and span["parent"] is not None:
            calls.setdefault(f"{leaf}.driver_only_s", []).append(rec["driver_only_s"])
    return spark, {k: _median(v) for k, v in calls.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp = _environment()
    # a terminated run still stops its JVM and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    from harness import Run, percentile

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), CHECKOUT)
    try:
        t = time.perf_counter()
        run.start_spark()
        session_s = time.perf_counter() - t
        if args.workload == "warehouse_refresh":
            import warehouse as workload
        else:
            import corpus as workload
        out = workload.run_workload(run, CHECKOUT)

        from bench import host_calibration

        calib = host_calibration(run.spark)
        lat = run.latencies
        e2e = {
            "setup_s": (out["setup_done"] - T0, "s"),
            "read_p50_s": (_median(lat.get("read", [])), "s"),
            "write_p50_s": (_median(lat.get("write", [])), "s"),
            "maintain_s": (sum(lat["maintain"]) if lat.get("maintain") else float("nan"), "s"),
            "stored_bytes_per_live_byte": (out["stored_bytes_per_live_byte"], "ratio"),
        }
        missing = [k for k, (v, _) in e2e.items() if not math.isfinite(v)]
        if missing:  # every op of some kind failed: there is no figure to report
            raise RuntimeError(f"no completed op behind {missing}; failed ops: {run.failed}")
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "window_s": round(out["window_s"], 3),
            "checked_s": round(time.perf_counter() - T0, 3),  # process start → checks and calibration done
            "ops": {k: len(v) for k, v in lat.items()},
            "latencies": {k: [round(x, 4) for x in v] for k, v in lat.items()},
            "read_p90_s": percentile(lat.get("read", []), 90),
            "host": {"host.cpu_s": calib["cpu_sec"], "host.shuffle_s": calib["shuffle_sec"]},
            "sizes": out["sizes"],
            "problems": out["problems"],
        }
        if args.trace:
            run.stop_spark()  # flushes the event log
            layers = {
                "session.start_s": (session_s, "s"),
                "host.cpu_s": (calib["cpu_sec"], "s"),
                "host.shuffle_s": (calib["shuffle_sec"], "s"),
            }
            layers.update({f"traced.{k}": v for k, v in e2e.items() if k != "stored_bytes_per_live_byte"})
            spark_layers, driver_only = _fold(run, run.path("eventlog"))
            for k, v in spark_layers.items():
                layers[k] = (v, "s" if k.endswith("_s") else ("bytes" if "bytes" in k else "count"))
            calls = {k: _median(v) for k, v in run.layers.items() if not k.startswith(run.workload)}
            calls.update(driver_only)
            record["layers"] = {k: round(v, 6) for k, v in sorted(calls.items())}
            metrics = layers
        else:
            metrics = e2e
        print(json.dumps({"lakebench": record}), flush=True)
        print(
            json.dumps(
                {
                    "correct": not out["problems"],
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
