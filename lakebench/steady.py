"""Steadiness record: run one workload on several seeds and report, per
end-to-end metric, the median and the inter-quartile spread as a share of
the median (the figure each metric's bound is checked against), plus the
host calibration of every run.

    python3 lakebench/steady.py --workload <name> --seeds 1-10 [--seconds 15] [--trace 0]

Runs are sequential, each a fresh ``run.py`` process from the current
directory (the checkout root). Writes one JSON object to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(json.dumps({"seed": seed, "rc": proc.returncode, "stderr": proc.stderr[-2000:]}),
                  file=sys.stderr)
            return 1
        record, result = json.loads(lines[-2])["lakebench"], json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": round(wall, 1), "record": record, "result": result})
        print(f"seed {seed}: {wall:.1f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr, flush=True)
    names = list(runs[0]["result"]["metrics"])
    summary = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {
            "median": statistics.median(vals),
            "spread": spread(vals) if len(vals) >= 2 else None,
            "values": vals,
        }
    print(json.dumps({
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": summary,
        "host": [r["record"]["host"] for r in runs],
        "wall_s": [r["wall_s"] for r in runs],
        "ops": runs[0]["record"]["ops"],
        "all_correct": all(r["result"]["correct"] and not r["result"]["failed"] for r in runs),
        "latencies": [r["record"]["latencies"] for r in runs],
        "sizes": [r["record"]["sizes"] for r in runs],
        "layers": [r["record"].get("layers") for r in runs],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
