#!/usr/bin/env python
"""Mandatory pre-commit gate for any change touching ``queries/``.

One command, no Spark session, < 5 seconds:

    python tools/preflight.py          # check (exit 1 on any failure)
    python tools/preflight.py --write  # also refresh REGISTRY_COUNT.txt
    python tools/preflight.py --full   # the full release gate (Spark):
                                       # structural gates + plan-audit sweep
                                       # + whole-registry oracle parity
                                       # + 2-executor local-cluster smoke
                                       # + 8x scale smoke + bench.py

Runs the cheap structural gates that the r04 end-of-round commit skipped:

1. registry == shuffle ledger (a registered query missing from
   ``tests/shuffle_ledger.json`` means the plan sweep was not re-run);
2. every query has an oracle SQL or an explicit ``weak`` tag;
3. money lint + the DuckDB CAST-rounds-vs-Spark-truncates division lint;
4. the authoritative registry count in REGISTRY_COUNT.txt is current;
5. the SURVEY coverage map and the module/function reachability scan
   (no engine code that only its own tests reach);
6. the pinned ``F.hash`` vectors of the driver-side string-hash port that
   routes index lookups to bucket directories;
7. the snapshot-table footer reader refusing the string and float bounds
   pyarrow writes wrong (adversarial strings, NaN doubles).

It does NOT replace the full sweep — after a plan-affecting change still run

    SPARK_GRAFT_REGEN_LEDGER=1 python -m pytest tests/test_plan_audit.py -k sweep
    python -m pytest tests/test_oracle_parity.py -q

but it makes "forgot to run the sweep" loud at commit time.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(label: str, args: list[str], env: dict | None = None) -> int:
    import os

    print(f"==> {label}")
    e = dict(os.environ)
    if env:
        e.update(env)
    rc = subprocess.call(args, cwd=ROOT, env=e)
    print(f"<== {label}: {'OK' if rc == 0 else f'FAILED (rc={rc})'}")
    return rc


def main() -> int:
    write = "--write" in sys.argv
    full = "--full" in sys.argv
    sys.path.insert(0, str(ROOT))
    from analytics_data_platform_spark.queries import all_queries

    count_path = ROOT / "REGISTRY_COUNT.txt"
    n = len(all_queries())
    if write:
        count_path.write_text(f"{n}\n")
        print(f"REGISTRY_COUNT.txt <- {n}")

    rc = subprocess.call(
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_registry_gates.py",
            "tests/test_money_lint.py",
            "tests/test_coverage_map.py",
            "tests/test_reachability.py",
            "tests/test_spark_hash.py::test_pinned_vectors",
            "tests/test_footer_stats.py::test_foreign_footer_bounds_refused",
            "-q",
            "--no-header",
        ],
        cwd=ROOT,
    )
    if rc == 0:
        print(f"preflight OK — {n} registered queries, gates green")
    else:
        print("preflight FAILED — do not commit; see failures above", file=sys.stderr)
    if rc != 0 or not full:
        return rc

    # --full: the end-of-round release gate as ONE command. Each stage is
    # the documented standalone invocation; order is cheap → expensive.
    py = sys.executable
    stages = [
        ("plan-audit sweep", [py, "-m", "pytest", "tests/test_plan_audit.py", "-q"], None),
        ("oracle parity (full registry)", [py, "-m", "pytest", "tests/test_oracle_parity.py", "-q"], None),
        (
            "2-executor local-cluster smoke",
            [py, "-m", "pytest", "tests/test_local_cluster_smoke.py", "-q"],
            {"SPARK_GRAFT_LOCAL_CLUSTER": "1"},
        ),
        (
            "8x scale smoke",
            [py, "-m", "pytest", "tests/test_scale_smoke.py", "-q"],
            {"SPARK_GRAFT_SCALE_SMOKE": "1"},
        ),
        # bench with the heavy-envelope gate armed: any heavy query slower
        # than alert_ratio x its HEAVY_BASELINE.json best fails this stage
        # unless SPARK_GRAFT_HEAVY_JUSTIFY (inherited from the caller's env)
        # records why
        ("bench", [py, "bench.py"], {"SPARK_GRAFT_HEAVY_GATE": "1"}),
    ]
    for label, args, env in stages:
        rc = _run(label, args, env)
        if rc != 0:
            print(f"preflight --full FAILED at: {label}", file=sys.stderr)
            return rc
    print("preflight --full OK — all release gates green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
