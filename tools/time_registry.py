#!/usr/bin/env python
"""Time registry queries with the noop sink (guide §1.4) and emit one JSON
object {name: seconds} sorted slowest-first on stdout.

Usage: python tools/time_registry.py [sf_dir] [--runs N] [--names a,b,c] [substring ...]

``--names`` selects exact query names; bare arguments keep the queries
whose name contains any of them; with neither, the whole registry runs.
Progress lines and the total go to stderr. Exits 1 when any query fails
(its time is reported as NaN).

Methodology mirrors bench.py: each query is rebuilt from fn() per run
(fresh temp dirs for stateful queries, so AQE stage reuse cannot fake a
run) and materialized via the noop DataSourceV2 sink; reported time is the
min over --runs (default 1 — a ranking pass, not a gate)."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 1
    names = None
    frags: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--names":
            names = args[i + 1].split(","); i += 2
        elif args[i].startswith("/"):
            sf_dir = args[i]; i += 1
        else:
            frags.append(args[i]); i += 1

    spark = get_spark(app_name="adps-time-registry")
    specs = all_queries()
    if names:
        specs = {n: specs[n] for n in names}
    if frags:
        specs = {n: s for n, s in specs.items() if any(f in n for f in frags)}
    if not specs:
        sys.exit("no registry query matches")
    # warmup to absorb JVM/codegen startup
    w = specs.get("q6_forecast_revenue") or next(iter(specs.values()))
    w.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    failed = []
    for name in sorted(specs):
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            try:
                spark.sparkContext.setJobDescription(f"time:{name}")
                specs[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 — ranking pass keeps going
                print(f"ERR {name}: {e}", file=sys.stderr)
                best = float("nan")
                failed.append(name)
                break
            finally:
                spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{best:8.3f}  {name}", file=sys.stderr, flush=True)
    ranked = dict(
        sorted(out.items(), key=lambda kv: -(kv[1] if kv[1] == kv[1] else 1e9))
    )
    ok = [t for t in out.values() if t == t]
    print(f"total {sum(ok):.1f} s over {len(ok)} queries", file=sys.stderr)
    print(json.dumps(ranked))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
