#!/usr/bin/env python
"""Dump .explain("formatted") for registry queries to plans/<round>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> <name>[,<name>...] [<name> ...] [sf_dir]

Names may be given comma-separated, as separate arguments, or both. An
argument starting with "/" is the scale-factor directory (default
``$SPARK_GRAFT_SF_DIR``, else the sf0.1 test data); ``$SPARK_GRAFT_PLAN_ROUND``
picks the output round directory (default r11).

For a query with ``internal_plan`` (multi-tick executions that return
literal frames), every internal plan is dumped under its stage label;
otherwise the query frame's own plan is dumped."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.session import get_spark

OUT = Path(__file__).resolve().parent.parent / "plans" / os.environ.get(
    "SPARK_GRAFT_PLAN_ROUND", "r11"
)


def main() -> None:
    tag, args = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    for a in args:
        if a.startswith("/"):
            sf_dir = a
        else:
            names += [n for n in a.split(",") if n]
    spark = get_spark(app_name="adps-dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    OUT.mkdir(parents=True, exist_ok=True)
    registry = all_queries()
    for name in names:
        spec = registry[name]
        if spec.internal_plan is not None:
            chunks = [
                f"== internal stage: {stage} ==\n"
                + df._jdf.queryExecution().explainString(mode)
                for stage, df in spec.internal_plan(spark, sf_dir)
            ]
        else:
            chunks = [spec.fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)]
        p = OUT / f"{name}_{tag}.txt"
        p.write_text("\n\n".join(chunks))
        print(f"wrote {p}")


if __name__ == "__main__":
    main()
