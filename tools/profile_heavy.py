#!/usr/bin/env python
"""Sub-stage wall-clock profile of the heavy bench queries (guide §1:
measure first). Monkey-patches the expensive building blocks with timing
wrappers, runs each heavy query once at sf0.1, and prints a per-call
breakdown. Diagnostic only — never imported by the engine."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from analytics_data_platform_spark.session import get_spark

CALLS: list[tuple[str, float]] = []


def timed(label: str, fn):
    def wrap(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            CALLS.append((label, time.perf_counter() - t0))
    return wrap


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2].split(",") if len(sys.argv) > 2 else [
        "serving_index_corpus_sync",
        "incremental_pipeline_refresh",
        "training_pipeline_manifest",
        "streaming_interval_join_stats",
        "ivf_pq_adc_topk",
    ]
    spark = get_spark(app_name="adps-profile-heavy")

    import analytics_data_platform_spark.pipelines.incremental as incr
    from analytics_data_platform_spark.operators.search_index import SearchIndex
    from analytics_data_platform_spark.operators.vector_index import VectorIndex

    incr.refresh_corpus_state = timed("refresh_corpus_state", incr.refresh_corpus_state)
    incr.takedown_corpus_state = timed("takedown_corpus_state", incr.takedown_corpus_state)
    incr.state_changelog = timed("state_changelog", incr.state_changelog)
    incr.corpus_split_manifest = timed("corpus_split_manifest", incr.corpus_split_manifest)
    for cls in (SearchIndex, VectorIndex):
        for m in ("build", "append", "delete_docs", "apply_deletes", "bm25", "topk"):
            if hasattr(cls, m):
                setattr(cls, m, timed(f"{cls.__name__}.{m}", getattr(cls, m)))

    # re-bind names already imported into query modules
    import analytics_data_platform_spark.queries.pipeline_ops  # noqa: F401
    import analytics_data_platform_spark.queries.serving_ops as sv
    sv.SearchIndex = SearchIndex
    for fn in ("refresh_corpus_state", "takedown_corpus_state", "state_changelog"):
        setattr(sv, fn, getattr(incr, fn))

    from analytics_data_platform_spark.queries import all_queries
    registry = all_queries()

    for name in which:
        CALLS.clear()
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t0
        print(f"\n=== {name}: {total:.2f}s total ===")
        for label, dt in CALLS:
            print(f"  {dt:7.2f}s  {label}")
        acc = sum(dt for _, dt in CALLS)
        print(f"  {total - acc:7.2f}s  (everything else)")


if __name__ == "__main__":
    main()
