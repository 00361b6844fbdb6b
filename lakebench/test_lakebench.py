"""Self-tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest lakebench/test_lakebench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
from harness import percentile, spread  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


# -- percentile rule ---------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([0.1] * 99, 90) is None
    assert percentile([], 90) is None
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile(list(range(1, 201)), 90) == 180


def test_p50_of_short_runs_still_reported():
    assert percentile([3.0, 1.0, 2.0] * 7, 50) == 2.0


def test_spread_is_iqr_over_median():
    assert spread([1.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    assert spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


# -- seed determinism --------------------------------------------------------


def _tables_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_inputs_other_seed_different():
    d1 = gen.opralog_delta(7, 3, 1041, 40, 80)
    assert _tables_equal(d1, gen.opralog_delta(7, 3, 1041, 40, 80))
    assert not _tables_equal(d1, gen.opralog_delta(8, 3, 1041, 40, 80))

    docs = gen.documents(7, "b", 0, 200, ["x y z"] * 5, 0.1)
    assert docs.equals(gen.documents(7, "b", 0, 200, ["x y z"] * 5, 0.1))
    assert not docs.equals(gen.documents(8, "b", 0, 200, ["x y z"] * 5, 0.1))


def test_same_seed_same_schedule():
    import corpus
    import warehouse

    assert warehouse.read_params(5, 30, 1000) == warehouse.read_params(5, 30, 1000)
    assert warehouse.read_params(5, 30, 1000) != warehouse.read_params(6, 30, 1000)
    assert corpus.request_params(5, 4) == corpus.request_params(5, 4)
    assert corpus.request_params(5, 4) != corpus.request_params(6, 4)
    # the op counts depend on --seconds only, never on the seed or the host
    assert warehouse.cycles_for(15) == warehouse.cycles_for(15) >= 1
    assert corpus.cycles_for(1) == 1


def test_streams_are_independent():
    """Drawing from one input stream never shifts another."""
    a = gen.rng(3, "corpus.requests").random(4)
    gen.rng(3, "warehouse.reads").random(100)
    assert (a == gen.rng(3, "corpus.requests").random(4)).all()


def test_deltas_advance_the_watermark_and_keep_ids_fresh():
    d0 = gen.opralog_delta(1, 0, 1001, 40, 80)["entries"]
    d1 = gen.opralog_delta(1, 1, 1041, 40, 80)["entries"]
    assert min(d1.column("last_changed").to_pylist()) > max(d0.column("last_changed").to_pylist())
    new = set(d1.column("entry_id").to_pylist()) - set(range(1, 1041))
    assert new == set(range(1041, 1081))


def test_batches_carry_reposts_and_near_dups():
    pool = gen.documents(2, "pool", 0, 300).column("text").to_pylist()
    texts = gen.documents(2, "batch", 300, 300, pool, 0.1).column("text").to_pylist()
    assert sum(t in set(pool) for t in texts) > 10
    assert sum(t.endswith(" dup") for t in texts) > 5


# -- event-log fold ----------------------------------------------------------


def _fixture():
    with open(os.path.join(FIXTURES, "two_query_events.jsonl")) as f:
        log = eventlog.parse(f)
    with open(os.path.join(FIXTURES, "two_query_spans.json")) as f:
        spans = [dict(s, parent=None) for s in json.load(f)]
    return log, spans


def test_parse_two_query_session():
    log, _ = _fixture()
    assert len(log.sql) == 2
    assert len(log.jobs) == 4
    assert len(log.stages) == 4
    assert all(s.completed >= s.submitted for s in log.stages)


def test_fold_attributes_each_query_to_its_span():
    log, spans = _fixture()
    agg, scan = eventlog.fold(spans, log)
    assert (agg["name"], scan["name"]) == ("q_agg", "q_scan")
    assert agg["sql_executions"] == scan["sql_executions"] == 1
    assert agg["stages"] + scan["stages"] == 4
    # the aggregation shuffles; the scan's partial sum shuffles far less
    assert agg["shuffle_write_bytes"] > scan["shuffle_write_bytes"] > 0
    for r in (agg, scan):
        assert 0 < r["sql_s"] <= r["wall_s"]
        assert r["driver_only_s"] == pytest.approx(r["wall_s"] - r["sql_s"])
        assert r["executor_run_s"] > 0


def test_fold_nesting_and_time_attribution():
    log = eventlog.EventLog(
        sql=[(1.0, 2.0), (5.0, 6.0)],
        jobs=[(1.1, 1.9), (5.1, 5.9)],
        stages=[
            eventlog.Stage(1.2, 1.8, 0.5, 10, 100),
            eventlog.Stage(5.2, 5.8, 0.25, 20, 200),
            eventlog.Stage(8.0, 8.5, 1.0, 1, 1),  # outside every span
        ],
    )
    spans = [
        {"name": "op", "start": 0.0, "end": 7.0, "parent": None},
        {"name": "op/child", "start": 4.5, "end": 6.5, "parent": 0},
    ]
    op, child = eventlog.fold(spans, log)
    assert child["stages"] == 1 and child["input_bytes"] == 200
    assert op["stages"] == 2 and op["input_bytes"] == 300  # the subtree
    assert op["sql_s"] == pytest.approx(2.0)
    assert op["driver_only_s"] == pytest.approx(5.0)
    assert child["sql_s"] == pytest.approx(1.0)
    assert op["executor_run_s"] == pytest.approx(0.75)
