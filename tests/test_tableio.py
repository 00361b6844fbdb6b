"""TableIO semantics — ports the reference's unit/e2e write-path tests
(reference: elt-common/tests/unit_tests/iceberg/test_io.py:50-170 and
tests/e2e_tests/.../test_pyiceberg_pipeline.py:90-227,340-499)."""

from __future__ import annotations

import uuid

import pytest
import pyspark.sql.functions as F

from analytics_data_platform_spark.tables.io import TableIO
from analytics_data_platform_spark.tables.partition import (
    PartitionField,
    parse_partition_spec,
    parse_sort_spec,
)
from analytics_data_platform_spark.tables.schema_policy import (
    SchemaEvolutionError,
    diff_schemas,
)


@pytest.fixture()
def ns(spark):
    io = TableIO(spark)
    name = f"t_{uuid.uuid4().hex[:8]}"
    io.ensure_namespace(name)
    yield name
    io.drop_namespace(name)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_append_creates_then_appends(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.items"
    r1 = io.write_table(_df(spark, [(1, "a")], ["id", "v"]), t, mode="append")
    assert r1.created and r1.rows == 1
    r2 = io.write_table(_df(spark, [(2, "b")], ["id", "v"]), t, mode="append")
    assert not r2.created
    assert io.read(t).count() == 2


def test_replace_overwrites(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.items"
    io.write_table(_df(spark, [(i, "old") for i in range(5)], ["id", "v"]), t, mode="replace")
    io.write_table(_df(spark, [(9, "new")], ["id", "v"]), t, mode="replace")
    rows = io.read(t).collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_merge_upserts_on_keys(spark, ns):
    """1000-row seed + overlapping upserts from id 501 (reference e2e
    test_pyiceberg_pipeline.py:90-227 overlap check, scaled down)."""
    io = TableIO(spark)
    t = f"{ns}.data_items"
    seed = _df(spark, [(i, "A") for i in range(1, 11)], ["id", "category"])
    io.write_table(seed, t, mode="merge", merge_on=["id"])
    upserts = _df(spark, [(i, "B") for i in range(6, 21)], ["id", "category"])
    io.write_table(upserts, t, mode="merge", merge_on=["id"])
    out = io.read(t)
    assert out.count() == 20  # 1-5 kept, 6-10 updated, 11-20 inserted
    cats = {r["id"]: r["category"] for r in out.collect()}
    assert all(cats[i] == "A" for i in range(1, 6))
    assert all(cats[i] == "B" for i in range(6, 21))


def test_empty_batch_skipped(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.items"
    empty = _df(spark, [(1, "a")], ["id", "v"]).where(F.lit(False))
    r = io.write_table(empty, t, mode="append")
    assert r.rows == 0
    assert not io.table_exists(t)  # reference: empty chunk never creates


def test_schema_evolution_additive(spark, ns):
    """New column added; removed source column nulled for new rows
    (reference e2e :340-359, 429-499)."""
    io = TableIO(spark)
    t = f"{ns}.evolving"
    io.write_table(_df(spark, [(1, "a")], ["id", "v"]), t, mode="append")
    io.write_table(_df(spark, [(2, "b", 9.5)], ["id", "v", "score"]), t, mode="append")
    io.write_table(_df(spark, [(3,)], ["id"]), t, mode="append")  # v removed at source
    out = {r["id"]: r for r in io.read(t).collect()}
    assert out[1]["score"] is None
    assert out[2]["score"] == 9.5
    assert out[3]["v"] is None and out[3]["score"] is None


def test_schema_evolution_type_change_rejected(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.strict"
    io.write_table(_df(spark, [(1, "a")], ["id", "v"]), t, mode="append")
    bad = spark.createDataFrame([(2, 3.5)], "id int, v double")
    with pytest.raises(SchemaEvolutionError, match="type change"):
        io.write_table(bad, t, mode="append")


def test_diff_schemas_matrix(spark):
    """Type-mapping matrix semantics (reference test_schema.py:47-209)."""
    a = spark.createDataFrame([(1, "x")], "id int, v string").schema
    same = diff_schemas(a, a)
    assert not same.added and not same.missing
    b = spark.createDataFrame([(1, "x", 2.0)], "id int, v string, s double").schema
    d = diff_schemas(a, b)
    assert [f.name for f in d.added] == ["s"]
    with pytest.raises(SchemaEvolutionError):
        diff_schemas(a, spark.createDataFrame([(1, 1)], "id int, v int").schema)


def test_partition_spec_parse_and_layout(spark, ns):
    """Partition transforms create prunable layout
    (reference test_partition.py; monitor_peaks identity+month spec)."""
    fields = parse_partition_spec({"beamline": "identity", "run_start": "month"})
    assert [f.transform for f in fields] == ["identity", "month"]
    with pytest.raises(ValueError, match="unsupported partition transform"):
        parse_partition_spec({"x": "fortnight"})

    io = TableIO(spark)
    t = f"{ns}.peaks"
    df = spark.createDataFrame(
        [("mari", "2024-01-15", 1.0), ("mari", "2024-02-10", 2.0), ("let", "2024-01-20", 3.0)],
        ["beamline", "run_start", "peak"],
    ).withColumn("run_start", F.to_timestamp("run_start"))
    io.write_table(df, t, partition_spec={"beamline": "identity", "run_start": "month"})
    out = io.read(t)
    assert out.count() == 3
    assert "_p_month_run_start" in out.columns
    assert {r["_p_month_run_start"] for r in out.collect()} == {202401, 202402}


def test_bucket_and_truncate_transforms():
    assert PartitionField("id", "bucket[16]").expr() is not None
    assert PartitionField("name", "truncate[3]").expr() is not None
    assert parse_sort_spec(["a", "-b"])[1].descending is True


def test_properties_roundtrip(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.props"
    io.write_table(_df(spark, [(1,)], ["id"]), t)
    io.set_properties(t, {"ingest.watermark": '{"column": "id", "value": 1}'})
    assert io.get_property(t, "ingest.watermark") == '{"column": "id", "value": 1}'
    assert io.get_property(t, "missing.key") is None


def test_merge_preserves_watermark_property(spark, ns):
    io = TableIO(spark)
    t = f"{ns}.wm"
    io.write_table(_df(spark, [(1, "a")], ["id", "v"]), t, mode="merge", merge_on=["id"])
    io.set_watermark_json(t, {"column": "id", "value": 1})
    io.write_table(_df(spark, [(2, "b")], ["id", "v"]), t, mode="merge", merge_on=["id"])
    assert io.get_watermark_json(t) == {"column": "id", "value": 1}


def test_write_table_single_evaluation(spark, ns):
    """The batch source must be evaluated exactly once per write_table call
    (was: isEmpty + write + count = 3 full executions). The accumulator
    counts per-row UDF invocations; the write reads the populated cache."""
    t = f"{ns}.single_eval"
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    df = spark.range(0, 100, 1, 4).select(bump(F.col("id")).alias("id"))
    res = TableIO(spark).write_table(df, t, mode="append")
    assert res.rows == 100 and res.created
    assert acc.value == 100, f"source evaluated {acc.value / 100:.1f}x, expected 1x"


def test_runner_single_snapshot_per_chunk(spark, ns):
    """Ingest runner: count + watermark-max + write share one source scan,
    so the persisted watermark always describes the rows actually written."""
    from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties
    from analytics_data_platform_spark.elt.runner import run_ingest

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    def extractor(wm):
        yield spark.range(0, 50, 1, 4).select(
            bump(F.col("id")).alias("seq"), F.lit("x").alias("v")
        )

    class OneResource(Extract):
        def extract_resource_properties(self):
            yield "acc_rows", ResourceProperties(extractor, watermark_column="seq")

    stats = run_ingest(spark, OneResource(), ns)
    assert stats.resources["acc_rows"].rows == 50
    assert stats.resources["acc_rows"].watermark.value == 49
    assert acc.value == 50, f"chunk evaluated {acc.value / 50:.1f}x, expected 1x"


def test_merge_swap_failure_keeps_stage_for_recovery(spark, ns, monkeypatch):
    """Failure injection: if the in-place overwrite dies mid-merge, the
    stage table (the only complete copy of the merged rows) must survive,
    and restore_from_stage must complete the swap."""
    import pyspark.sql.readwriter as rw

    from analytics_data_platform_spark.tables.io import StageSwapError

    io = TableIO(spark)
    t = f"{ns}.merge_crash"
    io.write_table(_df(spark, [(1, "a"), (2, "b")], ["id", "v"]), t, mode="append")

    orig = rw.DataFrameWriter.insertInto

    def boom(self, *a, **kw):
        raise RuntimeError("injected executor failure")

    monkeypatch.setattr(rw.DataFrameWriter, "insertInto", boom)
    with pytest.raises(StageSwapError) as ei:
        io.write_table(
            _df(spark, [(2, "B"), (3, "c")], ["id", "v"]), t, mode="merge", merge_on=["id"]
        )
    monkeypatch.setattr(rw.DataFrameWriter, "insertInto", orig)

    stage = ei.value.stage
    assert stage == t + "__stage"
    assert io.table_exists(stage), "stage table must be kept on swap failure"
    assert {tuple(r) for r in spark.table(stage).collect()} == {(1, "a"), (2, "B"), (3, "c")}

    io.restore_from_stage(t)
    assert not io.table_exists(stage)
    assert {tuple(r) for r in spark.table(t).collect()} == {(1, "a"), (2, "B"), (3, "c")}
