"""CLI job discovery/run + maintenance tests (reference: cli.py:50-75,
pipeline.py:41-78, maintenance tests)."""

from __future__ import annotations

import textwrap
import uuid
from pathlib import Path

import pytest

from analytics_data_platform_spark.elt import cli, pipeline
from analytics_data_platform_spark.tables import maintenance
from analytics_data_platform_spark.tables.io import TableIO

JOB_MODULE = textwrap.dedent(
    '''
    """Test ingestion job (fake in-memory source)."""
    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F
    from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties

    class ItemsExtract(Extract):
        def __init__(self, rows: str = "5"):
            self.n = int(rows)

        def extract_resource_properties(self):
            spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
            def extractor(wm):
                df = spark.range(self.n).select(F.col("id"), F.lit("x").alias("v"))
                if wm is not None:
                    df = df.where(F.col("id") > int(wm.value))
                yield df
            yield "items", ResourceProperties(extractor, watermark_column="id")
    '''
)


@pytest.fixture()
def project(tmp_path: Path) -> Path:
    job_dir = tmp_path / "facility_ops_landing" / "ingest" / "accelerator" / "itemsjob"
    job_dir.mkdir(parents=True)
    (job_dir / "itemsjob.py").write_text(JOB_MODULE)
    # decoys that must NOT be discovered
    (tmp_path / "facility_ops_landing" / "ingest" / "accelerator" / "notajob").mkdir()
    (tmp_path / "docs").mkdir()
    return tmp_path


def test_discover_and_find(project):
    jobs = pipeline.discover_jobs(project)
    assert [(j.warehouse, j.domain, j.name) for j in jobs] == [
        ("facility_ops_landing", "accelerator", "itemsjob")
    ]
    j = pipeline.find_job(project, "itemsjob")
    assert j.namespace == "accelerator_itemsjob"
    with pytest.raises(LookupError, match="not found; discovered jobs: itemsjob"):
        pipeline.find_job(project, "missing")


def test_env_config_prefix():
    env = {"ITEMSJOB__ROWS": "7", "ITEMSJOB__MODE": "full", "OTHER__ROWS": "9"}
    assert pipeline.job_env_config("itemsjob", env) == {"rows": "7", "mode": "full"}


def test_load_extract_class(project):
    cls = pipeline.load_extract_class(pipeline.find_job(project, "itemsjob"))
    assert cls.__name__ == "ItemsExtract"


def test_cli_list_and_run(spark, project, capsys, monkeypatch):
    assert cli.main(["list", str(project)]) == 0
    assert "accelerator_itemsjob" in capsys.readouterr().out

    ns = f"cli_{uuid.uuid4().hex[:6]}"
    monkeypatch.setenv("ITEMSJOB__ROWS", "6")
    try:
        assert cli.main(["run", str(project), "itemsjob", "--namespace", ns]) == 0
        out = capsys.readouterr().out
        assert "6 rows" in out and "'value': 5" in out
        assert TableIO(spark).read(f"{ns}.items").count() == 6
    finally:
        TableIO(spark).drop_namespace(ns)


def test_iceberg_maintenance_sql():
    stmts = maintenance.iceberg_maintenance_sql("lake", "ns.t", retention_days=7)
    assert stmts[0] == "CALL lake.system.rewrite_data_files(table => 'ns.t')"
    assert "rewrite_manifests" in stmts[1]
    assert "expire_snapshots" in stmts[2] and "now_minus_7d" in stmts[2]
    assert "remove_orphan_files" in stmts[3]


def test_compaction_roundtrip(spark):
    ns = f"mx_{uuid.uuid4().hex[:6]}"
    io = TableIO(spark)
    io.ensure_namespace(ns)
    t = f"{ns}.frag"
    try:
        # 12 tiny appends → fragmented table
        for i in range(12):
            io.write_table(spark.range(i * 10, (i + 1) * 10).select("id"), t, mode="append")
        io.set_watermark_json(t, {"column": "id", "value": 119})
        n_before, _ = maintenance.table_file_stats(spark, t)
        assert n_before >= 12
        msg = maintenance.compact_table(spark, t, target_file_mb=128)
        assert "compacted" in msg
        n_after, _ = maintenance.table_file_stats(spark, t)
        assert n_after < n_before
        assert spark.table(t).count() == 120
        # state survives compaction
        assert io.get_watermark_json(t) == {"column": "id", "value": 119}
        # second run is a no-op
        assert "skip" in maintenance.compact_table(spark, t, target_file_mb=128)
    finally:
        io.drop_namespace(ns)


def test_run_maintenance_loop(spark):
    ns = f"mx_{uuid.uuid4().hex[:6]}"
    io = TableIO(spark)
    io.ensure_namespace(ns)
    try:
        for i in range(6):
            io.write_table(spark.range(5).select("id"), f"{ns}.a", mode="append")
        io.write_table(spark.range(5).select("id"), f"{ns}.b")
        results = maintenance.run_maintenance(spark, namespaces=[ns])
        assert len(results) == 2
        assert any("compacted" in r or "skip" in r for r in results)
        assert spark.table(f"{ns}.a").count() == 30
        assert spark.table(f"{ns}.b").count() == 5
    finally:
        io.drop_namespace(ns)


def test_cli_query_list_and_run(spark, capsys):
    """elt query: 'list' enumerates the registry; a named query prints rows."""
    from analytics_data_platform_spark.elt.cli import main

    assert main(["query", "list"]) == 0
    out = capsys.readouterr().out
    assert "bm25_search" in out and "q1_pricing_summary" in out

    assert main(["query", "nope-no-such-query"]) == 1

    assert main(["query", "distinct_segments", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "BUILDING" in out or "segment" in out.lower()


def test_index_fleet_maintenance_with_mid_fleet_crash(spark, tmp_path, monkeypatch):
    """`elt maintain --indexes <root>` over a fleet of BOTH index kinds:
    discovers the indexes (skipping a mid-merge consumed source), resumes
    a torn segment merge from its pending marker, materializes pending
    deletes, compacts small append files — and a crash on ONE index does
    not starve the rest of the fleet (cron semantics: visit all, then
    raise a summary)."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators import search_index as SI
    from analytics_data_platform_spark.operators.search_index import SearchIndex
    from analytics_data_platform_spark.operators.vector_index import VectorIndex
    from analytics_data_platform_spark.queries.search_ops import QUERY_TERMS
    from analytics_data_platform_spark.sources.testdata import load_table
    from analytics_data_platform_spark.tables.maintenance import (
        discover_index_roots,
        maintain_index_fleet,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fleet = tmp_path / "indexes"

    # s1: scored index with small append files AND pending deletes
    s1 = SearchIndex(spark, str(fleet / "s1"), mode="scored")
    s1.build(d.where(F.col("doc_id") % 3 == 0))
    for tick in (1, 2):
        s1.append(d.where(F.col("doc_id") % 3 == tick))
    victims = [r.doc_id for r in d.where(F.col("doc_id") % 7 == 0).select("doc_id").collect()]
    s1.delete_docs(victims)
    want_s1 = {tuple(r) for r in s1.bm25(QUERY_TERMS).collect()}

    # v1: vector index with pending erasures
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    v1 = VectorIndex(spark, str(fleet / "v1"), nlist=8, nprobe=4).build(
        e, centroids=cents
    )
    v1.delete_vecs([r.vec_id for r in e.where(F.col("vec_id") % 11 == 3).select("vec_id").collect()])
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    want_v1 = {tuple(r) for r in v1.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}

    # s2: a TORN segment merge (crash mid-adoption; marker pins the source)
    s2 = SearchIndex(spark, str(fleet / "s2"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    s2src = SearchIndex(spark, str(fleet / "s2src"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 1)
    )
    real_adopt = SI.adopt_parquet_tree

    def dying_adopt(src, dst, tag):
        real_adopt(src, dst, tag)
        raise RuntimeError("injected crash mid-adoption")

    monkeypatch.setattr(SI, "adopt_parquet_tree", dying_adopt)
    with pytest.raises(RuntimeError, match="injected"):
        s2.merge_from(s2src)
    monkeypatch.setattr(SI, "adopt_parquet_tree", real_adopt)
    assert "pending_merge" in s2._read_meta()

    found = discover_index_roots(str(fleet))
    assert found == [
        ("search", str(fleet / "s1")),
        ("search", str(fleet / "s2")),
        ("vector", str(fleet / "v1")),
    ], "consumed mid-merge source must not be discovered as its own index"

    # crash mid-fleet: s1's delete materialization dies; the loop must
    # still visit s2 and v1, then raise the summary
    real_apply = SearchIndex.apply_deletes

    def dying_apply(self):
        if self.root.endswith("s1"):
            raise RuntimeError("injected mid-fleet crash")
        return real_apply(self)

    monkeypatch.setattr(SearchIndex, "apply_deletes", dying_apply)
    lines: list[str] = []
    with pytest.raises(RuntimeError, match="1 index\\(es\\) failed"):
        for line in maintain_index_fleet(spark, str(fleet)):
            lines.append(line)
    monkeypatch.setattr(SearchIndex, "apply_deletes", real_apply)
    assert any("s1: FAILED" in ln for ln in lines)
    assert any("s2: resumed torn merge" in ln for ln in lines)
    assert any("v1: materialized pending deletes" in ln for ln in lines)

    # second pass heals everything and is quiet about past damage
    lines = list(maintain_index_fleet(spark, str(fleet)))
    assert any("s1: materialized pending deletes" in ln for ln in lines)
    assert all("FAILED" not in ln for ln in lines)

    # served results unchanged by the whole maintenance cycle
    assert {tuple(r) for r in s1.bm25(QUERY_TERMS).collect()} == want_s1
    assert {tuple(r) for r in v1.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()} == want_v1
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert {tuple(r) for r in s2.bm25(QUERY_TERMS).collect()} == {
        tuple(r) for r in one.bm25(QUERY_TERMS).collect()
    }
    assert s1._delete_ids() is None and v1._delete_ids() is None

    # the CLI surface drives the same loop
    monkeypatch.setattr(cli, "get_spark", lambda **kw: spark)
    assert cli.main(["maintain", "--indexes", str(fleet)]) == 0


def test_index_fleet_heals_torn_reshard_and_retrain(spark, tmp_path, monkeypatch):
    """A reshard/retrain that died right after its marker (stage fully
    written, swap not installed) must heal FORWARD under the fleet
    maintenance loop: both indexes come out serving the new layout with
    their markers gone and results unchanged."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators.search_index import SearchIndex
    from analytics_data_platform_spark.operators.vector_index import VectorIndex
    from analytics_data_platform_spark.queries.search_ops import QUERY_TERMS
    from analytics_data_platform_spark.sources.testdata import load_table
    from analytics_data_platform_spark.tables.maintenance import maintain_index_fleet

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fleet = tmp_path / "indexes"

    s = SearchIndex(spark, str(fleet / "s"), mode="scored", buckets=8).build(d)
    want_s = {tuple(r) for r in s.bm25(QUERY_TERMS).collect()}
    cents8 = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    cents16 = [
        [float(x) for x in r["embedding"]]
        for r in e.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 66))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    v = VectorIndex(spark, str(fleet / "v"), nlist=8, nprobe=4).build(
        e, centroids=cents8
    )
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )

    def die(self, meta):  # crash right after the marker commits
        raise RuntimeError("injected post-marker crash")

    monkeypatch.setattr(SearchIndex, "_finish_reshard", die)
    with pytest.raises(RuntimeError, match="post-marker"):
        s.reshard(48)
    monkeypatch.undo()
    monkeypatch.setattr(VectorIndex, "_finish_retrain", die)
    with pytest.raises(RuntimeError, match="post-marker"):
        v.retrain(centroids=cents16)
    monkeypatch.undo()
    assert s._read_meta().get("pending_reshard")
    assert v._read_meta().get("pending_retrain")

    lines = list(maintain_index_fleet(spark, str(fleet)))
    assert all("FAILED" not in ln for ln in lines)

    s2 = SearchIndex(spark, str(fleet / "s"), mode="scored", buckets=48)
    assert {tuple(r) for r in s2.bm25(QUERY_TERMS).collect()} == want_s
    assert "pending_reshard" not in s2.stats()
    v2 = VectorIndex(spark, str(fleet / "v"), nprobe=4)
    want_v = {
        tuple(r)
        for r in VectorIndex(spark, str(tmp_path / "one"), nlist=16, nprobe=4)
        .build(e, centroids=cents16)
        .topk(q)
        .select("q_id", "vec_id", "cos_sim", "rank")
        .collect()
    }
    got_v = {
        tuple(r)
        for r in v2.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got_v == want_v and v2.nlist == 16
    assert "pending_retrain" not in v2.stats()


def test_index_fleet_growth_policy(spark, tmp_path):
    """--grow-target-mb: when the average bucket/cell outgrows the
    target, the fleet loop reshards/retrains to the smallest
    power-of-two multiple that fits — serving preserved on the lexical
    side (reshard is serve-invariant), one-shot-equivalent under the new
    quantizer on the vector side; sq8 tiers report and skip (retrain
    needs full-precision vectors)."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators.search_index import SearchIndex
    from analytics_data_platform_spark.operators.vector_index import VectorIndex
    from analytics_data_platform_spark.queries.search_ops import QUERY_TERMS
    from analytics_data_platform_spark.sources.testdata import load_table
    from analytics_data_platform_spark.tables.maintenance import (
        _index_data_bytes,
        maintain_index_fleet,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fleet = tmp_path / "indexes"
    cents8 = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]

    s = SearchIndex(spark, str(fleet / "s"), mode="scored", buckets=8).build(d)
    v = VectorIndex(spark, str(fleet / "v"), nlist=8, nprobe=4).build(
        e, centroids=cents8
    )
    vq = VectorIndex(spark, str(fleet / "vq"), nlist=8, nprobe=4, storage="sq8").build(
        e, centroids=cents8
    )
    want_s = {tuple(r) for r in s.bm25(QUERY_TERMS).collect()}

    # one doubling for the smaller index, ≥1 for the larger; sq8 trips too
    floor_bytes = min(
        _index_data_bytes(s.postings_dir), _index_data_bytes(v.cells_dir)
    )
    target_mb = (floor_bytes / 12) / (1024 * 1024)
    lines = list(maintain_index_fleet(spark, str(fleet), grow_target_mb=target_mb))
    assert any("resharded 8 ->" in ln for ln in lines)
    assert any("retrained 8 ->" in ln for ln in lines)
    assert any("storage=sq8" in ln and "skipped" in ln for ln in lines)
    assert all("FAILED" not in ln for ln in lines)

    s.stats()  # the stale handle refreshes its layout from the sidecar
    assert s.buckets > 8
    s2 = SearchIndex(spark, str(fleet / "s"), mode="scored", buckets=s.buckets)
    assert {tuple(r) for r in s2.bm25(QUERY_TERMS).collect()} == want_s

    v2 = VectorIndex(spark, str(fleet / "v"), nprobe=4)
    assert v2.nlist > 8
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    one = VectorIndex(spark, str(tmp_path / "one"), nprobe=4).build(
        e, centroids=v2.centroids
    )
    got = {tuple(r) for r in v2.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}
    want = {tuple(r) for r in one.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == want, "grown index must equal a one-shot build under its quantizer"

    # sq8 tier untouched: layout and quantizer unchanged
    vq2 = VectorIndex(spark, str(fleet / "vq"), nprobe=4)
    assert vq2.nlist == 8 and vq2.storage == "sq8"

    # sizing rule: grows to the first fitting power-of-two multiple, is
    # idempotent once under target, and caps at 4096 (a topology
    # decision, not a cron's)
    from analytics_data_platform_spark.tables.maintenance import _grown_partitions

    assert _grown_partitions(8, 100 << 20, 10 << 20) == 16
    assert _grown_partitions(16, 100 << 20, 10 << 20) == 16
    assert _grown_partitions(8, 1 << 50, 1 << 20) == 4096
