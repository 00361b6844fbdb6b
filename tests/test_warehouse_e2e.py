"""Warehouse-level end-to-end: the five in-repo ingestion jobs land their
namespaces, the transform DAG builds every mart from the catalog, and an
incremental re-run stays idempotent (the reference's tier-3 nruns=2 e2e
strategy, SURVEY §5)."""

from __future__ import annotations

import uuid
from pathlib import Path

import pytest
import pyspark.sql.functions as F

from analytics_data_platform_spark.elt.pipeline import (
    discover_jobs,
    find_job,
    job_env_config,
    load_extract_class,
)
from analytics_data_platform_spark.elt.runner import run_ingest
from analytics_data_platform_spark.plans.dag import DataTestError
from analytics_data_platform_spark.plans.facility_ops import dag
from analytics_data_platform_spark.tables.io import TableIO

WAREHOUSES = Path(__file__).resolve().parent.parent / "warehouses"


def _make_archive(tmp_path: Path) -> Path:
    data = tmp_path / "NDXmari" / "Instrument" / "data"
    d = data / "cycle_24_2"
    d.mkdir(parents=True)
    for r in (4100, 4101, 4114):  # 4114 % 17 == 0 → low charge, skipped
        (d / f"mari{r}.nxs").touch()
    return tmp_path


def test_job_discovery_matches_reference_layout():
    jobs = discover_jobs(WAREHOUSES)
    assert {(j.domain, j.name) for j in jobs} == {
        ("accelerator", "opralogweb"),
        ("accelerator", "statusdisplay"),
        ("accelerator", "accelerator_sharepoint"),
        ("estates", "electricity_sharepoint"),
        ("beamlines", "moderator_performance"),
    }
    assert all(j.warehouse == "facility_ops_landing" for j in jobs)


@pytest.mark.parametrize(
    "job_name, env_var",
    [
        ("opralogweb", "OPRALOGWEB__JDBC_URL"),
        ("electricity_sharepoint", "ELECTRICITY_SHAREPOINT__SITE_URL"),
    ],
)
def test_configured_production_source_is_refused(monkeypatch, job_name, env_var):
    """A production source setting the repo cannot bind must fail the job,
    not land fake or sample rows in its place."""
    monkeypatch.setenv(env_var, "https://example.invalid/source")
    extract_cls = load_extract_class(find_job(WAREHOUSES, job_name))
    with pytest.raises(ValueError, match=env_var):
        extract_cls(**job_env_config(job_name))


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    """Run all five ingestion jobs into uniquely-suffixed namespaces."""
    sfx = uuid.uuid4().hex[:6]
    archive = _make_archive(tmp_path_factory.mktemp("archive"))
    io = TableIO(spark)
    ns: dict[str, str] = {}
    kwargs = {
        "opralogweb": {"n_entries": "40"},
        "statusdisplay": {},
        "accelerator_sharepoint": {},
        "electricity_sharepoint": {},
        "moderator_performance": {"archive_mount": str(archive), "mode": "full"},
    }
    for job_name, kw in kwargs.items():
        manifest = find_job(WAREHOUSES, job_name)
        extract = load_extract_class(manifest)(**kw)
        namespace = f"{manifest.namespace}_{sfx}"
        run_ingest(spark, extract, namespace)
        ns[manifest.namespace] = namespace
    yield ns
    for namespace in ns.values():
        io.drop_namespace(namespace)


def _dag_sources(spark, ns):
    out = {}
    for schema, table in dag.required_sources():
        actual = ns.get(schema)
        if actual and spark.catalog.tableExists(f"{actual}.{table}"):
            out[(schema, table)] = spark.table(f"{actual}.{table}")
    return out


def test_landing_tables_and_watermarks(spark, landed):
    io = TableIO(spark)
    entries = io.read(f"{landed['accelerator_opralogweb']}.entries")
    assert entries.count() == 40
    # X1 applied during ingestion: HTML stripped to markdown
    sample = entries.where(F.col("entry_id") == 1).collect()[0]["additional_comment"]
    assert sample == "Fault **1** in sector 1"
    wm = io.get_watermark_json(f"{landed['accelerator_opralogweb']}.entries")
    assert wm and wm["column"] == "last_changed"

    peaks = io.read(f"{landed['beamlines_moderator_performance']}.monitor_peaks")
    rows = peaks.collect()
    assert {r["run_number"] for r in rows} == {4100, 4101}  # 4114 low-charge skipped
    assert all(abs(r["peak_centre"] - 52.0) < 1.0 for r in rows)
    assert "_p_month_run_start" in peaks.columns  # month() partition realized

    power = io.read(f"{landed['estates_electricity_sharepoint']}.rdm_data")
    assert power.count() == 5  # both sample-file sections parsed


def test_transform_dag_from_catalog_and_rerun_idempotent(spark, landed):
    marts = f"facility_ops_{uuid.uuid4().hex[:6]}"
    io = TableIO(spark)
    try:
        built = dag.run(spark, sources=_dag_sources(spark, landed), target_namespace=marts)

        cycles = built["cycles"].collect()
        assert {r["name"] for r in cycles} == {"2024/1", "2024/2"}
        assert len(cycles) == 2  # target-duplicate phases deduped (A2)

        recs = built["mcr_equipment_downtime_records"]
        n_records = recs.count()
        assert n_records > 3  # sharepoint era + opralog era
        by_desc = {r["fault_description"]: r for r in recs.collect()}
        # opralog-era record enriched by the cycle interval join + category map
        some_opralog = [r for d, r in by_desc.items() if d.startswith("Fault **")]
        assert some_opralog, "no opralog-era records in mart"
        magnet = [r for r in some_opralog if r["equipment"].startswith("Magnet")]
        assert magnet and all(r["equipment_category"] == "magnets" for r in magnet)
        # interval join: entries after 2024-01-01 07:30 land in cycle 2024/1
        in_cycle = [r for r in some_opralog if r["cycle_name"] == "2024/1"]
        assert in_cycle and all(r["cycle_phase"] == "run-up" for r in in_cycle)
        # sharepoint-era rows keep NULL cycle_phase
        assert by_desc["kicker fault"]["cycle_phase"] is None
        assert by_desc["kicker fault"]["equipment_category"] == "extraction"

        # incremental re-run: mutate source, re-ingest, rebuild → same keys
        manifest = find_job(WAREHOUSES, "opralogweb")
        extract = load_extract_class(manifest)(n_entries="40", changed_offset="35")
        stats = run_ingest(spark, extract, landed["accelerator_opralogweb"])
        assert 0 < stats.resources["entries"].rows < 40  # only changed rows moved
        entries = io.read(f"{landed['accelerator_opralogweb']}.entries")
        assert entries.count() == 40  # merge kept keys unique

        rebuilt = dag.run(spark, sources=_dag_sources(spark, landed), target_namespace=marts)
        assert rebuilt["mcr_equipment_downtime_records"].count() == n_records
    except DataTestError as e:
        pytest.fail(f"data tests failed: {e}")
    finally:
        io.drop_namespace(marts)
