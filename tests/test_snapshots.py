"""Manifest snapshots (tables/snapshots.py): O(batch) append, file-skipping
copy-on-write merge, merge-on-read deletes, stats-pruned scans, crash consistency, and the
four maintenance procedures EXECUTED (reference drives them as Iceberg
stored procedures, maintenance/__init__.py:34-51)."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from analytics_data_platform_spark.tables.snapshots import (
    CommitConflict,
    SnapshotTable,
    snapshot_maintenance,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def _paths(t, version=None):
    return {f.path for f in t.snapshot(version).files}


def test_append_is_o_batch_and_time_travels(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a"), (2, "b")]))
    v1_paths = _paths(t)
    t.append(_df(spark, [(3, "c")]))
    # O(batch): every v1 file carried over BY REFERENCE, only new files added
    assert v1_paths < _paths(t)
    assert {r.id for r in t.read().collect()} == {1, 2, 3}
    assert {r.id for r in t.read(version=1).collect()} == {1, 2}
    ops = [h["op"] for h in t.history()]
    assert ops == ["replace", "append"]


def test_merge_skips_files_outside_key_range(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # two appends → disjoint id ranges live in separate files
    t.replace(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.append(_df(spark, [(100, "x"), (101, "y")]).coalesce(1))
    low_files = _paths(t, 1)
    t.merge(_df(spark, [(100, "X"), (102, "z")]), keys=["id"])
    # file holding ids 1-2 cannot intersect [100, 102] → carried over untouched
    assert low_files < _paths(t)
    rows = {r.id: r.val for r in t.read().collect()}
    assert rows == {1: "a", 2: "b", 100: "X", 101: "y", 102: "z"}
    # pre-merge state intact (time travel)
    assert {r.val for r in t.read(version=2).collect()} == {"a", "b", "x", "y"}


def test_merge_into_empty_and_null_bounds_fall_back_sound(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, "a")]), keys=["id"])  # merge into nothing = insert
    t.merge(
        spark.createDataFrame([(None, "n")], "id long, val string"), keys=["id"]
    )  # null key bounds → prune disabled, not wrong
    assert {r.val for r in t.read().collect()} == {"a", "n"}


def test_scan_prunes_files_from_manifest_stats(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(i, "lo") for i in range(5)]).coalesce(1))
    t.append(_df(spark, [(i, "hi") for i in range(100, 105)]).coalesce(1))
    scanned = t.scan("id", 100, 200)
    # manifest pruning: the scan's file list excludes the low-range file
    assert len(scanned.inputFiles()) == 1 < len(t.snapshot().files)
    assert {r.id for r in scanned.collect()} == {100, 101, 102, 103, 104}
    # out-of-range scan: zero files, empty result, still a valid plan
    assert t.scan("id", 1000, 2000).count() == 0


def test_scan_keeps_manifest_pruning_under_pending_deletes(spark, tmp_path):
    """With merge-on-read deletes pending, a range scan still reads only
    the candidate files and equals the delete-applied read filtered to
    the range."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(i, "lo") for i in range(5)]).coalesce(1))
    t.append(_df(spark, [(i, "hi") for i in range(100, 105)]).coalesce(1))
    t.delete_keys_mor(spark.createDataFrame([(2,), (102,)], "id long"), ["id"])
    candidates = {
        f.path for f in t.snapshot().files if f.may_contain("id", 100, 200)
    }
    deletes = {
        p for e in t.snapshot().delete_files for p in [e["path"], *e.get("extra_paths", [])]
    }
    scanned = t.scan("id", 100, 200)
    read = {p.removeprefix("file://") for p in scanned.inputFiles()}
    # data files: the candidates only; the rest is the delete file itself
    assert read - deletes == candidates
    assert len(candidates) == 1 < len(t.snapshot().files)
    want = t.read().where("id BETWEEN 100 AND 200")
    assert sorted(map(tuple, scanned.collect())) == sorted(map(tuple, want.collect()))
    assert {r.id for r in scanned.collect()} == {100, 101, 103, 104}


def test_crash_before_commit_is_invisible_then_orphan_collected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    # simulate a crash: data files written, manifest never committed
    t._write_files(_df(spark, [(99, "zz")]))
    assert {r.id for r in t.read().collect()} == {1}  # readers unaffected
    removed = t.remove_orphan_files(older_than_s=0.0)
    assert removed  # the stray files are gone
    assert {r.id for r in t.read().collect()} == {1}


def test_commit_conflict_single_winner(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    # simulate the race: a rival takes manifest slot 2 AFTER this writer
    # has planned its commit (versions() pinned to the pre-race listing)
    rival = t._manifest_path(2)
    with open(rival, "w") as f:
        f.write("{}")
    orig_versions = t.versions
    t.versions = lambda: [1]
    try:
        with pytest.raises(CommitConflict):
            t.append(_df(spark, [(2, "b")]))
    finally:
        t.versions = orig_versions
    os.remove(rival)
    # loser's data files are orphans; a retry then succeeds
    t.remove_orphan_files(older_than_s=0.0)
    t.append(_df(spark, [(2, "b")]))
    assert {r.id for r in t.read().collect()} == {1, 2}


def test_rollback_commits_new_snapshot(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    t.replace(_df(spark, [(2, "b")]))
    v = t.rollback(1)
    assert v == 3  # history stays linear — rollback is itself a snapshot
    assert {r.id for r in t.read().collect()} == {1}
    assert {r.id for r in t.read(version=2).collect()} == {2}


def test_rollback_restores_pre_delete_mor_state(spark, tmp_path):
    """Rolling back past a merge-on-read delete must NOT keep the delete
    applying: the delete file's applies_to names the restored data files,
    so an inherited delete list would silently re-delete them."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a"), (2, "b")]))
    v_before = t.current_version()
    t.delete_keys_mor(_df(spark, [(1, "a")]).select("id"), ["id"])
    assert {r.id for r in t.read().collect()} == {2}
    t.rollback(v_before)
    assert {r.id for r in t.read().collect()} == {1, 2}
    assert t.snapshot().delete_files == []


def test_expire_snapshots_reclaims_unreferenced_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    old_paths = _paths(t)
    t.replace(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    out = t.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] == [1]
    assert all(not os.path.exists(p) for p in old_paths)  # v1-only files gone
    # v2's files survive: v3 still references them
    assert {r.id for r in t.read(version=2).collect()} == {2}
    assert {r.id for r in t.read().collect()} == {2, 3}
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)


def test_rewrite_data_files_binpacks_small_keeps_big(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # 4 tiny files via 4 separate appends
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}")]).coalesce(1))
    before = t.snapshot()
    assert len(before.files) == 4
    out = t.rewrite_data_files(target_file_bytes=1 << 20)
    after = t.snapshot()
    assert out["rewritten"] == 4 and len(after.files) < 4
    assert {r.id for r in t.read().collect()} == {0, 1, 2, 3}


def test_rewrite_data_files_keeps_evolved_columns(spark, tmp_path):
    """Binpack after an additive schema evolution: three pre-evolution
    files and one evolved file rewrite to one file that still holds the
    evolved column's values. A read schema inferred from the files takes
    ONE file's schema — a pre-evolution one — and loses them; binpack
    reads with the manifest schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, [(i, f"v{i}")]).coalesce(1))
    t.append(
        spark.createDataFrame([(3, "v3", 9.5)], "id long, val string, score double")
    )
    out = t.rewrite_data_files(target_file_bytes=1 << 20)
    assert out["rewritten"] == 4 and len(t.snapshot().files) == 1
    rows = {r.id: (r.val, r.score) for r in t.read().collect()}
    assert rows == {0: ("v0", None), 1: ("v1", None), 2: ("v2", None), 3: ("v3", 9.5)}
    assert "score" in t.snapshot().files[0].stats


def test_snapshot_maintenance_runs_all_four(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}")]).coalesce(1))
    t._write_files(_df(spark, [(999, "orphan")]))  # crashed write
    report = snapshot_maintenance(t, keep_last=2, target_file_bytes=1 << 20)
    assert set(report) == {
        "rewrite_data_files", "rewrite_manifests",
        "expire_snapshots", "remove_orphan_files",
    }
    assert report["remove_orphan_files"] >= 1
    assert {r.id for r in t.read().collect()} == {0, 1, 2, 3}


def test_stats_cols_restricts_manifest_stats(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    t.replace(_df(spark, [(1, "a")]))
    stats = t.snapshot().files[0].stats
    assert "id" in stats and "val" not in stats
    assert stats["id"]["min"] == 1 and stats["id"]["nulls"] == 0


def test_append_evolves_schema_additively(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, val string, score double")
    )
    live = t.read()
    assert live.columns == ["id", "val", "score"]
    rows = {r.id: (r.val, r.score) for r in live.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}  # old file surfaces NULL
    # the pre-evolution snapshot still reads with its own schema
    assert t.read(version=1).columns == ["id", "val"]
    # type changes are rejected, not silently cast
    with pytest.raises(ValueError, match="additive-only"):
        t.append(spark.createDataFrame([("x", "y")], "id string, val string"))


def test_cluster_by_makes_stats_prune_unsorted_data(spark, tmp_path):
    """Range-clustered writes give each file a tight value range; a point
    scan then touches one file. The same data written unclustered spans
    the domain in every file — stats cannot prune anything."""
    rows = [(i * 37 % 1000, f"v{i}") for i in range(1000)]  # shuffled ids

    flat = SnapshotTable(spark, str(tmp_path / "flat"))
    flat.replace(_df(spark, rows).repartition(4))
    clustered = SnapshotTable(spark, str(tmp_path / "clus"), cluster_by=["id"])
    clustered.replace(_df(spark, rows).repartition(4))

    assert len(clustered.scan("id", 5, 10).inputFiles()) == 1
    assert len(flat.scan("id", 5, 10).inputFiles()) == len(flat.snapshot().files)
    assert {r.id for r in clustered.scan("id", 5, 10).collect()} == {
        r.id for r in flat.scan("id", 5, 10).collect()
    }


def test_lineitem_ingest_scan_pruning_end_to_end(spark, tmp_path, sf_dir):
    """Real-table proof: lineitem ingested into a ship-date-clustered
    snapshot table; a one-month range scan must (a) read a strict subset
    of files via manifest stats and (b) return exactly the rows a full
    scan+filter does."""
    from analytics_data_platform_spark.sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
        "l_quantity",
    )
    t = SnapshotTable(
        spark, str(tmp_path / "li"), cluster_by=["l_shipdate"], cluster_files=8
    )
    t.replace(li)
    assert len(t.snapshot().files) > 1

    import datetime as dt

    lo, hi = dt.date(1996, 3, 1), dt.date(1996, 3, 31)
    pruned = t.scan("l_shipdate", lo, hi)
    assert 0 < len(pruned.inputFiles()) < len(t.snapshot().files)
    expected = li.where(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi))
    )
    assert pruned.count() == expected.count() > 0
    assert (
        pruned.agg(F.sum("l_quantity")).collect()[0][0]
        == expected.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_tpch_refresh_functions_rf1_rf2(spark, tmp_path, sf_dir):
    """TPC-H's refresh stream on the snapshot layer: RF1 appends a new
    orders batch (O(batch) commit), RF2 deletes it again (merge-on-read
    equality delete of the batch's keys, then materialized). After RF1+RF2
    the table equals its initial state row-for-row, and every
    intermediate state stays time-travelable."""
    from analytics_data_platform_spark.sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    base = orders.where("o_orderkey % 100 != 7")
    refresh = orders.where("o_orderkey % 100 = 7")
    n_base, n_new = base.count(), refresh.count()
    assert n_new > 0

    t = SnapshotTable(spark, str(tmp_path / "ord"), cluster_by=["o_orderkey"], cluster_files=4)
    t.replace(base)
    v0 = t.current_version()

    # RF1: insert the refresh batch — parent files untouched
    before = {f.path for f in t.snapshot().files}
    t.append(refresh)
    assert before < {f.path for f in t.snapshot().files}
    assert t.read().count() == n_base + n_new

    # RF2: delete the same keys — O(keys) commit, no data file rewritten
    with_refresh = {f.path for f in t.snapshot().files}
    t.delete_keys_mor(refresh.select("o_orderkey"), ["o_orderkey"])
    assert {f.path for f in t.snapshot().files} == with_refresh
    assert t.read().count() == n_base
    t.apply_deletes()
    # row-for-row identity with the initial state
    assert t.read().exceptAll(t.read(version=v0)).count() == 0
    assert t.read(version=v0).exceptAll(t.read()).count() == 0


def test_merge_on_read_deletes(spark, tmp_path):
    """Iceberg-v2-style equality deletes: O(keys) commit with NO data
    rewrite; readers anti-join; sequence semantics protect later appends;
    apply_deletes materializes and clears."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    data_paths = _paths(t)

    t.delete_keys_mor(spark.createDataFrame([(2,)], "id long"), ["id"])
    # no data file rewritten — same paths, rows masked at read
    assert _paths(t) == data_paths
    assert {r.id for r in t.read().collect()} == {1, 3}
    # scan applies the pending delete to its candidate files
    assert {r.id for r in t.scan("id", 1, 3).collect()} == {1, 3}

    # sequence semantics: a LATER append of id=2 is NOT deleted
    t.append(_df(spark, [(2, "b2")]).coalesce(1))
    assert {(r.id, r.val) for r in t.read().collect()} == {(1, "a"), (3, "c"), (2, "b2")}

    # CoW mutators refuse while deletes are pending
    with pytest.raises(ValueError, match="apply_deletes"):
        t.merge(_df(spark, [(9, "z")]), keys=["id"])

    # orphan GC must NOT collect the delete file
    t.remove_orphan_files(older_than_s=0.0)
    assert {(r.id, r.val) for r in t.read().collect()} == {(1, "a"), (3, "c"), (2, "b2")}

    v = t.apply_deletes()
    assert not t.snapshot(v).delete_files
    assert {(r.id, r.val) for r in t.read().collect()} == {(1, "a"), (3, "c"), (2, "b2")}
    # after materialization, CoW ops work again
    t.merge(_df(spark, [(9, "z")]), keys=["id"])
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 9}


def test_refs_pin_snapshots_against_expiry(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    pinned = t.set_ref("main")
    for i in range(4):
        t.append(_df(spark, [(10 + i, "x")]))
    out = t.expire_snapshots(keep_last=1)
    assert t.resolve_ref("main") == pinned
    assert pinned not in out["expired_snapshots"]
    assert {r.id for r in t.read(pinned).collect()} == {1, 2}
    t.drop_ref("main")
    assert "main" not in t.refs()


def test_concurrent_appends_with_retry_all_land(spark, tmp_path):
    """Two writer threads race appends, each retrying on CommitConflict
    against the new live snapshot: every batch must land exactly once (no
    lost updates), history stays linear, and losers' abandoned files are
    GC-able orphans at worst."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(0, "seed")]))
    errors = []

    def append_with_retry(rid: int, attempts: int = 20) -> None:
        for _ in range(attempts):
            try:
                t.append(_df(spark, [(rid, f"w{rid}")]))
                return
            except CommitConflict:
                continue
        raise AssertionError(f"append {rid} lost every one of {attempts} races")

    def writer(base: int):
        try:
            for i in range(3):
                append_with_retry(base * 100 + i)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads), "a writer hung"
    assert not errors, errors
    ids = {r.id for r in t.read().collect()}
    assert ids == {0, 100, 101, 102, 200, 201, 202}
    versions = t.versions()
    assert versions == list(range(1, len(versions) + 1))  # linear history
    t.remove_orphan_files(older_than_s=0.0)
    assert {r.id for r in t.read().collect()} == ids


def test_footer_stats_match_scan_stats(spark, tmp_path):
    """Every stats type — string included — takes its manifest stats from
    the parquet-mr footers (no second scan job), and they are
    byte-identical, file by file, to the scan path's: null mixes, an
    all-null column, dates, booleans. The adversarial string and float
    shapes are gated in tests/test_footer_stats.py."""
    import datetime as dt
    import json

    from analytics_data_platform_spark.tables.snapshots import footer_datafiles

    rows = [
        (1, 2.5, dt.date(2024, 1, 2), True, None, "aa"),
        (4, None, dt.date(2023, 5, 1), False, None, "zz"),
        (None, -1.25, dt.date(2024, 3, 9), None, None, None),
    ]
    schema = "i bigint, x double, d date, b boolean, allnull int, s string"
    df = spark.createDataFrame(rows, schema).repartition(2)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    files = t._write_files(df)
    d = os.path.dirname(files[0].path)
    cols = ["i", "x", "d", "b", "allnull", "s"]
    footer = footer_datafiles(d, cols)
    assert footer is not None  # the fast path engaged, string column and all
    scan = t._scan_datafiles(d, df.schema, cols)

    def manifest(fs):
        return json.dumps(
            [f.to_json() for f in sorted(fs, key=lambda f: f.path)], sort_keys=True
        )

    assert manifest(files) == manifest(footer) == manifest(scan)
    assert sum(f.rows for f in files) == 3


def test_commit_refuses_stale_parent_lineage(spark, tmp_path, monkeypatch):
    """The lost-update window the O_EXCL CAS alone cannot catch: a
    committer whose parent went stale between reading it and numbering
    its manifest lands at a DIFFERENT next_v than the racer (no name
    collision), and without the locked parent re-check it would flip the
    pointer onto a lineage that silently drops the racer's rows. Injected
    deterministically: the first current_version() inside _commit returns
    the stale parent, the re-check under the lock sees the truth."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace(_df(spark, [(0, "seed")]))
    t.append(_df(spark, [(1, "a")]))
    stale_v = t.current_version()
    stale_files = t.snapshot().files
    t.append(_df(spark, [(2, "racer")]))  # the commit the stale writer missed

    real_cv = SnapshotTable.current_version
    calls = {"n": 0}

    def stale_once(self):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale_v
        return real_cv(self)

    monkeypatch.setattr(SnapshotTable, "current_version", stale_once)
    with pytest.raises(CommitConflict, match="advanced past"):
        t._commit(stale_files, "append")
    monkeypatch.setattr(SnapshotTable, "current_version", real_cv)

    # the racer's rows survived, the aborted manifest and lock are gone
    vals = {r.val for r in t.read().collect()}
    assert "racer" in vals and "a" in vals
    orphans = [
        n for n in os.listdir(os.path.join(t.root, "manifests"))
        if int(n[1:-5]) > t.current_version()
    ]
    assert not orphans, "aborted commit left its manifest behind"
    assert not os.path.exists(os.path.join(t.root, "_latest.lock"))
    # and the table still accepts commits afterwards
    t.append(_df(spark, [(3, "after")]))
    assert {r.val for r in t.read().collect()} >= {"seed", "a", "racer", "after"}
