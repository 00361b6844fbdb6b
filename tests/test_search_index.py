"""SearchIndex (operators/search_index.py): the persistent serving API
over the oracle-gated index building blocks. Every serving method must
equal the corresponding full-scan formulation, survive the
build→append→compact lifecycle bit-for-bit, and prune its reads to the
query terms' bucket partitions."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from analytics_data_platform_spark.operators.search_index import SearchIndex
from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.queries.search_ops import QUERY_TERMS
from analytics_data_platform_spark.sources.testdata import load_table

_TERMS = sorted({t for ts in QUERY_TERMS.values() for t in ts})


def _ranked(idx, queries=QUERY_TERMS, where=None):
    return {tuple(r) for r in idx.bm25(queries, where=where).collect()}


def test_scored_append_keeps_bm25_equal_to_one_shot(spark, tmp_path, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    incr = SearchIndex(spark, str(tmp_path / "i"), mode="scored")
    incr.build(d.where(F.col("doc_id") % 2 == 0))
    incr.append(d.where(F.col("doc_id") % 2 == 1))
    one_shot = SearchIndex(spark, str(tmp_path / "o"), mode="scored").build(d)

    assert incr.stats()["n_docs"] == one_shot.stats()["n_docs"]
    assert incr.stats()["total_dl"] == one_shot.stats()["total_dl"]

    got = {tuple(r) for r in incr.bm25(QUERY_TERMS).collect()}
    want = {tuple(r) for r in one_shot.bm25(QUERY_TERMS).collect()}
    assert got == want, "append drifted the ranked cut from the one-shot build"
    # and both equal the oracle-gated full-scan query
    full = {tuple(r) for r in all_queries()["bm25_search"].fn(spark, sf_dir).collect()}
    assert got == full


def test_serving_prunes_to_query_buckets_and_mode_is_pinned(spark, tmp_path, sf_dir):
    """A ranked request reads only its terms' bucket directories: the
    posting scan is rooted at exactly those directories (no partition
    discovery over the whole index), and every row it reads comes from
    one of them."""
    d = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "s")
    idx = SearchIndex(spark, root, mode="scored").build(d)
    want = idx._bucket_of(_TERMS)
    served = idx.bm25(QUERY_TERMS)
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    located = plan.split("Location: InMemoryFileIndex(", 1)[1]
    assert located.startswith(f"{len(want)} paths)")
    touched = {
        r["f"].split("bucket=")[1].split("/")[0]
        for r in idx._pruned(_TERMS)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert touched == {str(b) for b in want}
    n_dirs = len(
        [x for x in os.listdir(os.path.join(root, "postings")) if x.startswith("bucket=")]
    )
    assert len(touched) < n_dirs, "pruning has something to prune"

    # reopening with a different layout must refuse, not silently mis-route
    with pytest.raises(ValueError, match="was built as"):
        SearchIndex(spark, root, mode="scored", buckets=8)
    # the scored layout is the only one
    with pytest.raises(ValueError, match="mode must be one of"):
        SearchIndex(spark, root, mode="boolean")


def test_delete_docs_erases_from_all_serving_paths(spark, tmp_path, sf_dir):
    """Merge-on-read index deletes: erased docs vanish from ranked
    serving, and the corpus stats are decremented exactly, so BM25 equals a one-shot build over the
    SURVIVING corpus (idf/avgdl included — not just a filtered result)."""
    d = load_table(spark, sf_dir, "documents")
    victims = [r.doc_id for r in d.where(F.col("doc_id") % 7 == 0).select("doc_id").collect()]

    idx = SearchIndex(spark, str(tmp_path / "s"), mode="scored").build(d)
    n = idx.delete_docs(victims)
    assert n == len(victims)
    # idempotent: deleting again (or absent ids) is a no-op
    assert idx.delete_docs(victims + [10**12]) == 0

    survivors = SearchIndex(spark, str(tmp_path / "ref"), mode="scored").build(
        d.where(F.col("doc_id") % 7 != 0)
    )
    assert idx.stats()["n_docs"] == survivors.stats()["n_docs"]
    assert idx.stats()["total_dl"] == survivors.stats()["total_dl"]
    got = {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()}
    want = {tuple(r) for r in survivors.bm25(QUERY_TERMS).collect()}
    assert got == want, "deleted docs must not influence the ranked cut"

    # materializing the deletes changes nothing served and clears the
    # sidecar; a second apply is a no-op
    assert idx.apply_deletes() is True
    assert idx._delete_ids() is None
    assert {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()} == want
    assert idx.apply_deletes() is False


def test_apply_deletes_torn_swap_recovers(spark, tmp_path, sf_dir):
    import os as _os
    import shutil as _shutil

    d = load_table(spark, sf_dir, "documents")
    idx = SearchIndex(spark, str(tmp_path / "t"), mode="scored").build(d)
    want = _ranked(idx)

    # crash window: postings retired, staged copy never installed
    _os.rename(idx.postings_dir, _os.path.join(idx.root, "_old.postings"))
    idx._recover_swap()
    assert _ranked(idx) == want

    # crash window: install completed, retired copy not yet dropped
    _shutil.copytree(idx.postings_dir, _os.path.join(idx.root, "_old.postings"))
    _os.makedirs(_os.path.join(idx.root, "_stage.postings"))
    idx._recover_swap()
    assert not _os.path.exists(_os.path.join(idx.root, "_old.postings"))
    assert not _os.path.exists(_os.path.join(idx.root, "_stage.postings"))
    assert _ranked(idx) == want


def test_streaming_foreachbatch_ingest_equals_one_shot(spark, tmp_path, sf_dir):
    """The deployment shape: a Structured Streaming source drains into the
    index via foreachBatch(idx.append) — after the stream, serving must
    equal a one-shot build over everything that arrived (bucket purity +
    associative stats make per-batch appends order-independent)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staging)
    idx = SearchIndex(spark, str(tmp_path / "idx"), mode="scored")
    # bootstrap on the first half, stream the second half in as a batch
    t = pq.read_table(src)
    even = pc.equal(pc.bit_wise_and(t.column("doc_id"), 1), 0)
    d = load_table(spark, sf_dir, "documents")
    idx.build(d.where(F.col("doc_id") % 2 == 0))
    pq.write_table(t.filter(pc.invert(even)), f"{staging}/part-000.parquet")

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(staging)
    q = (
        stream.writeStream.foreachBatch(lambda bdf, bid: idx.append(bdf))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    one_shot = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert idx.stats()["n_docs"] == one_shot.stats()["n_docs"]
    assert idx.stats()["total_dl"] == one_shot.stats()["total_dl"]
    got = {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()}
    want = {tuple(r) for r in one_shot.bm25(QUERY_TERMS).collect()}
    assert got == want


def test_merge_from_equals_one_shot_and_consumes_source(spark, tmp_path, sf_dir):
    """Segment merge by file adoption: two independently built scored
    indexes over disjoint halves fold into one that serves exactly like a
    one-shot build over the union (stats summed associatively, df counted
    complete across adopted files); the source segment is consumed, and a
    layout mismatch refuses loudly."""
    d = load_table(spark, sf_dir, "documents")
    a = SearchIndex(spark, str(tmp_path / "a"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    b = SearchIndex(spark, str(tmp_path / "b"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 1)
    )
    a.merge_from(b)
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert a.stats()["n_docs"] == one.stats()["n_docs"]
    assert a.stats()["total_dl"] == one.stats()["total_dl"]
    got = {tuple(r) for r in a.bm25(QUERY_TERMS).collect()}
    want = {tuple(r) for r in one.bm25(QUERY_TERMS).collect()}
    assert got == want

    with pytest.raises(FileNotFoundError):
        b.stats()  # consumed — a stale handle cannot serve
    c = SearchIndex(spark, str(tmp_path / "c"), mode="scored", buckets=8).build(d)
    with pytest.raises(ValueError, match="layout mismatch"):
        a.merge_from(c)
    with pytest.raises(ValueError, match="into itself"):
        a.merge_from(a)
    assert not os.path.isdir(str(tmp_path / "b")), "consumed segment husk remains"


def test_merge_from_migrates_pending_deletes(spark, tmp_path, sf_dir):
    """A pending merge-on-read takedown on the INCOMING segment survives
    the merge: served results equal a one-shot build over the surviving
    union (global stats included), before and after apply_deletes."""
    d = load_table(spark, sf_dir, "documents")
    victims = (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 21 == 0)
    a = SearchIndex(spark, str(tmp_path / "a"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    b = SearchIndex(spark, str(tmp_path / "b"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 1)
    )
    n = b.delete_docs(d.where(victims).select("doc_id"))
    assert n > 0, "fixture must take down at least one doc"
    a.merge_from(b)
    survivors = SearchIndex(spark, str(tmp_path / "s"), mode="scored").build(
        d.where(~victims)
    )
    assert a.stats()["n_docs"] == survivors.stats()["n_docs"]
    assert a.stats()["total_dl"] == survivors.stats()["total_dl"]
    want = {tuple(r) for r in survivors.bm25(QUERY_TERMS).collect()}
    assert {tuple(r) for r in a.bm25(QUERY_TERMS).collect()} == want
    assert a.apply_deletes()
    assert {tuple(r) for r in a.bm25(QUERY_TERMS).collect()} == want


def test_filtered_bm25_narrows_candidates_not_stats(spark, tmp_path, sf_dir):
    """bm25(where=...) is Lucene filtered search: the candidate set
    narrows via the docmeta sidecar (predicate pushdown — no corpus
    read), while idf/avgdl stay INDEX-GLOBAL — a filtered hit's score is
    bit-identical to its unfiltered score, and the ranks are a dense
    re-ranking of the filtered candidates."""
    from analytics_data_platform_spark.queries.search_ops import _bm25_scores

    d = load_table(spark, sf_dir, "documents")
    idx = SearchIndex(spark, str(tmp_path / "f"), mode="scored").build(d)
    served = idx.bm25(QUERY_TERMS, where="lang = 'en'")
    got = {(r.q_id, r.doc_id): (r.score, r.rank) for r in served.collect()}

    # expected: GLOBAL scores, candidates narrowed, re-ranked
    from pyspark.sql import Window

    q = spark.createDataFrame(
        [(qid, t) for qid, ts in QUERY_TERMS.items() for t in ts],
        "q_id int, term string",
    )
    en = d.where(F.col("lang") == "en").select("doc_id")
    scored = _bm25_scores(spark, d, q).join(en, "doc_id", "left_semi")
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    expected = {
        (r.q_id, r.doc_id): (r.score, r.rank)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .collect()
    }
    assert got == expected

    # the filter is pushed into the docmeta scan, not evaluated post-read
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan

    # every scored mode build carries the sidecar; a non-scored serve
    # path doesn't grow one silently
    assert os.path.isdir(idx.docmeta_dir)


def _executed_stages(sc, group: str) -> int:
    """Stages that ran tasks for the jobs of job group ``group`` — the
    count Spark's event log reports as completed stages (a stage whose
    shuffle output an earlier job already wrote is skipped and runs
    none). Waits for the status store to see every job finish."""
    import time

    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    jobs = st.getJobIdsForGroup(group)
    while any(st.getJobInfo(j).status != "SUCCEEDED" for j in jobs):
        assert time.monotonic() < deadline, "jobs did not finish"
        time.sleep(0.1)
    stages = {
        sid
        for j in jobs
        for sid in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(sid)) is not None and info.numCompletedTasks > 0
    }
    return len(stages)


def test_bm25_request_is_one_pruned_query(spark, tmp_path, sf_dir):
    """One ranked request is one pruned Spark query plus its collect: at
    most 8 executed stages with a filter and pending deletes, the literal
    frames (query terms, delete ids) plan as LocalTableScan rather than a
    Python-RDD scan, and the top-k cut is a WindowGroupLimit. A term whose
    bucket directory does not exist is skipped, a request with no posting
    at all serves empty, and every answer equals a one-shot build over
    the surviving docs."""
    d = load_table(spark, sf_dir, "documents")
    victims = F.col("doc_id") % 7 == 0
    # a wide layout leaves buckets that no term hashes to
    idx = SearchIndex(spark, str(tmp_path / "i"), buckets=1024).build(d)
    assert idx.delete_docs(d.where(victims).select("doc_id")) > 0
    one = SearchIndex(spark, str(tmp_path / "one"), buckets=1024).build(d.where(~victims))

    occupied = {
        int(x.split("=")[1]) for x in os.listdir(idx.postings_dir) if x.startswith("bucket=")
    }
    absent = [
        t for t in (f"absent{i}" for i in range(500)) if idx._bucket_of([t])[0] not in occupied
    ][:2]
    assert len(absent) == 2, "fixture must leave empty buckets"
    mixed = {qid: ts + absent[:1] for qid, ts in QUERY_TERMS.items()}
    assert _ranked(idx, mixed) == _ranked(one, mixed) == _ranked(one)
    assert _ranked(idx, {0: absent}) == _ranked(one, {0: absent}) == set()

    sc = spark.sparkContext
    sc.setJobGroup("bm25-request", "one filtered bm25 request")
    try:
        served = idx.bm25(QUERY_TERMS, where="lang = 'en'")
        got = {tuple(r) for r in served.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _ranked(one, where="lang = 'en'")
    assert _executed_stages(sc, "bm25-request") <= 8
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_pre_sidecar_index_refuses_filtered_serving(spark, tmp_path, sf_dir):
    """An index persisted before the docmeta sidecar existed must not
    grow a PARTIAL sidecar on append (filtered serving over one would
    silently drop every resident doc) — appends skip the sidecar and
    bm25(where=) refuses loudly; unfiltered serving is unaffected."""
    import json
    import shutil

    d = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "legacy")
    idx = SearchIndex(spark, root, mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    # simulate a pre-sidecar index: drop the sidecar and its meta flag
    shutil.rmtree(idx.docmeta_dir)
    meta = idx.stats()
    del meta["docmeta"]
    idx._write_meta(meta)

    idx.append(d.where(F.col("doc_id") % 2 == 1))
    assert not os.path.isdir(idx.docmeta_dir), "append must not grow a partial sidecar"
    with pytest.raises(ValueError, match="predates the doc-metadata sidecar"):
        idx.bm25(QUERY_TERMS, where="lang = 'en'")
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()} == {
        tuple(r) for r in one.bm25(QUERY_TERMS).collect()
    }
    # merging a pre-sidecar segment poisons the merged sidecar: refuse too
    fresh = SearchIndex(spark, str(tmp_path / "fresh"), mode="scored").build(
        d.where(F.col("doc_id") % 3 == 0)
    )
    meta2 = json.loads(open(fresh._meta_path).read())
    assert meta2["docmeta"] is True
    fresh.merge_from(idx)
    with pytest.raises(ValueError, match="predates the doc-metadata sidecar"):
        fresh.bm25(QUERY_TERMS, where="lang = 'en'")


def test_merge_crash_windows_self_heal(spark, tmp_path, sf_dir, monkeypatch):
    """Crash-injection at every merge boundary: (1) mid-adoption — the
    marker has already folded the stats, so the retry adopts only the
    leftovers and nothing double-counts; (2) between source-consume and
    marker-clear — the retry is a no-op finalize. Mutations refuse while
    the merge is torn; a different segment refuses too."""
    from analytics_data_platform_spark.operators import search_index as SI

    d = load_table(spark, sf_dir, "documents")
    a = SearchIndex(spark, str(tmp_path / "a"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    b = SearchIndex(spark, str(tmp_path / "b"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 1)
    )

    # (1) die after the FIRST adopted tree (postings moved, docmeta and
    # deletes not), i.e. mid-adoption
    real_adopt = SI.adopt_parquet_tree
    calls = {"n": 0}

    def dying_adopt(src, dst, tag):
        real_adopt(src, dst, tag)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-adoption")

    monkeypatch.setattr(SI, "adopt_parquet_tree", dying_adopt)
    with pytest.raises(RuntimeError, match="injected"):
        a.merge_from(b)
    monkeypatch.setattr(SI, "adopt_parquet_tree", real_adopt)

    assert "pending_merge" in a.stats()
    with pytest.raises(ValueError, match="torn merge"):
        a.append(d.where(F.col("doc_id") % 2 == 1))
    with pytest.raises(ValueError, match="torn merge"):
        a.delete_docs([2])
    with pytest.raises(ValueError, match="torn merge"):
        a.apply_deletes()
    c = SearchIndex(spark, str(tmp_path / "c"), mode="scored").build(
        d.where(F.col("doc_id") % 3 == 0)
    )
    with pytest.raises(ValueError, match="pending"):
        a.merge_from(c)

    # retry with the SAME segment finishes the merge
    a.merge_from(b)
    assert "pending_merge" not in a.stats()
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert a.stats()["n_docs"] == one.stats()["n_docs"]
    assert a.stats()["total_dl"] == one.stats()["total_dl"]
    got = {tuple(r) for r in a.bm25(QUERY_TERMS).collect()}
    assert got == {tuple(r) for r in one.bm25(QUERY_TERMS).collect()}

    # (2) die between source-consume and marker-clear
    a2 = SearchIndex(spark, str(tmp_path / "a2"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    b2 = SearchIndex(spark, str(tmp_path / "b2"), mode="scored").build(
        d.where(F.col("doc_id") % 2 == 1)
    )
    import os as _os

    real_remove = _os.remove

    def dying_remove(path):
        real_remove(path)
        if path.endswith("_meta.json") and "b2" in path:
            raise RuntimeError("injected crash post-consume")

    monkeypatch.setattr(SI.os, "remove", dying_remove)
    with pytest.raises(RuntimeError, match="post-consume"):
        a2.merge_from(b2)
    monkeypatch.setattr(SI.os, "remove", real_remove)
    assert "pending_merge" in a2.stats()
    a2.merge_from(b2)  # no-op finalize: adoption empty, fold not repeated
    assert a2.stats()["n_docs"] == one.stats()["n_docs"]
    assert a2.stats()["total_dl"] == one.stats()["total_dl"]
    got2 = {tuple(r) for r in a2.bm25(QUERY_TERMS).collect()}
    assert got2 == got


def test_compact_also_compacts_docmeta(spark, tmp_path, sf_dir):
    """Appends leave one docmeta file per tick; compact() rewrites the
    flat sidecar behind the same atomic-swap discipline, and filtered
    serving is unchanged — including a torn-swap recovery window."""
    import shutil

    d = load_table(spark, sf_dir, "documents")
    idx = SearchIndex(spark, str(tmp_path / "c"), mode="scored")
    idx.build(d.where(F.col("doc_id") % 3 == 0))
    for tick in (1, 2):
        idx.append(d.where(F.col("doc_id") % 3 == tick))
    want = {tuple(r) for r in idx.bm25(QUERY_TERMS, where="lang = 'en'").collect()}

    n_before = sum(1 for f in os.listdir(idx.docmeta_dir) if f.endswith(".parquet"))
    assert n_before >= 3
    done = idx.compact()
    assert any(x.startswith("docmeta:") for x in done)
    n_after = sum(1 for f in os.listdir(idx.docmeta_dir) if f.endswith(".parquet"))
    assert n_after == 1
    got = {tuple(r) for r in idx.bm25(QUERY_TERMS, where="lang = 'en'").collect()}
    assert got == want

    # torn swap: retired dir present, live dir missing -> bm25(where=)
    # SELF-heals before touching the sidecar (no maintenance call needed)
    old = os.path.join(idx.root, "_old.docmeta")
    os.rename(idx.docmeta_dir, old)
    got2 = {tuple(r) for r in idx.bm25(QUERY_TERMS, where="lang = 'en'").collect()}
    assert got2 == want
    assert os.path.isdir(idx.docmeta_dir) and not os.path.isdir(old)


def test_merge_refuses_source_with_its_own_torn_merge(spark, tmp_path, sf_dir, monkeypatch):
    """A source segment that crashed mid-absorbing a THIRD segment carries
    folded totals for files it never finished adopting — consuming it
    would orphan those files and permanently over-count the target's
    stats. merge_from must refuse until the source's own merge finishes;
    afterwards the chain merge equals a one-shot build. Also pins the
    consumed-marker window: once a merge begins, the SOURCE handle
    refuses to serve (not only after finalize removes its metadata)."""
    from analytics_data_platform_spark.operators import search_index as SI

    d = load_table(spark, sf_dir, "documents")
    a = SearchIndex(spark, str(tmp_path / "a"), mode="scored").build(
        d.where(F.col("doc_id") % 3 == 0)
    )
    b = SearchIndex(spark, str(tmp_path / "b"), mode="scored").build(
        d.where(F.col("doc_id") % 3 == 1)
    )
    c = SearchIndex(spark, str(tmp_path / "c"), mode="scored").build(
        d.where(F.col("doc_id") % 3 == 2)
    )

    real_adopt = SI.adopt_parquet_tree

    def dying_adopt(src, dst, tag):
        real_adopt(src, dst, tag)
        raise RuntimeError("injected crash mid-adoption")

    monkeypatch.setattr(SI, "adopt_parquet_tree", dying_adopt)
    with pytest.raises(RuntimeError, match="injected"):
        b.merge_from(c)
    monkeypatch.setattr(SI, "adopt_parquet_tree", real_adopt)
    assert "pending_merge" in b._read_meta()

    # the torn SOURCE (c) refuses to serve from the first adopted file on
    with pytest.raises(ValueError, match="consumed"):
        c.stats()
    with pytest.raises(ValueError, match="consumed"):
        c.bm25(QUERY_TERMS)

    # consuming b while its own merge is torn must refuse
    with pytest.raises(ValueError, match="own torn merge"):
        a.merge_from(b)

    b.merge_from(c)  # finish the inner merge
    a.merge_from(b)  # now the chain merge proceeds
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(d)
    assert a.stats()["n_docs"] == one.stats()["n_docs"]
    assert a.stats()["total_dl"] == one.stats()["total_dl"]
    got = {tuple(r) for r in a.bm25(QUERY_TERMS).collect()}
    assert got == {tuple(r) for r in one.bm25(QUERY_TERMS).collect()}


def test_adopt_parquet_tree_survives_cross_filesystem_move(tmp_path, monkeypatch):
    """When src and dst sit on different filesystems, rename returns EXDEV
    and shutil.move degrades to a non-atomic copy+unlink — a crash
    mid-copy would leave a truncated live parquet. adopt_parquet_tree
    must stage the copy under an underscore-prefixed temp name (invisible
    to Spark's listing) and rename into place; a mid-copy crash leaves NO
    visible partial file and the retry completes exactly."""
    import errno
    import shutil

    from analytics_data_platform_spark.operators.search_index import (
        adopt_parquet_tree,
    )

    def make_src():
        src = tmp_path / "seg" / "postings"
        shutil.rmtree(tmp_path / "seg", ignore_errors=True)
        (src / "bucket=3").mkdir(parents=True)
        (src / "bucket=3" / "part-0.parquet").write_bytes(b"P" * 4096)
        (src / "part-root.parquet").write_bytes(b"R" * 128)
        (src / "_SUCCESS").write_bytes(b"")
        return str(src)

    dst = tmp_path / "idx" / "postings"
    dst.mkdir(parents=True)

    real_rename = os.rename

    def exdev_rename(s, d, *a, **kw):
        # direct adoptions fail EXDEV; the staged _tmp.-to-final rename
        # (same directory by construction) succeeds
        if not os.path.basename(s).startswith("_tmp.") and str(tmp_path) in str(s):
            raise OSError(errno.EXDEV, "Invalid cross-device link")
        return real_rename(s, d, *a, **kw)

    src = make_src()
    monkeypatch.setattr(os, "rename", exdev_rename)
    adopt_parquet_tree(src, str(dst), "t1")
    monkeypatch.setattr(os, "rename", real_rename)
    assert (dst / "bucket=3" / "mt1-part-0.parquet").read_bytes() == b"P" * 4096
    assert (dst / "mt1-part-root.parquet").read_bytes() == b"R" * 128
    assert not list(dst.rglob("_tmp.*")), "staged temp residue"
    assert not list((tmp_path / "seg").rglob("*.parquet")), "source files remain"

    # crash mid-copy: only the invisible _tmp. staging file may be torn
    src = make_src()
    real_copy2 = shutil.copy2

    def torn_copy2(s, d, *a, **kw):
        with open(d, "wb") as f:
            f.write(b"TRUNC")  # partial bytes land in the staging name
        raise RuntimeError("injected crash mid-copy")

    monkeypatch.setattr(os, "rename", exdev_rename)
    monkeypatch.setattr(shutil, "copy2", torn_copy2)
    with pytest.raises(RuntimeError, match="mid-copy"):
        adopt_parquet_tree(src, str(dst), "t2")
    monkeypatch.setattr(shutil, "copy2", real_copy2)
    visible = [p for p in dst.rglob("mt2-*.parquet")]
    assert not visible, "crash mid-copy exposed a truncated live file"
    adopt_parquet_tree(src, str(dst), "t2")  # retry completes
    monkeypatch.setattr(os, "rename", real_rename)
    assert not list(dst.rglob("_tmp.*"))
    adopted = sorted(p.name for p in dst.rglob("mt2-*.parquet"))
    assert adopted == ["mt2-part-0.parquet", "mt2-part-root.parquet"]
    assert (dst / "bucket=3" / "mt2-part-0.parquet").read_bytes() == b"P" * 4096


def test_reshard_grows_buckets_preserves_serving_and_stale_handles(
    spark, tmp_path, sf_dir
):
    """reshard(48) re-keys every posting row by the new modulus in ONE
    shuffle: serving (with a pending takedown riding through), a handle
    opened BEFORE the reshard, and a fresh handle at the new layout must
    all agree with the pre-reshard ranking; the old layout refuses at the
    constructor; materializing the surviving delete changes nothing."""
    d = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "rs")
    idx = SearchIndex(spark, root, mode="scored", buckets=8).build(
        d.where(F.col("doc_id") % 2 == 0)
    )
    idx.append(d.where(F.col("doc_id") % 2 == 1))
    idx.delete_docs(d.where(F.col("doc_id") % 23 == 5).select("doc_id"))
    stale = SearchIndex(spark, root, mode="scored", buckets=8)
    want = {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()}

    assert idx.reshard(8) is idx and idx.buckets == 8  # same count: no-op

    idx.reshard(48)
    assert idx.buckets == 48
    dirs = {n for n in os.listdir(idx.postings_dir) if n.startswith("bucket=")}
    assert max(int(n.split("=")[1]) for n in dirs) >= 8, (
        "no bucket id beyond the old modulus — postings were not re-keyed"
    )
    assert {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()} == want

    # the pre-reshard handle heals its layout through stats()
    assert {tuple(r) for r in stale.bm25(QUERY_TERMS).collect()} == want
    assert stale.buckets == 48

    fresh = SearchIndex(spark, root, mode="scored", buckets=48)
    assert {tuple(r) for r in fresh.bm25(QUERY_TERMS).collect()} == want
    with pytest.raises(ValueError, match="was built as"):
        SearchIndex(spark, root, mode="scored", buckets=8)

    assert fresh.apply_deletes(), "the pending takedown must survive the reshard"
    assert {tuple(r) for r in fresh.bm25(QUERY_TERMS).collect()} == want


def test_reshard_crash_windows_heal_forward(spark, tmp_path, sf_dir, monkeypatch):
    """Crash injection at every reshard boundary: (a) before the marker
    lands — only an orphan stage remains, the old layout stays the truth
    and _recover_swap clears the stray; (b) after the marker, before any
    rename — the next open heals forward to the new layout; (c) between
    the two renames — the live tree is GONE, and the next open still
    heals forward (the marker guarantees the stage is complete)."""
    from analytics_data_platform_spark.operators import search_index as SI

    d = load_table(spark, sf_dir, "documents")

    # (a) die before the marker is durable
    root = str(tmp_path / "ra")
    idx = SearchIndex(spark, root, mode="scored", buckets=8).build(d)
    want = {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()}
    real_wm = SearchIndex._write_meta

    def dying_wm(self, meta):
        if meta.get("pending_reshard"):
            raise RuntimeError("injected pre-marker crash")
        return real_wm(self, meta)

    monkeypatch.setattr(SearchIndex, "_write_meta", dying_wm)
    with pytest.raises(RuntimeError, match="pre-marker"):
        idx.reshard(48)
    monkeypatch.setattr(SearchIndex, "_write_meta", real_wm)
    assert os.path.isdir(os.path.join(root, "_stage.reshard"))
    h = SearchIndex(spark, root, mode="scored", buckets=8)  # old layout holds
    assert {tuple(r) for r in h.bm25(QUERY_TERMS).collect()} == want
    h._recover_swap()
    assert not os.path.isdir(os.path.join(root, "_stage.reshard"))

    # (b) die right after the marker, before any rename
    real_fin = SearchIndex._finish_reshard

    def dying_fin(self, meta):
        raise RuntimeError("injected post-marker crash")

    monkeypatch.setattr(SearchIndex, "_finish_reshard", dying_fin)
    with pytest.raises(RuntimeError, match="post-marker"):
        h.reshard(48)
    monkeypatch.setattr(SearchIndex, "_finish_reshard", real_fin)
    assert h._read_meta().get("pending_reshard")
    h2 = SearchIndex(spark, root, mode="scored", buckets=8)  # meta not final yet
    assert {tuple(r) for r in h2.bm25(QUERY_TERMS).collect()} == want
    assert h2.buckets == 48 and "pending_reshard" not in h2.stats()

    # (c) die between the two renames (live tree gone)
    root3 = str(tmp_path / "rc")
    idx3 = SearchIndex(spark, root3, mode="scored", buckets=8).build(d)
    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if str(dst).endswith("_old.reshard"):
            raise RuntimeError("injected mid-swap crash")

    monkeypatch.setattr(SI.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="mid-swap"):
        idx3.reshard(48)
    monkeypatch.setattr(SI.os, "rename", real_rename)
    assert not os.path.isdir(idx3.postings_dir), "crash window should strand the swap"
    h3 = SearchIndex(spark, root3, mode="scored", buckets=8)
    assert {tuple(r) for r in h3.bm25(QUERY_TERMS).collect()} == want
    assert h3.buckets == 48 and "pending_reshard" not in h3.stats()
