"""Serving-tier composites (queries/serving_ops.py): plan guards for the
index-served hybrid (BOTH legs pruned) and the append-then-filter
lifecycle of the docmeta sidecar."""

from __future__ import annotations

import pyspark.sql.functions as F

from analytics_data_platform_spark.operators import similarity
from analytics_data_platform_spark.operators.search_index import SearchIndex
from analytics_data_platform_spark.plans.audit import audit
from analytics_data_platform_spark.queries.scale_ops import (
    _IVF_NLIST,
    _DirIvfIndex,
)
from analytics_data_platform_spark.queries.search_ops import (
    INDEX_BUCKETS,
    QUERY_TERMS,
    _scored_posting_rows,
)
from analytics_data_platform_spark.queries.serving_ops import (
    _hybrid_legs,
    _mlt_query_terms,
)
from analytics_data_platform_spark.sources.testdata import load_table


def test_hybrid_serves_both_legs_pruned(spark, tmp_path, sf_dir):
    """The fused plan must carry BOTH index layouts' pruning: a static
    bucket PartitionFilter on the lexical posting scan (the query docs'
    term buckets, a strict subset of the index) and dynamic partition
    pruning on the IVF _cell scan — neither leg may fall back to a full
    index read."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    idx = str(tmp_path / "lex")
    stats_dir = str(tmp_path / "stats")
    ivf_dir = str(tmp_path / "ivf")
    postings, stats = _scored_posting_rows(d)
    postings.write.partitionBy("bucket").parquet(idx)
    stats.coalesce(1).write.parquet(stats_dir)

    q_terms = _mlt_query_terms(d).localCheckpoint()
    terms = [r["term"] for r in q_terms.select("term").distinct().collect()]
    want = sorted(
        {
            r["b"]
            for r in spark.createDataFrame(
                [(t,) for t in sorted(set(terms))], "term string"
            )
            .select(F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)).alias("b"))
            .collect()
        }
    )
    import os

    n_dirs = len([x for x in os.listdir(idx) if x.startswith("bucket=")])
    assert len(want) < n_dirs, "fixture must leave something to prune"
    lex_index = spark.read.parquet(idx).where(F.col("bucket").isin(*want))

    rows_c = (
        e.where(F.col("vec_id") < _IVF_NLIST)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows_c]
    cell = similarity.assign_centroid_col("embedding", cents).cast("int")
    e.withColumn("_cell", cell).write.partitionBy("_cell").parquet(ivf_dir)

    out = _hybrid_legs(
        spark,
        d,
        e,
        lex_index,
        spark.read.parquet(stats_dir).first().asDict(),
        _DirIvfIndex(spark, ivf_dir),
        cents,
        q_terms,
        terms,
    )
    rows = out.collect()  # finalize AQE before asserting on the plan
    assert rows and all(r.rank <= 10 for r in rows)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    lex_scans = [
        seg[:200] for seg in plan.split("PartitionFilters: [")[1:] if "bucket" in seg[:120]
    ]
    assert lex_scans, "lexical posting scan lost its bucket PartitionFilter"
    rep = audit(out)
    pruned = any(
        "dynamicpruning" in " ".join(s.partition_filters).lower() for s in rep.scans
    ) or "dynamicpruning" in rep.formatted.lower()
    assert pruned, "IVF probe join must dynamic-partition-prune the cell dirs"

    touched = {
        r["f"].split("bucket=")[1].split("/")[0]
        for r in lex_index.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert touched == {str(b) for b in want}


def test_filtered_bm25_sees_appended_docmeta(spark, tmp_path, sf_dir):
    """The docmeta sidecar follows the append lifecycle: docs ingested
    after the build are filterable, and the filtered cut over the
    incrementally built index equals the one-shot build's."""
    d = load_table(spark, sf_dir, "documents")
    incr = SearchIndex(spark, str(tmp_path / "i"), mode="scored")
    incr.build(d.where(F.col("doc_id") % 2 == 0))
    incr.append(d.where(F.col("doc_id") % 2 == 1))
    one = SearchIndex(spark, str(tmp_path / "o"), mode="scored").build(d)
    got = {tuple(r) for r in incr.bm25(QUERY_TERMS, where="lang = 'en'").collect()}
    want = {tuple(r) for r in one.bm25(QUERY_TERMS, where="lang = 'en'").collect()}
    assert got == want
    # at least one appended (odd) doc must be rankable, or the fixture
    # proves nothing about the appended sidecar
    assert any(r[1] % 2 == 1 for r in got)


def test_streaming_corpus_to_index_sync(spark, tmp_path, sf_dir):
    """The sync loop driven by a REAL stream: each foreachBatch tick
    folds the batch into the governed corpus state AND applies the
    version diff to the serving index in the same body — the deployment
    shape of serving_index_corpus_sync. Final ranked serving equals a
    one-shot index built over the final live set."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from analytics_data_platform_spark.pipelines.incremental import (
        read_state_part,
        refresh_corpus_state,
        state_changelog,
    )

    src = f"{sf_dir}/documents.parquet"
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    os.makedirs(staging)
    idx = SearchIndex(spark, str(tmp_path / "idx"), mode="scored")

    def tick(bdf, bid):
        refresh_corpus_state(spark, state, bdf, bid)
        if bid == 0:
            idx.build(read_state_part(spark, state, "live", 0))
            return
        appeared, evicted = state_changelog(
            spark, state, "live", bid - 1, bid, key_cols=["doc_id"]
        )
        if not appeared.isEmpty():
            idx.append(appeared)
        idx.delete_docs(evicted)

    t = pq.read_table(src)
    even = pc.equal(pc.bit_wise_and(t.column("doc_id"), 1), 0)

    def drain():
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
            staging
        )
        q = (
            stream.writeStream.foreachBatch(tick)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(t.filter(even), f"{staging}/part-000.parquet")
    drain()
    pq.write_table(t.filter(pc.invert(even)), f"{staging}/part-001.parquet")
    drain()

    final_live = read_state_part(spark, state, "live", 1)
    one = SearchIndex(spark, str(tmp_path / "one"), mode="scored").build(final_live)
    assert idx.stats()["n_docs"] == one.stats()["n_docs"]
    assert idx.stats()["total_dl"] == one.stats()["total_dl"]
    got = {tuple(r) for r in idx.bm25(QUERY_TERMS).collect()}
    assert got == {tuple(r) for r in one.bm25(QUERY_TERMS).collect()}


def test_filtered_hybrid_three_prunings_on_one_plan(spark, tmp_path, sf_dir):
    """The filtered hybrid's executed plan must carry ALL THREE prunings
    at once: the static bucket PartitionFilter on the lexical posting
    scan, dynamic partition pruning on the IVF cell scan, and the lang
    predicate PUSHED into both the docmeta candidates scan and the
    probed cells' scan (never evaluated post-read over the corpus)."""
    import os

    from analytics_data_platform_spark.operators.vector_index import VectorIndex
    from analytics_data_platform_spark.queries.serving_ops import (
        _HYBRID_FILTER_LANG,
        _pinned_centroids,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    lex = str(tmp_path / "lex")
    stats_dir = str(tmp_path / "stats")
    meta_dir = str(tmp_path / "meta")
    postings, stats = _scored_posting_rows(d)
    postings.write.partitionBy("bucket").parquet(lex)
    stats.coalesce(1).write.parquet(stats_dir)
    d.drop("text").write.parquet(meta_dir)

    q_terms = _mlt_query_terms(d).localCheckpoint()
    terms = [r["term"] for r in q_terms.select("term").distinct().collect()]
    want = sorted(
        {
            r["b"]
            for r in spark.createDataFrame(
                [(t,) for t in sorted(set(terms))], "term string"
            )
            .select(F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)).alias("b"))
            .collect()
        }
    )
    n_dirs = len([x for x in os.listdir(lex) if x.startswith("bucket=")])
    assert len(want) < n_dirs, "fixture must leave something to prune"
    lex_index = spark.read.parquet(lex).where(F.col("bucket").isin(*want))
    candidates = (
        spark.read.parquet(meta_dir)
        .where(f"lang = '{_HYBRID_FILTER_LANG}'")
        .select("doc_id")
    )

    cents = _pinned_centroids(e)
    ew = e.join(d.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id")
    vx = VectorIndex(spark, str(tmp_path / "ivf"), nlist=_IVF_NLIST, nprobe=4).build(
        ew, centroids=cents
    )

    out = _hybrid_legs(
        spark,
        d,
        e,
        lex_index,
        spark.read.parquet(stats_dir).first().asDict(),
        VectorIndex._Io(vx, f"lang = '{_HYBRID_FILTER_LANG}'"),
        cents,
        q_terms,
        terms,
        lex_candidates=candidates,
    )
    rows = out.collect()  # finalize AQE before asserting on the plan
    assert rows and all(r.rank <= 10 for r in rows)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # (1) lexical: static bucket partition pruning
    lex_scans = [
        seg[:200] for seg in plan.split("PartitionFilters: [")[1:] if "bucket" in seg[:120]
    ]
    assert lex_scans, "lexical posting scan lost its bucket PartitionFilter"
    # (2) semantic: dynamic partition pruning on the cell dirs
    rep = audit(out)
    pruned = any(
        "dynamicpruning" in " ".join(s.partition_filters).lower() for s in rep.scans
    ) or "dynamicpruning" in rep.formatted.lower()
    assert pruned, "IVF probe join must dynamic-partition-prune the cell dirs"
    # (3) the lang predicate reaches BOTH parquet scans as PushedFilters:
    # the docmeta candidates scan and the probed cells' scan
    lang_pushed = [
        seg[:200]
        for seg in plan.split("PushedFilters: [")[1:]
        if "lang" in seg[:160]
    ]
    assert len(lang_pushed) >= 2, (
        f"lang filter must push into docmeta AND cell scans, got {len(lang_pushed)}"
    )
