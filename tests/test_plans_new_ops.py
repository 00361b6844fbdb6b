"""Plan guards for the round-3 operator additions: the scale claims in the
docstrings (equi-join candidate generation, bounded broadcasts, HOF-only
text paths) must be visible in the optimized physical plans."""

from __future__ import annotations

from tests.test_plans import plan_of


def test_dbscan_is_equi_join_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, "dbscan_grid_clusters", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phrase_and_kwic_stay_jvm_side_without_explode(spark, sf_dir):
    for name in ("phrase_search_adjacent", "kwic_snippets"):
        plan = plan_of(spark, name, sf_dir)
        # token-list work is array HOFs inside projections: no Python
        # boundary and no row explosion of the token lists
        assert "EvalPython" not in plan, name
        assert "Generate" not in plan, name


def test_spell_suggest_blocked_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, "spell_suggest_vocab", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pit_join_single_shuffle_no_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "pit_join_orders_tier", sf_dir)
    # the as-of match must be the union+window plan, not an inequality join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_covisitation_adjacent_rank_equi_join(spark, sf_dir):
    plan = plan_of(spark, "covisitation_next_part", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_record_linkage_blocked_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, "record_linkage_blocked", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_broadcasts_bounded_sides_only(spark, sf_dir):
    plan = plan_of(spark, "knn_label_classifier", sf_dir)
    # scoring joins broadcast the held-out queries and the k·|queries|
    # top-k rows; the training corpus must never be the built side of a
    # nested loop
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_inverted_index_serving_prunes_partitions(spark, tmp_path, sf_dir):
    """The conjunctive lookup must read only the query terms' bucket
    directories: the scan shows a PartitionFilters entry on bucket, and
    the pruned file set is a strict subset of the index."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.queries.search_ops import (
        CONJ_TERMS,
        INDEX_BUCKETS,
        _conjunctive_serve,
        _posting_rows,
    )
    from analytics_data_platform_spark.sources.testdata import load_table

    idx = str(tmp_path / "idx")
    _posting_rows(load_table(spark, sf_dir, "documents")).write.partitionBy(
        "bucket"
    ).parquet(idx)
    index = spark.read.parquet(idx)
    want = [
        r["bucket"]
        for r in spark.createDataFrame([(t,) for t in CONJ_TERMS], "term string")
        .select(F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)).alias("bucket"))
        .collect()
    ]
    served = _conjunctive_serve(index.where(F.col("bucket").isin(*want)))
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters: [", 1)[1][:120]
    # routing correctness: every row the filtered scan yields comes from a
    # query-bucket directory (inputFiles() can't probe pruning — it lists
    # the relation pre-filter — but PartitionFilters above IS the pruning
    # contract: the file index lists only matching directories)
    import os

    n_dirs = len([n for n in os.listdir(idx) if n.startswith("bucket=")])
    assert len(set(want)) < n_dirs  # pruning has something to prune
    touched = {
        r["f"].split("bucket=")[1].split("/")[0]
        for r in index.where(F.col("bucket").isin(*want))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert touched == {str(b) for b in set(want)}


def test_incremental_index_append_equals_one_shot(spark, tmp_path, sf_dir):
    """Partition-wise posting append must produce EXACTLY the one-shot
    index contents (bucket is a pure function of the term), and the
    resident files must survive the append untouched."""
    import os

    import pyspark.sql.functions as F

    from analytics_data_platform_spark.queries.search_ops import _posting_rows
    from analytics_data_platform_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "idx")
    _posting_rows(d.where(F.col("doc_id") % 2 == 0)).write.partitionBy(
        "bucket"
    ).parquet(idx)
    resident = {
        os.path.join(r, f)
        for r, _, fs in os.walk(idx)
        for f in fs
        if f.endswith(".parquet")
    }
    _posting_rows(d.where(F.col("doc_id") % 2 == 1)).write.mode(
        "append"
    ).partitionBy("bucket").parquet(idx)
    after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(idx)
        for f in fs
        if f.endswith(".parquet")
    }
    assert resident <= after, "append must not clobber resident index files"

    appended = spark.read.parquet(idx).select("bucket", "term", "doc_id")
    one_shot = _posting_rows(d).select("bucket", "term", "doc_id")
    assert appended.exceptAll(one_shot).isEmpty()
    assert one_shot.exceptAll(appended).isEmpty()


def test_bm25_index_serving_prunes_partitions(spark, tmp_path, sf_dir):
    """Ranked retrieval from the scored index must read only the query
    terms' bucket directories (PartitionFilters on bucket; the touched
    file set is exactly the query buckets), and its ranked cut must equal
    the full-scan bm25_search result."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.queries import all_queries
    from analytics_data_platform_spark.queries.search_ops import (
        INDEX_BUCKETS,
        QUERY_TERMS,
        _bm25_index_serve,
        _scored_posting_rows,
    )
    from analytics_data_platform_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "idx")
    stats_dir = str(tmp_path / "stats")
    postings, stats = _scored_posting_rows(d)
    postings.write.partitionBy("bucket").parquet(idx)
    stats.coalesce(1).write.parquet(stats_dir)

    index = spark.read.parquet(idx)
    all_terms = sorted({t for ts in QUERY_TERMS.values() for t in ts})
    want = [
        r["bucket"]
        for r in spark.createDataFrame([(t,) for t in all_terms], "term string")
        .select(F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)).alias("bucket"))
        .collect()
    ]
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in QUERY_TERMS.items() for t in ts],
        "q_id int, term string",
    )
    served = _bm25_index_serve(
        index.where(F.col("bucket").isin(*want)),
        q,
        all_terms,
        **spark.read.parquet(stats_dir).first().asDict(),
    )
    got = {(r.q_id, r.doc_id): (r.score, r.rank) for r in served.collect()}

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters: [", 1)[1][:120]
    import os

    n_dirs = len([n for n in os.listdir(idx) if n.startswith("bucket=")])
    assert len(set(want)) < n_dirs, "pruning has something to prune"
    touched = {
        r["f"].split("bucket=")[1].split("/")[0]
        for r in index.where(F.col("bucket").isin(*want))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert touched == {str(b) for b in set(want)}

    full = {
        (r.q_id, r.doc_id): (r.score, r.rank)
        for r in all_queries()["bm25_search"].fn(spark, sf_dir).collect()
    }
    assert got == full, "index-served BM25 must equal the full-scan ranked cut"
