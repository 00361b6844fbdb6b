"""Unit tests for round-2 training-data operators (packing edge cases,
shard bounding). Oracle parity for the registered queries is covered by
tests/test_oracle_parity.py."""

from __future__ import annotations

import pyspark.sql.functions as F

from analytics_data_platform_spark.operators.packing import pack_greedy


def _pack(spark, rows, budget):
    df = spark.createDataFrame(rows, "grp string, doc_id long, n_tokens int")
    out = pack_greedy(
        df, group_cols=["grp"], order_col="doc_id", token_col="n_tokens", budget=budget
    )
    return {(r.grp, r.doc_id): r.pack_id for r in out.collect()}


def test_pack_greedy_first_fit_resets_on_overflow(spark):
    rows = [("a", 1, 100), ("a", 2, 100), ("a", 3, 100), ("a", 4, 50)]
    got = _pack(spark, rows, budget=256)
    # 100+100 fits, +100 overflows -> new pack; 100+50 fits in pack 2
    assert got == {("a", 1): 1, ("a", 2): 1, ("a", 3): 2, ("a", 4): 2}


def test_pack_greedy_oversized_doc_gets_own_pack(spark):
    rows = [("a", 1, 10), ("a", 2, 999), ("a", 3, 10)]
    got = _pack(spark, rows, budget=256)
    assert got == {("a", 1): 1, ("a", 2): 2, ("a", 3): 3}


def test_pack_greedy_groups_are_independent(spark):
    rows = [("a", 1, 200), ("b", 1, 200), ("a", 2, 200), ("b", 2, 200)]
    got = _pack(spark, rows, budget=256)
    assert got == {("a", 1): 1, ("a", 2): 2, ("b", 1): 1, ("b", 2): 2}


def test_pack_greedy_order_is_by_order_col_not_input_order(spark):
    # present rows out of order; packing must follow doc_id order
    rows = [("a", 3, 200), ("a", 1, 200), ("a", 2, 100)]
    got = _pack(spark, rows, budget=256)
    # order 1(200) -> 2(100) overflows? 200+100=300>256 -> pack 2; 3(200) overflows pack2 (100+200=300) -> pack 3
    assert got == {("a", 1): 1, ("a", 2): 2, ("a", 3): 2} or got == {
        ("a", 1): 1,
        ("a", 2): 2,
        ("a", 3): 3,
    }
    # exact expectation: acc after doc2 = 100; 100+200=300 > 256 -> doc3 pack 3
    assert got[("a", 3)] == 3


def test_pack_sharded_matches_policy_within_each_shard(spark):
    # packing after sharding applies the same greedy policy per (grp, shard)
    df = spark.range(200).select(
        F.lit("src").alias("grp"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 * 20 + 40).cast("int").alias("n_tokens"),
    )
    sharded = df.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"))
    out = pack_greedy(
        sharded,
        group_cols=["grp", "shard"],
        order_col="doc_id",
        token_col="n_tokens",
        budget=256,
    ).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(out) == 200
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        acc, pack = 0, 0
        for r in rows:
            if pack == 0 or acc + r.n_tokens > 256:
                pack += 1
                acc = r.n_tokens
            else:
                acc += r.n_tokens
            assert r.pack_id == pack, (shard, r.doc_id)


def test_bpe_merges_are_learned_in_frequency_order(spark):
    from analytics_data_platform_spark.queries import all_queries

    rows = sorted(
        all_queries()["bpe_train_merges"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == [1, 2, 3, 4, 5]
    assert all(len(r.merge_left) >= 1 and len(r.merge_right) >= 1 for r in rows)
    # the first merge has the highest pair count of its round; later rounds
    # can only see counts <= the earlier winning count
    assert rows[0].pair_count >= rows[1].pair_count


def test_bpe_best_pair_on_empty_table_yields_zero_rows(spark):
    """A degenerate corpus that cannot support another merge produces an
    EMPTY pair table; the min_by scalar argmax must then yield zero rows
    (a bare scalar aggregate would emit one all-null row and the merge
    loop would broadcast a null pair, diverging from the oracle)."""
    from analytics_data_platform_spark.queries.training_ops import _best_pair

    empty = spark.createDataFrame([], "a string, b string, cnt long")
    assert _best_pair(empty).collect() == []
    one = spark.createDataFrame([("x", "y", 3)], "a string, b string, cnt long")
    assert [tuple(r) for r in _best_pair(one).collect()] == [("x", "y", 3)]


def test_bpe_encode_compresses_corpus(spark):
    from analytics_data_platform_spark.queries import all_queries

    rows = {r.stage: r for r in
            all_queries()["bpe_encode_stats"].fn(spark, "/root/testdata/sf0.001").collect()}
    assert rows["after"].total_tokens < rows["before"].total_tokens
    # 5 merges add exactly <=5 new symbols (some base symbols may vanish)
    assert rows["after"].vocab_size <= rows["before"].vocab_size + 5


def test_stratified_quota_sample_hamilton_conservation(spark, sf_dir):
    """Largest-remainder apportionment: quotas sum EXACTLY to the budget,
    every quota is within 1 of its exact proportional share, and no
    stratum samples more docs than it has."""
    from analytics_data_platform_spark.queries import all_queries

    rows = all_queries()["stratified_quota_sample"].fn(spark, sf_dir).collect()
    n_total = sum(r.n_docs for r in rows)
    budget = n_total * 10 // 100
    assert sum(r.quota for r in rows) == budget
    assert all(r.n_sampled == r.quota <= r.n_docs for r in rows)
    for r in rows:
        exact = budget * r.n_docs / n_total
        assert exact - 1 <= r.quota <= exact + 1
