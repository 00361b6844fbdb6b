"""Tests for the large-scale operators: dedup families, similarity search,
multimodal plumbing."""

from __future__ import annotations

import math

import numpy as np
import pytest
import pyspark.sql.functions as F

from analytics_data_platform_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "The quick brown fox jumps over the lazy dog near the river bank today!"),  # exact after norm
        (3, "The quick brown fox jumps over the lazy dog near the river bend today"),  # near-dup
        (4, "Completely different content about spark shuffle partitions and joins here"),
        (5, "Another unrelated document mentioning embeddings vectors and cosine scores"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_keeps_min_id(spark, docs):
    out = dedup.dedup_exact(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3, 4, 5}  # 2 is an exact normalized dup of 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    cands = dedup.minhash_lsh_candidates_portable(docs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup surfaces
    assert (4, 5) not in pairs

    verified = dedup.exact_jaccard_pairs(docs, cands)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert j[(1, 2)] == 1.0  # identical after normalization


def test_simhash_hamming(spark, docs):
    sigs = dedup.simhash_signatures_portable(docs)
    pairs = dedup.simhash_near_pairs_portable(sigs, max_hamming=0)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0  # identical normalized text → same signature
    assert (4, 5) not in got


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 3
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries_from(corpus):
    return (
        corpus.where(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )


def test_brute_force_topk_self_cluster(spark, clustered_vectors):
    q = _queries_from(clustered_vectors)
    out = similarity.brute_force_topk(clustered_vectors, q, k=10)
    rows = out.collect()
    assert len(rows) == 40
    # neighbors of query i should be from the same cluster (id % 4 == i)
    for r in rows:
        assert r["vec_id"] % 4 == r["q_id"] % 4


def test_lsh_topk_recall(spark, clustered_vectors):
    q = _queries_from(clustered_vectors)
    exact = similarity.brute_force_topk(clustered_vectors, q, k=10)
    approx = similarity.lsh_topk(clustered_vectors, q, k=10, n_bits=6, dim=16)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark, clustered_vectors):
    q = _queries_from(clustered_vectors)
    cents = similarity.train_ivf_centroids(clustered_vectors, n_centroids=4, max_iter=8)
    assert len(cents) == 4 and len(cents[0]) == 16
    exact = similarity.brute_force_topk(clustered_vectors, q, k=10)
    approx = similarity.ivf_topk(clustered_vectors, q, cents, k=10, nprobe=2)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall too low: {recall}"  # well-separated clusters


def _scored(corpus, q):
    from analytics_data_platform_spark.functions.vectors import cosine

    return corpus.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", cosine("q_emb", "embedding").alias("cos_sim")
    )


def test_two_phase_topk_matches_naive_window(spark, clustered_vectors):
    from pyspark.sql import Window

    corpus = clustered_vectors.repartition(8)
    q = _queries_from(corpus)
    scored = _scored(corpus, q)
    two = similarity.topk_per_query(scored, 7).select("q_id", "vec_id", "cos_sim", "rank")
    w = Window.partitionBy("q_id").orderBy(F.desc_nulls_last("cos_sim"), F.asc("vec_id"))
    naive = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 7)
        .select("q_id", "vec_id", "cos_sim", "rank")
    )
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, naive.collect()))


def test_local_topk_bounds_global_window_input(spark, clustered_vectors):
    """The scale guarantee: phase 2's window input is ≤ k × numPartitions
    rows per query — never the full scored candidate set."""
    nparts, k, nq = 8, 5, 4
    corpus = clustered_vectors.repartition(nparts)
    q = _queries_from(corpus)
    scored = _scored(corpus, q)
    pruned = similarity.local_topk(scored, k)
    n_pruned = pruned.count()
    assert n_pruned <= k * nparts * nq
    assert n_pruned < scored.count()  # actually pruned, not a pass-through
    # phase-1 pruning must preserve the true global top-k
    e = {(r["q_id"], r["vec_id"]) for r in similarity.brute_force_topk(corpus, q, k=k).collect()}
    p = {(r["q_id"], r["vec_id"]) for r in pruned.collect()}
    assert e <= p


def test_assign_centroid_udf_matches_literal_path(spark, clustered_vectors):
    cents = similarity.train_ivf_centroids(clustered_vectors, n_centroids=8, max_iter=8)
    lit = clustered_vectors.select(
        "vec_id", similarity.assign_centroid_col("embedding", cents).alias("cell")
    )
    udf = clustered_vectors.select(
        "vec_id", similarity.assign_centroid_udf(cents)(F.col("embedding")).alias("cell")
    )
    lm = {r["vec_id"]: r["cell"] for r in lit.collect()}
    um = {r["vec_id"]: r["cell"] for r in udf.collect()}
    assert lm == um


@pytest.fixture(scope="module")
def big_vectors(spark):
    rng = np.random.RandomState(13)
    centers = rng.randn(8, 16) * 4
    rows = []
    for i in range(2000):
        c = i % 8
        v = centers[c] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_large_nlist_udf_path_recall_and_plan_size(spark, big_vectors):
    """nlist=256 must take the pandas_udf assignment path: plan stays O(1)
    in n_centroids (no literal-array blowup) and recall holds."""
    q = (
        big_vectors.where(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    cents = similarity.train_ivf_centroids(big_vectors, n_centroids=256, max_iter=5)
    assert len(cents) == 256
    approx = similarity.ivf_topk(big_vectors, q, cents, k=10, nprobe=64)
    exact = similarity.brute_force_topk(big_vectors, q, k=10)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF(nlist=256) recall too low: {recall}"
    # plan-size sanity: the 256×16 centroid matrix must NOT be inlined as
    # literal expression nodes (that plan is O(nlist·dim) and blows up the
    # analyzer at Faiss-scale nlist)
    plan = approx._jdf.queryExecution().simpleString()
    assert len(plan) < 100_000, f"plan unexpectedly large: {len(plan)} chars"
    assert "ArrowEvalPython" in approx._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytes([0x89, 0x50, 0x4E, 0x47] + [7] * 100), "image/png", None, None, 3500),
        (2, bytes(range(256)), "audio/wav", None, None, 2000),
        (3, b"", "image/png", None, None, 0),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_byte_features(spark, media):
    out = {r["media_id"]: r for r in multimodal.extract_byte_features(media).collect()}
    # media 2 is uniform over 256 byte values → entropy exactly 8 bits
    assert math.isclose(out[2]["entropy"], 8.0, abs_tol=1e-9)
    assert math.isclose(out[2]["byte_mean"], 127.5, abs_tol=1e-9)
    assert out[1]["entropy"] < 1.0  # almost-constant payload
    assert out[3]["n_bytes"] == 0 and out[3]["entropy"] == 0.0


def test_sample_frames(spark, media):
    out = multimodal.sample_frames(media, every_ms=1000).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert sorted(by_id[1]) == [0, 1000, 2000]  # 3500ms → 3 frames
    assert sorted(by_id[2]) == [0, 1000]
    assert 3 not in by_id  # zero duration → no frames


def test_cluster_star_matches_propagation(spark):
    """large-star/small-star CC keeps the min-label contract: A~B, B~C
    chains and isolated pairs cluster under their minimum member id."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.cluster_duplicates_star(pairs).collect()}
    assert star == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_cluster_star_deep_path_logarithmic(spark):
    """A 64-node path has diameter 63: min-label propagation needs ~63
    rounds, large/small-star must finish in ≤ 8 (O(log n)) without a
    non-convergence warning."""
    import warnings as w

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)
        got = {r["doc_id"]: r["cluster_id"] for r in
               dedup.cluster_duplicates_star(pairs, max_iter=8).collect()}
    assert got == {i: 0 for i in range(64)}


def test_incremental_minhash_equals_batch_restriction(spark):
    """Incremental (index ⨝ new batch) candidates == full-batch candidates
    restricted to pairs touching a new doc — same pair set AND same
    shared-band counts."""
    from analytics_data_platform_spark.operators import dedup
    from analytics_data_platform_spark.sources.testdata import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    is_new = (F.col("doc_id") % 5) == 4
    kw = dict(num_hashes=32, bands=16, seed=42)
    index_rows = dedup.minhash_band_rows(d.where(~is_new), **kw)
    new_rows = dedup.minhash_band_rows(d.where(is_new), **kw)
    inc = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in dedup.incremental_minhash_candidates(index_rows, new_rows).collect()
    }
    full = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in dedup.minhash_lsh_candidates_portable(d, **kw).collect()
        if r.id_a % 5 == 4 or r.id_b % 5 == 4
    }
    assert inc == full and inc


# --- setsim_join_prefix ----------------------------------------------------


def test_setsim_prefix_matches_brute_force(spark):
    """Prefix filtering must return EXACTLY the all-pairs answer."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators.dedup import setsim_join_prefix

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the sleepy dog"),  # near-dup of 1
        (3, "entirely different words about spark and parquet tables"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "spark and parquet tables hold entirely different words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in setsim_join_prefix(df, threshold=0.5).collect()
    }
    # brute force over unigram sets
    import itertools
    import re

    sets = {i: set(re.sub(r"[^a-z0-9\s]", "", t.lower()).split()) for i, t in rows}
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if round(jac, 6) >= 0.5:
            expect[(a, b)] = round(jac, 6)
    assert got == expect
    assert (1, 4) in got and got[(1, 4)] == 1.0


def test_setsim_prefix_prunes_candidates(spark):
    """Documents sharing NO rare prefix token never become candidates:
    total prefix rows are strictly fewer than total tokens."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators.dedup import setsim_join_prefix

    rows = [(i, f"common shared words plus unique{i} token{i} extra{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # high threshold -> prefix length ~ (1-t)|x|+1 << |x|
    out = setsim_join_prefix(df, threshold=0.9)
    # no pair reaches 0.9 (each doc has 3 unique tokens of 6)
    assert out.count() == 0


# --- IVF as table layout ---------------------------------------------------


def test_ivf_table_topk_equals_raw_and_prunes_partitions(spark, clustered_vectors, tmp_path):
    import uuid

    from analytics_data_platform_spark.plans.audit import audit
    from analytics_data_platform_spark.tables.io import TableIO

    io = TableIO(spark)
    ns = f"ivf_{uuid.uuid4().hex[:8]}"
    io.ensure_namespace(ns)
    table = f"{ns}.vectors_ivf"
    try:
        cents = similarity.train_ivf_centroids(clustered_vectors, n_centroids=4, max_iter=8)
        cell = similarity.assign_centroid_col("embedding", cents).cast("int")
        io.write_table(
            clustered_vectors.withColumn("_cell", cell), table, mode="replace",
            partition_spec={"_cell": "identity"},
        )

        q = _queries_from(clustered_vectors)
        from_table = similarity.ivf_table_topk(io, table, q, cents, k=10, nprobe=2)
        from_raw = similarity.ivf_topk(clustered_vectors, q, cents, k=10, nprobe=2)
        t = {(r["q_id"], r["vec_id"]) for r in from_table.collect()}
        r = {(r["q_id"], r["vec_id"]) for r in from_raw.collect()}
        assert t == r

        # the executed scan must be prunable on the cell partition column:
        # either static partition filters or a DPP subquery on _cell
        rep = audit(from_table)
        pruned = any(s.partition_filters for s in rep.scans) or (
            "dynamicpruning" in rep.formatted.lower()
        )
        assert pruned, rep.formatted[:2000]
    finally:
        io.drop_namespace(ns)
