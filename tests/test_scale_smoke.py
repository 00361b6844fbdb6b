"""Opt-in scale smoke: run the quadratic-risk corpus operators on an 8×
replicated+perturbed documents table (SPARK_GRAFT_SCALE_SMOKE=1 to enable).

The replication is adversarial for dedup operators on purpose: every
document gains 7 near-copies (one unique marker token each), so the true
near-dup pair count grows 28× per doc while the corpus grows 8×. A
banding design that silently degrades toward all-pairs blows past the
time budget here long before it would OOM a cluster; a correct one
scales with Σ bucket².

Numbers recorded at sf0.1 ×8 (40k docs, local[8] test session) in
SCALE.md §scale-smoke.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from analytics_data_platform_spark.queries import all_queries

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="scale smoke is opt-in (SPARK_GRAFT_SCALE_SMOKE=1)",
)

SRC_SF = "/root/testdata/sf0.1"
SMOKE_DIR = "/tmp/adps-scale-smoke"
REPLICAS = 8
BUDGET_S = 300.0


@pytest.fixture(scope="module")
def smoke_dir(spark):
    docs = spark.read.parquet(f"{SRC_SF}/documents.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    big = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            # one unique marker token per replica: near-dup, never exact-dup
            F.concat(
                F.col("text"), F.lit(" rmark"), F.col("rep"), F.lit("d"), F.col("doc_id")
            ).alias("text"),
            "lang",
            "source",
            (F.length("text") + 10).alias("n_chars"),
        )
    )
    big.write.mode("overwrite").parquet(f"{SMOKE_DIR}/documents.parquet")
    return SMOKE_DIR


def _timed(spark, name, sf_dir):
    t0 = time.time()
    n = all_queries()[name].fn(spark, sf_dir).count()
    dt = time.time() - t0
    assert dt < BUDGET_S, f"{name} took {dt:.0f}s at 8x — quadratic regression?"
    return n, dt


def test_minhash_near_dup_survives_8x(spark, smoke_dir):
    n, dt = _timed(spark, "near_dup_minhash", smoke_dir)
    # every replica family is pairwise near-dup: expect far more candidate
    # pairs than docs, far fewer than all-pairs
    assert n > 0
    print(f"near_dup_minhash 8x: {n} rows in {dt:.1f}s")


def test_duplicate_passages_survives_8x(spark, smoke_dir):
    n, dt = _timed(spark, "duplicate_passages", smoke_dir)
    assert n > 0
    print(f"duplicate_passages 8x: {n} rows in {dt:.1f}s")


def test_exact_dedup_survives_8x(spark, smoke_dir):
    n, dt = _timed(spark, "dedup_exact_stats", smoke_dir)
    assert n > 0
    print(f"dedup_exact_stats 8x: {n} rows in {dt:.1f}s")


@pytest.fixture(scope="module")
def smoke_dir_vec(spark):
    import pyspark.sql.functions as SF

    emb = spark.read.parquet(f"{SRC_SF}/embeddings.parquet")
    reps = spark.range(REPLICAS).select(SF.col("id").alias("rep"))
    big = (
        emb.crossJoin(SF.broadcast(reps))
        .select(
            (SF.col("vec_id") + SF.col("rep") * 10_000_000).alias("vec_id"),
            # deterministic jitter on the first component: replicas are
            # near- but not exact-duplicates, adversarial for near-dup LSH
            SF.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = 0"
                " THEN CAST(x + rep * 0.001 AS FLOAT) ELSE x END)"
            ).alias("embedding"),
            "label",
        )
    )
    big.write.mode("overwrite").parquet(f"{SMOKE_DIR}-vec/embeddings.parquet")
    return f"{SMOKE_DIR}-vec"


def test_ann_cosine_survives_8x(spark, smoke_dir_vec):
    n, dt = _timed(spark, "ann_cosine_topk", smoke_dir_vec)
    assert n == 50  # 5 queries x top-10, unchanged by corpus size
    print(f"ann_cosine_topk 8x (16k vecs): {dt:.1f}s")


def test_embedding_near_dups_survives_8x(spark, smoke_dir_vec):
    n, dt = _timed(spark, "embedding_near_dups", smoke_dir_vec)
    assert n > 0  # replica families are near-dups by construction
    print(f"embedding_near_dups 8x: {n} pairs in {dt:.1f}s")


def test_kmeans_survives_8x(spark, smoke_dir_vec):
    n, dt = _timed(spark, "kmeans_embeddings", smoke_dir_vec)
    assert n == 8
    print(f"kmeans_embeddings 8x: {dt:.1f}s")


# ---- geo 8x: grid join must scale with cell density, not n^2 ---------------


@pytest.fixture(scope="module")
def smoke_dir_geo(spark):
    """8x customers: replicas keep their md5-derived coordinates DISTINCT
    (new custkeys hash elsewhere), so point density rises 8x uniformly —
    candidate pairs should grow ~64x (density^2 per cell), never n^2
    against the whole corpus."""
    cust = spark.read.parquet(f"{SRC_SF}/customer.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    big = cust.crossJoin(F.broadcast(reps)).select(
        (F.col("c_custkey") + F.col("rep") * 50_000_000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    big.write.mode("overwrite").parquet(f"{SMOKE_DIR}-geo/customer.parquet")
    return f"{SMOKE_DIR}-geo"


def test_geo_pairs_survive_8x(spark, smoke_dir_geo):
    n, dt = _timed(spark, "geo_neighbor_pairs", smoke_dir_geo)
    assert n > 0
    print(f"geo_neighbor_pairs 8x: {n} pairs in {dt:.1f}s")


def test_geo_nearest_survives_8x(spark, smoke_dir_geo):
    n, dt = _timed(spark, "geo_nearest_within_radius", smoke_dir_geo)
    assert n > 0
    print(f"geo_nearest_within_radius 8x: {n} rows in {dt:.1f}s")


# ---- round-5 ops under 8x -------------------------------------------------


def test_leakage_safe_split_survives_8x(spark, smoke_dir):
    """The near-dup graph is 28 pairs per replica family here — the split
    must still assign whole components and leak nothing, inside budget."""
    import pyspark.sql.functions as SF

    t0 = time.time()
    df = all_queries()["leakage_safe_split"].fn(spark, smoke_dir)
    rows = df.collect()
    dt = time.time() - t0
    assert dt < BUDGET_S, f"leakage_safe_split took {dt:.0f}s at 8x"
    assert all(r.leaked_pairs_grouped == 0 for r in rows)
    assert sum(r.n_docs for r in rows) == spark.read.parquet(
        f"{smoke_dir}/documents.parquet"
    ).count()
    print(f"leakage_safe_split 8x: naive would leak {rows[0].leaked_pairs_naive} pairs, "
          f"grouped leaks 0, in {dt:.1f}s")


def test_dsir_and_nb_survive_8x(spark, smoke_dir):
    for name in ("dsir_importance_weights", "nb_lang_classifier_eval",
                 "c4_gopher_rule_stats", "lm_bigram_xent_by_lang"):
        n, dt = _timed(spark, name, smoke_dir)
        assert n > 0
        print(f"{name} 8x: {n} rows in {dt:.1f}s")


# ---- round-6 ops under 8x -------------------------------------------------


def test_ivf_pq_adc_survives_8x(spark, smoke_dir_vec):
    """8x vectors: the coarse probe must keep the scored fraction at
    ~nprobe/nlist of the corpus — ADC cost grows linearly with n, never
    with n x queries."""
    n, dt = _timed(spark, "ivf_pq_adc_topk", smoke_dir_vec)
    assert n > 0
    print(f"ivf_pq_adc_topk 8x (16k vecs): {n} rows in {dt:.1f}s")


def test_training_pipeline_survives_8x(spark, smoke_dir, tmp_path):
    """The flagship composition at 8x: clean -> dedup -> leakage-safe split
    -> pack -> shards. Conservation must hold on the adversarial corpus
    (28 near-dup pairs per replica family) inside the time budget."""
    from analytics_data_platform_spark.pipelines.training_corpus import (
        build_training_corpus,
    )

    t0 = time.time()
    manifest = {m.stage: m.n_docs for m in
                build_training_corpus(spark, smoke_dir, str(tmp_path / "corpus"))}
    dt = time.time() - t0
    assert dt < BUDGET_S, f"training pipeline took {dt:.0f}s at 8x"
    # replicas carry unique marker tokens: near-dups, never exact-dups
    assert manifest["exact_dedup"] == manifest["clean"]
    split_total = sum(v for k, v in manifest.items() if k.startswith("split:"))
    assert split_total == manifest["exact_dedup"]
    print(f"training pipeline 8x: {manifest} in {dt:.1f}s")


def test_incremental_refresh_survives_8x(spark, smoke_dir, tmp_path):
    """Two-tick incremental refresh at 8x: per-tick cost must be governed
    by the batch (shingling only newly-live docs; id-key semi-joins for
    compaction), and the final state must reconcile with the one-shot
    keeper count — the provable-collapse contract under adversarial
    near-dup density."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.operators.dedup import dedup_exact
    from analytics_data_platform_spark.pipelines.incremental import (
        corpus_split_manifest,
        refresh_corpus_state,
    )
    from analytics_data_platform_spark.queries.corpus_ops import c4_core_pass
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, smoke_dir, "documents")
    state = str(tmp_path / "incr-state")
    t0 = time.time()
    for tick in range(2):
        refresh_corpus_state(
            spark, state, docs.where(F.col("doc_id") % 2 == tick), tick
        )
    manifest = dict(corpus_split_manifest(spark, state))
    dt = time.time() - t0
    assert dt < BUDGET_S, f"incremental refresh took {dt:.0f}s at 8x"
    one_shot = dedup_exact(
        docs.where(F.length(F.trim("text")) > 0).where(c4_core_pass("text"))
    ).count()
    assert manifest["exact_dedup"] == one_shot
    split_total = sum(v for k, v in manifest.items() if k.startswith("split:"))
    assert split_total == manifest["exact_dedup"]
    print(f"incremental refresh 8x: {manifest} in {dt:.1f}s")


def test_multimodal_binary_stats_survives_8x(spark, smoke_dir):
    """8x payloads through the Arrow-batched feature stage: the
    size-bounded repartition must keep batches flowing (linear scan, one
    partial-agg groupBy)."""
    n, dt = _timed(spark, "multimodal_binary_stats", smoke_dir)
    assert n > 0
    print(f"multimodal_binary_stats 8x: {n} rows in {dt:.1f}s")


def test_containment_dedup_survives_8x(spark, smoke_dir):
    """Replica markers multiply every anchor gram's occurrence list 8x AND
    its anchor list 8x — candidate growth is anchors(g) x occurrences(g)
    per gram (64x), the worst legitimate growth the prune allows. Must
    stay within budget; replica markers destroy cross-replica containment
    so the verify keeps the result at zero drops (asserted: the prune's
    candidates never invent a containment)."""
    t0 = time.time()
    res = {
        r["source"]: r
        for r in all_queries()["substring_containment_dedup"]
        .fn(spark, smoke_dir)
        .collect()
    }
    dt = time.time() - t0
    assert dt < BUDGET_S, f"substring_containment_dedup took {dt:.0f}s at 8x"
    assert sum(r["n_contained"] for r in res.values()) == 0
    assert all(r["n_docs"] == r["n_eligible"] for r in res.values())


def test_source_jsd_survives_8x(spark, smoke_dir):
    """Per-doc marker tokens grow the vocab by ~n_docs at 8x — the
    |vocab x source| window aggregate and the DECIMAL(38,0) folds must
    survive; JSD stays within [0, ln 2] micro-nats."""
    t0 = time.time()
    rows = all_queries()["source_token_js_divergence"].fn(spark, smoke_dir).collect()
    dt = time.time() - t0
    assert dt < BUDGET_S, f"source_token_js_divergence took {dt:.0f}s at 8x"
    assert rows and all(0.0 <= r["jsd_micro"] <= 693148.0 for r in rows)
    print(f"source_token_js_divergence 8x: {len(rows)} sources in {dt:.1f}s")


@pytest.fixture(scope="module")
def smoke_dir_hybrid(smoke_dir, smoke_dir_vec):
    """Combined view for queries that read both tables (symlinks — the
    replicated corpora are written once by the other fixtures)."""
    d = f"{SMOKE_DIR}-hybrid"
    os.makedirs(d, exist_ok=True)
    for name, src in (
        ("documents.parquet", f"{smoke_dir}/documents.parquet"),
        ("embeddings.parquet", f"{smoke_dir_vec}/embeddings.parquet"),
    ):
        link = os.path.join(d, name)
        if not os.path.islink(link):
            os.symlink(src, link)
    return d


def test_index_hybrid_rrf_survives_8x(spark, smoke_dir_hybrid):
    """The index-served hybrid at 8x: two index builds are the only
    corpus-sized passes; the MLT selection, bucket-pruned BM25 leg,
    DPP-pruned IVF leg, and fusion must stay output-invariant (3 queries
    x top-10) inside the budget."""
    n, dt = _timed(spark, "index_hybrid_rrf_topk", smoke_dir_hybrid)
    assert n == 30
    print(f"index_hybrid_rrf_topk 8x: {n} rows in {dt:.1f}s")


def test_segment_merge_serves_8x(spark, smoke_dir):
    """Segment merge at 8x: two half-corpus index builds + O(files)
    adoption + a pruned serve — the merge itself must add no
    corpus-sized work on top of the builds."""
    n, dt = _timed(spark, "inverted_index_segment_merge", smoke_dir)
    assert n == 30
    print(f"inverted_index_segment_merge 8x: {n} rows in {dt:.1f}s")


def test_filtered_ann_survives_8x(spark, smoke_dir_vec):
    """Filtered ANN at 8x (16k vectors): the label pre-filter rides the
    probed cells' scan — cost stays ~nprobe/nlist of the corpus and the
    page still fills with k true matches per query."""
    n, dt = _timed(spark, "vector_index_filtered_topk", smoke_dir_vec)
    assert n == 50
    print(f"vector_index_filtered_topk 8x: {n} rows in {dt:.1f}s")


def test_quantized_ann_tiers_survive_8x(spark, smoke_dir_vec):
    """SQ8 / IVF-SQ8 / truncate-rerank at 8x (16k vectors): output stays
    invariant (5 queries x top-10) and inside the anti-quadratic budget —
    the quantization and staging tiers must not change the join shapes.

    RECALL FLOORS (round-9 verdict #4): the 8x corpus is where a
    quantization bug that only hurts at scale would hide — replica
    jitter packs near-ties around every true neighbor, so a drifted
    scale or a mis-staged rerank pool tanks recall HERE while the test-SF
    recall gate stays green. Floors sit under the measured deterministic
    values (0.98 / 0.98 / 0.70 at 16k vectors — the 16-dim stage-1 pool
    thins as the corpus grows, the expected Matryoshka trade) with
    engine-drift margin."""
    brute = {
        (r.q_id, r.vec_id)
        for r in all_queries()["ann_cosine_topk"]
        .fn(spark, smoke_dir_vec)
        .select("q_id", "vec_id")
        .collect()
    }
    assert len(brute) == 50
    floors = {
        "ann_sq8_topk": 0.94,
        "ivf_sq8_topk": 0.94,
        "ann_truncated_rerank_topk": 0.65,
    }
    for name, floor in floors.items():
        t0 = time.time()
        got = {
            (r.q_id, r.vec_id)
            for r in all_queries()[name].fn(spark, smoke_dir_vec)
            .select("q_id", "vec_id")
            .collect()
        }
        dt = time.time() - t0
        assert dt < BUDGET_S, f"{name} took {dt:.0f}s at 8x — quadratic regression?"
        assert len(got) == 50
        recall = len(got & brute) / len(brute)
        assert recall >= floor, (
            f"{name} recall@10 = {recall:.3f} < floor {floor} at 8x — "
            "quantization quality collapsed at scale"
        )
        print(f"{name} 8x: recall@10 {recall:.3f} (floor {floor}) in {dt:.1f}s")


def test_capacity_growth_survives_8x(spark, smoke_dir, smoke_dir_vec):
    """reshard/retrain at 8x: capacity growth is ONE re-keying shuffle
    each (an offline maintenance op) — on the adversarial corpus it must
    stay inside the anti-quadratic budget, and the registry queries
    already pin fresh-handle serve equality through the swap."""
    n, dt = _timed(spark, "inverted_index_reshard", smoke_dir)
    assert n == 30
    print(f"inverted_index_reshard 8x: {n} rows in {dt:.1f}s")
    n, dt = _timed(spark, "vector_index_retrain", smoke_dir_vec)
    assert n == 50
    print(f"vector_index_retrain 8x: {n} rows in {dt:.1f}s")


def test_hybrid_corpus_sync_serves_8x(spark, smoke_dir_hybrid):
    """The full hybrid stack synced from the changelog at 8x: three
    state ticks + BOTH index tiers maintained per tick + fused serving —
    per-tick cost must stay O(changelog), so the whole loop fits the
    budget however adversarial the corpus."""
    n, dt = _timed(spark, "serving_hybrid_corpus_sync", smoke_dir_hybrid)
    assert n == 30
    print(f"serving_hybrid_corpus_sync 8x: {n} rows in {dt:.1f}s")
