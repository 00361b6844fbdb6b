"""VectorIndex (operators/vector_index.py): the persistent IVF serving
API. Contract: under PINNED centroids, build→append→delete→compact must
serve exactly what the in-memory ivf_topk computes over the equivalent
corpus with the same centroids — and probes must engage dynamic
partition pruning on the cell directories."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from analytics_data_platform_spark.operators import similarity
from analytics_data_platform_spark.operators.vector_index import VectorIndex
from analytics_data_platform_spark.sources.testdata import load_table

NPROBE = 4


def _queries(e):
    return e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def _expected(corpus, queries, centroids):
    return {
        tuple(r)
        for r in similarity.ivf_topk(
            corpus, queries, centroids, k=10, nprobe=NPROBE, score_round=4
        )
        .select("q_id", "vec_id", "cos_sim", "rank")
        .collect()
    }


def _cell_files(cells: str) -> dict[str, int]:
    return {
        n: len([f for f in os.listdir(os.path.join(cells, n)) if f.endswith(".parquet")])
        for n in os.listdir(cells)
        if n.startswith("_cell=")
    }


def test_build_append_equals_pinned_one_shot(spark, tmp_path, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE)
    vx.build(e.where(F.col("vec_id") % 2 == 0))
    vx.append(e.where(F.col("vec_id") % 2 == 1))

    got = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == _expected(e, _queries(e), vx.centroids), (
        "appended index must equal the one-shot formulation under pinned centroids"
    )

    # reopening resolves the pinned quantizer from the sidecar
    reopened = VectorIndex(spark, str(tmp_path / "v"))
    assert reopened.centroids == vx.centroids
    assert reopened.stats()["appends"] == 1


def test_probe_plan_uses_dynamic_partition_pruning(spark, tmp_path, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=2).build(e)
    served = vx.topk(_queries(e), nprobe=2)
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, (
        "probe join must prune unprobed cell directories at runtime"
    )


def test_delete_then_apply_preserves_survivor_semantics(spark, tmp_path, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE).build(e)
    victims = [r.vec_id for r in e.where(F.col("vec_id") % 5 == 3).select("vec_id").collect()]
    n = vx.delete_vecs(victims)
    assert n == len(victims)
    assert vx.delete_vecs(victims + [10**12]) == 0  # idempotent

    survivors = e.where(F.col("vec_id") % 5 != 3)
    want = _expected(survivors, _queries(e), vx.centroids)
    served = vx.topk(_queries(e))
    got = {tuple(r) for r in served.select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == want
    # the pending delete ids join as a local literal, not a Python-RDD frame
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    assert vx.apply_deletes() is True
    assert vx._delete_ids() is None
    got2 = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got2 == want
    assert vx.apply_deletes() is False


def test_cell_compaction_preserves_serving(spark, tmp_path, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE)
    vx.build(e.where(F.col("vec_id") % 3 == 0))
    for tick in (1, 2):
        vx.append(e.where(F.col("vec_id") % 3 == tick))
    before_files = _cell_files(vx.cells_dir)
    assert max(before_files.values()) >= 3
    want = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    done = vx.compact()
    assert done
    after_files = _cell_files(vx.cells_dir)
    assert set(after_files) == set(before_files)
    assert all(n == 1 for b, n in after_files.items() if before_files[b] >= 2)
    got = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == want


def test_merge_from_equals_one_shot_under_shared_quantizer(spark, tmp_path, sf_dir):
    """ANN segment merge: two independently built indexes under the SAME
    pinned quantizer fold by file adoption and serve exactly like a
    one-shot build; a drifted quantizer refuses; the source is consumed."""
    import pytest

    e = load_table(spark, sf_dir, "embeddings")
    base = VectorIndex(spark, str(tmp_path / "q"), nlist=8, nprobe=NPROBE).build(e)
    cents = base.centroids
    a = VectorIndex(spark, str(tmp_path / "a"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents
    )
    b = VectorIndex(spark, str(tmp_path / "b"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 1), centroids=cents
    )
    a.merge_from(b)
    got = {
        tuple(r)
        for r in a.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == _expected(e, _queries(e), cents)

    with pytest.raises(FileNotFoundError):
        b.stats()  # consumed

    drifted = [[c + 0.25 for c in cent] for cent in cents]
    c_idx = VectorIndex(spark, str(tmp_path / "c"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 3 == 0), centroids=drifted
    )
    with pytest.raises(ValueError, match="quantizer mismatch"):
        a.merge_from(c_idx)


def test_merge_from_migrates_pending_erasures(spark, tmp_path, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    base = VectorIndex(spark, str(tmp_path / "q"), nlist=8, nprobe=NPROBE).build(e)
    cents = base.centroids
    victims = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 5 == 3)
    a = VectorIndex(spark, str(tmp_path / "a"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents
    )
    b = VectorIndex(spark, str(tmp_path / "b"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 1), centroids=cents
    )
    assert b.delete_vecs(e.where(victims).select("vec_id")) > 0
    a.merge_from(b)
    want = _expected(e.where(~victims), _queries(e), cents)
    got = {
        tuple(r)
        for r in a.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == want
    assert a.apply_deletes()
    after = {
        tuple(r)
        for r in a.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert after == want


def test_filtered_topk_prefilters_and_pushes_predicate(spark, tmp_path, sf_dir):
    """Filtered ANN: the metadata predicate narrows candidates BEFORE the
    rank cut (page fills with k true matches), the quantizer stays
    pinned, and the pushable IN predicate reaches the probed cells'
    parquet scan (PushedFilters) alongside dynamic partition pruning."""
    e = load_table(spark, sf_dir, "embeddings")
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE).build(e)
    served = vx.topk(_queries(e), where="label IN (1, 4, 7)")
    rows = served.select("q_id", "vec_id", "cos_sim", "rank").collect()
    got = {tuple(r) for r in rows}
    # pre-filter semantics: equals the in-memory IVF over the filtered
    # corpus (assignment is per-row pure, so survivors' cells are fixed)
    want = _expected(
        e.where(F.col("label").isin(1, 4, 7)), _queries(e), vx.centroids
    )
    assert got == want
    labels = {
        r.label
        for r in e.join(
            spark.createDataFrame(
                [(r.vec_id,) for r in rows], "vec_id long"
            ),
            "vec_id",
            "left_semi",
        ).collect()
    }
    assert labels <= {1, 4, 7}

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    assert "In(label, [1,4,7])" in plan, "label filter must push into the scan"


def test_streaming_foreachbatch_ingest_equals_one_shot(spark, tmp_path, sf_dir):
    """Structured-Streaming ingest into the ANN serving tier: embedding
    batches arriving through foreachBatch append into the persistent
    index under the PINNED quantizer, and serving equals a one-shot
    build — the production pattern (train offline, assign online) driven
    by a real stream with a checkpoint."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{sf_dir}/embeddings.parquet"
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staging)

    e = load_table(spark, sf_dir, "embeddings")
    base = VectorIndex(spark, str(tmp_path / "q"), nlist=8, nprobe=NPROBE).build(e)
    cents = base.centroids
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents
    )

    t = pq.read_table(src)
    odd = pc.equal(pc.bit_wise_and(t.column("vec_id"), 1), 1)
    pq.write_table(t.filter(odd), f"{staging}/part-000.parquet")

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(staging)
    q = (
        stream.writeStream.foreachBatch(lambda bdf, bid: vx.append(bdf))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert vx.stats()["appends"] == 1
    got = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == _expected(e, _queries(e), cents)


def test_merge_crash_self_heals_without_double_count(spark, tmp_path, sf_dir, monkeypatch):
    """Crash-injection on the ANN merge: a mid-adoption crash leaves the
    pending_merge marker (counters already folded once); mutations refuse;
    re-calling merge_from with the same segment finishes, serves equal to
    one-shot, and counters are not double-folded."""
    import pytest

    from analytics_data_platform_spark.operators import search_index as SI

    e = load_table(spark, sf_dir, "embeddings")
    base = VectorIndex(spark, str(tmp_path / "q"), nlist=8, nprobe=NPROBE).build(e)
    cents = base.centroids
    a = VectorIndex(spark, str(tmp_path / "a"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents
    )
    b = VectorIndex(spark, str(tmp_path / "b"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 1), centroids=cents
    )

    real_adopt = SI.adopt_parquet_tree

    def dying_adopt(src, dst, tag):
        real_adopt(src, dst, tag)
        raise RuntimeError("injected crash mid-adoption")

    # vector_index resolves adopt_parquet_tree lazily from search_index,
    # so patching the source module intercepts it
    monkeypatch.setattr(SI, "adopt_parquet_tree", dying_adopt)
    with pytest.raises(RuntimeError, match="injected"):
        a.merge_from(b)
    monkeypatch.setattr(SI, "adopt_parquet_tree", real_adopt)

    assert "pending_merge" in a.stats()
    appends_after_fold = a.stats()["appends"]
    with pytest.raises(ValueError, match="torn merge"):
        a.append(e.where(F.col("vec_id") % 2 == 1))
    with pytest.raises(ValueError, match="torn merge"):
        a.delete_vecs([2])

    a.merge_from(b)
    assert "pending_merge" not in a.stats()
    assert a.stats()["appends"] == appends_after_fold, "counters double-folded"
    got = {
        tuple(r)
        for r in a.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == _expected(e, _queries(e), cents)


def test_merge_refuses_source_with_its_own_torn_merge(spark, tmp_path, sf_dir, monkeypatch):
    """ANN counterpart of the SearchIndex rule: a source carrying its own
    pending_merge has folded counters for cells it never finished
    adopting — consuming it would orphan those files. Refuse until the
    inner merge is re-run; the torn SOURCE handle refuses to serve for
    the whole window; the finished chain equals a one-shot build."""
    import pytest

    from analytics_data_platform_spark.operators import search_index as SI

    e = load_table(spark, sf_dir, "embeddings")
    base = VectorIndex(spark, str(tmp_path / "q"), nlist=8, nprobe=NPROBE).build(e)
    cents = base.centroids
    a = VectorIndex(spark, str(tmp_path / "a"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 3 == 0), centroids=cents
    )
    b = VectorIndex(spark, str(tmp_path / "b"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 3 == 1), centroids=cents
    )
    c = VectorIndex(spark, str(tmp_path / "c"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 3 == 2), centroids=cents
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

    with pytest.raises(ValueError, match="consumed"):
        c.stats()
    with pytest.raises(ValueError, match="consumed"):
        c.topk(_queries(e))
    with pytest.raises(ValueError, match="own torn merge"):
        a.merge_from(b)

    b.merge_from(c)
    a.merge_from(b)
    got = {
        tuple(r)
        for r in a.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == _expected(e, _queries(e), cents)


def _sq8_rule(corpus, queries, cents, nprobe=NPROBE, k=10):
    """The in-memory IVF,SQ8 rule (the ivf_sq8_topk formulation): coarse
    assignment on full-precision vectors, int8 codes, integer scoring."""
    cell = similarity.assign_centroid_col("embedding", cents).cast("int")
    coded = corpus.select(
        "vec_id", cell.alias("_cell"), similarity.sq8_codes("embedding").alias("codes")
    ).withColumn("c_sq", similarity.int_sq_norm("codes"))
    probes = similarity._probe_queries(queries, cents, nprobe, "q_id", "q_emb")
    probes = probes.select(
        "q_id", "_qcell", similarity.sq8_codes("q_emb").alias("q_codes")
    ).withColumn("q_sq", similarity.int_sq_norm("q_codes"))
    cos = similarity.sq8_cosine("q_codes", "codes", "q_sq", "c_sq")
    scored = coded.join(
        F.broadcast(probes),
        (F.col("_cell") == F.col("_qcell")) & (F.col("vec_id") != F.col("q_id")),
    ).select("q_id", "vec_id", F.round(cos, 4).alias("cos_sim"))
    return {
        tuple(r)
        for r in similarity.topk_per_query(scored, k, "q_id", "vec_id", "cos_sim")
        .select("q_id", "vec_id", "cos_sim", "rank")
        .collect()
    }


def test_sq8_storage_lifecycle_equals_in_memory_rule(spark, tmp_path, sf_dir):
    """VectorIndex(storage='sq8'): build→append→filter→erase→compact must
    serve exactly the in-memory IVF,SQ8 formulation; the resident cells
    hold int8 codes (NO float vector column — the 4x-bytes claim is
    structural); the probe still engages dynamic partition pruning."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    q = _queries(e)
    vx = VectorIndex(spark, str(tmp_path / "v"), nlist=8, nprobe=NPROBE, storage="sq8")
    vx.build(e.where(F.col("vec_id") % 2 == 0), centroids=cents)
    vx.append(e.where(F.col("vec_id") % 2 == 1))

    # structural: codes + integer norms persisted, float vector dropped
    cols = set(spark.read.parquet(vx.cells_dir).columns)
    assert "codes" in cols and "c_sq" in cols and "embedding" not in cols

    served = vx.topk(q)
    got = {tuple(r) for r in served.select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == _sq8_rule(e, q, cents), "sq8 index drifted from the in-memory rule"
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "sq8 probe lost partition pruning"

    # filtered serving narrows candidates before the cut, stats pinned
    flt = {
        tuple(r)
        for r in vx.topk(q, where="label IN (1, 4, 7)")
        .select("q_id", "vec_id", "cos_sim", "rank")
        .collect()
    }
    assert flt == _sq8_rule(e.where(F.col("label").isin(1, 4, 7)), q, cents)

    # merge-on-read erasure + compaction keep equality with the rule
    victims = [r.vec_id for r in e.where(F.col("vec_id") % 9 == 5).select("vec_id").collect()]
    assert vx.delete_vecs(victims) == len(victims)
    survivors = e.where(~(F.col("vec_id") % 9 == 5))
    want = _sq8_rule(survivors, q, cents)
    got = {tuple(r) for r in vx.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == want
    vx.apply_deletes()
    vx.compact()
    got = {tuple(r) for r in vx.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == want

    # reopening resolves the storage kind from the sidecar; an explicit
    # wrong kind refuses
    import pytest

    reopened = VectorIndex(spark, str(tmp_path / "v"))
    assert reopened.storage == "sq8"
    VectorIndex(spark, str(tmp_path / "v"), storage="sq8")  # explicit ok
    VectorIndex(spark, str(tmp_path / "f"), nlist=8).build(
        e.where(F.col("vec_id") < 40), centroids=cents
    )
    with pytest.raises(ValueError, match="stores"):
        VectorIndex(spark, str(tmp_path / "f"), storage="sq8")


def test_sq8_segment_merge_and_storage_drift_refusal(spark, tmp_path, sf_dir):
    """Two sq8 segments under one pinned quantizer merge by file adoption
    and serve the one-shot rule; a float segment refuses to fold into an
    sq8 index (and vice versa) — the scorer cannot read mixed cells."""
    import pytest

    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    q = _queries(e)
    a = VectorIndex(spark, str(tmp_path / "a"), nlist=8, nprobe=NPROBE, storage="sq8").build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents
    )
    b = VectorIndex(spark, str(tmp_path / "b"), nlist=8, nprobe=NPROBE, storage="sq8").build(
        e.where(F.col("vec_id") % 2 == 1), centroids=cents
    )
    a.merge_from(b)
    got = {tuple(r) for r in a.topk(q).select("q_id", "vec_id", "cos_sim", "rank").collect()}
    assert got == _sq8_rule(e, q, cents)

    f = VectorIndex(spark, str(tmp_path / "f"), nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 3 == 0), centroids=cents
    )
    with pytest.raises(ValueError, match="storage mismatch"):
        a.merge_from(f)
    with pytest.raises(ValueError, match="storage mismatch"):
        f.merge_from(a)


def _cents_slice(e, lo: int, n: int) -> list[list[float]]:
    rows = (
        e.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + n))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def test_retrain_swaps_quantizer_and_equals_one_shot(spark, tmp_path, sf_dir):
    """retrain() re-assigns every resident vector against a NEW pinned
    quantizer in one shuffle: serving (with pending erasures riding
    through the swap), a handle opened BEFORE the retrain, and a fresh
    handle must all equal a one-shot build of the same rows under the
    new centroids; the trained (nlist=) path pins whatever k-means
    produced and serves equivalently."""
    e = load_table(spark, sf_dir, "embeddings")
    cents8 = _cents_slice(e, 0, 8)
    cents16 = _cents_slice(e, 50, 16)
    victims = [r.vec_id for r in e.where(F.col("vec_id") % 13 == 4).select("vec_id").collect()]
    root = str(tmp_path / "rt")

    vx = VectorIndex(spark, root, nlist=8, nprobe=NPROBE).build(
        e.where(F.col("vec_id") % 2 == 0), centroids=cents8
    )
    vx.append(e.where(F.col("vec_id") % 2 == 1))
    vx.delete_vecs(victims)
    stale = VectorIndex(spark, root, nprobe=NPROBE)  # opened pre-retrain

    vx.retrain(centroids=cents16)
    assert vx.nlist == 16 and vx.centroids == cents16
    assert vx.stats().get("deletes"), "pending erasures must survive the retrain"

    survivors = e.where(~F.col("vec_id").isin(victims))
    want = _expected(survivors, _queries(e), cents16)
    got = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == want

    # the pre-retrain handle heals its quantizer through stats()
    got_stale = {
        tuple(r)
        for r in stale.topk(_queries(e))
        .select("q_id", "vec_id", "cos_sim", "rank")
        .collect()
    }
    assert got_stale == want and stale.nlist == 16

    # cells on disk follow the NEW quantizer (16 ids possible, >8 appear)
    cells = {int(n.split("=")[1]) for n in os.listdir(vx.cells_dir) if n.startswith("_cell=")}
    assert max(cells) >= 8, "no cell beyond the old nlist — vectors were not re-assigned"

    # trained path: k-means over the LIVE rows, then serve ≡ one-shot
    vx.retrain(nlist=4, seed=7)
    assert vx.nlist <= 4
    want2 = _expected(survivors, _queries(e), vx.centroids)
    got2 = {
        tuple(r)
        for r in vx.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got2 == want2


def test_retrain_refuses_sq8_and_heals_crash_windows(spark, tmp_path, sf_dir, monkeypatch):
    """sq8 cells store codes, not vectors — retrain must refuse (a
    one-shot build coarse-quantizes ORIGINALS). Float-cell crash
    injection: dying after the marker (before any rename) and dying
    between the two renames both heal FORWARD on the next open."""
    import pytest

    from analytics_data_platform_spark.operators import vector_index as VI

    e = load_table(spark, sf_dir, "embeddings")
    cents8 = _cents_slice(e, 0, 8)
    cents16 = _cents_slice(e, 50, 16)

    sq = VectorIndex(spark, str(tmp_path / "sq"), nlist=8, nprobe=NPROBE, storage="sq8")
    sq.build(e, centroids=cents8)
    with pytest.raises(ValueError, match="sq8"):
        sq.retrain(centroids=cents16)

    # (b) die right after the marker
    root = str(tmp_path / "vb")
    vx = VectorIndex(spark, root, nlist=8, nprobe=NPROBE).build(e, centroids=cents8)
    want = _expected(e, _queries(e), cents16)
    real_fin = VectorIndex._finish_retrain

    def dying_fin(self, meta):
        raise RuntimeError("injected post-marker crash")

    monkeypatch.setattr(VectorIndex, "_finish_retrain", dying_fin)
    with pytest.raises(RuntimeError, match="post-marker"):
        vx.retrain(centroids=cents16)
    monkeypatch.setattr(VectorIndex, "_finish_retrain", real_fin)
    assert vx._read_meta().get("pending_retrain")
    h = VectorIndex(spark, root, nprobe=NPROBE)
    got = {
        tuple(r)
        for r in h.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got == want and h.nlist == 16 and "pending_retrain" not in h.stats()

    # (c) die between the two renames (live cells gone)
    root2 = str(tmp_path / "vc")
    v2 = VectorIndex(spark, root2, nlist=8, nprobe=NPROBE).build(e, centroids=cents8)
    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if str(dst).endswith("_old.retrain"):
            raise RuntimeError("injected mid-swap crash")

    monkeypatch.setattr(VI.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="mid-swap"):
        v2.retrain(centroids=cents16)
    monkeypatch.setattr(VI.os, "rename", real_rename)
    assert not os.path.isdir(v2.cells_dir), "crash window should strand the swap"
    h2 = VectorIndex(spark, root2, nprobe=NPROBE)
    got2 = {
        tuple(r)
        for r in h2.topk(_queries(e)).select("q_id", "vec_id", "cos_sim", "rank").collect()
    }
    assert got2 == want and h2.nlist == 16 and "pending_retrain" not in h2.stats()
