"""Invariant tests for the round-5 query additions (exactness is covered by
the registry-wide oracle sweep; these pin semantic contracts)."""

from __future__ import annotations

import pyspark.sql.functions as F

from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.sources.testdata import load_table


def _run(spark, sf_dir, name):
    return all_queries()[name].fn(spark, sf_dir)


def test_leakage_safe_split_has_zero_grouped_leaks(spark, sf_dir):
    rows = _run(spark, sf_dir, "leakage_safe_split").collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    d = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        # the whole point: a cluster never straddles splits
        assert r.leaked_pairs_grouped == 0
        assert r.n_clusters <= r.n_docs
    # the naive per-doc split LEAKS on this corpus (5 pairs at sf0.001,
    # 6 at sf0.01) — the audit column must demonstrate the improvement it
    # claims, not just be a well-typed count
    assert rows[0].leaked_pairs_naive > 0


def test_dsir_weights_rank_target_lang_higher(spark, sf_dir):
    """DSIR with target=en must put en docs at the top of the weight
    ranking (the corpus's en slice IS the target distribution)."""
    rows = _run(spark, sf_dir, "dsir_importance_weights").collect()
    assert len(rows) == 20
    en = sum(1 for r in rows if r.lang == "en")
    assert en >= 15, f"only {en}/20 top-weighted docs are en"
    # weights are sorted descending with doc_id tiebreak
    for a, b in zip(rows, rows[1:]):
        assert (a.w_micro, -a.doc_id) >= (b.w_micro, -b.doc_id)


def test_nb_classifier_beats_chance_on_diagonal(spark, sf_dir):
    rows = _run(spark, sf_dir, "nb_lang_classifier_eval").collect()
    total = sum(r.n_docs for r in rows)
    diag = sum(r.n_docs for r in rows if r.true_lang == r.pred_lang)
    n_langs = len({r.true_lang for r in rows})
    assert n_langs >= 2
    # resubstitution NB on its own training corpus must beat chance
    assert diag / total > 1.0 / n_langs, (diag, total, n_langs)


def test_lm_bigram_xent_positive_and_partitioned(spark, sf_dir):
    rows = _run(spark, sf_dir, "lm_bigram_xent_by_lang").collect()
    assert rows
    for r in rows:
        assert r.xent_nats > 0  # -ln P of a proper distribution
        assert r.n_bigrams > 0
        # micro-sum consistency: xent_nats is the single division
        assert abs(r.xent_micro_sum / (r.n_bigrams * 1_000_000) - r.xent_nats) < 1e-5


def test_ndcg_bounds_and_consistency(spark, sf_dir):
    rows = _run(spark, sf_dir, "ndcg_at_10_ann").collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.ndcg_at_10 <= 1.0
        assert r.dcg_micro <= r.idcg_micro
        assert 0 <= r.n_rel_topk <= 10
        assert r.n_rel_total >= r.n_rel_topk


def test_c4_gopher_flags_bounded_by_doc_counts(spark, sf_dir):
    rows = _run(spark, sf_dir, "c4_gopher_rule_stats").collect()
    rule_cols = [c for c in rows[0].asDict() if c.startswith("r_")]
    assert len(rule_cols) == 8
    for r in rows:
        d = r.asDict()
        for c in rule_cols:
            assert 0 <= d[c] <= r.n_docs
        assert 0 <= r.pass_all <= min(d[c] for c in rule_cols)
        assert r.pass_all <= r.pass_core <= r.n_docs
        # the corpus-calibration story: the structural core discriminates
    assert sum(r.pass_core for r in rows) > 0


def test_apply_changes_out_of_order_and_deletes(spark):
    from analytics_data_platform_spark.operators.cdc import apply_changes

    rows = [
        # key 1: upsert v1 @seq 1, delete @seq 3, late upsert v2 @seq 2
        # (arrives LAST) -> delete wins, key absent
        (1, 1, "upsert", "v1"),
        (1, 3, "delete", None),
        (1, 2, "upsert", "v2"),
        # key 2: late-arriving lower seq must NOT override
        (2, 5, "upsert", "new"),
        (2, 4, "upsert", "old"),
        # key 3: delete then re-insert at higher seq -> alive
        (3, 1, "delete", None),
        (3, 2, "upsert", "back"),
    ]
    log = spark.createDataFrame(rows, "k int, seq int, op string, payload string")
    got = {
        r.k: (r.seq, r.op, r.payload)
        for r in apply_changes(log, key_cols=["k"], seq_cols=["seq"]).collect()
    }
    assert 1 not in got
    assert got[2] == (5, "upsert", "new")
    assert got[3] == (2, "upsert", "back")


def test_apply_changes_is_arrival_order_free(spark):
    """Same multiset of changes under a hostile partitioning must produce
    the same state (max-struct is associative/commutative)."""
    from analytics_data_platform_spark.operators.cdc import apply_changes

    rows = [(k, s, "delete" if (k + s) % 7 == 0 else "upsert", f"p{k}-{s}")
            for k in range(20) for s in range(10)]
    log = spark.createDataFrame(rows, "k int, seq int, op string, payload string")
    base = sorted(map(tuple, apply_changes(log, key_cols=["k"], seq_cols=["seq"]).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = sorted(map(tuple, apply_changes(
            log.repartition(13), key_cols=["k"], seq_cols=["seq"]).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == again


def test_c4_rule_gated_cleaning_write(spark, sf_dir):
    """End-to-end cleaning pass: the same rule columns that feed the audit
    query gate a corpus WRITE through TableIO — the written clean table's
    per-source counts must equal the audit's pass_all counts."""
    import uuid

    import pyspark.sql.functions as F

    from analytics_data_platform_spark.queries.corpus_ops import c4_gopher_rule_stats
    from analytics_data_platform_spark.sources.testdata import load_table
    from analytics_data_platform_spark.tables.io import TableIO

    audit = {r.source: r.pass_core for r in c4_gopher_rule_stats(spark, sf_dir).collect()}

    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    t = F.split(F.trim("text"), r"\s+")
    n_w = F.size(t)
    word_chars = F.aggregate(F.transform(t, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v)
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("(?i)[a-z]")))
    n_sym = F.size(F.regexp_extract_all("text", F.lit(r"#|\.\.\."), F.lit(0)))
    clean = d.where(
        (n_w >= 30) & (n_w <= 100000)
        & (word_chars >= 3 * n_w) & (word_chars <= 10 * n_w)
        & (10 * n_sym <= n_w)
        & (5 * n_alpha >= 4 * n_w)
        & ~F.lower("text").contains("lorem ipsum")
        & ~F.col("text").contains("{")
    )

    io = TableIO(spark)
    ns = f"clean_{uuid.uuid4().hex[:8]}"
    io.ensure_namespace(ns)
    try:
        io.write_table(clean, f"{ns}.documents_clean", mode="replace")
        written = {
            r.source: r.n
            for r in io.read(f"{ns}.documents_clean")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for src, n_pass in audit.items():
            assert written.get(src, 0) == n_pass, src
    finally:
        io.drop_namespace(ns)


def test_ivf_pq_subset_of_probed_cells_and_recall_vs_pq(spark, sf_dir):
    """IVF-PQ results must (a) come only from probed cells, (b) agree with
    full PQ ADC on any candidate both scored — the cell filter changes the
    candidate SET, never a surviving candidate's score."""
    import pyspark.sql.functions as F

    from analytics_data_platform_spark.queries import all_queries

    ivf = all_queries()["ivf_pq_adc_topk"].fn(spark, sf_dir).collect()
    pq = {
        (r.q_id, r.vec_id): r.adc
        for r in all_queries()["pq_adc_topk"].fn(spark, sf_dir).collect()
    }
    assert ivf
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.q_id, []).append(r)
        # same (query, candidate) pair scored by both => identical ADC
        if (r.q_id, r.vec_id) in pq:
            assert pq[(r.q_id, r.vec_id)] == r.adc
    for q_rows in by_q.values():
        q_rows.sort(key=lambda r: r.pos)
        for a, b in zip(q_rows, q_rows[1:]):
            assert a.adc <= b.adc


def test_apply_changes_null_op_is_upsert_not_silent_delete(spark):
    """A winning change with op NULL must surface as live state — plain
    `op != 'delete'` would NULL out and drop the key (code-review r5)."""
    from analytics_data_platform_spark.operators.cdc import apply_changes

    log = spark.createDataFrame(
        [(1, 1, "upsert", "v1"), (1, 2, None, "v2"), (2, 1, "delete", None)],
        "k int, seq int, op string, payload string",
    )
    got = {r.k: (r.op, r.payload) for r in
           apply_changes(log, key_cols=["k"], seq_cols=["seq"]).collect()}
    assert got == {1: (None, "v2")}


def test_apply_changes_tombstones_block_late_resurrection(spark):
    """Incremental two-stage merge: a delete collapsed in batch 1 must
    survive into the persisted state (keep_tombstones=True) so a LATE,
    lower-sequence upsert arriving in batch 2 cannot resurrect the key —
    and the test also proves the failure mode is real: WITHOUT retained
    tombstones the same replay resurrects the key with stale data."""
    from analytics_data_platform_spark.operators.cdc import apply_changes

    batch1 = spark.createDataFrame(
        [(1, 1, "upsert", "v1"), (1, 3, "delete", None), (2, 1, "upsert", "x")],
        "k int, seq int, op string, payload string",
    )
    batch2 = spark.createDataFrame(
        [(1, 2, "upsert", "v2-late")],  # lower seq than key 1's delete
        "k int, seq int, op string, payload string",
    )

    def merge(state, batch, keep):
        src = state.unionByName(batch) if state is not None else batch
        return apply_changes(
            src, key_cols=["k"], seq_cols=["seq"], keep_tombstones=keep
        )

    # correct path: tombstones retained between batches, filtered at read
    state = merge(None, batch1, keep=True)
    state = merge(state, batch2, keep=True)
    live = {r.k: r.payload for r in state.where("op <> 'delete'").collect()}
    assert live == {2: "x"}, f"late lower-seq upsert resurrected a key: {live}"

    # failure mode: dropping tombstones per batch resurrects key 1
    naive = merge(None, batch1, keep=False)
    naive = merge(naive, batch2, keep=False)
    resurrected = {r.k: r.payload for r in naive.collect()}
    assert resurrected.get(1) == "v2-late", (
        "expected the naive no-tombstone merge to exhibit the resurrection "
        "bug this parameter exists to prevent"
    )
