"""Planted-truth checks for two corpus_ops dedup primitives: the winnowing
fingerprint coverage guarantee and substring-containment dedup under a
hot shared anchor."""

from __future__ import annotations

import pyspark.sql.functions as F


class TestWinnowingGuarantee:
    """The MOSS coverage proof behind queries/corpus_ops.py::
    winnowing_fingerprints: any shared token run of length ≥ W+K-1 MUST
    produce at least one shared fingerprint — sampling without recall
    loss above the threshold."""

    def _fingerprints(self, spark, texts):
        from analytics_data_platform_spark.queries.corpus_ops import (
            WIN_K,
            WIN_W,
        )
        from analytics_data_platform_spark.functions.expr import bind
        from analytics_data_platform_spark.operators.sketches import h32

        d = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        fps_arr = bind(
            F.split("text", " "),
            lambda t: F.when(
                F.size(t) >= WIN_K + WIN_W - 1,
                bind(
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - (WIN_K - 1)),
                        lambda i: h32(F.concat_ws(" ", F.slice(t, i, WIN_K))),
                    ),
                    lambda h: F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.size(h) - (WIN_W - 1)),
                            lambda j: F.array_min(F.slice(h, j, WIN_W)),
                        )
                    ),
                ),
            ),
        )
        rows = d.select("doc_id", F.explode(fps_arr).alias("fp")).collect()
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r["doc_id"], set()).add(r["fp"])
        return out

    def test_shared_run_yields_shared_fingerprint(self, spark):
        # 8 shared tokens (= W+K-1) embedded in otherwise-disjoint docs
        shared = "q w e r t y u i"
        a = "a1 a2 a3 " + shared + " a4 a5 a6"
        b = "b1 b2 b3 b4 " + shared + " b5"
        fps = self._fingerprints(spark, [a, b])
        assert fps[0] & fps[1], "coverage guarantee violated"

    def test_disjoint_docs_share_nothing(self, spark):
        fps = self._fingerprints(
            spark,
            ["a1 a2 a3 a4 a5 a6 a7 a8 a9 a10", "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"],
        )
        assert not (fps[0] & fps[1])

    def test_sampling_actually_prunes(self, spark):
        # a long doc keeps far fewer fingerprints than k-grams: expected
        # density ~2/(W+1) = 1/3, allow slack but require real pruning
        text = " ".join(f"t{i % 97}" for i in range(400))
        fps = self._fingerprints(spark, [text])
        n_grams = 400 - 3
        assert len(fps[0]) < 0.6 * n_grams


class TestSubstringContainmentDedup:
    """Planted-truth checks for substring_containment_dedup, including the
    anchor-skew shape the synthetic corpus never produces: many docs sharing
    one hot first-8-gram (boilerplate header), where a naive all-pairs scan
    would blow up but the anchor join must stay candidate-bounded and the
    RESULT must be exactly the planted containment set."""

    ANCHOR = "h0 h1 h2 h3 h4 h5 h6 h7"

    def _write(self, spark, tmp_path, rows):
        df = spark.createDataFrame(
            [(i, t, "en", src, len(t)) for i, (t, src) in enumerate(rows)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_planted_containments_exact(self, spark, tmp_path):
        from analytics_data_platform_spark.queries.corpus_ops import (
            substring_containment_dedup,
        )

        inner = f"{self.ANCHOR} z1 z2 z3"
        rows = [
            (inner, "s0"),                       # 0: contained in 1 and 2
            (f"w1 {inner} w2", "s0"),            # 1: container
            (f"{inner} tail9", "s0"),            # 2: second container (still 1 drop)
            (f"{self.ANCHOR} q1 q2 q3 q4", "s1"),  # 3: hot anchor, no containment
            (f"{self.ANCHOR} q1 q2 q3 q5", "s1"),  # 4: hot anchor, no containment
            (f"{self.ANCHOR} q1 q2 q3 q4", "s1"),  # 5: exact dup of 3 -> dropped
            ("tiny doc under eight", "s2"),      # 6: ineligible (<8 tokens) even
                                                 #    though a substring of 7
            (f"pad1 tiny doc under eight {self.ANCHOR}", "s2"),  # 7
        ]
        # hot-anchor fan: 40 more docs sharing the anchor, mutually distinct
        rows += [(f"{self.ANCHOR} fan{i} fan{i + 1}", "s3") for i in range(40)]
        out = {
            r["source"]: r
            for r in substring_containment_dedup(
                spark, self._write(spark, tmp_path, rows)
            ).collect()
        }
        assert out["s0"]["n_contained"] == 1  # doc 0 once, despite 2 containers
        assert out["s0"]["chars_saved"] == len(inner)
        assert out["s1"]["n_contained"] == 1  # the exact dup: doc 5 (min id keeps)
        assert out["s2"]["n_contained"] == 0  # <8-token doc never eligible
        assert out["s2"]["n_eligible"] == 1
        assert out["s3"]["n_contained"] == 0  # hot anchor alone implies nothing
        assert out["s3"]["n_docs"] == 40

    def test_hot_anchor_candidates_stay_bounded(self, spark, tmp_path):
        """The candidate set for a hot anchor is anchors(g) x occurrences(g),
        never corpus². With 50 hot-anchor docs of ~10 tokens each, the
        anchor gram occurs ~3x per doc -> candidates ≲ 50*150; assert the
        verify input stays in that band (collected count on planted data)."""
        from analytics_data_platform_spark.queries.corpus_ops import PASSAGE_N
        from analytics_data_platform_spark.sources.testdata import load_table

        rows = [(f"{self.ANCHOR} fan{i} fan{i + 1} fan{i + 2}", "s") for i in range(50)]
        sf = self._write(spark, tmp_path, rows)
        d = load_table(spark, sf, "documents")
        toks = d.select("doc_id", F.split("text", " ").alias("t"))
        elig = toks.where(F.size("t") >= PASSAGE_N)
        occ = elig.select(
            F.col("doc_id").alias("b_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {PASSAGE_N}),"
                    f" i -> md5(concat_ws(' ', slice(t, i + 1, {PASSAGE_N}))))"
                )
            ).alias("g"),
        ).distinct()
        anchors = elig.select(
            F.col("doc_id").alias("a_id"),
            F.expr(f"md5(concat_ws(' ', slice(t, 1, {PASSAGE_N})))").alias("g"),
        )
        n_cand = (
            anchors.join(occ, "g").where(F.col("a_id") != F.col("b_id")).count()
        )
        assert n_cand <= 50 * (4 * 50)  # anchors x occurrences, not 50 x 2450 grams
