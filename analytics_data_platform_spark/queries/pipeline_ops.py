"""The end-to-end training-corpus pipeline under the DuckDB oracle gate.

pipelines/training_corpus.py is the flagship user journey (clean → exact
dedup → leakage-safe split → pack → shards+manifest) and was pytest-only
until this module: ``training_pipeline_manifest`` RUNS the pipeline — a
real multi-stage execution with parquet shard writes to a temp dir — and
returns its stage manifest, while the oracle recomputes every manifest
count from the same base tables in one SQL statement:

- raw / clean: the C4 core-rule conjunction (the same rule SQL the
  oracle-verified ``c4_gopher_rule_stats`` uses);
- exact_dedup: min-id-per-normalized-md5 (the ``dup_rate_by_source``
  fingerprint rule);
- split:{train,val,test}: the near-dup pair SQL of the oracle-verified
  ``near_dup_minhash`` — retargeted at the cleaned+deduped sub-corpus —
  closed into connected components by a recursive CTE, then split by the
  same salted-md5 component-hash rule (``leak_split_of``).

So a drift in ANY pipeline stage (a rule threshold, the dedup keeper, the
LSH family, the component closure, the split hash, or a shard write that
drops rows — split counts are re-read from the written parquet) diverges
from the oracle hash. Packing is count-preserving by construction and
stays pytest-gated (tests/test_training_pipeline.py conservation checks).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.pipelines.training_corpus import build_training_corpus
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.queries.scale_ops import LEAK_SALT


def training_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full training-corpus pipeline into a temp dir; return the
    stage manifest (stage, n_docs) — the ≤ |stages| rows that are the
    pipeline's only driver-side data. The temp output (packed shards +
    manifest parquet) is removed before returning; the result is a
    literal frame so nothing references the deleted files."""
    out = tempfile.mkdtemp(prefix="adps-pipeline-")
    try:
        manifest = build_training_corpus(spark, sf_dir, out)
        rows = sorted((m.stage, m.n_docs) for m in manifest)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n_docs long")


def _split_case(key: str) -> str:
    h = f"('0x' || substr(md5('{LEAK_SALT}' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 100"
    return f"CASE WHEN {h} < 90 THEN 'train' WHEN {h} < 95 THEN 'val' ELSE 'test' END"


_CLEAN_WHERE = r"""len(t) >= 30 AND len(t) <= 100000
    AND list_sum(list_transform(t, w -> len(w))) >= 3 * len(t)
    AND list_sum(list_transform(t, w -> len(w))) <= 10 * len(t)
    AND 10 * len(regexp_extract_all(text, '#|\.\.\.')) <= len(t)
    AND 5 * len(list_filter(t, w -> regexp_matches(w, '(?i)[a-z]'))) >= 4 * len(t)
    AND NOT contains(lower(text), 'lorem ipsum')
    AND NOT contains(text, '{')"""

_FP_SQL = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"


def _retargeted_pair_sql() -> str:
    from analytics_data_platform_spark.queries import REGISTRY

    pair_sql = REGISTRY["near_dup_minhash"].oracle
    # the pipeline runs LSH on the cleaned+deduped sub-corpus, not the raw
    # table: retarget the (oracle-verified) pair SQL's one table reference
    assert pair_sql.count("FROM documents") == 1, "near_dup_minhash oracle shape changed"
    return pair_sql.replace("FROM documents", "FROM dd")


def _pipeline_sql() -> str:
    pair_sql = _retargeted_pair_sql()
    clean_where = _CLEAN_WHERE

    return rf"""
WITH RECURSIVE
base AS (
  SELECT doc_id, text, lang, source, n_chars, string_split(trim(text), ' ') AS t
  FROM documents WHERE length(trim(text)) > 0
),
clean AS (
  SELECT doc_id, text, lang, source, n_chars FROM base
  WHERE {clean_where}
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM clean
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
dd AS (SELECT c.* FROM clean c JOIN keep k ON c.doc_id = k.doc_id),
pairs AS (SELECT id_a, id_b FROM ({pair_sql}) q),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(a, b) AS (
  SELECT src AS a, src AS b FROM cedges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN cedges e ON r.b = e.src
),
cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
assigned AS (
  SELECT d.doc_id,
         {_split_case("COALESCE(cc.cluster_id, d.doc_id)")} AS split
  FROM dd d LEFT JOIN cc ON d.doc_id = cc.doc_id
),
stages AS (
  SELECT 'raw' AS stage, COUNT(*) AS n_docs FROM base
  UNION ALL SELECT 'clean', COUNT(*) FROM clean
  UNION ALL SELECT 'exact_dedup', COUNT(*) FROM dd
  UNION ALL SELECT 'split:' || split, COUNT(*) FROM assigned GROUP BY split
)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM stages ORDER BY stage
"""


register(
    QuerySpec(
        "training_pipeline_manifest",
        training_pipeline_manifest,
        _pipeline_sql(),
        doc="end-to-end training-corpus pipeline execution; stage manifest oracle-recomputed from the base tables",
        cites="pipelines/training_corpus.py; composes c4_gopher_rule_stats + dup_rate_by_source + near_dup_minhash + leak_split_of",
        tags=("training", "pipeline", "dedup", "scale"),
    )
)


def incremental_pipeline_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus refresh end to end: the documents table arrives
    in TWO streaming micro-batches (split by doc_id parity, drained one
    per availableNow tick from a shared checkpoint), and each
    ``foreachBatch`` folds the batch into persisted corpus state via
    ``pipelines/incremental.py::refresh_corpus_state`` — exact-dedup
    keeper merge, LSH band-index compact+append, incremental candidate
    join, pair retention under eviction.

    The oracle is the ONE-SHOT pipeline SQL over the full table (the same
    statement ``training_pipeline_manifest`` is gated on): because the
    keeper rule is an associative min, band rows are deterministic per
    text, and pairs/components/split are pure functions of the live set,
    the incremental result provably equals the one-shot collapse — a
    dropped batch, a stale band-index row, a missed eviction cascade, or
    a lost cross-batch near-dup pair hash-diverges.

    Scale shape per tick: one fingerprint shuffle over state ∪ batch,
    id-key semi-joins for compaction, shingling of only the new docs;
    the corpus is never re-shingled. Reference analogue: the incremental
    watermark machinery of elt-common/src/elt_common/runner.py:67-107.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from analytics_data_platform_spark.pipelines.incremental import (
        corpus_split_manifest,
        refresh_corpus_state,
    )
    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    src = f"{sf_dir}/documents.parquet"
    staging = _tempfile.mkdtemp(prefix="adps-incr-stage-")
    ckpt = _tempfile.mkdtemp(prefix="adps-incr-ckpt-")
    state = _tempfile.mkdtemp(prefix="adps-incr-state-")

    def drain() -> None:
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
            staging
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: refresh_corpus_state(spark, state, bdf, bid)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        t = pq.read_table(src)
        even = pc.equal(pc.bit_wise_and(t.column("doc_id"), 1), 0)
        pq.write_table(t.filter(even), f"{staging}/part-000.parquet")
        drain()
        pq.write_table(t.filter(pc.invert(even)), f"{staging}/part-001.parquet")
        drain()
        rows = corpus_split_manifest(spark, state)
    finally:
        for d in (staging, ckpt, state):
            _shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n_docs long")


def _refresh_internal_plans(spark, sf_dir):
    from analytics_data_platform_spark.pipelines.incremental import (
        representative_merge_plans,
    )

    return representative_merge_plans(spark, sf_dir)


register(
    QuerySpec(
        "incremental_pipeline_refresh",
        incremental_pipeline_refresh,
        _pipeline_sql(),
        doc="streaming incremental corpus refresh (2 foreachBatch ticks: dedup-state merge, band-index compaction, incremental LSH); provably equals the one-shot pipeline SQL",
        cites="pipelines/incremental.py; operators/dedup.py incremental_minhash_candidates; ref elt-common/src/elt_common/runner.py:67-107 incremental watermark machinery",
        tags=("training", "pipeline", "dedup", "streaming", "scale", "multi_tick"),
        internal_plan=_refresh_internal_plans,
    )
)


def corpus_takedown_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based TAKEDOWN over the incremental corpus state (GDPR
    erasure / opt-out): two ingest ticks build the state, then a takedown
    tick removes every live doc whose normalized-text fingerprint matches
    a request set (docs with doc_id % 97 == 0 — content-keyed, so exact
    duplicates of the removed text go too), cascading into the band index
    and pair state like an eviction.

    The oracle is the one-shot pipeline SQL over the REDUCED corpus
    (keeper rule applied after excluding taken-down fingerprints): the
    keeper of a removed fingerprint disappears and no other keeper moves,
    so incremental-then-takedown provably equals one-shot-on-remainder.
    Result stages are exact_dedup + the split counts; ingest tallies are
    arrival history and are not rewritten by erasure (documented in
    pipelines/incremental.py::takedown_corpus_state).
    """
    import shutil as _shutil
    import tempfile as _tempfile

    import pyspark.sql.functions as F

    from analytics_data_platform_spark.pipelines.incremental import (
        corpus_split_manifest,
        refresh_corpus_state,
        takedown_corpus_state,
    )
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    state = _tempfile.mkdtemp(prefix="adps-takedown-state-")
    try:
        refresh_corpus_state(spark, state, docs.where(F.col("doc_id") % 2 == 0), 0)
        refresh_corpus_state(spark, state, docs.where(F.col("doc_id") % 2 == 1), 1)
        takedown_corpus_state(
            spark, state, docs.where(F.col("doc_id") % 97 == 0), 2
        )
        rows = [
            r
            for r in corpus_split_manifest(spark, state)
            if r[0] not in ("raw", "clean")
        ]
    finally:
        _shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n_docs long")


def _takedown_sql() -> str:
    pair_sql = _retargeted_pair_sql()
    return rf"""
WITH RECURSIVE
base AS (
  SELECT doc_id, text, lang, source, n_chars, string_split(trim(text), ' ') AS t
  FROM documents WHERE length(trim(text)) > 0
),
clean AS (
  SELECT doc_id, text, lang, source, n_chars FROM base
  WHERE {_CLEAN_WHERE}
),
tdfp AS (
  SELECT DISTINCT {_FP_SQL} AS tfp FROM documents WHERE doc_id % 97 = 0
),
fp AS (
  SELECT doc_id, {_FP_SQL} AS fp FROM clean
),
keep AS (
  SELECT MIN(doc_id) AS doc_id FROM fp
  WHERE fp NOT IN (SELECT tfp FROM tdfp WHERE tfp IS NOT NULL)
  GROUP BY fp
),
dd AS (SELECT c.* FROM clean c JOIN keep k ON c.doc_id = k.doc_id),
pairs AS (SELECT id_a, id_b FROM ({pair_sql}) q),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(a, b) AS (
  SELECT src AS a, src AS b FROM cedges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN cedges e ON r.b = e.src
),
cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
assigned AS (
  SELECT d.doc_id,
         {_split_case("COALESCE(cc.cluster_id, d.doc_id)")} AS split
  FROM dd d LEFT JOIN cc ON d.doc_id = cc.doc_id
),
stages AS (
  SELECT 'exact_dedup' AS stage, COUNT(*) AS n_docs FROM dd
  UNION ALL SELECT 'split:' || split, COUNT(*) FROM assigned GROUP BY split
)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM stages ORDER BY stage
"""


def _takedown_internal_plans(spark, sf_dir):
    from analytics_data_platform_spark.pipelines.incremental import (
        representative_takedown_plans,
    )

    return representative_takedown_plans(spark, sf_dir)


def corpus_tombstone_reingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE DURABILITY under re-ingest — the erasure property a
    crawling pipeline actually needs: content taken down between two
    crawl ticks must stay out when a later tick re-delivers it.

    Three state ticks: (0) the even-id half of the corpus is ingested;
    (1) a content-keyed takedown erases every fingerprint of the
    doc_id % 97 == 0 documents (persisted as tombstones in the state);
    (2) the odd-id half arrives TOGETHER with verbatim copies of the
    erased texts under entirely fresh doc_ids (+10M) — the re-crawl. The
    tombstone anti-join at the ingest door must drop both the copies and
    the odd-id docs that duplicate erased content.

    The oracle is the one-shot pipeline SQL over the corpus minus every
    doc carrying a tombstoned fingerprint (the same statement
    ``corpus_takedown_refresh`` is gated on): the fresh-id copies all
    carry tombstoned fingerprints, so the one-shot on the remainder never
    sees them — if even one re-ingested copy leaked into the live set,
    exact_dedup/split counts hash-diverge. Result stages are exact_dedup
    + splits; ingest tallies are arrival history (they do record the
    re-crawl attempt) and are excluded as in the takedown query.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    import pyspark.sql.functions as F

    from analytics_data_platform_spark.pipelines.incremental import (
        corpus_split_manifest,
        refresh_corpus_state,
        takedown_corpus_state,
    )
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    state = _tempfile.mkdtemp(prefix="adps-tombstone-state-")
    try:
        refresh_corpus_state(spark, state, docs.where(F.col("doc_id") % 2 == 0), 0)
        takedown_corpus_state(spark, state, docs.where(F.col("doc_id") % 97 == 0), 1)
        reingest = docs.where(F.col("doc_id") % 97 == 0).withColumn(
            "doc_id", (F.col("doc_id") + F.lit(10_000_000)).cast("long")
        )
        refresh_corpus_state(
            spark,
            state,
            docs.where(F.col("doc_id") % 2 == 1).unionByName(reingest),
            2,
        )
        rows = [
            r
            for r in corpus_split_manifest(spark, state)
            if r[0] not in ("raw", "clean")
        ]
    finally:
        _shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(rows, "stage string, n_docs long")


def _tombstone_internal_plans(spark, sf_dir):
    from analytics_data_platform_spark.pipelines.incremental import (
        representative_merge_plans,
    )

    return representative_merge_plans(spark, sf_dir, with_tombstones=True)


register(
    QuerySpec(
        "corpus_tombstone_reingest",
        corpus_tombstone_reingest,
        _takedown_sql(),
        doc="GDPR-erasure durability: takedown tombstones filter a later re-crawl of the erased content at the ingest door; provably equals the one-shot pipeline on the reduced corpus",
        cites="pipelines/incremental.py tombstones part + ingest anti-join; LLM-data governance: durable content opt-out",
        tags=("training", "pipeline", "dedup", "governance", "scale", "multi_tick"),
        internal_plan=_tombstone_internal_plans,
    )
)


register(
    QuerySpec(
        "corpus_takedown_refresh",
        corpus_takedown_refresh,
        _takedown_sql(),
        doc="content-based takedown (GDPR erasure) over incremental corpus state: fingerprint-keyed removal cascades into index/pairs; provably equals the one-shot pipeline on the reduced corpus",
        cites="pipelines/incremental.py::takedown_corpus_state; LLM-data governance: content opt-out/erasure",
        tags=("training", "pipeline", "dedup", "governance", "scale", "multi_tick"),
        internal_plan=_takedown_internal_plans,
    )
)


def corpus_state_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel CHANGELOG over the snapshot-backed incremental corpus
    state: two ingest ticks commit state versions, then BOTH versions are
    read back via snapshot time travel and diffed per (batch, source) —
    docs appeared / evicted / retained. This is the audit surface an
    Iceberg `CHANGES BETWEEN` read gives a warehouse table, applied to
    the corpus live set, and it externally gates that version-pinned
    reads of the copy-on-write state (pipelines/incremental.py commit
    protocol) return exactly the historical live sets.

    The CHANGES read itself is MANIFEST-DERIVED (``pipelines/
    incremental.py::state_changelog``): the tick's appeared rows are its
    appended data files and its evicted doc_ids are its merge-on-read
    delete-key files — O(tick delta), never a diff join of two
    corpus-sized live versions. The only state-sized work is one
    keys-only columnar scan of the FROM version (map-side per-source
    counts + a broadcast probe by the delta-sized evicted key set — the
    same accepted shape as the keeper merge; nothing resident shuffles).

    The oracle recomputes each tick's live set directly — the keeper
    rule over the cleaned prefix of batches (tick k's live set equals
    the one-shot exact-dedup of batches 0..k, the provable-collapse
    property the refresh family is gated on) — and diffs them in SQL.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    import pyspark.sql.functions as F

    from analytics_data_platform_spark.pipelines.incremental import (
        read_state_part,
        refresh_corpus_state,
        state_changelog,
    )
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    state = _tempfile.mkdtemp(prefix="adps-changelog-state-")
    try:
        refresh_corpus_state(spark, state, docs.where(F.col("doc_id") % 2 == 0), 0)
        refresh_corpus_state(spark, state, docs.where(F.col("doc_id") % 2 == 1), 1)
        live0 = read_state_part(spark, state, "live", 0).select("doc_id", "source")
        appeared, evicted = state_changelog(spark, state, "live", 0, 1, ["doc_id"])
        app = appeared.groupBy("source").agg(F.count(F.lit(1)).alias("n_appeared"))
        # evicted keys are delta-sized: broadcast them over the keys-only
        # scan of live@0 to resolve each eviction's source (map-side)
        ev = (
            live0.join(F.broadcast(evicted), "doc_id", "left_semi")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_evicted"))
        )
        l0 = live0.groupBy("source").agg(F.count(F.lit(1)).alias("n0"))
        status1 = (
            l0.join(ev, "source", "full_outer")
            .join(app, "source", "full_outer")
            .select(
                "source",
                F.coalesce("n_appeared", F.lit(0)).alias("n_appeared"),
                F.coalesce("n_evicted", F.lit(0)).alias("n_evicted"),
                (
                    F.coalesce("n0", F.lit(0)) - F.coalesce("n_evicted", F.lit(0))
                ).alias("n_retained"),
                F.lit(1).cast("long").alias("batch_id"),
            )
        )
        tick0 = (
            live0.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_appeared"))
            .select(
                "source",
                "n_appeared",
                F.lit(0).cast("long").alias("n_evicted"),
                F.lit(0).cast("long").alias("n_retained"),
                F.lit(0).cast("long").alias("batch_id"),
            )
        )
        rows = [
            (r["batch_id"], r["source"], r["n_appeared"], r["n_evicted"], r["n_retained"])
            for r in tick0.unionByName(status1.select(tick0.columns)).collect()
        ]
    finally:
        _shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "batch_id long, source string, n_appeared long, n_evicted long, n_retained long",
    )


CHANGELOG_SQL = rf"""
WITH base AS (
  SELECT doc_id, source, string_split(trim(text), ' ') AS t, text
  FROM documents WHERE length(trim(text)) > 0
),
clean AS (
  SELECT doc_id, source, {_FP_SQL} AS fp FROM base
  WHERE {_CLEAN_WHERE}
),
live0 AS (
  SELECT MIN(doc_id) AS doc_id FROM clean WHERE doc_id % 2 = 0 GROUP BY fp
),
live1 AS (
  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY fp
),
l0 AS (SELECT c.doc_id, c.source FROM live0 v JOIN clean c ON v.doc_id = c.doc_id),
l1 AS (SELECT c.doc_id, c.source FROM live1 v JOIN clean c ON v.doc_id = c.doc_id),
tick1 AS (
  SELECT COALESCE(l1.source, l0.source) AS source,
         CASE WHEN l0.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in0,
         CASE WHEN l1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in1
  FROM l0 FULL OUTER JOIN l1 ON l0.doc_id = l1.doc_id
)
SELECT CAST(0 AS BIGINT) AS batch_id, source,
       COUNT(*) AS n_appeared,
       CAST(0 AS BIGINT) AS n_evicted,
       CAST(0 AS BIGINT) AS n_retained
FROM l0 GROUP BY source
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch_id, source,
       CAST(SUM(CASE WHEN in1 = 1 AND in0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_appeared,
       CAST(SUM(CASE WHEN in0 = 1 AND in1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_evicted,
       CAST(SUM(CASE WHEN in0 = 1 AND in1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
FROM tick1 GROUP BY source
"""


def _changelog_internal_plans(spark, sf_dir):
    from analytics_data_platform_spark.pipelines.incremental import (
        representative_merge_plans,
    )

    return representative_merge_plans(spark, sf_dir)


register(
    QuerySpec(
        "corpus_state_changelog",
        corpus_state_changelog,
        CHANGELOG_SQL,
        doc="per-tick appeared/evicted/retained of corpus state versions from the MANIFEST changelog (appended data files + MOR delete-key files) — O(delta), no version-diff join",
        cites="pipelines/incremental.py::state_changelog; tables/snapshots.py::changelog; Iceberg CDC/CHANGES-read analogue",
        tags=("pipeline", "streaming", "governance", "multi_tick"),
        internal_plan=_changelog_internal_plans,
    )
)
