"""Incremental training-corpus refresh: new documents arrive in batches,
and the corpus state (exact-dedup keepers, LSH band index, verified
near-dup pairs, takedown tombstones) is MERGED per batch instead of
recomputed — the production shape at 100 TB, where re-running the
one-shot pipeline on every ingest tick would re-shingle the whole corpus.

Reference analogue: the watermark/incremental machinery of
`elt-common/src/elt_common/runner.py:67-107` (each tick processes only
the delta and folds it into persisted state), applied to the dedup/split
stages of pipelines/training_corpus.py; the commit protocol is the same
transactional write+property commit the reference gets from pyiceberg
(`elt-common/src/elt_common/iceberg/io.py:92-113`), supplied here by the
repo's own snapshot layer.

Persisted state: FIVE snapshot tables (tables/snapshots.py — the same
atomic-commit/time-travel/expiry mechanism every other warehouse table
uses; no bespoke directory convention):

    state_dir/live        one row per kept document (min-id per
                          fingerprint); the normalized-text fingerprint
                          is STORED as the ``_fp`` column, so per-tick
                          merges join on two slim key columns and never
                          re-hash (or even read) the resident text
    state_dir/band_index  the LSH band rows of every live doc
                          (operators/dedup.py::minhash_band_rows, the
                          bucket-keyed index incremental_minhash_candidates
                          probes)
    state_dir/pairs       verified near-dup pairs among live docs
    state_dir/counts      per-batch raw/clean tallies (arrival history)
    state_dir/tombstones  fingerprints of taken-down content — a batch
                          re-ingesting erased content is filtered at the
                          door, so GDPR erasure survives later refreshes

A STATE VERSION is a named ref ``state_v{batch_id}`` across the five
tables. Commits are DELTAS, not rewrites: each non-bootstrap tick
appends its new rows (O(batch)) and records evictions/takedowns as
merge-on-read equality-delete files (O(keys) — Iceberg v2 semantics, no
data file rewritten), so a tick's WRITE cost is O(delta) while versions
still share unchanged files by reference. The bootstrap tick is a full
replace (delta == full state). Refs are then set in a fixed order with
``counts`` LAST — the counts ref IS the commit marker. Readers and the
predecessor rule recognize only versions whose counts ref exists, so a
crash anywhere mid-commit leaves the previous version live and the torn
attempt invisible. A torn attempt's snapshots — and, if the crash hit
the ref-setting phase, its stray per-part ``state_v*`` refs — are
garbage-collected by ``expire_state_versions`` (stray refs of a batch id
that was never committed are dropped once a LATER batch has committed,
because the stream can no longer retry the abandoned id). Because delta
commits advance each part table's own history, every tick REBASES
first: if a part's current version differs from the predecessor's
pinned ref (a crashed attempt), it is rolled back — restoring files AND
the delete list — before this tick's delta applies; a ``foreachBatch``
retry of the same batch_id is therefore idempotent (pinned by test).
Accumulated delete files are compacted by ``compact_state_deletes``
(maintenance), which re-points the latest ref at the materialized
version.

Provable-collapse contract (what the oracle gate checks): after any
sequence of refreshes and takedowns, the state equals the ONE-SHOT
pipeline run on (the union of all batches MINUS every document whose
normalized-text fingerprint was ever taken down) —

1. the exact-dedup keeper rule (min doc_id per fingerprint) is an
   associative/commutative min, so per-batch merging equals the global
   collapse; a batch doc can EVICT a previously-kept doc (same
   fingerprint, smaller id) and the eviction cascades into 2–3;
2. band rows are a deterministic function of a doc's text, so the
   expire-evicted-then-append index always equals
   ``minhash_band_rows(live)``;
3. every one-shot pair touches only live docs, and every pair is either
   old×old (present in the retained pair state — both docs were live
   together in an earlier tick, same text ⇒ same buckets ⇒ same
   candidate ⇒ same verified jaccard) or touches a newly-live doc
   (emitted by the incremental bucket join of new band rows vs the
   evicted-compacted index); pairs touching evicted docs are removed by
   the eviction delete cascade exactly as the one-shot never produces
   them;
4. connected components + the salted component-hash split rule
   (queries/scale_ops.py::leak_split_of) are pure functions of (live,
   pairs);
5. a taken-down fingerprint never re-enters: existing keepers are removed
   at takedown time (with the eviction cascade) and later arrivals are
   anti-joined against the tombstone set at ingest, so the order of
   takedown vs re-ingest cannot matter.

PRECONDITION (enforced): doc_ids are stable per content — a batch may
re-deliver a (doc_id, text) pair verbatim (idempotent), but re-using a
doc_id for DIFFERENT text would leave the band index holding the stale
version's rows (the newly-live anti-join is id-keyed). The merge detects
the resulting duplicate-id live rows and fails the tick loudly instead
of committing silent corruption.

Scale shape per tick — NOTHING state-sized ever shuffles or broadcasts
(the round-8 gap, closed):

- ONE O(batch) shuffle computes the batch's keeper-per-fingerprint;
- the keeper merge is a BROADCAST join of the batch's (fp, id) keys
  against a keys-only scan of ``live`` (stored ``_fp`` + ``doc_id`` —
  two slim columns, no text, no network, no sort). Evictions,
  newly-live survivors, and the stale-id guard all derive from that
  bounded match set, each via broadcast of batch-sized key frames;
- shingling/hashing touches ONLY the newly-live docs, and the candidate
  probe broadcasts their band rows (bands × |batch| keys) against a
  map-side scan of the band index; Jaccard verification semi-joins
  texts under a broadcast candidate-id set;
- the WRITE path is O(delta): appends of the new rows plus O(keys)
  equality-delete files for the eviction cascade; unchanged state files
  carry across versions by reference, and merge-on-read delete files
  are applied with broadcast anti-joins at read time.

Per-tick state-side cost is therefore a columnar SCAN of the key
columns (embarrassingly parallel, no exchange), not a shuffle — the
difference between O(state) network and O(state) local column IO every
tick. And for SMALL ticks even that scan is pruned: live files are
written range-clustered on the fingerprint bucket ``_fpb`` (an explicit
``repartitionByRange`` so the manifest min/max stats are tight bucket
ranges), the batch's bucket set is collected (bounded by
N_STATE_BUCKETS), and ``SnapshotTable.scan_in`` reads only the files
those buckets can touch — a takedown request or trickle batch reads
O(batch) buckets of a 100 TB state. Pruning is correct unconditionally
because ``_fpb`` is a pure function of ``_fp`` (a resident keeper and
any later duplicate share a bucket); unclustered files (e.g. right
after a compaction rewrite) degrade to a full key scan, never a wrong
one. The broadcast payloads are batch-sized key frames (a micro-batch
is bounded by the stream trigger, by definition of an ingest tick); the
bootstrap tick — where "the batch" IS the corpus — takes the unhinted
path, so Catalyst plans the ordinary shuffle joins that are correct at
that size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.operators import dedup
from analytics_data_platform_spark.queries.corpus_ops import c4_core_pass
from analytics_data_platform_spark.queries.scale_ops import leak_split_of
from analytics_data_platform_spark.tables.snapshots import SnapshotTable

# the pipeline's near-dup verify threshold (pipelines/training_corpus.py)
JACCARD_THRESHOLD = 0.5

_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
# live-part storage columns: the doc, its STORED fingerprint (the merge
# key — scanning it beats re-hashing 100 TB of text every tick), and the
# fingerprint's CLUSTER BUCKET — live files are written range-partitioned
# on _fpb, so their manifest min/max stats are tight bucket ranges and a
# SMALL tick's keeper merge reads only the files its fingerprints can
# touch (SnapshotTable.scan_in — partition-style pruning without needing
# partitioned writes in the snapshot layer)
N_STATE_BUCKETS = 64
# files per clustered live write: EXPLICIT so AQE cannot coalesce the
# range shuffle into one all-bucket file (which would defeat the manifest
# pruning); each file then covers ~N_STATE_BUCKETS/8 buckets. Production
# tunes this toward one file per bucket as state grows — the maintenance
# compactor keeps file counts bounded either way.
_CLUSTER_FILES = 8
_LIVE_COLS = (*_DOC_COLS, "_fp", "_fpb")

# ref order within a state-version commit: counts LAST = the commit marker
# (readers recognize a version by its counts ref); expiry drops counts
# FIRST so a half-expired version is invisible, never torn
_REF_ORDER = ("live", "band_index", "pairs", "tombstones", "counts")
_PARTS = _REF_ORDER
# per-part stats columns: id/bucket bounds are what CoW/scan pruning can
# use; text-heavy columns would bloat the manifests for nothing
_STATS_COLS: dict[str, list[str] | None] = {
    "live": ["doc_id", "_fpb"],
    "band_index": ["doc_id"],
    "pairs": ["id_a", "id_b"],
    "counts": None,
    "tombstones": [],
}

_TOMBSTONE_SCHEMA = "_fp string"


class _InjectedCrash(RuntimeError):
    """Raised by the test-only crash hook to simulate dying mid-commit."""


def _ref(batch_id: int) -> str:
    return f"state_v{int(batch_id):05d}"


def _table(spark: SparkSession | None, state_dir: str, part: str) -> SnapshotTable:
    # the live part is range-CLUSTERED on the fingerprint bucket at every
    # write (appends, bootstrap replaces, AND delete-compaction rewrites —
    # the snapshot layer clusters every batch it writes), which is what
    # makes the small-tick scan_in pruning hold across the whole lifecycle
    cluster = ["_fpb", "_fp"] if part == "live" else None
    return SnapshotTable(
        spark,
        f"{state_dir}/{part}",
        stats_cols=_STATS_COLS[part],
        cluster_by=cluster,
        cluster_files=_CLUSTER_FILES if cluster else None,
    )


def committed_versions(state_dir: str) -> list[int]:
    """Batch ids of fully committed state versions — exactly the refs on
    the ``counts`` table (written last, dropped first), so a torn commit
    or half-finished expiry never surfaces here."""
    refs = _table(None, state_dir, "counts").refs()
    return sorted(
        int(name[len("state_v"):]) for name in refs if name.startswith("state_v")
    )


def read_state_part(
    spark: SparkSession, state_dir: str, part: str, batch_id: int | None = None
) -> DataFrame:
    """Read one state part at a committed version (default: latest). An
    empty part (e.g. no pairs yet) comes back as an empty frame with the
    schema the commit recorded."""
    if batch_id is None:
        versions = committed_versions(state_dir)
        if not versions:
            raise FileNotFoundError(f"no committed corpus state under {state_dir}")
        batch_id = versions[-1]
    t = _table(spark, state_dir, part)
    v = t.resolve_ref(_ref(batch_id))
    if not t.snapshot(v).files:
        return spark.createDataFrame([], t._read_schema(v))
    return t.read(v)


def state_changelog(
    spark: SparkSession,
    state_dir: str,
    part: str,
    from_batch: int,
    to_batch: int,
    key_cols: list[str],
) -> tuple[DataFrame, DataFrame]:
    """(appeared_rows, evicted_keys) of one state part between two
    committed batches, read straight from the snapshot manifests between
    the batches' pinned refs (``SnapshotTable.changelog``) — O(tick
    delta): the appeared side is the ticks' appended data files, the
    evicted side is their merge-on-read delete-key files. No version-diff
    join, nothing state-sized is scanned or shuffled. Exact because every
    tick commits as appends + equality deletes whose keys are exactly the
    evicted resident rows (the delta-commit protocol above); a range
    crossing a maintenance rewrite (``compact_state_deletes``/compaction)
    refuses loudly rather than reporting the rewrite as churn."""
    t = _table(spark, state_dir, part)
    return t.changelog(
        t.resolve_ref(_ref(from_batch)),
        t.resolve_ref(_ref(to_batch)),
        key_cols=key_cols,
    )


def _with_fp(live: DataFrame) -> DataFrame:
    """Live rows with their fingerprint column — read from storage for
    state committed by this module, recomputed only as a fallback for
    frames constructed without it (representative plans, old states)."""
    if "_fp" in live.columns:
        return live
    return live.withColumn("_fp", dedup.fingerprint_col("text"))


def _fpb_col(fp_col: str = "_fp"):
    """The fingerprint's cluster bucket — a pure function of ``_fp``, so a
    resident keeper and any later duplicate land in the same bucket."""
    return F.pmod(F.xxhash64(F.col(fp_col)), F.lit(N_STATE_BUCKETS)).cast("int")


def batch_keepers(clean: DataFrame) -> DataFrame:
    """The batch's own keeper per fingerprint (min doc_id) — ONE O(batch)
    shuffle; carries the stored ``_fp`` merge key and its ``_fpb``
    cluster bucket, exactly as the live part persists them."""
    fp = clean if "_fp" in clean.columns else _with_fp(clean)
    return (
        fp.groupBy("_fp")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in _DOC_COLS]), F.col("doc_id")
            ).alias("m")
        )
        .select("m.*", "_fp")
        .withColumn("_fpb", _fpb_col())
    )


def delta_merge_parts(
    old_live: DataFrame,
    old_index: DataFrame,
    clean: DataFrame,
    hint_broadcast: bool = True,
    stage: str = "execute",
    resident_keys: DataFrame | None = None,
    keepers: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The per-tick DELTA decomposition of the keeper merge — the frames a
    non-bootstrap tick actually executes and commits. ``stage`` picks the
    materialization marks: "execute" (the refresh path) persist-marks
    each bounded stage so it computes once; "audit" EAGERLY checkpoints
    each stage, so plan audits see every stage's own incremental work
    exactly once (the shape the shuffle ledger records); "plan" marks
    nothing — the raw end-to-end trees, for tests that assert on the
    full plan shape (scan columns, join strategies).

    With ``hint_broadcast`` (the micro-batch path) no plan here contains
    a state-side exchange: the resident ``live``/``band_index`` tables
    are scanned map-side and every join against them broadcasts a
    batch-derived key frame (tests/test_incremental_pipeline.py pins the
    no-SortMergeJoin/keys-only-scan shape). The bootstrap tick — where
    the batch IS the corpus and broadcasting it would be wrong — passes
    ``hint_broadcast=False`` and lets Catalyst plan ordinary shuffles.
    """
    hint = F.broadcast if hint_broadcast else (lambda df: df)
    # staged handles: eager checkpoints under plan-audit staging; PERSIST
    # marks in execution mode (persist returns self, so the returned raw
    # frames ARE the marked ones and the caller's unpersist releases
    # them). Marking before the downstream lazy checkpoints are declared
    # matters: localCheckpoint physically PLANS its tree at declaration,
    # and with the upstream stages already cache-registered that plan is
    # a handful of InMemoryRelation stubs instead of the full
    # expression forest (~2-3 s of driver time per tick on these trees).
    if stage == "audit":
        ck = lambda df: df.localCheckpoint()
    elif stage == "plan":
        ck = lambda df: df
    else:
        ck = lambda df: df.persist()
    # callers that already materialized the batch keepers (to collect the
    # bucket set for the pruned resident read) pass them in — one keeper
    # shuffle per tick either way
    keepers = batch_keepers(clean) if keepers is None else keepers
    keepers_m = ck(keepers)  # _m = the materialized handle downstream
    # stages build on (the refresh path persists each returned
    # frame, so either way every stage computes exactly once).
    # ``resident_keys`` (when the caller pruned the live read to the
    # batch's fingerprint buckets — SnapshotTable.scan_in) replaces the
    # full keys-only scan; correctness is unconditional because _fpb is a
    # pure function of _fp, so every possible match lives in a read bucket
    resident = (
        resident_keys
        if resident_keys is not None
        else _with_fp(old_live).select("doc_id", "_fp")
    )
    # the only rows the merge must arbitrate: batch fingerprints that
    # already have a resident keeper. Keys-only both sides; the batch
    # side broadcasts, the state side streams (scan, no exchange).
    matches = resident.join(
        hint(keepers_m.select("_fp", F.col("doc_id").alias("_new_id"))), "_fp"
    )
    matches_m = ck(matches)
    # resident keeper loses to a smaller-id batch duplicate → evicted
    evicted = matches_m.where(F.col("_new_id") < F.col("doc_id")).select("doc_id")
    evicted_m = ck(evicted)
    # batch keeper loses (or ties: idempotent re-delivery) → not new
    lost_fps = matches_m.where(F.col("_new_id") >= F.col("doc_id")).select("_fp")
    newly_live = keepers_m.join(hint(lost_fps), "_fp", "left_anti")
    newly_m = ck(newly_live)

    # band-index maintenance: the evicted docs' rows are removed by the
    # delete cascade; candidates probe the index AS IF compacted (the
    # broadcast anti-join below — evicted is batch-bounded), and only the
    # newly-live docs are shingled/hashed
    # new_rows and cands each have TWO consumers (index append + candidate
    # probe; candidate-id set + pair join) — LAZY local checkpoints make
    # each compute once per tick. (Persist-based plan-matched sharing was
    # measured 1.5× slower end-to-end here; the checkpoint's eager
    # physical planning is the cheaper trade.)
    # assume_wide: newly_m sits downstream of the keeper groupBy
    # exchange, so its width is the shuffle-partition count by
    # construction — skip spread()'s whole-tree planning probe
    new_rows = dedup.minhash_band_rows(
        newly_m.select(*_DOC_COLS), assume_wide=True
    )
    if stage == "execute":
        new_rows_m = new_rows.localCheckpoint(eager=False)
    else:
        new_rows_m = ck(new_rows)
    compacted = old_index.join(hint(evicted_m), "doc_id", "left_anti")
    cands = dedup.incremental_minhash_candidates(compacted, hint(new_rows_m))
    if stage == "execute":
        cands_m = cands.localCheckpoint(eager=False)
    else:
        cands_m = ck(cands)
    texts = old_live.select(*_DOC_COLS).unionByName(newly_m.select(*_DOC_COLS))
    new_pairs = (
        dedup.exact_jaccard_pairs(
            texts, cands_m, broadcast_candidates=hint_broadcast
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
    )
    return {
        "batch_keepers": keepers,
        "matches": matches,
        "evicted": evicted,
        "newly_live": newly_live,
        # execution consumers get the shared checkpointed handles; the
        # audit/plan modes expose the raw stage plans
        "new_rows": new_rows_m if stage == "execute" else new_rows,
        "cands": cands_m if stage == "execute" else cands,
        "new_pairs": new_pairs,
    }


def _merge_parts(
    old_live: DataFrame,
    old_index: DataFrame,
    old_pairs: DataFrame,
    clean: DataFrame,
) -> dict[str, DataFrame]:
    """The FULL-STATE construction — the semantic spec the delta
    decomposition must equal (the body of :func:`merge_corpus_state`).
    No I/O."""
    # 1) exact-dedup merge: min-id keeper per fingerprint over old ∪ new —
    #    associative, so the merged keeper set equals the one-shot's
    live = (
        old_live.select(*_DOC_COLS).unionByName(clean.select(*_DOC_COLS))
        .groupBy(dedup.fingerprint_col("text").alias("_fp"))
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in _DOC_COLS]), F.col("doc_id")
            ).alias("m")
        )
        .select("m.*")
    )
    newly_live = live.join(old_live.select("doc_id"), "doc_id", "left_anti")
    evicted = old_live.select("doc_id").join(
        live.select("doc_id"), "doc_id", "left_anti"
    )

    # 2) band-index maintenance: expire evicted docs' rows (live semi-join),
    #    shingle/hash ONLY the newly-live docs and append their rows.
    #    Both frames have TWO consumers (the index output and the
    #    candidate join) — checkpoint so the expensive shingle+minhash of
    #    the new docs runs once, not twice
    compacted = old_index.join(
        live.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=False)
    new_rows = dedup.minhash_band_rows(
        newly_live, assume_wide=True  # downstream of the merge groupBy
    ).localCheckpoint(eager=False)

    # 3) near-dup candidates touching new docs: bucket equi-join of the new
    #    band rows against the compacted index (+ new×new), then the exact
    #    Jaccard verify over only the candidate docs' shingles
    cands = dedup.incremental_minhash_candidates(compacted, new_rows)
    new_pairs = (
        dedup.exact_jaccard_pairs(live, cands)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
    )

    # 4) retained pairs: both endpoints still live (pairs of evicted docs
    #    die with them, exactly as the one-shot never emits them)
    live_ids = live.select("doc_id")
    retained = old_pairs.join(
        live_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
    ).join(live_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    return {
        "live": live,
        "newly_live": newly_live,
        "evicted": evicted,
        "compacted": compacted,
        "new_rows": new_rows,
        "new_pairs": new_pairs,
        "retained": retained,
    }


def merge_corpus_state(
    old_live: DataFrame,
    old_index: DataFrame,
    old_pairs: DataFrame,
    clean: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The pure full-state merge plan: (old_live, old_index, old_pairs) × a
    CLEANED batch → (live, band_index, pairs). No I/O — this is the
    SEMANTIC spec the executed delta commit must equal; tests audit these
    plans for scale hazards."""
    m = _merge_parts(old_live, old_index, old_pairs, clean)
    band_index = m["compacted"].unionByName(m["new_rows"])
    # join-on-id_b reorders columns; normalize before the union/write
    pairs = m["retained"].select("id_a", "id_b").unionByName(m["new_pairs"])
    return m["live"], band_index, pairs


# a per-part commit op: ("replace", full_frame) on the bootstrap tick
# (delta == full state, and a full replace also resets any torn bootstrap
# attempt), or ("delta", [(keys_df, key_cols), ...], append_df_or_None) —
# merge-on-read equality deletes + an O(batch) append, so a tick's WRITE
# cost is O(delta), never O(state)
_StateOp = tuple


def _commit_state_version(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    ops: dict[str, _StateOp],
    prior_batch: int | None,
    _crash_after: str | None = None,
) -> None:
    """Commit one state version: apply every part's op, then point the
    ``state_v{batch_id}`` refs in ``_REF_ORDER`` (counts last — the
    marker). Delta ops REBASE first: a crashed earlier attempt leaves the
    part table's current version ahead of the last committed ref, and
    appending onto the torn attempt would double-count — roll back to the
    predecessor's pinned version (restores files AND the merge-on-read
    delete list) before applying this tick's delta. ``_crash_after``
    ('replace:<part>' / 'ref:<part>') is the crash-injection hook for the
    torn-commit tests.

    The five parts' ops are INDEPENDENT until the ref phase (each part is
    its own snapshot table; refs are only set after every write landed),
    and within a part the PARQUET WRITES are independent of the manifest
    until commit time. So the tick splits stage from commit (optimization
    guide §2.6): rebase rollbacks first (driver-side manifest ops), then
    EVERY write job of every part — delete-key files and append/replace
    data files — runs concurrently from one driver pool (Spark schedules
    the jobs FIFO; later jobs' tasks back-fill executors the earlier
    jobs' stragglers leave idle), then the ordered manifest commits that
    give each part its delete→append sequence semantics run driver-side
    in microseconds. A staged delete's ``applies_to`` resolves at commit
    time against the rebased snapshot, exactly as the sequential order
    produced. Shared upstream frames are persist/checkpoint-marked by
    ``delta_merge_parts``, and the cache layer's per-block locking makes
    concurrent materialization safe. Crash semantics are unchanged — a
    failure in ANY stage or commit skips the ref phase, so the torn
    attempt stays invisible (staged-but-uncommitted files are orphans the
    maintenance GC sweeps). Crash-injection runs keep the deterministic
    sequential order so the tests pin exact windows. Delete-key frames
    are unique by construction here (evictions derive from the resident
    keeper scan), so staging skips the pre-write dedup shuffle."""

    def _apply(part: str) -> None:
        t = tables[part]
        op = ops[part]
        if op[0] == "replace":
            t.replace(op[1])
        else:
            _, deletes, append_df = op
            if prior_batch is not None:
                pinned = t.resolve_ref(_ref(prior_batch))
                if t.current_version() != pinned:
                    t.rollback(pinned)
            for keys, key_cols in deletes:
                t.delete_keys_mor(keys, key_cols, distinct=False)
            if append_df is not None:
                t.append(append_df)

    tables = {p: _table(spark, state_dir, p) for p in _PARTS}
    if _crash_after is not None:
        for part in _PARTS:
            _apply(part)
            if _crash_after == f"replace:{part}":
                raise _InjectedCrash(_crash_after)
    else:
        from concurrent.futures import ThreadPoolExecutor

        # phase 0 — rebase rollbacks (driver-side): a staged delete must
        # bind to the REBASED snapshot's files, so these commit first
        for part in _PARTS:
            if ops[part][0] != "replace" and prior_batch is not None:
                t = tables[part]
                pinned = t.resolve_ref(_ref(prior_batch))
                if t.current_version() != pinned:
                    t.rollback(pinned)
        # phase 1 — stage every write job concurrently
        staged: list[tuple[str, str, object, object]] = []
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures: list[tuple[str, str, object, object]] = []
            for part in _PARTS:
                t, op = tables[part], ops[part]
                if op[0] == "replace":
                    futures.append(
                        (part, "replace", pool.submit(t._write_files, op[1]),
                         op[1].schema)
                    )
                else:
                    _, deletes, append_df = op
                    for keys, key_cols in deletes:
                        futures.append(
                            (part, "delete",
                             pool.submit(
                                 t.stage_delete_keys, keys, key_cols, False
                             ),
                             None)
                        )
                    if append_df is not None:
                        futures.append(
                            (part, "append",
                             pool.submit(t._write_files, append_df),
                             append_df.schema)
                        )
            errs = []
            for part, kind, fut, schema in futures:
                try:
                    staged.append((part, kind, fut.result(), schema))
                except Exception as exc:  # noqa: BLE001 — re-raised below
                    errs.append((part, exc))
            if errs:
                raise errs[0][1]
        # phase 2 — ordered driver-side commits per part: the part's
        # delete entries as ONE delete-mor version, then its append (or
        # its replace), preserving delete→append sequence semantics
        for part in _PARTS:
            t = tables[part]
            stubs = [r for p, k, r, _ in staged if p == part and k == "delete"]
            if stubs:
                t.commit_staged_deletes(stubs)
            for p, kind, r, schema in staged:
                if p != part:
                    continue
                if kind == "append":
                    t.commit_staged_append(r, schema)
                elif kind == "replace":
                    t.commit_staged_replace(r, schema)
    ref = _ref(batch_id)
    for part in _REF_ORDER:
        tables[part].set_ref(ref, tables[part].current_version())
        if _crash_after == f"ref:{part}":
            raise _InjectedCrash(_crash_after)


def refresh_corpus_state(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    _crash_after: str | None = None,
) -> None:
    """Fold one arriving document batch into the persisted corpus state.

    Runs as a ``foreachBatch`` body (streaming ingestion) or as a plain
    batch call. Commits state version ``state_v{batch_id}`` across the
    five snapshot tables (see module docstring for the commit protocol
    and the per-tick scale shape); earlier versions stay readable
    (copy-on-write time travel) until :func:`expire_state_versions`
    reclaims them.
    """
    # predecessor = latest COMMITTED version with a LOWER batch id — never
    # this batch's own (possibly partial) output: a foreachBatch retry
    # replays with the same batch_id after a crash, and merging against the
    # failed attempt would double-count (idempotence test pins this); a
    # torn commit of an EARLIER batch is equally invisible because only
    # counts-ref-marked versions are listed (torn-version test pins this)
    prior = [v for v in committed_versions(state_dir) if v < int(batch_id)]

    # ONE materialized pass annotates the batch with the two expensive
    # per-row expressions (the C4 rule conjunction and the md5
    # fingerprint) — the tombstone door and the keeper shuffle read the
    # cache instead of re-running regex+hash scans over the batch text.
    # Tallies are ARRIVAL history: counted before the tombstone filter —
    # erasure suppresses content from the live set, not from the record
    # that it arrived. They ride the tick's FIRST action as observed
    # metrics (CollectMetrics above the cache) instead of paying their
    # own aggregation job; every downstream consumer derives from the
    # observed frame, so whichever action runs first gathers them.
    from pyspark.sql import Observation

    obs = Observation()
    annotated = (
        batch.where(F.length(F.trim("text")) > 0)
        .select(*_DOC_COLS)
        .withColumn("_ok", c4_core_pass("text"))
        .withColumn("_fp", dedup.fingerprint_col("text"))
        .persist()
    )
    observed = annotated.observe(
        obs,
        F.count(F.lit(1)).alias("n_raw"),
        F.coalesce(F.sum(F.col("_ok").cast("long")), F.lit(0)).alias("n_clean"),
    )
    clean = observed.where(F.col("_ok")).drop("_ok")

    if prior:
        old_live = read_state_part(spark, state_dir, "live", prior[-1])
        old_index = read_state_part(spark, state_dir, "band_index", prior[-1])
        old_tombstones = read_state_part(spark, state_dir, "tombstones", prior[-1])
    else:
        # bootstrap: empty state with the stored schemas — the unified
        # delta construction below then IS the full run on the first
        # batch. Empty LOCAL relations, not limit(0) over the batch tree:
        # a limit-0 handle drags the whole annotated-batch plan into every
        # downstream reference, and the tick's two checkpoint declarations
        # physically plan those trees on the driver (guide §7.3 — plan
        # size is a real cost; measured seconds per bootstrap tick)
        from pyspark.sql.types import StringType, StructField, StructType

        old_live = spark.createDataFrame([], clean.schema)
        old_index = spark.createDataFrame(
            [],
            StructType(
                [clean.schema["doc_id"], StructField("bucket", StringType())]
            ),
        )
        old_tombstones = spark.createDataFrame([], _TOMBSTONE_SCHEMA)

    # tombstone door: content whose fingerprint was ever taken down never
    # re-enters the live set, whatever doc_id it arrives under (the batch
    # fingerprint is computed once and reused by the keeper merge)
    clean = clean.join(old_tombstones, "_fp", "left_anti")

    # bootstrap broadcasts nothing (the "batch" is the whole corpus there);
    # micro-batch ticks broadcast batch-derived keys only — see module
    # docstring for the per-tick scale shape. When the batch touches only
    # SOME fingerprint buckets, the keeper merge reads a manifest-pruned
    # subset of the live files instead of the full key columns (the
    # bucket set is bounded by N_STATE_BUCKETS, so the collect is O(64))
    resident_keys = None
    bk = batch_keepers(clean).persist() if prior else None
    if prior:
        buckets = [r["_fpb"] for r in bk.select("_fpb").distinct().collect()]
        live_t = _table(spark, state_dir, "live")
        v_live = live_t.resolve_ref(_ref(prior[-1]))
        if (
            0 < len(buckets) < N_STATE_BUCKETS
            and "_fpb" in old_live.columns
            and live_t.snapshot(v_live).files
        ):
            resident_keys = live_t.scan_in("_fpb", buckets, v_live).select(
                "doc_id", "_fp"
            )
    m = delta_merge_parts(
        old_live,
        old_index,
        clean,
        hint_broadcast=bool(prior),
        resident_keys=resident_keys,
        keepers=bk,
    )
    # delta_merge_parts already persist-marked the staged frames (and
    # lazily checkpointed new_rows/cands, shared with the candidate
    # probe) — these are the same objects, held for the finally-unpersist
    keepers = m["batch_keepers"]
    matches = m["matches"]
    evicted = m["evicted"]
    newly = m["newly_live"]
    new_rows = m["new_rows"]

    try:
        # precondition guard (see module docstring): a doc_id re-used for
        # DIFFERENT text would land a newly-live row whose id collides
        # with a surviving resident row (or with another keeper inside the
        # batch) — the band index would keep the stale version's rows, so
        # fail the tick loudly before anything commits. Batch-side checks
        # plus one keys-only broadcast probe of the resident live set.
        # both probes in ONE limit-1 job (they were two sequential jobs on
        # the happy path; each is a bounded keys-only probe, so the union
        # stays map-side cheap — guide §2.6 fewer-jobs discipline)
        probe = (
            keepers.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .select("doc_id")
        )
        if prior:
            probe = probe.unionByName(
                old_live.select("doc_id")
                .join(F.broadcast(newly.select("doc_id")), "doc_id", "left_semi")
                .join(F.broadcast(evicted), "doc_id", "left_anti")
            )
        reused = probe.limit(1).collect()
        if reused:
            raise ValueError(
                f"doc_id {reused[0].doc_id} arrived with different content than "
                "the resident version — doc_ids must be stable per content "
                "(re-delivering an identical (doc_id, text) row is fine)"
            )

        # the first action above (buckets collect on delta ticks, the
        # probe on bootstrap) materialized the batch cache and gathered
        # the observed tallies — obs.get returns without its own job
        try:
            tallies = obs.get
            n_raw, n_clean = int(tallies["n_raw"]), int(tallies["n_clean"])
        except Py4JJavaError as exc:
            # an empty batch can collapse to an empty LocalRelation and
            # strip the CollectMetrics row: the JVM's row conversion then
            # fails its non-empty assertion. Only that falls back to the
            # direct agg (cheap by construction: the batch produced no
            # metrics); any other failure propagates
            if exc.java_exception.getClass().getName() != "java.lang.AssertionError":
                raise
            row = annotated.agg(
                F.count(F.lit(1)).alias("n_raw"),
                F.coalesce(F.sum(F.col("_ok").cast("long")), F.lit(0)).alias(
                    "n_clean"
                ),
            ).collect()[0]
            n_raw, n_clean = int(row.n_raw), int(row.n_clean)
        batch_counts = spark.createDataFrame(
            [(int(batch_id), n_raw, n_clean)],
            "batch_id long, n_raw long, n_clean long",
        )

        if not prior:
            # bootstrap: delta == full state; replace also resets any torn
            # bootstrap attempt (there is no committed predecessor to
            # rebase onto)
            ops: dict[str, _StateOp] = {
                "live": ("replace", newly.select(*_LIVE_COLS)),
                "band_index": ("replace", new_rows),
                "pairs": ("replace", m["new_pairs"]),
                "counts": ("replace", batch_counts),
                "tombstones": ("replace", old_tombstones.select("_fp")),
            }
            _commit_state_version(
                spark, state_dir, batch_id, ops, None, _crash_after=_crash_after
            )
        else:
            # delta commit: O(batch) appends + merge-on-read equality
            # deletes for the (rare) eviction cascade — the state is never
            # rewritten in full
            ev: list[tuple[DataFrame, list[str]]] = []
            ev_pairs: list[tuple[DataFrame, list[str]]] = []
            if not evicted.isEmpty():
                ev = [(evicted, ["doc_id"])]
                ev_pairs = [
                    (evicted.withColumnRenamed("doc_id", "id_a"), ["id_a"]),
                    (evicted.withColumnRenamed("doc_id", "id_b"), ["id_b"]),
                ]
            ops = {
                "live": ("delta", ev, newly.select(*_LIVE_COLS)),
                "band_index": ("delta", ev, new_rows),
                "pairs": ("delta", ev_pairs, m["new_pairs"]),
                "counts": ("delta", [], batch_counts),
                "tombstones": ("delta", [], None),
            }
            _commit_state_version(
                spark,
                state_dir,
                batch_id,
                ops,
                prior[-1],
                _crash_after=_crash_after,
            )
    finally:
        for cached in (annotated, keepers, matches, evicted, newly):
            cached.unpersist()


def takedown_state_plan(
    old_live: DataFrame,
    old_index: DataFrame,
    old_pairs: DataFrame,
    old_tombstones: DataFrame,
    takedown: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The pure takedown plan: state × a takedown request set →
    (live, band_index, pairs, tombstones). No I/O — the SEMANTIC spec of
    :func:`takedown_corpus_state`'s delta decomposition; tests compare
    the executed state against it."""
    td_fps = takedown.select(dedup.fingerprint_col("text").alias("_fp")).distinct()
    live = _with_fp(old_live).join(td_fps, "_fp", "left_anti").select(
        *[c for c in old_live.columns]
    )
    live_ids = live.select("doc_id")
    band_index = old_index.join(live_ids, "doc_id", "left_semi")
    pairs = (
        old_pairs.join(
            live_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
        )
        .join(live_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    tombstones = old_tombstones.select("_fp").unionByName(td_fps).distinct()
    return live, band_index, pairs, tombstones


def takedown_delta_parts(
    old_live: DataFrame,
    old_tombstones: DataFrame,
    takedown: DataFrame,
    resident_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The executed takedown-tick delta: (removed resident doc ids, new
    tombstone fingerprints). The request set broadcasts against a
    keys-only scan of ``live`` (stored ``_fp``) — no state-side exchange,
    no text read, no re-hash of resident content; with ``resident_keys``
    (the caller's bucket-pruned scan — takedown requests are small, so
    this is the pruning's best case) only the files the request
    fingerprints can touch are read at all. The request-dedup anti-join
    shuffles only the TOMBSTONE part (fingerprints of erased content —
    O(tombstones) ≪ O(corpus), and takedown ticks are rare)."""
    td_fps = takedown.select(dedup.fingerprint_col("text").alias("_fp")).distinct()
    resident = (
        resident_keys
        if resident_keys is not None
        else _with_fp(old_live).select("doc_id", "_fp")
    )
    removed = (
        resident.join(F.broadcast(td_fps), "_fp", "left_semi")
        .select("doc_id")
    )
    new_fps = td_fps.join(old_tombstones.select("_fp"), "_fp", "left_anti")
    return removed, new_fps


def takedown_corpus_state(
    spark: SparkSession,
    state_dir: str,
    takedown: DataFrame,
    batch_id: int,
    _crash_after: str | None = None,
) -> None:
    """Content-based TAKEDOWN tick (GDPR erasure / opt-out / license
    removal): remove every live document whose normalized-text
    FINGERPRINT matches a takedown request, cascade into the band index
    and pair state exactly like an eviction, and record the fingerprints
    as TOMBSTONES so a later refresh re-ingesting the same content is
    filtered at the door (erasure is durable, not
    until-the-next-crawl-tick).

    Takedowns are content-keyed, not id-keyed, because exact duplicates
    of removed content must go too — a request names text the corpus may
    hold under any doc_id (including ids deduped away and never stored).
    Removing by fingerprint keeps the provable-collapse contract: the
    state equals the one-shot pipeline over (all arrived docs minus every
    doc carrying a tombstoned fingerprint). The ingest tallies
    (``counts``) are historical arrival records and are deliberately NOT
    rewritten.

    Scale shape: the request fingerprints BROADCAST against a keys-only
    scan of live (stored ``_fp`` — nothing is re-hashed or even read
    beyond two slim columns), then O(keys) merge-on-read equality-delete
    commits cascade the removal into the index and pair state — nothing
    is re-shingled and NO data file is rewritten (compaction happens in
    maintenance).
    """
    prior = [v for v in committed_versions(state_dir) if v < int(batch_id)]
    if not prior:
        raise ValueError("takedown requires existing corpus state")
    old_live = read_state_part(spark, state_dir, "live", prior[-1])
    old_tombstones = read_state_part(spark, state_dir, "tombstones", prior[-1])

    # a takedown request is small by nature — the bucket-pruned live read
    # is this path's common case (bounded collect: <= N_STATE_BUCKETS ints)
    resident_keys = None
    if "_fpb" in old_live.columns:
        buckets = [
            r["b"]
            for r in takedown.select(
                dedup.fingerprint_col("text").alias("_fp")
            )
            .distinct()
            .select(_fpb_col().alias("b"))
            .distinct()
            .collect()
        ]
        live_t = _table(spark, state_dir, "live")
        v_live = live_t.resolve_ref(_ref(prior[-1]))
        if 0 < len(buckets) < N_STATE_BUCKETS and live_t.snapshot(v_live).files:
            resident_keys = live_t.scan_in("_fpb", buckets, v_live).select(
                "doc_id", "_fp"
            )
    removed, new_fps = takedown_delta_parts(
        old_live, old_tombstones, takedown, resident_keys=resident_keys
    )
    removed = removed.persist()

    try:
        rm: list[tuple[DataFrame, list[str]]] = []
        rm_pairs: list[tuple[DataFrame, list[str]]] = []
        if not removed.isEmpty():
            rm = [(removed, ["doc_id"])]
            rm_pairs = [
                (removed.withColumnRenamed("doc_id", "id_a"), ["id_a"]),
                (removed.withColumnRenamed("doc_id", "id_b"), ["id_b"]),
            ]
        ops: dict[str, _StateOp] = {
            "live": ("delta", rm, None),
            "band_index": ("delta", rm, None),
            "pairs": ("delta", rm_pairs, None),
            "counts": ("delta", [], None),
            "tombstones": ("delta", [], new_fps),
        }
        _commit_state_version(
            spark, state_dir, batch_id, ops, prior[-1], _crash_after=_crash_after
        )
    finally:
        removed.unpersist()


def expire_state_versions(
    state_dir: str, keep_last: int = 2, spark: SparkSession | None = None
) -> list[str]:
    """Expire old copy-on-write state versions (the M3 expire_snapshots
    analog for incremental-pipeline state): every committed version before
    the last ``keep_last`` is removed. Commits are deltas, so versions
    SHARE unchanged files by reference; the snapshot layer's
    reference-counting expiry only reclaims files no surviving version
    needs, and named refs pin surviving versions against it — expiry
    never breaks a later read. keep_last >= 2 (the
    default) also keeps the latest batch's predecessor, so a foreachBatch
    retry of the CURRENT batch — the only batch the checkpoint can replay
    — still finds its true prior state after expiry.

    Mechanism: drop the version's refs (``counts`` FIRST, so a crash
    mid-expiry leaves the version invisible, never torn), then drop STRAY
    refs — ``state_v{b}`` refs on non-counts parts where ``b`` was never
    committed and a LATER batch has committed (a ref-phase crash leaves
    them; the stream can no longer retry an abandoned batch id, so
    without this they would pin the torn snapshots forever) — then run
    the snapshot layer's own ``expire_snapshots`` per part table, which
    garbage-collects the now-unreferenced torn snapshots. Returns the
    removed ref names (committed expiries first, then strays).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    ids = committed_versions(state_dir)
    doomed = ids[:-keep_last]
    for b in doomed:
        ref = _ref(b)
        for part in reversed(_REF_ORDER):  # counts first
            _table(spark, state_dir, part).drop_ref(ref)
    removed = [_ref(b) for b in doomed]
    committed = set(ids) - set(doomed)
    latest = max(committed) if committed else None
    strays: set[str] = set()
    if latest is not None:
        for part in _PARTS:
            t = _table(spark, state_dir, part)
            for name in list(t.refs()):
                if not name.startswith("state_v"):
                    continue
                try:
                    b = int(name[len("state_v"):])
                except ValueError:
                    continue
                if b not in committed and b < latest:
                    t.drop_ref(name)
                    strays.add(name)
    for part in _PARTS:
        t = _table(spark, state_dir, part)
        if t.versions():
            t.expire_snapshots(keep_last=1)
    return removed + sorted(strays)


def compact_state_deletes(spark: SparkSession, state_dir: str) -> list[str]:
    """Materialize accumulated merge-on-read delete files (the read-side
    anti-joins delta commits leave behind) into rewritten data — the
    compaction step that keeps state reads O(data). Only runs on a part
    whose current version IS the latest committed ref (a crashed tick's
    torn head must be rebased by the next tick, not compacted), and
    re-points the latest ref at the materialized version (same rows, so
    the state version's meaning is unchanged — without the re-point, the
    next tick's rebase would roll the compaction back). Returns the parts
    compacted."""
    ids = committed_versions(state_dir)
    if not ids:
        return []
    ref = _ref(ids[-1])
    done: list[str] = []
    for part in _PARTS:
        t = _table(spark, state_dir, part)
        head = t.current_version()
        if head is None or t.resolve_ref(ref) != head:
            continue
        if not t.snapshot(head).delete_files:
            continue
        new_head = t.apply_deletes()  # live keeps its _fpb clustering
        # through the rewrite (table-level cluster_by)
        t.set_ref(ref, new_head)
        done.append(part)
    return done


def representative_merge_plans(
    spark: SparkSession, sf_dir: str, with_tombstones: bool = False
) -> list[tuple[str, DataFrame]]:
    """Un-materialized representative REFRESH-tick plans for the shuffle
    ledger and plan-audit sweep — the DELTA frames a non-bootstrap tick
    executes (newly_live / evicted / new band rows / new pairs), built
    against an eagerly materialized old state (checkpointed, so the
    audited plans start at the state leaves exactly as a real tick's
    parquet reads do — the state-BUILD shuffles are not per-tick costs
    and must not pollute the tick's ledger entry). ``with_tombstones``
    adds the ingest-door anti-join (the tombstone-reingest query's tick
    shape)."""
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    old = (
        docs.where(F.col("doc_id") % 2 == 0)
        .where(c4_core_pass("text"))
        .select(*_DOC_COLS)
    )
    old_live = (
        dedup.dedup_exact(old)
        .withColumn("_fp", dedup.fingerprint_col("text"))
        .localCheckpoint()
    )
    old_index = dedup.minhash_band_rows(old_live.select(*_DOC_COLS)).localCheckpoint()
    batch = (
        docs.where(F.col("doc_id") % 2 == 1)
        .where(c4_core_pass("text"))
        .select(*_DOC_COLS)
        .withColumn("_fp", dedup.fingerprint_col("text"))
    )
    if with_tombstones:
        tombstones = (
            docs.where(F.col("doc_id") % 97 == 0)
            .select(dedup.fingerprint_col("text").alias("_fp"))
            .distinct()
        )
        batch = batch.join(tombstones, "_fp", "left_anti")
    # checkpoint=True stages the tick the way execution materializes it
    # (each returned plan shows ONLY its own incremental work — the sum is
    # the tick's real shuffle count, with shared subtrees counted once)
    m = delta_merge_parts(old_live, old_index, batch, stage="audit")
    return [
        ("batch_keepers", m["batch_keepers"]),
        ("keeper_matches", m["matches"]),
        ("newly_live", m["newly_live"]),
        ("evicted", m["evicted"]),
        ("new_band_rows", m["new_rows"]),
        ("candidates", m["cands"]),
        ("new_pairs", m["new_pairs"]),
    ]


def representative_takedown_plans(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, DataFrame]]:
    """Un-materialized representative TAKEDOWN-tick plans — the executed
    delta (removed ids + new tombstone fps) against a checkpointed state,
    plus the spec's tombstone union: state = the cleaned + exact-deduped
    documents table, request = the doc_id % 97 content set (the registry
    query's request rule)."""
    from analytics_data_platform_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    clean = docs.where(c4_core_pass("text")).select(*_DOC_COLS)
    old_live = (
        dedup.dedup_exact(clean)
        .withColumn("_fp", dedup.fingerprint_col("text"))
        .localCheckpoint()
    )
    old_tombstones = spark.createDataFrame([], _TOMBSTONE_SCHEMA)
    takedown = docs.where(F.col("doc_id") % 97 == 0)
    removed, new_fps = takedown_delta_parts(old_live, old_tombstones, takedown)
    return [("removed", removed), ("new_tombstones", new_fps)]


def corpus_split_manifest(spark: SparkSession, state_dir: str) -> list[tuple[str, int]]:
    """Stage manifest of the CURRENT committed state: raw/clean tallies,
    live doc count, and the leakage-safe split counts (near-dup components
    hash to one split; the same rule as the one-shot pipeline)."""
    live = read_state_part(spark, state_dir, "live")
    pairs = read_state_part(spark, state_dir, "pairs")
    counts = read_state_part(spark, state_dir, "counts")

    cc = dedup.cluster_duplicates_star(pairs, a_col="id_a", b_col="id_b")
    assigned = (
        live.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            leak_split_of(F.coalesce(F.col("cluster_id"), F.col("doc_id"))).alias(
                "split"
            ),
        )
    )
    totals = counts.agg(
        F.sum("n_raw").alias("n_raw"), F.sum("n_clean").alias("n_clean")
    ).collect()[0]
    manifest: list[tuple[str, int]] = [
        ("raw", int(totals.n_raw)),
        ("clean", int(totals.n_clean)),
        ("exact_dedup", live.count()),
    ]
    for row in assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect():
        manifest.append((f"split:{row.split}", row.n))
    return sorted(manifest)
