"""Persistent term-partitioned search index — the user-facing serving
API over the audited index building blocks (queries/search_ops.py).

The registry's index queries each build a throwaway index to prove a
property under the oracle gate; this class is what a user actually
deploys: ONE on-disk index (posting lists written ``partitionBy(bucket)``
so every lookup prunes to the query terms' bucket directories) with the
full lifecycle —

    idx = SearchIndex(spark, root, mode="scored")
    idx.build(docs)            # one corpus pass, amortized over queries
    idx.append(new_docs)       # O(batch) partition-wise posting append;
                               # corpus stats updated O(1) from the batch
    idx.compact()              # per-bucket small-file rewrite (atomic
                               # swaps, crash-recovered)
    idx.bm25(queries, k=10)    # ranked top-k reading ONLY query buckets

The posting layout is (term, doc_id, tf, dl) under ``bucket=N``
directories — ranked BM25 — plus a corpus-stats sidecar in
``_meta.json`` (n_docs, total_dl as exact integers; avgdl is derived at
serve) updated associatively on append, so the ranked cut provably
equals a one-shot build at every point in the ingest history (the
property queries/search_ops.py::inverted_index_bm25_incremental gates
against the full-scan oracle). ``mode`` names that layout; "scored" is
the only one, and the sidecar pins it so a handle cannot mis-read an
index another version laid out differently.

Scale shape: the build/append passes are the only corpus-sized work;
serving cost is O(posting lists of the query terms). A request routes
its terms to buckets on the driver (a port of Spark's string hash),
reads only those buckets' directories with the schema taken from a
parquet footer, and runs as one Spark query plus its collect: no job
for routing, schema inference or literal frames, so 100 TB corpora stay
out of the read path entirely. Reference analogue: the reference
exposes retrieval only as full-scan SQL over Trino (dbt marts); this is
the Lucene-shaped serving layer a training-data platform needs at
scale.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructType

from analytics_data_platform_spark.functions.concurrency import await_all
from analytics_data_platform_spark.queries.search_ops import (
    INDEX_BUCKETS,
    _bm25_index_serve,
    _query_frame,
    _scored_posting_rows,
    term_buckets,
)

_MODES = ("scored",)
_SPARK_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"


def _visible(name: str) -> bool:
    """Spark's reader skips ``_``/``.`` names (staging dirs, markers,
    checksums); every driver-side listing here must skip the same."""
    return not name.startswith(("_", "."))


def _data_files(root: str):
    """Relative paths of the parquet data files under ``root``, walked in
    sorted order, pruning what Spark's reader would not see."""
    for walk_dir, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if _visible(x))
        rel = os.path.relpath(walk_dir, root)
        for f in sorted(files):
            if f.endswith(".parquet") and _visible(f):
                yield os.path.join(rel, f)


def footer_schema(root: str) -> StructType:
    """The Spark schema of the first data file under ``root``, read from
    the row metadata Spark writes into every parquet footer. Handing it
    to the reader spares each read the schema-inference job a
    schema-less ``spark.read.parquet`` runs."""
    for f in _data_files(root):
        meta = pq.read_metadata(os.path.join(root, f)).metadata
        return StructType.fromJson(json.loads(meta[_SPARK_ROW_META]))
    raise FileNotFoundError(f"no parquet data file under {root}")


def delete_ids_literal(
    spark: SparkSession, root: str, cached: tuple | None
) -> tuple[tuple, DataFrame] | None:
    """``(listing, frame)`` of every id in a merge-on-read delete sidecar
    (one subdirectory per delete call, merged segments' nested under
    theirs), or None when it holds no file. The sidecar is bounded by
    design (O(deleted) ids) and immutable per file, so the files are read
    on the driver and served as ONE literal frame: an Arrow table plans
    as a ``LocalTableScan`` — no scan, inference or RDD job per serve or
    mutate, and the anti-join broadcast builds from a local relation.
    ``cached`` (an earlier return value) is returned as is while the file
    listing is unchanged; any writer (delete, apply, merge — this process
    or another) changes the listing and invalidates it. Shared by
    SearchIndex and VectorIndex."""
    if not os.path.isdir(root):
        return None
    listing = tuple(_data_files(root))
    if not listing:
        return None
    if cached is not None and cached[0] == listing:
        return cached
    table = pa.concat_tables([pq.read_table(os.path.join(root, f)) for f in listing])
    return listing, spark.createDataFrame(table)


def adopt_parquet_tree(src: str, dst: str, tag: str) -> None:
    """Move every ``.parquet`` under ``src`` into the mirrored location
    under ``dst``, name-mangled with ``tag`` so adopted files can never
    collide with resident ones. The segment-merge primitive shared by
    SearchIndex (bucket=N postings) and VectorIndex (_cell=N lists):
    rename syscalls on one filesystem — nothing is read or shuffled.
    Across filesystems (a tmpfs segment merged into a disk index, where
    rename returns EXDEV) each file is copied to an underscore-prefixed
    temp name — invisible to Spark's file listing — and renamed into
    place, so a crash mid-copy can never leave a truncated live file.
    ``_SUCCESS``/checksum markers stay behind (the caller removes the
    husk)."""
    import shutil

    if not os.path.isdir(src):
        return
    for dirpath, _dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            tgt_dir = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(tgt_dir, exist_ok=True)
            src_path = os.path.join(dirpath, f)
            dst_path = os.path.join(tgt_dir, f"m{tag}-{f}")
            try:
                os.rename(src_path, dst_path)
            except OSError:
                tmp = os.path.join(tgt_dir, f"_tmp.m{tag}-{f}")
                shutil.copy2(src_path, tmp)
                os.rename(tmp, dst_path)
                os.unlink(src_path)


class SearchIndex:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mode: str = "scored",
        buckets: int = INDEX_BUCKETS,
    ) -> None:
        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}")
        self.spark = spark
        self.root = root
        self.postings_dir = os.path.join(root, "postings")
        self._meta_path = os.path.join(root, "_meta.json")
        existing = self._read_meta()
        if existing:
            if existing["mode"] != mode or int(existing["buckets"]) != int(buckets):
                raise ValueError(
                    f"index at {root} was built as "
                    f"(mode={existing['mode']}, buckets={existing['buckets']}); "
                    f"got (mode={mode}, buckets={buckets})"
                )
        self.mode = mode
        self.buckets = int(buckets)
        self._dels_cache = None

    # -- metadata (atomic tmp+rename; underscore name is invisible to
    #    Spark's partition discovery) ------------------------------------

    def _read_meta(self) -> dict | None:
        try:
            with open(self._meta_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path)

    def stats(self) -> dict:
        meta = self._read_meta()
        if meta is None:
            raise FileNotFoundError(f"no index at {self.root} — call build()")
        if meta.get("consumed_by"):
            # marked in merge_from phase 1 BEFORE any file adoption: once a
            # merge begins, this segment may serve partial postings against
            # full stats — a stale handle must refuse immediately, not only
            # after finalize removes the metadata
            raise ValueError(
                f"segment at {self.root} is being consumed by a merge into "
                f"{meta['consumed_by']} — stale handle refuses to serve"
            )
        if meta.get("pending_reshard"):
            # a torn reshard is always completable without compute (the
            # marker is written only after the staged tree is fully built),
            # so every serve/mutate path heals FORWARD instead of refusing
            self._finish_reshard(meta)
            meta = self._read_meta()
        # refresh layout from the sidecar so a handle that predates an
        # out-of-band reshard (another process grew the bucket count)
        # routes lookups to the right bucket directories
        self.mode = meta.get("mode", self.mode)
        self.buckets = int(meta.get("buckets", self.buckets))
        return meta

    def _mark_consumed(self, dst: str) -> None:
        """Flag this segment as mid-consumption by a merge into ``dst`` —
        stats() (and therefore every serve/mutate path) refuses from the
        moment the first file is adopted, not only after finalize removes
        the metadata. Idempotent for merge resume."""
        meta = self._read_meta()
        if meta is not None and meta.get("consumed_by") != dst:
            meta["consumed_by"] = dst
            self._write_meta(meta)

    def _check_no_pending_merge(self) -> dict:
        """Mutations must not run over a torn merge: the folded stats
        already count postings that may not all be adopted yet, so e.g. a
        delete's exact decrement (computed from a keys-only scan of the
        PARTIAL index) would silently diverge and never self-heal.
        Serving stays available (transiently stale, like any MOR read);
        mutations refuse until merge_from is re-called to finish."""
        meta = self.stats()
        pending = meta.get("pending_merge")
        if pending is not None:
            raise ValueError(
                f"a torn merge from {pending['src']} is pending — re-call "
                "merge_from with that segment before mutating the index"
            )
        return meta

    # -- build / ingest ---------------------------------------------------

    def _posting_frame(self, docs: DataFrame) -> DataFrame:
        postings, _ = _scored_posting_rows(docs)
        # dl rides the explode/aggregation as an int (narrower shuffle
        # bytes, guide §2.3) but PERSISTS as long: indexes built before
        # the dl-carry change wrote dl = sum(tf) (LongType), and durable
        # roots append across engine versions — a mixed int/long dl
        # parquet tree can fail to read without mergeSchema. The cast
        # sits above the aggregation, so no shuffle widens.
        postings = postings.withColumn("dl", F.col("dl").cast("long"))
        if self.buckets != INDEX_BUCKETS:
            postings = postings.withColumn(
                "bucket", F.pmod(F.hash("term"), F.lit(self.buckets))
            )
        return postings

    def _batch_totals(self, docs: DataFrame) -> dict:
        """Exact stats totals, computed from the DOCS frame,
        not the posting rows: n_docs = distinct ids, total_dl = Σ per-doc
        token count — identical by construction to
        (count_distinct(doc_id), sum(tf)) over the postings (dl is the
        doc's token count and tf sums to it), but ONE map-side agg over
        the batch instead of re-running the whole tokenize→tf→dl chain a
        second time before the write (optimization guide §1.2: don't
        compute things twice). Null-text docs produce no posting rows
        (explode drops null arrays) — excluded here too so both
        formulations agree."""
        agg = docs.where(F.col("text").isNotNull()).agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.coalesce(
                F.sum(F.size(F.split("text", " ")).cast("long")), F.lit(0)
            ).alias("total_dl"),
        ).collect()[0]
        return {"n_docs": int(agg["n_docs"]), "total_dl": int(agg["total_dl"])}

    @property
    def docmeta_dir(self) -> str:
        return os.path.join(self.root, "docmeta")

    def build(self, docs: DataFrame) -> "SearchIndex":
        """One-shot index build (overwrites any prior contents). Alongside
        the postings, a doc-metadata sidecar (every non-text column, one
        row per doc) is written for filtered serving — the Lucene
        stored-fields/filter-bitset analog, scanned with predicate
        pushdown at serve time instead of re-reading the corpus.

        The three jobs (posting write, docmeta write, scored-stats agg)
        are independent — they run overlapped from a driver thread pool
        so the small jobs back-fill executors the posting write's tail
        leaves idle (optimization guide §2.6); the metadata commit waits
        on all of them."""
        _, totals = self._run_ingest_jobs(docs, write_mode="overwrite")
        self._write_meta(
            {
                "mode": self.mode,
                "buckets": self.buckets,
                "appends": 0,
                "docmeta": True,
                **totals,
            }
        )
        return self

    def _run_ingest_jobs(
        self, docs: DataFrame, write_mode: str, docmeta: bool = True
    ) -> tuple[None, dict]:
        """Run the batch's independent ingest jobs concurrently (guide
        §2.6): the posting write, the docmeta sidecar write, and the
        batch-totals agg. Nothing is shared downstream until
        every job finished, and a failure in any job propagates before
        any metadata commits."""
        from concurrent.futures import ThreadPoolExecutor

        postings = self._posting_frame(docs)
        with ThreadPoolExecutor(max_workers=3) as pool:
            jobs = [
                pool.submit(
                    lambda: postings.write.mode(write_mode)
                    .partitionBy("bucket")
                    .parquet(self.postings_dir)
                )
            ]
            if docmeta:
                jobs.append(
                    pool.submit(
                        lambda: docs.drop("text")
                        .write.mode(write_mode)
                        .parquet(self.docmeta_dir)
                    )
                )
            f_totals = pool.submit(self._batch_totals, docs)
            totals = await_all(*jobs, f_totals)[-1]
        return None, totals

    def append(self, docs: DataFrame) -> "SearchIndex":
        """Partition-wise O(batch) posting append. The bucket is a pure
        per-row function of the term, so the appended index provably
        equals the one-shot build over the union; the
        corpus stats update associatively from the BATCH alone (doc_ids
        must be disjoint from the resident corpus — the same stable-id
        precondition the incremental pipeline enforces)."""
        meta = self._check_no_pending_merge()
        # indexes built before the sidecar existed must not grow a
        # PARTIAL docmeta (appended docs only) — filtered serving over
        # one would silently drop every resident doc; such an index
        # keeps serving unfiltered and bm25(where=) refuses below
        _, totals = self._run_ingest_jobs(
            docs, write_mode="append", docmeta=bool(meta.get("docmeta"))
        )
        meta["appends"] = int(meta.get("appends", 0)) + 1
        for k, v in totals.items():
            meta[k] = int(meta.get(k, 0)) + v
        self._write_meta(meta)
        return self

    def merge_from(self, other: "SearchIndex") -> "SearchIndex":
        """Fold an independently built index into this one — the Lucene
        SEGMENT-MERGE analog: pure partition-wise file adoption, zero
        compute, zero shuffle. Sound because the bucket is a per-row pure
        function of the term under the same (mode, buckets) layout: term
        T's postings live in ``bucket=hash(T)%buckets`` in BOTH indexes,
        so adopting ``other``'s files preserves bucket purity and
        serve-time df counting stays complete over the union. Corpus
        stats sum associatively (doc_ids must be disjoint — append()'s
        stable-id precondition); pending merge-on-read delete sidecars
        migrate with the postings (delete ids are doc-scoped, so on
        disjoint corpora the union of sidecars is exact).

        Cost is O(number of files moved) rename syscalls + an O(1) stats
        update — neither index's postings are ever read. At 100 TB this
        is how a per-crawl segment built by an independent job folds into
        the serving tier; even a partition-wise re-append would re-read
        and re-shuffle the posting rows. ``other`` is consumed: a
        ``consumed_by`` flag is written into its metadata BEFORE the first
        file is adopted (so a stale handle refuses to serve the moment the
        merge begins, not only at finalize), then the metadata and husk
        are removed at finalize.

        CRASH SAFETY (the snapshot layer's marker-first discipline): the
        stats fold + a ``pending_merge`` marker commit atomically BEFORE
        any file moves, adoption is idempotent (a moved file is gone from
        the source, so re-adoption moves only leftovers), and the
        finalize step clears the marker + consumes the source. A crash in
        any window self-heals by RE-CALLING merge_from with the same
        segment (the marker pins the source root and the already-folded
        totals, so nothing double-counts); merging a DIFFERENT segment
        while one is torn refuses loudly."""
        import uuid

        if os.path.abspath(other.root) == os.path.abspath(self.root):
            # adopting from ourselves would move files into the tree being
            # walked — refuse before any state changes
            raise ValueError("cannot merge an index into itself")
        if other.mode != self.mode or other.buckets != self.buckets:
            raise ValueError(
                f"layout mismatch: ({self.mode}, {self.buckets}) vs "
                f"({other.mode}, {other.buckets})"
            )
        self._recover_swap()
        other._recover_swap()
        meta = self.stats()
        pending = meta.get("pending_merge")
        if pending is not None and pending["src"] != os.path.abspath(other.root):
            raise ValueError(
                f"a torn merge from {pending['src']} is pending — re-call "
                "merge_from with that segment to finish it first"
            )
        if pending is None:
            ometa = other.stats()
            if ometa.get("pending_merge") is not None:
                # the source's folded stats already count a third segment's
                # postings that may be only partially adopted — consuming it
                # now would orphan those files and permanently over-count
                raise ValueError(
                    f"source segment at {other.root} has its own torn merge "
                    f"pending (from {ometa['pending_merge']['src']}) — finish "
                    "it first by re-calling other.merge_from(...)"
                )
            if ometa["mode"] != meta["mode"] or int(ometa["buckets"]) != int(
                meta["buckets"]
            ):
                # re-checked from the SIDECARS: stats() may have just healed
                # a torn reshard on either side, so the constructor-time
                # check above can be stale (reshard the segments to one
                # layout first — that is the migration path)
                raise ValueError(
                    f"layout mismatch after recovery: ({meta['mode']}, "
                    f"{meta['buckets']}) vs ({ometa['mode']}, {ometa['buckets']})"
                )
            tag = uuid.uuid4().hex[:12]
            # phase 1 (atomic): fold the totals and pin the intent — if we
            # die mid-adoption, the recorded fold is already correct and a
            # retry must not re-add it
            for k in ("n_docs", "total_dl", "deletes"):
                if k in meta or k in ometa:
                    meta[k] = int(meta.get(k, 0)) + int(ometa.get(k, 0))
            # a pre-sidecar segment contributes no docmeta rows — the
            # merged sidecar would be partial, so filtered serving refuses
            meta["docmeta"] = bool(meta.get("docmeta")) and bool(
                ometa.get("docmeta")
            )
            meta["appends"] = (
                int(meta.get("appends", 0)) + int(ometa.get("appends", 0)) + 1
            )
            meta["pending_merge"] = {"src": os.path.abspath(other.root), "tag": tag}
            self._write_meta(meta)
        else:
            tag = pending["tag"]  # resume: totals already folded

        # mark the source unservable BEFORE any file adoption (and AFTER
        # self's marker, so recovery always routes through the resume path):
        # from here the source may hold partial postings against full stats
        other._mark_consumed(os.path.abspath(self.root))

        # phase 2 (idempotent): file adoption — moved files are gone from
        # the source, so a retry moves only what the crash left behind
        adopt_parquet_tree(other.postings_dir, self.postings_dir, tag)
        adopt_parquet_tree(other.docmeta_dir, self.docmeta_dir, tag)
        adopt_parquet_tree(
            other._deletes_dir, os.path.join(self._deletes_dir, f"m{tag}"), tag
        )

        # phase 3: consume the source (remove its metadata FIRST so a
        # crash mid-husk-cleanup still leaves it unservable, then the
        # empty husk — adopted data files are already gone), then clear
        # the marker LAST — a crash here re-runs an empty adoption and
        # re-clears
        if os.path.exists(other._meta_path):
            os.remove(other._meta_path)
        import shutil

        shutil.rmtree(other.root, ignore_errors=True)
        meta = self.stats()
        meta.pop("pending_merge", None)
        self._write_meta(meta)
        return self

    def compact(self, min_files: int = 2) -> list[str]:
        """Rewrite buckets that accumulated small append files (atomic
        per-bucket swaps; torn swaps heal on the next call), and compact
        the flat docmeta sidecar the same way (one file per append tick
        otherwise — the filter scan's small-file debt). Serving results
        are unchanged — tables/maintenance.py::compact_posting_buckets."""
        import shutil

        from analytics_data_platform_spark.tables.maintenance import (
            compact_posting_buckets,
        )

        done = compact_posting_buckets(
            self.spark, self.postings_dir, min_files=min_files
        )
        self._recover_dir_swap(self.docmeta_dir, "docmeta")
        if os.path.isdir(self.docmeta_dir):
            n_files = sum(
                1 for f in os.listdir(self.docmeta_dir) if f.endswith(".parquet")
            )
            if n_files >= max(2, min_files):
                staged = os.path.join(self.root, "_stage.docmeta")
                (
                    self.spark.read.schema(footer_schema(self.docmeta_dir))
                    .parquet(self.docmeta_dir)
                    .coalesce(1)
                    .write.parquet(staged)
                )
                old = os.path.join(self.root, "_old.docmeta")
                os.rename(self.docmeta_dir, old)
                os.rename(staged, self.docmeta_dir)
                shutil.rmtree(old)
                done.append(f"docmeta: {n_files} -> 1")
        return done

    def reshard(self, buckets: int) -> "SearchIndex":
        """Grow (or shrink) the term-bucket count IN PLACE — the capacity
        lever for a corpus that outgrew its build-time layout. The bucket
        count fixes posting-file fan-out at build; at 100× the corpus a
        64-bucket index means multi-GB posting directories per term hash,
        so the serving tier must be able to re-shard without a rebuild
        from the source corpus (the Lucene analog: reindex segments into
        a new shard count; Elasticsearch split/shrink).

        Cost is ONE full-index shuffle: postings are read once, re-keyed
        ``bucket = hash(term) % new_buckets`` (the same per-row pure
        function serving routes with), and written partition-wise to a
        staged tree — an offline maintenance op, never on the serve path.
        The docmeta sidecar and any pending merge-on-read delete sidecars
        are doc-scoped, not bucket-scoped, so they are untouched and stay
        valid throughout.

        CRASH SAFETY: a ``pending_reshard`` marker is committed to the
        metadata only AFTER the staged tree is completely written, so a
        torn reshard is always completable with pure renames — ``stats()``
        heals it forward on the next open/serve/mutate (no refusal window;
        a crash before the marker leaves only an orphan stage directory
        that ``_recover_swap`` clears). Serving correctness through every
        window: before the marker the live tree and metadata both say the
        old layout; after it, resume installs the new tree before any
        lookup computes a bucket.
        """
        import shutil

        buckets = int(buckets)
        if buckets < 1:
            raise ValueError("buckets must be >= 1")
        meta = self._check_no_pending_merge()  # stats() healed any torn reshard
        self._recover_swap()
        if buckets == int(meta["buckets"]):
            return self
        staged = os.path.join(self.root, "_stage.reshard")
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        (
            self._postings_reader()
            .parquet(self.postings_dir)
            .withColumn("bucket", F.pmod(F.hash("term"), F.lit(buckets)))
            .write.partitionBy("bucket")
            .parquet(staged)
        )
        # marker AFTER the stage is complete: from here the swap is pure
        # renames and any reader/mutator can finish it
        meta["pending_reshard"] = {"buckets": buckets}
        self._write_meta(meta)
        self._finish_reshard(meta)
        return self

    def _finish_reshard(self, meta: dict) -> None:
        """Install a fully staged reshard (idempotent resume): swap the
        staged tree in with two renames, finalize the metadata's bucket
        count atomically with dropping the marker, then drop the retired
        tree. Every crash window re-enters here and completes."""
        import shutil

        staged = os.path.join(self.root, "_stage.reshard")
        old = os.path.join(self.root, "_old.reshard")
        if os.path.isdir(staged):
            if os.path.isdir(self.postings_dir):
                if os.path.isdir(old):
                    shutil.rmtree(old)
                os.rename(self.postings_dir, old)
            os.rename(staged, self.postings_dir)
        # staged gone ⇒ the install already happened; finalize + clean up
        meta["buckets"] = int(meta["pending_reshard"]["buckets"])
        meta.pop("pending_reshard", None)
        self._write_meta(meta)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self.buckets = int(meta["buckets"])

    # -- serving (every read prunes to the query terms' buckets) ----------

    def _bucket_of(self, terms: list[str]) -> list[int]:
        """The terms' buckets under the CURRENT layout: callers run
        ``stats()`` first, which refreshes the bucket count from the
        sidecar (a handle that predates a reshard routes correctly)."""
        return term_buckets(terms, self.buckets)

    def _postings_reader(self):
        """A reader of this index's postings with the schema given — the
        footer's data columns plus the ``bucket`` partition column."""
        schema = footer_schema(self.postings_dir).add("bucket", IntegerType())
        return self.spark.read.schema(schema).option("basePath", self.postings_dir)

    def _pruned(self, terms: list[str]) -> DataFrame:
        """The postings of ``terms``' buckets, reading only those bucket
        directories. A bucket no posting hashed to has no directory and is
        skipped; when none exists the read is an empty relation."""
        self.stats()  # existence check + bucket-count refresh
        dirs = [
            p
            for p in (
                os.path.join(self.postings_dir, f"bucket={b}")
                for b in self._bucket_of(terms)
            )
            if os.path.isdir(p)
        ]
        return self._postings_reader().parquet(*dirs)

    def _serve_stats(self) -> dict:
        """The corpus statistics a request scores with, as driver-side
        literals: n_docs and avgdl from the sidecar's exact totals."""
        meta = self.stats()
        n_docs = int(meta["n_docs"])
        return {"n_docs": n_docs, "avgdl": meta["total_dl"] / n_docs if n_docs else 0.0}

    def bm25(
        self, queries: dict[int, list[str]], k: int = 10, where: str | None = None
    ) -> DataFrame:
        """Ranked top-k per query (q_id, doc_id, score, rank) — BM25 with
        Robertson idf (search_ops K1/B constants), df counted from the query terms'
        own (bucket-complete) posting lists, n_docs/avgdl from the
        sidecar. Identical scoring to the full-scan formulation the
        oracle gate verifies. One request is one Spark query
        (``search_ops._bm25_index_serve``) plus its collect.

        ``where`` is a SQL predicate over the doc-metadata sidecar
        columns (e.g. ``"lang = 'en'"``) — filtered search with Lucene
        semantics: the candidate set narrows, the corpus statistics
        (idf/avgdl) stay index-global. The filter is a predicate-pushdown
        scan of the docmeta sidecar, never a corpus read. Erased docs
        (pending merge-on-read deletes) are anti-joined out BEFORE the
        candidate semi-join, so a stale docmeta row for a deleted doc is
        harmless."""
        meta = self.stats()
        terms = sorted({t for ts in queries.values() for t in ts})
        candidates = None
        if where is not None:
            # a crash between compact()'s two docmeta renames leaves the
            # sidecar under _old.docmeta with the data intact — heal before
            # reading, mirroring apply_deletes/merge_from
            self._recover_dir_swap(self.docmeta_dir, "docmeta")
            if not meta.get("docmeta"):
                raise ValueError(
                    "index predates the doc-metadata sidecar — rebuild to "
                    "enable filtered serving (a partial sidecar would "
                    "silently drop resident docs)"
                )
            candidates = (
                self.spark.read.schema(footer_schema(self.docmeta_dir))
                .parquet(self.docmeta_dir)
                .where(where)
                .select("doc_id")
            )
        return _bm25_index_serve(
            self._served(self._pruned(terms)),
            _query_frame(self.spark, queries),
            terms,
            **self._serve_stats(),
            k=k,
            candidates=candidates,
        )

    # -- erasure (merge-on-read deletes, the snapshot layer's equality-
    #    delete shape applied to posting lists: a doc's postings live in
    #    MANY buckets — one per distinct term — so removal is recorded as
    #    an O(deleted) id sidecar anti-joined at serve, and materialized
    #    by apply_deletes() in maintenance) -------------------------------

    @property
    def _deletes_dir(self) -> str:
        return os.path.join(self.root, "_deletes")

    def _delete_ids(self) -> DataFrame | None:
        self._dels_cache = delete_ids_literal(
            self.spark, self._deletes_dir, self._dels_cache
        )
        return None if self._dels_cache is None else self._dels_cache[1]

    def _served(self, pruned: DataFrame) -> DataFrame:
        dels = self._delete_ids()
        if dels is None:
            return pruned
        return pruned.join(F.broadcast(dels), "doc_id", "left_anti")

    def delete_docs(self, doc_ids) -> int:
        """Erase documents from serving (GDPR takedown / corpus eviction):
        records the ids as a merge-on-read delete file — O(deleted) write,
        no posting rewritten — and decrements the
        corpus stats by the deleted docs' EXACT contribution (one keys-only
        index scan finds their (doc_id, dl) rows), so BM25 keeps equality
        with a one-shot build over the surviving corpus. Idempotent:
        already-deleted or absent ids contribute nothing. Returns the
        number of newly deleted (present) docs."""
        import uuid

        if not isinstance(doc_ids, DataFrame):
            doc_ids = self.spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id long"
            )
        ids = doc_ids.select("doc_id").distinct()
        prior = self._delete_ids()
        if prior is not None:
            ids = ids.join(F.broadcast(prior), "doc_id", "left_anti")
        meta = self._check_no_pending_merge()
        postings = self._postings_reader().parquet(self.postings_dir)
        # ONE keys-only scan of the index: semi-join BEFORE distinct (the
        # index streams map-side against the broadcast id set; distinct
        # runs over <= |ids| survivors), then the bounded present set is
        # persisted and reused for the stats decrement AND the delete-file
        # write — previously two separate full scans (guide §1.2).
        # dl is denormalized per doc, so distinct (doc_id, dl) is one row
        # per present doc.
        present = (
            postings.select("doc_id", "dl")
            .join(F.broadcast(ids), "doc_id", "left_semi")
            .distinct()
            .persist()
        )
        try:
            hit = present.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("dl"),
            ).collect()[0]
            n_present, dl_present = int(hit["n"]), int(hit["dl"])
            if n_present == 0:
                return 0
            os.makedirs(self._deletes_dir, exist_ok=True)
            present.select("doc_id").coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self._deletes_dir, uuid.uuid4().hex)
            )
        finally:
            present.unpersist()
        meta["n_docs"] = int(meta["n_docs"]) - n_present
        meta["total_dl"] = int(meta["total_dl"]) - dl_present
        meta["deletes"] = int(meta.get("deletes", 0)) + n_present
        self._write_meta(meta)
        return n_present

    def apply_deletes(self) -> bool:
        """Materialize pending deletes into rewritten posting lists (the
        maintenance-window compaction that keeps serve-time anti-join
        state bounded — tables/snapshots.py::apply_deletes analog). The
        surviving postings are staged in full, then swapped in with two
        atomic renames; a torn swap heals on the next call (underscore
        prefixes keep staged/retired dirs out of any read). Returns True
        if a rewrite happened."""
        import shutil

        self._check_no_pending_merge()
        self._recover_swap()
        dels = self._delete_ids()
        if dels is None:
            return False
        staged = os.path.join(self.root, "_stage.postings")
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        (
            self._postings_reader()
            .parquet(self.postings_dir)
            .join(F.broadcast(dels), "doc_id", "left_anti")
            .write.partitionBy("bucket")
            .parquet(staged)
        )
        old = os.path.join(self.root, "_old.postings")
        os.rename(self.postings_dir, old)
        os.rename(staged, self.postings_dir)
        shutil.rmtree(old)
        shutil.rmtree(self._deletes_dir)
        meta = self.stats()
        meta["deletes"] = 0
        self._write_meta(meta)
        return True

    def _recover_swap(self) -> None:
        import shutil

        for live, tag in ((self.postings_dir, "postings"), (self.docmeta_dir, "docmeta")):
            self._recover_dir_swap(live, tag)
        meta = self._read_meta()
        if meta is not None and not meta.get("pending_reshard"):
            # no marker ⇒ any reshard dirs are strays: a stage the crash
            # orphaned before the marker, or a retired tree the finalize
            # didn't get to remove — both safe to drop
            for d in ("_stage.reshard", "_old.reshard"):
                p = os.path.join(self.root, d)
                if os.path.isdir(p):
                    shutil.rmtree(p)

    def _recover_dir_swap(self, live_dir: str, tag: str) -> None:
        import shutil

        old = os.path.join(self.root, f"_old.{tag}")
        staged = os.path.join(self.root, f"_stage.{tag}")
        if os.path.isdir(old):
            if os.path.isdir(live_dir):
                shutil.rmtree(old)  # install completed; drop retired copy
            else:
                os.rename(old, live_dir)  # died before install
        if os.path.isdir(staged):
            shutil.rmtree(staged)  # staged-but-never-installed rewrite
