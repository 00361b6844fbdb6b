"""Persistent IVF vector index — the ANN serving counterpart of
operators/search_index.py, over the audited similarity building blocks
(operators/similarity.py).

One on-disk index: embeddings partitioned by nearest-centroid cell
(``_cell=N`` directories — the lakehouse form of Faiss inverted lists),
with the coarse quantizer PINNED in a metadata sidecar at build time so
the whole lifecycle is O(batch) after the initial pass:

    vx = VectorIndex(spark, root, nlist=16, nprobe=4)
    vx.build(vectors)        # train centroids on a bounded sample, pin
                             # them, write the cell-partitioned index
    vx.append(new_vectors)   # assign against the PINNED centroids — a
                             # per-row pure function, so the appended
                             # index provably equals a one-shot build —
                             # and append partition-wise (O(batch))
    vx.delete_vecs(ids)      # merge-on-read erasure: O(deleted) sidecar
    vx.compact()             # per-cell small-file rewrite (atomic swaps)
    vx.apply_deletes()       # materialize erasure (atomic dir swap)
    vx.topk(queries, k=10)   # nprobe-pruned cosine top-k: the probe set
                             # broadcasts and DYNAMIC PARTITION PRUNING
                             # skips every unprobed cell directory

Serving cost is O(nprobe/nlist of the corpus) however big the index
grows; recall follows the standard IVF trade (the registry's
``ivf_pq_recall_at_10`` measures it against brute force). Centroids stay
pinned across appends — the Faiss production pattern (retrain offline,
assign online); retraining is a new ``build``.

Reference analogue: the reference has no vector serving at all (its ANN
surface is full-scan SQL); this is the missing index tier, matching the
oracle-gated registry queries (``ann_ivf_topk``,
``ivf_index_incremental_topk``) that pin the same layout's semantics.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.operators import similarity
from analytics_data_platform_spark.operators.search_index import delete_ids_literal

_CELL_PREFIX = "_cell="


class VectorIndex:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        nlist: int = 16,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        storage: str = "float",
    ) -> None:
        if storage not in ("float", "sq8"):
            raise ValueError("storage must be 'float' or 'sq8'")
        self.spark = spark
        self.root = root
        self.cells_dir = os.path.join(root, "cells")
        self._meta_path = os.path.join(root, "_meta.json")
        self.nprobe = int(nprobe)
        self.id_col = id_col
        self.vec_col = vec_col
        self.storage = storage
        self._dels_cache = None
        meta = self._read_meta()
        if meta:
            self.nlist = len(meta["centroids"])
            self.centroids = meta["centroids"]
            if (meta["id_col"], meta["vec_col"]) != (id_col, vec_col):
                raise ValueError(
                    f"index at {root} was built with columns "
                    f"({meta['id_col']}, {meta['vec_col']})"
                )
            stored = meta.get("storage", "float")
            if storage != "float" and stored != storage:
                raise ValueError(
                    f"index at {root} stores {stored} cells; got storage={storage}"
                )
            self.storage = stored
        else:
            self.nlist = int(nlist)
            self.centroids: list[list[float]] | None = None

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
            # marked in merge_from phase 1 BEFORE any file adoption: a
            # mid-consumption segment may hold partial cells — a stale
            # handle must refuse the moment the merge begins
            raise ValueError(
                f"segment at {self.root} is being consumed by a merge into "
                f"{meta['consumed_by']} — stale handle refuses to serve"
            )
        if meta.get("pending_retrain"):
            # a torn retrain is always completable without compute (the
            # marker commits only after the staged cells are fully
            # written) — heal forward on any open/serve/mutate
            self._finish_retrain(meta)
            meta = self._read_meta()
        # refresh the quantizer from the sidecar so a handle that predates
        # an out-of-band retrain probes the cells that actually exist
        self.centroids = meta["centroids"]
        self.nlist = len(meta["centroids"])
        return meta

    def _mark_consumed(self, dst: str) -> None:
        """Flag this segment as mid-consumption (see SearchIndex). Idempotent."""
        meta = self._read_meta()
        if meta is not None and meta.get("consumed_by") != dst:
            meta["consumed_by"] = dst
            self._write_meta(meta)

    def _cell_col(self, cents: list[list[float]] | None = None):
        cents = self.centroids if cents is None else cents
        if len(cents) > similarity.MAX_LITERAL_CENTROIDS:
            return similarity.assign_centroid_udf(cents)(F.col(self.vec_col))
        return similarity.assign_centroid_col(self.vec_col, cents).cast("int")

    def _cell_rows(
        self, vectors: DataFrame, cents: list[list[float]] | None = None
    ) -> DataFrame:
        """One write-ready frame: the cell assignment always runs on the
        FULL-PRECISION vectors (the Faiss IVF,SQ8 layout — coarse-quantize
        originals, compress residents); sq8 storage then swaps the float
        vector for its int8 codes + exact integer squared norm (the
        per-vector scale is implicit: code cosine is scale-invariant).
        Metadata columns ride along unchanged for filtered serving."""
        out = vectors.withColumn("_cell", self._cell_col(cents).cast("int"))
        if self.storage == "sq8":
            out = out.withColumn(
                "codes", similarity.sq8_codes(self.vec_col)
            ).withColumn("c_sq", similarity.int_sq_norm("codes")).drop(self.vec_col)
        return out

    # -- lifecycle ---------------------------------------------------------

    def build(
        self,
        vectors: DataFrame,
        seed: int = 42,
        centroids: list[list[float]] | None = None,
    ) -> "VectorIndex":
        """Train the coarse quantizer on a bounded sample (driver k-means —
        Faiss trains IVF on ~256 vectors/centroid), PIN the centroids in
        the sidecar, and write the cell-partitioned index in one corpus
        pass. Pass ``centroids`` to pin an externally-trained (or
        deterministic) quantizer instead."""
        self.centroids = centroids or similarity.train_ivf_centroids(
            vectors, self.nlist, self.vec_col, seed=seed
        )
        (
            self._cell_rows(vectors)
            .write.mode("overwrite")
            .partitionBy("_cell")
            .parquet(self.cells_dir)
        )
        self._write_meta(
            {
                "centroids": self.centroids,
                "nprobe": self.nprobe,
                "id_col": self.id_col,
                "vec_col": self.vec_col,
                "storage": self.storage,
                "appends": 0,
                "deletes": 0,
            }
        )
        return self

    def append(self, vectors: DataFrame) -> "VectorIndex":
        """Assign the batch against the PINNED centroids (per-row pure
        function — no retraining, no touch of the resident corpus) and
        append partition-wise into the existing cell directories."""
        meta = self._check_no_pending_merge()
        (
            self._cell_rows(vectors)
            .write.mode("append")
            .partitionBy("_cell")
            .parquet(self.cells_dir)
        )
        meta["appends"] = int(meta.get("appends", 0)) + 1
        self._write_meta(meta)
        return self

    def compact(self, min_files: int = 2) -> list[str]:
        """Per-cell small-file rewrite (the posting-bucket compactor with
        the ``_cell=`` partition family; atomic swaps, crash-recovered)."""
        from analytics_data_platform_spark.tables.maintenance import (
            compact_posting_buckets,
        )

        return compact_posting_buckets(
            self.spark, self.cells_dir, min_files=min_files, prefix=_CELL_PREFIX
        )

    def retrain(
        self,
        nlist: int | None = None,
        centroids: list[list[float]] | None = None,
        seed: int = 42,
    ) -> "VectorIndex":
        """Replace the coarse quantizer IN PLACE — the capacity lever for
        a corpus that outgrew its pinned nlist (Faiss's production
        pattern: retrain offline, swap atomically; appends keep assigning
        against whatever quantizer is pinned when they run). A 16-cell
        index over a corpus grown 100× means multi-GB inverted lists per
        probe; growing nlist restores O(nprobe/nlist) serving without a
        rebuild from the source corpus.

        Pass ``centroids`` to pin an externally trained quantizer, or
        ``nlist`` to train one here (seeded driver k-means over a bounded
        sample of the LIVE vectors — pending erasures are excluded from
        training so deleted content cannot steer the layout). Cost is ONE
        full-index shuffle: cells are read once, re-assigned (a per-row
        pure function of vector × new centroids), and staged
        partition-wise — an offline maintenance op, never on the serve
        path. Erasure sidecars are id-scoped, not cell-scoped, so pending
        deletes stay valid across the swap; the retrained index provably
        equals a one-shot ``build`` of the same rows under the same
        centroids.

        ``storage="sq8"`` refuses: codes cannot recover the
        full-precision assignment a one-shot build would use (the IVF,SQ8
        layout coarse-quantizes ORIGINALS) — retrain an sq8 tier by
        rebuilding from the source corpus.

        CRASH SAFETY mirrors ``SearchIndex.reshard``: a
        ``pending_retrain`` marker (carrying the new quantizer) commits
        only after the staged cells are completely written, so every torn
        window heals forward with pure renames in ``stats()``."""
        import shutil

        meta = self._check_no_pending_merge()  # stats() healed any torn retrain
        self._recover_swap()
        if self.storage == "sq8":
            raise ValueError(
                "sq8 cells store codes, not vectors — a retrain here could "
                "not reproduce the full-precision assignment of a one-shot "
                "build; rebuild the index from the source corpus instead"
            )
        if centroids is None:
            if nlist is None:
                raise ValueError("retrain needs nlist or explicit centroids")
            live = self.spark.read.parquet(self.cells_dir).drop("_cell")
            dels = self._delete_ids()
            if dels is not None:
                live = live.join(F.broadcast(dels), self.id_col, "left_anti")
            centroids = similarity.train_ivf_centroids(
                live, int(nlist), self.vec_col, seed=seed
            )
        cents = [[float(x) for x in c] for c in centroids]
        staged = os.path.join(self.root, "_stage.retrain")
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        (
            self._cell_rows(
                self.spark.read.parquet(self.cells_dir).drop("_cell"), cents
            )
            .write.partitionBy("_cell")
            .parquet(staged)
        )
        # marker AFTER the stage is complete: from here the swap is pure
        # renames and any reader/mutator can finish it
        meta["pending_retrain"] = {"centroids": cents}
        self._write_meta(meta)
        self._finish_retrain(meta)
        return self

    def _finish_retrain(self, meta: dict) -> None:
        """Install a fully staged retrain (idempotent resume): swap the
        staged cells in with two renames, finalize the pinned quantizer
        atomically with dropping the marker, drop the retired tree."""
        import shutil

        staged = os.path.join(self.root, "_stage.retrain")
        old = os.path.join(self.root, "_old.retrain")
        if os.path.isdir(staged):
            if os.path.isdir(self.cells_dir):
                if os.path.isdir(old):
                    shutil.rmtree(old)
                os.rename(self.cells_dir, old)
            os.rename(staged, self.cells_dir)
        meta["centroids"] = meta["pending_retrain"]["centroids"]
        meta.pop("pending_retrain", None)
        self._write_meta(meta)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self.centroids = meta["centroids"]
        self.nlist = len(meta["centroids"])

    def merge_from(self, other: "VectorIndex") -> "VectorIndex":
        """Segment merge for the ANN tier: adopt another index's cell
        files partition-wise — pure renames, zero compute, zero shuffle
        (operators/search_index.py::adopt_parquet_tree, the same
        primitive the inverted index merges with). Sound ONLY under the
        SAME pinned quantizer: cell assignment is a per-row pure function
        of (vector, centroids), so identical centroids mean identical
        layout and probe order — the quantizers are compared EXACTLY and
        a drifted segment refuses loudly (a silent merge would park
        vectors in cells the probe never visits, which no oracle on the
        merged index could detect cheaply). Pending erasure sidecars
        migrate with the cells (ids are corpus-scoped; the disjoint-id
        precondition makes the sidecar union exact). ``other`` is
        consumed — a ``consumed_by`` flag lands in its metadata before the
        first file moves (a stale handle refuses to serve for the whole
        merge window), and finalize removes the metadata and husk.

        CRASH SAFETY mirrors SearchIndex.merge_from: counters fold with a
        ``pending_merge`` marker atomically BEFORE any file moves,
        adoption is idempotent, finalize clears the marker; any crash
        self-heals by re-calling merge_from with the same segment, and
        mutations refuse while a merge is torn."""
        import uuid

        from analytics_data_platform_spark.operators.search_index import (
            adopt_parquet_tree,
        )

        if os.path.abspath(other.root) == os.path.abspath(self.root):
            raise ValueError("cannot merge an index into itself")
        meta = self.stats()
        pending = meta.get("pending_merge")
        if pending is not None and pending["src"] != os.path.abspath(other.root):
            raise ValueError(
                f"a torn merge from {pending['src']} is pending — re-call "
                "merge_from with that segment to finish it first"
            )
        self._recover_swap()
        other._recover_swap()
        if pending is None:
            ometa = other.stats()
            if ometa.get("pending_merge") is not None:
                # the source's folded counters already include a third
                # segment whose cell files may be only partially adopted —
                # consuming it now would orphan them and over-count forever
                raise ValueError(
                    f"source segment at {other.root} has its own torn merge "
                    f"pending (from {ometa['pending_merge']['src']}) — finish "
                    "it first by re-calling other.merge_from(...)"
                )
            if meta["centroids"] != ometa["centroids"]:
                raise ValueError(
                    "quantizer mismatch: segments must share the same pinned "
                    "centroids (retrain = new build, not a merge)"
                )
            if (meta["id_col"], meta["vec_col"]) != (
                ometa["id_col"],
                ometa["vec_col"],
            ):
                raise ValueError("column-layout mismatch between segments")
            if meta.get("storage", "float") != ometa.get("storage", "float"):
                # adopting float cells into an sq8 index (or vice versa)
                # would serve rows the scorer cannot read — refuse before
                # any state changes (the quantization rule itself is fixed
                # module-wide, so matching storage kinds cannot drift)
                raise ValueError(
                    f"storage mismatch: {meta.get('storage', 'float')} vs "
                    f"{ometa.get('storage', 'float')} — re-encode, don't merge"
                )
            tag = uuid.uuid4().hex[:12]
            meta["appends"] = (
                int(meta.get("appends", 0)) + int(ometa.get("appends", 0)) + 1
            )
            meta["deletes"] = int(meta.get("deletes", 0)) + int(
                ometa.get("deletes", 0)
            )
            meta["pending_merge"] = {"src": os.path.abspath(other.root), "tag": tag}
            self._write_meta(meta)
        else:
            tag = pending["tag"]  # resume: counters already folded
        # source refuses to serve from the first adopted file onward (and
        # the mark follows self's pending marker, so recovery always routes
        # through the resume path)
        other._mark_consumed(os.path.abspath(self.root))
        adopt_parquet_tree(other.cells_dir, self.cells_dir, tag)
        adopt_parquet_tree(
            other._deletes_dir, os.path.join(self._deletes_dir, f"m{tag}"), tag
        )
        if os.path.exists(other._meta_path):
            os.remove(other._meta_path)
        import shutil

        shutil.rmtree(other.root, ignore_errors=True)
        meta = self.stats()
        meta.pop("pending_merge", None)
        self._write_meta(meta)
        return self

    def _check_no_pending_merge(self) -> dict:
        """Mutations refuse over a torn merge (a delete's presence scan
        over a partially adopted index would under-count and never
        self-heal); serving stays available. Re-call merge_from with the
        pinned segment to finish."""
        meta = self.stats()
        pending = meta.get("pending_merge")
        if pending is not None:
            raise ValueError(
                f"a torn merge from {pending['src']} is pending — re-call "
                "merge_from with that segment before mutating the index"
            )
        return meta

    # -- erasure (same merge-on-read shape as SearchIndex) -----------------

    @property
    def _deletes_dir(self) -> str:
        return os.path.join(self.root, "_deletes")

    def _delete_ids(self) -> DataFrame | None:
        self._dels_cache = delete_ids_literal(
            self.spark, self._deletes_dir, self._dels_cache
        )
        return None if self._dels_cache is None else self._dels_cache[1]

    def delete_vecs(self, ids) -> int:
        """Erase vectors from serving: O(deleted) id sidecar, anti-joined
        at probe time; idempotent (absent/already-deleted ids are no-ops).
        Returns the number of newly erased (present) vectors."""
        import uuid

        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], f"{self.id_col} long"
            )
        ids = ids.select(self.id_col).distinct()
        prior = self._delete_ids()
        if prior is not None:
            ids = ids.join(F.broadcast(prior), self.id_col, "left_anti")
        meta = self._check_no_pending_merge()
        present = (
            self.spark.read.parquet(self.cells_dir)
            .select(self.id_col)
            .join(F.broadcast(ids), self.id_col, "left_semi")
            .distinct()
        )
        n = present.count()
        if n == 0:
            return 0
        os.makedirs(self._deletes_dir, exist_ok=True)
        present.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self._deletes_dir, uuid.uuid4().hex)
        )
        meta["deletes"] = int(meta.get("deletes", 0)) + n
        self._write_meta(meta)
        return n

    def apply_deletes(self) -> bool:
        """Materialize pending erasures into rewritten cell files (atomic
        directory swap; a torn swap heals on the next call)."""
        import shutil

        self._check_no_pending_merge()
        self._recover_swap()
        dels = self._delete_ids()
        if dels is None:
            return False
        staged = os.path.join(self.root, "_stage.cells")
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        (
            self.spark.read.parquet(self.cells_dir)
            .join(F.broadcast(dels), self.id_col, "left_anti")
            .write.partitionBy("_cell")
            .parquet(staged)
        )
        old = os.path.join(self.root, "_old.cells")
        os.rename(self.cells_dir, old)
        os.rename(staged, self.cells_dir)
        shutil.rmtree(old)
        shutil.rmtree(self._deletes_dir)
        meta = self.stats()
        meta["deletes"] = 0
        self._write_meta(meta)
        return True

    def _recover_swap(self) -> None:
        import shutil

        old = os.path.join(self.root, "_old.cells")
        staged = os.path.join(self.root, "_stage.cells")
        if os.path.isdir(old):
            if os.path.isdir(self.cells_dir):
                shutil.rmtree(old)
            else:
                os.rename(old, self.cells_dir)
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        meta = self._read_meta()
        if meta is not None and not meta.get("pending_retrain"):
            # no marker ⇒ retrain dirs are strays (a stage orphaned before
            # the marker, or a retired tree finalize didn't remove)
            for d in ("_stage.retrain", "_old.retrain"):
                p = os.path.join(self.root, d)
                if os.path.isdir(p):
                    shutil.rmtree(p)

    # -- serving ------------------------------------------------------------

    class _Io:
        def __init__(self, outer: "VectorIndex", where: str | None = None):
            self._outer = outer
            self._where = where

        def read(self, table: str) -> DataFrame:  # noqa: ARG002 — io protocol
            o = self._outer
            df = o.spark.read.parquet(o.cells_dir)
            if self._where is not None:
                # metadata filter on the stored columns — a plain scan
                # predicate, so simple filters (=, IN) push into the
                # parquet read of the PROBED cells only
                df = df.where(self._where)
            dels = o._delete_ids()
            if dels is not None:
                df = df.join(F.broadcast(dels), o.id_col, "left_anti")
            return df

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        score_round: int | None = 4,
        where: str | None = None,
    ) -> DataFrame:
        """(q_id, vec_id, cos_sim, rank): nprobe-pruned cosine top-k. The
        probe set (queries × nprobe cells) broadcasts; joining on the
        ``_cell`` partition column engages dynamic partition pruning, so
        the scan reads only the probed cell directories (plan-guarded in
        tests/test_vector_index.py).

        ``where`` is a SQL predicate over the stored metadata columns
        (e.g. ``"label IN (1, 4, 7)"``) — FILTERED vector search: the
        candidate set narrows BEFORE ranking (never a post-cut filter,
        which under-fills the page), the quantizer and probe order stay
        pinned, and a pushable predicate reaches the parquet scan of the
        probed cells (PushedFilters, plan-guarded).

        With ``storage="sq8"`` the cells hold int8 codes (4× fewer
        resident bytes); queries are quantized with the same rule and
        ranking runs on integer dot products — identical to the
        oracle-gated ``ivf_sq8_topk`` formulation under the same
        centroids."""
        self.stats()
        if self.storage == "sq8":
            return similarity.ivf_table_topk_sq8(
                VectorIndex._Io(self, where),
                "vector_index",
                queries,
                self.centroids,
                k=k,
                nprobe=self.nprobe if nprobe is None else nprobe,
                id_col=self.id_col,
                score_round=4 if score_round is None else score_round,
            )
        return similarity.ivf_table_topk(
            VectorIndex._Io(self, where),
            "vector_index",
            queries,
            self.centroids,
            k=k,
            nprobe=self.nprobe if nprobe is None else nprobe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            score_round=score_round,
        )
