"""corpus_sync_serve: the corpus → index → serve loop.

Set-up runs a seeded initial corpus through tick 0 of the incremental
corpus state (``refresh_corpus_state``) and builds a scored
``SearchIndex`` over the live docs. The timed window repeats one
maintenance cycle — refresh, refresh, read, takedown, read, maintenance,
read:

- write op: one refresh tick — ``refresh_corpus_state`` on a seeded batch
  (new content, exact re-posts the dedup must collapse, near-duplicates
  the LSH pair stage finds), then the tick's ``state_changelog`` applied to
  the index (append the appeared rows, delete the evicted ids);
- takedown op: the cycle's last tick, ``takedown_corpus_state`` of ~1 % of
  the docs that arrived so far, synced the same way. It is timed as its
  own op kind: at well under half a refresh tick's latency, one
  percentile over both would jump between the two modes;
- read op: one serving request — ``bm25`` over seeded term queries, every
  other request filtered on ``lang``. The read after the takedown serves
  with the takedown's deletes still pending;
- one maintenance pass: ``expire_state_versions``,
  ``compact_state_deletes`` and ``maintain_index_fleet``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Run

INITIAL_DOCS, BATCH_DOCS, REPOST_SHARE = 1000, 300, 0.1
TAKEDOWN_SHARE = 0.01
REFRESHES_PER_CYCLE = 2  # then one takedown tick and the maintenance pass
QUERIES_PER_REQUEST = 3
CYCLE_S = 30.0  # nominal cycle length on a 4-core host; sets the cycle count
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def cycles_for(seconds: int) -> int:
    """Whole maintenance cycles in a window of ``seconds`` — a function of
    the argument only, so both sides of a comparison do identical work."""
    return max(1, round(seconds / CYCLE_S))


def request_params(seed: int, n: int) -> list[tuple[dict[int, list[str]], str | None]]:
    """(bm25 term queries, optional filter) per serving request."""
    r = gen.rng(seed, "corpus.requests")
    return [(gen.query_terms(r, QUERIES_PER_REQUEST), "lang = 'en'" if i % 2 else None) for i in range(n)]


class Corpus:
    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.state = run.path("state")
        self.idx_root = run.path("indexes")
        self.inputs = run.path("inputs")
        os.makedirs(self.inputs)
        self.tick = 0
        self.next_id = 0
        self.arrived: list[pa.Table] = []
        self.search = None
        self.last_served = None  # (params, rows) of the last serving request

    # -- inputs ---------------------------------------------------------------

    def _stage(self, name: str, t: pa.Table) -> str:
        path = os.path.join(self.inputs, f"{name}.parquet")
        pq.write_table(t, path)
        return path

    def make_batch(self, n: int) -> str:
        """Stage the next seeded document batch."""
        pool = [t for tbl in self.arrived for t in tbl.column("text").to_pylist()]
        k = len(self.arrived)
        docs = gen.documents(self.run.seed, f"corpus.batch.{k}", self.next_id, n, pool, REPOST_SHARE)
        self.next_id += n
        self.arrived.append(docs)
        return self._stage(f"docs{k:03d}", docs)

    def make_takedown(self, k: int) -> str:
        """~1 % of the docs that arrived so far, chosen by seed."""
        docs = pa.concat_tables(self.arrived)
        r = gen.rng(self.run.seed, f"corpus.takedown.{k}")
        pick = np.sort(r.choice(docs.num_rows, max(1, int(docs.num_rows * TAKEDOWN_SHARE)), replace=False))
        return self._stage(f"takedown{k:03d}", docs.take(pick))

    # -- set-up ---------------------------------------------------------------

    def bootstrap(self, batch: str) -> None:
        from analytics_data_platform_spark.operators.search_index import SearchIndex
        from analytics_data_platform_spark.pipelines.incremental import (
            read_state_part,
            refresh_corpus_state,
        )

        with self.run.span("pipelines.refresh"):
            refresh_corpus_state(self.spark, self.state, self.spark.read.parquet(batch), 0)
        with self.run.span("search_index.build"):
            self.search = SearchIndex(self.spark, os.path.join(self.idx_root, "search"), mode="scored").build(
                read_state_part(self.spark, self.state, "live", 0).select(*DOC_COLS)
            )

    # -- ops ------------------------------------------------------------------

    def write(self, kind: str, path: str) -> None:
        """One tick of ``kind`` (refresh | takedown) and its index sync."""
        from analytics_data_platform_spark.pipelines.incremental import (
            refresh_corpus_state,
            state_changelog,
            takedown_corpus_state,
        )

        run = self.run
        self.tick += 1
        batch = self.spark.read.parquet(path)
        if kind == "refresh":
            with run.span("pipelines.refresh"):
                refresh_corpus_state(self.spark, self.state, batch, self.tick)
        else:
            with run.span("pipelines.takedown"):
                takedown_corpus_state(self.spark, self.state, batch, self.tick)
        with run.span("pipelines.changelog"):
            appeared, evicted = state_changelog(
                self.spark, self.state, "live", self.tick - 1, self.tick, key_cols=["doc_id"]
            )
            grew = not appeared.isEmpty()
        n_before = int(self.search.stats()["n_docs"]) if run.trace else 0
        if grew:
            with run.span("search_index.append"):
                self.search.append(appeared.select(*DOC_COLS))
        with run.span("search_index.delete_docs"):
            n_evicted = self.search.delete_docs(evicted)
        if run.trace:
            rows_in = pq.ParquetFile(path).metadata.num_rows
            newly_live = int(self.search.stats()["n_docs"]) - n_before + n_evicted
            run.layer_count(f"pipelines.{kind}_rows_in", rows_in)
            run.layer_count(f"pipelines.{kind}_rows_newly_live", newly_live)
            run.layer_count(f"pipelines.{kind}_rows_evicted", n_evicted)
            if kind == "refresh":
                run.layer_count("pipelines.keep_ratio", newly_live / rows_in)
            else:  # the delete files the next reads anti-join until maintenance
                deletes = os.path.join(self.search.root, "_deletes")
                pending = gen.dir_bytes(deletes)[0] if os.path.isdir(deletes) else 0
                run.layer_count("search_index.pending_deletes", pending)

    def request(self, params: tuple[dict[int, list[str]], str | None]) -> None:
        """One serving request: ranked bm25, optionally filtered."""
        terms, where = params
        run = self.run
        with run.span("search_index.bm25"):
            rows = self.search.bm25(terms, where=where).collect()
        if run.trace:
            run.layer_count("index.files", gen.dir_bytes(self.idx_root)[0])
        self.last_served = (params, rows)

    def maintain(self) -> None:
        from analytics_data_platform_spark.pipelines.incremental import (
            compact_state_deletes,
            expire_state_versions,
        )
        from analytics_data_platform_spark.tables.maintenance import maintain_index_fleet

        run = self.run
        with run.span("pipelines.expire_state_versions"):
            expire_state_versions(self.state, spark=self.spark)
        with run.span("pipelines.compact_state_deletes"):
            compact_state_deletes(self.spark, self.state)
        with run.span("tables.maintain_index_fleet"):
            list(maintain_index_fleet(self.spark, self.idx_root))

    # -- run-end figures and checks -------------------------------------------

    def stored_per_live(self) -> float:
        """Bytes under the state and index roots ÷ bytes the live state
        snapshots reference plus the (always live) index files."""
        from analytics_data_platform_spark.pipelines.incremental import _PARTS, _table

        live = 0
        for part in _PARTS:
            snap = _table(self.spark, self.state, part).snapshot()
            live += sum(f.bytes for f in snap.files)
            live += sum(os.path.getsize(d["path"]) for d in snap.delete_files)
        index_bytes = gen.dir_bytes(self.idx_root)[1]
        return (gen.dir_bytes(self.state)[1] + index_bytes) / (live + index_bytes)

    def sizes(self, docs_arrived: int) -> dict:
        state_files, state_bytes = gen.dir_bytes(self.state)
        index_files, index_bytes = gen.dir_bytes(self.idx_root)
        return {"docs_arrived": docs_arrived, "state_files": state_files, "state_bytes": state_bytes,
                "index_files": index_files, "index_bytes": index_bytes}

    def check(self) -> list[str]:
        """The last request, as the incrementally maintained index served it
        at the end of the window, equals the same request served by an
        index built fresh over the final live state."""
        from analytics_data_platform_spark.operators.search_index import SearchIndex
        from analytics_data_platform_spark.pipelines.incremental import read_state_part

        if self.last_served is None:
            return ["no serving request completed"]
        (terms, where), served = self.last_served
        fresh = SearchIndex(self.spark, self.run.path("fresh"), mode="scored").build(
            read_state_part(self.spark, self.state, "live").select(*DOC_COLS)
        )
        want = sorted(map(tuple, fresh.bm25(terms, where=where).collect()))
        got = sorted(map(tuple, served))
        if got != want:
            return [f"bm25: incremental index served {len(got)} rows != fresh build {len(want)}"]
        return []


def run_workload(run: Run, checkout: str) -> dict:
    import time

    from harness import OpFailed

    c = Corpus(run)
    first = c.make_batch(INITIAL_DOCS)
    schedule = []  # (op kind, fn, args or None for the next request) of the window
    for k in range(cycles_for(run.seconds)):
        schedule += [("write", c.write, ("refresh", c.make_batch(BATCH_DOCS))) for _ in range(REFRESHES_PER_CYCLE)]
        schedule += [
            ("read", c.request, None),
            ("takedown", c.write, ("takedown", c.make_takedown(k))),
            ("read", c.request, None),
            ("maintain", c.maintain, ()),
            ("read", c.request, None),
        ]
    reqs = iter(request_params(run.seed, sum(1 for op in schedule if op[0] == "read")))
    with run.span("setup"):
        c.bootstrap(first)
    setup_done = time.perf_counter()
    sizes_start = c.sizes(INITIAL_DOCS)

    run.in_window = True
    for kind, fn, args in schedule:
        try:
            run.op(kind, fn, *(args if args is not None else (next(reqs),)))
        except OpFailed as exc:
            print(exc, flush=True)
    window_s = time.perf_counter() - setup_done
    run.in_window = False
    return {
        "setup_done": setup_done,
        "window_s": window_s,
        "sizes": {"start": sizes_start, "end": c.sizes(sum(t.num_rows for t in c.arrived))},
        "stored_bytes_per_live_byte": c.stored_per_live(),
        "problems": c.check(),
    }
