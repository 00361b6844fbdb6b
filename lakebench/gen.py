"""Seeded input generation for the lakebench workloads.

Everything a workload feeds the engine is made here from ``--seed``: the
Opralog deltas the warehouse refresh lands, the document batches of the
corpus loop, and the serving queries. Each input draws from its own
``numpy`` stream (``SeedSequence([seed, tag])``), so adding a stream never
shifts another one. No Spark here: these are
plain Python/numpy/pyarrow values the workloads hand to the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def rng(seed: int, tag: str) -> np.random.Generator:
    """Independent stream ``tag`` of run seed ``seed``."""
    return np.random.default_rng(np.random.SeedSequence([seed, zlib.crc32(tag.encode())]))


def _texts(r: np.random.Generator, n: int) -> list[str]:
    lens = r.integers(30, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def documents(seed: int, tag: str, first_id: int, n: int, pool: list[str] = (),
              repost_share: float = 0.0, near_dup_share: float = 0.05) -> pa.Table:
    """``n`` documents with ids ``first_id..``: fresh texts; a share of
    exact re-posts of content in ``pool`` (what the corpus already holds,
    which the exact dedup must collapse); and a share of near-duplicates —
    an earlier text with `` dup`` appended, the same shape and share as the
    reference corpus's near-dup rows, which the LSH pair stage finds."""
    r = rng(seed, tag)
    texts = _texts(r, n)
    if pool:
        picks = np.flatnonzero(r.random(n) < repost_share)
        for i, j in zip(picks, r.integers(0, len(pool), len(picks))):
            texts[i] = pool[j]
    for i in np.flatnonzero(r.random(n) < near_dup_share):
        earlier = list(pool) + texts[:i]
        if earlier:
            texts[i] = earlier[int(r.integers(0, len(earlier)))] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in ids % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def query_terms(r: np.random.Generator, n_queries: int) -> dict[int, list[str]]:
    return {
        q: [VOCAB[i] for i in r.choice(len(VOCAB), int(r.integers(1, 4)), replace=False)]
        for q in range(n_queries)
    }


def dir_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = total = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(d, n))
    return files, total


# -- warehouse_refresh: Opralog deltas ---------------------------------------

OPRALOG_EPOCH = dt.datetime(2024, 1, 1)
# deltas change entries well after every initial entry's last_changed (the
# in-repo job stamps entry i at EPOCH + i hours), so each delta passes the
# persisted watermark
DELTA_BASE = OPRALOG_EPOCH + dt.timedelta(days=800)


def opralog_delta(seed: int, k: int, first_new: int, n_new: int, n_upd: int) -> dict[str, pa.Table]:
    """Refresh ``k``'s source rows: ``n_new`` entries with ids from
    ``first_new`` plus ``n_upd`` updates to earlier entries, all stamped
    with a ``last_changed`` after every earlier delta's, and the new
    entries' ``chapter_entry``/``more_entry_columns`` rows. The same
    layout the in-repo opralogweb job lands."""
    r = rng(seed, f"opralog.delta.{k}")
    new = np.arange(first_new, first_new + n_new)
    upd = r.choice(np.arange(1, first_new), size=min(n_upd, first_new - 1), replace=False)
    ids = np.concatenate([new, np.sort(upd)]).astype(np.int32)
    n = len(ids)
    base_s = (DELTA_BASE - dt.datetime(1970, 1, 1)).total_seconds() + k * 3600
    changed = base_s + np.sort(r.integers(0, 3000, n))
    utc = pa.timestamp("us", tz="UTC")
    entries = pa.table({
        "entry_id": ids,
        "entry_timestamp": pa.array(
            ((OPRALOG_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() + ids.astype(np.int64) * 3600)
            .astype(np.int64) * 1_000_000, utc),
        "additional_comment": [
            f"<p>Fault <b>{i}</b> in sector {int(s)} rev {k}</p>"
            for i, s in zip(ids, r.integers(0, 4, n))
        ],
        "last_changed": pa.array((changed * 1_000_000).astype(np.int64), utc),
        "logically_deleted": np.where(r.random(n) < 0.05, "Y", "N"),
    })
    mec_ids = (3 * (new - 1) + 1).astype(np.int32)
    mec = pa.table({
        "more_entry_column_id": np.concatenate([mec_ids, mec_ids + 1, mec_ids + 2]),
        "entry_id": np.concatenate([new, new, new]).astype(np.int32),
        "col_data": [f"Magnet  PSU {i % 5}" for i in new] + [f"Group {i % 3}" for i in new] + [None] * n_new,
        "number_value": pa.array([None] * (2 * n_new) + [float(5 + i % 7) for i in new], pa.float64()),
        "additional_column_id": np.repeat(np.array([1, 2, 3], dtype=np.int32), n_new),
    })
    chapter = pa.table({
        "entry_id": new.astype(np.int32),
        "principal_logbook": np.full(n_new, 24, np.int32),
        "logbook_chapter_no": np.full(n_new, 1, np.int32),
        "logbook_id": np.full(n_new, 24, np.int32),
    })
    return {"entries": entries, "chapter_entry": chapter, "more_entry_columns": mec}
