"""Greedy sequence packing: bin documents into fixed token-budget packs.

LLM pre-training consumes fixed-length sequences; packing short documents
together (instead of padding each to the context length) is the standard
way to keep token efficiency near 100%. The operator implements the
deterministic *greedy first-fit-in-order* policy:

    within each group (ordered by ``order_col``), keep a running token
    accumulator; a document that would overflow the budget starts a new
    pack (a document longer than the budget gets a pack of its own).

Sequential state makes this inexpressible as a window function (the
accumulator resets data-dependently), so the per-group scan runs in an
Arrow-batched ``applyInPandas`` — the ONLY Python surface, and it sees
just (group, order, token-count) columns, never the text.

Scale notes (100 TB):
- Parallelism = number of groups. Pack by (source, shard) — with
  ``shard = pmod(xxhash64(doc_id), n_shards)`` — to bound group size;
  packing is per-group-independent so sharding changes which docs share a
  pack but preserves the policy within every shard. ``shard_col`` below.
- Only 3 small columns cross the Arrow boundary; the token counting
  itself is a JVM expression computed before the groupBy.
- One shuffle (the groupBy); output is (group cols, doc, pack id).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame


def pack_greedy(
    df: DataFrame,
    *,
    group_cols: Iterable[str],
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Assign ``pack_id`` (1-based per group) by greedy first-fit-in-order.

    Input must carry ``group_cols + [order_col, token_col]``; output keeps
    exactly those plus ``pack_id``. Deterministic for a total ``order_col``
    order within each group.
    """
    group_cols = list(group_cols)
    cols = group_cols + [order_col, token_col]
    slim = df.select(*cols)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in slim.schema.fields)
    schema += ", pack_id int"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        packs = []
        pack_id, acc = 0, 0
        for t in pdf[token_col].tolist():
            t = int(t)
            if pack_id == 0 or acc + t > budget:
                pack_id += 1
                acc = t
            else:
                acc += t
            packs.append(pack_id)
        pdf["pack_id"] = pd.array(packs, dtype="int32")
        return pdf

    return slim.groupBy(*group_cols).applyInPandas(pack, schema=schema)
