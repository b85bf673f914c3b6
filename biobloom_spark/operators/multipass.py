"""Multi-pass classification for state past the broadcast budget.

BioBloomCategorizer loads every filter into one process, and
MICategorizer maps its whole id array.  Here a Bloom registry or a miBF
id array larger than ``session._broadcast_budget`` is split into passes
that each broadcast one part of it: filter shards or word-range chunks of
one filter (``categorizer._plan_passes``), or slot-range segments of the
id array (``mibf._classify_mibf_sharded``).  This module owns the
protocol both routes share; a route brings only its pass kernel and its
combine.

1. The projected rows get a ``monotonically_increasing_id`` key
   ``__row`` and are pinned once (``session.pin_rows``), so every pass
   reads one row set and a duplicate document id still gives one output
   row per input row.
2. Each pass is one ``mapInPandas`` leg over the pinned rows with its own
   broadcast, and the legs are unioned.
3. One ``groupBy("__row")`` collects each row's per-pass partials
   (``collect_list``), and one ``mapInPandas`` pass combines them.

Against one broadcast pass, the pinned rows are scanned once per pass and
the partials ride one row-keyed shuffle: the standard memory/IO trade.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: plan-size guard of every multi-pass route (see ``clamp_passes``)
MAX_PASSES = 128


def clamp_passes(n: int) -> int:
    """Each pass is one leg of one union, so a degenerate budget (1 byte,
    say) must not turn into a 100k-leg plan that stalls Catalyst
    analysis; 128 rehashes of the corpus is already past the point where
    a larger budget is the right call.  Past the clamp a pass broadcasts
    more than the budget: a documented trade, never a wrong result."""
    return max(1, min(int(n), MAX_PASSES))


def cut_blobs(doc: np.ndarray, n_docs: int, *arrays: np.ndarray) -> list[list[bytes]]:
    """Per-document blobs of flat arrays whose entry ``i`` belongs to
    document ``doc[i]``: one list of ``n_docs`` byte strings per array,
    entries in their original order within a document (``b""`` for a
    document with none)."""
    order = np.argsort(doc, kind="stable")
    cut = np.searchsorted(doc[order], np.arange(n_docs + 1))
    return [
        [s[cut[d] : cut[d + 1]].tobytes() for d in range(n_docs)]
        for s in (a[order] for a in arrays)
    ]


def scatter(
    out: np.ndarray,
    parts: pd.Series,
    at: Callable,
    idx_field: str,
    val_field: str | None = None,
) -> None:
    """Gather the ``idx_field`` blobs (uint32 entries) of every row's
    parts, with the parallel ``val_field`` blobs (``out``'s dtype), and
    write the whole batch into ``out`` in one fancy-index write:
    ``out[at(row, idx, pas)] = val``, or ``True`` without ``val_field``.
    ``pas`` is each entry's ``__pass`` when the parts carry it (``stitch``
    with ``by_pass``), else None.  A part whose ``idx_field`` is empty or
    null is skipped."""
    rows, idx, vals, passes = [], [], [], []
    for i, row_parts in enumerate(parts):
        for p in row_parts:
            b = p[idx_field]
            if not b:
                continue
            e = np.frombuffer(b, dtype=np.uint32)
            idx.append(e)
            rows.append(np.full(e.size, i, dtype=np.int64))
            if "__pass" in p:
                passes.append(np.full(e.size, p["__pass"], dtype=np.int64))
            if val_field is not None:
                vals.append(np.frombuffer(p[val_field], dtype=out.dtype))
    if idx:
        where = at(
            np.concatenate(rows), np.concatenate(idx).astype(np.int64),
            np.concatenate(passes) if passes else None,
        )
        out[where] = np.concatenate(vals) if val_field is not None else True


def stitch(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_cols: list[str],
    n_passes: int,
    leg: Callable,
    fields: list[T.StructField],
    combine: Callable,
    schema: T.StructType,
    by_pass: bool = False,
) -> DataFrame:
    """Run ``n_passes`` broadcast passes over ``docs`` and combine each
    row's partials into one row of ``schema``.

    ``leg(p)`` returns ``(payload, open_pass)`` and is called on the
    driver just before pass ``p`` is planned, so the driver holds one
    payload at a time.  ``payload`` is broadcast; in each task
    ``open_pass(value)`` runs once and returns ``score(texts, cache)``,
    which runs per Arrow batch and per text column (one per mate) and
    returns ``(n_frames, columns)``: one column, or one scalar for every
    row, per entry of ``fields``.

    The combine pass sees every row's ``parts``, the list of its per-pass
    structs: each mate's ``fields``, named with the mate index as suffix
    (``idx0``, ``idx1``), and with ``by_pass`` the pass index ``__pass``,
    for a combine that places a part by its pass (left out otherwise, it
    costs no shuffle bytes).  ``combine(ids, parts, mates)``
    gets the id and parts Series of one batch and per mate ``(frames,
    offsets)``, and returns that batch's ``schema`` rows.

    ``open_pass`` and ``combine`` ship to every task, so neither may close
    over the state being split.
    """
    from ..session import pin_rows

    keyed = pin_rows(
        docs.select(id_col, *text_cols).withColumn(
            "__row", F.monotonically_increasing_id()
        )
    )
    M = len(text_cols)
    frames_field = T.StructField("n_frames", T.LongType(), False)
    mate_fields = [
        T.StructField(f"{f.name}{m}", f.dataType, f.nullable)
        for m in range(M)
        for f in [frames_field, *fields]
    ]
    part_schema = T.StructType(
        [
            T.StructField("__row", T.LongType(), False),
            docs.schema[id_col],
            T.StructField("__pass", T.IntegerType(), False),
            *mate_fields,
        ]
    )

    def one_leg(p: int) -> DataFrame:
        payload, open_pass = leg(p)
        bc = spark.sparkContext.broadcast(payload)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            score = open_pass(bc.value)
            cache: dict = {}  # worker-lifetime token-hash memo
            for pdf in batches:
                out = {
                    "__row": pdf["__row"].to_numpy(),
                    id_col: pdf[id_col].to_numpy(),
                    "__pass": p,
                }
                for m, c in enumerate(text_cols):
                    frames, cols = score(pdf[c].fillna("").to_numpy(), cache)
                    out[f"n_frames{m}"] = frames
                    out.update({f"{k}{m}": v for k, v in cols.items()})
                yield pd.DataFrame(out)

        return keyed.mapInPandas(run, schema=part_schema)

    parts = one_leg(0)
    for p in range(1, n_passes):
        parts = parts.unionByName(one_leg(p))
    agg = parts.groupBy("__row").agg(
        F.first(id_col).alias(id_col),
        *[F.first(f"n_frames{m}").alias(f"n_frames{m}") for m in range(M)],
        F.collect_list(
            F.struct(
                *(["__pass"] if by_pass else []),
                *[f"{f.name}{m}" for m in range(M) for f in fields],
            )
        ).alias("parts"),
    )

    def run_combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mates = []
            for m in range(M):
                frames = pdf[f"n_frames{m}"].to_numpy().astype(np.int64)
                offsets = np.zeros(frames.size + 1, dtype=np.int64)
                np.cumsum(frames, out=offsets[1:])
                mates.append((frames, offsets))
            yield combine(pdf[id_col], pdf["parts"], mates)

    return agg.mapInPandas(run_combine, schema=schema)
