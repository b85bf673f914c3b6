"""Parquet-segment miBF store — the miBF lifecycle with NO process ever
holding the full uint16 id array.

``build_mibf`` (operators/mibf.py) distributes resolution and saturation
but still memcpy-assembles the resolved array on the driver and
broadcasts it (or slot-range slices of it) at classify time.  At the
reference's own scale (BioBloomMIMaker writes a multi-GB sdsl vector to
disk and mmaps it — MIBFGen.hpp:156-284 via BioBloomMIMaker.cpp) that is
fine on one big node; at 10^12-document scale the array exceeds driver
memory outright.  This module keeps the resolved filter as a parquet
table of slot-range segments:

- ``build_mibf_store``: claims→ownership resolution lands segment rows
  straight in parquet (``_resolved_segments`` reducers write, the driver
  never sees ids); the saturation scan (``_lost_slot_scan``, shared with
  ``build_mibf``) tests frames against the resolve stage's lost-pair sets,
  one corpus pass per label group, and the driver reads those sets one
  group at a time; the SAT_BIT update is a cogrouped ``applyInPandas``
  over (segment rows × the scan's per-segment slots).  Driver-side state
  is O(n_segments) metadata plus one label group's lost sets.
- classification: ``mibf.classify_mibf`` / ``classify_mibf_pairs`` take
  a store as they take a sketch and choose the route from
  ``MIBFStore.ids_nbytes`` against the session's broadcast budget.  Past
  it, each pass of the sharded route (``_classify_mibf_sharded``) fetches
  one parquet segment and broadcasts it, so executor and driver memory
  stay bounded by one segment whatever the filter's size; within it, the
  store is assembled (``to_sketch``) and classified in one broadcast
  pass.

The on-disk layout is the product line's persistence contract at scale
(the distributed analog of the reference's ``.bf`` + ``_ids.txt``
container): ``{path}/meta`` one-row parquet, ``{path}/segments``
(seg, ids, label_counts, sat_n) parquet.  Segments absent from the table
are all-empty (all-zero) by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..checkpoint import committed, delete, fingerprint, matching_record, write_record
from ..sketch.mibf import (
    ID_MASK,
    MIBFSketch,
    SAT_BIT,
    seed_masks_to_arrays,
)
from .mibf import (
    _lost_slot_scan,
    _mibf_segments,
    _prep_build,
    _resolved_segments,
    _seg_bounds,
)

__all__ = [
    "MIBFStore",
    "build_mibf_store",
    "load_mibf_store",
]

_META_SCHEMA = T.StructType(
    [
        T.StructField("m_slots", T.LongType(), False),
        T.StructField("num_hashes", T.IntegerType(), False),
        T.StructField("shingle_w", T.IntegerType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), False),
        T.StructField("seeds", T.ArrayType(T.StringType()), True),
        T.StructField("hash_family", T.StringType(), False),
        T.StructField("canonical", T.BooleanType(), False),
        T.StructField("n_segments", T.IntegerType(), False),
        T.StructField("label_counts", T.BinaryType(), False),  # int64[L+1]
        T.StructField("sat_slots", T.LongType(), False),
    ]
)

_FINAL_SEG_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("ids", T.BinaryType(), False),
        T.StructField("label_counts", T.BinaryType(), False),
        T.StructField("sat_n", T.LongType(), False),
    ]
)


def _read_segment(spark: SparkSession, seg_path: str, s: int, lo: int, hi: int) -> bytes:
    """Driver-side fetch of one segment's raw uint16 bytes (absent row =
    all-empty segment).  Segment-sized by contract — the unit the caller
    is about to broadcast anyway."""
    rows = (
        spark.read.parquet(seg_path)
        .filter(F.col("seg") == int(s))
        .select("ids")
        .collect()
    )
    if not rows:
        return b"\x00" * (2 * (hi - lo))
    return bytes(rows[0]["ids"])


@dataclass
class MIBFStore:
    """Handle to a parquet-backed miBF: metadata + segment accessors.
    Everything a classify pass needs except the ids themselves, which
    stay on disk until a slot-range segment is broadcast."""

    path: str
    m_slots: int
    num_hashes: int
    shingle_w: int
    labels: list[str]
    seeds: np.ndarray | None
    hash_family: str
    canonical: bool
    n_segments: int
    label_counts: np.ndarray  # int64[L+1]; [0] = empty slots
    sat_slots: int

    @property
    def bounds(self) -> np.ndarray:
        return _seg_bounds(self.m_slots, self.n_segments)

    @property
    def ids_nbytes(self) -> int:
        return 2 * self.m_slots

    def seg_fetch(self, spark: SparkSession):
        seg_path = f"{self.path}/segments"
        return lambda s, lo, hi: _read_segment(spark, seg_path, s, lo, hi)

    # -- stats (identical formulas to MIBFSketch, from stored counts) ----
    def per_frame_prob(self) -> np.ndarray:
        """calcFrameProbs analog (MIBFClassifier.hpp:87-88) from the
        per-segment bincounts aggregated at build time — no id scan."""
        counts = self.label_counts.astype(np.float64)
        return 1.0 - (1.0 - counts / self.m_slots) ** self.num_hashes

    def occupancy(self) -> float:
        return float(1.0 - self.label_counts[0] / self.m_slots)

    def saturation_rate(self) -> float:
        occ = self.m_slots - int(self.label_counts[0])
        return float(self.sat_slots / max(1, occ))

    def to_sketch(self, spark: SparkSession) -> MIBFSketch:
        """Assemble the full in-memory MIBFSketch: what ``classify_mibf``
        broadcasts when the id array fits the session's broadcast budget
        (and a test-scale escape hatch); past the budget it would defeat
        the store's point."""
        ids = np.zeros(self.m_slots, dtype=np.uint16)
        bounds = self.bounds
        for r in spark.read.parquet(f"{self.path}/segments").select("seg", "ids").collect():
            s = int(r["seg"])
            ids[bounds[s]: bounds[s + 1]] = np.frombuffer(bytes(r["ids"]), dtype=np.uint16)
        return MIBFSketch(
            self.m_slots, self.num_hashes, self.shingle_w, list(self.labels),
            ids, self.seeds, self.hash_family, self.canonical,
        )


def build_mibf_store(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    key_col: str = "lang",
    text_col: str = "text",
    shingle_w: int = 3,
    num_hashes: int = 3,
    occupancy: float = 0.5,
    seeds: list[str] | None = None,
    expected_entries: int | None = None,
    canonical: bool = False,
    hash_family: str = "poly",
    snapshot_id: str | None = None,
) -> MIBFStore:
    """Build a miBF straight into a parquet store (MIBFGen.hpp:131-309
    semantics; byte-identical resolution+saturation to ``build_mibf``).

    The segment count is ``mibf._mibf_segments``, the rule
    ``build_mibf`` resolves with: at least one segment per task slot
    (and 16), and enough that one segment's ids fit the session's
    broadcast budget, which is what each classify pass broadcasts.  The
    lifecycle:

    1. sizing pass (shared ``_prep_build``);
    2. ``_resolved_segments`` writes resolved uint16 slices to
       ``{path}/resolved`` — reducers write, driver sees nothing;
    3. ``_lost_slot_scan`` finds the saturated slots from the ``lost``
       pair column of ``{path}/resolved``, one corpus pass per label
       group (the driver streams that column once per group);
    4. a cogrouped ``applyInPandas`` ORs SAT_BIT into the owned slots,
       emits per-segment label bincounts + saturation counts, and writes
       ``{path}/segments``; the tiny per-segment stats aggregate into
       ``{path}/meta``.

    Each stage is a checkpoint (the north rule's mid-build resumability,
    same contract as ``build_filters``): a killed job re-invoked with the
    same path restarts at the first stage with no commit marker
    (``checkpoint.committed``).  Resume is only offered against the SAME
    input + parameters — ``checkpoint.fingerprint`` over the scan's file
    listing (or ``snapshot_id`` for stable non-file identities, e.g. an
    Iceberg snapshot), its partition count and every sizing-relevant
    parameter; on mismatch the stale state is discarded and the build
    restarts from scratch.  The segment count is kept in the fingerprint
    record, so a resumed build keeps the bounds its checkpoint was written
    with whatever the resuming session's budget.  The expensive stage
    (resolution — the corpus-wide claims shuffle) is never repeated once
    checkpointed; the per-segment rows double as the build's
    partition-level lineage.
    """
    fp = fingerprint(
        docs, snapshot_id, key_col, text_col, shingle_w, num_hashes, occupancy,
        seeds, expected_entries, canonical, hash_family,
    )
    resolved_path = f"{path}/resolved"
    seg_path = f"{path}/segments"
    meta_path = f"{path}/meta"
    # a stale or absent record discards every stage under path
    record = matching_record(spark, path, fp)
    if record is not None and committed(spark, meta_path):
        return load_mibf_store(spark, path)

    # deterministic re-derivation: same input + params => same labels and
    # m_slots, so a resumed invocation recomputes the cheap sizing
    # pre-pass instead of persisting it
    base, bc_map, labels, seed_arr, h, canonical, m_slots = _prep_build(
        spark, docs, key_col, text_col, shingle_w, num_hashes, occupancy,
        seeds, expected_entries, canonical, hash_family,
    )
    L = len(labels)
    if record is not None:
        S = int(record["n_segments"])
    else:
        S = _mibf_segments(spark, m_slots)
        write_record(spark, path, fp, n_segments=S)
    bounds = _seg_bounds(m_slots, S)
    meta7 = (m_slots, h, shingle_w, labels, seed_arr, hash_family, canonical)

    if not committed(spark, seg_path):
        if not committed(spark, resolved_path):
            _resolved_segments(
                base, bc_map, m_slots, h, shingle_w, seed_arr, hash_family,
                canonical, bounds, S,
            ).write.mode("overwrite").parquet(resolved_path)

        from ..session import _broadcast_budget

        resolved = spark.read.parquet(resolved_path)
        sat = _lost_slot_scan(
            spark, base, meta7, bc_map,
            lambda: (bytes(r["lost"]) for r in resolved.select("lost").toLocalIterator()),
            bounds, _broadcast_budget(spark),
        )

        def finalize(key, seg_pdf, sat_pdf):
            s = int(key[0])
            lo, hi = int(bounds[s]), int(bounds[s + 1])
            if len(seg_pdf):
                ids = np.frombuffer(bytes(seg_pdf["ids"].iloc[0]), dtype=np.uint16).copy()
            else:  # saturation slots always target owned (resolved) slots, but
                ids = np.zeros(hi - lo, dtype=np.uint16)  # stay total anyway
            for b in sat_pdf["slots"]:
                ids[np.frombuffer(bytes(b), dtype=np.int64) - lo] |= SAT_BIT
            counts = np.bincount(
                (ids & ID_MASK).astype(np.int64), minlength=L + 1
            ).astype(np.int64)
            return pd.DataFrame(
                {
                    "seg": [s],
                    "ids": [ids.tobytes()],
                    "label_counts": [counts.tobytes()],
                    "sat_n": [int(((ids & SAT_BIT) != 0).sum())],
                }
            )

        final = (
            resolved.select("seg", "ids").groupby("seg")
            .cogroup(sat.groupby("seg"))
            .applyInPandas(finalize, schema=_FINAL_SEG_SCHEMA)
        )
        final.write.mode("overwrite").parquet(seg_path)
    # idempotent cleanup OUTSIDE the build branch: a kill between the
    # segments commit and this delete leaves an orphaned resolved/ dir
    # that a resume from committed segments would otherwise never reap
    delete(spark, resolved_path)

    # O(S) rows of O(L) stats — the only thing the driver aggregates
    stat_rows = (
        spark.read.parquet(seg_path)
        .select("label_counts", "sat_n")
        .collect()
    )
    label_counts = np.zeros(L + 1, dtype=np.int64)
    sat_total = 0
    for r in stat_rows:
        c = np.frombuffer(bytes(r["label_counts"]), dtype=np.int64)
        label_counts[: c.size] += c
        sat_total += int(r["sat_n"])
    # absent segments are all-empty: fold them into the empty-slot count
    label_counts[0] = m_slots - int(label_counts[1:].sum())

    seed_strs = None
    if seed_arr is not None:
        seed_strs = ["".join("1" if b else "0" for b in row) for row in seed_arr]
    spark.createDataFrame(
        [(m_slots, h, shingle_w, list(labels), seed_strs, hash_family,
          canonical, S, label_counts.tobytes(), sat_total)],
        _META_SCHEMA,
    ).write.mode("overwrite").parquet(meta_path)
    return MIBFStore(
        path, m_slots, h, shingle_w, list(labels), seed_arr, hash_family,
        canonical, S, label_counts, sat_total,
    )


def load_mibf_store(spark: SparkSession, path: str) -> MIBFStore:
    r = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    seeds = seed_masks_to_arrays(
        list(r["seeds"]) if r["seeds"] else None, int(r["shingle_w"])
    )
    return MIBFStore(
        path, int(r["m_slots"]), int(r["num_hashes"]), int(r["shingle_w"]),
        list(r["labels"]), seeds, str(r["hash_family"]), bool(r["canonical"]),
        int(r["n_segments"]),
        np.frombuffer(bytes(r["label_counts"]), dtype=np.int64).copy(),
        int(r["sat_slots"]),
    )
