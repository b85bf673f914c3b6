"""miBF build + classify — BioBloomMIMaker / BioBloomMICategorizer,
Spark-native (the multi-index product line: SURVEY.md §2 A7/A8/T2/M-miBF).

Reference lifecycle:
- maker (/root/reference/BioBloomMaker/MIBFGen.hpp:131-309 via
  BioBloomMIMaker.cpp): 3 passes — occupied-bit vector, ID insertion with
  fair-random collision ownership, saturation marking for elements that
  lost every slot.
- classifier (/root/reference/BioBloomCategorizer/MIBFClassifier.hpp:
  773-939): per-read per-ID frame counts (distinct per frame), "full"
  counts restricted to all-probes-present non-saturated frames, binomial
  significance with Bonferroni correction ``alpha / numIDs``
  (MIBFClassifier.hpp:895,936), ranking by (full count desc, p-value asc)
  and the ``-m`` multi-match window: a secondary hit within
  ``multi_thresh`` full-count of the best makes the read multiMatch
  (Doc/MultiIndex.md §5 "Do you output multimapping sequences?";
  default -m 2, MIBFClassifier options).

Spark shape mirrors the plain-Bloom jobs: the claims pass is mapInPandas
over the corpus partitions (zero shuffle — only sparse claim blobs move),
ownership resolves by an associative min-tiebreak merge in one reducer
per slot-range segment (the driver only memcpy-assembles resolved uint16
slices — claim-cardinality data never lands on the driver), saturation is
one lost-pair scan (``_lost_slot_scan``, a map-only corpus pass per label
group whose rows the SAT_BIT OR consumes directly), and classification
is one broadcast + mapInPandas pass over the (much larger) query corpus.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import MULTI_MATCH, NO_MATCH
from ..functions.stats import log_binom_sf
from ..functions.text import batch_doc_shingles, batch_frames
from ..session import local_frame
from . import multipass
from ..sketch.mibf import (
    ID_MASK,
    MAX_LABELS,
    MIBFClaims,
    MIBFSketch,
    SAT_BIT,
    flat_seed_hashes,
    mibf_size_slots,
    seed_masks_to_arrays,
)

if TYPE_CHECKING:
    from .mibf_store import MIBFStore

__all__ = [
    "build_mibf", "classify_mibf", "classify_mibf_pairs", "mibf_summarize",
    "save_mibf", "load_mibf",
]

_CLAIMS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

_SEG_IDS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("ids", T.BinaryType(), False),
        # lost (slot, label) claim pairs of this segment — int64 slots
        # followed by uint16 labels (n = len/10).  The saturation scan
        # needs ONLY these (see MIBFClaims.lost_pairs), so it broadcasts
        # ~|collisions| bytes instead of the full uint16 id array.
        T.StructField("lost", T.BinaryType(), True),
    ]
)


def _pack_lost(slots: np.ndarray, labels: np.ndarray) -> bytes:
    return slots.astype("<i8").tobytes() + labels.astype("<u2").tobytes()


def _unpack_lost(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    n = len(payload) // 10
    return (
        np.frombuffer(payload[: 8 * n], dtype="<i8").astype(np.int64),
        np.frombuffer(payload[8 * n :], dtype="<u2").astype(np.uint16),
    )


def _decode_lost(payloads, keep: set[int]) -> dict[int, np.ndarray]:
    """Packed ``lost`` values → {label index: sorted distinct lost slots}
    for the labels in ``keep``."""
    acc: dict[int, list[np.ndarray]] = {}
    for p in payloads:
        slots, labels = _unpack_lost(p)
        order = np.argsort(labels, kind="stable")
        labs, starts = np.unique(labels[order], return_index=True)
        for li, part in zip(labs.tolist(), np.split(slots[order], starts[1:])):
            if li in keep:
                acc.setdefault(li, []).append(part)
    return {li: np.unique(np.concatenate(parts)) for li, parts in acc.items()}


_SAT_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("slots", T.BinaryType(), False),
    ]
)


def _seg_bounds(m_slots: int, n_segments: int) -> np.ndarray:
    """Slot-range segment boundaries: int64[n_segments+1], segment s spans
    ``[bounds[s], bounds[s+1])``.  Proportional split — claim slots are
    uniform over [0, m) so segments load-balance."""
    return (np.arange(n_segments + 1, dtype=np.int64) * m_slots) // n_segments


def _mibf_segments(spark: SparkSession, m_slots: int) -> int:
    """Slot-range segment count of the resolve stage, the one rule for
    ``build_mibf`` and ``mibf_store.build_mibf_store``: one ownership
    reducer per task slot (at least 16), and enough segments that one
    segment's ids (2 B per slot) fit ``session._broadcast_budget`` — the
    unit a store classify pass broadcasts — under the
    ``multipass.clamp_passes`` plan-size guard.  Resolved ids do not depend on the count (pinned by
    test_segmented_resolution_matches_local_twin)."""
    from ..session import _broadcast_budget

    return multipass.clamp_passes(max(
        16, spark.sparkContext.defaultParallelism,
        -(-(2 * m_slots) // _broadcast_budget(spark)),
    ))


def _resolved_segments(
    base: DataFrame,
    bc_map,
    m_slots: int,
    h: int,
    shingle_w: int,
    seed_arr: np.ndarray | None,
    hash_family: str,
    canonical: bool,
    bounds: np.ndarray,
    S: int,
) -> DataFrame:
    """Claims map pass + one ownership reducer per slot-range segment →
    DataFrame (seg, ids): the resolved uint16 id slices (MIBFGen.hpp
    passes 1-2, distributed).  Shared by ``build_mibf`` (which collects
    the S slices and memcpy-assembles) and ``build_mibf_store`` (which
    writes them straight to parquet — no driver assembly at all).
    Segments with zero claims emit no row (an absent row = all-empty
    slice)."""

    def claims_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lmap = bc_map.value
        cache: dict = {}
        parts: list[MIBFClaims] = []
        probe = MIBFSketch(
            m_slots, h, shingle_w, [], np.zeros(0, dtype=np.uint16), seed_arr,
            hash_family, canonical,
        )
        for pdf in batches:
            for lab, grp in pdf.groupby("__label"):
                li = lmap.get(str(lab))
                if li is None:
                    continue
                rows, _off = _frame_hash_rows(
                    grp["__text"].to_numpy(), None, shingle_w, seed_arr, cache,
                    canonical, hash_family,
                )
                if rows.size == 0:
                    continue
                pos = probe.positions_for(rows)
                parts.append(MIBFClaims.from_positions(pos, li))
        acc = MIBFClaims.merge_all(parts)  # ONE sort per partition
        if acc.slots.size == 0:
            return
        # slots are sorted: one searchsorted splits the partial by segment
        cut = np.searchsorted(acc.slots, bounds)
        out_seg, out_pl = [], []
        for s in range(S):
            lo, hi = int(cut[s]), int(cut[s + 1])
            if hi > lo:
                out_seg.append(s)
                out_pl.append(MIBFClaims(acc.slots[lo:hi], acc.ties[lo:hi]).serialize())
        yield pd.DataFrame({"seg": out_seg, "payload": out_pl})

    partials = base.mapInPandas(claims_pass, schema=_CLAIMS_SCHEMA)

    def resolve_seg(key, pdf):
        """One reducer per slot-range segment: merge that segment's claims
        (associative min-tiebreak) and emit the resolved uint16 id slice
        plus the segment's lost (slot, label) claim pairs."""
        s = int(key[0])
        acc = MIBFClaims.merge_all(
            [MIBFClaims.deserialize(bytes(p)) for p in pdf["payload"]]
        )  # ONE sort per segment, not a 64-step merge chain
        lo, hi = int(bounds[s]), int(bounds[s + 1])
        win = acc.winners()
        ids_seg = np.zeros(hi - lo, dtype=np.uint16)
        ids_seg[win.slots - lo] = win.owners()
        lost_slots, lost_labels = acc.lost_pairs()
        return pd.DataFrame(
            {
                "seg": [s],
                "ids": [ids_seg.tobytes()],
                "lost": [_pack_lost(lost_slots, lost_labels)],
            }
        )

    # one reducer per task slot: left to AQE, the small claims exchange
    # coalesces into one task that resolves every segment serially; an
    # explicit count is kept, and the grouping reuses its hash partitioning
    n_tasks = min(S, base.sparkSession.sparkContext.defaultParallelism)
    return (
        partials.repartition(n_tasks, "seg")
        .groupBy("seg")
        .applyInPandas(resolve_seg, schema=_SEG_IDS_SCHEMA)
    )


def _frame_hash_rows(
    texts, labels_idx, w: int, seeds, cache: dict,
    canonical: bool = False, hash_family: str = "poly",
):
    """Per label group → (hash rows, offsets).  k-mer mode: (1D hashes,
    offsets — poly, canonical-poly, or NTC64 per ``hash_family``); seed
    mode: ((h, n) rows, offsets)."""
    if seeds is None:
        frames, offsets, _th, _tc = batch_frames(
            texts, w, cache, canonical=canonical, hash_family=hash_family
        )
        return frames, offsets
    _fr, _off, tok_hashes, tok_counts = batch_doc_shingles(texts, w, cache)
    rows, offsets2 = flat_seed_hashes(tok_hashes, tok_counts, w, seeds)
    return rows, offsets2


def _prep_build(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str,
    text_col: str,
    shingle_w: int,
    num_hashes: int,
    occupancy: float,
    seeds: list[str] | None,
    expected_entries: int | None,
    canonical: bool,
    hash_family: str,
):
    """Shared build prologue (validation, label map, sizing pass) for
    ``build_mibf`` and ``mibf_store.build_mibf_store``.  Returns
    ``(base, bc_map, labels, seed_arr, h, canonical, m_slots)`` where
    ``base`` is the (__label, __text) projection of the corpus."""
    from ..session import ensure_workers

    ensure_workers(spark)
    seed_arr = seed_masks_to_arrays(seeds, shingle_w)
    if seed_arr is not None and (hash_family != "poly" or canonical):
        raise ValueError("spaced-seed miBF mode is poly-family only")
    if hash_family == "nthash" and canonical:
        canonical = False  # NTC64 is canonical by construction
    h = seed_arr.shape[0] if seed_arr is not None else num_hashes

    docs = docs.filter(F.col(key_col).isNotNull() & F.col(text_col).isNotNull())
    # ONE prologue job: labels + frames upper bound per label from a single
    # groupBy — the old shape (distinct collect + a second sum agg) paid
    # two full metadata scans (guide §2.4: fewer passes)
    from .maker import frames_upper_bound_col

    frames_ub = frames_upper_bound_col(text_col, shingle_w)
    key_rows = (
        docs.groupBy(key_col).agg(F.sum(frames_ub).alias("__f")).collect()
    )
    labels = sorted(str(r[0]) for r in key_rows)
    label_to_idx = {lab: i + 1 for i, lab in enumerate(labels)}

    if expected_entries is None:
        expected_entries = int(sum(r["__f"] or 0 for r in key_rows) or 1)
    m_slots = mibf_size_slots(expected_entries, h, occupancy)

    if len(labels) > MAX_LABELS:
        raise ValueError(f"miBF supports at most {MAX_LABELS} labels")
    bc_map = spark.sparkContext.broadcast(label_to_idx)
    base = docs.select(
        F.col(key_col).cast("string").alias("__label"), F.col(text_col).alias("__text")
    )
    return base, bc_map, labels, seed_arr, h, canonical, m_slots


def build_mibf(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    shingle_w: int = 3,
    num_hashes: int = 3,
    occupancy: float = 0.5,
    seeds: list[str] | None = None,
    expected_entries: int | None = None,
    canonical: bool = False,
    hash_family: str = "poly",
) -> MIBFSketch:
    """Build one miBF over all values of ``key_col`` (labels).

    ``hash_family``/``canonical`` select the frame hasher (k-mer mode
    only; the reference miBF hashes through canonical ntHash —
    MIBFGen.hpp's ntHashIterator): "poly" = token shingles,
    optionally strand-canonical; "nthash" = published NTC64 base k-mers
    over the de-spaced text with NTM64 probe positions (canonical by
    construction).  Spaced-seed mode is poly-only.

    Passes (MIBFGen.hpp:131-309 analog):
    1. sizing: frames upper bound → slots for the target occupancy
       (``-b``, default 0.5) — the reference's ``-n``/file-size estimate;
    2. claims: every (label, frame) claims its h probe slots with a
       deterministic pseudo-random tiebreak; map tasks split their sparse
       claim sets by slot range into ``_mibf_segments`` segments and one
       reducer per segment resolves ownership to a uint16 id slice — the
       driver only memcpy-assembles slices (never touches claim blobs),
       mirroring the Bloom build's segmented merge (maker._assemble_fn);
    3. saturation: frames whose label lost every slot mark those slots
       saturated (insertSaturation analog) — ``_lost_slot_scan`` tests
       each frame against its own label's lost-slot set from the resolve
       stage, one map-only corpus pass per label group, and the driver
       ORs the bit into every slot the scan tasks report.  A corpus whose
       claims never collide skips this pass.
    The corpus is read twice and never shuffled; only sparse claim blobs
    move, and no claim-cardinality data structure ever lands on the
    driver.  Labels are capped at 32767 (Doc/MultiIndex.md:165).

    ``session._broadcast_budget`` sets the segment count
    (``_mibf_segments``) and caps the lost-slot bytes (8 B per slot) one
    saturation leg broadcasts; a larger lost-pair set splits into more
    label groups.
    """
    base, bc_map, labels, seed_arr, h, canonical, m_slots = _prep_build(
        spark, docs, key_col, text_col, shingle_w, num_hashes, occupancy,
        seeds, expected_entries, canonical, hash_family,
    )
    S = _mibf_segments(spark, m_slots)
    bounds = _seg_bounds(m_slots, S)

    resolved = _resolved_segments(
        base, bc_map, m_slots, h, shingle_w, seed_arr, hash_family, canonical,
        bounds, S,
    )
    ids = np.zeros(m_slots, dtype=np.uint16)
    lost: list[bytes] = []
    # toPandas: the resolved slices are ~2 B x m_slots of binary — the
    # Arrow transfer path measured 2x faster than the pickled-row collect
    # for this payload (tools/r06_measure notes; guide §6 Arrow transfers)
    for r in resolved.toPandas().itertuples(index=False):
        s = int(r.seg)
        ids[bounds[s] : bounds[s + 1]] = np.frombuffer(bytes(r.ids), dtype=np.uint16)
        if r.lost:
            lost.append(bytes(r.lost))
    sketch = MIBFSketch(
        m_slots, h, shingle_w, labels, ids, seed_arr, hash_family, canonical
    )
    from ..session import _broadcast_budget

    scan = _lost_slot_scan(
        spark, base, _sketch_meta(sketch), bc_map, lambda: lost, bounds,
        _broadcast_budget(spark),
    )
    for r in scan.collect():
        sketch.apply_saturation(np.frombuffer(bytes(r["slots"]), dtype=np.int64))
    return sketch


def _lost_slot_scan(
    spark: SparkSession,
    base: DataFrame,
    meta: tuple,
    bc_map,
    lost_payloads,
    bounds: np.ndarray,
    budget: int,
) -> DataFrame:
    """The saturation scan (insertSaturation, MIBFGen.hpp:196-223) of both
    ``build_mibf`` and ``mibf_store.build_mibf_store`` → DataFrame
    (seg, slots): per scan task and slot-range segment of ``bounds``, the
    sorted distinct int64 slots that task found saturated.  Segments with
    nothing to mark emit no row; when no claim lost its slot (disjoint
    label vocabularies) there are no groups and the result is an empty
    local relation — the corpus is not scanned at all.  A segment may
    have rows from several tasks or legs, and their slots may overlap:
    both consumers (``MIBFSketch.apply_saturation`` and the store's
    ``finalize`` cogroup) OR ``SAT_BIT`` into every row's slots, which is
    idempotent, so no dedup reducer (and no exchange) runs here.

    A frame is saturated iff its label lost EVERY probe slot.  Each probed
    slot was claimed by the frame's label in the claims pass, so 'lost' ==
    'in the resolve stage's lost-pair set of that label', which
    ``MIBFClaims.merge_all`` makes globally complete.  A frame only ever
    tests its own label's set, so labels pack (in index order) into groups
    whose lost sets total at most ``budget`` bytes at 8 B per slot; each
    group is one mapInPandas leg over ``base`` filtered to its labels,
    broadcasting only that group's sets.  Frames never span legs, so no
    row surrogate, stitch or pin is needed; the result is the plain union
    of the legs.

    ``lost_payloads()`` yields the resolve stage's packed ``lost`` values.
    It is read once to size the groups and once per group, so the driver
    holds one group's lost sets at a time.

    A single label whose lost set exceeds ``budget`` gets a group of its
    own and that leg's broadcast exceeds the cap; past
    ``multipass.MAX_PASSES`` groups the remaining labels join the last
    group (the plan-size guard of ``multipass.clamp_passes``).  Both are documented
    trades, never wrong results.
    """
    m_slots, h, w, labels, seeds, family, canonical = meta
    sizes: dict[int, int] = {}
    for p in lost_payloads():
        li, n = np.unique(_unpack_lost(p)[1], return_counts=True)
        for a, b in zip(li.tolist(), n.tolist()):
            sizes[a] = sizes.get(a, 0) + b
    groups: list[list[int]] = []
    used = 0
    for li in sorted(sizes):
        if not groups or (
            used + 8 * sizes[li] > budget and len(groups) < multipass.MAX_PASSES
        ):
            groups.append([])
            used = 0
        groups[-1].append(li)
        used += 8 * sizes[li]
    if not groups:
        return local_frame(spark, [], _SAT_SCHEMA)
    probe = MIBFSketch(
        m_slots, h, w, [], np.zeros(0, dtype=np.uint16), seeds, family, canonical
    )
    S = len(bounds) - 1

    def leg(group: list[int]) -> DataFrame:
        bc_lost = spark.sparkContext.broadcast(
            _decode_lost(lost_payloads(), set(group))
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lmap = bc_map.value
            lostmap = bc_lost.value
            cache: dict = {}
            sat: list[np.ndarray] = []
            for pdf in batches:
                for lab, grp in pdf.groupby("__label"):
                    lost_L = lostmap.get(lmap.get(str(lab)))
                    if lost_L is None:
                        continue
                    rows, _off = _frame_hash_rows(
                        grp["__text"].to_numpy(), None, w, seeds, cache,
                        canonical, family,
                    )
                    if rows.size == 0:
                        continue
                    pos = probe.positions_for(rows)
                    idx = np.searchsorted(lost_L, pos)
                    np.minimum(idx, lost_L.size - 1, out=idx)
                    lost = (lost_L[idx] == pos).all(axis=0)
                    if lost.any():
                        sat.append(np.unique(pos[:, lost]))
            if sat:
                allsat = np.unique(np.concatenate(sat))
                cut = np.searchsorted(allsat, bounds)
                segs = [s for s in range(S) if cut[s + 1] > cut[s]]
                yield pd.DataFrame(
                    {
                        "seg": segs,
                        "slots": [allsat[cut[s] : cut[s + 1]].tobytes() for s in segs],
                    }
                )

        names = [labels[li - 1] for li in group]
        return base.filter(F.col("__label").isin(names)).mapInPandas(
            run, schema=_SAT_SCHEMA
        )

    scan = leg(groups[0])
    for g in groups[1:]:
        scan = scan.unionByName(leg(g))
    return scan


def _sketch_meta(sketch: MIBFSketch) -> tuple:
    """(m_slots, h, w, labels, seeds, hash_family, canonical) — the
    id-array-free description the sharded kernels close over."""
    return (
        sketch.m_slots, sketch.num_hashes, sketch.shingle_w, sketch.labels,
        sketch.seeds, sketch.hash_family, sketch.canonical,
    )


def _count_batch(texts: np.ndarray, sketch: MIBFSketch, cache: dict):
    """Per-doc per-label hit counting (evalRead counts loop,
    MIBFClassifier.hpp:850-890) over one batch.

    Returns (frames[n_docs], keys, counts, full) where ``keys`` encodes
    (doc, label) as doc*(L+1)+label, ``counts`` is the distinct-per-frame
    any-probe count and ``full`` the all-probes-present non-saturated
    count.  Mergeable across mates: concatenate keys and sum (the paired
    classify sums both reads' counts against the combined frame count —
    MIBFClassifier.hpp:802-835 ``classify(support, seq1, seq2)``).
    """
    w, L = sketch.shingle_w, len(sketch.labels)
    rows, offsets = _frame_hash_rows(
        texts, None, w, sketch.seeds, cache, sketch.canonical, sketch.hash_family
    )
    frames = np.diff(offsets)
    if int(offsets[-1]) == 0:
        empty = np.empty(0, dtype=np.int64)
        return frames, empty, empty, empty
    pos = sketch.positions_for(rows)  # (h, n_fr)
    lab, sat = sketch.gather(pos)  # (h, n_fr) uint16 / bool
    keys, counts, full = _count_from_gather(offsets, lab, sat, L)
    return frames, keys, counts, full


def _count_from_gather(offsets: np.ndarray, lab: np.ndarray, sat: np.ndarray, L: int):
    """The counting core of ``_count_batch`` given pre-gathered per-probe
    (label, saturated) matrices — also the stitch kernel of the sharded
    classify path, where the (h, n_frames) matrices are reassembled from
    per-segment passes instead of a full-array gather.

    Returns (keys, counts, full) in the ``_count_batch`` encoding.
    """
    n_fr = int(offsets[-1])
    empty = np.empty(0, dtype=np.int64)
    if n_fr == 0:
        return empty, empty, empty
    h = lab.shape[0]
    frame_col = np.tile(np.arange(n_fr, dtype=np.int64), h)
    lab_flat = lab.ravel().astype(np.int64)
    sat_flat = sat.ravel()
    doc_of_frame = np.searchsorted(offsets, np.arange(n_fr), side="right") - 1

    def per_doc_label_counts(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """distinct-per-frame (doc, label) counts over probe entries where
        ``mask`` holds → (doc*(L+1)+label keys, counts)."""
        sel = mask & (lab_flat > 0)
        if not sel.any():
            return empty, empty
        fl_keys = frame_col[sel] * np.int64(L + 1) + lab_flat[sel]
        fl_uniq = np.unique(fl_keys)  # one per (frame, label)
        fr = fl_uniq // np.int64(L + 1)
        lb = fl_uniq % np.int64(L + 1)
        dl_keys = doc_of_frame[fr] * np.int64(L + 1) + lb
        return np.unique(dl_keys, return_counts=True)

    keys_c, counts_c = per_doc_label_counts(np.ones_like(sat_flat, dtype=bool))
    if keys_c.size == 0:
        return empty, empty, empty
    full_frame = (lab > 0).all(axis=0)
    keys_f, counts_f = per_doc_label_counts(full_frame[frame_col] & ~sat_flat)
    full_i = np.zeros(keys_c.size, dtype=np.int64)
    if keys_f.size:
        fidx = np.searchsorted(keys_f, keys_c)
        fidx = np.clip(fidx, 0, keys_f.size - 1)
        match = keys_f[fidx] == keys_c
        full_i[match] = counts_f[fidx[match]]
    return keys_c, counts_c, full_i


def _merge_counts(parts: list[tuple]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sum keyed (doc,label) count sets from several mates; a single
    read's set passes through unchanged."""
    if len(parts) == 1:
        return parts[0]
    keys = np.concatenate([p[0] for p in parts])
    if keys.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    counts = np.concatenate([p[1] for p in parts])
    full = np.concatenate([p[2] for p in parts])
    uniq, inv = np.unique(keys, return_inverse=True)
    return (
        uniq,
        np.bincount(inv, weights=counts).astype(np.int64),
        np.bincount(inv, weights=full).astype(np.int64),
    )


def _decide_batch(
    n_docs: int,
    frames: np.ndarray,
    keys_c: np.ndarray,
    counts_c: np.ndarray,
    full_i: np.ndarray,
    sketch: MIBFSketch,
    per_frame_prob: np.ndarray,
    alpha_adj: float,
    multi_thresh: int,
):
    """Significance + ranking (MIBFClassifier.hpp:842-930) given counts.

    Returns (assigned, hits_lists, best_scores)."""
    L = len(sketch.labels)
    assigned = np.full(n_docs, NO_MATCH, dtype=object)
    hits_out: list = [[] for _ in range(n_docs)]
    best = np.zeros(n_docs)
    if keys_c.size == 0:
        return assigned, hits_out, best
    doc_i = keys_c // np.int64(L + 1)
    lab_i = keys_c % np.int64(L + 1)

    # binomial significance P(X > count) < alpha/numIDs (Bonferroni,
    # MIBFClassifier.hpp:895,936); memoize per unique (count, frames, label)
    n_doc_frames = frames[doc_i]
    trip = np.stack([counts_c, n_doc_frames, lab_i], axis=1)
    uniq, inv = np.unique(trip, axis=0, return_inverse=True)
    logp_u = np.empty(uniq.shape[0])
    for k, (c, n, li) in enumerate(uniq):
        logp_u[k] = log_binom_sf(int(c) + 1, int(n), float(per_frame_prob[int(li)]))
    logp = logp_u[inv]
    signif = logp < math.log(alpha_adj) if alpha_adj > 0 else np.zeros_like(logp, dtype=bool)

    d, li, cn, fu, lp = doc_i[signif], lab_i[signif], counts_c[signif], full_i[signif], logp[signif]
    if d.size:
        # rank per doc: full count desc, p-value asc (MIBFClassifier.hpp:903-909)
        order = np.lexsort((lp, -fu, d))
        d, li, cn, fu, lp = d[order], li[order], cn[order], fu[order], lp[order]
        first = np.empty(d.size, dtype=bool)
        first[0] = True
        first[1:] = d[1:] != d[:-1]
        best_fu = fu[np.maximum.accumulate(np.where(first, np.arange(d.size), 0))]
        # -m window: keep secondaries within multi_thresh of the best full
        # count (Doc/MultiIndex.md §5; default 2); the best row always stays
        keep = first | (fu + multi_thresh > best_fu)
        d2, li2, lp2, first2 = d[keep], li[keep], lp[keep], first[keep]
        labels_np = np.asarray(["?"] + sketch.labels, dtype=object)
        bounds = np.flatnonzero(np.concatenate([first2[1:], [True]])) + 1
        starts = np.concatenate([[0], bounds[:-1]])
        for s, e in zip(starts, bounds):
            doc = int(d2[s])
            hits_out[doc] = list(labels_np[li2[s:e]])
            assigned[doc] = hits_out[doc][0] if e - s == 1 else MULTI_MATCH
            best[doc] = min(1000.0, -10.0 * lp2[s] / math.log(10.0))
    return assigned, hits_out, best


def _result_schema(id_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            id_field,
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("hits", T.ArrayType(T.StringType()), False),
            T.StructField("assigned", T.StringType(), False),
            T.StructField("best_score", T.DoubleType(), False),
        ]
    )


def _decide_frame(
    ids: pd.Series,
    frames: np.ndarray,
    counts: tuple,
    sketch: MIBFSketch,
    per_frame_prob: np.ndarray,
    alpha_adj: float,
    multi_thresh: int,
) -> pd.DataFrame:
    """One batch of ``_result_schema`` rows from its merged (keys, counts,
    full) count set — ``_decide_batch`` over the combined frame count."""
    keys, counts_c, full = counts
    assigned, hits, best = _decide_batch(
        frames.size, frames, keys, counts_c, full, sketch,
        per_frame_prob, alpha_adj, multi_thresh,
    )
    return pd.DataFrame(
        {
            ids.name: ids.to_numpy(),
            "n_frames": frames,
            "hits": hits,
            "assigned": assigned,
            "best_score": best,
        }
    )


def _classify_mibf_sharded(
    spark: SparkSession,
    docs: DataFrame,
    sketch: MIBFSketch | MIBFStore,
    n_segments: int,
    seg_fetch,
    alpha_adj: float,
    multi_thresh: int,
    id_col: str,
    text_cols: list[str],
) -> DataFrame:
    """Multi-pass miBF classification for id arrays beyond the broadcast
    budget, over the shared protocol of ``multipass.stitch``.

    Pass s broadcasts ONLY slot-range segment s of the uint16 id array,
    ``seg_fetch(s, lo, hi)``: an in-memory slice of a sketch or a parquet
    segment of a store, so the id array as a whole need not exist
    anywhere.  Each (probe, frame) entry of a document's gather matrix
    lands in exactly one segment, so pass s emits the non-empty entries it
    owns as a sparse (flat-index, raw-uint16) blob per document.  Empty
    slots (raw == 0) are never shipped — at the default 0.5 occupancy
    half the matrix stays implicit.  The combine reassembles each mate's
    full (h, n_frames) matrix and runs the normal counting + significance
    kernels: ``_count_from_gather`` per mate, ``_merge_counts`` over the
    mates and ``_decide_frame`` on the combined frame count (the
    ``classify(support, seq1, seq2)`` semantics).
    """
    m_slots, h, w, labels, seeds, family, canonical = _sketch_meta(sketch)
    bounds = _seg_bounds(m_slots, n_segments)
    L = len(labels)
    per_frame_prob = sketch.per_frame_prob()

    def leg(s: int):
        lo, hi = int(bounds[s]), int(bounds[s + 1])

        def open_seg(payload: bytes):
            # must never reference `sketch`: cloudpickle would ship the
            # full id array in every task, defeating the segments
            seg = np.frombuffer(payload, dtype=np.uint16)
            probe = MIBFSketch(
                m_slots, h, w, [], np.zeros(0, dtype=np.uint16), seeds,
                family, canonical,
            )

            def score(texts, cache):
                rows, offsets = _frame_hash_rows(
                    texts, None, w, seeds, cache, canonical, family
                )
                frames = np.diff(offsets)
                doc = e = v = np.empty(0, dtype=np.int64)
                if int(offsets[-1]):
                    pos = probe.positions_for(rows)
                    in_seg = (pos >= lo) & (pos < hi)
                    raw = np.zeros(pos.shape, dtype=np.uint16)
                    raw[in_seg] = seg[pos[in_seg] - lo]
                    ii, gg = np.nonzero(in_seg & (raw != 0))
                    doc = np.searchsorted(offsets, gg, side="right") - 1
                    # doc-local flat index: probe_row*frames[doc]+frame
                    e = (ii * frames[doc] + (gg - offsets[doc])).astype(np.uint32)
                    v = raw[ii, gg]
                idx, val = multipass.cut_blobs(doc, frames.size, e, v)
                return frames, {"idx": idx, "val": val}

            return score

        return seg_fetch(s, lo, hi), open_seg

    fields = [
        T.StructField("idx", T.BinaryType(), False),
        T.StructField("val", T.BinaryType(), False),
    ]
    decide_sk = MIBFSketch(
        m_slots, h, w, list(labels), np.zeros(0, dtype=np.uint16), seeds,
        family, canonical,
    )

    def combine(ids, parts, mates):
        counts = []
        for m, (frames, offsets) in enumerate(mates):
            raw = np.zeros((h, int(offsets[-1])), dtype=np.uint16)
            # e encodes (probe, frame) as probe*frames[row]+frame
            multipass.scatter(
                raw, parts,
                lambda row, e, _: (e // frames[row], offsets[row] + e % frames[row]),
                f"idx{m}", f"val{m}",
            )
            counts.append(
                _count_from_gather(offsets, raw & ID_MASK, (raw & SAT_BIT) != 0, L)
            )
        return _decide_frame(
            ids, sum(f for f, _ in mates), _merge_counts(counts),
            decide_sk, per_frame_prob, alpha_adj, multi_thresh,
        )

    return multipass.stitch(
        spark, docs, id_col, text_cols, n_segments, leg, fields, combine,
        _result_schema(docs.schema[id_col]),
    )


#: id(sketch) → ((applicationId, content-fp), Broadcast).  Keyed off the
#: object (module-level, weakref-evicted) rather than stored ON it so a
#: sketch stays deepcopy- and pickle-able — a Broadcast handle in the
#: instance __dict__ would crash copy.deepcopy/pickle with
#: BROADCAST_VARIABLE_NOT_LOADED on the driver.
_BC_CACHE: dict[int, tuple] = {}


def _sketch_broadcast(spark: SparkSession, sketch: MIBFSketch):
    """Session-scoped broadcast of the sketch payload, cached per sketch
    object.

    A fresh broadcast per classify call makes every worker re-fetch and
    first-touch the full uint16 id array on every call — at this VM's
    ~150 MB/s fault rate that is seconds per worker per call, and it grows
    with the worker count (an anti-scaling term measured in the round-4
    miBF scaling runs).  Real deployments classify many batches against
    one sketch; one broadcast per (sketch, Spark app) is the correct
    amortization.  The cache dies with the sketch object or the app.

    The cache key includes a cheap content checksum of the id array
    (length + uint64 sum — any in-place mutation the sketch API performs,
    e.g. OR-ing SAT_BIT, strictly changes it), so a sketch mutated after a
    classify is re-broadcast instead of silently classified against stale
    ids."""
    import weakref

    app = spark.sparkContext.applicationId
    fp = (sketch.ids.size, int(np.add.reduce(sketch.ids, dtype=np.uint64)))
    sid = id(sketch)
    cached = _BC_CACHE.get(sid)
    if cached is not None and cached[0] == (app, fp):
        return cached[1]
    if cached is not None and cached[0][0] == app:
        # stale broadcast invalidated by mutation: release its blocks now
        # (no job can be mid-flight with it — classify calls are
        # driver-sequential) instead of leaking until app exit
        cached[1].unpersist()
    payload = sketch.serialize()
    meta = (sketch.m_slots, sketch.num_hashes, sketch.shingle_w, sketch.labels,
            sketch.hash_family, sketch.canonical)
    bc = spark.sparkContext.broadcast((payload, meta, sketch.seeds))
    if sid not in _BC_CACHE:
        # evict on sketch GC (Spark's ContextCleaner reclaims the broadcast
        # blocks once the handle is dropped); runs during destruction, so
        # an id()-reuse by a NEW sketch can never race a dead entry
        weakref.finalize(sketch, _BC_CACHE.pop, sid, None)
    _BC_CACHE[sid] = ((app, fp), bc)
    return bc


def _classify_mibf(
    spark: SparkSession,
    docs: DataFrame,
    sketch: MIBFSketch | MIBFStore,
    alpha: float,
    multi_thresh: int,
    id_col: str,
    text_cols: list[str],
) -> DataFrame:
    """The classify body of ``classify_mibf`` (one text column) and
    ``classify_mibf_pairs`` (two): each mate's per-ID counts are summed
    (``_merge_counts``) before one significance test on the combined
    frame count.

    The route follows the id array's size against
    ``session._broadcast_budget``.  Within it, the id array (a store's
    assembled by ``MIBFStore.to_sketch``) is broadcast once per (sketch,
    app) and classified in one shuffle-free ``mapInPandas`` pass.  Past
    it, ``_classify_mibf_sharded`` evaluates it in slot-range segments: a
    sketch's in at most the budget each, a store's in its own parquet
    segments, fetched one pass at a time — the executor-memory escape for
    very large id arrays.
    """
    from ..session import _broadcast_budget, ensure_workers

    ensure_workers(spark)
    alpha_adj = alpha / max(1, len(sketch.labels))
    budget = _broadcast_budget(spark)
    if sketch.ids_nbytes > budget:
        if isinstance(sketch, MIBFSketch):
            ids = sketch.ids
            segments = (
                multipass.clamp_passes(-(-ids.nbytes // budget)),
                lambda s, lo, hi: ids[lo:hi].tobytes(),
            )
        else:
            segments = (sketch.n_segments, sketch.seg_fetch(spark))
        return _classify_mibf_sharded(
            spark, docs, sketch, *segments, alpha_adj, multi_thresh, id_col,
            text_cols,
        )
    if not isinstance(sketch, MIBFSketch):
        sketch = sketch.to_sketch(spark)
    per_frame_prob = sketch.per_frame_prob()
    bc = _sketch_broadcast(spark, sketch)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, (m, h, w, labels, fam, canon), sd = bc.value
        sk = MIBFSketch.deserialize(
            pl, m, h, w, labels, sd, hash_family=fam, canonical=canon
        )
        cache: dict = {}
        for pdf in batches:
            mates = [
                _count_batch(pdf[c].fillna("").to_numpy(), sk, cache)
                for c in text_cols
            ]
            frames = sum(p[0] for p in mates)
            yield _decide_frame(
                pdf[id_col], frames, _merge_counts([p[1:] for p in mates]),
                sk, per_frame_prob, alpha_adj, multi_thresh,
            )

    return docs.select(id_col, *text_cols).mapInPandas(
        run, schema=_result_schema(docs.schema[id_col])
    )


def classify_mibf(
    spark: SparkSession,
    docs: DataFrame,
    sketch: MIBFSketch | MIBFStore,
    alpha: float = 1e-10,
    multi_thresh: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify every document against the miBF — broadcast + one
    mapInPandas pass, zero shuffle (the MI twin of ``categorize``).
    ``sketch`` is an in-memory ``MIBFSketch`` or a parquet
    ``mibf_store.MIBFStore``; an id array past the session's broadcast
    budget is evaluated in slot-range segments, a store's fetched from
    disk one segment per pass (``_classify_mibf``).

    ``alpha`` is the ``-s`` significance (min_FPR=100 → 1e-10,
    MIBFClassifier defaults); Bonferroni-adjusted by the label count.
    Output: (id, n_frames, hits ranked best-first, assigned, best_score
    = -10*log10 p of the best hit).
    """
    return _classify_mibf(spark, docs, sketch, alpha, multi_thresh, id_col, [text_col])


def classify_mibf_pairs(
    spark: SparkSession,
    docs: DataFrame,
    sketch: MIBFSketch | MIBFStore,
    alpha: float = 1e-10,
    multi_thresh: int = 2,
    id_col: str = "doc_id",
    text1_col: str = "text1",
    text2_col: str = "text2",
) -> DataFrame:
    """Paired miBF classification (``-e``): both mates' per-ID counts SUM
    and the binomial test runs on the combined frame count — the
    semantics of ``classify(support, seq1, seq2)`` /
    ``filterPairedRead`` (MIBFClassifier.hpp:753-835), where
    ``support.query(itr1, itr2, minCount)`` accumulates one count set
    over both reads.  A null/short mate contributes zero frames.
    """
    return _classify_mibf(
        spark, docs, sketch, alpha, multi_thresh, id_col, [text1_col, text2_col]
    )


_MIBF_SCHEMA = T.StructType(
    [
        T.StructField("m_slots", T.LongType(), False),
        T.StructField("num_hashes", T.IntegerType(), False),
        T.StructField("shingle_w", T.IntegerType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), False),
        T.StructField("seeds", T.ArrayType(T.StringType()), True),
        T.StructField("ids", T.BinaryType(), False),
        T.StructField("hash_family", T.StringType(), True),
        T.StructField("canonical", T.BooleanType(), True),
    ]
)


def save_mibf(spark: SparkSession, sketch: MIBFSketch, path: str) -> None:
    """Persist a miBF as a one-row parquet table (the ``.bf``+INI analog
    of the MI product line — BioBloomMIMaker's output contract)."""
    seeds = None
    if sketch.seeds is not None:
        seeds = ["".join("1" if b else "0" for b in row) for row in sketch.seeds]
    spark.createDataFrame(
        [(sketch.m_slots, sketch.num_hashes, sketch.shingle_w,
          list(sketch.labels), seeds, sketch.serialize(),
          sketch.hash_family, sketch.canonical)],
        _MIBF_SCHEMA,
    ).write.mode("overwrite").parquet(path)


def load_mibf(spark: SparkSession, path: str) -> MIBFSketch:
    r = spark.read.parquet(path).collect()[0].asDict()
    seeds = seed_masks_to_arrays(list(r["seeds"]) if r["seeds"] else None,
                                 int(r["shingle_w"]))
    return MIBFSketch.deserialize(
        bytes(r["ids"]), int(r["m_slots"]), int(r["num_hashes"]),
        int(r["shingle_w"]), list(r["labels"]), seeds, copy=True,
        # pre-round-4 saves carry no family columns → poly, non-canonical
        hash_family=str(r.get("hash_family") or "poly"),
        canonical=bool(r.get("canonical") or False),
    )


def mibf_summarize(result: DataFrame) -> DataFrame:
    """Per-label assignment summary — the MI ``_summary.tsv`` analog
    (ResultsManager.updateSummaryData over signifResults)."""
    return (
        result.groupBy("assigned")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("n_frames").alias("avg_frames"))
        .orderBy("assigned")
    )
