"""Filter construction — the BioBloomMaker job, Spark-native.

Reference lifecycle (/root/reference/BioBloomMaker/BioBloomMaker.cpp:
110-543, traced in SURVEY.md §3.1): size the filter from a counting
pre-pass, then insert every k-mer of every reference sequence, then store
bitmap + metadata.  Single machine, OpenMP threads over a serialized
reader.

Spark lifecycle here:

1. **Sparse partial pass** — ONE zero-shuffle ``mapInPandas`` over the
   corpus: each task shingles its own documents and emits, per filter key,
   its unique frame hashes split into S hash-prefix slices (plus one row
   with the doc/frame counters and the distinct-frame HLL).  The build
   emits Bloom bitmaps plus that HLL only; per-key count-min, t-digest and
   KLL sketches are ``sketch_agg.sketch_by_key``'s job.
   No sizing pre-scan: the reference's calcExpectedEntries counts every
   k-mer occurrence (BloomFilterGenerator.h:108-141) and that exact count
   rides along per slice, so sizing happens where the data already is.
2. **Segmented merge** — one reduce group per (key, slice): sorted-set
   union of the slice's hash blobs, slice bitmap sized from the slice's
   own insert total (published formulas, BloomFilterInfo.h:57-76),
   sequential fastrange + reduceat-OR scatter.  Merge parallelism is
   keys × S; no single-reducer 10^7-hash sort/scatter hotspot.
3. **Assembly** — one row per filter: memcpy the S slices into the final
   bitmap, compute registry stats, attach the slice word-offset table
   (storeFilter/printInfoFile analog, BloomFilterGenerator.cpp:71,
   BloomFilterInfo.cpp:81-116); per-partition lineage rows make a killed
   job resume from completed partitions (SURVEY.md §7.3).

Stages 2 and 3 are each one exchange plus one sorted ``mapInPandas`` walk
(``_sorted_map``) that finds group boundaries with numpy and runs the
group kernel per boundary run — not a per-group ``applyInPandas``, whose
Arrow/pandas round trip per group dominated many-filter builds.

At 100 TB: the corpus is read once and never shuffled; everything that
moves is sketch-sized.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import fingerprint, resume_partials, skip_done, write_lineage
from ..config import BloomParams, BuildConfig
from ..functions.text import batch_frames
from ..sketch import (
    BloomSketch,
    HLLSketch,
    approx_fpr,
    blocked_size_bits,
    optimal_size_bits,
    resolve_block_layout,
)
from ..sources.tables import (
    PARTIAL_SCHEMA,
    REGISTRY_LAYOUT_VERSION,
    REGISTRY_SCHEMA,
)

__all__ = ["size_filters", "build_filters", "load_registry", "merge_registries"]

_HLL_P = 14


#: every whitespace codepoint Python's str.split() honors (ASCII + unicode
#: spaces) — the translate() charset for the token-count upper bound
_WS_CHARS = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def frames_upper_bound_col(text_col: str, shingle_w: int):
    """JVM column: upper bound on a doc's shingle-frame count, by
    *whitespace character* counting — no array allocation (a regex-split
    agg cost more than the whole partial build on large corpora, and a
    `\\s` regexp_replace measured 12 s of an 87 s build; translate() is
    non-regex and ~free).  tokenize() splits on any whitespace run and
    tokens <= whitespace chars + 1 always (a run of j ws chars separates
    at most one boundary but counts j), so this is a true upper bound —
    exact for the extractor's single-space output contract.  Overcounting
    only makes a filter conservatively larger, same spirit as the
    reference counting duplicate k-mers (BloomFilterGenerator.h:108-141).
    """
    t = F.trim(F.col(text_col))
    n_tokens_ub = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.translate(t, _WS_CHARS, "")) + 1
    )
    return F.greatest(F.lit(0), n_tokens_ub - F.lit(shingle_w - 1))


def size_filters(
    docs: DataFrame, key_col: str, text_col: str, params: BloomParams
) -> dict[str, dict]:
    """Sizing pre-pass: per filter key → expected entries and (m, h).

    Expected entries = total frames (upper bound on distinct, exactly the
    reference's choice: it counts every k-mer occurrence,
    BloomFilterGenerator.h:108-141 — duplicates only make the filter
    conservatively large).
    """
    frames_ub = frames_upper_bound_col(text_col, params.shingle_w)
    agg = (
        docs.select(key_col, text_col)
        .groupBy(key_col)
        .agg(F.sum(frames_ub).alias("frames"), F.count(F.lit(1)).alias("docs"))
        .collect()
    )
    return {
        str(row[key_col]): {
            "expected_entries": int(row["frames"] or 0),
            "n_docs": int(row["docs"]),
            **_sizing(int(row["frames"] or 0), params),
        }
        for row in agg
    }


def _sizing(n: int, params: BloomParams) -> dict:
    """(m, h, block layout) of one filter sized for ``n`` expected entries
    by the published formulas (BloomFilterInfo.h:57-76), m capped at
    ``params.max_bits``.  ``size_filters`` applies it per key,
    ``progressive_build`` to the frame bound its seed pass sums."""
    h, block_bits = resolve_block_layout(params.fpr, params.num_hashes, params.block_bits)
    if block_bits:
        m = min(blocked_size_bits(n, params.fpr, h, block_bits), params.max_bits)
    else:
        m = min(optimal_size_bits(n, params.fpr, h), params.max_bits)
    return {"m_bits": m, "num_hashes": h, "block_bits": block_bits}


_PARTIAL_COLS = [f.name for f in PARTIAL_SCHEMA.fields]


def _family_kwargs(params: BloomParams) -> dict:
    """BloomSketch kwargs selecting the probe family (native K-M vs the
    published ntHash NTM64 for DNA .bf interop)."""
    if params.hash_family == "nthash":
        return {"hash_family": "nthash", "nt_k": params.shingle_w}
    return {}


def _veto_sketch(subtract: tuple, params: BloomParams) -> BloomSketch:
    """The ``-s`` subtract filter as a probe sketch.  ``subtract`` =
    (bitmap, m_bits, num_hashes[, block_bits[, seg_offsets]]); a frame it
    contains is never inserted (the build and ``progressive_build`` both
    apply it)."""
    return BloomSketch.deserialize(
        subtract[0], subtract[1], subtract[2],
        block_bits=subtract[3] if len(subtract) > 3 else 0,
        seg_offsets=subtract[4] if len(subtract) > 4 else None,
        **_family_kwargs(params),
    )


#: segmented merge width (64-bit blocked layout): each filter's bitmap is
#: built as this many independent hash-prefix slices in parallel, so merge
#: parallelism is filters x S instead of filters.  A power of two.
_MERGE_SEGMENTS = 16


def _seg_layout(params: BloomParams) -> tuple[int, int, int]:
    """(num_hashes, block_bits, S) for the build.
    Hash-prefix segmentation requires the single-word layout (an item's
    whole footprint lives in the word picked by its hash); other layouts
    run with S=1 (one slice = the whole bitmap)."""
    h, bb = resolve_block_layout(params.fpr, params.num_hashes, params.block_bits)
    S = _MERGE_SEGMENTS if bb == 64 else 1
    return h, bb, S


def _pinned_seg_words(meta: dict, S: int) -> np.ndarray:
    """Equal-split per-segment word counts for an externally pinned m
    (builds with the same pinned sizing share one layout, so their bitmaps
    OR-merge, and ``progressive_build``'s driver-side inserts land where a
    rebuild would put them).  Deterministic; every
    segment gets >= 1 word (a zero-width segment would alias its probes
    onto its neighbour's words)."""
    total_words = meta["m_bits"] // 64
    base, rem = divmod(total_words, S)
    return np.asarray(
        [max(1, base + (1 if s < rem else 0)) for s in range(S)], dtype=np.int64
    )


def _seg_slice_bits(n_ins_seg: int, params: BloomParams, h: int, bb: int, S: int) -> int:
    """Sizing for ONE hash-prefix slice from that slice's own (exact,
    duplicate-counting) insert total — the same published formulas as the
    global sizing (BloomFilterInfo.h:57-76), applied per slice.  Hash
    prefixes are uniform, so slices self-balance; the FPR target holds per
    slice and therefore globally."""
    cap = max(64, ((params.max_bits // S) // 64) * 64)
    if bb:
        return min(blocked_size_bits(n_ins_seg, params.fpr, h, bb), cap)
    return min(optimal_size_bits(n_ins_seg, params.fpr, h), cap)


_U48 = np.uint64(1) << np.uint64(48)


def _pack_slice_hashes(u: np.ndarray, base) -> bytes:
    """Sorted unique uint64 slice hashes → ``b"Q"`` 6-byte-delta blob.

    The partials shuffle is the build's one non-scaling resource at fixed
    hardware (BENCH.md round-4 stage decomposition: ~14 s of the 2M-page
    build is core-count-independent byte movement), so spend (scaling) CPU
    to shrink it: deltas of segment-local sorted hashes fit 48 bits
    whenever the slice is reasonably populated (mean delta ≈ 2^58/n), and
    6/8 encoding cuts the exchange 25%.  Sparse slices whose deltas
    overflow 48 bits fall back to the raw ``b"R"`` layout (they are small
    by construction).  Little-endian layout (asserted by the roundtrip
    test); ``base`` = the segment's hash-prefix floor, so the first delta
    is segment-relative."""
    if u.size == 0:
        return b"R"
    d = np.empty(u.size, dtype=np.uint64)
    d[0] = u[0] - np.uint64(base)
    np.subtract(u[1:], u[:-1], out=d[1:])
    if int(d.max()) >= int(_U48):
        return b"R" + u.tobytes()
    six = np.ascontiguousarray(d.astype("<u8")).view(np.uint8).reshape(-1, 8)[:, :6]
    return b"Q" + six.tobytes()


def _unpack_slice_hashes(payload: bytes, base) -> np.ndarray:
    """Inverse of ``_pack_slice_hashes``: ``b"Q"`` delta rows and the raw
    ``b"R"`` rows it writes for sparse slices."""
    tag, body = payload[:1], payload[1:]
    if tag == b"R":
        return np.frombuffer(body, dtype=np.uint64)
    if tag != b"Q":
        raise ValueError(f"unknown slice-hash tag {tag!r}")
    six = np.frombuffer(body, dtype=np.uint8).reshape(-1, 6)
    d = np.zeros((six.shape[0], 8), dtype=np.uint8)
    d[:, :6] = six
    vals = d.reshape(-1).view("<u8").astype(np.uint64)
    np.cumsum(vals, out=vals)
    vals += np.uint64(base)
    return vals


def _build_partition_fn(params: BloomParams, text_col: str, key_col: str,
                        subtract_bits: bytes | None, subtract_meta: tuple | None):
    """mapInPandas kernel: one *input partition* → S sparse slice rows +
    one counter row per key.

    The zero-shuffle build: every task accumulates state for
    every filter key over the documents it already holds (like the
    categorizer holds every filter bitmap, and like the reference's
    threads all inserting into shared filters,
    BloomFilterGenerator.h:156-183).  The corpus never moves; only
    sketch-sized partials do.

    Emitted per key:
    - S slice rows (``seg`` 0..S-1): the partition's *unique frame hashes*
      whose top log2(S) bits equal ``seg`` (delta-packed by
      ``_pack_slice_hashes`` — uniform 64-bit hashes are incompressible to
      zlib, measured 6% shrink for ~0.5 s per task), plus that slice's
      pre-dedup frame count (its sizing input).  No dense bitmap is ever allocated map-side — no
      100s-of-MB page-fault/scatter storms (measured: dense-per-task made
      16 cores *slower* than 4).
    - one counter row (``seg`` -1): doc/frame counters + the distinct-frame
      HLL.  Nothing else: token-frequency and doc-length sketches are
      ``sketch_agg.sketch_by_key``'s.

    No sizing pre-pass feeds this kernel: slice reducers size themselves
    from the exact per-slice counts they receive (the separate corpus
    scan the old flow spent 20-30% of build wall-time on is gone).
    """
    from pyspark import TaskContext

    w = params.shingle_w
    h, bb, S = _seg_layout(params)
    k = S.bit_length() - 1
    shift = np.uint64(64 - k) if k else None

    def fn(batches):
        sub = None
        if subtract_bits is not None:
            sub = _veto_sketch((subtract_bits, *subtract_meta), params)
        hashes_acc: dict[str, list] = {}
        hlls: dict[str, HLLSketch] = {}
        n_docs: dict[str, int] = {}
        seg_counts: dict[str, np.ndarray] = {}
        for pdf in batches:
            for fid, grp in pdf.groupby(key_col):
                fid = str(fid)
                if fid not in hlls:
                    hlls[fid] = HLLSketch(p=_HLL_P)
                    hashes_acc[fid] = []
                    n_docs[fid] = 0
                    seg_counts[fid] = np.zeros(S, dtype=np.int64)
                frames = batch_frames(
                    grp[text_col].to_numpy(), w, canonical=params.canonical,
                    hash_family=params.hash_family,
                )[0]
                if sub is not None and frames.size:
                    frames = frames[~sub.contains_batch(frames)]
                if k:
                    seg_counts[fid] += np.bincount(
                        (frames >> shift).astype(np.int64), minlength=S
                    )
                else:
                    seg_counts[fid][0] += int(frames.size)
                hashes_acc[fid].append(np.unique(frames))
                hlls[fid].update_batch(frames)
                n_docs[fid] += len(grp)
        if not hlls:
            return
        ctx = TaskContext.get()
        bucket = int(ctx.partitionId()) if ctx is not None else 0
        rows = []
        for fid, hll in hlls.items():
            uniq = np.unique(np.concatenate(hashes_acc[fid]))
            counts = seg_counts[fid]
            if k:
                edges = np.arange(1, S, dtype=np.uint64) << shift
                bounds = np.concatenate(([0], np.searchsorted(uniq, edges), [uniq.size]))
            else:
                bounds = np.asarray([0, uniq.size])
            for s in range(S):
                lo, hi = int(bounds[s]), int(bounds[s + 1])
                if hi == lo and counts[s] == 0:
                    continue
                seg_base = (np.uint64(s) << shift) if k else np.uint64(0)
                rows.append((
                    fid, bucket, s, 0, int(counts[s]), 0, 0,
                    _pack_slice_hashes(uniq[lo:hi], seg_base), None,
                ))
            rows.append((
                fid, bucket, -1, n_docs[fid], int(counts.sum()), 0, 0, b"C",
                hll.serialize(),
            ))
        yield pd.DataFrame(rows, columns=_PARTIAL_COLS)

    return fn


def _sorted_map(df: DataFrame, key_cols, group_fn, schema) -> DataFrame:
    """Grouped map as one sorted walk: ``repartition(*key_cols)
    .sortWithinPartitions(*key_cols).mapInPandas``, calling
    ``group_fn(key, pdf)`` (the ``applyInPandas`` kernel contract) once per
    run of equal ``key_cols`` values.

    Same exchange and same in-partition sort as ``groupBy(*key_cols)
    .applyInPandas``, but each task pays one Arrow/pandas round trip per
    batch instead of one per group — at filters x slices small groups the
    per-group round trip, not the kernel, was the stage's cost.  Group
    boundaries come from numpy comparisons of the key columns; a group
    that runs past the end of an Arrow batch is carried into the next, so
    a task holds at most one group plus one batch, like ``applyInPandas``.
    Key values must be non-NaN (NaN never equals itself, so it would split
    its group).
    """
    cols = list(key_cols)

    def run(batches):
        pending: list[pd.DataFrame] = []
        pending_key = None
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            keys = [pdf[c].to_numpy() for c in cols]
            starts = np.zeros(n, dtype=bool)
            for v in keys:
                starts[1:] |= v[1:] != v[:-1]
            first = tuple(v[0] for v in keys)
            starts[0] = not pending or first != pending_key
            cuts = np.flatnonzero(starts).tolist()
            if not cuts:  # the whole batch continues the pending group
                pending.append(pdf)
                continue
            out = []
            if pending:
                if cuts[0] > 0:
                    pending.append(pdf.iloc[: cuts[0]])
                out.append(group_fn(pending_key, pd.concat(pending, ignore_index=True)))
            for a, b in zip(cuts[:-1], cuts[1:]):
                out.append(group_fn(tuple(v[a] for v in keys), pdf.iloc[a:b]))
            pending = [pdf.iloc[cuts[-1]:]]
            pending_key = tuple(v[cuts[-1]] for v in keys)
            if out:
                yield pd.concat(out, ignore_index=True)
        if pending:
            yield group_fn(pending_key, pd.concat(pending, ignore_index=True))

    return (
        df.repartition(*cols).sortWithinPartitions(*cols).mapInPandas(run, schema)
    )


def _seg_reduce_fn(params: BloomParams, pinned: dict | None):
    """Grouped kernel per (filter_id, seg) group (run by ``_sorted_map``).

    ``seg >= 0``: union the group's sorted hash blobs, size the slice from
    the group's exact insert total (or the pinned equal-split), scatter the
    slice bitmap sequentially (monotone fastrange + reduceat-OR — see
    sketch.bloom).  ``seg == -1``: add the counters, merge the HLLs.  All
    groups run in parallel: merge parallelism is filters x S.
    """
    from ..sketch.bloom import or_scatter_sorted, probe_words64
    from ..sketch.hashing import km_probe, mulhigh64

    h, bb, S = _seg_layout(params)
    k = S.bit_length() - 1

    def fn(key, pdf):
        fid, seg = str(key[0]), int(key[1])
        if seg == -1:
            hll = HLLSketch(p=_HLL_P)
            n_docs = n_ins = 0
            for _, row in pdf.iterrows():
                n_docs += int(row["n_docs"])
                n_ins += int(row["n_inserted"])
                if row["hll"] is not None:
                    hll = hll.merge(HLLSketch.deserialize(bytes(row["hll"]), p=_HLL_P))
            return pd.DataFrame(
                [(fid, 0, -1, n_docs, n_ins, 0, 0, b"C", hll.serialize())],
                columns=_PARTIAL_COLS,
            )
        n_ins_seg = int(pdf["n_inserted"].sum())
        seg_base = (np.uint64(seg) << np.uint64(64 - k)) if k else np.uint64(0)
        parts = [
            _unpack_slice_hashes(bytes(p), seg_base) for p in pdf["bitmap"]
        ]
        uniq = np.unique(np.concatenate(parts)) if parts else np.empty(0, np.uint64)
        if pinned is not None:
            m_seg = int(_pinned_seg_words(pinned[fid], S)[seg]) * 64
        else:
            m_seg = _seg_slice_bits(n_ins_seg, params, h, bb, S)
        if bb == 64:
            words = np.zeros(m_seg // 64, dtype=np.uint64)
            if uniq.size:
                h1, h2 = km_probe(uniq)
                local = mulhigh64(h1 << np.uint64(k) if k else h1,
                                  np.uint64(words.size)).astype(np.int64)
                or_scatter_sorted(words, local, probe_words64(h2, h))
            payload = b"S" + words.tobytes()
        else:
            sk = BloomSketch(m_bits=m_seg, num_hashes=h, block_bits=bb,
                             **_family_kwargs(params))
            if uniq.size:
                sk.update_batch(uniq, assume_unique=True)
            payload = b"S" + sk.serialize()
        return pd.DataFrame(
            [(fid, 0, seg, 0, n_ins_seg, int(uniq.size),
              n_ins_seg - int(uniq.size), payload, None)],
            columns=_PARTIAL_COLS,
        )

    return fn


def _assemble_fn(params: BloomParams, pinned: dict | None):
    """Grouped kernel per filter (run by ``_sorted_map``): order the S
    slice bitmaps, memcpy them into the final bitmap, compute registry
    stats, attach the word offsets.  Pure assembly — the heavy lifting
    happened in parallel in the slice reducers."""
    h, bb, S = _seg_layout(params)

    def fn(key, pdf):
        fid = str(key[0])
        comp = pdf[pdf["seg"] == -1].iloc[0]
        slices = {int(r["seg"]): r for _, r in pdf[pdf["seg"] >= 0].iterrows()}
        payloads, n_new = [], 0
        if pinned is not None:
            seg_words = _pinned_seg_words(pinned[fid], S)
        for s in range(S):
            row = slices.get(s)
            if row is not None:
                payloads.append(bytes(row["bitmap"])[1:])
                n_new += int(row["n_new"])
            elif pinned is not None:
                payloads.append(b"\0" * (int(seg_words[s]) * 8))
            else:
                payloads.append(b"\0" * (_seg_slice_bits(0, params, h, bb, S) // 8))
        word_counts = np.asarray([len(p) // 8 for p in payloads], dtype=np.int64)
        offsets = np.concatenate(([0], np.cumsum(word_counts)))
        bitmap = b"".join(payloads)
        m_bits = int(offsets[-1]) * 64
        n_docs, n_ins = int(comp["n_docs"]), int(comp["n_inserted"])
        seg_off = offsets if (bb == 64 and S > 1) else None
        sk = BloomSketch(
            m_bits=m_bits, num_hashes=h,
            bits=np.frombuffer(bitmap, dtype=np.uint8),
            block_bits=bb, seg_offsets=seg_off,
        )
        hll = (
            HLLSketch.deserialize(bytes(comp["hll"]), p=_HLL_P)
            if comp["hll"] is not None
            else HLLSketch(p=_HLL_P)
        )
        expected = pinned[fid]["expected_entries"] if pinned is not None else n_ins
        return pd.DataFrame(
            {
                "filter_id": [fid],
                "layout_version": [REGISTRY_LAYOUT_VERSION],
                "m_bits": [m_bits],
                "num_hashes": [h],
                "block_bits": [bb],
                "shingle_w": [params.shingle_w],
                "canonical": [params.canonical],
                "hash_family": [params.hash_family],
                "target_fpr": [params.fpr],
                "expected_entries": [int(expected)],
                "n_docs": [n_docs],
                "n_inserted": [n_ins],
                # slices partition the hash space → Σ per-slice distinct is
                # the EXACT distinct count (improves on the reference's
                # scan-order counter, SURVEY §7.4)
                "num_entries": [n_new],
                "redundant_entries": [n_ins - n_new],
                "approx_fpr": [approx_fpr(m_bits, n_new, h)],
                "occupancy_fpr": [sk.fpr_from_occupancy()],
                "distinct_frames_hll": [hll.estimate()],
                "seg_offsets": [offsets.tobytes() if seg_off is not None else None],
                "bitmap": [bitmap],
                "hll": [comp["hll"]],
            }
        )[[f.name for f in REGISTRY_SCHEMA.fields]]

    return fn


def build_filters(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    params: BloomParams | None = None,
    build: BuildConfig | None = None,
    registry_path: str | None = None,
    partials_path: str | None = None,
    job_id: str | None = None,
    subtract: "tuple[bytes, int, int] | None" = None,
    keys: Iterable[str] | None = None,
    expected_sizing: dict | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Build one Bloom filter per value of key_col.

    Returns the registry DataFrame (one row per filter): the bitmap, its
    sizing and counters, and the distinct-frame HLL.  Per-key count-min,
    t-digest and KLL sketches come from ``sketch_agg.sketch_by_key``.  When
    ``partials_path`` is set, per-partition partials are checkpointed there
    and a re-invocation over the same input resumes, recomputing only the
    missing input partitions — the north rule's mid-build resumability.
    The input's identity is ``snapshot_id`` or its file listing; with
    neither the build never resumes (``checkpoint`` holds the rule).
    ``subtract`` = (bitmap_bytes, m_bits, num_hashes[, block_bits]) veto filter.
    ``id_col`` is accepted for call-site compatibility; the build does not
    read it (documents are never keyed or shuffled by id).
    """
    from ..session import ensure_workers

    ensure_workers(spark)
    params = params or BloomParams()
    build = build or BuildConfig()

    if keys is not None:
        keys = list(keys)
        docs = docs.filter(F.col(key_col).isin(keys))
    docs = docs.filter(F.col(key_col).isNotNull() & F.col(text_col).isNotNull())

    # expected_sizing pins (m, h) externally — builds sharing a pinned
    # sizing share one layout (mergeable registries; progressive_build's
    # seed build fixes the layout its later inserts go into)
    pinned = expected_sizing

    sub_bits, sub_meta = (
        (
            subtract[0],
            (
                subtract[1],
                subtract[2],
                subtract[3] if len(subtract) > 3 else 0,
                subtract[4] if len(subtract) > 4 else None,  # seg_offsets
            ),
        )
        if subtract
        else (None, None)
    )

    # --- stage 1: sparse partials, zero shuffle ---------------------------
    # every task accumulates sparse hash partials for every key over the
    # documents it already holds — the corpus never moves, no sizing
    # pre-scan (slices self-size at reduce time from exact counts)
    base = docs.select(
        F.col(key_col).cast("string").alias("filter_id"),
        F.col(text_col).alias(text_col),
    )
    if build.coalesce_input:
        base = base.coalesce(build.coalesce_input)
    part_fn = _build_partition_fn(params, text_col, "filter_id", sub_bits, sub_meta)

    if partials_path:
        # bucket = source partition id of ``base``: the fingerprint covers
        # the input, its partition count and every parameter that shapes
        # partial content, so a resume recomputes only missing buckets
        fp = fingerprint(
            base, snapshot_id, key_col, text_col, params, build,
            sorted(keys) if keys is not None else None,
            sorted(expected_sizing.items()) if expected_sizing else None,
            sub_bits, sub_meta,
        )
        partials = resume_partials(
            spark, partials_path, fp, "bucket",
            lambda done: base.mapInPandas(skip_done(part_fn, done), schema=PARTIAL_SCHEMA),
        )
        # the counter rows carry each (filter, bucket)'s counters once
        write_lineage(
            partials.filter(F.col("seg") == -1), partials_path, job_id,
            "partial_build", ("filter_id", "bucket"), ("n_docs", "n_inserted"),
        )
    else:
        partials = base.mapInPandas(part_fn, schema=PARTIAL_SCHEMA)

    # --- stages 2-3: segmented merge, then per-filter assembly -------------
    # one reduce group per (filter, hash-prefix slice) — merge parallelism
    # is filters x S, each group a small sorted-set union + one sequential
    # slice scatter; the per-filter assembly is memcpy + stats.  The old
    # shape (one reducer per filter doing a 10^7-hash sort + random
    # scatter) was the build's non-scaling bottleneck (BENCH.md round-2
    # profile).  Both run as one sorted walk per task (``_sorted_map``):
    # a per-group applyInPandas paid an Arrow/pandas round trip per group,
    # ~10 ms each, which at filters x S groups outweighed the kernels.
    reduced = _sorted_map(
        partials, ("filter_id", "seg"), _seg_reduce_fn(params, pinned),
        PARTIAL_SCHEMA,
    )
    registry = _sorted_map(
        reduced, ("filter_id",), _assemble_fn(params, pinned),
        REGISTRY_SCHEMA,
    )

    if registry_path:
        registry.write.mode("overwrite").parquet(registry_path)
        registry = spark.read.parquet(registry_path)
    return registry


#: registry columns that must agree for two builds of the same filter_id
#: to be OR-mergeable (same probe layout = same bit positions)
_MERGE_COMPAT_COLS = (
    "layout_version", "m_bits", "num_hashes", "block_bits", "shingle_w",
    "canonical", "hash_family", "seg_offsets",
)


def _merge_registry_fn():
    """applyInPandas kernel: OR-merge all registry rows of one filter_id
    (from k unioned registries) into one row."""

    def fn(key, pdf):
        cols = [f.name for f in REGISTRY_SCHEMA.fields]
        if len(pdf) == 1:
            return pdf[cols]
        fid = str(key[0])
        first = pdf.iloc[0]
        for col in _MERGE_COMPAT_COLS:
            vals = {
                bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else v
                for v in pdf[col]
            }
            if len(vals) > 1:
                raise ValueError(
                    f"registry rows for {fid!r} disagree on {col} "
                    f"({sorted(map(str, vals))[:4]}) — filters built with "
                    "different probe layouts cannot be OR-merged; rebuild "
                    "with pinned expected_sizing"
                )
        m, h = int(first["m_bits"]), int(first["num_hashes"])
        bb = int(first["block_bits"])
        bits = np.zeros(m // 8, dtype=np.uint8)
        hll = HLLSketch(p=_HLL_P)
        n_docs = n_ins = sum_entries = max_entries = 0
        for _, row in pdf.iterrows():
            bits |= np.frombuffer(bytes(row["bitmap"]), dtype=np.uint8)
            n_docs += int(row["n_docs"])
            n_ins += int(row["n_inserted"])
            ne = int(row["num_entries"])
            sum_entries += ne
            max_entries = max(max_entries, ne)
            if row["hll"] is not None:
                hll = hll.merge(HLLSketch.deserialize(bytes(row["hll"]), p=_HLL_P))
        so = first["seg_offsets"]
        seg_off = np.frombuffer(bytes(so), dtype=np.int64) if so is not None else None
        sk = BloomSketch(
            m_bits=m, num_hashes=h, bits=bits, block_bits=bb, seg_offsets=seg_off
        )
        # distinct entries across parts is not exactly knowable post-merge
        # (parts may share hashes): clamp the HLL estimate into its hard
        # bounds [max part, sum of parts]
        est = hll.estimate()
        num_entries = int(min(sum_entries, max(max_entries, round(est))))
        out = first.to_frame().T.copy()
        out["bitmap"] = [bits.tobytes()]
        out["n_docs"] = [n_docs]
        out["n_inserted"] = [n_ins]
        out["num_entries"] = [num_entries]
        out["redundant_entries"] = [n_ins - num_entries]
        out["approx_fpr"] = [approx_fpr(m, num_entries, h)]
        out["occupancy_fpr"] = [sk.fpr_from_occupancy()]
        out["distinct_frames_hll"] = [est]
        out["hll"] = [hll.serialize()]
        return out[cols]

    return fn


def merge_registries(*registries: DataFrame) -> DataFrame:
    """OR-merge k filter registries into one (the incremental-build /
    cross-corpus union operator, and the micro-batch reducer behind
    ``streaming.build_stream``).

    Rows with the same ``filter_id`` merge associatively: bitmaps OR
    (Bloom union — the reference's filter-union semantics over identical
    (m, h) layouts), the distinct-frame HLLs merge (register max), counters
    add.  Each input is projected onto ``REGISTRY_SCHEMA``'s columns
    first, so a registry written when the build also stored count-min,
    t-digest and KLL columns still merges with a current one.  Layout
    columns must agree per filter_id (build the parts with the same pinned
    ``expected_sizing``); a mismatch raises rather than silently probing
    wrong positions.  Filter ids present in only some registries pass
    through unchanged.

    Distributed: one union + one groupBy(filter_id) applyInPandas —
    bitmap-sized rows shuffle once, nothing gathers on the driver.
    """
    if not registries:
        raise ValueError("merge_registries needs at least one registry")
    cols = [f.name for f in REGISTRY_SCHEMA.fields]
    uni = registries[0].select(*cols)
    for r in registries[1:]:
        uni = uni.unionByName(r.select(*cols))
    return uni.groupBy("filter_id").applyInPandas(
        _merge_registry_fn(), schema=REGISTRY_SCHEMA
    )


def load_registry(registry_df: DataFrame, order: Iterable[str] | None = None) -> list[dict]:
    """Registry rows → driver-side list ready for broadcast.

    Filter order matters (ordered mode = CLI order,
    /root/reference/BioBloomClassifier.cpp:950-971); default is sorted
    filter_id for determinism.
    """
    rows = {r["filter_id"]: r.asDict() for r in registry_df.collect()}
    ids = list(order) if order else sorted(rows)
    out = []
    for fid in ids:
        r = rows[fid]
        lv = r.get("layout_version")
        if lv is not None and int(lv) != REGISTRY_LAYOUT_VERSION:
            raise ValueError(
                f"registry row '{fid}' has probe-layout version {lv}; this "
                f"engine probes layout {REGISTRY_LAYOUT_VERSION} — rebuild "
                "the filter (stale registries return wrong membership)"
            )
        if lv is None:
            # null OR absent: a schema-enforced read of an old registry
            # materializes the column as null, so keying on dict presence
            # would silently treat stale rows as current layout
            import warnings

            warnings.warn(
                f"registry row '{fid}' predates layout versioning; probe "
                "results are only valid if it was built by this engine "
                f"version (layout {REGISTRY_LAYOUT_VERSION})",
                stacklevel=2,
            )
        so = r.get("seg_offsets")
        out.append(
            {
                "filter_id": fid,
                "m_bits": int(r["m_bits"]),
                "num_hashes": int(r["num_hashes"]),
                "block_bits": int(r.get("block_bits", 0)),
                "shingle_w": int(r["shingle_w"]),
                "canonical": bool(r.get("canonical") or False),
                "hash_family": str(r.get("hash_family") or "poly"),
                "bitmap": bytes(r["bitmap"]),
                "seg_offsets": (
                    np.frombuffer(bytes(so), dtype=np.int64) if so is not None else None
                ),
                # per-filter FPR used by the binomial kernel
                "fpr": float(max(r["occupancy_fpr"], 1e-300)),
                "target_fpr": float(r["target_fpr"]),
                # sizing input and distinct inserted frames, carried so a
                # re-export (cli maker -r) writes the real counts
                "expected_entries": int(r.get("expected_entries") or 0),
                "num_entries": int(r.get("num_entries") or 0),
            }
        )
    return out
