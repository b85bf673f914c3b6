"""Vectorized scoring kernels — the SeqEval layer.

Re-expresses /root/reference/Common/SeqEval.h (568 LoC of scalar C++ with
early-exit duplication) as segmented numpy reductions over a *flattened*
batch: all documents' frame-hit booleans concatenated into one array with a
doc-offset index.  One membership probe + a handful of vector ops scores an
entire Arrow batch against one filter; no per-row Python.

Semantics parity map (kernel → reference):
- simple      evalSimple/evalSimpleScore  SeqEval.h:37-114,334-371
              first hit of a streak +0.5, subsequent hits +1.0,
              normalized by frame count (SeqEval.h:28-35)
- harmonic    evalHarmonic                SeqEval.h:116-193
              j-th hit of a streak adds 1 - 1/(1+j-1)  (run of L → L - H_L)
- binomial    evalBinomial                SeqEval.h:199-290
              match iff hits >= min_count(frames, filter_fpr, alpha)
- minmatchlen evalMinMatchLen             SeqEval.h:295-332
              match iff a hit-run covers >= N tokens (run L covers L+w-1)

The early-exit branches of the reference are dropped: vectorized evaluation
is exhaustive, and the exhaustive score crosses the same threshold, so the
*decision* is identical (SURVEY.md §4).  The sensitivity-reducing
skip-ahead heuristic (SeqEval.h:94-110) is not applied:
``score_with_skip_reference`` replicates it as a reference used only by
tests, and it is the only reader of ``streak_threshold``.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import ScoringConfig
from ..functions.stats import log_binom_sf, min_count

__all__ = ["SegmentedBatch", "score_batch", "score_with_skip_reference"]


class SegmentedBatch:
    """A batch of documents flattened into one frame-hash array.

    ``offsets`` has length n_docs+1; doc i owns ``hashes[offsets[i]:offsets[i+1]]``.
    Docs with zero frames (shorter than the shingle window) are naturally
    empty segments and score 0 / no-match (the read-shorter-than-k guard,
    SeqEval.h:221-223).
    """

    __slots__ = ("hashes", "offsets", "mask")

    def __init__(self, hashes: np.ndarray, offsets: np.ndarray, mask: np.ndarray | None = None):
        self.hashes = hashes
        self.offsets = np.asarray(offsets, dtype=np.int64)
        self.mask = mask  # optional bool array, True = dust-masked frame

    @classmethod
    def from_hash_arrays(cls, arrays: list[np.ndarray], masks: list[np.ndarray] | None = None):
        offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
        np.cumsum([a.size for a in arrays], out=offsets[1:])
        flat = (
            np.concatenate(arrays) if arrays else np.empty(0, dtype=np.uint64)
        )
        mask = None
        if masks is not None:
            mask = np.concatenate(masks) if masks else np.empty(0, dtype=bool)
        return cls(flat, offsets, mask)

    @property
    def n_docs(self) -> int:
        return self.offsets.size - 1

    def frames(self) -> np.ndarray:
        return np.diff(self.offsets)


def _segment_ids(offsets: np.ndarray, n: int) -> np.ndarray:
    """Map flat index → doc index."""
    return np.searchsorted(offsets, np.arange(n), side="right") - 1


def _seg_sum(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-doc sums handling empty segments (reduceat misbehaves on them)."""
    out = np.zeros(offsets.size - 1, dtype=np.float64)
    nonzero = np.diff(offsets) > 0
    if values.size:
        sums = np.add.reduceat(values.astype(np.float64), offsets[:-1][nonzero])
        out[nonzero] = sums
    return out


def _runs(hit: np.ndarray, offsets: np.ndarray):
    """Run-start flags, run lengths, and run→doc mapping, with runs broken
    at document boundaries."""
    n = hit.size
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return np.zeros(0, dtype=bool), e, e
    prev = np.empty(n, dtype=bool)
    prev[0] = False
    prev[1:] = hit[:-1]
    prev[offsets[:-1][offsets[:-1] < n]] = False  # boundary reset
    starts = hit & ~prev
    nxt = np.empty(n, dtype=bool)
    nxt[-1] = False
    nxt[:-1] = hit[1:]
    ends_at = offsets[1:] - 1
    nxt[ends_at[(ends_at >= 0) & (ends_at < n)]] = False
    ends = hit & ~nxt
    s_idx = np.flatnonzero(starts)
    e_idx = np.flatnonzero(ends)
    run_len = e_idx - s_idx + 1
    run_doc = np.searchsorted(offsets, s_idx, side="right") - 1
    return starts, run_len, run_doc


from functools import lru_cache


@lru_cache(maxsize=1 << 20)
def _binom_score(c: int, n: int, p: float) -> float:
    """-10*log10 P(X>=c) capped at 1000 (evalBinomialScore overflow guard)."""
    lp = log_binom_sf(c, n, p)
    return min(1000.0, -10.0 * lp / math.log(10.0)) if lp > -math.inf else 1000.0


_HARMONIC_CUM = np.concatenate([[0.0], np.cumsum(1.0 / np.arange(1, 4097))])


def _harmonic_numbers(lengths: np.ndarray) -> np.ndarray:
    global _HARMONIC_CUM
    mx = int(lengths.max()) if lengths.size else 0
    if mx >= _HARMONIC_CUM.size:
        extra = 1.0 / np.arange(_HARMONIC_CUM.size, mx + 1)
        _HARMONIC_CUM = np.concatenate([_HARMONIC_CUM, _HARMONIC_CUM[-1] + np.cumsum(extra)])
    return _HARMONIC_CUM[lengths]


def score_batch(
    hit: np.ndarray,
    batch: SegmentedBatch,
    cfg: ScoringConfig,
    filter_fpr: float,
    shingle_w: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(scores, matches) per document for one filter.

    ``hit`` is the membership bool per flat frame (dust-mask already
    applied by the caller: masked frames forced to miss, SeqEval.h:496-508).
    Scores are normalized to [0,1] except binomial mode, which reports
    ``-10*log10 P`` capped at 1000 like the reference's score output
    (SeqEval.h:overflow guard in evalBinomialScore).
    """
    offsets = batch.offsets
    frames = np.diff(offsets).astype(np.float64)
    nonzero = frames > 0
    safe_frames = np.where(nonzero, frames, 1.0)
    hits = _seg_sum(hit, offsets)

    if cfg.method == "simple":
        _, run_len, run_doc = _runs(hit, offsets)
        n_runs = np.zeros(offsets.size - 1)
        np.add.at(n_runs, run_doc, 1.0)
        raw = hits - 0.5 * n_runs
        scores = np.where(nonzero, raw / safe_frames, 0.0)
        matches = nonzero & (scores >= cfg.threshold)
    elif cfg.method == "harmonic":
        _, run_len, run_doc = _runs(hit, offsets)
        h_l = _harmonic_numbers(run_len)
        penalty = np.zeros(offsets.size - 1)
        np.add.at(penalty, run_doc, h_l)
        raw = hits - penalty
        scores = np.where(nonzero, raw / safe_frames, 0.0)
        matches = nonzero & (scores >= cfg.threshold)
    elif cfg.method == "minmatchlen":
        _, run_len, run_doc = _runs(hit, offsets)
        longest = np.zeros(offsets.size - 1)
        if run_len.size:
            np.maximum.at(longest, run_doc, run_len.astype(np.float64))
        covered = np.where(longest > 0, longest + (shingle_w - 1), 0.0)
        matches = nonzero & (covered >= cfg.min_match_len)
        scores = np.where(nonzero, covered / (frames + (shingle_w - 1)), 0.0)
    elif cfg.method == "binomial":
        uniq_frames = np.unique(frames[nonzero].astype(np.int64))
        thresh_map = {int(f): min_count(int(f), filter_fpr, cfg.min_fpr) for f in uniq_frames}
        thresh = np.asarray(
            [thresh_map.get(int(f), 1) if f > 0 else 1 for f in frames], dtype=np.float64
        )
        matches = nonzero & (hits >= thresh)
        # score = -10*log10 P(X >= hits) (evalBinomialScore, SeqEval.h:437-491)
        # docs cluster on few (hits, frames) pairs → evaluate the beta CF
        # once per unique pair (memoized across batches), gather back
        scores = np.zeros(offsets.size - 1)
        sel = np.flatnonzero(nonzero & (hits > 0))
        if sel.size:
            pairs = hits[sel].astype(np.int64) * np.int64(1 << 32) + frames[sel].astype(np.int64)
            uniq, inv = np.unique(pairs, return_inverse=True)
            vals = np.fromiter(
                (_binom_score(int(p) >> 32, int(p) & 0xFFFFFFFF, filter_fpr) for p in uniq),
                count=uniq.size,
                dtype=np.float64,
            )
            scores[sel] = vals[inv]
    else:  # pragma: no cover
        raise ValueError(cfg.method)
    return scores.astype(np.float64), matches


def score_with_skip_reference(
    hit: np.ndarray, frames: int, cfg: ScoringConfig, shingle_w: int = 3
) -> float:
    """Reference-parity SIMPLE scorer replicating the skip-ahead heuristic.

    Scalar transcription of the semantics of evalSimple's miss branch
    (SeqEval.h:94-110): after a miss while on a streak >= streak_threshold,
    skip ahead ``kmerSize`` frames (``skipEnd = itr.pos() + kmerSize``) —
    the shingle window w is the k analog here — with the skipped frames
    never probed (they count only toward the anti-score early exit, which
    exhaustive scoring drops).  Used in differential tests only — the
    production path is the exhaustive vectorized kernel above.
    """
    score = 0.0
    streak = 0
    i = 0
    while i < frames:
        if hit[i]:
            score += 0.5 if streak == 0 else 1.0
            streak += 1
            i += 1
        else:
            if streak >= cfg.streak_threshold:
                i += shingle_w  # skipEnd = pos + kmerSize (SeqEval.h:103)
            else:
                i += 1
            streak = 0
    return score / frames if frames else 0.0
