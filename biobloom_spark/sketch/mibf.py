"""Multi-index Bloom filter (miBF) — the keyed sketch behind
BioBloomMIMaker / BioBloomMICategorizer, re-expressed for distributed
construction.

Reference semantics (submodule MIBloomFilter.hpp is absent from the
checkout; semantics reconstructed from call sites and docs):
- one ID per slot: a slot array of ``uint16`` label IDs (IDs 1..32767,
  0 = empty, high bit = saturation), max 32768 labels
  (/root/reference/Doc/MultiIndex.md:165, Common/Options.h:11,
  BioBloomMaker/MIBFGen.hpp:112-118);
- 3-pass population (MIBFGen.hpp:131-309): occupied-bit pass, ID
  insertion with "fair random" collision ownership (Doc/MultiIndex.md FAQ:
  a slot contested by several labels is randomly assigned to one), then a
  saturation pass marking the slots of elements that lost ALL their
  positions;
- sizing by target occupancy (default 0.5, MIBFGen ``-b``):
  ``m = -n*h / ln(1 - occ)`` from the standard Bloom load formula;
- spaced-seed hashing (stHashIterator): h = number of seeds, each seed a
  binary mask over the k window — miss-tolerant matching.  Webtext analog:
  skip-gram masks over the w-token shingle window.

Distributed re-expression: "fair random" ownership becomes a
*deterministic associative merge* — every (slot, label) claim carries a
pseudo-random 64-bit tiebreak ``splitmix64(slot ⊕ label)`` and the
slot's owner is the claim with the minimum tiebreak.  min() is
associative/commutative/idempotent, so partial claim sets built per
partition merge to the same owner array regardless of partitioning or
merge order — the distributed equivalent of the reference's
single-machine random assignment, with the same fairness (the winner is
uniform among claimants) and full determinism on top.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from .hashing import _MASK64, POLY_BASE, km_probe, splitmix64

_U64 = np.uint64
SAT_BIT = np.uint16(0x8000)
ID_MASK = np.uint16(0x7FFF)
MAX_LABELS = 32767  # uint16 minus saturation bit (Doc/MultiIndex.md:165)

# ownership tiebreak: high 49 bits pseudo-random, low 15 bits the label
# index — a deterministic total order whose winner is uniform among
# claimants (collision fairness, Doc/MultiIndex.md FAQ) with no possibility
# of an ambiguous tie.
_TIE_LABEL_MASK = _U64(0x7FFF)
_TIE_RAND_MASK = _U64(0xFFFFFFFFFFFF8000)

__all__ = [
    "MIBFSketch",
    "MIBFClaims",
    "mibf_size_slots",
    "seed_masks_to_arrays",
    "flat_seed_hashes",
    "SAT_BIT",
    "ID_MASK",
    "MAX_LABELS",
]


def mibf_size_slots(n_entries: int, num_hashes: int, occupancy: float = 0.5) -> int:
    """Slots for a target occupancy: m = ceil(-n*h / ln(1-occ)) (the Bloom
    load identity occ = 1 - exp(-n*h/m); MIBFGen ``-b`` default 0.5)."""
    n = max(1, int(n_entries))
    m = -float(n) * num_hashes / math.log(1.0 - occupancy)
    return max(64, int(math.ceil(m)))


def seed_masks_to_arrays(seeds: list[str] | None, w: int) -> np.ndarray | None:
    """Parse seed strings of '1'/'0' (length w) → bool matrix (h, w).

    The webtext analog of spaced seeds (MIBloomFilter::parseSeedString,
    called at MIBFGen.hpp:139): mask positions of the w-token shingle
    window that participate in the hash — a skip-gram.  A '0' position is
    ignored, so a corrupted token only breaks the seeds covering it.
    """
    if not seeds:
        return None
    arr = np.zeros((len(seeds), w), dtype=bool)
    for i, s in enumerate(seeds):
        if len(s) != w or set(s) - {"0", "1"}:
            raise ValueError(f"seed {s!r} must be a {w}-char string of 0/1")
        arr[i] = np.frombuffer(s.encode(), dtype=np.uint8) == ord("1")
        if not arr[i].any():
            raise ValueError("a seed must cover at least one position")
    return arr


def flat_seed_hashes(
    token_hashes: np.ndarray, token_counts: np.ndarray, w: int, seeds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-seed skip-gram hashes over a flat token batch.

    Returns (hashes[h, n_frames], frame_offsets) where row i holds the
    polynomial hash of the seed-i-masked positions of every frame —
    the stHashIterator analog (one hash value per seed per frame,
    /root/reference/Common/SeqEval.h uses them as the h probe values).
    Each seed is salted so identical masked content under different seeds
    probes different slots.
    """
    token_counts = np.asarray(token_counts, dtype=np.int64)
    n = token_hashes.shape[0]
    frames = np.maximum(0, token_counts - (w - 1))
    offsets = np.zeros(token_counts.size + 1, dtype=np.int64)
    np.cumsum(frames, out=offsets[1:])
    total = int(offsets[-1])
    h = seeds.shape[0]
    if total == 0 or n < w:
        return np.empty((h, 0), dtype=np.uint64), offsets
    # valid frame-start flat indices (same ramp trick as flat_shingle_hashes)
    tok_start = np.zeros(token_counts.size, dtype=np.int64)
    np.cumsum(token_counts[:-1], out=tok_start[1:])
    doc_of_frame = np.repeat(np.arange(token_counts.size), frames)
    within = np.arange(total) - np.repeat(offsets[:-1], frames)
    valid = tok_start[doc_of_frame] + within
    out = np.empty((h, total), dtype=np.uint64)
    for i in range(h):
        acc = np.full(total, splitmix64(np.asarray([i + 1], dtype=np.uint64))[0])
        for j in range(w):
            if seeds[i, j]:
                acc = (acc * POLY_BASE + token_hashes[valid + j]) & _MASK64
        out[i] = splitmix64(acc)
    return out, offsets


def _probe_positions(frame_hashes: np.ndarray, num_hashes: int, m_slots: int) -> np.ndarray:
    """K-M probe positions (num_hashes, n) for k-mer-mode miBF (no seeds)."""
    h1, h2 = km_probe(frame_hashes)
    m = np.int64(m_slots)
    idx = (h1 % _U64(m_slots)).astype(np.int64)
    step = (h2 % _U64(m_slots)).astype(np.int64)
    out = np.empty((num_hashes, frame_hashes.size), dtype=np.int64)
    out[0] = idx
    for i in range(1, num_hashes):
        idx = idx + step
        idx[idx >= m] -= m
        out[i] = idx
    return out


def seed_positions(seed_hash_rows: np.ndarray, m_slots: int) -> np.ndarray:
    """Seed-mode probe positions: one per seed (row) per frame."""
    return (seed_hash_rows % _U64(m_slots)).astype(np.int64)


def claim_ties(slots: np.ndarray, label_idx: int) -> np.ndarray:
    """Deterministic ownership tiebreaks for one label's slot claims."""
    r = splitmix64(slots.astype(np.uint64) ^ splitmix64(np.full(slots.size, label_idx, dtype=np.uint64)))
    return (r & _TIE_RAND_MASK) | _U64(label_idx)


def _recompute_ties(slots: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """Elementwise ``claim_ties`` for mixed labels — the tie is a pure
    function of (slot, label), which is what lets the claims wire format
    drop the 8-byte tie column entirely."""
    lab64 = labels.astype(np.uint64)
    r = splitmix64(slots.astype(np.uint64) ^ splitmix64(lab64))
    return (r & _TIE_RAND_MASK) | lab64


@dataclass
class MIBFClaims:
    """Sparse, mergeable ownership-claim set: the build-partial state.

    ``slots``/``ties`` are parallel arrays sorted by (slot, tie) holding
    one entry per distinct (slot, claiming label) — the tie is a pure
    function of (slot, label), so (slot, tie) dedup IS (slot, label)
    dedup.  Merging claim sets is a sorted pair-union — associative,
    commutative, idempotent (the distributed analog of MIBFGen's
    insertMIBF pass).  ``winners()`` resolves ownership (min tie per
    slot); ``lost_pairs()`` yields every (slot, label) claim that LOST
    its slot — globally correct even on a partition-local merge, because
    a locally-losing tie can never be the global minimum (round-6
    optimization: the saturation pass needs only these lost pairs, not
    the resolved id array).
    """

    slots: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    ties: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.uint64))

    @classmethod
    def from_positions(cls, positions: np.ndarray, label_idx: int) -> "MIBFClaims":
        """positions: any-shape int64 slot indices claimed by one label."""
        flat = np.unique(positions.ravel())
        return cls(flat, claim_ties(flat, label_idx))

    def merge(self, other: "MIBFClaims") -> "MIBFClaims":
        return MIBFClaims.merge_all([self, other])

    @classmethod
    def merge_all(cls, parts: list["MIBFClaims"]) -> "MIBFClaims":
        """K-way merge in ONE sort.

        Merging partials pairwise re-sorts the accumulated set on every
        step — O(K·N log N) across K partials, the superlinear wall the
        round-3 profiling hit (64 sequential reducer merges, plus one
        merge per batch×label group map-side).  One concatenate + one
        lexsort + one first-per-pair pass is O(ΣN log ΣN) total.  Dedup
        is per (slot, tie) — i.e. per (slot, label) — so losing labels'
        claims survive the merge and ``lost_pairs()`` stays globally
        complete; ownership resolution (``winners()``: min tie per slot)
        is unchanged by the extra entries.
        """
        parts = [p for p in parts if p.slots.size]
        if not parts:
            return cls()
        if len(parts) == 1:
            return parts[0]
        allslots = np.concatenate([p.slots for p in parts])
        allties = np.concatenate([p.ties for p in parts])
        order = np.lexsort((allties, allslots))
        allslots, allties = allslots[order], allties[order]
        first = np.empty(allslots.size, dtype=bool)
        first[0] = True
        first[1:] = (allslots[1:] != allslots[:-1]) | (allties[1:] != allties[:-1])
        return cls(allslots[first], allties[first])

    def _first_per_slot(self) -> np.ndarray:
        """Bool mask: True at the minimum-tie entry of each slot group
        (entries are sorted by (slot, tie))."""
        first = np.empty(self.slots.size, dtype=bool)
        if self.slots.size:
            first[0] = True
            first[1:] = self.slots[1:] != self.slots[:-1]
        return first

    def winners(self) -> "MIBFClaims":
        """Ownership resolution: ONE entry per slot (the minimum tie)."""
        first = self._first_per_slot()
        return MIBFClaims(self.slots[first], self.ties[first])

    def lost_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """(slots, labels) of every claim that lost its slot's tiebreak —
        the complete global set when called on fully-merged claims.  An
        element (frame, label) is saturated iff ALL its probe slots
        appear here under its label (every probed slot was claimed, so
        'not owned by the label' == 'lost by the label')."""
        lost = ~self._first_per_slot()
        return self.slots[lost], (self.ties[lost] & _TIE_LABEL_MASK).astype(np.uint16)

    def owners(self) -> np.ndarray:
        """Label index per entry (uint16, parallel to ``slots``).  On a
        ``winners()`` result this is the resolved ownership."""
        return (self.ties & _TIE_LABEL_MASK).astype(np.uint16)

    def serialize(self) -> bytes:
        """Adaptive-width claims pack, typically ~3 bytes per claim.

        The tiebreak is a pure function of (slot, label) — ``claim_ties``
        derives it with splitmix64 — so the wire carries only sorted slots
        plus labels and the receiver recomputes ties bit-identically.
        Unlike the Bloom build's 64-bit frame hashes (near their delta
        entropy at 6 bytes), claim slots live in a DENSE space — m ≈
        h·n/ln2 slots for n entries — so per-blob sorted deltas are
        geometric with a small mean (≈ slot-space/claims; ~92 at the
        BENCH.md 1.2M-page shape) and fit 2 bytes; labels fit 1 byte for
        corpora under 256 labels.  Layout (tag ``b"W"``): 1-byte delta
        width ``dw`` = minimal width holding the max delta, 1-byte label
        width ``lw`` (1 or 2), 8-byte first slot, ``dw``-byte deltas,
        ``lw``-byte labels — vs the previous fixed 6+2 this cuts the
        claims exchange ~62% at the bench shape (the miBF build's dominant
        byte mover through the one non-core-scaling path).  Blobs live
        only inside one job's shuffle — no cross-version persistence
        (``deserialize`` still reads the older ``T``/``U``/legacy blobs).
        No zlib: the deltas sit near their geometric entropy already."""
        labels = (self.ties & _TIE_LABEL_MASK).astype(np.uint16)
        n = self.slots.size
        if n == 0:
            return b"U"
        d = np.empty(n, dtype=np.uint64)
        d[0] = 0
        np.subtract(self.slots[1:], self.slots[:-1], out=d[1:].view(np.int64))
        max_d = int(d.max())  # d[0] == 0, so safe for n == 1
        dw = max(1, (max_d.bit_length() + 7) // 8)
        lw = 1 if int(labels.max()) < 256 else 2
        db = np.ascontiguousarray(d.astype("<u8")).view(np.uint8).reshape(-1, 8)
        lb = labels.astype("<u1") if lw == 1 else labels.astype("<u2")
        return (
            b"W"
            + bytes([dw, lw])
            + int(self.slots[0]).to_bytes(8, "little")
            + db[1:, :dw].tobytes()
            + lb.tobytes()
        )

    @classmethod
    def deserialize(cls, payload: bytes) -> "MIBFClaims":
        tag, body = payload[:1], payload[1:]
        if tag == b"W":
            dw, lw = body[0], body[1]
            first = int.from_bytes(body[2:10], "little")
            rest = body[10:]
            n = (len(rest) + dw) // (dw + lw)  # dw(n-1) + lw·n bytes
            dlen = dw * (n - 1)
            d = np.zeros((n, 8), dtype=np.uint8)
            d[1:, :dw] = np.frombuffer(rest[:dlen], dtype=np.uint8).reshape(-1, dw)
            deltas = d.reshape(-1).view("<u8").astype(np.uint64)
            deltas[0] = np.uint64(first)
            slots = np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
            labels = np.frombuffer(rest[dlen:], dtype=np.uint8 if lw == 1 else np.uint16)
            return cls(slots, _recompute_ties(slots, labels.astype(np.uint16)))
        if tag == b"T":
            first = int.from_bytes(body[:8], "little")
            rest = body[8:]
            n_lab = (len(rest) + 6) // 8  # 6(n-1) + 2n = 8n - 6
            six_len = 6 * (n_lab - 1)
            six = np.frombuffer(rest[:six_len], dtype=np.uint8).reshape(-1, 6)
            d = np.zeros((n_lab, 8), dtype=np.uint8)
            d[1:, :6] = six
            deltas = d.reshape(-1).view("<u8").astype(np.uint64)
            deltas[0] = np.uint64(first)
            slots = np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
            labels = np.frombuffer(rest[six_len:], dtype=np.uint16)
            return cls(slots, _recompute_ties(slots, labels))
        if tag == b"U":
            n = len(body) // 10  # 8B slot + 2B label
            slots = np.frombuffer(body[: 8 * n], dtype=np.int64)
            labels = np.frombuffer(body[8 * n :], dtype=np.uint16)
            return cls(slots.copy(), _recompute_ties(slots, labels))
        # legacy layout (no tag): slots int64 + ties uint64, equal halves
        half = len(payload) // 2
        return cls(
            np.frombuffer(payload[:half], dtype=np.int64).copy(),
            np.frombuffer(payload[half:], dtype=np.uint64).copy(),
        )


@dataclass
class MIBFSketch:
    """The resolved multi-index Bloom filter: slot → owning label (+ sat).

    ``ids[slot]`` = 0 empty, else (label_idx & ID_MASK) | optional SAT_BIT
    — the uint16-per-slot economics of the reference (32768 labels max).
    """

    m_slots: int
    num_hashes: int
    shingle_w: int
    labels: list[str]
    ids: np.ndarray  # uint16[m_slots]
    seeds: np.ndarray | None = None  # bool (h, w) skip-gram masks, None = k-mer mode
    #: frame-hash family: "poly" = native polynomial token shingles (K-M
    #: probe positions); "nthash" = published NTC64 base k-mers with NTM64
    #: probe positions (the reference miBF's own hashing — MIBFGen.hpp uses
    #: ntHashIterator; canonical by construction).  Seed mode is poly-only
    #: (flat_seed_hashes consumes token hashes).
    hash_family: str = "poly"
    #: strand-invariant poly hashing (min of fw/rc frame hashes) — the
    #: DNA-mode twin of the plain-Bloom BloomParams.canonical.  Irrelevant
    #: under nthash (NTC64 is canonical already).
    canonical: bool = False

    def __post_init__(self) -> None:
        if self.hash_family not in ("poly", "nthash"):
            raise ValueError(f"unknown miBF hash family {self.hash_family!r}")
        if self.seeds is not None and (self.hash_family != "poly" or self.canonical):
            raise ValueError(
                "spaced-seed miBF mode is poly-family only (seed hashes are "
                "token-level skip-grams); use hash_family='poly', canonical=False"
            )

    @classmethod
    def from_claims(
        cls, claims: MIBFClaims, m_slots: int, num_hashes: int, shingle_w: int,
        labels: list[str], seeds: np.ndarray | None = None,
        hash_family: str = "poly", canonical: bool = False,
    ) -> "MIBFSketch":
        if len(labels) > MAX_LABELS:
            raise ValueError(f"miBF supports at most {MAX_LABELS} labels")
        win = claims.winners()
        ids = np.zeros(m_slots, dtype=np.uint16)
        ids[win.slots] = win.owners()
        return cls(m_slots, num_hashes, shingle_w, labels, ids, seeds,
                   hash_family, canonical)

    @property
    def ids_nbytes(self) -> int:
        return self.ids.nbytes

    # -- population --------------------------------------------------------
    def positions_for(self, frame_hashes_or_rows: np.ndarray) -> np.ndarray:
        """(h, n) probe positions: K-M in k-mer mode (poly family), NTM64
        in nthash mode, per-seed in seed mode."""
        if self.seeds is not None:
            return seed_positions(frame_hashes_or_rows, self.m_slots)
        if self.hash_family == "nthash":
            from .nthash import nt_positions

            # NTM64 variants mod slot count — same convention as the
            # plain-Bloom nthash probe, with slots instead of bits
            return nt_positions(
                frame_hashes_or_rows, self.shingle_w, self.num_hashes, self.m_slots
            )
        return _probe_positions(frame_hashes_or_rows, self.num_hashes, self.m_slots)

    def lost_elements(self, positions: np.ndarray, label_idx: int) -> np.ndarray:
        """Bool per frame: True when NO probe slot is owned by the label —
        the elements the saturation pass marks (MIBFGen insertSaturation,
        MIBFGen.hpp:196-223)."""
        owners = self.ids[positions] & ID_MASK
        return ~(owners == np.uint16(label_idx)).any(axis=0)

    def apply_saturation(self, sat_slots: np.ndarray) -> None:
        self.ids[sat_slots] |= SAT_BIT

    # -- query -------------------------------------------------------------
    def gather(self, positions: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(label_idx, saturated) uint16/bool arrays shaped like positions."""
        raw = self.ids[positions]
        return raw & ID_MASK, (raw & SAT_BIT) != 0

    # -- stats ---------------------------------------------------------------
    def slots_per_label(self) -> np.ndarray:
        """Count of owned slots per label index (0 = empty bucket)."""
        return np.bincount(
            (self.ids & ID_MASK).astype(np.int64), minlength=len(self.labels) + 1
        )

    def per_frame_prob(self) -> np.ndarray:
        """Per-label probability that a random frame reports the label:
        p_i = 1 - (1 - slots_i/m)^h — the calcFrameProbs analog feeding the
        binomial significance test (MIBFClassifier.hpp:87-88,901)."""
        counts = self.slots_per_label().astype(np.float64)
        p = 1.0 - (1.0 - counts / self.m_slots) ** self.num_hashes
        return p  # index 0 = empty, 1..L = labels

    def occupancy(self) -> float:
        return float((self.ids != 0).mean())

    def saturation_rate(self) -> float:
        occ = (self.ids != 0).sum()
        return float(((self.ids & SAT_BIT) != 0).sum() / max(1, occ))

    # -- serde ---------------------------------------------------------------
    def serialize(self) -> bytes:
        return self.ids.tobytes()

    @classmethod
    def deserialize(
        cls, payload: bytes, m_slots: int, num_hashes: int, shingle_w: int,
        labels: list[str], seeds: np.ndarray | None = None, copy: bool = False,
        hash_family: str = "poly", canonical: bool = False,
    ) -> "MIBFSketch":
        arr = np.frombuffer(payload, dtype=np.uint16)
        return cls(m_slots, num_hashes, shingle_w, labels,
                   arr.copy() if copy else arr, seeds, hash_family, canonical)
