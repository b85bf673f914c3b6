"""Engine configuration dataclasses with the reference's defaults.

Defaults traced to the reference CLI/options:
- max FPR 0.0078125 (/root/reference/Common/Options.cpp:26)
- optimal hash count derived when unset
  (/root/reference/BioBloomMaker/BioBloomMaker.cpp:361-373)
- k-mer size 25 (/root/reference/Common/Options.cpp:31) → token shingle
  width 3 here (webtext re-targeting; ~25 chars of text)
- score threshold 0.15 (/root/reference/BioBloomCategorizer/Options.cpp:15)
- binomial score 100 → minFPR 1e-10
  (/root/reference/BioBloomCategorizer/BioBloomCategorizer.cpp:168,419-421)
- streak threshold 3 (/root/reference/Common/Options.cpp:9)
"""

from __future__ import annotations

from dataclasses import dataclass, field

DEFAULT_FPR = 0.0078125
DEFAULT_SHINGLE_W = 3
DEFAULT_SCORE_THRESHOLD = 0.15
DEFAULT_BINOMIAL_MIN_FPR = 1e-10
DEFAULT_STREAK_THRESHOLD = 3

#: scoring methods, mirroring opt::scoringMethod
#: (/root/reference/Common/Options.h:35)
SCORING_METHODS = ("simple", "harmonic", "binomial", "minmatchlen")

#: classification modes (/root/reference/BioBloomCategorizer dispatch,
#: BioBloomClassifier.h:531-555)
CLASSIFY_MODES = ("std", "ordered", "besthit", "scores")

#: reserved assignment labels (ResultsManager.hpp:41-89)
NO_MATCH = "noMatch"
MULTI_MATCH = "multiMatch"


@dataclass(frozen=True)
class BloomParams:
    """Filter construction parameters (BloomFilterInfo [user_input_options]
    analog, /root/reference/Common/BloomFilterInfo.cpp:81-116)."""

    fpr: float = DEFAULT_FPR
    num_hashes: int | None = None  # None → optimal for fpr
    shingle_w: int = DEFAULT_SHINGLE_W
    #: Bloom layout: 64 = single-word blocked (default; one gather/scatter
    #: per item, the multi-core scaling winner), 512 = cache-line blocked,
    #: 0 = the reference's classic layout (format parity).  Blocked
    #: layouts are sized with margin so measured FPR stays <= fpr.
    block_bits: int = 64
    #: hard cap on a single filter's bit size (broadcast budget guard;
    #: 2^33 bits = 1 GiB bitmap)
    max_bits: int = 1 << 33
    #: strand-canonical frame hashing (DNA mode): hash(frame) ==
    #: hash(revcomp(frame)), the reference's ntHash canonical semantics
    #: (/root/reference/Tests/ntHashTests.cpp:20-41).  Off for webtext.
    canonical: bool = False
    #: frame-hash family: "poly" = native polynomial shingles (any token
    #: stream); "nthash" = published ntHash NTC64/NTM64 over DNA bases
    #: (.bf probe interop with reference-built filters; implies the
    #: classic layout and canonical-by-construction hashing)
    hash_family: str = "poly"

    def __post_init__(self) -> None:
        if self.hash_family not in ("poly", "nthash"):
            raise ValueError(f"unknown hash family {self.hash_family!r}")
        if self.hash_family == "nthash" and self.block_bits != 0:
            raise ValueError("hash_family='nthash' requires block_bits=0 "
                             "(the reference's classic layout)")


@dataclass(frozen=True)
class ScoringConfig:
    """Categorizer scoring semantics (SeqEval kernel selection)."""

    method: str = "simple"  # simple | harmonic | binomial | minmatchlen
    threshold: float = DEFAULT_SCORE_THRESHOLD  # normalized score in [0,1]
    min_fpr: float = DEFAULT_BINOMIAL_MIN_FPR  # binomial significance
    min_match_len: int = 0  # minmatchlen: tokens a run must cover
    streak_threshold: int = DEFAULT_STREAK_THRESHOLD
    dust: bool = False  # mask low-complexity shingles (sdust analog)
    dust_min_distinct: int = 2

    def __post_init__(self) -> None:
        if self.method not in SCORING_METHODS:
            raise ValueError(f"unknown scoring method {self.method!r}")


@dataclass(frozen=True)
class CategorizerConfig:
    """Classification-mode config (mode dispatch BioBloomClassifier.h:531-555,
    pair combine ResultsManager.hpp:91-189)."""

    mode: str = "std"  # std | ordered | besthit | scores
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    inclusive_pairs: bool = False  # -i: OR pair combine instead of AND
    ordered_filters: tuple[str, ...] = ()  # ordered mode priority list

    def __post_init__(self) -> None:
        if self.mode not in CLASSIFY_MODES:
            raise ValueError(f"unknown classify mode {self.mode!r}")


@dataclass(frozen=True)
class BuildConfig:
    """Distributed Bloom build layout knobs (``build_filters``).

    The build has one shape: a zero-shuffle partial pass (every task emits
    its own documents' unique frame hashes per filter key, split into
    hash-prefix slices), one reducer per (filter, slice), then a
    per-filter assembly.  The corpus is read once and never shuffled."""

    #: coalesce the input to this many partitions before the partial pass.
    #: The partials exchange ships one unique-hash set per map task, and
    #: zipfian web corpora overlap heavily across tasks — so its volume is
    #: ~proportional to the map task count, not the data size.  Fewer,
    #: bigger map tasks cut the merge shuffle (the build's one non-scaling
    #: resource at fixed hardware, BENCH.md round-4); bound it by memory —
    #: each task holds its partition's unique hashes at ~8 B each.
    #: ``coalesce`` (no shuffle) only ever reduces the partition count;
    #: resume partition ids stay deterministic for a fixed value.  None =
    #: leave input as-is.
    coalesce_input: int | None = None
