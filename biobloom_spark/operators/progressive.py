"""Progressive filter construction — BioBloomMaker's -r/-e mode (A6).

Reference semantics (/root/reference/BioBloomMaker/BloomFilterGenerator.cpp:
85-522): seed a filter from reference sequences, then iterate over a read
set, adding the k-mers of every read that *matches* the current filter
(score >= threshold, optionally a static bait filter ORed into the match
predicate, optionally a subtract veto), until the filter stops growing or
``max_iterations`` (-e) is reached.

The reference is order-dependent within a pass (reads tagged early seed
matches for later reads under OpenMP nondeterminism — no ordering guarantee
in BloomFilterGenerator.cpp:149-270).  Here each iteration is a *batch
fixpoint*: score ALL reads against the frozen current filter, then insert
ALL newly-matching reads' frames at once.  Deterministic, produces a
superset-per-iteration of any reference schedule, and converges to the
same closure with enough iterations (SURVEY.md §7.4).

Each iteration = one categorize (broadcast probe, zero shuffle) + one
build over the matched subset (zero-shuffle partial build) — both already
scale-shaped; the driver loop only moves sketch-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BloomParams, BuildConfig, CategorizerConfig, ScoringConfig

__all__ = ["progressive_build"]


def progressive_build(
    spark: SparkSession,
    seed_docs: DataFrame,
    read_docs: DataFrame,
    filter_id: str = "progressive",
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BloomParams | None = None,
    build: BuildConfig | None = None,
    scoring: ScoringConfig | None = None,
    max_iterations: int = 5,
    bait: "tuple | None" = None,  # (bitmap, m_bits, num_hashes[, block_bits[, seg_offsets]])
    subtract: "tuple | None" = None,  # same shape as bait
    inclusive_pairs: bool = False,
    text2_col: str | None = None,
) -> tuple[list[dict], DataFrame]:
    """Iterative tagging build.  Returns (filters, tagged_ids DataFrame).

    ``bait`` — static filter whose match also tags a read (PROG bait
    variant, BloomFilterGenerator.cpp:300-522); ``subtract`` — frames
    present there are never inserted (-d).  ``text2_col`` enables the
    paired variant: a pair is tagged when either/both mates match per
    ``inclusive_pairs`` (PROG_INC vs PROG_STD,
    BloomFilterGenerator.cpp:184-241).

    Sizing note: the filter is sized ONCE from seed+reads expected frames
    (upper bound of the closure) so iterations merge into a fixed-size
    bitmap — the reference sizes from -n expected entries similarly.
    """
    from ..sketch import BloomSketch
    from .categorizer import categorize, categorize_pairs
    from .maker import build_filters, load_registry

    params = params or BloomParams()
    build = build or BuildConfig()
    scoring = scoring or ScoringConfig()
    cfg = CategorizerConfig(scoring=scoring, inclusive_pairs=inclusive_pairs)

    key = F.lit(filter_id).alias("__fkey")

    def both_mates(docs: DataFrame) -> DataFrame:
        """(id, text) rows covering BOTH mates when paired — the reference
        inserts rec1 AND rec2 of a tagged pair (PROG_STD/PROG_INC,
        BloomFilterGenerator.cpp:207-262)."""
        one = docs.select(F.col(id_col), F.col(text_col).alias(text_col))
        if not text2_col or text2_col not in docs.columns:
            return one
        return one.unionByName(
            docs.select(F.col(id_col), F.col(text2_col).alias(text_col))
        )

    union_all = both_mates(seed_docs).unionByName(both_mates(read_docs))

    # fixed sizing over the maximal possible closure (both mates included)
    from .maker import size_filters

    sizing_probe = size_filters(
        union_all.withColumn("__fkey", key), "__fkey", text_col, params
    )[filter_id]

    def build_from(docs: DataFrame) -> DataFrame:
        return build_filters(
            spark,
            both_mates(docs).withColumn("__fkey", key),
            key_col="__fkey",
            text_col=text_col,
            id_col=id_col,
            params=params,
            build=build,
            subtract=subtract,
            expected_sizing={filter_id: sizing_probe},
        )

    tagged = seed_docs.select(F.col(id_col)).withColumn("iteration", F.lit(0))
    reg = build_from(seed_docs)
    filters = load_registry(reg)
    # incremental state: the running OR-merged bitmap (fixed m/h across
    # iterations); Bloom insert is set-union idempotent, so inserting only
    # the newly matched docs and OR-merging equals the rebuild-from-scratch
    # of seed ∪ matched — the reference inserts incrementally too
    # (BloomFilterGenerator.cpp:149-270)
    running = BloomSketch.deserialize(
        filters[0]["bitmap"], filters[0]["m_bits"], filters[0]["num_hashes"],
        block_bits=filters[0]["block_bits"],
        seg_offsets=filters[0].get("seg_offsets"),
    )

    bait_filters = []
    if bait is not None:
        bait_filters = [
            {
                "filter_id": "__bait",
                "m_bits": bait[1],
                "num_hashes": bait[2],
                "block_bits": bait[3] if len(bait) > 3 else 0,
                "seg_offsets": bait[4] if len(bait) > 4 else None,
                "shingle_w": params.shingle_w,
                "canonical": params.canonical,
                "hash_family": params.hash_family,
                "bitmap": bait[0],
                "fpr": 1e-12,
                "target_fpr": params.fpr,
            }
        ]

    remaining = read_docs
    matched_all = None
    for it in range(1, max_iterations + 1):
        if text2_col:
            res = categorize_pairs(
                spark, remaining, filters + bait_filters, cfg,
                id_col=id_col, text1_col=text_col, text2_col=text2_col,
            )
        else:
            res = categorize(
                spark, remaining, filters + bait_filters, cfg,
                id_col=id_col, text_col=text_col,
            )
        # checkpointed, and `remaining` is ONE anti-join against the union
        # of these id sets: iteration k's plan never re-evaluates an
        # earlier iteration's categorize, so every iteration after the
        # first runs the same jobs
        matched_ids = res.filter(F.size("hits") > 0).select(id_col).localCheckpoint()
        n_matched = matched_ids.count()
        if n_matched == 0:
            break
        tagged = tagged.unionByName(
            matched_ids.withColumn("iteration", F.lit(it))
        )
        matched_docs = remaining.join(matched_ids, on=id_col)
        # build ONLY the newly matched docs and OR-merge into the running
        # fixed-size bitmap: per-iteration cost stays O(newly matched), not
        # O(closure) — at 100 TB the rebuild-from-scratch variant is
        # iteration-quadratic
        delta_filters = load_registry(build_from(matched_docs))
        delta = BloomSketch.deserialize(
            delta_filters[0]["bitmap"], running.m_bits, running.num_hashes,
            block_bits=running.block_bits,
            seg_offsets=delta_filters[0].get("seg_offsets"),
        )
        running = running.merge(delta)
        filters = [
            {
                **filters[0],
                "bitmap": running.serialize(),
                "fpr": max(running.fpr_from_occupancy(), 1e-300),
            }
        ]
        matched_all = (
            matched_ids if matched_all is None else matched_all.unionByName(matched_ids)
        )
        remaining = read_docs.join(matched_all, on=id_col, how="left_anti")
        # stop when the filter stopped growing (totalEntries fixpoint,
        # BloomFilterGenerator.cpp:176,402 analog)
    return filters, tagged
