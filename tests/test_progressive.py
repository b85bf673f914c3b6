"""Progressive-build (A6) tests: the walking-enrichment semantics.

Mirror of the reference's use case (baited assembly): a long 'genome'
document, a seed covering only its head, and reads = sliding windows over
the whole genome.  Early windows match the seed; windows further along
match only after earlier matching windows were inserted — each iteration
extends the reachable region (BloomFilterGenerator.cpp:85-288 semantics,
deterministic batch-fixpoint variant per SURVEY.md §7.4).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biobloom_spark.config import BloomParams, ScoringConfig
from biobloom_spark.operators.progressive import progressive_build


@pytest.fixture(scope="module")
def genome_reads(spark):
    rng = np.random.default_rng(99)
    genome = [f"g{int(x)}" for x in rng.integers(0, 5000, 400)]  # 400 tokens
    seed_text = " ".join(genome[:80])
    reads = []
    step, width = 20, 60
    for i, start in enumerate(range(0, 340, step)):
        reads.append((f"r{i:03d}", " ".join(genome[start : start + width]), start))
    noise = [(f"n{i:03d}", " ".join(f"x{int(v)}" for v in rng.integers(0, 5000, 60)), -1)
             for i in range(10)]
    seeds = spark.createDataFrame([("seed0", seed_text)], "doc_id string, text string")
    read_df = spark.createDataFrame(reads + noise, "doc_id string, text string, start int").cache()
    return seeds, read_df


def test_progressive_walks_the_genome(spark, genome_reads):
    seeds, read_df = genome_reads
    filters, tagged = progressive_build(
        spark,
        seeds,
        read_df.select("doc_id", "text"),
        max_iterations=8,
        params=BloomParams(),
        scoring=ScoringConfig(method="simple", threshold=0.3),
    )
    t = tagged.filter(F.col("iteration") > 0).join(read_df, on="doc_id").cache()
    tagged_starts = sorted(r["start"] for r in t.collect())
    # no noise reads tagged
    assert all(s >= 0 for s in tagged_starts)
    # iteration 1 can only reach reads overlapping the 80-token seed
    it1 = {r["start"] for r in t.filter(F.col("iteration") == 1).collect()}
    assert it1 and max(it1) < 80
    # later iterations walk beyond the seed's reach
    assert max(tagged_starts) > 120
    # every read that shares >=30% of frames with the closure is tagged:
    # the full genome became reachable
    assert len(tagged_starts) == 17  # all 17 genome windows


def test_progressive_stops_without_matches(spark):
    seeds = spark.createDataFrame([("s", "a b c d e f g h")], "doc_id string, text string")
    reads = spark.createDataFrame(
        [("r1", "z1 z2 z3 z4 z5 z6")], "doc_id string, text string"
    )
    filters, tagged = progressive_build(
        spark, seeds, reads, max_iterations=4,
    )
    assert tagged.filter(F.col("iteration") > 0).count() == 0
    assert len(filters) == 1


def test_progressive_bait_extends_matches(spark, genome_reads):
    """A bait filter built from the genome tail lets distant reads tag in
    iteration 1 (PROG bait variant, BloomFilterGenerator.cpp:300-522)."""
    from biobloom_spark.operators.maker import build_filters, load_registry

    seeds, read_df = genome_reads
    tail_reads = read_df.filter(F.col("start") >= 200).select("doc_id", "text")
    bait_reg = load_registry(
        build_filters(
            spark,
            tail_reads.withColumn("k", F.lit("bait")),
            key_col="k", id_col="doc_id",
        )
    )[0]
    filters, tagged = progressive_build(
        spark, seeds, read_df.select("doc_id", "text"),
        max_iterations=1,
        scoring=ScoringConfig(threshold=0.3),
        bait=(bait_reg["bitmap"], bait_reg["m_bits"], bait_reg["num_hashes"],
              bait_reg["block_bits"], bait_reg["seg_offsets"]),
    )
    it1 = {
        r["start"]
        for r in tagged.filter(F.col("iteration") == 1)
        .join(read_df, on="doc_id")
        .collect()
    }
    assert it1 and max(it1) >= 200  # bait reached the tail in one pass

def test_progressive_bait_under_nthash(spark):
    """bait + hash_family='nthash' is a valid combination: the bait dict
    must inherit the run's hash family, or _score_texts raises the
    mixed-family ValueError (round-3 ADVICE regression)."""
    from biobloom_spark.operators.maker import build_filters, load_registry

    genome = "ACGTTGCAACGGTTAACCGGTTAACCGTACGTACGGATCCGGAAT" * 3
    params = BloomParams(shingle_w=11, hash_family="nthash", block_bits=0)
    seeds = spark.createDataFrame(
        [("s", " ".join(genome[:60]))], "doc_id string, text string"
    )
    reads = spark.createDataFrame(
        [("r1", " ".join(genome[40:100])), ("r2", " ".join(genome[90:135]))],
        "doc_id string, text string",
    )
    bait_reg = load_registry(
        build_filters(
            spark,
            reads.filter(F.col("doc_id") == "r2").withColumn("k", F.lit("bait")),
            key_col="k", id_col="doc_id", params=params,
        )
    )[0]
    filters, tagged = progressive_build(
        spark, seeds, reads, max_iterations=2, params=params,
        scoring=ScoringConfig(threshold=0.2),
        bait=(bait_reg["bitmap"], bait_reg["m_bits"], bait_reg["num_hashes"],
              bait_reg["block_bits"], bait_reg["seg_offsets"]),
    )
    assert tagged.filter(F.col("iteration") > 0).count() >= 1


def test_incremental_equals_rebuild_from_scratch(spark, genome_reads):
    """The incremental OR-merge (insert only newly matched docs per
    iteration) must produce the exact bitmap of a from-scratch build over
    seed ∪ tagged — Bloom insert is set-union idempotent, so the closures
    coincide (U1 associativity end-to-end)."""
    from biobloom_spark.operators.maker import build_filters, load_registry, size_filters

    seeds, read_df = genome_reads
    params = BloomParams()
    filters, tagged = progressive_build(
        spark, seeds, read_df.select("doc_id", "text"),
        max_iterations=8, params=params,
        scoring=ScoringConfig(method="simple", threshold=0.3),
    )
    closure = seeds.select("doc_id", "text").unionByName(
        read_df.join(tagged.filter(F.col("iteration") > 0), on="doc_id")
        .select("doc_id", "text")
    )
    # rebuild from scratch with the progressive run's pinned sizing
    union_all = seeds.select("doc_id", "text").unionByName(
        read_df.select("doc_id", "text")
    ).withColumn("__fkey", F.lit("progressive"))
    sizing = size_filters(union_all, "__fkey", "text", params)
    reg = build_filters(
        spark, closure.withColumn("__fkey", F.lit("progressive")),
        key_col="__fkey", text_col="text", id_col="doc_id", params=params,
        expected_sizing=sizing,
    )
    scratch = load_registry(reg)[0]
    assert filters[0]["bitmap"] == scratch["bitmap"]


def test_progressive_lineage_stays_flat(spark, genome_reads, monkeypatch):
    """Each iteration's matched ids are checkpointed and the unmatched
    reads are one anti-join against their union, so iteration 3 runs the
    same Spark jobs as iteration 2 instead of re-evaluating every earlier
    iteration's categorize plan.  Iteration 1 categorizes the reads as
    given, without that anti-join."""
    import biobloom_spark.operators.categorizer as cat

    seeds, read_df = genome_reads
    sc = spark.sparkContext
    real = cat.categorize
    iters = []

    def tagged_categorize(*a, **k):
        iters.append(f"progressive-lineage-{len(iters) + 1}")
        sc.setJobGroup(iters[-1], iters[-1])
        return real(*a, **k)

    monkeypatch.setattr(cat, "categorize", tagged_categorize)
    try:
        progressive_build(
            spark, seeds, read_df.select("doc_id", "text"), max_iterations=3,
            params=BloomParams(),
            scoring=ScoringConfig(method="simple", threshold=0.3),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    st = sc.statusTracker()
    jobs = [st.getJobIdsForGroup(g) for g in iters]
    assert len(iters) == 3
    assert len(jobs[2]) == len(jobs[1])
