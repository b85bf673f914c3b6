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


@pytest.fixture(scope="module")
def walk_reads(spark):
    """A 400-token genome with short low-complexity runs (dust-masked
    frames) past the seed, its 80-token head as the seed, and reads every
    20 tokens as one 60-token text plus two overlapping 40-token mates."""
    rng = np.random.default_rng(7)
    genome = [f"g{int(x)}" for x in rng.integers(0, 5000, 400)]
    for j, p in enumerate(range(90, 340, 25)):
        genome[p : p + 4] = [f"d{j}"] * 4
    seeds = spark.createDataFrame(
        [("seed0", " ".join(genome[:80]))], "doc_id string, text string"
    )
    rows = [
        (f"r{i:03d}", " ".join(genome[s : s + 60]), " ".join(genome[s : s + 40]),
         " ".join(genome[s + 20 : s + 60]), s)
        for i, s in enumerate(range(0, 340, 20))
    ]
    reads = spark.createDataFrame(
        rows, "doc_id string, text string, text1 string, text2 string, start int"
    ).cache()
    return seeds, reads, " ".join(genome[150:210])


def _pinned_build(spark, docs, sizing_docs, params, subtract=None):
    """Registry row of a from-scratch build over ``docs`` (doc_id, text)
    with the layout progressive_build pins from ``sizing_docs``."""
    from biobloom_spark.operators.maker import build_filters, load_registry, size_filters

    sizing = size_filters(
        sizing_docs.withColumn("__fkey", F.lit("progressive")), "__fkey", "text", params
    )
    reg = build_filters(
        spark, docs.withColumn("__fkey", F.lit("progressive")),
        key_col="__fkey", text_col="text", id_col="doc_id", params=params,
        subtract=subtract, expected_sizing=sizing,
    )
    return load_registry(reg)[0]


@pytest.mark.parametrize(
    "variant", ["single", "paired", "paired_inclusive", "subtract", "dust"]
)
def test_incremental_equals_rebuild_from_scratch(spark, walk_reads, variant):
    """Inserting each iteration's new frames into the running filter must
    produce the exact bitmap of a from-scratch build over seed ∪ tagged
    (every mate of a tagged pair) with the same subtract veto — Bloom
    insert is set-union idempotent, so the closures coincide (U1
    associativity end-to-end).  The dust mask only changes scoring: masked
    frames of a tagged read are still inserted."""
    from biobloom_spark.operators.maker import build_filters, load_registry

    seeds, reads, veto_text = walk_reads
    params = BloomParams()
    paired = variant.startswith("paired")
    mates = ["text1", "text2"] if paired else ["text"]
    kw = {}
    if paired:
        kw = {"text_col": "text1", "text2_col": "text2",
              "inclusive_pairs": variant == "paired_inclusive"}
    if variant == "subtract":
        veto = load_registry(build_filters(
            spark,
            spark.createDataFrame([("v", "veto", veto_text)], "doc_id string, k string, text string"),
            key_col="k", id_col="doc_id", params=params,
        ))[0]
        kw["subtract"] = (veto["bitmap"], veto["m_bits"], veto["num_hashes"],
                          veto["block_bits"], veto["seg_offsets"])
    filters, tagged = progressive_build(
        spark, seeds.select("doc_id", F.col("text").alias(mates[0])),
        reads.select("doc_id", *mates),
        max_iterations=8, params=params,
        scoring=ScoringConfig(method="simple", threshold=0.3, dust=variant == "dust"),
        **kw,
    )
    # the walk went past the seed's reach, so later passes inserted frames
    assert tagged.filter(F.col("iteration") >= 2).count() > 0

    def mate_rows(df):
        out = None
        for m in mates:
            one = df.select("doc_id", F.col(m).alias("text"))
            out = one if out is None else out.unionByName(one)
        return out

    closure = seeds.unionByName(
        mate_rows(reads.join(tagged.filter(F.col("iteration") > 0), on="doc_id"))
    )
    scratch = _pinned_build(
        spark, closure, seeds.unionByName(mate_rows(reads)), params,
        subtract=kw.get("subtract"),
    )
    assert filters[0]["bitmap"] == scratch["bitmap"]
    assert filters[0]["num_entries"] <= scratch["num_entries"]


_DNA = "ACGTTGCAACGGTTAACCGGTTAACCGTACGTACGGATCCGGAAT" * 3


@pytest.mark.parametrize(
    "case",
    ["block_bits_0", "block_bits_64", "block_bits_512", "nthash", "subtract",
     "paired"],
)
def test_seed_filter_equals_pinned_build(spark, walk_reads, case):
    """Before any read is tagged, the filter is the seed filter: every field
    equals a from-scratch build over the seeds (every mate) with the same
    subtract veto, pinned to the sizing over seeds ∪ reads.  The seed
    pass sizes, lays out and inserts where the build's slice reducers
    write; the reads here match nothing, so the returned filter is it."""
    from biobloom_spark.operators.maker import build_filters, load_registry

    seeds, _reads, _veto = walk_reads
    seed_text = seeds.collect()[0]["text"]
    rng = np.random.default_rng(3)
    params = {
        "block_bits_0": BloomParams(block_bits=0),
        "block_bits_512": BloomParams(block_bits=512),
        "nthash": BloomParams(shingle_w=11, hash_family="nthash", block_bits=0),
    }.get(case, BloomParams())
    vocab = list("ACGT") if case == "nthash" else [f"x{v}" for v in range(5000)]
    if case == "nthash":
        seed_text = " ".join(_DNA[:90])
    noise = [" ".join(rng.choice(vocab, 60)) for _ in range(6)]
    mates = ["text1", "text2"] if case == "paired" else ["text"]
    kw = {"text_col": "text1", "text2_col": "text2"} if case == "paired" else {}
    schema = ", ".join(["doc_id string"] + [f"{m} string" for m in mates])
    seed_mates = [seed_text, noise[0]][: len(mates)]
    seed_df = spark.createDataFrame([("seed0", *seed_mates)], schema)
    read_df = spark.createDataFrame(
        [(f"n{i}", *([t] * len(mates))) for i, t in enumerate(noise[1:])], schema
    )
    if case == "subtract":
        veto = load_registry(build_filters(
            spark,
            spark.createDataFrame(
                [("v", "veto", " ".join(seed_text.split()[40:]))],
                "doc_id string, k string, text string",
            ),
            key_col="k", id_col="doc_id", params=params,
        ))[0]
        kw["subtract"] = (veto["bitmap"], veto["m_bits"], veto["num_hashes"],
                          veto["block_bits"], veto["seg_offsets"])
    filters, tagged = progressive_build(
        spark, seed_df, read_df, max_iterations=3, params=params,
        scoring=ScoringConfig(method="simple", threshold=0.3), **kw,
    )
    assert tagged.filter(F.col("iteration") > 0).count() == 0

    def mate_rows(df):
        out = None
        for m in mates:
            one = df.select("doc_id", F.col(m).alias("text"))
            out = one if out is None else out.unionByName(one)
        return out

    want = _pinned_build(
        spark, mate_rows(seed_df), mate_rows(seed_df).unionByName(mate_rows(read_df)),
        params, subtract=kw.get("subtract"),
    )
    got = filters[0]
    assert want["num_entries"] > 0
    assert list(got) == list(want)
    for k, v in want.items():
        if k == "seg_offsets":
            assert (got[k] is None) == (v is None), k
            assert v is None or np.array_equal(got[k], v), k
        else:
            assert type(got[k]) is type(v) and got[k] == v, k
    if case == "subtract":
        full = _pinned_build(
            spark, mate_rows(seed_df), mate_rows(seed_df).unionByName(mate_rows(read_df)),
            params,
        )
        assert got["num_entries"] < full["num_entries"]  # the veto dropped frames


def test_exported_counts_track_inserts(spark, genome_reads, tmp_path):
    """The registry written for a progressive filter (cli maker -r) carries
    the pinned sizing's expected entries and a num_entries grown by every
    iteration's new entries: above the seed's own count, at most the
    distinct frames of a from-scratch build over seed ∪ tagged."""
    from biobloom_spark.cli import _write_filter_dicts_as_registry
    from biobloom_spark.operators.maker import size_filters
    from biobloom_spark.sources.bf_format import registry_row_to_bf

    seeds, read_df = genome_reads
    params = BloomParams()
    reads = read_df.select("doc_id", "text")
    filters, tagged = progressive_build(
        spark, seeds, reads, max_iterations=8, params=params,
        scoring=ScoringConfig(method="simple", threshold=0.3),
    )
    path = str(tmp_path / "progressive_registry.parquet")
    _write_filter_dicts_as_registry(spark, filters, path)
    row = spark.read.parquet(path).collect()[0].asDict()

    union_all = seeds.unionByName(reads)
    sizing = size_filters(
        union_all.withColumn("__fkey", F.lit("progressive")), "__fkey", "text", params
    )["progressive"]
    seed_only = _pinned_build(spark, seeds, union_all, params)
    closure = seeds.unionByName(
        reads.join(tagged.filter(F.col("iteration") > 0).select("doc_id"), on="doc_id")
    )
    scratch = _pinned_build(spark, closure, union_all, params)
    assert row["expected_entries"] == sizing["expected_entries"] > 0
    assert seed_only["num_entries"] < row["num_entries"] <= scratch["num_entries"]
    _bf, txt = registry_row_to_bf(row, str(tmp_path))
    info = open(txt).read()
    assert f"expected_num_entries={sizing['expected_entries']}" in info
    assert f"num_entries={row['num_entries']}" in info


def test_progressive_stops_at_fixpoint(spark, genome_reads, monkeypatch):
    """Reads whose frames the seed already holds are tagged in iteration 1
    and set no new bit, so the loop stops there instead of running a second
    scoring pass that could tag nothing (the totalEntries fixpoint)."""
    import biobloom_spark.operators.progressive as prog

    seeds, _reads = genome_reads
    toks = seeds.collect()[0]["text"].split()
    reads = spark.createDataFrame(
        [(f"in{i}", " ".join(toks[s : s + 40])) for i, s in enumerate((0, 20, 40))],
        "doc_id string, text string",
    )
    passes = []
    real = prog._tag_pass

    def counted(*a, **k):
        passes.append(1)
        return real(*a, **k)

    monkeypatch.setattr(prog, "_tag_pass", counted)
    params = BloomParams()
    filters, tagged = progressive_build(
        spark, seeds, reads, max_iterations=4, params=params,
        scoring=ScoringConfig(method="simple", threshold=0.3),
    )
    assert len(passes) == 1
    rows = {(r["doc_id"], r["iteration"]) for r in tagged.collect()}
    assert rows == {("seed0", 0), ("in0", 1), ("in1", 1), ("in2", 1)}
    seed_only = _pinned_build(spark, seeds, seeds.unionByName(reads), params)
    assert filters[0]["bitmap"] == seed_only["bitmap"]
    assert filters[0]["num_entries"] == seed_only["num_entries"]


@pytest.mark.parametrize("with_bait", [False, True], ids=["no_bait", "bait"])
@pytest.mark.parametrize(
    "seed_rows", [[], [("seed0", None)]], ids=["no_seed_rows", "null_text_seed"]
)
def test_empty_seed_set(spark, genome_reads, seed_rows, with_bait):
    """Seeds without text (no rows, or a null text) give the empty filter
    pinned to the reads' sizing: ``num_entries`` 0, and only reads a bait
    filter matches are tagged (then inserted like any tagged read)."""
    from biobloom_spark.config import CategorizerConfig
    from biobloom_spark.operators.categorizer import categorize
    from biobloom_spark.operators.maker import build_filters, load_registry, size_filters

    _seeds, read_df = genome_reads
    reads = read_df.select("doc_id", "text")
    seeds = spark.createDataFrame(seed_rows, "doc_id string, text string")
    params = BloomParams()
    scoring = ScoringConfig(method="simple", threshold=0.3)
    kw = {}
    if with_bait:
        bait = load_registry(build_filters(
            spark,
            read_df.filter(F.col("start") >= 200).select("doc_id", "text")
            .withColumn("k", F.lit("bait")),
            key_col="k", id_col="doc_id", params=params,
        ))[0]
        kw["bait"] = (bait["bitmap"], bait["m_bits"], bait["num_hashes"],
                      bait["block_bits"], bait["seg_offsets"])
    filters, tagged = progressive_build(
        spark, seeds, reads, max_iterations=1, params=params, scoring=scoring, **kw,
    )
    sizing = size_filters(
        reads.withColumn("__fkey", F.lit("progressive")), "__fkey", "text", params
    )["progressive"]
    got = filters[0]
    assert got["expected_entries"] == sizing["expected_entries"] > 0
    assert got["m_bits"] == sizing["m_bits"]
    assert {r["doc_id"] for r in tagged.filter(F.col("iteration") == 0).collect()} == {
        r[0] for r in seed_rows
    }
    ids = {r["doc_id"] for r in tagged.filter(F.col("iteration") > 0).collect()}
    if not with_bait:
        assert got["num_entries"] == 0
        assert not any(got["bitmap"])
        assert ids == set()
        return
    bait_hits = {
        r["doc_id"]
        for r in categorize(spark, reads, [bait], CategorizerConfig(scoring=scoring))
        .filter(F.array_contains("hits", "bait"))
        .collect()
    }
    assert ids == bait_hits and ids
    scratch = _pinned_build(
        spark, reads.filter(F.col("doc_id").isin(sorted(ids))), reads, params
    )
    assert got["bitmap"] == scratch["bitmap"]
    assert 0 < got["num_entries"] <= scratch["num_entries"]


def _python_stages(sc, job_ids) -> int:
    """Stages of these jobs that ran tasks and hold a Python UDF operator
    (read from the stage's operator graph in Spark's status store)."""
    import re

    from conftest import ran_stages

    python_op = re.compile(r"Pandas|Python|MapInArrow")
    return sum(
        any(python_op.search(n) for n in ops)
        for _tasks, ops in ran_stages(sc, job_ids).values()
    )


def test_progressive_lineage_stays_flat(spark, genome_reads, monkeypatch):
    """Each iteration is one fused score-and-insert pass: its tagged ids
    are checkpointed and the untagged reads are one anti-join against
    their union, so every iteration after the first runs the same few
    jobs with exactly one Python stage, instead of re-evaluating earlier
    passes or rebuilding a delta filter.  Iteration 1 scores the reads as
    given, without that anti-join."""
    import biobloom_spark.operators.progressive as prog

    seeds, read_df = genome_reads
    sc = spark.sparkContext
    real = prog._tag_pass
    iters = []

    def marked(*a, **k):
        iters.append(f"progressive-lineage-{len(iters) + 1}")
        sc.setJobGroup(iters[-1], iters[-1])
        return real(*a, **k)

    monkeypatch.setattr(prog, "_tag_pass", marked)
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
    for later in jobs[1:]:
        assert len(later) <= 3
        assert _python_stages(sc, later) == 1


def test_seed_setup_is_one_map_only_job(spark, genome_reads, monkeypatch):
    """Sizing and seeding the filter is one map-only pass over seeds ∪
    reads: the work before the first ``_tag_pass`` is 1 job with 1 Python
    stage (a ``size_filters`` aggregate plus a pinned ``build_filters``
    and its ``load_registry`` collect took 5 jobs and 3 Python stages)."""
    import biobloom_spark.operators.progressive as prog
    from conftest import job_group

    seeds, read_df = genome_reads
    reads = read_df.select("doc_id", "text")
    reads.count()  # the cached fixture is materialized outside the group
    sc = spark.sparkContext
    group = "progressive-seed-setup"
    real, before = prog._tag_pass, []

    def first(*a, **k):
        if not before:
            before.append(sc.statusTracker().getJobIdsForGroup(group))
        return real(*a, **k)

    monkeypatch.setattr(prog, "_tag_pass", first)
    with job_group(sc, group):
        progressive_build(
            spark, seeds, reads, max_iterations=1, params=BloomParams(),
            scoring=ScoringConfig(method="simple", threshold=0.3),
        )
    assert len(before[0]) == 1
    assert _python_stages(sc, before[0]) == 1
