"""miBF tests — the multi-index family (SURVEY §2 A7/A8/T2/M-miBF).

Covers: sizing, deterministic fair ownership, merge associativity of the
claims state, saturation semantics, classification significance +
best/secondary -m window (MIBFClassifier.hpp:842-930 analogs), and the
skip-gram (spaced-seed analog) miss tolerance.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from biobloom_spark.config import MULTI_MATCH, NO_MATCH
from biobloom_spark.operators.mibf import build_mibf, classify_mibf, mibf_summarize
from biobloom_spark.sketch.mibf import (
    ID_MASK,
    SAT_BIT,
    MIBFClaims,
    MIBFSketch,
    flat_seed_hashes,
    mibf_size_slots,
    seed_masks_to_arrays,
)


def _vocab_texts(rng, vocab_prefix, n_docs, n_tokens, vocab_size=400):
    return [
        " ".join(
            f"{vocab_prefix}{int(v)}" for v in rng.integers(0, vocab_size, n_tokens)
        )
        for _ in range(n_docs)
    ]


def _saturation_corpus(spark, request, name):
    """(corpus, build kwargs) of a corpus whose labels contest slots:
    "identical" = two labels with the same text, "shared" = three labels
    over one vocabulary, "nthash" = the DNA reads under ntHash."""
    schema = "doc_id string, text string, lang string"
    if name == "identical":
        text = " ".join(f"t{i}" for i in range(100))
        return spark.createDataFrame([("a1", text, "a"), ("b1", text, "b")], schema), {}
    if name == "shared":
        text = " ".join(f"s{i % 37}x{i % 11}" for i in range(150))
        rows = [(f"d{li}{j}", text + f" tail{li}", f"L{li}")
                for li in range(3) for j in range(2)]
        return spark.createDataFrame(rows, schema), {}
    _, df = request.getfixturevalue("dna_corpus")
    return df, {"shingle_w": TestHashFamilies.K, "hash_family": "nthash"}


def _saturation_reference(df, kw):
    """(reference sketch, frame count, lost-set bytes per label) of a
    saturation corpus, all in local numpy: ownership from
    ``MIBFSketch.from_claims``, saturation from ``lost_elements`` per
    label, sized as ``build_mibf(occupancy=0.5, expected_entries=frames)``."""
    from biobloom_spark.functions.text import batch_frames

    w, family = kw.get("shingle_w", 3), kw.get("hash_family", "poly")
    rows = df.select("lang", "text").collect()
    labels = sorted({r["lang"] for r in rows})
    pos_by: dict[int, np.ndarray] = {}
    for li, lab in enumerate(labels, start=1):
        texts = np.array([r["text"] for r in rows if r["lang"] == lab])
        pos_by[li] = batch_frames(texts, w, {}, hash_family=family)[0]
    n_frames = sum(f.size for f in pos_by.values())
    m_slots = mibf_size_slots(n_frames, 3, 0.5)
    probe = MIBFSketch(m_slots, 3, w, [], np.zeros(0, dtype=np.uint16),
                       hash_family=family)
    acc = MIBFClaims()
    for li in pos_by:
        pos_by[li] = probe.positions_for(pos_by[li])
        acc = acc.merge(MIBFClaims.from_positions(pos_by[li], li))
    ref = MIBFSketch.from_claims(acc, m_slots, 3, w, labels, hash_family=family)
    lost_bytes = []
    for li, pos in pos_by.items():
        lost_bytes.append(
            8 * int(((ref.ids[np.unique(pos)] & ID_MASK) != li).sum())
        )
        lost = ref.lost_elements(pos, li)
        ref.apply_saturation(pos[:, lost].ravel())
    assert ref.saturation_rate() > 0  # the scan has real work
    return ref, n_frames, lost_bytes


@pytest.fixture(scope="module")
def labeled_corpus(spark):
    rng = np.random.default_rng(5)
    rows = []
    for lab in ("alpha", "beta", "gamma"):
        for i, text in enumerate(_vocab_texts(rng, lab, 40, 60)):
            rows.append((f"{lab}-{i}", text, lab))
    return spark.createDataFrame(rows, "doc_id string, text string, lang string").cache()


@pytest.fixture(scope="module")
def mibf(spark, labeled_corpus):
    return build_mibf(spark, labeled_corpus, key_col="lang", occupancy=0.5)


class TestSketch:
    def test_sizing_occupancy(self, mibf):
        # m = -n*h/ln(1-occ): realized occupancy must be near the target
        # (upper-bound sizing makes it come in slightly under)
        assert 0.2 < mibf.occupancy() <= 0.55

    def test_claims_merge_associative(self):
        rng = np.random.default_rng(1)
        parts = [
            MIBFClaims.from_positions(rng.integers(0, 1000, (3, 50)), li)
            for li in (1, 2, 3)
        ]
        left = parts[0].merge(parts[1]).merge(parts[2])
        right = parts[0].merge(parts[1].merge(parts[2]))
        assert np.array_equal(left.slots, right.slots)
        assert np.array_equal(left.ties, right.ties)
        # idempotent
        again = left.merge(parts[1])
        assert np.array_equal(again.slots, left.slots)
        assert np.array_equal(again.ties, left.ties)

    def test_ownership_deterministic_across_partitionings(self, spark, labeled_corpus):
        a = build_mibf(spark, labeled_corpus.repartition(1), key_col="lang")
        b = build_mibf(spark, labeled_corpus.repartition(7), key_col="lang")
        assert a.serialize() == b.serialize()

    def test_resolve_uses_every_task_slot(self, spark, labeled_corpus):
        """The ownership reducers run on min(S, defaultParallelism) tasks:
        left to AQE, the small claims exchange coalesced into one task
        that resolved all S segments serially."""
        from conftest import job_group, ran_stages

        from biobloom_spark.operators.mibf import _mibf_segments

        sc = spark.sparkContext
        group = "mibf-resolve-tasks"
        with job_group(sc, group):
            sketch = build_mibf(spark, labeled_corpus, key_col="lang")
        stages = ran_stages(sc, sc.statusTracker().getJobIdsForGroup(group))
        resolve = [
            tasks for tasks, ops in stages.values()
            if any("FlatMapGroupsInPandas" in n for n in ops)
        ]
        S = _mibf_segments(spark, sketch.m_slots)
        assert resolve == [min(S, sc.defaultParallelism)] and resolve[0] > 1

    def test_segmented_resolution_matches_local_twin(
        self, spark, labeled_corpus, force_budget
    ):
        """Distributed per-segment ownership == single-machine from_claims
        over the same claims (segment count must not affect the result).
        The default budget resolves in 16 segments; a budget of a 37th
        of the id array forces at least 37."""
        from biobloom_spark.functions.text import batch_doc_shingles
        from biobloom_spark.operators.mibf import _mibf_segments
        from biobloom_spark.sketch.mibf import MIBFSketch

        sk1 = build_mibf(spark, labeled_corpus, key_col="lang")
        assert _mibf_segments(spark, sk1.m_slots) == max(
            16, spark.sparkContext.defaultParallelism
        )
        with force_budget(sk1.ids.nbytes // 37):
            assert _mibf_segments(spark, sk1.m_slots) >= 37
            sk5 = build_mibf(spark, labeled_corpus, key_col="lang")
        assert sk1.serialize() == sk5.serialize()
        # local twin: resolve every claim on the driver via from_claims
        rows = labeled_corpus.select("lang", "text").collect()
        labels = sorted({r["lang"] for r in rows})
        acc = MIBFClaims()
        probe = MIBFSketch(sk1.m_slots, sk1.num_hashes, sk1.shingle_w, [],
                           np.zeros(0, dtype=np.uint16))
        for li, lab in enumerate(labels, start=1):
            texts = np.array([r["text"] for r in rows if r["lang"] == lab])
            frames, _o, _t, _c = batch_doc_shingles(texts, sk1.shingle_w)
            acc = acc.merge(
                MIBFClaims.from_positions(probe.positions_for(frames), li)
            )
        local = MIBFSketch.from_claims(
            acc, sk1.m_slots, sk1.num_hashes, sk1.shingle_w, labels
        )
        # pre-saturation ownership must agree exactly
        from biobloom_spark.sketch.mibf import ID_MASK as _IDM

        assert np.array_equal(sk1.ids & _IDM, local.ids & _IDM)

    def test_one_id_per_slot_uint16(self, mibf):
        assert mibf.ids.dtype == np.uint16
        occupied = mibf.ids[mibf.ids != 0]
        assert ((occupied & ID_MASK) >= 1).all()
        assert ((occupied & ID_MASK) <= len(mibf.labels)).all()

    def test_saturation_marks_total_losses(self, spark):
        """Two labels with IDENTICAL content: every slot is contested, one
        label loses each; lost-everywhere frames mark saturation."""
        text = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame(
            [("a1", text, "a"), ("b1", text, "b")], "doc_id string, text string, lang string"
        )
        sk = build_mibf(spark, df, key_col="lang", occupancy=0.5)
        # identical frames -> every occupied slot contested; a frame is
        # totally lost by one label w.p. 2*(1/2)^h = 1/4, so a meaningful
        # saturated fraction must appear
        assert sk.saturation_rate() > 0.05
        # invariant: every totally-lost frame's slots carry the sat bit
        from biobloom_spark.functions.text import batch_doc_shingles

        frames, _o, _t, _c = batch_doc_shingles(np.array([text]), 3)
        pos = sk.positions_for(frames)
        for li in (1, 2):
            lost = sk.lost_elements(pos, li)
            if lost.any():
                raw = sk.ids[pos[:, lost]]
                assert ((raw & SAT_BIT) != 0).all()

    def test_build_raises_no_user_warning(self, spark):
        """Grouped applyInPandas kernels carry no partial type hints, which
        Spark would warn about on every build."""
        import warnings

        df, _kw = _saturation_corpus(spark, None, "identical")
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            sk = build_mibf(spark, df, key_col="lang", occupancy=0.5)
        assert sk.saturation_rate() > 0  # the saturation scan ran too

    def test_serde_roundtrip(self, mibf):
        back = MIBFSketch.deserialize(
            mibf.serialize(), mibf.m_slots, mibf.num_hashes, mibf.shingle_w,
            mibf.labels, mibf.seeds,
        )
        assert np.array_equal(back.ids, mibf.ids)


class TestClassify:
    def test_training_docs_classify_to_own_label(self, spark, labeled_corpus, mibf):
        res = classify_mibf(spark, labeled_corpus, mibf).join(
            labeled_corpus.select("doc_id", "lang"), on="doc_id"
        )
        rows = res.collect()
        correct = sum(r["assigned"] == r["lang"] for r in rows)
        assert correct / len(rows) >= 0.99

    def test_random_docs_no_match(self, spark, mibf):
        rng = np.random.default_rng(77)
        noise = spark.createDataFrame(
            [(f"n{i}", t) for i, t in enumerate(_vocab_texts(rng, "zz", 30, 60))],
            "doc_id string, text string",
        )
        res = classify_mibf(spark, noise, mibf)
        assert res.filter(F.col("assigned") != NO_MATCH).count() == 0

    def test_short_doc_is_nomatch(self, spark, mibf):
        df = spark.createDataFrame([("s", "alpha1 alpha2")], "doc_id string, text string")
        row = classify_mibf(spark, df, mibf).collect()[0]
        assert row["assigned"] == NO_MATCH and row["n_frames"] == 0

    def test_multi_match_window(self, spark):
        """A doc equally similar to two labels lands multiMatch; the -m
        window controls the call (Doc/MultiIndex.md §5)."""
        rng = np.random.default_rng(9)
        a = _vocab_texts(rng, "sh", 31, 60, vocab_size=200)
        shared = a[30]  # one text present in BOTH labels
        rows = [(f"a-{i}", t, "la") for i, t in enumerate(a[:15] + [shared])]
        rows += [(f"b-{i}", t, "lb") for i, t in enumerate(a[15:30] + [shared])]
        df = spark.createDataFrame(rows, "doc_id string, text string, lang string")
        # with only 2 labels, a 0.5-occupancy filter gives each label a huge
        # per-frame null prob (the reference's "more sequences lower the FPR"
        # note, Doc/MultiIndex.md §5) — use a sparse filter so the binomial
        # test has power at 58 frames
        sk = build_mibf(spark, df, key_col="lang", occupancy=0.1)
        probe = spark.createDataFrame(
            [("q", shared)], "doc_id string, text string"
        )
        # the shared text's contested slots split ~evenly between labels:
        # both significant, and with a wide-open window the read multimaps
        row = classify_mibf(spark, probe, sk, multi_thresh=1000).collect()[0]
        assert row["assigned"] == MULTI_MATCH
        assert set(row["hits"]) == {"la", "lb"}
        # a zero window keeps only the single best hit
        row0 = classify_mibf(spark, probe, sk, multi_thresh=0).collect()[0]
        assert row0["assigned"] in ("la", "lb") and len(row0["hits"]) == 1

    def test_sharded_classify_matches_single_pass(
        self, spark, labeled_corpus, mibf, force_budget
    ):
        """A broadcast cap forcing >= 3 segment passes must reproduce the
        single-pass classification byte-for-byte (assigned, ranked hits,
        frame counts, scores) — including on noise docs where saturation
        and empty-slot handling matter."""
        rng = np.random.default_rng(41)
        noise = spark.createDataFrame(
            [(f"n{i}", t) for i, t in enumerate(_vocab_texts(rng, "zz", 10, 60))]
            + [("empty", "one two")],  # 0-frame doc must still emit a row
            "doc_id string, text string",
        )
        probe = labeled_corpus.select("doc_id", "text").unionByName(noise)
        cap = mibf.ids.nbytes // 3
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        single = {r["doc_id"]: key(r) for r in classify_mibf(spark, probe, mibf).collect()}
        with force_budget(cap):
            sharded = {
                r["doc_id"]: key(r)
                for r in classify_mibf(spark, probe, mibf).collect()
            }
        assert single == sharded
        assert len(sharded) == probe.count()

    def test_sharded_classify_nondeterministic_source(
        self, spark, labeled_corpus, mibf, force_budget
    ):
        """Segment passes over a source whose row order changes between
        evaluations must still stitch each doc's own partials (pin_rows):
        per-doc results equal the single-pass results."""
        import random

        from pyspark.sql import functions as F

        jitter = F.udf(lambda: random.random(), "double").asNondeterministic()
        probe = labeled_corpus.select("doc_id", "text")
        shuffled = probe.withColumn("__j", jitter()).orderBy("__j").drop("__j")
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        single = {r["doc_id"]: key(r) for r in classify_mibf(spark, probe, mibf).collect()}
        with force_budget(mibf.ids.nbytes // 3):
            sharded = {
                r["doc_id"]: key(r)
                for r in classify_mibf(spark, shuffled, mibf).collect()
            }
        assert single == sharded

    def test_broadcast_cache_invalidated_on_mutation(self, spark, labeled_corpus, mibf):
        """Mutating the sketch's ids after a classify must invalidate the
        session-scoped broadcast cache (content checksum in the key), not
        silently classify against the stale payload."""
        import copy

        from biobloom_spark.operators.mibf import _sketch_broadcast

        # populate the fixture's own cache first: a classified sketch must
        # stay deepcopy-able (the Broadcast handle lives in a module-level
        # weakref-evicted cache, not in the instance __dict__ — a handle on
        # the object would crash deepcopy/pickle with
        # BROADCAST_VARIABLE_NOT_LOADED)
        _sketch_broadcast(spark, mibf)
        sk = copy.deepcopy(mibf)
        bc1 = _sketch_broadcast(spark, sk)
        assert _sketch_broadcast(spark, sk) is bc1  # cache hit
        sk.ids = np.zeros_like(sk.ids)  # wipe: classify must see this
        bc2 = _sketch_broadcast(spark, sk)
        assert bc2 is not bc1
        probe = labeled_corpus.select("doc_id", "text").limit(5)
        out = classify_mibf(spark, probe, sk).collect()
        assert all(r["assigned"] == "noMatch" for r in out)

    def test_summary_rows(self, spark, labeled_corpus, mibf):
        res = classify_mibf(spark, labeled_corpus, mibf)
        summ = {r["assigned"]: r["n_docs"] for r in mibf_summarize(res).collect()}
        assert sum(summ.values()) == labeled_corpus.count()


class TestSeeds:
    def test_seed_parsing(self):
        arr = seed_masks_to_arrays(["110", "011", "101"], 3)
        assert arr.shape == (3, 3) and arr.sum() == 6
        with pytest.raises(ValueError):
            seed_masks_to_arrays(["000"], 3)
        with pytest.raises(ValueError):
            seed_masks_to_arrays(["11"], 3)

    def test_seed_hashes_mask_sensitivity(self):
        """A seed ignoring position j must produce identical hashes for
        token streams differing only at j within the window."""
        toks_a = np.arange(10, dtype=np.uint64) + 100
        toks_b = toks_a.copy()
        toks_b[1] = 999  # mutate position 1
        seeds = seed_masks_to_arrays(["101", "110"], 3)
        counts = np.asarray([10])
        ha, _ = flat_seed_hashes(toks_a, counts, 3, seeds)
        hb, _ = flat_seed_hashes(toks_b, counts, 3, seeds)
        # seed '101' skips window position 1: frame 0 (tokens 0,1,2) hash equal
        assert ha[0, 0] == hb[0, 0]
        # seed '110' covers position 1: frame 0 differs
        assert ha[1, 0] != hb[1, 0]
        # frames not covering token 1 are identical everywhere
        assert np.array_equal(ha[:, 3:], hb[:, 3:])

    def test_seeded_mibf_miss_tolerance(self, spark):
        """Spaced seeds classify reads with scattered token corruptions
        that break every contiguous shingle — the sensitivity win the
        reference documents (Doc/MultiIndex.md §4)."""
        rng = np.random.default_rng(13)
        vocab = [f"v{i}" for i in range(300)]
        base = [" ".join(rng.choice(vocab, 80)) for _ in range(20)]
        df = spark.createDataFrame(
            [(f"d{i}", t, "lab") for i, t in enumerate(base)],
            "doc_id string, text string, lang string",
        )
        w = 5
        seeds = ["11011", "10111", "11101"]  # each tolerates one gap position
        sk = build_mibf(spark, df, key_col="lang", shingle_w=w, seeds=seeds,
                        occupancy=0.05)
        # corrupt every 5th token of a training doc: every contiguous
        # 5-shingle contains >=1 corruption, but seeds skipping that
        # position still fire
        toks = base[0].split()
        for j in range(2, len(toks), 5):
            toks[j] = "CORRUPT"
        probe = spark.createDataFrame(
            [("q", " ".join(toks))], "doc_id string, text string"
        )
        row = classify_mibf(spark, probe, sk, alpha=1e-6).collect()[0]
        assert row["assigned"] == "lab"


class TestPairedClassify:
    """classify_mibf_pairs (-e): counts sum across mates against the
    combined frame count (MIBFClassifier.hpp:753-835)."""

    def test_pair_with_empty_mate_equals_single(self, spark, labeled_corpus, mibf):
        from biobloom_spark.operators.mibf import classify_mibf_pairs

        pairs = labeled_corpus.select(
            "doc_id", F.col("text").alias("text1"), F.lit(None).cast("string").alias("text2")
        )
        paired = {r["doc_id"]: r for r in classify_mibf_pairs(spark, pairs, mibf).collect()}
        single = {r["doc_id"]: r for r in classify_mibf(spark, labeled_corpus, mibf).collect()}
        assert paired.keys() == single.keys()
        for k in single:
            assert paired[k]["assigned"] == single[k]["assigned"], k
            assert paired[k]["n_frames"] == single[k]["n_frames"], k
            assert abs(paired[k]["best_score"] - single[k]["best_score"]) < 1e-9, k

    def test_pair_is_mate_symmetric(self, spark, labeled_corpus, mibf):
        from biobloom_spark.operators.mibf import classify_mibf_pairs

        rng = np.random.default_rng(9)
        halves = labeled_corpus.limit(30).select(
            "doc_id",
            F.substring_index("text", " ", 30).alias("text1"),
            F.substring_index(F.reverse("text"), " ", 30).alias("text2"),
        )
        a = {r["doc_id"]: r["assigned"] for r in classify_mibf_pairs(spark, halves, mibf).collect()}
        swapped = halves.select(
            "doc_id", F.col("text2").alias("text1"), F.col("text1").alias("text2")
        )
        b = {r["doc_id"]: r["assigned"] for r in classify_mibf_pairs(spark, swapped, mibf).collect()}
        assert a == b

    def test_pair_combines_evidence(self, spark, labeled_corpus, mibf):
        """Splitting a doc across mates classifies like the whole doc —
        the count-sum semantics (evidence accumulates across the pair)."""
        from biobloom_spark.operators.mibf import classify_mibf_pairs

        docs = labeled_corpus.limit(40)
        split = docs.select(
            "doc_id",
            F.array_join(F.slice(F.split("text", " "), 1, 30), " ").alias("text1"),
            F.array_join(F.slice(F.split("text", " "), 31, 30), " ").alias("text2"),
        )
        res = classify_mibf_pairs(spark, split, mibf).join(
            labeled_corpus.select("doc_id", "lang"), on="doc_id"
        )
        rows = res.collect()
        correct = sum(r["assigned"] == r["lang"] for r in rows)
        assert correct / len(rows) >= 0.95

    def test_sharded_pairs_match_single_pass(
        self, spark, labeled_corpus, mibf, force_budget
    ):
        """The sharded escape hatch must reproduce paired classification
        byte-for-byte, including null mates."""
        from biobloom_spark.operators.mibf import classify_mibf_pairs

        pairs = labeled_corpus.limit(40).select(
            "doc_id",
            F.array_join(F.slice(F.split("text", " "), 1, 30), " ").alias("text1"),
            F.when(
                F.col("doc_id").contains("-1"), F.lit(None).cast("string")
            ).otherwise(
                F.array_join(F.slice(F.split("text", " "), 31, 30), " ")
            ).alias("text2"),
        )
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        dense = {r["doc_id"]: key(r) for r in classify_mibf_pairs(spark, pairs, mibf).collect()}
        with force_budget(mibf.ids.nbytes // 3):
            sharded = {
                r["doc_id"]: key(r)
                for r in classify_mibf_pairs(spark, pairs, mibf).collect()
            }
        assert dense == sharded

    def test_merge_counts_sums_keyed(self):
        from biobloom_spark.operators.mibf import _merge_counts

        k1 = np.asarray([3, 7, 9], dtype=np.int64)
        c1 = np.asarray([2, 5, 1], dtype=np.int64)
        f1 = np.asarray([1, 4, 0], dtype=np.int64)
        k2 = np.asarray([7, 11], dtype=np.int64)
        c2 = np.asarray([3, 6], dtype=np.int64)
        f2 = np.asarray([2, 6], dtype=np.int64)
        keys, counts, full = _merge_counts([(k1, c1, f1), (k2, c2, f2)])
        assert keys.tolist() == [3, 7, 9, 11]
        assert counts.tolist() == [2, 8, 1, 6]
        assert full.tolist() == [1, 6, 0, 6]


def _dna_reads(rng, genome: str, n: int, read_len: int = 150):
    starts = rng.integers(0, len(genome) - read_len, n)
    return [" ".join(genome[int(s) : int(s) + read_len]) for s in starts]


@pytest.fixture(scope="module")
def dna_corpus(spark):
    """Three synthetic genomes; training reads are forward-strand slices
    (space-separated bases — the char-token contract of the DNA CLI)."""
    rng = np.random.default_rng(77)
    genomes = {
        lab: "".join(rng.choice(list("ACGT"), 3000))
        for lab in ("eco", "hum", "yst")
    }
    rows = []
    for lab, g in genomes.items():
        for i, text in enumerate(_dna_reads(rng, g, 30)):
            rows.append((f"{lab}-{i}", text, lab))
    df = spark.createDataFrame(
        rows, "doc_id string, text string, lang string"
    ).cache()
    return genomes, df


def _rc_reads(df):
    """Reverse-complement every read (revcomp maps spaces to themselves,
    so the space-separated base layout is preserved)."""
    from biobloom_spark.functions.text import revcomp

    return [(r["doc_id"], revcomp(r["text"]), r["lang"]) for r in df.collect()]


class TestHashFamilies:
    """Canonical / ntHash miBF modes (round-4: the MI twin of the plain
    Bloom path's round-3 canonical + published-ntHash support; the
    reference miBF hashes through canonical ntHash — MIBFGen.hpp's
    ntHashIterator / stHashIterator)."""

    K = 15

    def _accuracy(self, spark, sketch, rows):
        df = spark.createDataFrame(rows, "doc_id string, text string, lang string")
        res = classify_mibf(spark, df, sketch, id_col="doc_id").collect()
        truth = {r[0]: r[2] for r in rows}
        ok = sum(1 for r in res if r["assigned"] == truth[r["doc_id"]])
        return ok / len(res)

    def test_canonical_poly_classifies_reverse_strand(self, spark, dna_corpus):
        _, df = dna_corpus
        sk = build_mibf(
            spark, df, key_col="lang", shingle_w=self.K, canonical=True
        )
        fw = [(r["doc_id"], r["text"], r["lang"]) for r in df.collect()]
        rc = _rc_reads(df)
        assert self._accuracy(spark, sk, fw) >= 0.95
        assert self._accuracy(spark, sk, rc) >= 0.95

    def test_noncanonical_poly_misses_reverse_strand(self, spark, dna_corpus):
        _, df = dna_corpus
        sk = build_mibf(
            spark, df, key_col="lang", shingle_w=self.K, canonical=False
        )
        # fw-only filter: rc reads share no frames with the build
        assert self._accuracy(spark, sk, _rc_reads(df)) <= 0.05

    def test_nthash_classifies_both_strands(self, spark, dna_corpus):
        _, df = dna_corpus
        sk = build_mibf(
            spark, df, key_col="lang", shingle_w=self.K, hash_family="nthash"
        )
        assert sk.hash_family == "nthash"
        fw = [(r["doc_id"], r["text"], r["lang"]) for r in df.collect()]
        assert self._accuracy(spark, sk, fw) >= 0.95
        # NTC64 is canonical by construction
        assert self._accuracy(spark, sk, _rc_reads(df)) >= 0.95

    def test_nthash_serde_roundtrip(self, spark, dna_corpus, tmp_path):
        from biobloom_spark.operators.mibf import load_mibf, save_mibf

        _, df = dna_corpus
        sk = build_mibf(
            spark, df, key_col="lang", shingle_w=self.K, hash_family="nthash"
        )
        save_mibf(spark, sk, str(tmp_path / "mi_nthash.parquet"))
        lo = load_mibf(spark, str(tmp_path / "mi_nthash.parquet"))
        assert (lo.hash_family, lo.canonical) == ("nthash", False)
        assert np.array_equal(lo.ids, sk.ids)
        fw = [(r["doc_id"], r["text"], r["lang"]) for r in df.collect()]
        assert self._accuracy(spark, lo, fw) >= 0.95

    def test_sharded_classify_matches_single_pass_nthash(
        self, spark, dna_corpus, force_budget
    ):
        """Broadcast and slot-segment routes agree on nthash reads, null
        reads included (0 frames, noMatch on both routes)."""
        _, df = dna_corpus
        sk = build_mibf(
            spark, df, key_col="lang", shingle_w=self.K, hash_family="nthash",
        )
        probe = df.select("doc_id", "text").unionByName(spark.createDataFrame(
            [("null-a", None), ("null-b", None)], "doc_id string, text string"
        ))
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        dense = {
            r["doc_id"]: key(r)
            for r in classify_mibf(spark, probe, sk, id_col="doc_id").collect()
        }
        with force_budget(sk.ids.nbytes // 3):
            sharded = {
                r["doc_id"]: key(r)
                for r in classify_mibf(spark, probe, sk, id_col="doc_id").collect()
            }
        assert dense == sharded
        for d in ("null-a", "null-b"):
            assert sharded[d][:3] == (NO_MATCH, (), 0)

    def test_seed_mode_rejects_nonpoly(self, spark, dna_corpus):
        _, df = dna_corpus
        with pytest.raises(ValueError, match="poly-family only"):
            build_mibf(
                spark, df, key_col="lang", shingle_w=5,
                seeds=["10101", "11011"], hash_family="nthash",
            )
        with pytest.raises(ValueError, match="poly-family only"):
            MIBFSketch(
                64, 2, 5, [], np.zeros(64, dtype=np.uint16),
                seed_masks_to_arrays(["10101"], 5), canonical=True,
            )


class TestStore:
    """Parquet-segment store (operators/mibf_store.py): the miBF
    lifecycle with the id array never assembled in one process — must be
    byte-identical to the in-memory build/classify at every step."""

    @pytest.fixture(scope="class")
    def store_env(
        self, spark, labeled_corpus, mibf, tmp_path_factory, force_budget
    ):
        from biobloom_spark.operators.mibf_store import build_mibf_store

        path = str(tmp_path_factory.mktemp("mistore") / "mi")
        with force_budget(1):
            store = build_mibf_store(
                spark, labeled_corpus, path, key_col="lang", occupancy=0.5,
            )
        return store, path

    def test_store_build_matches_in_memory(self, spark, mibf, store_env):
        store, _ = store_env
        assert store.n_segments >= 5
        assert store.to_sketch(spark).serialize() == mibf.serialize()
        np.testing.assert_array_equal(store.label_counts, mibf.slots_per_label())
        np.testing.assert_allclose(store.per_frame_prob(), mibf.per_frame_prob())
        assert store.occupancy() == pytest.approx(mibf.occupancy())
        assert store.saturation_rate() == pytest.approx(mibf.saturation_rate())

    def test_store_build_with_saturation_matches(
        self, spark, tmp_path, force_budget
    ):
        """Same degenerate corpus as the saturation reference test: the
        store's cogrouped SAT update must set the same bits."""
        from biobloom_spark.operators.mibf_store import build_mibf_store

        text = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame(
            [("a1", text, "a"), ("b1", text, "b")],
            "doc_id string, text string, lang string",
        )
        dense = build_mibf(spark, df, key_col="lang", occupancy=0.5)
        assert dense.saturation_rate() > 0.05
        with force_budget(1):
            store = build_mibf_store(
                spark, df, str(tmp_path / "sat"), key_col="lang", occupancy=0.5,
            )
        assert store.to_sketch(spark).serialize() == dense.serialize()
        assert store.sat_slots == int(((dense.ids & SAT_BIT) != 0).sum())

    def test_store_classify_matches_in_memory(
        self, spark, labeled_corpus, mibf, store_env, force_budget
    ):
        """``classify_mibf`` takes the store on both routes: at the
        session budget it assembles it and classifies in one broadcast pass
        (no exchange); under a budget below ``ids_nbytes`` it fetches the
        parquet segments one pass at a time (the one stitch exchange).
        Both equal the in-memory rows."""
        from biobloom_spark.operators.mibf_store import load_mibf_store
        from biobloom_spark.plans import count_exchanges

        store, path = store_env
        store = load_mibf_store(spark, path)  # exercise the load path too
        rng = np.random.default_rng(43)
        noise = spark.createDataFrame(
            [(f"n{i}", t) for i, t in enumerate(_vocab_texts(rng, "qq", 8, 60))]
            + [("empty", "one two")],
            "doc_id string, text string",
        )
        probe = labeled_corpus.select("doc_id", "text").unionByName(noise)
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        dense = {
            r["doc_id"]: key(r) for r in classify_mibf(spark, probe, mibf).collect()
        }
        single = classify_mibf(spark, probe, store)
        assert count_exchanges(single) == 0
        assert {r["doc_id"]: key(r) for r in single.collect()} == dense
        with force_budget(store.ids_nbytes - 1):
            fetched = classify_mibf(spark, probe, store)
            assert count_exchanges(fetched) == 1
            from_store = {r["doc_id"]: key(r) for r in fetched.collect()}
        assert dense == from_store
        assert len(from_store) == probe.count()

    def test_store_classify_pairs_matches_in_memory(
        self, spark, labeled_corpus, mibf, store_env, force_budget
    ):
        from biobloom_spark.operators.mibf import classify_mibf_pairs
        from biobloom_spark.plans import count_exchanges

        store, _ = store_env
        texts = [r["text"] for r in labeled_corpus.limit(12).collect()]
        pairs = spark.createDataFrame(
            [
                (f"p{i}", texts[i], texts[(i + 1) % len(texts)])
                for i in range(len(texts))
            ]
            + [("halfpair", texts[0], None)],
            "doc_id string, text1 string, text2 string",
        )
        key = lambda r: (
            r["assigned"], tuple(r["hits"]), r["n_frames"],
            round(r["best_score"], 9),
        )
        dense = {
            r["doc_id"]: key(r)
            for r in classify_mibf_pairs(spark, pairs, mibf).collect()
        }
        single = classify_mibf_pairs(spark, pairs, store)
        assert count_exchanges(single) == 0
        assert {r["doc_id"]: key(r) for r in single.collect()} == dense
        with force_budget(store.ids_nbytes - 1):
            fetched = classify_mibf_pairs(spark, pairs, store)
            assert count_exchanges(fetched) == 1
            from_store = {r["doc_id"]: key(r) for r in fetched.collect()}
        assert dense == from_store

    def test_store_resume_from_kill(self, spark, labeled_corpus, tmp_path, monkeypatch):
        """Checkpointed lifecycle: kill after the resolution stage, resume
        without repeating it; later stages checkpoint too; a param change
        invalidates the snapshot and rebuilds from scratch."""
        import biobloom_spark.operators.mibf_store as ms
        from biobloom_spark.checkpoint import committed

        path = str(tmp_path / "resume")
        kw = dict(
            key_col="lang", occupancy=0.5, snapshot_id="snap-a",
        )
        reference = build_mibf(spark, labeled_corpus, key_col="lang", occupancy=0.5)

        def boom(*a, **k):
            raise RuntimeError("killed mid-build")

        # run 1: dies between resolution and saturation — resolved is
        # checkpointed, segments/meta are not
        monkeypatch.setattr(ms, "_lost_slot_scan", boom)
        with pytest.raises(RuntimeError, match="killed"):
            ms.build_mibf_store(spark, labeled_corpus, path, **kw)
        monkeypatch.undo()
        assert committed(spark, f"{path}/resolved")
        assert not committed(spark, f"{path}/segments")

        # run 2: resumes past resolution (which would now raise) and
        # completes identically to the dense build
        monkeypatch.setattr(ms, "_resolved_segments", boom)
        store = ms.build_mibf_store(spark, labeled_corpus, path, **kw)
        monkeypatch.undo()
        assert store.to_sketch(spark).serialize() == reference.serialize()

        # run 3: complete store short-circuits before the sizing pass
        monkeypatch.setattr(ms, "_prep_build", boom)
        again = ms.build_mibf_store(spark, labeled_corpus, path, **kw)
        monkeypatch.undo()
        assert again.label_counts.tolist() == store.label_counts.tolist()
        assert again.to_sketch(spark).serialize() == reference.serialize()

        # run 4: changed snapshot id = different input -> full rebuild
        # (stale state discarded, not resumed)
        store2 = ms.build_mibf_store(
            spark, labeled_corpus, path,
            key_col="lang", occupancy=0.5, snapshot_id="snap-b",
        )
        assert store2.to_sketch(spark).serialize() == reference.serialize()

    def test_store_resume_keeps_checkpoint_segments(
        self, spark, labeled_corpus, mibf, tmp_path, monkeypatch, force_budget
    ):
        """A build checkpointed under one broadcast budget and resumed
        under another whose segment count differs finishes with the
        checkpoint's segment bounds, and equals a fresh build."""
        import biobloom_spark.operators.mibf_store as ms
        from biobloom_spark.checkpoint import committed
        from biobloom_spark.operators.mibf import _mibf_segments

        path = str(tmp_path / "rebudget")
        kw = dict(key_col="lang", occupancy=0.5, snapshot_id="s")
        s_first = _mibf_segments(spark, mibf.m_slots)

        def boom(*a, **k):
            raise RuntimeError("killed mid-build")

        with monkeypatch.context() as mp:
            mp.setattr(ms, "_lost_slot_scan", boom)
            with pytest.raises(RuntimeError, match="killed"):
                ms.build_mibf_store(spark, labeled_corpus, path, **kw)
        assert committed(spark, f"{path}/resolved")
        with force_budget(mibf.ids.nbytes // 40):
            assert _mibf_segments(spark, mibf.m_slots) >= 40 > s_first
            with monkeypatch.context() as mp:
                mp.setattr(ms, "_resolved_segments", boom)
                store = ms.build_mibf_store(spark, labeled_corpus, path, **kw)
            fresh = ms.build_mibf_store(
                spark, labeled_corpus, str(tmp_path / "fresh"),
                key_col="lang", occupancy=0.5,
            )
        assert store.n_segments == s_first
        assert ms.load_mibf_store(spark, path).n_segments == s_first
        assert fresh.n_segments >= 40
        assert store.to_sketch(spark).serialize() == fresh.to_sketch(spark).serialize()
        np.testing.assert_array_equal(store.label_counts, fresh.label_counts)
        assert store.sat_slots == fresh.sat_slots

    def test_store_old_fingerprint_rebuilds(
        self, spark, labeled_corpus, mibf, tmp_path, monkeypatch
    ):
        """A checkpoint from an older format — its fingerprint in a
        ``{path}/snapshot`` parquet, a committed resolved/ stage without
        the lost-pair column — is discarded: the resolution stage reruns
        instead of resuming from that checkpoint."""
        import hashlib

        import biobloom_spark.operators.mibf_store as ms

        path = str(tmp_path / "oldfp")
        kw = dict(
            key_col="lang", occupancy=0.5, snapshot_id="snap-old",
        )
        old_params = repr((
            "lang", "text", 3, 3, 0.5, None, None, 1, 4, False, "poly",
        ))
        old_fp = hashlib.md5(("snap-old|" + old_params).encode()).hexdigest()
        spark.createDataFrame([(old_fp,)], "fp string").write.parquet(
            f"{path}/snapshot"
        )
        # a committed resolved/ stage without the lost column
        spark.createDataFrame([(0, b"")], "seg int, ids binary").write.parquet(
            f"{path}/resolved"
        )
        calls = []
        real = ms._resolved_segments

        def spy(*a, **k):
            calls.append(1)
            return real(*a, **k)

        monkeypatch.setattr(ms, "_resolved_segments", spy)
        store = ms.build_mibf_store(spark, labeled_corpus, path, **kw)
        assert calls == [1]
        assert store.to_sketch(spark).serialize() == mibf.serialize()


class TestClaimsWireFormat:
    def test_roundtrip_packed_sparse_empty_single(self):
        """Adaptive-width wire format: ties are derived from (slot, label),
        slots ride as min-width deltas, labels as 1 byte when they fit."""
        import numpy as np

        from biobloom_spark.sketch.mibf import (
            MIBFClaims,
            _recompute_ties,
            claim_ties,
        )

        rng = np.random.default_rng(3)
        slots = np.unique(rng.integers(0, 1 << 30, size=100_000, dtype=np.int64))
        labels = rng.integers(1, 100, size=slots.size).astype(np.uint16)
        c = MIBFClaims(slots, _recompute_ties(slots, labels))
        blob = c.serialize()
        assert blob[:1] == b"W"
        # density 1e5/2^30 -> max delta < 2^24 -> 3-byte deltas, 1-byte labels
        assert len(blob) <= 4 * slots.size + 16
        d = MIBFClaims.deserialize(blob)
        assert np.array_equal(d.slots, c.slots) and np.array_equal(d.ties, c.ties)
        # dense slot space -> 2-byte deltas (the bench shape)
        s_dense = np.unique(rng.integers(0, 1 << 20, size=50_000, dtype=np.int64))
        c_dense = MIBFClaims(
            s_dense, _recompute_ties(s_dense, np.ones(s_dense.size, dtype=np.uint16))
        )
        assert len(c_dense.serialize()) <= 3 * s_dense.size + 16
        # elementwise tie recompute == per-label claim_ties
        assert np.array_equal(
            claim_ties(slots[:64], 7),
            _recompute_ties(slots[:64], np.full(64, 7, dtype=np.uint16)),
        )
        # >=2^48 delta -> width widens to 8 bytes, still exact
        s2 = np.asarray([5, 5 + (1 << 49)], dtype=np.int64)
        c2 = MIBFClaims(s2, _recompute_ties(s2, np.asarray([1, 2], dtype=np.uint16)))
        d2 = MIBFClaims.deserialize(c2.serialize())
        assert np.array_equal(d2.slots, c2.slots) and np.array_equal(d2.ties, c2.ties)
        # labels >= 256 -> 2-byte labels, still exact
        s4 = np.sort(rng.choice(1 << 16, size=1000, replace=False)).astype(np.int64)
        l4 = rng.integers(1, 30000, size=s4.size).astype(np.uint16)
        c4 = MIBFClaims(s4, _recompute_ties(s4, l4))
        d4 = MIBFClaims.deserialize(c4.serialize())
        assert np.array_equal(d4.slots, c4.slots) and np.array_equal(d4.ties, c4.ties)
        # the older fixed-width tags still decode (in-flight compat)
        legacy_t = (
            b"T" + int(s4[0]).to_bytes(8, "little")
            + np.ascontiguousarray(
                np.diff(s4).astype("<u8")
            ).view(np.uint8).reshape(-1, 8)[:, :6].tobytes()
            + l4.astype("<u2").tobytes()
        )
        dt = MIBFClaims.deserialize(legacy_t)
        assert np.array_equal(dt.slots, c4.slots) and np.array_equal(dt.ties, c4.ties)
        legacy_u = b"U" + s4.tobytes() + l4.astype("<u2").tobytes()
        du = MIBFClaims.deserialize(legacy_u)
        assert np.array_equal(du.slots, c4.slots) and np.array_equal(du.ties, c4.ties)
        # empty + single
        assert MIBFClaims.deserialize(MIBFClaims().serialize()).slots.size == 0
        s3 = np.asarray([123456789], dtype=np.int64)
        c3 = MIBFClaims(s3, _recompute_ties(s3, np.asarray([42], dtype=np.uint16)))
        d3 = MIBFClaims.deserialize(c3.serialize())
        assert np.array_equal(d3.slots, c3.slots) and np.array_equal(d3.ties, c3.ties)


class TestLostPairSaturation:
    """Round-6 internals: pair-dedup claims merge + lost-pair saturation."""

    def test_pair_merge_keeps_losers_and_winners_match_min(self):
        from biobloom_spark.sketch.mibf import MIBFClaims, _TIE_LABEL_MASK

        rng = np.random.default_rng(7)
        parts = [
            MIBFClaims.from_positions(rng.integers(0, 500, (3, 80)), li)
            for li in (1, 2, 3, 4)
        ]
        acc = MIBFClaims.merge_all(parts)
        # brute force: per (slot, label) claims, winner = min tie
        ref: dict[int, dict[int, int]] = {}
        for p in parts:
            for s, t in zip(p.slots, p.ties):
                lab = int(t & _TIE_LABEL_MASK)
                ref.setdefault(int(s), {})[lab] = int(t)
        # merged entries == all distinct (slot, label) claims
        got_pairs = {
            (int(s), int(t & _TIE_LABEL_MASK)) for s, t in zip(acc.slots, acc.ties)
        }
        want_pairs = {(s, lab) for s, labs in ref.items() for lab in labs}
        assert got_pairs == want_pairs
        # winners == min tie per slot
        win = acc.winners()
        assert win.slots.size == len(ref)
        for s, t in zip(win.slots, win.ties):
            assert int(t) == min(ref[int(s)].values())
        # lost pairs == everything that is not the winner
        ls, ll = acc.lost_pairs()
        got_lost = set(zip(ls.tolist(), ll.tolist()))
        want_lost = {
            (s, int(np.uint64(t) & _TIE_LABEL_MASK))
            for s, labs in ref.items()
            for t in labs.values()
            if t != min(ref[s].values())
        }
        assert got_lost == want_lost

    def test_wire_roundtrip_with_duplicate_slots(self):
        from biobloom_spark.sketch.mibf import MIBFClaims, _recompute_ties

        # multi-label entries on the same slot (pair-dedup keeps them)
        slots = np.asarray([5, 5, 5, 9, 9, 1000], dtype=np.int64)
        labels = np.asarray([1, 2, 7, 3, 4, 1], dtype=np.uint16)
        order = np.lexsort((_recompute_ties(slots, labels), slots))
        slots, labels = slots[order], labels[order]
        c = MIBFClaims(slots, _recompute_ties(slots, labels))
        d = MIBFClaims.deserialize(c.serialize())
        assert np.array_equal(d.slots, c.slots)
        assert np.array_equal(d.ties, c.ties)

    @pytest.mark.parametrize("budget", [None, 1, "ids_third", "lost_two_thirds"])
    @pytest.mark.parametrize("corpus", ["identical", "shared", "nthash"])
    def test_lost_slot_scan_matches_local_reference(
        self, spark, request, monkeypatch, force_budget, corpus, budget
    ):
        """Every saturation route is byte-identical to a local numpy
        reference: ownership from ``MIBFSketch.from_claims`` and saturation
        from ``lost_elements`` per label.  The budgets force one label group
        (default cap), one group per label (1 byte), a third of the id
        array, and two thirds of the lost sets' total (groups of one and of
        two labels side by side); the scan's plan has one MapInPandas leg
        per label group."""
        from biobloom_spark.operators import mibf as M
        from biobloom_spark.session import _broadcast_budget

        df, kw = _saturation_corpus(spark, request, corpus)
        ref, n_frames, lost_bytes = _saturation_reference(df, kw)
        m_slots = ref.m_slots

        cap = {
            "ids_third": 2 * m_slots // 3,
            "lost_two_thirds": 2 * sum(lost_bytes) // 3,
        }.get(budget, budget)
        # labels pack in index order; a group closes when the next set
        # would take it past the budget
        groups, used = 0, 0
        limit = _broadcast_budget(spark) if cap is None else cap
        for b in (x for x in lost_bytes if x):
            if groups == 0 or used + b > limit:
                groups, used = groups + 1, 0
            used += b
        scans = []
        real = M._lost_slot_scan

        def spy(*a, **k):
            scans.append(real(*a, **k))
            return scans[-1]

        monkeypatch.setattr(M, "_lost_slot_scan", spy)
        with contextlib.nullcontext() if cap is None else force_budget(cap):
            sk = M.build_mibf(
                spark, df, key_col="lang", occupancy=0.5,
                expected_entries=n_frames, **kw,
            )
        assert sk.serialize() == ref.serialize()
        plan = scans[0]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInPandas") == groups

    @pytest.mark.parametrize("corpus", ["identical", "shared", "nthash"])
    def test_saturation_scan_is_map_only(
        self, spark, request, monkeypatch, tmp_path, force_budget, corpus
    ):
        """The saturation scan is the union of its map-only legs — no
        Exchange and no per-segment dedup reducer — because both consumers
        OR ``SAT_BIT`` idempotently over overlapping rows.  The ids of
        ``build_mibf`` and of the ``build_mibf_store`` segments both equal
        the local reference."""
        from biobloom_spark.operators import mibf as M
        from biobloom_spark.operators import mibf_store as MS

        df, kw = _saturation_corpus(spark, request, corpus)
        ref, n_frames, _lost = _saturation_reference(df, kw)
        scans = []
        real = M._lost_slot_scan

        def spy(*a, **k):
            scans.append(real(*a, **k))
            return scans[-1]

        monkeypatch.setattr(M, "_lost_slot_scan", spy)
        monkeypatch.setattr(MS, "_lost_slot_scan", spy)
        sk = M.build_mibf(
            spark, df, key_col="lang", occupancy=0.5, expected_entries=n_frames,
            **kw,
        )
        with force_budget(1):
            store = MS.build_mibf_store(
                spark, df, str(tmp_path / "store"), key_col="lang",
                occupancy=0.5, expected_entries=n_frames, **kw,
            )
        assert len(scans) == 2
        for scan in scans:
            plan = scan._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "FlatMapGroupsInPandas" not in plan, plan
        np.testing.assert_array_equal(sk.ids, ref.ids)
        np.testing.assert_array_equal(store.to_sketch(spark).ids, ref.ids)
