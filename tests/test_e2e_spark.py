"""End-to-end Spark tests: maker → registry → categorizer → summary.

The exact-set oracle the reference never had (SURVEY.md §5(f)): at small
scale we can compute true shingle membership and verify classification
decisions and the engine's hard invariants:
- no false negatives: every training doc must hit its own filter (Bloom
  never drops an inserted frame);
- partition-invariance: bitmaps identical across bucket counts;
- resumability: a second build with a partials checkpoint reuses partials.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from biobloom_spark.config import BloomParams, BuildConfig, CategorizerConfig, ScoringConfig
from biobloom_spark.corpus import generate_corpus, generate_corpus_pandas
from biobloom_spark.operators.categorizer import (
    categorize,
    categorize_pairs,
    summarize,
    write_demultiplexed,
)
from biobloom_spark.operators.maker import build_filters, load_registry, size_filters

LANGS = ("en", "de", "fr")


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(
        spark, 400, seed=11, langs=LANGS, shared_frac=0.15, mean_tokens=80, num_partitions=4
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def registry(spark, corpus):
    reg = build_filters(
        spark,
        corpus,
        key_col="lang",
        text_col="text",
        id_col="url",
        params=BloomParams(),
    )
    return load_registry(reg)


class TestMaker:
    def test_sizing_prepass_matches_reference_formula(self, spark, corpus):
        sizing = size_filters(corpus, "lang", "text", BloomParams())
        assert set(sizing) == set(LANGS)
        for meta in sizing.values():
            assert meta["m_bits"] % 64 == 0
            assert meta["num_hashes"] == 7  # optimal for 0.0078125
            assert meta["expected_entries"] > 0

    def test_registry_contents(self, registry):
        assert sorted(f["filter_id"] for f in registry) == sorted(LANGS)
        for f in registry:
            assert len(f["bitmap"]) == f["m_bits"] // 8
            # built filter must meet the configured FPR bound
            assert f["fpr"] <= f["target_fpr"] * 1.5

    def test_resume_from_partials(self, spark, corpus, tmp_path):
        ppath = str(tmp_path / "partials")
        reg1 = build_filters(
            spark, corpus, id_col="url", partials_path=ppath, keys=["en"],
            snapshot_id="corpus-v1",
        )
        bitmap1 = {r["filter_id"]: bytes(r["bitmap"]) for r in reg1.collect()}
        assert os.path.exists(ppath)
        # lineage rows written, one per (filter, bucket)
        lineage = spark.read.parquet(ppath + "_lineage")
        assert lineage.count() == lineage.select("filter_id", "bucket").distinct().count()
        # resume against the SAME snapshot: all partials complete → rebuild
        # reuses them (and the merged bitmap is unchanged)
        n_partials = spark.read.parquet(ppath).count()
        reg2 = build_filters(
            spark, corpus, id_col="url", partials_path=ppath, keys=["en"],
            snapshot_id="corpus-v1",
        )
        bitmap2 = {r["filter_id"]: bytes(r["bitmap"]) for r in reg2.collect()}
        assert bitmap1 == bitmap2
        # no new partials were appended — the checkpoint was actually reused
        assert spark.read.parquet(ppath).count() == n_partials

    def test_resume_rejects_changed_snapshot(self, spark, corpus, tmp_path):
        """A changed input snapshot must NOT silently reuse stale partials
        (which would drop/double-count data); the build starts fresh."""
        ppath = str(tmp_path / "partials")
        build_filters(
            spark, corpus.limit(100), id_col="url", partials_path=ppath, keys=["en"],
            snapshot_id="corpus-v1",
        )
        # different snapshot id → stale partials discarded, full rebuild
        reg = build_filters(
            spark, corpus, id_col="url", partials_path=ppath, keys=["en"],
            snapshot_id="corpus-v2",
        )
        ref = build_filters(
            spark, corpus, id_col="url", keys=["en"],
        )
        got = {r["filter_id"]: bytes(r["bitmap"]) for r in reg.collect()}
        want = {r["filter_id"]: bytes(r["bitmap"]) for r in ref.collect()}
        assert got == want

    def test_resume_rejects_changed_params(self, spark, corpus, tmp_path):
        """Same input snapshot but different build-shaping params (here
        coalesce_input, which renumbers partition ids) must NOT resume —
        stale partials under new partition ids would silently drop data.
        The fingerprint covers the params, so the build starts fresh."""
        ppath = str(tmp_path / "partials")
        # stale state: a (complete) build over the WRONG subset, same
        # snapshot id — only the param change can force the rebuild
        build_filters(
            spark, corpus.limit(100), id_col="url", partials_path=ppath, keys=["en"],
            snapshot_id="corpus-v1",
        )
        reg = build_filters(
            spark, corpus, id_col="url", partials_path=ppath,
            build=BuildConfig(coalesce_input=2),
            keys=["en"], snapshot_id="corpus-v1",
        )
        ref = build_filters(
            spark, corpus, id_col="url",
            build=BuildConfig(coalesce_input=2),
            keys=["en"],
        )
        got = {r["filter_id"]: bytes(r["bitmap"]) for r in reg.collect()}
        want = {r["filter_id"]: bytes(r["bitmap"]) for r in ref.collect()}
        assert got == want

    def test_resume_rejects_changed_partition_count(self, spark, corpus, tmp_path):
        """Bucket ids are partition ids: a checkpoint holding buckets 0-1
        of a 4-partition build (a build killed after two tasks) must not
        be resumed by a 2-partition build of the same snapshot, whose
        buckets 0-1 hold other documents."""
        ppath = str(tmp_path / "partials")
        four = corpus.repartition(4)
        build_filters(
            spark, four.filter(F.spark_partition_id() < 2), id_col="url",
            partials_path=ppath, snapshot_id="corpus-v1",
        ).collect()
        two = corpus.repartition(2)
        reg = build_filters(
            spark, two, id_col="url", partials_path=ppath, snapshot_id="corpus-v1",
        )
        ref = build_filters(spark, two, id_col="url")
        cols = ("filter_id", "n_docs", "bitmap")
        got = sorted((r[0], r[1], bytes(r[2])) for r in reg.select(*cols).collect())
        want = sorted((r[0], r[1], bytes(r[2])) for r in ref.select(*cols).collect())
        assert got == want

    def test_input_listing_read_only_for_checkpointed_builds(
        self, spark, corpus, tmp_path, monkeypatch
    ):
        """The resume fingerprint (the input file listing) is computed only
        when partials are checkpointed — a plain build, like each
        progressive_build iteration, never lists its input."""
        calls = []
        real = type(corpus).inputFiles
        monkeypatch.setattr(
            type(corpus), "inputFiles", lambda df: calls.append(1) or real(df)
        )
        build_filters(spark, corpus, id_col="url", keys=["en"])
        assert calls == []
        build_filters(spark, corpus, id_col="url", keys=["en"],
                      partials_path=str(tmp_path / "partials"))
        assert calls == [1]

    def test_subtract_filter_veto(self, spark, corpus):
        """U2 semantics (BloomFilterGenerator.cpp:1175-1199): frames present
        in the subtract filter are not inserted."""
        reg_en = load_registry(
            build_filters(spark, corpus, id_col="url", keys=["en"])
        )[0]
        reg_de_minus_en = load_registry(
            build_filters(
                spark, corpus, id_col="url", keys=["de"],
                subtract=(reg_en["bitmap"], reg_en["m_bits"], reg_en["num_hashes"],
                          reg_en["block_bits"], reg_en["seg_offsets"]),
            )
        )[0]
        reg_de = load_registry(build_filters(spark, corpus, id_col="url", keys=["de"]))[0]
        a = np.frombuffer(reg_de_minus_en["bitmap"], dtype=np.uint8)
        b = np.frombuffer(reg_de["bitmap"], dtype=np.uint8)
        assert int(np.unpackbits(a).sum()) < int(np.unpackbits(b).sum())


class TestCategorizer:
    def test_no_false_negatives_on_training_docs(self, spark, corpus, registry):
        """Every doc hits its own lang filter — Bloom membership of inserted
        frames is exact, so score=1.0 ≥ any threshold."""
        res = categorize(spark, corpus, registry, id_col="url").cache()
        joined = res.join(corpus.select("url", "lang"), on="url")
        misses = joined.filter(~F.array_contains("hits", F.col("lang"))).count()
        assert misses == 0

    def test_sharded_evaluation_matches_single_pass(
        self, spark, corpus, registry, force_budget
    ):
        """A broadcast budget small enough to force multiple passes must
        give byte-identical assignments/hits/scores (the executor-memory
        escape hatch for very large registries), null texts included: 0
        frames and noMatch on both routes."""
        from biobloom_spark.operators.categorizer import _plan_passes

        cap = max(len(f["bitmap"]) for f in registry)
        assert sum(p[0] == "full" for p in _plan_passes(registry, cap)) >= 2
        docs = corpus.select("url", "text").unionByName(spark.createDataFrame(
            [("null-a", None), ("null-b", None)], "url string, text string"
        ))
        for mode in ("std", "besthit"):
            cfg = CategorizerConfig(mode=mode)
            one = {
                r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"],
                           tuple(round(s, 9) for s in r["scores"]))
                for r in categorize(spark, docs, registry, cfg, id_col="url").collect()
            }
            with force_budget(cap):
                sharded = {
                    r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"],
                               tuple(round(s, 9) for s in r["scores"]))
                    for r in categorize(
                        spark, docs, registry, cfg, id_col="url"
                    ).collect()
                }
            assert one == sharded
            for u in ("null-a", "null-b"):
                assert sharded[u][:3] == ("noMatch", (), 0)

    def test_sharded_nondeterministic_source_consistent(
        self, spark, corpus, registry, force_budget
    ):
        """The multi-pass stitch must survive a source whose row order
        changes between plan evaluations (pin_rows materializes ONE row
        set): every url's sharded result equals its single-pass result —
        mixed stitching would pair one doc's id with another doc's
        partials."""
        import random

        jitter = F.udf(lambda: random.random(), "double").asNondeterministic()
        shuffled = (
            corpus.withColumn("__j", jitter()).orderBy("__j").drop("__j")
        )
        cap = max(len(f["bitmap"]) for f in registry)  # >= 2 passes
        cfg = CategorizerConfig(mode="std")
        key = lambda rows: {
            r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"])
            for r in rows
        }
        one = key(categorize(spark, corpus, registry, cfg, id_col="url").collect())
        with force_budget(cap):
            sharded = key(
                categorize(spark, shuffled, registry, cfg, id_col="url").collect()
            )
        assert one == sharded

    def test_sharded_duplicate_ids_one_row_per_input(
        self, spark, corpus, registry, force_budget
    ):
        """Sharded mode must emit one output row per input row even when
        id_col is not unique (the stitch keys a per-row surrogate, not the
        doc id) — the single-pass equivalence contract."""
        from biobloom_spark.operators.categorizer import _plan_passes

        cap = max(len(f["bitmap"]) for f in registry)
        assert sum(p[0] == "full" for p in _plan_passes(registry, cap)) >= 2
        dup = corpus.limit(20).withColumn("url", F.lit("same-id"))
        with force_budget(cap):
            res = categorize(spark, dup, registry, id_col="url").collect()
        assert len(res) == 20
        single = categorize(spark, dup, registry, id_col="url").collect()
        assert sorted(
            (r["assigned"], tuple(r["hits"]), r["n_frames"]) for r in res
        ) == sorted((r["assigned"], tuple(r["hits"]), r["n_frames"]) for r in single)

    def test_chunked_single_filter_matches_single_pass(
        self, spark, corpus, registry, force_budget
    ):
        """A cap smaller than every single bitmap forces word-range
        chunking of EVERY filter: each pass broadcasts one bitmap slice,
        per-frame hits OR-stitch across passes, and the reassembled hit
        vectors must score byte-identically to the single-pass path — no
        filter has to fit in one broadcast (Spark's 8 GB cap at scale)."""
        from biobloom_spark.operators.categorizer import _plan_passes

        cap = min(len(f["bitmap"]) for f in registry) // 3
        passes = _plan_passes(registry, cap)
        assert all(p[0] == "chunk" for p in passes)
        assert len(passes) >= 2 * len(registry)
        for cfg in (
            CategorizerConfig(),
            CategorizerConfig(mode="besthit"),
            CategorizerConfig(scoring=ScoringConfig(method="binomial")),
        ):
            key = lambda rows: {
                r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"],
                           tuple(round(s, 9) for s in r["scores"]))
                for r in rows
            }
            one = key(categorize(spark, corpus, registry, cfg, id_col="url").collect())
            with force_budget(cap):
                chunked = key(
                    categorize(spark, corpus, registry, cfg, id_col="url").collect()
                )
            assert one == chunked

    def test_chunked_mixed_with_full_shards(self, spark, corpus, registry, force_budget):
        """A cap between the largest and smallest bitmap chunks only the
        oversized filter(s) and groups the rest — the mixed plan must still
        match single-pass output exactly."""
        from biobloom_spark.operators.categorizer import _plan_passes

        sizes = sorted(len(f["bitmap"]) for f in registry)
        cap = sizes[-1] - 8  # chunk the biggest, keep the rest whole
        passes = _plan_passes(registry, cap)
        kinds = {p[0] for p in passes}
        assert kinds == {"full", "chunk"}
        key = lambda rows: {
            r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"],
                       tuple(round(s, 9) for s in r["scores"]))
            for r in rows
        }
        one = key(categorize(spark, corpus, registry, id_col="url").collect())
        with force_budget(cap):
            mixed = key(categorize(spark, corpus, registry, id_col="url").collect())
        assert one == mixed

    def test_chunked_cacheline_layout(self, spark, corpus, force_budget):
        """Word-range chunking over the 512-bit cache-line layout (probe
        math differs from the 64-bit-word layout)."""
        reg512 = load_registry(build_filters(
            spark, corpus, key_col="lang", text_col="text", id_col="url",
            params=BloomParams(block_bits=512),
        ))
        cap = min(len(f["bitmap"]) for f in reg512) // 2
        key = lambda rows: {
            r["url"]: (r["assigned"], tuple(r["hits"]),
                       tuple(round(s, 9) for s in r["scores"]))
            for r in rows
        }
        one = key(categorize(spark, corpus, reg512, id_col="url").collect())
        with force_budget(cap):
            chunked = key(categorize(spark, corpus, reg512, id_col="url").collect())
        assert one == chunked

    def test_pairs_sharded_and_chunked_match_single_pass(
        self, spark, corpus, registry, force_budget
    ):
        """categorize_pairs under a broadcast cap (filter shards AND
        word-range chunks) must match the single-pass pairs output,
        for both AND and inclusive-OR combines."""
        rows = corpus.select("url", "text").limit(30).collect()
        pairs = spark.createDataFrame(
            [(r["url"], r["text"], rows[(i + 1) % len(rows)]["text"])
             for i, r in enumerate(rows)]
            + [("halfpair", rows[0]["text"], None)],
            "url string, text1 string, text2 string",
        )
        caps = [
            max(len(f["bitmap"]) for f in registry),      # filter shards
            min(len(f["bitmap"]) for f in registry) // 3,  # chunks
        ]
        for inclusive in (False, True):
            cfg = CategorizerConfig(inclusive_pairs=inclusive)
            key = lambda rs: {
                r["url"]: (r["assigned"], tuple(r["hits"]), r["n_frames"],
                           tuple(round(s, 9) for s in r["scores"]))
                for r in rs
            }
            one = key(categorize_pairs(spark, pairs, registry, cfg, id_col="url").collect())
            for cap in caps:
                with force_budget(cap):
                    multi = key(categorize_pairs(
                        spark, pairs, registry, cfg, id_col="url"
                    ).collect())
                assert one == multi, (inclusive, cap)

    def test_chunked_classic_layout_degrades_whole(self, spark, corpus, registry):
        """The classic layout spreads probes across the whole bitmap, so an
        oversized classic filter cannot chunk — it must degrade to its own
        whole-filter pass (warned, over the soft cap) rather than shard
        wrongly or hard-fail a config that ran before chunking existed."""
        from biobloom_spark.operators.categorizer import _plan_passes

        classic = [dict(f, block_bits=0) for f in registry]
        cap = min(len(f["bitmap"]) for f in classic) // 2
        with pytest.warns(RuntimeWarning, match="cannot shard by word range"):
            passes = _plan_passes(classic, cap)
        # every filter still evaluated exactly once, no chunk passes
        assert all(p[0] == "full" for p in passes)
        covered = [gi for p in passes for gi in range(p[1], p[2])]
        assert covered == list(range(len(classic)))

    def test_summarize_matches_driver_twin(self, spark):
        """``summarize`` (one tag-explode plan at any filter count) equals
        a driver-side count of the same rows at 5, 80 and 600 filters —
        600 is where a 2F+2-expression aggregate would blow up Catalyst
        compilation."""
        import random

        from biobloom_spark.operators.categorizer import summarize

        rng = random.Random(7)
        fids = [f"f{i:03d}" for i in range(600)]

        def synth(n_filters):
            ids = fids[:n_filters]
            rows = []
            for d in range(400):
                hits = sorted(rng.sample(ids, rng.choice([0, 0, 1, 1, 2, 5])))
                assigned = (
                    "noMatch" if not hits
                    else hits[0] if len(hits) == 1 else "multiMatch"
                )
                rows.append((f"d{d}", hits, assigned))
            return ids, spark.createDataFrame(
                rows, "doc_id string, hits array<string>, assigned string"
            )

        for n_filters in (5, 80, 600):
            ids, res = synth(n_filters)
            got = [tuple(r) for r in summarize(res, ids).collect()]
            rows = res.collect()
            total = len(rows)
            want = []
            for fid in ids:
                hits = sum(fid in r["hits"] for r in rows)
                uniq = sum(r["assigned"] == fid for r in rows)
                want.append((fid, hits, uniq, hits - uniq, hits / total,
                             uniq / total, (hits - uniq) / total))
            for special in ("multiMatch", "noMatch"):
                n = sum(r["assigned"] == special for r in rows)
                want.append((special, n, n, 0, n / total, n / total, 0.0))
            assert got == want, n_filters

    def test_assignment_accuracy(self, spark, corpus, registry):
        """With 15% shared vocabulary, most docs are uniquely assigned to
        their own language."""
        res = categorize(spark, corpus, registry, id_col="url")
        joined = res.join(corpus.select("url", "lang"), on="url")
        total = joined.count()
        correct = joined.filter(F.col("assigned") == F.col("lang")).count()
        multi = joined.filter(F.col("assigned") == "multiMatch").count()
        assert (correct + multi) == total  # own filter always hits
        assert correct / total > 0.5

    def test_disjoint_corpus_is_nomatch_within_fpr(self, spark, registry):
        """Docs from languages never trained → noMatch (modulo Bloom FPR,
        which the binomial kernel bounds)."""
        other = generate_corpus(
            spark, 150, seed=99, langs=("pt", "nl"), shared_frac=0.0, num_partitions=2
        )
        cfg = CategorizerConfig(scoring=ScoringConfig(method="binomial", min_fpr=1e-10))
        res = categorize(spark, other, registry, cfg, id_col="url")
        nomatch = res.filter(F.col("assigned") == "noMatch").count()
        assert nomatch == 150

    def test_summary_counters_consistent(self, spark, corpus, registry):
        res = categorize(spark, corpus, registry, id_col="url").cache()
        total = res.count()
        summ = {r["filter_id"]: r.asDict() for r in summarize(res, [f["filter_id"] for f in registry]).collect()}
        uniq_sum = sum(summ[l]["unique"] for l in LANGS)
        assert uniq_sum + summ["multiMatch"]["hits"] + summ["noMatch"]["hits"] == total
        for l in LANGS:
            assert summ[l]["shared"] == summ[l]["hits"] - summ[l]["unique"]

    def test_ordered_mode_first_wins(self, spark, corpus, registry):
        cfg = CategorizerConfig(mode="ordered", ordered_filters=("fr", "de", "en"))
        res = categorize(spark, corpus, registry, cfg, id_col="url")
        # ordered mode never emits multiMatch (BioBloomClassifier.cpp:1145-1153)
        assert res.filter(F.col("assigned") == "multiMatch").count() == 0
        # any doc that hits fr at all is assigned fr
        joined = res.join(corpus.select("url", "lang"), on="url")
        fr_docs = joined.filter(F.col("lang") == "fr")
        assert fr_docs.filter(F.col("assigned") != "fr").count() == 0

    def test_besthit_mode(self, spark, corpus, registry):
        cfg = CategorizerConfig(mode="besthit")
        res = categorize(spark, corpus, registry, cfg, id_col="url")
        joined = res.join(corpus.select("url", "lang"), on="url")
        total = joined.count()
        # own filter scores 1.0 (all frames hit); a tie → multiMatch
        wrong = joined.filter(
            (F.col("assigned") != F.col("lang")) & (F.col("assigned") != "multiMatch")
        ).count()
        assert wrong == 0
        # perfect doc = one run of n frames → score (n - 0.5)/n
        low = joined.filter(
            F.col("best_score") < (F.col("n_frames") - 0.5) / F.col("n_frames")
        ).count()
        assert low == 0

    def test_pair_combine_and_vs_or(self, spark, registry):
        pdf = generate_corpus_pandas(60, seed=5, langs=LANGS, shared_frac=0.15)
        pdf2 = generate_corpus_pandas(60, seed=6, langs=LANGS, shared_frac=0.15)
        pairs = spark.createDataFrame(
            [
                (str(i), a, b)
                for i, (a, b) in enumerate(zip(pdf["text"], pdf2["text"]))
            ],
            "doc_id string, text1 string, text2 string",
        )
        res_and = categorize_pairs(spark, pairs, registry).cache()
        res_or = categorize_pairs(
            spark, pairs, registry, CategorizerConfig(inclusive_pairs=True)
        ).cache()
        n_and = res_and.select(F.sum(F.size("hits"))).collect()[0][0]
        n_or = res_or.select(F.sum(F.size("hits"))).collect()[0][0]
        assert n_or >= n_and  # OR combine is a superset (ResultsManager.hpp:95-175)

    def test_demultiplexed_write(self, spark, corpus, registry, tmp_path):
        res = categorize(spark, corpus, registry, id_col="url")
        out = str(tmp_path / "demux")
        write_demultiplexed(res, corpus.select("url", "text"), out, id_col="url")
        cats = {d.split("=")[1] for d in os.listdir(out) if d.startswith("assigned=")}
        assert cats & set(LANGS)
        back = spark.read.parquet(out)
        assert back.count() == corpus.count()


class TestCorpusSparkParity:
    def test_spark_and_pandas_generators_agree(self, spark):
        sdf = generate_corpus(spark, 40, seed=21, num_partitions=3).toPandas()
        pdf = generate_corpus_pandas(40, seed=21)
        sdf = sdf.sort_values("url").reset_index(drop=True)
        pdf = pdf.sort_values("url").reset_index(drop=True)
        assert list(sdf["text"]) == list(pdf["text"])
        assert list(sdf["lang"]) == list(pdf["lang"])


class TestFusedSummary:
    def test_fused_matches_classic(self, spark, corpus, registry):
        from biobloom_spark.operators.categorizer import summarize_fused

        classic = {
            r["filter_id"]: (r["hits"], r["unique"], r["shared"])
            for r in summarize(
                categorize(spark, corpus, registry, id_col="url"),
                [f["filter_id"] for f in registry],
            ).collect()
        }
        fused = {
            r["filter_id"]: (r["hits"], r["unique"], r["shared"])
            for r in summarize_fused(spark, corpus, registry, id_col="url").collect()
        }
        assert classic == fused

    def test_fused_sharded_escape_hatch(self, spark, corpus, registry, force_budget):
        """Past the broadcast budget the fused summary must route through
        the sharded (chunking) categorize and still match exactly."""
        from biobloom_spark.operators.categorizer import summarize_fused

        cap = min(len(f["bitmap"]) for f in registry) // 2
        direct = {
            r["filter_id"]: (r["hits"], r["unique"], r["shared"])
            for r in summarize_fused(spark, corpus, registry, id_col="url").collect()
        }
        with force_budget(cap):
            capped = {
                r["filter_id"]: (r["hits"], r["unique"], r["shared"])
                for r in summarize_fused(spark, corpus, registry, id_col="url").collect()
            }
        assert direct == capped


class TestSliceHashPacking:
    def test_roundtrip_and_fallback(self):
        from biobloom_spark.operators.maker import (
            _pack_slice_hashes,
            _unpack_slice_hashes,
        )

        rng = np.random.default_rng(5)
        base = np.uint64(3) << np.uint64(58)
        # dense slice: deltas fit 48 bits -> "Q" 6-byte layout, 25% smaller
        u = np.unique(
            base + rng.integers(0, 1 << 58, size=200_000, dtype=np.uint64)
        ).astype(np.uint64)
        blob = _pack_slice_hashes(u, base)
        assert blob[:1] == b"Q"
        assert len(blob) == 1 + 6 * u.size
        out = _unpack_slice_hashes(blob, base)
        assert out.dtype == np.uint64 and np.array_equal(out, u)
        # sparse slice: a >=2^48 delta forces the raw fallback
        v = np.asarray([base, base + (np.uint64(1) << np.uint64(49))], dtype=np.uint64)
        blob2 = _pack_slice_hashes(v, base)
        assert blob2[:1] == b"R"
        assert np.array_equal(_unpack_slice_hashes(blob2, base), v)
        # empty
        assert _unpack_slice_hashes(_pack_slice_hashes(np.empty(0, np.uint64), 0), 0).size == 0

    def test_build_invariant_under_coalesce(self, spark, corpus):
        """How the input is partitioned changes only the exchange volume,
        never the result: byte-identical bitmaps as-is, under
        coalesce_input, and after a shuffle into more partitions (every
        partition's partials OR together into the same slices)."""
        maps = []
        for docs, b in (
            (corpus, BuildConfig()),
            (corpus, BuildConfig(coalesce_input=2)),
            (corpus.repartition(8), BuildConfig()),
        ):
            reg = load_registry(
                build_filters(spark, docs, id_col="url", build=b, keys=["en", "de"])
            )
            maps.append({f["filter_id"]: f["bitmap"] for f in reg})
        for other in maps[1:]:
            assert other.keys() == maps[0].keys()
            for k in maps[0]:
                assert other[k] == maps[0][k], f"bitmap differs for {k}"
