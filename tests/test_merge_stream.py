"""Registry OR-merge (maker.merge_registries) and the Structured
Streaming incremental build (streaming.build_stream): chopping the corpus
into parts/micro-batches and merging must reproduce the one-shot batch
build bit-for-bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biobloom_spark.config import BloomParams
from biobloom_spark.corpus import generate_corpus
from biobloom_spark.operators.maker import (
    build_filters,
    load_registry,
    merge_registries,
    size_filters,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(
        spark, 240, seed=31, langs=("en", "de", "fr"), num_partitions=4
    ).cache()


@pytest.fixture(scope="module")
def sizing(corpus):
    return size_filters(corpus, "lang", "text", BloomParams())


def _bitmaps(reg_df):
    return {
        r["filter_id"]: bytes(r["bitmap"])
        for r in reg_df.select("filter_id", "bitmap").collect()
    }


class TestMergeRegistries:
    def test_split_merge_equals_full_build(self, spark, corpus, sizing):
        full = build_filters(
            spark, corpus, id_col="url", expected_sizing=sizing
        )
        parts = [
            build_filters(
                spark,
                corpus.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i),
                id_col="url",
                expected_sizing=sizing,
            )
            for i in range(3)
        ]
        merged = merge_registries(*parts)
        assert _bitmaps(merged) == _bitmaps(full)
        mrow = {r["filter_id"]: r for r in merged.collect()}
        frow = {r["filter_id"]: r for r in full.collect()}
        for fid, m in mrow.items():
            f = frow[fid]
            for col in ("m_bits", "num_hashes", "block_bits", "shingle_w",
                        "canonical", "hash_family", "layout_version"):
                assert m[col] == f[col]
            assert m["n_docs"] == f["n_docs"]
            assert m["n_inserted"] == f["n_inserted"]
            # same bitmap → identical exact occupancy FPR
            assert m["occupancy_fpr"] == pytest.approx(f["occupancy_fpr"])
            # HLL-estimated distinct count stays within its hard bounds
            assert m["num_entries"] <= m["n_inserted"]
            assert m["num_entries"] >= 0.8 * f["num_entries"]
            assert m["num_entries"] <= 1.2 * f["num_entries"]

    def test_associativity(self, spark, corpus, sizing):
        parts = [
            build_filters(
                spark,
                corpus.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i),
                id_col="url",
                expected_sizing=sizing,
            )
            for i in range(3)
        ]
        left = merge_registries(merge_registries(parts[0], parts[1]), parts[2])
        right = merge_registries(parts[0], merge_registries(parts[1], parts[2]))
        assert _bitmaps(left) == _bitmaps(right)

    def test_disjoint_ids_pass_through(self, spark, corpus, sizing):
        en = build_filters(
            spark, corpus.filter(F.col("lang") == "en"), id_col="url",
            expected_sizing={"en": sizing["en"]},
        )
        de = build_filters(
            spark, corpus.filter(F.col("lang") == "de"), id_col="url",
            expected_sizing={"de": sizing["de"]},
        )
        merged = merge_registries(en, de)
        assert sorted(r["filter_id"] for r in merged.collect()) == ["de", "en"]
        assert _bitmaps(merged) == {**_bitmaps(en), **_bitmaps(de)}

    def test_legacy_sketch_columns_merge(self, spark, tmp_path, corpus, sizing):
        """A registry persisted when the build also stored count-min,
        t-digest and KLL columns (the previous version a restarted
        ``build_stream`` merges into) merges with a current one into the
        same rows as two current registries, and ``load_registry`` reads
        it."""
        half = F.pmod(F.xxhash64("url"), F.lit(2))
        a, b = (
            build_filters(spark, corpus.filter(half == i), id_col="url",
                          expected_sizing=sizing)
            for i in range(2)
        )
        path = str(tmp_path / "legacy_registry")
        blob = F.lit(bytearray(b"\x01\x02"))
        a.withColumns({c: blob for c in ("cms", "tdigest", "kll")}).write.parquet(path)
        legacy = spark.read.parquet(path)
        assert {"cms", "tdigest", "kll"} <= set(legacy.columns)

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        assert rows(merge_registries(legacy, b)) == rows(merge_registries(a, b))
        got, want = load_registry(legacy), load_registry(a)
        assert [(f["filter_id"], f["bitmap"], f["num_entries"]) for f in got] == [
            (f["filter_id"], f["bitmap"], f["num_entries"]) for f in want
        ]

    def test_layout_mismatch_raises(self, spark, corpus, sizing):
        a = build_filters(spark, corpus, id_col="url", expected_sizing=sizing)
        other = {
            k: {**v, "m_bits": v["m_bits"] * 2} for k, v in sizing.items()
        }
        b = build_filters(spark, corpus, id_col="url", expected_sizing=other)
        with pytest.raises(Exception, match="disagree|OR-merged"):
            merge_registries(a, b).collect()


class TestBuildStream:
    def test_stream_matches_batch_build(self, spark, tmp_path, corpus, sizing):
        from biobloom_spark.streaming.build_stream import (
            build_stream_writer,
            latest_version,
            load_latest_registry,
        )
        from biobloom_spark.streaming.categorize_stream import (
            stream_from_parquet_dir,
        )

        src = str(tmp_path / "drop")
        corpus.repartition(3).write.mode("overwrite").parquet(src)
        reg_path = str(tmp_path / "registry")
        stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
        q = (
            build_stream_writer(spark, stream, sizing, reg_path, id_col="url")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        assert latest_version(spark, reg_path) is not None
        merged = load_latest_registry(spark, reg_path)
        full = build_filters(spark, corpus, id_col="url", expected_sizing=sizing)
        assert _bitmaps(merged) == _bitmaps(full)
        assert (
            merged.agg(F.sum("n_docs")).collect()[0][0]
            == full.agg(F.sum("n_docs")).collect()[0][0]
        )

        # the folded registry classifies: every page hits its own filter
        from biobloom_spark.operators.categorizer import categorize

        res = categorize(spark, corpus, load_registry(merged), id_col="url")
        joined = res.join(corpus.select("url", "lang"), "url")
        assert (
            joined.filter(F.expr("array_contains(hits, lang)")).count()
            == corpus.count()
        )

    def test_restart_replay_is_idempotent(self, spark, tmp_path, corpus, sizing):
        """Re-running the stream over the same source with a fresh
        checkpoint must not double-fold committed batches (the committed
        version dirs are the dedup record)."""
        from biobloom_spark.streaming.build_stream import (
            build_stream_writer,
            load_latest_registry,
        )
        from biobloom_spark.streaming.categorize_stream import (
            stream_from_parquet_dir,
        )

        src = str(tmp_path / "drop2")
        corpus.repartition(2).write.mode("overwrite").parquet(src)
        reg_path = str(tmp_path / "registry2")
        for attempt in range(2):  # second run = full replay, same batch ids
            stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
            q = (
                build_stream_writer(spark, stream, sizing, reg_path, id_col="url")
                .option("checkpointLocation", str(tmp_path / f"ckpt2_{attempt}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
        merged = load_latest_registry(spark, reg_path)
        full = build_filters(spark, corpus, id_col="url", expected_sizing=sizing)
        assert _bitmaps(merged) == _bitmaps(full)
        # n_docs did not double
        assert (
            merged.agg(F.sum("n_docs")).collect()[0][0]
            == full.agg(F.sum("n_docs")).collect()[0][0]
        )

    def test_rejects_batch_df(self, spark, corpus, sizing, tmp_path):
        from biobloom_spark.streaming.build_stream import build_stream_writer

        with pytest.raises(ValueError, match="streaming"):
            build_stream_writer(spark, corpus, sizing, str(tmp_path / "r"))

    def test_latest_version_ignores_uncommitted(self, spark, tmp_path):
        """A version directory without the parquet committer's _SUCCESS
        marker (a killed mid-write batch) must be invisible to
        latest_version — and the whole protocol must go through the
        Hadoop FS API, not local-file pointers."""
        import os

        from biobloom_spark.streaming.build_stream import (
            latest_version,
            load_latest_registry,
        )

        reg_path = str(tmp_path / "registry3")
        assert latest_version(spark, reg_path) is None
        assert load_latest_registry(spark, reg_path) is None
        df = spark.createDataFrame([(1,)], "x int")
        df.write.parquet(os.path.join(reg_path, "v=0"))
        df.write.parquet(os.path.join(reg_path, "v=2"))
        os.remove(os.path.join(reg_path, "v=2", "_SUCCESS"))  # simulate kill
        os.makedirs(os.path.join(reg_path, "not-a-version"))
        assert latest_version(spark, reg_path) == 0

    def test_retention_bounds_versions(self, spark, tmp_path, corpus, sizing):
        """Round-5 retention contract: a long stream keeps at most
        retain_versions committed v= dirs on disk (the _folded markers are
        the O(1)-byte exactly-once record), and the surviving latest state
        still equals the one-shot batch build."""
        import os

        from biobloom_spark.streaming.build_stream import (
            build_stream_writer,
            latest_version,
            load_latest_registry,
        )
        from biobloom_spark.streaming.categorize_stream import (
            stream_from_parquet_dir,
        )

        src = str(tmp_path / "drop_r")
        corpus.repartition(4).write.mode("overwrite").parquet(src)
        reg_path = str(tmp_path / "registry_r")
        stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
        q = (
            build_stream_writer(spark, stream, sizing, reg_path, id_col="url")
            .option("checkpointLocation", str(tmp_path / "ckpt_r"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        vdirs = [d for d in os.listdir(reg_path) if d.startswith("v=")]
        n_batches = latest_version(spark, reg_path) + 1
        assert n_batches >= 3  # the stream really was chopped
        assert len(vdirs) <= 2, vdirs
        markers = sorted(
            m for m in os.listdir(os.path.join(reg_path, "_folded"))
            if not m.startswith(".")  # local-FS .crc siblings
        )
        assert markers == sorted(f"b={i}" for i in range(n_batches))
        merged = load_latest_registry(spark, reg_path)
        full = build_filters(spark, corpus, id_col="url", expected_sizing=sizing)
        assert _bitmaps(merged) == _bitmaps(full)

    def test_reap_and_marker_gap_protocol(self, spark, tmp_path):
        """Unit contract of the version reaper + fold markers: reap keeps
        the `retain` newest committed versions, sweeps dead partial writes
        below the floor, never touches _folded; a committed-but-unmarked
        version (kill in the marker gap) is healable."""
        import os

        from biobloom_spark.streaming.build_stream import (
            batch_folded,
            mark_folded,
            reap_versions,
        )

        p = str(tmp_path / "reap")
        df = spark.createDataFrame([(1,)], "x int")
        for v in (0, 1, 2, 3):
            df.write.parquet(os.path.join(p, f"v={v}"))
        os.remove(os.path.join(p, "v=1", "_SUCCESS"))  # dead partial write
        for b in (0, 1, 2, 3):
            mark_folded(spark, p, b)
        reaped = reap_versions(spark, p, retain=2)
        # committed = [3, 2, 0]; floor = 2 -> reap v=0 (committed, old) and
        # v=1 (dead partial below the floor)
        assert reaped == [0, 1]
        assert sorted(d for d in os.listdir(p) if d.startswith("v=")) == ["v=2", "v=3"]
        assert all(batch_folded(spark, p, b) for b in (0, 1, 2, 3))
        # reap is idempotent and keeps the window thereafter
        assert reap_versions(spark, p, retain=2) == []
        with pytest.raises(ValueError):
            reap_versions(spark, p, retain=0)


class TestSketchStream:
    def test_stream_matches_batch_sketches(self, spark, tmp_path, corpus):
        """Chopping invariance for the standalone sketch surface: folding
        micro-batches reproduces the one-shot aggregation (bit-identical
        HLL/CMS, exact counters)."""
        from biobloom_spark.operators.sketch_agg import sketch_by_key
        from biobloom_spark.streaming.categorize_stream import (
            stream_from_parquet_dir,
        )
        from biobloom_spark.streaming.sketch_stream import (
            load_latest_sketch_rows,
            sketch_stream_writer,
        )

        src = str(tmp_path / "sdrop")
        corpus.repartition(3).write.mode("overwrite").parquet(src)
        sk_path = str(tmp_path / "sketches")
        stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
        q = (
            sketch_stream_writer(spark, stream, sk_path)
            .option("checkpointLocation", str(tmp_path / "sckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        merged = {
            r["key"]: r for r in load_latest_sketch_rows(spark, sk_path).collect()
        }
        full = {r["key"]: r for r in sketch_by_key(corpus, key_col="lang").collect()}
        assert merged.keys() == full.keys()
        for k in full:
            assert bytes(merged[k]["hll"]) == bytes(full[k]["hll"])
            assert bytes(merged[k]["cms"]) == bytes(full[k]["cms"])
            assert merged[k]["n_docs"] == full[k]["n_docs"]
            assert merged[k]["n_tokens"] == full[k]["n_tokens"]
