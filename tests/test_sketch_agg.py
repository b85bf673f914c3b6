"""Standalone sketch-aggregation surface (operators/sketch_agg.py).

Pins the library contract the north rule names: mergeable per-key
HLL/CMS/KLL/t-digest UDAFs whose results are independent of partitioning
(bit-identical for the exact-merge sketches, inside the published bound
for the order-sensitive quantile sketches).
"""

from __future__ import annotations

import contextlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from biobloom_spark.operators.sketch_agg import (
    cms_token_counts,
    merge_sketch_rows,
    sketch_bounds_report,
    sketch_by_key,
    sketch_estimates,
)


@pytest.fixture(scope="module")
def corpus(spark):
    from biobloom_spark.corpus import generate_corpus

    return generate_corpus(
        spark, 2000, seed=31, langs=("en", "de", "fr"), num_partitions=8
    ).cache()


def _rows(df):
    return {r["key"]: r for r in df.collect()}


@contextlib.contextmanager
def _advisory_size(spark, size: str):
    """Run the body with ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    = ``size``; at "1" ``_default_fanout`` derives isqrt(n_partitions)."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


class TestSketchByKey:
    def test_partition_invariance(self, spark, corpus):
        a = _rows(sketch_by_key(corpus.repartition(1), key_col="lang"))
        b = _rows(sketch_by_key(corpus.repartition(7), key_col="lang"))
        assert a.keys() == b.keys()
        for k in a:
            # exact-merge sketches: bit-identical across partitionings
            assert bytes(a[k]["hll"]) == bytes(b[k]["hll"])
            assert bytes(a[k]["cms"]) == bytes(b[k]["cms"])
            assert a[k]["n_docs"] == b[k]["n_docs"]
            assert a[k]["n_tokens"] == b[k]["n_tokens"]

    def test_partials_one_row_per_partition_key(self, spark, corpus):
        """Scale contract (round-5 fix): partial count is O(partitions x
        keys) — ONE sketch row per (partition, key), accumulated across
        every Arrow batch of the task — so a hot key's merge group never
        grows with corpus size.  Forced-tiny Arrow batches would have
        produced ~40x more rows under the old per-batch emit."""
        from biobloom_spark.operators.sketch_agg import _partials_df

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        try:
            eight = corpus.repartition(8)
            part = _partials_df(eight, "lang", "text", "tokens", 3, fanout=2)
            rows = part.collect()
            # <= 8 partitions x 3 langs (== when every partition sees every lang)
            assert len(rows) <= 8 * 3
            per = {}
            for r in rows:
                per[(r["key"], r["salt"])] = per.get((r["key"], r["salt"]), 0) + 1
            # fanout=2 -> at most ceil(8/2)=4 partial rows per (key, salt) group
            assert max(per.values()) <= 4
            assert {r["salt"] for r in rows} <= {0, 1}
            # counters survive the accumulation: totals match the corpus
            n_docs = sum(r["n_docs"] for r in rows)
            assert n_docs == corpus.filter(F.col("lang").isNotNull()).count()
        finally:
            if old is None:
                spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
            else:
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    def test_fanout_invariance(self, spark, corpus):
        """HLL/CMS bytes are identical whatever the merge topology
        (single-level, salted two-level at the fanout a 1-byte advisory
        size derives for 16 partitions, single-level over 16)."""
        from biobloom_spark.operators.sketch_agg import _default_fanout

        a = _rows(sketch_by_key(corpus, key_col="lang"))
        sixteen = corpus.repartition(16)
        assert _default_fanout(corpus) == _default_fanout(sixteen) == 1
        with _advisory_size(spark, "1"):
            assert _default_fanout(sixteen) == 4
            b = _rows(sketch_by_key(sixteen, key_col="lang"))
        c = _rows(sketch_by_key(sixteen, key_col="lang"))
        assert a.keys() == b.keys() == c.keys()
        for k in a:
            assert bytes(a[k]["hll"]) == bytes(b[k]["hll"]) == bytes(c[k]["hll"])
            assert bytes(a[k]["cms"]) == bytes(b[k]["cms"]) == bytes(c[k]["cms"])
            assert a[k]["n_docs"] == b[k]["n_docs"] == c[k]["n_docs"]
            assert a[k]["n_tokens"] == b[k]["n_tokens"] == c[k]["n_tokens"]

    def test_merge_route_follows_advisory_size(self, spark, corpus):
        """The default merge is one level while a key's partial rows fit
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` and the salted
        two levels past it.  Forcing two levels (a 1-byte advisory size)
        keeps the HLL and CMS bytes identical and the quantile sketches
        inside their published bounds."""
        from biobloom_spark.plans import plan_string

        four = corpus.repartition(4)
        one = sketch_by_key(four, key_col="lang")
        assert plan_string(one, "simple").count("FlatMapGroupsInPandas") == 1
        a = _rows(one)
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "1")
        try:
            two = sketch_by_key(four, key_col="lang")
            assert plan_string(two, "simple").count("FlatMapGroupsInPandas") == 2
            b = _rows(two)
            report = sketch_bounds_report(spark, four, key_col="lang").collect()
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        assert a.keys() == b.keys() == {r["key"] for r in report}
        for k in a:
            assert bytes(a[k]["hll"]) == bytes(b[k]["hll"])
            assert bytes(a[k]["cms"]) == bytes(b[k]["cms"])
            assert a[k]["n_docs"] == b[k]["n_docs"]
        for r in report:
            assert r["kll_ok"] and r["tdigest_ok"], r

    def test_counters_exact(self, spark, corpus):
        got = _rows(sketch_by_key(corpus, key_col="lang"))
        exact = {
            r["lang"]: r
            for r in corpus.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n_tokens"),
            )
            .collect()
        }
        for k, r in got.items():
            assert r["n_docs"] == exact[k]["n_docs"]
            assert r["n_tokens"] == exact[k]["n_tokens"]

    def test_merge_rows_equals_one_shot(self, spark, corpus):
        """Merged rows equal the one-shot rows where the merge is exact
        (HLL, CMS, counters) and hold every published bound where it is
        order-sensitive (KLL, t-digest)."""
        from biobloom_spark.operators.maker import _HLL_P
        from biobloom_spark.operators.sketch_agg import _CMS_D, _CMS_W, _with_exact_sides
        from biobloom_spark.operators.sketch_audit import _audit_row
        from biobloom_spark.sketch import HLLSketch

        whole = _rows(sketch_by_key(corpus, key_col="lang"))
        half = F.pmod(F.xxhash64("url"), F.lit(2))
        h1 = sketch_by_key(corpus.filter(half == 0), key_col="lang")
        h2 = sketch_by_key(corpus.filter(half == 1), key_col="lang")
        merged_df = merge_sketch_rows(h1, h2)
        merged = _rows(merged_df)
        for k in whole:
            assert bytes(merged[k]["hll"]) == bytes(whole[k]["hll"])
            assert bytes(merged[k]["cms"]) == bytes(whole[k]["cms"])
            assert merged[k]["n_docs"] == whole[k]["n_docs"]
            assert merged[k]["n_tokens"] == whole[k]["n_tokens"]
        audited = _with_exact_sides(merged_df, corpus, "lang", "text", 5).collect()
        assert len(audited) == len(whole)
        for r in audited:
            est = HLLSketch.deserialize(bytes(r["hll"]), p=_HLL_P).estimate()
            flags = _audit_row(r, est, int(r["exact_distinct"]), _HLL_P, _CMS_W, _CMS_D)[:4]
            assert flags == (True, True, True, True), (r["key"], flags)

    def test_estimates_within_bounds(self, spark, corpus):
        from biobloom_spark.operators.maker import _HLL_P
        from biobloom_spark.sources.tables import tokens_col

        est = _rows(
            sketch_estimates(sketch_by_key(corpus, key_col="lang")).withColumnRenamed(
                "key", "key"
            )
        )
        exact_d = {
            r["key"]: int(r["d"])
            for r in corpus.select(
                F.col("lang").alias("key"), F.explode(tokens_col("text")).alias("t")
            )
            .groupBy("key")
            .agg(F.countDistinct("t").alias("d"))
            .collect()
        }
        tol = 3 * 1.04 / math.sqrt(2**_HLL_P)
        for k, r in est.items():
            assert abs(r["distinct_hll"] - exact_d[k]) <= tol * exact_d[k]
            # quantiles are monotone and inside the observed length range
            qs = r["len_q_kll"]
            assert qs == sorted(qs)

    def test_cms_never_undercounts(self, spark, corpus):
        from biobloom_spark.sources.tables import tokens_col

        tok = corpus.select(
            F.col("lang").alias("key"), F.explode(tokens_col("text")).alias("t")
        )
        true = {
            (r["key"], r["t"]): int(r["c"])
            for r in tok.groupBy("key", "t").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        probe = sorted({t for (_k, t) in true})[:10]
        rows = cms_token_counts(sketch_by_key(corpus, key_col="lang"), probe).collect()
        assert rows
        for r in rows:
            assert r["est_count"] >= true.get((r["key"], r["token"]), 0)

    def test_bounds_report_all_green(self, spark, corpus):
        rep = sketch_bounds_report(spark, corpus, key_col="lang").collect()
        assert len(rep) == 3
        for r in rep:
            assert r["hll_ok"] and r["cms_ok"] and r["kll_ok"] and r["tdigest_ok"], r

    def test_shingle_domain_differs(self, spark, corpus):
        t = _rows(sketch_by_key(corpus, key_col="lang", distinct="tokens"))
        s = _rows(sketch_by_key(corpus, key_col="lang", distinct="shingles"))
        # shingle space is far larger than the zipfian token vocabulary
        from biobloom_spark.operators.maker import _HLL_P
        from biobloom_spark.sketch import HLLSketch

        for k in t:
            dt = HLLSketch.deserialize(bytes(t[k]["hll"]), p=_HLL_P).estimate()
            ds = HLLSketch.deserialize(bytes(s[k]["hll"]), p=_HLL_P).estimate()
            assert ds > dt

    def test_null_rows_dropped(self, spark):
        df = spark.createDataFrame(
            [("en", "a b c"), (None, "x"), ("en", None)],
            "lang string, text string",
        )
        got = _rows(sketch_by_key(df, key_col="lang"))
        assert list(got) == ["en"]
        assert got["en"]["n_docs"] == 1 and got["en"]["n_tokens"] == 3


class TestSketchCheckpoint:
    """Checkpoint + resume for the standalone sketch build — the north
    rule's mid-build resumability, at the sketch surface's per-partition
    grain (the filter build's analog: tests/test_e2e_spark.py resume
    suite).  A 1-byte AQE advisory size makes ``_default_fanout`` derive
    isqrt(8) = 2 for the 8-partition inputs, so every build, resume and
    one-shot reference here merges in two salted levels."""

    @pytest.fixture(autouse=True)
    def _two_level_merge(self, spark):
        with _advisory_size(spark, "1"):
            yield

    def _assert_same(self, a, b):
        assert a.keys() == b.keys()
        for k in a:
            assert bytes(a[k]["hll"]) == bytes(b[k]["hll"])
            assert bytes(a[k]["cms"]) == bytes(b[k]["cms"])
            assert a[k]["n_docs"] == b[k]["n_docs"]
            assert a[k]["n_tokens"] == b[k]["n_tokens"]

    def test_matches_one_shot(self, spark, corpus, tmp_path):
        from biobloom_spark.operators.sketch_agg import sketch_by_key_checkpointed

        eight = corpus.repartition(8).cache()
        eight.count()
        try:
            want = _rows(sketch_by_key(eight, key_col="lang"))
            got = _rows(
                sketch_by_key_checkpointed(
                    spark, eight, str(tmp_path / "ck"), key_col="lang",
                    snapshot_id="s1",
                )
            )
            self._assert_same(got, want)
            # lineage: one row per (partition, key), counters exact
            lin = spark.read.parquet(str(tmp_path / "ck_lineage"))
            assert lin.count() == lin.select("part_id", "key").distinct().count()
            n = sum(r["n_docs"] for r in lin.collect())
            assert n == eight.filter(F.col("lang").isNotNull()).count()
        finally:
            eight.unpersist()

    def test_resume_recomputes_only_missing_partitions(self, spark, corpus, tmp_path):
        import os
        import shutil

        from biobloom_spark.checkpoint import RECORD
        from biobloom_spark.operators.sketch_agg import sketch_by_key_checkpointed

        eight = corpus.repartition(8).cache()
        eight.count()
        try:
            p_full = str(tmp_path / "full")
            want = _rows(
                sketch_by_key_checkpointed(
                    spark, eight, p_full, key_col="lang", snapshot_id="s1",
                )
            )
            full = spark.read.parquet(p_full)
            full_counts = {
                (r["part_id"], r["key"]): 1 for r in full.select("part_id", "key").collect()
            }
            # carve a killed-mid-build checkpoint: only partitions 0-2 landed
            p_part = str(tmp_path / "partial")
            full.filter(F.col("part_id") < 3).write.parquet(p_part)
            shutil.copy(os.path.join(p_full, RECORD), os.path.join(p_part, RECORD))

            got = _rows(
                sketch_by_key_checkpointed(
                    spark, eight, p_part, key_col="lang", snapshot_id="s1",
                )
            )
            self._assert_same(got, want)
            # the resumed checkpoint holds every (partition, key) exactly once
            after = spark.read.parquet(p_part).select("part_id", "key").collect()
            assert len(after) == len(set((r["part_id"], r["key"]) for r in after))
            assert set((r["part_id"], r["key"]) for r in after) == set(full_counts)
        finally:
            eight.unpersist()

    def test_rejects_changed_snapshot(self, spark, corpus, tmp_path):
        from biobloom_spark.operators.sketch_agg import sketch_by_key_checkpointed

        eight = corpus.repartition(8).cache()
        eight.count()
        try:
            path = str(tmp_path / "ck")
            # stale state: a complete build over the WRONG subset
            sketch_by_key_checkpointed(
                spark, eight.limit(300).repartition(8), path, key_col="lang",
                snapshot_id="v1",
            ).collect()
            got = _rows(
                sketch_by_key_checkpointed(
                    spark, eight, path, key_col="lang", snapshot_id="v2",
                )
            )
            want = _rows(sketch_by_key(eight, key_col="lang"))
            self._assert_same(got, want)
        finally:
            eight.unpersist()

    def test_no_resume_without_snapshot_identity(self, spark, corpus, tmp_path):
        """An in-memory DataFrame has no file listing: without an explicit
        snapshot_id the second run must NOT trust the checkpoint (it
        rebuilds from scratch — correct, never resumed)."""
        from biobloom_spark.operators.sketch_agg import sketch_by_key_checkpointed

        path = str(tmp_path / "ck")
        first = _rows(
            sketch_by_key_checkpointed(spark, corpus, path, key_col="lang")
        )
        again = _rows(
            sketch_by_key_checkpointed(spark, corpus, path, key_col="lang")
        )
        self._assert_same(first, again)
        want = _rows(sketch_by_key(corpus, key_col="lang"))
        self._assert_same(again, want)


class TestHighCardinalityParams:
    """``sketch_params`` — the high-cardinality-key memory knob: compact
    sketch sizes make 10^4-10^5-key audits (per-host/per-domain) tractable
    (~18 KB/key at (10, 512, 4) vs ~340 KB at registry defaults), with the
    same mergeable contracts."""

    PARAMS = (10, 512, 4)

    def test_partition_invariance_and_size(self, spark):
        n_keys, docs_per_key = 20_000, 2
        base = spark.range(n_keys * docs_per_key).select(
            F.concat(F.lit("host"), (F.col("id") % n_keys).cast("string")).alias("host"),
            F.concat(F.lit("tok"), (F.col("id") * 7919 % 97).cast("string"),
                     F.lit(" tok"), (F.col("id") * 104729 % 89).cast("string"),
                     F.lit(" tok"), (F.col("id") % 83).cast("string")).alias("text"),
        ).repartition(32, "host").cache()
        rows = sketch_by_key(
            base, key_col="host", text_col="text", sketch_params=self.PARAMS
        ).cache()
        assert rows.count() == n_keys
        # compact rows: HLL 2^10 registers + CMS 512x4 counters ≈ 18 KB
        sz = rows.select(
            (F.length("hll") + F.length("cms") + F.length("kll") + F.length("tdigest")).alias("b")
        ).agg(F.max("b")).collect()[0][0]
        assert sz < 40_000, f"compact sketch row unexpectedly large: {sz} B"
        # partition invariance holds at the compact parameters too
        probe = base.filter(F.col("host").isin("host0", "host7", "host19999"))
        a = _rows(sketch_by_key(probe.repartition(1), key_col="host",
                                text_col="text", sketch_params=self.PARAMS))
        b = _rows(rows.filter(F.col("key").isin("host0", "host7", "host19999")))
        for k in a:
            assert bytes(a[k]["hll"]) == bytes(b[k]["hll"])
            assert bytes(a[k]["cms"]) == bytes(b[k]["cms"])
            assert a[k]["n_docs"] == b[k]["n_docs"]
        base.unpersist()
        rows.unpersist()

    def test_bounds_report_20k_keys(self, spark):
        """The audit completes over a 20k-key column with every exact
        counter correct and every sketch inside its (parameterized)
        published bound — no driver-side key-space materialization."""
        n_keys = 20_000
        docs = spark.range(n_keys * 2).select(
            F.concat(F.lit("h"), (F.col("id") % n_keys).cast("string")).alias("host"),
            F.concat(F.lit("a"), (F.col("id") % 11).cast("string"),
                     F.lit(" b"), (F.col("id") % 13).cast("string")).alias("text"),
        ).repartition(32, "host")
        rep = sketch_bounds_report(
            spark, docs, key_col="host", text_col="text", sketch_params=self.PARAMS
        )
        agg = rep.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("hll_ok").cast("long")).alias("hll"),
            F.sum(F.col("cms_ok").cast("long")).alias("cms"),
            F.sum(F.col("kll_ok").cast("long")).alias("kll"),
            F.sum(F.col("tdigest_ok").cast("long")).alias("td"),
            F.sum("n_docs").alias("docs"),
        ).collect()[0]
        assert agg["n"] == n_keys
        assert agg["docs"] == n_keys * 2
        assert agg["hll"] == agg["cms"] == agg["kll"] == agg["td"] == n_keys

    def test_reader_param_mismatch_is_caught(self, spark):
        docs = spark.range(40).select(
            F.lit("k").alias("k"),
            F.concat(F.lit("w"), (F.col("id") % 7).cast("string")).alias("text"),
        )
        rows = sketch_by_key(docs, key_col="k", text_col="text",
                             sketch_params=self.PARAMS)
        with pytest.raises(Exception):
            # defaults (8192x5 CMS) cannot deserialize 512x4 payloads
            cms_token_counts(rows, ["w1"]).collect()

    def test_implausible_params_rejected(self, spark, corpus):
        with pytest.raises(ValueError):
            sketch_by_key(corpus, key_col="lang", sketch_params=(2, 512, 4))
        with pytest.raises(ValueError):
            sketch_by_key(corpus, key_col="lang", sketch_params=(10, 8, 4))
