"""Published-error-bound audit (operators/sketch_audit.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from biobloom_spark.operators.sketch_audit import _rank_err, sketch_error_report


class TestRankErr:
    HIST = [(1.0, 4), (2.0, 4), (5.0, 2)]  # n=10; ranks: 1→[0,.4] 2→[.4,.8] 5→[.8,1]

    def test_inside_interval_is_zero(self):
        assert _rank_err(self.HIST, 2.0, 0.5) == 0.0
        assert _rank_err(self.HIST, 1.0, 0.1) == 0.0
        assert _rank_err(self.HIST, 5.0, 0.95) == 0.0

    def test_outside_interval_distance_to_edge(self):
        assert _rank_err(self.HIST, 1.0, 0.5) == pytest.approx(0.1)
        assert _rank_err(self.HIST, 5.0, 0.5) == pytest.approx(0.3)

    def test_interpolated_value_point_interval(self):
        # 3.0 not in hist: interval collapses at rank 0.8
        assert _rank_err(self.HIST, 3.0, 0.8) == pytest.approx(0.0)
        assert _rank_err(self.HIST, 3.0, 0.5) == pytest.approx(0.3)


class TestSketchErrorReport:
    def test_all_within_bounds(self, spark, documents):
        rep = sketch_error_report(spark, documents).collect()
        assert len(rep) == 5  # one row per lang
        for r in rep:
            assert r["hll_ok"] and r["cms_ok"] and r["kll_ok"] and r["tdigest_ok"], (
                r.asDict()
            )

    def test_int_key_col_within_bounds(self, spark, documents):
        """A non-string key_col must audit correctly: the registry
        stringifies filter ids, so the exact-side lookups must align (a
        type mismatch would compare sketches against bogus one-point
        histograms and flag healthy filters)."""
        docs = documents.withColumn(
            "lang_id", F.abs(F.hash("lang")) % F.lit(1000)
        )
        rep = sketch_error_report(spark, docs, key_col="lang_id").collect()
        assert len(rep) == 5
        for r in rep:
            assert r["hll_ok"] and r["cms_ok"] and r["kll_ok"] and r["tdigest_ok"], (
                r.asDict()
            )

    def test_bounds_hold_after_merge(self, spark, documents):
        """A merged registry's HLL must satisfy the same bound — the
        mergeability contract is about estimates, not just bytes.  (The
        count-min, KLL and t-digest audited here are ``sketch_by_key``'s;
        their post-merge bounds are
        ``test_sketch_agg.py::TestSketchByKey::test_merge_rows_equals_one_shot``'s.)"""
        from biobloom_spark.operators.maker import (
            _HLL_P,
            build_filters,
            merge_registries,
            size_filters,
        )
        from biobloom_spark.config import BloomParams
        from biobloom_spark.sketch import HLLSketch

        sizing = size_filters(documents, "lang", "text", BloomParams())
        parts = [
            build_filters(
                spark,
                documents.filter(F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2)) == i),
                key_col="lang",
                id_col="doc_id",
                expected_sizing=sizing,
            )
            for i in range(2)
        ]
        merged = merge_registries(*parts)
        rep = sketch_error_report(spark, documents, registry=merged).collect()
        assert len(rep) == 5
        for r in rep:
            assert r["hll_ok"], r.asDict()
        # merged HLL vs the one-shot build's EXACT distinct count
        full = build_filters(spark, documents, key_col="lang", id_col="doc_id",
                             expected_sizing=sizing)
        exact = {r["filter_id"]: int(r["num_entries"]) for r in full.collect()}
        tol = 3 * 1.04 / math.sqrt(2**_HLL_P)
        for r in merged.collect():
            est = HLLSketch.deserialize(bytes(r["hll"]), p=_HLL_P).estimate()
            assert abs(est - exact[r["filter_id"]]) / exact[r["filter_id"]] <= tol
