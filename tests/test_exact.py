"""Exact classification (operators/exact.py): both plans against a
driver-side twin.

``exact_classify`` scores ``exact_hit_matrix``'s per-label bitmask pivot
up to ``_PIVOT_MAX_LABELS`` labels and the join-shaped
``_exact_classify_joinplan`` past it; both must give the twin's
assignment for every document.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from biobloom_spark.config import MULTI_MATCH, NO_MATCH
from biobloom_spark.operators.exact import (
    _PIVOT_MAX_LABELS,
    _exact_classify_joinplan,
    exact_classify,
    exact_hit_matrix,
)

from conftest import SMOKE_DIR

W = 3


@pytest.fixture(scope="module")
def docs(spark):
    """sf0.001 documents plus two with fewer than ``W`` tokens (zero
    frames) and one whose text starts and ends with whitespace."""
    smoke = spark.read.parquet(f"{SMOKE_DIR}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    extra = spark.createDataFrame(
        [(10**6, "en", "two tokens"), (10**6 + 1, "fr", ""),
         (10**6 + 2, "de", "\tthe fast key order sort table\n")],
        "doc_id long, lang string, text string",
    )
    return smoke.unionByName(extra).cache()


def _twin(rows, threshold: float) -> dict:
    """{doc_id: assigned} computed on the driver: refset(L) = the distinct
    w-token shingles of label L's docs (tokens split on Java's ``\\s``);
    a doc hits L iff it shares a frame with refset(L) and at least
    ``threshold`` of its frames (with multiplicity) are in it."""
    def shingles(text):
        toks = re.findall(r"[^ \t\n\x0b\f\r]+", text or "")
        return [" ".join(toks[i:i + W]) for i in range(len(toks) - W + 1)]

    frames = {r["doc_id"]: shingles(r["text"]) for r in rows}
    refsets: dict = {}
    for r in rows:
        refsets.setdefault(r["key"], set()).update(frames[r["doc_id"]])
    out = {}
    for d, fr in frames.items():
        hit = [
            lab for lab in sorted(refsets)
            if (n := sum(s in refsets[lab] for s in fr)) > 0
            and n >= threshold * len(fr)
        ]
        out[d] = NO_MATCH if not hit else hit[0] if len(hit) == 1 else MULTI_MATCH
    return out


def _assigned(df) -> dict:
    return {r["doc_id"]: r["assigned"] for r in df.collect()}


@pytest.mark.parametrize("threshold", [0.5, 0.1])
def test_pivot_route_matches_twin(spark, docs, threshold):
    keyed = docs.withColumn("key", F.col("lang"))
    rows = keyed.collect()
    assert len({r["key"] for r in rows}) <= _PIVOT_MAX_LABELS
    got = _assigned(exact_classify(keyed, key_col="key", w=W, threshold=threshold))
    want = _twin(rows, threshold)
    assert got == want
    assert len(set(want.values())) > 2  # labels, and noMatch or multiMatch


def test_pivot_route_at_64_labels(spark, docs):
    """The 64th label owns the mask's sign bit."""
    keyed = docs.withColumn(
        "key", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("string")
    )
    rows = keyed.collect()
    assert len({r["key"] for r in rows}) == _PIVOT_MAX_LABELS
    got = _assigned(exact_classify(keyed, key_col="key", w=W, threshold=0.1))
    assert got == _twin(rows, 0.1)


def test_joinplan_route_matches_twin(spark, docs):
    """Past 64 labels (lang x 17 doc-id buckets) ``exact_classify`` takes
    the join plan."""
    keyed = docs.withColumn(
        "key",
        F.concat_ws("_", "lang", F.pmod(F.xxhash64("doc_id"), F.lit(17)).cast("string")),
    )
    rows = keyed.collect()
    assert len({r["key"] for r in rows}) > _PIVOT_MAX_LABELS
    got = _assigned(exact_classify(keyed, key_col="key", w=W, threshold=0.1))
    assert got == _twin(rows, 0.1)


def test_joinplan_equals_pivot_at_few_labels(spark, docs):
    keyed = docs.withColumn("key", F.col("lang"))
    pivot = _assigned(exact_classify(keyed, key_col="key", w=W, threshold=0.1))
    join = _assigned(
        _exact_classify_joinplan(keyed, "key", "doc_id", "text", W, 0.1)
    )
    assert join == pivot


def test_hit_matrix_rejects_past_pivot_width(spark, docs):
    labels = [f"l{i}" for i in range(_PIVOT_MAX_LABELS + 1)]
    with pytest.raises(ValueError, match="<= 64 labels"):
        exact_hit_matrix(docs, key_col="lang", w=W, labels=labels)
