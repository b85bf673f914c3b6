"""Published-error-bound audit for the per-key sketches.

The north rule requires each auxiliary sketch (HLL, count-min, t-digest,
KLL) to stay "within its published error bound".  This module turns that
from a test-suite property into a *data-checkable claim*: query every
sketch, compare against exact Spark aggregates of the same corpus, and
emit one boolean per (key, sketch).  The gate query's oracle is simply
``true`` for every cell — the driver's value-hash comparison then fails
the round if any sketch ever drifts out of bound.

Two reports share one per-key kernel (``_audit_row``) and one set of
exact sides (``sketch_agg._with_exact_sides``):
``sketch_agg.sketch_bounds_report`` audits all four ``sketch_by_key``
sketches, and ``sketch_error_report`` audits the Bloom registry's
distinct-frame HLL plus the count-min, t-digest and KLL that
``sketch_by_key`` builds over the same documents (the Bloom build makes
no other sketch).

Bounds used (each from the algorithm's source paper, with the audit
tolerance stated next to it):

- HLL (Flajolet et al. 2007): rel. std. error 1.04/sqrt(2^p); audited at
  3 sigma.
- Count-min (Cormode & Muthukrishnan 2005): ``true <= est <= true +
  eps*N`` with eps = e/width, per-query failure prob e^-depth; audited on
  the top-k tokens per key at the hard bound (no slack needed — the
  lower bound is deterministic).
- KLL (Karnin, Lang, Liberty 2016): normalized rank error; audited via
  ``rank(quantile(q)) - q`` against the sketch's own ``error_bound()``.
- t-digest (Dunning & Ertl): rank error bounded by the k1 scale
  function's centroid width; audited at the documented mid-range
  tolerance (2/delta per side → 0.02 at delta=200).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import BloomParams
from ..session import local_frame

__all__ = ["sketch_error_report"]

_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("filter_id", T.StringType(), False),
        T.StructField("hll_ok", T.BooleanType(), False),
        T.StructField("cms_ok", T.BooleanType(), False),
        T.StructField("kll_ok", T.BooleanType(), False),
        T.StructField("tdigest_ok", T.BooleanType(), False),
        T.StructField("hll_rel_err", T.DoubleType(), False),
        T.StructField("kll_max_rank_err", T.DoubleType(), False),
        T.StructField("tdigest_max_rank_err", T.DoubleType(), False),
        T.StructField("cms_max_overcount_frac", T.DoubleType(), False),
    ]
)

_QS = (0.1, 0.25, 0.5, 0.75, 0.9)
_TD_TOL = 2.0 / 200.0  # one centroid width per side at delta=200, k1 scale


def _rank_err(hist: list[tuple[float, int]], v: float, q: float) -> float:
    """Normalized rank error of returning value v for quantile q, against
    an exact (value, count) histogram.

    Over a multiset a single value occupies the whole rank interval
    [#below, #below + #equal] / n; the estimate is exact (error 0) when q
    falls inside that interval, else the distance to its nearer edge —
    the standard discrete-quantile semantics (a sketch cannot answer
    between two tied values)."""
    below = sum(c for x, c in hist if x < v)
    equal = sum(c for x, c in hist if x == v)
    n = max(sum(c for _, c in hist), 1)
    lo, hi = below / n, (below + equal) / n
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


def _audit_row(r, hll_est: float, exact_distinct: int, hll_p: int, cms_w: int, cms_d: int):
    """Flags and errors of one key's sketches against its exact sides.

    ``r`` is a ``sketch_agg._with_exact_sides`` row (a Spark ``Row`` or a
    pandas named tuple): its ``cms``/``kll``/``tdigest`` blobs, exact
    ``n_tokens``, doc-length histogram ``hist`` and ``top_toks``.  The HLL
    estimate and its exact count come in separately, since the two
    reports audit different HLLs.  Returns ``sketch_error_report``'s row
    after ``filter_id``: the four flags, then hll_rel_err,
    kll_max_rank_err, tdigest_max_rank_err (6 dp) and
    cms_max_overcount_frac (9 dp)."""
    from ..sketch import CountMinSketch, KLLSketch, TDigestSketch
    from ..sketch.hashing import hash_tokens

    hll_err = abs(hll_est - exact_distinct) / max(exact_distinct, 1)
    hist = (
        [(float(e["n"]), int(e["c"])) for e in r.hist]
        if r.hist is not None and len(r.hist)
        else [(0.0, 1)]
    )
    kll = KLLSketch.deserialize(bytes(r.kll))
    td = TDigestSketch.deserialize(bytes(r.tdigest))
    kll_err = max(_rank_err(hist, kll.quantile(q), q) for q in _QS)
    td_err = max(_rank_err(hist, td.quantile(q), q) for q in _QS)
    cms_ok, cms_over = True, 0.0
    if r.top_toks is not None and len(r.top_toks):
        pairs = [(e["token"], int(e["cnt"])) for e in r.top_toks]
        cms = CountMinSketch.deserialize(bytes(r.cms), cms_w, cms_d)
        ests = cms.query_batch(
            np.asarray(hash_tokens([t for t, _ in pairs]), dtype=np.uint64)
        )
        n_tok = max(int(r.n_tokens), 1)
        for (_t, true_c), est in zip(pairs, ests):
            cms_ok = cms_ok and est >= true_c  # CMS can never undercount
            cms_over = max(cms_over, (float(est) - true_c) / n_tok)
        cms_ok = cms_ok and cms_over <= math.e / cms_w
    return (
        bool(hll_err <= 3 * 1.04 / math.sqrt(2**hll_p)),
        bool(cms_ok),
        bool(kll_err <= kll.error_bound()),
        bool(td_err <= _TD_TOL),
        round(hll_err, 6), round(kll_err, 6), round(td_err, 6), round(cms_over, 9),
    )


def sketch_error_report(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    params: BloomParams | None = None,
    top_tokens: int = 5,
    registry: DataFrame | None = None,
) -> DataFrame:
    """One row per filter key: is every sketch inside its published bound
    on this corpus?  (See module docstring for bounds.)

    The HLL audited is the registry's distinct-frame HLL, against the
    exact distinct-frame count the registry carries (``num_entries``).
    Count-min, KLL and t-digest are the ``sketch_agg.sketch_by_key``
    sketches of ``docs``: the Bloom build makes none.

    ``registry``: audit an existing registry (e.g. a ``merge_registries``
    result — a merged HLL must hold the same bound) instead of building
    one; ``docs`` stays the corpus the exact sides are computed from.
    """
    from ..sketch import HLLSketch
    from .maker import _HLL_P, build_filters
    from .sketch_agg import _CMS_D, _CMS_W, _with_exact_sides, sketch_by_key

    params = params or BloomParams()
    reg = registry if registry is not None else build_filters(
        spark, docs, key_col=key_col, text_col=text_col, id_col=id_col, params=params
    )
    sketched = _with_exact_sides(
        sketch_by_key(docs, key_col, text_col), docs, key_col, text_col, top_tokens
    )
    by_key = {
        r["key"]: r
        for r in sketched.select(
            "key", "n_tokens", "cms", "kll", "tdigest", "hist", "top_toks"
        ).collect()
    }
    rows = []
    reg_rows = reg.select("filter_id", "num_entries", "hll").collect()
    for r in sorted(reg_rows, key=lambda r: r["filter_id"]):
        fid = r["filter_id"]
        if fid not in by_key:
            raise ValueError(f"registry filter {fid!r} has no rows in docs")
        # HLL vs the EXACT distinct-frame count the registry carries
        # (pure-sparse lineage => num_entries is exact, itself
        # oracle-checked via the distinct_shingles gate)
        hll_est = HLLSketch.deserialize(bytes(r["hll"]), p=_HLL_P).estimate()
        rows.append((fid, *_audit_row(
            by_key[fid], hll_est, int(r["num_entries"]), _HLL_P, _CMS_W, _CMS_D
        )))
    return local_frame(spark, rows, _REPORT_SCHEMA)
