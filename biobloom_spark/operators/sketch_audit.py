"""Published-error-bound audit for the companion sketches.

The north rule requires each auxiliary sketch (HLL, count-min, t-digest,
KLL) to stay "within its published error bound".  This module turns that
from a test-suite property into a *data-checkable claim*: build the
registry, query every companion sketch, compare against exact Spark
aggregates of the same corpus, and emit one boolean per (filter, sketch).
The gate query's oracle is simply ``true`` for every cell — the driver's
value-hash comparison then fails the round if any sketch ever drifts out
of bound.

Bounds used (each from the algorithm's source paper, with the audit
tolerance stated next to it):

- HLL (Flajolet et al. 2007): rel. std. error 1.04/sqrt(2^p); audited at
  3 sigma.
- Count-min (Cormode & Muthukrishnan 2005): ``true <= est <= true +
  eps*N`` with eps = e/width, per-query failure prob e^-depth; audited on
  the top-k tokens per filter at the hard bound (no slack needed — the
  lower bound is deterministic).
- KLL (Karnin, Lang, Liberty 2016): normalized rank error; audited via
  ``rank(quantile(q)) - q`` against the sketch's own ``error_bound()``.
- t-digest (Dunning & Ertl): rank error bounded by the k1 scale
  function's centroid width; audited at the documented mid-range
  tolerance (2/delta per side → 0.02 at delta=200).

Exact sides are computed with plain Spark aggregations; per-filter
doc-length histograms are bounded (token counts, not raw text), so the
driver-side rank math is sketch-sized.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
    """One row per filter key: is every companion sketch inside its
    published bound on this corpus?  (See module docstring for bounds.)

    ``registry``: audit an existing registry (e.g. a ``merge_registries``
    result — merged sketches must hold the same bounds) instead of
    building one; ``docs`` stays the corpus the exact sides are computed
    from.
    """
    from ..sketch import CountMinSketch, HLLSketch, KLLSketch, TDigestSketch
    from ..sketch.hashing import hash_tokens
    from ..sources.tables import tokens_col
    from .maker import _CMS_D, _CMS_W, _HLL_P, build_filters

    params = params or BloomParams()
    reg = registry if registry is not None else build_filters(
        spark, docs, key_col=key_col, text_col=text_col, id_col=id_col, params=params
    )
    blobs = {
        r["filter_id"]: r
        for r in reg.select(
            "filter_id", "num_entries", "hll", "cms", "tdigest", "kll"
        ).collect()
    }

    base = docs.filter(
        F.col(key_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        # cast to string: registry filter_ids are stringified keys
        # (build_filters casts), so the exact-side dicts must be too or a
        # non-string key_col would miss every lookup
        F.col(key_col).cast("string").alias("key"),
        tokens_col(text_col).alias("toks"),
    )
    # exact doc-length (token-count) histogram per key — bounded rows
    hists: dict[str, list[tuple[float, int]]] = {}
    for r in (
        base.select("key", F.size("toks").alias("n"))
        .groupBy("key", "n")
        .count()
        .collect()
    ):
        hists.setdefault(r["key"], []).append((float(r["n"]), int(r["count"])))
    # exact top-k token counts + total token count per key
    tok = base.select("key", F.explode("toks").alias("token"))
    totals = {
        r["key"]: int(r["n"]) for r in tok.groupBy("key").count().withColumnRenamed("count", "n").collect()
    }
    from pyspark.sql import Window

    wnd = Window.partitionBy("key").orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tok.groupBy("key", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= top_tokens)
        .collect()
    )
    top_by_key: dict[str, list[tuple[str, int]]] = {}
    for r in top:
        top_by_key.setdefault(r["key"], []).append((r["token"], int(r["cnt"])))

    rows = []
    hll_tol = 3 * 1.04 / math.sqrt(2**_HLL_P)
    cms_eps = math.e / _CMS_W
    td_tol = 2.0 / 200.0  # one centroid width per side at delta=200, k1 scale
    for fid, r in sorted(blobs.items()):
        hll = HLLSketch.deserialize(bytes(r["hll"]), p=_HLL_P)
        cms = CountMinSketch.deserialize(bytes(r["cms"]), _CMS_W, _CMS_D)
        td = TDigestSketch.deserialize(bytes(r["tdigest"]))
        kll = KLLSketch.deserialize(bytes(r["kll"]))
        # HLL vs the EXACT distinct-frame count the registry carries
        # (pure-sparse lineage => num_entries is exact, itself
        # oracle-checked via the distinct_shingles gate)
        exact_distinct = int(r["num_entries"])
        hll_err = abs(hll.estimate() - exact_distinct) / max(exact_distinct, 1)
        # quantile sketches vs the exact length histogram
        hist = hists.get(fid, [(0.0, 1)])
        kll_errs = [_rank_err(hist, kll.quantile(q), q) for q in _QS]
        td_errs = [_rank_err(hist, td.quantile(q), q) for q in _QS]
        # count-min on the exact top tokens
        cms_over = 0.0
        cms_ok = True
        n_tok = max(totals.get(fid, 0), 1)
        pairs = top_by_key.get(fid, [])
        if pairs:
            hashes = hash_tokens([t for t, _ in pairs])
            ests = cms.query_batch(np.asarray(hashes, dtype=np.uint64))
            for (tok_s, true_c), est in zip(pairs, ests):
                if est < true_c:  # CMS can never undercount
                    cms_ok = False
                cms_over = max(cms_over, (float(est) - true_c) / n_tok)
            cms_ok = cms_ok and cms_over <= cms_eps
        rows.append(
            (
                fid,
                bool(hll_err <= hll_tol),
                bool(cms_ok),
                bool(max(kll_errs) <= kll.error_bound()),
                bool(max(td_errs) <= td_tol),
                round(hll_err, 6),
                round(max(kll_errs), 6),
                round(max(td_errs), 6),
                round(cms_over, 9),
            )
        )
    return local_frame(spark, rows, _REPORT_SCHEMA)
