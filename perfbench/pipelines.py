"""The workloads: what each runs per repetition, and how its outputs are
checked against the generator's ground truth.

A workload is a ``Workload``: ``generate(seed)`` makes the inputs,
``rep(bench, k)`` makes the public operator calls of one repetition
through ``bench.op`` (which times them), and ``checks(bench)`` compares
the last repetition's outputs with the truth.  Sizes keep one whole run
near half a minute on 4 cores; see README.md.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import workloads as gen
from biobloom_spark.config import MULTI_MATCH, NO_MATCH

HLL_P = 14  # sketch_by_key's default HLL precision

LANG_PAGES = 2000
NEAR_DUP_ORIGINALS = 2500
WALK_UNRELATED, WALK_CHAINS, WALK_CHAIN_LEN, WALK_ITERATIONS = 400, 16, 4, 2


@dataclass
class Check:
    """One correctness check; ``checked``/``correct`` count pages where the
    check is per page (they feed the ``accuracy`` metric), else 0."""

    name: str
    ok: bool
    detail: str = ""
    checked: int = 0
    correct: int = 0


@dataclass
class Workload:
    name: str
    why: str
    generate: Callable[[int], gen.Inputs]
    rep: Callable
    checks: Callable


def _frame(rows, cols) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows], columns=cols)


def _right(res: pd.DataFrame, col: str, truth: dict) -> np.ndarray:
    """Per row of ``res``: does ``col`` equal the truth for its doc_id?"""
    return res[col].to_numpy() == res["doc_id"].map(truth).to_numpy()


# ------------------------------------------------------------------ lang-web
def _lang_web_inputs(seed: int) -> gen.Inputs:
    lang = gen.lang_web(seed, LANG_PAGES)
    walk = gen.progressive_walk(
        seed, WALK_UNRELATED, WALK_CHAINS, WALK_CHAIN_LEN, WALK_ITERATIONS
    )
    return gen.Inputs(
        {**lang.tables, **walk.tables}, lang.pages + walk.pages,
        {**lang.truth, **walk.truth},
    )


def _lang_web_rep(b, k: int) -> None:
    from biobloom_spark.operators import build_filters, load_registry, summarize_fused
    from biobloom_spark.operators.mibf import build_mibf, classify_mibf
    from biobloom_spark.operators.sketch_agg import sketch_by_key, sketch_estimates

    spark, docs, n = b.spark, b.dfs["pages"], b.rows["pages"]
    filters = b.op(
        "bloom_build", k, n,
        lambda: load_registry(build_filters(spark, docs, key_col="lang", id_col="doc_id")),
    )
    b.out["filters"] = filters
    b.layer["bloom_classify.broadcast_bytes"] = sum(len(f["bitmap"]) for f in filters)
    b.out["summary"] = b.op(
        "bloom_classify", k, n,
        lambda: summarize_fused(spark, docs, filters, id_col="doc_id").collect(),
    )
    b.out["sketch"] = b.op(
        "sketch_by_key", k, n,
        lambda: sketch_estimates(sketch_by_key(docs, key_col="lang")).collect(),
    )
    sketch = b.op("mibf_build", k, n, lambda: build_mibf(spark, docs, key_col="lang"))
    b.layer["mibf_build.saturation_rate"] = sketch.saturation_rate()
    b.layer["mibf_classify.broadcast_bytes"] = int(sketch.ids.nbytes)
    b.out["mibf"] = b.op(
        "mibf_classify", k, n,
        lambda: _frame(
            classify_mibf(spark, docs, sketch, id_col="doc_id")
            .select("doc_id", "assigned").collect(),
            ["doc_id", "assigned"],
        ),
    )
    _walk(b, k)


def _walk(b, k: int) -> None:
    """``progressive_build`` from the chain heads over the walk's reads."""
    from biobloom_spark.operators import categorizer
    from biobloom_spark.operators.progressive import progressive_build

    spark, seeds, reads = b.spark, b.dfs["seeds"], b.dfs["reads"]
    n = b.rows["seeds"] + b.rows["reads"]

    def run():
        _filters, tagged = progressive_build(
            spark, seeds, reads, id_col="doc_id", max_iterations=WALK_ITERATIONS
        )
        return {r["doc_id"] for r in tagged.select("doc_id").collect()}

    if not b.traced_rep:
        b.out["tagged"] = b.op("progressive", k, n, run)
        return
    # iteration boundaries: each iteration starts with one categorize call
    # over the still-untagged reads
    inner, marks = categorizer.categorize, []

    def marked(*a, **kw):
        marks.append(time.time())
        return inner(*a, **kw)

    categorizer.categorize = marked
    try:
        b.out["tagged"] = b.op("progressive", k, n, run)
    finally:
        categorizer.categorize = inner
    ends = marks[1:] + [b.tracer.spans[-1].end]
    b.layer["progressive.first_iter_s"] = ends[0] - marks[0]
    b.layer["progressive.last_iter_s"] = ends[-1] - marks[-1]


def _lang_web_checks(b) -> list[Check]:
    from biobloom_spark.operators import categorize
    from biobloom_spark.sketch import BloomSketch, HLLSketch

    label = b.truth["label"]
    n = len(label)
    counts = pd.Series(list(label.values())).value_counts().to_dict()
    out = []

    summary = {r["filter_id"]: r for r in b.out["summary"]}
    bad = [
        fid for fid, c in counts.items()
        if summary[fid]["unique"] != c or summary[fid]["hits"] != c
    ]
    stray = summary[MULTI_MATCH]["hits"] + summary[NO_MATCH]["hits"]
    out.append(Check(
        "bloom_summary_counts", not bad and stray == 0,
        f"{len(bad)} filters off, {stray} multi/noMatch pages",
    ))

    # per page: assignment equals the true label, and no page is noMatch
    # (every generated page has far more than w tokens)
    res = _frame(
        categorize(b.spark, b.dfs["pages"], b.out["filters"], id_col="doc_id")
        .select("doc_id", "assigned").collect(),
        ["doc_id", "assigned"],
    )
    right = int(_right(res, "assigned", label).sum())
    nomatch = int((res["assigned"] == NO_MATCH).sum())
    out.append(Check(
        "bloom_assignment", right == n and len(res) == n and nomatch == 0,
        f"{right}/{n} right, {nomatch} noMatch", n, right,
    ))

    # FPR: registry occupancy FPR and an empirical probe of random hashes
    # stay within the configured target
    rng = np.random.default_rng(b.seed)
    probes = rng.integers(0, np.iinfo(np.uint64).max, size=20000, dtype=np.uint64)
    over = []
    for f in b.out["filters"]:
        sk = BloomSketch.deserialize(
            f["bitmap"], f["m_bits"], f["num_hashes"],
            block_bits=f["block_bits"], seg_offsets=f.get("seg_offsets"),
        )
        measured = float(sk.contains_batch(probes).mean())
        # 4-sigma binomial slack on the 20k-probe estimate
        slack = 4 * np.sqrt(f["target_fpr"] * (1 - f["target_fpr"]) / probes.size)
        if f["fpr"] > f["target_fpr"] or measured > f["target_fpr"] + slack:
            over.append(f["filter_id"])
    out.append(Check("bloom_fpr", not over, f"{len(over)} filters over target FPR"))

    mibf = b.out["mibf"]
    right = int(_right(mibf, "assigned", label).sum())
    out.append(Check(
        "mibf_assignment", right == n and len(mibf) == n, f"{right}/{n} right", n, right,
    ))

    # distinct tokens per language within 3 standard errors of the HLL
    bound = 3 * HLLSketch(p=HLL_P).relative_error_bound()
    truth = b.truth["distinct_tokens"]
    errs = {
        r["key"]: abs(r["distinct_hll"] - truth[r["key"]]) / truth[r["key"]]
        for r in b.out["sketch"]
    }
    out.append(Check(
        "hll_within_bound",
        set(errs) == set(truth) and max(errs.values()) <= bound,
        f"max rel err {max(errs.values()):.4f} vs bound {bound:.4f}",
    ))

    # the walk tags exactly the chain pages it can reach, no unrelated page
    tagged, expected = b.out["tagged"], b.truth["tagged"]
    walk_pages = b.rows["seeds"] + b.rows["reads"]
    wrong = len(tagged ^ expected)
    out.append(Check(
        "progressive_tags_exact", wrong == 0,
        f"{len(tagged & expected)}/{len(expected)} chain pages tagged, "
        f"{len(tagged - expected)} extra",
        walk_pages, walk_pages - wrong,
    ))
    return out


# ------------------------------------------------------------------ near-dup
def _near_dup_rep(b, k: int) -> None:
    from biobloom_spark.operators import dedup_clusters
    from biobloom_spark.operators.dedup import exact_jaccard_on_pairs, minhash_lsh_pairs

    docs = b.dfs["pages"]

    def run():
        cand = minhash_lsh_pairs(docs, id_col="doc_id", verify=False)
        pairs = exact_jaccard_on_pairs(docs, cand, id_col="doc_id")
        b.out["pairs"] = (cand, pairs)
        rows = dedup_clusters(docs, pairs, id_col="doc_id").select("doc_id", "cluster_id").collect()
        return _frame(rows, ["doc_id", "cluster_id"])

    b.out["clusters"] = b.op("dedup", k, b.rows["pages"], run)


def _near_dup_checks(b) -> list[Check]:
    truth = b.truth["cluster"]
    res = b.out["clusters"]
    n = len(truth)
    ok = _right(res, "cluster_id", truth)
    dup = res["doc_id"].to_numpy() != res["doc_id"].map(truth).to_numpy()
    right = int(ok.sum())
    if b.trace:
        cand, pairs = b.out["pairs"]
        n_cand = cand.count()
        b.layer["dedup.candidate_pairs"] = n_cand
        b.layer["dedup.verified_per_candidate"] = pairs.count() / max(1, n_cand)
    return [
        Check(
            "dup_in_original_cluster", bool(ok[dup].all()) and int(dup.sum()) == b.truth["dups"],
            f"{int(ok[dup].sum())}/{b.truth['dups']} duplicates found",
        ),
        Check(
            "clusters_exact", right == n and len(res) == n,
            f"{right}/{n} pages in their true cluster", n, right,
        ),
    ]


# --------------------------------------------------------------------- table
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lang-web",
            "Bloom build and classify, sketches and miBF over 8 languages with "
            "shared vocabulary, then a progressive walk: every Bloom code path",
            _lang_web_inputs,
            _lang_web_rep,
            _lang_web_checks,
        ),
        Workload(
            "near-dup",
            "MinHash LSH, exact Jaccard and connected components: JVM "
            "shuffles, joins and per-round jobs, and no Bloom code",
            lambda seed: gen.near_dup(seed, NEAR_DUP_ORIGINALS),
            _near_dup_rep,
            _near_dup_checks,
        ),
    )
}
