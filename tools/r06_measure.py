"""Round-6 measurement harness (guide §1): per-query isolation with the
same min-of-reps methodology as bench.py, explain("formatted") capture for
the relational queries, and a phase breakdown for mibf_build.

Does NOT touch bench.py (frozen).  Usage:

    python tools/r06_measure.py --sf /root/testdata/sf1.0 --reps 3 \
        [--queries exact_classify_summary,distinct_shingles] \
        [--plans plans/r06 --suffix _before] [--mibf-phases]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RELATIONAL = ("sizing_prepass", "distinct_shingles", "exact_classify_summary")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", default="")
    ap.add_argument("--plans", default="")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--mibf-phases", action="store_true")
    ap.add_argument("--skip-warmup", action="store_true")
    args = ap.parse_args()

    from biobloom_spark.operators import (
        build_filters,
        categorize,
        load_registry,
        summarize,
        summarize_fused,
    )
    from biobloom_spark.session import get_spark

    import __spark_entry__ as entrymod

    CPUS = args.cpus
    SF_DIR = args.sf
    spark = get_spark("r06_measure", cores=CPUS, shuffle_partitions=CPUS)
    sc = spark.sparkContext
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(CPUS)
        .cache()
    )
    n_docs = docs.count()

    want = set(q for q in args.queries.split(",") if q) or None
    timings: dict[str, list[float]] = {}

    def timed(name, fn):
        if want is not None and name not in want:
            return None
        sc.setJobDescription(f"r06:{name}")
        samples = []
        out = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(round(time.perf_counter() - t0, 3))
        timings[name] = samples
        sc.setJobDescription(None)
        return out

    # same warm-up as bench.py
    if not args.skip_warmup:
        warm_docs = docs.limit(200).cache()
        warm_docs.count()
        warm_reg = build_filters(
            spark, warm_docs, key_col="lang", text_col="text", id_col="doc_id",
        )
        warm_filters = load_registry(warm_reg)
        summarize(
            categorize(spark, warm_docs, warm_filters, id_col="doc_id"),
            [f["filter_id"] for f in warm_filters],
        ).collect()
        warm_docs.unpersist()

    timed(
        "bloom_build",
        lambda: build_filters(
            spark, docs, key_col="lang", text_col="text", id_col="doc_id",
        ).write.format("noop").mode("overwrite").save(),
    )
    if want is None or "bloom_categorize" in want:
        reg = build_filters(
            spark, docs, key_col="lang", text_col="text", id_col="doc_id",
        )
        filters = load_registry(reg)
        timed(
            "bloom_categorize",
            lambda: summarize_fused(spark, docs, filters, id_col="doc_id").collect(),
        )

    from biobloom_spark.operators.mibf import build_mibf, classify_mibf

    sk = timed(
        "mibf_build",
        lambda: build_mibf(spark, docs, key_col="lang", occupancy=0.1),
    )
    if sk is not None:
        timed(
            "mibf_classify",
            lambda: classify_mibf(spark, docs, sk)
            .groupBy("assigned").count().collect(),
        )

    for qname in RELATIONAL:
        fn = entrymod.queries()[qname]
        timed(qname, lambda f=fn: f(spark, SF_DIR).collect())
        if args.plans and (want is None or qname in want):
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(os.path.join(args.plans, f"{qname}{args.suffix}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    if args.mibf_phases and (want is None or "mibf_build" in want):
        from biobloom_spark.operators import mibf as M

        sc.setJobDescription("r06:mibf_phases")
        t = {}
        t0 = time.perf_counter()
        base, bc_map, labels, seed_arr, h, canonical, m_slots = M._prep_build(
            spark, docs, "lang", "text", 3, 3, 0.1, None, None, False, "poly")
        t["prep"] = round(time.perf_counter() - t0, 3)
        import numpy as np
        S = 16
        bounds = M._seg_bounds(m_slots, S)
        t0 = time.perf_counter()
        resolved = M._resolved_segments(
            base, bc_map, m_slots, h, 3, seed_arr, "poly", canonical, bounds, S)
        rows = resolved.collect()
        t["claims_resolve"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        sk2 = build_mibf(spark, docs, key_col="lang", occupancy=0.1)
        t["full_build"] = round(time.perf_counter() - t0, 3)
        timings["mibf_phases"] = t  # type: ignore[assignment]
        sc.setJobDescription(None)

    out = {
        "sf": SF_DIR, "cpus": CPUS, "n_docs": n_docs,
        "samples": timings,
        "min": {k: (min(v) if isinstance(v, list) else v) for k, v in timings.items()},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
