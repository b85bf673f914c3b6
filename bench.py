"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric mirrors BASELINE.json: pages/sec through the two-phase
pipeline (filter build + categorize).  Per-query wall seconds reported in
``queries``.  Run tools/scaling_bench.py for the N-vs-4N-cores scaling
efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _calibration() -> dict:
    """Pure-CPU capacity probe (the scaling runs' protocol): this VM's
    deliverable compute swings 2-5x between windows, so every recorded
    number carries the window's measured ceiling — a regression vs a past
    round is only attributable to the engine if the calibrations match."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scaling_bench",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "scaling_bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["scaling_bench"] = mod  # makes _busy picklable for mp.Pool
    spec.loader.exec_module(mod)
    return mod.run_calibration(8)


def main() -> None:
    from biobloom_spark.operators import (
        build_filters,
        categorize,
        load_registry,
        summarize,
        summarize_fused,
    )
    from biobloom_spark.session import get_spark

    import __spark_entry__ as entrymod

    calib = _calibration()  # before the JVM spins up: pure-CPU window probe
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    # testdata is one small parquet file (1 scan partition); spread it once
    # so the scoring pass parallelizes — a real deployment's scan already
    # yields thousands of partitions and skips this
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(CPUS)
        .cache()
    )
    n_docs = docs.count()

    timings: dict[str, float] = {}
    timings_median: dict[str, float] = {}

    def timed(name, fn, reps: int = 3):
        """Min-of-reps wall time (headline) + median — the host is
        multi-tenant and single runs swing 2-3x; min is the best estimate
        of the engine's true cost in this window, median shows the noise."""
        samples = []
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        timings_median[name] = round(sorted(samples)[len(samples) // 2], 3)
        return out

    # warm-up: spin up python workers + compile the agg codegen once so the
    # timed section measures steady-state throughput, not JIT
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

    # phase 1: filter construction (sizing pre-pass + salted build + merge);
    # noop sink = full materialization, no cross-rep cache reuse
    timed(
        "bloom_build",
        lambda: build_filters(
            spark, docs, key_col="lang", text_col="text", id_col="doc_id",
        ).write.format("noop").mode("overwrite").save(),
    )
    reg = build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="doc_id",
    )
    filters = load_registry(reg)

    # phase 2: categorization + summary
    timed(
        "bloom_categorize",
        lambda: summarize_fused(spark, docs, filters, id_col="doc_id").collect(),
    )

    # miBF pipeline (multi-index build + classify; A7/A8/T2)
    from biobloom_spark.operators.mibf import build_mibf, classify_mibf

    sk = timed(
        "mibf_build",
        lambda: build_mibf(spark, docs, key_col="lang", occupancy=0.1),
        reps=3,  # r04 lesson: a single rep let one host seizure double the
        # recorded number; min-of-3 costs ~9 s at sf0.1 and buys a floor
    )
    timed(
        "mibf_classify",
        lambda: classify_mibf(spark, docs, sk)
        .groupBy("assigned").count().collect(),
    )

    # oracle-checked relational slices
    for qname in ("sizing_prepass", "distinct_shingles", "exact_classify_summary"):
        fn = entrymod.queries()[qname]
        timed(qname, lambda f=fn: f(spark, SF_DIR).collect())

    pipeline_sec = timings["bloom_build"] + timings["bloom_categorize"]
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": timings_median,
                "calibration": calib,
                "sf": SF_DIR,
                "cpus": CPUS,
                "n_docs": n_docs,
                "pages_per_sec_build_categorize": round(n_docs / pipeline_sec, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
