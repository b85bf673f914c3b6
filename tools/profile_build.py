"""Stage-level build profiling at one core count (subprocess per run).

Times, separately: (1) sizing pre-pass, (2) partial build (mapInPandas →
noop sink, pinned sizing so no re-scan), (3) merge stages given
materialized partials, (4) the full build. Prints one JSON line.

Usage: python tools/profile_build.py --cores 16
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_PATH = os.environ.get("SCALE_CORPUS", "/tmp/biobloom_scale_corpus")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from biobloom_spark.config import BloomParams, BuildConfig
    from biobloom_spark.operators.maker import (
        _assemble_fn,
        _build_partition_fn,
        _seg_reduce_fn,
        _sorted_map,
        build_filters,
        size_filters,
    )
    from biobloom_spark.session import get_spark
    from biobloom_spark.sources.tables import PARTIAL_SCHEMA, REGISTRY_SCHEMA

    dmem = os.environ.get("SCALE_DRIVER_MEM", "48g")
    coalesce = int(os.environ.get("SCALE_COALESCE", "8"))
    spark = get_spark("profile_build", cores=args.cores, shuffle_partitions=64, driver_memory=dmem)
    docs = spark.read.parquet(CORPUS_PATH).cache()
    n = docs.count()
    params = BloomParams()
    build = BuildConfig(coalesce_input=coalesce)

    # warm: small build exercises codegen + python workers
    build_filters(
        spark, docs.limit(2000), key_col="lang", text_col="text", id_col="url",
    ).write.format("noop").mode("overwrite").save()
    # untimed full pass: page-fault warmup
    build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="url", build=build,
    ).write.format("noop").mode("overwrite").save()

    out = {"cores": args.cores, "n_docs": n}

    t0 = time.perf_counter()
    sizing = size_filters(docs.filter(F.col("lang").isNotNull() & F.col("text").isNotNull()), "lang", "text", params)
    out["sizing_s"] = round(time.perf_counter() - t0, 2)

    base = docs.filter(F.col("lang").isNotNull() & F.col("text").isNotNull()).select(
        F.col("lang").cast("string").alias("filter_id"), F.col("text")
    ).coalesce(coalesce)
    part_fn = _build_partition_fn(params, "text", "filter_id", None, None)

    t0 = time.perf_counter()
    base.mapInPandas(part_fn, schema=PARTIAL_SCHEMA).write.format("noop").mode("overwrite").save()
    out["partial_s"] = round(time.perf_counter() - t0, 2)

    # materialize partials once, then time the segmented merge alone
    ppath = "/tmp/profile_partials"
    base.mapInPandas(part_fn, schema=PARTIAL_SCHEMA).write.mode("overwrite").parquet(ppath)
    partials = spark.read.parquet(ppath).cache()
    partials.count()

    t0 = time.perf_counter()
    reduced = _sorted_map(
        partials, ("filter_id", "seg"), _seg_reduce_fn(params, None),
        PARTIAL_SCHEMA,
    )
    reg = _sorted_map(
        reduced, ("filter_id",), _assemble_fn(params, None),
        REGISTRY_SCHEMA,
    )
    reg.write.format("noop").mode("overwrite").save()
    out["merge_seg_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="url", build=build,
    ).write.format("noop").mode("overwrite").save()
    out["full_build_s"] = round(time.perf_counter() - t0, 2)

    # partial payload stats
    sizes = partials.select(F.length("bitmap").alias("b")).agg(
        F.sum("b").alias("total"), F.max("b").alias("mx"), F.count("*").alias("cnt")
    ).collect()[0]
    out["partial_bytes_total"] = int(sizes["total"])
    out["partial_bytes_max"] = int(sizes["mx"])
    out["partial_rows"] = int(sizes["cnt"])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
