"""A/B probe: shuffle compression codec (lz4 default vs zstd) on the
plain Bloom build — the formal scaling phase whose residual non-scaling
term is shuffle byte movement through the single shared disk path
(BENCH.md round-4 stage decomposition).  The build partials are already
delta-packed (~6 B/entry), but packed geometric deltas still compress;
if zstd shrinks the exchange at no wall-time cost it directly lifts the
N->4N scaling number, and on a real cluster it cuts inter-node bytes.

Interleaves reps across codecs (same weather), fresh JVM per rep, REST
shuffle metrics per run.  Prints one JSON line per rep + a summary.

Usage: python tools/codec_ab.py [--docs 2000000] [--cores 8] [--reps 2]
       (child mode, internal: --run-codec lz4|zstd)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_PATH = os.environ.get("SCALE_CORPUS", "/tmp/biobloom_scale_corpus")


def run_one(codec: str, cores: int) -> dict:
    from biobloom_spark.config import BuildConfig
    from biobloom_spark.operators import build_filters
    from biobloom_spark.session import get_spark

    spark = get_spark(
        "codec_ab", cores=cores, shuffle_partitions=64, driver_memory="48g",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.io.compression.codec": codec,
        },
    )
    docs = spark.read.parquet(CORPUS_PATH).cache()
    n = docs.count()
    # untimed warm build (first-touch page faults dominate rep 0 on this VM)
    build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="url",
        build=BuildConfig(coalesce_input=8),
    )
    t0 = time.perf_counter()
    build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="url",
        build=BuildConfig(coalesce_input=8),
    ).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    # warm + timed build both counted; the ratio between codecs is what
    # matters and both runs do the same work
    sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    spark.stop()
    return {
        "codec": codec, "cores": cores, "n_docs": n,
        "build_wall_s": round(wall, 2),
        "shuffle_write_mb": round(sw / 1e6, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--run-codec", default=None)
    args = ap.parse_args()

    if args.run_codec:
        print(json.dumps(run_one(args.run_codec, args.cores)))
        return

    from tools.scaling_bench import prepare

    prepare(args.docs)
    samples: dict[str, list[dict]] = {"lz4": [], "zstd": []}
    for _ in range(args.reps):
        for codec in ("lz4", "zstd"):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-codec", codec, "--cores", str(args.cores)],
                capture_output=True, text=True, check=True,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            samples[codec].append(r)
            print(json.dumps(r))
    summary = {
        codec: {
            "build_wall_s_min": min(s["build_wall_s"] for s in rows),
            "shuffle_write_mb": rows[0]["shuffle_write_mb"],
        }
        for codec, rows in samples.items()
    }
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
