"""Categorize-kernel scaling isolation — Spark-free.

The end-to-end 2-vs-8-core scaling runs (tools/scaling_bench.py) measure
the whole engine: Spark session, cached-corpus scan, Arrow bridge, python
workers, AND the numpy probe kernel.  When the categorize phase reads a
low efficiency there, this tool answers the attribution question: does the
PROBE KERNEL ITSELF stop scaling on this host (Bloom probing is random
DRAM access across a bitmap working set far beyond L3 — a latency/
bandwidth-bound workload that saturates a shared VM's memory system well
before its vCPU count), or is the loss Spark-side (scan, Arrow, shuffle)?

Method: build the REAL registry once over the scale corpus (Spark,
one-time prep), then fork K barrier-synchronized processes, each running
the actual ``_score_texts`` kernel (same code path as ``categorize``'s
mapInPandas) over its own slice of real corpus pages, in Spark-batch-sized
chunks.  Aggregate pages/s at N vs 4N processes + the same pure-CPU
calibration the end-to-end runs use.  No Spark process is alive during
measurement — anything lost here is lost to the hardware, not the engine.

Usage: python tools/kernel_scale.py [--n-procs 2] [--pages-per-proc 40000]
Appends a section to BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_PATH = os.environ.get("SCALE_CORPUS", "/tmp/biobloom_scale_corpus")
REGISTRY_PATH = os.environ.get("KERNEL_REGISTRY", "/tmp/kernel_scale_registry")
BATCH = 5_000  # pages per kernel call (Arrow-batch analog)


def prepare() -> None:
    """One-time: build the real registry over the scale corpus (Spark)."""
    if os.path.exists(os.path.join(REGISTRY_PATH, "_SUCCESS")):
        return
    from biobloom_spark.operators import build_filters
    from biobloom_spark.session import get_spark

    spark = get_spark("kernel_prep", cores=32, shuffle_partitions=64, driver_memory="48g")
    docs = spark.read.parquet(CORPUS_PATH)
    build_filters(
        spark, docs, key_col="lang", text_col="text", id_col="url",
    ).write.mode("overwrite").parquet(REGISTRY_PATH)
    spark.stop()


def _load_filters() -> list[dict]:
    """pyarrow twin of maker.load_registry (no Spark session)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(REGISTRY_PATH).to_pylist()
    rows = {r["filter_id"]: r for r in tbl}
    out = []
    for fid in sorted(rows):
        r = rows[fid]
        so = r.get("seg_offsets")
        out.append(
            {
                "filter_id": fid,
                "m_bits": int(r["m_bits"]),
                "num_hashes": int(r["num_hashes"]),
                "block_bits": int(r.get("block_bits", 0)),
                "shingle_w": int(r["shingle_w"]),
                "canonical": bool(r.get("canonical") or False),
                "hash_family": str(r.get("hash_family") or "poly"),
                "bitmap": bytes(r["bitmap"]),
                "seg_offsets": (
                    np.frombuffer(bytes(so), dtype=np.int64) if so is not None else None
                ),
                "fpr": float(max(r["occupancy_fpr"], 1e-300)),
                "target_fpr": float(r["target_fpr"]),
            }
        )
    return out


def _load_pages(n: int, with_lang: bool = False):
    """First n corpus pages' text (numpy object arrays), via pyarrow."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    cols = ["lang", "text"] if with_lang else ["text"]
    texts, langs = [], []
    for f in sorted(glob.glob(os.path.join(CORPUS_PATH, "*.parquet"))):
        t = pq.read_table(f, columns=cols)
        texts.extend(t.column("text").to_pylist())
        if with_lang:
            langs.extend(t.column("lang").to_pylist())
        if len(texts) >= n:
            break
    texts = np.array(texts[:n], dtype=object)
    if not with_lang:
        return texts
    return np.array(langs[:n], dtype=object), texts


def _child_build(langs, texts, lo, hi, barrier, q):
    """Build map-side kernel: the zero-shuffle partial builder
    (maker._build_partition_fn) over real (lang, text) batches — what every
    build task runs before the segment shuffle.  Consuming the generator
    materializes the sparse slice rows exactly as the Arrow bridge would."""
    import pandas as pd

    from biobloom_spark.config import BloomParams
    from biobloom_spark.operators.maker import _build_partition_fn

    fn = _build_partition_fn(BloomParams(), "text", "filter_id", None, None)

    def run_slice(a, b):
        pdf = pd.DataFrame({"filter_id": langs[a:b], "text": texts[a:b]})
        for _out in fn(iter([pdf])):
            pass

    run_slice(lo, lo + min(500, hi - lo))  # untimed warm chunk
    barrier.wait()
    t0 = time.perf_counter()
    for a in range(lo, hi, BATCH):
        run_slice(a, min(a + BATCH, hi))
    q.put(time.perf_counter() - t0)


def _child(filters, texts, lo, hi, barrier, q):
    # each child deserializes its OWN sketch views (Spark python workers
    # each unpickle their own broadcast copy; fork+COW shares the bitmap
    # pages read-only, which only flatters this benchmark's memory
    # footprint, never its latency) and runs the real kernel
    from biobloom_spark.config import CategorizerConfig
    from biobloom_spark.operators.categorizer import _make_sketches, _score_texts

    cfg = CategorizerConfig()
    sketches = _make_sketches(filters)
    cache: dict = {}
    # untimed warm chunk: page-fault the bitmap + JIT numpy paths
    _score_texts(texts[lo : lo + min(500, hi - lo)], filters, cfg, cache, sketches)
    barrier.wait()
    t0 = time.perf_counter()
    for a in range(lo, hi, BATCH):
        _score_texts(texts[a : min(a + BATCH, hi)], filters, cfg, cache, sketches)
    q.put(time.perf_counter() - t0)


def run_k(child, common_args: tuple, k: int, pages_per_proc: int) -> dict:
    barrier = mp.Barrier(k + 1)
    q: mp.Queue = mp.Queue()
    procs = []
    for i in range(k):
        lo = i * pages_per_proc
        procs.append(
            mp.Process(
                target=child, args=(*common_args, lo, lo + pages_per_proc, barrier, q)
            )
        )
        procs[-1].start()
    barrier.wait()
    t0 = time.perf_counter()
    walls = sorted(q.get() for _ in range(k))
    wall = time.perf_counter() - t0
    for p in procs:
        p.join()
    return {
        "procs": k,
        "wall_s": round(wall, 3),
        "child_min_s": round(walls[0], 3),
        "child_max_s": round(walls[-1], 3),
        "pages_per_sec": round(k * pages_per_proc / wall, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-procs", type=int, default=2)
    ap.add_argument("--pages-per-proc", type=int, default=40_000)
    ap.add_argument("--phase", choices=("categorize", "build"), default="categorize")
    args = ap.parse_args()

    # same glibc pinning as session.get_spark — fresh page faults on this
    # VM run ~150 MB/s and refault storms serialize across processes.
    # glibc reads these at interpreter startup (os.environ after that is
    # too late, and forked children inherit the parent's malloc state), so
    # re-exec once with the env in place; children fork from the re-exec'd
    # image
    if os.environ.get("MALLOC_MMAP_THRESHOLD_") != "2147483647":
        os.environ["MALLOC_MMAP_THRESHOLD_"] = "2147483647"
        os.environ["MALLOC_TRIM_THRESHOLD_"] = "2147483647"
        os.execv(sys.executable, [sys.executable] + sys.argv)

    hi_k = 4 * args.n_procs
    if args.phase == "categorize":
        prepare()
        filters = _load_filters()
        total_mb = sum(len(f["bitmap"]) for f in filters) / 2**20
        n_filters = len(filters)
        texts = _load_pages(hi_k * args.pages_per_proc)
        child, common = _child, (filters, texts)
        desc = (
            f"real `_score_texts` kernel against the real"
            f" {total_mb:.0f} MB registry ({n_filters} filters)"
        )
    else:
        langs, texts = _load_pages(hi_k * args.pages_per_proc, with_lang=True)
        total_mb, n_filters = 0.0, 0
        child, common = _child_build, (langs, texts)
        desc = (
            "build map-side kernel (`maker._build_partition_fn`: hash +"
            " sort + sparse-partial pack, everything a build task runs"
            " before the segment shuffle)"
        )

    from tools.scaling_bench import run_calibration

    lo = run_k(child, common, args.n_procs, args.pages_per_proc)
    hi = run_k(child, common, hi_k, args.pages_per_proc)
    calib = run_calibration(args.n_procs)
    # equal pages PER PROC: 4N procs do 4x the total work, so perfect
    # scaling = constant wall; efficiency = throughput ratio / 4 =
    # lo_wall / hi_wall (NOT /4 — that formula is for fixed total work)
    eff = lo["wall_s"] / hi["wall_s"]
    report = {
        "phase": args.phase,
        "bitmap_mb": round(total_mb, 1),
        "n_filters": n_filters,
        "calibration": calib,
        f"kernel_{args.n_procs}p": lo,
        f"kernel_{hi_k}p": hi,
        "kernel_scaling_efficiency": round(eff, 3),
        "eff_vs_hw_ceiling": round(
            eff / calib["hardware_efficiency_ceiling"], 3
        ),
    }
    print(json.dumps(report))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.md"), "a") as f:
        f.write(
            f"\n## {args.phase.capitalize()}-kernel scaling isolation ({time.strftime('%Y-%m-%d %H:%M:%S')})\n\n"
            f"No Spark alive: {args.n_procs} vs {hi_k} forked processes, each"
            f" running the {desc} over {args.pages_per_proc:,}"
            f" real corpus pages in {BATCH:,}-page chunks, barrier-"
            f"synchronized start after an untimed warm chunk.  Simultaneous"
            f" pure-CPU calibration: {calib[f'cpu_speedup_{args.n_procs}p']}x @"
            f" {args.n_procs}p, {calib[f'cpu_speedup_{hi_k}p']}x @ {hi_k}p →"
            f" hw ceiling {calib['hardware_efficiency_ceiling']}.\n\n"
            f"```\nkernel_scale {json.dumps(report)}\n```\n"
        )


if __name__ == "__main__":
    main()
