"""Driver-side microbenchmarks of the numpy kernels the operators run in
their Arrow UDFs: frame hashing, Bloom insert and probe, HLL update."""

from __future__ import annotations

import statistics
import time

from biobloom_spark.config import DEFAULT_FPR, DEFAULT_SHINGLE_W
from biobloom_spark.functions.text import batch_frames
from biobloom_spark.sketch import BloomSketch, HLLSketch


def _median_rate(items: int, fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / statistics.median(times)


def kernel_rates(texts, reps: int = 5) -> dict[str, float]:
    """Items per second of each kernel over ``texts``, median of ``reps``."""
    texts = list(texts)
    frames = batch_frames(texts, DEFAULT_SHINGLE_W)[0]
    n = int(frames.size)
    bloom = BloomSketch.for_capacity(n, DEFAULT_FPR, block_bits=64)
    bloom.update_batch(frames)
    return {
        # a fresh token-hash cache each rep, as a new Arrow batch would see
        "kernel.frames_per_s": _median_rate(
            n, lambda: batch_frames(texts, DEFAULT_SHINGLE_W, cache={}), reps
        ),
        "kernel.bloom_insert_per_s": _median_rate(
            n,
            lambda: BloomSketch.for_capacity(n, DEFAULT_FPR, block_bits=64).update_batch(frames),
            reps,
        ),
        "kernel.bloom_probe_per_s": _median_rate(n, lambda: bloom.contains_batch(frames), reps),
        "kernel.hll_update_per_s": _median_rate(
            n, lambda: HLLSketch(p=14).update_batch(frames), reps
        ),
    }
