"""Structured Streaming incremental filter build.

The reference builds filters in one batch pass over fixed input files
(BioBloomMaker).  A crawl pipeline instead sees pages *arrive*; because
the engine's filters are mergeable UDAF state (bitmap OR + the
distinct-frame HLL's register max — the build makes no other sketch; per-key
count-min, t-digest and KLL come from ``sketch_agg.sketch_by_key``, whose
own stream is ``streaming.sketch_stream``), the build extends to a stream
for free: each micro-batch builds a normal batch registry over its pages
with pinned (m, h) sizing, then ``maker.merge_registries`` folds it into
the running registry — associativity makes the result independent of how
the stream was chopped into batches (property-tested against the
one-shot batch build).

Registry persistence is versioned, exactly once under replay and bounded
on disk: ``checkpoint.fold_writer``, the fold ``streaming.sketch_stream``
shares (its docstring has the crash-window analysis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..checkpoint import (
    batch_folded,
    fold_writer,
    latest_version,
    load_latest,
    mark_folded,
    reap_versions,
)
from ..config import BloomParams, BuildConfig

__all__ = [
    "build_stream_writer", "load_latest_registry", "latest_version",
    "reap_versions", "batch_folded", "mark_folded",
]


#: the current merged registry DataFrame, or None before any commit
load_latest_registry = load_latest


def build_stream_writer(
    spark: SparkSession,
    stream_docs: DataFrame,
    sizing: dict,
    registry_path: str,
    key_col: str = "lang",
    text_col: str = "text",
    id_col: str = "url",
    params: BloomParams | None = None,
    build: BuildConfig | None = None,
    retain_versions: int = 2,
):
    """foreachBatch writer that folds micro-batches into a persistent
    registry.  Returns a ``DataStreamWriter`` — caller sets trigger +
    checkpointLocation and ``.start()``s it.  ``retain_versions`` bounds
    on-disk state to that many committed versions (module docstring).

    ``sizing`` pins (m, h) per filter key (a ``maker.size_filters`` result
    over a representative sample, or explicit expected-entry counts):
    identical probe layouts across batches are what make the bitmaps
    OR-mergeable.  Batch pages whose key is outside ``sizing`` are
    dropped (count them upstream if that matters); sizing from a sample
    only under-sizes the filter's FPR, never its correctness (no false
    negatives regardless).

    Each committed version is a registry of bitmaps plus the
    distinct-frame HLL.  A stream restarted over a version written when
    registries also stored count-min, t-digest and KLL columns still
    folds: ``merge_registries`` drops those columns.
    """
    from ..operators.maker import build_filters, merge_registries

    if not stream_docs.isStreaming:
        raise ValueError("build_stream_writer expects a streaming DataFrame")
    keys = list(sizing)

    def batch_registry(batch_df: DataFrame) -> DataFrame:
        return build_filters(
            spark, batch_df, key_col=key_col, text_col=text_col, id_col=id_col,
            params=params, build=build, keys=keys, expected_sizing=sizing,
        )

    return fold_writer(
        spark, stream_docs, registry_path, batch_registry, merge_registries,
        retain_versions,
    )
