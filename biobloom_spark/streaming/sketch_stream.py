"""Structured Streaming incremental sketch aggregation.

The standalone sketch surface (``operators.sketch_agg``) extends to a
stream the same way the filter build does (``streaming.build_stream``):
each micro-batch builds normal per-key sketch rows, then
``merge_sketch_rows`` folds them into the running state — HLL register
max, CMS counter add, KLL/t-digest compactor merges are associative, so
the result is independent of how the stream was chopped (bit-identical
for HLL/CMS, inside the published bound for the quantile sketches —
property-tested against the one-shot batch aggregation).

Persistence, exactly-once replay and retention are ``build_stream``'s,
through the same fold (``checkpoint.fold_writer``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..checkpoint import fold_writer, load_latest

__all__ = ["sketch_stream_writer", "load_latest_sketch_rows"]


#: the current merged sketch-row DataFrame, or None before any commit
load_latest_sketch_rows = load_latest


def sketch_stream_writer(
    spark: SparkSession,
    stream_docs: DataFrame,
    sketch_path: str,
    key_col: str = "lang",
    text_col: str = "text",
    distinct: str = "tokens",
    shingle_w: int = 3,
    retain_versions: int = 2,
):
    """foreachBatch writer folding micro-batches into persistent per-key
    sketch rows.  Returns a ``DataStreamWriter`` — caller sets trigger +
    checkpointLocation and ``.start()``s it.

    Unlike the filter build there is no sizing to pin: every sketch here
    is parameter-fixed (HLL p, CMS w×d, KLL/t-digest k) and mergeable at
    any cardinality, so arbitrary keys may appear mid-stream and simply
    add rows."""
    from ..operators.sketch_agg import merge_sketch_rows, sketch_by_key

    if not stream_docs.isStreaming:
        raise ValueError("sketch_stream_writer expects a streaming DataFrame")
    return fold_writer(
        spark, stream_docs, sketch_path,
        lambda batch_df: sketch_by_key(batch_df, key_col, text_col, distinct, shingle_w),
        merge_sketch_rows, retain_versions,
    )
