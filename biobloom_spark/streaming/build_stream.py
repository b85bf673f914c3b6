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

Registry persistence is versioned: batch N writes
``<registry_path>/v=<N>``; the "latest" registry is the highest version
directory carrying the parquet committer's ``_SUCCESS`` marker — derived
by listing through the Hadoop FileSystem API (works for any configured
FS: file://, hdfs://, s3a://…; a driver restart on another host sees the
same state).

Exactly-once under replay: after committing ``v=<N>`` the fold drops an
empty, never-reaped fold marker ``<registry_path>/_folded/b=<N>`` (O(1)
bytes per batch).  A replayed batch — whether the single-batch replay a
streaming checkpoint produces after a crash, or a full replay from a
fresh checkpoint over the same source — is skipped on its marker, so no
batch is ever folded twice.  A kill mid-write leaves neither ``_SUCCESS``
nor marker and the batch re-runs (``mode="overwrite"`` clobbers the
partial output); a kill in the marker gap (after ``_SUCCESS``, before
the marker) is healed by the replay detecting the committed directory,
writing the missing marker, and skipping the rebuild — the same
versioned-commit contract as the miBF store stages.

Retention: each fold rewrites the full state, so without reaping a
long-running stream accumulates O(batches x keys) parquet copies.  After
each commit the fold deletes every version directory older than the
``retain_versions`` (default 2) highest *committed* ones — keeping N and
N-1 means a kill mid-write of N always re-runs against an intact N-1
pointer.  Marker-less version directories older than the kept window are
dead partial writes and are reaped too.  The ``_folded`` markers are the
durable exactly-once record and are never reaped.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession

from ..config import BloomParams, BuildConfig

__all__ = ["build_stream_writer", "load_latest_registry", "latest_version", "reap_versions"]


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _list_versions(spark: SparkSession, path: str) -> list[tuple[int, bool]]:
    """(version, committed) for every ``v=<N>`` directory under path."""
    jvm, fs = _fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("v=")):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
        out.append((v, bool(fs.exists(marker))))
    return out


def batch_folded(spark: SparkSession, path: str, batch_id: int) -> bool:
    """True iff batch ``batch_id`` was fully folded (its ``_folded/b=<id>``
    marker exists)."""
    jvm, fs = _fs(spark, path)
    return bool(
        fs.exists(jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_folded", f"b={batch_id}")))
    )


def mark_folded(spark: SparkSession, path: str, batch_id: int) -> None:
    """Drop the empty, never-reaped exactly-once marker for a batch."""
    jvm, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_folded", f"b={batch_id}"))
    fs.mkdirs(p.getParent())
    fs.create(p, True).close()


def reap_versions(spark: SparkSession, path: str, retain: int = 2) -> list[int]:
    """Delete version directories superseded by the ``retain`` highest
    committed ones (module docstring: why 2 preserves the crash contract).
    Marker-less directories older than the kept window are dead partial
    writes and go too.  Returns the reaped version numbers."""
    if retain < 1:
        raise ValueError("retain must be >= 1")
    entries = _list_versions(spark, path)
    committed = sorted((v for v, ok in entries if ok), reverse=True)
    if len(committed) == 0:
        return []
    floor = committed[min(retain, len(committed)) - 1]
    jvm, fs = _fs(spark, path)
    reaped = []
    for v, _ok in entries:
        if v < floor:
            fs.delete(jvm.org.apache.hadoop.fs.Path(posixpath.join(path, f"v={v}")), True)
            reaped.append(v)
    return sorted(reaped)


def latest_version(spark: SparkSession, registry_path: str) -> int | None:
    """Highest committed registry version (micro-batch id), or None before
    the first commit.  A version counts as committed only when its
    ``_SUCCESS`` marker exists — partial output from a killed write is
    invisible here."""
    committed = [v for v, ok in _list_versions(spark, registry_path) if ok]
    return max(committed) if committed else None


def load_latest_registry(spark: SparkSession, registry_path: str) -> DataFrame | None:
    """The current merged registry DataFrame, or None before any commit."""
    v = latest_version(spark, registry_path)
    if v is None:
        return None
    return spark.read.parquet(posixpath.join(registry_path, f"v={v}"))


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
    from ..operators.mibf_store import _stage_done

    if not stream_docs.isStreaming:
        raise ValueError("build_stream_writer expects a streaming DataFrame")
    keys = list(sizing)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_folded(spark, registry_path, batch_id):
            return  # replayed batch — already folded, exactly-once
        vdir = posixpath.join(registry_path, f"v={batch_id}")
        if not _stage_done(spark, vdir):
            batch_reg = build_filters(
                spark,
                batch_df,
                key_col=key_col,
                text_col=text_col,
                id_col=id_col,
                params=params,
                build=build,
                keys=keys,
                expected_sizing=sizing,
            )
            prev = load_latest_registry(spark, registry_path)
            merged = merge_registries(prev, batch_reg) if prev is not None else batch_reg
            merged.write.mode("overwrite").parquet(vdir)
        # else: kill in the marker gap — the commit exists, just heal the marker
        mark_folded(spark, registry_path, batch_id)
        reap_versions(spark, registry_path, retain=retain_versions)

    return stream_docs.writeStream.foreachBatch(fold)
