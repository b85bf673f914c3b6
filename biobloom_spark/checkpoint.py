"""On-disk resume for every checkpointed build (SURVEY.md §7.3: a killed
build recomputes only what is missing).

The reference maker has no resume; here one module owns every resume
decision, and every file operation goes through the Hadoop FileSystem
API, so a checkpoint may live on any configured FS (``file://``,
``hdfs://``, ``s3a://``…) and a driver restarted on another host sees
the same state.

Batch builds — ``maker.build_filters(partials_path=)``,
``sketch_agg.sketch_by_key_checkpointed`` and
``mibf_store.build_mibf_store`` — keep a fingerprint record at
``{path}/_fingerprint``: one JSON object whose ``fp`` is ``fingerprint``
of the build and whose other fields are the build's own (the miBF store
keeps its segment count there).  The fingerprint is the md5 of the input
identity (``snapshot_id``, else the scan's sorted file listing), the
partition count of the checkpointed frame (partition ids are the resume
key), the build's parameters and ``FORMAT``.  A record that does not
match discards the whole directory, so a resume never mixes two inputs,
two parameter sets or two partitionings; a frame with no identity (an
in-memory DataFrame without ``snapshot_id``) never resumes.  Spark's
parquet reader skips ``_``-prefixed names, so the record can sit inside
the parquet directory it describes.

A directory counts as written when it holds the parquet committer's
``_SUCCESS`` marker (``committed``); a write killed midway leaves none.

Stream folds (``streaming.build_stream`` / ``streaming.sketch_stream``)
keep versioned state instead (``fold_writer``).
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: bumped whenever the on-disk layout of any checkpoint changes, so an
#: older checkpoint fails the fingerprint and rebuilds
FORMAT = 1

RECORD = "_fingerprint"


def _path(spark: SparkSession, path: str, child: str | None = None):
    """(Hadoop Path, its FileSystem)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    hpath = Path(path) if child is None else Path(path, child)
    return hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def fingerprint(frame: DataFrame, snapshot_id: str | None, *params) -> str | None:
    """Resume fingerprint of a build over ``frame`` with ``params`` (a
    ``bytes`` parameter, such as a veto bitmap, enters by its md5); None
    when the input has no identity (then the build never resumes)."""
    identity = snapshot_id or ";".join(sorted(frame.inputFiles()))
    if not identity:
        return None
    params = tuple(
        hashlib.md5(p).hexdigest() if isinstance(p, (bytes, bytearray, memoryview)) else p
        for p in params
    )
    key = f"{identity}|{frame.rdd.getNumPartitions()}|{params!r}|{FORMAT}"
    return hashlib.md5(key.encode()).hexdigest()


def committed(spark: SparkSession, path: str) -> bool:
    """True when the directory holds the committer's ``_SUCCESS`` marker."""
    hpath, fs = _path(spark, path, "_SUCCESS")
    return bool(fs.exists(hpath))


def delete(spark: SparkSession, path: str) -> None:
    """Remove a directory (recursive; absent is fine)."""
    hpath, fs = _path(spark, path)
    fs.delete(hpath, True)


def matching_record(spark: SparkSession, path: str, fp: str | None) -> dict | None:
    """The record at ``path`` when its fingerprint is ``fp``.  Otherwise the
    state under ``path`` is stale: delete it and return None."""
    hpath, fs = _path(spark, path, RECORD)
    if fp is not None and fs.exists(hpath):
        stream = fs.open(hpath)
        try:
            record = json.loads(stream.readUTF())
        finally:
            stream.close()
        if record.get("fp") == fp:
            return record
    delete(spark, path)
    return None


def write_record(spark: SparkSession, path: str, fp: str | None, **fields) -> None:
    """Store the fingerprint record (nothing when the input has no
    identity)."""
    if fp is None:
        return
    hpath, fs = _path(spark, path, RECORD)
    stream = fs.create(hpath, True)
    try:
        stream.writeUTF(json.dumps({"fp": fp, **fields}))
    finally:
        stream.close()


def _has_data(spark: SparkSession, path: str) -> bool:
    hpath, fs = _path(spark, path)
    return bool(fs.exists(hpath)) and any(
        not s.getPath().getName().startswith(("_", ".")) for s in fs.listStatus(hpath)
    )


def done_partitions(spark: SparkSession, path: str, fp: str | None, part_col: str) -> frozenset:
    """Source partition ids (column ``part_col``) already checkpointed at
    ``path`` under fingerprint ``fp``.  A stale or absent checkpoint is
    discarded, the new record written, and no id returned."""
    if matching_record(spark, path, fp) is None:
        write_record(spark, path, fp)
        return frozenset()
    if not _has_data(spark, path):
        return frozenset()
    rows = spark.read.parquet(path).select(part_col).distinct().collect()
    return frozenset(int(r[0]) for r in rows)


def skip_done(fn: Callable, done: frozenset) -> Callable:
    """Wrap a ``mapInPandas`` kernel so tasks whose partition id is in
    ``done`` emit nothing.  Partition ids and count are unchanged, so the
    remaining tasks keep their ids, and the skip runs inside the Arrow pass
    (no Python-RDD round trip of the surviving rows).  With nothing done
    the kernel is returned as is."""
    if not done:
        return fn

    def run(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None and int(ctx.partitionId()) in done:
            return
        yield from fn(batches)

    return run


def resume_partials(
    spark: SparkSession, path: str, fp: str | None, part_col: str,
    partials: Callable[[frozenset], DataFrame],
) -> DataFrame:
    """The per-partition checkpoint body: append ``partials(done)`` — the
    partial frame whose ``done`` partitions emit nothing — to the checkpoint
    at ``path`` and return every checkpointed partial row."""
    done = done_partitions(spark, path, fp, part_col)
    partials(done).write.mode("append").parquet(path)
    return spark.read.parquet(path)


def write_lineage(
    rows: DataFrame, path: str, job_id: str | None, stage: str,
    keys: tuple, counters: tuple,
) -> None:
    """Per-partition lineage at ``{path}_lineage``: one ``done`` row per
    ``keys`` tuple with its exact ``counters``."""
    rows.select(
        F.lit(job_id or uuid.uuid4().hex[:12]).alias("job_id"),
        F.lit(stage).alias("stage"),
        *keys,
        F.lit("done").alias("status"),
        *counters,
    ).write.mode("overwrite").parquet(path.rstrip("/") + "_lineage")


# -- versioned stream state ----------------------------------------------


def _list_versions(spark: SparkSession, path: str) -> list[tuple[int, bool]]:
    """(version, committed) for every ``v=<N>`` directory under path."""
    hpath, fs = _path(spark, path)
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
        out.append((v, committed(spark, status.getPath().toString())))
    return out


def batch_folded(spark: SparkSession, path: str, batch_id: int) -> bool:
    """True iff batch ``batch_id`` was fully folded (its ``_folded/b=<id>``
    marker exists)."""
    hpath, fs = _path(spark, posixpath.join(path, "_folded"), f"b={batch_id}")
    return bool(fs.exists(hpath))


def mark_folded(spark: SparkSession, path: str, batch_id: int) -> None:
    """Drop the empty, never-reaped exactly-once marker for a batch."""
    hpath, fs = _path(spark, posixpath.join(path, "_folded"), f"b={batch_id}")
    fs.mkdirs(hpath.getParent())
    fs.create(hpath, True).close()


def reap_versions(spark: SparkSession, path: str, retain: int = 2) -> list[int]:
    """Delete version directories superseded by the ``retain`` highest
    committed ones (``fold_writer``: why 2 preserves the crash contract).
    Uncommitted directories older than the kept window are dead partial
    writes and go too.  Returns the reaped version numbers."""
    if retain < 1:
        raise ValueError("retain must be >= 1")
    entries = _list_versions(spark, path)
    committed_vs = sorted((v for v, ok in entries if ok), reverse=True)
    if not committed_vs:
        return []
    floor = committed_vs[min(retain, len(committed_vs)) - 1]
    reaped = sorted(v for v, _ok in entries if v < floor)
    for v in reaped:
        delete(spark, posixpath.join(path, f"v={v}"))
    return reaped


def latest_version(spark: SparkSession, path: str) -> int | None:
    """Highest committed version (micro-batch id), or None before the
    first commit; a killed write's partial output is invisible here."""
    versions = [v for v, ok in _list_versions(spark, path) if ok]
    return max(versions) if versions else None


def load_latest(spark: SparkSession, path: str) -> DataFrame | None:
    """The latest committed state, or None before any commit."""
    v = latest_version(spark, path)
    if v is None:
        return None
    return spark.read.parquet(posixpath.join(path, f"v={v}"))


def fold_writer(
    spark: SparkSession, stream_docs: DataFrame, path: str,
    batch_state: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    retain: int,
):
    """``foreachBatch`` writer folding each micro-batch's
    ``batch_state(batch_df)`` into the latest state with ``merge``.

    Batch N writes ``{path}/v=N``; the latest state is the highest
    committed version.  Exactly once under replay: after committing
    ``v=N`` the fold drops an empty, never-reaped marker
    ``{path}/_folded/b=N`` (O(1) bytes per batch), and a replayed batch —
    the single-batch replay a streaming checkpoint produces after a crash,
    or a full replay from a fresh checkpoint over the same source — is
    skipped on it.  A kill mid-write leaves neither commit nor marker and
    the batch re-runs (``overwrite`` clobbers the partial output); a kill
    between commit and marker is healed by the replay finding the
    committed directory, writing the marker and skipping the rebuild.

    Retention: each fold rewrites the full state, so after each commit the
    versions older than the ``retain`` highest committed ones are reaped
    (``reap_versions``) — keeping N and N-1 means a kill mid-write of N
    re-runs against an intact N-1.  The markers are never reaped."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_folded(spark, path, batch_id):
            return
        vdir = posixpath.join(path, f"v={batch_id}")
        if not committed(spark, vdir):
            state = batch_state(batch_df)
            prev = load_latest(spark, path)
            merged = merge(prev, state) if prev is not None else state
            merged.write.mode("overwrite").parquet(vdir)
        mark_folded(spark, path, batch_id)
        reap_versions(spark, path, retain=retain)

    return stream_docs.writeStream.foreachBatch(fold)
