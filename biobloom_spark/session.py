"""SparkSession helpers: package shipping and tuned session defaults.

On a cluster the library travels via ``spark-submit --py-files
biobloom_spark.zip`` (the north rule's deployment mode).  For programmatic
use, ``ensure_workers`` does the same thing at runtime: zips the installed
package once and ``addPyFile``s it, so worker processes can unpickle our
Arrow-UDF closures regardless of the caller's cwd/venv layout.  Idempotent
per session; every public job entry point calls it.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_workers(spark: SparkSession) -> None:
    """Ship the biobloom_spark package to executors (idempotent)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip (spark-submit --py-files): the archive already
        # rides with the job, nothing to ship
        _SHIPPED.add(app_id)
        return
    # content-addressed zip: a pid-keyed name shipped STALE code when the
    # OS recycled a pid whose /tmp zip survived (observed: a worker
    # AttributeError on a function added after that zip was built).  The
    # source hash makes reuse correct by construction.
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith((".py",)):
                full = os.path.join(root, f)
                entries.append(
                    (full, os.path.join("biobloom_spark", os.path.relpath(full, pkg_dir)))
                )
    digest = hashlib.sha256()
    for full, rel in sorted(entries, key=lambda e: e[1]):
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"biobloom_spark_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as zf:
            for full, rel in sorted(entries, key=lambda e: e[1]):
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def local_frame(spark: SparkSession, rows, schema):
    """Driver-side rows → a DataFrame over a ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples, schema)`` plans a
    ``LogicalRDD`` over a Python RDD, so every action on a 10-row summary
    runs a Python stage: about 0.11 s for one task on a 4-CPU host, against
    0.03 s for a JVM-only job (``tools/task_floor.py``; the per-task
    zip-import re-read that made it ~0.3 s is gone, see
    ``biobloom_spark._zipcache``); so does a pandas frame when Arrow is
    off or the frame is empty.  An Arrow table with ``schema``'s Arrow
    twin becomes a ``LocalRelation`` in every case: it collects with no
    job and keeps ``schema`` exactly, nullability included.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)


def pin_rows(df):
    """Materialize a DataFrame once so multi-pass evaluation sees ONE row
    set with stable surrogate ids.

    ``operators.multipass.stitch``, the one multi-pass protocol of the
    over-budget classify routes (Bloom filter shards and word-range
    chunks, miBF slot-range segments), attaches
    ``monotonically_increasing_id()`` and re-scans the plan once per
    pass; for a non-deterministic source (``orderBy(rand())``, an
    unseeded ``sample()``, a shuffle whose fetch order varies) each pass
    would re-evaluate the plan and assign the SAME surrogate to DIFFERENT
    rows, silently stitching partials from different documents together.
    An eager ``localCheckpoint`` computes the projected rows once, stores
    them on the executors (memory-and-disk) with lineage truncated, and
    every pass reads those stored blocks: the surrogate is stable by
    construction, and an executor loss fails the job loudly instead of
    recomputing divergent rows.  Storage cost = one copy of the projected
    (id, text) columns for the operator's lifetime — the standard
    multi-pass trade (same blocks the passes would otherwise re-derive by
    re-scanning the source per pass); blocks are freed when the checkpointed
    plan is garbage-collected.  The miBF saturation scan
    (`mibf._lost_slot_scan`) needs no pin: each of its label-group legs
    sees whole frames, so no pass's output is stitched to another's.
    """
    return df.localCheckpoint(eager=True)


def _broadcast_budget(spark: SparkSession) -> int:
    """Bytes one operator pass may broadcast: ``spark.executor.memory``
    // 16, so 64 MiB at Spark's 1g default.

    Every size-guarded route reads it at call time: a Bloom registry over
    it is evaluated in filter shards or word-range chunks
    (``categorizer._plan_passes``), and a miBF id array over it, of a
    sketch or of a parquet store alike, in slot-range segments
    (``mibf._classify_mibf_sharded``) — both over the one stitch of
    ``operators.multipass``; ``build_mibf``'s saturation scan packs label
    groups up to it.  The MiB value is the
    one ``SparkContext.executorMemory`` parsed at start-up, with Spark's
    ``SPARK_EXECUTOR_MEMORY`` / ``SPARK_MEM`` fallbacks.  In local mode
    the executor runs in the driver JVM, whose heap
    ``spark.executor.memory`` does not size; the budget follows it all
    the same (64 MiB when unset), so a registry or id array over that
    takes the sharded route whatever ``spark.driver.memory`` is.
    """
    return (spark.sparkContext._jsc.sc().executorMemory() << 20) // 16


def get_spark(
    app_name: str = "biobloom_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Opinionated local-mode session (tests/bench); on a real cluster use
    spark-submit and your own session config."""
    # glibc tuning for the Arrow workers: this sandbox VM services fresh
    # page faults extremely slowly (~150 MB/s first-touch), so the default
    # mmap-then-free behavior for >128 KiB numpy buffers causes refault
    # storms that serialize across workers (measured 6x kernel slowdown at
    # 4-way concurrency).  Pinning the thresholds makes glibc reuse heap
    # chunks instead.  Must be set before the JVM (and its python workers)
    # spawn; harmless elsewhere.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "2147483647")

    n = cores if isinstance(cores, str) else str(cores)
    # spark.local.dir stays on the (page-cache-buffered) disk path: an A/B
    # with tmpfs (/dev/shm) measured the 2M-page build 70% SLOWER (35.8 s vs
    # 21.0 s at 8c, BENCH.md round-4) — tmpfs writes fault fresh RAM pages
    # synchronously at this VM's ~150 MB/s first-touch rate, while disk
    # writes ride already-mapped page cache with async writeback.  On a real
    # cluster point SPARK_LOCAL_DIRS at per-node NVMe as usual.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (os.cpu_count() or 8)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # same malloc tuning for executors on a real cluster
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483647")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers(spark)
    return spark
