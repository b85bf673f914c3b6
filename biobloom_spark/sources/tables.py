"""Table layer: input tables, the filter registry, and lineage tables.

The reference persists a filter as a raw ``.bf`` bit dump plus an INI
metadata file (/root/reference/README.md:140-146; writer
/root/reference/Common/BloomFilterInfo.cpp:81-116).  Here a filter is one
row in a *registry table* — bitmap as a binary column, metadata as typed
columns — written with Spark so the registry lives next to the data and
broadcasts cleanly.

Iceberg vs parquet: at the 10^12-doc target the tables are Iceberg; this
module talks to an Iceberg catalog when one is configured on the session and
falls back to parquet paths with identical schema/partitioning otherwise
(the sandbox has no Iceberg runtime jar).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: probe-layout version stamped into every registry row.  Bump whenever the
#: bit layout or probe math changes incompatibly (v2 = h2 offset slices from
#: bit 4 + fastrange word selection, the round-2 layout).  ``load_registry``
#: refuses rows with a different version — a registry parquet written by an
#: older engine would otherwise silently return wrong membership.
REGISTRY_LAYOUT_VERSION = 2

REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("filter_id", T.StringType(), False),
        # probe-layout version (see REGISTRY_LAYOUT_VERSION); nullable so
        # pre-versioning parquets still load (with a warning)
        T.StructField("layout_version", T.IntegerType(), True),
        # [user_input_options] analog (BloomFilterInfo.cpp:81-97)
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("num_hashes", T.IntegerType(), False),
        T.StructField("block_bits", T.IntegerType(), False),
        T.StructField("shingle_w", T.IntegerType(), False),
        # strand-canonical frame hashing (DNA mode); nullable → False
        T.StructField("canonical", T.BooleanType(), True),
        # frame-hash family ("poly" | "nthash"); nullable → "poly"
        T.StructField("hash_family", T.StringType(), True),
        T.StructField("target_fpr", T.DoubleType(), False),
        T.StructField("expected_entries", T.LongType(), False),
        # [runtime_options] analog (BloomFilterInfo.cpp:99-116)
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_inserted", T.LongType(), False),
        T.StructField("num_entries", T.LongType(), False),  # distinct-ish (n_new)
        T.StructField("redundant_entries", T.LongType(), False),
        T.StructField("approx_fpr", T.DoubleType(), False),
        T.StructField("occupancy_fpr", T.DoubleType(), False),
        T.StructField("distinct_frames_hll", T.DoubleType(), False),
        # segmented 64-bit layout: int64[S+1] word offsets (little-endian
        # bytes; NULL = unsegmented) — see sketch.bloom.word_index64
        T.StructField("seg_offsets", T.BinaryType(), True),
        # the .bf payload + the distinct-frame HLL behind
        # distinct_frames_hll (merge_registries clamps num_entries with it)
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("hll", T.BinaryType(), True),
    ]
)

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("filter_id", T.StringType(), False),
        # source input partition id: the unit a resumed build skips
        T.StructField("bucket", T.IntegerType(), False),
        # bitmap segment this row belongs to; -1 = per-key row (doc/frame
        # counters + the distinct-frame HLL, no bloom payload).  Token
        # frequency and doc-length sketches come from sketch_agg.sketch_by_key
        # and are not built here.
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_inserted", T.LongType(), False),
        T.StructField("n_new", T.LongType(), False),
        T.StructField("n_redundant", T.LongType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("hll", T.BinaryType(), True),
    ]
)

#: per-(filter, input partition) lineage/metrics row (north-rule resumability, SURVEY.md §7.3)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("filter_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_inserted", T.LongType(), False),
    ]
)


def iceberg_enabled(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    try:
        return any(
            "iceberg" in (v or "").lower()
            for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.sql.catalog")
        )
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read an input table (parquet path layout of /root/testdata)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    """Parquet writer (Iceberg ``writeTo`` when a catalog identifier is
    passed instead of a path — detected by the absence of a '/' prefix)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if not path.startswith("/") and "." in path:
        df.writeTo(path).createOrReplace()
    else:
        w.parquet(path)


def tokens_col(col):
    """Whitespace token array: the text split on runs of Java regex
    ``\\s`` (``[ \\t\\n\\x0B\\f\\r]``), empty tokens dropped.  That is
    Python's ``str.split()`` wherever the text has no other whitespace;
    ``str.split()`` also splits on ``\\x1c``-``\\x1f`` and Unicode spaces, so
    ``'a\\xa0b c'`` gives 2 tokens here and 3 there.

    ``array_remove`` drops the empties a leading or trailing whitespace
    run leaves (Spark's ``split`` keeps them, and ``trim`` strips only
    the space character); it is codegen'd, where a ``filter()`` lambda is
    an interpreted higher-order function, measured 9x slower."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\s+"), "")


def docs_with_frames(docs: DataFrame, text_col: str, w: int) -> DataFrame:
    """Add ``n_tokens``/``n_frames`` columns, all JVM-side.

    Token semantics identical to ``functions.text.tokenize`` (split on
    whitespace runs, empties dropped) so the sizing pre-pass
    (calcExpectedEntries analog, BloomFilterGenerator.h:108-141) agrees
    byte-for-byte with the Arrow build path.
    """
    d = docs.withColumn("n_tokens", F.size(tokens_col(text_col)))
    return d.withColumn("n_frames", F.greatest(F.lit(0), F.col("n_tokens") - F.lit(w - 1)))
