"""Key-skew measurement and salted repartitioning.

The north-star deployment keys reference filters by language/domain over
zipfian web data, so the heavy keys are the scale hazard: a plain
``repartition(key)`` puts site0.example's 10^9 pages in one task.  The
Bloom build never keys the corpus (maker.py partials are per input
partition); this module exposes salting as reusable, composable operators:

- ``key_distribution`` — exact per-key weight (one shuffle, map-side
  partial agg; share via a broadcast 1-row total, never a global window);
- ``skew_metrics`` — one-row summary (top-1 share, HHI concentration,
  effective key count) for "do I need to salt?" decisions;
- ``plan_salts`` / ``salted_repartition`` — per-key salt counts sized so
  no task exceeds a row budget, applied via a broadcast-joined salt dim
  and a deterministic hash salt (reproducible across runs and
  parallelism, like everything else in the engine).

No bcgsc/biobloom counterpart (single-machine tool; its analog is the
work-queue over reads) — this is the Spark-native skew story the
reference never needed.  All exact arithmetic → SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "url_domain_col",
    "key_distribution",
    "skew_metrics",
    "plan_salts",
    "salted_repartition",
]


def url_domain_col(url_col: str = "url"):
    """JVM column: host part of a URL (empty string when unparseable).

    ``parse_url`` is a real Spark builtin but null-prone on junk; a single
    regexp keeps the extraction total and oracle-twinnable."""
    return F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)


def key_distribution(
    docs: DataFrame, key_col: str, weight_col: str | None = None
) -> DataFrame:
    """Exact per-key distribution: ``(key, n_rows, weight, share)``.

    One shuffle on the key (map-side partial agg — the K-row result is
    sketch-sized next to the corpus); ``share`` = weight / total via a
    broadcast join against the 1-row total, NOT a global window (a window
    over an unpartitioned frame would single-task the K rows, and K can
    be ~10^8 domains at web scale).

    ``weight_col``: optional numeric column (e.g. page bytes) — default
    weight is the row count.
    """
    w = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    per_key = docs.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        w.cast("double").alias("weight"),
    )
    total = per_key.agg(F.sum("weight").alias("__total"))
    return per_key.join(F.broadcast(total)).select(
        "key",
        "n_rows",
        "weight",
        F.round(F.col("weight") / F.greatest(F.col("__total"), F.lit(1e-300)), 6).alias(
            "share"
        ),
    )


def skew_metrics(dist: DataFrame) -> DataFrame:
    """One-row skew summary over a ``key_distribution`` result.

    - ``n_keys``: distinct keys
    - ``top1_share``: heaviest key's weight share
    - ``hhi``: Herfindahl concentration = sum(share_i^2) computed from
      exact weights (1/n_keys uniform → 1.0 single-key)
    - ``effective_keys``: 1/hhi — "the corpus behaves like this many
      equal keys", the number to compare against the executor count
    """
    agg = dist.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("weight").alias("__max_w"),
        F.sum("weight").alias("__sum_w"),
        F.sum(F.col("weight") * F.col("weight")).alias("__sum_w2"),
    )
    hhi = F.col("__sum_w2") / F.greatest(
        F.col("__sum_w") * F.col("__sum_w"), F.lit(1e-300)
    )
    return agg.select(
        "n_keys",
        F.round(F.col("__max_w") / F.greatest(F.col("__sum_w"), F.lit(1e-300)), 6).alias(
            "top1_share"
        ),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(1.0) / F.greatest(hhi, F.lit(1e-300)), 2).alias("effective_keys"),
    )


def plan_salts(
    docs: DataFrame, key_col: str, rows_per_task: int, weight_col: str | None = None
) -> DataFrame:
    """Per-key salt counts: ``(key, n_salts)`` with n_salts =
    ceil(weight / rows_per_task), min 1.

    Returned as a DataFrame (the salt *dim*), not a driver dict — at web
    scale the key space itself can be large, and ``salted_repartition``
    only ever broadcast-joins the heavy tail of it (keys with
    n_salts > 1), which is small by construction: at most
    total_weight / rows_per_task entries summed over keys.
    """
    return key_distribution(docs, key_col, weight_col).select(
        "key",
        F.greatest(
            F.ceil(F.col("weight") / F.lit(float(rows_per_task))).cast("int"),
            F.lit(1),
        ).alias("n_salts"),
    )


def salted_repartition(
    docs: DataFrame,
    key_col: str,
    salts: DataFrame,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a deterministic ``salt`` column and repartition on
    (key, salt) so no heavy key lands in a single task.

    ``salts`` is a ``plan_salts`` result (or any ``(key, n_salts)`` frame).
    Only the heavy keys (n_salts > 1) are broadcast-joined — light keys
    miss the join and default to salt 0, so the broadcast stays bounded
    regardless of key-space size.  The salt is ``xxhash64(id) mod
    n_salts``: a pure function of the row, so the same row always lands
    in the same salted group at any parallelism (the partition-invariance
    property the build's tests rely on).

    Downstream per-key aggregation becomes two-level: agg by (key, salt),
    then by key — which is exactly how the engine's mergeable sketches
    want to be fed (partials OR/merge associatively).
    """
    heavy = salts.filter(F.col("n_salts") > 1).withColumnRenamed("key", "__salt_key")
    joined = docs.join(
        F.broadcast(heavy), on=docs[key_col] == F.col("__salt_key"), how="left"
    )
    salted = joined.select(
        *[docs[c] for c in docs.columns],
        F.when(
            F.col("n_salts").isNull(), F.lit(0)
        )
        .otherwise(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("n_salts")))
        .cast("int")
        .alias("salt"),
    )
    if num_partitions:
        return salted.repartition(num_partitions, key_col, "salt")
    return salted.repartition(key_col, "salt")
