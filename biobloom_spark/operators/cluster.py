"""Duplicate-cluster collapse: connected components over near-dup pairs.

A production dedup pipeline does not stop at pairs — transitive duplicate
chains (A~B, B~C) must collapse into one cluster so exactly one canonical
document survives.  No reference counterpart in bcgsc/biobloom (its
redundancy tracking, BloomFilterGenerator.h:170-188, is k-mer-level); this
is the corpus-curation closure over the pair generators in
``operators.dedup``.

Every route labels a node with the minimum id reachable from it (any
orderable id type: long, int and string doc ids all work), so the label
does not depend on which route ran.

Driver route (edge sets that fit the budget).  The canonical edges are
collected once over Arrow with a bounded ``limit(cap + 1)``; if at most
``cap`` rows come back that is the whole edge set, and numpy labels it:
``np.unique`` ranks the ids, then min-label root hooking plus pointer
jumping runs to a fixpoint in a few vectorized rounds.  The
(node, component) map returns as a local relation, so the corpus join in
``dedup_clusters`` broadcasts it.  ``cap`` comes from session conf only:
a byte budget of 1/16 of ``spark.driver.maxResultSize`` (0, unlimited,
counts as 1g) at 16 B per edge, about 4.2M edges at the 1g default.
Near-dup edge sets are tiny next to their corpus, so this is the usual
route; it runs a couple of jobs where every star round runs two.

Star route (over budget).  Alternating large-star / small-star (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", SoCC 2014).  Each round is two shuffle stages over
the *current* edge set; the edge set never grows and converges to stars
(every node pointing at its component minimum) in O(log^2 n) rounds — in
practice 2-4 for near-dup graphs, whose components are small and dense.
This beats naive min-label propagation (O(diameter) rounds — a 1M-long
recrawl chain would take 1M shuffles) and never materializes a component
in one task, so a pathological giant component (boilerplate pages) stays
distributed.  Per round, the driver runs one O(1) fixpoint probe (count +
order-independent hash of the edge set); lineage is cut with
localCheckpoint — on a real cluster point
``spark.sparkContext.setCheckpointDir`` at durable storage and these
become reliable checkpoints via the same API shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

__all__ = ["connected_components", "dedup_clusters"]


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge (u, v) with u > v, drop self-loops, dedup."""
    return (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Key on the larger endpoint; link all smaller neighbors (and the key
    itself) to the neighborhood minimum.  Precondition: edges oriented
    (u, v) with v < u — which ``_canonical`` and ``_large_star`` both
    guarantee, so no re-orientation shuffle is spent here."""
    keyed = edges
    mins = keyed.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    j = keyed.join(mins, on="u")
    via_neighbors = j.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    via_self = j.select("u", F.col("m").alias("v"))
    return via_neighbors.union(via_self).distinct()


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent hash) — O(1) driver-side fixpoint probe.

    bit_xor, not sum: ANSI mode (Spark 4 default) would overflow a sum of
    64-bit hashes; xor is overflow-free and order/partitioning-invariant
    (edges are distinct, so no cancellation)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_edge_cap(spark: SparkSession) -> int:
    """Most canonical edges the driver route collects: a byte budget of
    1/16 of ``spark.driver.maxResultSize`` (0 = unlimited, counted as 1g)
    at 16 B per edge, two long ids.  The 16x headroom keeps the collect
    under the limit itself for string ids up to about 128 B.  0 means
    never take the driver route."""
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    return (limit or 1 << 30) // 16 // 16


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, component): every id in the edge list (u[i], v[i]) with the
    minimum id of its component.

    Ranks come from ``np.unique``, whose sort order (numeric; code point
    for str) is Spark's order for the same ids.  Each round hooks every
    tree root to the smallest root across its edges, then pointer-jumps
    until every node points at a root.  A label only decreases and never
    leaves its component, and a round that changes nothing has one root
    per component, so the fixpoint is each component's minimum rank.
    Rounds grow with log n: a shuffled 1M-node path takes 14."""
    ids, ranks = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = ranks[: len(u)], ranks[len(u) :]
    label = np.arange(len(ids))
    while True:
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            return ids, ids[label]
        m = np.minimum(la, lb)
        np.minimum.at(label, la, m)
        np.minimum.at(label, lb, m)
        while not np.array_equal(jumped := label[label], label):
            label = jumped


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = the
    minimum node id reachable (any orderable id type — string doc ids
    work).  Nodes not appearing in any pair are absent (they are their
    own singleton components; ``dedup_clusters`` fills them in).

    Edge sets within the session's driver budget (``_driver_edge_cap``)
    are labeled on the driver from one bounded collect and come back as
    a local relation; larger ones run the star loop, which raises
    ``RuntimeError`` if it has not converged after ``max_iter`` rounds.
    Both routes return the same rows and schema.
    """
    edges = _canonical(
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    )
    spark = edges.sparkSession
    cap = _driver_edge_cap(spark)
    if cap > 0:
        local = edges.limit(cap + 1).toPandas()
        if len(local) <= cap:
            ids, comp = _min_labels(local["u"].to_numpy(), local["v"].to_numpy())
            id_type = edges.schema["u"].dataType
            schema = StructType(
                [StructField("node", id_type), StructField("component", id_type)]
            )
            return spark.createDataFrame(
                pd.DataFrame({"node": ids, "component": comp}), schema
            )
    edges = edges.localCheckpoint()
    prev = _edge_fingerprint(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _edge_fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # fixpoint is a star forest: (u, v) == (member, component-min)
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Cluster label for EVERY document: (id, cluster_id, is_canonical).

    ``pairs`` is any near-dup pair set (minhash_lsh_pairs,
    exact_jaccard_on_pairs, simhash_near_dups, exact_dedup groups);
    cluster_id = min doc id in the component, singletons label themselves,
    and ``is_canonical`` marks the one row per cluster a keep-one dedup
    retains.  Scale shape: components run over the (tiny) pair set only,
    on the driver when the canonical edges fit the session's driver
    budget and in the star loop otherwise (see ``connected_components``);
    the full corpus joins once.  The driver route's component map is a
    local relation, so that join broadcasts it.
    """
    comp = connected_components(pairs, src_col, dst_col).withColumnRenamed(
        "node", id_col
    )
    return (
        docs.select(id_col)
        .join(comp, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias(
                "is_canonical"
            ),
        )
    )
