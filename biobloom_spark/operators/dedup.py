"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart in bcgsc/biobloom (its redundancy tracking,
BloomFilterGenerator.h:170-188, detects repeated *k-mers*, not duplicate
documents) — these are the corpus-curation extensions the engine is
expected to provide, built from the same shingle/hash substrate.

Scale notes per operator are inline; the common theme: never materialize
O(n^2) pairs — candidates come from hash buckets (exact hash, LSH band,
simhash block), and only candidates are verified.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketch.hashing import splitmix64
from .exact import shingle_array_col, shingle_frames

__all__ = [
    "exact_dedup",
    "snapshot_dedup",
    "ngram_jaccard_pairs",
    "exact_jaccard_on_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_signatures_sql",
    "simhash_near_dups",
    "embedding_near_dups",
]

_U64 = np.uint64


# ------------------------------------------------------------------ exact
def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate grouping by full-text hash.

    Returns (id, dup_group, is_canonical): dup_group = xxhash64(text)
    (JVM-side), canonical = min id per group.  One shuffle on the hash —
    the cheapest dedup; at 100 TB group by a 2-level (hash, hash>>32)
    if a single-key hot group ever matters (it can't: groups are
    content-equal docs).
    """
    d = docs.select(
        F.col(id_col), F.xxhash64(F.col(text_col)).alias("dup_group")
    )
    w_min = F.min(id_col).over(Window.partitionBy("dup_group"))
    return d.withColumn("is_canonical", (F.col(id_col) == w_min))


# ------------------------------------------------------------ snapshot dedup
def snapshot_dedup(
    docs: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep the newest capture per key — recrawl dedup for web corpora
    (a Common-Crawl url is re-fetched across crawls; training pipelines
    keep one snapshot).  The batch twin of
    ``streaming.dedup_stream``'s keep-latest semantics.

    Ties on ``ts_col`` break deterministically on ``tiebreak_col``
    (largest wins; defaults to ``ts_col`` itself, i.e. exact ties keep an
    arbitrary-but-stable row only when the full struct ties).

    Scale shape: ``groupBy(key).agg(max(struct(ts, tiebreak, payload)))``
    — max over a struct compares fields left-to-right, so this is the
    argmax without a window sort; Catalyst runs it with map-side partial
    aggregation (one combine-reduced shuffle on the key), strictly
    cheaper at 100 TB than ``row_number() OVER`` (full shuffle + per-key
    sort, no partial aggregation).
    """
    tiebreak_col = tiebreak_col or ts_col
    payload = [c for c in docs.columns if c != key_col]
    # dedupe: tiebreak defaulting to ts_col must not repeat the field in
    # the struct (a duplicate name makes `__top.<ts>` ambiguous at select)
    ordered = ([ts_col] if tiebreak_col == ts_col else [ts_col, tiebreak_col]) + [
        c for c in payload if c not in (ts_col, tiebreak_col)
    ]
    top = docs.groupBy(key_col).agg(
        F.max(F.struct(*ordered)).alias("__top")
    )
    return top.select(
        key_col, *[F.col(f"__top.{c}").alias(c) for c in payload]
    )


# ------------------------------------------------------- exact n-gram jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs (a < b, jaccard >= threshold).

    Relational: distinct (doc, shingle) → self-join on shingle → pair
    intersection counts → |A∪B| = |A|+|B|-|A∩B|.  Fully SQL-expressible
    (the DuckDB-oracle twin).  The shingle self-join is the scale
    bottleneck (pairs sharing any shingle); production path is
    minhash_lsh_pairs below — this is the exactness anchor.
    """
    sh = (
        shingle_frames(docs.select(id_col, text_col), text_col, w)
        .select(F.col(id_col).alias("id"), "shingle")
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ----------------------------------------------- exact verification stage
def exact_jaccard_on_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """TRUE n-gram Jaccard for a candidate pair set — the verification
    stage of the two-phase production dedup pipeline (sketch proposes,
    exact verifies).

    ``pairs`` carries (id_a, id_b) from any candidate generator
    (minhash_lsh_pairs(verify=False), simhash blocks, exact-hash groups).
    Cost is O(candidates), never all-pairs: the corpus is first
    semi-joined down to the docs that appear in a candidate, each of
    those is shingled ONCE into a distinct-shingle array, the arrays
    join the candidates on id_a and then on id_b, and
    |A∩B| = size(array_intersect(A, B)), |A∪B| = |A|+|B|-|A∩B|.  No
    shingle-row explode and no shingle-volume exchange: the only rows
    that move are candidates and one array per candidate doc.

    Output (id_a, id_b, jaccard) is defined identically to
    ``ngram_jaccard_pairs`` — when the candidate generator's recall over
    ``threshold`` is total, the two are EQUAL, which is what makes an
    LSH/simhash pipeline oracle-checkable end to end (the gate queries
    use high-recall banding for exactly that).  Each distinct candidate
    row keeps the orientation it was given; a pair sharing no shingle
    (which includes a null, short or absent doc) emits no row, as in the
    shingle self-join, and never reaches the 0/0 division.
    """
    # a duplicated candidate row would otherwise emit its pair twice
    cand = pairs.select("id_a", "id_b").distinct()
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sub = docs.join(ids, on=id_col, how="left_semi")
    sh = sub.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_array_col(text_col, w)).alias("sh"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - F.col("inter")
    return (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), on="id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), on="id_b")
        .withColumn("inter", inter)
        .filter(F.col("inter") > 0)
        .withColumn("jaccard", F.round(F.col("inter") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------------------- minhash
def _minhash_batch(texts, w: int, num_perm: int, cache: dict) -> np.ndarray:
    """(n_docs, num_perm) uint64 minhash signatures.

    Permutations via affine transforms a_i*x+b_i over the shingle-hash
    universe (a_i odd), the standard linear-permutation family.
    """
    from ..functions.text import batch_doc_shingles

    hashes, offsets, _t, _c = batch_doc_shingles(texts, w, cache)
    n = len(texts)
    rng_a = splitmix64(np.arange(1, num_perm + 1, dtype=_U64) * _U64(0x9E3779B97F4A7C15)) | _U64(1)
    rng_b = splitmix64(np.arange(1, num_perm + 1, dtype=_U64) ^ _U64(0xDEADBEEFCAFEBABE))
    sig = np.full((n, num_perm), np.iinfo(np.uint64).max, dtype=_U64)
    if hashes.size == 0:
        return sig
    # one affine pass per permutation over the FLAT shingle array +
    # minimum.reduceat at doc starts — no per-doc Python.  Empty docs are
    # excluded from the reduceat index list (their sig rows stay at the
    # uint64-max sentinel); a non-empty doc's segment then still ends at
    # the next listed start, because the skipped docs are zero-width.
    seg_sizes = np.diff(offsets)
    nonempty = np.flatnonzero(seg_sizes > 0)
    starts = offsets[:-1][nonempty]
    buf = np.empty(hashes.size, dtype=_U64)
    for p in range(num_perm):
        np.multiply(hashes, rng_a[p], out=buf)  # wraps mod 2^64
        buf += rng_b[p]
        sig[nonempty, p] = np.minimum.reduceat(buf, starts)
    return sig


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    num_perm: int = 128,
) -> DataFrame:
    """Per-doc minhash signature as array<bigint> (uint64 bit-cast)."""
    from ..session import ensure_workers

    ensure_workers(docs.sparkSession)
    schema = T.StructType(
        [docs.schema[id_col], T.StructField("signature", T.ArrayType(T.LongType()), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            sig = _minhash_batch(pdf[text_col].to_numpy(), w, num_perm, cache)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "signature": list(sig.astype(np.int64)),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    verify: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs (the 100 TB dedup path).

    shingle → minhash(num_perm) → band into ``bands`` groups of r =
    num_perm/bands rows → group ids by (band, band-hash) bucket →
    candidate pairs → (optionally) verify estimated Jaccard =
    matching-minhash fraction >= threshold.  S-curve: P(candidate) =
    1-(1-s^r)^b; defaults (b=32, r=4) put the knee near s≈0.42 with
    recall >0.99 at s=0.8.

    Never materializes cross products: candidates only from shared
    buckets; duplicate candidate pairs from multiple bands collapsed by
    one dropDuplicates before verification.

    Exchange economics (the 100 TB concern): the minhash UDF runs once,
    and its (band, band-hash, id) rows cross ONE exchange into the
    bucket grouping; each bucket's id list then emits its id_a < id_b
    pairs in-stream (two explodes), and only (id_a, id_b) rows cross the
    candidate dedup.  A band self-join would shuffle both sides at
    scale (a sort-merge join) — twice the band rows — and reference the
    minhash pass once per side.  A bucket of k ids costs O(k) per row
    for the filtered id list, the same bucket the join put in one task.
    The ~1 KB/doc signatures ride neither exchange (at 128 perms and 32
    bands shipping them through the banding would move each 32x).
    ``verify=True`` re-joins the signatures to the deduped candidate ids
    once per side; the signature stage is persisted so the three
    references compute the minhash pass once.
    """
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    sigs = minhash_signatures(docs, id_col, text_col, w, num_perm)
    if verify:
        # three lazy references below (banding + two signature re-joins):
        # persist so the Arrow minhash pass runs once, spilling if needed.
        # Lifetime: the cache lives while the returned (lazy) DataFrame is
        # reachable — there is no point inside this function after which
        # it is safe to unpersist; Spark's ContextCleaner reclaims the
        # blocks once the caller drops the result and the plan is GC'd.
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)

    band_idx = F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> struct(b AS band, xxhash64(concat_ws(',', slice(signature, b*{r}+1, {r}))) AS bh))"
        )
    ).alias("bb")
    banded = sigs.select(F.col(id_col).alias("id"), band_idx).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand_ids = (
        buckets.select("ids", F.explode("ids").alias("id_a"))
        .select(
            "id_a",
            F.explode(F.filter("ids", lambda y: y > F.col("id_a"))).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand_ids
    cand = cand_ids.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")),
        on="id_a",
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")),
        on="id_b",
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_perm))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ----------------------------------------------------------------- simhash
def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", w: int = 3
) -> DataFrame:
    """64-bit simhash per doc (Charikar): sign-sum of shingle-hash bits."""
    from ..session import ensure_workers

    ensure_workers(docs.sparkSession)
    schema = T.StructType(
        [docs.schema[id_col], T.StructField("simhash", T.LongType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.text import batch_doc_shingles

        cache: dict = {}
        bitcols = np.arange(64, dtype=_U64)
        for pdf in batches:
            texts = pdf[text_col].to_numpy()
            hashes, offsets, _t, _c = batch_doc_shingles(texts, w, cache)
            n = len(texts)
            # whole-batch bit matrix: one (frames, 64) expansion + one
            # segmented per-doc sum via reduceat — no per-doc loop
            frames = np.diff(offsets)
            ones = np.zeros((n, 64), dtype=np.int64)
            if hashes.size:
                bits = ((hashes[:, None] >> bitcols[None, :]) & _U64(1)).astype(np.int64)
                nz = frames > 0
                ones[nz] = np.add.reduceat(bits, offsets[:-1][nz], axis=0)[
                    : int(nz.sum())
                ]
            votes = ones * 2 - frames[:, None]  # +1/-1 sums per bit
            sim = ((votes > 0).astype(np.uint64) << bitcols[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            out = np.where(frames > 0, sim.astype(np.int64), 0)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": out})

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def simhash_signatures_sql(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", w: int = 3
) -> DataFrame:
    """64-bit simhash per doc over **md5 shingle hashes** — the
    oracle-checkable exactness anchor for the simhash family.

    Same Charikar sign-sum semantics as ``simhash_signatures`` but the
    per-frame hash is the first 16 hex chars of ``md5(shingle string)``
    (big-endian uint64), which a DuckDB twin can recompute exactly; the
    whole computation is JVM expressions (zero Python).  The vectorized
    FNV ``simhash_signatures`` stays the production hot path; this
    variant exists so the gate's near-dup query is hash-checkable end to
    end (candidate recall from pigeonhole blocking is lossless, so the
    *output* is deterministic given the hash function).

    Round-6 plan: the original formulation ran a NESTED interpreted
    higher-order ``aggregate`` (64 bit positions x every frame, per doc —
    measured 10+ s at sf0.1).  Now: one codegen'd regex shingle explode,
    md5 + hex->int64 packing per frame row, then ONE doc-keyed
    aggregation with 64 conditional bit sums and a codegen'd bitwise-OR
    assembly — identical values, whole-stage codegen throughout, one
    map-side-combined exchange.
    """
    sh_arr = shingle_array_col(text_col, w)
    d = docs.select(id_col, F.explode_outer(sh_arr).alias("__shingle"))
    # hex -> uint64 in two 32-bit halves (conv of 8 hex chars fits a signed
    # long even under ANSI); the high half may set the sign bit via
    # shiftleft, which wraps Java-style — exactly the packing the DuckDB
    # twin reproduces bit-by-bit
    m = F.md5("__shingle")
    packed = F.shiftleft(
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long"))
    rows = d.select(id_col, packed.alias("__h"))
    # per-bit vote: majority of frames with bit b set -> bit b of simhash;
    # 2*ones_b > n_frames  <=>  sum(+1/-1 votes) > 0.  No frames -> 0
    # (explode_outer keeps zero-frame docs as one NULL row: count/sums
    # skip NULLs, so nf = 0 and every vote fails).
    aggs = [F.count("__h").alias("__nf")] + [
        F.sum(F.shiftrightunsigned("__h", b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(64)
    ]
    per_doc = rows.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(64):
        term = F.when(
            F.lit(2) * F.coalesce(F.col(f"__b{b}"), F.lit(0)) > F.col("__nf"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return per_doc.select(id_col, sim.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    max_hamming: int = 3,
    blocks: int = 4,
    hash_fn: str = "fnv",
) -> DataFrame:
    """SimHash near-dups within Hamming distance ``max_hamming``.

    Pigeonhole blocking: split the 64-bit simhash into ``blocks`` pieces;
    any pair within distance < blocks shares at least one identical block →
    candidates from equi-join per block, verified by popcount(xor) —
    the standard scalable Hamming join (no cross product).

    ``hash_fn``: 'fnv' (default, vectorized production path) or 'md5'
    (``simhash_signatures_sql`` — exactly recomputable by a SQL twin, so
    the output pair set is oracle-checkable; blocking is lossless either
    way).
    """
    if blocks <= max_hamming:
        raise ValueError("need blocks > max_hamming for pigeonhole recall")
    if hash_fn == "md5":
        sig_df = simhash_signatures_sql(docs, id_col, text_col, w)
    elif hash_fn == "fnv":
        sig_df = simhash_signatures(docs, id_col, text_col, w)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (expected 'fnv' or 'md5')")
    sigs = sig_df.withColumnRenamed(id_col, "id")
    width = 64 // blocks
    blocked = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> struct(b AS blk, shiftright(simhash, b*{width}) & {(1 << width) - 1} AS bval))"
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.blk").alias("blk"), F.col("bb.bval").alias("bval"))
    lhs = blocked.select("blk", "bval", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    rhs = blocked.select("blk", "bval", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    # Verify (popcount, a codegen'd scalar) BEFORE deduplicating: narrow
    # blocks make the equi-join a high-multiplicity candidate generator,
    # and the pre-round-6 plan shuffled EVERY candidate pair through
    # dropDuplicates before filtering — the verify filter runs in-stream
    # inside the join stage and the dedup exchange then carries only the
    # (tiny) accepted pair set (guide §2.3: shuffle fewer bytes).  Same
    # output: hamming is a pure function of the pair.
    return (
        lhs.join(rhs, on=["blk", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------- embedding near-dup
def embedding_near_dups(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    lsh_planes: int = 10,
    tables: int = 12,
    hash_fn: str = "gaussian",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table random-
    hyperplane LSH (OR-amplification).

    ``tables`` independent sign-sketches of ``lsh_planes`` hyperplanes
    each; a pair is a candidate if it collides in ANY table → verified by
    exact cosine >= threshold (JVM zip_with/aggregate dot product).
    Recall at cosine s: 1 - (1 - p^P)^L with p = 1 - acos(s)/pi — defaults
    (P=10, L=12) give ~0.994 at s=0.95 while random pairs collide at
    ~L*2^-P ≈ 1.2% per table pair universe (bucket-join, never all-pairs).
    One UDF pass computes all L sketches.

    ``hash_fn``: 'gaussian' (default, seeded standard-normal planes — the
    production path) or 'md5' — Rademacher (±1) planes whose sign at
    (table, plane, dim) is the parity of md5(f"{t}_{p}_{i}")'s first hex
    digit, probed against integer-quantized components
    trunc(float64(v_i) * 1e6).  Projections are then exact int64 sums, so
    a DuckDB twin recomputes every bucket code bit-for-bit and the output
    pair set is oracle-checkable end to end (same trick as
    ``simhash_signatures_sql`` / md5-ordered IVF centroids).  Rademacher
    projections satisfy the same Johnson–Lindenstrauss/sign-sketch
    guarantees as Gaussian (Achlioptas 2003), so recall behaves alike.

    Exchange economics: the bucket join and the candidate dedup move
    only (id, tbl, bucket) / (id_a, id_b) rows —
    the d-float vectors ride NEITHER (the old shape shipped each vector L
    times through the table join and twice per candidate through the
    dedup); vectors re-join the deduped candidate ids once per side for
    the exact-cosine verify.
    """
    dim_row = embs.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    weights = 1 << np.arange(lsh_planes)
    if hash_fn == "md5":
        import hashlib

        signs = np.empty((tables, lsh_planes, dim), dtype=np.int64)
        for t in range(tables):
            for p in range(lsh_planes):
                for i in range(dim):
                    nib = hashlib.md5(f"{t}_{p}_{i}".encode()).hexdigest()[0]
                    signs[t, p, i] = 1 if int(nib, 16) % 2 else -1

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def sketch_all(v: pd.Series) -> pd.Series:
            mat = np.stack(v.to_numpy()).astype(np.float64)
            w = np.trunc(mat * 1e6).astype(np.int64)  # exact in any engine
            proj = np.tensordot(w, signs, axes=([1], [2]))  # (n, L, P) int64
            codes = ((proj > 0) * weights).sum(axis=2).astype(np.int64)
            return pd.Series(list(codes))

    elif hash_fn == "gaussian":
        rng = np.random.default_rng(0xB10B)  # fixed planes: deterministic sketch
        planes = rng.standard_normal((tables, lsh_planes, dim))

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def sketch_all(v: pd.Series) -> pd.Series:
            mat = np.stack(v.to_numpy())  # (n, dim)
            # (n, L, P) signs in one tensordot, then pack per table
            proj = np.tensordot(mat, planes, axes=([1], [2]))  # (n, L, P)
            codes = ((proj > 0) * weights).sum(axis=2).astype(np.int64)  # (n, L)
            return pd.Series(list(codes))

    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (expected 'gaussian' or 'md5')")

    # double-cast once: the sketch quantizes from float64 and the verify
    # cosine runs in double — bit-compatible with a DOUBLE[] SQL twin
    vecs = embs.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    s = (
        vecs.withColumn("sk", sketch_all("v"))
        .select("id", F.posexplode("sk").alias("tbl", "bucket"))
    )
    lhs = s.select("tbl", "bucket", F.col("id").alias("id_a"))
    rhs = s.select("tbl", "bucket", F.col("id").alias("id_b"))
    cand = (
        lhs.join(rhs, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), on="id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), on="id_b")
    )
    dot = F.expr("aggregate(zip_with(v_a, v_b, (x, y) -> x*y), 0D, (acc, p) -> acc + p)")
    norm = lambda c: F.sqrt(F.expr(f"aggregate(transform({c}, x -> x*x), 0D, (acc, p) -> acc + p)"))
    return (
        cand.withColumn("cosine", F.round(dot / (norm("v_a") * norm("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
