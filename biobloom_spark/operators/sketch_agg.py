"""Standalone mergeable sketch aggregation — the library surface.

The Bloom build (``maker.build_filters``) emits bitmaps plus one
distinct-frame HLL per filter; it builds no other sketch.  This module is
the engine's one per-key sketch path: a *standalone* approximate-
aggregation API over any DataFrame, per the north rule's framing of the
engine as a distributed sketch library: per-key cardinality (HLL over
token or shingle hashes), token frequency (count-min), and document-length
quantiles (KLL + t-digest), all built as mergeable partials.

Shape (the UDAF pattern used everywhere in this engine):

1. ``mapInPandas`` partials — each task accumulates per-key sketch state
   across its *whole* batch iterator (the ``maker._build_partition_fn``
   pattern) and emits exactly one sketch-row per (partition, key).  Zero
   shuffle; the corpus is read once and never leaves its partitions, and
   the partial count is O(partitions x keys) — independent of corpus
   rows, so a hot key's merge group does NOT grow with corpus size.
2. ``applyInPandas`` merge, one level while partials are few, salted two
   levels past that.  Partials carry a deterministic ``salt =
   partition_id % fanout``.  The fanout (``_default_fanout``) is
   1 — one merge per key — while a key's partial rows (n_partitions x
   the HLL + CMS row bytes, ~344 KB each at the defaults) fit
   ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: up to 195
   partitions at the 64 MiB default.  Past that it is ~sqrt(n_partitions):
   level 1 merges ``(key, salt)`` groups of <= n_partitions/fanout rows
   and level 2 merges the fanout survivors per key, so no single reducer
   receives more than ~sqrt(n_partitions) sketch rows for any key,
   however skewed the key distribution.  Only sketch-sized rows ride
   either exchange (HLL 2^p registers, CMS w*d counters, KLL/TD
   compactor state: KBs per key against a corpus of any size).

Memory note: a task holds one sketch set (~hundreds of KB at the default
parameters) per distinct key it sees.  For low-cardinality keys (lang,
bucket) this is trivial; for very high-cardinality keys (url host),
(a) pass ``sketch_params=(hll_p, cms_width, cms_depth)`` sized to the
audit's tolerance (see ``_resolve_params`` — ~18 KB/key at (10, 512, 4)
vs ~340 KB at the defaults), and (b) pre-repartition the corpus by
the key so each task sees ~total_keys / n_partitions of them — that
trades one corpus shuffle for bounded task state and single-row merge
groups (``tests/test_sketch_agg.py`` pins the 20k-key audit end-to-end).

Merges are the sketches' own published rules (register max, counter add,
compactor concat, centroid merge), so the result is independent of
partitioning — exactly (bit-identical) for HLL/CMS, within the published
error bound for the order-sensitive quantile sketches
(``tests/test_sketch_properties.py`` pins both contracts; the end-to-end
partition-invariance test here pins the DataFrame-level equivalent).

No bcgsc/biobloom counterpart (its only aggregate is the filter itself);
this is the Spark-native generalization the task mandate names.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..checkpoint import fingerprint, resume_partials, skip_done, write_lineage
from .maker import _HLL_P

__all__ = [
    "SKETCH_ROW_SCHEMA",
    "sketch_by_key",
    "sketch_by_key_checkpointed",
    "merge_sketch_rows",
    "sketch_estimates",
    "cms_token_counts",
    "sketch_bounds_report",
]

SKETCH_ROW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("hll", T.BinaryType(), False),
        T.StructField("cms", T.BinaryType(), False),
        T.StructField("kll", T.BinaryType(), False),
        T.StructField("tdigest", T.BinaryType(), False),
    ]
)

_COLS = [f.name for f in SKETCH_ROW_SCHEMA.fields]

# partials carry a deterministic merge salt (see module docstring)
_PARTIAL_SCHEMA = T.StructType(
    [SKETCH_ROW_SCHEMA.fields[0], T.StructField("salt", T.IntegerType(), False)]
    + SKETCH_ROW_SCHEMA.fields[1:]
)

# checkpointed partials additionally record their source partition id —
# the resume key (and the per-partition lineage grain)
_CKPT_PARTIAL_SCHEMA = T.StructType(
    list(_PARTIAL_SCHEMA.fields) + [T.StructField("part_id", T.IntegerType(), False)]
)


_CMS_W, _CMS_D = 8192, 5


def _resolve_params(sketch_params):
    """``sketch_params`` is the high-cardinality-key memory knob: a task
    holds one sketch set per distinct key it sees, and the default
    parameters cost ~340 KB/key (CMS 8192x5 counters
    dominate) — right for tens of keys (lang, domain-bucket), prohibitive
    for 10^5+ keys (url host).  Pass ``(hll_p, cms_width, cms_depth)``
    sized to the audit's tolerance instead (e.g. ``(10, 512, 4)`` ≈ 18
    KB/key → 10^5 keys at ~560 MB/task across 32 tasks after a
    pre-repartition by key).  Every reader of the serialized rows
    (merge, estimates, CMS queries, bounds report) must receive the same
    tuple — the bytes don't self-describe, exactly like the registry's
    HLL."""
    if sketch_params is None:
        return _HLL_P, _CMS_W, _CMS_D
    p, w, d = (int(x) for x in sketch_params)
    if not (4 <= p <= 18) or w < 16 or d < 1:
        raise ValueError(f"implausible sketch_params {sketch_params!r}")
    return p, w, d


def _new(p, w, d):
    from ..sketch import CountMinSketch, HLLSketch, KLLSketch, TDigestSketch

    return HLLSketch(p=p), CountMinSketch(width=w, depth=d), KLLSketch(), TDigestSketch()


def _partials_df(
    docs: DataFrame,
    key_col: str,
    text_col: str,
    distinct: str,
    shingle_w: int,
    fanout: int,
    with_part_id: bool = False,
    skip_partitions: frozenset = frozenset(),
    sketch_params: tuple | None = None,
) -> DataFrame:
    """The zero-shuffle partial stage of ``sketch_by_key``: one sketch-row
    per (input partition, key), tagged with ``salt = partition_id %
    fanout`` for the two-level merge.  Exposed separately so tests can pin
    the O(partitions x keys) partial-count contract directly.

    ``with_part_id`` adds the source partition id column the checkpointed
    build stores for resume; ``skip_partitions`` makes those partitions'
    tasks emit nothing (``checkpoint.skip_done``)."""
    p, cw, cd = _resolve_params(sketch_params)
    from ..functions.text import batch_doc_shingles

    sel = docs.filter(
        F.col(key_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(key_col).cast("string").alias("__key"), F.col(text_col).alias("__text"))

    def partials(batches):
        from pyspark import TaskContext

        cache: dict = {}
        acc: dict[str, list] = {}  # key -> [hll, cms, kll, td, n_docs, n_tokens]
        for pdf in batches:
            for key, g in pdf.groupby("__key", sort=False):
                st = acc.get(key)
                if st is None:
                    hll, cms, kll, td = _new(p, cw, cd)
                    st = acc[key] = [hll, cms, kll, td, 0, 0]
                texts = g["__text"].to_numpy()
                frames, _offs, tok_h, tok_c = batch_doc_shingles(
                    texts, shingle_w, cache
                )
                st[0].update_batch(frames if distinct == "shingles" else tok_h)
                st[1].update_batch(tok_h)
                lens = tok_c.astype(np.float64)
                st[2].update_batch(lens)
                st[3].update_batch(lens)
                st[4] += len(g)
                st[5] += int(tok_c.sum())
        if not acc:
            return
        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else 0
        out = {
            "key": [str(k) for k in acc],
            "salt": np.full(len(acc), pid % fanout, dtype=np.int32),
            "n_docs": [st[4] for st in acc.values()],
            "n_tokens": [st[5] for st in acc.values()],
            "hll": [st[0].serialize() for st in acc.values()],
            "cms": [st[1].serialize() for st in acc.values()],
            "kll": [st[2].serialize() for st in acc.values()],
            "tdigest": [st[3].serialize() for st in acc.values()],
        }
        if with_part_id:
            out["part_id"] = np.full(len(acc), pid, dtype=np.int32)
        yield pd.DataFrame(out)

    schema = _CKPT_PARTIAL_SCHEMA if with_part_id else _PARTIAL_SCHEMA
    return sel.mapInPandas(skip_done(partials, frozenset(skip_partitions)), schema)


def sketch_by_key(
    docs: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    distinct: str = "tokens",
    shingle_w: int = 3,
    sketch_params: tuple | None = None,
) -> DataFrame:
    """One sketch-row per key: (key, n_docs, n_tokens, hll, cms, kll,
    tdigest).

    - ``hll``: distinct count of ``distinct`` = ``"tokens"`` (default) or
      ``"shingles"`` (w-token frames — the registry build's domain);
    - ``cms``: token frequencies (query with ``cms_token_counts``);
    - ``kll`` / ``tdigest``: document-length (token-count) quantiles;
    - ``n_docs`` / ``n_tokens``: exact counters (merge by addition).

    The merge runs in one level while a key's partial rows fit the
    session's AQE advisory partition size, and above it in two salted
    levels of ~sqrt(n_partitions) rows per merge task (``_default_fanout``
    derives the fanout).  HLL and CMS results are bit-identical under
    every fanout (commutative merges); the quantile sketches stay inside
    their published bounds.

    Null keys/texts are dropped (same contract as ``build_filters``).
    """
    if distinct not in ("tokens", "shingles"):
        raise ValueError("distinct must be 'tokens' or 'shingles'")
    from ..session import ensure_workers

    ensure_workers(docs.sparkSession)
    merge_fanout = _default_fanout(docs, sketch_params)
    part = _partials_df(
        docs, key_col, text_col, distinct, shingle_w, merge_fanout,
        sketch_params=sketch_params,
    )
    return _merge_partials(part, merge_fanout, sketch_params)


def _default_fanout(docs: DataFrame, sketch_params: tuple | None = None) -> int:
    """The merge fanout of ``sketch_by_key`` and
    ``sketch_by_key_checkpointed`` — the one place it is decided.  1 (a
    single merge level) while one key's partial rows, ``n_parts`` x the
    fixed row bytes of the resolved ``sketch_params``
    (HLL registers + CMS counters), fit the session's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: a reducer then
    takes no more than one AQE target partition per key, and a second
    level would only add a Python stage.  At the defaults (~344 KB a row,
    64 MiB) that is up to 195 partitions.  Above it, ~sqrt(n_parts), so
    neither level's merge groups exceed ~sqrt(n_parts) rows."""
    import math

    spark = docs.sparkSession
    n_parts = max(int(docs.rdd.getNumPartitions()), 1)
    p, w, d = _resolve_params(sketch_params)
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    if n_parts * (2**p + 8 * w * d) <= advisory:
        return 1
    return math.isqrt(n_parts)


def _merge_partials(
    part: DataFrame, merge_fanout: int, sketch_params: tuple | None = None
) -> DataFrame:
    """The merge tail shared by the one-shot and checkpointed builds
    (partials → one sketch-row per key): one level at ``merge_fanout``
    1, the salted two levels above it."""
    if merge_fanout > 1:
        part = part.groupBy("key", "salt").applyInPandas(
            _merge_fn(keep_salt=True, sketch_params=sketch_params), _PARTIAL_SCHEMA
        )
    return part.groupBy("key").applyInPandas(
        _merge_fn(sketch_params=sketch_params), SKETCH_ROW_SCHEMA
    )


def sketch_by_key_checkpointed(
    spark,
    docs: DataFrame,
    partials_path: str,
    key_col: str = "lang",
    text_col: str = "text",
    distinct: str = "tokens",
    shingle_w: int = 3,
    snapshot_id: str | None = None,
    job_id: str | None = None,
    sketch_params: tuple | None = None,
) -> DataFrame:
    """``sketch_by_key`` with per-partition checkpoint + resume — the
    north rule's mid-build resumability for the standalone sketch surface
    (the filter build's analog is ``maker.build_filters(partials_path=)``,
    the miBF's is ``mibf_store.build_mibf_store``).

    Per-(partition, key) partial sketch rows land in ``partials_path`` as
    parquet tagged with their source partition id; a re-invocation against
    the same input snapshot recomputes only the partitions with no
    checkpointed row and appends them.  A companion
    ``<partials_path>_lineage`` parquet records one row per (partition,
    key) with the exact doc/token counters — the per-partition lineage +
    metrics the rule names.  The final merge (one level or salted two,
    as in ``sketch_by_key``) always runs from the (cheap, sketch-sized)
    checkpoint, so the merged result is the same DataFrame
    ``sketch_by_key`` would have produced.

    Resume safety is ``checkpoint``'s: the fingerprint covers the input
    snapshot (``snapshot_id`` or the scan's file listing), the scan's
    partition count, the derived merge fanout (the partials' salt) and
    every parameter that shapes partial content; any mismatch discards the
    stale state and rebuilds from scratch.  In-memory DataFrames with no
    file listing never resume unless ``snapshot_id`` is given.
    """
    from ..session import ensure_workers

    if distinct not in ("tokens", "shingles"):
        raise ValueError("distinct must be 'tokens' or 'shingles'")
    ensure_workers(spark)
    merge_fanout = _default_fanout(docs, sketch_params)
    fp = fingerprint(
        docs, snapshot_id, key_col, text_col, distinct, shingle_w, merge_fanout,
        _resolve_params(sketch_params),
    )
    partials = resume_partials(
        spark, partials_path, fp, "part_id",
        lambda done: _partials_df(
            docs, key_col, text_col, distinct, shingle_w, merge_fanout,
            with_part_id=True, skip_partitions=done, sketch_params=sketch_params,
        ),
    )
    write_lineage(
        partials, partials_path, job_id, "sketch_partials",
        ("part_id", "key"), ("n_docs", "n_tokens"),
    )
    return _merge_partials(
        partials.select(*[f.name for f in _PARTIAL_SCHEMA.fields]),
        merge_fanout,
        sketch_params,
    )


def _merge_fn(keep_salt: bool = False, sketch_params: tuple | None = None):
    p, cw, cd = _resolve_params(sketch_params)
    cols = [_COLS[0]] + (["salt"] if keep_salt else []) + _COLS[1:]

    def fn(key, pdf):
        from ..sketch import CountMinSketch, HLLSketch, KLLSketch, TDigestSketch

        if len(pdf) == 1:
            return pdf[cols]
        hll, cms, kll, _td = _new(p, cw, cd)
        for hb, cb, kb in zip(pdf["hll"], pdf["cms"], pdf["kll"]):
            hll = hll.merge(HLLSketch.deserialize(bytes(hb), p=p))
            cms = cms.merge(CountMinSketch.deserialize(bytes(cb), cw, cd))
            kll = kll.merge(KLLSketch.deserialize(bytes(kb)))
        # k-way, single-compression t-digest merge (rank error does not
        # compound with fan-in — see TDigestSketch.merge_all); intermediate
        # (salted level-1) merges stay at 2x delta, the final per-key merge
        # compresses to the target delta
        tds = [TDigestSketch.deserialize(bytes(tb)) for tb in pdf["tdigest"]]
        tgt = TDigestSketch().delta  # the canonical delta the partials are built at
        td = TDigestSketch.merge_all(tds, delta=(2.0 * tgt if keep_salt else tgt))
        out = {
            "key": [str(key[0])],
            "n_docs": [int(pdf["n_docs"].sum())],
            "n_tokens": [int(pdf["n_tokens"].sum())],
            "hll": [hll.serialize()],
            "cms": [cms.serialize()],
            "kll": [kll.serialize()],
            "tdigest": [td.serialize()],
        }
        if keep_salt:
            out["salt"] = [int(pdf["salt"].iloc[0])]
        return pd.DataFrame(out)[cols]

    return fn


def merge_sketch_rows(
    *sketch_rows: DataFrame, sketch_params: tuple | None = None
) -> DataFrame:
    """Fold k independently built ``sketch_by_key`` results into one
    (cross-corpus / incremental aggregation — the ``merge_registries``
    analog).  One union + one sketch-sized shuffle."""
    if not sketch_rows:
        raise ValueError("merge_sketch_rows needs at least one input")
    from ..session import ensure_workers

    ensure_workers(sketch_rows[0].sparkSession)
    uni = sketch_rows[0]
    for r in sketch_rows[1:]:
        uni = uni.unionByName(r)
    return uni.groupBy("key").applyInPandas(
        _merge_fn(sketch_params=sketch_params), SKETCH_ROW_SCHEMA
    )


_EST_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("distinct_hll", T.DoubleType(), False),
        T.StructField("len_q_kll", T.ArrayType(T.DoubleType()), False),
        T.StructField("len_q_tdigest", T.ArrayType(T.DoubleType()), False),
    ]
)

_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def sketch_estimates(
    sketch_rows: DataFrame, quantiles: tuple = _QS,
    sketch_params: tuple | None = None,
) -> DataFrame:
    """Decode sketch rows into estimates: HLL distinct count + KLL and
    t-digest length quantiles.  Runs where the rows live (mapInPandas) —
    the key space can be arbitrarily large."""
    from ..session import ensure_workers

    ensure_workers(sketch_rows.sparkSession)
    p, cw, cd = _resolve_params(sketch_params)
    qs = list(quantiles)

    def est(batches):
        from ..sketch import HLLSketch, KLLSketch, TDigestSketch

        for pdf in batches:
            out = {
                "key": pdf["key"],
                "n_docs": pdf["n_docs"],
                "n_tokens": pdf["n_tokens"],
                "distinct_hll": [
                    float(HLLSketch.deserialize(bytes(b), p=p).estimate())
                    for b in pdf["hll"]
                ],
                "len_q_kll": [
                    [float(KLLSketch.deserialize(bytes(b)).quantile(q)) for q in qs]
                    for b in pdf["kll"]
                ],
                "len_q_tdigest": [
                    [float(TDigestSketch.deserialize(bytes(b)).quantile(q)) for q in qs]
                    for b in pdf["tdigest"]
                ],
            }
            yield pd.DataFrame(out)

    return sketch_rows.mapInPandas(est, _EST_SCHEMA)


def cms_token_counts(
    sketch_rows: DataFrame, tokens: list[str],
    sketch_params: tuple | None = None,
) -> DataFrame:
    """Estimated frequency of each queried token per key:
    (key, token, est_count).  The token list is driver-provided (a
    dashboard / vocabulary probe), hashed once and closed over."""
    from ..session import ensure_workers
    from ..sketch.hashing import hash_tokens

    ensure_workers(sketch_rows.sparkSession)

    p, cw, cd = _resolve_params(sketch_params)
    toks = list(tokens)
    hashes = np.asarray(hash_tokens(toks), dtype=np.uint64)
    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("token", T.StringType(), False),
            T.StructField("est_count", T.LongType(), False),
        ]
    )

    def q(batches):
        from ..sketch import CountMinSketch

        for pdf in batches:
            keys, out_toks, est = [], [], []
            for _, r in pdf.iterrows():
                cms = CountMinSketch.deserialize(bytes(r["cms"]), cw, cd)
                for t, e in zip(toks, cms.query_batch(hashes)):
                    keys.append(r["key"])
                    out_toks.append(t)
                    est.append(int(e))
            yield pd.DataFrame({"key": keys, "token": out_toks, "est_count": est})

    return sketch_rows.mapInPandas(q, schema)


_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("distinct_tokens", T.LongType(), False),
        T.StructField("hll_ok", T.BooleanType(), False),
        T.StructField("cms_ok", T.BooleanType(), False),
        T.StructField("kll_ok", T.BooleanType(), False),
        T.StructField("tdigest_ok", T.BooleanType(), False),
    ]
)


def _with_exact_sides(
    rows: DataFrame, docs: DataFrame, key_col: str, text_col: str, top_tokens: int
) -> DataFrame:
    """``sketch_by_key`` rows joined on key to exact Spark aggregates of
    ``docs``: ``exact_distinct`` (distinct tokens), ``hist`` (doc-length
    histogram as (n, c) structs) and ``top_toks`` (the ``top_tokens``
    most frequent tokens as (token, cnt) structs, ties to the smaller
    token) — the exact sides ``sketch_audit._audit_row`` checks the
    sketches against."""
    from pyspark.sql import Window

    from ..sources.tables import tokens_col

    base = docs.filter(
        F.col(key_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(key_col).cast("string").alias("key"), tokens_col(text_col).alias("toks"))
    tok = base.select("key", F.explode("toks").alias("token"))
    exact_d = tok.groupBy("key").agg(F.countDistinct("token").alias("exact_distinct"))
    hist = (
        base.select("key", F.size("toks").alias("n"))
        .groupBy("key", "n")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("key")
        .agg(F.collect_list(F.struct("n", "c")).alias("hist"))
    )
    wnd = Window.partitionBy("key").orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tok.groupBy("key", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= top_tokens)
        .groupBy("key")
        .agg(F.collect_list(F.struct("token", "cnt")).alias("top_toks"))
    )
    return rows.join(exact_d, "key", "left").join(hist, "key", "left").join(top, "key", "left")


def sketch_bounds_report(
    spark,
    docs: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
    top_tokens: int = 5,
    sketch_params: tuple | None = None,
) -> DataFrame:
    """Published-bound audit of a ``sketch_by_key`` result against exact
    Spark aggregates of the same corpus (bounds and tolerances in
    ``sketch_audit``'s module docstring).  Exact + boolean columns, so
    the gate oracle is exact counts plus ``true`` per cell.

    Fully distributed: the exact aggregates (``_with_exact_sides``) are
    joined to the sketch rows on key and the flags are evaluated where the
    rows live (mapInPandas), so the audited key space can be arbitrarily
    large — only the report rows the caller collects ever reach the
    driver.  (``spark`` is kept in the signature for API stability; the
    plan is derived from ``docs``.)
    """
    p, cw, cd = _resolve_params(sketch_params)
    joined = _with_exact_sides(
        sketch_by_key(docs, key_col, text_col, sketch_params=sketch_params),
        docs, key_col, text_col, top_tokens,
    )

    def audit(batches):
        from ..sketch import HLLSketch
        from .sketch_audit import _audit_row

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                exact = 0 if r.exact_distinct is None or pd.isna(r.exact_distinct) else int(r.exact_distinct)
                hll_est = HLLSketch.deserialize(bytes(r.hll), p=p).estimate()
                flags = _audit_row(r, hll_est, exact, p, cw, cd)[:4]
                out.append((str(r.key), int(r.n_docs), int(r.n_tokens), exact, *flags))
            yield pd.DataFrame(out, columns=[f.name for f in _REPORT_SCHEMA.fields])

    return joined.mapInPandas(audit, _REPORT_SCHEMA)
