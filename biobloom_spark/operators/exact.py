"""Exact set-membership classification — the categorizer's join-based twin.

Same query semantics as the Bloom categorizer (hit fraction of a document's
frames against each reference frame-set, threshold, unique/multi/no
assignment — SURVEY.md §2.9 STD mode) but computed *exactly* with
relational operators.

Three roles:
1. the DuckDB-oracle-checkable query surface (every step is ANSI SQL);
2. the exact oracle the Bloom path is differential-tested against
   (Bloom adds only false positives, bounded by FPR);
3. a legitimate distributed operator in its own right when exactness
   matters more than memory (shuffle-heavy: docs explode ~frames×,
   vs. the Bloom path's zero-shuffle broadcast probe — the scale
   trade-off documented in SURVEY.md §2.3-J1).

All shingling is JVM-side — one ``regexp_extract_all`` per document
(``shingle_array_col``), no Python.

Round-6 plan shape (optimization guide §2.3-2.4, §3.1): the old plan
evaluated the shingle explode THREE times (refsets branch, per-doc frame
count branch, hit-join branch), broadcast the full distinct
(key, shingle) reference table, and needed two joins plus a final
left-join back to the corpus.  The rewritten plan:

* per-doc frame count is arithmetic (``greatest(0, n_tokens-w+1)``), not
  an aggregation over the explode — one whole Generate branch removed;
* the reference side aggregates to ``shingle -> collect_set(key)`` —
  its map-side partial aggregation collapses each scan partition to its
  distinct shingles, so the exchange carries ~|vocabulary| rows instead
  of the frame volume, and the broadcast is |distinct shingles| rows
  (5x smaller than distinct (key, shingle) pairs);
* the probe is ONE 1:1 broadcast join (each frame row matches exactly
  one reference row) followed by ONE aggregation keyed by doc id with a
  conditional-sum column per label — map-side combine collapses it to
  ~|docs| rows before the only remaining exchange;
* ``explode_outer`` keeps zero-frame docs in the aggregate, so the old
  ``docs LEFT JOIN agg`` re-scan is gone entirely.

Explodes: 2 evaluations (reference agg + probe) instead of 3; exchanges
on the frame volume: 0 (the old plan had the distinct refsets exchange).
The per-label column pivot needs the label list at plan time (one tiny
distinct-collect job, same as every build path) and packs each shingle's
labels into one long mask, so it serves up to ``_PIVOT_MAX_LABELS`` (64)
labels; beyond that the generic join-shaped plan (kept below) takes over.
Both plans broadcast the reference side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MULTI_MATCH, NO_MATCH

__all__ = ["shingle_frames", "exact_classify", "exact_classify_summary",
           "exact_hit_matrix"]

#: beyond this many labels the per-label bitmask pivot no longer fits one
#: long column; fall back to the generic join shape
_PIVOT_MAX_LABELS = 64


def shingle_array_col(text_col, w: int = 3):
    """Array of w-token shingle strings, via ONE codegen'd regex pass.

    The pre-round-6 formulation (``transform(sequence(1, n_frames),
    i -> concat_ws(' ', slice(toks, i, w)))``) goes through Catalyst's
    interpreted higher-order-function path — measured 2.2x slower than
    this (tools/shingle_ab.py; guide §4.1 "prefer built-ins").  Here the
    text is whitespace-normalized once (same ``\\s`` class as
    ``tokens_col``'s split, so token semantics are identical), then a
    zero-width lookahead captures the w-token window at every token
    start while the match consumes exactly one token:

        (?=((?:\\S+ ){w-1}\\S+))\\S+(?: |$)

    Each successful match leaves the engine at the next token start;
    once fewer than w tokens remain the lookahead fails everywhere (a
    bump into a token's suffix sees the same remaining-token count, so
    no spurious window can match).  Result is value-identical to the
    slice/concat_ws formulation: windows joined by single spaces, and
    ``size(result) == greatest(0, n_tokens - w + 1)``.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.regexp_replace(F.trim(c), F.lit(r"\s+"), F.lit(" "))
    pat = r"(?=((?:\S+ ){" + str(w - 1) + r"}\S+))\S+(?: |$)"
    return F.regexp_extract_all(norm, F.lit(pat), F.lit(1))


def shingle_frames(docs: DataFrame, text_col: str = "text", w: int = 3) -> DataFrame:
    """Explode every doc into its w-token shingle frames (JVM-side).

    Output: input columns + ``shingle``.  Frame count per doc =
    ``greatest(0, n_tokens - w + 1)`` — identical to the sizing pre-pass
    and the Arrow path's ``shingle_hashes``.
    """
    return docs.withColumn("shingle", F.explode(shingle_array_col(text_col, w)))


def _frame_rows(
    docs: DataFrame, key_col: str, id_col: str, text_col: str, w: int
) -> DataFrame:
    """(id, __key, __frames, shingle) frame rows; ``explode_outer`` keeps
    zero-frame docs as one NULL-shingle row so downstream per-doc
    aggregates cover the whole corpus without a join back.  The frame
    count is ``size(shingle_array)`` — no separate tokenize pass."""
    d = docs.select(id_col, F.col(key_col).alias("__key"), text_col)
    d = d.withColumn("__sh", shingle_array_col(text_col, w))
    return d.select(
        id_col,
        "__key",
        F.coalesce(F.size("__sh"), F.lit(0)).alias("__frames"),
        F.explode_outer("__sh").alias("shingle"),
    )


def _sorted_labels(docs: DataFrame, key_col: str) -> list:
    """Distinct non-null key values, sorted ascending (``min(ref_key)``
    tie-break order).  One tiny collect — same prologue as the Bloom/miBF
    build paths."""
    vals = [r[0] for r in docs.select(key_col).distinct().collect() if r[0] is not None]
    return sorted(vals)


def exact_hit_matrix(
    docs: DataFrame,
    key_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    labels: list | None = None,
) -> tuple[DataFrame, list]:
    """Per-doc hit matrix: one row per document with ``__frames`` and one
    ``__hits_<i>`` column per label = # frame occurrences (with
    multiplicity) whose shingle is in refset(label_i).

    refset(L) = distinct shingles of all docs with key L.  The reference
    side aggregates each shingle's key set into ONE long bitmask via
    ``bit_or`` (a declarative aggregate — whole-stage codegen, unlike the
    object-hash ``collect_set``, which measured 4x slower here); frame
    rows join 1:1 against it (broadcast) and collapse map-side into per-doc
    conditional sums over the mask bits, so the only exchange after the
    reference build carries ~|docs| rows.  Requires
    ``len(labels) <= 64`` (callers fall back to the join plan beyond).
    """
    if labels is None:
        labels = _sorted_labels(docs, key_col)
    if len(labels) > _PIVOT_MAX_LABELS:
        raise ValueError(f"hit-matrix pivot supports <= {_PIVOT_MAX_LABELS} labels")
    sh = _frame_rows(docs, key_col, id_col, text_col, w)
    bit = None
    for i, lab in enumerate(labels):
        # bit i of a signed long: label 63's bit is the sign bit
        val = F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        cond = F.col("__key") == F.lit(lab)
        bit = F.when(cond, val) if bit is None else bit.when(cond, val)
    refs = (
        sh.where(F.col("shingle").isNotNull() & F.col("__key").isNotNull())
        .groupBy("shingle")
        .agg(F.bit_or(bit if bit is not None else F.lit(None).cast("long")).alias("__mask"))
    )
    j = sh.join(F.broadcast(refs), on="shingle", how="left")
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("__mask"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"__hits_{i}")
        for i in range(len(labels))
    ] or [F.count(F.lit(1)).alias("__nrows")]
    per_doc = j.groupBy(id_col, "__frames").agg(*aggs)
    return per_doc, labels


def exact_classify(
    docs: DataFrame,
    key_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document exact classification: (id, assigned).

    A doc matches filter L iff ``|frames ∩ refset(L)| / frames >= threshold``
    (and it shares at least one frame with refset(L) — the join semantics
    of the relational formulation) where refset(L) = distinct shingles of
    all docs with key L; frame occurrences count with multiplicity,
    mirroring the Bloom kernels' hit counting.  Up to
    ``_PIVOT_MAX_LABELS`` labels it scores ``exact_hit_matrix``'s pivot,
    past it ``_exact_classify_joinplan``; both broadcast the reference
    side.
    """
    labels = _sorted_labels(docs, key_col)
    if len(labels) > _PIVOT_MAX_LABELS:
        return _exact_classify_joinplan(docs, key_col, id_col, text_col, w, threshold)
    per_doc, labels = exact_hit_matrix(docs, key_col, id_col, text_col, w, labels)
    hit = [
        (F.col(f"__hits_{i}") > 0)
        & (F.col(f"__hits_{i}") >= F.lit(threshold) * F.col("__frames"))
        for i in range(len(labels))
    ]
    nhits = None
    for h in hit:
        nhits = h.cast("int") if nhits is None else nhits + h.cast("int")
    if nhits is None:
        return per_doc.select(id_col, F.lit(NO_MATCH).alias("assigned"))
    only = F.coalesce(
        *[F.when(h, F.lit(lab)) for h, lab in zip(hit, labels)], F.lit(None)
    )
    return per_doc.select(
        id_col,
        F.when(nhits == 0, F.lit(NO_MATCH))
        .when(nhits == 1, only)
        .otherwise(F.lit(MULTI_MATCH))
        .alias("assigned"),
    )


def _exact_classify_joinplan(
    docs: DataFrame,
    key_col: str,
    id_col: str,
    text_col: str,
    w: int,
    threshold: float,
) -> DataFrame:
    """Generic join-shaped plan (the pre-round-6 formulation) — kept for
    label cardinalities where a per-label column pivot is the wrong
    shape.  Identical results."""
    sh = shingle_frames(docs.select(id_col, key_col, text_col), text_col, w)
    refsets = F.broadcast(
        sh.select(F.col(key_col).alias("ref_key"), "shingle").distinct()
    )
    frames = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("frames"))
    hits = (
        sh.join(refsets, on="shingle")
        .groupBy(id_col, "ref_key")
        .agg(F.count(F.lit(1)).alias("hit_frames"))
    )
    scored = hits.join(frames, on=id_col).filter(
        F.col("hit_frames") >= F.lit(threshold) * F.col("frames")
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("nhits"), F.min("ref_key").alias("only")
    )
    assigned = (
        docs.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            id_col,
            F.when(F.col("nhits").isNull(), F.lit(NO_MATCH))
            .when(F.col("nhits") == 1, F.col("only"))
            .otherwise(F.lit(MULTI_MATCH))
            .alias("assigned"),
        )
    )
    return assigned


def exact_classify_summary(
    docs: DataFrame,
    key_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Counts per assigned category — the summary-sink shape (A5)."""
    return (
        exact_classify(docs, key_col, id_col, text_col, w, threshold)
        .groupBy("assigned")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
