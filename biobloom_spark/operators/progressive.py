"""Progressive filter construction — BioBloomMaker's -r/-e mode (A6).

Reference semantics (/root/reference/BioBloomMaker/BloomFilterGenerator.cpp:
85-522): seed a filter from reference sequences, then iterate over a read
set, adding the k-mers of every read that *matches* the current filter
(score >= threshold, optionally a static bait filter ORed into the match
predicate, optionally a subtract veto), until the filter stops growing or
``max_iterations`` (-e) is reached.

The reference is order-dependent within a pass (reads tagged early seed
matches for later reads under OpenMP nondeterminism — no ordering guarantee
in BloomFilterGenerator.cpp:149-270).  Here each iteration is a *batch
fixpoint*: score ALL reads against the frozen current filter, then insert
ALL newly-matching reads' frames at once.  Deterministic, produces a
superset-per-iteration of any reference schedule, and converges to the
same closure with enough iterations (SURVEY.md §7.4).

Shape: ONE map-only pass over seeds ∪ reads (``_seed_pass``) sums the
closure's frame upper bound and collects the seeds' distinct frames; the
driver sizes the filter from that bound, lays it out as a pinned
``build_filters`` would and inserts the seed frames.  Then each iteration
is ONE fused ``mapInPandas`` pass over the still-untagged reads
(``_tag_pass``) — the reference's single score-and-insert loop.  The
pass scores every read against the broadcast filters, emits the ids of
the tagged reads (checkpointed, they stay distributed) and one blob per
task of the tagged reads' distinct frame hashes that the running filter
lacks; the driver inserts those into its copy of the filter with
``BloomSketch.update_batch``, as it did the seed frames.  That is the
same ``word_index64`` segmented layout the build's slice reducers write,
so the bitmap is bit-identical to a pinned rebuild over seed ∪ tagged.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BloomParams, CategorizerConfig, ScoringConfig
from ..functions.text import batch_frames

__all__ = ["progressive_build"]

def _new_frames(
    picked: list[np.ndarray], subtract: tuple | None, params: BloomParams,
    running: "BloomSketch | None" = None,
) -> np.ndarray:
    """Distinct frames of ``picked`` that ``subtract`` does not veto and
    the ``running`` filter (if given) lacks: the only frames whose insert
    can set a bit.  A task ships them as one blob of 8 B per frame."""
    from .maker import _veto_sketch

    fresh = np.unique(np.concatenate(picked)) if picked else np.empty(0, np.uint64)
    if subtract is not None:
        fresh = fresh[~_veto_sketch(subtract, params).contains_batch(fresh)]
    if running is not None:
        fresh = fresh[~running.contains_batch(fresh)]
    return fresh


def _gather(blobs) -> tuple[int, np.ndarray]:
    """Driver side of ``_new_frames``: (sum of the tasks' ``__n``, union of
    their ``__frames`` blobs)."""
    n = sum(int(r["__n"]) for r in blobs)
    fresh = np.unique(np.concatenate(
        [np.empty(0, dtype=np.uint64)]
        + [np.frombuffer(r["__frames"], dtype=np.uint64) for r in blobs]
    ))
    return n, fresh


def _seed_pass(
    seeds: DataFrame, reads: DataFrame, text_col: str, subtract: tuple | None,
    params: BloomParams,
) -> tuple[int, np.ndarray]:
    """Sizing input and seed frames in ONE map-only pass over seeds ∪ reads
    → (Σ ``maker.frames_upper_bound_col``, distinct seed frames).

    Every row carries its JVM-computed frame upper bound, which each task
    sums: the closure's sizing input, ``size_filters``'s aggregate without
    its exchange.  Only seed rows carry their text; each task hashes it,
    drops the frames ``subtract`` vetoes and ships the distinct rest
    (``_new_frames``), so the driver receives at most 8 B per distinct
    seed frame per task.
    """
    from .maker import frames_upper_bound_col

    w = params.shingle_w
    ub = frames_upper_bound_col(text_col, w).alias("__ub")
    rows = seeds.select(ub, F.col(text_col).alias("__text")).unionByName(
        reads.select(ub, F.lit(None).cast("string").alias("__text"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_ub, picked = 0, []
        for pdf in batches:
            n_ub += int(pdf["__ub"].sum())
            texts = pdf["__text"].dropna().to_numpy()
            if texts.size:
                picked.append(batch_frames(
                    texts, w, canonical=params.canonical,
                    hash_family=params.hash_family,
                )[0])
        fresh = _new_frames(picked, subtract, params)
        yield pd.DataFrame({"__n": [n_ub], "__frames": [fresh.tobytes()]})

    blobs = rows.mapInPandas(run, schema="__n long, __frames binary").collect()
    return _gather(blobs)


def _tag_pass(
    spark: SparkSession,
    docs: DataFrame,
    filters: list[dict],
    cfg: CategorizerConfig,
    id_col: str,
    text_cols: list[str],
    subtract: tuple | None,
    params: BloomParams,
) -> tuple[DataFrame, int, np.ndarray]:
    """One score-and-insert pass → (tagged ids, n tagged, new frame hashes).

    ``filters[0]`` is the running filter (any bait filters follow it).  A
    read is tagged when it hits any filter — with two ``text_cols`` when
    its mates combine to a hit (``categorizer._combine_mates``: AND, or OR
    under ``cfg.inclusive_pairs``).  For each tagged read the kernel keeps
    the frames of every mate, unmasked (the dust mask only affects
    scoring), drops the ones ``subtract`` vetoes, deduplicates per task and
    keeps only frames the running filter lacks: the rest cannot set a bit.
    The driver therefore receives at most 8 B per distinct new frame per
    task, rather than the full m-bit bitmap a per-iteration delta build
    would ship.
    """
    from .categorizer import _assign, _combine_mates, _make_sketches, _score_texts

    filter_ids = [f["filter_id"] for f in filters]
    bc = spark.sparkContext.broadcast((filters, subtract))
    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("__n", T.LongType(), True),
        T.StructField("__frames", T.BinaryType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        flts, sub = bc.value
        sketches = _make_sketches(flts)
        cache: dict = {}
        picked, n_tagged = [], 0
        for pdf in batches:
            mates = [
                _score_texts(pdf[c].to_numpy(), flts, cfg, cache, sketches)
                for c in text_cols
            ]
            _f, scores, matches = _combine_mates(
                [(b.frames(), s, m) for b, s, m in mates], cfg.inclusive_pairs
            )
            sel = _assign(scores, matches, filter_ids, cfg)[3]
            hit = sel.any(axis=1)
            if not hit.any():
                continue
            n_tagged += int(hit.sum())
            for batch, _s, _m in mates:
                picked.append(batch.hashes[np.repeat(hit, batch.frames())])
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[hit], "__n": None, "__frames": None,
            })
        if not n_tagged:
            return
        fresh = _new_frames(picked, sub, params, sketches[0])
        yield pd.DataFrame({
            id_col: [None], "__n": [n_tagged], "__frames": [fresh.tobytes()],
        })

    # lazily checkpointed: the collect below materializes it in the same
    # job, and the tagged ids then feed `tagged` and the next anti-join
    # without rescoring
    out = (
        docs.select(id_col, *text_cols)
        .mapInPandas(run, schema=schema)
        .localCheckpoint(eager=False)
    )
    n_tagged, fresh = _gather(
        out.filter(F.col("__frames").isNotNull()).select("__n", "__frames").collect()
    )
    return out.filter(F.col("__frames").isNull()).select(id_col), n_tagged, fresh


def progressive_build(
    spark: SparkSession,
    seed_docs: DataFrame,
    read_docs: DataFrame,
    filter_id: str = "progressive",
    id_col: str = "doc_id",
    text_col: str = "text",
    params: BloomParams | None = None,
    scoring: ScoringConfig | None = None,
    max_iterations: int = 5,
    bait: "tuple | None" = None,  # (bitmap, m_bits, num_hashes[, block_bits[, seg_offsets]])
    subtract: "tuple | None" = None,  # same shape as bait
    inclusive_pairs: bool = False,
    text2_col: str | None = None,
) -> tuple[list[dict], DataFrame]:
    """Iterative tagging build.  Returns (filters, tagged_ids DataFrame).

    ``bait`` — static filter whose match also tags a read (PROG bait
    variant, BloomFilterGenerator.cpp:300-522); ``subtract`` — frames
    present there are never inserted (-d).  ``text2_col`` enables the
    paired variant: a pair is tagged when either/both mates match per
    ``inclusive_pairs`` (PROG_INC vs PROG_STD,
    BloomFilterGenerator.cpp:184-241), and both mates' frames are inserted.

    Sizing note: the filter is sized ONCE from seed+reads expected frames
    (upper bound of the closure, ``maker.frames_upper_bound_col`` summed
    by the seed pass and sized by ``size_filters``'s formula) so every
    insert lands in one fixed-size bitmap — the reference sizes from -n
    expected entries similarly.  The returned filter dict carries that
    ``expected_entries`` and a ``num_entries`` that starts at the distinct
    seed frames and grows by each iteration's new-entry count (the
    reference's insertAndCheck counter).  Seeds without text give the
    empty filter of that size, which only ``bait`` matches can grow.

    Driver cost: the driver holds the running filter (it broadcasts it to
    every pass anyway) and receives at most 8 B per distinct frame per
    task: the seeds' frames once (``_seed_pass``), then each iteration's
    new frame hashes (``_tag_pass``).  Before iteration 1 the call runs 1
    Spark job.
    """
    from ..session import ensure_workers
    from ..sketch import BloomSketch
    from .maker import _family_kwargs, _pinned_seg_words, _seg_layout, _sizing

    ensure_workers(spark)
    params = params or BloomParams()
    scoring = scoring or ScoringConfig()
    cfg = CategorizerConfig(scoring=scoring, inclusive_pairs=inclusive_pairs)
    text_cols = [text_col, text2_col] if text2_col else [text_col]

    def both_mates(docs: DataFrame) -> DataFrame:
        """One text row per mate when paired — the reference inserts rec1
        AND rec2 of a tagged pair (PROG_STD/PROG_INC,
        BloomFilterGenerator.cpp:207-262)."""
        one = docs.select(F.col(text_col))
        if not text2_col or text2_col not in docs.columns:
            return one
        return one.unionByName(docs.select(F.col(text2_col).alias(text_col)))

    # fixed sizing over the maximal possible closure (both mates included)
    n_ub, seed_frames = _seed_pass(
        both_mates(seed_docs), both_mates(read_docs), text_col, subtract, params
    )
    sizing = _sizing(n_ub, params)
    # the driver's copy of the filter, in the pinned layout a build over
    # seed ∪ tagged would write (``maker._pinned_seg_words``); the seeds'
    # frames and then each iteration's new frames go straight into it
    # (Bloom insert is set-union idempotent, so this equals that build —
    # the reference inserts incrementally too,
    # BloomFilterGenerator.cpp:149-270)
    h, bb, S = _seg_layout(params)
    offsets = np.concatenate(([0], np.cumsum(_pinned_seg_words(sizing, S))))
    running = BloomSketch(
        m_bits=int(offsets[-1]) * 64, num_hashes=h, block_bits=bb,
        seg_offsets=offsets if (bb == 64 and S > 1) else None,
        **_family_kwargs(params),
    )
    running.update_batch(seed_frames, assume_unique=True)
    filters = [
        {
            "filter_id": filter_id,
            "m_bits": running.m_bits,
            "num_hashes": h,
            "block_bits": bb,
            "shingle_w": params.shingle_w,
            "canonical": params.canonical,
            "hash_family": params.hash_family,
            "bitmap": running.serialize(),
            "seg_offsets": running.seg_offsets,
            "fpr": max(running.fpr_from_occupancy(), 1e-300),
            "target_fpr": params.fpr,
            "expected_entries": n_ub,
            # distinct seed frames, as the build's slice reducers count them
            "num_entries": int(seed_frames.size),
        }
    ]
    tagged = seed_docs.select(F.col(id_col)).withColumn("iteration", F.lit(0))

    bait_filters = []
    if bait is not None:
        bait_filters = [
            {
                "filter_id": "__bait",
                "m_bits": bait[1],
                "num_hashes": bait[2],
                "block_bits": bait[3] if len(bait) > 3 else 0,
                "seg_offsets": bait[4] if len(bait) > 4 else None,
                "shingle_w": params.shingle_w,
                "canonical": params.canonical,
                "hash_family": params.hash_family,
                "bitmap": bait[0],
                "fpr": 1e-12,
                "target_fpr": params.fpr,
            }
        ]

    remaining = read_docs
    matched_all = None
    for it in range(1, max_iterations + 1):
        matched_ids, n_matched, fresh = _tag_pass(
            spark, remaining, filters + bait_filters, cfg, id_col, text_cols,
            subtract, params,
        )
        if n_matched == 0:
            break
        tagged = tagged.unionByName(
            matched_ids.withColumn("iteration", F.lit(it))
        )
        new_entries = fresh.size - running.update_batch(fresh, assume_unique=True)
        if new_entries == 0:
            # totalEntries fixpoint (BloomFilterGenerator.cpp:176,402): the
            # filter did not change, so another pass could tag nothing
            break
        filters = [
            {
                **filters[0],
                "bitmap": running.serialize(),
                "fpr": max(running.fpr_from_occupancy(), 1e-300),
                "num_entries": filters[0]["num_entries"] + new_entries,
            }
        ]
        # `remaining` is ONE anti-join against the union of the checkpointed
        # id sets: no iteration's plan re-evaluates an earlier pass
        matched_all = (
            matched_ids if matched_all is None else matched_all.unionByName(matched_ids)
        )
        remaining = read_docs.join(matched_all, on=id_col, how="left_anti")
    return filters, tagged
