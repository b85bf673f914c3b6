"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of ``seed``: it returns the page
tables the library will read (as pandas frames, written to parquet by
``write_inputs``) plus the ground truth the run checks outputs against.
Nothing here touches Spark, so inputs exist on disk before the session
starts and the library only ever sees the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from biobloom_spark.config import DEFAULT_SHINGLE_W
from biobloom_spark.corpus import generate_corpus_pandas

DUP_FRAC, DROP_TOKENS = 0.1, 2  # near-dup: planted share, tokens dropped
PAGE_TOKENS, STRIDE = 40, 25  # walk: chain page length, offset between pages
#: parquet files per table.  The walk's tables get few: progressive_build's
#: cost there is per task, and its inputs are a few hundred pages.
FILES = {"pages": 8, "seeds": 2, "reads": 2}


@dataclass
class Inputs:
    """One workload's generated tables and their ground truth."""

    tables: dict[str, pd.DataFrame]  # name -> pages (doc_id, text, ...)
    pages: int  # input pages the timed pipeline reads
    truth: dict = field(default_factory=dict)


def _corpus(n: int, seed: int) -> pd.DataFrame:
    """``generate_corpus_pandas`` pages (8 zipfian languages, 25% shared
    vocabulary) with an int64 ``doc_id`` and without the unused columns."""
    df = generate_corpus_pandas(n, seed=seed)[["url", "text", "lang"]]
    df.insert(0, "doc_id", np.arange(n, dtype=np.int64))
    return df


def _shuffled(df: pd.DataFrame, seed: int) -> pd.DataFrame:
    order = np.random.default_rng(seed ^ 0x5EED).permutation(len(df))
    return df.iloc[order].reset_index(drop=True)


def _distinct_tokens_by(df: pd.DataFrame, key: str) -> dict[str, int]:
    return {
        k: len(set(" ".join(g["text"]).split())) for k, g in df.groupby(key)
    }


def lang_web(seed: int, n: int) -> Inputs:
    """Language-keyed corpus: 8 filters, shared vocabulary between them."""
    df = _shuffled(_corpus(n, seed), seed)
    return Inputs(
        {"pages": df},
        n,
        {
            "label": dict(zip(df["doc_id"], df["lang"])),
            "distinct_tokens": _distinct_tokens_by(df, "lang"),
        },
    )


def near_dup(seed: int, n: int) -> Inputs:
    """``n`` originals plus ``DUP_FRAC * n`` planted near-duplicates, each a
    copy of one original with ``DROP_TOKENS`` tokens removed (true shingle
    Jaccard ~0.9, above the 0.8 dedup threshold).  Duplicates get ids
    above every original, so a correct clustering labels each duplicate
    with its original's id and every original with its own."""
    orig = _corpus(n, seed)
    rng = np.random.default_rng(seed ^ 0xD0B)
    n_dup = int(n * DUP_FRAC)
    src = rng.choice(n, size=n_dup, replace=False)
    texts = []
    for i in src:
        toks = orig.at[int(i), "text"].split()
        keep = np.ones(len(toks), dtype=bool)
        keep[rng.choice(len(toks), size=DROP_TOKENS, replace=False)] = False
        texts.append(" ".join(t for t, k in zip(toks, keep) if k))
    dups = orig.iloc[src].copy()
    dups["doc_id"] = np.arange(n, n + n_dup, dtype=np.int64)
    dups["text"] = texts
    df = _shuffled(pd.concat([orig, dups], ignore_index=True), seed)
    cluster = dict(zip(orig["doc_id"], orig["doc_id"]))
    cluster.update(zip(dups["doc_id"], orig["doc_id"].to_numpy()[src]))
    return Inputs({"pages": df}, len(df), {"cluster": cluster, "dups": n_dup})


def progressive_walk(
    seed: int, n_unrelated: int, chains: int, chain_len: int, iterations: int
) -> Inputs:
    """Planted chains of overlapping pages among unrelated corpus pages.

    Page ``k`` of a chain holds chain tokens ``[k*STRIDE, k*STRIDE +
    PAGE_TOKENS)``, so neighbours share ``PAGE_TOKENS - STRIDE`` tokens
    (34% of their frames, above the 0.15 score threshold) and pages two
    apart share none.  Seeded from the chain heads, iteration ``i`` of the
    walk must tag exactly page ``i`` of every chain: after ``iterations``
    rounds the tagged set is pages ``0..iterations`` of each chain, and no
    unrelated page (their vocabulary is disjoint)."""
    # neighbours must overlap by well over a frame; pages two apart, not at all
    assert PAGE_TOKENS - STRIDE >= DEFAULT_SHINGLE_W + 8 and 2 * STRIDE >= PAGE_TOKENS
    rng = np.random.default_rng(seed ^ 0xC4A1)
    span = STRIDE * (chain_len - 1) + PAGE_TOKENS
    heads, walk = [], []
    next_id = n_unrelated
    expected = set()
    for c in range(chains):
        vocab = [f"c{c}v{v}" for v in rng.integers(0, 1 << 40, size=span)]
        for k in range(chain_len):
            row = (next_id, f"https://chain{c}.example/p{k}",
                   " ".join(vocab[k * STRIDE : k * STRIDE + PAGE_TOKENS]), "chain")
            (heads if k == 0 else walk).append(row)
            if k <= iterations:
                expected.add(next_id)
            next_id += 1
    cols = ["doc_id", "url", "text", "lang"]
    reads = pd.concat(
        [_corpus(n_unrelated, seed), pd.DataFrame(walk, columns=cols)],
        ignore_index=True,
    )
    reads = _shuffled(reads, seed)
    return Inputs(
        {"seeds": pd.DataFrame(heads, columns=cols), "reads": reads},
        len(reads) + len(heads),
        {"tagged": expected},
    )


def write_inputs(inputs: Inputs, root: str) -> dict[str, str]:
    """Write each table as ``FILES[name]`` parquet files under
    ``root/<name>``; returns name -> directory for ``spark.read.parquet``."""
    out = {}
    for name, df in inputs.tables.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        k = max(1, min(FILES[name], len(df)))
        bounds = np.linspace(0, len(df), k + 1).astype(int)
        for i in range(k):
            pq.write_table(
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(d, f"part-{i:03d}.parquet"),
            )
        out[name] = d
    return out
