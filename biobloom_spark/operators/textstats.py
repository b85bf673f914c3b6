"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Training-data-pipeline extensions (no bcgsc/biobloom counterpart — its
only per-sequence statistic is the k-mer frame count).  Everything that is
pure arithmetic stays JVM-side (SQL-oracle-checkable); the n-gram profile
scorer reuses the engine's categorizer machinery — language ID *is*
multi-filter classification, which is exactly why BioBloom's design maps
onto webtext curation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BloomParams, CategorizerConfig, ScoringConfig

__all__ = [
    "token_stats",
    "quality_score",
    "repetition_stats",
    "pii_scrub",
    "doc_fingerprints",
    "train_language_profiles",
    "language_id",
]

#: BPE-ish word/piece pattern: word bodies, numbers, or single
#: non-space symbols — identical regex shipped to the SQL oracle
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts + char count, all JVM-side."""
    from ..sources.tables import tokens_col

    ws = tokens_col(text_col)
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0)
    return docs.withColumns(
        {
            "n_chars_text": F.length(text_col),
            "n_ws_tokens": F.size(ws),
            "n_bpe_tokens": F.size(bpe),
        }
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0,1].

    Features (all exact arithmetic → oracle-checkable): mean word length,
    alpha ratio, digit ratio, punctuation ratio, whitespace-token count,
    type-token ratio (distinct/total tokens).  Composite = product of
    clamped feature transforms — monotone, deterministic, documented here
    rather than learned.
    """
    from ..sources.tables import tokens_col

    ws = tokens_col(text_col)
    n_tok = F.size(ws)
    n_chars = F.length(text_col)
    safe_chars = F.greatest(n_chars, F.lit(1))
    alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?]", ""))
    distinct_tok = F.size(F.array_distinct(ws))
    d = docs.withColumns(
        {
            "n_tokens": n_tok,
            "mean_word_len": F.round(
                (n_chars - F.greatest(n_tok - 1, F.lit(0))) / F.greatest(n_tok, F.lit(1)), 6
            ),
            "alpha_ratio": F.round(alpha / safe_chars, 6),
            "digit_ratio": F.round(digits / safe_chars, 6),
            "punct_ratio": F.round(punct / safe_chars, 6),
            "type_token_ratio": F.round(distinct_tok / F.greatest(n_tok, F.lit(1)), 6),
        }
    )
    # composite: long enough, mostly alphabetic, not digit/punct spam,
    # some lexical diversity
    len_term = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    alpha_term = F.col("alpha_ratio")
    digit_term = F.lit(1.0) - F.least(F.col("digit_ratio") * 4, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0))
    ttr_term = F.least(F.col("type_token_ratio") * 2, F.lit(1.0))
    return d.withColumn(
        "quality",
        F.round(len_term * alpha_term * digit_term * punct_term * ttr_term, 6),
    )


#: PII patterns, ASCII-only and lookaround-free so Java regex (Spark) and
#: RE2 (DuckDB oracle) match identically.  Applied in this order; the
#: replacement tokens contain no digits/@ so a later pattern can never
#: match inside an earlier substitution.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """Redact emails / IPv4s / simple phone numbers, with per-doc counts —
    the anonymization pass of a web-text curation pipeline (Dolma/FineWeb
    style; no bcgsc/biobloom counterpart).

    Pure JVM ``regexp_replace``/``regexp_extract_all`` chain, zero shuffle,
    whole-stage-codegen — the 100-TB shape is a map-only scan.  Counts are
    taken per stage on the partially-scrubbed string (matching the
    sequential-replacement semantics exactly), so the operator is
    deterministic and SQL-oracle-checkable with the same patterns.

    Null text scrubs to the empty string with zero counts (real crawl
    corpora contain null rows; null-propagating regexps would otherwise
    emit ``-1``/null stats).
    """
    cur = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    counts = {}
    for name, pat, tok in PII_PATTERNS:
        counts[f"pii_{name}s"] = F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, tok)
    return docs.withColumns({**counts, out_col: cur})


def _top_run(sorted_grams):
    """struct(cnt, gram) of the most frequent gram in a *sorted* array.

    One linear ``aggregate`` pass counting runs of equal neighbours;
    strict ``>`` on a sorted-ascending array makes ties resolve to the
    lexicographically smallest gram — the same total order a SQL twin
    gets from ``ORDER BY cnt DESC, gram ASC LIMIT 1``.  Zero shuffle:
    the grams never leave the row (higher-order functions are
    interpreted, not codegen — the measured ~9x expression penalty is
    the price of keeping a 100-TB corpus's n-grams out of any exchange).
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit("").alias("bestg"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestg"]).alias("bestg"),
        )

    return F.aggregate(
        sorted_grams,
        zero,
        step,
        lambda acc: F.struct(acc["best"].alias("cnt"), acc["bestg"].alias("gram")),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", table A1 repetition filters), the standard
    web-text curation rules BioBloom has no counterpart for.

    Per doc: ``n_tokens``; ``dup_bigram_frac`` (fraction of word 2-grams
    that are repeats of an earlier one = 1 - distinct/total);
    ``top_bigram`` / ``top_bigram_cnt`` (most frequent 2-gram, ties to the
    lexicographically smallest); ``top_bigram_char_frac`` and
    ``top_trigram_char_frac`` (characters covered by all occurrences of
    the most frequent 2-/3-gram over the text length, the Gopher
    "top n-gram character fraction" signal).

    100-TB shape: everything is computed inside the row with sorted-array
    run-length aggregates — zero shuffle, no Python, no n-gram ever rides
    an exchange (contrast an explode+groupBy(doc, gram) plan, which ships
    every n-gram of the corpus through a shuffle).  Exact arithmetic,
    rounded to 6 dp → SQL-oracle-checkable (see ``repetition_stats`` in
    ``__spark_entry__.oracle_sql``).
    """
    from ..sources.tables import tokens_col
    from .exact import shingle_array_col

    # null text => empty doc (n_tokens 0, fractions 0), not -1/null stats
    d = docs.withColumn("__text", F.coalesce(F.col(text_col).cast("string"), F.lit("")))
    d = d.withColumn("__toks", tokens_col("__text"))
    joined = F.array_join("__toks", " ")
    d = d.withColumn("__bi", F.array_sort(shingle_array_col(joined, 2)))
    d = d.withColumn("__tri", F.array_sort(shingle_array_col(joined, 3)))
    d = d.withColumn("__top2", _top_run(F.col("__bi")))
    d = d.withColumn("__top3", _top_run(F.col("__tri")))
    n_bi = F.size("__bi")
    safe_chars = F.greatest(F.length("__text"), F.lit(1))
    top2, top3 = F.col("__top2"), F.col("__top3")
    return d.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.round(
            (n_bi - F.size(F.array_distinct("__bi"))) / F.greatest(n_bi, F.lit(1)), 6
        ).alias("dup_bigram_frac"),
        top2["gram"].alias("top_bigram"),
        top2["cnt"].alias("top_bigram_cnt"),
        F.round(top2["cnt"] * F.length(top2["gram"]) / safe_chars, 6).alias(
            "top_bigram_char_frac"
        ),
        F.round(top3["cnt"] * F.length(top3["gram"]) / safe_chars, 6).alias(
            "top_trigram_char_frac"
        ),
    )


def doc_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 3, k: int = 8,
) -> DataFrame:
    """Winnowing-style fingerprint: the k smallest distinct shingle hashes
    per document (order-stable array<bigint>).

    Containment-robust document identity (two docs sharing most content
    share most fingerprint slots), unlike a whole-text hash.  JVM-side:
    shingles via ``exact.shingle_array_col``, hashes via xxhash64, bottom-k
    via array_sort + slice — no Python.
    """
    from .exact import shingle_array_col

    # null text => empty fingerprint, not null
    text = F.coalesce(F.col(text_col), F.lit(""))
    hashes = F.transform(shingle_array_col(text, w), lambda s: F.xxhash64(s))
    return docs.select(
        id_col,
        F.slice(F.array_sort(F.array_distinct(hashes)), 1, k).alias("fingerprint"),
    )


def doc_fingerprints_exploded(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 3, k: int = 8,
) -> DataFrame:
    """Bottom-k fingerprint as exploded scalar rows (id, slot, fp).

    Same bottom-k-of-distinct-shingle-hashes semantics as
    ``doc_fingerprints`` but with two gate-friendly choices: md5 hex
    strings instead of xxhash64 (md5 has an exact DuckDB twin; lexicographic
    bottom-k is well-defined on the hex encoding) and one scalar row per
    fingerprint slot (sortable / hashable by the driver's canonicalizer).
    Still fully JVM-side.
    """
    from .exact import shingle_array_col

    fps = F.transform(shingle_array_col(text_col, w), lambda s: F.md5(s))
    bottomk = F.slice(F.array_sort(F.array_distinct(fps)), 1, k)
    return (
        docs.select(id_col, F.posexplode(bottomk).alias("pos", "fp"))
        .select(id_col, (F.col("pos") + 1).cast("int").alias("slot"), "fp")
    )


def extract_text_hashes(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """md5 of the deterministic html→text extraction per document.

    The input_hint's per-row invariant (byte-identical extracted text per
    url) as a checkable aggregate: any change in ``extract_text`` flips the
    hashes.  Arrow-batched pandas UDF over the html bytes — the same shape
    a 100 TB WARC-derived table would use.
    """
    from ..functions.text import extract_text

    @F.pandas_udf("string")
    def ext(col: pd.Series) -> pd.Series:
        return col.map(
            lambda h: extract_text(h if isinstance(h, (bytes, bytearray)) else str(h).encode("utf-8"))
        )

    return docs.select(id_col, F.md5(ext(F.col(html_col))).alias("text_md5"))


def train_language_profiles(
    spark: SparkSession,
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    params: BloomParams | None = None,
):
    """Language-ID 'training' = the maker: one Bloom filter per language
    over token shingles.  Returns the broadcastable filter list."""
    from .maker import build_filters, load_registry

    reg = build_filters(
        spark, docs, key_col=lang_col, text_col=text_col, id_col=id_col, params=params
    )
    return load_registry(reg)


def language_id(
    spark: SparkSession,
    docs: DataFrame,
    profiles: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language ID = besthit categorization against per-lang profiles
    (argmax of the simple-score kernel; ties → multiMatch).

    This is the reference's BESTHIT mode (BioBloomClassifier.cpp:1194-1218)
    applied to the webtext domain — per SURVEY §1, the whole BioBloom
    pipeline *is* an n-gram language classifier under renaming.
    """
    from .categorizer import categorize

    cfg = CategorizerConfig(mode="besthit", scoring=ScoringConfig(method="simple"))
    res = categorize(spark, docs, profiles, cfg, id_col=id_col, text_col=text_col)
    return res.select(id_col, F.col("assigned").alias("pred_lang"), "best_score")
