"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship Bloom build+categorize on sf0.001.
``queries``: one entry per implemented operator slice (SURVEY.md §2);
``oracle_sql``: DuckDB-equivalent SQL for every SQL-expressible query.
Bloom/sketch decisions themselves are approximate-membership ops (not
SQL-expressible) → registered rows-only; their exactness is covered by the
pytest exact-set oracles (tests/test_e2e_spark.py) and by the
``exact_*`` query twins here, which ARE fully oracle-checked.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHINGLE_W = 3
EXACT_TAU = 0.5

# ---------------------------------------------------------------------------
# shared Spark fragments (token semantics must mirror oracle SQL exactly)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _with_tokens(docs: DataFrame) -> DataFrame:
    from biobloom_spark.sources.tables import tokens_col

    toks = tokens_col("text")
    return docs.withColumn("toks", toks).withColumn("n_tokens", F.size("toks"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_sizing_prepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: expected-entry counting pre-pass (BloomFilterGenerator.h:108-141)."""
    d = _with_tokens(_docs(spark, sf_dir))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.greatest(F.lit(0), F.col("n_tokens") - F.lit(SHINGLE_W - 1))).alias(
            "frames"
        ),
    )


def q_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct frames per filter key — the oracle twin of the
    registry's HLL/num_entries (A1 side counters)."""
    from biobloom_spark.operators.exact import shingle_frames

    sh = shingle_frames(_docs(spark, sf_dir).select("doc_id", "lang", "text"), "text", SHINGLE_W)
    return sh.groupBy("lang").agg(
        F.countDistinct("shingle").alias("distinct_shingles")
    )


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS oracle twin: global top-20 token frequencies (deterministic
    tie-break on token)."""
    d = _with_tokens(_docs(spark, sf_dir))
    counts = (
        d.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(20)


def q_doc_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest/KLL oracle twin: exact interpolated token-count quantiles."""
    d = _with_tokens(_docs(spark, sf_dir))
    return d.groupBy("lang").agg(
        F.round(F.expr("percentile(n_tokens, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_tokens, 0.75)"), 6).alias("p75"),
    )


def q_exact_classify_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship relational slice: exact set-membership classification
    (categorizer STD semantics, SURVEY.md §2.9) + summary counts (A5)."""
    from biobloom_spark.operators.exact import exact_classify_summary

    return exact_classify_summary(
        _docs(spark, sf_dir), "lang", "doc_id", "text", SHINGLE_W, EXACT_TAU
    )


def q_exact_filter_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-filter hit counters (aboveThreshold column of the summary sink,
    ResultsManager.hpp:191-237), exact-membership flavor.  Round 6: built
    on the shared per-doc hit matrix (one bitmask-aggregate reference
    pass + one per-doc pivot) instead of the triple-explode join plan —
    identical counts."""
    from biobloom_spark.operators.exact import exact_hit_matrix

    docs = _docs(spark, sf_dir)
    per_doc, labels = exact_hit_matrix(docs, "lang", "doc_id", "text", SHINGLE_W)
    sums = per_doc.agg(
        *[
            F.sum(
                (
                    (F.col(f"__hits_{i}") > 0)
                    & (F.col(f"__hits_{i}") >= F.lit(EXACT_TAU) * F.col("__frames"))
                ).cast("long")
            ).alias(f"__s{i}")
            for i in range(len(labels))
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(lab).alias("filter_id"), F.col(f"__s{i}").alias("hits")
            )
            for i, lab in enumerate(labels)
        ]
    )
    return (
        sums.select(F.explode(pairs).alias("p"))
        .select("p.filter_id", "p.hits")
        .filter(F.col("hits") > 0)
    )


def q_bloom_categorize_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real Bloom pipeline: maker → categorizer → summary sink.

    Gate design (mirrors the miBF and language-ID gates): tokens are
    lang-prefixed so filter vocabularies are disjoint by construction —
    every doc scores 1.0 on its own filter (Bloom has no false negatives)
    and at fpr=1e-6 no other filter can reach the threshold via false
    positives — so the exact DuckDB twin is per-lang doc counts (noMatch
    for <w tokens, multiMatch never).  Realistic shared-vocabulary
    behavior (FPR bounds, multiMatch, thresholds) is pytest-verified in
    tests/test_e2e_spark.py instead.
    """
    from biobloom_spark.config import BloomParams
    from biobloom_spark.operators import build_filters, categorize, load_registry, summarize
    from biobloom_spark.sources.tables import tokens_col

    docs = _docs(spark, sf_dir)
    pref = F.array_join(
        F.transform(tokens_col("text"), lambda t: F.concat(F.col("lang"), F.lit("_"), t)),
        " ",
    )
    d = docs.select("doc_id", "lang", pref.alias("text"))
    reg = build_filters(
        spark, d, key_col="lang", text_col="text", id_col="doc_id",
        params=BloomParams(fpr=1e-6, shingle_w=SHINGLE_W),
    )
    filters = load_registry(reg)
    res = categorize(spark, d, filters, id_col="doc_id")
    return summarize(res, [f["filter_id"] for f in filters])


def q_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup cardinality: total vs distinct-text counts."""
    return _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
    )


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot dedup (keep-newest-per-key): the recrawl-dedup operator
    over the events table — argmax by (ts, event_id) per user via a
    combine-reduced struct-max agg (no window sort)."""
    from biobloom_spark.operators.dedup import snapshot_dedup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    latest = snapshot_dedup(ev, key_col="user_id", ts_col="ts", tiebreak_col="event_id")
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").alias("value"),
        # events.ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast
        # is an identity reinterpretation, matching DuckDB's naive epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs at tau=0.5 (the SQL-checkable
    anchor for the MinHash/LSH scale path)."""
    from biobloom_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), w=SHINGLE_W, threshold=0.5)


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline, production two-phase shape: LSH
    proposes candidates, exact n-gram Jaccard verifies — never all-pairs.

    Gate design: banding at r=2 (num_perm=128, bands=64) puts candidate
    recall at tau=0.5 at 1-(1-s^2)^64 >= 1-1e-8 and the verify stage is
    exact, so the output EQUALS the exact self-join twin
    (ngram_jaccard_pairs) and the DuckDB oracle checks it end to end.
    The estimator itself (est_jaccard, verify=True) stays pytest-verified
    (S-curve + recall tests in tests/test_pipeline_ops.py)."""
    from biobloom_spark.operators.dedup import exact_jaccard_on_pairs, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    cand = minhash_lsh_pairs(
        docs, w=SHINGLE_W, num_perm=128, bands=64, threshold=0.5, verify=False
    )
    return exact_jaccard_on_pairs(docs, cand, w=SHINGLE_W, threshold=0.5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate-cluster collapse: LSH candidates → exact
    verification → connected components → every doc labeled (cluster =
    min reachable doc id, canonical = the survivor a keep-one dedup
    retains).  The verified edges fit the driver budget, so components
    are labeled on the driver from one bounded collect; an edge set over
    budget runs alternating large-star/small-star rounds (Kiveris et al.
    2014) to the same labels.

    Oracle-checkable end to end because the verified pair set equals the
    exact twin (see q_minhash_lsh_dups) and the DuckDB twin computes
    components with a recursive CTE over the same exact pairs."""
    from biobloom_spark.operators.cluster import dedup_clusters
    from biobloom_spark.operators.dedup import exact_jaccard_on_pairs, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    cand = minhash_lsh_pairs(
        docs, w=SHINGLE_W, num_perm=128, bands=64, threshold=0.5, verify=False
    )
    pairs = exact_jaccard_on_pairs(docs, cand, w=SHINGLE_W, threshold=0.5)
    return dedup_clusters(docs, pairs)


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-checked end to end: md5 shingle
    hashes make the 64-bit simhash exactly recomputable in DuckDB, and
    pigeonhole blocking (blocks > max_hamming) is lossless, so the engine's
    bucket-join output equals the all-pairs Hamming-<=d set the twin
    computes bit-by-bit (pack-free — SUM of per-bit sign disagreements)."""
    from biobloom_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        _docs(spark, sf_dir), w=SHINGLE_W, max_hamming=12, blocks=16, hash_fn="md5"
    )


def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, oracle-checked end to end:
    md5-parity Rademacher hyperplanes over trunc(v*1e6) integer-quantized
    components make every LSH bucket code an exact int64 the DuckDB twin
    recomputes bit-for-bit; candidates (any-table collision) then verify
    by exact double cosine.  Threshold 0.4 because the synthetic
    embeddings table plants no high-cosine pairs (max pairwise 0.513) —
    the oracle checks algorithm equality, not recall; recall-vs-brute-
    force is pytest-covered on planted duplicates."""
    from biobloom_spark.operators.dedup import embedding_near_dups

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_near_dups(
        embs, threshold=0.4, lsh_planes=6, tables=8, hash_fn="md5"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota capping (corpus balancing): keep 20 docs per
    lang by the deterministic md5 draw.  The declarative rank-limit plan
    compiles to WindowGroupLimit (map-side partial top-n before the
    shuffle) — the 100TB shape; the md5 order makes it exactly
    twin-reproducible."""
    from biobloom_spark.operators.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), "lang", 20).select(
        "doc_id", "lang", "sample_rank"
    )


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting aggregates."""
    from biobloom_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir)).groupBy("lang").agg(
        F.sum("n_ws_tokens").alias("ws_tokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.sum("n_chars_text").alias("chars"),
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weight distribution (skew measurement pre-pass for
    salted repartitioning): exact counts, char weight, share."""
    from biobloom_spark.operators.skew import key_distribution

    return key_distribution(_docs(spark, sf_dir), "source", "n_chars")


def q_domain_skew_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew summary (top-1 share, HHI, effective key count) —
    the do-I-need-to-salt decision input."""
    from biobloom_spark.operators.skew import key_distribution, skew_metrics

    return skew_metrics(key_distribution(_docs(spark, sf_dir), "source", "n_chars"))


def q_sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion-sketch audit: per filter, is each of HLL / count-min /
    KLL / t-digest inside its published error bound against exact Spark
    aggregates?  The oracle asserts every cell is true, so any sketch
    drifting out of bound fails the value-hash gate."""
    from biobloom_spark.operators.sketch_audit import sketch_error_report

    return sketch_error_report(spark, _docs(spark, sf_dir)).select(
        "filter_id", "hll_ok", "cms_ok", "kll_ok", "tdigest_ok"
    )


def q_sketch_by_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone sketch library audit: per-key exact counters + one
    boolean per sketch asserting the published error bound holds for the
    ``sketch_by_key`` result (HLL 3-sigma, CMS hard bound, KLL/t-digest
    rank error).  Exact columns twin directly; booleans twin as ``true``,
    so any sketch drifting out of bound fails the value-hash gate."""
    from biobloom_spark.operators.sketch_agg import sketch_bounds_report

    return sketch_bounds_report(spark, _docs(spark, sf_dir), key_col="lang")


def q_sketch_ckpt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume proof for the standalone sketch build: build a
    per-partition checkpoint, then re-invoke against the same parquet
    snapshot (a full resume — zero partitions recomputed) and report the
    resumed per-key exact counters plus a boolean asserting the resumed
    HLL/CMS bytes are identical to the one-shot ``sketch_by_key`` result.
    The counters twin exactly in SQL; the boolean twins as ``true``, so a
    resume that drops/double-counts a partition fails the value hash."""
    import os
    import shutil
    import tempfile

    from biobloom_spark.operators.sketch_agg import (
        sketch_by_key,
        sketch_by_key_checkpointed,
    )

    docs = _docs(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(), "entry_sketch_ckpt_" + os.path.basename(sf_dir.rstrip("/"))
    )
    # the fingerprint record lives inside the checkpoint directory
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_lineage", ignore_errors=True)
    sketch_by_key_checkpointed(spark, docs, path, key_col="lang").count()
    resumed = {
        r["key"]: r
        for r in sketch_by_key_checkpointed(spark, docs, path, key_col="lang").collect()
    }
    oneshot = {r["key"]: r for r in sketch_by_key(docs, key_col="lang").collect()}
    rows = [
        (
            k,
            int(resumed[k]["n_docs"]),
            int(resumed[k]["n_tokens"]),
            bytes(resumed[k]["hll"]) == bytes(oneshot[k]["hll"])
            and bytes(resumed[k]["cms"]) == bytes(oneshot[k]["cms"]),
        )
        for k in sorted(resumed)
    ]
    return spark.createDataFrame(
        rows, "key string, n_docs bigint, n_tokens bigint, resume_identical boolean"
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score (pure arithmetic)."""
    from biobloom_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "mean_word_len", "alpha_ratio", "digit_ratio",
        "punct_ratio", "type_token_ratio", "quality",
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-bigram fraction, top-2/3-gram
    character fractions) — zero-shuffle in-row aggregates, exact twin."""
    from biobloom_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL recrawl dedup over planted URL variants: every group
    of three docs carries one URL in three cosmetic disguises (case +
    default port + trailing slash + utm/gclid params — valued and bare —
    + fragment + percent-escape hex case); the oracle states the expected
    canonical form and survivor in closed form, so normalization is
    verified without re-implementing it in SQL."""
    from biobloom_spark.operators.urls import url_dedup

    g = F.expr("doc_id div 3").cast("string")
    base = F.concat(F.lit("http://site"), g, F.lit(".example.com/p%2Fath"), g)
    v = F.col("doc_id") % 3
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(v == 0, base)
        .when(
            v == 1,
            F.concat(
                F.lit("HTTP://Site"), g, F.lit(".EXAMPLE.com:80/p%2fath"), g,
                F.lit("/?utm_source=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), g, F.lit(".example.com/p%2Fath"), g,
                F.lit("?gclid=1&utm_campaign#frag"),
            )
        )
        .alias("url"),
        F.col("doc_id").alias("ts"),
    )
    return url_dedup(planted, url_col="url", ts_col="ts").select(
        "canonical_url", "doc_id"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymization pass over deterministically planted PII (the corpus
    text itself is PII-free, so each doc gets a doc_id-derived email / IP /
    phone appended in BOTH the Spark query and the SQL twin — the same
    plant-then-verify trick as the language-ID oracle).  Counts + md5 of
    the scrubbed text are exact."""
    from biobloom_spark.operators.textstats import pii_scrub

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org ip 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 tel 555-000-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return pii_scrub(d).select(
        "doc_id", "pii_emails", "pii_ips", "pii_phones",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id<5 (ANN baseline)."""
    from biobloom_spark.operators.similarity import brute_force_topk

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qrows = embs.filter(F.col("vec_id") < 5).collect()
    queries_list = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    return brute_force_topk(spark, embs, queries_list, k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-5, oracle-checked end to end: every stage is
    deterministic given the corpus (md5-ordered centroid sample → nearest-
    centroid assignment → nprobe nearest lists per query → top-k within
    probed lists), so a DuckDB twin recomputes the same result with
    list_cosine_similarity + window ranks.  Recall vs brute force is
    additionally pytest-verified; the pruned-scan plan is the 100TB shape."""
    from biobloom_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
        ivf_topk,
    )

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = deterministic_centroids(embs, 16, order="md5")
    assigned = ivf_assign(embs, cents)
    qrows = embs.filter(F.col("vec_id") < 5).collect()
    queries_list = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    return ivf_topk(spark, assigned, cents, queries_list, k=5, nprobe=6)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style bottom-k fingerprints, exploded to scalar rows
    (doc_id, slot, fp) with md5 shingle hashes — exact DuckDB twin."""
    from biobloom_spark.operators.textstats import doc_fingerprints_exploded

    return doc_fingerprints_exploded(_docs(spark, sf_dir), w=SHINGLE_W, k=8)


def q_extract_text_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html→text invariant in the gate: wrap each document's text in
    deterministic markup noise (script/style/comment/tags/entity), run the
    engine's extract_text over the bytes, md5 the result.  The oracle is
    md5(text) — the extraction must round-trip byte-identically."""
    from biobloom_spark.operators.textstats import extract_text_hashes

    html = F.concat(
        F.lit('<html><head><script>var x = "<p>no</p>";'
              '</script><style>p { color: red; }</style></head>'
              '<body><!-- stripped --><p>'),
        F.col("text"),
        F.lit("</p> &#32; </body></html>"),
    )
    wrapped = _docs(spark, sf_dir).select("doc_id", html.alias("html"))
    return extract_text_hashes(wrapped, html_col="html")


def q_mibf_classify_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """miBF maker + classifier (A7/A8/T2/M-miBF): one multi-index filter
    over all langs, Bonferroni binomial classification, per-label summary.

    Gate design: tokens are lang-prefixed so label vocabularies are
    disjoint by construction — then slot-ownership contention (the only
    miBF-internal, hash-dependent effect) cannot flip a decision, and the
    exact DuckDB twin is simply lang (noMatch for <w tokens).  The
    shared-vocabulary semantics (saturation, multiMatch window) are
    pytest-verified in tests/test_mibf.py instead.
    """
    from biobloom_spark.operators.mibf import build_mibf, classify_mibf
    from biobloom_spark.sources.tables import tokens_col

    docs = _docs(spark, sf_dir)
    pref = F.array_join(
        F.transform(tokens_col("text"), lambda t: F.concat(F.col("lang"), F.lit("_"), t)),
        " ",
    )
    d = docs.select("doc_id", "lang", pref.alias("text"))
    sk = build_mibf(spark, d, key_col="lang", shingle_w=SHINGLE_W, occupancy=0.1)
    res = classify_mibf(spark, d, sk)
    return res.groupBy("assigned").agg(F.count(F.lit(1)).alias("n_docs"))


def q_language_id_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via besthit categorization; per-predicted-lang counts.

    Gate design (mirrors the miBF gate): tokens are lang-prefixed so the
    per-language profile vocabularies are disjoint by construction — the
    true language's filter covers every frame (score 1.0) and, at
    fpr=1e-6, no other filter can tie by covering *all* frames by false
    positives — so the exact DuckDB twin is simply lang (noMatch for <w
    tokens).  Realistic shared-vocabulary accuracy is pytest-verified
    (tests/test_pipeline_ops.py) instead.
    """
    from biobloom_spark.config import BloomParams
    from biobloom_spark.operators.textstats import language_id, train_language_profiles
    from biobloom_spark.sources.tables import tokens_col

    docs = _docs(spark, sf_dir)
    pref = F.array_join(
        F.transform(tokens_col("text"), lambda t: F.concat(F.col("lang"), F.lit("_"), t)),
        " ",
    )
    d = docs.select("doc_id", "lang", pref.alias("text"))
    profiles = train_language_profiles(
        spark, d, params=BloomParams(fpr=1e-6, shingle_w=SHINGLE_W)
    )
    return (
        language_id(spark, d, profiles)
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec roundtrip oracle: per doc, synthesize a media blob whose
    every parameter is an arithmetic function of ``doc_id`` — PNG / BMP /
    WAV / animated GIF (LZW, half interlaced) / TIFF (both byte orders)
    by ``doc_id % 5``,
    dimensions/channels/frames and a CONSTANT
    fill value from modular formulas — then run the real stdlib decoders
    (``functions/codecs.py`` via ``decode_media_meta(decoder='stdlib')``
    + ``resize_images``) and report what they recover: kind, dimensions,
    frame count, the decoded-content sum, and the resized dimensions.
    DuckDB predicts every column analytically (pix_sum of a constant
    image is fill x 3 x w x h; a WAV's sample_sum is fill x frames x
    channels), so a codec that mis-decodes a single byte anywhere in the
    encode → Spark plumbing → decode → resample chain fails the value
    hash.  Map-only (one synthesize UDF + decode UDFs, zero shuffles)."""
    from biobloom_spark.functions import codecs
    from biobloom_spark.operators.multimodal import decode_media_meta, resize_images
    from biobloom_spark.session import ensure_workers

    ensure_workers(spark)

    @F.pandas_udf("binary")
    def synth(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            fill, w, h = i % 251, 4 + i % 9, 3 + i % 7
            if i % 5 == 0:
                img = np.full((h, w, 3), fill, dtype=np.uint8)
                out.append(codecs.encode_png(img, row_filters=i % 5))
            elif i % 5 == 1:
                img = np.full((h, w, 3), fill, dtype=np.uint8)
                out.append(codecs.encode_bmp(img))
            elif i % 5 == 2:
                ch, fr = 1 + i % 2, 50 + i % 100
                out.append(
                    codecs.encode_wav(np.full((fr, ch), fill, dtype=np.int16), 8000)
                )
            elif i % 5 == 3:  # animated GIF through the LZW path
                fr = 2 + i % 4
                anim = np.full((fr, h, w, 3), fill, dtype=np.uint8)
                out.append(codecs.encode_gif(anim, interlace=bool(i % 2)))
            else:  # TIFF, alternating byte order
                img = np.full((h, w, 3), fill, dtype=np.uint8)
                out.append(codecs.encode_tiff(img, big_endian=bool(i % 2)))
        return pd.Series(out)

    @F.pandas_udf("long")
    def content_sum(blobs: pd.Series) -> pd.Series:
        out = []
        for blob in blobs:
            blob = bytes(blob)
            if codecs.sniff(blob) == "wav":
                samples, _ = codecs.decode_wav(blob)
                out.append(int(samples.sum()))
            else:
                out.append(int(codecs.decode_image(blob).sum(dtype=np.int64)))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select("doc_id").withColumn("media", synth("doc_id"))
    meta = decode_media_meta(media, decoder="stdlib")
    resized = resize_images(meta, out_h=2, out_w=3, decoder="stdlib")

    @F.pandas_udf("integer")
    def rz_width(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else codecs.decode_png(bytes(b)).shape[1] for b in blobs],
            dtype="Int32",
        )

    return resized.select(
        "doc_id",
        F.col("media_meta.kind").alias("kind"),
        F.col("media_meta.width").cast("long").alias("width"),
        F.col("media_meta.height").cast("long").alias("height"),
        F.col("media_meta.n_frames").cast("long").alias("n_frames"),
        F.col("media_meta.valid").alias("valid"),
        content_sum("media").alias("content_sum"),
        rz_width("media_resized").cast("long").alias("rz_width"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sizing_prepass": q_sizing_prepass,
        "distinct_shingles": q_distinct_shingles,
        "token_topk": q_token_topk,
        "doc_len_quantiles": q_doc_len_quantiles,
        "exact_classify_summary": q_exact_classify_summary,
        "exact_filter_hits": q_exact_filter_hits,
        "bloom_categorize_summary": q_bloom_categorize_summary,
        "exact_dedup_stats": q_exact_dedup_stats,
        "latest_event_per_user": q_latest_event_per_user,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "dedup_clusters": q_dedup_clusters,
        "simhash_dups": q_simhash_dups,
        "emb_near_dups": q_emb_near_dups,
        "stratified_sample": q_stratified_sample,
        "token_stats_by_lang": q_token_stats_by_lang,
        "domain_stats": q_domain_stats,
        "sketch_error_bounds": q_sketch_error_bounds,
        "domain_skew_metrics": q_domain_skew_metrics,
        "doc_quality": q_doc_quality,
        "sketch_by_key_stats": q_sketch_by_key_stats,
        "sketch_ckpt_stats": q_sketch_ckpt_stats,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "url_dedup": q_url_dedup,
        "embedding_topk": q_embedding_topk,
        "ivf_topk": q_ivf_topk,
        "doc_fingerprints": q_doc_fingerprints,
        "mibf_classify_summary": q_mibf_classify_summary,
        "extract_text_hashes": q_extract_text_hashes,
        "language_id_summary": q_language_id_summary,
        "multimodal_decode": q_multimodal_decode,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"

_SHINGLES_CTE = f"""
WITH toks AS (
  SELECT doc_id, lang, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, lang, array_to_string(t[i:i+{SHINGLE_W - 1}], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, GREATEST(0, len(t) - {SHINGLE_W - 1}))) AS u(i)
)
"""


def _pii_oracle_sql() -> str:
    """Staged regexp twin of ``pii_scrub`` over the same planted text —
    generated from the operator's own PII_PATTERNS so they cannot drift."""
    from biobloom_spark.operators.textstats import PII_PATTERNS

    sql = """
        WITH s0 AS (
          SELECT doc_id,
                 text || ' contact u' || CAST(doc_id AS VARCHAR)
                      || '@ex.org ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                      || '.0.1 tel 555-000-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
          FROM documents
        )"""
    carry: list[str] = []
    for i, (name, pat, tok) in enumerate(PII_PATTERNS, 1):
        cols = (", ".join(carry) + ",") if carry else ""
        sql += f""", s{i} AS (
          SELECT doc_id, {cols}
                 len(regexp_extract_all(t, '{pat}')) AS pii_{name}s,
                 regexp_replace(t, '{pat}', '{tok}', 'g') AS t
          FROM s{i - 1}
        )"""
        carry.append(f"pii_{name}s")
    return sql + f"""
        SELECT doc_id, {", ".join(carry)}, md5(t) AS scrub_md5
        FROM s{len(PII_PATTERNS)}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "pii_scrub": _pii_oracle_sql(),
        "url_dedup": """
            SELECT 'http://site' || CAST(doc_id // 3 AS VARCHAR)
                   || '.example.com/p%2Fath' || CAST(doc_id // 3 AS VARCHAR)
                     AS canonical_url,
                   CAST(MAX(doc_id) AS BIGINT) AS doc_id
            FROM documents GROUP BY doc_id // 3
        """,
        "sketch_by_key_stats": f"""
            WITH toks AS (
              SELECT lang AS key, {_TOKS} AS t
              FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
            ), agg AS (
              SELECT key, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(t)) AS BIGINT) AS n_tokens
              FROM toks GROUP BY key
            ), d AS (
              SELECT key, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
              FROM (SELECT key, UNNEST(t) AS tok FROM toks) GROUP BY key
            )
            SELECT key, n_docs, n_tokens, distinct_tokens,
                   true AS hll_ok, true AS cms_ok,
                   true AS kll_ok, true AS tdigest_ok
            FROM agg JOIN d USING (key)
        """,
        "sketch_ckpt_stats": f"""
            SELECT lang AS key, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
                   true AS resume_identical
            FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
            GROUP BY lang
        """,
        "sizing_prepass": f"""
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(SUM(GREATEST(0, len({_TOKS}) - {SHINGLE_W - 1})) AS BIGINT) AS frames
            FROM documents GROUP BY lang
        """,
        "distinct_shingles": _SHINGLES_CTE
        + """
            SELECT lang, CAST(COUNT(DISTINCT shingle) AS BIGINT) AS distinct_shingles
            FROM sh GROUP BY lang
        """,
        "token_topk": f"""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest({_TOKS}) AS token FROM documents)
            GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
        """,
        "doc_len_quantiles": f"""
            WITH t AS (SELECT lang, len({_TOKS}) AS n_tokens FROM documents)
            SELECT lang,
                   ROUND(quantile_cont(n_tokens, 0.25), 6) AS p25,
                   ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
                   ROUND(quantile_cont(n_tokens, 0.75), 6) AS p75
            FROM t GROUP BY lang
        """,
        "exact_classify_summary": _SHINGLES_CTE
        + f"""
            , refsets AS (SELECT DISTINCT lang AS ref_key, shingle FROM sh),
            frames AS (SELECT doc_id, count(*) AS frames FROM sh GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, r.ref_key, count(*) AS hit_frames
              FROM sh s JOIN refsets r USING (shingle) GROUP BY s.doc_id, r.ref_key
            ),
            scored AS (
              SELECT h.doc_id, h.ref_key FROM hits h JOIN frames f USING (doc_id)
              WHERE h.hit_frames >= {EXACT_TAU} * f.frames
            ),
            agg AS (SELECT doc_id, count(*) AS nhits, min(ref_key) AS only FROM scored GROUP BY doc_id)
            SELECT CASE WHEN a.nhits IS NULL THEN 'noMatch'
                        WHEN a.nhits = 1 THEN a.only
                        ELSE 'multiMatch' END AS assigned,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents d LEFT JOIN agg a USING (doc_id)
            GROUP BY 1
        """,
        "exact_filter_hits": _SHINGLES_CTE
        + f"""
            , refsets AS (SELECT DISTINCT lang AS ref_key, shingle FROM sh),
            frames AS (SELECT doc_id, count(*) AS frames FROM sh GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, r.ref_key, count(*) AS hit_frames
              FROM sh s JOIN refsets r USING (shingle) GROUP BY s.doc_id, r.ref_key
            )
            SELECT h.ref_key AS filter_id, CAST(count(*) AS BIGINT) AS hits
            FROM hits h JOIN frames f USING (doc_id)
            WHERE h.hit_frames >= {EXACT_TAU} * f.frames
            GROUP BY h.ref_key
        """,
        "exact_dedup_stats": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
            FROM documents
        """,
        "domain_stats": """
            SELECT source AS key,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_chars) AS DOUBLE) AS weight,
                   ROUND(CAST(SUM(n_chars) AS DOUBLE)
                         / SUM(CAST(SUM(n_chars) AS DOUBLE)) OVER (), 6) AS share
            FROM documents GROUP BY source
        """,
        "sketch_error_bounds": """
            SELECT lang AS filter_id,
                   true AS hll_ok, true AS cms_ok,
                   true AS kll_ok, true AS tdigest_ok
            FROM documents GROUP BY lang
        """,
        "domain_skew_metrics": """
            WITH k AS (
              SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS w
              FROM documents GROUP BY source
            )
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   ROUND(MAX(w) / SUM(w), 6) AS top1_share,
                   ROUND(SUM(w * w) / (SUM(w) * SUM(w)), 6) AS hhi,
                   ROUND(SUM(w) * SUM(w) / SUM(w * w), 2) AS effective_keys
            FROM k
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, event_type, value,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
              ) AS rn FROM events
            ) WHERE rn = 1
        """,
        "ngram_jaccard_pairs": _SHINGLES_CTE
        + """
            , dsh AS (SELECT DISTINCT doc_id AS id, shingle FROM sh),
            sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM dsh a JOIN dsh b USING (shingle)
              WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        """,
        "stratified_sample": """
            WITH ranked AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                                 doc_id) AS sample_rank
              FROM documents
            )
            SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
            FROM ranked WHERE sample_rank <= 20
        """,
        "token_stats_by_lang": f"""
            SELECT lang,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS chars
            FROM documents GROUP BY lang
        """,
        "doc_quality": f"""
            WITH feat AS (
              SELECT doc_id,
                     len({_TOKS}) AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
                     len(list_distinct({_TOKS})) AS distinct_tok
              FROM documents
            ), r AS (
              SELECT doc_id, n_tokens,
                ROUND((n_chars - GREATEST(n_tokens - 1, 0)) / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6) AS mean_word_len,
                ROUND(alpha / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS alpha_ratio,
                ROUND(digits / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS digit_ratio,
                ROUND(punct / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS punct_ratio,
                ROUND(distinct_tok / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6) AS type_token_ratio
              FROM feat
            )
            SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, digit_ratio,
                   punct_ratio, type_token_ratio,
                   ROUND(LEAST(n_tokens / 64.0, 1.0) * alpha_ratio
                         * (1.0 - LEAST(digit_ratio * 4, 1.0))
                         * (1.0 - LEAST(punct_ratio * 4, 1.0))
                         * LEAST(type_token_ratio * 2, 1.0), 6) AS quality
            FROM r
        """,
        "repetition_stats": f"""
            WITH toks AS (
              SELECT doc_id, text, {_TOKS} AS t FROM documents
            ), grams AS (
              SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS g
              FROM toks, UNNEST(generate_series(1, GREATEST(0, len(t) - 1))) AS u(i)
              UNION ALL
              SELECT doc_id, 3 AS n, array_to_string(t[i:i+2], ' ') AS g
              FROM toks, UNNEST(generate_series(1, GREATEST(0, len(t) - 2))) AS u(i)
            ), counted AS (
              SELECT doc_id, n, g, COUNT(*) AS cnt,
                     ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                        ORDER BY COUNT(*) DESC, g ASC) AS rn
              FROM grams GROUP BY doc_id, n, g
            ), top2 AS (
              SELECT doc_id, g, cnt FROM counted WHERE n = 2 AND rn = 1
            ), top3 AS (
              SELECT doc_id, g, cnt FROM counted WHERE n = 3 AND rn = 1
            ), dup2 AS (
              SELECT doc_id, SUM(cnt) AS n_bi, COUNT(*) AS n_bi_distinct
              FROM counted WHERE n = 2 GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len(t.t) AS n_tokens,
                   ROUND(COALESCE(dup2.n_bi - dup2.n_bi_distinct, 0)
                         / CAST(GREATEST(COALESCE(dup2.n_bi, 0), 1) AS DOUBLE), 6)
                     AS dup_bigram_frac,
                   COALESCE(top2.g, '') AS top_bigram,
                   CAST(COALESCE(top2.cnt, 0) AS BIGINT) AS top_bigram_cnt,
                   ROUND(COALESCE(top2.cnt * length(top2.g), 0)
                         / CAST(GREATEST(length(d.text), 1) AS DOUBLE), 6)
                     AS top_bigram_char_frac,
                   ROUND(COALESCE(top3.cnt * length(top3.g), 0)
                         / CAST(GREATEST(length(d.text), 1) AS DOUBLE), 6)
                     AS top_trigram_char_frac
            FROM documents d
            JOIN toks t USING (doc_id)
            LEFT JOIN top2 USING (doc_id)
            LEFT JOIN top3 USING (doc_id)
            LEFT JOIN dup2 USING (doc_id)
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            sims AS (
              SELECT q.query_id, e.vec_id,
                     ROUND(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS cosine
              FROM embeddings e, q
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM sims
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "doc_fingerprints": _SHINGLES_CTE
        + """
            , fps AS (SELECT DISTINCT doc_id, md5(shingle) AS fp FROM sh),
            ranked AS (
              SELECT doc_id, fp,
                     ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fp) AS slot
              FROM fps
            )
            SELECT doc_id, CAST(slot AS INT) AS slot, fp
            FROM ranked WHERE slot <= 8
        """,
        "extract_text_hashes": """
            SELECT doc_id, md5(text) AS text_md5 FROM documents
        """,
        # md5-simhash twin, pack-free: recompute each doc's 64 majority
        # bits from the md5 hex nibbles (bit j = bit j%4 of hex digit
        # 16 - j//4, i.e. big-endian uint64 of the first 16 hex chars),
        # then Hamming distance = count of per-bit disagreements — no
        # 64-bit packing, so no overflow-checked shifts.  Docs with zero
        # frames have all-zero bits (engine: simhash = 0).  Exact because
        # pigeonhole blocking (16 blocks > 12 max Hamming) is lossless.
        "simhash_dups": _SHINGLES_CTE
        + """
            , fr AS (SELECT doc_id, substr(md5(shingle), 1, 16) AS h FROM sh),
            bitv AS (
              SELECT doc_id, g.b,
                     CASE WHEN ((strpos('0123456789abcdef',
                                        substr(h, 16 - g.b // 4, 1)) - 1)
                                >> (g.b % 4)) & 1 = 1
                          THEN 1 ELSE -1 END AS v
              FROM fr, UNNEST(generate_series(0, 63)) AS g(b)
            ),
            votes AS (SELECT doc_id, b, SUM(v) AS s FROM bitv GROUP BY doc_id, b),
            allb AS (
              SELECT d.doc_id, g.b, COALESCE(v.s, 0) > 0 AS bit
              FROM documents d
              CROSS JOIN UNNEST(generate_series(0, 63)) AS g(b)
              LEFT JOIN votes v ON v.doc_id = d.doc_id AND v.b = g.b
            ),
            ham AS (
              SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                     SUM(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END) AS hamming
              FROM allb a JOIN allb c ON a.b = c.b AND a.doc_id < c.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
            FROM ham WHERE hamming <= 12
        """,
        # embedding-LSH twin: md5-parity Rademacher planes over
        # trunc(v*1e6) integer components — every projection is an exact
        # int64 SUM, so bucket codes match the engine bit-for-bit;
        # candidates = distinct any-table collisions, verified by exact
        # double cosine (round 6, same convention as embedding_topk)
        "emb_near_dups": """
            WITH planes AS (
              SELECT t, p, i,
                     CASE WHEN (strpos('0123456789abcdef',
                          substr(md5(CAST(t AS VARCHAR) || '_' ||
                                     CAST(p AS VARCHAR) || '_' ||
                                     CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 1
                          THEN 1 ELSE -1 END AS sgn
              FROM range(8) r1(t), range(6) r2(p), range(64) r3(i)
            ),
            vecs AS (
              SELECT vec_id, i,
                     CAST(trunc(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                          AS BIGINT) AS w
              FROM embeddings, range(64) r(i)
            ),
            proj AS (
              SELECT v.vec_id, pl.t, pl.p, SUM(pl.sgn * v.w) AS s
              FROM vecs v JOIN planes pl USING (i) GROUP BY 1, 2, 3
            ),
            codes AS (
              SELECT vec_id, t, SUM(CASE WHEN s > 0 THEN 1 << p ELSE 0 END) AS code
              FROM proj GROUP BY 1, 2
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM codes a JOIN codes b
                ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                                CAST(eb.embedding AS DOUBLE[])),
                         6) AS cosine
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.id_a
            JOIN embeddings eb ON eb.vec_id = c.id_b
            WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                               CAST(eb.embedding AS DOUBLE[])),
                        6) >= 0.4
        """,
        # IVF twin: md5-ordered centroid sample -> nearest-centroid
        # assignment -> 6 nearest lists per query -> top-5 by rounded
        # cosine within probed lists; ties everywhere break (sim DESC,
        # id ASC) exactly as the engine's argmax/stable-argsort/window
        "ivf_topk": """
            WITH csel AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            cents AS (
              SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
                     cv
              FROM csel
            ),
            q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 5),
            asim AS (
              SELECT e.vec_id, c.cid,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
              FROM embeddings e CROSS JOIN cents c
            ),
            assigned AS (
              SELECT vec_id, cid AS ivf_list FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid ASC) AS rn
                FROM asim
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT query_id, cid FROM (
                SELECT q.query_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                                          ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                                   c.cid ASC) AS pr
                FROM q CROSS JOIN cents c
              ) WHERE pr <= 6
            ),
            sims AS (
              SELECT p.query_id, a.vec_id,
                     ROUND(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
              FROM probes p
              JOIN assigned a ON a.ivf_list = p.cid
              JOIN embeddings e ON e.vec_id = a.vec_id
              JOIN q ON q.query_id = p.query_id
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM sims
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "mibf_classify_summary": f"""
            SELECT CASE WHEN len({_TOKS}) >= {SHINGLE_W} THEN lang
                        ELSE 'noMatch' END AS assigned,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        """,
        "language_id_summary": f"""
            SELECT CASE WHEN len({_TOKS}) >= {SHINGLE_W} THEN lang
                        ELSE 'noMatch' END AS pred_lang,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        """,
        # disjoint-vocab gate: hits == unique == per-lang docs with >= w
        # tokens; multiMatch 0; noMatch = short docs; rates are raw IEEE
        # divisions (the comparator rounds both sides)
        "bloom_categorize_summary": f"""
            WITH t AS (SELECT lang, len({_TOKS}) >= {SHINGLE_W} AS has FROM documents),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t),
            rows_ AS (
              SELECT lang AS filter_id,
                     CAST(SUM(CASE WHEN has THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                     CAST(SUM(CASE WHEN has THEN 1 ELSE 0 END) AS BIGINT) AS uniq
              FROM t GROUP BY lang
              UNION ALL
              SELECT 'multiMatch', 0, 0
              UNION ALL
              SELECT 'noMatch',
                     CAST(SUM(CASE WHEN has THEN 0 ELSE 1 END) AS BIGINT),
                     CAST(SUM(CASE WHEN has THEN 0 ELSE 1 END) AS BIGINT)
              FROM t
            )
            SELECT filter_id, hits, uniq AS "unique",
                   CAST(0 AS BIGINT) AS shared,
                   hits / total AS rate_hit,
                   uniq / total AS rate_unique,
                   0.0 AS rate_shared
            FROM rows_, tot
        """,
        # two-phase LSH pipeline: candidates (recall >= 1-1e-8 at tau) +
        # exact verification == the exact self-join — same twin SQL
        "minhash_lsh_dups": _SHINGLES_CTE
        + """
            , dsh AS (SELECT DISTINCT doc_id AS id, shingle FROM sh),
            sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM dsh a JOIN dsh b USING (shingle)
              WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        """,
        # connected components over the SAME exact pair set, via DuckDB's
        # recursive CTE (min reachable doc id = cluster label)
        "dedup_clusters": _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + """
            , dsh AS (SELECT DISTINCT doc_id AS id, shingle FROM sh),
            sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM dsh a JOIN dsh b USING (shingle)
              WHERE a.id < b.id GROUP BY a.id, b.id
            ),
            pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.id = id_a
              JOIN sizes sb ON sb.id = id_b
              WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach AS (
              SELECT src AS node, src AS lbl FROM edges
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
            ),
            comp AS (SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node)
            SELECT d.doc_id,
                   COALESCE(c.cluster, d.doc_id) AS cluster_id,
                   COALESCE(c.cluster, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        """,
        # real-codec roundtrip: every synthesized parameter is an
        # arithmetic function of doc_id, so DuckDB predicts what the
        # stdlib PNG/BMP/WAV decoders must recover — including the
        # decoded-content sum (constant-fill media) and the resized
        # width after the decode→resample→PNG re-encode→decode chain
        "multimodal_decode": """
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 2 THEN 'audio'
                        WHEN doc_id % 5 = 3 THEN 'video'
                        ELSE 'image' END AS kind,
                   CAST(CASE WHEN doc_id % 5 = 2 THEN 1 + doc_id % 2
                             ELSE 4 + doc_id % 9 END AS BIGINT) AS width,
                   CAST(CASE WHEN doc_id % 5 = 2 THEN NULL
                             ELSE 3 + doc_id % 7 END AS BIGINT) AS height,
                   CAST(CASE WHEN doc_id % 5 = 2 THEN 50 + doc_id % 100
                             WHEN doc_id % 5 = 3 THEN 2 + doc_id % 4
                             ELSE 1 END AS BIGINT) AS n_frames,
                   true AS valid,
                   CAST(CASE WHEN doc_id % 5 = 2
                             THEN (doc_id % 251) * (50 + doc_id % 100)
                                  * (1 + doc_id % 2)
                             ELSE (doc_id % 251) * 3 * (4 + doc_id % 9)
                                  * (3 + doc_id % 7) END AS BIGINT) AS content_sum,
                   CAST(CASE WHEN doc_id % 5 = 2 THEN NULL
                             ELSE 3 END AS BIGINT) AS rz_width
            FROM documents
        """,
        # rows-only (approximate / hash-specific, pytest-verified instead):
        # simhash_dups (the hamming distance IS the output), ivf_topk
    }


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Bloom maker + categorizer + summary on sf0.001."""
    return q_bloom_categorize_summary(spark, "/root/testdata/sf0.001")
