"""Text layer tests: extractor byte-identity, tokenizer/shingle semantics,
DUST-analog mask, and the synthetic corpus determinism."""

from __future__ import annotations

import hashlib

import numpy as np

from biobloom_spark.corpus import generate_corpus_pandas
from biobloom_spark.functions.text import (
    doc_shingle_hashes,
    dust_mask,
    extract_text,
    frame_count,
    tokenize,
)


class TestExtractor:
    def test_strips_script_style_comments_tags(self):
        html = (
            b"<html><head><script>var x=1;</script><style>.a{}</style></head>"
            b"<body><!-- hidden --><p>hello &amp; goodbye</p></body></html>"
        )
        assert extract_text(html) == "hello & goodbye"

    def test_deterministic_byte_identity(self):
        # the input_hint invariant: stable extracted text per url
        pdf = generate_corpus_pandas(50, seed=7)
        digests1 = [hashlib.sha256(extract_text(h).encode()).hexdigest() for h in pdf["html"]]
        digests2 = [hashlib.sha256(extract_text(h).encode()).hexdigest() for h in pdf["html"]]
        assert digests1 == digests2

    def test_extract_recovers_generated_text(self):
        # corpus html wraps text with boilerplate; extractor must recover it
        pdf = generate_corpus_pandas(20, seed=3)
        for html, text, url in zip(pdf["html"], pdf["text"], pdf["url"]):
            extracted = extract_text(bytes(html))
            assert text in extracted, url
            assert "var x=" not in extracted  # script stripped

    def test_none_and_bad_utf8(self):
        assert extract_text(None) == ""
        assert isinstance(extract_text(b"<p>\xff\xfe</p>"), str)


class TestTokenizeShingle:
    def test_tokenize_matches_sql_split_semantics(self):
        assert tokenize("a b  c\t d ") == ["a", "b", "c", "d"]
        assert tokenize("") == []

    def test_tokens_col_matches_str_split(self, spark):
        """The JVM tokenizer drops the empty tokens that a leading or
        trailing tab, newline or space leaves, as ``str.split()`` does.
        Java's ``\\s`` is ASCII whitespace only, so a no-break space
        stays inside a token where ``str.split()`` splits on it."""
        from biobloom_spark.sources.tables import tokens_col

        texts = ["\ta b c", "a b c\n", "\n", "", "  ", "a b  c\t d ",
                 " x ", "\r\n lead\ttab \x0b\f"]
        df = spark.createDataFrame([(t,) for t in texts + [None]], "text string")
        got = [r["t"] for r in df.select(tokens_col("text").alias("t")).collect()]
        assert got == [t.split() for t in texts] + [None]
        nbsp = spark.createDataFrame([("a\xa0b c",)], "text string")
        assert nbsp.select(tokens_col("text")).first()[0] == ["a\xa0b", "c"]
        assert "a\xa0b c".split() == ["a", "b", "c"]

    def test_frame_count(self):
        assert frame_count(10, 3) == 8
        assert frame_count(2, 3) == 0

    def test_doc_shingles_deterministic(self):
        a = doc_shingle_hashes("the quick brown fox jumps", 3)
        b = doc_shingle_hashes("the quick brown fox jumps", 3)
        assert np.array_equal(a, b)
        assert a.size == 3

    def test_dust_mask_flags_repetition(self):
        toks = ["a", "a", "a", "b", "c", "d"]
        m = dust_mask(toks, 3)
        assert m[0]  # window (a,a,a) is pure repetition
        assert not m[2]  # (a,b,c) is fine
        assert m.size == 4

    def test_dust_mask_matches_loop_reference(self):
        # vectorized windowed-distinct == the literal per-window set() loop
        rng = np.random.default_rng(11)
        for w in (2, 3, 4, 5):
            for min_distinct in (1, 2, 3, w):
                toks = [f"t{v}" for v in rng.integers(0, 4, size=200)]
                got = dust_mask(toks, w, min_distinct)
                n = max(0, len(toks) - w + 1)
                want = np.array(
                    [len(set(toks[i : i + w])) < min_distinct for i in range(n)],
                    dtype=bool,
                )
                assert np.array_equal(got, want), (w, min_distinct)

    def test_flat_dust_mask_matches_per_doc(self):
        from biobloom_spark.functions.text import flat_dust_mask
        from biobloom_spark.sketch.hashing import hash_tokens

        rng = np.random.default_rng(5)
        docs = [
            [f"t{v}" for v in rng.integers(0, 3, size=rng.integers(0, 30))]
            for _ in range(40)
        ]
        w, md = 3, 2
        per_doc = np.concatenate(
            [dust_mask(toks, w, md) for toks in docs] or [np.zeros(0, bool)]
        )
        flat_tokens = [t for toks in docs for t in toks]
        counts = np.array([len(toks) for toks in docs], dtype=np.int64)
        got = flat_dust_mask(hash_tokens(flat_tokens), counts, w, md)
        assert np.array_equal(got, per_doc)


class TestCorpus:
    def test_generation_is_pure_function_of_seed_and_id(self):
        a = generate_corpus_pandas(30, seed=42)
        b = generate_corpus_pandas(30, seed=42)
        assert a.equals(b)
        c = generate_corpus_pandas(30, seed=43)
        assert not a["text"].equals(c["text"])

    def test_lang_zipf_skew(self):
        pdf = generate_corpus_pandas(2000, seed=42)
        counts = pdf["lang"].value_counts()
        assert counts.index[0] == "en"
        assert counts.iloc[0] > 3 * counts.iloc[-1]  # heavy head

    def test_cross_lang_token_sharing(self):
        pdf = generate_corpus_pandas(500, seed=42)
        en = set(" ".join(pdf[pdf.lang == "en"]["text"]).split())
        de = set(" ".join(pdf[pdf.lang == "de"]["text"]).split())
        shared = en & de
        assert shared and all(t.startswith("common") for t in shared)
        assert en - de  # and exclusive vocabulary exists
