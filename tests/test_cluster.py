"""Connected-components / dedup-cluster tests: both routes (numpy labels
on the driver, and the Spark large-star/small-star loop forced by a zero
driver budget) vs a driver-side union-find oracle and vs each other, plus
the two-phase (LSH proposes, exact verifies) pipeline equivalence that
makes the gate queries oracle-checkable."""

from __future__ import annotations

import random
from collections import defaultdict

import numpy as np
import pytest

import biobloom_spark.operators.cluster as cluster
from biobloom_spark.corpus import generate_corpus_pandas
from biobloom_spark.operators.cluster import connected_components, dedup_clusters
from biobloom_spark.operators.dedup import (
    _minhash_batch,
    exact_jaccard_on_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    """60 base docs + planted exact dup + planted near dup (same recipe
    as tests/test_pipeline_ops.py)."""
    pdf = generate_corpus_pandas(60, seed=31, langs=("en", "de"), mean_tokens=60)
    texts = list(pdf["text"])
    texts.append(texts[0])  # exact dup of doc 0 → id 60
    toks = texts[1].split()
    toks[len(toks) // 2] = "MUTATED"
    texts.append(" ".join(toks))  # near dup of doc 1 → id 61
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).cache()


def _union_find_labels(edges):
    """Driver oracle: min node id per component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for ns in comp.values() for n in ns}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def _no_star_round(*_):
    raise AssertionError("star round on an edge set within the driver budget")


def _force(monkeypatch, route):
    """Pin ``connected_components`` to one route: ``star`` zeroes the
    driver budget; ``driver`` makes any star round fail the test."""
    if route == "star":
        monkeypatch.setattr(cluster, "_driver_edge_cap", lambda spark: 0)
    else:
        monkeypatch.setattr(cluster, "_large_star", _no_star_round)


@pytest.fixture(params=["driver", "star"])
def route(request, monkeypatch):
    _force(monkeypatch, request.param)
    return request.param


def _random_graphs():
    """The graphs ``test_random_graphs_match_union_find`` draws."""
    rng = random.Random(0xC0FFEE)
    for _ in range(4):
        n = rng.randrange(10, 60)
        m = rng.randrange(5, 80)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        yield [(a, b) for a, b in edges if a != b]


def _giant_component(n=1200, seed=5):
    """A random spanning tree over n shuffled, spread-out ids plus extra
    chords: one component of n nodes whose minimum is not a tree root."""
    rng = random.Random(seed)
    ids = rng.sample(range(10**6), n)
    edges = [(ids[i], ids[rng.randrange(i)]) for i in range(1, n)]
    edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(n // 4)]
    return edges


# (SQL id type, edges): every shape the two routes must agree on
ROUTE_CASES = {
    "long": ("long", [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]),
    "int": ("int", [(7, -3), (-3, 2**31 - 1), (5, 6), (6, 5), (9, 9)]),
    # code-point (= UTF-8 byte) order, not UTF-16 or locale order:
    # U+FF21 < U+1D538 though its UTF-16 lead unit is larger, "Z" < "a" < "é"
    "string": (
        "string",
        [("b", "a"), ("c", "b"), ("x", "y"), ("é", "z"), ("z", "Z"),
         ("\uff21", "\U0001d538"), ("日本", "中文"), ("中文", "ß")],
    ),
    "chain200": ("long", [(i + 1, i) for i in range(199)]),
    "giant": ("long", _giant_component()),
    "empty": ("long", []),
    **{f"random{i}": ("long", edges) for i, edges in enumerate(_random_graphs())},
}


def test_driver_budget_follows_max_result_size(spark):
    """The route's budget comes from session conf alone: 1/16 of
    spark.driver.maxResultSize (unset here, so the 1g default) at 16 B
    per edge."""
    assert cluster._driver_edge_cap(spark) == (1 << 30) // 16 // 16


@pytest.mark.parametrize("case", ROUTE_CASES)
def test_routes_return_identical_rows_and_schema(spark, monkeypatch, case):
    """The driver route and the forced star route return the same
    (node, component) rows, and the same schema: both columns of the id
    type, nullable, as the star loop's union emits them."""
    id_type, edges = ROUTE_CASES[case]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    got = {}
    for r in ("driver", "star"):
        with monkeypatch.context() as m:
            _force(m, r)
            out = connected_components(pairs)
            got[r] = (out.schema, sorted(out.collect()))
    assert got["driver"] == got["star"]
    schema, rows = got["driver"]
    assert schema == spark.createDataFrame([], f"node {id_type}, component {id_type}").schema
    want = _union_find_labels([(a, b) for a, b in edges if a != b])
    assert dict(rows) == want
    assert len(rows) == len(want)


class TestConnectedComponents:
    def test_two_triangles_and_bridge(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]
        assert _cc_spark(spark, edges) == _union_find_labels(edges)

    def test_long_chain_converges_in_log_rounds(self, spark, monkeypatch):
        # a 64-node path: naive min-propagation needs 63 rounds; the
        # star algorithm must finish well inside max_iter=12
        _force(monkeypatch, "star")
        edges = [(i, i + 1) for i in range(63)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = connected_components(df, max_iter=12).collect()
        assert {r["component"] for r in rows} == {0}
        assert {r["node"] for r in rows} == set(range(64))

    def test_star_loop_raises_when_rounds_run_out(self, spark, monkeypatch):
        _force(monkeypatch, "star")
        df = spark.createDataFrame([(i, i + 1) for i in range(63)], "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            connected_components(df, max_iter=1)

    def test_random_graphs_match_union_find(self, spark):
        for edges in _random_graphs():
            if edges:
                assert _cc_spark(spark, edges) == _union_find_labels(edges)

    def test_string_ids(self, spark):
        edges = [("b", "a"), ("c", "b"), ("x", "y")]
        df = spark.createDataFrame(edges, "id_a string, id_b string")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_empty_pairs(self, spark):
        df = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(df).count() == 0


class TestDedupClusters:
    def test_singletons_and_chain(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
        assert {i: rows[i]["cluster_id"] for i in range(6)} == {
            0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5,
        }
        assert [rows[i]["is_canonical"] for i in range(6)] == [
            True, False, False, True, True, True,
        ]

    def test_labels_match_union_find_with_singletons(self, spark, dup_docs):
        pairs = ngram_jaccard_pairs(dup_docs, w=3, threshold=0.5)
        edge_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
        assert (60, 61) not in edge_rows  # sanity: dups of DIFFERENT docs
        assert any(60 in e for e in edge_rows) and any(61 in e for e in edge_rows)
        oracle = _union_find_labels(edge_rows)
        labeled = dedup_clusters(dup_docs, pairs)
        got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in labeled.collect()}
        for i in range(dup_docs.count()):
            want = oracle.get(i, i)  # singletons label themselves
            assert got[i] == (want, want == i)
        n_clusters = len({c for c, _ in got.values()})
        assert sum(1 for _, canon in got.values() if canon) == n_clusters


class TestTwoPhaseEquivalence:
    def test_lsh_verified_equals_exact_twin(self, spark, dup_docs):
        """High-recall banding (r=2, b=64) + exact verification == the
        exact self-join — the property the gate oracles rely on."""
        cand = minhash_lsh_pairs(
            dup_docs, w=3, num_perm=128, bands=64, threshold=0.5, verify=False
        )
        verified = exact_jaccard_on_pairs(dup_docs, cand, w=3, threshold=0.5)
        exact = ngram_jaccard_pairs(dup_docs, w=3, threshold=0.5)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
        want = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
        assert got == want
        assert want, "fixture must contain at least the planted dups"

    def test_verify_filters_false_candidates(self, spark, dup_docs):
        """Candidates below the threshold must not survive verification."""
        cand = minhash_lsh_pairs(
            dup_docs, w=3, num_perm=128, bands=64, threshold=0.1, verify=False
        )
        verified = exact_jaccard_on_pairs(dup_docs, cand, w=3, threshold=0.9)
        for r in verified.collect():
            assert r["jaccard"] >= 0.9

    def test_verify_edge_cases_match_exact_twin(self, spark, dup_docs):
        """A hand-made candidate set at threshold 0: every distinct row
        comes back once, in the orientation given, with the exact twin's
        Jaccard; pairs sharing no shingle (null text, fewer than w
        tokens, no common window) or naming an absent id emit nothing,
        and nothing raises under the session's ANSI default."""
        extra = spark.createDataFrame(
            [
                (100, None),  # null text
                (101, "too short"),  # fewer than w tokens
                (103, "also short"),  # with 101: |A| = |B| = 0, no 0/0 division
                (102, "qq1 qq2 qq3 qq4 qq5"),  # no window in common with anyone
            ],
            "doc_id long, text string",
        )
        docs = dup_docs.unionByName(extra)
        rows = [
            (0, 60), (0, 60),  # duplicated row
            (1, 61), (61, 1),  # both orientations
            (0, 1), (2, 3), (5, 4), (7, 30),
            (100, 1), (1, 100), (101, 2), (100, 101), (101, 103),
            (0, 102), (102, 3),
            (0, 999), (999, 998),  # absent ids
        ]
        cand = spark.createDataFrame(rows, "id_a long, id_b long")
        got = [
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in exact_jaccard_on_pairs(docs, cand, w=3, threshold=0.0).collect()
        ]
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, w=3, threshold=0.0).collect()
        }
        want = sorted(
            (a, b, exact[(min(a, b), max(a, b))])
            for a, b in set(rows)
            if (min(a, b), max(a, b)) in exact
        )
        assert sorted(got) == want
        keys = {(a, b) for a, b, _ in got}
        assert {(0, 60), (1, 61), (61, 1)} <= keys
        assert not keys & {(100, 1), (1, 100), (101, 2), (100, 101), (101, 103), (0, 102),
                           (102, 3), (0, 999), (999, 998)}


def _local_lsh_pairs(ids, texts, w, num_perm, bands):
    """Brute-force LSH: band the local minhash signatures and pair every
    two ids that share a band slice (a < b, one entry per pair)."""
    sig = _minhash_batch(np.array(texts, dtype=object), w, num_perm, {})
    r = num_perm // bands
    pairs = set()
    for b in range(bands):
        buckets = defaultdict(list)
        for i, row in zip(ids, sig[:, b * r : (b + 1) * r]):
            buckets[row.tobytes()].append(i)
        for members in buckets.values():
            pairs.update((x, y) for x in members for y in members if x < y)
    return pairs


class TestBucketPairs:
    @pytest.mark.parametrize("id_col", ["url", "doc_id"])
    def test_lsh_pairs_equal_local_banding(self, spark, id_col):
        """minhash_lsh_pairs(verify=False) == brute-force banding of
        ``_minhash_batch`` signatures, on a corpus with one 30-id bucket
        in every band, a near-dup pair and unrelated docs; string ids
        order lexically ("p10" < "p9"), long ids numerically."""
        pdf = generate_corpus_pandas(40, seed=7, langs=("en", "de"), mean_tokens=60)
        texts = [pdf["text"][0]] * 30 + list(pdf["text"][1:])
        toks = texts[30].split()
        toks[len(toks) // 2] = "MUTATED"
        texts.append(" ".join(toks))
        keys = [f"p{i}" for i in range(len(texts))] if id_col == "url" else list(range(len(texts)))
        docs = spark.createDataFrame(
            list(zip(keys, texts)),
            f"{id_col} {'string' if id_col == 'url' else 'long'}, text string",
        )
        got = [
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, id_col=id_col, verify=False).collect()
        ]
        assert len(got) == len(set(got))
        assert all(a < b for a, b in got)
        want = _local_lsh_pairs(keys, texts, w=3, num_perm=128, bands=32)
        assert set(got) == want
        assert len(want) >= 30 * 29 // 2 + 1


class TestLazyUnionInputs:
    """A lazy union whose sides have different partition counts, fed
    straight into LSH → exact verify → dedup_clusters on both routes.
    (Such a union once failed in the star loop's first localCheckpoint
    with "Can't zip RDDs with unequal numbers of partitions"; it is
    kept as a guard.)"""

    @pytest.fixture(scope="class")
    def halves(self, spark, tmp_path_factory):
        """60 corpus docs and 3 planted dups: 100 copies doc 0, 101 is
        doc 0 with one token changed, 102 copies doc 1."""
        texts = list(generate_corpus_pandas(60, seed=31, langs=("en", "de"), mean_tokens=60)["text"])
        toks = texts[0].split()
        toks[5] = "MUTATED"
        dups = [(100, texts[0]), (101, " ".join(toks)), (102, texts[1])]
        schema = "doc_id long, text string"
        base = spark.createDataFrame(list(enumerate(texts)), schema)
        planted = spark.createDataFrame(dups, schema)
        root = tmp_path_factory.mktemp("lazy_union")
        base.write.parquet(str(root / "base"))
        planted.write.parquet(str(root / "planted"))
        return base, planted, str(root)

    @pytest.mark.parametrize("shape", ["parquet", "frames"])
    def test_union_of_unequal_partitionings(self, spark, halves, route, shape):
        base, planted, root = halves
        if shape == "parquet":
            docs = spark.read.parquet(f"{root}/base").coalesce(4).union(
                spark.read.parquet(f"{root}/planted").repartition(8)
            )
        else:
            docs = base.repartition(4).union(planted.repartition(8))
        cand = minhash_lsh_pairs(
            docs, w=3, num_perm=128, bands=64, threshold=0.5, verify=False
        )
        pairs = exact_jaccard_on_pairs(docs, cand, w=3, threshold=0.5)
        got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()}
        planted_clusters = {100: 0, 101: 0, 102: 1}
        assert got == {i: planted_clusters.get(i, i) for i in [*range(60), 100, 101, 102]}
