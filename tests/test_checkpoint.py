"""Checkpointed builds resume on any Hadoop FS URI (``checkpoint``)."""

from __future__ import annotations

import os

import pytest

from biobloom_spark.corpus import generate_corpus


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    """A parquet corpus, so the fingerprint's identity is its file listing."""
    path = str(tmp_path_factory.mktemp("ckpt_docs") / "docs")
    generate_corpus(
        spark, 200, seed=17, langs=("en", "de", "fr"), mean_tokens=40, num_partitions=3
    ).write.parquet(path)
    return spark.read.parquet(path)


def _data_files(path) -> set[str]:
    return {f for f in os.listdir(path) if not f.startswith(("_", "."))}


def _rows(df, *cols) -> list:
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.select(*cols).collect()
    )


def test_file_uri_checkpoints_resume(spark, docs, tmp_path, monkeypatch):
    """Each checkpointed build runs twice on a ``file://`` URI.  The second
    run resumes: the first run's partial files stay (a rebuild would
    replace them), nothing is recomputed, and the results are equal."""
    import biobloom_spark.operators.mibf_store as ms
    from biobloom_spark.operators.maker import build_filters
    from biobloom_spark.operators.sketch_agg import sketch_by_key_checkpointed

    # build_filters(partials_path=)
    ppath = tmp_path / "partials"
    runs = [build_filters(spark, docs, partials_path=ppath.as_uri()) for _ in range(2)]
    first_files = _data_files(ppath)
    assert _rows(runs[0], "filter_id", "bitmap", "n_docs") == _rows(
        build_filters(spark, docs), "filter_id", "bitmap", "n_docs"
    )
    runs[1].collect()
    assert first_files <= _data_files(ppath)
    assert _rows(runs[1], "filter_id", "bitmap", "n_docs") == _rows(
        runs[0], "filter_id", "bitmap", "n_docs"
    )

    # sketch_by_key_checkpointed
    spath = tmp_path / "sketch"
    cols = ("key", "hll", "cms", "n_docs")
    first = _rows(sketch_by_key_checkpointed(spark, docs, spath.as_uri()), *cols)
    first_files = _data_files(spath)
    again = _rows(sketch_by_key_checkpointed(spark, docs, spath.as_uri()), *cols)
    assert first_files <= _data_files(spath)
    assert again == first

    # build_mibf_store: a complete store returns before the sizing pass
    mpath = (tmp_path / "store").as_uri()
    store = ms.build_mibf_store(spark, docs, mpath)

    def boom(*a, **k):
        raise AssertionError("recomputed on resume")

    with monkeypatch.context() as mp:
        mp.setattr(ms, "_prep_build", boom)
        again = ms.build_mibf_store(spark, docs, mpath)
    assert again.to_sketch(spark).serialize() == store.to_sketch(spark).serialize()


def test_record_without_partials_resumes_from_nothing(spark, tmp_path):
    """A build killed before any task committed leaves its fingerprint
    record and no partial file: the next run resumes with no partition
    done instead of failing to read an empty checkpoint."""
    from biobloom_spark.checkpoint import RECORD, done_partitions

    uri = (tmp_path / "partials").as_uri()
    assert done_partitions(spark, uri, "fp-1", "bucket") == frozenset()
    assert os.path.exists(tmp_path / "partials" / RECORD)
    assert done_partitions(spark, uri, "fp-1", "bucket") == frozenset()
    assert os.path.exists(tmp_path / "partials" / RECORD)


def test_file_uri_stream_fold_resumes(spark, docs, tmp_path):
    """A stream fold on a ``file://`` URI, replayed from a fresh streaming
    checkpoint: every batch is skipped on its fold marker, so the counters
    do not double."""
    from biobloom_spark.operators.sketch_agg import sketch_by_key
    from biobloom_spark.streaming.build_stream import latest_version
    from biobloom_spark.streaming.categorize_stream import stream_from_parquet_dir
    from biobloom_spark.streaming.sketch_stream import (
        load_latest_sketch_rows,
        sketch_stream_writer,
    )

    src = str(tmp_path / "drop")
    docs.write.parquet(src)
    sk_uri = (tmp_path / "sketches").as_uri()
    versions = []
    for attempt in range(2):
        stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
        q = (
            sketch_stream_writer(spark, stream, sk_uri)
            .option("checkpointLocation", str(tmp_path / f"ckpt{attempt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        versions.append(latest_version(spark, sk_uri))
    assert versions[0] is not None and versions[1] == versions[0]
    cols = ("key", "hll", "cms", "n_docs")
    got = _rows(load_latest_sketch_rows(spark, sk_uri), *cols)
    assert got == _rows(sketch_by_key(docs), *cols)
