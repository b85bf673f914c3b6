"""CLI-twin tests: the biobloommaker / biobloomcategorizer surfaces
(biobloom_spark.cli) driving the Spark operators end-to-end, matching the
reference binaries' usage patterns (BioBloomMaker.cpp /
BioBloomCategorizer.cpp printHelpDialog)."""

from __future__ import annotations

import random

import pytest

from biobloom_spark.cli import main


@pytest.fixture(scope="module")
def fasta_fixtures(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    rng = random.Random(5)
    seq = lambda n: "".join(rng.choice("ACGT") for _ in range(n))
    ref = seq(3000)
    (d / "ref.fa").write_text(">chr1 test\n" + ref + "\n")
    with open(d / "reads.fq", "w") as f:
        for i in range(30):
            start = rng.randrange(0, 2950)
            f.write(f"@r{i}\n{ref[start:start + 50]}\n+\n{'I' * 50}\n")
        for i in range(10):
            f.write(f"@n{i}\n{seq(50)}\n+\n{'I' * 50}\n")
    return d, ref


def test_maker_categorizer_bf_roundtrip(spark, fasta_fixtures, tmp_path):
    """biobloommaker -p chr1 ref.fa; biobloomcategorizer -f chr1.bf reads.fq
    — planted reads hit, noise reads noMatch, via the .bf container."""
    d, _ref = fasta_fixtures
    out = tmp_path / "out"
    assert main(["maker", "-p", "chr1", "-o", str(out), "-k", "25",
                 "--classic", str(d / "ref.fa")]) == 0
    assert (out / "chr1.bf").exists() and (out / "chr1.txt").exists()
    assert main(["categorizer", "-f", str(out / "chr1.bf"),
                 "-p", str(out / "run"), "-s", "0.15",
                 str(d / "reads.fq")]) == 0
    import pandas as pd

    summary = pd.read_csv(out / "run_summary.tsv", sep="\t").set_index("filter_id")
    assert summary.loc["chr1", "hits"] == 30
    assert summary.loc["noMatch", "hits"] == 10


def test_maker_parquet_key_col_and_besthit(spark, tmp_path):
    """Parquet (web) mode: one filter per lang; besthit categorize."""
    out = tmp_path / "web"
    assert main(["maker", "-p", "web", "-o", str(out), "--key-col", "lang",
                 "-k", "3", "/root/testdata/sf0.001/documents.parquet"]) == 0
    assert main(["categorizer", "-f", str(out / "web_registry.parquet"),
                 "-p", str(out / "run"), "-b",
                 "/root/testdata/sf0.001/documents.parquet"]) == 0
    import pandas as pd

    summary = pd.read_csv(out / "run_summary.tsv", sep="\t").set_index("filter_id")
    assert summary.loc["noMatch", "hits"] == 0  # every doc hits its own lang
    assert summary["hits"].drop(["noMatch", "multiMatch"]).sum() >= 400


def test_maker_progressive_mode(spark, fasta_fixtures, tmp_path):
    """-r progressive: seed fasta + reads; tagged parquet + registry out."""
    d, _ref = fasta_fixtures
    out = tmp_path / "prog"
    assert main(["maker", "-p", "walk", "-o", str(out), "-k", "25",
                 "-r", "0.3", "-e", "3",
                 str(d / "ref.fa"), str(d / "reads.fq")]) == 0
    reg = spark.read.parquet(str(out / "walk_registry.parquet")).collect()
    assert len(reg) == 1 and reg[0]["filter_id"] == "walk"
    tagged = spark.read.parquet(str(out / "walk_tagged.parquet"))
    assert tagged.count() >= 1


def test_mimaker_micategorizer_roundtrip(spark, tmp_path, capsys):
    """biobloommimaker/biobloommicategorizer twins over the web corpus:
    per-lang miBF persisted and reloaded, classifications match labels."""
    out = tmp_path / "mi"
    assert main(["mimaker", "-p", "langs", "-o", str(out), "--key-col", "lang",
                 "-k", "3", "-b", "0.1",
                 "/root/testdata/sf0.001/documents.parquet"]) == 0
    assert main(["micategorizer", "-f", str(out / "langs_mibf.parquet"),
                 "-p", str(out / "run"), "-i",
                 "/root/testdata/sf0.001/documents.parquet"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert len(lines) >= 400  # hitOnly still covers most docs
    import pandas as pd

    summary = pd.read_csv(out / "run_summary.tsv", sep="\t")
    assert set(summary["assigned"]) >= {"de", "en", "es", "fr", "zh"}


def test_categorizer_fq_gz_demux(spark, fasta_fixtures, tmp_path):
    """--fq -g: per-category gzipped FASTQ demultiplexed outputs (S7,
    BioBloomClassifier.cpp:108-210 + Dynamicofstream gz switch)."""
    import glob
    import gzip

    d, _ref = fasta_fixtures
    out = tmp_path / "demux"
    assert main(["maker", "-p", "chr1", "-o", str(out), "-k", "25",
                 "--classic", str(d / "ref.fa")]) == 0
    assert main(["categorizer", "-f", str(out / "chr1.bf"),
                 "-p", str(out / "run"), "-s", "0.15", "--fq", "-g",
                 str(d / "reads.fq")]) == 0
    cats = {p.split("assigned=")[1].rstrip("/")
            for p in glob.glob(str(out / "run_reads" / "assigned=*"))}
    assert cats == {"chr1", "noMatch"}
    recs = []
    for gz in glob.glob(str(out / "run_reads" / "assigned=chr1" / "*.gz")):
        recs.extend(gzip.open(gz, "rt").read().splitlines())
    assert len(recs) == 30 * 4  # 30 planted reads, 4 FASTQ lines each
    assert recs[0].startswith("@r") and recs[2] == "+"


def test_mimaker_store_roundtrip(spark, tmp_path, capsys):
    """--store: the parquet-segment miBF store through the CLI twins —
    micategorizer auto-detects the layout and classifies shard-by-shard,
    matching the single-array filter's summary exactly."""
    out = tmp_path / "mi"
    common = ["-p", "langs", "-o", str(out), "--key-col", "lang",
              "-k", "3", "-b", "0.5",
              "/root/testdata/sf0.001/documents.parquet"]
    assert main(["mimaker", *common]) == 0
    assert main(["mimaker", "--store", *common]) == 0
    assert main(["micategorizer", "-f", str(out / "langs_mibf.parquet"),
                 "-p", str(out / "dense"),
                 "/root/testdata/sf0.001/documents.parquet"]) == 0
    assert main(["micategorizer", "-f", str(out / "langs_mibf_store"),
                 "-p", str(out / "store"),
                 "/root/testdata/sf0.001/documents.parquet"]) == 0
    capsys.readouterr()
    import pandas as pd

    dense = pd.read_csv(out / "dense_summary.tsv", sep="\t")
    store = pd.read_csv(out / "store_summary.tsv", sep="\t")
    pd.testing.assert_frame_equal(
        dense.sort_values("assigned").reset_index(drop=True),
        store.sort_values("assigned").reset_index(drop=True),
    )


def test_maker_num_ele_sizes_with_maker_sizing(spark, fasta_fixtures, tmp_path):
    """-n N pins the filter to ``maker._sizing(N, params)``, the formula
    every other build path sizes with."""
    from biobloom_spark.config import BloomParams
    from biobloom_spark.operators.maker import _sizing

    d, _ref = fasta_fixtures
    out = tmp_path / "num_ele"
    assert main(["maker", "-p", "chr1", "-o", str(out), "-k", "25",
                 "-n", "5000", str(d / "ref.fa")]) == 0
    (row,) = spark.read.parquet(str(out / "chr1_registry.parquet")).collect()
    want = _sizing(5000, BloomParams(shingle_w=25))
    assert (row["m_bits"], row["num_hashes"], row["expected_entries"]) == (
        want["m_bits"], want["num_hashes"], 5000
    )
