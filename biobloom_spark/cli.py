"""Command-line twins of the reference binaries.

``python -m biobloom_spark maker ...``        ↔ biobloommaker
``python -m biobloom_spark categorizer ...``  ↔ biobloomcategorizer

Flag names and semantics mirror the reference help dialogs
(/root/reference/BioBloomMaker/BioBloomMaker.cpp printHelpDialog;
/root/reference/BioBloomCategorizer/BioBloomCategorizer.cpp
printHelpDialog) so a user of the reference can re-run their existing
invocations against the Spark engine:

- FASTA/FASTQ(.gz) inputs parse through ``sources.fasta`` and score with
  true character k-mers (``-k``); parquet/Iceberg inputs (the web
  retarget) shingle ``text`` by whitespace tokens with window ``-k``.
- ``-s/--subtract``, ``-r`` progressive mode, ``-e`` iterations, ``-i``
  inclusive pairing, ``-c`` ordered / ``-b`` besthit / ``-w`` scores
  modes, ``-S`` score type, ``-d``/``-n`` stdout filtering and ``-D``
  dust map one-to-one onto the library operators.
- maker writes a parquet filter registry next to the prefix; with
  ``--classic`` (the reference's unblocked layout) it also exports the
  ``.bf`` + INI container via ``sources.bf_format``.
- categorizer accepts both registry parquet paths and ``.bf`` prefixes
  in ``-f``, writes ``<prefix>_summary.tsv`` and demultiplexed outputs.

Differences, stated rather than hidden: native hashing is the engine's
FNV/splitmix family; a reference-built ``.bf`` given to ``-f`` is probed
via the published ntHash NTC64/NTM64 recurrence (sketch.nthash —
reimplemented from the paper; the vendored btl_bloomfilter submodule is
absent from the checkout, so bit-compat is per published spec).  Maker
``--nthash`` builds filters in that family.  ``-t`` maps to ``local[N]``
cores here and executors under spark-submit.
"""

from __future__ import annotations

import argparse
import os
import sys

__all__ = ["main"]


def _spark(threads: int):
    from .session import get_spark

    return get_spark("biobloom_spark_cli", cores=threads or "*")


def _is_parquet(path: str) -> bool:
    return path.endswith(".parquet") or os.path.isdir(path)


def _load_docs(spark, files: list[str], kmer: int, text_col: str = "text"):
    """FASTA/FASTQ files → (doc_id, text) char-k-mer docs; parquet → as-is."""
    from pyspark.sql import functions as F

    from .sources.fasta import read_fasta, seq_to_char_tokens

    if all(_is_parquet(f) for f in files):
        df = spark.read.parquet(*files)
        return df
    fa = read_fasta(spark, ",".join(files) if len(files) == 1 else files[0])
    if len(files) > 1:
        for f in files[1:]:
            fa = fa.unionByName(read_fasta(spark, f))
    return seq_to_char_tokens(fa).select(
        F.col("header").alias("doc_id"), F.col(text_col)
    )


def _score_args(score: str | None, score_type: str):
    """Reference -s semantics: float in [0,1) = score threshold; integer
    > 1 = min-match-length mode; under binomial it is -10log10(FPR)."""
    from .config import ScoringConfig

    kwargs: dict = {"method": score_type}
    if score is not None:
        val = float(score)
        if score_type == "binomial":
            kwargs["min_fpr"] = 10.0 ** (-val / 10.0)
        elif val >= 1 and float(score).is_integer():
            kwargs["method"] = "minmatchlen"
            kwargs["min_match_len"] = int(val)
        else:
            kwargs["threshold"] = val
    return ScoringConfig(**kwargs)


def _load_filters(spark, specs: list[str], order: list[str] | None = None):
    """-f entries: parquet registry path(s) and/or .bf path prefixes."""
    from .operators.maker import load_registry
    from .sources.bf_format import bf_to_registry_row

    out = []
    for spec in specs:
        if _is_parquet(spec):
            out.extend(load_registry(spark.read.parquet(spec)))
        else:
            prefix = spec[:-3] if spec.endswith(".bf") else spec
            out.append(bf_to_registry_row(prefix))
    return out


def _write_filter_dicts_as_registry(spark, filters: list[dict], path: str) -> None:
    """Persist load_registry-shaped dicts (e.g. progressive_build output)
    as a registry parquet the categorizer CLI can reload."""
    from .sources.tables import REGISTRY_LAYOUT_VERSION, REGISTRY_SCHEMA

    rows = []
    for f in filters:
        so = f.get("seg_offsets")
        rows.append(
            (
                f["filter_id"], REGISTRY_LAYOUT_VERSION,
                int(f["m_bits"]), int(f["num_hashes"]),
                int(f.get("block_bits", 0)), int(f["shingle_w"]),
                bool(f.get("canonical", False)),
                f.get("hash_family", "poly"),
                float(f.get("target_fpr", 0.0)),
                int(f.get("expected_entries", 0)), 0, 0,
                int(f.get("num_entries", 0)), 0,
                float(f.get("approx_fpr", f.get("fpr", 0.0))),
                float(f.get("fpr", 0.0)), 0.0,
                so.tobytes() if so is not None and hasattr(so, "tobytes") else so,
                bytes(f["bitmap"]), None,
            )
        )
    spark.createDataFrame(rows, REGISTRY_SCHEMA).write.mode("overwrite").parquet(path)


def _cmd_maker(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="biobloom_spark maker",
        description="Create a Bloom filter (registry row; optionally .bf+.txt) "
        "from FASTA/FASTQ or parquet inputs (biobloommaker twin).",
    )
    ap.add_argument("files", nargs="+", metavar="FILE")
    ap.add_argument("-p", "--file_prefix", required=True, help="filter prefix and filter ID")
    ap.add_argument("-o", "--output_dir", default=".", help="output location")
    ap.add_argument("-f", "--fal_pos_rate", type=float, default=0.0078125)
    ap.add_argument("-g", "--hash_num", type=int, default=None)
    ap.add_argument("-k", "--kmer_size", type=int, default=25)
    ap.add_argument("-n", "--num_ele", type=int, default=0,
                    help="expected elements; 0 = derive from input")
    ap.add_argument("-s", "--subtract", default=None,
                    help=".bf prefix or registry parquet to veto k-mers from")
    ap.add_argument("-r", "--progressive", default=None, metavar="N",
                    help="progressive build score threshold (float) or min match length (int)")
    ap.add_argument("-a", "--streak", type=int, default=3,
                    help="kept so the CLI accepts the reference's options; only "
                    "the skip-ahead test reference reads it, and it does not "
                    "change exhaustive scoring")
    ap.add_argument("-e", "--iterations", type=int, default=10)
    ap.add_argument("-i", "--inclusive", action="store_true")
    ap.add_argument("-b", "--baitScore", default=None,
                    help="score threshold when considering only bait [r]")
    ap.add_argument("-t", "--threads", type=int, default=0, help="local[N] cores")
    ap.add_argument("--key-col", default=None,
                    help="parquet mode: build one filter per value of this column "
                    "(web extension; default = single filter named by -p)")
    ap.add_argument("--classic", action="store_true",
                    help="reference classic bit layout (block_bits=0); also "
                    "exports the .bf + INI container")
    ap.add_argument("--num-seeds", type=int, default=0, metavar="N",
                    help="progressive mode: first N files are seeds "
                    "(default 0 = auto: non-FASTQ files are seeds, "
                    "FASTQ files are reads; at least one of each)")
    ap.add_argument("--no-canonical", action="store_true",
                    help="FASTA/FASTQ mode: hash k-mers forward-strand only "
                    "(default hashes canonically — a k-mer and its reverse "
                    "complement match, like the reference's ntHash)")
    ap.add_argument("--nthash", action="store_true",
                    help="hash with the published ntHash NTC64/NTM64 family "
                    "(probe-compatible with reference-built .bf filters; "
                    "implies --classic; canonical by construction)")
    args = ap.parse_args(argv)
    if args.num_ele and args.key_col:
        # -n pins one sizing dict keyed by the file prefix, but --key-col
        # builds a filter per key value — reducers would KeyError on every
        # other key.  Derive sizing from the input instead.
        ap.error("-n/--num_ele cannot be combined with --key-col "
                 "(per-key sizing is derived from the input)")

    from pyspark.sql import functions as F

    from .config import BloomParams, ScoringConfig
    from .operators.maker import _sizing, build_filters, load_registry
    from .operators.progressive import progressive_build
    from .sources.bf_format import registry_row_to_bf

    spark = _spark(args.threads)
    dna_mode = not all(_is_parquet(f) for f in args.files)
    params = BloomParams(
        fpr=args.fal_pos_rate,
        num_hashes=args.hash_num,
        shingle_w=args.kmer_size,
        block_bits=0 if (args.classic or args.nthash) else 64,
        canonical=dna_mode and not args.no_canonical and not args.nthash,
        hash_family="nthash" if args.nthash else "poly",
    )
    subtract = None
    if args.subtract:
        sub = _load_filters(spark, [args.subtract])[0]
        subtract = (sub["bitmap"], sub["m_bits"], sub["num_hashes"],
                    sub.get("block_bits", 0), sub.get("seg_offsets"))

    os.makedirs(args.output_dir, exist_ok=True)
    registry_path = os.path.join(args.output_dir, f"{args.file_prefix}_registry.parquet")

    if args.progressive is not None:
        # reference usage: FILE... are the seeds, trailing FASTQ the reads
        # (BioBloomMaker -r accepts multiple seed FASTAs before the reads)
        if len(args.files) < 2:
            ap.error("-r progressive mode needs seed FILE(s) plus read FILE(s)")
        if args.num_seeds > 0:
            n_seeds = args.num_seeds
        else:
            # auto-split: FASTQ extensions are reads, everything before the
            # first FASTQ is a seed; all-parquet/FASTA input → 1 seed file
            fq_exts = (".fq", ".fastq", ".fq.gz", ".fastq.gz")
            is_read = [f.lower().endswith(fq_exts) for f in args.files]
            n_seeds = is_read.index(True) if any(is_read) else 1
        if not (1 <= n_seeds < len(args.files)):
            ap.error(f"--num-seeds {n_seeds} leaves no read files "
                     f"(got {len(args.files)} files)")
        seeds = _load_docs(spark, args.files[:n_seeds], args.kmer_size)
        reads = _load_docs(spark, args.files[n_seeds:], args.kmer_size)
        val = float(args.progressive)
        scoring = (
            ScoringConfig(method="minmatchlen", min_match_len=int(val),
                          streak_threshold=args.streak)
            if val >= 1 and val.is_integer()
            else ScoringConfig(threshold=val, streak_threshold=args.streak)
        )
        filters, tagged = progressive_build(
            spark, seeds, reads, filter_id=args.file_prefix,
            params=params, scoring=scoring, max_iterations=args.iterations,
            subtract=subtract, inclusive_pairs=args.inclusive,
        )
        tagged.write.mode("overwrite").parquet(
            os.path.join(args.output_dir, f"{args.file_prefix}_tagged.parquet")
        )
        _write_filter_dicts_as_registry(spark, filters, registry_path)
    else:
        docs = _load_docs(spark, args.files, args.kmer_size)
        if args.key_col:
            key_col = args.key_col
        else:
            docs = docs.withColumn("__fkey", F.lit(args.file_prefix))
            key_col = "__fkey"
        expected = None
        if args.num_ele:
            expected = {args.file_prefix: {
                "expected_entries": args.num_ele, **_sizing(args.num_ele, params),
            }}
        reg = build_filters(
            spark, docs, key_col=key_col, id_col=docs.columns[0],
            params=params, subtract=subtract, expected_sizing=expected,
            registry_path=registry_path,
        )
        filters = load_registry(reg)

    if args.classic:
        for f in spark.read.parquet(registry_path).collect():
            registry_row_to_bf(f.asDict(), args.output_dir)
    print(f"registry: {registry_path}")
    return 0


def _cmd_categorizer(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="biobloom_spark categorizer",
        description="Categorize sequences/documents against filters "
        "(biobloomcategorizer twin).",
    )
    ap.add_argument("files", nargs="+", metavar="FILE")
    ap.add_argument("-f", "--filter_files", required=True,
                    help='space-separated registry parquet paths or .bf prefixes, e.g. "a.bf b.bf"')
    ap.add_argument("-p", "--prefix", default="./bbc_out")
    ap.add_argument("-e", "--paired_mode", action="store_true")
    ap.add_argument("-i", "--inclusive", action="store_true")
    ap.add_argument("-s", "--score", default=None)
    ap.add_argument("-S", "--score_type", default="simple",
                    choices=("simple", "harmonic", "binomial"))
    ap.add_argument("-b", "--best_hit", action="store_true")
    ap.add_argument("-w", "--with_score", action="store_true")
    ap.add_argument("-c", "--ordered", action="store_true")
    ap.add_argument("-d", "--stdout_filter", action="store_true",
                    help="print reads matching the first filter to stdout")
    ap.add_argument("-n", "--inverse", action="store_true")
    ap.add_argument("-r", "--streak", type=int, default=3,
                    help="kept so the CLI accepts the reference's options; only "
                    "the skip-ahead test reference reads it, and it does not "
                    "change exhaustive scoring")
    ap.add_argument("-D", "--dust", action="store_true")
    ap.add_argument("-t", "--threads", type=int, default=0)
    ap.add_argument("-k", "--kmer_size", type=int, default=None,
                    help="override shingle window (default: from the filters)")
    ap.add_argument("--demux", action="store_true",
                    help="write demultiplexed per-category outputs (S7)")
    ap.add_argument("--fa", action="store_true",
                    help="demultiplexed per-category FASTA output")
    ap.add_argument("--fq", action="store_true",
                    help="demultiplexed per-category FASTQ output")
    ap.add_argument("-g", "--gz_output", action="store_true",
                    help="gzip the demultiplexed text outputs")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .config import CategorizerConfig
    from .operators.categorizer import (
        categorize,
        categorize_pairs,
        summarize,
        write_demultiplexed,
        write_demultiplexed_reads,
    )
    from .sources.fasta import pair_reads, read_fasta, seq_to_char_tokens

    spark = _spark(args.threads)
    filters = _load_filters(spark, args.filter_files.split())
    if args.kmer_size:
        filters = [{**f, "shingle_w": args.kmer_size} for f in filters]
    # raw records kept when the input is FASTA/FASTQ: the --fa/--fq demux
    # sink re-emits them verbatim per assigned category
    records = None
    if not all(_is_parquet(f) for f in args.files):
        records = read_fasta(spark, args.files[0])
        for f in args.files[1:]:
            records = records.unionByName(read_fasta(spark, f))
        records = records.cache()

    from dataclasses import replace

    scoring = _score_args(args.score, args.score_type)
    if args.dust:
        scoring = replace(scoring, dust=True)
    if args.streak != 3:
        scoring = replace(scoring, streak_threshold=args.streak)
    mode = ("besthit" if args.best_hit else
            "ordered" if args.ordered else
            "scores" if args.with_score else "std")
    cfg = CategorizerConfig(
        mode=mode, scoring=scoring, inclusive_pairs=args.inclusive,
        ordered_filters=[f["filter_id"] for f in filters] if args.ordered else None,
    )

    if records is not None:
        docs = seq_to_char_tokens(records).select(
            F.col("header").alias("doc_id"), "text"
        )
    else:
        docs = _load_docs(spark, args.files, args.kmer_size or filters[0]["shingle_w"])
    id_col = docs.columns[0]
    if args.paired_mode and not _is_parquet(args.files[0]):
        paired = pair_reads(docs.selectExpr(f"{id_col} as header", "text as seq")
                            .withColumn("qual", F.lit(None).cast("string"))
                            .withColumn("comment", F.lit(None).cast("string"))
                            .withColumn("path", F.lit("")))
        res = categorize_pairs(spark, paired, filters, cfg, id_col="pair_key")
        id_col = "pair_key"
        docs = paired
    else:
        res = categorize(spark, docs, filters, cfg, id_col=id_col)
    res = res.cache()

    out_prefix = args.prefix
    os.makedirs(os.path.dirname(out_prefix) or ".", exist_ok=True)
    summary = summarize(res, [f["filter_id"] for f in filters])
    summary.toPandas().to_csv(f"{out_prefix}_summary.tsv", sep="\t", index=False)
    if args.demux:
        write_demultiplexed(res, docs, f"{out_prefix}_demux", id_col=id_col)
    if (args.fa or args.fq) and records is not None and id_col != "pair_key":
        write_demultiplexed_reads(
            res.withColumnRenamed(id_col, "header"), records,
            f"{out_prefix}_reads",
            fmt="fasta" if args.fa else "fastq", gzip_output=args.gz_output,
        )
    if args.stdout_filter or args.inverse:
        first = filters[0]["filter_id"]
        pred = F.col("assigned") != first if args.inverse else F.col("assigned") == first
        for row in res.filter(pred).select(id_col).toLocalIterator():
            print(row[0])
    print(f"summary: {out_prefix}_summary.tsv", file=sys.stderr)
    return 0


def _cmd_mimaker(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="biobloom_spark mimaker",
        description="Create a multi-index Bloom filter (biobloommimaker twin: "
        "one uint16-ID-per-slot sketch over many labels).",
    )
    ap.add_argument("files", nargs="+", metavar="FILE")
    ap.add_argument("-p", "--file_prefix", required=True)
    ap.add_argument("-o", "--output_dir", default=".")
    ap.add_argument("-b", "--occupancy", type=float, default=0.5)
    ap.add_argument("-n", "--num_ele", type=int, default=0)
    ap.add_argument("-S", "--seed_str", default=None,
                    help="spaced seeds, e.g. '10101 11011' (skip-gram masks "
                    "over the w-token window; seed length = -k)")
    ap.add_argument("-F", "--by_file", action="store_true",
                    help="assign IDs by file rather than by record header")
    ap.add_argument("-g", "--hash_num", type=int, default=3)
    ap.add_argument("-k", "--kmer_size", type=int, default=25)
    ap.add_argument("-t", "--threads", type=int, default=0)
    ap.add_argument("--key-col", default=None,
                    help="parquet mode: label column (e.g. lang)")
    ap.add_argument("--no-canonical", action="store_true",
                    help="DNA inputs: hash forward-strand only "
                    "(default hashes canonically, matching the reference "
                    "miBF's ntHash semantics)")
    ap.add_argument("--nthash", action="store_true",
                    help="hash k-mers with the published ntHash NTC64/NTM64 "
                    "family (canonical by construction; k-mer mode only)")
    ap.add_argument("--store", action="store_true",
                    help="build into a parquet-segment store (no process "
                    "ever holds the full id array; resumable checkpoints) "
                    "instead of a single-array parquet")
    args = ap.parse_args(argv)
    if args.nthash and args.seed_str:
        ap.error("--nthash is k-mer mode only (spaced seeds are poly-family)")

    from pyspark.sql import functions as F

    from .operators.mibf import build_mibf, save_mibf

    spark = _spark(args.threads)
    dna_mode = not all(_is_parquet(f) for f in args.files)
    if not dna_mode:
        docs = spark.read.parquet(*args.files)
        key_col = args.key_col or "lang"
    else:
        from .sources.fasta import read_fasta, seq_to_char_tokens

        fa = read_fasta(spark, args.files[0])
        for f in args.files[1:]:
            fa = fa.unionByName(read_fasta(spark, f))
        docs = seq_to_char_tokens(fa)
        # ID source (-F): per input file vs per record header
        docs = docs.withColumn(
            "__label",
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1) if args.by_file
            else F.col("header"),
        ).select(F.col("header").alias("doc_id"), "text", "__label")
        key_col = "__label"
    common = dict(
        key_col=key_col, shingle_w=args.kmer_size,
        num_hashes=args.hash_num, occupancy=args.occupancy,
        seeds=args.seed_str.split() if args.seed_str else None,
        expected_entries=args.num_ele or None,
        canonical=(dna_mode and not args.no_canonical and not args.nthash
                   and not args.seed_str),
        hash_family="nthash" if args.nthash else "poly",
    )
    os.makedirs(args.output_dir, exist_ok=True)
    if args.store:
        from .operators.mibf_store import build_mibf_store

        path = os.path.join(args.output_dir, f"{args.file_prefix}_mibf_store")
        sk = build_mibf_store(spark, docs, path, **common)
    else:
        sk = build_mibf(spark, docs, **common)
        path = os.path.join(args.output_dir, f"{args.file_prefix}_mibf.parquet")
        save_mibf(spark, sk, path)
    print(f"mibf: {path}  labels={len(sk.labels)} occupancy={sk.occupancy():.3f} "
          f"saturation={sk.saturation_rate():.4f}")
    return 0


def _cmd_micategorizer(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="biobloom_spark micategorizer",
        description="Classify against a multi-index Bloom filter "
        "(biobloommicategorizer twin).",
    )
    ap.add_argument("files", nargs="+", metavar="FILE")
    ap.add_argument("-f", "--filter", required=True, help="miBF parquet path")
    ap.add_argument("-p", "--prefix", default="./bbmi_out")
    ap.add_argument("-e", "--paired_mode", action="store_true",
                    help="pair mates (smart pairing by header); counts sum "
                    "across mates before the significance test")
    ap.add_argument("-s", "--min_FPR", type=float, default=100.0,
                    help="minimum -10*log10(FPR) threshold for a match [100]")
    ap.add_argument("-m", "--multi", type=float, default=2.0,
                    help="multi-match window on full counts [2]")
    ap.add_argument("-i", "--hitOnly", action="store_true")
    ap.add_argument("-t", "--threads", type=int, default=0)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.mibf import (
        classify_mibf,
        classify_mibf_pairs,
        load_mibf,
        mibf_summarize,
    )

    spark = _spark(args.threads)
    # store layout ({path}/meta + {path}/segments) vs single-array parquet;
    # classify_mibf takes either and picks its route from the id bytes
    if os.path.isdir(os.path.join(args.filter, "meta")):
        from .operators.mibf_store import load_mibf_store

        sk = load_mibf_store(spark, args.filter)
    else:
        sk = load_mibf(spark, args.filter)
    docs = _load_docs(spark, args.files, sk.shingle_w)
    id_col = docs.columns[0]
    alpha = 10.0 ** (-args.min_FPR / 10.0)
    if args.paired_mode:
        from .sources.fasta import pair_reads

        paired = pair_reads(
            docs.selectExpr(f"{id_col} as header", "text as seq")
            .withColumn("qual", F.lit(None).cast("string"))
            .withColumn("comment", F.lit(None).cast("string"))
            .withColumn("path", F.lit(""))
        )
        id_col = "pair_key"
        res = classify_mibf_pairs(
            spark, paired, sk, alpha=alpha, multi_thresh=int(args.multi),
            id_col=id_col,
        ).cache()
    else:
        res = classify_mibf(
            spark, docs, sk, alpha=alpha,
            multi_thresh=int(args.multi), id_col=id_col,
        ).cache()
    os.makedirs(os.path.dirname(args.prefix) or ".", exist_ok=True)
    mibf_summarize(res).toPandas().to_csv(
        f"{args.prefix}_summary.tsv", sep="\t", index=False
    )
    out = res.filter(F.col("assigned") != "noMatch") if args.hitOnly else res
    for row in out.select(id_col, "assigned", "best_score").toLocalIterator():
        print(f"{row[0]}\t{row[1]}\t{row[2]:.1f}")
    print(f"summary: {args.prefix}_summary.tsv", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] in ("-h", "--help"):
        print("usage: python -m biobloom_spark {maker|categorizer} [options]\n"
              "Twin CLIs of biobloommaker / biobloomcategorizer — see --help "
              "of each subcommand.", file=sys.stderr)
        return 0 if argv else 2
    cmd, rest = argv[0], argv[1:]
    if cmd == "maker":
        return _cmd_maker(rest)
    if cmd == "categorizer":
        return _cmd_categorizer(rest)
    if cmd == "mimaker":
        return _cmd_mimaker(rest)
    if cmd == "micategorizer":
        return _cmd_micategorizer(rest)
    print(
        f"unknown subcommand {cmd!r} (expected maker|categorizer|mimaker|micategorizer)",
        file=sys.stderr,
    )
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
