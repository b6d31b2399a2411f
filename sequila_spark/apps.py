"""Command-line applications mirroring the reference's runnable apps
(apps/FeatureCounts.scala:35-50, apps/DepthOfCoverage.scala:53-59,
apps/PileupComparison.scala:18-40): thin argparse mains over the operators,
writing through the standard sinks.

Usage:
  python -m sequila_spark.apps feature-counts --reads r.parquet \
      --targets t.bed --output out --format csv
  python -m sequila_spark.apps depth-of-coverage --reads r.parquet \
      --mode blocks --output out
  python -m sequila_spark.apps pileup --reads r.parquet --ref ref.fasta \
      --output out --quals
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    from sequila_spark.session import get_spark

    return get_spark(app_name=app)


def _read_reads(spark: SparkSession, path: str):
    """Alignment input dispatch: .bam and .cram decode through the native
    codecs (read_bam), anything else is a parquet alignment relation."""
    from sequila_spark.sources import read_alignments, read_bam

    if path.endswith((".bam", ".cram")):
        return read_bam(spark, path)
    return read_alignments(spark, path)


def _read_intervals(spark: SparkSession, path: str):
    from sequila_spark.sources import read_bed

    if path.endswith(".bed"):
        return read_bed(spark, path)
    return _read_reads(spark, path)


def feature_counts(args: argparse.Namespace) -> None:
    from pyspark.sql import functions as F

    from sequila_spark.operators.range_join import range_join
    from sequila_spark.sources import write_result

    spark = _spark("feature_counts")
    reads = _read_intervals(spark, args.reads)
    targets = _read_intervals(spark, args.targets)
    joined = range_join(reads, targets, min_overlap=args.min_overlap, max_gap=args.max_gap)
    # group per target feature: BED name if present, else the target interval
    keys = ["name"] if "name" in targets.columns else [
        c for c in joined.columns if c.endswith("_r")
    ]
    counts = joined.groupBy(*keys).agg(F.count("*").alias("read_count"))
    write_result(counts, args.output, fmt=args.format, single_file=args.single_file)


def depth_of_coverage(args: argparse.Namespace) -> None:
    from sequila_spark.operators.coverage import coverage
    from sequila_spark.sources import write_result

    spark = _spark("depth_of_coverage")
    reads = _read_reads(spark, args.reads)
    cov = coverage(
        reads,
        mode=args.mode,
        window_size=args.window,
        flag_mask=args.flag_mask,
        min_mapq=args.min_mapq,
    ).orderBy("contig", "pos_start")
    write_result(cov, args.output, fmt=args.format, single_file=args.single_file)


def pileup_app(args: argparse.Namespace) -> None:
    from sequila_spark.operators.pileup import pileup
    from sequila_spark.sources import read_fasta_bases, write_result

    spark = _spark("pileup")
    reads = _read_reads(spark, args.reads)
    ref = read_fasta_bases(spark, args.ref) if args.ref else None
    p = pileup(
        reads,
        ref=ref,
        alts=True,
        quals=args.quals,
        flag_mask=args.flag_mask,
        min_mapq=args.min_mapq,
    )
    write_result(p, args.output, fmt=args.format, single_file=args.single_file)


def bam_to_parquet(args: argparse.Namespace) -> None:
    """Canonical ingest: decode a BAM once with the native codec and store
    as sample-partitioned, coordinate-sorted parquet (write_alignments) —
    every later query gets partition pruning + row-group skipping."""
    from sequila_spark.sources import write_alignments

    spark = _spark("bam_to_parquet")
    write_alignments(_read_reads(spark, args.reads), args.output)


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(prog="sequila_spark.apps")
    sub = parser.add_subparsers(dest="cmd", required=True)

    def common(p: argparse.ArgumentParser) -> None:
        p.add_argument("--reads", required=True)
        p.add_argument("--output", required=True)
        p.add_argument("--format", default="parquet", choices=["parquet", "csv", "tsv", "orc"])
        p.add_argument("--single-file", action="store_true")
        p.add_argument("--flag-mask", type=int, default=1796)
        p.add_argument("--min-mapq", type=int, default=0)

    fc = sub.add_parser("feature-counts")
    common(fc)
    fc.add_argument("--targets", required=True)
    fc.add_argument("--min-overlap", type=int, default=1)
    fc.add_argument("--max-gap", type=int, default=0)
    fc.set_defaults(fn=feature_counts)

    dc = sub.add_parser("depth-of-coverage")
    common(dc)
    dc.add_argument("--mode", default="blocks", choices=["blocks", "bases", "windows"])
    dc.add_argument("--window", type=int, default=None)
    dc.set_defaults(fn=depth_of_coverage)

    pu = sub.add_parser("pileup")
    common(pu)
    pu.add_argument("--ref", default=None)
    pu.add_argument("--quals", action="store_true")
    pu.set_defaults(fn=pileup_app)

    b2p = sub.add_parser("bam-to-parquet")
    b2p.add_argument("--reads", required=True)
    b2p.add_argument("--output", required=True)
    b2p.set_defaults(fn=bam_to_parquet)

    args = parser.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
