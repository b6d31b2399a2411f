"""FASTA reference reader.

The reference attaches ref bases from an indexed FASTA opened per partition
(pileup/model/Reference.scala:10-28).  Spark-first equivalent: parse the
FASTA into a relation — one row per contig (compact) or one row per base
(joinable with pileup positions by (contig, pos)).

Parsing uses ``wholeTextFiles`` (FASTA record structure spans lines, so the
format is not line-splittable).  For whole-genome references the recommended
path is a one-time conversion to parquet with this reader and
``df.write.parquet``; downstream operators then get pushdown/pruning for
free and only contig-sized strings ever travel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequila_spark import schemas as S
from sequila_spark.functions.intervals import clean_contig


def _parse(content: str) -> list[tuple[str, str]]:
    contigs: list[tuple[str, str]] = []
    name, buf = None, []
    for line in content.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.startswith(">"):
            if name is not None:
                contigs.append((name, "".join(buf)))
            name, buf = line[1:].split()[0], []
        else:
            buf.append(line)
    if name is not None:
        contigs.append((name, "".join(buf)))
    return contigs


def read_fasta(spark: SparkSession, path: str) -> DataFrame:
    """(contig, pos_start, pos_end, seq) — one row per contig, 1-based
    end-inclusive coordinates, contig names normalized."""
    files = spark.sparkContext.wholeTextFiles(path)
    rows = files.flatMap(lambda fc: _parse(fc[1]))
    df = spark.createDataFrame(rows, "contig string, seq string")
    return df.select(
        clean_contig(F.col("contig")).alias(S.CONTIG),
        F.lit(1).alias(S.START),
        F.length("seq").cast("int").alias(S.END),
        F.col("seq"),
    )


def read_fasta_bases(spark: SparkSession, path: str) -> DataFrame:
    """(contig, pos, ref) — one row per base, joinable with pileup output;
    ``ref`` is uppercased and an empty contig yields no rows.

    Linear in contig length: each contig's uppercased sequence is split
    into characters once and posexploded, so no output row carries the
    sequence.  Parsing is still one task per FASTA file and every contig
    is one row of it; for a genome-scale reference convert this relation
    to parquet once and read that instead."""
    per_contig = read_fasta(spark, path).where(F.col(S.END) > 0)
    return per_contig.select(
        F.col(S.CONTIG),
        F.posexplode(F.split(F.upper(F.col("seq")), "")).alias("i", S.REF),
    ).select(
        F.col(S.CONTIG),
        (F.col("i") + 1).cast("int").alias("pos"),
        F.col(S.REF),
    )
