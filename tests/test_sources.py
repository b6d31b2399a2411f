"""Data-source readers: BED / FASTQ / FASTA / VCF / ADAM / BAM shim +
sinks, mirroring the reference's datasource DDL suites
(tests/datasources/*TestSuite.scala)."""

import os

import pytest
from pyspark.sql import functions as F

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_bed_reader(spark):
    from sequila_spark.sources import read_bed

    rows = {r["name"] or r["contig"]: r for r in read_bed(spark, f"{FIX}/test.bed").collect()}
    assert len(rows) == 3
    r1 = rows["feat1"]
    assert (r1["contig"], r1["pos_start"], r1["pos_end"]) == ("1", 101, 200)  # 0->1 based
    assert r1["strand"] == "+"
    assert r1["item_rgb"] == [255, 0, 0]
    assert r1["block_sizes"] == [10, 20]
    assert r1["block_starts"] == [0, 80]
    r2 = rows["2"]
    assert (r2["contig"], r2["pos_start"], r2["pos_end"]) == ("2", 1, 50)
    assert r2["name"] is None
    assert rows["mito"]["contig"] == "MT"  # chrM -> MT


def test_fastq_reader(spark):
    from sequila_spark.sources import read_fastq

    df = read_fastq(spark, f"{FIX}/test.fastq")
    rows = sorted(df.collect(), key=lambda r: r["pos_y"])
    assert len(rows) == 3
    r = rows[0]
    assert r["sample_id"] == "test"
    assert r["instrument_name"] == "EAS139"
    assert r["run_id"] == 136
    assert r["flowcell_id"] == "FC706VJ"
    assert (r["lane"], r["tile"], r["pos_x"], r["pos_y"]) == (2, 2104, 15343, 197393)
    assert r["filter_passed"] is False  # Y = filtered out
    assert r["index_seq"] == "ATCACG"
    assert r["seq"] == "ACGTACGTACGT"
    assert r["qual"] == "IIIIIIIIIIII"
    assert rows[1]["filter_passed"] is True
    assert rows[2]["index_seq"] is None  # short header


def test_fasta_reader(spark):
    from sequila_spark.sources import read_fasta, read_fasta_bases

    contigs = {r["contig"]: r for r in read_fasta(spark, f"{FIX}/test.fasta").collect()}
    assert contigs["1"]["seq"] == "ACGTACGTACGTACGTACGT"
    assert contigs["1"]["pos_end"] == 20
    assert contigs["MT"]["seq"] == "TTTTGGGGCC"

    bases = read_fasta_bases(spark, f"{FIX}/test.fasta")
    row = bases.where((F.col("contig") == "1") & (F.col("pos") == 3)).first()
    assert row["ref"] == "G"
    assert bases.count() == 30


def test_fasta_bases_linear_against_numpy(spark, tmp_path):
    """read_fasta_bases over 3 x 200 kb contigs with lowercase and N runs
    and an empty contig equals a numpy truth: one uppercased row per base,
    1-based positions, none for the empty contig."""
    import numpy as np

    from sequila_spark.sources import read_fasta_bases

    rng = np.random.default_rng(7)
    alphabet = np.frombuffer(b"ACGTacgtN", dtype=np.uint8)
    seqs = {}
    for name in ("chr1", "2", "X"):
        s = alphabet[rng.integers(0, 9, 200_000)]
        s[50_000:50_500] = ord("N")
        seqs[name] = s.tobytes().decode()
    path = tmp_path / "three.fa"
    with open(path, "w") as fh:
        for name, s in seqs.items():
            fh.write(f">{name} description\n")
            fh.writelines(s[i : i + 60] + "\n" for i in range(0, len(s), 60))
        fh.write(">empty\n")
    got = read_fasta_bases(spark, str(path))
    assert [f.name for f in got.schema.fields] == ["contig", "pos", "ref"]
    digest = got.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.sum(F.col("pos").cast("long") * F.ascii("ref")).alias("wsum"),
        F.sum((F.col("ref") == "N").cast("int")).alias("ns"),
    )
    want = {}
    for name, s in seqs.items():
        up = np.frombuffer(s.upper().encode(), dtype=np.uint8).astype(np.int64)
        pos = np.arange(1, len(up) + 1)
        want[name.replace("chr", "")] = (
            len(up), 1, len(up), int((pos * up).sum()), int((up == ord("N")).sum())
        )
    assert {r["contig"]: tuple(r)[1:] for r in digest.collect()} == want


def test_vcf_reader(spark):
    from sequila_spark.sources import read_vcf

    df = read_vcf(spark, f"{FIX}/test.vcf")
    rows = sorted(df.collect(), key=lambda r: (r["contig"], r["pos_start"]))
    assert len(rows) == 5
    by_id = {r["id"]: r for r in rows if r["id"]}
    rs = by_id["rs6054257"]
    assert (rs["contig"], rs["pos_start"], rs["pos_end"]) == ("20", 14370, 14370)
    assert rs["ref"] == "G" and rs["alt"] == ["A"]
    assert rs["qual"] == 29.0 and rs["filter"] == "PASS"
    assert rs["info"]["NS"] == "3" and rs["info"]["DP"] == "14"
    multi = by_id["rs6040355"]
    assert multi["contig"] == "20"  # chr20 normalized
    assert multi["alt"] == ["G", "T"]
    indel = [r for r in rows if r["contig"] == "MT"][0]
    assert indel["pos_end"] == indel["pos_start"] + 2  # REF 'TCG' spans 3
    x = [r for r in rows if r["contig"] == "X"][0]
    assert x["qual"] is None and x["filter"] is None and x["info"] is None


def test_adam_reader(spark, tmp_path):
    from sequila_spark.sources import read_adam

    src = spark.createDataFrame(
        [("r1", "chr5", 99, 150, 60, "ACGT")],
        "readName string, contigName string, start long, end long, "
        "mappingQuality int, sequence string",
    )
    path = str(tmp_path / "adam.parquet")
    src.write.parquet(path)
    row = read_adam(spark, path).first()
    assert row["qname"] == "r1"
    assert row["contig"] == "5"
    assert row["pos_start"] == 100  # 0-based -> 1-based
    assert row["pos_end"] == 150
    assert row["mapq"] == 60
    assert row["seq"] == "ACGT"


def test_read_alignments_parquet(spark, tmp_path):
    from sequila_spark.sources import read_alignments

    src = spark.createDataFrame(
        [("r1", "chrX", 10, 20)], "qname string, contig string, pos_start int, pos_end int"
    )
    path = str(tmp_path / "sampleA.alignments.parquet")
    src.write.parquet(path)
    row = read_alignments(spark, path).first()
    assert row["contig"] == "X"
    assert row["sample_id"] == "sampleA"


def test_read_cram_native_first(spark):
    # CRAM now decodes natively (see test_cram_native); a missing file
    # surfaces as FileNotFoundError from the native path, not an obscure
    # pysam complaint
    from sequila_spark.sources import read_bam

    with pytest.raises(FileNotFoundError):
        read_bam(spark, "/nonexistent.cram")


def test_sinks_roundtrip(spark, tmp_path):
    from sequila_spark.sources import write_result

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    p1 = str(tmp_path / "out_parquet")
    write_result(df, p1, fmt="parquet")
    assert spark.read.parquet(p1).count() == 2
    p2 = str(tmp_path / "out_tsv")
    write_result(df, p2, fmt="tsv", single_file=True)
    back = spark.read.option("delimiter", "\t").option("header", True).csv(p2)
    assert back.count() == 2
    files = [f for f in os.listdir(p2) if f.endswith(".csv")]
    assert len(files) == 1  # coalesced single file


def test_orc_sink(spark, tmp_path):
    from sequila_spark.sources import write_result

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    p = str(tmp_path / "out_orc")
    write_result(df, p, fmt="orc")
    assert spark.read.orc(p).count() == 1
