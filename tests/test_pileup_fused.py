"""Fused pileup: pileup() over a read_bam_native relation counts bases inside
the decode (read_bam_pileup_counts / bamvec.iter_span_pileup_counts) and
must give exactly the rows of the dense plan (``fuse=False``), which
explodes every base in Spark."""

import os
import re

import pytest
from pyspark.sql import functions as F

from sequila_spark.operators.pileup import pileup
from sequila_spark.sources import bamvec as BV
from sequila_spark.sources import read_bam_native, write_bam
from sequila_spark.sources.bam import _plan_bam_spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MDBAM_FIX = os.path.join(ROOT, "fixtures", "mdbam")


def is_fused(df) -> bool:
    """The fused pileup scan: MapInArrow ... [contig#, pos#, base#, cnt#],
    and no per-base Generate anywhere in the plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    fused = bool(re.search(r"MapInArrow [^\[]*\[contig#\d+, pos#\d+, base#", plan))
    assert not (fused and "Generate" in plan), plan
    return fused


def rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


# contig '1' and '2' references (positions 1..60)
REF = {"1": "ACGTACGTAC" * 6, "2": "TTGCATTGCA" * 6}

# (qname, flag, contig, pos_start, mapq, cigar, seq): every CIGAR op, both
# strands, '=' and 'N' seq codes, an unmapped-but-placed read with and
# without a CIGAR, a read with an empty seq, a secondary low-mapq read,
# query-only and reference-only CIGARs, and an unplaced read.
READS = [
    ("m1", 0, "1", 3, 60, "8M", "GTACGTAC"),
    ("m2", 16, "1", 3, 60, "8M", "GTTCGTAC"),
    ("i1", 0, "1", 5, 60, "3M2I3M", "ACGCCTAC"),
    ("s1", 16, "1", 6, 60, "2S4M2D3M2H", "TTCGTAACG"),
    ("n1", 0, "1", 4, 60, "3M10N3M", "TACTAC"),
    ("e1", 0, "1", 7, 60, "2H3=1X2=1P2M", "GTAGGTAC"),
    ("c1", 16, "1", 9, 60, "6M", "AC=NTG"),
    ("u1", 4, "1", 9, 0, "*", "ACGTAC"),
    ("u2", 4, "1", 10, 0, "4M", "CGTA"),
    ("z1", 0, "1", 12, 60, "5M", None),
    ("q1", 256, "1", 5, 3, "6M", "ACCTAC"),
    ("x1", 0, "1", 20, 60, "5S", "ACGTA"),
    ("d1", 0, "1", 20, 60, "4D", "ACGT"),
    ("m3", 0, "2", 1, 30, "10M", "TTGCATTGCA"),
    ("m4", 16, "2", 5, 30, "3M1I4M", "ATTAGCAT"),
    ("un", 4, None, 0, 0, "*", "ACGT"),
]


@pytest.fixture(scope="module")
def cigar_bam(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [
            (q, fl, c, p, p + 50 if c else 0, mq, cg, sq,
             "I" * len(sq) if sq else None)
            for q, fl, c, p, mq, cg, sq in READS
        ],
        "qname string, flag int, contig string, pos_start int, pos_end int, "
        "mapq int, cigar string, seq string, qual string",
    )
    path = str(tmp_path_factory.mktemp("cigarbam") / "S1.bam")
    write_bam(df, path, refs=[("1", 60), ("2", 60)], index=True)
    return path


@pytest.fixture(scope="module")
def ref_rel(spark):
    return spark.createDataFrame(
        [(c, i + 1, b) for c, s in REF.items() for i, b in enumerate(s)],
        "contig string, pos int, ref string",
    )


KWARGS = [
    {},
    {"alts": False},
    {"flag_mask": 1796},
    {"flag_mask": 1796, "min_mapq": 10},
    {"strand_case": True},
    {"flag_mask": 1796, "strand_case": True},
]


def _check_equal(reads, ref, kw):
    fused = pileup(reads, ref=ref, **kw)
    assert is_fused(fused), kw
    # strategy="dense": with a reference expression fuse=False alone would
    # take the sparse plan
    dense = pileup(reads, ref=ref, fuse=False, strategy="dense", **kw)
    assert not is_fused(dense)
    got = rows(fused)
    assert got and got == rows(dense), kw


@pytest.mark.parametrize("kw", KWARGS, ids=lambda kw: ",".join(kw) or "default")
def test_fused_matches_dense_cigar_ops(spark, cigar_bam, ref_rel, kw):
    """Every CIGAR op, '='/'N' bases, unmapped-but-placed reads (with and
    without a CIGAR), an empty-seq read (decoded as a NULL seq: no bases),
    filters and strand casing: fused rows equal the dense plan's, with a
    reference relation, a reference expression and no reference."""
    reads = read_bam_native(spark, cigar_bam)
    for ref in (ref_rel, None, lambda c, p: F.lit("A")):
        _check_equal(reads, ref, kw)


@pytest.mark.parametrize("kw", KWARGS, ids=lambda kw: ",".join(kw) or "default")
def test_fused_matches_dense_slice_spans(spark, slice_bam, kw):
    """The slice BAM in many small owner-by-start spans (reads cross span
    edges) and as one span."""
    for chunk in (10_000_000, 5_000):
        _check_equal(read_bam_native(spark, slice_bam, chunk=chunk), None, kw)
    assert read_bam_native(spark, slice_bam, chunk=5_000).rdd.getNumPartitions() > 3


def _counts(path, **kw):
    refs, spans = _plan_bam_spans(path, 5_000)
    out = {}
    for p, _s, span in spans:
        for b in BV.iter_span_pileup_counts(p, refs[p], span, **kw):
            for c, pos, base, n in zip(*[col.to_pylist() for col in b.columns]):
                out[(c, pos, base)] = out.get((c, pos, base), 0) + n
    return out


def test_pileup_counts_ckern_batches_and_slices(slice_bam, cigar_bam, monkeypatch):
    """iter_span_pileup_counts gives the same counts with the C kernel on
    and off, with tiny decode batches (records split across batches) and
    with at most 7 bases expanded at a time (many partial counts merged)."""
    from sequila_spark.sources import _ckern

    for path in (slice_bam, cigar_bam):
        for kw in ({}, {"strand_case": True, "flag_mask": 1796, "min_mapq": 10}):
            base = _counts(path, **kw)
            assert base
            with monkeypatch.context() as m:
                m.setattr(BV, "_MAX_BASES", 7)
                assert _counts(path, batch_bytes=3_000, **kw) == base
            monkeypatch.setattr(_ckern, "_LIB", False)
            assert _counts(path, batch_bytes=3_000, **kw) == base
            monkeypatch.setattr(_ckern, "_LIB", None)


def test_query_length_past_seq_raises(spark, tmp_path):
    """A CIGAR that consumes more query bases than a non-empty seq holds
    is invalid SAM: the fused reader raises a ValueError naming it
    instead of reading past the record's seq bytes."""
    df = spark.createDataFrame(
        [("r1", 0, "1", 5, 14, 60, "10M", "ACGTA", "IIIII")],
        "qname string, flag int, contig string, pos_start int, pos_end int, "
        "mapq int, cigar string, seq string, qual string",
    )
    path = str(tmp_path / "bad.bam")
    write_bam(df, path, refs=[("1", 60)], index=True)
    refs, spans = _plan_bam_spans(path, 10_000_000)
    with pytest.raises(ValueError, match="CIGAR query length 10 exceeds l_seq 5"):
        for p, _s, span in spans:
            list(BV.iter_span_pileup_counts(p, refs[p], span))
    with pytest.raises(Exception, match="CIGAR query length 10 exceeds l_seq 5"):
        pileup(read_bam_native(spark, path)).collect()


def test_fused_pileup_matches_samtools_golden(spark, tmp_path):
    """Independent truth: the MD BAM fixture written as an indexed BAM,
    piled up on the fused path with samtools' flag mask and strand casing,
    equals the cleaned ``samtools mpileup -x`` golden (the pileup_mdbam
    query's projection)."""
    from sequila_spark.converters import _render_alts

    path = str(tmp_path / "mdbam.bam")
    write_bam(spark.read.parquet(f"{MDBAM_FIX}/reads.parquet"), path, index=True)
    ref = spark.read.parquet(f"{MDBAM_FIX}/ref_bases.parquet")
    p = pileup(read_bam_native(spark, path), ref=ref, flag_mask=1796, strand_case=True)
    assert is_fused(p)
    got = p.select(
        "contig",
        F.col("pos_start").alias("pos"),
        F.upper("ref").alias("ref"),
        "coverage",
        "countRef",
        "countNonRef",
        _render_alts(F.col("alts")).alias("alts_str"),
    )
    golden = spark.read.parquet(f"{MDBAM_FIX}/golden_pileup.parquet")
    want = rows(golden.select(*got.columns))
    assert len(want) > 20_000
    assert rows(got) == want


def test_fuse_eligibility(spark, cigar_bam, ref_rel):
    """Calls the counts reader cannot serve keep the dense plan; fuse=True
    on them raises."""
    reads = read_bam_native(spark, cigar_bam)
    for kw in (
        {"quals": True},
        {"use_cigar": False},
        {"strategy": "dense"},
    ):
        assert not is_fused(pileup(reads, ref=ref_rel, **kw)), kw
        with pytest.raises(ValueError, match="fuse=True"):
            pileup(reads, ref=ref_rel, fuse=True, **kw)
    pruned = read_bam_native(
        spark, cigar_bam, columns=["contig", "pos_start", "pos_end", "cigar", "seq"]
    )
    # no flag column: the dense filter ignores flag_mask, so does the reader
    assert rows(pileup(pruned, flag_mask=1796)) == rows(
        pileup(pruned, flag_mask=1796, fuse=False)
    )
    assert is_fused(pileup(pruned, flag_mask=1796))
