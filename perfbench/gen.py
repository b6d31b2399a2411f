"""Seeded genomic inputs and their truth, computed in numpy only.

Everything here is a pure function of a ``numpy.random.Generator``: the
same seed gives byte-identical inputs.  The truth functions never call
Spark or the package, so they are an independent check of its output.
Coordinates are 1-based and end-inclusive, as in the package.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

READ_LEN = 150
# CIGAR mix of the short reads.  Each template reads exactly READ_LEN
# bases; D/I/S exercise the reference/query coordinate split.
TEMPLATES = (
    ("150M", 0.50),
    ("75M2D75M", 0.10),
    ("70M3I77M", 0.10),
    ("5S145M", 0.10),
    ("140M10S", 0.10),
    ("30M1D50M2I68M", 0.05),
    ("10S60M4D80M", 0.05),
)
MISMATCH_RATE = 0.01
BASES = np.frombuffer(b"ACGT", np.uint8)
CONTIGS = ("chr1", "chr2", "chr3")


@dataclass(frozen=True)
class Template:
    cigar: str
    ref_span: int
    blocks: tuple[tuple[int, int, int], ...]  # (ref offset, query offset, length) of M ops


def _parse(cigar: str) -> Template:
    ref = query = 0
    blocks = []
    for n, op in re.findall(r"(\d+)([MIDS])", cigar):
        n = int(n)
        if op == "M":
            blocks.append((ref, query, n))
        if op in "MD":
            ref += n
        if op in "MIS":
            query += n
    if query != READ_LEN:
        raise ValueError(f"template {cigar} reads {query} bases, not {READ_LEN}")
    return Template(cigar, ref, tuple(blocks))


PARSED = tuple(_parse(c) for c, _ in TEMPLATES)
WEIGHTS = np.array([w for _, w in TEMPLATES])
MAX_SPAN = max(t.ref_span for t in PARSED)


@dataclass
class Alignments:
    """Short reads over a generated genome, as parallel numpy columns."""

    genome: np.ndarray  # (contigs, length) base codes 0..3
    contig: np.ndarray  # contig index per read
    start: np.ndarray  # 1-based leftmost aligned position
    tmpl: np.ndarray  # index into PARSED
    seq: np.ndarray  # (reads, READ_LEN) base codes
    mismatch: np.ndarray  # (reads, READ_LEN) bool: M base differs from genome
    qual: np.ndarray  # (reads, READ_LEN) phred
    reverse: np.ndarray  # bool strand

    @property
    def n(self) -> int:
        return len(self.start)

    @property
    def end(self) -> np.ndarray:
        spans = np.array([t.ref_span for t in PARSED])
        return self.start + spans[self.tmpl] - 1


def genome(rng: np.random.Generator, length: int) -> np.ndarray:
    return rng.integers(0, 4, (len(CONTIGS), length), dtype=np.uint8)


def alignments(rng: np.random.Generator, ref: np.ndarray, n: int) -> Alignments:
    """``n`` reads with uniform starts, the CIGAR mix above and about
    MISMATCH_RATE substituted bases inside M blocks."""
    n_contigs, length = ref.shape
    tmpl = rng.choice(len(PARSED), n, p=WEIGHTS)
    contig = rng.integers(0, n_contigs, n)
    start = rng.integers(1, length - MAX_SPAN + 2, n)
    # inserted and soft-clipped bases are random; M bases copy the genome
    seq = rng.integers(0, 4, (n, READ_LEN), dtype=np.uint8)
    in_m = np.zeros((n, READ_LEN), bool)
    for t, tp in enumerate(PARSED):
        rows = np.flatnonzero(tmpl == t)
        for ro, qo, ln in tp.blocks:
            cols = (start[rows] - 1 + ro)[:, None] + np.arange(ln)
            seq[rows, qo : qo + ln] = ref[contig[rows][:, None], cols]
            in_m[rows, qo : qo + ln] = True
    mismatch = in_m & (rng.random((n, READ_LEN)) < MISMATCH_RATE)
    shift = rng.integers(1, 4, (n, READ_LEN), dtype=np.uint8)
    seq = np.where(mismatch, (seq + shift) % 4, seq).astype(np.uint8)
    qual = rng.integers(20, 41, (n, READ_LEN), dtype=np.uint8)
    reverse = rng.random(n) < 0.5
    return Alignments(ref, contig, start, tmpl, seq, mismatch, qual, reverse)


def intervals(
    rng: np.random.Generator, n: int, length: int, widths: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(contig index, start, end) for ``n`` intervals of the given widths,
    placed uniformly inside contigs of ``length``."""
    contig = rng.integers(0, len(CONTIGS), n)
    start = rng.integers(1, length - widths + 2)
    return contig, start, start + widths - 1


def target_widths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Log-uniform 100..10,000 bp features (exons to small genes)."""
    return np.exp(rng.uniform(np.log(100), np.log(10_000), n)).astype(np.int64)


def long_read_widths(rng: np.random.Generator, n: int, cap: int = 400_000) -> np.ndarray:
    """Nanopore-class lengths: lognormal, median 15 kb, sigma 1, capped."""
    w = rng.lognormal(np.log(15_000), 1.0, n).astype(np.int64)
    return np.clip(w, READ_LEN, cap)


# ---------------------------------------------------------------- truth


def depth(a: Alignments) -> np.ndarray:
    """(contigs, length + 1) per-base depth from the M blocks; column 0 is
    unused so that column p is 1-based position p."""
    n_contigs, length = a.genome.shape
    width = length + 2
    opens, closes = [], []
    for t, tp in enumerate(PARSED):
        rows = np.flatnonzero(a.tmpl == t)
        base = a.contig[rows] * width + a.start[rows]
        for ro, _qo, ln in tp.blocks:
            opens.append(base + ro)
            closes.append(base + ro + ln)
    size = n_contigs * width
    diff = np.bincount(np.concatenate(opens), minlength=size) - np.bincount(
        np.concatenate(closes), minlength=size
    )
    return np.cumsum(diff.reshape(n_contigs, width), axis=1)[:, : length + 1]


def coverage_truth(d: np.ndarray) -> dict:
    """Digest sums of the blocks output: maximal runs of equal, non-zero
    depth, one row per run."""
    rows = s_start = s_end = s_cov = s_bases = 0
    for row in d[:, 1:]:
        edges = np.flatnonzero(np.diff(row, prepend=0, append=0)) + 1
        starts, ends = edges[:-1], edges[1:] - 1  # 1-based, inclusive
        cov = row[starts - 1]
        keep = cov > 0
        starts, ends, cov = starts[keep], ends[keep], cov[keep]
        rows += len(starts)
        s_start += int(starts.sum())
        s_end += int(ends.sum())
        s_cov += int(cov.sum())
        s_bases += int((cov * (ends - starts + 1)).sum())
    return {"rows": rows, "sum_start": s_start, "sum_end": s_end,
            "sum_cov": s_cov, "sum_bases": s_bases}


def pileup_truth(a: Alignments, d: np.ndarray) -> dict:
    """Digest sums of the per-position pileup against the generated genome."""
    covered = d[:, 1:] > 0
    pos = np.nonzero(covered)[1] + 1
    nonref = int(a.mismatch.sum())
    r, q = np.nonzero(a.mismatch)
    # reference position of each mismatched query base
    qpos_to_ref = np.full((len(PARSED), READ_LEN), -1, np.int64)
    for t, tp in enumerate(PARSED):
        for ro, qo, ln in tp.blocks:
            qpos_to_ref[t, qo : qo + ln] = ro + np.arange(ln)
    mpos = a.start[r] + qpos_to_ref[a.tmpl[r], q]
    alt_keys = np.unique(
        (a.contig[r].astype(np.int64) << 40) | (mpos << 2) | a.seq[r, q]
    )
    total = int(d[:, 1:].sum())
    return {
        "rows": int(covered.sum()),
        "sum_pos": int(pos.sum()),
        # reference base as 1..4 for A, C, G, T: checks the FASTA join
        "sum_refcode": int((a.genome[covered] + 1).sum()),
        "sum_cov": total,
        "sum_ref": total - nonref,
        "sum_nonref": nonref,
        "alt_entries": len(alt_keys),
    }


def overlap_counts(
    l_contig, l_start, l_end, r_contig, r_start, r_end
) -> np.ndarray:
    """For each right interval, the number of left intervals overlapping it:
    #(l_start <= r_end) - #(l_end < r_start), per contig."""
    counts = np.zeros(len(r_start), np.int64)
    for c in range(len(CONTIGS)):
        ls = np.sort(l_start[l_contig == c])
        le = np.sort(l_end[l_contig == c])
        sel = np.flatnonzero(r_contig == c)
        counts[sel] = np.searchsorted(ls, r_end[sel], "right") - np.searchsorted(
            le, r_start[sel], "left"
        )
    return counts


def bin_rows(start, end, bin_size: int) -> int:
    """Rows the binned plan's explode makes: one per bin an interval spans."""
    return int((end // bin_size - start // bin_size + 1).sum())


def binned_candidates(
    l_contig, l_start, l_end, r_contig, r_start, r_end, bin_size: int
) -> int:
    """Rows the binned equi-join on (contig, bin) produces before its
    overlap filter: sum over (contig, bin) of left rows x right rows."""

    def bin_keys(c, s, e):
        lo, hi = s // bin_size, e // bin_size
        reps = hi - lo + 1
        first = np.repeat(lo, reps)
        offs = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
        return (np.repeat(c, reps).astype(np.int64) << 40) | (first + offs)

    lk, lc = np.unique(bin_keys(l_contig, l_start, l_end), return_counts=True)
    rk, rc = np.unique(bin_keys(r_contig, r_start, r_end), return_counts=True)
    _, li, ri = np.intersect1d(lk, rk, assume_unique=True, return_indices=True)
    return int((lc[li] * rc[ri]).sum())
