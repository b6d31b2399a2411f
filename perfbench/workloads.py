"""The benchmark's workloads: inputs written in set-up, the operations of one
iteration, the layer probes of the traced run, and the truth checks.

Every operation goes through the package's public functions only
(``read_bam_native``, ``write_bam``, ``read_fasta_bases``, ``coverage``,
``range_join``, ``SequilaSession.sql``).  Its timed action is a one-row
digest that reads every output column, checked against truth computed in
numpy from the generated data (``gen``).

Sizes are fixed per workload, so every seed does the same amount of work.
They are small because one run, set-up included, must fit in about 40 s
on a 4-core host; see LAYERS.md for what each workload exercises.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

import gen
from sequila_spark import coverage, range_join
from sequila_spark.operators.range_join import _DEFAULT_BIN_CAP, _DEFAULT_BIN_SIZE
from sequila_spark.sources import read_bam_native, read_fasta_bases, write_bam

# range_join's defaults, for the candidate-row model of its binned plan
BIN_SIZE = _DEFAULT_BIN_SIZE
LONG_THRESHOLD = _DEFAULT_BIN_CAP * _DEFAULT_BIN_SIZE


class CheckFailed(Exception):
    """An operation's output differs from the truth or from an earlier hash."""


def digest(df: DataFrame, sums: dict) -> dict:
    """Row count, the given sums and ``sum(xxhash64(every column))`` in one
    action.  Maps are hashed as their entry arrays (Spark refuses to hash a
    map), so no output column can be pruned away."""
    cols = [
        F.map_entries(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        *[expr.alias(name) for name, expr in sums.items()],
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("hash"),
    ).collect()[0]
    return {k: None if v is None else int(v) for k, v in row.asDict().items()}


def noop(df: DataFrame) -> None:
    """Materialise every row and column without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def count(df: DataFrame) -> None:
    """Produce every row.  Over ``mapInArrow`` the Python side still decodes
    every column; the JVM only counts, so no row is converted."""
    df.count()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Base: subclasses set ``name`` and ``records`` (input records one
    iteration reads) and implement the hooks below."""

    name = ""
    records = 0

    def __init__(self, spark, ss, data_dir: str, hashes: dict):
        self.spark, self.ss, self.data_dir = spark, ss, data_dir
        self.hashes = hashes  # output name -> expected hash

    def path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    def write_inputs(self, rng: np.random.Generator) -> None:
        """Generate and write the inputs (timed as set-up)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the truth and register relations (not timed)."""
        raise NotImplementedError

    def operations(self) -> list:
        """[(name, fn(tracer))] — one iteration."""
        raise NotImplementedError

    def probes(self) -> list:
        """[(name, fn())] — layer-alone measurements of the traced run."""
        raise NotImplementedError

    def layers(self, tr, warmup, runtime: dict) -> dict:
        """Per-layer metrics of this workload from the traced rounds' spans
        (``tr``), the spans of the new session's first, untraced iteration
        (``warmup``) and the per-iteration Spark runtime figures
        (``instrument.spark_metrics``)."""
        raise NotImplementedError

    def check(self, output: str, got: dict, truth: dict) -> None:
        bad = {k: (got.get(k), v) for k, v in truth.items() if got.get(k) != v}
        expected = self.hashes.setdefault(output, got["hash"])
        if got["hash"] != expected:
            bad["hash"] = (got["hash"], expected)
        if bad:
            raise CheckFailed(f"{self.name}/{output}: (got, want) {bad}")


# ------------------------------------------------------------ BAM inputs


def reads_frame(spark, a: gen.Alignments) -> DataFrame:
    n = a.n
    as_str = lambda m: pa.array(m.view(f"S{gen.READ_LEN}").ravel()).cast(pa.string())  # noqa: E731
    table = pa.table({
        "qname": pa.array(np.char.add("r", np.arange(n).astype(str))),
        "flag": pa.array(np.where(a.reverse, 16, 0).astype(np.int32)),
        "contig": pa.array(np.array(gen.CONTIGS)[a.contig]),
        "pos_start": pa.array(a.start.astype(np.int32)),
        "pos_end": pa.array(a.end.astype(np.int32)),
        "mapq": pa.array(np.full(n, 60, np.int32)),
        "cigar": pa.array(np.array([t.cigar for t in gen.PARSED])[a.tmpl]),
        "seq": as_str(gen.BASES[a.seq]),
        "qual": as_str(a.qual + 33),
    })
    return spark.createDataFrame(table)


def write_fasta(path: str, genome: np.ndarray, width: int = 60) -> None:
    with open(path, "wb") as fh:
        for name, codes in zip(gen.CONTIGS, genome):
            seq = gen.BASES[codes].tobytes()
            fh.write(b">" + name.encode() + b"\n")
            fh.write(b"\n".join(seq[i : i + width] for i in range(0, len(seq), width)))
            fh.write(b"\n")


def coverage_sums() -> dict:
    return {
        "sum_start": F.sum("pos_start"),
        "sum_end": F.sum("pos_end"),
        "sum_cov": F.sum("coverage"),
        "sum_bases": F.sum(
            F.col("coverage").cast("long") * (F.col("pos_end") - F.col("pos_start") + 1)
        ),
    }


def pileup_sums() -> dict:
    return {
        "sum_pos": F.sum("pos_start"),
        "sum_refcode": F.sum(F.expr("instr('ACGT', ref)")),
        "sum_cov": F.sum("coverage"),
        "sum_ref": F.sum("countRef"),
        "sum_nonref": F.sum("countNonRef"),
        "alt_entries": F.sum(F.size("alts")),
    }


class BamCoveragePileup(Workload):
    """Depth of coverage through both entry points, the fused
    ``coverage(read_bam_native(...))`` and ``coverage('reads')`` in SQL, then
    the pileup TVF against a reference genome, ``pileup('pile', '', 'ref')``
    with ``ref`` a view over ``read_fasta_bases``.  The reads are seeded,
    coordinate-sorted, indexed BAMs written by ``write_bam`` in set-up: a
    large one for coverage and a small one, with its FASTA, for pileup."""

    name = "bam_coverage_pileup"
    # coverage and the decode probe: large enough that decode and coverage
    # outweigh the per-job fixed cost (2.5x depth over 3 x 1 Mb)
    cov_contig_len = 1_000_000
    cov_reads = 50_000
    # pileup: read_fasta_bases is quadratic in contig length, so the
    # genome with a FASTA stays short (60x depth over 3 x 6 kb)
    pile_contig_len = 6_000
    pile_reads = 7_200
    records = 2 * cov_reads + pile_reads  # BAM records one iteration reads

    def __init__(self, *args):
        super().__init__(*args)
        self.write_s: list[float] = []  # write_bam time of each set-up

    def write_reads(self, rng, name: str, contig_len: int, n: int):
        """Generate ``n`` reads over a new genome and write them as an
        indexed BAM; returns the alignments and the ``write_bam`` time."""
        g = gen.genome(rng, contig_len)
        aln = gen.alignments(rng, g, n)
        df = reads_frame(self.spark, aln)
        t0 = time.perf_counter()
        write_bam(df, self.path(name), refs=[(c, contig_len) for c in gen.CONTIGS], index=True)
        return aln, time.perf_counter() - t0

    def write_inputs(self, rng):
        self.cov_aln, cov_s = self.write_reads(rng, "cov.bam", self.cov_contig_len, self.cov_reads)
        self.pile_aln, pile_s = self.write_reads(rng, "pile.bam", self.pile_contig_len,
                                                self.pile_reads)
        self.write_s.append(cov_s + pile_s)
        write_fasta(self.path("ref.fa"), self.pile_aln.genome)

    def prepare(self):
        self.cov_truth = gen.coverage_truth(gen.depth(self.cov_aln))
        self.pileup_truth = gen.pileup_truth(self.pile_aln, gen.depth(self.pile_aln))
        read_bam_native(self.spark, self.path("cov.bam")).createOrReplaceTempView("reads")
        read_bam_native(self.spark, self.path("pile.bam")).createOrReplaceTempView("pile")
        read_fasta_bases(self.spark, self.path("ref.fa")).createOrReplaceTempView("ref")

    def operations(self):
        return [("coverage_fused", self.fused), ("coverage_sql", self.coverage_sql),
                ("pileup_sql", self.pileup_sql)]

    def fused(self, tr):
        with tr.span("sources.read_bam_native"):
            reads = read_bam_native(self.spark, self.path("cov.bam"))
        with tr.span("coverage.plan"):
            cov = coverage(reads)
        with tr.span("action"):
            got = digest(cov, coverage_sums())
        self.check("coverage", got, self.cov_truth)

    def coverage_sql(self, tr):
        with tr.span("sql.rewrite"):
            cov = self.ss.sql("SELECT * FROM coverage('reads')")
        with tr.span("action"):
            got = digest(cov, coverage_sums())
        self.check("coverage", got, self.cov_truth)

    def pileup_sql(self, tr):
        with tr.span("sql.rewrite"):
            p = self.ss.sql("SELECT * FROM pileup('pile', '', 'ref')")
        with tr.span("action"):
            got = digest(p, pileup_sums())
        self.check("pileup", got, self.pileup_truth)

    def probes(self):
        return [
            ("sources.bam_decode",
             lambda: count(read_bam_native(self.spark, self.path("cov.bam")))),
            ("sources.bam_decode_pile",
             lambda: count(read_bam_native(self.spark, self.path("pile.bam")))),
            ("sources.fasta",
             lambda: noop(read_fasta_bases(self.spark, self.path("ref.fa")))),
        ]

    def layers(self, tr, warmup, runtime):
        decode = median(tr.durations("probe.sources.bam_decode"))
        decode_pile = median(tr.durations("probe.sources.bam_decode_pile"))
        fasta = median(tr.durations("probe.sources.fasta"))
        cov_sql = median(tr.durations("op.coverage_sql"))
        cov_rewrite = median(tr.durations("sql.rewrite", parent="op.coverage_sql"))
        pileup_rewrite = median(tr.durations("sql.rewrite", parent="op.pileup_sql"))
        mb = os.path.getsize(self.path("cov.bam")) / 2**20
        return {
            "sources.bam_decode_s": decode,
            "sources.bam_decode_mb_per_s": mb / decode if decode else 0.0,
            "sources.bam_write_s": median(self.write_s),
            "sources.fasta_s": fasta,
            "sql.rewrite_s": median(tr.durations("sql.rewrite")),
            "coverage.fused_s": median(tr.durations("op.coverage_fused")),
            "coverage.sql_s": cov_sql,
            # the SQL path decodes through read_bam_native, as the probe does
            "coverage.self_s": cov_sql - cov_rewrite - decode,
            "coverage.out_rows": self.cov_truth["rows"],
            # the decode and FASTA stages of the pileup plan run side by
            # side, so only the longer of the two is on its critical path
            "pileup.self_s": median(tr.durations("op.pileup_sql")) - pileup_rewrite
            - max(fasta, decode_pile),
            "pileup.bases_expanded": self.pileup_truth["sum_cov"],
            "pileup.out_rows": self.pileup_truth["rows"],
        }


# ------------------------------------------------------- interval inputs


def write_intervals(path: str, contig, start, end, files: int = 1, **extra) -> None:
    """Intervals as parquet: ``files`` part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "contig": pa.array(np.array(gen.CONTIGS)[contig]),
        "pos_start": pa.array(start.astype(np.int32)),
        "pos_end": pa.array(end.astype(np.int32)),
        **{k: pa.array(v.astype(np.int32)) for k, v in extra.items()},
    })
    step = -(-len(table) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def count_sums() -> dict:
    return {
        "pairs": F.sum("count"),
        "weighted": F.sum(F.col("target_id").cast("long") * F.col("count")),
    }


class JoinWorkload(Workload):
    """Set-up shared by the two join workloads: 20k seeded targets of
    100-10,000 bp and the left-side intervals of the subclass."""

    contig_len = 8_000_000
    n_targets = 20_000
    n_left = 0
    left_files = 4  # one part file per core, as a 4-task writer leaves them

    def left_widths(self, rng) -> np.ndarray:
        raise NotImplementedError

    def write_inputs(self, rng):
        self.targets_iv = gen.intervals(rng, self.n_targets, self.contig_len,
                                        gen.target_widths(rng, self.n_targets))
        self.left_iv = gen.intervals(rng, self.n_left, self.contig_len, self.left_widths(rng))
        write_intervals(self.path("targets"), *self.targets_iv,
                        target_id=np.arange(self.n_targets))
        write_intervals(self.path("left"), *self.left_iv, files=self.left_files)

    def prepare(self):
        self.counts = gen.overlap_counts(*self.left_iv, *self.targets_iv)
        hit = self.counts > 0
        ids = np.arange(self.n_targets)
        self.count_truth = {
            "rows": int(hit.sum()),
            "pairs": int(self.counts.sum()),
            "weighted": int((ids * self.counts).sum()),
        }
        self.left = self.spark.read.parquet(self.path("left"))
        self.targets = self.spark.read.parquet(self.path("targets"))

    def probes(self):
        return [("scan", lambda: (noop(self.left), noop(self.targets)))]

    def count_per_target(self, tr):
        with tr.span("range_join.plan"):
            j = range_join(self.left, self.targets)
        with tr.span("action"):
            got = digest(j.groupBy("target_id").count(), count_sums())
        self.check("counts", got, self.count_truth)

    def join_layers(self, tr, warmup, runtime, ops: list[str], pairs: int, candidates: int,
                    exploded: int, long_rows: float):
        """``candidates`` and ``exploded`` come from a numpy model of the
        binned plan; the executed plan's explode (Generate) output is
        reported beside them, so a plan the model no longer describes
        shows as a mismatch of the two exploded counts."""
        plans, first = tr.durations("range_join.plan"), warmup.durations("range_join.plan")
        rounds = [sum(x) for x in zip(*(tr.durations("op." + o) for o in ops))]
        per_round_plans = len(plans) // max(len(rounds), 1)
        return {
            # the session's first call runs the max_width probe job; later
            # calls on the same inputs reuse its result
            "range_join.plan_s": first[0] if first else 0.0,
            "range_join.self_s": median(rounds)
            - per_round_plans * median(plans) - median(tr.durations("probe.scan")),
            "range_join.pairs": pairs,
            "range_join.candidate_rows": candidates,
            "range_join.useful_ratio": pairs / candidates if candidates else 0.0,
            "range_join.exploded_rows": runtime["spark.generate_rows"],
            "range_join.exploded_rows_model": exploded,
            "range_join.long_rows": long_rows,
        }


class FeatureCounts(JoinWorkload):
    """featureCounts: 150-bp read intervals joined with targets, counted
    per target."""

    name = "feature_counts"
    n_left = 1_000_000
    records = n_left

    def left_widths(self, rng):
        return np.full(self.n_left, gen.READ_LEN, np.int64)

    def operations(self):
        return [("feature_counts", self.count_per_target)]

    def layers(self, tr, warmup, runtime):
        cand = gen.binned_candidates(*self.left_iv, *self.targets_iv, BIN_SIZE)
        exploded = gen.bin_rows(*self.left_iv[1:], BIN_SIZE) + gen.bin_rows(
            *self.targets_iv[1:], BIN_SIZE)
        return self.join_layers(tr, warmup, runtime, ["feature_counts"], self.count_truth["pairs"],
                                cand, exploded, 0.0)


class LongReadJoin(JoinWorkload):
    """Nanopore-class reads against the same targets: an inner join with
    per-target counts, and the targets hit by any long read (left_semi)."""

    name = "long_read_join"
    n_left = 60_000
    records = n_left + JoinWorkload.n_targets  # left sides of the two joins

    def left_widths(self, rng):
        return gen.long_read_widths(rng, self.n_left)

    def prepare(self):
        super().prepare()
        hit = self.counts > 0
        self.semi_truth = {"rows": int(hit.sum()), "sum_id": int(np.flatnonzero(hit).sum())}

    def operations(self):
        return [("long_inner", self.count_per_target), ("long_semi", self.semi)]

    def semi(self, tr):
        with tr.span("range_join.plan"):
            j = range_join(self.targets, self.left, how="left_semi")
        with tr.span("action"):
            got = digest(j, {"sum_id": F.sum("target_id")})
        self.check("semi", got, self.semi_truth)

    def layers(self, tr, warmup, runtime):
        lc, ls, le = self.left_iv
        tc, ts, te = self.targets_iv
        long = (le - ls) >= LONG_THRESHOLD
        short = ~long
        # binned branch on short reads, plus the contig-equi-join of the
        # long reads against every target (once per join direction)
        per_contig = sum(
            int((lc[long] == c).sum()) * int((tc == c).sum()) for c in range(len(gen.CONTIGS))
        )
        cand = (
            gen.binned_candidates(lc[short], ls[short], le[short], tc, ts, te, BIN_SIZE)
            + gen.binned_candidates(tc, ts, te, lc[short], ls[short], le[short], BIN_SIZE)
            + 2 * per_contig
        )
        # both joins explode the short reads and every target
        exploded = 2 * (gen.bin_rows(ls[short], le[short], BIN_SIZE)
                        + gen.bin_rows(ts, te, BIN_SIZE))
        pairs = 2 * self.count_truth["pairs"]
        return self.join_layers(tr, warmup, runtime, ["long_inner", "long_semi"], pairs, cand,
                                exploded, float(long.mean()))


WORKLOADS = {w.name: w for w in (BamCoveragePileup, FeatureCounts, LongReadJoin)}
