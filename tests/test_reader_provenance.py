"""Reader provenance through views: coverage() and pileup() over a temp view
of a read_bam_native relation (the SQL ``coverage('v')``/``pileup('v')``
functions read it back with ``spark.table``) take the same fused plans as
the direct calls, and any transformed relation keeps the dense plan."""

import gc
import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from sequila_spark import planutil
from sequila_spark.operators.coverage import coverage
from sequila_spark.operators.pileup import pileup
from sequila_spark.session import SequilaSession
from sequila_spark.sources import read_bam_native, write_bam
from sequila_spark.sources.bam import read_cram_native

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLICE_READS = os.path.join(ROOT, "fixtures", "slicebam", "reads.parquet")
CRAM = os.path.join(ROOT, "fixtures", "bigcram", "NA12878.slice.cram")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def cov_fused(df) -> bool:
    return bool(re.search(r"MapInArrow [^\[]*\[contig#\d+, chunk#", _plan(df)))


def pile_fused(df) -> bool:
    return bool(re.search(r"MapInArrow [^\[]*\[contig#\d+, pos#\d+, base#", _plan(df)))


def rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def digest(df) -> tuple:
    cols = [
        F.map_entries(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    r = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(20,0)"))).collect()[0]
    return tuple(r)


def _register_view(spark, name, path):
    """A view over a reader relation that nothing else references."""
    read_bam_native(spark, path).createOrReplaceTempView(name)
    gc.collect()


@pytest.fixture(scope="module")
def ref_view(spark):
    ref = spark.range(1, 31_000).select(
        F.lit("1").alias("contig"),
        F.col("id").cast("int").alias("pos"),
        F.element_at(F.array(*map(F.lit, "ACGT")), (F.col("id") % 4 + 1).cast("int")).alias("ref"),
    )
    ref.createOrReplaceTempView("prov_ref")
    return "prov_ref"


def test_sql_functions_take_fused_plans(spark, slice_bam, ref_view):
    """coverage('v') and pileup('v', '', 'ref') over a reader view, and over
    a SELECT * view of it, plan exactly as the direct fused calls do, and
    give the dense plan's rows."""
    ss = SequilaSession(spark)
    _register_view(spark, "prov_v", slice_bam)
    spark.sql("CREATE OR REPLACE TEMP VIEW prov_v2 AS SELECT * FROM prov_v")
    reads = read_bam_native(spark, slice_bam)
    direct_cov = coverage(reads)
    direct_pile = pileup(reads, ref=spark.table(ref_view))
    assert cov_fused(direct_cov) and pile_fused(direct_pile)
    for view in ("prov_v", "prov_v2"):
        cov = ss.sql(f"SELECT * FROM coverage('{view}')")
        pile = ss.sql(f"SELECT * FROM pileup('{view}', '', '{ref_view}')")
        assert cov.sameSemantics(direct_cov), view
        assert pile.sameSemantics(direct_pile), view
    assert rows(cov) == rows(coverage(reads, fuse=False))
    assert rows(pile) == rows(pileup(reads, ref=spark.table(ref_view), fuse=False))


def test_transformed_views_keep_dense_plan(spark, slice_bam):
    """Filtered, projected, sample-filtered and replaced views do not fuse,
    and their rows equal the dense plan's (every transform here keeps all
    rows)."""
    ss = SequilaSession(spark)
    base = read_bam_native(spark, slice_bam)
    want_cov = rows(coverage(base, fuse=False))
    want_pile = rows(pileup(base, fuse=False))
    views = {
        "filtered": base.where("mapq >= 0"),
        "projected": base.select(
            "sample_id", "flag", "contig", "pos_start", "pos_end", "mapq", "cigar", "seq"
        ),
        "replaced": spark.read.parquet(SLICE_READS),
    }
    for name, df in views.items():
        df.createOrReplaceTempView("prov_t")
        cov = ss.sql("SELECT * FROM coverage('prov_t')")
        pile = ss.sql("SELECT * FROM pileup('prov_t')")
        assert not cov_fused(cov) and not pile_fused(pile), name
        assert rows(cov) == want_cov, name
        assert rows(pile) == want_pile, name
    _register_view(spark, "prov_t", slice_bam)
    cov = ss.sql("SELECT * FROM coverage('prov_t', 'NA12878')")
    pile = ss.sql("SELECT * FROM pileup('prov_t', 'NA12878')")
    assert not cov_fused(cov) and not pile_fused(pile)
    assert rows(cov) == want_cov
    assert rows(pile) == want_pile


def test_provenance_outlives_other_readers(spark, slice_bam):
    """A reader view keeps its provenance however many other readers are
    created after it, and an earlier ``arrow=False`` relation keeps its own
    when the same call is repeated; a column-pruned CRAM relation, which
    nothing can fuse on, is not registered."""
    _register_view(spark, "prov_first", slice_bam)
    scalar = read_bam_native(spark, slice_bam, arrow=False)
    for chunk in range(2_000, 2_000 + 17 * 500, 500):
        read_bam_native(spark, slice_bam, chunk=chunk)
    again = read_bam_native(spark, slice_bam, arrow=False)
    assert not scalar.sameSemantics(again)
    gc.collect()
    assert cov_fused(coverage(spark.table("prov_first")))
    assert pile_fused(pileup(spark.table("prov_first")))
    assert cov_fused(coverage(scalar)) and cov_fused(coverage(again))
    n = len(planutil._READERS)
    read_cram_native(spark, CRAM, columns=["flag", "contig", "pos_start", "pos_end"])
    assert len(planutil._READERS) == n


def test_sql_command_keeps_function_views(spark, slice_bam):
    """A temp view created over a SQL table function stays readable after
    later calls: its SQL text names the per-call view, which a command
    keeps, while a query's per-call views are dropped."""
    ss = SequilaSession(spark)
    _register_view(spark, "prov_cmd", slice_bam)

    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("__sequila_tvf_")}

    before = views()
    ss.sql("CREATE OR REPLACE TEMP VIEW prov_cov AS SELECT * FROM coverage('prov_cmd')")
    ss.sql("SELECT * FROM coverage('prov_cmd')").count()
    assert len(views() - before) == 1
    want = rows(coverage(read_bam_native(spark, slice_bam), fuse=False))
    assert rows(spark.table("prov_cov")) == want
    assert rows(spark.sql("SELECT * FROM prov_cov")) == want


def test_two_threads_own_views(spark, slice_bam, tmp_path):
    """Two threads sharing one session, each on its own BAM view, get their
    own plans and rows from the fused SQL functions."""
    other = str(tmp_path / "half.bam")
    write_bam(
        spark.read.parquet(SLICE_READS).where("pos_start < 15000"), other, index=True
    )
    ss = SequilaSession(spark)
    want = {}
    for view, path in (("prov_a", slice_bam), ("prov_b", other)):
        _register_view(spark, view, path)
        reads = read_bam_native(spark, path)
        want[view] = (coverage(reads), pileup(reads))
    rows_want = {v: [digest(df) for df in dfs] for v, dfs in want.items()}
    assert rows_want["prov_a"] != rows_want["prov_b"]

    def run(view):
        same = []
        for _ in range(20):
            got = (
                ss.sql(f"SELECT * FROM coverage('{view}')"),
                ss.sql(f"SELECT * FROM pileup('{view}')"),
            )
            same.append(all(g.sameSemantics(w) for g, w in zip(got, want[view])))
        return same, [digest(df) for df in got]

    with ThreadPoolExecutor(2) as pool:
        got = dict(zip(want, pool.map(run, want)))
    for view in want:
        assert got[view] == ([True] * 20, rows_want[view]), view


def test_cram_provenance_through_views(spark):
    """CRAM at plan level (its records need the reference FASTA to decode):
    a view of a read_cram_native relation plans coverage on the fused
    events reader and pileup on a column-pruned re-read; a filtered view
    keeps the full decode."""
    read_cram_native(spark, CRAM).createOrReplaceTempView("prov_cram")
    gc.collect()
    view = spark.table("prov_cram")
    assert cov_fused(coverage(view))
    assert not cov_fused(coverage(view, fuse=False))
    pruned = re.compile(r"MapInArrow [^\[]*\[sample_id#\d+, flag#\d+, contig#")
    assert pruned.search(_plan(pileup(view)))
    assert not pruned.search(_plan(pileup(view, fuse=False)))
    filtered = view.where("mapq >= 0")
    assert not cov_fused(coverage(filtered))
    assert not pruned.search(_plan(pileup(filtered)))


CONFIGS = [
    {"spark.sql.adaptive.enabled": "false"},
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "64"},
    {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    {"spark.sql.codegen.wholeStage": "false"},
]


def test_fused_sql_config_differential(spark, slice_bam, ref_view):
    """Both fused SQL paths give identical digests under each planner
    configuration of the matrix as under the session's own."""
    ss = SequilaSession(spark)
    _register_view(spark, "prov_c", slice_bam)
    queries = [
        "SELECT * FROM coverage('prov_c')",
        f"SELECT * FROM pileup('prov_c', '', '{ref_view}')",
    ]
    want = [digest(ss.sql(q)) for q in queries]
    for conf in CONFIGS:
        old = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            for q, w in zip(queries, want):
                df = ss.sql(q)
                assert cov_fused(df) or pile_fused(df), (conf, q)
                assert digest(df) == w, (conf, q)
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
