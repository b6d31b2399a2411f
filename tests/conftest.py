import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("sequila_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sequila_spark.session import register

    register(spark)
    yield spark


@pytest.fixture(scope="session")
def slice_bam(spark, tmp_path_factory):
    """Indexed BAM of fixtures/slicebam/reads.parquet (the NA12878 slice's
    3,172 reads on one contig, positions 34-30,063) written by the native ``write_bam``.
    A round trip through this package's own codec: fine for checks that
    two readers or two decode paths agree, not an independent fixture."""
    from sequila_spark.sources import write_bam

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reads = spark.read.parquet(
        os.path.join(root, "fixtures", "slicebam", "reads.parquet")
    )
    path = str(tmp_path_factory.mktemp("slicebam") / "NA12878.slice.bam")
    write_bam(reads, path, index=True)
    return path


SF_SMALL = os.environ.get("SEQUILA_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SEQUILA_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
