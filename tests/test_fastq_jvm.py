"""The JVM FASTQ reader (exonspark.spark.FastqSource) behind read_format:
COPY ... STORED AS FASTQ output read back through it (gzip parts
stitched into one multi-member stream, zstd frames concatenated) keeps
the source's count and digest, and the read plans as a BatchScan of the
Java class with no Python scan node. Value parity with the Python
DataSource is the property test in test_property.py."""

from __future__ import annotations

import pytest

from exon_spark.sinks import maybe_handle_copy
from exon_spark.sources import read_format

COLS = ["name", "description", "sequence", "quality_scores"]
DIGEST = f"count(*) AS n, sum(cast(xxhash64({', '.join(COLS)}) AS decimal(38,0))) AS h"


def _digest(spark, df):
    df.createOrReplaceTempView("_fastq_digest")
    r = spark.sql(f"SELECT {DIGEST} FROM _fastq_digest").collect()[0]
    return r.n, r.h


@pytest.fixture(scope="module")
def reads(spark):
    """2,000 reads over five partitions, the last one empty (an empty
    part between stitched members), every third without a description."""
    df = spark.range(0, 2500, 1, 5).where("id < 2000").selectExpr(
        "concat('r', id) AS name",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('sample ', id % 7, ' lane 1') END"
        " AS description",
        "substr(repeat('ACGTTGCA', 20), 1 + CAST(id % 8 AS INT), 40 + CAST(id % 50 AS INT))"
        " AS sequence",
    ).selectExpr("*", "repeat('I', length(sequence)) AS quality_scores")
    df.createOrReplaceTempView("fq_reads")
    assert df.rdd.getNumPartitions() == 5
    return _digest(spark, df)


def _jvm(spark, path, **options):
    df = read_format(spark, "fastq", path, **options)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan fastq-jvm" in plan and "FastqScan" in plan, plan
    assert "(Python)" not in plan, plan
    return df


@pytest.mark.parametrize("codec, ext", [("gzip", "gz"), ("zstd", "zst")])
def test_copy_round_trip_through_jvm_reader(spark, tmp_path, reads, codec, ext):
    out = str(tmp_path / f"out.fastq.{ext}")
    n = maybe_handle_copy(
        spark,
        f"COPY (SELECT * FROM fq_reads) TO '{out}' STORED AS FASTQ "
        f"OPTIONS (compression '{codec}')",
    ).collect()[0]["count"]
    assert n == reads[0]
    df = _jvm(spark, out)
    assert df.rdd.getNumPartitions() == 1
    assert _digest(spark, df) == reads


def test_jvm_reader_prunes_columns(spark, tmp_path):
    path = tmp_path / "t.fastq"
    path.write_text("@r1 d\nACGT\n+\nIIII\n@r2\nGG\n+\n##\n")
    df = _jvm(spark, str(path), columns="sequence,name")
    assert df.columns == ["name", "sequence"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "fastq-jvm[name#" in plan and "description" not in plan, plan
    assert sorted(map(tuple, df.collect())) == [("r1", "ACGT"), ("r2", "GG")]
    assert _jvm(spark, str(path)).count() == 2


@pytest.mark.parametrize(
    "layout, options",
    [
        ("hive", {}),
        ("plain", {"file_extension": "fastq"}),
        ("plain", {"compression": "gzip"}),
    ],
)
def test_python_only_reads_stay_python(spark, tmp_path, layout, options):
    """Hive partition values, a custom extension and a compression that
    disagrees with the extension stay on the Python DataSource."""
    d = tmp_path / ("sample=a" if layout == "hive" else "plain")
    d.mkdir()
    text = "@r1\nACGT\n+\nIIII\n"
    if options.get("compression") == "gzip":
        import gzip

        with gzip.open(d / "t.fastq", "wt") as fh:
            fh.write(text)
    else:
        (d / "t.fastq").write_text(text)
    df = read_format(spark, "fastq", str(tmp_path if layout == "hive" else d), **options)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "(Python)" in plan and "FastqScan" not in plan, plan
    assert df.select("name", "sequence").collect()[0] == ("r1", "ACGT")
