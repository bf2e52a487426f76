"""COPY sink contract: one scan of the source, parallel parts stitched in
partition order into one file, and a one-row ``count bigint`` result
planned on the JVM."""

from __future__ import annotations

import gzip
import os
import threading
import zlib

import pytest

from exon_spark.sinks import maybe_handle_copy, write_fastq
from exon_spark.sources import read_format

N_SEQ = 40


@pytest.fixture(scope="module")
def views(spark, tmp_path_factory):
    """``fasta_view``: a FASTA file, half of its records starting with M;
    ``multi_view``: the same ids over 4 partitions."""
    root = tmp_path_factory.mktemp("copy_sink")
    path = root / "src.fasta"
    path.write_text(
        "".join(
            f">s{i:03d} rec {i}\n{'M' if i % 2 else 'A'}CGTACGT\n" for i in range(N_SEQ)
        )
    )
    spark.read.format("fasta").load(str(path)).createOrReplaceTempView("fasta_view")
    # a source of 4 partitions, so the write runs 4 parts to stitch
    spark.range(0, N_SEQ, 1, 4).selectExpr(
        "format_string('s%03d', id) AS id",
        "CAST(NULL AS STRING) AS description",
        "'ACGT' AS sequence",
    ).createOrReplaceTempView("multi_view")


def _copy_bounded(spark, sql: str, timeout: float = 240.0) -> int:
    """Run a COPY and collect its count, failing instead of hanging if the
    count never arrives."""
    out: list = []
    t = threading.Thread(
        target=lambda: out.append(maybe_handle_copy(spark, sql).collect()[0]["count"]),
        daemon=True,
    )
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"COPY did not finish in {timeout} s: {sql}"
    assert len(out) == 1
    return out[0]


def test_copy_scans_source_once(spark, views, tmp_path):
    sc = spark.sparkContext
    gid = "copy_scans_once"
    out = tmp_path / "m.fasta.gz"
    sc.setJobGroup(gid, "COPY scans its source once")
    try:
        res = maybe_handle_copy(
            spark,
            "COPY (SELECT id, description, sequence FROM fasta_view "
            f"WHERE sequence LIKE 'M%') TO '{out}' STORED AS FASTA "
            "OPTIONS (compression 'gzip')",
        )
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1, jobs
    assert res.collect()[0]["count"] == N_SEQ // 2
    with gzip.open(out, "rt") as fh:
        assert sum(ln.startswith(">") for ln in fh) == N_SEQ // 2


def test_copy_result_row_is_jvm_planned(spark, views, tmp_path):
    res = maybe_handle_copy(
        spark, f"COPY fasta_view TO '{tmp_path / 'all.fasta'}' STORED AS FASTA"
    )
    assert res.schema.simpleString() == "struct<count:bigint>"
    plan = res._jdf.queryExecution().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    assert res.collect()[0]["count"] == N_SEQ


@pytest.mark.parametrize(
    "target,stored,comp",
    [
        ("e.fasta", "FASTA", None),
        ("e.fasta.gz", "FASTA", "gzip"),
        ("e.fasta.zst", "FASTA", "zstd"),
        ("e.parquet", "PARQUET", None),
        ("e.csv", "CSV", None),
    ],
)
def test_copy_empty_source_counts_zero(spark, views, tmp_path, target, stored, comp):
    out = tmp_path / target
    opts = f" OPTIONS (compression '{comp}')" if comp else ""
    n = _copy_bounded(
        spark,
        "COPY (SELECT id, description, sequence FROM fasta_view "
        f"WHERE sequence LIKE 'Z%') TO '{out}' STORED AS {stored}{opts}",
    )
    assert n == 0
    assert os.path.exists(out)
    if stored == "FASTA":
        assert os.path.isfile(out)
        if comp == "gzip":
            with gzip.open(out, "rb") as fh:
                assert fh.read() == b""


def _gzip_members(path) -> int:
    data, n = open(path, "rb").read(), 0
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        d.decompress(data)
        data, n = d.unused_data, n + 1
    return n


def test_copy_order_by_survives_parallel_parts(spark, views, tmp_path):
    out = tmp_path / "desc.fasta.gz"
    # keep the sort's range partitions apart, so several parts are stitched
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        n = _copy_bounded(
            spark,
            "COPY (SELECT id, description, sequence FROM multi_view ORDER BY id DESC) "
            f"TO '{out}' STORED AS FASTA OPTIONS (compression 'gzip')",
        )
    finally:
        spark.conf.set(key, prev)
    want = [f"s{i:03d}" for i in reversed(range(N_SEQ))]
    assert n == N_SEQ
    assert _gzip_members(out) >= 2
    with gzip.open(out, "rt") as fh:
        assert [ln[1:].strip() for ln in fh if ln.startswith(">")] == want
    # one gzip file is one partition, so the JVM read keeps file order
    assert [r["id"] for r in read_format(spark, "fasta", str(out)).collect()] == want


def test_copy_zstd_returns_true_count(spark, views, tmp_path):
    out = tmp_path / "multi.fasta.zst"
    n = _copy_bounded(
        spark,
        f"COPY multi_view TO '{out}' STORED AS FASTA OPTIONS (compression 'zstd')",
    )
    assert n == N_SEQ
    back = read_format(spark, "fasta", str(out))
    assert sorted(r["id"] for r in back.collect()) == [f"s{i:03d}" for i in range(N_SEQ)]


def test_write_fastq_zstd_reads_back(spark, tmp_path):
    src = tmp_path / "in.fastq"
    src.write_text("@r1 desc here\nACGT\n+\n#$%I\n@r2\nGGTTAA\n+\nIIIIII\n")
    df = spark.read.format("fastq").load(str(src))
    out = tmp_path / "out_fastq_zst"
    n = write_fastq(df, str(out), compression="zstd")
    back = read_format(spark, "fastq", str(out))
    cols = ["name", "sequence", "quality_scores"]
    assert sorted(back.select(*cols).collect()) == sorted(df.select(*cols).collect())
    assert n == 2
