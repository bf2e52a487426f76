"""Index-parse memoization: ``read_tabix``/``read_bai``/``read_csi`` parse a
local index once per ``(path, st_mtime_ns, st_size)`` and share the parsed
object; remote (``mock://``) indexes parse on every call."""

from __future__ import annotations

import copy
import os
import random

import pytest

from exon_spark.sources.indexes import (
    bai_chunks,
    build_bai,
    build_tabix_vcf,
    read_bai,
    read_tabix,
    tabix_chunks,
)


def _write_vcf(root, name: str, seed: int, n: int) -> str:
    from exon_spark.sources.bgzf import bgzip_file

    rng = random.Random(seed)
    lines = [
        "##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    for chrom in ("1", "9"):
        for pos in sorted(rng.sample(range(1, 2_000_000), n)):
            lines.append(f"{chrom}\t{pos}\t.\tA\tT\t50\tPASS\tDP=5")
    plain = root / f"{name}.vcf"
    plain.write_text("\n".join(lines) + "\n")
    gz = str(root / f"{name}.vcf.gz")
    bgzip_file(str(plain), gz)
    build_tabix_vcf(gz)
    return gz


@pytest.fixture(scope="module")
def indexed_files(tmp_path_factory):
    from exon_spark.sources.bam import sam_to_bam

    root = tmp_path_factory.mktemp("index_cache")
    gz = _write_vcf(root, "cached", seed=3, n=400)
    rng = random.Random(5)
    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000000"]
    for i, pos in enumerate(sorted(rng.sample(range(1, 4_999_000), 500))):
        lines.append(f"r{i}\t0\tchr1\t{pos}\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII")
    sam = root / "cached.sam"
    sam.write_text("\n".join(lines) + "\n")
    bam = str(root / "cached.bam")
    sam_to_bam(str(sam), bam)
    build_bai(bam)
    return root, gz, bam


@pytest.fixture
def index_opens(monkeypatch):
    """Count opens of index files (.tbi/.bai/.csi) through the fs layer —
    one open per parse."""
    import exon_spark.sources.fs as fs

    opened: list[str] = []
    real_open = fs.fs_open

    def spy(path):
        if path.endswith((".tbi", ".bai", ".csi")):
            opened.append(path)
        return real_open(path)

    monkeypatch.setattr(fs, "fs_open", spy)
    return opened


def test_region_statements_parse_tbi_once(spark, indexed_files, index_opens):
    from exon_spark.session import ExonSession

    _, gz, _ = indexed_files
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE cached_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    try:
        counts = [
            sess.sql(
                "SELECT count(*) AS n FROM cached_vcf "
                f"WHERE vcf_region_filter('9:{lo}-{lo + 400_000}', chrom, pos)"
            ).collect()[0].n
            for lo in (100_000, 600_000, 1_100_000)
        ]
    finally:
        sess.sql("DROP TABLE cached_vcf")
    assert all(n > 0 for n in counts)
    assert index_opens == [gz + ".tbi"]


def test_bam_planning_parses_bai_once(indexed_files, index_opens):
    from exon_spark.sources.bam import BamSource
    from exon_spark.sources.util import FoundFile

    _, _, bam = indexed_files
    f = FoundFile(bam, os.path.getsize(bam))
    for lo in (1, 1_000_000, 2_000_000):
        parts = BamSource.plan_partitions(
            f, {"regions": f"chr1:{lo}-{lo + 500_000}", "target_parallelism": 4}
        )
        assert parts and all(p.extra[0] == "bai" for p in parts)
    assert index_opens == [bam + ".bai"]


def test_rewritten_index_is_reparsed(indexed_files, tmp_path, index_opens):
    import shutil

    root, gz, _ = indexed_files
    gz2 = str(tmp_path / "rewritten.vcf.gz")
    shutil.copy(gz, gz2)
    shutil.copy(gz + ".tbi", gz2 + ".tbi")
    before = read_tabix(gz2 + ".tbi")
    assert read_tabix(gz2 + ".tbi") is before
    # replace the index with one built over other data, at a later mtime
    other = _write_vcf(tmp_path, "other", seed=11, n=2000)
    shutil.copy(other, gz2)
    shutil.copy(other + ".tbi", gz2 + ".tbi")
    st = os.stat(gz2 + ".tbi")
    os.utime(gz2 + ".tbi", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    after = read_tabix(gz2 + ".tbi")
    assert after is not before
    assert after == read_tabix.__wrapped__(other + ".tbi")
    assert index_opens == [gz2 + ".tbi"] * 2 + [other + ".tbi"]


def test_remote_index_is_never_cached(indexed_files, index_opens):
    _, gz, bam = indexed_files
    mock_tbi = "mock://" + (gz + ".tbi").lstrip("/")
    mock_bai = "mock://" + (bam + ".bai").lstrip("/")
    assert read_tabix(mock_tbi) == read_tabix(mock_tbi) == read_tabix(gz + ".tbi")
    assert read_bai(mock_bai) == read_bai(mock_bai) == read_bai(bam + ".bai")
    assert index_opens.count(mock_tbi) == 2
    assert index_opens.count(mock_bai) == 2


def test_cached_index_is_not_mutated(indexed_files):
    from exon_spark.sources.bam import BamSource
    from exon_spark.sources.util import FoundFile
    from exon_spark.sources.vcf import VcfSource

    _, gz, bam = indexed_files
    tbi, bai = read_tabix(gz + ".tbi"), read_bai(bam + ".bai")
    tbi_copy, bai_copy = copy.deepcopy(tbi), copy.deepcopy(bai)
    regions = ["1:1-500000", "9:250000-1500000", "9"]
    first = [tabix_chunks(tbi, r) for r in regions]
    first_bai = [bai_chunks(bai, 0, r) for r in ("chr1:1-1000000", "chr1")]
    # planners consume the shared object too
    VcfSource.plan_partitions(
        FoundFile(gz, os.path.getsize(gz)),
        {"regions": ",".join(regions), "target_parallelism": 4},
    )
    f = FoundFile(bam, os.path.getsize(bam))
    BamSource.plan_partitions(f, {"regions": "chr1", "target_parallelism": 4})
    assert [tabix_chunks(read_tabix(gz + ".tbi"), r) for r in regions] == first
    assert [
        bai_chunks(read_bai(bam + ".bai"), 0, r) for r in ("chr1:1-1000000", "chr1")
    ] == first_bai
    assert read_tabix(gz + ".tbi") is tbi and tbi == tbi_copy
    assert read_bai(bam + ".bai") is bai and bai == bai_copy
