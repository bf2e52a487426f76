"""BCF source tests — golden counts from the reference's own fixture
(exon_context_ext.rs:1055-1090: index.bcf = 621 rows, region "1" = 191) and
a text-VCF -> BCF round-trip."""

from __future__ import annotations

import os

import pytest

REF_BCF = "/root/reference/exon/exon-core/test-data/datasources/bcf/index.bcf"


@pytest.fixture(scope="module")
def registered(spark):
    from exon_spark import register_all

    register_all(spark)
    return spark


@pytest.mark.skipif(not os.path.exists(REF_BCF), reason="reference fixture absent")
def test_bcf_full_scan_golden_count(registered):
    df = registered.read.format("bcf").load(REF_BCF)
    assert df.count() == 621


@pytest.mark.skipif(not os.path.exists(REF_BCF), reason="reference fixture absent")
def test_bcf_region_scan_csi(registered):
    df = registered.read.format("bcf").option("regions", "1").load(REF_BCF)
    assert df.count() == 191
    # region with interval
    df2 = (
        registered.read.format("bcf")
        .option("regions", "1:9999919-9999921")
        .load(REF_BCF)
    )
    rows = df2.collect()
    assert [r.pos for r in rows] == [9999919, 9999920, 9999921]
    assert all(r.chrom == "1" for r in rows)


@pytest.mark.skipif(not os.path.exists(REF_BCF), reason="reference fixture absent")
def test_bcf_region_absent_contig(registered):
    df = registered.read.format("bcf").option("regions", "zz:1-100").load(REF_BCF)
    assert df.count() == 0


@pytest.mark.skipif(not os.path.exists(REF_BCF), reason="reference fixture absent")
def test_bcf_schema_matches_vcf(registered):
    bcf = registered.read.format("bcf").load(REF_BCF)
    assert [f.name for f in bcf.schema.fields] == [
        "chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats",
    ]


def test_vcf_to_bcf_round_trip(registered, tmp_path):
    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Freq">\n'
        '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\trs1\tA\tT\t50\tPASS\tDP=10;AF=0.5;DB\n"
        "1\t200\t.\tC\tG,T\t.\tq10;s50\tDP=7\n"
        "2\t300\trs2;rs3\tG\t.\t99.9\tPASS\tAF=0.1,0.2\n"
    )
    from exon_spark.sources.bcf import vcf_to_bcf

    bcf_path = str(tmp_path / "t.bcf")
    vcf_to_bcf(str(vcf), bcf_path)
    vdf = registered.read.format("vcf").load(str(vcf))
    bdf = registered.read.format("bcf").load(bcf_path)
    assert vdf.schema == bdf.schema
    v = [r.asDict() for r in vdf.orderBy("pos").collect()]
    b = [r.asDict() for r in bdf.orderBy("pos").collect()]
    # FORMAT columns are not emitted by the converter; everything else must
    # round-trip exactly (qual 50 vs 50.0 renders equal as float)
    assert v == b


def test_bcf_parse_info_struct(registered, tmp_path):
    vcf = tmp_path / "p.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\t.\tA\tT\t10\tPASS\tDP=42\n"
    )
    from exon_spark.sources.bcf import vcf_to_bcf

    bcf_path = str(tmp_path / "p.bcf")
    vcf_to_bcf(str(vcf), bcf_path)
    df = (
        registered.read.format("bcf").option("parse_info", "true").load(bcf_path)
    )
    row = df.collect()[0]
    assert row.info.DP == 42


def _write_csi(path: str, bins: dict[int, tuple[int, list[tuple[int, int]]]]) -> None:
    """A CSI v1 index (min_shift 14, depth 5) for reference 0 only, with
    ``bins`` = {bin: (loffset, [(chunk_beg, chunk_end), ...])}."""
    import struct

    from exon_spark.sources.bgzf import BGZFWriter

    payload = bytearray(b"CSI\x01") + struct.pack("<iiii", 14, 5, 0, 1)
    payload += struct.pack("<i", len(bins))
    for bin_id, (loffset, chunks) in sorted(bins.items()):
        payload += struct.pack("<IQi", bin_id, loffset, len(chunks))
        for cb, ce in chunks:
            payload += struct.pack("<QQ", cb, ce)
    with BGZFWriter(path) as out:
        out.write(bytes(payload))


def test_bcf_csi_region_plans_chunk_groups(tmp_path):
    """A region whose CSI chunks span more than the target fans out into
    several ("csi", region, group) partitions that tile the chunks, cut at
    the index's loffsets, like the VCF .csi planner."""
    from exon_spark.sources.bcf import BcfSource, vcf_to_bcf
    from exon_spark.sources.indexes import csi_chunks, read_csi
    from exon_spark.sources.util import FoundFile

    vcf = tmp_path / "t.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n##contig=<ID=1>\n##contig=<ID=2>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\t.\tA\tT\t.\tPASS\t.\n"
    )
    bcf = str(tmp_path / "t.bcf")
    vcf_to_bcf(str(vcf), bcf)
    mb = 1 << 20
    # one 12 MB root-bin chunk; level-1 bins put record starts every 2 MB
    bins = {0: (0, [(0, (12 * mb) << 16)])}
    for k in range(1, 6):
        bins[k] = ((2 * k * mb) << 16 | 7, [((2 * k * mb) << 16 | 7, (2 * k * mb + 100) << 16)])
    _write_csi(bcf + ".csi", bins)

    parts = BcfSource.plan_partitions(
        FoundFile(bcf, os.path.getsize(bcf)), {"regions": "1", "target_parallelism": 2}
    )
    assert len(parts) > 1
    assert {p.extra[:2] for p in parts} == {("csi", "1")}
    pieces = [c for p in parts for c in p.extra[2]]
    assert all(a[1] == b[0] for a, b in zip(pieces, pieces[1:]))
    whole = csi_chunks(read_csi(bcf + ".csi"), 0, 1, 2**31 - 1)
    assert [(pieces[0][0], pieces[-1][1])] == whole
    assert {cb for cb, _ce in pieces} <= {0} | {loff for loff, _c in bins.values()}
