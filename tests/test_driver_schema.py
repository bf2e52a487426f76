"""read_format computes a Python DataSource's schema on the driver and
hands it to the reader, so load() starts no planner worker. The schema
must equal the one the planner worker computes when no schema is given,
for every option that shapes it."""

from __future__ import annotations

import base64
import re
import struct
import zlib

import pytest

from exon_spark.sources import read_format

_VCF = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="Freq">\n'
    '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
    '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="Likelihoods">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
    "1\t100\trs1\tA\tT\t50.0\tPASS\tDP=10;AF=0.5;DB\tGT:PL\t0/1:0,3,26\t1/1:.\n"
    "2\t300\t.\tG\t.\t99.9\tPASS\tAF=0.1,0.2\tGT\t0/0\t./.\n"
)

# the converter writes no FORMAT columns
_VCF_SITES = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="Freq">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    "1\t100\trs1\tA\tT\t50\tPASS\tDP=10;AF=0.5\n"
)

_SAM = (
    "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n"
    "r1\t0\tchr1\t100\t60\t4M\t=\t200\t100\tACGT\tIIII\tNM:i:0\tMD:Z:4\tXF:f:0.5\n"
    "r2\t4\t*\t0\t255\t*\t*\t0\t0\tGGTT\t####\n"
    "r3\t16\tchr1\t200\t30\t2M1D2M\t*\t0\t0\tACGT\tII#I\tRG:Z:g1\n"
)

_SDF = (
    "Mol1\n  prog\ncomment\n  2  1  0  0  0  0  0  0  0  0999 V2000\n"
    "    0.0  0.0  0.0 C   0  0\n    1.0  0.0  0.0 O   0  0\n"
    "  1  2  1  0\nM  END\n"
    "> <canonical_smiles>\nCO\n\n"
    "> <molecular_weight>\n32.04\n\n"
    "$$$$\n"
)

_GENBANK = (
    "LOCUS       TESTSEQ1      24 bp    DNA     linear   BCT 01-JAN-2024\n"
    "DEFINITION  A test sequence.\n"
    "ACCESSION   AB000001\n"
    "VERSION     AB000001.1\n"
    "FEATURES             Location/Qualifiers\n"
    "     gene            1..12\n"
    "                     /gene=\"testA\"\n"
    "ORIGIN\n"
    "        1 atgcatgcat gcatgcatgc atgc\n"
    "//\n"
)


def _mzml() -> str:
    mz = base64.b64encode(struct.pack("<2d", 100.0, 200.5)).decode()
    inten = base64.b64encode(zlib.compress(struct.pack("<2f", 1.0, 2.0))).decode()
    return f"""<?xml version="1.0"?>
<mzML xmlns="http://psi.hupo.org/ms/mzml">
 <run id="r1"><spectrumList count="1">
  <spectrum id="scan=1" index="0">
   <cvParam accession="MS:1000511" name="ms level" value="1"/>
   <binaryDataArrayList count="2">
    <binaryDataArray><cvParam accession="MS:1000523" name="64-bit float"/>
     <cvParam accession="MS:1000514" name="m/z array"/>
     <binary>{mz}</binary></binaryDataArray>
    <binaryDataArray><cvParam accession="MS:1000521" name="32-bit float"/>
     <cvParam accession="MS:1000574" name="zlib compression"/>
     <cvParam accession="MS:1000515" name="intensity array"/>
     <binary>{inten}</binary></binaryDataArray>
   </binaryDataArrayList>
  </spectrum>
 </spectrumList></run>
</mzML>
"""


def _fcs() -> bytes:
    data = struct.pack("<4f", 1.0, 10.0, 2.0, 20.0)
    kv = {"$DATATYPE": "F", "$BYTEORD": "1,2,3,4", "$PAR": "2",
          "$P1N": "FSC-A", "$P2N": "SSC-A", "$TOT": "2", "$MODE": "L"}
    text = "|" + "|".join(f"{k}|{v}" for k, v in kv.items()) + "|"
    text_end = 58 + len(text) - 1
    header = (
        f"FCS3.0    {58:>8}{text_end:>8}{text_end + 1:>8}"
        f"{text_end + len(data):>8}{0:>8}{0:>8}"
    ).encode()
    return header + text.encode() + data


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    from exon_spark.sources.bam import sam_to_bam
    from exon_spark.sources.bcf import vcf_to_bcf
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    root = tmp_path_factory.mktemp("driver_schema")
    (root / "t.fasta").write_text(">s1 first\nACGT\n>s2\nGGCC\n")
    (root / "t.fastq").write_text("@r1 d\nACGT\n+\nIIII\n@r2\nGG\n+\n##\n")
    for sample in ("1", "2"):
        d = root / "parts" / f"sample={sample}"
        d.mkdir(parents=True)
        (d / "p.fasta").write_text(f">p{sample}\nACGTAC\n")
    (root / "t.vcf").write_text(_VCF)
    bgzip_file(str(root / "t.vcf"), str(root / "t.vcf.gz"))
    build_tabix_vcf(str(root / "t.vcf.gz"))
    (root / "sites.vcf").write_text(_VCF_SITES)
    vcf_to_bcf(str(root / "sites.vcf"), str(root / "t.bcf"))
    (root / "t.sam").write_text(_SAM)
    sam_to_bam(str(root / "t.sam"), str(root / "t.bam"))
    (root / "t.sdf").write_text(_SDF)
    (root / "t.gb").write_text(_GENBANK)
    (root / "t.mzML").write_text(_mzml())
    (root / "t.fcs").write_bytes(_fcs())
    return root


# (format, file, options); every case stays on the Python DataSource
CASES = [
    ("fasta", "t.fasta", {"file_extension": "fasta"}),
    ("fasta", "t.fasta", {"sequence_data_type": "integer_encode_dna"}),
    ("fasta", "t.fasta", {"file_extension": "fasta", "columns": "id,sequence"}),
    ("fasta", "parts", {"file_extension": "fasta"}),
    ("fastq", "t.fastq", {"file_extension": "fastq"}),
    ("vcf", "t.vcf", {"parse_info": "true"}),
    ("vcf", "t.vcf", {"parse_formats": "true"}),
    ("vcf", "t.vcf", {"parse_info": "true", "parse_formats": "true"}),
    ("vcf", "t.vcf", {"parse_info": "true", "columns": "chrom,alt,info"}),
    ("vcf", "t.vcf.gz", {"indexed": "true"}),
    ("bcf", "t.bcf", {}),
    ("bcf", "t.bcf", {"parse_info": "true"}),
    ("sam", "t.sam", {}),
    ("sam", "t.sam", {"parse_tags": "true"}),
    ("bam", "t.bam", {"parse_tags": "true"}),
    ("bam", "t.bam", {"parse_tags": "true", "columns": "name,tags"}),
    ("sdf", "t.sdf", {}),
    ("genbank", "t.gb", {}),
    ("mzml", "t.mzML", {}),
    ("fcs", "t.fcs", {}),
]


@pytest.mark.parametrize(
    "fmt,name,options",
    CASES,
    ids=[f"{c[0]}-{c[1]}-{'-'.join(c[2]) or 'plain'}" for c in CASES],
)
def test_driver_schema_matches_worker(spark, files, fmt, name, options):
    from exon_spark import register_all

    register_all(spark)
    path = str(files / name)
    df = read_format(spark, fmt, path, **options)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert re.search(rf"RelationV2\[.*\] {fmt}\b", analyzed), analyzed
    worker = spark.read.format(fmt).options(**options).load(path)
    assert df.schema == worker.schema
