"""JVM fast-path readers must be indistinguishable from the Python
DataSources for plain scans (same schema, same rows, same ``columns``
projection)."""

from __future__ import annotations

import gzip

import pytest

from exon_spark.sources.jvm_fast import jvm_fast_reader


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    root = tmp_path_factory.mktemp("jvmfast")
    (root / "test.fasta").write_text(
        ">seq1 first sequence\nATCGATCG\nGGCC\n>seq2\nTTTTAAAA\n>seq3 third\nATGATGATG\n"
    )
    with gzip.open(root / "test.fasta.gz", "wt") as fh:
        fh.write(">g1 gz\nACGT\n>g2\nGGTT\n")
    (root / "test.vcf").write_text(
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        "1\t100\trs1\tA\tT\t50.0\tPASS\tDP=10\tGT\t0/1\n"
        "1\t200\t.\tC\tG,T\t.\tq10;s50\tDP=7\tGT\t1/1\n"
        "2\t300\trs2;rs3\tG\t.\t99.9\tPASS\tAF=0.1,0.2\tGT\t0/0\n"
    )
    return root


VCF_COLS = ("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats")


def _rows(df, order_col):
    return [r.asDict(recursive=True) for r in df.orderBy(order_col).collect()]


@pytest.mark.parametrize("name", ["test.fasta", "test.fasta.gz"])
def test_fasta_jvm_matches_datasource(spark, fixtures, name):
    from exon_spark import register_all
    from exon_spark.sources import read_format

    register_all(spark)
    path = str(fixtures / name)
    jvm = read_format(spark, "fasta", path)
    assert "FastaScan" in jvm._jdf.queryExecution().executedPlan().toString()
    py = spark.read.format("fasta").load(path)
    assert jvm.schema == py.schema
    assert _rows(jvm, "id") == _rows(py, "id")


@pytest.mark.parametrize("name", ["test.fasta", "test.fasta.gz"])
def test_fasta_text_route_matches_datasource(spark, fixtures, name):
    """The ``lineSep`` text route kept for object stores
    (``read_fasta_jvm``) gives the Python DataSource's schema and rows."""
    from exon_spark.sources.jvm_fast import read_fasta_jvm

    path = str(fixtures / name)
    text = read_fasta_jvm(spark, path)
    py = spark.read.format("fasta").load(path)
    assert text.schema == py.schema
    assert _rows(text, "id") == _rows(py, "id")


def test_fasta_header_gt_is_text_on_both_readers(spark, tmp_path):
    """A '>' inside a header does not start a record: the Java reader and
    the text route kept for object stores give the Python reader's rows."""
    from exon_spark.sources import read_format
    from exon_spark.sources.jvm_fast import read_fasta_jvm

    path = tmp_path / "gt.fasta"
    path.write_text(">s1 desc with a>b inside\nMKV\nLLA\n>s2\nMQQ\n")
    want = [("s1", "desc with a>b inside", "MKVLLA"), ("s2", None, "MQQ")]
    py = spark.read.format("fasta").load(str(path))
    for df in (read_format(spark, "fasta", str(path)), read_fasta_jvm(spark, str(path)), py):
        assert sorted(map(tuple, df.collect())) == want


@pytest.mark.parametrize(
    "fmt, name, columns, want",
    [
        ("fasta", "test.fasta", "id", ["id"]),
        ("fasta", "test.fasta", "sequence,id", ["id", "sequence"]),
        ("fasta", "test.fasta.gz", "description", ["description"]),
        ("vcf", "test.vcf", "chrom,pos", ["chrom", "pos"]),
        ("vcf", "test.vcf", "nope", list(VCF_COLS)),
    ],
)
def test_jvm_routes_honour_columns(spark, fixtures, fmt, name, columns, want):
    """The ``columns`` option projects as the Python DataSources do: the
    named columns in schema order, every column when it names none."""
    from exon_spark.sources import read_format

    path = str(fixtures / name)
    df = read_format(spark, fmt, path, columns=columns)
    assert "(Python)" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.columns == want
    py = spark.read.format(fmt).option("columns", columns).load(path)
    assert df.columns == py.columns
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(
        map(tuple, py.collect()), key=repr
    )


def test_fasta_text_route_honours_columns(spark, fixtures):
    from exon_spark.sources.jvm_fast import read_fasta_jvm

    df = read_fasta_jvm(spark, str(fixtures / "test.fasta"), columns="sequence")
    assert df.columns == ["sequence"]
    assert sorted(r.sequence for r in df.collect()) == ["ATCGATCGGGCC", "ATGATGATG", "TTTTAAAA"]


def test_vcf_jvm_matches_datasource(spark, fixtures):
    from exon_spark import register_all

    register_all(spark)
    path = str(fixtures / "test.vcf")
    fast = jvm_fast_reader("vcf", path, {})
    assert fast is not None
    jvm = fast(spark, path)
    py = spark.read.format("vcf").load(path)
    assert jvm.schema == py.schema
    assert _rows(jvm, "pos") == _rows(py, "pos")


def test_fast_path_declines_python_only_options(fixtures):
    path = str(fixtures / "test.fasta")
    assert jvm_fast_reader("fasta", path, {"regions": "chr1:1-10"}) is None
    assert jvm_fast_reader("fasta", path, {"sequence_data_type": "integer"}) is None
    assert jvm_fast_reader("vcf", path, {"parse_info": "true"}) is None
    assert jvm_fast_reader("bam", path, {}) is None


MZML_REF = "/root/reference/exon/exon-core/test-data/datasources/mzml/test.mzML"


@pytest.mark.skipif(
    not __import__("os").path.exists(MZML_REF), reason="reference fixture absent"
)
@pytest.mark.parametrize("suffix", ["", ".gz"])
def test_mzml_meta_jvm_matches_datasource(spark, suffix):
    """The metadata-projection fast path must be value-identical to the
    Python decode path on the reference's own mzML fixture (including a
    spectrum with/without precursor data)."""
    from exon_spark.sources import read_format

    path = MZML_REF + suffix
    cols = "id,precursor_mz,precusor_charge"
    fast = jvm_fast_reader("mzml", path, {"columns": cols})
    assert fast is not None
    jvm = fast(spark, path)
    assert "pythondatasource" not in jvm._jdf.queryExecution().executedPlan().toString().lower()
    py = read_format(spark, "mzml", path).select(
        "id", "precursor_mz", "precusor_charge"
    )
    assert _rows(jvm, "id") == _rows(py, "id")


def test_mzml_full_schema_declines_fast_path():
    assert jvm_fast_reader("mzml", "x.mzml", {}) is None
    assert jvm_fast_reader("mzml", "x.mzml", {"columns": "id,mz"}) is None
    assert jvm_fast_reader("mzml", "x.mzml", {"columns": "id"}) is not None
