"""SQL surface tests: scan UDTFs + CREATE TABLE ... USING <format> DDL
(parity with the reference's table-valued functions and external tables)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    root = tmp_path_factory.mktemp("sqlsurface")
    (root / "t.fasta").write_text(">a one\nACGT\n>b\nGGCC\nTT\n")
    (root / "t.fastq").write_text("@r1\nACGT\n+\nIIII\n")
    (root / "t.gff").write_text(
        "chr1\tsrc\tgene\t10\t50\t.\t+\t.\tID=g1\n"
        "chr1\tsrc\texon\t60\t90\t.\t+\t.\tID=e1\n"
        "chr2\tsrc\tgene\t10\t50\t.\t-\t.\tID=g2\n"
    )
    (root / "t.vcf").write_text(
        "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\t.\tA\tT\t50\tPASS\tDP=3\n"
        "2\t200\t.\tC\tG\t60\tPASS\tDP=4\n"
    )
    return root


def test_fasta_scan_udtf(spark, files):
    rows = spark.sql(
        f"SELECT id, sequence FROM fasta_scan('{files}/t.fasta') ORDER BY id"
    ).collect()
    assert [(r["id"], r["sequence"]) for r in rows] == [("a", "ACGT"), ("b", "GGCCTT")]


def test_fasta_scan_in_join(spark, files):
    n = spark.sql(
        f"""SELECT count(*) c FROM fasta_scan('{files}/t.fasta') f
            JOIN fastq_scan('{files}/t.fastq') q ON f.sequence = q.sequence"""
    ).collect()[0]["c"]
    assert n == 1


def test_gff_scan_and_indexed(spark, files):
    rows = spark.sql(f"SELECT * FROM gff_scan('{files}/t.gff')").collect()
    assert len(rows) == 3
    assert rows[0]["attributes"]["ID"] == ["g1"]
    pruned = spark.sql(
        f"SELECT type FROM gff_indexed_scan('{files}/t.gff', 'chr1:1-55')"
    ).collect()
    assert [r["type"] for r in pruned] == ["gene"]


def test_vcf_scan_and_indexed(spark, files):
    assert spark.sql(f"SELECT * FROM vcf_scan('{files}/t.vcf')").count() == 2
    rows = spark.sql(
        f"SELECT pos FROM vcf_indexed_scan('{files}/t.vcf', '1:1-150')"
    ).collect()
    assert [r["pos"] for r in rows] == [100]


def test_create_external_table_ddl(spark, files):
    """Reference syntax: CREATE EXTERNAL TABLE x STORED AS FASTA LOCATION p
    (exon_context_ext.rs:683-697). Intercepted by ExonSession.sql because
    Spark's catalog read path drops Python-DataSource options."""
    from exon_spark import ExonSession

    x = ExonSession(spark)
    x.sql(
        f"CREATE EXTERNAL TABLE fasta_tbl STORED AS FASTA LOCATION '{files}/t.fasta'"
    )
    got = spark.sql(
        "SELECT id, length(sequence) AS n FROM fasta_tbl ORDER BY id"
    ).collect()
    assert [(r["id"], r["n"]) for r in got] == [("a", 4), ("b", 6)]
    # domain functions compose over the table
    rc = spark.sql(
        "SELECT reverse_complement(sequence) rc FROM fasta_tbl WHERE id='a'"
    ).collect()[0]["rc"]
    assert rc == "ACGT"[::-1].translate(str.maketrans("ACGT", "TGCA"))


def test_create_table_using_with_options(spark, files):
    from exon_spark import ExonSession

    x = ExonSession(spark)
    x.sql(f"CREATE TABLE gff_tbl USING gff OPTIONS (path '{files}/t.gff')")
    assert spark.sql("SELECT count(*) c FROM gff_tbl").collect()[0]["c"] == 3


def test_register_exon_table_helper(spark, files):
    from exon_spark import ExonSession

    x = ExonSession(spark)
    x.register_exon_table("my_gff", str(files / "t.gff"), "gff")
    assert spark.sql("SELECT count(*) c FROM my_gff").collect()[0]["c"] == 3


def test_gff_indexed_scan_tabix_pruned(spark, tmp_path):
    """gff_indexed_scan over a bgzf+tbi GFF prunes via the tabix index and
    returns exactly the overlapping features."""
    import random

    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_gff

    rng = random.Random(3)
    rows = []
    for chrom in ("chr1", "chr5"):
        pos = sorted(rng.sample(range(1, 3_000_000), 800))
        rows += [(chrom, p, p + 99) for p in pos]
    plain = tmp_path / "f.gff"
    with open(plain, "w") as fh:
        fh.write("##gff-version 3\n")
        for chrom, s, e in rows:
            fh.write(f"{chrom}\tsrc\tgene\t{s}\t{e}\t.\t+\t.\tID=g{s}\n")
    gz = tmp_path / "f.gff.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_gff(str(gz))

    got = spark.sql(
        f"SELECT seqname, start, end FROM gff_indexed_scan('{gz}', 'chr5:100000-200000')"
    ).collect()
    want = [
        (c, s, e)
        for c, s, e in rows
        if c == "chr5" and s <= 200_000 and e >= 100_000
    ]
    assert sorted((r.seqname, r.start, r.end) for r in got) == want
    # absent chromosome -> empty, via the index's name table
    assert (
        spark.sql(
            f"SELECT * FROM gff_indexed_scan('{gz}', 'chrZ:1-100')"
        ).count()
        == 0
    )


def test_read_gff_regions_pruned_dataframe(spark, tmp_path):
    """DataFrame-level read_gff with regions: tabix-pruned chunk groups
    parallelized across executors, residual filter on top; falls back to
    scan+filter without an index."""
    import random

    from exon_spark.sources import read_format
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_gff

    rng = random.Random(11)
    rows = []
    for chrom in ("chr2", "chr8"):
        pos = sorted(rng.sample(range(1, 2_000_000), 600))
        rows += [(chrom, p, p + 49) for p in pos]
    plain = tmp_path / "g.gff"
    with open(plain, "w") as fh:
        fh.write("##gff-version 3\n")
        for chrom, s, e in rows:
            fh.write(f"{chrom}\tsrc\texon\t{s}\t{e}\t.\t-\t0\tID=x{s};N=a,b\n")
    gz = tmp_path / "g.gff.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_gff(str(gz))

    want = [
        (c, s, e)
        for c, s, e in rows
        if c == "chr8" and s <= 900_000 and e >= 800_000
    ]
    pruned = read_format(spark, "gff", str(gz), regions="chr8:800000-900000")
    got = sorted(
        (r.seqname, r.start, r.end)
        for r in pruned.select("seqname", "start", "end").collect()
    )
    assert got == want
    # attributes survive the pruned path
    row = pruned.limit(1).collect()[0]
    assert row.attributes["N"] == ["a", "b"]
    # fallback (no index) must agree
    noidx = read_format(spark, "gff", str(plain), regions="chr8:800000-900000")
    assert noidx.count() == len(want)
    # absent chromosome -> empty frame with the right schema
    assert read_format(spark, "gff", str(gz), regions="chrQ").count() == 0


def test_read_gff_overlapping_regions_routes_agree(spark, tmp_path, monkeypatch):
    """Tabular region reads have distinct-matching-lines semantics: a
    feature matched by several requested regions appears ONCE, and all
    three routes (codec merged view, Python chunk-group fallback, no-index
    scan+filter) must return the same multiset even for overlapping or
    duplicate region lists. The Python fallback used to emit shared-chunk
    lines once per region."""
    import random

    from exon_spark.sources import read_format
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_gff

    rng = random.Random(23)
    rows = [("chr4", p, p + 49) for p in sorted(rng.sample(range(1, 500_000), 400))]
    plain = tmp_path / "ov.gff"
    with open(plain, "w") as fh:
        fh.write("##gff-version 3\n")
        for chrom, s, e in rows:
            fh.write(f"{chrom}\tsrc\texon\t{s}\t{e}\t.\t+\t0\tID=y{s}\n")
    gz = tmp_path / "ov.gff.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_gff(str(gz))

    regions = "chr4:1-300000,chr4:100000-400000,chr4:100000-400000"
    want = sorted(
        (c, s, e) for c, s, e in rows if s <= 400_000 and e >= 1
    )

    def got(df):
        return sorted(
            (r.seqname, r.start, r.end)
            for r in df.select("seqname", "start", "end").collect()
        )

    # route 1: the Java line source over the merged chunk groups (when the
    # session carries the jar)
    assert got(read_format(spark, "gff", str(gz), regions=regions)) == want
    # route 2: Python chunk-group fallback (jar forced off; tabular
    # resolves codec_active from exon_spark.jvm at call time)
    import exon_spark.jvm

    monkeypatch.setattr(exon_spark.jvm, "codec_active", lambda _spark: False)
    assert got(read_format(spark, "gff", str(gz), regions=regions)) == want
    # route 3: no-index scan+filter
    assert got(read_format(spark, "gff", str(plain), regions=regions)) == want
