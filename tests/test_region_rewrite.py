"""Raw-coordinate predicate → region rewrite (the reference's
designed-but-never-compiled chrom_optimizer_rule:
docs/vcf_expression_rewriting.md rules A-K, SURVEY.md §4.6).

``chrom = 'X' AND pos BETWEEN lo AND hi`` (and >=/<= spellings) must drive
the same tabix index pruning as the explicit ``vcf_region_filter`` form —
without the user spelling the UDF. The rewrite is optimization-only: the
residual SQL predicate still runs, so every test also checks values."""

from __future__ import annotations

import random

import pytest

from exon_spark.session import (
    ExonSession,
    _raw_rewrite_target,
    _regions_from_raw_predicates,
)


# ---------------------------------------------------------------- parse unit


@pytest.mark.parametrize(
    "sql,expect",
    [
        # rule E/I composition: chrom eq + BETWEEN
        ("SELECT * FROM t WHERE chrom = 'chr1' AND pos BETWEEN 10 AND 20", ["chr1:10-20"]),
        # >= / <= pair (rules C+D+I)
        ("SELECT * FROM t WHERE chrom = 'chr1' AND pos >= 10 AND pos <= 20", ["chr1:10-20"]),
        # rule A alone: whole-sequence region
        ("SELECT * FROM t WHERE chrom = 'chr1'", ["chr1"]),
        # rule B: pos equality → point interval
        ("SELECT * FROM t WHERE chrom = 'chr1' AND pos = 5", ["chr1:5-5"]),
        # rule D alone: open upper bound
        ("SELECT * FROM t WHERE chrom = 'chr1' AND pos >= 100", ["chr1:100"]),
        # rule C alone: lower bound defaults to 1
        ("SELECT * FROM t WHERE chrom = 'chr1' AND pos <= 100", ["chr1:1-100"]),
        # intersection of multiple intervals (rule I)
        (
            "SELECT * FROM t WHERE chrom = 'c' AND pos BETWEEN 1 AND 50 AND pos >= 10",
            ["c:10-50"],
        ),
        # BAM/GFF column spellings
        ("SELECT * FROM t WHERE reference_name = 'chr2' AND start >= 7", ["chr2:7"]),
        ("SELECT * FROM t WHERE seqname = 'chr3'", ["chr3"]),
        # ambiguous / unsupported → no pushdown
        ("SELECT * FROM t WHERE chrom = 'a' AND chrom = 'b'", []),
        ("SELECT * FROM t WHERE pos >= 10", []),
        ("SELECT count(*) FROM t", []),
        # contradictory interval (rule K false case) → leave plan alone
        ("SELECT * FROM t WHERE chrom = 'c' AND pos BETWEEN 20 AND 10", []),
    ],
)
def test_regions_from_raw_predicates(sql, expect):
    assert _regions_from_raw_predicates(sql) == expect


# ------------------------------------------------------------- rewrite gate
# The rewrite must NOT fire when the coordinate text is not a top-level
# WHERE conjunct of a single-table statement: CASE WHEN expressions,
# joins (the region would wrongly prune the OTHER table too), subqueries,
# comma-FROM, or a predicate on a table that isn't the one registered.


@pytest.mark.parametrize(
    "sql",
    [
        # coordinate text inside CASE WHEN is not a filter
        "SELECT CASE WHEN chrom = 'chr1' THEN 1 ELSE 0 END AS f FROM t",
        # join: predicate constrains one side only — binding both is wrong
        "SELECT * FROM t JOIN u ON t.gene = u.gene "
        "WHERE t.chrom = 'chr1' AND t.pos <= 100",
        # comma-FROM is a join too
        "SELECT * FROM t, u WHERE t.chrom = 'chr1' AND t.pos <= 100",
        # subquery: inner predicate must not escape to the outer table
        "SELECT * FROM t WHERE gene IN "
        "(SELECT gene FROM u WHERE chrom = 'chr1' AND pos <= 100)",
        # EXISTS subquery
        "SELECT * FROM t WHERE EXISTS "
        "(SELECT 1 FROM u WHERE u.chrom = 'chr1' AND u.pos = t.pos)",
        # UNION arms may have different tables
        "SELECT * FROM t WHERE chrom = 'chr1' UNION ALL SELECT * FROM u",
    ],
)
def test_raw_rewrite_gate_bails(sql):
    regions, table = _raw_rewrite_target(sql, ["t", "u"])
    assert regions == [] and table is None


def test_raw_rewrite_gate_accepts_single_table():
    regions, table = _raw_rewrite_target(
        "SELECT chrom, pos FROM t WHERE chrom = 'chr1' AND pos BETWEEN 5 AND 9"
        " ORDER BY pos LIMIT 10",
        ["t", "u"],
    )
    assert regions == ["chr1:5-9"] and table == "t"
    # coordinate text in the select list alone (no WHERE) must not fire
    regions, table = _raw_rewrite_target(
        "SELECT concat(chrom, ':', pos) FROM t", ["t"]
    )
    assert regions == []
    # two registered tables referenced → ambiguous → bail
    regions, table = _raw_rewrite_target(
        "SELECT * FROM t WHERE chrom = 'chr1' AND gene = 'u'", ["t", "u"]
    )
    assert regions == [] and table is None
    # scan-UDTF argument commas are not a comma-join
    regions, table = _raw_rewrite_target(
        "SELECT * FROM vcf_scan('f.vcf.gz', 'parse_info=true') AS t "
        "WHERE chrom = 'chr1' AND pos <= 100",
        ["t"],
    )
    assert regions == ["chr1:1-100"] and table == "t"


# ---------------------------------------------------------- end-to-end prune


@pytest.fixture(scope="module")
def indexed_vcf_table(tmp_path_factory):
    root = tmp_path_factory.mktemp("raw_pred")
    plain = root / "raw.vcf"
    rng = random.Random(7)
    lines = [
        "##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    expected: dict[str, list[int]] = {}
    for chrom in ("1", "9"):
        positions = sorted(rng.sample(range(1, 2_000_000), 800))
        expected[chrom] = positions
        for pos in positions:
            lines.append(f"{chrom}\t{pos}\t.\tA\tT\t50\tPASS\tDP=5")
    plain.write_text("\n".join(lines) + "\n")

    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    gz = root / "raw.vcf.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_vcf(str(gz))
    return gz, expected


def test_raw_predicate_prunes_and_matches(spark, indexed_vcf_table, monkeypatch):
    gz, expected = indexed_vcf_table
    sess = ExonSession(spark)
    sess.sql(
        f"CREATE EXTERNAL TABLE raw_vcf STORED AS INDEXED_VCF LOCATION '{gz}'"
    )
    try:
        # observe the regions option the rewrite binds into the reader
        import exon_spark.sources as sources

        seen: list[str] = []
        real_read_format = sources.read_format

        def spy(spark_, fmt, path, **options):
            if "regions" in options:
                seen.append(options["regions"])
            return real_read_format(spark_, fmt, path, **options)

        monkeypatch.setattr(sources, "read_format", spy)

        lo, hi = 250_000, 750_000
        rows = sess.sql(
            "SELECT chrom, pos FROM raw_vcf "
            f"WHERE chrom = '9' AND pos BETWEEN {lo} AND {hi}"
        ).collect()
        assert seen == [f"9:{lo}-{hi}"], "raw predicate must rebind the reader"
        want = [p for p in expected["9"] if lo <= p <= hi]
        assert sorted(r.pos for r in rows) == want
        assert {r.chrom for r in rows} == {"9"}

        # >= / <= spelling drives the same rewrite
        seen.clear()
        n = sess.sql(
            "SELECT count(*) AS n FROM raw_vcf "
            f"WHERE chrom = '9' AND pos >= {lo} AND pos <= {hi}"
        ).collect()[0].n
        assert seen == [f"9:{lo}-{hi}"]
        assert n == len(want)

        # OR disables the rewrite; INDEXED_VCF requires a region at scan
        # time, so run the OR case over a plain VCF view of the same file
        # and check values stay correct without any pushdown
        sess.sql(
            f"CREATE EXTERNAL TABLE raw_vcf_plain STORED AS VCF LOCATION '{gz}'"
        )
        seen.clear()
        n_or = sess.sql(
            "SELECT count(*) AS n FROM raw_vcf_plain "
            f"WHERE chrom = '9' AND (pos <= {lo} OR pos >= {hi})"
        ).collect()[0].n
        assert seen == []
        assert n_or == sum(1 for p in expected["9"] if p <= lo or p >= hi)
        sess.sql("DROP TABLE raw_vcf_plain")
    finally:
        sess.sql("DROP TABLE raw_vcf")


# --------------------------------------------------------- planning cost
# A region statement builds its region-bound reader once and restores the
# CREATE-time view from the frame CREATE registered — no second read.


@pytest.fixture
def read_format_calls(monkeypatch):
    import exon_spark.sources as sources

    calls: list[tuple[str, dict]] = []
    real_read_format = sources.read_format

    def spy(spark_, fmt, path, **options):
        calls.append((fmt, dict(options)))
        return real_read_format(spark_, fmt, path, **options)

    monkeypatch.setattr(sources, "read_format", spy)
    return calls


@pytest.fixture(scope="module")
def indexed_bam(tmp_path_factory):
    from exon_spark.sources.bam import sam_to_bam
    from exon_spark.sources.indexes import build_bai

    root = tmp_path_factory.mktemp("rewrite_bam")
    rng = random.Random(11)
    positions = sorted(rng.sample(range(1, 2_000_000), 600))
    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr2\tLN:2000000"]
    for i, pos in enumerate(positions):
        lines.append(f"r{i}\t0\tchr2\t{pos}\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII")
    (root / "rw.sam").write_text("\n".join(lines) + "\n")
    bam = root / "rw.bam"
    sam_to_bam(str(root / "rw.sam"), str(bam))
    build_bai(str(bam))
    return bam, positions


def test_region_statement_reads_once(
    spark, indexed_vcf_table, indexed_bam, read_format_calls
):
    gz, expected = indexed_vcf_table
    bam, positions = indexed_bam
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE once_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    sess.sql(f"CREATE EXTERNAL TABLE once_bam STORED AS INDEXED_BAM LOCATION '{bam}'")
    try:
        lo, hi = 100_000, 900_000
        read_format_calls.clear()
        n = sess.sql(
            "SELECT count(*) AS n FROM once_vcf "
            f"WHERE vcf_region_filter('1:{lo}-{hi}', chrom, pos)"
        ).collect()[0].n
        assert [(f, o["regions"]) for f, o in read_format_calls] == [
            ("vcf", f"1:{lo}-{hi}")
        ]
        assert n == sum(1 for p in expected["1"] if lo <= p <= hi)

        read_format_calls.clear()
        starts = [
            r.start
            for r in sess.sql(
                "SELECT start FROM once_bam "
                f"WHERE bam_region_filter('chr2:{lo}-{hi}', reference, start, end)"
            ).collect()
        ]
        assert [(f, o["regions"]) for f, o in read_format_calls] == [
            ("bam", f"chr2:{lo}-{hi}")
        ]
        assert sorted(starts) == [p for p in positions if p + 9 >= lo and p <= hi]
    finally:
        sess.sql("DROP TABLE once_vcf")
        sess.sql("DROP TABLE once_bam")


def test_plain_view_restored_after_region_statement(
    spark, indexed_vcf_table, read_format_calls
):
    gz, expected = indexed_vcf_table
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE restore_vcf STORED AS VCF LOCATION '{gz}'")
    try:
        schema = spark.table("restore_vcf").schema
        total = sum(len(v) for v in expected.values())
        n = sess.sql(
            "SELECT count(*) AS n FROM restore_vcf "
            "WHERE vcf_region_filter('9:1-500000', chrom, pos)"
        ).collect()[0].n
        assert n == sum(1 for p in expected["9"] if p <= 500_000)
        assert len(read_format_calls) == 2  # CREATE + the region-bound reader
        assert sess.sql("SELECT count(*) AS n FROM restore_vcf").collect()[0].n == total
        assert spark.table("restore_vcf").schema == schema
        assert len(read_format_calls) == 2
    finally:
        sess.sql("DROP TABLE restore_vcf")


def test_drop_and_recreate_rebinds_to_new_file(spark, indexed_vcf_table, tmp_path):
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    gz, expected = indexed_vcf_table
    plain = tmp_path / "other.vcf"
    other_pos = list(range(1000, 401_000, 1000))
    plain.write_text(
        "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "".join(f"9\t{p}\t.\tG\tC\t10\tPASS\tDP=1\n" for p in other_pos)
    )
    other = tmp_path / "other.vcf.gz"
    bgzip_file(str(plain), str(other))
    build_tabix_vcf(str(other))

    sess = ExonSession(spark)
    region = "WHERE vcf_region_filter('9:1-200000', chrom, pos)"
    sess.sql(f"CREATE EXTERNAL TABLE swap_vcf STORED AS VCF LOCATION '{gz}'")
    first = sess.sql(f"SELECT count(*) AS n FROM swap_vcf {region}").collect()[0].n
    assert first == sum(1 for p in expected["9"] if p <= 200_000)
    sess.sql("DROP TABLE swap_vcf")
    sess.sql(f"CREATE EXTERNAL TABLE swap_vcf STORED AS VCF LOCATION '{other}'")
    try:
        rows = sess.sql(f"SELECT pos, ref FROM swap_vcf {region}").collect()
        assert sorted(r.pos for r in rows) == [p for p in other_pos if p <= 200_000]
        assert {r.ref for r in rows} == {"G"}
        # the restored view is the new file's, not a stale frame of the old
        assert sess.sql("SELECT count(*) AS n FROM swap_vcf").collect()[0].n == len(
            other_pos
        )
    finally:
        sess.sql("DROP TABLE swap_vcf")


def test_register_sources_once_per_session(spark, tmp_path, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    import exon_spark.sources as sources

    fa = tmp_path / "once.fasta"
    fa.write_text(">a desc\nACGT\n>b\nGG\n")
    registered: list[str] = []
    real_register = DataSourceRegistration.register

    def spy(self, cls):
        registered.append(cls.name())
        return real_register(self, cls)

    monkeypatch.setattr(DataSourceRegistration, "register", spy)
    fresh = spark.newSession()
    sources.register_sources(fresh)
    # file_extension keeps the read on the Python DataSource (no JVM route)
    frames = [
        sources.read_format(fresh, "fasta", str(fa), file_extension="fasta")
        for _ in range(3)
    ]
    assert len(registered) == len(sources._datasource_classes()) == 13
    assert frames[-1].count() == 2
    assert fresh.read.format("fasta").load(str(fa)).count() == 2
