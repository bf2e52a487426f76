"""Raw-coordinate predicate → region rewrite (the reference's
designed-but-never-compiled chrom_optimizer_rule:
docs/vcf_expression_rewriting.md rules A-K, SURVEY.md §4.6).

``chrom = 'X' AND pos BETWEEN lo AND hi`` (and >=/<= spellings) must drive
the same tabix index pruning as the explicit ``vcf_region_filter`` form —
without the user spelling the UDF. The rewrite is optimization-only: the
residual SQL predicate still runs, so every test also checks values."""

from __future__ import annotations

import random
import threading

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

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
# A region statement builds its region-bound reader once and leaves the
# CREATE-time view as it is — no second read.


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


def test_register_all_once_per_session(spark, tmp_path, monkeypatch):
    """ExonSession(s) installs the surface once; a second ExonSession over
    the same session installs nothing, and everything resolves straight
    after the first."""
    import exon_spark.functions.registry as registry
    import exon_spark.sources as sources
    import exon_spark.sources.udtfs as udtfs
    from exon_spark.functions.samflags import SAM_FLAG_MASKS

    calls: list[str] = []
    for mod, name in (
        (registry, "register_sql_functions"),
        (sources, "register_sources"),
        (udtfs, "register_scan_udtfs"),
    ):
        def spy(s, _real=getattr(mod, name), _name=name):
            calls.append(_name)
            return _real(s)

        monkeypatch.setattr(mod, name, spy)
    fresh = spark.newSession()
    ExonSession(fresh)
    assert sorted(calls) == [
        "register_scan_udtfs", "register_sources", "register_sql_functions"
    ]
    ExonSession(fresh)
    assert len(calls) == 3

    def call(name, args):
        nulls = [f"CAST(NULL AS {a.split()[1]})" for a in args.strip("()").split(",")]
        return f"{name}({', '.join(nulls)})"

    exprs = [call(n, args) for n, (args, _r, _b) in registry._SQL_FUNCTIONS.items()]
    exprs += [f"{n}(4)" for n in SAM_FLAG_MASKS]
    row = fresh.sql("SELECT " + ", ".join(exprs)).collect()[0]
    assert len(row) == len(registry._SQL_FUNCTIONS) + len(SAM_FLAG_MASKS) == 30
    assert row[-len(SAM_FLAG_MASKS):] == tuple(
        mask & 4 != 0 for mask in SAM_FLAG_MASKS.values()
    )
    fa = tmp_path / "fresh.fasta"
    fa.write_text(">a\nACGT\n>b\nGG\n")
    assert fresh.read.format("fasta").load(str(fa)).count() == 2


def test_indexed_vcf_without_region_raises_at_collect(spark, indexed_vcf_table):
    """The CREATE frame gets its schema on the driver; a statement with no
    region still scans the Python reader, which refuses it."""
    gz, _expected = indexed_vcf_table
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE noregion_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    try:
        df = sess.sql("SELECT chrom, pos FROM noregion_vcf")
        assert df.columns == ["chrom", "pos"]
        with pytest.raises(Exception, match="requires a region filter"):
            df.collect()
    finally:
        sess.sql("DROP TABLE noregion_vcf")


# ------------------------------------------------------------ plan and jobs
# A region statement over an INDEXED_* view is one Spark job over a JVM
# DataSourceV2 scan that consumes the coordinate predicate and reads only
# the columns the statement selects: no Filter above the scan.


def _region_statement(spark, sess, sql):
    import re

    sc = spark.sparkContext
    gid = f"region_statement_{abs(hash(sql))}"
    df = sess.sql(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sc.setJobGroup(gid, sql)
    try:
        rows = df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    scans = re.findall(r"BatchScan (\S+)\[([^\]]*)\]", plan)
    cols = [
        {re.sub(r"#\d+L?$", "", c.strip()) for c in out.split(",")}
        for _name, out in scans
    ]
    return rows, jobs, plan, [name for name, _ in scans], cols


def test_indexed_vcf_region_statement_plan(spark, indexed_vcf_table):
    gz, expected = indexed_vcf_table
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE plan_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    try:
        rows, jobs, plan, scans, cols = _region_statement(
            spark,
            sess,
            "SELECT pos FROM plan_vcf "
            "WHERE vcf_region_filter('1:100000-900000', chrom, pos)",
        )
        assert sorted(r.pos for r in rows) == [
            p for p in expected["1"] if 100_000 <= p <= 900_000
        ]
        assert len(jobs) == 1, jobs
        assert "(Python)" not in plan and "Filter (" not in plan, plan
        assert scans == ["vcf-bgzf"] and cols == [{"pos"}], plan
        assert "PushedPredicates: [" in plan and "chrom = '1'" in plan, plan
    finally:
        sess.sql("DROP TABLE plan_vcf")


def test_indexed_bam_region_statement_plan(spark, indexed_bam):
    bam, positions = indexed_bam
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE plan_bam STORED AS INDEXED_BAM LOCATION '{bam}'")
    try:
        rows, jobs, plan, scans, cols = _region_statement(
            spark,
            sess,
            "SELECT start FROM plan_bam "
            "WHERE bam_region_filter('chr2:100000-900000', reference, start, end)",
        )
        assert sorted(r.start for r in rows) == [
            p for p in positions if p + 9 >= 100_000 and p <= 900_000
        ]
        assert len(jobs) == 1, jobs
        assert "(Python)" not in plan and "Filter (" not in plan, plan
        assert scans == ["bam-bgzf"] and cols == [{"start"}], plan
        assert "PushedPredicates: [" in plan and "reference = 'chr2'" in plan, plan
    finally:
        sess.sql("DROP TABLE plan_bam")


def test_vcf_region_statements_write_no_view_files(spark, indexed_vcf_table):
    """Region statements over a full-schema INDEXED_VCF view leave nothing
    behind: the DataSourceV2 reads the file itself, so no exoncat view
    (a .manifest/.synth pair per chunk set) is written."""
    import os
    import tempfile

    gz, expected = indexed_vcf_table
    views = os.path.join(tempfile.gettempdir(), "exon_spark_views")

    def listing():
        return set(os.listdir(views)) if os.path.isdir(views) else set()

    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE leak_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    try:
        before = listing()
        for lo in range(10_000, 1_000_000, 200_000):
            rows = sess.sql(
                "SELECT * FROM leak_vcf "
                f"WHERE vcf_region_filter('9:{lo}-{lo + 150_000}', chrom, pos)"
            ).collect()
            assert len(rows) == sum(1 for p in expected["9"] if lo <= p <= lo + 150_000)
        assert listing() - before == set()
    finally:
        sess.sql("DROP TABLE leak_vcf")


# ------------------------------------------------- pushed region predicates
# The Java readers consume a region statement's coordinate predicate at
# scan time, so every statement of a spelling plans and compiles the same
# code whatever its region; and the statement binds its tables in one JVM
# call, without rebinding the session's temp views.


@pytest.fixture(scope="module")
def pushdown_tables(spark, indexed_vcf_table, indexed_bam):
    gz, _expected = indexed_vcf_table
    bam, _positions = indexed_bam
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE pd_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    sess.sql(f"CREATE EXTERNAL TABLE pd_bam STORED AS INDEXED_BAM LOCATION '{bam}'")
    yield sess
    sess.sql("DROP TABLE pd_vcf")
    sess.sql("DROP TABLE pd_bam")


# the three spellings of the perfbench region_lookup workload
_SPELLINGS = ("vcf_filter", "vcf_raw", "bam_filter")


def _spelled(kind: str, lo: int, hi: int) -> str:
    if kind == "bam_filter":
        return (
            "SELECT name, start FROM pd_bam "
            f"WHERE bam_region_filter('chr2:{lo}-{hi}', reference, start, end)"
        )
    where = (
        f"vcf_region_filter('9:{lo}-{hi}', chrom, pos)"
        if kind == "vcf_filter"
        else f"chrom = '9' AND pos BETWEEN {lo} AND {hi}"
    )
    return f"SELECT chrom, pos FROM pd_vcf WHERE {where}"


@pytest.mark.parametrize("kind", _SPELLINGS)
def test_region_statement_plans_no_filter(spark, pushdown_tables, kind):
    sess = pushdown_tables
    sess.sql(_spelled(kind, 1, 300_000)).collect()
    df = sess.sql(_spelled(kind, 500_000, 700_000))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter (" not in plan, plan
    column = "reference = 'chr2'" if kind == "bam_filter" else "chrom = '9'"
    assert "PushedPredicates: [" in plan and column in plan, plan
    assert ">= 500000" in plan and "<= 700000" in plan, plan


def test_region_statements_compile_no_code(spark, pushdown_tables):
    """Region literals no longer reach generated code: after one warm-up
    statement per spelling, five statements with five other regions each
    compile nothing."""
    sess = pushdown_tables
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    for kind in _SPELLINGS:
        sess.sql(_spelled(kind, 1, 1000)).collect()
    before = compiles.getCount()
    for kind in _SPELLINGS:
        for i in range(5):
            lo = 100_000 + 170_003 * i
            sess.sql(_spelled(kind, lo, lo + 50_000 + i)).collect()
    assert compiles.getCount() - before == 0


# py4j round trips of one warm region statement (ExonSession.sql, before
# its action): the reader load and the statement binding (4 measured; a
# local master's defaultParallelism is read once per SparkContext). It was
# 59-92 when each statement rebuilt its reader and rebound the view call
# by call.
_MAX_STATEMENT_PY4J = 9


@pytest.mark.parametrize("kind", _SPELLINGS)
def test_region_statement_py4j_round_trips(spark, pushdown_tables, kind):
    sess = pushdown_tables
    sess.sql(_spelled(kind, 1, 1000)).collect()
    client = spark.sparkContext._gateway._gateway_client
    sent: list[str] = []
    real = client.send_command
    caller = threading.get_ident()

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread sends the deletes of objects that earlier
        # code dropped through the same client at any time; only the
        # statement's own thread counts
        if threading.get_ident() == caller:
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        df = sess.sql(_spelled(kind, 400_000, 600_000))
    finally:
        del client.send_command
    assert len(sent) <= _MAX_STATEMENT_PY4J, sent
    assert df.count() >= 0


def test_concurrent_region_statements_get_their_own_rows(
    spark, pushdown_tables, indexed_vcf_table
):
    """Two threads issue region statements with different regions on one
    table at once; each gets the rows of its own region."""
    import threading

    _gz, expected = indexed_vcf_table
    sess = pushdown_tables
    errors: list[str] = []

    def worker(chrom: str, seed: int):
        rng = random.Random(seed)
        for _ in range(8):
            lo = rng.randint(1, 1_500_000)
            hi = lo + rng.randint(10_000, 400_000)
            try:
                rows = sess.sql(
                    "SELECT chrom, pos FROM pd_vcf "
                    f"WHERE vcf_region_filter('{chrom}:{lo}-{hi}', chrom, pos)"
                ).collect()
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(f"{chrom}:{lo}-{hi}: {type(e).__name__}")
                continue
            got = sorted((r.chrom, r.pos) for r in rows)
            want = [(chrom, p) for p in expected[chrom] if lo <= p <= hi]
            if got != want:
                errors.append(f"{chrom}:{lo}-{hi}: {len(got)} rows, want {len(want)}")

    threads = [
        threading.Thread(target=worker, args=(chrom, seed))
        for chrom, seed in (("1", 1), ("9", 2))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []


def test_view_over_table_reads_whole_table_in_region_statement(
    spark, indexed_vcf_table
):
    """A SQL temp view defined over a format table still reads the whole
    table when a region statement over that table reads the view."""
    gz, expected = indexed_vcf_table
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE pv_vcf STORED AS VCF LOCATION '{gz}'")
    spark.sql("CREATE OR REPLACE TEMP VIEW pv_vcf_all AS SELECT * FROM pv_vcf")
    try:
        rows = sess.sql(
            "SELECT pos, (SELECT count(*) FROM pv_vcf_all) AS n FROM pv_vcf "
            "WHERE vcf_region_filter('9:1-500000', chrom, pos)"
        ).collect()
        assert sorted(r.pos for r in rows) == [p for p in expected["9"] if p <= 500_000]
        assert {r.n for r in rows} == {sum(len(v) for v in expected.values())}
    finally:
        spark.catalog.dropTempView("pv_vcf_all")
        sess.sql("DROP TABLE pv_vcf")


@pytest.fixture(scope="module")
def pushdown_vcf(tmp_path_factory):
    """An indexed VCF with missing and varied QUAL, for predicates that the
    reader cannot consume; returns its path and its positions."""
    root = tmp_path_factory.mktemp("pushdown_vcf")
    rng = random.Random(3)
    lines = ["##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"]
    positions = []
    for chrom in ("1", "2"):
        for pos in sorted(rng.sample(range(1, 2_000_000), 300)):
            qual = rng.choice([".", "10", "30", "50.5"])
            lines.append(f"{chrom}\t{pos}\t.\tA\tT\t{qual}\tPASS\tDP=5")
            positions.append(pos)
    plain = root / "pd.vcf"
    plain.write_text("\n".join(lines) + "\n")

    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    gz = root / "pd.vcf.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_vcf(str(gz))
    return str(gz), positions


def _near(values):
    """A value of ``values`` or one off it: comparisons hit their edges."""
    return st.builds(lambda v, d: v + d, st.sampled_from(values), st.sampled_from([-1, 0, 1]))


_VCF_CHROMS = st.sampled_from(["1", "2", "3"])


def _vcf_predicate(positions):
    atom = st.one_of(
        st.builds(
            lambda op, c: f"chrom {op} '{c}'",
            st.sampled_from(["=", "<>", "<", ">="]),
            _VCF_CHROMS,
        ),
        st.builds(
            lambda op, n: f"pos {op} {n}",
            st.sampled_from(["=", "<>", "<", "<=", ">", ">="]),
            _near(positions),
        ),
        st.builds(lambda n: f"{n} < pos", _near(positions)),
        st.sampled_from(["pos IS NULL", "pos IS NOT NULL", "chrom IS NULL"]),
        # not consumable: QUAL is not a coordinate column
        st.builds(lambda q: f"qual > {q}", st.sampled_from([0, 20, 40])),
        st.just("qual IS NULL"),
    )
    return st.recursive(
        atom,
        lambda kids: st.one_of(
            st.builds(lambda a, b: f"({a}) AND ({b})", kids, kids),
            st.builds(lambda a, b: f"({a}) OR ({b})", kids, kids),
            st.builds(lambda a: f"NOT ({a})", kids),
        ),
        max_leaves=5,
    )


@settings(max_examples=12, deadline=None)
@given(
    spelling=st.sampled_from(["vcf_filter", "vcf_raw"]),
    chrom=_VCF_CHROMS,
    span=st.sampled_from([0, 1_000, 100_000, 1_000_000]),
    extra=st.sampled_from([None, "qual > 20", "qual IS NULL", "pos IS NULL", "chrom <> '2'"]),
    scoped=st.booleans(),
    data=st.data(),
)
def test_vcf_pushdown_matches_python_datasource(
    spark, pushdown_vcf, spelling, chrom, span, extra, scoped, data
):
    """The JVM route, which consumes coordinate predicates at scan time,
    gives the rows of the Python DataSource route, where Spark filters:
    for a region statement in the perfbench spellings with an optional
    extra conjunct, and for random AND/OR/NOT/IS NULL predicates over a
    region or a whole-file frame."""
    from exon_spark.sources import read_format

    gz, positions = pushdown_vcf
    lo = max(1, data.draw(_near(positions), label="lo"))
    region = f"{chrom}:{lo}-{lo + span}"
    where = (
        f"vcf_region_filter('{region}', chrom, pos)"
        if spelling == "vcf_filter"
        else f"chrom = '{chrom}' AND pos BETWEEN {lo} AND {lo + span}"
    ) + (f" AND {extra}" if extra else "")
    cols = ["chrom", "pos", "qual"]
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE prop_vcf STORED AS INDEXED_VCF LOCATION '{gz}'")
    try:
        got = _rows(sess.sql(f"SELECT chrom, pos, qual FROM prop_vcf WHERE {where}"))
    finally:
        sess.sql("DROP TABLE prop_vcf")
    python = spark.read.format("vcf").option("regions", region).load(gz)
    assert got == _rows(python.where(where).select(cols))

    opts = {"regions": region} if scoped else {}
    jvm = read_format(spark, "vcf", gz, **opts)
    assert "(Python)" not in jvm._jdf.queryExecution().executedPlan().toString()
    reader = spark.read.format("vcf")
    if scoped:
        reader = reader.option("regions", region)
    python = reader.load(gz)
    for predicate in data.draw(st.lists(_vcf_predicate(positions), min_size=6, max_size=6)):
        want = _rows(python.where(predicate).select(cols))
        assert _rows(jvm.where(predicate).select(cols)) == want, predicate


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


# --------------------------------------------------- tabix text (GFF) reads
# A GFF region read and a full scan of a .gff.gz with a .tbi read the
# index ranges in place through the Java line source: one job, no Python
# scan, no RDD leaf, and no file written beside the data.


@pytest.fixture(scope="module")
def indexed_gff(tmp_path_factory):
    root = tmp_path_factory.mktemp("gff_pins")
    rng = random.Random(11)
    lines = ["##gff-version 3"]
    starts: dict[str, list[int]] = {}
    for chrom in ("chr1", "chr2"):
        starts[chrom] = sorted(rng.sample(range(1, 2_000_000), 1500))
        for s in starts[chrom]:
            lines.append(f"{chrom}\tsrc\tgene\t{s}\t{s + 99}\t.\t+\t.\tID=g{s}")
    plain = root / "pins.gff"
    plain.write_text("\n".join(lines) + "\n")

    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_gff

    gz = root / "pins.gff.gz"
    bgzip_file(str(plain), str(gz))
    build_tabix_gff(str(gz))
    return str(gz), starts


def _collect_with_jobs(spark, df, gid):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        rows = df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, jobs


def test_gff_region_read_plan_and_jobs(spark, indexed_gff):
    from exon_spark.sources import read_format

    gz, starts = indexed_gff
    df = read_format(spark, "gff", gz, regions="chr2:200000-700000").select("start")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan bgzf-lines" in plan, plan
    assert "(Python)" not in plan and "ExistingRDD" not in plan, plan
    rows, jobs = _collect_with_jobs(spark, df, "gff_region_pin")
    assert sorted(r.start for r in rows) == [
        s for s in starts["chr2"] if s + 99 >= 200_000 and s <= 700_000
    ]
    assert len(jobs) < 3, jobs


def test_gff_reads_write_no_view_files(spark, indexed_gff):
    """GFF region reads and full scans of a .gff.gz with a .tbi leave
    nothing under $TMPDIR/exon_spark_views (no .manifest/.synth view, no
    .bgz symlink)."""
    import os
    import tempfile

    from exon_spark.sources import read_format

    gz, starts = indexed_gff
    views = os.path.join(tempfile.gettempdir(), "exon_spark_views")

    def listing():
        return set(os.listdir(views)) if os.path.isdir(views) else set()

    before = listing()
    for lo in range(10_000, 1_000_000, 200_000):
        rows = read_format(spark, "gff", gz, regions=f"chr1:{lo}-{lo + 150_000}").collect()
        assert len(rows) == sum(
            1 for s in starts["chr1"] if s + 99 >= lo and s <= lo + 150_000
        )
    for _ in range(3):
        assert read_format(spark, "gff", gz).count() == 3000
    assert listing() - before == set()
