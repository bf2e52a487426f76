"""Session helpers — the PySpark analogue of the reference's ``ExonSession``
(exon/exon-core/src/session_context/exon_context_ext.rs).

The reference wraps a DataFusion ``SessionContext`` with registered formats +
UDFs and ``read_*`` helpers; here ``ExonSession`` wraps a ``SparkSession`` the
same way. All relational work is stock Catalyst (SURVEY.md §2.3); session
defaults below are the scale-oriented knobs (AQE, partition sizing) that
replace the reference's ``new_exon_config`` (config/mod.rs:27-45).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_MAX_POS = 2**63 - 1


def _regions_from_raw_predicates(query: str) -> list[str]:
    """Recognize raw genomic-coordinate conjunctions in a SQL string and
    fold them into region strings — the semantics of the reference's
    designed-but-never-compiled chrom_optimizer_rule
    (docs/vcf_expression_rewriting.md rules A-K, SURVEY.md §4.6):

    * rule A: ``chrom = 'X'`` → region ``X`` (whole sequence)
    * rule B: ``pos = p`` → interval ``p-p``
    * rule C: ``pos <= hi`` → interval ``1-hi`` (strict ``<`` unsupported,
      matching the reference's note on inclusive VCF intervals)
    * rule D: ``pos >= lo`` → interval ``lo-`` (open upper bound)
    * rules E/I/J/K: conjunctions intersect — max of lower bounds, min of
      upper bounds, single chrom.

    This function is pure text→region folding; it assumes its input is a
    pure top-level conjunction. The *gate* that guarantees that assumption
    is ``_raw_rewrite_target`` below: it only hands over the top-level
    WHERE text of a single-SELECT, single-format-table statement (no JOIN,
    comma-FROM, CASE, subquery, OR, or NOT), so intersecting every matched
    constraint is sound — a row outside the intersection fails some
    conjunct and is dropped by the residual predicate regardless; the
    pushdown stays optimization-only.
    Returns ``[]`` (no pushdown) on anything ambiguous.
    """
    import re

    chroms = set(
        re.findall(
            r"\b(?:chrom|reference_name|seqname)\s*=\s*'([^']+)'", query, re.I
        )
    )
    if len(chroms) != 1:
        return []
    (chrom,) = chroms
    lo, hi = 1, None
    pos = r"(?:pos|start|position)"
    for a, b in re.findall(
        rf"\b{pos}\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)", query, re.I
    ):
        lo = max(lo, int(a))
        hi = int(b) if hi is None else min(hi, int(b))
    for v in re.findall(rf"\b{pos}\s*>=\s*(\d+)", query, re.I):
        lo = max(lo, int(v))
    for v in re.findall(rf"\b{pos}\s*<=\s*(\d+)", query, re.I):
        hi = int(v) if hi is None else min(hi, int(v))
    for v in re.findall(rf"\b(?:pos|position)\s*=\s*(\d+)", query, re.I):
        v = int(v)
        lo = max(lo, v)
        hi = v if hi is None else min(hi, v)
    if hi is not None and hi < lo:
        return []  # contradictory conjunction — leave the plan alone
    if hi is None:
        return [chrom] if lo == 1 else [f"{chrom}:{lo}"]
    return [f"{chrom}:{lo}-{hi}"]


def _raw_rewrite_target(
    query: str, table_names: "list[str]"
) -> "tuple[list[str], str | None]":
    """Gate for the raw-coordinate rewrite: decide whether ``query`` is a
    statement where folding ``chrom=... AND pos...`` into a source region
    is provably safe, and if so WHICH single table the region may bind to.

    Safe means: one SELECT (no subqueries anywhere), no JOIN / comma-FROM
    (a second relation could share the column text but not the
    constraint), no CASE (a coordinate comparison inside CASE WHEN is not
    a filter), no EXISTS/UNION/INTERSECT/EXCEPT, exactly one registered
    format table referenced, and the coordinate predicates taken ONLY
    from the top-level WHERE clause. Anything else returns ``([], None)``
    and the statement runs unrewritten — pushdown is optimization-only,
    so bailing is always correct.

    Mirrors the applicability conditions of the reference's
    chrom_optimizer_rule design (docs/vcf_expression_rewriting.md: the
    rule was scoped to a single TableScan's filter conjunction).
    """
    import re

    if len(re.findall(r"\bSELECT\b", query, re.I)) != 1:
        return [], None
    if re.search(
        r"\b(JOIN|CASE|EXISTS|UNION|INTERSECT|EXCEPT|HAVING)\b", query, re.I
    ):
        return [], None
    referenced = [
        n for n in table_names if re.search(rf"\b{re.escape(n)}\b", query)
    ]
    if len(referenced) != 1:
        return [], None
    m = re.search(
        r"\bFROM\b(.*?)(?=\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b|$)",
        query,
        re.I | re.S,
    )
    if not m:
        return [], None
    from_clause = m.group(1)
    # strip (nested) parenthesized argument lists before the comma test so
    # `FROM vcf_scan('a','b')` isn't mistaken for a comma-join
    while re.search(r"\([^()]*\)", from_clause):
        from_clause = re.sub(r"\([^()]*\)", "", from_clause)
    if "," in from_clause:
        return [], None
    wm = re.search(
        r"\bWHERE\b(.*?)(?=\bGROUP\b|\bORDER\b|\bLIMIT\b|$)",
        query,
        re.I | re.S,
    )
    if not wm:
        return [], None
    return _regions_from_raw_predicates(wm.group(1)), referenced[0]


def get_spark(
    app_name: str = "exon-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-appropriate defaults.

    Mirrors ``new_exon_config`` (config/mod.rs:27-45): the reference enables
    repartitioned joins/aggs/sorts/file-scans with target_partitions=ncpus;
    Spark equivalents are AQE + shuffle-partition sizing + max file split
    size. On a real cluster these same settings hold — AQE coalesces the
    shuffle partitions at runtime so one number serves all scale factors.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    # Python planning workers (create_data_source / analyze_udtf) inherit the
    # JVM's PYTHONPATH, which inherits this process's env — export the package
    # root BEFORE the gateway launches so workers can import exon_spark even
    # when the driver found it via sys.path only. (Cluster deploys: use
    # --py-files or the spark.executorEnv.PYTHONPATH set below.)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Small single files must still fan out: fan-out-heavy operators
        # (rolling-window fingerprints, shingle explodes) multiply rows
        # 100-1000x AFTER the scan, so a 10 MB parquet read as one split
        # serializes megarows onto one core. minPartitionNum targets
        # ~2 splits/core and the lowered open-cost stops the bin-packer
        # from gluing small splits back together (defaults 4 MB/1 split
        # left documents.parquet a single task; measured 4.3s -> 0.6s on
        # the sf0.1 text profile). At cluster scale big inputs already
        # exceed these floors and the knobs are inert.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in exon_spark.queries.base.table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast decisions come from AQE RUNTIME sizes only. Static
        # planning sizes joins from scan-bytes x pruning/selectivity
        # ratios, which lie catastrophically after a Generate: the q18
        # shingle table (25M rows, ~600 MB) was estimated at 15.9 MiB
        # because explode's 50x row fan-out is not modeled while the
        # dropped text column IS — at sf10 three queries OOMed the
        # driver building 1 GB+ "broadcasts" (r10 scale probe). With
        # the static threshold off, every non-hinted join starts as a
        # shuffle plan and AQE promotes it to broadcast from the
        # ACTUAL map-output size; explicit F.broadcast() hints
        # (bounded model/query tables) are unaffected by either knob.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Tungsten page size. Derived from an 8g heap it is 64 MB, and
        # every hash-aggregate or sort task zero-fills one such page on
        # its first row — a G1 humongous object (regions are 4 MB) even
        # when the task holds a few KB. The q51 line dedup allocated
        # ~700 MB of them per run and the driver heap grew with every
        # repeat. 1 MB pages stay below the humongous threshold; a record
        # larger than a page still gets a page of its own size.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.session.timeZone", "UTC")
        # delete reliable checkpoints (dup_clusters) once their frame is dropped
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    # The exon_spark jar: the splittable BGZF codec (.bgz) that lets the JVM
    # text/csv readers byte-range split bgzipped files, and the DataSourceV2
    # readers (jvm_fast, tabular). extraClassPath must be set before the
    # JVM launches; spark.jars covers real-cluster executors.
    from exon_spark.jvm import BGZF_CODEC_CLASS, ensure_bgzf_jar

    codec_jar = ensure_bgzf_jar()
    if codec_jar:
        b = (
            b.config("spark.jars", codec_jar)
            .config("spark.driver.extraClassPath", codec_jar)
            .config("spark.executor.extraClassPath", codec_jar)
            .config("spark.hadoop.io.compression.codecs", BGZF_CODEC_CLASS)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None and sc.master.startswith("local"):
        # a cluster deploys spark.checkpoint.dir; a local session uses the
        # driver's scratch directory, which Spark deletes at stop
        from pyspark import SparkFiles

        sc.setCheckpointDir(os.path.join(SparkFiles.getRootDirectory(), "checkpoints"))
    register_all(spark)
    return spark


def register_all(spark: SparkSession) -> None:
    """Install the full exon_spark surface on an existing session:
    SQL functions (§2.4), data sources (§2.1) and scan UDTFs. Mirrors
    ``ExonSession::new`` (exon_context_ext.rs:121-213).

    Runs once per SparkSession object, like ``register_sources``:
    ``get_spark()`` and ``ExonSession(spark)`` both call it, and a second
    pass would only re-install the same temporary functions. A
    ``spark.newSession()`` is a new object with its own function registry,
    so it gets a full pass."""
    if getattr(spark, "_exon_registered", False):
        return
    from exon_spark.functions.registry import register_sql_functions
    from exon_spark.sources import register_sources
    from exon_spark.sources.udtfs import register_scan_udtfs

    register_sql_functions(spark)
    register_sources(spark)
    register_scan_udtfs(spark)
    spark._exon_registered = True  # type: ignore[attr-defined]


class ExonSession:
    """Thin convenience wrapper: ``ExonSession(spark).read_fasta(path)`` etc.,
    mirroring the reference's 17 ``read_*`` methods
    (exon_context_ext.rs:313-720). Format readers live in
    ``exon_spark.sources``; each ``read_x`` is sugar over
    ``spark.read.format("x")``.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        register_all(self.spark)

    _SET_RE = None  # compiled lazily below
    _REGION_FN_RE = None

    def sql(self, query: str) -> DataFrame:
        """SQL entry point. Statement forms intercepted exactly where the
        reference hooks its parser (sql/parser.rs:52-71):

        * ``COPY ... TO ... [STORED AS FASTA/FASTQ/PARQUET/CSV]`` — sinks
        * ``CREATE [EXTERNAL] TABLE ... STORED AS/USING <format>`` — ddl
        * ``DROP TABLE <format view>``
        * ``SET exon.<key> = <value>`` (config/mod.rs:130-137) — becomes
          ``spark.exon.<key>`` session conf consulted by the DDL layer
        * queries over INDEXED_* tables with a literal ``x_region_filter``
          predicate get the region pushed into the reader options (the
          reference's flagship pushdown, SURVEY.md §4.1); the SQL predicate
          still applies in full, so pushdown is purely an optimization.

        Everything else is stock ``spark.sql``."""
        import re

        from exon_spark.sinks import maybe_handle_copy
        from exon_spark.sources.ddl import (
            maybe_handle_create_table,
            maybe_handle_drop_table,
        )

        m = re.match(
            r"^\s*SET\s+exon\.(\w+)\s*=\s*'?([\w.]+)'?\s*;?\s*$", query, re.I
        )
        if m:
            self.spark.conf.set(f"spark.exon.{m.group(1)}", m.group(2))
            return self.spark.range(0).select()

        # scan UDTFs run in session-less workers, so session config that
        # changes their schema (SET exon.sam_parse_tags) is forwarded as an
        # extra 'key=value' argument at rewrite time; the conf is read only
        # for a statement that calls the UDTF
        for fmt_key in ("sam", "bam"):
            if f"{fmt_key}_scan(" not in query:
                continue
            try:
                conf = self.spark.conf.get(f"spark.exon.{fmt_key}_parse_tags", None)
            except Exception:
                conf = None
            if conf is not None and str(conf).lower() in ("true", "1"):
                query = re.sub(
                    rf"\b({fmt_key}_scan\(\s*'[^']*')\s*\)",
                    r"\1, 'parse_tags=true')",
                    query,
                )

        handled = maybe_handle_copy(self.spark, query)
        if handled is None:
            handled = maybe_handle_create_table(self.spark, query)
        if handled is None:
            handled = maybe_handle_drop_table(self.spark, query)
        if handled is not None:
            return handled
        return self._sql_with_region_pushdown(query)

    def _sql_with_region_pushdown(self, query: str) -> DataFrame:
        """Bind literal ``x_region_filter('region', ...)`` regions into the
        reader options of referenced format tables for this one statement.
        Only safe for pure conjunctions (an OR could need rows outside the
        region), so any OR/NOT in the query disables the rewrite. The
        statement's predicate still applies in full: the Java readers
        consume the coordinate conjuncts at scan time and evaluate them
        per record, Spark filters the rest — correctness never depends on
        the pushdown (§4.1).

        Also recognizes raw coordinate predicates —
        ``chrom = 'chr1' AND pos BETWEEN lo AND hi`` (or >=/<= pairs) —
        the semantics of the reference's designed-but-never-compiled
        chrom_optimizer_rule (docs/vcf_expression_rewriting.md rules A-K;
        SURVEY.md §4.6): the same index pruning now fires without the
        ``vcf_region_filter`` spelling.

        The binding is one JVM call (``DriverCalls.sql``): it parses the
        statement and replaces each direct single-part reference to a
        rebound table with its region-bound frame. The session's temp
        views are never changed, so concurrent statements do not see
        each other's regions, and a view defined over the table still
        reads the whole table."""
        import re

        from exon_spark.sources import read_format

        regions = re.findall(
            r"\w+_region_filter\(\s*'([^']+)'", query, re.IGNORECASE
        )
        registry = getattr(self.spark, "_exon_tables", {}) or {}
        only_table: str | None = None  # raw rewrite binds ONE table only
        if not regions and registry:
            raw_regions, raw_table = _raw_rewrite_target(
                query, list(registry)
            )
            if raw_regions:
                regions, only_table = raw_regions, raw_table
        if (
            not regions
            or not registry
            or re.search(r"\b(OR|NOT)\b", query, re.IGNORECASE)
        ):
            return self.spark.sql(query)
        region_opt = ",".join(regions)
        names: list[str] = []
        frames = []
        for name, (fmt, path, options) in registry.items():
            if "regions" in options or "region" in options:
                continue
            if only_table is not None and name != only_table:
                continue
            if not re.search(rf"\b{re.escape(name)}\b", query):
                continue
            try:
                bound = read_format(
                    self.spark, fmt, path, regions=region_opt, **options
                )
            except Exception:
                continue  # the statement reads the table's own view
            names.append(name)
            frames.append(bound._jdf)
        if not names:
            return self.spark.sql(query)
        from exon_spark.jvm import driver_call

        jdf = driver_call(self.spark, "sql")(
            self.spark._jsparkSession, query, "\n".join(names), frames
        )
        return DataFrame(jdf, self.spark)

    def register_exon_table(self, name: str, path: str, fmt: str, **options) -> None:
        """CREATE EXTERNAL TABLE analogue (exon_context_ext.rs:683-697)."""
        from exon_spark.sources import read_format

        read_format(self.spark, fmt, path, **options).createOrReplaceTempView(name)

    def __getattr__(self, name: str):
        # read_fasta / read_vcf / ... resolve dynamically against sources
        if name.startswith("read_"):
            fmt = name[5:]

            def _reader(path: str, **options) -> DataFrame:
                from exon_spark.sources import read_format

                return read_format(self.spark, fmt, path, **options)

            return _reader
        raise AttributeError(name)
