"""Format data sources (SURVEY.md §2.1 parity surface).

Three tiers, each Spark-first:

* record formats (FASTA, FASTQ, VCF, SAM, SDF, GenBank, mzML, FCS) — Python
  DataSources emitting Arrow batches; registered with
  ``spark.dataSource.register`` so ``spark.read.format("fasta")`` and
  ``CREATE TABLE ... USING fasta`` work;
* JVM readers (``jvm_fast``) that ``read_format`` picks when the options
  allow: Java DataSourceV2 readers for local FASTA (files, directories
  and globs, hive partitions too), local FASTQ (without hive
  partitions), indexed VCF regions and local BAM, and Column expressions
  over ``spark.read.text``/``csv`` for FASTA on Hadoop-native object
  stores, plain VCF scans and mzML metadata — same schemas, rows and
  ``columns`` projection, no Python worker;
* tabular formats (GFF, GTF, BED, HMMDOMTAB) — pure ``spark.read.csv``/text
  + Column expressions (JVM-side parsing, no Python in the data path).

``read_format(spark, fmt, path, **options)`` is the uniform entry point used
by ``ExonSession.read_*``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import CaseInsensitiveDict

from exon_spark.sources.tabular import TABULAR_READERS
from exon_spark.sources.util import default_parallelism

_DATASOURCES = None


def _datasource_classes():
    global _DATASOURCES
    if _DATASOURCES is None:
        from exon_spark.sources.bam import BamSource
        from exon_spark.sources.fasta import FastaSource
        from exon_spark.sources.fastq import FastqSource
        from exon_spark.sources.sam import SamSource
        from exon_spark.sources.bcf import BcfSource
        from exon_spark.sources.vcf import VcfSource

        from exon_spark.sources.fcs import FcsSource
        from exon_spark.sources.genbank import GenbankSource
        from exon_spark.sources.mzml import MzmlSource
        from exon_spark.sources.sdf import SdfSource
        from exon_spark.sources.bigwig import BigWigValueSource, BigWigZoomSource
        from exon_spark.sources.cram import CramSource

        classes = [
            FastaSource,
            FastqSource,
            VcfSource,
            BcfSource,
            SamSource,
            BamSource,
            SdfSource,
            GenbankSource,
            MzmlSource,
            FcsSource,
            CramSource,
            BigWigValueSource,
            BigWigZoomSource,
        ]
        _DATASOURCES = classes
    return _DATASOURCES


def source_class(fmt: str):
    """The Python DataSource class registered under ``fmt``, or None."""
    for cls in _datasource_classes():
        if cls.NAME == fmt:
            return cls
    return None


def register_sources(spark: SparkSession) -> None:
    """Register every record-format DataSource (mirrors the reference's
    factory registration for its format keywords, exon_context_ext.rs:131-179).
    Runs once per SparkSession object: ``read_format`` calls it on every
    read, and re-registering costs tens of ms and a WARN per source."""
    if getattr(spark, "_exon_sources_registered", False):
        return
    # Spark checks a new source's name against the *active* session's
    # registry, so a spark.newSession() must be active while it registers
    jvm_session = spark._jvm.SparkSession
    active = jvm_session.getActiveSession()
    jvm_session.setActiveSession(spark._jsparkSession)
    try:
        for cls in _datasource_classes():
            spark.dataSource.register(cls)
    finally:
        if active.isDefined():
            jvm_session.setActiveSession(active.get())
        else:
            jvm_session.clearActiveSession()
    spark._exon_sources_registered = True  # type: ignore[attr-defined]


def read_format(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    """A DataFrame over ``path`` in format ``fmt``: the delta reader, a
    tabular (csv/text) reader, a JVM fast reader, or else the Python
    DataSource registered under ``fmt``.

    For a Python DataSource the schema is computed here, on the driver, by
    the source's own ``schema()`` with the reader's options (as strings,
    plus ``path``), and handed to the reader. So ``load()`` starts no
    planner worker, and a frame that is never scanned (a ``CREATE
    EXTERNAL TABLE`` view whose region statements bind a region-bound
    frame in its place) costs no Python worker at all. A scan still
    creates its data source in a worker when Spark plans it."""
    fmt = fmt.lower()
    if fmt in ("delta", "deltatable"):
        from exon_spark.sources.delta import read_delta

        return read_delta(spark, path, **options)
    if fmt in TABULAR_READERS:
        return TABULAR_READERS[fmt](spark, path, **options)
    # plain scans of text formats go through whole-stage-codegen'd Column
    # expressions (no Python workers); option-rich scans (regions, encodings,
    # header-driven schemas) use the Python DataSources
    from exon_spark.sources.jvm_fast import jvm_fast_reader

    fast = jvm_fast_reader(fmt, path, options, spark=spark)
    if fast is not None:
        return fast(spark, path)
    register_sources(spark)
    # let planners size index-chunk / byte-range splits to the cluster
    # (plan_partitions runs in a sessionless worker and can't ask Spark)
    options.setdefault("target_parallelism", default_parallelism(spark))
    options = {k: str(v) for k, v in options.items()}
    reader = spark.read.format(fmt).options(**options)
    cls = source_class(fmt)
    if cls is not None:
        # the schema the planner worker would compute, from the same class
        # and options: with it given, load() starts no Python worker
        source = cls(options=CaseInsensitiveDict({**options, "path": path}))
        reader = reader.schema(source.schema())
    return reader.load(path)
