"""JVM-side fast paths (no Python in the data path).

The Python DataSources (fasta.py, vcf.py, bam.py, ...) are the
fully-featured readers: header-driven schemas, typed tags, parse options.
But their per-record Python parse is the bottleneck (~20x slower per
record than the reference's Rust parsers), and every read of one starts
Python planner and executor workers. ``read_format`` routes a read here
automatically when no Python-only option is requested. Schemas and rows
are identical to the DataSource's, so callers can't tell which path
served them.

* Local FASTA files, directories and globs go to the Java DataSourceV2
  ``FastaSource`` (``read_fasta_dsv2``): the driver lists the files with
  the Python ``FastaSource._files()`` and plans them with its
  ``plan_partitions`` (byte ranges of plain files above 1 MB, one
  partition per gzip/BGZF/zstd file), and one JVM call loads the reader.
  Executors frame records at line-start '>' and decode only the columns
  Catalyst requires. ``file_extension``, ``regions``,
  ``sequence_data_type`` and a ``compression`` that disagrees with a
  file's extension stay on the Python DataSource.
* FASTA on Hadoop-native object stores (``s3a``, ``gs``, ``hdfs``,
  ``abfss``, ``wasbs``), plain VCF scans and mzML metadata projections
  are Column expressions over ``spark.read.text`` / ``spark.read.csv`` —
  whole-stage-codegen'd and Arrow-free. gzip input is decompressed by the
  JVM codec; uncompressed and unindexed BGZF (``.bgz``) input splits by
  byte range, so a single large file fans out across executors
  (SURVEY.md §4.4).
* Local VCF reads of a ``.gz``/``.bgz`` with a ``.tbi`` (region and
  full scans, and region scans over a tabix-style ``.csi``) and local BAM
  reads go to the Java DataSourceV2 readers in exon_spark/jvm
  (``VcfBgzfSource``, ``BamBgzfSource``). Both plan on the driver with
  their Python source's own planner
  (``VcfSource``/``BamSource.plan_partitions``), so either route reads
  the same partitions; ``read_dsv2`` encodes the plan as the one
  partition spec the Java readers parse (tabular's ``BgzfLineSource``
  too). Executors inflate only the planned BGZF blocks and decode only
  the columns Catalyst requires.
* Local FASTQ files, directories and globs go to the Java DataSourceV2
  ``FastqSource``, one partition per file listed by the Python
  ``FastqSource._files()``: plain, gzip/BGZF and zstd, with the rows and
  errors of the Python reader. Object stores, hive partition values,
  ``file_extension`` and a ``compression`` that disagrees with a file's
  extension stay on the Python DataSource, as do streaming and the
  ``fastq_scan`` table function.
* Every route honours the ``columns`` option as the Python DataSources
  do (``_projection``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from exon_spark.sources.util import default_parallelism


def _partition_cols(df: DataFrame, data_col: str = "value") -> list[str]:
    return [c for c in df.columns if c != data_col]


_FASTA_BASE_COLS = ("id", "description", "sequence")


def read_fasta_jvm(spark: SparkSession, path: str, columns=None) -> DataFrame:
    """FASTA on a Hadoop-native object store via lineSep='\\n>': one text
    row per record, then pure Column expressions (schema: id, description,
    sequence — config.rs:166-168), projected to ``columns``. Records split
    at line-start '>' only, so a '>' inside a header is text; the first
    record of a file keeps its '>', which is stripped. Unlike the Java
    reader, text before a file's first header reads as a record, and a
    record whose header starts with '>' loses that '>'.

    The record is parsed with instr/substring/replace on the raw buffer —
    no split-to-array — and the (header, sequence) pair is pinned behind an
    ``explode(array(struct(...)))`` Generate barrier so the id/description
    projections reference the computed header instead of Catalyst inlining
    the substring chain into each (measured 30% faster than the
    split + array_join formulation)."""
    txt = spark.read.option("lineSep", "\n>").text(path)
    parts = _partition_cols(txt)
    txt = txt.select(
        F.when(F.startswith("value", F.lit(">")), F.expr("substring(value, 2)"))
        .otherwise(F.col("value"))
        .alias("value"),
        *parts,
    )
    hpos = F.instr("value", "\n")
    header = F.replace(
        F.when(hpos > 0, F.substring("value", F.lit(1), hpos - 1)).otherwise(
            F.col("value")
        ),
        F.lit("\r"),
        F.lit(""),
    )
    seq = F.when(
        hpos > 0,
        F.replace(
            F.replace(
                F.expr("substring(value, instr(value, '\\n') + 1)"),
                F.lit("\r"),
                F.lit(""),
            ),
            F.lit("\n"),
            F.lit(""),
        ),
    ).otherwise(F.lit(""))
    rec = (
        txt.filter(F.length(F.trim(F.col("value"))) > 0)
        .select(
            F.explode(
                F.array(F.struct(header.alias("h"), seq.alias("s")))
            ).alias("r"),
            *parts,
        )
    )
    sp = F.instr("r.h", " ")
    return rec.select(
        F.when(sp > 0, F.expr("substring(r.h, 1, instr(r.h, ' ') - 1)"))
        .otherwise(F.col("r.h"))
        .alias("id"),
        F.when(
            sp > 0, F.nullif(F.expr("substring(r.h, instr(r.h, ' ') + 1)"), F.lit(""))
        ).alias("description"),
        F.col("r.s").alias("sequence"),
        *[F.col(c).cast("string").alias(c) for c in parts],
    ).select(*_projection(_FASTA_BASE_COLS + tuple(parts), columns))


def read_vcf_jvm(spark: SparkSession, path: str, columns=None) -> DataFrame:
    """Flat VCF via the csv reader (tab sep, '#' comment lines skipped) +
    Column expressions, projected to ``columns``. Schema matches
    VcfSource.BASE_SCHEMA (schema_builder.rs:88-122)."""
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .csv(path, inferSchema=False)
    )
    import re as _re

    data = [c for c in df.columns if _re.fullmatch(r"_c\d+", c)]
    parts = [c for c in df.columns if not _re.fullmatch(r"_c\d+", c)]

    def dot_null(c):
        return F.when(F.col(c).isin(".", ""), None).otherwise(F.col(c))

    arr = "array<string>"  # cast fixes containsNull to match the DataSource schema
    cols = [
        F.col("_c0").alias("chrom"),
        F.col("_c1").try_cast("bigint").alias("pos"),
        F.split(dot_null("_c2"), ";").cast(arr).alias("id"),
        F.col("_c3").alias("ref"),
        F.split(dot_null("_c4"), ",").cast(arr).alias("alt"),
        dot_null("_c5").try_cast("float").alias("qual"),
        F.split(dot_null("_c6"), ";").cast(arr).alias("filter"),
        dot_null("_c7").alias("info"),
    ]
    if len(data) > 8:
        fmt_cols = [F.col(c) for c in data[8:]]
        cols.append(
            F.nullif(F.concat_ws("\t", *fmt_cols), F.lit("")).alias("formats")
        )
    else:
        cols.append(F.lit(None).cast("string").alias("formats"))
    cols += [F.col(c).cast("string").alias(c) for c in parts]
    return df.select(*cols).select(*_projection(_VCF_BASE_COLS + tuple(parts), columns))


_VCF_BASE_COLS = (
    "chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats",
)


def _projection(base_cols, columns) -> list[str]:
    """The ``columns`` option as the Python DataSources read it
    (FileFormatSource.schema): the named base columns in schema order,
    or every base column when it names none of them."""
    if isinstance(columns, str):
        columns = [c.strip() for c in columns.split(",")]
    keep = set(columns or ())
    return [c for c in base_cols if c in keep] or list(base_cols)


def read_dsv2(
    spark: SparkSession, cls: str, path: str, parts, columns=()
) -> DataFrame:
    """Load a Java DataSourceV2 reader (VcfBgzfSource, BamBgzfSource,
    BgzfLineSource) over planned partitions: those of
    ``VcfSource``/``BamSource.plan_partitions``, or the ``chunks``
    partitions of a tabix text read (tabular). Each partition becomes one
    entry ``scope@beg:end;beg:end...`` of the ``partitions`` option (BGZF
    virtual-offset ranges, -1 = after the header / end of file): scope
    ``-`` keeps every record, ``*`` records overlapping any region of the
    ``regions`` option, a number records overlapping that one region — a
    ``tabix``/``bai`` partition keeps its own region's matches, so
    overlapping regions each emit theirs. A ``chunks`` partition keeps
    every record of its ranges; an ``empty`` partition reads nothing.

    The frame is projected to ``columns`` (every column when empty). The
    specs are built here as strings, and one JVM call
    (``DriverCalls.readDsv2``) loads the reader and projects it."""
    from exon_spark.functions.region import parse_region
    from exon_spark.jvm import driver_call

    regions: list[str] = []
    specs = []
    for part in parts:
        kind = part.extra[0] if part.extra else None
        if kind == "empty":
            continue
        scope, ranges = "-", [(-1, -1)]
        if kind == "range":
            _, beg, end = part.extra
            ranges = [(beg, -1 if end is None else end)]
        elif kind == "chunks":
            ranges = part.extra[1]
        elif kind in ("tabix", "bai"):
            _, region, ranges = part.extra
            if region not in regions:
                regions.append(region)
            scope = str(regions.index(region))
        elif kind == "filter":
            regions, scope = list(part.extra[1]), "*"
        specs.append(f"{scope}@" + ";".join(f"{b}:{e}" for b, e in ranges))
    jdf = driver_call(spark, "readDsv2")(
        spark._jsparkSession,
        cls,
        path,
        "|".join(specs),
        ",".join(f"{n}:{lo}:{hi}" for n, lo, hi in map(parse_region, regions)),
        ",".join(columns),
    )
    return DataFrame(jdf, spark)


def read_vcf_region_jvm(
    spark: SparkSession, path: str, regions: str | None = None, columns=None
) -> DataFrame:
    """Region scan of a bgzipped, tabix- or CSI-indexed VCF through the
    Java DataSourceV2 (exonspark.spark.VcfBgzfSource): ``VcfSource.
    plan_partitions`` plans record-exact virtual-offset chunk groups from
    the index on the driver — or, with no ``regions``, the ``range``
    partitions of a full scan cut at the .tbi linear index; executors seek
    and inflate only those BGZF blocks and parse the fields Catalyst asks
    for
    (SupportsPushDownRequiredColumns) straight from the decompressed bytes
    into columnar batches. No Python worker touches the data path, which
    clears the ~1.8 us/row Arrow-to-row ingest floor of the Python
    DataSource route (SCALE.md "Measured floors").

    Rows equal the Python DataSource's on all nine base columns: same
    dot-null handling, same region filter (1-based inclusive,
    udfs/vcf/mod.rs:107-121), and per-region multiset semantics — a record
    overlapped by k requested regions appears k times.

    At cluster scale the planned ranges ship inside InputPartitions, so
    executors need only the file itself (any shared/posix fs); partition
    count tracks defaultParallelism, not file count."""
    import os

    from exon_spark.jvm import VCF_DSV2_CLASS
    from exon_spark.sources.util import FoundFile
    from exon_spark.sources.vcf import VcfSource

    opts = {"target_parallelism": default_parallelism(spark)}
    if regions:
        opts["regions"] = regions
    parts = VcfSource.plan_partitions(FoundFile(path, os.path.getsize(path)), opts)
    return read_dsv2(
        spark, VCF_DSV2_CLASS, path, parts, _projection(_VCF_BASE_COLS, columns)
    )


def _vcf_region_jvm_route(path: str, options: dict, spark=None):
    """Route a VCF region scan to the DataSourceV2 when the file is a local
    bgzf (.bgz, or .gz) with a .tbi or a tabix-style .csi (one that carries
    the sequence names) and no Python-only parse option is set. Region
    size does not matter; a region with no index chunk reads as an empty
    scan."""
    import os

    regions = options.get("regions") or options.get("region")
    if not regions or not str(path).lower().endswith((".bgz", ".gz")):
        return None
    for k in ("parse_info", "parse_formats", "sequence_data_type"):
        if str(options.get(k, "")).strip() not in ("", "false"):
            return None
    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None or not os.path.isfile(path):
        return None
    from exon_spark.jvm import codec_active

    # get_spark puts the jar that holds the DSv2 on the classpath together
    # with the codec conf, so the codec conf marks a session that has it
    if spark is not None and not codec_active(spark):
        return None
    if not os.path.exists(path + ".tbi"):
        if not os.path.exists(path + ".csi"):
            return None
        from exon_spark.sources.indexes import read_csi

        # a BCF/BAM-style .csi has no sequence names; the Python path
        # keeps those
        if not read_csi(path + ".csi").names:
            return None
    cols = options.get("columns")
    return lambda spark, p: read_vcf_region_jvm(
        spark, p, regions=str(regions), columns=cols
    )


def read_bam_jvm(spark: SparkSession, path: str, options: dict) -> DataFrame:
    """A local BAM through the Java DataSourceV2 (exonspark.spark.
    BamBgzfSource). ``BamSource.plan_partitions`` plans the scan on the
    driver — .bai/.csi chunk groups for regions, index-cut byte ranges
    for full scans, the whole file without an index — and each planned
    partition becomes one DSv2 partition of virtual-offset ranges.
    Executors decode only the columns Catalyst requires. Rows equal the
    Python DataSource's on every column: ``bai`` partitions keep records
    overlapping their own region (overlapping regions keep their
    duplicates), ``filter`` partitions keep records overlapping any."""
    import os

    from exon_spark.jvm import BAM_DSV2_CLASS
    from exon_spark.sources.bam import BamSource
    from exon_spark.sources.base import _split_ddl_fields
    from exon_spark.sources.util import FoundFile

    opts = dict(options)
    opts.setdefault("target_parallelism", default_parallelism(spark))
    parts = BamSource.plan_partitions(FoundFile(path, os.path.getsize(path)), opts)
    base = [n for n, _t in _split_ddl_fields(BamSource.BASE_SCHEMA)]
    return read_dsv2(
        spark, BAM_DSV2_CLASS, path, parts, _projection(base, opts.get("columns"))
    )


def _bam_jvm_route(path: str, options: dict, spark):
    """Route a BAM read to the DataSourceV2 when it is one local file and
    asks for nothing only the Python reader does: typed tags
    (``parse_tags``), filter-derived regions (``derive_regions``) or a
    custom ``file_extension``. An INDEXED_BAM read without a region also
    stays on the Python reader, which raises its error at scan time."""
    import os

    for k in ("parse_tags", "derive_regions", "file_extension"):
        if str(options.get(k, "")).strip() not in ("", "false"):
            return None
    regions = options.get("regions") or options.get("region")
    if not regions and str(options.get("indexed", "")).lower() in ("true", "1"):
        return None
    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None or not os.path.isfile(path):
        return None
    from exon_spark.jvm import codec_active

    if spark is None or not codec_active(spark):
        return None
    return lambda spark, p: read_bam_jvm(spark, p, options)


_FASTQ_BASE_COLS = ("name", "description", "sequence", "quality_scores")


def read_fastq_jvm(spark: SparkSession, files, columns=None) -> DataFrame:
    """Local FASTQ files through the Java DataSourceV2 (exonspark.spark.
    FastqSource), one partition per file. The reader decompresses by
    extension (gzip/BGZF, zstd, plain), decodes only the columns Catalyst
    requires, and gives the rows and errors of
    ``FastqSource.read_arrow_partition``."""
    from exon_spark.jvm import FASTQ_DSV2_CLASS

    df = (
        spark.read.format(FASTQ_DSV2_CLASS)
        .option("files", "\n".join(f.path for f in files))
        .load()
    )
    return df.select(*_projection(_FASTQ_BASE_COLS, columns))


def _local_files(source_cls, path: str, options: dict, spark):
    """The files ``source_cls._files()`` lists for a read that a Java
    DataSourceV2 reader can take: a local file, directory or glob, read
    by a session that has the jar, with no ``file_extension`` and no
    ``compression`` that disagrees with a file's extension. None for
    every other read (object stores, a path that lists no file)."""
    if str(options.get("file_extension", "")).strip():
        return None
    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None:
        return None
    from exon_spark.jvm import codec_active

    if spark is None or not codec_active(spark):
        return None
    from exon_spark.sources.util import detect_compression

    try:
        files = source_cls(options={"path": path})._files()
    except FileNotFoundError:
        return None  # the Python reader reports it
    comp = str(options.get("compression", "")).strip()
    if comp:
        try:
            if any(detect_compression(f.path, comp) != detect_compression(f.path)
                   for f in files):
                return None
        except ValueError:
            return None  # the Python reader reports an unknown codec
    return files


def _fastq_jvm_route(path: str, options: dict, spark):
    """Route a FASTQ read to the DataSourceV2 when ``_local_files`` takes
    it and its files carry no hive partition values."""
    from exon_spark.sources.fastq import FastqSource

    files = _local_files(FastqSource, path, options, spark)
    if files is None or any(f.partition_values or "\n" in f.path for f in files):
        return None
    cols = options.get("columns")
    return lambda spark, p: read_fastq_jvm(spark, files, cols)


def read_fasta_dsv2(spark: SparkSession, parts, partition_cols=(), columns=None) -> DataFrame:
    """FASTA through the Java DataSourceV2 (exonspark.spark.FastaSource)
    over planned partitions (``FastaSource.plan_partitions``: a byte
    range of a plain file, or a whole compressed file). Each partition
    becomes one line ``beg\\tend\\tpath\\tvalue...`` of the
    ``partitions`` option (end -1 = end of file), with the path and the
    values of ``partition_cols`` percent-encoded ("%" = null). One JVM call
    (``DriverCalls.readFasta``) loads the reader and projects it to
    ``columns``. Rows equal ``FastaSource.read_arrow_partition``'s, with
    the partition values as string columns after the base three."""
    from urllib.parse import quote

    from exon_spark.jvm import driver_call

    specs = []
    for p in parts:
        pv = dict(p.partition_values)
        fields = [str(p.start), str(-1 if p.end is None else p.end), quote(p.path, safe="")]
        fields += ["%" if pv.get(c) is None else quote(pv[c], safe="") for c in partition_cols]
        specs.append("\t".join(fields))
    jdf = driver_call(spark, "readFasta")(
        spark._jsparkSession,
        "\n".join(specs),
        "\t".join(quote(c, safe="") for c in partition_cols),
        ",".join(_projection(_FASTA_BASE_COLS + tuple(partition_cols), columns)),
    )
    return DataFrame(jdf, spark)


def _fasta_jvm_route(path: str, options: dict, spark):
    """Route a FASTA read to the DataSourceV2 when ``_local_files`` takes
    it; the caller has already sent ``regions`` and
    ``sequence_data_type`` reads to the Python DataSource. Partitions are
    planned when the frame is built, sized by the session's parallelism."""
    from exon_spark.sources.fasta import FastaSource
    from exon_spark.sources.util import partition_columns

    files = _local_files(FastaSource, path, options, spark)
    if files is None:
        return None

    def read(spark, _path):
        opts = {"target_parallelism": default_parallelism(spark)}
        parts = [p for f in files for p in FastaSource.plan_partitions(f, opts)]
        return read_fasta_dsv2(
            spark, parts, partition_columns(files), options.get("columns")
        )

    return read


# mzML columns expressible without the base64/zlib binary decode
_MZML_META_COLS = ("id", "precursor_mz", "precusor_charge")


def read_mzml_meta_jvm(spark: SparkSession, path: str, cols) -> DataFrame:
    """mzML metadata projection via lineSep='</spectrum>': one text row per
    spectrum, metadata extracted with codegen'd regexps — no XML parse, no
    base64/zlib, no Python workers.

    This is the Spark-side mirror of the reference's projection pushdown:
    DataFusion hands ListingMzMLTable a column projection, so a
    ``COUNT(*)``/metadata query over the Rust engine never decodes peak
    arrays either (exon-mzml scan with empty projection). Spark can't push
    projections into Python DataSources, so the pruning decision rides the
    explicit ``columns`` option instead and ``read_format`` routes here
    when the projection avoids the binary-array/cv_params columns.

    Splittable like the FASTA fast path: uncompressed input scans as byte
    ranges (custom-lineSep Hadoop text semantics), so one large run file
    fans out across executors. cvParam attribute order is not fixed by the
    schema — both orders are matched.
    """
    txt = spark.read.option("lineSep", "</spectrum>").text(path)
    spec = txt.filter(F.col("value").contains("<spectrum "))

    def cv_value(acc: str):
        # [^>]*? spans attribute text (incl. newlines — cvParam elements
        # wrap, and name="... m/z" contains '/') but cannot escape the
        # element: '>' terminates it
        a = F.regexp_extract("value", f'accession="{acc}"[^>]*?value="([^"]*)"', 1)
        b = F.regexp_extract("value", f'value="([^"]*)"[^>]*?accession="{acc}"', 1)
        return F.when(a != "", a).when(b != "", b)

    exprs = {
        "id": F.regexp_extract("value", r'<spectrum\b[^>]*?\bid="([^"]*)"', 1),
        "precursor_mz": cv_value("MS:1000744").cast("double"),
        "precusor_charge": cv_value("MS:1000041").cast("bigint"),
    }
    return spec.select(*[exprs[c].alias(c) for c in cols])


def jvm_fast_reader(fmt: str, path: str, options: dict, spark=None):
    """Return the JVM fast-path reader for fmt if the requested options are
    compatible with it, else None. ``spark`` (when given) gates the
    codec-dependent routes on the session actually carrying the BGZF
    codec."""
    if fmt == "vcf":
        region_reader = _vcf_region_jvm_route(path, options, spark)
        if region_reader is not None:
            return region_reader
    if fmt == "bam":
        return _bam_jvm_route(path, options, spark)
    if fmt == "fastq":
        return _fastq_jvm_route(path, options, spark)
    python_only = {"regions", "region", "sequence_data_type", "parse_info",
                   "parse_formats", "indexed", "file_extension"}
    if any(str(options.get(k, "")).strip() not in ("", "false")
           for k in python_only):
        return None
    from exon_spark.sources.fs import scheme_of

    scheme = scheme_of(path)
    if fmt == "fasta" and scheme is None:
        return _fasta_jvm_route(path, options, spark)
    if scheme is not None and scheme not in ("s3a", "gs", "hdfs", "abfss", "wasbs"):
        # exon_spark fs-handler schemes (s3://, mock://) are Python-side
        # only; Hadoop-native schemes pass straight through to the JVM
        return None
    comp = str(options.get("compression", "")).lower()
    if comp not in ("", "none", "gzip"):
        return None  # zstd etc. need the Python codec path
    if path.lower().endswith((".zst", ".zstd", ".bz2", ".xz")):
        return None  # no JVM codec for these here
    if comp == "gzip" and not path.lower().endswith((".gz", ".bgz")):
        return None  # JVM codecs dispatch on extension only
    cols = options.get("columns")
    if fmt == "fasta":
        # Hadoop-native object stores until the Java readers open files
        # through the Hadoop FileSystem
        return lambda spark, p: read_fasta_jvm(spark, p, columns=cols)
    if fmt == "vcf":
        from exon_spark.sources.fs import fs_exists

        if path.lower().endswith((".gz", ".bgz")) and fs_exists(path + ".tbi"):
            import os

            from exon_spark.jvm import codec_active

            local = scheme is None and os.path.isfile(path)
            if local and spark is not None and codec_active(spark):
                # VcfBgzfSource reads the linear-index cuts that
                # VcfSource.plan_partitions plans
                return lambda spark, p: read_vcf_region_jvm(spark, p, columns=cols)
            # without the jar (or remote) the Python DataSource splits the
            # stream at the same cuts; the stock JVM gzip codec is one
            # unsplittable partition per file — ~15x slower on a 2.5 GB
            # VCF (measured)
            return None
        # the BGZF codec byte-range splits an unindexed .bgz
        return lambda spark, p: read_vcf_jvm(spark, p, columns=cols)
    if fmt == "mzml":
        if isinstance(cols, str):
            cols = [c.strip() for c in cols.split(",") if c.strip()]
        if cols and set(cols) <= set(_MZML_META_COLS):
            return lambda spark, path: read_mzml_meta_jvm(spark, path, cols)
        return None  # full schema needs the Python binary-decode path
    return None
