"""Tab/whitespace-delimited genomics formats: GFF, GTF, BED, HMMDOMTAB.

Spark-first design (SURVEY.md §2.1): these formats parse entirely JVM-side —
``spark.read.csv``/``text`` plus Column expressions for the attribute maps —
no Python in the data path. Which route reads the lines of GFF/GTF/BED:

* a local ``.gz``/``.bgz`` with a ``.tbi``: the Java DataSourceV2
  ``BgzfLineSource`` reads the planned index ranges in place — tabix chunk
  groups for GFF region reads, linear-index cuts for full scans — and
  ``from_csv`` parses its lines;
* any other local file: ``spark.read.text`` lines (the BGZF codec
  byte-range splits an unindexed ``.bgz``), parsed with ``from_csv``;
* object stores (s3://, mock://), zstd, and indexed files in a session
  without the exon_spark jar: Python line RDDs under the csv reader.

Every route splits lines at ``\n`` only and drops one trailing ``\r``
(as noodles reads lines, so a bare ``\r`` is part of its line), then
parses a line on its own into n string columns with the same csv
options, so all of them give the same rows. Schemas mirror the
reference:

* GFF  — exon/exon-gff/src/config.rs:82-101 (attributes MAP<STRING,ARRAY<STRING>>)
* GTF  — exon/exon-gtf/src/config.rs:28-45  (attributes MAP<STRING,STRING>)
* BED  — exon/exon-bed/src/schema.rs:33-44  (3..=12 cols via n_fields)
* HMMDOMTAB — exon-core/src/datasources/hmmdomtab/hmm_dom_schema_builder.rs:44-66
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from exon_spark.sources.util import default_parallelism

_GFF_COLS = [
    "seqname",
    "source",
    "type",
    "start",
    "end",
    "score",
    "strand",
    "phase",
    "attributes",
]


def _is_zstd(path: str, options: dict) -> bool:
    return (
        str(options.get("compression", "")).lower() == "zstd"
        or path.lower().endswith((".zst", ".zstd"))
    )


def _zstd_lines_rdd(spark: SparkSession, path: str):
    """Decompress .zst text files executor-side (one task per file — zstd
    text is unsplittable, same parallelism as the reference) and return an
    RDD of lines that spark.read.csv/text accept in place of a path. The
    JVM lacks a zstd codec here; pyarrow's bundled codec does the work."""

    def _lines(kv):
        import io as _io

        from exon_spark.sources.util import zstd_stream

        _, content = kv
        with zstd_stream(_io.BytesIO(bytes(content))) as fh:
            # Stream line-by-line over the decompressed reader: binary
            # iteration splits only on b"\n", the line end of every route
            # (str.splitlines would also split on \r, \x0b, \x0c, ...
            # inside fields), and avoids materializing the whole file in
            # executor memory.
            for raw in fh:
                yield _line_text(raw)

    return spark.sparkContext.binaryFiles(path).flatMap(_lines)


def _remote_lines_rdd(spark: SparkSession, path: str, options: dict):
    """Line source for fs-handler schemes (s3://, mock://): the driver LISTs
    the prefix, executors open their file through the handler (ranged GETs)
    and stream decompressed lines — one task per file, the same
    file-granular parallelism as the reference's object_store scans.
    (Hadoop-native schemes like s3a:// never reach here — spark.read
    handles them directly.)"""

    def _lines(fpath: str):
        from exon_spark.sources.util import open_maybe_compressed

        with open_maybe_compressed(fpath, options.get("compression")) as fh:
            for raw in fh:
                yield _line_text(raw)

    from exon_spark.sources.util import list_files

    files = [f.path for f in list_files(path)]
    return spark.sparkContext.parallelize(files, len(files)).flatMap(_lines)


def _line_text(raw: bytes) -> str:
    """One line of a binary line iterator without its ``\n`` and one
    trailing ``\r``."""
    if raw.endswith(b"\n"):
        raw = raw[:-1]
    if raw.endswith(b"\r"):
        raw = raw[:-1]
    return raw.decode("utf-8", "replace")


# the csv reader's options for the Python line RDDs, and from_csv's for
# the Java line source and local files: tab-separated, '#' lines are
# comments
_TSV_OPTIONS = {"sep": "\t", "comment": "#"}


def _tsv_schema(n_cols: int) -> str:
    return ", ".join(f"_c{i} string" for i in range(n_cols))


_BLANK = "".join(map(chr, range(0x21)))


def _csv_line(line: str) -> bool:
    """False for a line Spark's csv file reader skips: one that starts
    with '#', or one that ``String.trim()`` empties (no char above 0x20).
    Its reader of a Dataset of lines trims spaces only, so the Python
    line RDDs drop these lines themselves."""
    return not line.startswith("#") and bool(line.strip(_BLANK))


def _read_csv(spark: SparkSession, lines, n_cols: int) -> DataFrame:
    """An RDD of lines through the csv reader, as ``n_cols`` string
    columns ``_c0``... Each line parses on its own: missing trailing
    fields are null, extra fields are dropped."""
    return (
        spark.read.options(**_TSV_OPTIONS)
        .schema(_tsv_schema(n_cols))
        .csv(lines.filter(_csv_line))
    )


def _parse_lines(lines: DataFrame, n_cols: int) -> DataFrame:
    """The ``value`` lines of ``lines`` (no comment or blank line among
    them) as the ``_c0``..``_c{n_cols-1}`` columns that the csv reader
    gives, then ``lines``' other columns: ``from_csv`` is the csv reader's
    parser with its options."""
    row = F.from_csv("value", _tsv_schema(n_cols), _TSV_OPTIONS)
    # inline(array(...)) is a Generate barrier: a filter on the columns
    # stays above it instead of inlining from_csv once per reference
    others = [c for c in lines.columns if c != "value"]
    return lines.select(F.inline(F.array(row)), *others)


def _read_local_lines(spark: SparkSession, path: str, n_cols: int) -> DataFrame:
    """A local file (plain, gzip, or an unindexed ``.bgz`` the BGZF codec
    byte-range splits) as ``_parse_lines`` columns plus discovered hive
    partition columns. Lines end at ``\n`` only and drop one trailing
    ``\r``, as on the other routes; the csv file reader would also end a
    line at a bare ``\r``. The lines the csv reader skips are skipped:
    a '#' line, and one with no char above 0x20."""
    txt = spark.read.text(path, lineSep="\n")
    value = F.regexp_replace("value", "\r$", "")
    others = [c for c in txt.columns if c != "value"]
    lines = txt.select(value.alias("value"), *others).filter(
        ~F.col("value").startswith("#") & F.col("value").rlike("[^\\x00-\\x20]")
    )
    return _parse_lines(lines, n_cols)


def _tabix_full_ranges(spark: SparkSession, path: str):
    """Record-aligned virtual-offset ranges, ~1-16 MB compressed each,
    that cover a local .gz/.bgz text file with a .tbi to its end, as
    one-range chunk groups; None when the file has no .tbi. The cuts come
    from the linear index, so one multi-GB .gff.gz/.bed.gz fans out across
    executors (the JVM gzip codec would make it one unsplittable
    partition); the first range starts at the top of the file, so lines
    before the first indexed record are read too."""
    import os

    if not (
        path.lower().endswith((".gz", ".bgz"))
        and os.path.isfile(path)
        and os.path.exists(path + ".tbi")
    ):
        return None
    from exon_spark.sources.indexes import (
        adaptive_target_bytes,
        full_scan_ranges,
        read_tabix,
    )

    size = os.path.getsize(path)
    target = adaptive_target_bytes(
        size, default_parallelism(spark), floor=1 << 20, ceil=16 << 20
    )
    cuts = [s for s, _e in full_scan_ranges(read_tabix(path + ".tbi").linear, target)]
    bounds = [0, *cuts[1:], size << 16]
    return [[(b, e)] for b, e in zip(bounds, bounds[1:])]


def _tabix_region_groups(spark: SparkSession, path: str, regions: str):
    """Tabix-pruned chunk groups of a single bgzf file (INDEXED_GFF
    semantics, SURVEY.md §4.1): the driver queries the .tbi and plans
    ~target-sized groups of virtual-offset ranges with
    ``indexes.chunk_groups``. None when the layout does not support
    pruning (the caller falls back to scan+filter); [] when no region has
    an index chunk."""
    import os

    from exon_spark.functions.region import expand_regions, parse_region
    from exon_spark.sources.fs import fs_exists
    from exon_spark.sources.indexes import (
        adaptive_target_bytes,
        chunk_groups,
        merge_chunks,
        read_tabix,
        tabix_chunks,
    )

    if not (
        path.lower().endswith((".gz", ".bgz"))
        and (os.path.isfile(path) or "://" in path)
        and fs_exists(path + ".tbi")
    ):
        return None
    idx = read_tabix(path + ".tbi")
    # Merge chunk lists across regions per chromosome BEFORE grouping:
    # tabular region reads have distinct-matching-lines semantics (the
    # residual OR-of-overlaps predicate in read_gff emits each line once),
    # as the no-index scan+filter route does. Without this merge,
    # overlapping regions put shared chunks in two groups and shared lines
    # were read twice — a route-dependent multiset. (VCF region scans are
    # the deliberate contrast: per-region multiset, pinned in jvm_fast/the
    # DataSource.)
    per_name: dict[str, list] = {}
    for region in expand_regions(regions):
        chunks = tabix_chunks(idx, region)
        if chunks:
            per_name.setdefault(parse_region(region)[0], []).extend(chunks)
    per_key = [
        (name, merge_chunks(chunks), idx.linear[idx.names.index(name)])
        for name, chunks in per_name.items()
    ]
    total = sum(
        (ce >> 16) - (cb >> 16) for _, chunks, _lin in per_key for cb, ce in chunks
    )
    target = adaptive_target_bytes(total, default_parallelism(spark))
    return [g for _name, g in chunk_groups(per_key, target)]


def _tabix_lines_raw(spark: SparkSession, path: str, groups, n_cols: int) -> DataFrame:
    """The ``_c0``..``_c{n_cols-1}`` columns of the lines in ``groups``
    (lists of (beg, end) virtual-offset ranges, one partition each).

    A local file in a session with the exon_spark jar is read in place by
    the Java ``BgzfLineSource``, and its ``value`` lines parse with
    ``_parse_lines``; an empty plan is a zero-partition scan. Object-store
    paths (s3://, mock://) and sessions without the jar read the groups
    with the Python BGZF reader in executor tasks."""
    import os

    from exon_spark.jvm import codec_active

    if os.path.isfile(path) and codec_active(spark):
        from exon_spark.jvm import LINES_DSV2_CLASS
        from exon_spark.sources.base import FilePartition
        from exon_spark.sources.jvm_fast import read_dsv2

        parts = [FilePartition(path, "gzip", (), extra=("chunks", g)) for g in groups]
        return _parse_lines(read_dsv2(spark, LINES_DSV2_CLASS, path, parts), n_cols)

    def _read_group(group):
        from exon_spark.sources.bgzf import BGZFReader

        with BGZFReader(path) as bg:
            for line in bg.lines_in_chunks(list(group)):
                yield line[:-1] if line.endswith("\r") else line

    sc = spark.sparkContext
    rdd = (
        sc.parallelize(groups, len(groups)).flatMap(_read_group)
        if groups
        else sc.emptyRDD()
    )
    return _read_csv(spark, rdd, n_cols)


def _read_tsv_raw(
    spark: SparkSession, path: str, n_cols: int, **options
) -> tuple[DataFrame, list[str]]:
    """Raw TSV columns as _c0.._cN plus discovered hive partition columns
    (Spark appends them with their real names and they are passed
    through)."""
    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None:
        df = _read_csv(spark, _remote_lines_rdd(spark, path, options), n_cols)
    elif _is_zstd(path, options):
        df = _read_csv(spark, _zstd_lines_rdd(spark, path), n_cols)
    else:
        # a local .gz/.bgz with a .tbi reads its linear-index ranges in
        # place; any other local file is read as text lines
        groups = _tabix_full_ranges(spark, path)
        if groups is not None:
            return _tabix_lines_raw(spark, path, groups, n_cols), []
        df = _read_local_lines(spark, path, n_cols)
    parts = df.columns[n_cols:]
    return df.select(
        *df.columns[:n_cols], *[F.col(c).cast("string").alias(c) for c in parts]
    ), parts


def _region_predicate(regions: str, seq_col: str, start_col: str, end_col: str):
    """Residual OR-of-overlaps predicate (1-based inclusive intervals)."""
    from functools import reduce

    from exon_spark.functions.region import expand_regions, parse_region

    conds = []
    for region in expand_regions(regions):
        name, lo, hi = parse_region(region)
        conds.append(
            (F.col(seq_col) == name)
            & (F.col(start_col) <= hi)
            & (F.col(end_col) >= lo)
        )
    return reduce(lambda a, b: a | b, conds) if conds else F.lit(True)


def read_gff(spark: SparkSession, path: str, **options) -> DataFrame:
    regions = options.pop("regions", None) or options.pop("region", None)
    groups = _tabix_region_groups(spark, path, regions) if regions else None
    if groups is not None:
        df, parts = _tabix_lines_raw(spark, path, groups, 9), []
    else:
        df, parts = _read_tsv_raw(spark, path, 9, **options)
    out = _gff_select(df, parts)
    if regions:
        # residual predicate — index chunks are supersets; no-index layouts
        # degrade to scan+filter, never to wrong answers
        out = out.filter(_region_predicate(regions, "seqname", "start", "end"))
    return out


def _gff_select(df: DataFrame, parts: list[str]) -> DataFrame:
    attrs = F.map_from_entries(
        F.transform(
            F.filter(F.split("_c8", ";"), lambda s: F.trim(s) != ""),
            lambda s: F.struct(
                F.trim(F.substring_index(s, "=", 1)).alias("key"),
                F.split(F.substring_index(s, "=", -1), ",").alias("value"),
            ),
        )
    )
    return df.select(
        F.col("_c0").alias("seqname"),
        F.when(F.col("_c1") == ".", None).otherwise(F.col("_c1")).alias("source"),
        F.col("_c2").alias("type"),
        F.col("_c3").try_cast("bigint").alias("start"),
        F.col("_c4").try_cast("bigint").alias("end"),
        F.col("_c5").try_cast("float").alias("score"),
        F.col("_c6").alias("strand"),
        F.when(F.col("_c7") == ".", None).otherwise(F.col("_c7")).alias("phase"),
        F.when(F.col("_c8").isNull() | (F.col("_c8") == "."), None)
        .otherwise(attrs)
        .alias("attributes"),
        *[F.col(c) for c in parts],
    )


def read_gtf(spark: SparkSession, path: str, **options) -> DataFrame:
    df, parts = _read_tsv_raw(spark, path, 9, **options)
    attrs = F.map_from_entries(
        F.transform(
            F.filter(F.split("_c8", ";"), lambda s: F.trim(s) != ""),
            lambda s: F.struct(
                F.trim(F.substring_index(F.trim(s), " ", 1)).alias("key"),
                F.regexp_extract(s, '"([^"]*)"', 1).alias("value"),
            ),
        )
    )
    return df.select(
        F.col("_c0").alias("seqname"),
        F.when(F.col("_c1") == ".", None).otherwise(F.col("_c1")).alias("source"),
        F.col("_c2").alias("type"),
        F.col("_c3").try_cast("bigint").alias("start"),
        F.col("_c4").try_cast("bigint").alias("end"),
        F.col("_c5").try_cast("float").alias("score"),
        F.col("_c6").alias("strand"),
        F.when(F.col("_c7") == ".", None).otherwise(F.col("_c7")).alias("frame"),
        F.when(F.col("_c8").isNull() | (F.col("_c8") == "."), None)
        .otherwise(attrs)
        .alias("attributes"),
        *[F.col(c) for c in parts],
    )


_BED_SCHEMA = [
    ("reference_sequence_name", "string"),
    ("start", "bigint"),
    ("end", "bigint"),
    ("name", "string"),
    ("score", "bigint"),
    ("strand", "string"),
    ("thick_start", "bigint"),
    ("thick_end", "bigint"),
    ("color", "string"),
    ("block_count", "bigint"),
    ("block_sizes", "string"),
    ("block_starts", "string"),
]


def read_bed(spark: SparkSession, path: str, n_fields: int = 12, **options) -> DataFrame:
    """BED with 3..=12 columns (reference table_options.rs:34-40). Missing
    trailing columns are null."""
    if not 3 <= n_fields <= 12:
        raise ValueError("n_fields must be in 3..=12")
    df, parts = _read_tsv_raw(spark, path, n_fields, **options)
    return df.select(
        *[
            F.when(F.col(f"_c{i}") == ".", None)
            .otherwise(F.col(f"_c{i}"))
            .try_cast(typ)
            .alias(name)
            for i, (name, typ) in enumerate(_BED_SCHEMA[:n_fields])
        ],
        *[F.col(c) for c in parts],
    )


_HMM_COLS = [
    ("target_name", "string"),
    ("target_accession", "string"),
    ("tlen", "bigint"),
    ("query_name", "string"),
    ("accession", "string"),
    ("qlen", "bigint"),
    ("evalue", "double"),
    ("sequence_score", "double"),
    ("bias", "double"),
    ("domain_number", "bigint"),
    ("ndom", "bigint"),
    ("conditional_evalue", "double"),
    ("independent_evalue", "double"),
    ("domain_score", "double"),
    ("domain_bias", "double"),
    ("hmm_from", "bigint"),
    ("hmm_to", "bigint"),
    ("ali_from", "bigint"),
    ("ali_to", "bigint"),
    ("env_from", "bigint"),
    ("env_to", "bigint"),
    ("accuracy", "double"),
    ("description", "string"),
]


def read_hmm_dom_tab(spark: SparkSession, path: str, **options) -> DataFrame:
    """hmmscan --domtblout: 22 whitespace-separated columns + free-text
    description (split with limit keeps the description intact)."""
    if _is_zstd(path, options):
        txt = _zstd_lines_rdd(spark, path).map(lambda v: (v,)).toDF(["value"])
    else:
        txt = spark.read.text(path)
    txt = txt.filter(~F.col("value").startswith("#"))
    part_cols = [c for c in txt.columns if c != "value"]
    fields = F.split(F.trim("value"), r"\s+", 23)
    return txt.select(
        *[
            F.element_at(fields, i + 1).try_cast(typ).alias(name)
            for i, (name, typ) in enumerate(_HMM_COLS)
        ],
        *[F.col(c).cast("string").alias(c) for c in part_cols],
    )


TABULAR_READERS = {
    "gff": read_gff,
    "gtf": read_gtf,
    "bed": read_bed,
    "hmm_dom_tab": read_hmm_dom_tab,
    "hmmdomtab": read_hmm_dom_tab,
}
