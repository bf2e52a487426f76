"""Tab/whitespace-delimited genomics formats: GFF, GTF, BED, HMMDOMTAB.

Spark-first design (SURVEY.md §2.1): these formats parse entirely JVM-side —
``spark.read.csv``/``text`` plus Column expressions for the attribute maps —
no Python in the data path. Schemas mirror the reference:

* GFF  — exon/exon-gff/src/config.rs:82-101 (attributes MAP<STRING,ARRAY<STRING>>)
* GTF  — exon/exon-gtf/src/config.rs:28-45  (attributes MAP<STRING,STRING>)
* BED  — exon/exon-bed/src/schema.rs:33-44  (3..=12 cols via n_fields)
* HMMDOMTAB — exon-core/src/datasources/hmmdomtab/hmm_dom_schema_builder.rs:44-66
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

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
            # iteration splits only on b"\n" (strip a trailing \r for \r\n),
            # matching the JVM text reader's row boundaries — str.splitlines
            # would also split on \x0b/\x0c/ /  inside fields —
            # and avoids materializing the whole file in executor memory.
            for raw in fh:
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith(b"\n"):
                    raw = raw[:-1]
                yield raw.decode("utf-8", "replace")

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
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith(b"\n"):
                    raw = raw[:-1]
                yield raw.decode("utf-8", "replace")

    from exon_spark.sources.util import list_files

    files = [f.path for f in list_files(path)]
    return spark.sparkContext.parallelize(files, len(files)).flatMap(_lines)


def _bgzf_split_lines_rdd(spark: SparkSession, path: str):
    """Full scan of a tabix-indexed bgzf text file, split at linear-index
    record boundaries so one multi-GB .gff.gz/.bed.gz fans out across
    executors — the JVM gzip codec would make it one unsplittable
    partition. Returns None when the layout doesn't qualify."""
    import os

    from exon_spark.sources.fs import fs_exists

    if not (
        path.lower().endswith((".gz", ".bgz"))
        and os.path.isfile(path)
        and fs_exists(path + ".tbi")
    ):
        return None
    from exon_spark.sources.indexes import (
        adaptive_target_bytes,
        full_scan_ranges,
        read_tabix,
    )

    idx = read_tabix(path + ".tbi")
    size = os.path.getsize(path)
    target = adaptive_target_bytes(
        size, spark.sparkContext.defaultParallelism, floor=1 << 20, ceil=16 << 20
    )
    bounds = full_scan_ranges(idx.linear, target)
    if not bounds:
        return None

    def _read(rng):
        from exon_spark.sources.bgzf import BGZFReader

        s, e = rng
        if e is None:
            e = os.path.getsize(path) << 16
        with BGZFReader(path) as bg:
            data = bg.read_range(s, e)
        for line in data.split(b"\n"):
            if line:
                yield line.decode("utf-8", "replace")

    return spark.sparkContext.parallelize(bounds, len(bounds)).flatMap(_read)


def _read_tsv_raw(
    spark: SparkSession, path: str, n_cols: int, **options
) -> tuple[DataFrame, list[str]]:
    """Raw TSV columns as _c0.._cN plus discovered hive partition columns
    (Spark appends them with their real names — everything not matching
    ``_c<i>`` is a partition column and is passed through)."""
    import re as _re

    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None:
        src = _remote_lines_rdd(spark, path, options)
    elif _is_zstd(path, options):
        src = _zstd_lines_rdd(spark, path)
    else:
        # JVM first: with the splittable BGZF codec a local bgzf file
        # byte-range splits inside spark.read.csv itself — no Python line
        # RDD, no per-line Python->JVM serialization (jvm_bgzf_src proves
        # bgzf via the .bgz suffix or a .tbi). The RDD paths remain for
        # sessions without the codec and for plain-gzip layouts.
        from exon_spark.sources.bgzf_view import jvm_bgzf_src

        src = (
            jvm_bgzf_src(spark, path)
            or _bgzf_split_lines_rdd(spark, path)
            or path
        )
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .csv(src, inferSchema=False)
    )
    data = [c for c in df.columns if _re.fullmatch(r"_c\d+", c)][:n_cols]
    parts = [c for c in df.columns if not _re.fullmatch(r"_c\d+", c)]
    sel = [F.col(c).alias(f"_c{i}") for i, c in enumerate(data)]
    sel += [F.col(c).cast("string").alias(c) for c in parts]
    return df.select(*sel), parts


def _tabix_lines_rdd(spark: SparkSession, path: str, regions: str):
    """Distributed tabix-pruned line source for a single bgzf file: the
    driver queries the .tbi, then chunk GROUPS (not lines) parallelize
    across executors which each decompress + read their byte ranges
    (INDEXED_GFF semantics, SURVEY.md §4.1). Returns None when the layout
    doesn't support pruning (caller falls back to scan+filter)."""
    import os

    from exon_spark.functions.region import expand_regions
    from exon_spark.functions.region import parse_region
    from exon_spark.sources.indexes import (
        adaptive_target_bytes,
        chunk_groups,
        read_tabix,
        tabix_chunks,
    )

    from exon_spark.sources.fs import fs_exists

    if not (
        path.lower().endswith((".gz", ".bgz"))
        and (os.path.isfile(path) or "://" in path)
        and fs_exists(path + ".tbi")
    ):
        return None
    idx = read_tabix(path + ".tbi")
    # Merge chunk lists across regions per chromosome BEFORE grouping:
    # tabular region reads have distinct-matching-lines semantics (the
    # residual OR-of-overlaps predicate in the callers emits each line
    # once), and both the codec view route (build_region_view merges its
    # chunk list) and the no-index scan+filter route already behave that
    # way. Without this merge, overlapping regions put shared chunks in
    # two groups and the Python fallback emitted shared lines twice —
    # a route-dependent multiset. (VCF region scans are the deliberate
    # contrast: per-region multiset, pinned in jvm_fast/the DataSource.)
    from exon_spark.sources.bgzf_view import merge_chunks

    per_name: dict[str, list] = {}
    for region in expand_regions(regions):
        chunks = tabix_chunks(idx, region)
        if chunks:
            per_name.setdefault(parse_region(region)[0], []).extend(chunks)
    per_key = [
        (name, merge_chunks(chunks), idx.linear[idx.names.index(name)])
        for name, chunks in per_name.items()
    ]
    if not per_key:
        return "empty"
    # JVM first: splice the chunk ranges into an exoncat .bgz view and let
    # the codec-backed csv reader split it — record-exact (boundary blocks
    # re-cut at the index's virtual offsets), zero Python in the data path
    if os.path.isfile(path):
        from exon_spark.sources.bgzf_view import build_region_view, codec_active

        if codec_active(spark):
            try:
                return build_region_view(
                    path, [c for _, chunks, _lin in per_key for c in chunks]
                )
            except Exception:
                pass  # fall back to the Python chunk-group readers
    total = sum(
        (ce >> 16) - (cb >> 16) for _, chunks, _lin in per_key for cb, ce in chunks
    )
    target = adaptive_target_bytes(total, spark.sparkContext.defaultParallelism)
    groups = [g for _name, g in chunk_groups(per_key, target)]

    def _read_group(group):
        from exon_spark.sources.bgzf import BGZFReader

        with BGZFReader(path) as bg:
            yield from bg.lines_in_chunks(list(group))

    return spark.sparkContext.parallelize(groups, len(groups)).flatMap(_read_group)


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
    if regions:
        src = _tabix_lines_rdd(spark, path, regions)
        if src == "empty":  # indexed, but no reference/chunks overlap
            return spark.createDataFrame(
                [],
                "seqname string, source string, type string, start bigint, "
                "end bigint, score float, strand string, phase string, "
                "attributes map<string,array<string>>",
            )
        if src is not None:
            df = (
                spark.read.option("sep", "\t")
                .option("comment", "#")
                .csv(src, inferSchema=False)
            )
            data = [c for c in df.columns][:9]
            df = df.select(*[F.col(c).alias(f"_c{i}") for i, c in enumerate(data)])
            parts = []
        else:
            df, parts = _read_tsv_raw(spark, path, 9, **options)
        out = _gff_select(df, parts)
        # residual predicate — index chunks are supersets; no-index layouts
        # degrade to scan+filter, never to wrong answers
        return out.filter(_region_predicate(regions, "seqname", "start", "end"))
    df, parts = _read_tsv_raw(spark, path, 9, **options)
    return _gff_select(df, parts)


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
    present = len(df.columns) - len(parts)
    out = []
    for i, (name, typ) in enumerate(_BED_SCHEMA[:n_fields]):
        if i < present:
            c = F.when(F.col(f"_c{i}") == ".", None).otherwise(F.col(f"_c{i}"))
            out.append(c.try_cast(typ).alias(name))
        else:
            out.append(F.lit(None).cast(typ).alias(name))
    out += [F.col(c) for c in parts]
    return df.select(*out)


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
