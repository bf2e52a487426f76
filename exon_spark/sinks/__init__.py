"""Sinks: FASTA/FASTQ writers and the COPY ... STORED AS extension.

Parity: the reference's sole SQL extension is
``COPY (query|table) TO 'path' STORED AS FASTA|FASTQ [OPTIONS(compression
'gzip')]`` (sql/parser.rs:52-71 -> ExonDataSinkLogicalPlanNode ->
SimpleRecordSink with FASTA/FASTQSerializer, sinks/simple_record_sink.rs:81-119).

Spark-first: serialization is a Column expression (concat of record fields)
written through the JVM text writer (gzip via Spark's codec, zstd through
pyarrow's on the executors), one part per partition, in parallel.
``single_file=True`` stitches the parts in partition order into one output
file like the reference's sink. A COPY is one scan of its source: the row
count is an Observation on the write. The SQL surface is a tiny
preprocessor on the COPY statement (Catalyst has no parser hooks from
Python).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

_COPY_RE = re.compile(
    r"^\s*COPY\s+(?P<src>\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'(?P<path>[^']+)'\s*"
    r"(?:STORED\s+AS\s+(?P<fmt>FASTA|FASTQ|PARQUET|CSV|JSONL)\s*)?"
    r"(?:OPTIONS\s*\(\s*compression\s+'(?P<comp>\w+)'\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PART_RE = re.compile(r"^part-(\d+)")


def fasta_lines(df: DataFrame) -> DataFrame:
    """Serialize (id, description, sequence) to FASTA text lines
    (fasta_serializer.rs semantics: '>' + id [+ ' ' + description])."""
    header = F.concat(
        F.lit(">"),
        F.col("id"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    return df.select(
        F.concat_ws("\n", header, F.col("sequence")).alias("value")
    )


def fastq_lines(df: DataFrame) -> DataFrame:
    """Serialize (name, description, sequence, quality_scores) to FASTQ.
    A NULL sequence or quality writes an empty line (``concat_ws`` would
    drop it and leave a 3-line record no reader accepts)."""
    header = F.concat(
        F.lit("@"),
        F.col("name"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    return df.select(
        F.concat_ws(
            "\n",
            header,
            F.coalesce("sequence", F.lit("")),
            F.lit("+"),
            F.coalesce("quality_scores", F.lit("")),
        ).alias("value")
    )


def _count_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation that counts its rows as the action runs
    them: the count comes from the write itself, not a second scan. Read
    it as ``obs.get["count"]`` after the action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("count")), obs


def _write_lines(
    out: DataFrame, path: str, compression: str | None, single_file: bool, ext: str
) -> int:
    """Write one text part per partition of ``out``; return the number of
    lines written. With ``single_file`` the parts land in a scratch
    directory and are stitched into the one file ``path``."""
    target = path + ".__tmp__" if single_file else path
    if compression and compression.lower() == "zstd":
        # the JVM text writer has no zstd codec without native hadoop;
        # write executor-side through pyarrow's bundled codec instead —
        # still one file per partition, fully distributed (assumes a
        # shared/posix target path, same as any local-fs write)
        n = _write_text_zstd(out, target, ext)
    else:
        out, obs = _count_rows(out)
        w = out.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.text(target)
        n = obs.get["count"]
    if single_file:
        _promote_single_file(target, path)
    return n


def _write_text_zstd(lines_df: DataFrame, path: str, ext: str) -> int:
    """Write ``part-NNNNN.<ext>.zst`` per partition; return the number of
    lines written. This is an RDD action, on which an Observation never
    completes, so each partition counts its own lines."""
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def write_part(idx, it):
        import os as _os

        import pyarrow as pa

        fn = _os.path.join(path, f"part-{idx:05d}.{ext}.zst")
        n = 0
        raw = pa.OSFile(fn, "wb")
        with pa.CompressedOutputStream(raw, "zstd") as out:
            for row in it:
                out.write((row.value + "\n").encode("utf-8"))
                n += 1
        yield n

    return sum(lines_df.rdd.mapPartitionsWithIndex(write_part).collect())


def write_fasta(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    single_file: bool = False,
) -> int:
    """Write ``df`` as FASTA: a directory of parts at ``path``, or with
    ``single_file`` one file at ``path``. Returns the records written."""
    return _write_lines(fasta_lines(df), path, compression, single_file, "fasta")


def write_fastq(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    single_file: bool = False,
) -> int:
    """Write ``df`` as FASTQ: a directory of parts at ``path``, or with
    ``single_file`` one file at ``path``. Returns the records written."""
    return _write_lines(fastq_lines(df), path, compression, single_file, "fastq")


def maybe_handle_copy(spark: SparkSession, sql: str) -> DataFrame | None:
    """Intercept COPY ... STORED AS FASTA|FASTQ; returns a 1-row count
    DataFrame (like the reference's sink result) or None if not a COPY."""
    m = _COPY_RE.match(sql)
    if not m:
        return None
    src = m.group("src").strip()
    df = spark.sql(src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}")
    path = m.group("path")
    fmt = (m.group("fmt") or "").upper()
    if not fmt:
        # STORED AS omitted: infer from the target extension
        # (DataFusion COPY behavior; gff-scan-tests.slt COPY ... TO '*.parquet')
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = {"parquet": "PARQUET", "csv": "CSV", "fasta": "FASTA",
               "fa": "FASTA", "fastq": "FASTQ", "fq": "FASTQ",
               "jsonl": "JSONL", "json": "JSONL"}.get(ext)
        if fmt is None:
            return None
    comp = (m.group("comp") or "").lower() or None
    if fmt == "FASTA":
        n = write_fasta(df, path, compression=comp, single_file=True)
    elif fmt == "FASTQ":
        n = write_fastq(df, path, compression=comp, single_file=True)
    else:
        df, obs = _count_rows(df)
        w = df.write.mode("overwrite")
        if fmt == "PARQUET":
            w.parquet(path)
        elif fmt == "JSONL":
            # Spark's json writer is line-delimited JSON — the LLM-corpus
            # interchange format (beyond-reference extension; gzip/zstd via
            # the writer codec, distributed)
            if comp:
                w = w.option("compression", comp)
            w.json(path)
        else:
            w.option("header", "true").csv(path)
        n = obs.get["count"]
    # the one-row result is planned on the JVM: no Python worker, no RDD
    return spark.sql(f"SELECT CAST({n} AS BIGINT) AS count")


def _promote_single_file(tmp_dir: str, path: str) -> None:
    """Stitch the part files of the Spark output directory ``tmp_dir`` into
    the one file ``path``, in partition-index order (the NNNNN of
    ``part-NNNNN``), then remove ``tmp_dir``. The reference's COPY writes
    ONE file at the given path (sinks/simple_record_sink.rs:81-119); here
    the parts are written in parallel and concatenated: gzip members and
    zstd frames concatenate into one valid stream, plain text trivially.
    Partition order is row order, so ORDER BY output stays ordered.
    ``path`` must be driver-local."""
    import os
    import shutil

    parts = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(tmp_dir)
        if (m := _PART_RE.match(f))
    )
    with open(path, "wb") as dst:
        for _, f in parts:
            with open(os.path.join(tmp_dir, f), "rb") as src:
                shutil.copyfileobj(src, dst)
    shutil.rmtree(tmp_dir, ignore_errors=True)
