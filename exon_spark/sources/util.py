"""Shared infrastructure for the format data sources.

Mirrors the reference's listing-table machinery (SURVEY.md §2.1): directory
scans with extension filtering, hive partition-column discovery, and
gzip/bgzf/zstd compression handling
(exon/exon-core/src/datasources/exon_file_type.rs:180-201,
physical_plan/object_store/hive_partition.rs:72-180).

Driver-side work is limited to listing + header/index reads (planning);
executors open files themselves — no data flows through the driver.
"""

from __future__ import annotations

import glob as _glob
import gzip
import io
import os
import re
from dataclasses import dataclass, field


@dataclass
class FoundFile:
    path: str
    size: int
    partition_values: dict[str, str] = field(default_factory=dict)


def detect_compression(path: str, option: str | None = None) -> str:
    """'gzip' | 'zstd' | 'none' — from explicit option or file extension
    (.gz/.bgz/.bgzf -> gzip-compatible; bgzf IS gzip with extra fields)."""
    if option:
        opt = option.lower()
        if opt in ("gzip", "bgzf", "zstd", "none", "uncompressed"):
            return {"uncompressed": "none", "bgzf": "gzip"}.get(opt, opt)
        raise ValueError(f"unknown compression: {option!r}")
    lower = path.lower()
    if lower.endswith((".gz", ".bgz", ".bgzf")):
        return "gzip"
    if lower.endswith((".zst", ".zstd")):
        return "zstd"
    return "none"


def open_maybe_compressed(path: str, compression: str | None = None):
    """Binary stream with transparent decompression. bgzf files are valid
    multi-member gzip, so gzip handles them (the indexed path uses
    exon_spark.sources.bgzf for virtual-offset seeks instead). Remote URIs
    (s3://...) resolve through exon_spark.sources.fs handlers."""
    from exon_spark.sources.fs import fs_open

    comp = detect_compression(path, compression)
    fh = fs_open(path)
    if comp == "gzip":
        return gzip.GzipFile(fileobj=fh)
    if comp == "zstd":
        return zstd_stream(fh)
    return fh


class _RawAdapter(io.RawIOBase):
    """Adapt a pyarrow NativeFile to io.RawIOBase so BufferedReader gives
    cheap line iteration over the decompressed stream."""

    def __init__(self, stream):
        self._s = stream

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        data = self._s.read(len(b))
        n = len(data)
        b[:n] = data
        return n

    def close(self) -> None:
        self._s.close()
        super().close()


def zstd_stream(fh) -> io.BufferedReader:
    """Streaming zstd decompression via pyarrow's bundled codec (the
    'zstandard' package is not required)."""
    import pyarrow as pa

    return io.BufferedReader(
        _RawAdapter(pa.CompressedInputStream(pa.PythonFile(fh, mode="r"), "zstd"))
    )


def text_lines(path: str, compression: str | None = None, encoding: str = "utf-8"):
    """Iterate text lines (newline-stripped) with decompression."""
    with open_maybe_compressed(path, compression) as fh:
        for raw in io.TextIOWrapper(fh, encoding=encoding):
            yield raw.rstrip("\n").rstrip("\r")


def _partition_values_from(path: str, root: str) -> dict[str, str]:
    rel = os.path.relpath(os.path.dirname(path), root)
    values: dict[str, str] = {}
    if rel == ".":
        return values
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            values[k] = v
    return values


def list_files(
    path: str,
    extensions: tuple[str, ...] = (),
    partition_filters: dict[str, str] | None = None,
) -> list[FoundFile]:
    """Expand a file / directory / glob into concrete files.

    * directories are walked recursively; ``key=value`` path segments become
      hive partition values (hive_partition.rs:72-180 semantics);
    * extension filtering accepts compressed variants (x.fasta.gz matches
      'fasta');
    * ``partition_filters`` prunes directories before listing results are
      returned (partition pruning at planning time — files in non-matching
      partitions are never opened).
    """

    if path.startswith("file:"):
        # CREATE TABLE ... LOCATION/OPTIONS passes file: URIs
        stripped = path[5:]
        while stripped.startswith("//"):
            stripped = stripped[1:]
        path = stripped

    def ext_ok(p: str) -> bool:
        if not extensions:
            return True
        stripped = p
        for c in (".gz", ".bgz", ".bgzf", ".zst", ".zstd"):
            if stripped.lower().endswith(c):
                stripped = stripped[: -len(c)]
                break
        return stripped.lower().endswith(tuple("." + e for e in extensions))

    from exon_spark.sources.fs import handler_for

    h = handler_for(path)
    if h is not None:
        # object store: one LIST per table path (reference: object_store
        # list over the table prefix); key=value segments under the prefix
        # become hive partition values, exactly as for directories
        found = []
        prefix = path.rstrip("/")
        for rf in h.list(path):
            if not ext_ok(rf.path):
                continue
            rel_dir = rf.path[len(prefix) :].lstrip("/")
            pv: dict[str, str] = {}
            for seg in rel_dir.split("/")[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    pv[k] = v
            if partition_filters and any(
                pv.get(k) != v for k, v in partition_filters.items()
            ):
                continue
            found.append(FoundFile(rf.path, rf.size, pv))
        if not found:
            raise FileNotFoundError(f"no input files at {path}")
        return found

    found: list[FoundFile] = []
    if os.path.isdir(path):
        root = path
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in sorted(filenames):
                full = os.path.join(dirpath, fn)
                if not ext_ok(full):
                    continue
                pv = _partition_values_from(full, root)
                if partition_filters and any(
                    pv.get(k) != v for k, v in partition_filters.items()
                ):
                    continue
                found.append(FoundFile(full, os.path.getsize(full), pv))
    elif os.path.isfile(path):
        found.append(FoundFile(path, os.path.getsize(path)))
    else:
        for p in sorted(_glob.glob(path)):
            if os.path.isfile(p):
                found.append(FoundFile(p, os.path.getsize(p)))
    if not found:
        raise FileNotFoundError(f"no input files at {path}")
    return found


_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def default_parallelism(spark) -> int:
    """``sparkContext.defaultParallelism``, which costs two py4j round
    trips. A ``local``/``local[...]`` master has a fixed core count, so
    its value is read once per SparkContext (``sc._exon_parallelism``);
    other masters read it every time, because a cluster's count grows as
    executors register."""
    sc = spark.sparkContext
    n = getattr(sc, "_exon_parallelism", None)
    if n is None:
        n = sc.defaultParallelism
        if _LOCAL_MASTER.fullmatch(sc.master or ""):
            sc._exon_parallelism = n
    return n


def partition_columns(files: list[FoundFile]) -> list[str]:
    cols: list[str] = []
    for f in files:
        for k in f.partition_values:
            if k not in cols:
                cols.append(k)
    return cols
