"""FASTQ data source.

Parity: reference ListingFASTQTable (exon/exon-core/src/datasources/fastq/;
schema exon/exon-fastq/src/config.rs:81-84: name, description, sequence,
quality_scores). One partition per file — FASTQ is not safely byte-splittable
('@' legally begins quality lines), matching the reference's file-level
parallelism. Within a file the scan is vectorized: lines split at C speed
and build Arrow arrays directly (``read_arrow_partition``), with the
per-record path kept as the fallback for option-rich scans.

``read_format`` serves local files, directories and globs through the
Java DataSourceV2 ``exonspark.spark.FastqSource`` instead (jvm_fast),
which gives the rows and errors of ``read_arrow_partition``. This class
still serves ``spark.read.format("fastq")``, streaming, the
``fastq_scan`` table function, and the reads the JVM reader does not
take: object stores, hive partition values, ``file_extension`` and a
``compression`` that disagrees with the extension.
"""

from __future__ import annotations

from collections.abc import Iterator

from exon_spark.sources.base import FileFormatSource, FilePartition
from exon_spark.sources.util import open_maybe_compressed


def _frame(lines: list[bytes]) -> list[bytes]:
    """``lines`` (starting where a header is due) without the blank and
    whitespace-only lines that stand where a header is due. The four lines
    of a record are kept as they are, so ``@r1``/empty/``+``/empty is a
    record with an empty sequence and quality, as ``parse_records`` reads
    it."""
    kept, start = [], 0
    for i in [i for i, l in enumerate(lines) if not l.strip()]:
        if (i - start) % 4 == 0:
            kept += lines[start:i]
            start = i + 1
    return kept + lines[start:]


class FastqSource(FileFormatSource):
    NAME = "fastq"
    EXTENSIONS = ("fastq", "fq")
    BASE_SCHEMA = (
        "name string, description string, sequence string, quality_scores string"
    )

    @classmethod
    def read_arrow_partition(cls, partition: FilePartition, options: dict, schema):
        """Vectorized 4-line-record framing: stream ~16 MB slabs, split
        lines once (C speed), validate the '@'/'+' line discipline in bulk,
        and build Arrow arrays by slicing — value-identical to the readline
        path (pinned by test_sources), ~10x its throughput."""
        if partition.extra:
            return None

        def batches():
            import pyarrow as pa

            def flush(lines):
                headers = lines[0::4]
                pluses = lines[2::4]
                if not all(h[:1] == b"@" for h in headers):
                    bad = next(h for h in headers if h[:1] != b"@")
                    raise ValueError(
                        f"{partition.path}: malformed FASTQ header: "
                        f"{bad.decode('utf-8', 'replace')!r}"
                    )
                if not all(p[:1] == b"+" for p in pluses):
                    raise ValueError(
                        f"{partition.path}: malformed FASTQ separator"
                    )
                names = []
                descs = []
                for h in headers:
                    sp = h.find(b" ")
                    if sp < 0:
                        names.append(h[1:])
                        descs.append(None)
                    else:
                        names.append(h[1:sp])
                        descs.append(h[sp + 1 :] or None)
                cols = {
                    "name": lambda: pa.array(names, pa.binary()).cast(pa.string()),
                    "description": lambda: pa.array(descs, pa.binary()).cast(
                        pa.string()
                    ),
                    "sequence": lambda: pa.array(lines[1::4], pa.binary()).cast(
                        pa.string()
                    ),
                    "quality_scores": lambda: pa.array(
                        lines[3::4], pa.binary()
                    ).cast(pa.string()),
                }
                out = pa.table({n: cols[n]() for n in schema.names}).cast(schema)
                yield from out.to_batches(max_chunksize=8192)

            pend: list[bytes] = []
            with open_maybe_compressed(
                partition.path, partition.compression
            ) as fh:
                carry = b""
                while True:
                    chunk = fh.read(16 << 20)
                    data = carry + chunk if chunk else carry
                    # a final '\n' ends the last line; nothing follows it
                    raw = data.split(b"\n") if data else []
                    carry = raw.pop() if chunk else b""
                    lines = _frame(
                        pend + [l[:-1] if l.endswith(b"\r") else l for l in raw]
                    )
                    if not chunk:
                        if lines:
                            if len(lines) % 4:
                                raise ValueError(
                                    f"{partition.path}: truncated FASTQ record"
                                )
                            yield from flush(lines)
                        return
                    extra = len(lines) % 4
                    pend = lines[len(lines) - extra :] if extra else []
                    lines = lines[: len(lines) - extra]
                    if lines:
                        yield from flush(lines)

        return batches()

    @classmethod
    def parse_records(cls, path: str, compression: str, options: dict) -> Iterator[dict]:
        with open_maybe_compressed(path, compression) as fh:
            while True:
                header = fh.readline()
                if not header:
                    return
                header = header.decode("utf-8", "replace").rstrip("\r\n")
                if not header:
                    continue
                if not header.startswith("@"):
                    raise ValueError(f"{path}: malformed FASTQ header: {header!r}")
                seq = fh.readline().decode("utf-8", "replace").rstrip("\r\n")
                plus = fh.readline()
                if not plus.startswith(b"+"):
                    raise ValueError(f"{path}: malformed FASTQ separator")
                qual = fh.readline().decode("utf-8", "replace").rstrip("\r\n")
                name, _, desc = header[1:].partition(" ")
                yield {
                    "name": name,
                    "description": desc or None,
                    "sequence": seq,
                    "quality_scores": qual,
                }
