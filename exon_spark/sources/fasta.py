"""FASTA data source.

Parity: reference ListingFASTATable
(exon/exon-core/src/datasources/fasta/table_provider.rs:327-342; schema
exon/exon-fasta/src/config.rs:166-168: id, description, sequence) with
``.fai``-driven region slicing (indexed_file/fai.rs:29-47) and gzip/zstd
compression.

Scale behavior matches the reference: uncompressed FASTA splits by byte
range (boundary-aligned on the next '>' header), so a single large file
parallelizes across executors; gzip input is one partition per file
(non-splittable — same cap as the reference's parallel-scan benchmark).

``read_format`` serves local files, directories and globs through the
Java DataSourceV2 ``exonspark.spark.FastaSource`` instead (jvm_fast),
over the partitions ``plan_partitions`` plans, with the rows of
``read_arrow_partition``. This class still serves
``spark.read.format("fasta")``, streaming, object stores other than the
Hadoop-native ones, ``.fai`` region reads, ``sequence_data_type``,
``file_extension`` and a ``compression`` that disagrees with the
extension.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from exon_spark.sources.fs import fs_open
from exon_spark.sources.base import FileFormatSource, FilePartition
from exon_spark.sources.util import FoundFile, detect_compression, open_maybe_compressed

SPLIT_BYTES = 128 * 1024 * 1024


def _fasta_records_from_stream(stream) -> Iterator[dict]:
    header: str | None = None
    seq_parts: list[str] = []
    for raw in stream:
        line = raw.decode("utf-8", "replace").rstrip("\r\n")
        if line.startswith(">"):
            if header is not None:
                yield _emit(header, seq_parts)
            header = line[1:]
            seq_parts = []
        elif line:
            seq_parts.append(line)
    if header is not None:
        yield _emit(header, seq_parts)


def _emit(header: str, seq_parts: list[str]) -> dict:
    ident, _, desc = header.partition(" ")
    return {
        "id": ident,
        "description": desc or None,
        "sequence": "".join(seq_parts),
    }


# ML integer encodings (exon-fasta/src/array_builder.rs:144-205 semantics):
# DNA A=1 C=2 G=3 T=4 N=5; protein = 1-based index in A..Z minus J
_DNA_ENCODE = {"A": 1, "C": 2, "G": 3, "T": 4, "N": 5}
_PROTEIN_ENCODE = {
    c: i + 1 for i, c in enumerate("ABCDEFGHIKLMNOPQRSTUVWY")
}
_PROTEIN_ENCODE["X"] = 24
_PROTEIN_ENCODE["Z"] = 25


def _encode_sequence(seq: str, table: dict[str, int], kind: str) -> list[int]:
    try:
        return [table[c] for c in seq]
    except KeyError as e:
        raise ValueError(f"invalid {kind} character {e.args[0]!r} in sequence") from None


class FastaSource(FileFormatSource):
    NAME = "fasta"
    EXTENSIONS = ("fasta", "fa", "faa", "fna")
    BASE_SCHEMA = "id string, description string, sequence string"

    def base_schema(self) -> str:
        # config-switched sequence type (exon-fasta/src/config.rs:189-213):
        # utf8 (default) | large_utf8 | integer_encode_dna | integer_encode_protein
        sdt = str(self.options.get("sequence_data_type", "")).lower()
        if sdt.startswith("integer_encode"):
            return "id string, description string, sequence array<tinyint>"
        return self.BASE_SCHEMA

    @classmethod
    def plan_partitions(cls, f: FoundFile, options: dict) -> list[FilePartition]:
        comp = detect_compression(f.path, options.get("compression"))
        regions = options.get("regions") or options.get("region")
        if regions:
            # .fai-pruned scan: one partition per requested sequence, using
            # the byte offsets from the index (fai.rs:29-47). Regions may be
            # literal or a path to a region file (one region per line).
            from exon_spark.functions.region import expand_regions
            from exon_spark.sources.indexes import fai_byte_ranges

            parts = []
            for name, start, end in fai_byte_ranges(f.path, expand_regions(regions)):
                parts.append(
                    FilePartition(
                        path=f.path,
                        compression=comp,
                        partition_values=tuple(sorted(f.partition_values.items())),
                        start=start,
                        end=end,
                        extra=(name,),
                    )
                )
            return parts
        pv = tuple(sorted(f.partition_values.items()))
        if comp != "none" or f.size <= (1 << 20):
            return [FilePartition(f.path, comp, pv)]
        # byte-range splits for plain FASTA, sized to the cluster (same
        # clamped-adaptive policy as mzML/BAM): floor 1 MB so small bench
        # files still fan out, ceil SPLIT_BYTES so 100 TB scans don't plan
        # millions of partitions. The reader aligns each range start to the
        # next '>' record boundary.
        from exon_spark.sources.indexes import adaptive_target_bytes

        par = int(options.get("target_parallelism", 0) or 0)
        target = adaptive_target_bytes(
            f.size, par or 16, floor=1 << 20, ceil=SPLIT_BYTES
        )
        n = -(-f.size // target)
        step = (f.size + n - 1) // n
        return [
            FilePartition(f.path, comp, pv, start=off, end=min(off + step, f.size))
            for off in range(0, f.size, step)
        ]

    @classmethod
    def read_arrow_partition(cls, partition: FilePartition, options: dict, schema):
        """Vectorized plain-text scan: frame the whole byte range with
        C-speed ``bytes.split``/``replace`` and build Arrow arrays directly
        — no per-record Python parse, no per-line readline; ~10x the
        throughput of the row path. ``read_format`` serves local files
        with the Java ``FastaSource`` instead, which gives these rows
        (jvm_fast.read_fasta_dsv2).
        Returns None (generic row path) for indexed/encoded scans;
        gzip/bgzf/zstd whole-file partitions decompress then frame the
        same way (zlib / pyarrow-zstd are C-speed; the stream is
        unsplittable regardless)."""
        if partition.extra or partition.compression not in (
            "none",
            "gzip",
            "bgzf",
            "zstd",
        ):
            return None
        if str(options.get("sequence_data_type", "")).lower().startswith(
            "integer"
        ):
            return None
        return cls._arrow_range_batches(partition, schema)

    @classmethod
    def _arrow_range_batches(cls, partition: FilePartition, schema):
        import pyarrow as pa

        CHUNK = 4 << 20
        names = set(schema.names)
        want_hdr = "id" in names or "description" in names
        ids: list[bytes] = []
        descs: list[bytes | None] = []
        seqs: list[bytes] = []
        crlf = False

        def flush():
            arrays = []
            for name in schema.names:
                if name == "id":
                    a = pa.array(ids, pa.binary()).cast(pa.string())
                elif name == "description":
                    a = pa.array(descs, pa.binary()).cast(pa.string())
                else:
                    a = pa.array(seqs, pa.binary()).cast(pa.string())
                arrays.append(a)
            return pa.RecordBatch.from_arrays(arrays, schema=schema)

        def frame(slab):
            # slab starts with '>' and holds only whole records
            for rec in slab[1:].split(b"\n>"):
                nl = rec.find(b"\n")
                if nl < 0:
                    header, seq = rec, b""
                else:
                    header, seq = rec[:nl], rec[nl + 1 :].replace(b"\n", b"")
                if crlf:
                    header = header.rstrip(b"\r")
                    seq = seq.replace(b"\r", b"")
                if not header and not seq:
                    continue
                if want_hdr:
                    sp = header.find(b" ")
                    if sp < 0:
                        ids.append(header)
                        descs.append(None)
                    else:
                        ids.append(header[:sp])
                        descs.append(header[sp + 1 :] or None)
                else:
                    ids.append(b"")
                    descs.append(None)
                seqs.append(seq)

        start = partition.start or 0
        if partition.compression in ("gzip", "bgzf", "zstd"):
            # Stream-decompress and frame incrementally: a multi-GB gzip
            # shard would otherwise hold its whole uncompressed body (plus
            # the framed copy) in executor memory at once. We accumulate
            # decompressed bytes only up to the last '\n>' record boundary,
            # flush those records, and carry the tail.
            stream = open_maybe_compressed(partition.path, partition.compression)
            with stream:
                carry = b""
                skipped_head = False
                first = True
                while True:
                    chunk = stream.read(8 << 20)
                    if first and chunk:
                        crlf = b"\r" in chunk[: 1 << 16]
                        first = False
                    if not chunk:
                        if not skipped_head:
                            if not carry.startswith(b">"):
                                return
                            skipped_head = True
                        if carry:
                            frame(carry)
                        break
                    carry += chunk
                    if not skipped_head:
                        if carry.startswith(b">"):
                            skipped_head = True
                        else:
                            j = carry.find(b"\n>")
                            if j < 0:
                                continue
                            carry = carry[j + 1 :]
                            skipped_head = True
                    boundary = carry.rfind(b"\n>")
                    if boundary >= 0:
                        frame(carry[: boundary + 1])
                        carry = carry[boundary + 1 :]
                    if len(seqs) >= 8192:
                        yield flush()
                        ids, descs, seqs = [], [], []
            if seqs:
                yield flush()
            return
        with fs_open(partition.path) as fh:
            # read one byte early so a record starting exactly at
            # `start` (previous byte '\n') is recognized as ours
            lead = 1 if start > 0 else 0
            fh.seek(start - lead)
            n = (partition.end - start + lead) if partition.end else None
            buf = fh.read(n) if n else fh.read()
            if partition.end is not None:
                # extend to the end of the last record we own: the
                # first '\n>' boundary at/after `end` closes it
                boundary = -1
                probe = max(0, len(buf) - 1)
                while True:
                    boundary = buf.find(b"\n>", probe)
                    if boundary != -1:
                        buf = buf[: boundary + 1]
                        break
                    probe = max(0, len(buf) - 1)
                    extra = fh.read(CHUNK)
                    if not extra:
                        break
                    buf += extra
        # first owned record: '>' at absolute pos p with start <= p,
        # preceded by '\n' (or p == 0)
        if start == 0 and buf.startswith(b">"):
            head = 0
        else:
            j = buf.find(b"\n>")
            if j < 0:
                return  # no record starts in this range
            head = j + 1
        slab = buf[head:]
        del buf
        if not slab:
            return
        crlf = b"\r" in slab[: 1 << 16] or b"\r" in slab[-(1 << 16) :]
        # split once (C-speed), then emit in 8192-record batches
        frame(slab)
        del slab
        all_ids, all_descs, all_seqs = ids, descs, seqs
        for i in range(0, len(all_seqs), 8192):
            ids = all_ids[i : i + 8192]
            descs = all_descs[i : i + 8192]
            seqs = all_seqs[i : i + 8192]
            yield flush()

    @classmethod
    def parse_partition(cls, partition: FilePartition, options: dict) -> Iterator[dict]:
        sdt = str(options.get("sequence_data_type", "")).lower()
        if sdt == "integer_encode_dna":
            enc, kind = _DNA_ENCODE, "nucleotide"
        elif sdt == "integer_encode_protein":
            enc, kind = _PROTEIN_ENCODE, "amino acid"
        else:
            enc = None
        for rec in cls._parse_partition_text(partition):
            if enc is not None:
                rec["sequence"] = _encode_sequence(rec["sequence"], enc, kind)
            yield rec

    @classmethod
    def _parse_partition_text(cls, partition: FilePartition) -> Iterator[dict]:
        if partition.extra:  # fai region slice: range covers one sequence
            yield from cls._read_fai_slice(partition)
            return
        if partition.compression == "none" and (
            partition.start or partition.end is not None
        ):
            yield from cls._read_byte_range(partition)
            return
        with open_maybe_compressed(partition.path, partition.compression) as fh:
            yield from _fasta_records_from_stream(fh)

    @staticmethod
    def _read_byte_range(partition: FilePartition) -> Iterator[dict]:
        """Parse records whose '>' header starts within [start, end)."""
        with fs_open(partition.path) as fh:
            fh.seek(partition.start)
            if partition.start != 0:
                # skip the (possibly partial) record the previous split owns
                while True:
                    pos = fh.tell()
                    line = fh.readline()
                    if not line:
                        return
                    if line.startswith(b">"):
                        fh.seek(pos)
                        break
            header: str | None = None
            seq_parts: list[str] = []
            while True:
                pos = fh.tell()
                line = fh.readline()
                at_eof = not line
                if not at_eof and line.startswith(b">") and pos >= (partition.end or 0):
                    break  # next split owns this record
                if at_eof:
                    break
                text = line.decode("utf-8", "replace").rstrip("\r\n")
                if text.startswith(">"):
                    if header is not None:
                        yield _emit(header, seq_parts)
                    header = text[1:]
                    seq_parts = []
                elif text:
                    seq_parts.append(text)
            if header is not None:
                yield _emit(header, seq_parts)

    @staticmethod
    def _read_fai_slice(partition: FilePartition) -> Iterator[dict]:
        (name,) = partition.extra
        with fs_open(partition.path) as fh:
            fh.seek(partition.start)
            blob = fh.read((partition.end or 0) - partition.start)
        seq = b"".join(blob.split(b"\n")).decode("utf-8", "replace")
        yield {"id": name, "description": None, "sequence": seq}
