"""BAM data source — pure-Python binary decoder over BGZF, with .bai-pruned
region scans, and the one BAM partition planner.

Parity: reference ListingBAMTable
(exon/exon-core/src/datasources/bam/table_provider.rs; schema shared with
SAM, exon-sam/src/schema_builder.rs:383-397) and the .bai indexed path
(indexed_file/indexed_bgzf_file.rs:88-108).

``BamSource.plan_partitions`` plans every BAM scan: index chunk groups
per region, index-cut byte ranges for full scans, or the whole file.
``read_format`` sends a local single-file read to the Java DataSourceV2
(exonspark.spark.BamBgzfSource via jvm_fast.read_bam_jvm), which runs
this planner on the driver and decodes the planned ranges in the JVM,
row for row equal to ``decode_record``. The Python decoder below serves
the rest: typed tags (``parse_tags``), filter-derived regions,
``file_extension``, directories, globs, object stores, streaming and
the scan UDTFs.

Format: SAM spec §4 (BAM). Also provides ``build_bai`` so BAM files can be
indexed without htslib.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

from exon_spark.functions.region import expand_regions, parse_region
from exon_spark.sources.fs import fs_exists
from exon_spark.sources.base import FileFormatSource, FilePartition
from exon_spark.sources.util import FoundFile, detect_compression

_SEQ_CODE = "=ACMGRSVTWYHKDBN"
_SEQ_BYTE2 = [_SEQ_CODE[b >> 4] + _SEQ_CODE[b & 0xF] for b in range(256)]
_CIGAR_OPS = "MIDNSHP=X"
_REF_CONSUMING = frozenset("MDN=X")


def read_bam_header(stream) -> list[tuple[str, int]]:
    """Parse the BAM header from a BGZFStream; leaves the stream positioned
    at the first alignment record. Returns [(ref_name, ref_len)]."""
    magic = stream.read(4)
    if magic != b"BAM\x01":
        raise ValueError("not a BAM file")
    (l_text,) = struct.unpack("<i", stream.read(4))
    stream.read(l_text)
    (n_ref,) = struct.unpack("<i", stream.read(4))
    refs: list[tuple[str, int]] = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack("<i", stream.read(4))
        name = stream.read(l_name)[:-1].decode()
        (l_ref,) = struct.unpack("<i", stream.read(4))
        refs.append((name, l_ref))
    return refs


def _ddl_of_native(v) -> str:
    if isinstance(v, bool):
        return "string"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, list):
        if v and isinstance(v[0], float):
            return "array<double>"
        return "array<bigint>"
    return "string"


def decode_record(
    data: bytes, refs: list[tuple[str, int]], typed_tags: bool = False
) -> dict:
    refid, pos, l_rn, mapq, _bin, n_cig, flag, l_seq, nrefid, npos, _tlen = (
        struct.unpack_from("<iiBBHHHiiii", data, 0)
    )
    off = 32
    name = data[off : off + l_rn - 1].decode()
    off += l_rn
    cigar_ops = struct.unpack_from(f"<{n_cig}I", data, off)
    off += 4 * n_cig
    n_seq_bytes = (l_seq + 1) // 2
    seq_packed = data[off : off + n_seq_bytes]
    off += n_seq_bytes
    qual = data[off : off + l_seq]
    off += l_seq

    cigar = "".join(f"{op >> 4}{_CIGAR_OPS[op & 0xF]}" for op in cigar_ops)
    ref_len = sum(
        op >> 4 for op in cigar_ops if _CIGAR_OPS[op & 0xF] in _REF_CONSUMING
    )
    # table-driven unpack: each packed byte maps to its 2-base string
    sequence = "".join(map(_SEQ_BYTE2.__getitem__, seq_packed))[:l_seq]
    quality = [] if (l_seq == 0 or (qual and qual[0] == 0xFF)) else list(qual)

    tags: list | dict = {} if typed_tags else []
    while off + 3 <= len(data):
        tag = data[off : off + 2].decode("ascii", "replace")
        typ = chr(data[off + 2])
        off += 3
        val, off = _decode_tag_value(data, off, typ)
        if typed_tags:
            # type 'A' (character) is numeric in the typed schema: the
            # reference shows XS:A:'-' as 45 (bam-select-tests.slt)
            tags[tag] = ord(val) if typ == "A" else val
        else:
            if isinstance(val, list):
                val = ",".join(str(v) for v in val)
            tags.append({"tag": tag, "value": str(val)})

    reference = refs[refid][0] if 0 <= refid < len(refs) else None
    mate_ref = refs[nrefid][0] if 0 <= nrefid < len(refs) else None
    unmapped = refid < 0 or pos < 0
    return {
        "name": name or None,
        "flag": flag,
        "reference": reference,
        "start": None if unmapped else pos + 1,
        "end": None if unmapped or ref_len == 0 else pos + ref_len,
        "mapping_quality": None if mapq == 255 else str(mapq),
        "cigar": cigar,
        "mate_reference": mate_ref,
        "sequence": sequence,
        "quality_score": quality,
        "tags": tags or None,
    }


def _decode_tag_value(data: bytes, off: int, typ: str):
    """Decode one tag value to a native Python value (int/float/str/list)."""
    if typ == "A":
        return chr(data[off]), off + 1
    if typ in "cC":
        v = struct.unpack_from("<b" if typ == "c" else "<B", data, off)[0]
        return v, off + 1
    if typ in "sS":
        v = struct.unpack_from("<h" if typ == "s" else "<H", data, off)[0]
        return v, off + 2
    if typ in "iI":
        v = struct.unpack_from("<i" if typ == "i" else "<I", data, off)[0]
        return v, off + 4
    if typ == "f":
        return struct.unpack_from("<f", data, off)[0], off + 4
    if typ in "ZH":
        end = data.index(b"\x00", off)
        return data[off:end].decode("ascii", "replace"), end + 1
    if typ == "B":
        sub = chr(data[off])
        (n,) = struct.unpack_from("<i", data, off + 1)
        off += 5
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        size = struct.calcsize("<" + fmt)
        vals = list(struct.unpack_from(f"<{n}{fmt}", data, off))
        return vals, off + n * size
    raise ValueError(f"unknown BAM tag type {typ!r}")


def _iter_record_blobs(bg, v_start: int = 0, v_stop: int | None = None):
    """Yield raw BAM record blobs from a BGZFReader, buffered block-at-a-
    time instead of two ``stream.read`` calls per record (~30µs/record of
    Python call overhead in the stream layer — this walk is ~10x cheaper).

    Ownership matches ``iter_bam_records``: a record is yielded iff its
    record-START virtual offset is < ``v_stop``. Block-granular metadata
    maps buffer positions back to virtual offsets exactly."""
    coffset = v_start >> 16
    uoff = v_start & 0xFFFF
    bg._load_block(coffset)
    data = bg._block_data
    if not data:
        return
    buf = bytearray(data[uoff:])
    # (start_pos_in_buf, start_uoffset, end_pos_in_buf, coffset)
    blocks = [(0, uoff, len(buf), coffset)]
    next_c = bg._block_next_coffset
    pos = 0
    bi = 0  # index of the block entry containing pos

    def load_more() -> bool:
        nonlocal next_c
        bg._load_block(next_c)
        d = bg._block_data
        if not d:
            return False
        blocks.append((len(buf), 0, len(buf) + len(d), next_c))
        buf.extend(d)
        next_c = bg._block_next_coffset
        return True

    while True:
        while len(buf) - pos < 4:
            if not load_more():
                return
        if v_stop is not None:
            while blocks[bi][2] <= pos:
                bi += 1
            bstart, buoff, _bend, bcoff = blocks[bi]
            if ((bcoff << 16) | (pos - bstart + buoff)) >= v_stop:
                return
        bs = int.from_bytes(buf[pos : pos + 4], "little", signed=True)
        while len(buf) - pos < 4 + bs:
            if not load_more():
                return  # truncated trailing record
        yield bytes(buf[pos + 4 : pos + 4 + bs])
        pos += 4 + bs
        if pos > (8 << 20):  # compact; rebase block metadata
            del buf[:pos]
            blocks = [
                (s - pos, u, e - pos, c)
                for (s, u, e, c) in blocks
                if e > pos
            ]
            bi = 0
            pos = 0


_REF_CONSUME_LUT = None  # built lazily with numpy


def _decode_blob_batch(blobs: list[bytes], refs, schema):
    """One Arrow RecordBatch from a list of raw BAM record blobs.
    Value-identical to ``decode_record`` (cross-checked in tests)."""
    import numpy as np
    import pyarrow as pa

    global _REF_CONSUME_LUT
    if _REF_CONSUME_LUT is None:
        _REF_CONSUME_LUT = np.array(
            [1 if c in _REF_CONSUMING else 0 for c in _CIGAR_OPS] + [0] * 7,
            dtype=np.int64,
        )

    n = len(blobs)
    lens = np.fromiter((len(b) for b in blobs), np.int64, n)
    if n and int(lens.min()) < 32:
        # The fixed-header gather below assumes every blob carries the full
        # 32-byte BAM record header; an undersized (truncated/corrupt) blob
        # would silently read the next record's bytes. Fail cleanly instead,
        # matching the row decoder's struct.unpack_from behavior.
        short = int(np.argmin(lens))
        raise ValueError(
            f"corrupt BAM record: blob {short} is {int(lens[short])} bytes, "
            "shorter than the 32-byte fixed header"
        )
    starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    buf = b"".join(blobs)
    a8 = np.frombuffer(buf, np.uint8)
    H = a8[starts[:, None] + np.arange(32)]

    def le_i32(c0):
        return H[:, c0 : c0 + 4].copy().view("<i4").ravel().astype(np.int64)

    def le_u16(c0):
        return H[:, c0 : c0 + 2].copy().view("<u2").ravel().astype(np.int64)

    refid = le_i32(0)
    pos = le_i32(4)
    l_rn = H[:, 8].astype(np.int64)
    mapq = H[:, 9].astype(np.int64)
    n_cig = le_u16(12)
    flag = le_u16(14)
    l_seq = le_i32(16)
    nrefid = le_i32(20)

    name_off = starts + 32
    cig_off = name_off + l_rn
    seq_off = cig_off + 4 * n_cig
    nb = (l_seq + 1) // 2
    qual_off = seq_off + nb
    tag_off = qual_off + l_seq
    tag_len = starts + lens - tag_off

    need = set(schema.names)

    # flat within-record index helper: for per-record counts c, returns the
    # global element index of every (record, k<c) pair
    def flat_idx(offs, counts, stride=1):
        total = int(counts.sum())
        if total == 0:
            return np.empty(0, np.int64), np.zeros(n + 1, np.int64)
        rep = np.repeat(offs, counts)
        cum = np.cumsum(counts) - counts
        within = np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
        bounds = np.zeros(n + 1, np.int64)
        np.cumsum(counts, out=bounds[1:])
        return rep + stride * within, bounds

    out: dict[str, pa.Array] = {}

    if "name" in need:
        no = name_off.tolist()
        nl = l_rn.tolist()
        names = [buf[o : o + ln - 1] for o, ln in zip(no, nl)]
        out["name"] = pa.array(
            [m if m else None for m in names], pa.binary()
        ).cast(pa.string())
    if "flag" in need:
        out["flag"] = pa.array(flag.astype(np.int32))

    unmapped = (refid < 0) | (pos < 0)
    if "reference" in need or "mate_reference" in need:
        ref_names = np.array([r[0] for r in refs], dtype=object)

        def ref_col(ids):
            col = np.empty(n, object)
            col[:] = None
            ok = (ids >= 0) & (ids < len(refs))
            col[ok] = ref_names[ids[ok]]
            return pa.array(col, pa.string())

        if "reference" in need:
            out["reference"] = ref_col(refid)
        if "mate_reference" in need:
            out["mate_reference"] = ref_col(nrefid)

    cigar_needed = "cigar" in need or "end" in need
    if cigar_needed:
        idx, bounds = flat_idx(cig_off, n_cig, stride=4)
        ops = (
            a8[idx].astype(np.uint32)
            | (a8[idx + 1].astype(np.uint32) << 8)
            | (a8[idx + 2].astype(np.uint32) << 16)
            | (a8[idx + 3].astype(np.uint32) << 24)
        )
        oplen = (ops >> 4).astype(np.int64)
        opch = (ops & 0xF).astype(np.int64)
        if "end" in need:
            ref_len = np.zeros(n, np.int64)
            np.add.at(
                ref_len,
                np.repeat(np.arange(n), n_cig),
                oplen * _REF_CONSUME_LUT[opch],
            )
        if "cigar" in need:
            opchars = np.array(list(_CIGAR_OPS), dtype="U1")
            parts = np.char.add(oplen.astype("U10"), opchars[opch])
            b = bounds.tolist()
            out["cigar"] = pa.array(
                ["".join(parts[b[i] : b[i + 1]]) for i in range(n)],
                pa.string(),
            )

    if "start" in need:
        out["start"] = pa.array(pos + 1, pa.int64(), mask=unmapped)
    if "end" in need:
        out["end"] = pa.array(
            pos + ref_len, pa.int64(), mask=unmapped | (ref_len == 0)
        )
    if "mapping_quality" in need:
        lut = np.array([str(i) for i in range(256)], dtype=object)
        mq = lut[mapq]
        out["mapping_quality"] = pa.array(mq, pa.string(), mask=mapq == 255)

    if "sequence" in need:
        idx, _bounds = flat_idx(seq_off, nb)
        pairs = np.array(_SEQ_BYTE2, dtype="S2")[a8[idx]].tobytes()
        soff = np.zeros(n + 1, np.int64)
        np.cumsum(nb, out=soff[1:])
        so = (2 * soff).tolist()
        ls = l_seq.tolist()
        out["sequence"] = pa.array(
            [pairs[so[i] : so[i] + ls[i]] for i in range(n)], pa.binary()
        ).cast(pa.string())

    if "quality_score" in need:
        first = np.where(l_seq > 0, a8[np.minimum(qual_off, len(a8) - 1)], 0)
        qlen = np.where((l_seq == 0) | (first == 0xFF), 0, l_seq)
        idx, bounds = flat_idx(qual_off, qlen)
        out["quality_score"] = pa.ListArray.from_arrays(
            pa.array(bounds, pa.int32()),
            pa.array(a8[idx].astype(np.int64)),
        )

    if "tags" in need:
        if int(tag_len.max(initial=0)) == 0:
            out["tags"] = pa.nulls(n, schema.field("tags").type)
        else:
            to = tag_off.tolist()
            tl = tag_len.tolist()
            rows = []
            for i in range(n):
                if tl[i] <= 0:
                    rows.append(None)
                    continue
                data = buf[to[i] : to[i] + tl[i]]
                off = 0
                tags = []
                while off + 3 <= len(data):
                    tag = data[off : off + 2].decode("ascii", "replace")
                    typ = chr(data[off + 2])
                    off += 3
                    val, off = _decode_tag_value(data, off, typ)
                    if isinstance(val, list):
                        val = ",".join(str(v) for v in val)
                    tags.append({"tag": tag, "value": str(val)})
                rows.append(tags or None)
            out["tags"] = pa.array(rows, schema.field("tags").type)

    cols = []
    for name in schema.names:
        a = out[name]
        want = schema.field(name).type
        if a.type != want:  # e.g. list value-field nullability/name
            a = a.cast(want)
        cols.append(a)
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def iter_bam_records(
    stream,
    refs: list[tuple[str, int]],
    stop_voffset: int | None = None,
    typed_tags: bool = False,
) -> Iterator[tuple[dict, int, int]]:
    """Yield (record, voffset_start, voffset_end) from a positioned stream."""
    while True:
        v_start = stream.tell_virtual()
        if stop_voffset is not None and v_start >= stop_voffset:
            return
        head = stream.read(4)
        if len(head) < 4:
            return
        (block_size,) = struct.unpack("<i", head)
        data = stream.read(block_size)
        if len(data) < block_size:
            return
        yield decode_record(data, refs, typed_tags), v_start, stream.tell_virtual()


class BamSource(FileFormatSource):
    NAME = "bam"
    EXTENSIONS = ("bam",)
    # region derivation from pushed start-bounds is sound for alignments:
    # any read with start in [lo, hi] overlaps [lo, hi], so the bai
    # overlap query returns a superset; the residual re-applies exactly
    REGION_FIELDS = ("reference", "start")
    BASE_SCHEMA = (
        "name string, flag int, reference string, start bigint, end bigint, "
        "mapping_quality string, cigar string, mate_reference string, "
        "sequence string, quality_score array<bigint>, "
        "tags array<struct<tag string, value string>>"
    )

    def base_schema(self) -> str:
        from exon_spark.sources.sam import parse_tags_enabled, sample_tag_schema

        if not parse_tags_enabled(self.options):
            return self.BASE_SCHEMA
        from exon_spark.sources.bgzf import BGZFReader

        first = self._files()[0]

        def tag_samples():
            with BGZFReader(first.path) as bg:
                stream = bg.stream_from(0)
                refs = read_bam_header(stream)
                for i, (rec, _vs, _ve) in enumerate(
                    iter_bam_records(stream, refs, typed_tags=True)
                ):
                    for tag, v in (rec["tags"] or {}).items():
                        yield tag, v, _ddl_of_native(v)
                    if i >= 100:
                        return

        struct_ddl = sample_tag_schema(tag_samples())
        return self.BASE_SCHEMA.replace(
            "tags array<struct<tag string, value string>>", f"tags {struct_ddl}"
        )

    @classmethod
    def plan_partitions(cls, f: FoundFile, options: dict) -> list[FilePartition]:
        pv = tuple(sorted(f.partition_values.items()))
        regions = options.get("regions") or options.get("region")
        comp = "bgzf"
        if not regions and str(options.get("indexed", "")).lower() in ("true", "1"):
            raise ValueError(
                "INDEXED_BAM scan requires a region filter — add "
                ".option('regions', 'chr:lo-hi') or WHERE "
                "bam_region_filter('chr:lo-hi', reference, start, end)"
            )
        bai = f.path + ".bai"
        csi = f.path + ".csi"
        if not (fs_exists(bai) or fs_exists(csi)):
            # without an index BAM is unsplittable: one partition per file,
            # same as the reference's per-file parallelism
            if regions:
                regions = tuple(expand_regions(regions))
                return [FilePartition(f.path, comp, pv, extra=("filter", regions, ()))]
            return [FilePartition(f.path, comp, pv)]
        from exon_spark.sources.bgzf import BGZFReader
        from exon_spark.sources.indexes import (
            adaptive_target_bytes,
            bai_chunks,
            chunk_groups,
            csi_chunks,
            full_scan_ranges,
            read_bai,
            read_csi,
        )

        with BGZFReader(f.path) as bg:
            stream = bg.stream_from(0)
            ref_names = [n for n, _ in read_bam_header(stream)]
            header_end = stream.tell_virtual()
        # `samtools index -c` files carry a .csi instead of a .bai, with
        # no reference names: those come from the BAM's own header
        index = read_bai(bai) if fs_exists(bai) else None
        cindex = None if index is not None else read_csi(csi)
        par = int(options.get("target_parallelism", 0) or 0)
        if not regions:
            # full scan, but the index gives record-start virtual offsets
            # (BAI linear index, CSI per-bin loffsets) — split the file so
            # one BAM fans out across executors
            if index is not None:
                linear = index.linear
            else:
                linear = [lo.values() for lo in cindex.loffsets]
            target = adaptive_target_bytes(f.size, par, floor=1 << 20, ceil=16 << 20)
            return [
                FilePartition(f.path, comp, pv, extra=("range", s, e))
                for s, e in full_scan_ranges(linear, target, start=header_end)
            ]
        per_region = []
        for region in expand_regions(regions):
            name, lo, hi = parse_region(region)
            if name not in ref_names:
                continue
            rid = ref_names.index(name)
            if index is not None:
                chunks = bai_chunks(index, rid, region)
                lin = index.linear[rid]
            else:
                chunks = csi_chunks(cindex, rid, lo, hi)
                lin = list(cindex.loffsets[rid].values())
            if chunks:
                per_region.append((region, chunks, lin))
        total = sum(
            (ce >> 16) - (cb >> 16) for _, chunks, _lin in per_region for cb, ce in chunks
        )
        parts = [
            FilePartition(f.path, comp, pv, extra=("bai", region, tuple(group)))
            for region, group in chunk_groups(per_region, adaptive_target_bytes(total, par))
        ]
        return parts or [FilePartition(f.path, comp, pv, extra=("empty",))]

    @classmethod
    def read_arrow_partition(cls, partition: FilePartition, options: dict, schema):
        """Vectorized full-scan decode: record blobs are concatenated and
        the fixed 32-byte headers, packed sequences and quality arrays are
        decoded with numpy gathers instead of per-record Python
        (decode_record measures ~65µs/record; this path ~10µs). Region /
        typed-tag scans keep the row path (header-driven schemas and
        post-filters)."""
        from exon_spark.sources.sam import parse_tags_enabled

        if parse_tags_enabled(options):
            return None
        if partition.extra and partition.extra[0] != "range":
            return None
        return cls._arrow_decode_batches(partition, schema)

    @classmethod
    def _arrow_decode_batches(cls, partition: FilePartition, schema):
        from exon_spark.sources.bgzf import BGZFReader

        with BGZFReader(partition.path) as bg:
            stream = bg.stream_from(0)
            refs = read_bam_header(stream)
            if partition.extra:
                _, v_start, v_stop = partition.extra
            else:
                # whole file: records begin where the header ended
                v_start, v_stop = stream.tell_virtual(), None
            blobs: list[bytes] = []
            for blob in _iter_record_blobs(bg, v_start, v_stop):
                blobs.append(blob)
                if len(blobs) >= 16384:
                    yield _decode_blob_batch(blobs, refs, schema)
                    blobs = []
            if blobs:
                yield _decode_blob_batch(blobs, refs, schema)

    @classmethod
    def parse_partition(cls, partition: FilePartition, options: dict) -> Iterator[dict]:
        from exon_spark.sources.bgzf import BGZFReader
        from exon_spark.sources.sam import parse_tags_enabled

        typed = parse_tags_enabled(options)
        if partition.extra and partition.extra[0] == "empty":
            return
        with BGZFReader(partition.path) as bg:
            stream = bg.stream_from(0)
            refs = read_bam_header(stream)
            if partition.extra and partition.extra[0] == "range":
                _, v_start, v_stop = partition.extra
                s = bg.stream_from(v_start)
                for rec, _vs, _ve in iter_bam_records(s, refs, stop_voffset=v_stop, typed_tags=typed):
                    yield rec
                return
            if partition.extra and partition.extra[0] == "bai":
                _, region, chunks = partition.extra
                name, lo, hi = parse_region(region)
                for cb, ce in chunks:
                    s = bg.stream_from(cb)
                    for rec, _vs, _ve in iter_bam_records(s, refs, stop_voffset=ce, typed_tags=typed):
                        if (
                            rec["reference"] == name
                            and rec["start"] is not None
                            and rec["start"] <= hi
                            and (rec["end"] or rec["start"]) >= lo
                        ):
                            yield rec
                return
            region_filters = None
            if partition.extra and partition.extra[0] == "filter":
                region_filters = [parse_region(r) for r in partition.extra[1]]
            for rec, _vs, _ve in iter_bam_records(stream, refs, typed_tags=typed):
                if region_filters is not None and not any(
                    rec["reference"] == n
                    and rec["start"] is not None
                    and rec["start"] <= hi
                    and (rec["end"] or rec["start"]) >= lo
                    for n, lo, hi in region_filters
                ):
                    continue
                yield rec


def sam_to_bam(sam_path: str, bam_path: str) -> str:
    """Convert a SAM text file to BAM (pure Python; htslib-free). Reference
    sequences come from @SQ header lines."""
    from exon_spark.sources.bgzf import BGZFWriter
    from exon_spark.sources.indexes import reg2bin

    refs: list[tuple[str, int]] = []
    header_lines: list[str] = []
    records: list[str] = []
    with open(sam_path, "r", encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            if line.startswith("@"):
                header_lines.append(line)
                if line.startswith("@SQ"):
                    kv = dict(
                        p.split(":", 1) for p in line.split("\t")[1:] if ":" in p
                    )
                    refs.append((kv["SN"], int(kv.get("LN", 0))))
            else:
                records.append(line)
    ref_ids = {name: i for i, (name, _l) in enumerate(refs)}
    text = ("\n".join(header_lines) + "\n").encode()

    out = bytearray()
    out += b"BAM\x01"
    out += struct.pack("<i", len(text)) + text
    out += struct.pack("<i", len(refs))
    for name, l_ref in refs:
        nb = name.encode() + b"\x00"
        out += struct.pack("<i", len(nb)) + nb + struct.pack("<i", l_ref)

    seq_idx = {c: i for i, c in enumerate(_SEQ_CODE)}
    op_idx = {c: i for i, c in enumerate(_CIGAR_OPS)}
    for line in records:
        f = line.split("\t")
        qname, flag, rname, pos, mapq = f[0], int(f[1]), f[2], int(f[3]), int(f[4])
        cigar, rnext, _pnext, _tlen, seq, qual = f[5], f[6], f[7], f[8], f[9], f[10]
        refid = ref_ids.get(rname, -1)
        nrefid = refid if rnext == "=" else ref_ids.get(rnext, -1)
        pos0 = pos - 1
        ops = [] if cigar == "*" else _CIGAR_RE_OPS.findall(cigar)
        cigar_enc = [(int(n) << 4) | op_idx[op] for n, op in ops]
        ref_len = sum(int(n) for n, op in ops if op in _REF_CONSUMING)
        seq_s = "" if seq == "*" else seq
        l_seq = len(seq_s)
        packed = bytearray((l_seq + 1) // 2)
        for i, c in enumerate(seq_s):
            code = seq_idx.get(c.upper(), 15)
            packed[i // 2] |= code << 4 if i % 2 == 0 else code
        if qual == "*":
            qual_b = b"\xff" * l_seq
        else:
            qual_b = bytes(ord(c) - 33 for c in qual)
        name_b = qname.encode() + b"\x00"
        tag_b = bytearray()
        for t in f[11:]:
            parts = t.split(":", 2)
            if len(parts) != 3:
                continue
            tag, typ, val = parts
            tag_b += tag.encode()
            if typ == "i":
                tag_b += b"i" + struct.pack("<i", int(val))
            elif typ == "f":
                tag_b += b"f" + struct.pack("<f", float(val))
            else:
                tag_b += b"Z" + val.encode() + b"\x00"
        end0 = pos0 + max(ref_len, 1)
        rec = struct.pack(
            "<iiBBHHHiiii",
            refid,
            pos0 if refid >= 0 else -1,
            len(name_b),
            mapq,
            reg2bin(pos0, end0) if refid >= 0 else 4680,
            len(cigar_enc),
            flag,
            l_seq,
            nrefid,
            (int(f[7]) - 1) if f[7] != "0" and nrefid >= 0 else -1,
            int(f[8]),
        )
        rec += name_b
        rec += struct.pack(f"<{len(cigar_enc)}I", *cigar_enc)
        rec += bytes(packed) + qual_b + bytes(tag_b)
        out += struct.pack("<i", len(rec)) + rec

    with BGZFWriter(bam_path) as w:
        w.write(bytes(out))
    return bam_path


import re as _re

_CIGAR_RE_OPS = _re.compile(r"(\d+)([MIDNSHP=X])")
