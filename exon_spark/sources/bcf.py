"""BCF (binary VCF) data source — pure-Python BCF2.2 decoder.

Parity: reference ListingBCFTable
(exon/exon-core/src/datasources/bcf/table_provider.rs; noodles-bcf decode)
producing the same flat schema as VCF (schema_builder.rs:88-122): chrom,
pos, id(list), ref, alt(list), qual, filter(list), info, formats. Region
scans use the bundled .csi index (golden counts exon_context_ext.rs:1055-
1090: index.bcf = 621 rows, region "1" = 191 rows).

Format (VCFv4.3 spec §6 / htslib bcf1_t): BGZF stream, magic ``BCF\\2\\2``,
NUL-terminated VCF header text, then length-prefixed records with typed
values. Dictionaries: contigs from ``##contig`` lines, strings from
FILTER/INFO/FORMAT lines (``IDX=`` override honored, PASS defaults to 0).

INFO and FORMAT blocks are re-serialized to VCF text so the flat schema is
byte-compatible with the text VCF source; ``parse_info=true`` then upgrades
``info`` to the same header-driven struct.
"""

from __future__ import annotations

import gzip
import os
import re
import struct
from collections.abc import Iterator

from exon_spark.functions.region import parse_region
from exon_spark.sources.fs import fs_exists, fs_open
from exon_spark.sources.base import FilePartition
from exon_spark.sources.vcf import VcfSource, _parse_line

_INT_MISSING = {1: -(1 << 7), 2: -(1 << 15), 3: -(1 << 31)}
_INT_EOV = {1: -(1 << 7) + 1, 2: -(1 << 15) + 1, 3: -(1 << 31) + 1}
_FLOAT_MISSING = 0x7F800001
_FLOAT_EOV = 0x7F800002
_INT_FMT = {1: ("b", 1), 2: ("h", 2), 3: ("i", 4)}


class _Header:
    """Dictionaries decoded from the BCF header text."""

    def __init__(self, text: str):
        self.lines = [ln for ln in text.split("\n") if ln]
        self.contigs: list[str] = []
        self.strings: list[str] = []  # FILTER/INFO/FORMAT shared dictionary
        contig_idx: dict[int, str] = {}
        string_idx: dict[int, str] = {}
        seen: set[str] = set()
        auto_strings: list[str] = []
        auto_contigs: list[str] = []
        for line in self.lines:
            m = re.match(r"##(contig|FILTER|INFO|FORMAT)=<(.*)>", line)
            if not m:
                continue
            kind, body = m.group(1), m.group(2)
            kv = dict(
                p.split("=", 1)
                for p in re.findall(r'(?:[^,"]|"[^"]*")+', body)
                if "=" in p
            )
            name = kv.get("ID")
            if name is None:
                continue
            idx = kv.get("IDX")
            if kind == "contig":
                if idx is not None:
                    contig_idx[int(idx)] = name
                else:
                    auto_contigs.append(name)
            else:
                if name in seen:
                    continue
                seen.add(name)
                if idx is not None:
                    string_idx[int(idx)] = name
                else:
                    auto_strings.append(name)
        if contig_idx:
            self.contigs = [contig_idx.get(i, "?") for i in range(max(contig_idx) + 1)]
        else:
            self.contigs = auto_contigs
        if string_idx:
            self.strings = [string_idx.get(i, "?") for i in range(max(string_idx) + 1)]
        else:
            # implicit numbering: PASS is always 0, then order of appearance
            if "PASS" in auto_strings:
                auto_strings.remove("PASS")
            self.strings = ["PASS", *auto_strings]


def _read_typed_scalar_int(buf: bytes, off: int) -> tuple[int, int]:
    d = buf[off]
    off += 1
    t = d & 0x0F
    fmtc, size = _INT_FMT[t]
    (v,) = struct.unpack_from("<" + fmtc, buf, off)
    return v, off + size


def _descriptor(buf: bytes, off: int) -> tuple[int, int, int]:
    d = buf[off]
    off += 1
    t = d & 0x0F
    n = d >> 4
    if n == 15:
        n, off = _read_typed_scalar_int(buf, off)
    return t, n, off


def _read_typed(buf: bytes, off: int):
    """Decode one typed value -> (python value, new offset). Ints/floats
    yield a list (EOV-trimmed, missing -> None); chars yield str; type 0
    yields None (MISSING / flag)."""
    t, n, off = _descriptor(buf, off)
    return _read_values(buf, off, t, n)


def _read_values(buf: bytes, off: int, t: int, n: int):
    if t == 0 or n == 0:
        return None, off
    if t == 7:
        s = buf[off : off + n].decode("utf-8", "replace")
        return s.rstrip("\x00"), off + n
    if t == 5:
        raw = struct.unpack_from(f"<{n}I", buf, off)
        vals_f = struct.unpack_from(f"<{n}f", buf, off)
        off += 4 * n
        out: list[float | None] = []
        for u, fv in zip(raw, vals_f):
            if u == _FLOAT_EOV:
                break
            out.append(None if u == _FLOAT_MISSING else fv)
        return out, off
    fmtc, size = _INT_FMT[t]
    vals = struct.unpack_from(f"<{n}{fmtc}", buf, off)
    off += size * n
    eov, miss = _INT_EOV[t], _INT_MISSING[t]
    out_i: list[int | None] = []
    for v in vals:
        if v == eov:
            break
        out_i.append(None if v == miss else v)
    return out_i, off


def _fmt_num(v: float | int | None) -> str:
    if v is None:
        return "."
    if isinstance(v, float):
        return f"{v:g}"
    return str(v)


def _gt_string(vals: list[int | None]) -> str:
    out = []
    for i, v in enumerate(vals):
        if v is None:
            v = 0
        allele = (v >> 1) - 1
        tok = "." if allele < 0 else str(allele)
        if i == 0:
            out.append(tok)
        else:
            out.append(("|" if v & 1 else "/") + tok)
    return "".join(out)


def decode_record(buf: bytes, hdr: _Header) -> dict:
    """Decode one BCF record body (l_shared+l_indiv bytes, starting at the
    shared block) into the flat VCF schema dict."""
    l_shared, l_indiv = struct.unpack_from("<II", buf, 0)
    off = 8
    rid, pos0, _rlen = struct.unpack_from("<iii", buf, off)
    off += 12
    (qual_u,) = struct.unpack_from("<I", buf, off)
    (qual_f,) = struct.unpack_from("<f", buf, off)
    off += 4
    (n_allele_info,) = struct.unpack_from("<I", buf, off)
    off += 4
    n_info = n_allele_info & 0xFFFF
    n_allele = n_allele_info >> 16
    (n_fmt_sample,) = struct.unpack_from("<I", buf, off)
    off += 4
    n_sample = n_fmt_sample & 0xFFFFFF
    n_fmt = n_fmt_sample >> 24

    vid, off = _read_typed(buf, off)
    alleles: list[str] = []
    for _ in range(n_allele):
        a, off = _read_typed(buf, off)
        alleles.append(a or "")
    filt, off = _read_typed(buf, off)

    info_parts: list[str] = []
    for _ in range(n_info):
        key_l, off = _read_typed(buf, off)
        key = hdr.strings[key_l[0]] if key_l else "?"
        val, off = _read_typed(buf, off)
        if val is None:
            info_parts.append(key)  # Flag
        elif isinstance(val, str):
            info_parts.append(f"{key}={val}")
        else:
            info_parts.append(f"{key}=" + ",".join(_fmt_num(v) for v in val))

    # ---- indiv (FORMAT) block -> VCF text columns 9+
    formats = None
    if n_fmt and n_sample:
        foff = 8 + l_shared
        keys: list[str] = []
        per_sample: list[list[str]] = [[] for _ in range(n_sample)]
        for _ in range(n_fmt):
            key_l, foff = _read_typed(buf, foff)
            key = hdr.strings[key_l[0]] if key_l else "?"
            keys.append(key)
            t, per_n, foff = _descriptor(buf, foff)
            for s in range(n_sample):
                vals, foff = _read_values(buf, foff, t, per_n)
                if key == "GT" and not isinstance(vals, str):
                    per_sample[s].append(_gt_string(vals or []))
                elif vals is None:
                    per_sample[s].append(".")
                elif isinstance(vals, str):
                    per_sample[s].append(vals)
                else:
                    per_sample[s].append(",".join(_fmt_num(v) for v in vals))
        cols = [":".join(keys)] + [":".join(sv) for sv in per_sample]
        formats = "\t".join(cols)
    assert l_indiv >= 0

    return {
        "chrom": hdr.contigs[rid] if 0 <= rid < len(hdr.contigs) else str(rid),
        "pos": pos0 + 1,
        "id": None if not vid or vid == "." else vid.split(";"),
        "ref": alleles[0] if alleles else None,
        "alt": [a for a in alleles[1:]] or None,
        "qual": None if qual_u == _FLOAT_MISSING or qual_u == 0x7F800000 else qual_f,
        "filter": None
        if filt is None
        else [hdr.strings[i] for i in filt if i is not None],
        "info": ";".join(info_parts) if info_parts else None,
        "formats": formats,
    }


def read_bcf_header(stream) -> _Header:
    magic = stream.read(5)
    if magic != b"BCF\x02\x02":
        raise ValueError(f"not a BCF2.2 file (magic {magic!r})")
    (l_text,) = struct.unpack("<I", stream.read(4))
    text = stream.read(l_text).rstrip(b"\x00").decode("utf-8", "replace")
    return _Header(text)


def iter_bcf_records(stream, hdr: _Header) -> Iterator[dict]:
    while True:
        lens = stream.read(8)
        if len(lens) < 8:
            return
        l_shared, l_indiv = struct.unpack("<II", lens)
        body = stream.read(l_shared + l_indiv)
        if len(body) < l_shared + l_indiv:
            return
        yield decode_record(lens + body, hdr)


class BcfSource(VcfSource):
    """BCF listing table; schema and options identical to VCF. Region scans
    prune via the sibling .csi index driver-side (SURVEY.md §4.1)."""

    NAME = "bcf"
    EXTENSIONS = ("bcf",)

    @classmethod
    def read_arrow_partition(cls, partition, options: dict, schema):
        # VcfSource's vectorized path parses TEXT (pyarrow.csv over bgzf
        # chunk ranges); BCF records are binary — always use the BCF2
        # decoder in parse_partition
        return None

    def base_schema(self) -> str:
        parse_info = str(self.options.get("parse_info", "")).lower() in ("true", "1")
        parse_formats = str(self.options.get("parse_formats", "")).lower() in (
            "true",
            "1",
        )
        if not parse_info and not parse_formats:
            return self.BASE_SCHEMA
        # header-driven struct schemas from the FIRST file's binary header
        # (first-file-wins rule, vcf/table_provider.rs:205)
        from exon_spark.sources.vcf import (
            formats_struct_ddl,
            parse_format_fields,
            parse_info_fields,
        )

        with gzip.open(self._files()[0].path, "rb") as gz:
            headers = read_bcf_header(gz).lines
        schema = self.BASE_SCHEMA
        if parse_info:
            struct_ddl = ", ".join(
                f"`{name}` {'array<' + typ + '>' if is_list else typ}"
                for name, typ, is_list in parse_info_fields(headers)
            )
            if struct_ddl:
                schema = schema.replace("info string", f"info struct<{struct_ddl}>")
        if parse_formats:
            ddl = formats_struct_ddl(parse_format_fields(headers))
            schema = schema.replace("formats string", f"formats {ddl}")
        return schema

    @classmethod
    def plan_partitions(cls, f, options: dict) -> list[FilePartition]:
        pv = tuple(sorted(f.partition_values.items()))
        regions = options.get("regions") or options.get("region")
        if not regions:
            return [FilePartition(f.path, "bgzf", pv)]
        from exon_spark.functions.region import expand_regions

        csi_path = f.path + ".csi"
        if not fs_exists(csi_path):
            regions = tuple(expand_regions(regions))
            return [FilePartition(f.path, "bgzf", pv, extra=("filter", regions, ()))]
        from exon_spark.sources.indexes import (
            adaptive_target_bytes,
            chunk_groups,
            csi_chunks,
            read_csi,
        )

        # ref ids come from the BCF header's contig dictionary
        with gzip.GzipFile(fileobj=fs_open(f.path)) as gz:
            hdr = read_bcf_header(gz)
        index = read_csi(csi_path)
        per_region = []
        for region in expand_regions(regions):
            name, lo, hi = parse_region(region)
            if name not in hdr.contigs:
                continue
            rid = hdr.contigs.index(name)
            chunks = csi_chunks(index, rid, lo, hi)
            if chunks:
                per_region.append((region, chunks, list(index.loffsets[rid].values())))
        total = sum(
            (ce >> 16) - (cb >> 16) for _, chunks, _cuts in per_region for cb, ce in chunks
        )
        par = int(options.get("target_parallelism", 0) or 0)
        parts = [
            FilePartition(f.path, "bgzf", pv, extra=("csi", region, tuple(group)))
            for region, group in chunk_groups(
                per_region, adaptive_target_bytes(total, par)
            )
        ]
        return parts or [FilePartition(f.path, "bgzf", pv, extra=("empty",))]

    @classmethod
    def parse_partition(cls, partition: FilePartition, options: dict) -> Iterator[dict]:
        parse_info = str(options.get("parse_info", "")).lower() in ("true", "1")
        parse_formats = str(options.get("parse_formats", "")).lower() in ("true", "1")
        info_fields = format_fields = None
        if parse_info or parse_formats:
            from exon_spark.sources.vcf import parse_format_fields, parse_info_fields

            with gzip.GzipFile(fileobj=fs_open(partition.path)) as gz:
                headers = read_bcf_header(gz).lines
            if parse_info:
                info_fields = parse_info_fields(headers)
            if parse_formats:
                format_fields = parse_format_fields(headers)

        def records() -> Iterator[dict]:
            if partition.extra and partition.extra[0] == "empty":
                return
            if partition.extra and partition.extra[0] == "csi":
                _, region, chunks = partition.extra
                name, lo, hi = parse_region(region)
                from exon_spark.sources.bgzf import BGZFReader

                with gzip.GzipFile(fileobj=fs_open(partition.path)) as gz:
                    hdr = read_bcf_header(gz)
                with BGZFReader(partition.path) as bg:
                    for cb, ce in chunks:
                        stream = bg.stream_from(cb)
                        while stream.tell_virtual() < ce:
                            lens = stream.read(8)
                            if len(lens) < 8:
                                break
                            l_shared, l_indiv = struct.unpack("<II", lens)
                            body = stream.read(l_shared + l_indiv)
                            if len(body) < l_shared + l_indiv:
                                break
                            rec = decode_record(lens + body, hdr)
                            # residual predicate — chunks are supersets
                            if rec["chrom"] == name and lo <= rec["pos"] <= hi:
                                yield rec
                return
            region_filters = None
            if partition.extra and partition.extra[0] == "filter":
                region_filters = [parse_region(r) for r in partition.extra[1]]
            with gzip.GzipFile(fileobj=fs_open(partition.path)) as gz:
                hdr = read_bcf_header(gz)
                for rec in iter_bcf_records(gz, hdr):
                    if region_filters is not None and not any(
                        rec["chrom"] == n and lo <= rec["pos"] <= hi
                        for n, lo, hi in region_filters
                    ):
                        continue
                    yield rec

        if not parse_info and not parse_formats:
            yield from records()
            return
        from exon_spark.sources.vcf import _convert_info_value, convert_formats_text

        for rec in records():
            if parse_info:
                raw_info = rec["info"]
                kv: dict[str, str | None] = {}
                if raw_info:
                    for item in raw_info.split(";"):
                        k, eq, v = item.partition("=")
                        kv[k] = v if eq else None
                rec["info"] = {
                    name: _convert_info_value(kv.get(name), typ, is_list)
                    if name in kv
                    else None
                    for name, typ, is_list in (info_fields or [])
                }
            if parse_formats:
                rec["formats"] = convert_formats_text(
                    rec["formats"], format_fields or []
                )
            yield rec


def vcf_to_bcf(vcf_path: str, bcf_path: str) -> str:
    """Minimal text-VCF -> BCF2.2 converter for tests (mirrors sam_to_bam).
    Writes all INFO values as char strings (valid per spec; decoders
    re-render them identically to the source text)."""
    from exon_spark.sources.bgzf import BGZFWriter
    from exon_spark.sources.util import open_maybe_compressed

    headers: list[str] = []
    rows: list[str] = []
    with open_maybe_compressed(vcf_path, None) as fh:
        for raw in fh:
            line = raw.decode("utf-8", "replace").rstrip("\n")
            if line.startswith("#"):
                headers.append(line)
            elif line:
                rows.append(line)

    # dictionaries: contigs in order seen; strings PASS-first
    contigs: list[str] = []
    strings: list[str] = ["PASS"]
    for h in headers:
        m = re.match(r"##(contig|FILTER|INFO|FORMAT)=<ID=([^,>]+)", h)
        if not m:
            continue
        if m.group(1) == "contig":
            if m.group(2) not in contigs:
                contigs.append(m.group(2))
        elif m.group(2) not in strings:
            strings.append(m.group(2))
    undeclared: list[tuple[str, str]] = []  # (kind, id) needing header lines
    for line in rows:
        f = line.split("\t")
        if f[0] not in contigs:
            contigs.append(f[0])
        if len(f) > 6 and f[6] not in (".", ""):
            for flt in f[6].split(";"):
                if flt not in strings:
                    strings.append(flt)
                    undeclared.append(("FILTER", flt))
        if len(f) > 7 and f[7] not in (".", ""):
            for item in f[7].split(";"):
                k = item.partition("=")[0]
                if k not in strings:
                    strings.append(k)
                    undeclared.append(("INFO", k))

    # ensure every contig/string referenced is declared in the header text
    out_headers = [h for h in headers if not h.startswith("#CHROM")]
    declared = {
        m.group(1)
        for h in out_headers
        for m in [re.match(r"##contig=<ID=([^,>]+)", h)]
        if m
    }
    insert_at = 1 if out_headers and out_headers[0].startswith("##fileformat") else 0
    for c in contigs:
        if c not in declared:
            out_headers.insert(insert_at, f"##contig=<ID={c}>")
            insert_at += 1  # preserve contig dictionary order
    if not any("##FILTER=<ID=PASS" in h for h in out_headers):
        out_headers.insert(insert_at, '##FILTER=<ID=PASS,Description="ok">')
    for kind, name in undeclared:
        if kind == "FILTER":
            out_headers.append(f'##FILTER=<ID={name},Description="x">')
        else:
            out_headers.append(f'##INFO=<ID={name},Number=.,Type=String,Description="x">')
    chrom_line = next((h for h in headers if h.startswith("#CHROM")), "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    text = "\n".join([*out_headers, chrom_line]) + "\n\x00"

    def typed_str(s: str) -> bytes:
        b = s.encode()
        if len(b) >= 15:
            return bytes([0xF7]) + typed_int_scalar(len(b)) + b
        return bytes([(len(b) << 4) | 7]) + b

    def typed_int_scalar(v: int) -> bytes:
        if -120 <= v <= 127:
            return struct.pack("<Bb", 0x11, v)
        if -32000 <= v <= 32767:
            return struct.pack("<Bh", 0x12, v)
        return struct.pack("<Bi", 0x13, v)

    def typed_int_vec(vals: list[int]) -> bytes:
        n = len(vals)
        lo, hi2 = min(vals), max(vals)
        if -120 <= lo and hi2 <= 127:
            t, fmtc = 1, "b"
        elif -32000 <= lo and hi2 <= 32767:
            t, fmtc = 2, "h"
        else:
            t, fmtc = 3, "i"
        if n >= 15:
            head = bytes([0xF0 | t]) + typed_int_scalar(n)
        else:
            head = bytes([(n << 4) | t])
        return head + struct.pack(f"<{n}{fmtc}", *vals)

    with BGZFWriter(bcf_path) as out:
        out.write(b"BCF\x02\x02")
        out.write(struct.pack("<I", len(text)))
        out.write(text.encode())
        for line in rows:
            f = line.split("\t")
            rid = contigs.index(f[0])
            pos0 = int(f[1]) - 1
            ref = f[3]
            alts = [] if f[4] in (".", "") else f[4].split(",")
            alleles = [ref, *alts]
            shared = struct.pack("<iii", rid, pos0, len(ref))
            if f[5] in (".", ""):
                shared += struct.pack("<I", _FLOAT_MISSING)
            else:
                shared += struct.pack("<f", float(f[5]))
            info_items: list[tuple[str, str | None]] = []
            if f[7] not in (".", ""):
                for item in f[7].split(";"):
                    k, eq, v = item.partition("=")
                    info_items.append((k, v if eq else None))
            shared += struct.pack("<I", (len(info_items) & 0xFFFF) | (len(alleles) << 16))
            n_sample = max(len(f) - 9, 0)
            shared += struct.pack("<I", n_sample & 0xFFFFFF)  # n_fmt=0
            shared += typed_str("" if f[2] in (".", "") else f[2])
            for a in alleles:
                shared += typed_str(a)
            if f[6] in (".", ""):
                shared += b"\x00"
            else:
                shared += typed_int_vec([strings.index(x) for x in f[6].split(";")])
            for k, v in info_items:
                shared += typed_int_vec([strings.index(k)])
                shared += b"\x00" if v is None else typed_str(v)
            out.write(struct.pack("<II", len(shared), 0))
            out.write(shared)
    return bcf_path
