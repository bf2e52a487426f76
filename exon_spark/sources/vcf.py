"""VCF data source with tabix-pruned region scans.

Parity: reference ListingVCFTable
(exon/exon-core/src/datasources/vcf/table_provider.rs:286-440; flat schema
per schema_builder.rs:88-122: chrom, pos, id(list), ref, alt(list), qual,
filter(list), info, formats). ``parse_info=true`` upgrades ``info`` to a
typed struct from the header's INFO declarations (schema_builder.rs:197-266).

Region pruning (the reference's flagship optimization, SURVEY.md §4.1):
``.option("regions", "chr1:1000-2000")`` on a bgzipped+tabixed file queries
the .tbi index DRIVER-SIDE at planning time and emits one partition per
merged BGZF chunk range; executors seek virtual offsets and apply the
residual interval check per record (indexed_bgzf_file.rs:52-150 semantics).
Without an index the same option degrades to a full scan + filter —
correctness never depends on pruning.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from exon_spark.functions.region import expand_regions, parse_region
from exon_spark.sources.fs import fs_exists
from exon_spark.sources.base import FileFormatSource, FilePartition
from exon_spark.sources.util import FoundFile, detect_compression, open_maybe_compressed

_INFO_TYPE_MAP = {
    "Integer": "int",
    "Float": "float",
    "Flag": "boolean",
    "Character": "string",
    "String": "string",
}


def _strip_header(seg: bytes) -> bytes:
    """Drop the leading '#' header lines from the first slab of a stream."""
    while seg.startswith(b"#"):
        nl = seg.find(b"\n")
        if nl < 0:
            return b""
        seg = seg[nl + 1 :]
    return seg


def _parse_line(line: str) -> dict | None:
    if line.startswith("#") or not line:
        return None
    f = line.split("\t")
    if len(f) < 8:
        return None
    qual = None
    if f[5] not in (".", ""):
        try:
            qual = float(f[5])
        except ValueError:
            qual = None
    return {
        "chrom": f[0],
        "pos": int(f[1]),
        "id": None if f[2] in (".", "") else f[2].split(";"),
        "ref": f[3],
        "alt": None if f[4] in (".", "") else f[4].split(","),
        "qual": qual,
        "filter": None if f[6] in (".", "") else f[6].split(";"),
        "info": None if f[7] in (".", "") else f[7],
        "formats": "\t".join(f[8:]) if len(f) > 8 else None,
    }


def parse_info_fields(header_lines: list[str]) -> list[tuple[str, str, bool]]:
    """(name, spark_type, is_list) per ##INFO declaration, in header order
    (schema_builder.rs:197-266)."""
    out = []
    for line in header_lines:
        if not line.startswith("##INFO=<"):
            continue
        body = line[len("##INFO=<") :].rstrip(">")
        kv = {}
        for part in body.split(","):
            if "=" in part:
                k, _, v = part.partition("=")
                if k in ("ID", "Number", "Type") and k not in kv:
                    kv[k] = v
        typ = _INFO_TYPE_MAP.get(kv.get("Type", "String"), "string")
        is_list = kv.get("Number", "1") not in ("0", "1")
        out.append((kv.get("ID", "?"), typ, is_list))
    return out


def parse_format_fields(header_lines: list[str]) -> list[tuple[str, str, bool]]:
    """(name, spark_type, is_list) per ##FORMAT declaration, in header order
    (schema_builder.rs vcf_formats_to_field)."""
    out = []
    for line in header_lines:
        if not line.startswith("##FORMAT=<"):
            continue
        body = line[len("##FORMAT=<") :].rstrip(">")
        kv = {}
        for part in body.split(","):
            if "=" in part:
                k, _, v = part.partition("=")
                if k in ("ID", "Number", "Type") and k not in kv:
                    kv[k] = v
        typ = _INFO_TYPE_MAP.get(kv.get("Type", "String"), "string")
        is_list = kv.get("Number", "1") not in ("0", "1")
        out.append((kv.get("ID", "?"), typ, is_list))
    return out


def formats_struct_ddl(format_fields: list[tuple[str, str, bool]]) -> str:
    inner = ", ".join(
        f"`{name}` {'array<' + typ + '>' if is_list else typ}"
        for name, typ, is_list in format_fields
    )
    return f"array<struct<{inner}>>" if inner else "string"


def convert_formats_text(
    raw: str | None, format_fields: list[tuple[str, str, bool]]
) -> list[dict] | None:
    """Parse the raw 'FORMAT\\tS1\\tS2...' text into one typed struct per
    sample (schema_builder.rs vcf_formats_to_field semantics)."""
    if raw is None:
        return None
    cols = raw.split("\t")
    keys = cols[0].split(":") if cols[0] else []
    out = []
    for sample in cols[1:]:
        vals = dict(zip(keys, sample.split(":")))
        out.append(
            {
                # FORMAT has no Flag type, so absent/'.' is always null
                name: _convert_info_value(
                    None if vals.get(name) in (None, ".", "") else vals[name],
                    typ if typ != "boolean" else "string",
                    is_list,
                )
                for name, typ, is_list in format_fields
            }
        )
    return out


def _convert_info_value(raw: str | None, typ: str, is_list: bool):
    def conv(v: str):
        try:
            if typ == "int":
                return int(v)
            if typ == "float":
                return float(v)
        except ValueError:
            return None
        return v

    if raw is None:
        return True if typ == "boolean" else None
    if typ == "boolean":
        return True
    if is_list:
        return [conv(v) for v in raw.split(",")]
    return conv(raw)


class VcfSource(FileFormatSource):
    NAME = "vcf"
    EXTENSIONS = ("vcf",)
    REGION_FIELDS = ("chrom", "pos")
    BASE_SCHEMA = (
        "chrom string, pos bigint, id array<string>, ref string, "
        "alt array<string>, qual float, filter array<string>, "
        "info string, formats string"
    )

    def base_schema(self) -> str:
        parse_info = str(self.options.get("parse_info", "")).lower() in ("true", "1")
        parse_formats = str(self.options.get("parse_formats", "")).lower() in (
            "true",
            "1",
        )
        if not parse_info and not parse_formats:
            return self.BASE_SCHEMA
        # header-driven struct schemas: read the FIRST file's header
        # (reference's first-file-wins rule, vcf/table_provider.rs:205)
        first = self._files()[0]
        headers = []
        with open_maybe_compressed(
            first.path, self.options.get("compression")
        ) as fh:
            for raw in fh:
                line = raw.decode("utf-8", "replace").rstrip("\n")
                if not line.startswith("#"):
                    break
                headers.append(line)
        schema = self.BASE_SCHEMA
        if parse_info:
            info_fields = parse_info_fields(headers)
            struct = ", ".join(
                f"`{name}` {'array<' + typ + '>' if is_list else typ}"
                for name, typ, is_list in info_fields
            )
            if struct:
                schema = schema.replace("info string", f"info struct<{struct}>")
        if parse_formats:
            ddl = formats_struct_ddl(parse_format_fields(headers))
            schema = schema.replace("formats string", f"formats {ddl}")
        return schema

    @classmethod
    def plan_partitions(cls, f: FoundFile, options: dict) -> list[FilePartition]:
        comp = detect_compression(f.path, options.get("compression"))
        pv = tuple(sorted(f.partition_values.items()))
        regions = options.get("regions") or options.get("region")
        if not regions and str(options.get("indexed", "")).lower() in ("true", "1"):
            # INDEXED_VCF requires a region (table_provider.rs:365-370)
            raise ValueError(
                "INDEXED_VCF scan requires a region filter — add "
                ".option('regions', 'chr:lo-hi') or WHERE "
                "vcf_region_filter('chr:lo-hi', chrom, pos)"
            )
        if regions:
            region_list = expand_regions(regions)
            tbi = f.path + ".tbi"
            csi = f.path + ".csi"
            if comp == "gzip" and (fs_exists(tbi) or fs_exists(csi)):
                from exon_spark.sources.indexes import (
                    adaptive_target_bytes,
                    chunk_groups,
                    csi_chunks,
                    read_csi,
                    read_tabix,
                    tabix_chunks,
                )

                per_region = []
                if fs_exists(tbi):
                    index = read_tabix(tbi)
                    for region in region_list:
                        chunks = tabix_chunks(index, region)
                        if chunks:
                            name = parse_region(region)[0]
                            lin = index.linear[index.names.index(name)]
                            per_region.append((region, chunks, lin))
                else:
                    # htslib `tabix --csi` fallback: names ride in the
                    # index's tabix-style aux payload
                    cindex = read_csi(csi)
                    for region in region_list:
                        name, lo, hi = parse_region(region)
                        if name not in cindex.names:
                            continue
                        rid = cindex.names.index(name)
                        chunks = csi_chunks(cindex, rid, lo, hi)
                        if chunks:
                            per_region.append(
                                (region, chunks, list(cindex.loffsets[rid].values()))
                            )
                par = int(options.get("target_parallelism", 0) or 0)
                total = sum(
                    (ce >> 16) - (cb >> 16)
                    for _, chunks, _lin in per_region
                    for cb, ce in chunks
                )
                # fan a big region out across executors: ~2 groups per core
                # for bench-sized scans, 8 MB cap at cluster scale
                parts = [
                    FilePartition(f.path, comp, pv, extra=("tabix", region, tuple(group)))
                    for region, group in chunk_groups(
                        per_region, adaptive_target_bytes(total, par)
                    )
                ]
                # Spark needs >=1 partition; yield-nothing stub
                return parts or [FilePartition(f.path, comp, pv, extra=("empty",))]
            # no index: full scan with residual filter per region set
            return [
                FilePartition(f.path, comp, pv, extra=("filter", tuple(region_list), ()))
            ]
        tbi = f.path + ".tbi"
        if comp == "gzip" and fs_exists(tbi):
            # full scan, but the tabix linear index provides record-aligned
            # virtual offsets — split the bgzf stream so one multi-GB VCF
            # fans out across executors (same trick as the BAM full scan;
            # without an index a gzip stream is one partition per file)
            from exon_spark.sources.indexes import (
                adaptive_target_bytes,
                full_scan_ranges,
                read_tabix,
            )

            index = read_tabix(tbi)
            par = int(options.get("target_parallelism", 0) or 0)
            target = adaptive_target_bytes(
                f.size, par, floor=1 << 20, ceil=16 << 20
            )
            bounds = full_scan_ranges(index.linear, target)
            if bounds:
                return [
                    FilePartition(f.path, comp, pv, extra=("range", s, e))
                    for s, e in bounds
                ]
        return [FilePartition(f.path, comp, pv)]

    @classmethod
    def read_arrow_partition(cls, partition: FilePartition, options: dict, schema):
        """Vectorized scan for index-pruned partitions: decompress the BGZF
        chunk byte ranges (zlib, C speed), split all lines at once and
        derive the typed columns with Arrow compute kernels — no per-row
        Python. ~10x faster than the per-record path; used
        whenever the flat schema is in play (no header-driven structs).
        Returns None to fall back to the generic reader."""
        parse_info = str(options.get("parse_info", "")).lower() in ("true", "1")
        parse_formats = str(options.get("parse_formats", "")).lower() in ("true", "1")
        if parse_info or parse_formats:
            return None
        if partition.extra and partition.extra[0] not in (
            "tabix",
            "empty",
            "range",
            "filter",
        ):
            return None

        # schema-driven projection: `schema` is already narrowed by the
        # `columns` option (FileScanConfig-projection analogue, base.py
        # schema()) — parse and build only the requested fields. The
        # reference's flagship VCF benchmark selects (chrom, pos, id)
        # (exon-benchmarks/src/main.rs:153); without pruning the scan pays
        # for 9 columns of Arrow build + JVM row conversion regardless.
        _SRC = {  # field -> VCF column index
            f: i
            for i, f in enumerate(
                ("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info")
            )
        }

        def raw_segments():
            """Yield contiguous slabs of whole data lines (headers
            stripped), per the partition's scan mode."""
            from exon_spark.sources.bgzf import BGZFReader

            extra = partition.extra
            if extra and extra[0] == "empty":
                return
            if extra and extra[0] == "tabix":
                _, _region, chunks = extra
                with BGZFReader(partition.path) as bg:
                    # tabix chunks are record-aligned: whole data lines
                    yield b"".join(bg.read_range(cb, ce) for cb, ce in chunks)
                return
            if extra and extra[0] == "range":
                _, s, e = extra
                if e is None:
                    import os as _os

                    e = _os.path.getsize(partition.path) << 16
                with BGZFReader(partition.path) as bg:
                    yield bg.read_range(s, e)
                return
            # single-stream full scan (no index): decompress sequentially,
            # cut ~32 MB segments at line boundaries, drop the header prefix
            with open_maybe_compressed(
                partition.path, partition.compression
            ) as fh:
                carry = b""
                first = True
                while True:
                    chunk = fh.read(32 << 20)
                    if not chunk:
                        if carry:
                            yield carry if not first else _strip_header(carry)
                        return
                    carry += chunk
                    nl = carry.rfind(b"\n")
                    if nl < 0:
                        continue
                    seg, carry = carry[: nl + 1], carry[nl + 1 :]
                    if first:
                        seg = _strip_header(seg)
                        first = False
                    if seg:
                        yield seg

        region = None
        if partition.extra and partition.extra[0] == "tabix":
            region = [parse_region(partition.extra[1])]
        elif partition.extra and partition.extra[0] == "filter":
            # unindexed region scan: full stream + vectorized residual
            # OR-of-regions predicate (was the per-row Python path)
            region = [parse_region(r) for r in partition.extra[1]]

        def batches():
            import pyarrow as pa
            import pyarrow.compute as pc

            need_fields = list(schema.names)
            need = {_SRC[f] for f in need_fields if f in _SRC}
            if region is not None:
                need.update((0, 1))  # residual predicate
            for raw in raw_segments():
                if not raw:
                    continue
                # one string per data line; records may carry different
                # column counts (with and without FORMAT+samples), so the
                # fields come from a per-line split, not a fixed-width csv
                # parse. Skips what VcfBgzfSource skips: empty and '#' lines.
                lines = pc.list_flatten(
                    pc.split_pattern(pa.array([raw], pa.binary()), b"\n")
                ).cast(pa.string())
                if b"\r" in raw:
                    lines = pc.utf8_rtrim(lines, "\r")
                lines = lines.filter(
                    pc.and_(
                        pc.not_equal(lines, ""),
                        pc.invert(pc.starts_with(lines, "#")),
                    )
                )
                # eight trailing tabs: a line short of fields reads them
                # as empty, as the Java reader does
                parts = pc.split_pattern(
                    pc.binary_join_element_wise(lines, "\t" * 8, ""),
                    "\t",
                    max_splits=8,
                )
                cols = {f"c{i}": pc.list_element(parts, i) for i in sorted(need)}
                if "formats" in need_fields:
                    # the bytes after the 8th tab (the split's rest, less
                    # the padding); null below 9 fields
                    rest = pc.list_element(parts, 8)
                    cols["formats"] = pc.if_else(
                        pc.greater_equal(pc.binary_length(rest), 8),
                        pc.utf8_slice_codeunits(rest, 0, -8),
                        pa.scalar(None, pa.string()),
                    )
                if not cols:
                    cols["_n"] = pa.nulls(len(lines))
                tbl = pa.table(cols)
                pos = (
                    pc.cast(tbl["c1"], pa.int64()) if 1 in need else None
                )
                if region is not None:
                    # residual region predicate (OR over regions) — index
                    # chunks are supersets; filter scans apply it in full
                    keep = None
                    for name, lo, hi in region:
                        one = pc.and_(
                            pc.equal(tbl["c0"], name),
                            pc.and_(
                                pc.greater_equal(pos, lo),
                                pc.less_equal(pos, hi),
                            ),
                        )
                        keep = one if keep is None else pc.or_(keep, one)
                    # whole-chromosome chunks are usually 100% selective:
                    # the take behind .filter() re-gathers every string
                    # column (~40% of task time measured) — skip it when
                    # nothing is dropped
                    if pc.all(keep).as_py() is not True:
                        tbl = tbl.filter(keep)
                        pos = pc.cast(tbl["c1"], pa.int64())
                null_str = pa.scalar(None, pa.string())

                def dot_null(arr):
                    return pc.if_else(
                        pc.is_in(arr, value_set=pa.array([".", ""])),
                        null_str,
                        arr,
                    )

                def split_col(arr, sep):
                    return pc.split_pattern(dot_null(arr), sep)

                def build(fname):
                    if fname == "chrom":
                        return tbl["c0"]
                    if fname == "pos":
                        return (
                            pos
                            if pos is not None
                            else pc.cast(tbl["c1"], pa.int64())
                        )
                    if fname == "id":
                        return split_col(tbl["c2"], ";")
                    if fname == "ref":
                        return tbl["c3"]
                    if fname == "alt":
                        return split_col(tbl["c4"], ",")
                    if fname == "qual":
                        return pc.cast(dot_null(tbl["c5"]), pa.float32())
                    if fname == "filter":
                        return split_col(tbl["c6"], ";")
                    if fname == "info":
                        return dot_null(tbl["c7"])
                    if fname == "formats":
                        return tbl["formats"]
                    raise KeyError(fname)

                out = pa.table(
                    {n: build(n) for n in need_fields}
                ).cast(schema)
                for batch in out.to_batches(max_chunksize=8192):
                    yield batch

        return batches()

    @classmethod
    def parse_partition(cls, partition: FilePartition, options: dict) -> Iterator[dict]:
        parse_info = str(options.get("parse_info", "")).lower() in ("true", "1")
        parse_formats = str(options.get("parse_formats", "")).lower() in ("true", "1")
        info_fields = format_fields = None
        if parse_info or parse_formats:
            headers = []
            with open_maybe_compressed(partition.path, partition.compression) as fh:
                for raw in fh:
                    line = raw.decode("utf-8", "replace").rstrip("\n")
                    if not line.startswith("#"):
                        break
                    headers.append(line)
            if parse_info:
                info_fields = parse_info_fields(headers)
            if parse_formats:
                format_fields = parse_format_fields(headers)

        def records() -> Iterator[dict]:
            if partition.extra and partition.extra[0] == "empty":
                return
            if partition.extra and partition.extra[0] == "range":
                _, s, e = partition.extra
                from exon_spark.sources.bgzf import BGZFReader

                if e is None:
                    import os as _os

                    e = _os.path.getsize(partition.path) << 16
                with BGZFReader(partition.path) as bg:
                    for line in bg.read_range(s, e).decode(
                        "utf-8", "replace"
                    ).split("\n"):
                        rec = _parse_line(line)
                        if rec:
                            yield rec
                return
            if partition.extra and partition.extra[0] == "tabix":
                _, region, chunks = partition.extra
                name, lo, hi = parse_region(region)
                from exon_spark.sources.bgzf import BGZFReader

                with BGZFReader(partition.path) as bg:
                    for line in bg.lines_in_chunks(list(chunks)):
                        rec = _parse_line(line)
                        # residual predicate — chunks are supersets
                        if rec and rec["chrom"] == name and lo <= rec["pos"] <= hi:
                            yield rec
                return
            region_filters = None
            if partition.extra and partition.extra[0] == "filter":
                region_filters = [parse_region(r) for r in partition.extra[1]]
            with open_maybe_compressed(partition.path, partition.compression) as fh:
                for raw in fh:
                    rec = _parse_line(raw.decode("utf-8", "replace").rstrip("\n"))
                    if rec is None:
                        continue
                    if region_filters is not None and not any(
                        rec["chrom"] == n and lo <= rec["pos"] <= hi
                        for n, lo, hi in region_filters
                    ):
                        continue
                    yield rec

        if not parse_info and not parse_formats:
            yield from records()
            return
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
