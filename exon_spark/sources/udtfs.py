"""Table-valued scan functions — the SQL surface
``SELECT * FROM fasta_scan('/path')`` etc.

Parity: the reference registers 17 scan UDTFs (exon_context_ext.rs:216-258;
arg parsing datasources/scan_function.rs:32-64): fasta_scan,
fasta_indexed_scan, fastq_scan, gff_scan, gff_indexed_scan, gtf_scan,
bed_scan, hmm_dom_tab_scan, genbank_scan, fcs_scan, mzml_scan, bam_scan,
bam_indexed_scan, sam_scan, vcf_scan, vcf_indexed_scan, bcf_scan.

Spark 4 Python UDTFs can't open a SparkSession inside the UDTF worker, so
each scan UDTF re-uses the DataSource parse path directly (same code the
readers run in executors) — ``*_scan(path [, compression])`` and
``*_indexed_scan(path, region)`` stream records straight from the files.
The partition-parallel path is the reader (``spark.read.format``); the UDTF
surface targets SQL ergonomics like the reference's.

Serialization note: UDTF classes are cloudpickled into the analyze/eval
workers, which do NOT inherit the driver's ``sys.path`` (only PYTHONPATH
reaches them). So the classes below capture only plain strings in their closures and import
exon_spark lazily inside each method after a sys.path bootstrap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

# import root shipped to workers as a plain string
_PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _source_cls_for(fmt: str):
    from exon_spark.sources import source_class

    cls = source_class(fmt)
    if cls is None:
        raise ValueError(f"unknown format {fmt}")
    return cls


def _scan_rows(source_cls, path: str, options: dict):
    """Plan + parse all partitions of a source locally (inside the UDTF)."""
    src = source_cls(options={**options, "path": path})
    files = src._files()
    for f in files:
        for part in source_cls.plan_partitions(f, options):
            for rec in source_cls.parse_partition(part, options):
                rec.update(dict(part.partition_values))
                yield rec


def _ddl_field_names(ddl: str) -> list[str]:
    """Top-level field names from a DDL string (commas inside <...> are
    nested types, not field separators)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            field = ddl[start:i].strip()
            if field:
                names.append(field.split()[0].strip("`"))
            start = i + 1
    return names


def _make_bootstrap(pkg_parent: str):
    """Return a closure (pickled by value — only string captures) that makes
    exon_spark importable inside analyze/eval workers."""

    def _bootstrap():
        try:
            import exon_spark  # noqa: F401
        except ImportError:
            import importlib
            import sys

            if os.path.exists(pkg_parent) and pkg_parent not in sys.path:
                sys.path.insert(0, pkg_parent)
            importlib.invalidate_caches()
            import exon_spark  # noqa: F401

    return _bootstrap


def _make_scan_udtf(fmt: str, indexed: bool):
    """Build a UDTF class for one format. Uses analyze() for the dynamic
    schema (depends on path: partition columns, header-inferred fields)."""
    bootstrap = _make_bootstrap(_PKG_PARENT)

    class ScanUDTF:
        @staticmethod
        def analyze(path, *args):
            bootstrap()
            from pyspark.sql.functions import AnalyzeResult

            from exon_spark.sources.base import parse_ddl
            from exon_spark.sources.udtfs import _source_cls_for

            options = {}
            for a in args:
                v = a.value
                if isinstance(v, str) and "=" in v:
                    k, _, val = v.partition("=")
                    options[k] = val
                elif indexed and "regions" not in options:
                    pass  # region arg does not change the schema
                else:
                    options["compression"] = v
            cls = _source_cls_for(fmt)
            ddl = cls(options={**options, "path": path.value}).schema()
            return AnalyzeResult(schema=parse_ddl(ddl))

        def eval(self, path, *args):
            bootstrap()
            from exon_spark.sources.udtfs import (
                _ddl_field_names,
                _scan_rows,
                _source_cls_for,
            )

            options = {}
            positional = []
            for a in args:
                if isinstance(a, str) and "=" in a and not indexed:
                    k, _, val = a.partition("=")
                    options[k] = val
                else:
                    positional.append(a)
            if indexed:
                if not positional:
                    raise ValueError(f"{fmt}_indexed_scan(path, region) needs a region")
                options["regions"] = positional[0]
            elif positional:
                options["compression"] = positional[0]
            cls = _source_cls_for(fmt)
            src = cls(options={**options, "path": path})
            schema_cols = _ddl_field_names(src.schema())
            for rec in _scan_rows(cls, path, options):
                yield tuple(rec.get(c) for c in schema_cols)

    ScanUDTF.__name__ = f"{fmt}_indexed_scan" if indexed else f"{fmt}_scan"
    return udtf(ScanUDTF)


# tabular formats go through the csv-based readers, so their UDTFs parse
# inline here with a fixed schema
_TABULAR_SCHEMAS = {
    "gff": (
        "seqname string, source string, type string, start bigint, "
        "end bigint, score float, strand string, phase string, "
        "attributes map<string,array<string>>"
    ),
    "gtf": (
        "seqname string, source string, type string, start bigint, "
        "end bigint, score float, strand string, frame string, "
        "attributes map<string,string>"
    ),
    "bed": (
        "reference_sequence_name string, start bigint, end bigint, "
        "name string, score bigint, strand string, thick_start bigint, "
        "thick_end bigint, color string, block_count bigint, "
        "block_sizes string, block_starts string"
    ),
    "hmm_dom_tab": (
        "target_name string, target_accession string, tlen bigint, "
        "query_name string, accession string, qlen bigint, evalue double, "
        "sequence_score double, bias double, domain_number bigint, "
        "ndom bigint, conditional_evalue double, independent_evalue double, "
        "domain_score double, domain_bias double, hmm_from bigint, "
        "hmm_to bigint, ali_from bigint, ali_to bigint, env_from bigint, "
        "env_to bigint, accuracy double, description string"
    ),
}


def _parse_tabular_line(fmt: str, line: str):
    import re as _re

    c = line.split("\t")
    if fmt in ("gff", "gtf"):
        if len(c) < 9:
            return None
        if fmt == "gff":
            attrs = {
                kv.partition("=")[0].strip(): kv.partition("=")[2].split(",")
                for kv in c[8].split(";")
                if kv.strip()
            } or None
        else:
            attrs = {}
            for item in c[8].split(";"):
                item = item.strip()
                if not item:
                    continue
                key = item.split(" ")[0]
                m = _re.search(r'"([^"]*)"', item)
                attrs[key] = m.group(1) if m else None
            attrs = attrs or None
        return (
            c[0],
            None if c[1] == "." else c[1],
            c[2],
            int(c[3]),
            int(c[4]),
            None if c[5] == "." else float(c[5]),
            c[6],
            None if c[7] == "." else c[7],
            attrs if c[8] != "." else None,
        )
    if fmt == "bed":
        vals = list(c[:12]) + [None] * (12 - len(c))
        conv = [str, int, int, str, int, str, int, int, str, int, str, str]
        return tuple(None if v in (None, ".") else f(v) for f, v in zip(conv, vals))
    if fmt == "hmm_dom_tab":
        parts = _re.split(r"\s+", line.strip(), maxsplit=22)
        if len(parts) < 22:
            return None
        types = [str, str, int, str, str, int, float, float, float, int,
                 int, float, float, float, float, int, int, int, int,
                 int, int, float, str]
        parts = parts + [None] * (23 - len(parts))
        return tuple(None if v is None else t(v) for t, v in zip(types, parts))
    return None


def _make_tabular_udtf(fmt: str, indexed: bool = False):
    bootstrap = _make_bootstrap(_PKG_PARENT)
    schema_ddl = _TABULAR_SCHEMAS[fmt]

    class TabularScanUDTF:
        @staticmethod
        def analyze(path, *args):
            bootstrap()
            from pyspark.sql.functions import AnalyzeResult

            from exon_spark.sources.base import parse_ddl

            return AnalyzeResult(schema=parse_ddl(schema_ddl))

        def eval(self, path, *args):
            bootstrap()
            from exon_spark.functions.region import parse_region
            from exon_spark.sources.fs import fs_exists as _fs_exists
            from exon_spark.sources.udtfs import _parse_tabular_line
            from exon_spark.sources.util import list_files, text_lines

            region = region_str = None
            if indexed:
                if not args:
                    raise ValueError(f"{fmt}_indexed_scan(path, region) needs a region")
                region_str = args[0]
                region = parse_region(region_str)

            def keep(row) -> bool:
                if region is None:
                    return True
                name, lo, hi = region
                return row[0] == name and row[3] <= hi and row[4] >= lo

            for f in list_files(path):
                tbi = f.path + ".tbi"
                if (
                    region is not None
                    and f.path.lower().endswith((".gz", ".bgz"))
                    and _fs_exists(tbi)
                ):
                    # tabix-pruned byte-range scan (the reference's
                    # INDEXED_GFF path); residual predicate still applies
                    from exon_spark.sources.bgzf import BGZFReader
                    from exon_spark.sources.indexes import read_tabix, tabix_chunks

                    chunks = tabix_chunks(read_tabix(tbi), region_str)
                    if not chunks:
                        continue
                    with BGZFReader(f.path) as bg:
                        for line in bg.lines_in_chunks(chunks):
                            if not line or line.startswith("#"):
                                continue
                            row = _parse_tabular_line(fmt, line)
                            if row is not None and keep(row):
                                yield row
                    continue
                for line in text_lines(f.path):
                    if not line or line.startswith("#"):
                        continue
                    row = _parse_tabular_line(fmt, line)
                    if row is None or not keep(row):
                        continue
                    yield row

    TabularScanUDTF.__name__ = f"{fmt}_indexed_scan" if indexed else f"{fmt}_scan"
    return udtf(TabularScanUDTF)


def register_scan_udtfs(spark: SparkSession) -> None:
    """Register the full 17-function scan surface (exon_context_ext.rs:216-258)."""
    for fmt in ("fasta", "fastq", "vcf", "bcf", "sam", "bam", "sdf", "genbank",
                "mzml", "fcs"):
        spark.udtf.register(f"{fmt}_scan", _make_scan_udtf(fmt, indexed=False))
    for fmt in ("fasta", "vcf", "bam"):
        spark.udtf.register(
            f"{fmt}_indexed_scan", _make_scan_udtf(fmt, indexed=True)
        )
    for fmt in ("gff", "gtf", "bed", "hmm_dom_tab"):
        spark.udtf.register(f"{fmt}_scan", _make_tabular_udtf(fmt))
    spark.udtf.register("gff_indexed_scan", _make_tabular_udtf("gff", indexed=True))
