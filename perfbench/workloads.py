"""The benchmark's workloads: the ops each one issues, in a fixed cyclic
order, and the check each op's output must pass.

An op is what a user issues and waits for: one SQL statement through
``ExonSession.sql`` (region lookups, COPY), one format scan through
``exon_spark.sources.read_format``, or one curation query spec whose
result is collected to the driver. Its ``run`` is timed; its ``check`` is
not.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable

import fixtures

# Only q51 fits the time a run is given. Measured on 4 cores at 3-5k docs,
# per op warm (in a session's first pass): q36_quality_signals 8 s (22 s),
# q42_unigram_logppl 7 s (8 s), q19_dedup_minhash_lsh 4 s (8 s),
# q21_similarity_cosine_topk 4 s (7 s, plus 5 s for its DuckDB oracle).
CURATE_QUERIES = ("q51_line_dedup",)


@dataclass
class Op:
    name: str
    run: Callable[["Ctx"], Any]
    check: Callable[["Ctx", Any], bool]
    in_bytes: int = 0


@dataclass
class Ctx:
    """What an op needs at run time. ``tracer`` is set only while the op
    is traced."""

    x: Any  # ExonSession
    manifest: dict
    work: str
    truth: dict = field(default_factory=dict)
    tracer: Any = None

    @property
    def spark(self):
        return self.x.spark

    def span(self, name: str):
        if self.tracer is None or self.tracer.op_id is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def read_format(spark, fmt, path, **options):
    # resolved at call time so the traced run's wrapper sees every call
    import exon_spark.sources as sources

    return sources.read_format(spark, fmt, path, **options)


# ----------------------------------------------------------- region lookup


class RegionLookup:
    """Random 1 kb-100 kb regions over the indexed VCF and BAM, issued as
    SQL through ``ExonSession.sql`` in three spellings."""

    kinds = ("vcf_filter", "vcf_raw", "bam_filter")

    def __init__(self, manifest: dict, seed: int):
        self.manifest = manifest
        self.rng = random.Random(seed)
        self.vpos = fixtures.positions(manifest["vcf"])
        self.bpos = fixtures.positions(manifest["bam"])

    def register(self, x) -> None:
        m = self.manifest
        x.sql(f"CREATE EXTERNAL TABLE ivcf STORED AS INDEXED_VCF LOCATION '{m['vcf']['path']}'")
        x.sql(f"CREATE EXTERNAL TABLE ibam STORED AS INDEXED_BAM LOCATION '{m['bam']['path']}'")

    def warmup(self, ctx: Ctx) -> None:
        op = self._op("vcf_raw", "chr2", 1, 10_000)
        if not op.check(ctx, op.run(ctx)):
            raise RuntimeError("warm-up lookup returned a wrong result")

    def prepare(self, ctx: Ctx) -> None:
        """One BAM lookup, so that the measured ones are warm: the first
        BAM read of a session starts its Python workers, which takes
        seconds."""
        op = self._op("bam_filter", "chr2", 1, 10_000)
        if not op.check(ctx, op.run(ctx)):
            raise RuntimeError("warm-up BAM lookup returned a wrong result")

    def _region(self) -> tuple[str, int, int]:
        from exon_spark.queries.fixtures_xl import CHROMS, CHROM_LEN

        chrom = self.rng.choices([c for c, _ in CHROMS], [w for _, w in CHROMS])[0]
        size = int(math.exp(self.rng.uniform(math.log(1_000), math.log(100_000))))
        lo = self.rng.randint(1, CHROM_LEN - size)
        return chrom, lo, lo + size - 1

    def _op(self, kind: str, chrom: str, lo: int, hi: int) -> Op:
        if kind == "bam_filter":
            sql = (f"SELECT name, start FROM ibam WHERE "
                   f"bam_region_filter('{chrom}:{lo}-{hi}', reference, start, end)")
            p = self.bpos[chrom]
            # 100-base reads: [pos, pos + 99] overlaps [lo, hi]
            want = sorted(p[(p <= hi) & (p + 99 >= lo)].tolist())
            key = "start"
        else:
            where = (f"vcf_region_filter('{chrom}:{lo}-{hi}', chrom, pos)"
                     if kind == "vcf_filter"
                     else f"chrom = '{chrom}' AND pos BETWEEN {lo} AND {hi}")
            sql = f"SELECT chrom, pos FROM ivcf WHERE {where}"
            p = self.vpos[chrom]
            want = p[(p >= lo) & (p <= hi)].tolist()
            key = "pos"

        def run(ctx: Ctx):
            df = ctx.x.sql(sql)
            with ctx.span("action"):
                return df.collect()

        def check(ctx: Ctx, rows) -> bool:
            return sorted(r[key] for r in rows) == want

        return Op(kind, run, check)

    def next_pass(self) -> list[Op]:
        return [self._op(k, *self._region()) for k in self.kinds]


# -------------------------------------------------------------------- batch


def _hash_expr(cols: list[str]) -> str:
    """Order-independent (count, hash) of a row set: sum of per-row
    xxhash64 as an exact decimal."""
    return (f"count(*) AS n, sum(cast(xxhash64({', '.join(cols)}) AS decimal(38,0))) AS h")


def _norm(df) -> str:
    """Order-insensitive digest of a pandas frame: columns by name, floats
    tagged and rounded to 6 places (so an integer column never equals a
    float one), rows sorted."""
    import hashlib

    def val(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else ("f", round(v, 6))
        if isinstance(v, (list, tuple)):
            return tuple(val(x) for x in v)
        if hasattr(v, "tolist"):
            return val(v.tolist())
        if isinstance(v, dict):
            return tuple(sorted((k, val(x)) for k, x in v.items()))
        return v

    df = df[sorted(df.columns)]
    rows = sorted(repr(tuple(val(v) for v in r)) for r in df.itertuples(index=False, name=None))
    return f"{len(rows)}:{'|'.join(df.columns)}:" + hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Batch:
    """Format scans (decode-bound), FASTA/FASTQ COPY (the sinks) and the
    curation chain over parquet (operators and shuffle), one of each per
    pass."""

    def __init__(self, manifest: dict, seed: int):
        self.manifest = manifest

    def register(self, x) -> None:
        m = self.manifest
        x.sql(f"CREATE EXTERNAL TABLE fa STORED AS FASTA LOCATION '{m['fasta']['plain']}'")
        # the FASTQ export reads one chromosome, pruned through the .bai
        x.register_exon_table("bm", m["bam"]["path"], "bam", regions="chr17")

    def warmup(self, ctx: Ctx) -> None:
        n = read_format(ctx.spark, "mzml", self.manifest["mzml"]["path"], columns="id").count()
        if n != self.manifest["mzml"]["rows"]:
            raise RuntimeError("warm-up scan returned a wrong count")

    _COPY_SRC = {
        "copy_fasta_gz": (
            "SELECT id, description, sequence FROM fa WHERE sequence LIKE 'M%'",
            "FASTA", "fasta", ["id", "sequence"],
        ),
        "copy_fastq_gz": (
            "SELECT name, NULL AS description, sequence, "
            "quality_scores_to_string(quality_score) AS quality_scores FROM bm",
            "FASTQ", "fastq", ["name", "sequence", "quality_scores"],
        ),
    }

    def prepare(self, ctx: Ctx) -> None:
        """Truth that costs a query: the COPY sources' (count, hash), and
        each curation spec's DuckDB oracle digest."""
        for name, (src, _, _, cols) in self._COPY_SRC.items():
            r = ctx.spark.sql(f"SELECT {_hash_expr(cols)} FROM ({src})").collect()[0]
            ctx.truth[name] = (r.n, r.h)
        import duckdb

        from exon_spark.queries import ALL_QUERIES

        d = self.manifest["docs"]["dir"]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
            for q in CURATE_QUERIES:
                ctx.truth[q] = _norm(con.execute(ALL_QUERIES[q].oracle).df())
        finally:
            con.close()

    def _scans(self) -> list[Op]:
        m = self.manifest
        fa, vcf, bam, mz = m["fasta"], m["vcf"], m["bam"], m["mzml"]

        def meth(path):
            def run(ctx):
                import pyspark.sql.functions as F

                df = read_format(ctx.spark, "fasta", path)
                df = df.filter(F.col("sequence").startswith("M") | F.col("sequence").startswith("m"))
                with ctx.span("action"):
                    return df.count()
            return run

        def scan(fmt, path, **opts):
            def run(ctx):
                df = read_format(ctx.spark, fmt, path, **opts)
                with ctx.span("action"):
                    return df.count()
            return run

        def eq(n):
            return lambda ctx, got: got == n

        return [
            Op("fasta_plain", meth(fa["plain"]), eq(fa["m_start"]), fa["bytes_plain"]),
            Op("fasta_gzip", meth(fa["gzip"]), eq(fa["m_start"]), fa["bytes_gzip"]),
            Op("fasta_zstd", meth(fa["zstd"]), eq(fa["m_start"]), fa["bytes_zstd"]),
            Op("vcf_chr1",
               scan("vcf", vcf["path"], regions="chr1", columns="chrom,pos,id"),
               eq(vcf["per_chrom"]["chr1"]), vcf["bytes"]),
            Op("bam_full", scan("bam", bam["path"], columns="flag"),
               eq(bam["rows"]), bam["bytes"]),
            Op("mzml", scan("mzml", mz["path"], columns="id"), eq(mz["rows"]), mz["bytes"]),
        ]

    def _copies(self) -> list[Op]:
        m = self.manifest
        in_bytes = {"copy_fasta_gz": m["fasta"]["bytes_plain"], "copy_fastq_gz": m["bam"]["bytes"]}
        ops = []
        for name, (src, stored, reader, cols) in self._COPY_SRC.items():
            def run(ctx, name=name, src=src, stored=stored):
                out = os.path.join(ctx.work, f"{name}.{stored.lower()}.gz")
                rows = ctx.x.sql(
                    f"COPY ({src}) TO '{out}' STORED AS {stored} OPTIONS (compression 'gzip')"
                ).collect()
                return rows[0]["count"], out

            def check(ctx, res, name=name, reader=reader, cols=cols):
                n, out = res
                df = read_format(ctx.spark, reader, out)
                df.createOrReplaceTempView("_perfbench_readback")
                r = ctx.spark.sql(f"SELECT {_hash_expr(cols)} FROM _perfbench_readback").collect()[0]
                return n == ctx.truth[name][0] and (r.n, r.h) == ctx.truth[name]

            ops.append(Op(name, run, check, in_bytes[name]))
        return ops

    def _curate(self) -> list[Op]:
        from exon_spark.queries import ALL_QUERIES

        d = self.manifest["docs"]
        ops = []
        for q in CURATE_QUERIES:
            spec = ALL_QUERIES[q]
            in_bytes = d["bytes"]

            def run(ctx, spec=spec):
                with ctx.span("operators"):
                    df = spec.spark_fn(ctx.spark, d["dir"])
                with ctx.span("action"):
                    return df.toPandas()

            def check(ctx, res, q=q):
                return _norm(res) == ctx.truth[q]

            ops.append(Op(q, run, check, in_bytes))
        return ops

    def next_pass(self) -> list[Op]:
        return self._scans() + self._copies() + self._curate()


WORKLOADS = {"region_lookup": RegionLookup, "batch": Batch}
