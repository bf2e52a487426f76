"""JVM splittable BGZF codec (exon_spark/jvm) and the VCF region
DataSourceV2 (exonspark.spark.VcfBgzfSource).

The codec's split contract (pos lags one block; first partial line of a
non-zero split is skipped) must yield every text line exactly once for ANY
split size — exercised adversarially: tiny blocks (lines spanning many
blocks), blank lines, long lines, split sizes from 1 KB to 128 MB.
"""

import os
import random

import pyspark.sql.functions as F
import pytest

from exon_spark.sources.bgzf import BGZF_EOF, bgzf_block


@pytest.fixture(scope="module")
def adversarial_bgz(tmp_path_factory):
    random.seed(7)
    lines = []
    for i in range(20000):
        n = random.choice([0, 1, 5, 30, 200, 1500])
        lines.append(f"{i}|" + "x" * n)
    text = ("\n".join(lines) + "\n").encode()
    path = str(tmp_path_factory.mktemp("bgz") / "t.bgz")
    with open(path, "wb") as fh:
        off = 0
        while off < len(text):
            n = random.choice([37, 100, 511, 4096, 65000])
            fh.write(bgzf_block(text[off : off + n]))
            off += n
        fh.write(BGZF_EOF)
    return path, lines


@pytest.mark.parametrize("mpb", ["1000", "77777", "134217728"])
def test_codec_split_exactness(spark, adversarial_bgz, mpb):
    path, lines = adversarial_bgz
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        got = [r.value for r in spark.read.text(path).collect()]
        assert got == lines
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_codec_is_splittable(spark, adversarial_bgz):
    path, _ = adversarial_bgz
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        nparts = spark.read.text(path).rdd.getNumPartitions()
        assert nparts > 4, "BGZF file did not byte-range split"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_vcf_region_jvm_matches_python_source(spark):
    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources.jvm_fast import read_vcf_region_jvm

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    vcf = os.path.join(fx, "variants.vcf.bgz")
    for region in ("chr1", "chr17:1-2000000", "chr1:5000000-90000000"):
        py = spark.read.format("vcf").option("regions", region).load(vcf)
        jvm = read_vcf_region_jvm(spark, vcf, region)
        assert jvm.columns == py.columns
        assert jvm.schema == py.schema
        assert jvm.exceptAll(py).count() == 0
        assert py.exceptAll(jvm).count() == 0
        assert jvm.count() == py.count()


def test_vcf_region_routing(spark):
    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources.jvm_fast import _vcf_region_jvm_route

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    vcf = os.path.join(fx, "variants.vcf.bgz")
    # whole-chromosome: large index span -> JVM codec path
    assert _vcf_region_jvm_route(vcf, {"regions": "chr1"}) is not None
    # small region: also JVM (DSv2/pruned view decompress only the
    # region's blocks, so the JVM parser wins at every span)
    assert _vcf_region_jvm_route(vcf, {"regions": "chr17:1-2000000"}) is not None
    # Python-only parse options never route to the JVM path
    assert (
        _vcf_region_jvm_route(vcf, {"regions": "chr1", "parse_info": "true"})
        is None
    )


def test_vcf_dsv2_matches_python_source(spark):
    """The Java DataSourceV2 byte parser must agree with the Python
    DataSource value-for-value on every base column and region shape
    (dot-null, splits, qual float, bounded regions)."""
    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources.jvm_fast import read_vcf_region_jvm

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    vcf = os.path.join(fx, "variants.vcf.bgz")
    for region in (
        "chr1",
        "chr17:1-2000000",
        "chr1:5000000-90000000",
        # OVERLAPPING regions: the Python source scans per region with a
        # region-scoped filter, so overlap matches are emitted once per
        # matching region — the DSv2's region-bound partitions must
        # reproduce that multiset exactly
        "chr1:1-50000000,chr1:20000000-90000000",
        "chr17:1-2000000,chr17:1-2000000",  # exact duplicate
        "chr17:1-2000000,chr1:1-5000000",
    ):
        py = spark.read.format("vcf").option("regions", region).load(vcf)
        ds = read_vcf_region_jvm(spark, vcf, region)
        assert ds.schema == py.schema
        assert ds.exceptAll(py).count() == 0
        assert py.exceptAll(ds).count() == 0
        assert ds.count() == py.count()


@pytest.fixture(scope="module")
def sample_vcfs(tmp_path_factory):
    """A bgzipped, tabix-indexed VCF with FORMAT and two sample columns,
    under a .gz and a .bgz name."""
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    root = tmp_path_factory.mktemp("samples_vcf")
    rng = random.Random(21)
    lines = [
        "##fileformat=VCFv4.2",
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
    ]
    for chrom in ("1", "2"):
        for pos in sorted(rng.sample(range(1, 500_000), 400)):
            gt = rng.choice(["0/1\t1/1", "0|0:3\t./.:.", "1/1:12\t0/1:7"])
            fmt = "GT" if gt.count(":") == 0 else "GT:DP"
            lines.append(f"{chrom}\t{pos}\trs{pos}\tA\tG\t50\tPASS\tDP=9\t{fmt}\t{gt}")
    plain = root / "s.vcf"
    plain.write_text("\n".join(lines) + "\n")
    paths = []
    for name in ("s.vcf.gz", "s.vcf.bgz"):
        path = str(root / name)
        bgzip_file(str(plain), path)
        build_tabix_vcf(path)
        paths.append(path)
    return paths


@pytest.mark.parametrize(
    "region",
    [
        "1:100000-200000",
        "1:100000-300000,1:250000-400000,2:1-50000",  # overlapping
        "2:1000-90000,2:1000-90000",  # duplicate
    ],
)
def test_vcf_region_read_keeps_formats_and_samples(spark, sample_vcfs, region):
    """A region read returns the whole FORMAT + sample tail in
    ``formats``, equal row for row to the Python DataSource."""
    from exon_spark.sources import read_format

    for path in sample_vcfs:
        got = read_format(spark, "vcf", path, regions=region)
        assert "VcfBgzfScan" in got._jdf.queryExecution().executedPlan().toString()
        py = spark.read.format("vcf").option("regions", region).load(path)
        assert got.schema == py.schema
        rows = sorted(got.collect(), key=repr)
        assert rows == sorted(py.collect(), key=repr)
        assert rows and all(r.formats.startswith("GT") for r in rows)


def test_vcf_dsv2_partition_planner_exact(spark):
    """Partition boundaries are record-exact for ANY partition count: a
    deliberately over-partitioned plan (tiny target byte count) must yield
    the same multiset of rows as a single-partition plan — no record lost
    or duplicated at a cut point."""
    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources.base import FilePartition
    from exon_spark.sources.indexes import chunk_groups, read_tabix, tabix_chunks
    from exon_spark.sources.jvm_fast import read_dsv2

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    vcf = os.path.join(fx, "variants.vcf.bgz")
    index = read_tabix(vcf + ".tbi")
    per_region = [("chr1", tabix_chunks(index, "chr1"), index.linear[index.names.index("chr1")])]
    fine = chunk_groups(per_region, 1)
    coarse = chunk_groups(per_region, 1 << 40)
    assert len(fine) > len(coarse) == 1

    def read_with(groups):
        parts = [FilePartition(vcf, "gzip", (), extra=("tabix", r, g)) for r, g in groups]
        df = read_dsv2(spark, "exonspark.spark.VcfBgzfSource", vcf, parts)
        assert df.rdd.getNumPartitions() == len(groups)
        return df.select("chrom", "pos", "id")

    a, b = read_with(fine), read_with(coarse)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    # ranges must tile the chunk span: disjoint, ordered, gap-free
    flat = [r for _region, ranges in fine for r in ranges]
    for (b0, e0), (b1, _e1) in zip(flat, flat[1:]):
        assert b0 < e0 and e0 == b1


@pytest.mark.parametrize("index_kind", ["tbi", "csi"])
def test_vcf_region_jvm_partitions_are_the_planner_groups(
    spark, sample_vcfs, tmp_path, index_kind
):
    """The partitions of a read_vcf_region_jvm scan, as the JVM parsed
    them, are the ``tabix`` groups of VcfSource.plan_partitions: same
    ranges, same order, each scoped to its own region."""
    import shutil

    from py4j.java_gateway import get_field

    from exon_spark.functions.region import parse_region
    from exon_spark.sources.indexes import build_csi_vcf
    from exon_spark.sources.jvm_fast import read_vcf_region_jvm
    from exon_spark.sources.util import FoundFile
    from exon_spark.sources.vcf import VcfSource

    vcf = sample_vcfs[0]
    if index_kind == "csi":
        shutil.copy(vcf, str(tmp_path / "v.vcf.gz"))
        vcf = str(tmp_path / "v.vcf.gz")
        build_csi_vcf(vcf)
    regions = "1,2:1-100000,Z:1-10,1:1000-2000,2:1-100000"
    planned = VcfSource.plan_partitions(
        FoundFile(vcf, os.path.getsize(vcf)),
        {"regions": regions, "target_parallelism": spark.sparkContext.defaultParallelism},
    )
    assert len(planned) > 3 and all(p.extra[0] == "tabix" for p in planned)

    df = read_vcf_region_jvm(spark, vcf, regions)
    qe = df._jdf.queryExecution()
    option = qe.optimizedPlan().collectLeaves().head().relation().options().get("regions")
    scoped = [tuple(r.rsplit(":", 2)) for r in option.split(",")]
    jparts = qe.executedPlan().collectLeaves().head().inputPartitions()
    got = []
    for i in range(jparts.size()):
        p = jparts.apply(i)
        name, lo, hi = scoped[get_field(p, "region")]
        got.append(
            ((name, int(lo), int(hi)), list(zip(get_field(p, "begs"), get_field(p, "ends"))))
        )
    assert got == [(parse_region(p.extra[1]), list(p.extra[2])) for p in planned]


def test_vcf_dsv2_plan_is_batch_scan(spark):
    """The routed region scan is a DSv2 BatchScan with the projection
    pushed down — no Python eval, no Filter node re-checking regions."""
    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources.jvm_fast import read_vcf_region_jvm

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    vcf = os.path.join(fx, "variants.vcf.bgz")
    df = read_vcf_region_jvm(spark, vcf, "chr1", columns="chrom,pos,id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan and "VcfBgzfScan" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.fixture(scope="module")
def adversarial_vcf(tmp_path_factory):
    """Hand-built bgzf VCF with every parser edge: dot/empty/multi-valued
    fields, a line far longer than one BGZF block (spans many blocks),
    missing trailing fields, tiny blocks (records cross block boundaries
    constantly). Tracks each record's virtual offset so partitions can be
    cut at arbitrary record boundaries."""
    random.seed(13)
    recs = []
    for i in range(400):
        chrom = ("chrA", "chrB", "chrC")[i % 3]
        pos = 10 * i + 1
        rid = [".", "", "rs%d" % i, "rs%d;rs%d" % (i, i + 1)][i % 4]
        ref = ["A", "AT", "", "GGC"][i % 4]
        alt = [".", "C", "C,G", ""][i % 4]
        qual = [".", "12.5", "notanum", "0"][i % 4]
        filt = ["PASS", ".", "q10;s50", ""][i % 4]
        info = [".", "DP=4", "x" * (150_000 if i == 17 else 40), ""][i % 4]
        recs.append((chrom, pos, rid, ref, alt, qual, filt, info))
    lines = ["##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"]
    lines += ["\t".join([c, str(p), i_, r, a, q, f, inf])
              for c, p, i_, r, a, q, f, inf in recs]
    # one malformed short line (5 fields): trailing fields read as empty
    lines.append("chrA\t4001\trsX\tA\tC")
    recs.append(("chrA", 4001, "rsX", "A", "C", "", "", ""))
    blob = ("\n".join(lines) + "\n").encode()

    from exon_spark.sources.bgzf import BGZF_EOF, bgzf_block

    # compress with random tiny blocks, tracking virtual offsets of every
    # byte-offset -> (coffset << 16 | uoffset)
    path = str(tmp_path_factory.mktemp("advcf") / "adv.vcf.bgz")
    cuts = []
    boundaries = []  # (uncompressed_offset, voffset)
    off = 0
    coffset = 0
    with open(path, "wb") as fh:
        while off < len(blob):
            n = random.choice([37, 100, 511, 4096, 65000])
            chunk = blob[off : off + n]
            boundaries.append((off, coffset << 16))
            b = bgzf_block(chunk)
            fh.write(b)
            coffset += len(b)
            off += len(chunk)
        eof_voff = coffset << 16
        fh.write(BGZF_EOF)

    def voff_of(uoff: int) -> int:
        # virtual offset for an uncompressed byte offset
        lo = max(b for b in boundaries if b[0] <= uoff)
        return lo[1] | (uoff - lo[0])

    # record-start uncompressed offsets (after the 2 header lines)
    rec_offs = []
    p = 0
    for ln in lines:
        if not ln.startswith("#"):
            rec_offs.append(p)
        p += len(ln.encode()) + 1
    first_voff = voff_of(rec_offs[0])
    return path, recs, [voff_of(o) for o in rec_offs], first_voff, eof_voff


def _dsv2_read(spark, path, parts, regions=""):
    scope = "*@" if regions else "-@"
    pstr = "|".join(scope + ";".join(f"{b}:{e}" for b, e in p) for p in parts)
    return (
        spark.read.format("exonspark.spark.VcfBgzfSource")
        .option("path", path)
        .option("partitions", pstr)
        .option("regions", regions)
        .load()
    )


def _expected_rows(recs):
    def dot(s, sep=None):
        if s in (".", ""):
            return None
        return s.split(sep) if sep else s

    out = []
    for c, p, i_, r, a, q, f, inf in recs:
        try:
            qv = None if q in (".", "") else float(q)
        except ValueError:
            qv = None
        out.append((c, p, dot(i_, ";"), r, dot(a, ","), qv, dot(f, ";"), dot(inf)))
    return sorted(out, key=lambda t: (t[0], t[1]))


def test_vcf_dsv2_adversarial_content(spark, adversarial_vcf):
    """Full 8-column parse over tiny blocks + block-spanning lines must
    match the reference semantics exactly, for a single partition AND for
    partitions cut at every single record boundary."""
    path, recs, rec_voffs, first, eof = adversarial_vcf
    expected = _expected_rows(recs)

    layouts = [
        [[(first, eof)]],                                    # one range
        [[(v, rec_voffs[i + 1] if i + 1 < len(rec_voffs) else eof)]
         for i, v in enumerate(rec_voffs)],                  # 1 record/part
    ]
    # random contiguous groupings
    random.seed(99)
    cutpts = sorted(random.sample(range(1, len(rec_voffs)), 10))
    bounds = [first] + [rec_voffs[c] for c in cutpts] + [eof]
    layouts.append([[(bounds[i], bounds[i + 1])] for i in range(len(bounds) - 1)])

    for parts in layouts:
        df = _dsv2_read(spark, path, parts)
        got = sorted(
            (
                (
                    r.chrom,
                    r.pos,
                    list(r.id) if r.id is not None else None,
                    r.ref,
                    list(r.alt) if r.alt is not None else None,
                    r.qual,
                    list(r.filter) if r.filter is not None else None,
                    r.info,
                )
                for r in df.collect()
            ),
            key=lambda t: (t[0], t[1]),
        )
        assert len(got) == len(expected)
        for g, e in zip(got, expected):
            gc, gp, gi, gr, ga, gq, gf, ginf = g
            ec, ep, ei, er, ea, eq, ef, einf = e
            assert (gc, gp, gi, gr, ga, gf, ginf) == (ec, ep, ei, er, ea, ef, einf), (g, e)
            assert (gq is None) == (eq is None)
            if gq is not None:
                assert abs(gq - eq) < 1e-6


def test_vcf_dsv2_region_filter_semantics(spark, adversarial_vcf):
    """Bounded regions: chrom byte-equality + 1-based inclusive pos
    bounds, multiple regions OR'd."""
    path, recs, rec_voffs, first, eof = adversarial_vcf
    parts = [[(first, eof)]]
    df = _dsv2_read(
        spark, path, parts, regions="chrA:1:500,chrB:1000:2000"
    )
    got = sorted((r.chrom, r.pos) for r in df.select("chrom", "pos").collect())
    exp = sorted(
        (c, p)
        for c, p, *_ in recs
        if (c == "chrA" and 1 <= p <= 500) or (c == "chrB" and 1000 <= p <= 2000)
    )
    assert got == exp
    # empty projection still counts every in-range record
    n = _dsv2_read(spark, path, parts, regions="chrC:1:%d" % (2**62)).count()
    assert n == sum(1 for c, *_ in recs if c == "chrC")


def test_vcf_dsv2_csi_only_routing(spark, tmp_path):
    """htslib `tabix --csi` layout (no .tbi): the region scan must still
    route to the DSv2 byte parser (chunks from the CSI bins, cut points
    from the per-bin loffsets) and match the Python source exactly."""
    import shutil

    from exon_spark.queries.formats import ensure_format_fixtures
    from exon_spark.sources import read_format
    from exon_spark.sources.indexes import build_csi_vcf

    fx = ensure_format_fixtures("/root/testdata/sf0.01")
    dst = str(tmp_path / "v.vcf.gz")
    shutil.copy(os.path.join(fx, "variants.vcf.bgz"), dst)
    build_csi_vcf(dst)
    df = read_format(spark, "vcf", dst, regions="chr1", columns="chrom,pos,id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "VcfBgzfScan" in plan
    py = (
        spark.read.format("vcf")
        .option("regions", "chr1")
        .load(dst)
        .select("chrom", "pos", "id")
    )
    assert df.exceptAll(py).count() == 0
    assert py.exceptAll(df).count() == 0
    assert df.count() == py.count()
