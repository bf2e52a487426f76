"""The JVM BAM reader (exonspark.spark.BamBgzfSource) against the Python
BAM DataSource, on a hand-built BAM that carries every record and tag
edge the decoder has: all tag types (floats that JDK and Python print
differently among them), unmapped reads, missing mapq/quality/sequence,
records with no tags, and tiny BGZF blocks so that records cross block
boundaries constantly."""

from __future__ import annotations

import math
import random
import shutil
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from exon_spark.sources.bgzf import BGZF_EOF, bgzf_block

REFS = [("chr1", 2_000_000), ("chr2", 2_000_000)]
COLS = [
    "name", "flag", "reference", "start", "end", "mapping_quality", "cigar",
    "mate_reference", "sequence", "quality_score", "tags",
]
FLOATS = [0.1, 1e-05, 3.4e38, float("nan"), float("inf"), float("-inf"), -2.5]


def _tag(tag: str, typ: str, val) -> bytes:
    out = tag.encode() + typ.encode()
    if typ == "B":
        sub, vals = val
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        return out + sub.encode() + struct.pack(f"<i{len(vals)}{fmt}", len(vals), *vals)
    if typ in "ZH":
        return out + val + b"\x00"
    fmt = {"A": "c", "c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[typ]
    return out + struct.pack("<" + fmt, val)


ALL_TAGS = b"".join(
    [
        _tag("XA", "A", b"-"),
        _tag("Xc", "c", -128),
        _tag("XC", "C", 255),
        _tag("Xs", "s", -32768),
        _tag("XS", "S", 65535),
        _tag("Xi", "i", -(2**31)),
        _tag("XI", "I", 2**32 - 1),
        *[_tag(f"F{k}", "f", v) for k, v in enumerate(FLOATS)],
        _tag("XZ", "Z", b"hello world"),
        _tag("XN", "Z", b"caf\xc3\xa9"),
        _tag("XH", "H", b"1AE301"),
        _tag("Bc", "B", ("c", [-1, 0, 127])),
        _tag("BC", "B", ("C", [0, 255])),
        _tag("Bs", "B", ("s", [-300, 300])),
        _tag("BS", "B", ("S", [65535])),
        _tag("Bi", "B", ("i", [-(2**31), 7])),
        _tag("BI", "B", ("I", [2**32 - 1])),
        _tag("Bf", "B", ("f", FLOATS)),
        _tag("Be", "B", ("f", [])),
    ]
)

_SEQ = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}
_OPS = {c: i for i, c in enumerate("MIDNSHP=X")}


def _record(name, flag, refid, pos, mapq, cigar, seq, qual, tags, nrefid=-1):
    ops = [(int(n), _OPS[op]) for n, op in cigar]
    packed = bytearray((len(seq) + 1) // 2)
    for i, c in enumerate(seq):
        packed[i // 2] |= _SEQ[c] << (4 if i % 2 == 0 else 0)
    name_b = name.encode() + b"\x00"
    body = struct.pack(
        "<iiBBHHHiiii", refid, pos, len(name_b), mapq, 4680, len(ops), flag,
        len(seq), nrefid, -1, 0,
    )
    body += name_b + b"".join(struct.pack("<I", n << 4 | op) for n, op in ops)
    body += bytes(packed) + bytes(qual) + tags
    return struct.pack("<i", len(body)) + body


def _records(rng: random.Random) -> list[bytes]:
    """Coordinate-sorted records: the edge cases near the start of each
    reference, then enough random 250-base reads (random qualities do not
    compress) that the file passes the 1 MB split floor three times."""
    edge_cigar = [("2", "S"), ("3", "M"), ("1", "I"), ("2", "D"), ("5", "N"),
                  ("1", "="), ("1", "X"), ("1", "P"), ("2", "H")]
    recs: list[tuple[int, int, bytes]] = []
    for refid in (0, 1):
        edge = [
            ("posneg", 4, -1, 0, [], "ACGT", [30] * 4, b""),
            ("alltags", 0, 99, 60, [("4", "M")], "ACGT", [1, 2, 3, 4], ALL_TAGS),
            ("mapq255", 16, 120, 255, edge_cigar, "ACGTACGT", [0xFF] * 8, b""),
            ("", 0, 150, 7, [("3", "M")], "", [], _tag("NM", "i", 1)),
            ("nocigar", 0, 170, 10, [], "NNRY", [40, 41, 42, 43], b""),
        ]
        for name, flag, pos, mapq, cigar, seq, qual, tags in edge:
            rec = _record(name, flag, refid, pos, mapq, cigar, seq, qual, tags,
                          nrefid=1 - refid)
            recs.append((refid, pos, rec))
        for i in range(6_000):
            pos = rng.randrange(200, 1_990_000)
            seq = "".join(rng.choice("ACGTN") for _ in range(250))
            qual = [rng.randrange(0, 94) for _ in range(250)]
            tags = _tag("NM", "i", i % 5) + _tag("AS", "f", rng.choice(FLOATS[:3]))
            cigar = [("100", "M"), ("50", "N"), ("150", "M")]
            rec = _record(f"r{refid}_{i}", 0, refid, pos, 60, cigar, seq, qual, tags)
            recs.append((refid, pos, rec))
    recs.sort(key=lambda t: (t[0], t[1]))
    out = [r for _, _, r in recs]
    out.append(_record("unmapped_refneg", 4, -1, -1, 0, [], "ACG", [20, 21, 22],
                       _tag("RG", "Z", b"g1")))
    out.append(_record("unmapped_refneg_pos", 4, -1, 500, 0, [], "", [], b""))
    return out


def _write_bam(path: str, rng: random.Random) -> list[int]:
    """BAM in random tiny BGZF blocks; returns every record's start
    virtual offset, then the end-of-data offset."""
    header = b"BAM\x01" + struct.pack("<i", 0) + struct.pack("<i", len(REFS))
    for name, ln in REFS:
        header += struct.pack("<i", len(name) + 1) + name.encode() + b"\x00" + struct.pack("<i", ln)
    recs = _records(rng)
    blob = header + b"".join(recs)
    starts, off = [], len(header)
    for r in recs:
        starts.append(off)
        off += len(r)
    starts.append(off)
    voffs, coffset, pos = [], 0, 0
    si = 0
    with open(path, "wb") as fh:
        while pos < len(blob):
            n = rng.choice([37, 100, 511, 4096, 65000])
            chunk = blob[pos : pos + n]
            while si < len(starts) and starts[si] < pos + len(chunk):
                voffs.append(coffset << 16 | (starts[si] - pos))
                si += 1
            block = bgzf_block(chunk)
            fh.write(block)
            coffset += len(block)
            pos += len(chunk)
        voffs.extend([coffset << 16] * (len(starts) - si))
        fh.write(BGZF_EOF)
    return voffs


def _bai_to_csi(bai_path: str, csi_path: str) -> None:
    from exon_spark.sources.bgzf import BGZFWriter
    from exon_spark.sources.indexes import read_bai

    bai = read_bai(bai_path)
    payload = bytearray(b"CSI\x01") + struct.pack("<iii", 14, 5, 0)
    payload += struct.pack("<i", len(bai.bins))
    for rid in range(len(bai.bins)):
        payload += struct.pack("<i", len(bai.bins[rid]))
        for bin_id in sorted(bai.bins[rid]):
            chunks = bai.bins[rid][bin_id]
            # loffset: a record start in the bin, as samtools writes
            loffset = min(cb for cb, _ce in chunks)
            payload += struct.pack("<IQi", bin_id, loffset, len(chunks))
            for cb, ce in chunks:
                payload += struct.pack("<QQ", cb, ce)
    with BGZFWriter(csi_path) as out:
        out.write(bytes(payload))


@pytest.fixture(scope="module")
def bam(tmp_path_factory):
    from exon_spark.sources.indexes import build_bai

    root = tmp_path_factory.mktemp("bam_jvm")
    path = str(root / "edge.bam")
    voffs = _write_bam(path, random.Random(5))
    build_bai(path)
    noidx = str(root / "noidx.bam")
    shutil.copy(path, noidx)
    csi = str(root / "csi.bam")
    shutil.copy(path, csi)
    _bai_to_csi(path + ".bai", csi + ".csi")
    return {"bai": path, "noidx": noidx, "csi": csi, "voffs": voffs}


def _rows(df) -> list[tuple]:
    def norm(v):
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        if hasattr(v, "asDict"):
            return tuple(sorted(v.asDict().items()))
        return v

    return sorted(
        (tuple(norm(v) for v in r) for r in df.select(*COLS).collect()), key=repr
    )


def _python(spark, path, **options):
    reader = spark.read.format("bam")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def _jvm(spark, path, **options):
    from exon_spark.sources import read_format

    df = read_format(spark, "bam", path, **options)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BamBgzfScan" in plan and "(Python)" not in plan, plan
    return df


def test_bam_jvm_full_scan_matches_python(spark, bam):
    df = _jvm(spark, bam["bai"])
    assert df.schema == _python(spark, bam["bai"]).schema
    assert df.rdd.getNumPartitions() >= 3
    got = _rows(df)
    assert got == _rows(_python(spark, bam["bai"]))
    by_name = {r[0]: dict(zip(COLS, r)) for r in got}
    tags = {dict(t)["tag"]: dict(t)["value"] for t in by_name["alltags"]["tags"]}
    f32 = "0.10000000149011612,9.999999747378752e-06,3.3999999521443642e+38,nan,inf,-inf,-2.5"
    assert ",".join(tags[f"F{k}"] for k in range(len(FLOATS))) == f32
    assert tags["Bf"] == f32
    assert tags["XN"] == "caf\ufffd\ufffd" and tags["Be"] == ""
    assert by_name["mapq255"]["mapping_quality"] is None
    assert by_name["mapq255"]["quality_score"] == ()
    assert by_name[None]["sequence"] == "" and by_name["nocigar"]["end"] is None
    assert by_name["posneg"]["start"] is None and by_name["unmapped_refneg"]["reference"] is None


@pytest.mark.parametrize(
    "regions",
    [
        "chr1:500000-600000",
        "chr1:100-200",  # the edge-case records
        "chr1:400000-700000,chr1:500000-900000,chr2:1-50000",  # overlapping
        "chr2:1000-2000,chr2:1000-2000",  # duplicate
        "chrZ:1-1000",  # absent chromosome
        "chrZ:1-1000,chr2:300000-310000",
    ],
)
@pytest.mark.parametrize("layout", ["bai", "csi", "noidx"])
def test_bam_jvm_regions_match_python(spark, bam, regions, layout):
    path = bam[layout]
    got = _rows(_jvm(spark, path, regions=regions))
    assert got == _rows(_python(spark, path, regions=regions))
    if regions.startswith("chr1:4"):
        assert len(got) > 100


def test_bam_jvm_columns_option(spark, bam):
    from exon_spark.sources import read_format

    df = read_format(spark, "bam", bam["bai"], regions="chr2:1-200000", columns="start,flag")
    py = _python(spark, bam["bai"], regions="chr2:1-200000", columns="start,flag")
    assert df.columns == py.columns == ["flag", "start"]
    assert sorted(df.collect()) == sorted(py.collect())


def test_bam_jvm_ranges_at_every_record(spark, bam):
    """Partitions cut at every single record start read exactly the
    records of one whole-file range: a record belongs to the range its
    start lies in, whatever blocks its bytes span."""
    from exon_spark.jvm import BAM_DSV2_CLASS

    voffs = bam["voffs"]

    def read(spec):
        return (
            spark.read.format(BAM_DSV2_CLASS)
            .option("path", bam["bai"])
            .option("partitions", spec)
            .load()
            .select("name", "start", "tags")
        )

    # one range per record, 97 ranges per partition
    ranges = [f"{b}:{e}" for b, e in zip(voffs, voffs[1:])]
    fine = "|".join("-@" + ";".join(ranges[i : i + 97]) for i in range(0, len(ranges), 97))
    whole = read("-@-1:-1")
    assert whole.count() == len(voffs) - 1
    assert sorted(map(repr, read(fine).collect())) == sorted(map(repr, whole.collect()))


def test_indexed_bam_without_region_stays_python(spark, bam):
    from exon_spark.sources import read_format

    df = read_format(spark, "bam", bam["bai"], indexed="true")
    assert "BamBgzfScan" not in df._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(Exception, match="requires a region filter"):
        df.collect()


def test_py_repr_matches_python(spark):
    """Float tag values print as Python's repr: shortest round-trip
    digits, Python's exponent layout, nan/inf."""
    rng = random.Random(3)
    values = [0.0, -0.0, 1e16, 1e15, 9999999999999998.0, 1e-4, 1e-5, 5e-324,
              1.7976931348623157e308]
    values += [2.0**e for e in range(-1074, 1024, 37)]
    values += [struct.unpack("<f", struct.pack("<I", rng.getrandbits(32)))[0] for _ in range(1500)]
    values += [rng.uniform(-1e6, 1e6) for _ in range(500)]
    values = [v for v in values if not math.isnan(v)] + [float("nan"), float("inf")]
    repr_of = spark._jvm.exonspark.spark.BamBgzfSource.pyRepr
    bad = [(v, repr_of(v)) for v in values if repr_of(v) != repr(v)]
    assert not bad, bad[:10]


@pytest.mark.parametrize("layout", ["bai", "csi"])
@pytest.mark.parametrize("target", [1, 1 << 12, 1 << 16, 1 << 20, 1 << 40])
def test_bam_full_scan_ranges(bam, monkeypatch, layout, target):
    """A full scan of an indexed BAM cuts where the planner always has:
    the first range starts at the end of the header, and each next one at
    the first index offset (BAI linear index, CSI loffsets) at least
    ``target`` compressed bytes past the previous cut."""
    import os

    from exon_spark.sources import indexes
    from exon_spark.sources.bam import BamSource, read_bam_header
    from exon_spark.sources.bgzf import BGZFReader
    from exon_spark.sources.util import FoundFile

    path = bam[layout]
    with BGZFReader(path) as bg:
        stream = bg.stream_from(0)
        read_bam_header(stream)
        start0 = stream.tell_virtual()
    if layout == "bai":
        voffs = [v for lin in indexes.read_bai(path + ".bai").linear for v in lin]
    else:
        voffs = [v for lo in indexes.read_csi(path + ".csi").loffsets for v in lo.values()]
    splits = [start0]
    for v in sorted({v for v in voffs if v > start0}):
        if (v >> 16) - (splits[-1] >> 16) >= target:
            splits.append(v)
    expect = [("range", s, e) for s, e in zip(splits, splits[1:] + [None])]

    monkeypatch.setattr(indexes, "adaptive_target_bytes", lambda *a, **k: target)
    parts = BamSource.plan_partitions(FoundFile(path, os.path.getsize(path)), {})
    assert [p.extra for p in parts] == expect
    assert len(expect) > (2 if target <= 1 << 16 else 0)


def test_region_file_reads_like_comma_list(spark, bam, tmp_path):
    """A regions option naming a file (one region per line) reads the
    same rows as the comma-separated list: indexed BAM through the JVM
    reader and through the Python reader (parse_tags), unindexed BAM
    through both, and unindexed VCF."""
    from exon_spark.sources import read_format

    listed = "chr1:400000-700000,chr2:1-50000,chr1:100-200"
    region_file = tmp_path / "regions.txt"
    region_file.write_text(listed.replace(",", "\n") + "\n")

    def both(read):
        by_file = read(str(region_file))
        assert by_file, "region file matched no rows"
        assert by_file == read(listed)

    def jvm_rows(path):
        return lambda regions: _rows(_jvm(spark, path, regions=regions))

    def py_rows(path, **options):
        def read(regions):
            df = read_format(spark, "bam", path, regions=regions, **options)
            assert "BamBgzfScan" not in df._jdf.queryExecution().executedPlan().toString()
            return sorted(map(repr, df.collect()))

        return read

    both(jvm_rows(bam["bai"]))
    both(py_rows(bam["bai"], parse_tags="true"))
    both(jvm_rows(bam["noidx"]))
    both(lambda regions: _rows(_python(spark, bam["noidx"], regions=regions)))

    vcf = tmp_path / "plain.vcf"
    lines = ["##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"]
    lines += [f"chr{c}\t{p}\t.\tA\tC\t.\tPASS\t." for c in (1, 2) for p in range(50, 800_000, 997)]
    vcf.write_text("\n".join(lines) + "\n")
    both(
        lambda regions: sorted(
            map(repr, read_format(spark, "vcf", str(vcf), regions=regions).collect())
        )
    )


_REFS = st.sampled_from(["chr1", "chr2", "chr3"])


@pytest.fixture(scope="module")
def coords(spark, bam):
    """Start and end values of the BAM's mapped records: those of the edge
    records, and a sample of the rest."""
    rows = _python(spark, bam["bai"]).select("start", "end").collect()
    values = sorted({v for r in rows for v in r if v is not None})
    return sorted(set(values[:20]) | set(random.Random(0).sample(values, 300)))


def _bam_predicate(values):
    near = st.builds(lambda v, d: v + d, st.sampled_from(values), st.sampled_from([-1, 0, 1]))
    atom = st.one_of(
        st.builds(
            lambda op, r: f"reference {op} '{r}'",
            st.sampled_from(["=", "<>", "<", ">="]),
            _REFS,
        ),
        st.builds(
            lambda col, op, n: f"{col} {op} {n}",
            st.sampled_from(["start", "end"]),
            st.sampled_from(["=", "<>", "<", "<=", ">", ">="]),
            near,
        ),
        st.builds(lambda n: f"{n} <= end", near),
        st.builds(
            lambda c, col: f"{col} IS {c}NULL",
            st.sampled_from(["", "NOT "]),
            st.sampled_from(["reference", "start", "end"]),
        ),
        # the perfbench spelling, inlined into conjuncts over the three columns
        st.builds(
            lambda r, lo, span: f"bam_region_filter('{r}:{lo}-{lo + span}', reference, start, end)",
            _REFS,
            near,
            st.sampled_from([0, 1_000, 100_000]),
        ),
        # not consumable: flag and mapping_quality are not coordinate columns
        st.sampled_from(["flag = 4", "mapping_quality IS NULL"]),
    )
    return st.recursive(
        atom,
        lambda kids: st.one_of(
            st.builds(lambda a, b: f"({a}) AND ({b})", kids, kids),
            st.builds(lambda a, b: f"({a}) OR ({b})", kids, kids),
            st.builds(lambda a: f"NOT ({a})", kids),
        ),
        max_leaves=5,
    )


@settings(max_examples=10, deadline=None)
@given(
    regions=st.sampled_from([None, "chr1:1-300000", "chr2:100-200,chr1:500000-900000"]),
    data=st.data(),
)
def test_bam_pushdown_matches_python(spark, bam, coords, regions, data):
    """BamBgzfSource consumes coordinate predicates at scan time; its rows
    equal the Python DataSource's, where Spark filters, also for the
    unmapped records whose reference, start or end is null."""
    opts = {"regions": regions} if regions else {}
    cols = ["name", "flag", "reference", "start", "end"]
    jvm, python = _jvm(spark, bam["bai"], **opts), _python(spark, bam["bai"], **opts)

    def rows(df, predicate):
        return sorted((tuple(r) for r in df.where(predicate).select(cols).collect()), key=repr)

    for predicate in data.draw(st.lists(_bam_predicate(coords), min_size=6, max_size=6)):
        assert rows(jvm, predicate) == rows(python, predicate), predicate
