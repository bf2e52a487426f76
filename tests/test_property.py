"""Property-based tests (hypothesis) for the pure-Python codec layer.

The reference has no randomized testing (SURVEY.md §5.4); these go beyond
it on the components where a subtle off-by-one corrupts everything
downstream: BGZF block framing / virtual offsets, Phred quality
encode/decode, and region-string parsing.

All but the FASTQ and FASTA route parity tests are session-free (no
Spark); those compare the Java readers with the Python DataSources on one
session.
"""

from __future__ import annotations

import gzip
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from exon_spark.sources.bgzf import BGZFReader, BGZFWriter

_SETTINGS = dict(max_examples=50, deadline=None)


@settings(**_SETTINGS)
@given(
    chunks=st.lists(st.binary(min_size=0, max_size=200_000), min_size=0, max_size=8)
)
def test_bgzf_roundtrip(tmp_path_factory, chunks):
    """Anything written through BGZFWriter reads back identically — via
    plain gzip (BGZF is valid multi-member gzip) AND via the block reader
    from virtual offset 0."""
    path = str(tmp_path_factory.mktemp("bgzf") / "t.bgz")
    payload = b"".join(chunks)
    with BGZFWriter(path) as w:
        for c in chunks:
            w.write(c)
    with gzip.open(path, "rb") as fh:
        assert fh.read() == payload
    with BGZFReader(path) as bg:
        stream = bg.stream_from(0)
        assert stream.read(len(payload) + 10)[: len(payload)] == payload


@settings(**_SETTINGS)
@given(data=st.binary(min_size=1, max_size=300_000), cut=st.integers(0, 299_999))
def test_bgzf_virtual_offset_seek(tmp_path_factory, data, cut):
    """tell_virtual() after writing a prefix is a valid seek target: the
    stream from that virtual offset yields exactly the suffix."""
    cut = cut % len(data)
    path = str(tmp_path_factory.mktemp("bgzf") / "t.bgz")
    with BGZFWriter(path) as w:
        w.write(data[:cut])
        voff = w.tell_virtual()
        w.write(data[cut:])
    with BGZFReader(path) as bg:
        stream = bg.stream_from(voff)
        assert stream.read(len(data)) == data[cut:]


@settings(**_SETTINGS)
@given(scores=st.lists(st.integers(0, 93), min_size=0, max_size=500))
def test_phred_roundtrip_python(scores):
    """Phred+33: encode(decode(s)) == s at the Python level the pandas path
    mirrors (chr(q+33) / ord(c)-33)."""
    encoded = "".join(chr(q + 33) for q in scores)
    decoded = [ord(c) - 33 for c in encoded]
    assert decoded == scores


@settings(**_SETTINGS)
@given(
    name=st.text(
        alphabet=st.characters(whitelist_categories=("L", "N"), whitelist_characters="_."),
        min_size=1,
        max_size=20,
    ),
    lo=st.integers(1, 2**31 - 2),
    span=st.integers(0, 10_000_000),
)
def test_parse_region_roundtrip(name, lo, span):
    from exon_spark.functions.region import parse_region

    hi = lo + span
    assert parse_region(f"{name}:{lo}-{hi}") == (name, lo, hi)
    # bare-chromosome form: full-range interval
    n2, l2, h2 = parse_region(name)
    assert n2 == name and l2 <= 1 and h2 >= 2**31 - 2


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000_000), st.binary(min_size=0, max_size=50)),
        min_size=1,
        max_size=60,
    )
)
def test_bgzf_lines_in_chunks_whole_file(tmp_path_factory, rows):
    """lines_in_chunks over the whole-file chunk returns every line written,
    regardless of how lines straddle block boundaries."""
    lines = [
        b"line" + str(pos).encode() + b"\t" + extra.replace(b"\n", b"").replace(b"\r", b"")
        for pos, extra in rows
    ]
    path = str(tmp_path_factory.mktemp("bgzf") / "t.bgz")
    with BGZFWriter(path) as w:
        for ln in lines:
            w.write(ln + b"\n")
        end = w.tell_virtual()
    with BGZFReader(path) as bg:
        got = list(bg.lines_in_chunks([(0, end)]))
    # the reader decodes utf-8 with errors="replace" (raw bytes may be
    # arbitrary); mirror that in the expectation
    assert got == [ln.decode("utf-8", "replace") for ln in lines]


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=200_000),  # record lengths
        min_size=1,
        max_size=40,
    )
)
def test_fixtures_xl_voffset_arithmetic(tmp_path_factory, lens):
    """The XL fixture generator derives every record's BGZF virtual offset
    arithmetically (no re-read); reading each derived (start, end) range
    through the real BGZFReader must return exactly that record's bytes —
    including records straddling many blocks and records ending exactly on
    a block boundary."""
    import numpy as np

    from exon_spark.queries.fixtures_xl import _compress_blocks, _voffsets

    recs = [bytes([65 + (i % 26)]) * n for i, n in enumerate(lens)]
    blob = b"".join(recs)
    stream, sizes = _compress_blocks(blob)
    lens_a = np.array([len(r) for r in recs], np.int64)
    offs = np.zeros(len(recs), np.int64)
    np.cumsum(lens_a[:-1], out=offs[1:])
    v_start, v_end = _voffsets(offs, lens_a, sizes)
    d = tmp_path_factory.mktemp("xlprop")
    p = os.path.join(str(d), "x.bgzf")
    from exon_spark.sources.bgzf import BGZF_EOF

    with open(p, "wb") as fh:
        fh.write(stream)
        fh.write(BGZF_EOF)
    with BGZFReader(p) as bg:
        for i, rec in enumerate(recs):
            got = bg.read_range(int(v_start[i]), int(v_end[i]))
            assert got == rec, f"record {i} (len {len(rec)})"


@settings(max_examples=60, deadline=None)
@given(
    layout=st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 40)), min_size=1, max_size=3
    ),
    target=st.integers(1, 1 << 25),
    data=st.data(),
)
def test_chunk_groups_tile_chunks(layout, target, data):
    """chunk_groups must tile every key's chunks exactly for ANY chunk
    layout / cut offsets / target: each key's ranges are disjoint,
    ordered, cut only at chunk bounds or given offsets, and their union
    equals its chunks — no record window lost or duplicated at a cut.
    Groups keep key order, and a group closes as soon as it reaches the
    target."""
    from exon_spark.sources.indexes import chunk_groups

    per_key = []
    for key, (n_chunks, n_cuts) in enumerate(layout):
        # random disjoint chunks in virtual-offset space
        points = sorted(
            data.draw(
                st.lists(
                    st.integers(0, 1 << 40),
                    min_size=2 * n_chunks,
                    max_size=2 * n_chunks,
                    unique=True,
                )
            )
        )
        chunks = [(points[2 * i], points[2 * i + 1]) for i in range(n_chunks)]
        # cut offsets anywhere, unsorted, repeated: the grouper must not
        # care where they fall
        cuts = data.draw(
            st.lists(st.integers(0, 1 << 40), min_size=n_cuts, max_size=n_cuts)
        )
        per_key.append((key, chunks, cuts))

    groups = chunk_groups(per_key, target)
    keys = [k for k, _g in groups]
    assert keys == sorted(keys) and all(g for _k, g in groups)

    def size(ranges):
        return sum((e >> 16) - (b >> 16) for b, e in ranges)

    for key, chunks, cuts in per_key:
        mine = [g for k, g in groups if k == key]
        flat = [r for g in mine for r in g]
        for (b0, e0), (b1, _e1) in zip(flat, flat[1:]):
            assert b0 < e0 <= b1
        assert {b for b, _e in flat} <= {b for b, _e in chunks} | set(cuts)
        merged = []
        for b, e in flat:
            if merged and merged[-1][1] == b:
                merged[-1][1] = e
            else:
                merged.append([b, e])
        assert [tuple(m) for m in merged] == chunks
        for g in mine[:-1]:
            assert size(g) >= target > size(g[:-1])


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=30,
    ),
    target=st.text(alphabet="abcde", min_size=1, max_size=12),
)
def test_bpe_segment_reconstructs_word(words, target):
    """For ANY learned merge table and ANY word (seen or unseen), the
    segmentation concatenates back to word + EOW — merges only ever fuse
    adjacent symbols, so no characters are lost, duplicated, or
    reordered."""
    from exon_spark.operators.bpe import EOW, _merge_loop, _segment_word

    merges = _merge_loop([(w, 1 + i % 3) for i, w in enumerate(words)], 20, 2)
    ranks = {p: i for i, p in enumerate(merges)}
    segs = _segment_word(target, ranks)
    assert "".join(segs) == target + EOW
    assert all(segs)  # no empty pieces


@settings(**_SETTINGS)
@given(
    pieces=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=25,
    ),
    word=st.text(alphabet="abcde", min_size=1, max_size=15),
)
def test_unigram_viterbi_reconstructs_word(pieces, word):
    """For ANY piece vocabulary (random logprobs; 'e' only ever enters
    via the UNK fallback) and ANY word, Viterbi segmentation covers the
    word exactly: pieces concatenate back, none empty, and the path
    respects max_piece_len."""
    import math

    from exon_spark.operators.unigram import _viterbi

    vocab = {
        p: math.log((i + 1) / (len(pieces) + 1) / 2)
        for i, p in enumerate(sorted(set(pieces)))
    }
    segs = _viterbi(word, vocab, max_piece_len=4)
    assert "".join(segs) == word
    assert all(segs)
    assert all(len(p) <= 4 for p in segs)


@settings(**_SETTINGS)
@given(
    pieces=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=4),
        min_size=1,
        max_size=10,
    ),
    word=st.text(alphabet="ab", min_size=1, max_size=8),
)
def test_unigram_forward_backward_consistent_with_viterbi(pieces, word):
    """The lattice posterior gives every piece on the Viterbi path a
    strictly positive expected count, and Z upper-bounds the Viterbi
    path score (sum of all paths >= best path)."""
    import math

    from exon_spark.operators.unigram import _forward_backward, _viterbi

    vocab = {p: math.log(0.3 / (i + 1)) for i, p in enumerate(sorted(set(pieces)))}
    exp, Z = _forward_backward(word, vocab, max_piece_len=4)
    segs = _viterbi(word, vocab, max_piece_len=4)
    score = sum(
        vocab.get(p, -20.0) for p in segs
    )
    assert Z >= score - 1e-9
    for p in segs:
        assert exp.get(p, 0.0) > 0.0
    assert all(e >= 0.0 for e in exp.values())


@settings(**_SETTINGS)
@given(
    n_words=st.integers(1, 64),
    k=st.integers(1, 16),
    n_items=st.integers(0, 1 << 40),
    data=st.data(),
)
def test_bloom_filter_bytes_roundtrip(n_words, k, n_items, data):
    import numpy as np

    from exon_spark.operators.bloom import BloomFilter

    bits = np.array(
        data.draw(
            st.lists(
                st.integers(0, (1 << 64) - 1),
                min_size=n_words,
                max_size=n_words,
            )
        ),
        dtype=np.uint64,
    )
    bf = BloomFilter(m=n_words * 64, k=k, n_items=n_items, bits=bits)
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert (bf2.m, bf2.k, bf2.n_items) == (bf.m, bf.k, bf.n_items)
    assert np.array_equal(bf2.bits, bf.bits)


@settings(**_SETTINGS)
@given(
    n_sub=st.sampled_from([1, 2, 4, 8]),
    k=st.integers(1, 32),
    d_sub=st.integers(1, 8),
    data=st.data(),
)
def test_pq_codebook_bytes_roundtrip(n_sub, k, d_sub, data):
    import numpy as np

    from exon_spark.operators.pq import PQCodebook

    flat = data.draw(
        st.lists(
            st.floats(-1e6, 1e6, width=32),
            min_size=n_sub * k * d_sub,
            max_size=n_sub * k * d_sub,
        )
    )
    cents = np.array(flat, dtype=np.float32).reshape(n_sub, k, d_sub)
    cb = PQCodebook(n_sub=n_sub, k=k, dim=n_sub * d_sub, centroids=cents)
    cb2 = PQCodebook.from_bytes(cb.to_bytes())
    assert (cb2.n_sub, cb2.k, cb2.dim) == (cb.n_sub, cb.k, cb.dim)
    assert np.array_equal(cb2.centroids, cb.centroids)


_FQ_WORD = st.text(alphabet="ACGTacgtN0123456789_:/.|é-", min_size=0, max_size=8)


@st.composite
def _fastq_text(draw) -> bytes:
    """FASTQ text on the edges of the line discipline: quality lines led
    by '@' or '+', CRLF ends, blank and whitespace-only lines between
    records (skipped) and, rarely, inside one (where they are the record's
    lines), headers with no space, a trailing space or tabs, and (rarely)
    empty sequence and quality lines, which read as ''."""
    lines = []
    for _ in range(draw(st.integers(0, 6))):
        name = draw(_FQ_WORD)
        header = draw(
            st.sampled_from(
                ["@{n}", "@{n} ", "@{n} {d}", "@{n}\t{d}", "@{n} {d}\t{d} {d}", "@ {d}"]
            )
        ).format(n=name, d=draw(_FQ_WORD))
        seq = draw(st.text(alphabet="ACGTN", min_size=1, max_size=12))
        qual = draw(st.sampled_from(["", "@", "+"])) + "I" * (len(seq) - 1)
        if draw(st.integers(0, 9)) == 0:
            seq = qual = ""
        lines += [header, seq, draw(st.sampled_from(["+", "+" + name])), qual]
    out = []
    for i, line in enumerate(lines):
        while draw(st.integers(0, 5 if i % 4 == 0 else 40)) == 0:
            out.append(draw(st.sampled_from(["", " ", "\t", "  \t ", "\x0b", "\x0c", "\r"])))
        out.append(line)
    ends = [draw(st.sampled_from(["\n", "\r\n"])) for _ in out]
    text = "".join(line + end for line, end in zip(out, ends))
    if text and draw(st.booleans()):
        text = text.rstrip("\r\n")  # no newline after the last record
    return text.encode()


def _fastq_files(d, text: bytes) -> list[str]:
    """``text`` as plain, gzip and zstd FASTQ files in ``d``."""
    import pyarrow as pa

    paths = [str(d / "a.fastq"), str(d / "b.fq.gz"), str(d / "c.fastq.zst")]
    with open(paths[0], "wb") as fh:
        fh.write(text)
    with gzip.open(paths[1], "wb") as fh:
        fh.write(text)
    with pa.CompressedOutputStream(paths[2], "zstd") as fh:
        fh.write(text)
    return paths


def _fastq_routes(spark, paths: list[str]):
    """The JVM route and the Python DataSource over each file, tagged
    with the file's index, as one frame each."""
    from functools import reduce

    import pyspark.sql.functions as F

    from exon_spark.sources import read_format

    jvm, py = [], []
    for i, p in enumerate(paths):
        df = read_format(spark, "fastq", p)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FastqScan" in plan and "(Python)" not in plan, plan
        jvm.append(df.withColumn("f", F.lit(i)))
        py.append(spark.read.format("fastq").load(p).withColumn("f", F.lit(i)))
    return reduce(lambda a, b: a.union(b), jvm), reduce(lambda a, b: a.union(b), py)


def _collect_or_error(df):
    try:
        return sorted(map(tuple, df.collect()), key=repr), None
    except Exception as e:  # the task failure, from either route
        return None, e


@settings(max_examples=25, deadline=None)
@given(text=_fastq_text())
def test_fastq_jvm_route_matches_python_datasource(spark, tmp_path_factory, text):
    """read_format's JVM FASTQ reader gives the Python DataSource's rows
    for plain, gzip and zstd input, or fails where it fails; a directory of
    the three files reads as their row multiset, one partition per file,
    whether named as the directory, a glob or a ``file://`` URI."""
    from exon_spark.sources import read_format

    d = tmp_path_factory.mktemp("fq")
    paths = _fastq_files(d, text)
    jvm, py = _fastq_routes(spark, paths)
    got, jvm_err = _collect_or_error(jvm)
    want, py_err = _collect_or_error(py)
    assert (jvm_err is None) == (py_err is None), (jvm_err, py_err)
    assert got == want
    if py_err is None:
        rows = sorted((r[:4] for r in want), key=repr)
        for spelling in (str(d), str(d / "*.f*q*"), f"file://{d}"):
            whole = read_format(spark, "fastq", spelling)
            assert "FastqScan" in whole._jdf.queryExecution().executedPlan().toString()
            assert whole.rdd.getNumPartitions() == 3
            assert sorted(map(tuple, whole.collect()), key=repr) == rows
            py_whole = spark.read.format("fastq").load(spelling)
            assert sorted(map(tuple, py_whole.collect()), key=repr) == rows


@settings(max_examples=6, deadline=None)
@given(
    reads=st.lists(
        st.tuples(
            st.text(alphabet="ACGTr0123456789_", min_size=1, max_size=6),
            st.one_of(st.none(), st.text(alphabet="ab 12", min_size=1, max_size=6)),
            st.sampled_from(["", "", "A", "ACGTN", None]),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_fastq_copy_round_trip_keeps_empty_sequences(spark, tmp_path_factory, reads):
    """COPY ... STORED AS FASTQ writes an empty or NULL sequence as an
    empty line and an empty quality line; both readers read such a record
    back as (name, description, '', '')."""
    from exon_spark.sinks import maybe_handle_copy

    src = [(n, d, s, None if s is None else "I" * len(s)) for n, d, s in reads]
    spark.createDataFrame(
        src, "name string, description string, sequence string, quality_scores string"
    ).createOrReplaceTempView("fq_empty_seq")
    out = str(tmp_path_factory.mktemp("fqcopy") / "out.fastq")
    maybe_handle_copy(spark, f"COPY (SELECT * FROM fq_empty_seq) TO '{out}' STORED AS FASTQ")
    jvm, py = _fastq_routes(spark, [out])
    want = sorted(((n, d, s or "", q or "", 0) for n, d, s, q in src), key=repr)
    assert sorted(map(tuple, jvm.collect()), key=repr) == want
    assert sorted(map(tuple, py.collect()), key=repr) == want


@pytest.mark.parametrize(
    "text, error",
    [
        (b"@r1\nAC\n+\nII\nr2\nAC\n+\nII\n", "malformed FASTQ header"),
        (b"@r1\nAC\n+\nII\n@r2\nAC\n-\nII\n", "malformed FASTQ separator"),
        (b"@r1\nAC\n+\nII\n@r2\nAC\n", "truncated FASTQ record"),
        (b"@r1\nA\xffC\n+\nIII\n", "(?i)utf-?8"),
    ],
)
def test_fastq_bad_records_fail_both_routes(spark, tmp_path, text, error):
    jvm, py = _fastq_routes(spark, _fastq_files(tmp_path, text))
    for df in (jvm, py):
        with pytest.raises(Exception, match=error):
            df.collect()


# ------------------------------------------------------ FASTA route parity

_FA_WORD = st.text(alphabet="ACGTacgt0123456789_:|.>é-", min_size=0, max_size=8)


@st.composite
def _fasta_text(draw) -> tuple[bytes, list[int]]:
    """FASTA text on the edges of the framing, and cut points into it:
    headers holding '>', spaces or tabs, with an empty description or
    none, or empty; LF and CRLF ends; blank and whitespace-only lines;
    text before the first header; empty and multi-line sequences; lines
    led by a non-ASCII byte (a byte-order mark before the first header,
    'é' leading a sequence or preamble line); rarely, a byte that is not
    UTF-8 anywhere in the text."""
    lines = draw(
        st.lists(st.sampled_from(["junk >x", "", "ACGT", " ", "é >x", "\ufeff>x"]), max_size=3)
    )
    for _ in range(draw(st.integers(0, 6))):
        lines.append(
            draw(
                st.sampled_from(
                    [">{n}", ">{n} ", ">{n} {d}", ">{n}\t{d}", ">{n} {d}>{d} {d}", "> {d}", ">"]
                )
            ).format(n=draw(_FA_WORD), d=draw(_FA_WORD))
        )
        for _ in range(draw(st.integers(0, 3))):
            lines.append(
                draw(st.sampled_from(["", " ", "  \t"]))
                if draw(st.integers(0, 5)) == 0
                else draw(st.text(alphabet="ACGTNM*>é", min_size=1, max_size=12))
            )
    ends = [draw(st.sampled_from(["\n", "\r\n"])) for _ in lines]
    text = "".join(line + end for line, end in zip(lines, ends))
    if text and draw(st.booleans()):
        text = text.rstrip("\r\n")  # no newline after the last record
    if draw(st.integers(0, 4)) == 0:
        text = "\ufeff" + text
    data = text.encode()
    if draw(st.integers(0, 9)) == 0:
        at = draw(st.integers(0, len(data)))
        data = data[:at] + b"\xff" + data[at:]
    # cut anywhere, or at a record start, one byte before or after it
    starts = [i + 1 for i in range(len(data) - 1) if data[i : i + 2] == b"\n>"]
    cut = st.integers(1, max(1, len(data) - 1))
    if starts:
        cut = cut | st.builds(int.__add__, st.sampled_from(starts), st.integers(-1, 1))
    cuts = draw(st.lists(cut, max_size=4))
    return data, sorted({c for c in cuts if 0 < c < len(data)})


def _fasta_dir(d, data: bytes, cuts: list[int]) -> str:
    """``data`` as plain, gzip, BGZF (one member per cut piece) and zstd
    FASTA files, one per hive partition ``codec=...`` of ``d``; returns
    the plain file's path."""
    import pyarrow as pa

    from exon_spark.sources.bgzf import BGZF_EOF, bgzf_block

    paths = {c: d / f"codec={c}" for c in ("plain", "gzip", "bgzf", "zstd")}
    for p in paths.values():
        p.mkdir()
    (paths["plain"] / "a.fasta").write_bytes(data)
    with gzip.open(paths["gzip"] / "b.fa.gz", "wb") as fh:
        fh.write(data)
    bounds = [0, *cuts, len(data)]
    (paths["bgzf"] / "c.fa.bgz").write_bytes(
        b"".join(bgzf_block(data[b:e]) for b, e in zip(bounds, bounds[1:])) + BGZF_EOF
    )
    with pa.CompressedOutputStream(str(paths["zstd"] / "d.fasta.zst"), "zstd") as fh:
        fh.write(data)
    return str(paths["plain"] / "a.fasta")


@settings(max_examples=25, deadline=None)
@given(drawn=_fasta_text())
def test_fasta_jvm_route_matches_python_datasource(spark, tmp_path_factory, drawn):
    """read_format's Java FASTA reader gives the Python DataSource's rows
    over a hive-partitioned directory of plain, gzip, BGZF and zstd files,
    or fails where it fails, and a plain file cut into byte ranges at the
    drawn points reads as the whole file's rows, or fails likewise."""
    from exon_spark.sources import read_format
    from exon_spark.sources.base import FilePartition
    from exon_spark.sources.jvm_fast import read_fasta_dsv2

    data, cuts = drawn
    d = tmp_path_factory.mktemp("fa")
    plain = _fasta_dir(d, data, cuts)
    jvm = read_format(spark, "fasta", str(d))
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "FastaScan 4 partition(s)" in plan and "(Python)" not in plan, plan
    got, jvm_err = _collect_or_error(jvm)
    want, py_err = _collect_or_error(spark.read.format("fasta").load(str(d)))
    assert (jvm_err is None) == (py_err is None), (jvm_err, py_err)
    assert got == want
    bounds = [0, *cuts, None]
    parts = [FilePartition(plain, "none", (), b, e) for b, e in zip(bounds, bounds[1:])]
    ranged, ranged_err = _collect_or_error(read_fasta_dsv2(spark, parts))
    assert (ranged_err is None) == (py_err is None), (ranged_err, py_err)
    if py_err is None:
        assert ranged == sorted((r[:3] for r in want if r[3] == "plain"), key=repr)


def test_fasta_truncated_gzip_fails_both_routes(spark, tmp_path):
    blob = gzip.compress(b">r1 d\nACGT\n>r2\nGG\n" * 50)
    (tmp_path / "t.fasta.gz").write_bytes(blob[: len(blob) // 2])
    from exon_spark.sources import read_format

    for df in (
        read_format(spark, "fasta", str(tmp_path)),
        spark.read.format("fasta").load(str(tmp_path)),
    ):
        with pytest.raises(Exception, match="(?i)end"):
            df.collect()



@pytest.mark.parametrize(
    "text, fails",
    [
        (b">r\xff1 d\nACGT\n", True),
        (b">r1 d\xc3\nACGT\n", True),
        (b">r1 d\nAC\n\xe0\x80GT\n", True),
        (b">r1 d\nAC\xed\xa0\x80GT\n", True),
        (b"\xff junk\n>r1 d\xc3\xa9\nAC\n\xc3\xa9GT\n", False),
    ],
)
def test_fasta_invalid_utf8_fails_both_routes(spark, tmp_path, text, fails):
    """A header or sequence that is not UTF-8 (a stray byte, a truncated
    or overlong form, a surrogate) fails both readers; text before the
    first header is never decoded."""
    from exon_spark.sources import read_format

    (tmp_path / "u.fasta").write_bytes(text)
    (tmp_path / "u.fa.gz").write_bytes(gzip.compress(text))
    for path in (tmp_path / "u.fasta", tmp_path / "u.fa.gz"):
        for df in (
            read_format(spark, "fasta", str(path)),
            spark.read.format("fasta").load(str(path)),
        ):
            if fails:
                with pytest.raises(Exception, match="(?i)utf-?8"):
                    df.collect()
            else:
                assert [tuple(r) for r in df.collect()] == [("r1", "dé", "ACéGT")]

# ------------------------------------------------ tabix text route parity


def _bgzip_blocks(text: bytes, path: str, sizes) -> None:
    """``text`` as BGZF blocks of the drawn uncompressed sizes (cycled), so
    lines straddle block boundaries at varied offsets."""
    from exon_spark.sources.bgzf import BGZF_EOF, bgzf_block

    with open(path, "wb") as fh:
        off, i = 0, 0
        while off < len(text):
            n = sizes[i % len(sizes)]
            fh.write(bgzf_block(text[off : off + n]))
            off, i = off + n, i + 1
        fh.write(BGZF_EOF)


_GFF_CHROMS = ("chr1", "chr2", "chr3")
_GFF_NOISE = ("#x\tsrc", "# comment", "", " ", "\t", "\t\t\t", " \t\x0b\x0c", "chr1\tx")


@st.composite
def _gff_text(draw) -> bytes:
    """Coordinate-sorted GFF whose lines are on the edges of the csv
    reader: '#' lines, blank, whitespace-only and tab-only lines (at most
    three tabs: a fifth field would have to be a number for the tabix
    builder) and short noise lines between records, empty and '.' fields,
    5-8 and 10-11 fields, features spanning up to 60 kb (several linear
    index windows), CRLF or LF ends."""
    field = st.sampled_from(["", ".", "x", "a b", '"q', 'q"', "#h"])
    lines = ["##gff-version 3"]
    for chrom in draw(st.lists(st.sampled_from(_GFF_CHROMS), unique=True, max_size=3)):
        for start in sorted(draw(st.lists(st.integers(1, 300_000), max_size=40))):
            end = start + draw(st.sampled_from([0, 10, 500, 20_000, 60_000]))
            attrs = draw(st.sampled_from(["ID=a", "ID=a;Name=b,c", ".", "", "k=v;;"]))
            fields = [chrom, draw(field), "gene", str(start), str(end),
                      draw(st.sampled_from([".", "1.5", "x"])), "+",
                      draw(st.sampled_from([".", "0"])), attrs]
            n = draw(st.sampled_from([9, 9, 9, 5, 7, 8, 10, 11]))
            fields = (fields + ["extra", ""])[:n]
            while draw(st.integers(0, 4)) == 0:
                lines.append(draw(st.sampled_from(_GFF_NOISE)))
            lines.append("\t".join(fields))
    end = draw(st.sampled_from(["\n", "\r\n"]))
    return "".join(line + end for line in lines).encode()


def _gff_files(d, text: bytes, sizes) -> tuple[str, str]:
    """``text`` as a plain .gff and a tabix-indexed .gff.gz in ``d``."""
    from exon_spark.sources.indexes import build_tabix_gff

    plain, gz = str(d / "t.gff"), str(d / "t.gff.gz")
    with open(plain, "wb") as fh:
        fh.write(text)
    _bgzip_blocks(text, gz, sizes)
    build_tabix_gff(gz)
    return plain, gz


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _python_route(fn):
    """``fn()`` with the session's jar disregarded: tabix text reads take
    the Python BGZF reader."""
    from unittest import mock

    import exon_spark.jvm

    with mock.patch.object(exon_spark.jvm, "codec_active", lambda _spark: False):
        return fn()


_REGION = st.one_of(
    st.sampled_from(_GFF_CHROMS + ("chrX",)),
    st.builds(
        lambda c, lo, span: f"{c}:{lo}-{lo + span}",
        st.sampled_from(_GFF_CHROMS + ("chrX",)),
        st.integers(1, 300_000),
        st.sampled_from([0, 100, 5_000, 80_000]),
    ),
)


@settings(max_examples=12, deadline=None)
@given(
    text=_gff_text(),
    sizes=st.lists(st.integers(37, 4096), min_size=1, max_size=4),
    regions=st.lists(_REGION, min_size=1, max_size=4).map(
        lambda rs: ",".join(rs + rs[:1])  # a duplicate region too
    ),
)
def test_gff_region_routes_agree(spark, tmp_path_factory, text, sizes, regions):
    """A GFF region read gives one multiset of rows on all three routes:
    the Java line source over the merged chunk groups, the Python
    chunk-group reader, and the no-index scan+filter of the plain file —
    overlapping, duplicate and absent-chromosome regions included."""
    from exon_spark.sources import read_format

    plain, gz = _gff_files(tmp_path_factory.mktemp("gffr"), text, sizes)
    df = read_format(spark, "gff", gz, regions=regions)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan bgzf-lines" in plan and "(Python)" not in plan, plan
    got = _rows(df)
    assert got == _python_route(lambda: _rows(read_format(spark, "gff", gz, regions=regions)))
    assert got == _rows(read_format(spark, "gff", plain, regions=regions))


@settings(max_examples=8, deadline=None)
@given(
    text=_gff_text(),
    sizes=st.lists(st.integers(37, 4096), min_size=1, max_size=4),
    n_fields=st.integers(3, 12),
)
def test_tabix_text_full_scan_matches_plain(spark, tmp_path_factory, text, sizes, n_fields):
    """A full GFF/GTF/BED scan of a .gz with a .tbi (the line source over
    linear-index cuts, and the Python reader of the same cuts) gives the
    rows of the plain file."""
    from exon_spark.sources import read_format

    plain, gz = _gff_files(tmp_path_factory.mktemp("gfff"), text, sizes)
    for fmt, opts in (("gff", {}), ("gtf", {}), ("bed", {"n_fields": n_fields})):
        df = read_format(spark, fmt, gz, **opts)
        assert "BatchScan bgzf-lines" in df._jdf.queryExecution().executedPlan().toString()
        want = _rows(read_format(spark, fmt, plain, **opts))
        assert _rows(df) == want, fmt
        assert _python_route(lambda: _rows(read_format(spark, fmt, gz, **opts))) == want, fmt


@pytest.mark.parametrize("end", ["\n", "\r\n", "\r"])
def test_tabular_line_ends_agree_across_routes(spark, tmp_path, end):
    """GFF lines end at '\n' only and drop one trailing '\r' on every
    route, as noodles reads them: a plain file, an unindexed .bgz (the
    BGZF codec) and a .gz with a .tbi (the Java line source). With lone
    '\r' ends every other record runs on into the next one's text."""
    from exon_spark.sources import read_format
    from exon_spark.sources.indexes import build_tabix_gff

    records = [
        f"chr1\tsrc\tgene\t{s}\t{s + 50}\t.\t+\t.\tID=g{s}" for s in range(100, 2100, 100)
    ]
    text = "##gff-version 3\n"
    for i, rec in enumerate(records):
        text += rec + (end if i % 2 == 0 else "\n")
    data = (text[:-1] + end).encode()  # the last line ends with `end` too
    plain, bgz, gz = tmp_path / "t.gff", tmp_path / "t.gff.bgz", tmp_path / "t.gff.gz"
    plain.write_bytes(data)
    _bgzip_blocks(data, str(bgz), [97, 700])
    _bgzip_blocks(data, str(gz), [97, 700])
    build_tabix_gff(str(gz))

    want = []
    for line in data.split(b"\n"):
        line = line[:-1] if line.endswith(b"\r") else line
        if line and not line.startswith(b"#"):
            fields = line.decode().split("\t")
            want.append((fields[0], int(fields[3]), int(fields[4]), fields[8]))
    if end == "\r":
        assert len(want) == len(records) // 2 and "\r" in want[0][3]

    def rows(path):
        def attrs(r):
            return ";".join(f"{k}={','.join(v)}" for k, v in r.attributes.items())

        df = read_format(spark, "gff", str(path))
        return sorted((r.seqname, r.start, r.end, attrs(r)) for r in df.collect())

    assert "BatchScan bgzf-lines" in (
        read_format(spark, "gff", str(gz))._jdf.queryExecution().executedPlan().toString()
    )
    assert rows(plain) == sorted(want)
    assert rows(bgz) == sorted(want)
    assert rows(gz) == sorted(want)


@st.composite
def _vcf_text(draw) -> bytes:
    """Coordinate-sorted VCF with '.' fields, multi-valued id/alt/filter,
    odd qual values, and no, one or two sample columns, the layout drawn
    per record (so one file mixes 8-, 10- and 11-column records)."""
    lines = ["##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"]
    layouts = [[], ["GT", "0/1"], ["GT:DP", "0/1:3", "1/1:."]]
    for chrom in draw(st.lists(st.sampled_from(_GFF_CHROMS), unique=True, max_size=3)):
        for pos in sorted(draw(st.lists(st.integers(1, 300_000), max_size=40))):
            fields = [
                chrom, str(pos),
                draw(st.sampled_from([".", "rs1", "rs1;rs2"])),
                draw(st.sampled_from(["A", "ACG"])),
                draw(st.sampled_from([".", "T", "T,G"])),
                draw(st.sampled_from([".", "50", "0.5", "1e3"])),
                draw(st.sampled_from([".", "PASS", "q10;s50"])),
                draw(st.sampled_from([".", "DP=5", "DP=5;AF=0.5"])),
            ]
            fields += draw(st.sampled_from(layouts))
            lines.append("\t".join(fields))
    return ("\n".join(lines) + "\n").encode()


@settings(max_examples=8, deadline=None)
@given(text=_vcf_text(), sizes=st.lists(st.integers(37, 4096), min_size=1, max_size=4))
def test_vcf_full_scan_dsv2_matches_python_datasource(spark, tmp_path_factory, text, sizes):
    """A full scan of a .vcf.gz with a .tbi reads through VcfBgzfSource
    (VcfSource.plan_partitions' range partitions) and gives the Python
    DataSource's rows on all nine base columns."""
    from exon_spark.sources import read_format
    from exon_spark.sources.indexes import build_tabix_vcf

    gz = str(tmp_path_factory.mktemp("vcff") / "t.vcf.gz")
    _bgzip_blocks(text, gz, sizes)
    build_tabix_vcf(gz)
    df = read_format(spark, "vcf", gz)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan vcf-bgzf" in plan and "(Python)" not in plan, plan
    cols = ["chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats"]
    assert _rows(df.select(cols)) == _rows(spark.read.format("vcf").load(gz).select(cols))
