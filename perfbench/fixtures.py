"""Seeded benchmark inputs, cached by (size, seed) under perfbench/.cache/.

Every file the program reads is generated here from the run's seed: the
same (size, seed) always yields byte-identical inputs. Alongside the
files each generator records the truth the output checks compare against
(row counts per chromosome, methionine-start count, spectra count), so no
check ever asks the program under test for its own expected answer.

The VCF and BAM go through ``exon_spark.queries.fixtures_xl`` (the
vectorized generators that also write the .tbi/.bai); FASTA, mzML and the
curation tables are generated here.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

# Input sizes. "full" is what the benchmark measures; "tiny" only exists so
# the smoke test can run every op and check in well under a minute.
SIZES = {
    "full": {
        "vcf_bytes": 8_000_000,
        "bam_bytes": 5_000_000,
        "fasta_seqs": 20_000,
        "mzml_spectra": 1_000,
        "docs": 3_000,
    },
    "tiny": {
        "vcf_bytes": 1_000_000,
        "bam_bytes": 1_000_000,
        "fasta_seqs": 2_000,
        "mzml_spectra": 100,
        "docs": 600,
    },
}

# which inputs each workload reads (generation is per workload, so a run
# pays only for its own files)
NEEDS = {
    "region_lookup": ("vcf", "bam"),
    "batch": ("fasta", "vcf", "bam", "mzml", "docs"),
}

_PROTEIN = np.frombuffer(b"ACDEFGHIKLNPQRSTVWY", np.uint8)  # no M
_FIXTURE_VERSION = "3"


def fixture_dir(size: str, seed: int) -> str:
    return os.path.join(CACHE, f"{size}-s{seed}-v{_FIXTURE_VERSION}")


def ensure(workload: str, size: str, seed: int) -> dict:
    """Generate (once per size/seed) the inputs ``workload`` reads and
    return their manifest: paths, on-disk bytes, row counts and truth."""
    root = fixture_dir(size, seed)
    os.makedirs(root, exist_ok=True)
    dims = SIZES[size]
    manifest = {"dir": root}
    for kind in NEEDS[workload]:
        sub = os.path.join(root, kind)
        done = os.path.join(sub, "manifest.json")
        if not os.path.exists(done):
            shutil.rmtree(sub, ignore_errors=True)
            os.makedirs(sub)
            info = _GENERATORS[kind](sub, dims, seed)
            with open(done + ".tmp", "w") as fh:
                json.dump(info, fh)
            os.replace(done + ".tmp", done)
        with open(done) as fh:
            manifest[kind] = json.load(fh)
    return manifest


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


# ------------------------------------------------------------------ VCF/BAM


def _gen_vcf(sub: str, dims: dict, seed: int) -> dict:
    from exon_spark.queries.fixtures_xl import gen_vcf_xl

    path = gen_vcf_xl(sub, dims["vcf_bytes"], workers=4, seed=seed)
    with open(os.path.join(sub, "vcf_stats.json")) as fh:
        stats = json.load(fh)
    return {
        "path": path,
        "bytes": _du(path),
        "rows": stats["rows"],
        "per_chrom": stats["per_chrom"],
        "seed": seed,
    }


def _gen_bam(sub: str, dims: dict, seed: int) -> dict:
    from exon_spark.queries.fixtures_xl import gen_bam_xl

    path = gen_bam_xl(sub, dims["bam_bytes"], workers=4, seed=seed + 1)
    with open(os.path.join(sub, "bam_stats.json")) as fh:
        stats = json.load(fh)
    return {
        "path": path,
        "bytes": _du(path),
        "rows": stats["rows"],
        "per_chrom": stats["per_chrom"],
        "seed": seed + 1,
    }


def positions(info: dict) -> dict[str, np.ndarray]:
    """Sorted 1-based record positions per chromosome, regenerated from
    the generator's seed (the same layout function wrote the file)."""
    from exon_spark.queries.fixtures_xl import CHROMS, _chrom_layout

    ids, pos, _ = _chrom_layout(info["rows"], info["seed"])
    return {name: pos[ids == cid] for cid, (name, _) in enumerate(CHROMS)}


# -------------------------------------------------------------------- FASTA


def _gen_fasta(sub: str, dims: dict, seed: int) -> dict:
    """Protein FASTA, ~25% methionine starts, written three ways: one
    plain file, 8 gzip shards and 8 zstd shards of the same records."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n = dims["fasta_seqs"]
    lens = rng.integers(120, 481, n)
    m_start = rng.random(n) < 0.25
    flat = _PROTEIN[rng.integers(0, len(_PROTEIN), int(lens.sum()))]
    ends = np.cumsum(lens)
    flat[(ends - lens)[m_start]] = ord("M")
    blob = flat.tobytes()
    recs = [
        b">sp|P%06d|SYN%d synthetic protein %d\n%s\n"
        % (i, i % 97, i, blob[e - ln : e])
        for i, (e, ln) in enumerate(zip(ends.tolist(), lens.tolist()))
    ]
    plain = os.path.join(sub, "prot.fasta")
    with open(plain, "wb") as fh:
        fh.write(b"".join(recs))
    for d in ("gzip", "zstd"):
        os.makedirs(os.path.join(sub, d))
    for s in range(8):
        part = b"".join(recs[s::8])
        with gzip.open(
            os.path.join(sub, "gzip", f"shard{s}.fasta.gz"), "wb", compresslevel=1
        ) as fh:
            fh.write(part)
        with pa.CompressedOutputStream(
            os.path.join(sub, "zstd", f"shard{s}.fasta.zst"), "zstd"
        ) as fh:
            fh.write(part)
    return {
        "plain": plain,
        "gzip": os.path.join(sub, "gzip"),
        "zstd": os.path.join(sub, "zstd"),
        "bytes_plain": _du(plain),
        "bytes_gzip": _du(os.path.join(sub, "gzip")),
        "bytes_zstd": _du(os.path.join(sub, "zstd")),
        "rows": n,
        "m_start": int(m_start.sum()),
    }


# --------------------------------------------------------------------- mzML


def _gen_mzml(sub: str, dims: dict, seed: int) -> dict:
    import base64

    rng = np.random.default_rng([seed, 2])
    n = dims["mzml_spectra"]
    path = os.path.join(sub, "spectra.mzml")
    parts = [
        '<?xml version="1.0"?>\n<mzML xmlns="http://psi.hupo.org/ms/mzml">\n'
        f' <run id="r1"><spectrumList count="{n}">\n'
    ]
    for i in range(n):
        k = int(rng.integers(50, 200))
        mz = np.sort(rng.uniform(100.0, 2000.0, k)).astype("<f8")
        inten = rng.uniform(0.0, 1e6, k).astype("<f8")
        parts.append(
            f'  <spectrum id="scan={i}" index="{i}">\n'
            '   <binaryDataArrayList count="2">\n'
            '    <binaryDataArray><cvParam accession="MS:1000523" name="64-bit float"/>\n'
            '     <cvParam accession="MS:1000514" name="m/z array"/>\n'
            f"     <binary>{base64.b64encode(mz.tobytes()).decode()}</binary></binaryDataArray>\n"
            '    <binaryDataArray><cvParam accession="MS:1000523" name="64-bit float"/>\n'
            '     <cvParam accession="MS:1000515" name="intensity array"/>\n'
            f"     <binary>{base64.b64encode(inten.tobytes()).decode()}</binary></binaryDataArray>\n"
            "   </binaryDataArrayList>\n"
            "  </spectrum>\n"
        )
    parts.append(" </spectrumList></run>\n</mzML>\n")
    with open(path, "w") as fh:
        fh.write("".join(parts))
    return {"path": path, "bytes": _du(path), "rows": n}


# ------------------------------------------------------------ curation data

_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "big fast slow row key hash group agg batch scan join sort filter part "
    "order line query customer dup"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _gen_docs(sub: str, dims: dict, seed: int) -> dict:
    """``documents`` (doc_id, text, lang, source, n_chars), the schema
    the curation queries read. Planted structure gives the ops real work:
    ~1% exact duplicate documents, ~5% near duplicates (a few words
    changed) and ~25% multi-line documents sharing boilerplate lines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n = dims["docs"]
    vocab = np.array(_VOCAB)
    boiler = [
        " ".join(vocab[rng.integers(0, len(vocab), 8)]) for _ in range(20)
    ]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 15)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
            continue
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]
        body = " ".join(words)
        if r < 0.31:
            lines = [body] + [
                boiler[int(k)] for k in rng.integers(0, len(boiler), 2)
            ]
            rng.shuffle(lines)
            body = "\n".join(lines)
        texts.append(body)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[int(k)] for k in rng.integers(0, 7, n)]),
            "source": pa.array([f"src{k % 20}" for k in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    docs_path = os.path.join(sub, "documents.parquet")
    pq.write_table(docs, docs_path)

    return {
        "dir": sub,
        "bytes": _du(docs_path),
        "rows": n,
    }


_GENERATORS = {
    "vcf": _gen_vcf,
    "bam": _gen_bam,
    "fasta": _gen_fasta,
    "mzml": _gen_mzml,
    "docs": _gen_docs,
}


if __name__ == "__main__":
    import sys

    ensure(sys.argv[1], sys.argv[2], int(sys.argv[3]))
