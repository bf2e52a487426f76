"""Bloom-filter incremental exact-dedup — the map-only membership path
for ingestion pipelines where the accepted corpus dwarfs every batch.

Beyond-reference layer (no exon counterpart).

``dedup_against`` (minhash) and an exact-digest anti-join both shuffle
the incoming batch against index-derived rows. At 100 TB the standing
corpus has billions of documents; what a front-door filter needs is a
*constant-size summary* of the corpus that every executor can hold,
so each incoming document is tested with zero shuffle. That summary is
a Bloom filter:

  * **build** — k = ``round(m/n ln 2)`` bit positions per index doc,
    each ``pmod(xxhash64(text, seed_i), m)`` (pure JVM, codegen'd),
    exploded and folded into ``m/64`` bitmap words with one map-side
    combined ``bit_or`` aggregation. The shuffle carries at most
    ``m/64`` (word, bits) rows — proportional to the SUMMARY size, not
    the corpus — and the driver collect is the bitmap itself
    (~1.2 bytes/doc at fpp=1%: 100M docs -> ~120 MB, the same bitmap
    any engine building this filter must hold somewhere).
  * **test** — the k positions are computed by the SAME JVM xxhash64
    expressions (bit-identical to build; no Python hashing anywhere),
    and one Arrow-batched pandas UDF indexes the broadcast numpy bitmap
    (vectorized gather, no per-row Python loop). Map-only: the new
    batch never shuffles, so it composes with ``readStream`` append
    mode.

Contract: **no false negatives** — ``maybe_dup = False`` proves the
text is NOT in the index. False positives occur at ~``fpp`` (docs
wrongly flagged as seen); pipelines that cannot tolerate dropping
~fpp of genuinely-new docs route the flagged residue (|batch| * fpp
rows, not |batch|) through the exact digest anti-join.

The filter is a plain driver object with ``to_bytes``/``from_bytes``
so a standing pipeline persists it next to the corpus and unions new
batches in with ``add_batch`` (bit_or of bitmaps) instead of
rebuilding.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_MAGIC = b"XBLM1"


@dataclass
class BloomFilter:
    """m-bit Bloom filter as ``m/64`` little-endian uint64 words."""

    m: int
    k: int
    n_items: int
    bits: np.ndarray  # uint64[m/64]

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<QIQ", self.m, self.k, self.n_items)
        return head + self.bits.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        if raw[:5] != _MAGIC:
            raise ValueError("not a serialized BloomFilter (bad magic)")
        m, k, n = struct.unpack_from("<QIQ", raw, 5)
        bits = np.frombuffer(raw[5 + 20 :], dtype="<u8").copy()
        if bits.size != (m + 63) // 64:
            raise ValueError("BloomFilter bitmap length mismatch")
        return cls(m=m, k=k, n_items=n, bits=bits)

    @property
    def fill_ratio(self) -> float:
        """Fraction of set bits — sanity telemetry (≈0.5 at capacity)."""
        return float(np.unpackbits(self.bits.view(np.uint8)).mean())

    def save(self, path: str, spark=None) -> None:
        """Persist next to the corpus (any Hadoop-FS path the cluster
        can write — the ``minhash_index`` standing-state convention)."""
        from exon_spark.operators.state import write_state_bytes

        write_state_bytes(path, self.to_bytes(), spark)

    @classmethod
    def load(cls, path: str, spark=None) -> "BloomFilter":
        from exon_spark.operators.state import read_state_bytes

        return cls.from_bytes(read_state_bytes(path, spark))


def _params(num_items: int, fpp: float) -> tuple[int, int]:
    """Standard optimal sizing: m = -n ln p / (ln 2)^2, k = m/n ln 2."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, num_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)  # whole words
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(text: Column, m: int, k: int) -> Column:
    """array<bigint> of the k bit positions for one key — pure JVM
    (codegen'd xxhash64 per seed), shared verbatim by build and test so
    the no-false-negative contract holds by construction."""
    return F.array(
        *[F.pmod(F.xxhash64(text, F.lit(i)), F.lit(m)) for i in range(k)]
    )


def bloom_build(
    index: DataFrame,
    text_col: str = "text",
    fpp: float = 0.01,
    num_items: int | None = None,
) -> BloomFilter:
    """Build a Bloom filter over ``index[text_col]`` (nulls ignored).

    ``num_items`` sizes the filter; when omitted, one ``count()`` job
    runs first (pass the known corpus size in a standing pipeline to
    skip it). Build cost: one projection + explode (k rows/doc, two
    bigint columns) + map-side-combined ``bit_or`` groupBy on at most
    ``m/64`` keys + a bitmap-sized driver collect.
    """
    if num_items is None:
        num_items = index.where(F.col(text_col).isNotNull()).count()
    m, k = _params(num_items, fpp)
    bits = np.zeros((m + 63) // 64, dtype=np.uint64)
    _fold_words(index, text_col, m, k, bits)
    return BloomFilter(m=m, k=k, n_items=num_items, bits=bits)


def _fold_words(
    df: DataFrame, text_col: str, m: int, k: int, bits: np.ndarray
) -> None:
    """OR ``df``'s bit positions into ``bits`` in place (one explode +
    map-side-combined bit_or groupBy on at most m/64 keys).

    The driver-side fold is columnar: ``toArrow()`` ships the (word,
    bits) result as two flat buffers and one vectorized scatter ORs
    them in — at the module's own 100 TB story (100M docs -> ~15M
    bitmap words) that is two 15M-element arrays and one numpy
    statement, not 15M Row objects and a Python loop (the r9-verdict
    finding; measured 11.9x on the 7.5M-word summary of a 50M-item
    build, 31s -> 2.6s, SCALE.md "r10/r11 operator probes").
    """
    tbl = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(_positions(F.col(text_col), m, k)).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("word"),
            # F.shiftleft takes a literal shift amount; spell it in SQL
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
        )
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
        .toArrow()
    )
    if tbl.num_rows:
        words = tbl.column("word").to_numpy(zero_copy_only=False)
        # bit_or ran on signed longs; reinterpret the payload, don't convert
        vals = tbl.column("bits").to_numpy(zero_copy_only=False).view(np.uint64)
        # groupBy keys are distinct, so plain indexed |= is a correct
        # scatter (no duplicate-index hazard needing bitwise_or.at)
        bits[words] |= vals


def bloom_add_batch(
    bf: BloomFilter, batch: DataFrame, text_col: str = "text"
) -> BloomFilter:
    """Fold a new accepted batch into an existing filter (bit_or of
    bitmaps; m/k fixed at build time). The fpp guarantee degrades as
    total items pass the original ``num_items`` sizing — watch
    ``fill_ratio`` (>0.5 means resize on the next rebuild)."""
    bits = bf.bits.copy()
    _fold_words(batch, text_col, bf.m, bf.k, bits)
    return BloomFilter(m=bf.m, k=bf.k, n_items=bf.n_items, bits=bits)


def bloom_dedup_against(
    new: DataFrame,
    bf: BloomFilter,
    text_col: str = "text",
    flag_col: str = "maybe_dup",
) -> DataFrame:
    """Flag each incoming doc whose text is *possibly* in the filtered
    corpus. Adds ``flag_col`` (boolean; null text -> false): False is
    PROOF the text is new; True is correct for every real duplicate and
    wrong at ~fpp for new docs. Map-only — zero shuffle, streaming-safe
    (append mode).
    """
    sc = new.sparkSession.sparkContext
    from exon_spark.operators.state import track_broadcast

    bc = track_broadcast(sc.broadcast(bf.bits))
    k = bf.k

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def probe(pos):
        import numpy as np
        import pandas as pd

        if len(pos) == 0:
            return pd.Series([], dtype="boolean")
        bits = bc.value
        arr = np.array([p if p is not None else [0] * k for p in pos], dtype=np.int64)
        null = np.array([p is None for p in pos])
        words = bits[(arr >> 6)]
        mask = np.uint64(1) << (arr & 63).astype(np.uint64)
        hit = ((words & mask) != 0).all(axis=1) & ~null
        return pd.Series(hit)

    return new.withColumn(
        flag_col,
        probe(
            F.when(
                F.col(text_col).isNotNull(),
                _positions(F.col(text_col), bf.m, bf.k),
            )
        ),
    )
