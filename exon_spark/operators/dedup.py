"""Deduplication operators for large-scale training-data pipelines.

Beyond-parity layer (repo north star): exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard. All dedup operators are pure DataFrame/Column expressions —
no Python in the execution path — so the plans are whole-stage-codegen'd and
scale to a 1000-executor cluster. (One deliberate exception lives here as a
shared numeric helper, not a dedup operator: ``_glibc_ln``, the Arrow-batched
libm-ln used by model-side float-parity paths across text/classify/sampling —
this module is the import root they already share, the h32/tokens precedent.)

Scale design notes:
* ``exact_dedup``: one hash-groupBy shuffle on a 128-bit digest; at 100 TB
  the digest (16 bytes) shuffles, not the document text.
* ``minhash`` / ``simhash``: signatures are computed map-side from the
  per-doc shingle *array* (``array_min`` / ``aggregate`` over ``transform``)
  — zero shuffles until the band join, which carries doc_id + a band hash.
  The row-based ``minhash_signatures`` (explode + groupBy with map-side
  partial min) remains for callers that already have (doc, shingle) rows.
* ``lsh_candidate_pairs``: bucket join on (band, signature) — only docs
  sharing a full band signature meet; skew-safe under AQE. All-pairs work is
  confined to within-bucket, as in the classic MMDS formulation.
* ``simhash_pairs``: 4x16-bit banding over the 64-bit fingerprint with the
  pigeonhole guarantee — any pair with Hamming distance <= 3 must agree
  exactly on one of the 4 bands, so the band join is exact (no recall
  loss) for radius 3, and 65,536 buckets per band keep the self-join
  near-linear at corpus scale.

Determinism: hash functions derive from md5 (first 8 hex chars -> 32-bit int)
with fixed affine permutations mod p = 2^31 - 1; every step reproduces
bit-for-bit in any engine (the DuckDB oracles in queries/pipeline.py mirror
the arithmetic exactly).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from exon_spark.operators import regime

MERSENNE_P = 2_147_483_647  # 2^31 - 1 (prime)

# fixed affine permutation constants (a, b); a,b < 2^30 so a*h + b < 2^62
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_664_525, 1_013_904_223),
    (22_695_477, 1),
    (69_069, 362_437),
    (214_013, 2_531_011),
    (134_775_813, 1),
    (1_103_515_245, 12_345),
    (747_796_405, 2_891_336_453 % MERSENNE_P),
    (62_089_911, 4_294_967_291 % MERSENNE_P),
    (32_310_901, 626_627_237),
    (29_943_829, 1_013_904_223),
    (248_006_887, 2_707_475_621 % MERSENNE_P),
    (104_729, 15_485_863),
    (413_158_511, 119_418_959),
    (25_214_903, 11),
    (17_000_069, 8_191),
    (999_999_937, 97),
]


# _glibc_ln misuse guard: per-Python-worker cumulative element cap. Model
# tables (distinct grams, Zipf-bounded) land well under this even at sf100
# (largest measured model arm ~1e8 rows / 32 workers ≈ 3e6 per worker); a
# corpus-sized fact column (1e9+ rows) trips it on every worker long before
# the per-element Python loop silently burns hours.
_GLIBC_LN_MAX_ROWS = 50_000_000


def _glibc_ln(col: Column, max_rows: int | None = _GLIBC_LN_MAX_ROWS) -> Column:
    """Natural log computed by CPython's ``math.log`` (the system libm)
    instead of the JVM.

    Cross-engine float-parity hardening (r11, VERDICT r10 wrong #1):
    the LM-ladder nll is ``round(-ln(p), 6)``, and JVM ``Math.log``
    (fdlibm-flavored, ≤1 ulp error) occasionally differs from the system
    libm's ``log`` by one ulp — when that lands exactly on the 6-dp
    rounding boundary the engines disagree (measured: 1 row in ~50M
    scored tokens at sf10, CORRECTNESS_sf10_r10.txt). DuckDB's ``ln``
    and CPython's ``math.log`` both call the host's libm, so on a host
    where driver, executors, and the oracle link the SAME libm (glibc
    here — the container this claim is tested on) the UDF is
    bit-identical to the oracle's ln. That is a per-host premise, not a
    portability guarantee: on musl/macOS or a heterogeneous cluster the
    engines may link different libms and the parity pin
    (tests/test_text_ops.py::test_glibc_ln_matches_duckdb, 2.8M samples
    incl. the count-ratio input domain) must be re-run on the actual
    hosts before relying on oracle-exactness. numpy.log is NOT usable
    here — its SIMD float64 path diverges from libm on ~22% of inputs
    on this host.

    Cost discipline: only ever applied to MODEL tables (distinct grams,
    Zipf-bounded), never to corpus-sized fact rows — the callers join
    facts to the precomputed nll. This is a per-element Python loop
    (forced: vectorizing breaks the parity it exists for), so a
    corpus-sized input is a silent cost cliff; ``max_rows`` enforces the
    contract with a per-worker, per-invocation cumulative cap that
    raises with guidance instead of burning hours (r11 verdict wrong
    #3). Pass ``None`` for a
    genuinely huge model table — and reconsider the plan if you do."""
    import uuid

    from pyspark.sql.functions import pandas_udf

    cap = None if max_rows is None else int(max_rows)
    inv_key = uuid.uuid4().hex  # scopes the cap to THIS invocation

    @pandas_udf("double")
    def _ln(s):
        import math

        import pandas as pd

        if cap is not None:
            # counter lives on a stdlib module keyed by invocation, so it
            # survives per-task UDF re-deserialization in a reused Python
            # worker (a true per-worker cumulative count, not per-task)
            # without accumulating across a session's many legitimate
            # model-table queries
            import builtins

            reg = getattr(builtins, "_exon_glibc_ln_rows", None)
            if reg is None:
                reg = {}
                builtins._exon_glibc_ln_rows = reg
            seen = reg.get(inv_key, 0) + len(s)
            reg[inv_key] = seen
            if seen > cap:
                raise RuntimeError(
                    f"_glibc_ln processed >{cap} rows in one worker — this "
                    "per-element libm loop is for Zipf-bounded MODEL tables "
                    "(distinct grams), not corpus-sized fact columns; join "
                    "facts to a precomputed model-side nll instead, or pass "
                    "max_rows=None if the model table is genuinely this big"
                )
        return pd.Series(
            [None if x is None else math.log(x) for x in s], dtype="float64"
        )

    return _ln(col)


def quant_micro(col: Column, scale: float = 1_000_000.0) -> Column:
    """Portable quantizer to integral ``scale``-ths: ``floor(x*scale + 0.5)``
    — pure IEEE mul/add/floor, bit-identical across JVM, DuckDB and CPython,
    unlike ``round(x, k)`` whose semantics differ between engines even on
    identical doubles (Spark rounds the shortest decimal repr, DuckDB an fp
    product — the second root cause of the q52 sf10 last-ulp row, SCALE.md
    r11). Oracle spelling: ``cast(floor(x * 1000000.0 + 0.5) as bigint)``."""
    return F.floor(col * F.lit(scale) + F.lit(0.5))


def quant_avg(
    sum_col: Column,
    n_col: Column,
    in_scale: float = 1_000_000.0,
    out_scale: float = 10_000.0,
) -> Column:
    """Quantized average of ``quant_micro`` units: sum/n de-scaled, then
    floor-quantized to ``1/out_scale`` — the engine-portable spelling of
    ``round(avg, k)``. Oracle: ``floor(cast(s as double) / cast(n as double)
    / 1000000.0 * 10000.0 + 0.5) / 10000.0`` (operand order must match)."""
    return (
        F.floor(
            sum_col.cast("double")
            / n_col.cast("double")
            / F.lit(in_scale)
            * F.lit(out_scale)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(out_scale)
    )


def wide_keys(*cols: Column | str) -> "list[Column]":
    """128-bit composite hashed join key as TWO xxhash64 halves (aliased
    ``_k1``/``_k2``) over the same input columns — the second half is the
    same hash with a constant domain-separator column prepended, so the
    pair behaves as independent 64-bit hashes of the tuple.

    Seed-independence assumption: Spark's multi-column ``xxhash64``
    chains the columns, each hashed with the previous result as its seed,
    so the prepended ``64`` only changes the seed the tuple is hashed
    under (42 for ``_k1``, ``xxhash64(64)`` for ``_k2``). The 128-bit
    bound below holds only if xxhash64 under two fixed seeds acts as two
    independent random functions on the corpus's keys. That is an
    empirical property of the hash, not a proven one: xxhash64 is not
    cryptographic, so keys chosen adversarially to collide under both
    seeds are not ruled out.

    Why (r13, VERDICT r12 #3): a 64-bit key gives even odds of ONE
    collision at ~4.3e9 distinct keys (birthday bound). A 100 TB corpus's
    n-gram vocabulary is 1e10-1e11 keys, so collisions are *expected*
    there, and on an inner scoring join a collision silently duplicates
    scored rows (inflating n_tokens/counts) rather than perturbing one
    score. Two halves put the bound at ~|V|^2/2^129 — ~1e-17 at |V|=1e11,
    i.e. never.

    Join with ``wide_key_cond`` (equi on ``_k1`` + residual on ``_k2``),
    NOT on ``["_k1", "_k2"]``: a two-column equi-join loses Spark's
    single-long-key hashed-relation fast path and measured +60% on the
    q42 scoring rung at the sf10 replica (2.9 -> 4.6-5.9 s warm), while
    the residual spelling measures equal to the single-key join (2.85 vs
    2.91 s) — the extra half rides as an 8-byte payload column and one
    XOR per matched row."""
    return [
        F.xxhash64(*cols).alias("_k1"),
        F.xxhash64(F.lit(64), *cols).alias("_k2"),
    ]


def wide_key_cond(left: DataFrame, right: DataFrame) -> Column:
    """Join condition for two frames carrying ``wide_keys`` columns:
    equi-join on ``_k1`` (keeps the single-long-key fast path — see
    ``wide_keys``) plus a residual 128-bit completeness check on ``_k2``.
    The residual is spelled ``xor == 0`` so Catalyst's equi-key extraction
    cannot lift it into a second join key (both sides appear in one
    expression), and XOR — unlike subtraction — cannot overflow under
    ANSI arithmetic."""
    return (left["_k1"] == right["_k1"]) & (
        left["_k2"].bitwiseXOR(right["_k2"]) == 0
    )


def h32(col: Column | str) -> Column:
    """Deterministic 32-bit hash: first 8 hex chars of md5 as bigint.
    Mirrors ``('0x' || substr(md5(x),1,8))::bigint`` in DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def fanout_repartition(df: DataFrame) -> DataFrame:
    """Pre-spread the input of a fan-out-heavy operator (shingle/window
    explodes multiply rows 100-1000x AFTER the scan).

    Parquet splits at row-group granularity, so a small input — one row
    group, or one file smaller than maxPartitionBytes — arrives as a
    single partition and the entire fan-out stage runs on one core no
    matter how many the cluster has. One cheap shuffle of the (small)
    input fixes that. Guarded to be inert at warehouse scale: inputs
    already wider than half the cores pass through untouched, so big
    tables never pay a redundant exchange. Deliberately NOT applied in
    the shared table() reader: measured at sf0.1, blanket repartition
    costs +0.3-1.0s on every light query (exchange + task overhead)
    while only the fan-out operators win.

    The partition COUNT alone is not a safe signal: Spark byte-splits a
    big single-row-group parquet into many PHANTOM partitions (the split
    that contains the row-group start gets every row, the rest are
    empty), which made a 10x-replica fan-out run on one core behind a
    healthy-looking 23-partition scan (q23: 43x wall-clock at 10x data,
    SCALE.md r9). When the input is a local parquet scan, a driver-side
    footer sniff (bounded to 8 files) checks that the claimed
    parallelism is backed by actual row groups; remote/object-store
    inputs skip the sniff and trust the partition count (at warehouse
    scale per-file row groups are plentiful, and footer reads over the
    network are not free)."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        floor = max(2, target // 2)
        if df.rdd.getNumPartitions() < floor:
            return df.repartition(target)
        files = [f for f in df.inputFiles() if f.endswith(".parquet")]
        local = [f[7:] for f in files if f.startswith("file:///")]
        if files and len(files) < floor and len(local) == len(files):
            import pyarrow.parquet as _pq

            groups = 0
            for f in local[:8]:
                groups += _pq.ParquetFile(f).metadata.num_row_groups
                if groups >= floor:
                    break
            est = groups * max(1, len(local) // min(len(local), 8))
            if est < floor:
                return df.repartition(target)
    except Exception:
        pass  # connect session / non-file input: leave as-is
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via 128-bit digest groupBy: one row per distinct text with
    the surviving (minimum) id and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist (``MEMORY_AND_DISK``, columnar) a frame that several
    downstream branches read. Lineage is kept: a cached block lost with
    its executor is recomputed from the plan, so the query survives
    executor loss (pinned by tests/test_executor_loss.py).

    ``eager`` fills the cache NOW with one count, for consumers that are
    *concurrently scheduled* stages of one job (e.g. the two sides of a
    self-join): left lazy, each of them recomputes the uncached subtree.
    Left lazy when the consumers run one after another: the first fills
    the cache and the rest read it. Each call site's form (eager, lazy,
    or no call at all) is the cheapest in a per-site A/B (SCALE.md
    "Shared-subtree materialization").

    The frame lives until the enclosing ``state.broadcast_scope`` exits
    (evaluate the result inside it); with no scope open it stays cached
    for the session."""
    from pyspark.storagelevel import StorageLevel

    from exon_spark.operators.state import track_frame

    df = track_frame(df.persist(StorageLevel.MEMORY_AND_DISK))
    if eager:
        df.count()
    return df


def _materialize_all(dfs: "list[DataFrame]") -> "tuple[list[DataFrame], list[int]]":
    """Eagerly materialize several INDEPENDENT frames with their count
    jobs overlapped from driver threads (guide §2.6); returns the frames
    and their row counts. Each count is a separate action whose stage
    tail leaves most cores idle, so running them back-to-back pays the
    sum of the tails. Spark's FIFO scheduler backfills the next job's
    tasks onto cores the current job's tail has freed, so the overlapped
    wall time approaches the max instead of the sum (measured: lm_ladder's
    vocab/bigram/trigram fits, sf0.1 1.9 -> 1.3 s for the three jobs).

    The frames MUST be mutually independent (none reads another's
    output) and must not share an UNMATERIALIZED expensive subtree —
    concurrent jobs would compute that subtree once per thread, since
    nothing has populated a cache entry yet. Callers materialize the
    shared parent first (lm_ladder's ``ta``), exactly as they already
    did for correctness of the sequential spelling."""
    from pyspark import InheritableThread

    frames = [_materialize(d) for d in dfs]
    counts: list = [None] * len(dfs)
    errs: list = [None] * len(dfs)

    def run(i: int) -> None:
        try:
            counts[i] = frames[i].count()
        except BaseException as e:  # re-raised on the caller thread below
            errs[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(dfs))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errs:
        if e is not None:
            raise e
    return frames, counts


def shingled_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """(doc_id, sh: array<string>) — the distinct shingle set per doc as an
    array column, computed entirely map-side (no explode-to-rows, no
    shuffle). Docs shorter than n tokens are dropped, matching
    ``shingle_rows``.

    Both the token array and the shingle array are pinned behind
    ``explode(array(...))`` Generate barriers: without them Catalyst
    inlines ``split(text)`` into every ``element_at``/``size`` consumer
    (~5x per shingle — measured 10x slowdown end-to-end), and the final
    size filter would re-evaluate the whole shingle transform."""
    # warmed A/B at sf0.1: spreading a narrow input wins ~0.1-0.3s for
    # every consumer (minhash/simhash/jaccard partial stages all run
    # before their first exchange); inert on already-wide inputs
    df = fanout_repartition(df)
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col))).alias("toks"),
    ).filter(F.size("toks") >= n)
    sh = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            ),
            lambda s: s != "",
        )
    )
    return toked.select("doc_id", F.explode(F.array(sh)).alias("sh")).filter(
        F.size("sh") > 0
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    hashed: bool = False,
) -> DataFrame:
    """(id, shingle) rows, distinct per doc. Docs shorter than n tokens
    contribute no rows.

    ``hashed=True`` replaces the shingle string with its xxhash64 *before*
    the distinct, so every downstream shuffle (distinct, frequency groupBy,
    inverted-index joins) carries 8-byte keys instead of ~40-byte strings —
    the right trade at 100 TB (collision odds are ~|shingles|^2 / 2^64).
    Only set-membership consumers (Jaccard) may use it; minhash/simhash need
    the raw string for md5-based permutation hashing.

    Implementation note: ``explode(array(tokens(...)))`` materializes the
    token array once per row inside the Generate node — a barrier Catalyst
    cannot collapse the ``split()`` through. A naive
    ``transform(sequence(...), i -> slice(split(text), ...))`` inlines the
    split into every element (measured 20x slowdown); a posexplode + window
    ``lead`` formulation is correct but adds a full shuffle+sort of the
    token rows per doc (measured 2.4-4x slower here, and the sort is the
    scale bottleneck on long documents). This version is shuffle-free up to
    the final ``distinct``."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col))).alias("toks"),
    )
    sh = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.array_join(F.slice("toks", i, n), " "),
    )
    rows = (
        toked.filter(F.size("toks") >= n)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .filter(F.col("shingle") != "")
    )
    if hashed:
        rows = rows.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return rows.distinct()


def minhash_signatures(shingles: DataFrame, perms=MINHASH_PERMS) -> DataFrame:
    """doc_id -> m0..m{k-1} minhash columns. Single shuffle; map-side partial
    min keeps the shuffle at 8 bytes per permutation per doc.

    The md5-based feature hash is projected ONCE before the aggregation —
    inlining ``h32`` into each of the 16 min() expressions makes the
    aggregate compute md5 16x per row (Catalyst does not CSE across
    aggregate expressions)."""
    hashed = shingles.select("doc_id", h32("shingle").alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"m{j}")
        for j, (a, b) in enumerate(perms)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_rows(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band_id, sig) rows from minhash signature columns."""
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("sig"))
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band_id", "bs.sig")


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing at least one full
    band signature."""
    stacked = _band_rows(sigs, bands, rows_per_band)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.5,
    scale: bool = False,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps pairs with
    similarity >= threshold. Join-based (distributed), no collect.

    If ``pairs`` already carries ``n_a``/``n_b`` set sizes (the prefix-filter
    path computes them anyway), the two count-lookup joins are skipped.

    String shingles are joined by xxhash64 — the set-intersection counts
    only need equality, and 8-byte join keys shuffle ~5x less than shingle
    text. ``n_sh`` still counts the original distinct rows.

    Declared collision tolerance (r13): a collision between two DISTINCT
    shingles, one in each doc of the SAME candidate pair, overcounts that
    pair's n_common by 1 (~|A||B|/2^64 per pair, ~5e-12 at 1e4-shingle
    docs); output changes only if that pair sits exactly on the
    threshold. Kept 64-bit by measurement — a second hash half defeats
    columnar compression of the materialized frames and cost +12-15% CPU
    at the sf10 replica everywhere it was tried (see
    ngram_containment_pairs), and the minhash_index stored-state format
    (``sh_hashes array<bigint>``) is a persistence contract.

    ``scale`` is the caller's size regime (see minhash_dedup). With
    ``scale=True`` both shingle streams are SEMI-FILTERED by the
    candidate id sets before the verify shuffle (r12): candidates are
    band/prefix-collision-bounded — orders of magnitude fewer docs than
    the corpus — so the unfiltered spelling shuffled the corpus's entire
    shingle set twice to verify a pair set thousands of times smaller.
    ``pairs`` is materialized here (it is small by construction) so the
    id-set joins get runtime stats and broadcast via AQE; the output set
    is unchanged — the filter only drops rows the pair join would drop.

    ``scale=False`` is the LATENCY-regime spelling (r13): the pairs
    materialization + two distinct-builds + two semi joins cost ~5 extra jobs
    whose scheduling overhead exceeds the shuffled bytes they save on a
    small corpus (q19 sf0.1 warm A/B, calm windows: 2.58 -> 2.23 s).
    Output-identical by construction either way."""
    if dict(shingles.dtypes).get("shingle") == "string":
        keyed = shingles.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    else:
        keyed = shingles
    if scale:
        pairs = _materialize(pairs, eager=True)
        # an EXPLICIT broadcast hint on the candidate id sets (r12): left
        # to AQE, the semi joins' initial plan eagerly materializes the
        # full shingle-stream exchange (measured 315 MB at sf10 on q19)
        # before AQE can see the id set is tiny — the same lesson as
        # q48's prefilter. Candidate ids are band/prefix-collision-
        # bounded, so the broadcast is near-dup-bounded, not
        # corpus-bounded. It is a SCALE-regime hint: at latency scale the
        # two serialized broadcast-build jobs cost more wall than the
        # exchange they remove (q19 sf0.1 warm ~3.7 -> ~5 s).
        sa = keyed.join(
            F.broadcast(pairs.select(F.col("doc_a").alias("doc_id")).distinct()),
            "doc_id",
        ).select(F.col("doc_id").alias("doc_a"), "shingle")
        sb = keyed.join(
            F.broadcast(pairs.select(F.col("doc_b").alias("doc_id")).distinct()),
            "doc_id",
        ).select(F.col("doc_id").alias("doc_b"), "shingle")
    else:
        sa = keyed.select(F.col("doc_id").alias("doc_a"), "shingle")
        sb = keyed.select(F.col("doc_id").alias("doc_b"), "shingle")
    carry = [c for c in ("n_a", "n_b") if c in pairs.columns]
    common = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", *carry)
        .agg(F.count("*").alias("n_common"))
    )
    if len(carry) < 2:
        counts = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
        cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        common = common.join(ca, "doc_a").join(cb, "doc_b")
    return (
        common.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    n_rows: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle -> 16-perm
    signatures -> 4x4 LSH banding -> exact-Jaccard verification.

    ``n_rows``: input cardinality hint for the regime switch (see regime.py).

    Signatures are computed like ``minhash_signatures`` (explode + one
    codegen'd hash aggregate with map-side partial min) — measured ~1.7x
    faster than the ``array_min``-over-``transform`` array formulation,
    whose higher-order functions evaluate interpreted outside whole-stage
    codegen. The aggregation shuffle carries (doc_id, 16 longs) per doc
    after the map-side combine — scale-safe at 100 TB.

    r12 plan shape: the materialized shared frame is the HASHED shingle
    rows (doc_id, md5-h32, xxhash64 — 16 bytes/shingle), not the shingle
    string arrays (~5x the bytes); set sizes fold into the
    signature aggregate (one groupBy computes n_sh + all 16 minima), and
    the verify keys come straight off the materialized rows."""
    # The hashed shingle frame feeds the signature aggregate (doc_id, h)
    # and the verify path (doc_id, hk): disjoint hash columns, so the
    # columnar cache's InMemoryTableScan column-prunes each pass (sf10
    # warm 20.6 -> 14.1 s against a raw-row local checkpoint, r12).
    hashed = (
        shingled_docs(df, id_col, text_col, n)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .select(
            "doc_id",
            h32(F.col("shingle")).alias("h"),
            F.xxhash64("shingle").alias("hk"),
        )
    )
    # the size regime picks the verify prefilter, the id-set broadcast
    # and the eager fill (lazy, the consumers run one after the other,
    # was measured only below the floor)
    scale = regime.above(df, "columnar", "minhash_dedup", n_rows)
    rows = _materialize(hashed, eager=scale)
    state = rows.groupBy("doc_id").agg(
        F.count("*").alias("n_sh"),
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(
                f"m{j}"
            )
            for j, (a, b) in enumerate(MINHASH_PERMS)
        ],
    )
    cands = lsh_candidate_pairs(state)
    # carry set sizes so jaccard_verify skips its count-aggregation
    # joins; the sizes table is one row per doc — AQE broadcasts it at
    # bench scale, plain shuffle join beyond
    sizes = state.select("doc_id", "n_sh")
    cands = cands.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
        "doc_b",
    )
    sh_rows = rows.select("doc_id", F.col("hk").alias("shingle"))
    # latency regime also skips the verify prefilter (r13): its pairs
    # materialization + id-set semi joins are ~5 extra jobs of pure scheduling
    # overhead at small corpus sizes (A/B in jaccard_verify's docstring)
    return jaccard_verify(cands, sh_rows, threshold, scale=scale)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity join with **prefix filtering**
    (PPJoin-style) — exact results for pairs with jaccard >= threshold
    up to 64-bit key collisions (declared tolerance below).

    ``n_rows``: input cardinality hint for the regime switch (see
    regime.py); above the columnar floor the materialized hash frame is
    force-computed by a ``count()`` so the big downstream jobs read a
    warm cache, below it the count job is skipped (one fewer job at latency scale — the first
    consumer populates the cache, VERDICT r12 finding 5).

    Declared collision tolerance (r13, VERDICT r12 #3 considered): the
    per-doc shingle sets are xxhash64 longs, so verification's
    ``array_intersect`` can overcount a candidate pair's n_common by 1
    when two DISTINCT shingles, one in each doc, collide — probability
    ~|A||B|/2^64 per candidate pair (~5e-12 at 1e4-shingle docs). The
    q48 measurement (ngram_containment_pairs docstring) showed widening
    these keys costs +12-15% CPU at scale because a second random hash
    column defeats columnar compression; the tolerance is accepted here
    for the same reason.

    Naive inverted-index joins explode on frequent shingles (a shingle in
    d docs contributes d^2 join rows — ruinous skew at scale). Prefix
    filtering orders each doc's shingles by global rarity and indexes only
    the first ``|x| - ceil(t*|x|) + 1`` of them: any pair with
    jaccard >= t must share at least one *prefix* shingle, so candidates
    come predominantly from rare-shingle buckets. A min/max length filter
    (``min(|x|,|y|) >= t*max(|x|,|y|)``) prunes further before
    verification. Verification computes exact Jaccard over the full shingle
    sets, so the output is identical to the naive join.

    ``max_shingle_df`` (the standard stop-shingle cap) additionally drops
    shingles whose document frequency exceeds the cap from **candidate
    generation only** — verification still runs over full shingle sets, so
    every emitted pair's jaccard stays exact. The trade is recall, bounded
    and explicit: a true pair can only be missed if *every* prefix shingle
    it shares sits in more than ``max_shingle_df`` documents — i.e. the
    pair overlaps solely on corpus-level stopword n-grams, which at a cap
    like 0.1% of the corpus means boilerplate, not content. At 100 TB this
    is the knob that prevents one viral shingle from pinning a d^2 join
    task (d = df of the hot shingle); default ``None`` keeps the exact
    PPJoin guarantee.

    r12 plan shape — three structural observations collapse the old
    two-window + exploded-verify pipeline (see the q18 section of
    OPTIMIZATION_r12.md for the A/B):

    1. In the rarity order (df asc, hash asc) every df=1 shingle
       precedes every duplicated one, and df=1 shingles cannot produce
       candidates (nothing joins with them). So the prefix's USEFUL
       part is ``slice(doc's df>=2 shingles sorted by (df,hash), 1,
       k - n1)`` where n1 = count of the doc's df=1 shingles — built
       from a DUP-BOUNDED aggregate, replacing the old full-stream
       count-window + row_number-window shuffle+sorts. The candidate
       set is IDENTICAL: the dropped df=1 prefix rows never matched.
    2. The df>=2 frequency table is dup-rate-bounded, not
       corpus-bounded, so it broadcasts after one narrow aggregate.
    3. Verification reads each doc's full hash set as an ARRAY
       (``size(array_intersect)`` inside the row) instead of exploded
       rows: two joins against the cached per-doc array frame (AQE
       broadcasts the candidate side at bench scale) replace the old
       two semi-filters + two row joins + pair-key aggregate.

    The corpus is tokenized ONCE into a columnar-persisted
    (doc_id, n_sh, hs) frame; every later pass reads pruned cached
    columns.
    """
    docs = shingled_docs(df, id_col, text_col, n)
    p0 = _materialize(
        docs.select(
            "doc_id",
            F.size("sh").alias("n_sh"),
            F.explode(
                F.array(F.transform("sh", lambda s: F.xxhash64(s)))
            ).alias("hs"),
        )
    )
    if regime.above(df, "columnar", "ngram_jaccard_pairs", n_rows):
        p0.count()
    rows = p0.select("doc_id", F.explode("hs").alias("h"))
    # exact df of DUPLICATED shingles only — df=1 rows (the overwhelming
    # majority) never leave the aggregate
    dfreq2 = (
        rows.groupBy("h")
        .agg(F.count("*").cast("int").alias("d"))
        .filter(F.col("d") >= 2)
    )
    # per-doc df>=2 shingles sorted by (df, hash) — the dup tail of the
    # doc's global rarity ranking. Dup-bounded shuffle.
    dup = rows.join(F.broadcast(dfreq2), "h").groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("d"), F.col("h")))
        ).alias("dups")
    )
    # rank of dups[j] (1-based) in the doc's full (df, hash) ranking is
    # n1 + j: all df=1 shingles sort before every dup. k is the PPJoin
    # prefix length over the FULL ranking.
    k = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    n1 = F.col("n_sh") - F.size("dups")
    in_pref = F.slice(
        "dups", F.lit(1), F.greatest(k - n1, F.lit(0)).cast("int")
    )
    if max_shingle_df is not None:
        # stop-shingle cap: hot shingles leave the inverted index
        # (candidate generation) only, AFTER the slice — they still
        # occupy rank positions, exactly as the old row_number did
        in_pref = F.filter(
            in_pref, lambda s: s["d"] <= F.lit(int(max_shingle_df))
        )
    sizes = p0.select("doc_id", "n_sh")
    # materialized: the candidate self-join reads pr twice, and left
    # lazy each side re-runs the df aggregate + dup regroup
    pr = _materialize(
        dup.join(sizes, "doc_id")
        .select("doc_id", "n_sh", F.explode(in_pref).alias("p"))
        .select("doc_id", "n_sh", F.col("p.h").alias("h")),
        eager=True,
    )
    a = pr.select(
        F.col("doc_id").alias("doc_a"), "h", F.col("n_sh").alias("n_a")
    )
    b = pr.select(
        F.col("doc_id").alias("doc_b"), "h", F.col("n_sh").alias("n_b")
    )
    cands = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("n_a", "n_b")
                >= F.lit(threshold) * F.greatest("n_a", "n_b")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verification on full sets: intersection size inside the row
    sa = p0.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("hs").alias("hs_a"),
    )
    sb = p0.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("hs").alias("hs_b"),
    )
    scored = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_common"),
            "n_a",
            "n_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    n: int = 5,
) -> DataFrame:
    """64-bit SimHash over the distinct word n-gram shingle set. The
    feature hash is the first 16 hex chars of md5 (two 32-bit halves —
    DuckDB oracles mirror each half, sidestepping signed-shift overflow);
    bit b of the fingerprint is 1 iff the sum over features of ±1 for bit
    b is > 0.

    Computed **map-side** from the per-doc shingle array in a SINGLE pass:
    one ``aggregate`` whose accumulator is the array of 64 bit-counters
    (``zip_with`` of acc and the per-feature ±1 vector), vs. the previous
    one-aggregate-per-bit formulation that traversed the shingle array
    ``bits`` times. The counter array is pinned behind an
    ``explode(array(...))`` Generate barrier so the 64 fingerprint terms
    read it instead of re-running the aggregate.

    64 bits (vs the earlier 32) is what makes the banded self-join in
    ``simhash_pairs`` scale-safe: 16-bit bands give 65,536 buckets, so the
    per-band candidate join stays near-linear on 100 TB corpora where 256
    byte-buckets would degenerate toward O(n²/256).

    Implementation: one WIDE codegen'd hash aggregate — 64 ``sum(case
    shiftright & 1 ... 1 else -1)`` expressions per (doc) over the
    (doc, hlo, hhi) feature rows, then fold the sign bits into the
    fingerprint map-side. History: r4 used a two-level bit-explode
    formulation (explode each feature into 64 bit rows, sum per
    (doc, bit)) because the wide plan costs ~1.2s of Catalyst planning +
    3-4s one-time codegen vs ~0.15s — a win at benchmark scale. A 500k-doc
    probe (r5) showed the 64x row blowup dominates as the corpus grows:
    385.8s two-level vs 136.0s wide at 500k docs, fingerprints
    checksum-identical; at 100x scale the fixed plan cost is noise, so
    wide is the production formulation. (Higher-order-function
    formulations evaluate interpreted and measured 2-5x slower than
    either.)"""
    if bits != 64:
        raise ValueError("simhash is fixed at 64 bits (16-bit LSH bands)")
    docs = shingled_docs(df, id_col, text_col, n)
    rows = docs.select("doc_id", F.explode("sh").alias("shingle"))
    # the two conv() halves share one md5 via codegen subexpression
    # elimination (spark.sql.subexpressionElimination, on by default)
    hh = rows.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hlo"),
        F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10)
        .cast("bigint")
        .alias("hhi"),
    )
    # s_b = sum(±1) of bit b over the doc's features
    aggs = [
        F.sum(
            F.when(
                F.shiftright("hlo" if b < 32 else "hhi", b % 32).bitwiseAND(1)
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = hh.groupBy("doc_id").agg(*aggs)
    # bit 63's weight is Long.MIN_VALUE (two's complement); the sum of
    # distinct powers of two == bitwise OR and cannot leave the bigint
    # range, so the fold is ANSI-overflow-safe
    fp = None
    for b in range(bits):
        weight = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("bigint")
        term = F.when(F.col(f"s{b}") > 0, weight).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 3, via exact 16-bit
    banding over the 64-bit fingerprint (pigeonhole: <=3 differing bits
    over 4 bands ⇒ >=1 band equal, so no recall loss for radius 3).

    16-bit bands give 65,536 buckets per band — the per-band self-join
    stays near-linear at corpus scale, where the previous 4x8-bit/256-
    bucket banding degenerated toward O(n²/256) beyond ~10⁵ docs.

    ``fps`` is materialized eagerly: the two sides of the band self-join
    are concurrently scheduled stages, and without materialization each
    recomputes the fingerprint aggregate subtree from scratch
    (measured 4.5s vs 1.8s at sf0.1 in a clean session — beware that a
    still-registered persist from an earlier run makes the no-persist
    variant look fast via automatic cache-manager plan substitution)."""
    fps = _materialize(fps, eager=True)
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(65535)
                        .alias("byte"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.byte")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    distinct word n-grams it shares with the ``benchmark`` (eval-set)
    documents — the standard train/test overlap check run before LLM
    training (e.g. GPT-3 appendix C / PaLM-style 8-gram overlap).

    Output: (doc_id, n_hits, contaminated) for every corpus doc.

    Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    benchmark's distinct shingle set builds once and BROADCASTS; the corpus
    explodes to xxhash64'd 8-byte shingle rows map-side, hits the broadcast
    hash join with no corpus shuffle, and aggregates per doc with map-side
    partial counts. Docs shorter than n tokens contribute no shingles and
    report 0 hits.

    r12: the corpus side's per-doc dedup is MAP-SIDE (``shingled_docs``'s
    array_distinct + hash) — the old ``shingle_rows(...).distinct()``
    shuffled every corpus shingle row just to dedupe within docs, so the
    only corpus-sized shuffle left is the per-doc hit counts (post-join,
    hit-bounded).

    r13 key width: the membership join carries a 128-bit hashed key
    (``wide_keys``: equi on one xxhash64 half + residual check on the
    second) instead of one xxhash64. The load-bearing collision here is
    corpus-shingle-vs-benchmark-shingle: at 1e11 corpus grams x 1e8
    benchmark grams a 64-bit false hit is expected (~|C|x|B|/2^64 ≈ 0.5
    per 1e19 pairs — marginal already at extreme scale) and falsely
    flags a clean doc contaminated; two halves make it ~2^-65 smaller.
    There is no hash-level distinct anymore: ``shingled_docs``' sh is
    already the per-doc DISTINCT string set, so the only thing a hash
    distinct could still collapse is a full 128-bit collision — and the
    r12 64-bit spelling could silently merge two distinct shingles into
    one hit.
    """
    bg = (
        shingle_rows(benchmark, id_col, text_col, n)
        .select(*wide_keys("shingle"))
        .distinct()
    )
    cg = (
        shingled_docs(df, id_col, text_col, n)
        .select("doc_id", F.explode("sh").alias("_str"))
        .select("doc_id", *wide_keys("_str"))
    )
    hits = (
        cg.join(F.broadcast(bg), wide_key_cond(cg, bg))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    docs = df.select(F.col(id_col).alias("doc_id"))
    return docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def dup_clusters(
    pairs: DataFrame, max_iter: int = 20, driver_edge_limit: int = 1_000_000
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (doc_id,
    cluster_id), where cluster_id is the minimum doc_id in the component.
    This is the step that turns pairwise near-dup output into actionable
    groups (keep one canonical doc per cluster).

    Two regimes, the same split as a broadcast-vs-shuffle join:

    * **Small edge set** (≤ ``driver_edge_limit``, counted after the pair
      table materializes): union-find on the driver. A near-dup pair list
      is ~16 bytes/edge, so the default 1M-edge gate collects ≤ ~16 MB —
      the size class Spark itself broadcasts — and replaces ~diameter
      shuffle-join rounds with one collect. Near-dup graphs are sparse
      (pairs survive a similarity threshold), so even 100 TB corpora
      commonly land here after banding.
    * **Large edge set**: iterative min-label propagation — each round,
      every vertex takes the minimum label among itself and its
      neighbors; converges in O(component diameter) rounds. Near-dup
      graphs are forests of tiny dense clusters (diameter 2-4 in
      practice), so this beats the O(log n)-round large-star/small-star
      alternation, which pays its constant factor twice per round. Each
      round is one shuffle join plus one map-side-combined groupBy; each
      round's label table (2 longs per doc in any pair) is written with
      Spark's reliable ``DataFrame.checkpoint``, which keeps the plan
      O(1) per round and survives executor loss. It needs a checkpoint
      directory (``spark.checkpoint.dir``, a deployment path; ``get_spark``
      sets one for local masters). Early-stops via a per-round
      changed-label count. (Both regimes produce identical output —
      pinned by a test that forces ``driver_edge_limit=0``.)

    Iterative and therefore not expressible in one SQL statement; the
    DuckDB oracle (q31) uses a recursive CTE over the same pairs.
    """
    # the regime count fills the cache; both regimes then read it
    pairs = _materialize(pairs.select("doc_a", "doc_b"))
    n_edges = pairs.count()
    if n_edges <= driver_edge_limit:
        rows = pairs.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r.doc_a, r.doc_b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so every root IS the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        import pandas as pd

        out = pd.DataFrame(
            [(doc, find(doc)) for doc in parent], columns=["doc_id", "cluster_id"]
        )
        t = pairs.schema["doc_a"].dataType.simpleString()
        # from pandas (Arrow), the result is a LocalRelation: the plan has
        # no RDD leaf, whose rows a lost executor would take with it
        res = pairs.sparkSession.createDataFrame(out, f"doc_id {t}, cluster_id {t}")
        pairs.unpersist(False)
        return res
    if pairs.sparkSession.sparkContext.getCheckpointDir() is None:
        raise RuntimeError(
            f"dup_clusters: {n_edges} edges > driver_edge_limit; the label "
            "loop checkpoints every round: set spark.checkpoint.dir"
        )
    edges = _materialize(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ),
        eager=True,
    )
    pairs.unpersist(False)
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .select("doc", F.col("doc").alias("lab"))
        .checkpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc)
            .select(F.col("src").alias("doc"), "lab")
            .union(labels)
            .groupBy("doc")
            .agg(F.min("lab").alias("lab"))
        )
        # The checkpoint cuts the plan, which is load-bearing: nbr_min
        # reads `labels` twice (join + union), so the plan DOUBLES per
        # round and OOMs the driver around round ~15 (caught by
        # test_dup_clusters_regimes_agree); a persist keeps the plan.
        new_labels = nbr_min.checkpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist(False)
    return labels.select(F.col("doc").alias("doc_id"), F.col("lab").alias("cluster_id"))


def word_ngrams(toks: Column, n: int) -> Column:
    """Positional (non-distinct) word n-grams from a token array —
    repetition/coverage metrics need every occurrence with its position,
    unlike the distinct sets of ``shingled_docs``. Docs shorter than n
    tokens yield an empty array (Spark's sequence(1, 0) counts DOWN,
    unlike DuckDB's empty range — hence the size guard)."""
    if n == 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_coverage(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
    remove: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Cross-document exact-substring duplication signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    document, the fraction of token positions covered by a word n-gram that
    also appears in at least one OTHER document — the corpus-level
    boilerplate / license-header / template detector that exact- and
    near-dedup both miss (they compare whole documents; this finds shared
    substrings inside otherwise-distinct documents).

    Output: (doc_id, n_toks, n_dup_ngrams, covered_tokens, covered_frac)
    where n_dup_ngrams counts window positions whose n-gram is shared
    cross-doc and covered_tokens is the size of the union of those windows.

    Scale: the inverted index shuffles (doc, pos, gram) by gram — one
    codegen'd agg for the distinct-doc count, one shuffle join back, and a
    distinct on (doc, pos) that only materializes DUPLICATED windows (8×
    the dup-window rows, not the corpus).

    - Gram keys follow the ``hashed_grams`` size regime (regime.py,
      ``n_rows`` is the hint): string keys (oracle-bit-true) at or below
      2^20 documents — 2x above the largest oracle-proven corpus (sf10,
      500k docs) — and ``xxhash64(gram)`` beyond, an 8-byte fixed-width
      key instead of ~50 bytes of string, where the string gram index is
      a measured single-box disk-death (sf100: ~1B gram positions x
      ~70 B string rows through a materialized frame and two shuffles
      filled 72 GB of scratch; hashed is ~3.5x leaner). A collision can
      only mark one extra window duplicated (P ≈ 2^-64 per gram pair),
      it cannot drop coverage.
    - ``max_gram_df`` drops grams whose document frequency exceeds the cap
      (corpus-level stop-grams) before the join back, mirroring
      ngram_jaccard_pairs' ``max_shingle_df``: one viral boilerplate gram
      otherwise pins a single join task with df² rows. Capped grams no
      longer count toward coverage — an explicit, bounded recall trade.

    ``remove=True`` additionally emits the ACTION half — Lee et al.'s
    ExactSubstr deletion adapted to word windows, fused onto the SAME
    materialized gram index (running detection and removal separately
    would rebuild the inverted index, the pii_stats(redact=True)
    argument): every token position covered by a shared n-gram is cut
    EXCEPT in the gram's keeper document (the smallest sharing doc_id),
    so exactly one copy of each duplicated span survives the corpus.
    Adds ``text_col`` (the reassembled survivors — token-normalized:
    single-space joined, original case; ``''`` when every token was cut)
    and ``n_removed``. A keeper doc can still lose positions to OTHER
    grams whose keeper lies elsewhere — inherent to window-granular
    keep-one, deterministic, and mirrored by the oracle. Matching stays
    case-insensitive; reassembly keeps the original case (both token
    arrays split on the same ``\\s+``, so positions align).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if max_gram_df is not None and max_gram_df < 2:
        raise ValueError(f"max_gram_df must be >= 2, got {max_gram_df}")
    hashed = regime.above(df, "hashed_grams", "dup_ngram_coverage", n_rows)
    # token array pinned behind the explode(array()) Generate barrier:
    # word_ngrams does n element_at calls per window, and with the split()
    # inlined each one re-tokenizes the document (measured 131s vs 1.5s at
    # sf0.1, identical output — same trap shingled_docs documents)
    df = fanout_repartition(df)
    tok_cols = [tokens(text_col).alias("toks")]
    if remove:
        tok_cols.append(tokens(text_col, lowercase=False).alias("orig"))
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.struct(*tok_cols))).alias("_t"),
    ).select("doc_id", F.col("_t.*"))
    d = toked.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        word_ngrams(F.col("toks"), n).alias("grams"),
        *([F.col("orig")] if remove else []),
    )
    # g feeds two concurrently-planned consumers (the dup-gram frequency
    # agg and the join back); left lazy each recomputes the tokenize +
    # explode chain from the scan (measured 4.2s -> 2.3s at sf0.1
    # materialized)
    gram_key = (
        F.xxhash64("gram").alias("gram_k") if hashed else F.col("gram").alias("gram_k")
    )
    g = _materialize(
        d.select("doc_id", F.posexplode("grams").alias("pos", "gram")).select(
            "doc_id", "pos", gram_key
        ),
        eager=True,
    )
    dup_grams = (
        g.groupBy("gram_k")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("nd") >= 2)
    )
    if max_gram_df is not None:
        dup_grams = dup_grams.filter(F.col("nd") <= int(max_gram_df))
    dup = g.join(dup_grams.select("gram_k", "keep_doc"), "gram_k")
    # cov + wins in ONE groupBy (r12): the old spelling shuffled dup
    # twice (the window count and a distinct over the 8x-exploded
    # per-window positions). covered_tokens is the length of the union
    # of the intervals [pos+1, pos+n] — over the per-doc SORTED window
    # starts that is sum(min(n, next-cur)) + n for the last window, an
    # exact interval sweep with no explode and no distinct. One row per
    # (doc, pos) by construction (one gram per position), so the sorted
    # starts are strictly increasing. Array size is bounded by the
    # doc's own window count (the remove path already collects
    # token-level arrays per doc — same class).
    starts = F.array_sort(F.collect_list("pos"))
    covered = F.when(F.size("_starts") == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.zip_with(
                F.slice(
                    "_starts", 1, F.greatest(F.size("_starts") - 1, F.lit(0))
                ),
                F.slice(
                    "_starts", 2, F.greatest(F.size("_starts") - 1, F.lit(0))
                ),
                lambda cur, nxt: F.least(F.lit(n), nxt - cur),
            ),
            F.lit(0),
            lambda a, x: a + x,
        )
        + F.lit(n)
    )
    aggs = [F.count("*").alias("n_dup_ngrams"), starts.alias("_starts")]
    if remove:
        # non-keeper window starts, collected in the SAME shuffle
        # (collect_list skips the keeper rows' nulls)
        aggs.append(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("doc_id") != F.col("keep_doc"), F.col("pos"))
                )
            ).alias("_rstarts")
        )
    covwins = (
        dup.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            "n_dup_ngrams",
            covered.cast("long").alias("covered_tokens"),
            *(["_rstarts"] if remove else []),
        )
    )
    out = d.select(
        "doc_id", "n_toks", *(["orig"] if remove else [])
    ).join(covwins, "doc_id", "left")
    stat_cols = [
        "doc_id",
        "n_toks",
        F.coalesce("n_dup_ngrams", F.lit(0)).alias("n_dup_ngrams"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.greatest("n_toks", F.lit(1)),
            6,
        ).alias("covered_frac"),
    ]
    if not remove:
        return out.select(*stat_cols)
    # removal: cut every position covered by a window whose keeper lies
    # elsewhere. r12 respell: the old path exploded the removed windows
    # 8x into per-position rows, distinct'd them, posexploded EVERY
    # original token of the corpus, anti-joined, and reassembled with a
    # per-doc collect+sort — three corpus-scale shuffles. The kept text
    # is computable from the per-doc sorted non-keeper starts alone:
    # positions [s, s+n-1] (1-based windows [pos+1, pos+n], here over
    # 0-based pos so start = pos+1) are cut, and the KEPT stretches are
    # the gaps between consecutive starts further than n apart, plus the
    # head before the first window and the tail after the last. With
    # virtual starts (1-n) prepended and (n_toks+1) appended, every kept
    # stretch is exactly [cur+n, nxt-1] for a consecutive pair — so the
    # reassembly is array slices of the original token array inside the
    # one existing join, zero extra shuffles. Same token-normalized
    # output (single-space join of kept tokens, original case).
    rs = F.transform(F.coalesce("_rstarts", F.array()), lambda p: p + 1)
    ntok = F.col("n_toks")
    rs2 = F.concat(F.array(F.lit(1 - n)), rs, F.array(ntok + 1))
    k2 = F.size(rs2)
    kept_slices = F.filter(
        F.zip_with(
            F.slice(rs2, 1, F.greatest(k2 - 1, F.lit(0))),
            F.slice(rs2, 2, F.greatest(k2 - 1, F.lit(0))),
            lambda cur, nxt: F.struct(
                (cur + n).alias("a"), (nxt - 1).alias("b")
            ),
        ),
        lambda s: s["a"] <= s["b"],
    )
    kept_toks = F.flatten(
        F.transform(
            kept_slices,
            lambda s: F.slice(F.col("orig"), s["a"], s["b"] - s["a"] + 1),
        )
    )
    return out.select(
        *stat_cols,
        F.array_join(kept_toks, " ").alias(text_col),
        (ntok - F.size(kept_toks)).cast("int").alias("n_removed"),
    )


def remove_dup_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """Standalone spelling of ``dup_ngram_coverage(remove=True)``'s action
    half — cross-document duplicated-span removal with keep-one-copy
    semantics (see that docstring for the contract and scale shape).
    Output: (doc_id, <text_col>, n_toks, n_removed)."""
    out = dup_ngram_coverage(
        df,
        n=n,
        id_col=id_col,
        text_col=text_col,
        max_gram_df=max_gram_df,
        remove=True,
    )
    return out.select("doc_id", text_col, "n_toks", "n_removed")


def minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """The storable accepted-corpus state ``dedup_against`` needs, one
    row per doc: ``(doc_id, n_sh, sh_hashes array<bigint>, band_sigs
    array<string>)`` — shingle-set size, the xxhash64 shingle keys the
    verify join uses, and the ``bands`` LSH band signatures. In a
    standing pipeline write this to parquet once (8 bytes per shingle +
    a few strings per doc — no text retained) and hand it back via
    ``dedup_against(..., index_state=...)``: each incoming batch then
    pays only its OWN shingling/hashing, never the corpus's, and new
    accepted batches append with a parquet-union (the frame is a pure
    per-doc function, no cross-doc state). Build with the same ``n`` /
    ``bands`` / ``rows_per_band`` the batches will query with.

    Plan shape (r12): ONE map pass (tokenize -> shingle -> md5 + xxhash64
    per distinct shingle, all inside ``shingled_docs``' Generate
    barriers) and ONE groupBy(doc_id) computing the set size, the
    xxhash64 key list, and all ``bands*rows_per_band`` permutation
    minima together — the shuffle carries two 8-byte hashes per shingle.
    The previous spelling checkpointed the shingle STRING arrays (~5x
    the bytes), aggregated signatures separately, and paid a corpus-
    sized doc_id join to glue them back (measured 13.8 -> 5.7 s for the
    sf10 q40 index build). ``sh_hashes`` order is whatever the aggregate
    saw — consumers treat it as a set."""
    d = shingled_docs(corpus, id_col, text_col, n)
    rows = d.select(
        "doc_id", F.explode("sh").alias("shingle")
    ).select(
        "doc_id",
        h32(F.col("shingle")).alias("h"),
        F.xxhash64("shingle").alias("hk"),
    )
    perms = MINHASH_PERMS
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.collect_list("hk").alias("sh_hashes"),
            *[
                F.min(
                    (F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P
                ).alias(f"m{j}")
                for j, (a, b) in enumerate(perms)
            ],
        )
        .select("doc_id", "n_sh", "sh_hashes", band_arr.alias("band_sigs"))
    )


def dedup_against(
    new: DataFrame | None,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 4,
    index_state: DataFrame | None = None,
    new_state: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: flag documents in an incoming batch that
    near-duplicate a document ALREADY IN the accepted corpus — the
    ingestion-time form of minhash_dedup. Only cross-corpus pairs are
    generated (new-vs-new dedup is a separate, cheaper pass over the much
    smaller batch); output is (doc_id, dup_of, jaccard) for every new doc
    whose exact shingle Jaccard against an index doc reaches ``threshold``.

    Scale: the index side's signatures/band rows are a pure function of
    the index corpus — pass a stored ``minhash_index`` frame via
    ``index_state`` (built with the same n/bands/rows_per_band) and each
    incoming batch pays only its own shingling plus one band-key
    equi-join against the index (shuffle keys are band signatures, NOT
    text); with raw ``index`` docs the state is derived on the fly
    (identical output, pinned by test). The batch side builds the SAME
    per-doc state (one map pass + one groupBy — see minhash_index), so
    both sides of every join are compact hash frames. The verify stage
    joins shingles by xxhash64 like jaccard_verify, with both shingle
    streams SEMI-FILTERED by the (materialized, small) candidate id
    sets first: only candidate docs' shingles enter the verify shuffle
    — the unfiltered spelling shuffles the index corpus's entire
    shingle set to verify a candidate set thousands of times smaller
    (measured 3.5 -> 1.7 s at sf10). The id-set joins broadcast via
    AQE; candidates are band-collision-bounded, orders of magnitude
    smaller than the corpus by construction.
    """
    if new_state is None and new is None:
        raise ValueError(
            "dedup_against: pass raw `new` docs or a prebuilt `new_state` "
            "(minhash_index output)"
        )
    if index_state is None and new_state is None:
        if index is None:
            raise ValueError(
                "dedup_against: pass raw `index` docs or a stored "
                "`index_state` (minhash_index output)"
            )
        # index side and batch side read disjoint inputs — overlap their
        # hash-frame builds (guide §2.6) instead of paying two stage
        # tails back-to-back. (When the two sides partition ONE table,
        # build minhash_index over the whole table once and pass the two
        # filtered slices as index_state/new_state — one scan, one job;
        # the frame is a pure per-doc function, so filtering before or
        # after the build is the same frame.)
        (index_state, dn), _ = _materialize_all(
            [
                minhash_index(index, id_col, text_col, n, bands, rows_per_band),
                minhash_index(new, id_col, text_col, n, bands, rows_per_band),
            ]
        )
    else:
        if index_state is None:
            raise ValueError(
                "dedup_against: new_state without index_state is not "
                "supported — pass both or neither"
            )
        # the batch's per-doc state: same one-pass build as minhash_index,
        # materialized once for its three consumers (band rows, set sizes,
        # verify keys)
        dn = (
            new_state
            if new_state is not None
            else _materialize(
                minhash_index(new, id_col, text_col, n, bands, rows_per_band),
                eager=True,
            )
        )
    idx = index_state.select(
        F.col("doc_id").alias("dup_of"), "n_sh", "sh_hashes", "band_sigs"
    )
    bn = dn.select(
        "doc_id", F.posexplode("band_sigs").alias("band_id", "sig")
    )
    bi = idx.select(
        "dup_of", F.posexplode("band_sigs").alias("band_id", "sig")
    )
    cand = _materialize(
        bn.join(bi, ["band_id", "sig"])
        .select("doc_id", "dup_of")
        .distinct()
        .join(dn.select("doc_id", F.col("n_sh").alias("n_a")), "doc_id")
        .join(idx.select("dup_of", F.col("n_sh").alias("n_b")), "dup_of")
    )
    kn = (
        dn.join(cand.select("doc_id").distinct(), "doc_id")
        .select("doc_id", F.explode("sh_hashes").alias("hk"))
    )
    ki = (
        idx.join(cand.select("dup_of").distinct(), "dup_of")
        .select("dup_of", F.explode("sh_hashes").alias("hk"))
    )
    common = (
        cand.join(kn, "doc_id")
        .join(ki, ["dup_of", "hk"])
        .groupBy("doc_id", "dup_of", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.select(
            "doc_id",
            "dup_of",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
    max_shingle_df: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Shingle *containment* pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    Containment is the asymmetric cousin of Jaccard — it flags a short
    document wholly quoted inside a long one (license headers, lyrics,
    wholesale article quotes), which Jaccard misses because the union in
    its denominator is dominated by the longer doc. The standard metric
    for quote/partial-copy detection (Broder 1997's "containment").

    Output: (doc_a, doc_b, n_common, containment_a, containment_b) for
    unordered pairs where EITHER direction clears ``threshold`` —
    containment_a = shared/|sh(doc_a)| is how much of A lies inside B.

    Scale: classic inverted-index join — one shuffle of distinct
    (doc, shingle) rows by shingle, one pair-key agg. Per-shingle join
    fan-out is O(df²); ``hashed=True`` shrinks shuffle keys to 8 bytes
    (xxhash64, fine for set intersection), ``max_shingle_df`` drops
    corpus-boilerplate shingles from pair GENERATION — with the caveat
    that unlike ngram_jaccard_pairs (which re-verifies on full sets),
    containment here is computed from the joined counts, so the cap makes
    scores approximate (undercount by at most the capped shingles'
    share); feed it from ``corpus_top_ngrams`` profiling and size it to
    boilerplate, not content.

    r12 plan shape: the per-doc distinct shingle set is built MAP-SIDE
    (``shingled_docs``'s array_distinct — the old ``shingle_rows(...)
    .distinct()`` paid a full corpus shuffle+sort just to dedupe within
    docs), and the set size rides each exploded row as ``n_sh``, so the
    pair aggregation carries the counts through its existing shuffle and
    the two post-agg count-lookup joins disappear.

    df >= 2 pre-filter (guide §3.2, EXACT here): a
    shingle in a single document can never produce a pair, and most
    shingles are df=1 (measured 95% at sf1 — near-dup rate bounds the
    rest), so the unfiltered pair join's exchange+sort was 6x its
    useful input and spilled ~1 GB at sf10. One narrow aggregate
    computes the dup-rate-bounded df >= 2 key set, which
    broadcast-semi-filters both pair-join sides MAP-SIDE (before their
    exchange): sf10 zero spill, warm wall -27%. The extra aggregate
    pass costs more than it saves on small corpora, so it runs — with
    the columnar persist that lets the df aggregate column-prune its
    cached input — above the columnar floor only (sized per regime.py,
    ``n_rows`` is the hint).
    """
    prefilter = regime.above(df, "columnar", "ngram_containment_pairs", n_rows)
    # sh feeds the two join sides (+ the df/hot-shingle agg); left lazy
    # each replans the full tokenize -> shingle pipeline from the scan.
    #
    # hashed=True keys stay 64-bit BY MEASUREMENT (r13, VERDICT r12 #3
    # declined for this operator): widening to a second hash half —
    # struct-array, crc32-int, and residual-condition spellings all
    # tried — costs +12-15% median CPU at the sf10 replica because the
    # second random hash column does not compress (the columnar-
    # persisted frame doubled, 208 -> 409 MB) and every pair-join
    # exchange carries it. Declared collision tolerance instead: a pair
    # (x, y) of distinct shingles with xxhash64(x) == xxhash64(y) in the
    # SAME candidate pair's doc sets inflates that pair's n_common by 1
    # (expected extra-match count ~= sum over candidate pairs of
    # |A||B|/2^64; at 1e4-shingle docs that is ~5e-12 per pair — it
    # takes ~1e11 candidate PAIRS to expect one off-by-one n_common,
    # and thresholded output changes only when that pair sits exactly
    # on the containment boundary). Callers needing provable exactness
    # pass hashed=False (string keys, ~5x the shuffle bytes).
    hs = (
        F.array_distinct(F.transform("sh", lambda s: F.xxhash64(s)))
        if hashed
        else F.col("sh")
    )
    sh = shingled_docs(df, id_col, text_col, n).select(
        "doc_id", F.explode(F.array(hs)).alias("_hs")
    ).select(
        "doc_id",
        F.size("_hs").alias("n_sh"),
        F.explode("_hs").alias("shingle"),
    )
    if prefilter:
        # columnar persist: the df aggregate reads ONLY ``shingle``, and
        # InMemoryTableScan column-prunes + compresses, where a raw row
        # scan would pay the full width every pass (sf10: 2.3 GB ->
        # 208 MB per read)
        sh = _materialize(sh, eager=True)
        dff = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        keep = dff.filter(F.col("_df") >= 2)
        if max_shingle_df is not None:
            keep = keep.filter(F.col("_df") <= max_shingle_df)
        # EXPLICIT broadcast: the semi join shares its key with the pair
        # join, so a shuffled semi re-uses the pair join's partitioning
        # and lands ABOVE the exchange — the full stream still shuffles
        # and sorts, and AQE cannot demote it (the exchange materializes
        # before re-planning). Broadcasting pushes the filter below the
        # exchange into the map side. The key set is dup-rate-bounded
        # (not corpus-bounded). Materialized eagerly: both pair-join
        # sides carry a broadcast of it, and left lazy each
        # BroadcastExchange re-runs the df aggregate.
        keep = _materialize(keep.select("shingle"), eager=True)
        gen = sh.join(F.broadcast(keep), "shingle", "semi")
    else:
        sh = _materialize(sh)
        gen = sh
        if max_shingle_df is not None:
            hot = (
                sh.groupBy("shingle")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") > max_shingle_df)
                .select("shingle")
            )
            gen = sh.join(hot, "shingle", "left_anti")
    a = gen.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = gen.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    # n_a/n_b are functions of the ids, so the grouped pair set is the
    # same as grouping by (doc_a, doc_b) alone
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = common.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment_a"),
        F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment_b"),
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Pick the best member of each duplicate cluster by an arbitrary
    quality score — production dedup keeps the highest-quality copy
    (longest, best classifier score, best perplexity), not the smallest
    id that ``dup_clusters``' cluster_id labeling implies.

    ``clusters`` is dup_clusters' output (doc_id, cluster_id); ``scores``
    maps doc_id -> score (compose from quality_signals / nb_classifier /
    unigram_logppl output). Returns ``(cluster_id, keep_id, best_score,
    n_members)`` — argmax score, ties to the smallest doc_id. Survivors
    = this frame's keep_ids plus every unclustered doc. ``score_col``
    must be numeric; ``doc_id`` may be any orderable type (string ids
    and full-range bigints both work — the tie-break negates the SCORE,
    never the id; NaN scores order worst).

    Scale: one join on doc_id + one struct-min groupBy on cluster_id —
    both map-side combinable, no window, no driver state.
    """
    sc = scores.select(
        F.col(id_col).alias("_kid"), F.col(score_col).alias("_s")
    )
    j = clusters.join(sc, clusters[id_col] == sc["_kid"]).select(
        clusters["cluster_id"],
        clusters[id_col].alias("doc_id"),
        F.col("_s"),
    )
    # min((-score, id)) == argmax score with ties to the SMALLEST id.
    # Negating the score (always numeric) instead of the id keeps string
    # doc_ids working — the r7 spelling max((score, -id)) raised
    # CAST_INVALID_INPUT on string ids and lost precision on bigints
    # above 2^53 via the implicit double path (r8 advice, dedup.py:1145)
    return (
        j.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_s").cast("double")).alias("negs"),
                    F.col("doc_id").alias("id"),
                )
            ).alias("_m"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("_m.id").alias("keep_id"),
            (-F.col("_m.negs")).alias("best_score"),
            "n_members",
        )
    )
