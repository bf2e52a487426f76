"""Embedding similarity-search operators.

* ``cosine_topk`` — brute-force cosine top-k: broadcast the (small) query
  set against the full corpus; the dot product runs as a JVM higher-order
  expression (zip_with + aggregate), no Python. At 100 TB the corpus side
  stays partitioned and only the query set is broadcast — a single scan, no
  shuffle until the (tiny) per-query top-k aggregation.
* ``lsh_ann_topk`` — scale path: random-hyperplane LSH bucketing. Candidates
  are restricted to the query's bucket (+ optional multi-probe neighbors),
  so the scan prunes to ~corpus/2^planes per query. Hyperplanes derive
  deterministically from md5 so results reproduce across engines/runs.
* ``ivf_ann_topk`` — IVF (inverted-file) ANN: the corpus is partitioned
  into cells by nearest centroid; queries probe only their ``nprobe``
  closest cells. Cell assignment is a zero-shuffle literal-array argmax
  (centroids are broadcast as expression literals), so the only shuffle is
  the final tiny per-query top-k.
* ``embedding_cosine_dups`` — embedding near-dup detection: banded
  hyperplane LSH as the blocking key (64-bit signature, 4 x 16-bit bands,
  hamming-1 multi-probe), exact cosine verify on the deduped candidate
  set. Same band geometry as ``simhash_pairs`` — n_bands * 2^band_bits
  buckets, no single-small-bucket self-join degeneracy at corpus scale.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from exon_spark.operators import regime


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column | str, b: Column | str, digits: int = 6) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), digits)


def cosine_pre(
    a: Column, b: Column, nrm_a: Column, nrm_b: Column, digits: int = 6
) -> Column:
    """``cosine()`` with pre-computed per-row norms. Bit-identical result
    (identical expression tree and op order — the sqrt is merely hoisted
    from per-pair to per-row, and sqrt of the same input is the same
    double), at one third the interpreted higher-order-function passes:
    Catalyst evaluates zip_with/aggregate lambdas OUTSIDE whole-stage
    codegen at ~5 us per 64-dim pass (measured), so the three-pass inline
    cosine costs ~16 us per pair — the dominant cost of every pairwise
    similarity operator here. Norm columns ride the (broadcast) joins as
    one extra double."""
    return F.round(_dot(a, b) / (nrm_a * nrm_b), digits)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (q_id, vec_id, score, rnk). Deterministic tie-break on vec_id.

    Two regimes on corpus size (r13, the semantic_dedup precedent — the
    vectors floor; sized per regime.py, ``n_rows`` is the hint):

    * latency (default): the scan scores each (corpus row, query) pair
      with the codegen'd ``cosine_pre`` expression — interpreted
      higher-order-function passes at ~5 us per 64-dim pair, fine below
      ~10^5 rows and bit-identical to the DuckDB oracle (sequential
      float sums in both engines).
    * scale: ONE ``mapInPandas`` pass — each Arrow batch computes the
      full (batch x queries) score matrix as a BLAS matmul and emits
      only its per-batch per-query top-k rows, so the downstream window
      ranks tasks*k*|Q| rows instead of |corpus|*|Q| (guide §4.2). The
      per-batch top-k under the output's own total order
      (score desc, vec_id asc) is exact — any global top-k row is
      necessarily within its batch's top-k. Boundary caveat (same as
      semantic_dedup's udf/grouped regimes): np.round is half-even and
      BLAS sums in a different order than the sequential expr/oracle
      spelling, so a score lying within one ulp of a 0.5e-6 rounding
      boundary may differ in the 6th decimal; the regime floor keeps
      oracle-gated scale factors on the expr path.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    if regime.above(corpus, "vectors", "cosine_topk", n_rows):
        scored = _blas_topk_scan(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
            ),
            q,
            k,
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
        )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_pre(
                F.col("vec"), F.col("q_vec"), F.col("_cn"), F.col("_qn")
            ).alias("score"),
        )
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _blas_topk_scan(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """cosine_topk's scale-regime scan: per Arrow batch, one
    (batch x dim) @ (dim x |Q|) matmul + per-query partial top-k under
    (score desc, vec_id asc). Emits <= k rows per query per batch;
    the caller's window finishes the global rank. Query vectors ride in
    the closure (broadcast-equivalent; |Q| is query-fanout-bounded).
    Both id columns keep their input types."""
    import numpy as np

    qrows = q.collect()  # query-fanout-bounded by contract
    q_ids = np.array([r["q_id"] for r in qrows], object)
    Q = np.array([r["q_vec"] for r in qrows], np.float64)
    qn = np.array([r["_qn"] for r in qrows], np.float64)
    kk = int(k)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0 or not len(q_ids):
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.stack([np.asarray(v, np.float64) for v in pdf["vec"]])
            cn = np.linalg.norm(M, axis=1)
            # S[i, j] = round(dot(vec_i, q_j) / (cn_i * qn_j), 6)
            S = M @ Q.T
            S /= cn[:, None]
            S /= qn[None, :]
            np.round(S, 6, out=S)
            outs = []
            for j in range(len(q_ids)):
                col = S[:, j]
                mask = ids != q_ids[j]
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                # total order: score desc, vec_id asc — lexsort's last
                # key is primary
                order = np.lexsort(
                    (ids[cand_idx], -col[cand_idx])
                )[:kk]
                pick = cand_idx[order]
                outs.append(
                    pd.DataFrame(
                        {
                            "q_id": [q_ids[j]] * len(pick),
                            "vec_id": ids[pick],
                            "score": col[pick],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    q_type = q.schema["q_id"].dataType.simpleString()
    v_type = c.schema["vec_id"].dataType.simpleString()
    return c.mapInPandas(
        gen, f"q_id {q_type}, vec_id {v_type}, score double"
    )


def hyperplanes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (p, d)
    derives from md5(f"{p}-{d}")."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}-{d}".encode()).hexdigest()[:8], 16)
            row.append((h / 2**31) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit pattern of the vector against each hyperplane."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(v, lit_plane) > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket,
    plus (``probe_hamming=1``) its hamming-1 neighbor buckets — multi-probe
    LSH. At corpus scale the right configuration is MORE planes (sharper
    pruning: candidates ~ corpus/2^planes) WITH multi-probe to buy the
    recall back; the query side explodes to ``1 + n_planes`` bucket keys
    while the corpus side stays one row per vector — probing cost rides
    the tiny broadcast side, never the corpus.

    Output: (q_id, vec_id, score, rnk, bucket). Recall < 1 by design — the
    scale path that avoids scanning the full corpus per query.
    """
    planes = hyperplanes(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_cn"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    qb = lsh_bucket(vec_col, planes)
    if probe_hamming >= 1:
        qb = F.explode(
            F.array(qb, *[qb.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)])
        )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
        qb.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            cosine_pre(
                F.col("vec"), F.col("q_vec"), F.col("_cn"), F.col("_qn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _cell_topk_udf(centroids: list[tuple[int, list[float]]], k: int):
    """Arrow-vectorized nearest-centroid UDF: embedding -> array of the
    ``k`` nearest cell ids, ranked by (round(cosine, 6) desc, cell asc) —
    the exact ordering the DuckDB oracle regenerates. One numpy matmul per
    batch replaces ``n_cells`` interpreted Catalyst cosine expressions
    (16 x 64-literal trees cost seconds of planning/codegen per plan arm).
    Centroids ride in the UDF closure — still broadcast, zero shuffle."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    ids = np.array([cid for cid, _ in centroids], np.int64)
    order_ids = np.argsort(ids, kind="stable")
    ids = ids[order_ids]  # ascending cell id -> stable argsort tiebreak
    C = np.array([c for _, c in centroids], np.float64)[order_ids]
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    @pandas_udf("array<bigint>")
    def f(emb):
        import pandas as pd

        if len(emb) == 0:  # np.stack raises on empty batches
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, np.float64) for v in emb])
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = np.round(Mn @ Cn.T, 6)  # (n, n_cells), oracle-identical rounding
        order = np.argsort(-S, axis=1, kind="stable")[:, :k]
        return pd.Series(list(ids[order]))

    return f


def bounded_hash_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_n: int
) -> list:
    """The deterministic bounded sample every fit operator here uses:
    the ``sample_n`` rows with the smallest ``xxhash64(id)`` —
    reproducible across runs and partitionings.

    NOT spelled ``orderBy(hash).limit(n)`` directly: TakeOrdered ships
    each partition's top-n to the driver, so at corpus scale the
    transient result is ``partitions * n`` rows — measured blowing the
    1 GB maxResultSize at just 2M x 64-dim vectors with 64 partitions
    (r9 pq probe). One count job picks a hash threshold keeping ~4n
    rows corpus-wide; the threshold pre-filter drops before TakeOrdered
    (plan: Filter -> TakeOrdered), so the driver sees at most ~4n rows
    per partition-set while the n smallest hashes all survive the
    filter — the returned sample is IDENTICAL to the direct spelling
    (pinned by test)."""
    base = df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
    n_rows = base.count()
    sel = base
    if n_rows > 4 * sample_n:
        frac = min(1.0, (4.0 * sample_n) / n_rows)
        # xxhash64 is uniform over signed int64
        thr = int(-(2**63) + frac * 2**64)
        sel = base.where(F.xxhash64(F.col("i")) < F.lit(thr))
    rows = (
        sel.orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(sample_n)
        .collect()
    )
    if len(rows) < min(sample_n, n_rows):
        # astronomically unlikely hash-skew underflow: take it exactly
        rows = (
            base.orderBy(F.xxhash64(F.col("i")), F.col("i"))
            .limit(sample_n)
            .collect()
        )
    return rows


def ivf_fit_centroids(
    corpus: DataFrame,
    n_cells: int = 256,
    sample_n: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Sampled k-means (spherical Lloyd) fit for IVF cells — the scale path
    for real corpora, where first-k-ids centroids are arbitrary.

    The driver collects a DETERMINISTIC sample bounded at ``sample_n`` rows
    (ordered by xxhash64 of the id — reproducible across runs and
    partitionings, and driver-memory-safe by construction: 100k x 64 f64 =
    ~50 MB however big the corpus is), L2-normalizes it, and runs Lloyd
    iterations with cosine assignment in numpy. Returned centroids are
    (cell_id, vector) in the same shape ``ivf_ann_topk(centroids=...)``
    accepts — tiny, broadcast via the scoring UDF closure, zero shuffle
    over the corpus."""
    import numpy as np

    rows = bounded_hash_sample(corpus, id_col, vec_col, sample_n)
    X = np.stack([np.asarray(r.v, np.float64) for r in rows])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n_cells = min(n_cells, len(X))
    C = X[:n_cells].copy()  # deterministic init: first sample rows
    for _ in range(iters):
        S = X @ C.T
        assign = np.argmax(S, axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    C[c] = v / nv
    return [(c, C[c].tolist()) for c in range(n_cells)]


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: corpus vectors are assigned to their nearest
    centroid cell; each query probes its ``nprobe`` nearest cells and ranks
    only those candidates.

    Default centroids are the corpus vectors with the ``n_cells`` smallest
    ids — a deterministic, training-free choice that keeps the DuckDB
    oracle byte-identical. Pass ``centroids=ivf_fit_centroids(corpus, ...)``
    for the k-means scale path (real cell quality on real corpora); either
    way cell assignment is a vectorized nearest-centroid UDF with the
    centroids in its closure — broadcast, zero shuffle over the corpus.

    Output: (q_id, vec_id, cell, score, rnk).
    """
    cents = centroids or [
        (int(r[0]), list(r[1]))
        for r in corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    ]
    assign_udf = _cell_topk_udf(cents, 1)
    probe_udf = _cell_topk_udf(cents, nprobe)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_cn"),
        F.element_at(assign_udf(F.col(vec_col)), 1).alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            cosine_pre(
                F.col("vec"), F.col("q_vec"), F.col("_cn"), F.col("_qn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _band_keys_udf(planes: list[list[float]], band_bits: int):
    """Arrow-vectorized banded-signature UDF: array<float> embedding ->
    array<bigint> of ``n_bands`` packed (band_idx << band_bits | pattern)
    keys. Defined lazily inside a factory so cloudpickle serializes by
    value (an active SparkSession is required at creation time)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    n_bands = len(planes) // band_bits
    weights = 1 << np.arange(band_bits, dtype=np.int64)
    offsets = (np.arange(n_bands, dtype=np.int64) << band_bits)

    @pandas_udf("array<bigint>")
    def keys_udf(emb):
        import pandas as pd

        if len(emb) == 0:  # np.stack raises on empty batches
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        bits = (M @ P) > 0  # (n, n_planes)
        vals = np.empty((len(M), n_bands), np.int64)
        for b in range(n_bands):
            vals[:, b] = (
                bits[:, b * band_bits : (b + 1) * band_bits] @ weights
            )
        vals += offsets
        return pd.Series(list(vals))

    return keys_udf


def embedding_cosine_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    band_bits: int | str = "auto",
    probe_hamming: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    density_target: float = 1.0,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >=
    threshold), candidates blocked by **banded** hyperplane LSH — a pair is
    a candidate iff some band of its ``n_planes``-bit signatures agrees
    within ``probe_hamming`` bits (multi-probe: one side also emits its
    hamming<=1 key variants, so near-miss bands still collide).

    Bucket geometry mirrors ``simhash_pairs``: 4 bands x 16 bits =
    ``n_bands * 2**band_bits`` = 2**18 distinct (band, pattern) buckets, so
    within-bucket comparison is O(n²/2^18)-ish per band rather than the
    O(n²/64) the old single-6-plane-bucket blocking degenerated to at
    corpus scale. Identical vectors agree on every band — planted-dup
    recall is exactly 1. The exploded probe side carries only (id, key)
    pairs — 8-byte rows, never the vectors; vectors re-join by id after
    the candidate set is deduped, so shuffle volume stays bounded.

    Output: (id_a, id_b, score).

    **Density-aware band width (r11 — the third-decade catch).** With a
    FIXED 16-bit band, per-bucket density is n/2^16: linear in corpus
    size, so within-bucket candidate pairs grow QUADRATICALLY — invisible
    at sf10 (density ~3) and a >59 GB shuffle-spill disk failure at sf100
    (density ~34 x the 68-key probe fan; /tmp/sf100 probe, SCALE.md r11).
    ``band_bits="auto"`` (default) sizes the band to hold density at
    ``density_target``: ``max(16, ceil(log2(n / density_target)))``,
    capped at 40 (2^40 buckets covers the 100 TB regime). Candidate join
    volume ~``bands * (1+band_bits) * density * n`` — the (1+band_bits)
    PROBE FAN multiplies the per-bucket quadratic term, which is why the
    default density is 1.0, not higher (measured at sf100: density 3.8
    -> sum(b^2)=94M x fan 20 = 1.9e9 join rows = the 59 GB spill;
    density ~0.6 -> ~260M rows). The floor of 16 keeps every corpus
    below 65k vectors (all oracle-gated SFs and the sf0.1/sf1 boards)
    on the exact legacy geometry, so DuckDB oracles stay static; the
    auto COUNT is one id-only job — a standing pipeline that already
    knows its cardinality can pass ``n_rows=`` to skip it, and a caller
    whose input is an expensive UNMATERIALIZED pipeline should persist
    it first or pass ``n_rows``/an explicit ``band_bits`` (otherwise the
    full upstream lineage executes once for the count and again for the
    operator). An explicit ``n_planes`` with ``band_bits="auto"`` pins
    the legacy geometry (``band_bits = n_planes // 4``) rather than
    density-sizing — the pre-r11 call pattern keeps working at any
    corpus size. Wider bands
    trade recall at the threshold boundary (documented LSH property,
    mirrored by any oracle that regenerates the blocking); exact/planted
    duplicates agree on every band at any width — recall 1 always.

    Verification joins full vectors onto every deduped candidate pair
    (oracle-bit-true).
    """
    import math

    n_bands = 4  # simhash-mirroring recall geometry, fixed
    if band_bits == "auto":
        if n_planes is not None:
            # back-compat (r11 advice): an explicit n_planes with auto
            # band_bits pins the caller's geometry — density-sizing here
            # would almost never divide the given n_planes and broke the
            # pre-r11 call pattern on any corpus above 2^16 rows.
            if n_planes % n_bands:
                raise ValueError(
                    f"explicit n_planes must be a multiple of {n_bands}"
                    f" bands, got {n_planes}"
                )
            band_bits = n_planes // n_bands
        else:
            n = df.count() if n_rows is None else int(n_rows)
            band_bits = min(
                40,
                max(16, math.ceil(math.log2(max(n, 2) / density_target))),
            )
    if n_planes is None:
        n_planes = n_bands * band_bits
    if n_planes % band_bits:
        raise ValueError("n_planes must be a multiple of band_bits")
    planes = hyperplanes(dim, n_planes)
    # Signatures via ONE Arrow-vectorized pandas UDF (batch x dim @ dim x
    # n_planes matmul) rather than 64 Catalyst dot expressions: the
    # expression tree (64 x 64 literals) costs seconds of planning/codegen
    # per plan arm and evaluates interpreted. numpy's pairwise summation
    # can round differently from a sequential fold, but a sign flip needs
    # |dot| within ~1e-13 of zero — measure-zero for md5-derived planes;
    # the oracle regenerates fold arithmetic and the gate stays green.
    keys_udf = _band_keys_udf(planes, band_bits)
    from exon_spark.operators.dedup import _materialize

    # the signature projection feeds four plan arms (probe explode, exact
    # explode, two vector re-joins) — materialize it once
    base = _materialize(
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("_n"),
            keys_udf(F.col(vec_col)).alias("bands"),
        )
    )
    # probe side: each band's exact key plus its single-bit flips (XOR on
    # the low band_bits leaves the packed band index untouched); exact
    # side: the 4 exact keys. hamming(a,b) <= 1 in some band ==> one of
    # a's probes equals b's exact key, so one-sided probing covers pairs.
    probes = F.flatten(
        F.transform(
            "bands",
            lambda k: F.array(
                k, *[k.bitwiseXOR(F.lit(1 << j)) for j in range(band_bits)]
            )
            if probe_hamming >= 1
            else F.array(k),
        )
    )
    a = base.select("vec_id", F.explode(probes).alias("bkey")).select(
        F.col("vec_id").alias("id_a"), "bkey"
    )
    b = base.select("vec_id", F.explode("bands").alias("bkey")).select(
        F.col("vec_id").alias("id_b"), "bkey"
    )
    cands = (
        a.join(b, "bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("_n").alias("_na"),
    )
    vb = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("_n").alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_pre(
                F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _assign_cluster_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-vectorized nearest-centroid assignment: embedding -> the
    cluster id with the maximum cosine, ties to the smallest centroid id
    (argmax over ascending-id-sorted centroids = first occurrence). One
    numpy matmul per batch replaces n_clusters interpreted Catalyst
    cosine folds; centroids ride in the closure — broadcast, zero
    shuffle. Defined inside a factory so cloudpickle ships it by value."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    ids = np.array([cid for cid, _ in centroids], np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    # no centroids only on an empty corpus: an empty (0, 0) matrix
    C = (
        np.array([c for _, c in centroids], np.float64)[order]
        if centroids
        else np.empty((0, 0))
    )
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    if not (np.isfinite(cn).all() and cn.all()):
        # same contract as the member path below (and the expr path's
        # ANSI DIVIDE_BY_ZERO): fail loudly at factory time, not NaN-ly.
        # isfinite: a NaN/Inf centroid component gives a NaN/Inf norm,
        # which is truthy — without the check it would NaN every cosine
        # and argmax would silently assign cluster 0.
        raise ArithmeticError(
            "zero-norm or non-finite centroid in semantic_dedup assignment"
        )
    Cn = C / cn

    @pandas_udf("bigint")
    def f(emb):
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        M = np.stack([np.asarray(v, np.float64) for v in emb])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        if not nrm.all():
            # the expression path raises DIVIDE_BY_ZERO here under ANSI
            # (the session default); fail the same way, not NaN-silently
            raise ArithmeticError(
                "zero-norm embedding in semantic_dedup assignment"
            )
        Mn = M / nrm
        # round to 6 dp BEFORE the argmax, mirroring the expr path's
        # cosine_pre(..., digits=6): centroids within ~1e-6 of the max
        # cosine tie in both regimes and resolve to the smallest centroid
        # id (first occurrence over ascending-id-sorted centroids here,
        # struct-min cidx tie-break there).
        return pd.Series(ids[np.argmax(np.round(Mn @ Cn.T, 6), axis=1)])

    return f


# in-flight score-matrix budget for the grouped pair stage, in doubles
# (~128 MB); module-level so tests can shrink it to force multi-block
_PAIR_BLOCK_DOUBLES = 16_777_216


def _grouped_cluster_pairs(assign: DataFrame, threshold: float) -> DataFrame:
    """Within-cluster cosine pairs as one BLAS matmul per cluster via
    ``applyInPandas`` — ``semantic_dedup``'s scale-regime pair stage.

    Each group is one cluster: rows sort by vec_id (partitioning-
    invariant output), normalize once, and the pair block computes as
    row-blocked ``Mn[blk] @ Mn.T`` so the in-flight score matrix stays
    <= ~16M doubles (~128 MB) regardless of cluster size. Scores round
    to 6 dp (np.round, half-even — the documented udf-regime boundary
    caveat) and only (id_a < id_b, score >= threshold) survivors leave
    the task, so output volume equals the true near-dup pair count, not
    the candidate count."""
    import numpy as np

    thr = float(threshold)
    block_doubles = _PAIR_BLOCK_DOUBLES

    def emit(pdf):
        import pandas as pd

        out_cols = ["cluster_id", "id_a", "id_b", "score"]
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({c: [] for c in out_cols})
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        ids = pdf["vec_id"].to_numpy(np.int64)
        cid = int(pdf["cluster_id"].iloc[0])
        M = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        if not nrm.all():
            # match the expr pair path's ANSI DIVIDE_BY_ZERO contract
            raise ArithmeticError(
                "zero-norm embedding in semantic_dedup grouped pairs"
            )
        Mn = M / nrm
        bs = max(1, block_doubles // n)
        frames = []
        for i0 in range(0, n - 1, bs):
            i1 = min(i0 + bs, n)
            S = Mn[i0:i1] @ Mn.T
            # round in place: an out-of-place np.round doubles the
            # transient to 2x the block budget
            np.round(S, 6, out=S)
            # id_a < id_b exactly as the expr join filter spells it (ids
            # sort ascending, so this is the strict upper triangle; on a
            # duplicated vec_id both regimes drop the pair)
            rr, cc = np.nonzero(S >= thr)
            keep = ids[cc] > ids[rr + i0]
            if keep.any():
                rr, cc = rr[keep], cc[keep]
                frames.append(
                    pd.DataFrame(
                        {
                            "cluster_id": np.full(len(rr), cid, np.int64),
                            "id_a": ids[rr + i0],
                            "id_b": ids[cc],
                            "score": S[rr, cc],
                        }
                    )
                )
        if not frames:
            return pd.DataFrame({c: [] for c in out_cols})
        return pd.concat(frames, ignore_index=True)

    # emit renormalizes from the raw vectors (one BLAS-adjacent pass),
    # so the per-row _nrm column would be dead weight on the shuffle
    return (
        assign.select("cluster_id", "vec_id", "embedding")
        .groupBy("cluster_id")
        .applyInPandas(
            emit, "cluster_id bigint, id_a bigint, id_b bigint, score double"
        )
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int | str = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-blocked embedding dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): assign every embedding to its nearest of
    ``n_clusters`` centroids, then compare pairs only WITHIN a cluster —
    semantic blocking that catches paraphrase-level duplicates a
    hyperplane-LSH bucket (``embedding_cosine_dups``) can split across
    buckets, because cluster boundaries follow the data's own density
    rather than random projections.

    Centroids are the ``n_clusters`` rows with the smallest
    ``(h32(id), id)`` — a deterministic hash sample (no k-means RNG), so
    the operator is reproducible across engines and the DuckDB oracle can
    regenerate the exact clustering. Assignment is argmax rounded-cosine
    with the centroid id as tie-break.

    Output: (cluster_id, id_a, id_b, score) for within-cluster pairs with
    cosine ≥ threshold.

    Scale: centroids are a 16..100k-row broadcast; assignment is one
    map-side broadcast cross join + a single struct-min agg (no window,
    no second shuffle); the pair stage shuffles by cluster id and is
    O(Σ cluster_size²) — ``n_clusters`` is the knob, scaled with the
    corpus exactly as the paper does (~√n clusters keeps the quadratic
    bounded).

    Two size regimes (the q28 ``band_bits="auto"`` precedent): corpora
    at or below the vectors floor (2^17 — 60x above the largest
    DuckDB-gated corpus) take the oracle-bit-true expr assignment and
    expr pairs; larger corpora, where the expr pair stream is the
    measured bottleneck (62 s at 220k vectors, disk-abort at 2.2M), take
    the udf assignment and grouped pairs. The input is sized per
    regime.py (``n_rows`` is the hint); ``n_clusters="auto"`` needs the
    exact count, which then also sizes the regime.

    Assignment: the latency regime's argmax is the Catalyst-expression
    broadcast cross join + struct-min agg — bit-exact parity with the
    DuckDB oracle; the scale regime's is the vectorized
    numpy closure argmax (one matmul per Arrow batch, zero shuffle over
    the corpus) — the scale path once n_clusters·rows makes n_clusters
    interpreted cosine folds per row the bottleneck (measured at 200k
    vectors × 450 centroids: assignment dominates the 62 s expr run; the
    udf assignment is ~40x cheaper, SCALE.md). Both regimes argmax over
    cosines rounded to 6 dp with ties to the smallest centroid id, so
    assignments agree even when two centroids sit within 1e-6 of the max
    (the only residual divergence is a cosine landing exactly on a
    .5-at-the-7th-decimal rounding boundary, where Spark rounds half-up
    and numpy half-even — measure-zero on real embeddings); pinned by
    test. Zero-norm embeddings raise in both regimes (ANSI
    DIVIDE_BY_ZERO / ArithmeticError). Requires a bigint id column.

    Within-cluster pairs: the latency regime's are the cluster-keyed
    self-join + per-pair Catalyst cosine fold — bit-exact oracle
    parity; the scale regime's ``grouped`` spelling computes each
    cluster's pair block as ONE numpy/BLAS matmul inside
    ``applyInPandas`` (SemDeDup's own formulation). The expr pair join
    streams every candidate pair with BOTH 64-float vectors attached —
    at the sf100 probe (2.2M vectors, auto-k≈1490, ~3e9 candidate
    pairs) that is a TB-class pair stream and ~16 us of interpreted
    fold per pair, and the run died in >54 GB of spill (SCALE.md r11).
    ``grouped`` shuffles each VECTOR exactly once (n rows keyed by
    cluster_id — the irreducible SemDeDup shuffle) and turns the
    O(sum c_k^2) pair work into dim-wide BLAS at ~1e9 multiply-adds/s
    per core; the score matrix is row-blocked so peak memory per task
    stays ~128 MB at any cluster size. Same rounded-6dp scores and
    (id_a < id_b) pair set; the half-even-vs-half-up boundary caveat of
    the udf assignment applies (parity pinned by test). Skew note: one
    cluster = one task; with auto-k (~sqrt n) clusters of ~sqrt n rows
    this is ~sqrt(n) tasks of equal quadratic cost. A pathological mega
    cluster degrades to one long task whose memory floor is its own
    vectors (O(c*dim) — the score matrix is row-blocked to ~128 MB, but
    the cluster itself must fit); with auto-k that floor is
    ~sqrt(n)*dim doubles, trivial at any n.
    """
    if n_rows is None and n_clusters == "auto":
        n_rows = df.count()
    scale = regime.above(df, "vectors", "semantic_dedup", n_rows)
    if n_clusters == "auto":
        # k = ceil(sqrt(n)): balances the two scale terms — assignment
        # is O(n*k), within-cluster pairs are O(n^2/k) — at O(n^1.5)
        # each. A FIXED k at growing n is quadratic in the pair stage:
        # the 10x bench replica measured 19x wall-clock growth for
        # k=16 at 22k vectors vs ~3x with auto-k (SCALE.md r9). Costs
        # one count() of the input.
        import math as _math

        n_clusters = max(16, int(_math.ceil(_math.sqrt(n_rows))))
    elif not isinstance(n_clusters, int):
        raise ValueError(
            f"n_clusters must be an int or 'auto', got {n_clusters!r}"
        )
    d = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("embedding"),
        _norm(F.col(emb_col)).alias("_nrm"),
    )
    from exon_spark.operators.dedup import h32

    cents = (
        d.select(
            "vec_id",
            "embedding",
            "_nrm",
            h32(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n_clusters)
        .select(
            F.col("vec_id").alias("cidx"),
            F.col("embedding").alias("cemb"),
            F.col("_nrm").alias("_cnrm"),
        )
    )
    from exon_spark.operators.dedup import _materialize

    if scale:
        # centroid collect is bounded by the n_clusters knob (same class
        # as ivf_fit_centroids' documented driver sample)
        cent_rows = cents.select("cidx", "cemb").collect()
        assign_fn = _assign_cluster_udf(
            [(r.cidx, list(r.cemb)) for r in cent_rows]
        )
        assign = d.select(
            "vec_id",
            assign_fn(F.col("embedding")).alias("cluster_id"),
            "embedding",
            "_nrm",
        )
    else:
        scored = d.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "embedding",
            "_nrm",
            "cidx",
            cosine_pre(
                F.col("embedding"), F.col("cemb"), F.col("_nrm"), F.col("_cnrm")
            ).alias("cos"),
        )
        # min struct((-cos, cidx)) == argmax cosine, ties to the smallest
        # centroid id; embedding is constant within the group so first()
        # is deterministic in value.
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cos")).alias("nc"), F.col("cidx").alias("cidx")
                    )
                ).alias("_m"),
                F.first("embedding").alias("embedding"),
                F.first("_nrm").alias("_nrm"),
            )
            .select(
                "vec_id", F.col("_m.cidx").alias("cluster_id"), "embedding", "_nrm"
            )
        )
    if scale:
        # single consumer (the per-cluster matmul) — no materialization;
        # the cluster_id shuffle of applyInPandas is the one pass over
        # the corpus this regime pays
        return _grouped_cluster_pairs(assign, threshold)
    # expr pairs: assign feeds both sides of the pair self-join;
    # unmaterialized, the dominant O(n·k·dim) assignment runs twice per
    # invocation
    assign = _materialize(assign)
    a = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        F.col("_nrm").alias("_na"),
    )
    b = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        F.col("_nrm").alias("_nb"),
    )
    cand = a.join(b, "cluster_id").filter(F.col("id_a") < F.col("id_b"))
    # spread the candidate pairs BEFORE the cosine projection: the join
    # keys on <=n_clusters values and AQE then coalesces its output by
    # BYTES — a few MB of pair rows land on one task while the cosine
    # fold is the dominant compute. One round-robin exchange of the
    # (small) candidate rows buys full-core parallelism for it; at
    # corpus scale with ~sqrt(n) clusters the join output is already
    # wide and the exchange is one extra pass over candidate rows, not
    # over the corpus.
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        cand.select(
            "cluster_id",
            "id_a",
            "id_b",
            cosine_pre(
                F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _kmeans_partials_fn(centroids: list[tuple[int, list[float]]], scale: int):
    """mapInPandas partial-aggregation stage for one Lloyd iteration:
    per Arrow batch, assign rows to their nearest centroid (6-dp-rounded
    cosine argmax, ties to the smallest cell id — ``_assign_cluster_udf``'s
    exact discipline) and emit per-(cell, component) partial sums of the
    L2-NORMALIZED member vectors as scaled int64 (``round(v * scale)``).
    Integer partials make the downstream sum exact and order-independent —
    the accumulation analogue of the decimal-sum rounding discipline the
    oracle-gated scores use. Defined in a factory so cloudpickle ships the
    centroid matrix by value (broadcast in the closure)."""
    import numpy as np

    ids = np.array([cid for cid, _ in centroids], np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    C = np.array([c for _, c in centroids], np.float64)[order]
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    if not (np.isfinite(cn).all() and cn.all()):
        raise ArithmeticError("zero-norm or non-finite centroid in kmeans_refine")
    Cn = C / cn

    def f(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, np.float64) for v in pdf["v"]])
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            if not nrm.all():
                raise ArithmeticError("zero-norm embedding in kmeans_refine")
            Mn = M / nrm
            assign = np.argmax(np.round(Mn @ Cn.T, 6), axis=1)
            dim = Mn.shape[1]
            for a in np.unique(assign):
                m = assign == a
                # per-ROW scaling before the sum: round(v*scale) is the
                # quantity whose sum must be order-independent; each
                # partial stays within rows_in_batch * scale — exact int64
                psum = np.round(Mn[m] * scale).sum(axis=0).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "cell": np.full(dim, ids[a], np.int64),
                        "pos": np.arange(dim, dtype=np.int64),
                        "psum": psum,
                        "cnt": np.full(dim, int(m.sum()), np.int64),
                    }
                )

    return f


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed spherical Lloyd refinement over the FULL corpus — the
    step up from ``ivf_fit_centroids``'s bounded driver sample when the
    sample under-represents tail modes (the regime where IVF cell quality
    and SemDeDup blocking actually suffer). Seed with
    ``ivf_fit_centroids(...)`` and pass the result anywhere centroids go
    (``ivf_ann_topk(centroids=...)``).

    Each iteration is ONE corpus pass, no corpus shuffle: assignment runs
    map-side with the centroid matrix broadcast in an Arrow UDF closure
    (one matmul per batch), and each task emits k x dim partial rows
    (cell, pos, psum, cnt) — member vectors pre-summed as scaled int64
    within the task, so the shuffle carries partials, never vectors. The
    JVM agg sums partials as decimal(38,0) (exact at any corpus size; a
    long sum would wrap past ~1e9 rows per cell) and the driver turns
    k x dim exact integer sums into unit-normalized means. Empty cells
    keep their previous centroid (standard Lloyd).

    DETERMINISTIC at bit level across partitionings and cluster layouts:
    assignment is 6-dp-rounded-cosine argmax with ties to the smallest
    cell id (``semantic_dedup``'s regime discipline), and integer partial
    sums are order-independent where float partials would not be — so the
    fit reproduces anywhere, the property every other operator here holds
    (pinned by the partitioning-invariance test).

    Scale: per-task partial state is k x dim int64 (the same bound
    Spark MLlib's KMeans treeAggregate carries); the shuffle per
    iteration is tasks x k x dim rows of 32 bytes; driver state is
    k x dim doubles — the same matrix it must broadcast anyway. Cost is
    iters corpus passes; seed from the sampled fit so 3-5 refinement
    passes suffice.
    """
    import numpy as np

    scale = 10**9
    ids = sorted(cid for cid, _ in centroids)
    cur = {cid: list(map(float, vec)) for cid, vec in centroids}
    data = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        fn = _kmeans_partials_fn(sorted(cur.items()), scale)
        partials = data.mapInPandas(
            fn, "cell bigint, pos bigint, psum bigint, cnt bigint"
        )
        rows = (
            partials.groupBy("cell", "pos")
            .agg(
                F.sum(F.col("psum").cast("decimal(38,0)")).alias("s"),
                F.sum("cnt").alias("n"),
            )
            .collect()
        )
        sums: dict[int, np.ndarray] = {}
        cnts: dict[int, int] = {}
        for r in rows:
            a = sums.setdefault(int(r.cell), np.zeros(len(next(iter(cur.values()))), np.float64))
            a[int(r.pos)] = float(r.s)
            if int(r.pos) == 0:
                cnts[int(r.cell)] = int(r.n)
        for cid in ids:
            if cnts.get(cid, 0) == 0:
                continue  # empty cell: keep previous centroid
            v = sums[cid] / (cnts[cid] * scale)
            nv = np.linalg.norm(v)
            if nv > 1e-12:
                cur[cid] = (v / nv).tolist()
    return [(cid, cur[cid]) for cid in ids]


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    eval_emb_col: str | None = None,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag every corpus
    vector whose max cosine against ANY eval-set vector reaches
    ``threshold`` — the semantic complement to the n-gram
    ``decontaminate`` (paraphrased eval leakage survives n-gram overlap
    checks; recent curation pipelines run both, e.g. the hybrid
    lexical+embedding decontamination in Phi-4 / FineWeb writeups).

    Output: ``(vec_id, max_eval_cos, contaminated)`` — one row per corpus
    vector, ``max_eval_cos`` rounded to 6 dp (per-pair rounding BEFORE
    the max, matching the oracle arithmetic).

    One Catalyst spelling — broadcast cross join against the eval frame
    + one max agg (DuckDB-mirrorable, pinned by an in-test oracle).
    Zero-norm vectors raise (ANSI DIVIDE_BY_ZERO).

    100 TB shape: eval sets are benchmark-sized (10²-10⁵ rows) — always
    the broadcast side; the corpus side is one small-key agg.
    O(corpus x eval) similarity work is inherent to exhaustive
    screening.
    """
    evc = eval_emb_col or emb_col
    d = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("embedding"),
        _norm(F.col(emb_col)).alias("_nrm"),
    )
    ev = eval_df.select(
        F.col(evc).alias("_eemb"), _norm(F.col(evc)).alias("_enrm")
    )
    if ev.isEmpty():
        raise ValueError("semantic_decontaminate: empty eval set")
    scored = (
        d.crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            cosine_pre(
                F.col("embedding"),
                F.col("_eemb"),
                F.col("_nrm"),
                F.col("_enrm"),
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_eval_cos"))
    )
    return scored.select(
        "vec_id",
        "max_eval_cos",
        (F.col("max_eval_cos") >= threshold).alias("contaminated"),
    )


def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    out_col: str = "qvec",
    keep_scale: bool = True,
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: each vector is
    scaled by its own max-abs to [-127, 127] and rounded —
    ``array<float>`` (4 B/dim) becomes ``array<tinyint>`` (1 B/dim), a 4x
    reduction of ANN shuffle/broadcast bytes.

    Per-VECTOR scaling is the right symmetry for cosine workloads: cosine
    is invariant to positive per-vector scaling, so ``qcosine`` over the
    int arrays approximates the float cosine with only rounding error
    (|err| <~ dim/127 in the worst case, ~1e-2 at dim 64 — enough for
    LSH/IVF candidate generation; re-rank survivors on the float column).
    ``keep_scale`` adds a ``<out_col>_scale`` float column (maxabs/127)
    for dequantization when absolute dot products matter.

    Pure JVM HOF columns — map-only, zero shuffle. Zero vectors quantize
    to all-zero with scale 0 (dequantizes exactly; ``qcosine`` of a zero
    vector follows the same ANSI divide-by-zero contract as ``cosine``).
    """
    v = F.col(emb_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (maxabs / F.lit(127.0)).cast("float")
    q = F.transform(
        v,
        lambda x: F.when(maxabs == 0, F.lit(0))
        .otherwise(F.round((x / maxabs) * 127.0, 0).cast("int"))
        .cast("tinyint"),
    )
    out = df.withColumn(out_col, q)
    if keep_scale:
        out = out.withColumn(f"{out_col}_scale", scale)
    return out


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qvec_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: ``x ~ q * scale`` as
    ``array<float>`` (max error scale/2 per component, pinned by test)."""
    s = F.col(scale_col)
    return df.withColumn(
        out_col,
        F.transform(F.col(qvec_col), lambda q: (q.cast("float") * s)),
    )


def qcosine(a: Column | str, b: Column | str, digits: int = 6) -> Column:
    """Cosine over two int8-quantized vectors — integer dot and norms in
    bigint (no overflow: 127² · dim << 2^63), one double division at the
    end. Per-vector quantization scales cancel, so no scale columns are
    needed for ranking."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    to_l = lambda c: F.transform(c, lambda x: x.cast("bigint"))  # noqa: E731
    la, lb = to_l(ca), to_l(cb)
    dot = F.aggregate(
        F.zip_with(la, lb, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.round(
        dot.cast("double")
        / (F.sqrt(sq(la).cast("double")) * F.sqrt(sq(lb).cast("double"))),
        digits,
    )
