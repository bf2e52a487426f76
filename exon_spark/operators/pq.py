"""Product quantization (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search") — the memory side of ANN at 100 TB.

Beyond-reference layer (no exon counterpart).

int8 quantization (similarity.quantize_embeddings) is 4x; PQ is 16-64x:
a 64-dim float32 embedding (256 bytes) compresses to ``n_sub`` one-byte
codes (8 bytes at n_sub=8) by splitting the vector into ``n_sub``
subspaces and storing, per subspace, the id of the nearest of ``k``
learned sub-centroids. A billion-vector corpus then fits executor
memory (8 GB of codes vs 256 GB of floats), which is what makes
exhaustive ADC scans viable where raw floats would thrash.

Spark shapes:
  * ``pq_fit`` — bounded deterministic driver sample (the
    ivf_fit_centroids contract: xxhash64-ordered limit, ~50 MB whatever
    the corpus size) + per-subspace numpy Lloyd. The codebook is
    n_sub*k*(dim/n_sub) floats — KBs, a driver object with
    ``to_bytes``/``from_bytes`` like the Bloom filter.
  * ``pq_encode`` — one Arrow-batched pandas UDF, fully vectorized
    argmin over the (small) codebook per subspace; map-only, zero
    shuffle, streaming-safe. Rows are L2-normalized first so inner
    product against reconstructions approximates cosine.
  * ``pq_topk`` — asymmetric distance computation (ADC): each query
    precomputes an (n_sub, k) lookup table of sub-inner-products
    against the UNquantized query (driver-side numpy, broadcast in the
    UDF closure); scoring a corpus row is n_sub table gathers + a sum —
    no float vector ever read. The corpus scan emits (q_id, vec_id,
    score) and only the tiny per-query top-k aggregation shuffles, the
    same shape as ``cosine_topk``.

Scores are approximate cosine (exact cosine of the query with the
reconstructed corpus vector, up to the corpus row's quantization
error); re-rank the top-k' > k survivors with exact ``cosine_topk``
when exactness matters — k' rows, not the corpus.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_MAGIC = b"XPQ1"


@dataclass
class PQCodebook:
    n_sub: int
    k: int
    dim: int
    centroids: np.ndarray  # float32 (n_sub, k, dim // n_sub)

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<III", self.n_sub, self.k, self.dim)
        return head + self.centroids.astype("<f4").tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "PQCodebook":
        if raw[:4] != _MAGIC:
            raise ValueError("not a serialized PQCodebook (bad magic)")
        n_sub, k, dim = struct.unpack_from("<III", raw, 4)
        cents = np.frombuffer(raw[16:], dtype="<f4").reshape(
            n_sub, k, dim // n_sub
        ).copy()
        return cls(n_sub=n_sub, k=k, dim=dim, centroids=cents)

    def save(self, path: str, spark=None) -> None:
        """Persist next to the encoded corpus (any Hadoop-FS path the
        cluster can write — the ``minhash_index`` standing-state
        convention)."""
        from exon_spark.operators.state import write_state_bytes

        write_state_bytes(path, self.to_bytes(), spark)

    @classmethod
    def load(cls, path: str, spark=None) -> "PQCodebook":
        from exon_spark.operators.state import read_state_bytes

        return cls.from_bytes(read_state_bytes(path, spark))


def _sampled_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, sample_n: int
) -> np.ndarray:
    """Deterministic bounded sample, L2-normalized — the exact
    ivf_fit_centroids sampling contract (similarity.bounded_hash_sample,
    threshold-prefiltered so the TakeOrdered driver results stay ~4n
    rows at any corpus size)."""
    from exon_spark.operators.similarity import bounded_hash_sample

    rows = bounded_hash_sample(corpus, id_col, vec_col, sample_n)
    if not rows:
        raise ValueError("pq_fit: empty corpus")
    X = np.stack([np.asarray(r.v, np.float64) for r in rows])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return X


def pq_fit(
    corpus: DataFrame,
    n_sub: int = 8,
    k: int = 256,
    sample_n: int = 100_000,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQCodebook:
    """Learn a product-quantization codebook: independent k-means in each
    of ``n_sub`` equal subspaces (dim must divide evenly), Euclidean
    Lloyd with deterministic first-k init on the normalized sample —
    reproducible across runs and partitionings (pinned by test)."""
    X = _sampled_matrix(corpus, id_col, vec_col, sample_n)
    return _pq_lloyd(X, n_sub, k, iters)


def _pq_lloyd(X: np.ndarray, n_sub: int, k: int, iters: int) -> PQCodebook:
    """Per-subspace Euclidean Lloyd on an (n, dim) float64 matrix —
    shared by ``pq_fit`` (raw normalized vectors) and ``ivfpq_fit``
    (cell residuals)."""
    dim = X.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    if k > 256:
        raise ValueError("k > 256 breaks the one-byte-per-subspace budget")
    d_sub = dim // n_sub
    k = min(k, len(X))
    cents = np.empty((n_sub, k, d_sub), dtype=np.float32)
    # one reused score buffer: fresh n*k temporaries each iteration are
    # first-touch page faults — the naive spelling measured 61 s vs 12 s
    # for this one at 100k x 16 x 256
    M = np.empty((len(X), k))
    for s in range(n_sub):
        Xs = np.ascontiguousarray(X[:, s * d_sub : (s + 1) * d_sub])
        C = Xs[:k].copy()
        for _ in range(iters):
            # ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2: argmin is
            # argmax(<x,c> - ||c||^2/2), computed in place
            np.matmul(Xs, C.T, out=M)
            M -= 0.5 * (C * C).sum(axis=1)
            assign = np.argmax(M, axis=1)
            # vectorized mean update: per-cell boolean masks are
            # k*iters*n_sub O(n) passes and np.add.at is an unbuffered
            # scatter — weighted bincount per (small) sub-dimension is
            # the fast spelling (70 s -> ~8 s fit at 100k x 16 x 256)
            sums = np.stack(
                [
                    np.bincount(assign, weights=Xs[:, j], minlength=k)
                    for j in range(d_sub)
                ],
                axis=1,
            )
            counts = np.bincount(assign, minlength=k)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        cents[s] = C.astype(np.float32)
    return PQCodebook(n_sub=n_sub, k=k, dim=dim, centroids=cents)


def pq_encode(
    df: DataFrame,
    cb: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``n_sub`` one-byte codes. Output:
    (vec_id, pq_code array<smallint>). Map-only (plan-pinned); null or
    wrong-dim vectors raise (a silently mis-encoded corpus is worse
    than a loud batch failure)."""
    cents = cb.centroids
    n_sub, k, d_sub = cents.shape
    dim = cb.dim

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<smallint>")
    def enc(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        bad = [v is None or len(v) != dim for v in vecs]
        if any(bad):
            raise ValueError(
                f"pq_encode: null or non-{dim}-dim vector in batch"
            )
        X = np.stack([np.asarray(v, np.float64) for v in vecs])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), n_sub), dtype=np.int16)
        for s in range(n_sub):
            Xs = X[:, s * d_sub : (s + 1) * d_sub]
            C = cents[s].astype(np.float64)
            d2 = -2.0 * (Xs @ C.T) + (C * C).sum(axis=1)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.select(
        F.col(id_col).alias("vec_id"), enc(F.col(vec_col)).alias("pq_code")
    )


def pq_decode(codes: DataFrame, cb: PQCodebook) -> DataFrame:
    """Reconstruct approximate (normalized) vectors from codes —
    (vec_id, embedding array<float>). Mostly a test/debug aid; real
    scoring never reconstructs (ADC gathers from the LUT instead)."""
    cents = cb.centroids

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def dec(code_arrs):
        import numpy as np
        import pandas as pd

        out = []
        for c in code_arrs:
            idx = np.asarray(c, dtype=np.int64)
            out.append(
                np.concatenate(
                    [cents[s, idx[s]] for s in range(len(idx))]
                ).astype(np.float32)
            )
        return pd.Series(out)

    return codes.select("vec_id", dec(F.col("pq_code")).alias("embedding"))


def pq_topk(
    codes: DataFrame,
    cb: PQCodebook,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_corpus: DataFrame | None = None,
    rerank_mult: int = 4,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus for each (unquantized) query.

    Output: (q_id, vec_id, score, rnk) — the ``cosine_topk`` shape and
    tie-break, scores = cosine of the normalized query against the
    corpus row's reconstruction, rounded to 6 digits. Queries collect
    to the driver (bounded query-set contract shared with cosine_topk's
    broadcast) into one (Q, n_sub, k) numpy LUT shipped in the UDF
    closure; the corpus-side cost per row is n_sub gathers + a sum per
    query, and the only shuffle is the per-query top-k window over
    (q_id, vec_id, score) rows.

    ``rerank_corpus`` enables the standard two-stage pattern: ADC
    shortlists ``k * rerank_mult`` candidates per query, their raw
    vectors are fetched from the (float) corpus with one broadcast
    semi-join of the TINY candidate set, and exact cosine re-ranks to
    the final k — quantization error then only costs recall when a true
    neighbor falls outside the shortlist, not when it is re-ordered
    inside it. Scores in that mode are EXACT cosines."""
    cents = cb.centroids
    n_sub, kc, d_sub = cents.shape
    qrows = (
        queries.select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
        .orderBy("q")
        .collect()
    )
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    q_ids = [r.q for r in qrows]
    Q = np.stack([np.asarray(r.v, np.float64) for r in qrows])
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # LUT[qi, s, c] = <q_sub, centroid_c>; transpose to (s, c, q) so the
    # scoring gather is one fancy-index per subspace
    lut = np.stack(
        [
            np.stack(
                [
                    Q[:, s * d_sub : (s + 1) * d_sub] @ cents[s, c]
                    for c in range(kc)
                ]
            )
            for s in range(n_sub)
        ]
    )  # (n_sub, kc, Q)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def adc(code_arrs):
        import numpy as np
        import pandas as pd

        if len(code_arrs) == 0:
            return pd.Series([], dtype=object)
        C = np.stack([np.asarray(c, np.int64) for c in code_arrs])  # (B, S)
        tot = lut[0, C[:, 0], :]
        for s in range(1, n_sub):
            tot = tot + lut[s, C[:, s], :]
        return pd.Series(list(np.round(tot, 6)))

    qid_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        codes.select("vec_id", F.posexplode(adc(F.col("pq_code"))).alias("qi", "score"))
        .select(
            qid_arr[F.col("qi")].alias("q_id"),
            "vec_id",
            "score",
        )
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _topk_or_rerank(
        scored, queries, k, rerank_corpus, rerank_mult, id_col, vec_col
    )


def _topk_or_rerank(
    scored: DataFrame,
    queries: DataFrame,
    k: int,
    rerank_corpus: DataFrame | None,
    rerank_mult: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of the ADC searchers: per-query top-k window over
    (q_id, vec_id, score), optionally re-ranked exactly (shortlist of
    k*mult ids fetched from the float corpus with one broadcast
    semi-join, exact cosine, re-window)."""
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    if rerank_corpus is None:
        return scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= k
        )
    from exon_spark.operators.similarity import cosine

    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k * rerank_mult)
        .select("q_id", "vec_id")
    )
    qvec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
    )
    exact = (
        rerank_corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")
        )
        # candidate set is Q * k * rerank_mult rows — broadcast it so the
        # fetch is a map-side semi-join over the float corpus
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("_cv"), F.col("_qv")).alias("score"),
        )
    )
    return exact.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def ivfpq_fit(
    corpus: DataFrame,
    n_cells: int = 64,
    n_sub: int = 8,
    k: int = 256,
    sample_n: int = 100_000,
    cell_iters: int = 10,
    pq_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], PQCodebook]:
    """Fit the IVF-PQ pair (Jégou 2011 IVFADC) from ONE bounded sample:
    spherical Lloyd for the ``n_cells`` coarse centroids (the
    ivf_fit_centroids math — cosine assignment, deterministic first-k
    init), then the PQ codebook on the CELL RESIDUALS ``x - C[cell]``
    (residuals are what PQ quantizes well: they are small and centered,
    so the same byte budget buys far less error than on raw vectors).

    Returns ``(centroids, codebook)`` — centroids in the
    ``ivf_ann_topk(centroids=...)`` shape, the codebook a driver object
    with ``to_bytes``/``from_bytes``."""
    X = _sampled_matrix(corpus, id_col, vec_col, sample_n)
    n_cells = min(n_cells, len(X))
    C = X[:n_cells].copy()
    for _ in range(cell_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    C[c] = v / nv
    assign = np.argmax(X @ C.T, axis=1)
    cb = _pq_lloyd(X - C[assign], n_sub, k, pq_iters)
    centroids = [(c, C[c].tolist()) for c in range(n_cells)]
    return centroids, cb


def ivfpq_encode(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    cb: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as (cell, residual PQ codes). Output:
    (vec_id, cell int, pq_code array<smallint>) — map-only, zero
    shuffle (plan-pinned). At 100 TB write the result partitioned (or
    z-ordered) BY CELL: ``ivfpq_topk``'s probe filter is a plain
    ``cell IN (...)`` predicate, so cell-partitioned storage turns
    nprobe/n_cells into touched-file fraction, not just row filtering."""
    cents = cb.centroids
    n_sub, kc, d_sub = cents.shape
    dim = cb.dim
    order = sorted(centroids)
    cell_ids = np.array([c for c, _ in order], dtype=np.int64)
    C = np.stack([np.asarray(v, np.float64) for _, v in order])

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell:int, pq_code:array<smallint>>")
    def enc(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.DataFrame({"cell": [], "pq_code": []})
        bad = [v is None or len(v) != dim for v in vecs]
        if any(bad):
            raise ValueError(
                f"ivfpq_encode: null or non-{dim}-dim vector in batch"
            )
        X = np.stack([np.asarray(v, np.float64) for v in vecs])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        a = np.argmax(X @ C.T, axis=1)
        R = X - C[a]
        codes = np.empty((len(X), n_sub), dtype=np.int16)
        for s in range(n_sub):
            Rs = R[:, s * d_sub : (s + 1) * d_sub]
            Cs = cents[s].astype(np.float64)
            d2 = -2.0 * (Rs @ Cs.T) + (Cs * Cs).sum(axis=1)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"cell": cell_ids[a].astype("int32"), "pq_code": list(codes)}
        )

    return df.select(
        F.col(id_col).alias("vec_id"), enc(F.col(vec_col)).alias("_e")
    ).select("vec_id", F.col("_e.cell").alias("cell"), F.col("_e.pq_code").alias("pq_code"))


def ivfpq_topk(
    encoded: DataFrame,
    centroids: list[tuple[int, list[float]]],
    cb: PQCodebook,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_corpus: DataFrame | None = None,
    rerank_mult: int = 4,
) -> DataFrame:
    """IVFADC search: each query probes only its ``nprobe`` closest
    cells; a corpus row in cell c scores ``<q, C[c]> + ADC(residual
    codes)`` (the inner product decomposes exactly as centroid bias +
    residual term, so the LUT is query-only and the bias is one small
    (query, cell) table). The corpus scan carries a pushdown-friendly
    ``cell IN (union of probed cells)`` predicate — with
    cell-partitioned storage that is partition pruning — and ADC
    scoring is **sliced per cell**: each row is scored ONLY against
    the queries probing its cell (the LUT gathered on that cell's
    probe list), so per-row work is ``n_sub x |probers(cell)|``
    (~ Q*nprobe/cells), not ``n_sub x Q`` — the r9-verdict finding
    (compute waste linear in Q at real query batches; measured 3.1x
    at Q=2048 over a 200k corpus, result-identical,
    SCALE.md "r10/r11 operator probes"). The (cell, slot) -> (query, bias)
    mapping is one broadcast Q*nprobe-row join after posexplode; LUT
    and probe lists ride ``sc.broadcast``, not the UDF closure.
    Output/semantics match ``pq_topk`` (approximate-cosine scores, or
    exact with ``rerank_corpus``)."""
    cents = cb.centroids
    n_sub, kc, d_sub = cents.shape
    order = sorted(centroids)
    cell_ids = [c for c, _ in order]
    C = np.stack([np.asarray(v, np.float64) for _, v in order])
    qrows = (
        queries.select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
        .orderBy("q")
        .collect()
    )
    if not qrows:
        raise ValueError("ivfpq_topk: empty query set")
    q_ids = [r.q for r in qrows]
    Q = np.stack([np.asarray(r.v, np.float64) for r in qrows])
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    nprobe = min(nprobe, len(order))
    bias = Q @ C.T  # (Q, cells)
    # deterministic probe order: bias desc, cell asc
    probe_rows = []
    for qi in range(len(q_ids)):
        ranked = sorted(
            range(len(order)), key=lambda c: (-bias[qi, c], cell_ids[c])
        )[:nprobe]
        probe_rows.extend(
            (qi, int(cell_ids[c]), float(bias[qi, c])) for c in ranked
        )
    lut = np.stack(
        [
            np.stack(
                [
                    Q[:, s * d_sub : (s + 1) * d_sub] @ cents[s, c]
                    for c in range(kc)
                ]
            )
            for s in range(n_sub)
        ]
    )  # (n_sub, kc, Q)

    # per-cell probe lists: cell -> int64[ qi... ] sorted ascending.
    # slot j of a row's score array is probers[cell][j]; the broadcast
    # (cell, slot) join below resolves slots back to (query, bias)
    probers: dict[int, list[int]] = {}
    pbias: dict[tuple[int, int], float] = {}
    for qi, cell, b in probe_rows:
        probers.setdefault(cell, []).append(qi)
        pbias[(qi, cell)] = b
    probers_np = {c: np.array(sorted(v), np.int64) for c, v in probers.items()}
    slot_rows = [
        (cell, slot, int(qi), pbias[(int(qi), cell)])
        for cell, qs in probers_np.items()
        for slot, qi in enumerate(qs)
    ]

    sc = encoded.sparkSession.sparkContext
    from exon_spark.operators.state import track_broadcast

    bc = track_broadcast(sc.broadcast((lut, probers_np)))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def adc(cells, code_arrs):
        import numpy as np
        import pandas as pd

        if len(code_arrs) == 0:
            return pd.Series([], dtype=object)
        lut, probers = bc.value
        cells_np = cells.to_numpy(dtype=np.int64, na_value=-1)
        Cd = np.stack([np.asarray(c, np.int64) for c in code_arrs])
        out = [None] * len(cells_np)
        for cell in np.unique(cells_np):
            qs = probers[int(cell)]
            sub = lut[:, :, qs]  # (n_sub, kc, |probers(cell)|)
            idxs = np.nonzero(cells_np == cell)[0]
            cc = Cd[idxs]
            tot = sub[0, cc[:, 0], :]
            for s in range(1, sub.shape[0]):
                tot = tot + sub[s, cc[:, s], :]
            for row, vals in zip(idxs, tot):
                out[row] = vals
        return pd.Series(out)

    spark = encoded.sparkSession
    slots = spark.createDataFrame(
        slot_rows, "cell int, slot int, qi int, bias double"
    )
    all_cells = sorted(probers_np)
    qid_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        encoded.filter(F.col("cell").isin(all_cells))
        .select(
            "vec_id",
            "cell",
            F.posexplode(adc(F.col("cell"), F.col("pq_code"))).alias(
                "slot", "_r"
            ),
        )
        .join(F.broadcast(slots), ["cell", "slot"])
        .select(
            qid_arr[F.col("qi")].alias("q_id"),
            "vec_id",
            F.round(F.col("_r") + F.col("bias"), 6).alias("score"),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _topk_or_rerank(
        scored, queries, k, rerank_corpus, rerank_mult, id_col, vec_col
    )
