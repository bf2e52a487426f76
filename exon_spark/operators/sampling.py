"""Deterministic sampling & corpus mixing for training-data pipelines.

``df.sample()`` is the wrong tool for dataset curation: its output depends
on the RNG seed *per partition*, so it changes whenever partitioning
changes (repartition, AQE, a different cluster size) and cannot be
reproduced across engines. Content-hash sampling decides keep/drop from
the row's own key — the same row set survives on any engine, any layout,
any day, and the filter is a pure Column expression evaluated map-side
(no shuffle, pushes through scans like any filter).

The hash is ``h32`` (first 8 md5 hex chars as bigint) so the DuckDB
oracles reproduce the exact row set — see operators/dedup.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from exon_spark.operators.dedup import h32

_BUCKETS = 1_000_000


def sample_bucket(key: Column | str, salt: str = "") -> Column:
    """Uniform bucket in [0, 1e6) derived from the row key (+ optional salt
    so independent samples of the same corpus don't correlate)."""
    c = F.col(key) if isinstance(key, str) else key
    return h32(F.concat(c.cast("string"), F.lit(salt))) % _BUCKETS


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash. Map-side
    filter: no shuffle, reproducible on any partitioning or engine."""
    return df.filter(sample_bucket(key_col, salt) < int(fraction * _BUCKETS))


def stratified_mix(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Corpus mixing: per-stratum deterministic sampling rates (e.g.
    up/down-weighting sources or languages when assembling a training mix).
    One map-side filter — the rate is a CASE over the stratum column, the
    keep decision a hash compare; no shuffle, no RNG, fully reproducible."""
    rate: Column = F.lit(int(default_rate * _BUCKETS))
    for value, r in rates.items():
        rate = F.when(F.col(stratum_col) == value, int(r * _BUCKETS)).otherwise(rate)
    return df.filter(sample_bucket(key_col, salt) < rate)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic named splits (train/val/test and friends): each row
    gets the label whose cumulative-weight interval its key-hash bucket
    falls in — disjoint, exhaustive, and stable across runs, engines and
    partitionings (the property RNG-based randomSplit lacks: a doc can
    never migrate between splits when the corpus grows, so eval sets
    stay eval). Weights are normalized; interval edges are laid out in
    dict order over integer millionths, so every row gets exactly one
    label. Map-side expression, zero shuffle, streaming-safe."""
    if not weights:
        raise ValueError("hash_split: empty weights dict")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("hash_split: weights must be >= 0 with a positive sum")
    tot = sum(weights.values())
    b = sample_bucket(key_col, salt)
    cum = 0.0
    expr: Column | None = None
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / tot
        edge = int(cum * _BUCKETS)
        expr = (
            F.when(b < edge, F.lit(name))
            if expr is None
            else expr.when(b < edge, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def token_budget_cap(
    df: DataFrame,
    budget_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    salt: str = "",
    approximate: bool = False,
) -> DataFrame:
    """Cap each group at a token budget: within every ``by`` group, order
    documents by their content hash (the same reproducible order
    ``hash_sample`` uses) and keep the prefix whose cumulative token count
    stays within ``budget_tokens`` — "give me ~N tokens per source/language,
    chosen deterministically" is the final assembly step of every training
    mix, and unlike rate-based sampling it hits an absolute token target.

    Output: (doc_id, <by>, n_tokens, cum_tokens) for the kept docs —
    re-join on doc_id to recover full rows. Deterministic on any
    partitioning or engine: the order key is (h32(id+salt), id), a total
    order.

    Scale: one shuffle by the group key + an in-group sort for the running
    sum (Spark's window). Groups are source/lang strata — thousands at
    most, so per-group data at 100 TB is large but the running sum is a
    single streaming pass after the sort; skewed strata spill-sort rather
    than OOM.

    ``approximate=True`` is the sort-free variant for when the cap needn't
    be exact: the hash is uniform and independent of token counts by
    construction, so keeping ``h < budget/T_g × buckets`` (one
    |groups|-row agg for the totals T_g, broadcast back, then a map-side
    filter — NO shuffle of full rows, NO sort) lands within sampling
    noise of the budget (±O(√) over kept docs). Same keep-order contract
    (smallest hashes first), so the exact mode's kept set is a superset
    cut at the true prefix; ``cum_tokens`` is null in this mode (there is
    no order to accumulate along). Groups already under budget keep every
    row.
    """
    from pyspark.sql import Window

    ntok = (
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        if token_col is None
        else F.col(token_col)
    )
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(by),
        ntok.alias("n_tokens"),
        h32(F.concat(F.col(id_col).cast("string"), F.lit(salt))).alias("_h"),
    )
    if approximate:
        span = 1 << 32  # h32 is uniform in [0, 2^32) — same key the exact
        # mode sorts by, so the kept set nests inside the exact prefix.
        # integral arithmetic: budget * span overflows the double mantissa
        # past ~2M tokens (and int64 past ~2^31 tokens) and would silently
        # round the cutoff; decimal(38) holds the product exactly and
        # `div` floors it back to bigint
        totals = d.groupBy(by).agg(F.sum("n_tokens").alias("_tot"))
        cutoff = F.when(F.col("_tot") <= budget_tokens, F.lit(span)).otherwise(
            F.expr(
                f"CAST({int(budget_tokens)} AS DECIMAL(38,0)) * {span} div _tot"
            )
        )
        return (
            d.join(F.broadcast(totals.withColumn("_cut", cutoff)), by)
            .filter(F.col("_h") < F.col("_cut"))
            .select(
                "doc_id",
                by,
                "n_tokens",
                F.lit(None).cast("bigint").alias("cum_tokens"),
            )
        )
    w = (
        Window.partitionBy(by)
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .drop("_h")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    bucket_rows: int = 65536,
) -> DataFrame:
    """Concatenate-and-chop sequence packing: lay every ``by`` group's
    documents end to end in ``id_col`` order and chop the token stream into
    fixed ``seq_len`` windows — the standard assembly step that turns a
    curated corpus into equal-length training examples. Emits, per doc:
    ``pack_id`` (which window its first token lands in), ``pack_offset``
    (token position inside that window) and ``n_packs`` (how many windows
    the doc spans), from which a writer can materialize examples without
    ever re-ordering the corpus.

    ``id_col`` must be an integral column (the bucket boundaries are id
    ranges); a non-integral id raises here rather than failing obscurely
    (or silently, pre-ANSI) inside the bigint cast. Null ids land in a
    sentinel first bucket rather than being dropped by the bucket join.

    Scale: the naive plan is ``SUM(tokens) OVER (PARTITION BY source ORDER
    BY doc_id)`` — one task per source, a scale-killer when a source holds
    billions of docs. This implements the classic two-level distributed
    prefix sum instead: (1) docs land in ``bucket_rows``-sized id-range
    buckets and a map-side partial agg produces per-(group, bucket) token
    sums — a table with one row per bucket, ~10^4 smaller than the corpus;
    (2) a window over *that* table (per group, ordered by bucket) yields
    each bucket's absolute start offset; (3) the offsets broadcast-join
    back and the in-bucket running sum runs in a (group, bucket) window —
    thousands of parallel window tasks of ``bucket_rows`` rows each, never
    one task per group. Identical output to the naive global window (bucket
    boundaries respect id order), which is exactly what the DuckDB oracle
    computes. If the bucket-sum table itself outgrows broadcast (~10^13
    rows of corpus), add a third level or fall back to a shuffle join —
    the construction telescopes.
    """
    from pyspark.sql import Window

    ntok = (
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        if token_col is None
        else F.col(token_col)
    ).cast("int")
    if bucket_rows < 1:
        raise ValueError(f"bucket_rows must be >= 1, got {bucket_rows}")
    id_dtype = dict(df.dtypes).get(id_col)
    if id_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_sequences requires an integral id_col; {id_col!r} is "
            f"{id_dtype!r}"
        )
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(by),
        ntok.alias("n_tokens"),
        # integer div, not floor(x / N): double division is only exact
        # below 2^53 and ids at corpus scale can be arbitrary 64-bit keys.
        # coalesce: a null id must survive the bucket equi-join (sentinel
        # first bucket), not vanish from the output
        F.coalesce(
            F.expr(f"CAST(`{id_col}` AS BIGINT) div {bucket_rows}"),
            F.lit(-(1 << 62)),
        ).alias("_b"),
    )
    bucket_sums = d.groupBy(by, "_b").agg(F.sum("n_tokens").alias("_bsum"))
    w_buckets = (
        Window.partitionBy(by)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = bucket_sums.withColumn(
        "_off", F.sum("_bsum").over(w_buckets) - F.col("_bsum")
    ).select(by, "_b", "_off")
    w_local = (
        Window.partitionBy(by, "_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.col("_off") + F.sum("n_tokens").over(w_local) - F.col("n_tokens")
    end = start + F.col("n_tokens") - 1  # n_tokens >= 1: split() never returns []
    return (
        d.join(F.broadcast(offsets), [by, "_b"])
        # integral div on the bigint offsets (same rationale as the id
        # bucketing above: floor(x / N) loses exactness past 2^53, and
        # cumulative token offsets at 100 TB are genuine 64-bit values)
        .withColumn("_start", start.cast("bigint"))
        .withColumn("_end", end.cast("bigint"))
        .withColumn("pack_id", F.expr(f"_start div {seq_len}"))
        .withColumn("pack_offset", (F.col("_start") % seq_len).cast("int"))
        .withColumn(
            "n_packs",
            F.expr(f"_end div {seq_len} - _start div {seq_len} + 1").cast("int"),
        )
        .drop("_start", "_end")
        .select("doc_id", by, "n_tokens", "pack_id", "pack_offset", "n_packs")
    )


def epoch_mix(
    df: DataFrame,
    target_weights: dict[str, float],
    total_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Mix sources to a target token distribution with *repeats*: given
    target share ``w_s`` per source and an overall token budget, each
    source's repeat factor is ``f_s = total_tokens * w_s / tokens_s`` —
    >1 means the source is upsampled (multiple epochs, the DoReMi /
    Pile-style recipe), <1 downsampled. Every doc is emitted
    ``floor(f_s)`` times plus one more for a deterministic hash-chosen
    ``frac(f_s)`` fraction of docs, so realized tokens hit the target in
    expectation with zero RNG: re-running on any partitioning, engine or
    day yields the identical multiset. Output one row per (doc, copy_n).

    Semantics to know: a source absent from ``target_weights`` gets
    weight 0 and is dropped entirely; a weights key matching NO source
    leaves that share of the budget unspent (the realized total comes in
    low) — validate the recipe against ``df.select(by).distinct()``
    upstream if either case should be an error.

    Scale: per-source token totals are one map-side-combined agg producing
    |sources| rows, broadcast back as a literal-free join (no driver
    collect); the copy fan-out is a map-side ``explode(sequence(...))``
    whose width is the repeat factor — bounded by the mix recipe, not the
    corpus. No shuffle touches full-width rows.
    """
    if total_tokens < 1:
        raise ValueError(f"total_tokens must be >= 1, got {total_tokens}")
    ntok = (
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        if token_col is None
        else F.col(token_col)
    ).cast("int")
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(by),
        ntok.alias("n_tokens"),
        (
            h32(F.concat(F.col(id_col).cast("string"), F.lit(salt))) % _BUCKETS
        ).alias("_h"),
    )
    weight: Column = F.lit(0.0)
    for value, w in target_weights.items():
        weight = F.when(F.col(by) == value, F.lit(float(w))).otherwise(weight)
    src_tokens = d.groupBy(by).agg(F.sum("n_tokens").alias("_src_tokens"))
    f = (F.lit(float(total_tokens)) * weight) / F.col("_src_tokens")
    n_copies = (
        F.floor(f)
        + (F.col("_h") < F.floor((f - F.floor(f)) * _BUCKETS)).cast("bigint")
    ).cast("int")
    return (
        d.join(F.broadcast(src_tokens), by)
        .withColumn("_n", n_copies)
        .filter(F.col("_n") >= 1)
        .select(
            "doc_id",
            by,
            "n_tokens",
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("copy_n"),
        )
    )


def temperature_weights(
    df: DataFrame,
    by: str = "source",
    alpha: float = 0.5,
    text_col: str = "text",
    token_col: str | None = None,
) -> dict[str, float]:
    """Temperature-based mixing weights (the mT5 / XLM-R rule):
    ``w_s ∝ p_s^alpha`` where ``p_s`` is the group's token share —
    ``alpha < 1`` flattens the distribution toward low-resource groups,
    ``alpha = 1`` keeps natural proportions, ``alpha = 0`` is uniform.
    Feed the result straight to ``epoch_mix`` (or use
    ``temperature_mix`` for the one-call form).

    Cross-engine determinism (the oracle contract): group totals
    collect (|groups| rows, bounded by the mix's domain), and the
    normalizing sum folds in ``by``-sorted order — a left-fold of IEEE
    doubles, bit-reproducible by any engine that sums the sorted list
    left-to-right (DuckDB: ``list_sum(list(... order by ...))``).

    Scale: one map-side-combined agg -> |groups| rows; the corpus is
    scanned once and nothing else moves.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    ntok = (
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        if token_col is None
        else F.col(token_col)
    ).cast("long")
    rows = (
        df.groupBy(by)
        .agg(F.sum(ntok).alias("t"))
        .where(F.col(by).isNotNull() & (F.col("t") > 0))
        .orderBy(by)
        .collect()
    )
    if not rows:
        raise ValueError("temperature_weights: no groups with tokens")
    import math

    # alpha=0.5 spelled as sqrt, not pow: IEEE guarantees sqrt is
    # correctly rounded, pow(x, 0.5) is not — sqrt is what any SQL
    # engine (and the DuckDB oracle) computes bit-exactly
    _pow = math.sqrt if alpha == 0.5 else (lambda t: t**alpha)
    pows = [(r[by], _pow(float(r["t"]))) for r in rows]
    z = 0.0
    for _, p in pows:  # sorted-order left fold, mirrored by the oracle
        z += p
    return {g: p / z for g, p in pows}


def temperature_mix(
    df: DataFrame,
    total_tokens: int,
    alpha: float = 0.5,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """``epoch_mix`` with weights derived from the corpus itself by the
    temperature rule — the standard one-knob recipe for rebalancing a
    multi-source (or multi-language) corpus without hand-written
    shares. Same output/repeat semantics and determinism as
    ``epoch_mix``."""
    w = temperature_weights(
        df, by=by, alpha=alpha, text_col=text_col, token_col=token_col
    )
    return epoch_mix(
        df,
        target_weights=w,
        total_tokens=total_tokens,
        by=by,
        id_col=id_col,
        text_col=text_col,
        token_col=token_col,
        salt=salt,
    )


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every row a
    shard and a dense position within it, derived only from the row key —
    the write pass before sharded training export. ``df.orderBy(rand())``
    is the wrong tool for the same reason ``df.sample()`` is (module
    docstring): partition-seeded RNG changes the order with the layout.
    Content-hash order is reproducible on any engine and any cluster
    size, and a different ``salt`` yields an independent permutation per
    epoch without rewriting upstream data.

        shard = h32(key || ':' || salt) % n_shards
        pos   = dense 1..k rank within the shard, ordered by
                h32(key || ':pos:' || salt), ties by key

    Output: the assignment triple (<id_col>, shard, pos), deliberately
    narrow — the shuffle and sort move key-sized rows, not document
    payloads; join the assignment back by key at write time (or
    repartition the payload by the computed shard column directly).

    Scale: one shuffle on shard (uniform by construction — hash-balanced,
    no skew) + one in-shard sort; each shard is ~rows/n_shards, so sizing
    n_shards to the target shard file size bounds the sort's working set.
    No window over the whole corpus, no driver collect, no RNG.

    NULL ids raise at execution time: a null key has no identity to hash,
    and silently funneling every null row into one null shard (what the
    raw concat would do) is a driver-invisible skew bomb."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"deterministic_shuffle: null {id_col} — shard assignment "
                "is keyed; drop or fill null ids upstream"
            )
        ).cast("string"),
    ).otherwise(F.col(id_col).cast("string"))
    shard = (h32(F.concat(key, F.lit(":" + salt))) % n_shards).cast("int")
    order = h32(F.concat(key, F.lit(":pos:" + salt)))
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        df.select(
            F.col(id_col),
            shard.alias("shard"),
            order.alias("_ord"),
        )
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .select(id_col, "shard", "pos")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
    format: str = "parquet",
    mode: str = "overwrite",
    check_unique: bool = True,
) -> None:
    """Export the corpus as ``n_shards`` deterministic training shards —
    the sink half of :func:`deterministic_shuffle`: one ``shard=<k>/``
    hive directory per shard, rows inside each shard in the permutation's
    ``pos`` order (the order a sequential reader trains in). Same input +
    salt ⇒ byte-stable shard membership and order on any cluster size;
    a new salt per epoch re-permutes without rewriting upstream data.

    Plan: the narrow assignment triple joins back onto the payload by key
    (one co-shuffle), then one ROW-balanced range repartition on
    (shard, pos) + in-task sort. Range beats hash-on-shard here: hashing
    n shard values into n partitions collides (~1/e of writer tasks
    empty, stragglers writing 2-3 shards), while range partitioning
    balances by rows and lets a giant shard span tasks — partitionBy
    still routes every row to its shard=<k>/ directory, and because
    range partitions ascend in (shard, pos), concatenating a shard's
    files in part-file-name order preserves global pos order. The
    (shard, pos) sort prefix satisfies partitionBy's required ordering,
    so the file writer inserts no second sort (pinned by the round-trip
    test). ``pos`` is written so readers can verify/merge; ``shard``
    becomes the directory key.

    Pre-existing ``shard``/``pos`` payload columns (e.g. re-permuting a
    previous export for a new epoch) are dropped and recomputed.
    Duplicate ids raise before anything is written — the join would
    silently fan every duplicated row out against both assignment rows
    (``check_unique=False`` skips the extra pass when the caller has
    already deduped, e.g. straight after exact_dedup)."""
    clash = [c for c in ("shard", "pos") if c in df.columns]
    if clash:
        df = df.drop(*clash)
    if check_unique:
        dup = (
            df.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"write_training_shards: duplicate {id_col} "
                f"{dup[0][0]!r} — shard export is keyed; dedup first "
                "or pass check_unique=False at your own risk"
            )
    assign = deterministic_shuffle(df, n_shards, id_col=id_col, salt=salt)
    out = (
        df.join(assign, id_col)
        .repartitionByRange(n_shards, "shard", "pos")
        .sortWithinPartitions("shard", "pos")
    )
    out.write.partitionBy("shard").format(format).mode(mode).save(path)


def _dsir_features(
    df: DataFrame, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """Hashed bag-of-ngrams features (unigrams + bigrams → h32 % buckets),
    one row per feature OCCURRENCE: (doc_id, b)."""
    from exon_spark.operators.dedup import (
        fanout_repartition,
        tokens,
        word_ngrams,
    )

    df = fanout_repartition(df)
    # token array pinned behind the Generate barrier (shingled_docs idiom)
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col))).alias("toks"),
    )
    grams = F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
    return (
        toked.select("doc_id", F.explode(grams).alias("gram"))
        .filter(F.col("gram") != "")
        .select("doc_id", (h32(F.col("gram")) % buckets).alias("b"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
    gumbel_salt: str | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document in
    the ``raw`` corpus by how much more likely its hashed bag-of-ngrams
    features are under the ``target`` distribution than under the raw
    distribution — the standard recipe for carving a domain-matched
    training set out of a web-scale crawl.

    Features are unigrams + bigrams hashed into ``buckets`` buckets
    (h32 % buckets — the repo's portable md5-derived hash, so DuckDB
    oracles reproduce the bucketing exactly). Both corpora fit a
    Laplace-smoothed multinomial over buckets, and the weight is the
    bag-of-buckets log-likelihood ratio

        dsir_w = Σ_features  ln p̂_target(b) − ln p̂_raw(b)
        p̂(b) = (count(b) + smoothing) / (total + smoothing · buckets)

    Output: (doc_id, n_feats, dsir_w) for EVERY raw doc — docs with no
    features (empty text) get weight 0. With ``gumbel_salt`` set, adds
    ``dsir_key = dsir_w + Gumbel(0,1)`` where the Gumbel draw derives
    deterministically from h32(id || ':dsir:' || salt) — taking the
    top-k rows by dsir_key IS Gumbel-top-k sampling ∝ exp(dsir_w), the
    paper's importance-resampling step, reproducible on any engine /
    partitioning (module docstring: why content-hash, not RNG).

    Per-bucket log-ratios round to 6 dp and per-doc sums accumulate in
    decimal so Spark and DuckDB agree bit-for-bit despite FP ln.

    Scale: the ONLY corpus-sized shuffle is one groupBy(doc_id, bucket)
    partial-agg over the raw feature stream (~2 rows per token, 12-byte
    keys). Everything else is broadcast-sized: target stats and the
    bucket log-ratio table are ≤ ``buckets`` rows (default 10k) and join
    map-side; raw bucket totals re-aggregate the already-shuffled
    (doc, bucket) frame. No sort, no window, no driver collect; weights
    for a standing target can be recomputed per crawl snapshot with the
    target side cached as a tiny parquet.
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if not smoothing > 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    from exon_spark.operators.dedup import _materialize

    k = float(smoothing)
    c_t = (
        _dsir_features(target, id_col, text_col, buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    # (doc, bucket) multiplicities feed BOTH the raw bucket totals and the
    # scoring join — materialized so the tokenize+explode chain runs once
    db = _materialize(
        _dsir_features(raw, id_col, text_col, buckets)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    c_r = db.groupBy("b").agg(F.sum("m").alias("n_r"))
    stats = c_t.join(c_r, "b", "full").select(
        "b",
        F.coalesce("n_t", F.lit(0)).alias("n_t"),
        F.coalesce("n_r", F.lit(0)).alias("n_r"),
    )
    tot = stats.agg(F.sum("n_t").alias("tt"), F.sum("n_r").alias("tr"))
    from exon_spark.operators.dedup import _glibc_ln

    # libm ln (oracle bit-parity, r11) — bucket-sized ratio table only;
    # the per-doc gumbel key below keeps JVM ln (4-dp round, per-doc
    # path — Python there would be corpus-sized)
    lr = _glibc_ln(
        (F.col("n_t") + k) / (F.col("tt") + k * buckets)
    ) - _glibc_ln((F.col("n_r") + k) / (F.col("tr") + k * buckets))
    ratio = stats.crossJoin(F.broadcast(tot)).select(
        "b", F.round(lr, 6).cast("decimal(28,6)").alias("lr")
    )
    scored = (
        db.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("int").alias("n_feats"),
            # round the EXACT decimal sum, then cast: rounding after the
            # double cast diverges between engines at half-way values
            # (0.63855 -> Spark BigDecimal sees the shortest repr
            # "0.63855" and rounds up; DuckDB's fp round sees
            # 6385.4999... and rounds down — hit at the sf1 replica,
            # doc 12158). Decimal HALF_UP is away-from-zero in both.
            F.round(F.sum(F.col("m") * F.col("lr")), 4)
            .cast("double")
            .alias("dsir_w"),
        )
    )
    out = (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("dsir_w", F.lit(0.0)).alias("dsir_w"),
        )
    )
    if gumbel_salt is None:
        return out
    u = (
        h32(F.concat(F.col("doc_id").cast("string"), F.lit(":dsir:" + gumbel_salt)))
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    return out.withColumn(
        "dsir_key", F.round(F.col("dsir_w") + (-F.log(-F.log(u))), 4)
    )
