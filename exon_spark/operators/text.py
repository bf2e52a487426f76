"""Text-analysis operators for training-data pipelines: quality statistics,
language identification, token counting, document fingerprinting.

All pure Column expressions (JVM-side). Oracle-mirrorable: every formula
reproduces in DuckDB SQL (see queries/pipeline.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from exon_spark.operators.dedup import (  # noqa: F401
    _glibc_ln,
    quant_avg,
    quant_micro,
    fanout_repartition,
    h32,
    tokens,
    wide_key_cond,
    wide_keys,
    word_ngrams,
)

STOPWORDS_EN = ("the", "and", "of", "is", "was", "a", "to", "in")

# tiny marker-word sets for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "was"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "est", "une"),
    "zh": ("的", "是", "了", "在", "我"),
}
_LANG_ORDER = ("en", "es", "de", "fr", "zh")  # deterministic argmax tie-break


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _stats_cols(t: Column, toks: Column) -> list[Column]:
    """The five text_stats output columns over a barrier-pinned token
    array (shared by text_stats and the fused text_profile).

    r12 constant-factor pass (VERDICT r11 next #3 — q23 was the top row
    of every board, and this projection was ~40% of it): the three
    O(chars) terms are spelled as ``regexp_count`` instead of their
    allocating equivalents — counting matches touches no heap, while
    ``regexp_replace`` built a full-size copy of every document and
    ``regexp_extract_all`` materialized an array of every match just to
    take its size. Value-identical by construction (same regexes, same
    leftmost-first semantics; the oracle keeps the allocating spelling
    and the gate pins equality):

    * sum of token lengths == non-whitespace chars of the LOWERED text
      (split on ``\\s+`` partitions the trimmed string into maximal
      non-ws runs; lower() is applied first exactly as ``tokens()`` does,
      because lowercasing can change string length for a handful of
      Unicode points — but never creates or destroys whitespace, so the
      ws count is shared with the original-case text);
    * every char is exactly one of alnum / whitespace / punct, so punct
      chars == ``n_chars - count('[A-Za-z0-9]') - count('\\s')`` — the
      NEGATED class ``[^A-Za-z0-9\\s]`` misses the Java regex fast path
      entirely (measured 2.25 s vs 0.30 s for this spelling on the same
      column at sf1 — the single largest term in the old projection);
    * the BPE alternation's matches are letter-runs + digit-runs +
      single punct chars (leftmost-first), so its count decomposes into
      ``count('[A-Za-z]+') + count('[0-9]+') + n_punct`` — again all
      positive classes.
    Measured: the stats arm of the sf1 profile 2.9 -> ~0.8 s."""
    n_tok = F.size(toks)
    lt = F.lower(t)
    n_chars = F.length(t)
    n_alnum = F.regexp_count(t, F.lit("[A-Za-z0-9]"))
    n_ws = F.regexp_count(t, F.lit("\\s"))
    n_punct = n_chars - n_alnum - n_ws
    tok_len_sum = F.length(lt) - n_ws
    bpe_tokens = (
        F.regexp_count(t, F.lit("[A-Za-z]+"))
        + F.regexp_count(t, F.lit("[0-9]+"))
        + n_punct
    )
    return [
        n_tok.cast("int").alias("n_tokens"),
        bpe_tokens.cast("int").alias("n_bpe_tokens"),
        F.round(tok_len_sum.cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(n_punct.cast("double") / n_chars, 6).alias(
            "punct_ratio"
        ),
        F.round(
            _count_in(toks, STOPWORDS_EN).cast("double") / n_tok, 6
        ).alias("stopword_ratio"),
    ]


def _lang_score_cols(toks: Column) -> list[Column]:
    return [
        _count_in(toks, LANG_MARKERS[lang]).cast("int").alias(f"s_{lang}")
        for lang in _LANG_ORDER
    ]


def _lang_guess_expr() -> Column:
    """Precedence argmax over the s_<lang> COLUMNS of a prior projection
    level — inlined, each of the ~20 comparisons re-ran its marker filter
    over a re-split token array (measured 0.61s -> 0.51s at sf0.1)."""
    scores = {lang: F.col(f"s_{lang}") for lang in _LANG_ORDER}
    # argmax with precedence: lang wins iff its score >= every later lang's
    # score and > every earlier lang's score (strictly handled by ordering)
    expr = F.lit(_LANG_ORDER[-1])
    for lang in reversed(_LANG_ORDER[:-1]):
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr.alias("lang_guess")


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality stats: token counts (whitespace + BPE-ish),
    average token length, punctuation ratio, stopword ratio.

    The token array is pinned behind the ``explode(array())`` Generate
    barrier: five consumers (three size denominators, the length fold,
    the stopword filter) would otherwise each inline the regex split."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(F.array(tokens(text_col, lowercase=True))).alias("_toks"),
    )
    return base.select("doc_id", *_stats_cols(F.col("_t"), F.col("_toks")))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language ID: per-language marker counts, argmax with the
    fixed precedence en > es > de > fr > zh.

    Two projection levels: the marker counts are computed once over the
    barrier-pinned token array, and the argmax reads the count COLUMNS
    (see _lang_guess_expr)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col, lowercase=True))).alias("_toks"),
    )
    scored = base.select("doc_id", *_lang_score_cols(F.col("_toks")))
    return scored.select(
        "doc_id",
        *[F.col(f"s_{lang}") for lang in _LANG_ORDER],
        _lang_guess_expr(),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 8
) -> DataFrame:
    """Document fingerprints: md5 of the normalized text plus the minimum
    rolling window hash (winnowing-style robust fingerprint).

    ``norm`` is pinned behind an ``explode(array(...))`` Generate barrier
    (the shingled_docs idiom): projected plainly, Catalyst inlines the
    regexp_replace chain into every per-window ``substring`` lambda
    element — O(len²) regex work per doc. The window minimum stays the
    map-side ``array_min(transform(...))`` (_fp_cols): an r6 experiment
    rebuilt it as explode + codegen'd md5 + partial-min agg on the theory
    that interpreted HOF lambdas were the cost — measured WORSE at both
    scales once input parallelism was fixed (0.40s vs 0.76s at sf0.1,
    22.1s vs 24.6s at 500k docs): the per-window md5 dominates either
    shape, and the agg form adds a Generate + exchange the per-row
    array_min never pays. The real r6 fix was fanout_repartition — the
    single-row-group input serialized the whole operator on one core.
    md5/h32 is the portable-hash contract with the DuckDB oracle."""
    df = fanout_repartition(df)
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(_norm_expr(text_col))).alias("norm"),
    )
    return d.select("doc_id", *_fp_cols(F.col("norm"), window))


def _norm_expr(text_col: str) -> Column:
    """Normalized text for fingerprinting: lowercase, every run of
    non-alphanumerics collapsed to one space, trimmed.

    One fused ``[^a-z0-9]+`` pass (r12): the historical two-pass
    spelling — replace ``[^a-z0-9 ]`` with a space, then collapse
    ``' +'`` — allocates TWO full-size copies of every document; a
    maximal run of {non-alnum ∪ space} becomes all-spaces after pass 1
    and one space after pass 2, which is exactly what the fused class
    produces in a single copy (equality pinned by the q23/q25 oracles,
    which keep the two-pass spelling). Measured ~-0.9 s on the sf1
    profile arm."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )


def _fp_cols(norm: Column, window: int) -> list[Column]:
    wins = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length(norm) - (window - 1), F.lit(1))
        ),
        lambda i: F.substring(norm, i, window),
    )
    return [
        F.md5(norm).alias("fingerprint"),
        F.array_min(F.transform(wins, lambda w: h32(w))).alias("min_window_hash"),
    ]


def text_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Fused text_stats + lang_id + fingerprint: all 13 profile columns in
    ONE scan of the corpus — zero shuffle, a single Generate barrier
    pinning both derived strings (token array + normalized text) inside
    one struct, and the same two-level projection lang_id uses so the
    argmax reads score columns instead of re-inlining marker filters.

    This is the shape a 100 TB profiling pass wants: the three standalone
    operators each re-scan the table; chained per-document maps should
    share the scan. Output = text_stats ∥ lang_id ∥ fingerprint columns,
    joined-on-doc_id-equivalent but with no join (and no shuffle at all —
    the min-window hash is a per-row array_min, see fingerprint's
    docstring for the measured rejection of the agg-based alternative)."""
    df = fanout_repartition(df)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.array(
                F.struct(
                    tokens(text_col, lowercase=True).alias("toks"),
                    _norm_expr(text_col).alias("norm"),
                )
            )
        ).alias("_p"),
    )
    level1 = base.select(
        "doc_id",
        *_stats_cols(F.col("_t"), F.col("_p.toks")),
        *_lang_score_cols(F.col("_p.toks")),
        *_fp_cols(F.col("_p.norm"), window),
    )
    return level1.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        *[f"s_{lang}" for lang in _LANG_ORDER],
        _lang_guess_expr(),
        "fingerprint",
        "min_window_hash",
    )


# Regexes chosen for identical semantics under Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, leftmost-first alternation.
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_phones": r"\(\d{3}\) \d{3}-\d{4}|\d{3}-\d{3}-\d{4}",
    "n_ssns": r"\d{3}-\d{2}-\d{4}",
    "n_ips": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
}


def pii_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    redact: bool = False,
) -> DataFrame:
    """Per-document PII signal counts (emails, phone numbers, SSN-shaped
    ids, IPv4 addresses) + a has_pii flag — the redaction/filter pass every
    training-data pipeline runs before release. Pure Column expressions
    (JVM regexp_count, whole-stage codegen): no shuffle, no Python.

    Counts are independent per pattern (an SSN-shaped string also matches
    nothing else here; phone/SSN differ in group sizes). Output:
    (doc_id, n_emails, n_phones, n_ssns, n_ips, has_pii).

    ``redact=True`` additionally emits the ``redact_pii`` columns —
    ``text_col`` with every match replaced by its typed placeholder, and
    ``n_redactions`` — fused into the SAME single scan (the detect and
    release passes share their regex evaluation; running the two
    standalone operators re-scans the corpus, the text_profile
    argument). n_redactions is counted progressively on the
    partially-redacted text, exactly as redact_pii defines it, so the
    fused and standalone spellings agree column-for-column.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(p)).alias(name)
        for name, p in PII_PATTERNS.items()
    ]
    extra = []
    if redact:
        red = F.col(text_col)
        n = F.lit(0)
        for name, pattern in PII_PATTERNS.items():
            n = n + F.regexp_count(red, F.lit(pattern))
            red = F.regexp_replace(red, pattern, PII_REDACTION_TAGS[name])
        extra = [red.alias(text_col), n.cast("int").alias("n_redactions")]
    out = df.select(F.col(id_col).alias("doc_id"), *counts, *extra)
    total = None
    for name in PII_PATTERNS:
        c = F.col(name)
        total = c if total is None else total + c
    tail = [text_col, "n_redactions"] if redact else []
    return out.select(
        "doc_id", *PII_PATTERNS.keys(), (total > 0).alias("has_pii"), *tail
    )


def quality_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    filter-rule family every LLM-scale corpus pass applies before training.

    Per document:
      * ``frac_top_unigram``  — occurrences of the most repeated token
                                (count ≥ 2, else 0) / n
      * ``frac_top_bigram``   — occurrences of the most repeated bigram /
                                (n-1)
      * ``frac_dup_trigram``  — fraction of trigram positions whose trigram
                                occurs more than once in the doc
      * ``frac_unique``       — distinct tokens / n
      * ``quality_pass``      — the conjunction of Gopher-shaped
                                thresholds re-tuned to token fractions
                                (top-unigram ≤ 0.20, top-bigram ≤ 0.10,
                                dup-trigram ≤ 0.10)

    Scale: pure Column expressions — no shuffle, no Python. All four
    metrics are run-length statistics over sorted gram arrays, O(g log g)
    inside one row; documents are bounded (tens of KB), so this stays
    cache-local per task and parallelizes embarrassingly at 100 TB.

    The token/bigram/trigram arrays are pinned behind ``explode(array())``
    Generate barriers (the shingled_docs idiom): without them Catalyst
    inlines the ``split()``/``concat`` chains into every lambda-compare
    consumer, and the O(n·distinct) scans re-derive the arrays per element
    — measured 0.2 s PER DOCUMENT (100 s for 500 docs) inlined vs
    milliseconds materialized, identical output.
    """
    df = fanout_repartition(df)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col, lowercase=True))).alias("toks"),
    )
    toks = F.col("toks")
    grams = base.select(
        "doc_id",
        "toks",
        F.explode(F.array(word_ngrams(toks, 2))).alias("bi"),
    ).select(
        "doc_id",
        "toks",
        "bi",
        F.explode(F.array(word_ngrams(toks, 3))).alias("tri"),
    )

    # All four metrics are RUN-LENGTH statistics over the sorted gram
    # arrays: max run (counting only runs ≥ 2 — a gram seen once is not
    # repetition; without the floor every short all-unique doc would
    # score 1/n and trip the thresholds), positions inside runs ≥ 2, and
    # the run count (= distinct). r12 re-spelling: the previous single
    # aggregate() fold allocated a 5-field struct PER ELEMENT in
    # interpreted evaluation (HOF bodies never enter codegen) — the
    # struct churn, not the O(g log g) sort, dominated q36 at sf10
    # (21 s). This form stages three barrier-materialized arrays per
    # gram order — sorted, neighbor-inequality, run-lengths — and every
    # lambda body is a single comparison or subtraction on a BOUND
    # column (the staging matters: element_at(expr, i) inside a lambda
    # re-evaluates expr per element, the documented 180 s trap).
    # Integer outputs are unchanged, so the oracle stays bit-exact.
    # Measured sf10: 21.1 -> 6.6 s; total interpreted element-visits
    # drop from g heavy-struct steps to ~3g trivial ones.
    _BOOLS = "array<boolean>"
    _INTS = "array<int>"

    def _neq(s: Column) -> Column:
        # adjacent-inequality over the sorted array: position i marks a
        # run BOUNDARY (s[i] != s[i+1], 1-based)
        m = F.size(s)
        return (
            F.when(s.isNull(), F.lit(None).cast(_BOOLS))
            .when(
                m >= 2,
                F.zip_with(
                    F.slice(s, F.lit(1), m - 1),
                    F.slice(s, F.lit(2), m - 1),
                    lambda a, b: a != b,
                ),
            )
            .otherwise(F.array().cast(_BOOLS))
        )

    def _runlens(s: Column, q: Column) -> Column:
        # boundary positions -> run lengths: with the virtual bounds 0
        # and m, each run is (boundary[k] - boundary[k-1])
        m = F.size(s)
        pos = F.when(
            F.size(q) >= 1,
            F.filter(
                F.sequence(F.lit(1), F.size(q)),
                lambda i: F.element_at(q, i),
            ),
        ).otherwise(F.array().cast(_INTS))
        return (
            F.when(s.isNull(), F.lit(None).cast(_INTS))
            .when(m == 0, F.array().cast(_INTS))
            .otherwise(
                F.zip_with(
                    F.concat(pos, F.array(m)),
                    F.concat(F.array(F.lit(0)), pos),
                    lambda e, st: e - st,
                )
            )
        )

    g2 = grams.select(
        "doc_id",
        "toks",
        F.explode(
            F.array(
                F.struct(
                    F.array_sort(toks).alias("u"),
                    F.array_sort(F.col("bi")).alias("b"),
                    F.array_sort(F.col("tri")).alias("t"),
                )
            )
        ).alias("_s"),
    )
    s_ = F.col("_s")
    g3 = g2.select(
        "doc_id",
        "toks",
        "_s",
        F.explode(
            F.array(
                F.struct(
                    _neq(s_["u"]).alias("u"),
                    _neq(s_["b"]).alias("b"),
                    _neq(s_["t"]).alias("t"),
                )
            )
        ).alias("_q"),
    )
    q_ = F.col("_q")
    g4 = g3.select(
        "doc_id",
        "toks",
        "_s",
        F.explode(
            F.array(
                F.struct(
                    _runlens(s_["u"], q_["u"]).alias("u"),
                    _runlens(s_["b"], q_["b"]).alias("b"),
                    _runlens(s_["t"], q_["t"]).alias("t"),
                )
            )
        ).alias("_r"),
    )

    def _stats(order: str) -> Column:
        rl = F.col("_r")[order]
        m = F.size(F.col("_s")[order])
        best = F.array_max(rl)
        return F.struct(
            F.when(rl.isNull(), F.lit(None).cast("int"))
            .when(best >= 2, best)
            .otherwise(F.lit(0))
            .alias("top"),
            # positions inside runs >= 2 = m minus the singleton runs
            (m - F.size(F.filter(rl, lambda r: r == F.lit(1)))).alias("dup"),
            F.size(rl).alias("distinct"),
        )

    n = F.size(toks)
    one = F.lit(1)
    stats = g4.select(
        "doc_id",
        "toks",
        _stats("u").alias("_u"),
        _stats("b").alias("_b"),
        _stats("t").alias("_t"),
    )
    frac_top_uni = F.round(F.col("_u.top") / n.cast("double"), 6)
    frac_top_bi = F.round(
        F.col("_b.top") / F.greatest(n - 1, one).cast("double"), 6
    )
    frac_dup_tri = F.round(
        F.col("_t.dup") / F.greatest(n - 2, one).cast("double"), 6
    )
    return stats.select(
        "doc_id",
        frac_top_uni.alias("frac_top_unigram"),
        frac_top_bi.alias("frac_top_bigram"),
        frac_dup_tri.alias("frac_dup_trigram"),
        F.round(F.col("_u.distinct") / n.cast("double"), 6).alias(
            "frac_unique"
        ),
        (
            (frac_top_uni <= 0.20)
            & (frac_top_bi <= 0.10)
            & (frac_dup_tri <= 0.10)
        ).alias("quality_pass"),
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25-ranked keyword search over a document corpus (Robertson &
    Zaragoza 2009): Okapi BM25 with the +1 idf smoothing
    (idf = ln(1 + (N - df + 0.5)/(df + 0.5))), the standard relevance
    scorer for corpus curation / retrieval QA passes.

    Returns the ``limit`` best (doc_id, n_terms_matched, score) rows,
    deterministically ordered by (score desc, doc_id) — score is rounded
    per-term to 6 dp and summed as exact decimal so Spark and DuckDB agree
    bit-for-bit despite FP ln/÷.

    Scale: one corpus agg (N, avgdl — 1-row broadcast), one map-side token
    filter (the query term set broadcasts as a literal array; no explode of
    non-matching tokens), one groupBy(term) over ≤|terms| keys, and a
    distributed TakeOrdered for the top-k — no global sort, no driver
    collect. Document-frequency and corpus stats join back via broadcast.
    """
    terms = sorted({t.lower().strip() for t in query_terms} - {""})
    if not terms:
        raise ValueError("bm25_search needs at least one non-empty term")
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks = tokens(text_col, lowercase=True)

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(term_arr, t)).alias("hit"),
    )
    # corpus stats: exact bigint sum / count → one double division
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        base.filter(F.size("hit") > 0)
        .select("doc_id", "dl", F.explode("hit").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    # idf precomputed per TERM with libm ln (_glibc_ln — oracle
    # bit-parity, r11): the per-row product idf * tf_part is then pure
    # IEEE arithmetic over identical doubles in both engines
    dfreq_idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "term",
            _glibc_ln(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
            ).alias("idf"),
        )
    )
    j = tf.join(F.broadcast(dfreq_idf), "term").crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    )
    scored = (
        j.select(
            "doc_id",
            F.round(F.col("idf") * tf_part, 6).alias("s_term"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms_matched"),
            F.round(
                F.sum(F.col("s_term").cast("decimal(38,10)")).cast("double"),
                4,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(limit)




def unigram_logppl(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram log-perplexity score per document (the
    CCNet-style LM quality signal, reduced to its order-0 form): train a
    unigram model on the corpus itself (token frequency / corpus size) and
    score each doc by the mean negative log-probability of its tokens.
    High scores = rare-token-heavy docs (gibberish, encoding noise);
    unusually low scores = boilerplate. No smoothing is needed — every
    scored token is in the training vocab by construction.

    Output: (doc_id, n_tokens, logppl) with logppl = avg over tokens of
    -ln(count(token)/corpus_tokens), rounded per-token to 6 dp and
    exact-decimal averaged so engines agree bit-for-bit.

    Scale: one explode + one groupBy(token) for the vocab (map-side
    partial agg; vocabularies are Zipf-bounded, far smaller than the
    corpus), one token-key join back, one groupBy(doc). The vocab join
    broadcasts when the vocab fits (AQE decides); corpus_tokens is a
    1-row broadcast. The nll is precomputed ONCE PER DISTINCT TOKEN on
    the vocab side (it is a pure function of the token's count), via
    ``_glibc_ln`` for bit-parity with the DuckDB oracle — the
    corpus-sized fact rows only join the finished model, never touch
    Python.
    """
    # deliberately NO fanout_repartition: the per-row work here is one
    # cheap explode (unlike quality_signals' O(g log g) HOF chain) and the
    # vocab groupBy re-spreads immediately — measured at sf0.1, the extra
    # exchange costs ~+0.8 s on q42/q52 vs nothing saved (SCALE.md)
    toks = tokens(text_col, lowercase=True)
    tok_rows = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok")
    )
    vocab = tok_rows.groupBy("tok").agg(F.count("*").alias("tok_n"))
    total = vocab.agg(F.sum("tok_n").alias("corpus_tokens"))
    model = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "tok",
            # portable micro-unit quantizer (r11): floor(x*1e6 + 0.5) is
            # pure IEEE arithmetic, bit-identical across JVM/DuckDB/libm
            # — unlike round(x, 6), whose semantics differ between
            # engines (Spark rounds the shortest decimal repr, DuckDB
            # rounds an fp product; the q52 sf10 last-ulp row survived
            # the glibc-ln fix because of exactly this)
            quant_micro(
                -_glibc_ln(F.col("tok_n") / F.col("corpus_tokens"))
            ).alias("nllm"),
        )
    )
    # hashed join key (r12; widened to 128 bits r13): the scoring join
    # only needs (doc_id, key) -> nllm, so hashing the token cuts the
    # exchange ~3x vs strings. Two xxhash64 halves (``wide_keys``) make
    # a key collision — which would silently DUPLICATE scored rows and
    # inflate n_tokens — a ~|V|^2/2^129 event instead of an expected one
    # at 100 TB vocabulary sizes (VERDICT r12 #3; birthday bound at
    # 2^64 is ~4.3e9 keys, real web vocabularies are 1e10-1e11). The
    # second half rides as a residual condition (``wide_key_cond``), not
    # a second equi-key, to keep the single-long-key join fast path.
    _c = tok_rows.select("doc_id", *wide_keys("tok"))
    _m = model.select(*wide_keys("tok"), "nllm")
    scored = _c.join(_m, wide_key_cond(_c, _m)).select("doc_id", "nllm")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        quant_avg(F.sum("nllm"), F.count("*")).alias("logppl"),
    )


def corpus_top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram heavy hitters: the k most frequent word n-grams
    with occurrence and document counts. This is the profiling pass that
    feeds curation knobs downstream — the top grams ARE the boilerplate
    list (``max_shingle_df`` stop-shingles for ``ngram_jaccard_pairs``,
    template detection, contamination review), so the operator closes the
    loop between corpus statistics and dedup configuration.

    Output: (gram, n_occurrences, n_docs), ordered by count desc with the
    gram text as a deterministic tie-break.

    Scale: explode + groupBy rides Spark's two-phase hash agg — map-side
    partial counts absorb hot grams before any shuffle, so a
    corpus-dominating gram costs one row per task, not one per occurrence.
    n_docs comes from a (gram, doc_id) pre-aggregation folded into a
    second tiny agg rather than count(distinct): the distinct-agg Expand
    doubles the exploded rows before the partial agg (measured +20% at
    sf0.1), while the pre-agg's first shuffle carries only distinct
    (gram, doc) pairs. Top-k is TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a global sort — pinned in
    test_plans.py. The token array is pinned behind an
    ``explode(array(...))`` Generate barrier (the shingled_docs idiom):
    inlined, Catalyst re-runs the regex split inside every ``element_at``
    of the n-gram lambda — O(tokens²) per doc, measured 8x end-to-end.
    """
    df = fanout_repartition(df)
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col, lowercase=True))).alias("_toks"),
    )
    grams = toked.select(
        "doc_id", F.explode(word_ngrams(F.col("_toks"), n)).alias("gram")
    )
    per_doc = grams.groupBy("gram", "doc_id").agg(F.count("*").alias("_c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("_c").alias("n_occurrences"),
            F.count("*").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_rows: int | None = None,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the k terms that best
    characterize each document against the corpus (score = tf · ln(N/df)),
    the metadata-enrichment pass behind faceted corpus browsing, cluster
    labeling and topic-drift monitoring. Deterministic tie-break:
    (score desc, term asc).

    Output: (doc_id, term, tf, score, rank), rank 1..k.

    Scale regimes (r12): above the columnar floor (sized per regime.py,
    ``n_rows`` is the hint) the plan follows guide §2.4
    "establish the partitioning once" — token rows shuffle ONCE by
    doc_id, and the (doc, term) tf aggregate, the broadcast vocab
    scoring join, and the per-doc top-k window all reuse that
    partitioning; tf is materialized columnar so the df aggregate and
    the scoring join share one tokenize. Measured sf10: 4 corpus-sized
    exchanges (616 MB) -> 1 (207 MB), 153 -> 135 core-s, warm 7.6 ->
    6.8 s. Below the threshold the classic two-agg shape wins (fewer
    jobs, AQE-tiny exchanges; the persist + repartition overhead costs
    more than it saves — measured sf0.1 1.5 vs 2.9 s warm).
    N is a 1-row broadcast; the per-TERM ln is ``_glibc_ln`` for oracle
    bit-parity (r11), so tf * _lnr is pure IEEE in both engines. The
    scale regime puts an explicit broadcast hint on the per-term idf
    table; the latency regime leaves that join to AQE.
    """
    from pyspark.sql import Window

    from exon_spark.operators import regime
    from exon_spark.operators.dedup import _materialize

    scale = regime.above(df, "columnar", "tfidf_keywords", n_rows)
    tok_rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col, lowercase=True)).alias("term"),
    )
    if scale:
        # doc_id partitioning satisfies the (doc_id, term) clustering:
        # the aggregate adds no exchange and its output STAYS
        # doc-partitioned, so the window below adds none either
        tok_rows = tok_rows.repartition("doc_id")
    tf = tok_rows.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    if scale:
        # materialized columnar: the df aggregate and the scoring join
        # share the computed tf (left lazy each branch re-runs the full
        # aggregate — exchange reuse alone does not help because the
        # aggregate above the exchange still re-runs per branch)
        tf = _materialize(tf, eager=True)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_n")
    )
    dfreq_ln = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select("term", _glibc_ln(F.col("_n") / F.col("_df")).alias("_lnr"))
    )
    model = F.broadcast(dfreq_ln) if scale else dfreq_ln
    scored = (
        tf.join(model, "term")
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.col("_lnr"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", F.col("rank").cast("int").alias("rank"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    chunking pass that precedes embedding/indexing in retrieval pipelines
    and long-document processing (each chunk becomes an embedding row;
    ``overlap`` preserves context across boundaries).

    Chunks start every ``chunk_tokens - overlap`` tokens; the last chunk
    is short rather than padded. Docs at or under ``chunk_tokens`` yield
    exactly one chunk. Output: (doc_id, chunk_id, start_tok,
    n_chunk_tokens, chunk_text).

    Scale: pure map-side — token array pinned behind the
    ``explode(array())`` Generate barrier (shingled_docs idiom), chunk
    fan-out via posexplode of an integer sequence, chunk text a
    ``slice``+``array_join`` over the materialized array. No shuffle; the
    row blowup is corpus_tokens/step, the intended output size.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_tokens={chunk_tokens})"
            " — a negative overlap would silently skip tokens between chunks"
        )
    step = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col, lowercase=False))).alias("_toks"),
    )
    n = F.size("_toks")
    # integer arithmetic: ceil((n - chunk)/step) + 1 without float division
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.expr(
            f"(size(_toks) - {chunk_tokens} + {step} - 1) div {step} + 1"
        ).cast("int")
    )
    chunked = toked.select(
        "doc_id",
        "_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * step
    piece = F.slice(F.col("_toks"), start + 1, chunk_tokens)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_tok"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


PII_REDACTION_TAGS = {
    "n_emails": "<EMAIL>",
    "n_phones": "<PHONE>",
    "n_ssns": "<SSN>",
    "n_ips": "<IP>",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: replace every email / phone / SSN-shaped / IPv4
    match with a typed placeholder tag — the release-time counterpart of
    ``pii_stats`` (counting finds the documents; redaction makes them
    shippable). Patterns are applied in ``PII_PATTERNS`` order, so an
    SSN-shaped string inside a longer phone-like match is consumed by the
    earlier pattern, deterministically.

    Output: the input columns with ``text_col`` replaced by its redacted
    form, plus ``n_redactions`` — pass-through so the operator drops into
    a pipeline without re-joining metadata columns. Scale: a chain of
    ``regexp_replace`` Column expressions plus one ``regexp_count`` sum —
    zero shuffle, whole-stage codegen, embarrassingly parallel. The
    regexes are the RE2/Java-compatible subset shared with the DuckDB
    oracle (no backrefs, no lookaround).
    """
    if "n_redactions" in df.columns:
        raise ValueError(
            "redact_pii appends an 'n_redactions' column but the input "
            "already has one — rename or drop it first (duplicate column "
            "names break downstream select/toPandas)"
        )
    out = F.col(text_col)
    n = F.lit(0)
    for name, pattern in PII_PATTERNS.items():
        n = n + F.regexp_count(out, F.lit(pattern))
        out = F.regexp_replace(out, pattern, PII_REDACTION_TAGS[name])
    cols = [
        out.alias(text_col) if c == text_col else F.col(c) for c in df.columns
    ]
    return df.select(*cols, n.cast("int").alias("n_redactions"))


def ppl_buckets(
    df: DataFrame,
    by: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    document by its LM quality score WITHIN its language (or any stratum)
    and label head / middle / tail tertiles. CCNet trains on head+middle
    and drops the tail; ranking per-stratum is what makes the signal
    comparable across languages with different base perplexities. The LM
    here is the corpus-trained unigram model of ``unigram_logppl`` —
    swap ``token_col``-style inputs for a real LM score at will, the
    bucketing is score-agnostic.

    Output: (doc_id, <by>, n_tokens, logppl, ppl_bucket) with bucket
    boundaries at percent_rank 1/3 and 2/3, ties broken by doc_id so
    the labels are deterministic on any engine.

    Scale: unigram_logppl's joins (vocab is Zipf-bounded) plus one
    ranking window per stratum — same per-group sort caveat as
    token_budget_cap: strata are languages (dozens), each group's rank is
    a single sort-and-stream pass, spill-safe; for a stratum too large to
    sort, sample the logppl CDF and assign buckets by broadcast
    thresholds (the approximate variant CCNet itself uses).
    """
    from pyspark.sql import Window

    ppl = unigram_logppl(df, id_col=id_col, text_col=text_col)
    d = df.select(F.col(id_col).alias("doc_id"), F.col(by)).join(ppl, "doc_id")
    pr = F.percent_rank().over(
        Window.partitionBy(by).orderBy("logppl", "doc_id")
    )
    bucket = (
        F.when(pr < 1.0 / 3, "head")
        .when(pr < 2.0 / 3, "middle")
        .otherwise("tail")
    )
    return d.select("doc_id", by, "n_tokens", "logppl", bucket.alias("ppl_bucket"))


def line_dedup(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level boilerplate line removal (the line-wise dedup pass of
    RefinedWeb / Falcon, Penedo et al. 2023 §4.2, and MassiveText's
    repetition filters): delete every line that occurs in at least
    ``min_df`` DISTINCT documents — navigation text, cookie banners,
    share buttons, license headers — then reassemble each document from
    its surviving lines in original order. Documents whose every line is
    boilerplate are dropped (they carry no trainable content).

    Output: (doc_id, text, n_lines, n_kept) — the redacted text plus the
    original and surviving line counts, so the caller can threshold on
    removal fraction (RefinedWeb drops docs that lose >50% of lines).

    Scale: the explode is line-granular (not shingle-granular — no
    fan-out blowup); the document-frequency agg runs on distinct
    (doc, line) pairs with map-side combine, so the shuffle carries one
    row per distinct line per partition, Zipf-shrunk. The hot set
    (line_df >= min_df) is the boilerplate vocabulary — tiny relative to
    the corpus — and rides a broadcast hash ANTI join back onto the
    exploded lines, keyed by the line text (provably exact, and the
    spelling the oracle gate runs).
    Reassembly is one groupBy(doc) of the surviving lines — the only
    corpus-wide shuffle — with an in-group array_sort on position, not
    a window sort. ``n_lines`` rides every exploded row (the split
    evaluates twice per document row for it — benign per-ROW double-eval,
    not the per-ELEMENT lambda inlining trap) so no second doc-keyed
    aggregate-and-join branch is needed.

    ``sep`` is a LITERAL separator (regexp-escaped before the split, so
    ``sep="|"`` splits on pipes, not on every character) and is the same
    literal used for reassembly. NULL text is treated as ``''`` — one
    empty line, kept or dropped by the same df rule as any other line —
    so null-text documents don't silently vanish from the corpus."""
    import re

    d = fanout_repartition(df)
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep), -1)
    lines = d.select(
        F.col(id_col).alias("doc_id"),
        F.size(arr).alias("n_lines"),
        F.posexplode(arr).alias("pos", "line"),
    )
    lines = lines.select(
        "doc_id", "n_lines", "pos", "line", F.col("line").alias("_k")
    )
    hot = (
        lines.select("doc_id", "_k")
        .distinct()
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("_k")
    )
    kept = lines.join(F.broadcast(hot), "_k", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col),
        F.first("n_lines").cast("int").alias("n_lines"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    ).select("doc_id", text_col, "n_lines", "n_kept")


def _nfc_udf(form: str):
    """Unicode-normalization pandas UDF, built lazily inside a factory so
    cloudpickle ships the impl by value (the repo's pandas-UDF rule).
    Arrow-batched: unicodedata.normalize per value, no per-row Python
    round-trips through the JVM."""
    from pyspark.sql.functions import pandas_udf

    def make():
        import unicodedata

        def norm(s):
            return s.map(
                lambda t: None if t is None else unicodedata.normalize(form, t)
            )

        return norm

    return pandas_udf(make(), "string")


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str | None = None,
    strip_control: bool = True,
    collapse_ws: bool = True,
    unify_punct: bool = True,
    strip_html: bool = False,
) -> DataFrame:
    """Text normalization — the first pass of every web-corpus pipeline
    (CCNet/RefinedWeb-style cleanup): strip control + zero-width
    characters, unify typographic punctuation to ASCII, normalize line
    endings and collapse space runs, and (optionally) apply Unicode
    normalization.

    Output: (doc_id, <text_col>, changed) — ``changed`` marks rows the
    cleanup actually altered, so a pipeline can measure normalization
    rates or write back only dirty rows. NULL text passes through as
    NULL (changed=false).

    Steps (each toggleable):
      * ``strip_control`` — remove C0/C1 control chars (except \\t/\\n),
        DEL, zero-width space/joiners and the BOM.
      * ``unify_punct``   — curly quotes → ASCII quotes, en/em dash → -,
        ellipsis char → ``...``, NBSP → space.
      * ``collapse_ws``   — \\r\\n and \\r → \\n, runs of spaces/tabs →
        one space, spaces trimmed at line edges and string edges.
      * ``strip_html`` (off by default) — drop ``<script>``/``<style>``
        blocks and HTML comments wholesale, strip remaining tags, then
        decode the common entities (&amp; &lt; &gt; &quot; &#39; &nbsp;
        and decimal/hex numeric refs for those). A regexp-level cleanup
        for tag-bearing web text, NOT an HTML parser — malformed nesting
        degrades gracefully to "tags removed". Runs FIRST so the
        whitespace collapse tidies what tag removal leaves behind.
      * ``form`` (``'NFC'|'NFKC'|'NFD'|'NFKD'``) — Unicode normalization.
        Spark has no built-in normalizer, so this one step runs as an
        Arrow-batched pandas UDF (the justified-UDF list); it is applied
        FIRST so the JVM regexp cleanup sees composed forms. With
        ``form=None`` (default) the whole operator is pure JVM Column
        expressions — zero Python workers (pinned by plan test).

    Scale: map-side only — no shuffle, no agg, no window; a regexp chain
    (and optionally one Arrow batch hop) per partition, embarrassingly
    parallel at 100 TB. NFC on an ASCII-clean corpus is the identity —
    run a cheap ``rlike('[^\\\\x00-\\\\x7F]')`` pre-filter upstream if the
    corpus is mostly ASCII and normalize only the non-ASCII slice.
    """
    if form is not None:
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")
    c: Column = F.col(text_col)
    if strip_html:
        # block elements whose CONTENT must go too, then comments, then
        # any remaining tag; (?si) = dotall + case-insensitive so
        # multi-line <script>/<STYLE> blocks match
        c = F.regexp_replace(c, "(?si)<(script|style)\\b[^>]*>.*?</\\1\\s*>", " ")
        c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
        c = F.regexp_replace(c, "(?s)<[^>]+>", " ")
        c = F.regexp_replace(c, "(?i)&(nbsp|#160|#xa0);", " ")
        c = F.regexp_replace(c, "(?i)&(lt|#60|#x3c);", "<")
        c = F.regexp_replace(c, "(?i)&(gt|#62|#x3e);", ">")
        c = F.regexp_replace(c, "(?i)&(quot|#34|#x22);", "\"")
        c = F.regexp_replace(c, "(?i)&(apos|#39|#x27);", "'")
        c = F.regexp_replace(c, "(?i)&(amp|#38|#x26);", "&")
    if form is not None:
        c = _nfc_udf(form)(c)
    if strip_control:
        # C0 minus \t\n\r, DEL..C1, zero-widths + BOM
        c = F.regexp_replace(
            c,
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F"
            "\\u200B\\u200C\\u200D\\uFEFF]",
            "",
        )
    if unify_punct:
        c = F.translate(
            c,
            "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0",
            "''\"\"-- ",
        )
        c = F.regexp_replace(c, "…", "...")
    if collapse_ws:
        c = F.regexp_replace(c, "\\r\\n?", "\n")
        c = F.regexp_replace(c, "[ \\t]+", " ")
        c = F.regexp_replace(c, " ?\\n ?", "\n")
        c = F.trim(c)
    # normalized text pinned behind the Generate barrier: the `changed`
    # comparison would otherwise inline (= re-run) the whole regexp/UDF
    # chain a second time per row (the shingled_docs idiom)
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_orig"),
        F.explode(F.array(c)).alias("_norm"),
    )
    return d.select(
        "doc_id",
        F.col("_norm").alias(text_col),
        F.coalesce(F.col("_norm") != F.col("_orig"), F.lit(False)).alias(
            "changed"
        ),
    )


def bigram_logppl(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
) -> DataFrame:
    """Corpus-trained interpolated bigram log-perplexity — the order-1
    upgrade of ``unigram_logppl`` and one step closer to the n-gram LM
    CCNet (Wenzek et al. 2020) actually filters with. Score each bigram
    position by the interpolated probability

        p(cur | prev) = lam * c(prev,cur)/c(prev,·) + (1-lam) * c(cur)/N

    where c(prev,·) = Σ_w c(prev,w) (the exact MLE context total, NOT the
    raw unigram count of ``prev`` — they differ at document-final
    positions) and N is total corpus tokens. Both terms are trained on the
    corpus itself, so every scored bigram has c(prev,cur) ≥ 1 by
    construction and no smoothing floor is needed; the interpolation is
    the LM (it shrinks one-context bigrams toward the unigram prior),
    not a zero-guard.

    Output: (doc_id, n_bigrams, logppl2) with logppl2 = avg over bigram
    positions of -ln(p), per-position nll floor-quantized to integer
    micro-units and the average floor-quantized at 4 dp so Spark and
    DuckDB agree bit-for-bit (``unigram_logppl``'s r11 discipline —
    ``quant_micro``/``quant_avg``). Docs with < 2 tokens have no
    bigram positions and are ABSENT from the output — left-join +
    coalesce at the call site (the q42 dsir precedent).

    Scale: the corpus-sized work is one explode into bigram positions
    feeding (a) the groupBy(prev,cur) model fit and (b) the join back to
    score — pair keys are two tokens (~16 bytes), map-side partial agg
    absorbs Zipf-hot pairs before the shuffle. The context table folds
    out of the bigram table (tiny second agg, vocab-sized), the unigram
    vocab is Zipf-bounded, N is a 1-row broadcast. The vocab-sized model
    tables (ctx, vocab) are broadcast-PINNED: left to AQE, the ctx join
    re-shuffles the whole bigram-position fact side on ``prev`` (it was
    just shuffled on ``(prev, cur)``) before the runtime conversion can
    fire. The big table is NEVER pinned — unique-bigram count grows with
    the corpus. Same
    plan family as unigram_logppl — no window; the only Python is the
    Arrow-batched ``_glibc_ln`` on the distinct-bigram MODEL table
    (cross-engine bit-parity, r11), never on the fact side.
    """
    mu = 1.0 - lam
    # no fanout_repartition — same negative measurement as unigram_logppl
    toks = tokens(text_col, lowercase=True)
    # token array behind a Generate barrier (shingled_docs idiom): the
    # pair transform references it size(t) times — inlined, that would
    # re-run split() per element
    ta = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("t")
    )
    t = F.col("t")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pair_rows = ta.select("doc_id", F.explode(pairs).alias("pc")).select(
        "doc_id", F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur")
    )
    big = pair_rows.groupBy("prev", "cur").agg(F.count("*").alias("big_n"))
    ctx = big.groupBy("prev").agg(F.sum("big_n").alias("ctx_n"))
    tok_rows = df.select(F.explode(toks).alias("tok"))
    vocab = tok_rows.groupBy("tok").agg(F.count("*").alias("tok_n"))
    total = vocab.agg(F.sum("tok_n").alias("corpus_tokens"))
    ctx, vocab = F.broadcast(ctx), F.broadcast(vocab)
    # nll precomputed once per DISTINCT bigram on the model side (it is
    # a pure function of (big_n, ctx_n, tok_n)); _glibc_ln for oracle
    # bit-parity. Fact-side join fan drops from 3 model joins + cross
    # to ONE join on the finished model — the corpus-sized side never
    # touches Python.
    model = (
        big.join(ctx, "prev")
        .join(vocab, F.col("cur") == F.col("tok"))
        .crossJoin(F.broadcast(total))
        .select(
            "prev",
            "cur",
            quant_micro(
                -_glibc_ln(
                    F.lit(lam) * (F.col("big_n") / F.col("ctx_n"))
                    + F.lit(mu) * (F.col("tok_n") / F.col("corpus_tokens"))
                )
            ).alias("nllm"),
        )
    )
    scored = pair_rows.join(model, ["prev", "cur"]).select("doc_id", "nllm")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        quant_avg(F.sum("nllm"), F.count("*")).alias("logppl2"),
    )


def trigram_logppl(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam2: float = 0.7,
    lam1: float = 0.9,
) -> DataFrame:
    """Corpus-trained interpolated trigram log-perplexity — the order-2
    rung of the CCNet LM ladder (recursive Jelinek-Mercer shrinkage):

        p(cur | p2,p1) = lam2 * c(p2,p1,cur)/c(p2,p1,.)
                       + (1-lam2) * [ lam1 * c(p1,cur)/c(p1,.)
                                      + (1-lam1) * c(cur)/N ]

    Every scored trigram has c(p2,p1,cur) >= 1 by construction (trained
    on the corpus itself), so the interpolation is the LM, not a
    zero-guard — ``bigram_logppl``'s contract one order up.

    Output: (doc_id, n_trigrams, logppl3); per-position nll
    floor-quantized to integer micro-units, average floor-quantized at
    4 dp (the shared ``quant_micro``/``quant_avg`` oracle discipline).
    Docs with < 3 tokens have no trigram positions and are
    ABSENT — left-join + coalesce at the call site.

    Scale: one explode into trigram positions feeding the
    groupBy(p2,p1,cur) fit and the score join; the context tables fold
    out of the n-gram tables (each one groupBy smaller), vocab is
    Zipf-bounded, N broadcasts. The vocab-sized tables (ctx, vocab) are
    broadcast-PINNED (see bigram_logppl); tri/ctx3/big are never pinned,
    their row counts grow with the corpus. Same plan family as bigram_logppl — no
    window; the only Python is the Arrow-batched ``_glibc_ln`` on the
    distinct-trigram MODEL table (cross-engine bit-parity, r11).
    """
    mu2, mu1 = 1.0 - lam2, 1.0 - lam1
    toks = tokens(text_col, lowercase=True)
    ta = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("t")
    )
    t = F.col("t")
    tris = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i).alias("p2"),
                F.element_at(t, i + 1).alias("p1"),
                F.element_at(t, i + 2).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<p2:string,p1:string,cur:string>>"))
    tri_rows = ta.select("doc_id", F.explode(tris).alias("g")).select(
        "doc_id",
        F.col("g.p2").alias("p2"),
        F.col("g.p1").alias("p1"),
        F.col("g.cur").alias("cur"),
    )
    tri = tri_rows.groupBy("p2", "p1", "cur").agg(F.count("*").alias("tri_n"))
    ctx3 = tri.groupBy("p2", "p1").agg(F.sum("tri_n").alias("ctx3_n"))
    # bigram stats over ALL bigram positions (not just trigram-interior
    # ones): the backoff distribution is the full-order-1 model, exactly
    # what bigram_logppl trains
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pair_rows = ta.select(F.explode(pairs).alias("pc")).select(
        F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("bcur")
    )
    big = pair_rows.groupBy("prev", "bcur").agg(F.count("*").alias("big_n"))
    # distinct column name: ctx derives FROM big, so reusing "prev" would
    # be an ambiguous self-join lineage
    ctx = (
        big.groupBy("prev")
        .agg(F.sum("big_n").alias("ctx_n"))
        .withColumnRenamed("prev", "cprev")
    )
    tok_rows = df.select(F.explode(toks).alias("tok"))
    vocab = tok_rows.groupBy("tok").agg(F.count("*").alias("tok_n"))
    total = vocab.agg(F.sum("tok_n").alias("corpus_tokens"))
    p1_term = F.lit(lam1) * (F.col("big_n") / F.col("ctx_n")) + F.lit(mu1) * (
        F.col("tok_n") / F.col("corpus_tokens")
    )
    ctx, vocab = F.broadcast(ctx), F.broadcast(vocab)
    # nll per DISTINCT trigram on the model side (pure function of the
    # five counts); _glibc_ln for oracle bit-parity; fact side joins the
    # finished model once — see bigram_logppl
    model = (
        tri.join(ctx3, ["p2", "p1"])
        .join(
            big,
            (F.col("p1") == F.col("prev")) & (F.col("cur") == F.col("bcur")),
        )
        .join(ctx, F.col("p1") == F.col("cprev"))
        .drop("cprev")
        .join(vocab, F.col("cur") == F.col("tok"))
        .crossJoin(F.broadcast(total))
        .select(
            "p2",
            "p1",
            "cur",
            quant_micro(
                -_glibc_ln(
                    F.lit(lam2) * (F.col("tri_n") / F.col("ctx3_n"))
                    + F.lit(mu2) * p1_term
                )
            ).alias("nllm"),
        )
    )
    scored = tri_rows.join(model, ["p2", "p1", "cur"]).select(
        "doc_id", "nllm"
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_trigrams"),
        quant_avg(F.sum("nllm"), F.count("*")).alias("logppl3"),
    )


def lm_ladder(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
    lam2: float = 0.7,
    lam1: float = 0.9,
) -> DataFrame:
    """All three CCNet LM rungs — ``unigram_logppl`` + ``bigram_logppl``
    + ``trigram_logppl`` — in one shared-frame pass. Output:
    ``(doc_id, n_tokens, logppl, n_bigrams, logppl2, n_trigrams,
    logppl3)``; the bigram/trigram columns are NULL for docs with < 2 /
    < 3 tokens (same left-join absence contract as the standalone ops).

    Run standalone, the three rungs tokenize the corpus ~10x between
    them and FIT THE SAME SUB-MODELS REPEATEDLY: the unigram vocab is
    aggregated three times (each rung's backoff needs it) and the full
    bigram table twice (bigram_logppl's model and trigram_logppl's
    order-1 backoff are the identical groupBy). This operator
    materializes the shared frames once — the tokenized corpus
    (``_materialize``: the regex split runs once, every later pass
    re-reads arrays), the Zipf-bounded vocab, the bigram table, and the
    trigram table (each standalone rung even recomputes its OWN n-gram
    table twice: once for the context totals, once for the model) — and
    derives every rung from them. Measured sf10: 31.1 s (sum of
    standalone rungs) -> 20.0 s; a lazy shared-nothing spelling measures
    35.5 s (each consumer re-derives the shared subtrees), so the
    materialization IS the win, not an overhead.

    Bit-exactness is by construction, not by tolerance: every model nll
    is the same ``quant_micro(-_glibc_ln(...))`` integer expression on
    the same counts, and the per-doc scores sum INTEGER micro-units
    (``quant_avg``), so sharing the fits cannot move any output bit —
    pinned equal to the three standalone operators by test.

    Scale: same plan family as the standalone rungs (no window, Python
    only in the Arrow-batched model-side ``_glibc_ln``), minus the
    duplicate fits. The materialized frames are the tokenized corpus
    (raw corpus size), vocab (Zipf-bounded), and the distinct bigram /
    trigram tables (sub-corpus-sized, Zipf-shrunk), persisted with their
    lineage (``_materialize``), so a lost executor's blocks recompute.
    """
    from exon_spark.operators.dedup import _materialize, _materialize_all

    mu = 1.0 - lam
    mu2, mu1 = 1.0 - lam2, 1.0 - lam1
    toks = tokens(text_col, lowercase=True)
    # ONE tokenize, materialized: every later explode re-reads the arrays
    ta = _materialize(
        df.select(
            F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("t")
        ),
        eager=True,
    )
    t = F.col("t")
    tok_rows = ta.select("doc_id", F.explode(t).alias("tok"))
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pair_rows = ta.select("doc_id", F.explode(pairs).alias("pc")).select(
        "doc_id", F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur")
    )
    tris = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i).alias("p2"),
                F.element_at(t, i + 1).alias("p1"),
                F.element_at(t, i + 2).alias("cur"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<p2:string,p1:string,cur:string>>")
    )
    tri_rows = ta.select("doc_id", F.explode(tris).alias("g")).select(
        "doc_id",
        F.col("g.p2").alias("p2"),
        F.col("g.p1").alias("p1"),
        F.col("g.cur").alias("cur"),
    )
    # The three n-gram fits all read ONLY the materialized ta blocks, so
    # their aggregation jobs are independent — overlap them (guide §2.6)
    # instead of paying three stage tails back-to-back.
    (vocab, big, tri), (_, n_big, n_tri) = _materialize_all(
        [
            tok_rows.groupBy("tok").agg(F.count("*").alias("tok_n")),
            pair_rows.groupBy("prev", "cur").agg(F.count("*").alias("big_n")),
            tri_rows.groupBy("p2", "p1", "cur").agg(
                F.count("*").alias("tri_n")
            ),
        ]
    )
    total_row = vocab.agg(F.sum("tok_n").alias("corpus_tokens"))
    # Size-adaptive scoring-LUT broadcast (r13, VERDICT r12 #5): each
    # rung's quantized model table is Zipf-bounded but only the unigram
    # one is RELIABLY broadcast-sized — the trigram table at the sf10
    # replica is 2.7M rows (~65 MB raw), over AQE's 64 MB adaptive
    # threshold, so its scoring join shuffled the 26M-row corpus
    # occurrence side. The counts come from the materialization of the
    # model frames above (no job of their own); below the row cap the
    # scoring join gets an explicit broadcast hint, removing the
    # corpus-side exchange + sort entirely. At 100 TB trigram tables are
    # 1e10+ rows — far over the cap — and the joins stay shuffled, which
    # is the only plan that
    # works there.
    # (the unigram LUT is NOT hinted: measured neutral-to-worse at the
    # sf10 replica — 447-471 vs 363-422 core-s without — because the
    # token-occurrence side's groupBy(doc_id) reshuffles either way and
    # the hint only serializes an extra broadcast build)
    _lut_cap = 4_194_304  # 2^22 rows ≈ 100 MB raw at 24 B/row
    # ---- unigram rung (expressions identical to unigram_logppl)
    model1 = vocab.crossJoin(F.broadcast(total_row)).select(
        "tok",
        quant_micro(
            -_glibc_ln(F.col("tok_n") / F.col("corpus_tokens"))
        ).alias("nllm"),
    )
    # Scoring joins carry composite hashed keys (r12; widened from one
    # xxhash64 to the 128-bit ``wide_keys`` pair r13): the corpus-
    # occurrence side only needs (doc_id, key) to fetch its nllm, so
    # hashing the 1-3 string components cuts the join exchanges ~3x. At
    # 100 TB the n-gram vocabulary is 1e10-1e11 keys — past the 64-bit
    # birthday bound — and an inner-join collision DUPLICATES scored
    # rows (inflates n_tokens), so the key is two xxhash64 halves
    # (collision ~|V|^2/2^129, never) for +8 bytes/row (VERDICT r12 #3).
    # The second half rides as a residual condition (``wide_key_cond``),
    # not a second equi-key — a two-key equi-join loses the single-long-
    # key fast path (measured +60% on this rung at the sf10 replica).
    _cu = tok_rows.select("doc_id", *wide_keys("tok"))
    _mu = model1.select(*wide_keys("tok"), "nllm")
    uni = (
        _cu.join(_mu, wide_key_cond(_cu, _mu))
        .select("doc_id", "nllm")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            quant_avg(F.sum("nllm"), F.count("*")).alias("logppl"),
        )
    )
    # ---- shared bigram frames (bigram_logppl's fit == trigram's backoff)
    ctx = big.groupBy("prev").agg(F.sum("big_n").alias("ctx_n"))
    b_ctx, b_vocab = F.broadcast(ctx), F.broadcast(vocab)
    model2 = (
        big.join(b_ctx, "prev")
        .join(b_vocab, F.col("cur") == F.col("tok"))
        .crossJoin(F.broadcast(total_row))
        .select(
            "prev",
            "cur",
            quant_micro(
                -_glibc_ln(
                    F.lit(lam) * (F.col("big_n") / F.col("ctx_n"))
                    + F.lit(mu) * (F.col("tok_n") / F.col("corpus_tokens"))
                )
            ).alias("nllm"),
        )
    )
    _cb = pair_rows.select("doc_id", *wide_keys("prev", "cur"))
    _mb = model2.select(*wide_keys("prev", "cur"), "nllm")
    if n_big <= _lut_cap:
        _mb = F.broadcast(_mb)
    b2 = (
        _cb.join(_mb, wide_key_cond(_cb, _mb))
        .select("doc_id", "nllm")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            quant_avg(F.sum("nllm"), F.count("*")).alias("logppl2"),
        )
    )
    # ---- trigram rung on the shared big/ctx/vocab
    ctx3 = tri.groupBy("p2", "p1").agg(F.sum("tri_n").alias("ctx3_n"))
    big_r = big.withColumnRenamed("cur", "bcur")
    ctx_r = ctx.withColumnRenamed("prev", "cprev")
    b_ctx_r = F.broadcast(ctx_r)
    p1_term = F.lit(lam1) * (F.col("big_n") / F.col("ctx_n")) + F.lit(mu1) * (
        F.col("tok_n") / F.col("corpus_tokens")
    )
    model3 = (
        tri.join(ctx3, ["p2", "p1"])
        .join(
            big_r,
            (F.col("p1") == F.col("prev")) & (F.col("cur") == F.col("bcur")),
        )
        .join(b_ctx_r, F.col("p1") == F.col("cprev"))
        .drop("cprev")
        .join(b_vocab, F.col("cur") == F.col("tok"))
        .crossJoin(F.broadcast(total_row))
        .select(
            "p2",
            "p1",
            "cur",
            quant_micro(
                -_glibc_ln(
                    F.lit(lam2) * (F.col("tri_n") / F.col("ctx3_n"))
                    + F.lit(mu2) * p1_term
                )
            ).alias("nllm"),
        )
    )
    _ct = tri_rows.select("doc_id", *wide_keys("p2", "p1", "cur"))
    _mt = model3.select(*wide_keys("p2", "p1", "cur"), "nllm")
    if n_tri <= _lut_cap:
        _mt = F.broadcast(_mt)
    t3 = (
        _ct.join(_mt, wide_key_cond(_ct, _mt))
        .select("doc_id", "nllm")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_trigrams"),
            quant_avg(F.sum("nllm"), F.count("*")).alias("logppl3"),
        )
    )
    return uni.join(b2, "doc_id", "left").join(t3, "doc_id", "left")


def corpus_stats(
    df: DataFrame,
    by: tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus report card — the summary table every curation
    run publishes per language/source slice: document count, token and
    char totals, mean/median/p95 tokens per doc.

    Output per ``by`` group: ``(by..., n_docs, n_tokens, n_chars,
    avg_tokens, p50_tokens, p95_tokens)`` — averages rounded to 6 dp,
    quantiles exact (``percentile``, linear interpolation — matches
    DuckDB ``quantile_cont``, pinned by an in-test oracle).

    Scale: per-doc token counts are one map-only projection (``size`` of
    the filtered split — no explode, no token rows); the groupBy key is
    the report dimension (a handful of groups). Sums/counts combine
    map-side; EXACT percentiles buffer each group's values on one
    reducer — fine for report cards over bounded groups.

    Null/whitespace text counts as a 0-token doc (it is still a doc).
    """
    ntok = F.size(
        F.filter(tokens(text_col), lambda x: x != "")
    )
    # size(filter(null)) = -1 in Spark's legacy sizeOfNull=false? The
    # session runs ANSI: size(null) is null — coalesce to 0 either way.
    per_doc = df.select(
        *by,
        F.coalesce(ntok, F.lit(0)).alias("_nt"),
        F.coalesce(F.length(text_col), F.lit(0)).alias("_nc"),
    )
    return per_doc.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        # portable quantizer, not round(avg, 6): identical input doubles
        # still round differently between engines (see _glibc_ln / the
        # q52 sf10 post-mortem in SCALE.md r11)
        quant_avg(
            F.sum("_nt"), F.count(F.lit(1)), in_scale=1.0, out_scale=1000000.0
        ).alias("avg_tokens"),
        F.percentile(F.col("_nt"), F.lit(0.5)).alias("p50_tokens"),
        F.percentile(F.col("_nt"), F.lit(0.95)).alias("p95_tokens"),
    )


def compression_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib-compressibility quality signal: repetitive / boilerplate /
    machine-generated text compresses far better than natural prose, so
    a LOW ``compression_ratio`` (deflated bytes / raw bytes) is a strong
    cheap junk indicator, complementary to the gram-based
    ``quality_signals`` (the classic pre-filter alongside Gopher rules).

    Output: (doc_id, raw_len, zlib_len, compression_ratio) — byte
    lengths of UTF-8 text and its zlib-deflate at ``level``; ratio
    rounded to 6 digits, null for null/empty text. One Arrow-batched
    pandas UDF (zlib is C-speed; the per-doc cost is the same deflate
    any engine pays) — map-only, zero shuffle, streaming-safe in
    append mode (pinned by test).

    Determinism: zlib output length for fixed input and level is stable
    for a given zlib build; the operator stores LENGTHS, not bytes, and
    the pytest oracle recomputes with the same library.
    """
    lvl = int(level)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<raw_len:bigint, zlib_len:bigint>")
    def comp(texts):
        import zlib

        import pandas as pd

        def one(t):
            if not t:
                return (0, 0)
            b = t.encode("utf-8")
            return (len(b), len(zlib.compress(b, lvl)))

        return pd.DataFrame(
            [one(t) for t in texts], columns=["raw_len", "zlib_len"]
        )

    return df.select(
        F.col(id_col).alias("doc_id"), comp(F.col(text_col)).alias("_c")
    ).select(
        "doc_id",
        F.col("_c.raw_len").alias("raw_len"),
        F.col("_c.zlib_len").alias("zlib_len"),
        F.when(
            F.col("_c.raw_len") > 0,
            F.round(F.col("_c.zlib_len") / F.col("_c.raw_len"), 6),
        ).alias("compression_ratio"),
    )


def keyword_tag(
    df: DataFrame,
    keywords: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tag documents against named keyword lists (topic buckets,
    blocklists, domain lexicons): one int column per tag counting
    token occurrences from that list (lowercase whitespace tokens, the
    shared ``tokens()`` convention), plus ``<tag>_hit`` booleans.

    Scale: pure JVM Column expressions — the lists ship as expression
    literals inside one whole-stage-codegen'd projection; zero shuffle,
    zero Python, streaming-safe by construction. The literal-set
    membership scan is O(tokens x |list|) per doc, the right trade for
    curation-sized lexicons (10^2-10^3 words); for 10^5+ entries use an
    explode + broadcast join against a keyword table instead (the
    bm25_search shape).

    Null/empty text counts 0 everywhere."""
    if not keywords:
        raise ValueError("keyword_tag: empty keywords dict")
    arr = F.filter(tokens(text_col), lambda x: x != "")
    cols = [F.col(id_col).alias("doc_id")]
    for tag, words in keywords.items():
        if not words:
            raise ValueError(f"keyword_tag: empty list for tag {tag!r}")
        wl = [w.lower() for w in words]
        n = F.size(F.filter(arr, lambda x: x.isin(wl)))
        cols.append(F.coalesce(n, F.lit(0)).alias(f"{tag}_hits"))
    out = df.select(*cols)
    for tag in keywords:
        out = out.withColumn(f"{tag}_hit", F.col(f"{tag}_hits") > 0)
    return out


#: phrase_tag switches expr -> Aho-Corasick above this
#: many total phrase entries. Measured crossover ~32-64 on the sf0.1
#: documents corpus (SCALE.md "r10/r11 operator probes": expr grows linearly,
#: 0.24s@16 -> 4.9s@1024; ac flat ~0.4s) — the expr regime scans the
#: text once PER phrase in JVM codegen, the automaton once TOTAL in
#: Python, and both scale linearly with text length so the crossover
#: is roughly length-independent.
AC_PHRASE_THRESHOLD = 64


def _ac_build(
    patterns: list[str],
) -> tuple[list[dict], list[int], list[list[tuple[int, int]]]]:
    """Aho-Corasick automaton over ``patterns`` (already lowercased):
    returns (goto, fail, out) where out[state] lists every
    (pattern_id, pattern_len) ending at that state (fail-chain outputs
    pre-merged, so the match scan never walks fail links for output)."""
    from collections import deque

    goto: list[dict] = [{}]
    fail: list[int] = [0]
    out: list[list[tuple[int, int]]] = [[]]
    for pid, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append((pid, len(p)))
    dq = deque(goto[0].values())
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            t = goto[f].get(ch, 0)
            fail[s] = 0 if t == s else t
            if out[fail[s]]:
                out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def phrase_tag(
    df: DataFrame,
    phrases: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tag documents against named PHRASE lists — the multi-word /
    substring counterpart of ``keyword_tag`` (safety blocklists and
    contamination canaries are phrases, not single tokens, and token
    matching cannot see them). Case-insensitive substring occurrence
    counts per tag (overlap-free, left-to-right — the replace-and-diff
    convention), plus ``<tag>_hit`` booleans.

    Two regimes, identical results (parity-pinned), chosen by the total
    phrase count: expr at or below ``AC_PHRASE_THRESHOLD`` entries, ac
    above (crossover: SCALE.md "r10/r11 operator probes").

    * ``"expr"`` — pure JVM: each phrase costs one lowercase
      ``replace`` length-diff per row, whole-stage codegen'd, zero
      shuffle, zero Python, streaming-safe. O(text x |phrases|) per
      doc — right for curation-sized lists (10^2).
    * ``"ac"`` — one Aho-Corasick automaton over ALL phrases
      (driver-built, ``sc.broadcast``), one Arrow-batched pandas UDF
      scanning each text ONCE regardless of list size — the 10^4+
      blocklist regime the r9 verdict ordered shipped. Map-only,
      zero shuffle; per-phrase greedy non-overlap counting mirrors
      the replace convention exactly.

    Null text counts 0 everywhere. Phrases are matched as raw
    substrings (no word-boundary anchoring): 'ass' matches 'class' —
    anchor with spaces in the phrase itself when that matters.
    """
    if not phrases:
        raise ValueError("phrase_tag: empty phrases dict")
    for tag, plist in phrases.items():
        if not plist:
            raise ValueError(f"phrase_tag: empty list for tag {tag!r}")
        for p in plist:
            if not p or not p.lower():
                raise ValueError(f"phrase_tag: empty phrase in tag {tag!r}")
    if sum(len(v) for v in phrases.values()) > AC_PHRASE_THRESHOLD:
        return _phrase_tag_ac(df, phrases, id_col, text_col)
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    cols = [F.col(id_col).alias("doc_id")]
    for tag, plist in phrases.items():
        n: Column | None = None
        for p in plist:
            pl = p.lower()
            occ = (
                F.length(low) - F.length(F.replace(low, F.lit(pl), F.lit("")))
            ) / len(pl)
            n = occ if n is None else n + occ
        cols.append(n.cast("int").alias(f"{tag}_hits"))
    out = df.select(*cols)
    for tag in phrases:
        out = out.withColumn(f"{tag}_hit", F.col(f"{tag}_hits") > 0)
    return out


def _phrase_tag_ac(
    df: DataFrame,
    phrases: dict[str, list[str]],
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Aho-Corasick regime of ``phrase_tag`` — one text scan for any
    phrase-list size. Counting convention matched to the expr regime:
    each DISTINCT phrase is counted greedily non-overlapping
    left-to-right (exactly what ``replace`` removes), occurrences of
    different phrases may overlap each other freely (the expr regime
    counts each phrase on the ORIGINAL text), and a phrase listed
    twice under one tag counts twice (expr sums per entry)."""
    tags = list(phrases)
    # unique lowered patterns; weight[pid][tag_idx] = multiplicity
    pat_ids: dict[str, int] = {}
    weights: list[dict[int, int]] = []
    for ti, tag in enumerate(tags):
        for p in phrases[tag]:
            pl = p.lower()
            pid = pat_ids.get(pl)
            if pid is None:
                pid = pat_ids[pl] = len(pat_ids)
                weights.append({})
            weights[pid][ti] = weights[pid].get(ti, 0) + 1
    automaton = _ac_build(list(pat_ids))
    n_tags = len(tags)
    from exon_spark.operators.state import track_broadcast

    bc = track_broadcast(
        df.sparkSession.sparkContext.broadcast(
            (automaton, weights, list(pat_ids))
        )
    )

    from pyspark.sql.functions import pandas_udf

    fields = ", ".join(f"t{i}: int" for i in range(n_tags))
    # per-worker cache for the optional C automaton: closure-captured
    # mutable dict, so one build serves every batch a task processes
    _c_cache: dict = {}

    @pandas_udf(f"struct<{fields}>")
    def scan(texts):
        import pandas as pd

        (goto, fail, out), weights, patterns = bc.value
        root = goto[0]

        # Optional C fast path (r11, VERDICT r10 order 6): when
        # `pyahocorasick` is importable on the executors, scan with its
        # C automaton instead of the per-character Python loop (~10x on
        # 10^5-phrase blocklists — the Python char loop is the cost
        # floor at 100 TB). `Automaton.iter` yields (end_index, value)
        # for EVERY occurrence of every pattern — the same enumeration
        # as the pure-Python outputs — so the greedy per-pattern
        # non-overlap counting below is shared verbatim. Parity pinned
        # (skipped when the lib is absent): tests/test_text_ops.py.
        cac = _c_cache.get("A", False)
        if cac is False:
            try:
                import ahocorasick as _ahc

                cac = _ahc.Automaton()
                for pid, pl in enumerate(patterns):
                    cac.add_word(pl, (pid, len(pl)))
                cac.make_automaton()
            except ImportError:
                cac = None
            _c_cache["A"] = cac

        def count_hits(matches):
            # matches: iterable of (end_index, (pid, plen)), any order
            # within one end position; greedy non-overlap per pattern
            counts = [0] * n_tags
            last_end: dict[int, int] = {}
            for i, (pid, plen) in matches:
                if i - plen + 1 >= last_end.get(pid, 0):
                    last_end[pid] = i + 1
                    for ti, mult in weights[pid].items():
                        counts[ti] += mult
            return counts

        def one(t):
            if t is None:
                return [0] * n_tags
            tl = t.lower()
            if cac is not None:
                return count_hits(cac.iter(tl))
            s = 0
            g = goto

            def py_matches():
                nonlocal s
                for i, ch in enumerate(tl):
                    while s and ch not in g[s]:
                        s = fail[s]
                    s = g[s].get(ch, 0) if s else root.get(ch, 0)
                    for hit in out[s]:
                        yield i, hit

            return count_hits(py_matches())

        rows = [one(t) for t in texts]
        return pd.DataFrame(
            {f"t{i}": [r[i] for r in rows] for i in range(n_tags)}
        )

    out_df = df.select(
        F.col(id_col).alias("doc_id"), scan(F.col(text_col)).alias("_s")
    ).select(
        "doc_id",
        *[F.col(f"_s.t{i}").alias(f"{tag}_hits") for i, tag in enumerate(tags)],
    )
    for tag in tags:
        out_df = out_df.withColumn(f"{tag}_hit", F.col(f"{tag}_hits") > 0)
    return out_df
