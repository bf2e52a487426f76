"""Byte-pair-encoding subword induction and segmentation at corpus scale
(Sennrich et al. 2016) — the tokenizer-training step of an LLM data
pipeline, plus the segmenter that applies the learned merges.

Beyond-reference layer (no exon counterpart).

100 TB design (the classic two-level trick the original paper exploits):
  * The CORPUS-side work is one tokenize + ``groupBy(word).count()``
    shuffle — BPE statistics only depend on the word-frequency table,
    never on raw text again.
  * Merge induction then runs on the ``max_words`` most frequent types
    (a bounded driver collect, default 100k — the same bounded-sample
    contract as ivf_fit_centroids' centroid collect; tail types are
    frequency-weighted noise for pair statistics). The merge loop is
    O(num_merges · Σ|word|) over that bounded table.
  * Segmentation ships the merge ranks in a pandas-UDF closure
    (broadcast, zero shuffle) and applies the standard greedy
    lowest-rank merge per token — Arrow-batched, corpus stays map-only.

Determinism: pair ties break on (count desc, pair lexicographic), so
the learned merge list is a pure function of the word-frequency table —
reproducible across partitionings and engines (pinned by test).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from exon_spark.operators.dedup import tokens

EOW = "</w>"  # end-of-word sentinel, GPT-2/Sennrich convention


def _merge_loop(
    word_counts: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """Classic BPE induction over a word->count table (driver-side,
    bounded input). Returns merges in learned order.

    Incremental formulation (Sennrich's reference trick): a pair->word
    inverted index plus delta updates to the pair counts, so each merge
    touches only the words that CONTAIN the merged pair instead of
    rescanning the whole table — the difference between toy (hundreds of
    merges) and usable (a 32k-merge tokenizer). Identical output to the
    naive rescan loop: counts and the (count desc, pair lexicographic)
    tie-break are exactly preserved (pinned by the hand-check tests)."""
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in word_counts:
        if w:
            words.append(list(w) + [EOW])
            counts.append(int(c))
    import heapq

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        c = counts[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wi)
    # lazy-invalidation max-heap: (-count, pair) pops the most frequent
    # pair with ties to the lexicographically smallest — exactly the
    # deterministic tie-break; stale entries (count since changed) are
    # skipped on pop via the equality check
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best_p, best_n = None, 0
        while heap:
            negn, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negn:
                best_p, best_n = p, -negn
                break
        if best_p is None or best_n < min_pair_count:
            break
        a, b = best_p
        merged = a + b
        for wi in sorted(pair_words.get(best_p, ())):
            syms = words[wi]
            c = counts[wi]
            out = []
            i = 0
            changed = False
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            if not changed:
                continue

            def _delta(seq: list[str], sign: int) -> None:
                for j in range(len(seq) - 1):
                    p = (seq[j], seq[j + 1])
                    n = pair_counts.get(p, 0) + sign * c
                    if n:
                        pair_counts[p] = n
                        heapq.heappush(heap, (-n, p))
                    else:
                        pair_counts.pop(p, None)
                    idx = pair_words.setdefault(p, set())
                    if sign > 0:
                        idx.add(wi)

            _delta(syms, -1)
            _delta(out, +1)
            # drop stale index entries for pairs no longer in this word
            gone = {
                (syms[j], syms[j + 1]) for j in range(len(syms) - 1)
            } - {(out[j], out[j + 1]) for j in range(len(out) - 1)}
            for p in gone:
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wi)
            words[wi] = out
        pair_counts.pop(best_p, None)
        pair_words.pop(best_p, None)
        merges.append((a, b))
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 100_000,
    min_pair_count: int = 2,
    min_word_count: int = 1,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Distributed stage: lowercase whitespace tokenize + word-frequency
    groupBy (map-side combined, 8-byte-ish keys). Bounded stage: the top
    ``max_words`` (by count, then word — deterministic) collect to the
    driver for the merge loop. Merges stop early when no pair reaches
    ``min_pair_count``.

    ``min_word_count`` floors the word-frequency table BEFORE the
    top-``max_words`` cut. At web scale the type population is dominated
    by hapax noise (ids, hex strings, typos); left in, those singletons
    both crowd natural words out of the bounded table and are the merge
    loop's worst case (random character soup makes every character pair
    appear in a large fraction of the table, so each merge's delta
    update touches ~half the words — measured 266 s for 500 merges on a
    hapax-hex-dominated 100k table vs <1 s on the natural-word table;
    SCALE.md "r9 5M-doc bpe probe"). Real tokenizer pipelines drop hapax words
    for the same reason; default 1 keeps the exact r8 behavior.

    Returns the merge list in learned order (feed to ``bpe_segment``).
    """
    wc = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_word_count)
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(max_words)
    )
    rows = [(r["w"], r["c"]) for r in wc.collect()]
    if not rows:
        raise ValueError("bpe_train: empty corpus after tokenization")
    return _merge_loop(rows, num_merges, min_pair_count)


def _segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank merging of one word (standard BPE apply)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_i, best_r = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment every document with a learned merge list.

    Output: ``(doc_id, bpe_tokens array<string>, n_bpe_tokens)`` —
    lowercase whitespace words, each split to subwords ending in
    ``</w>``. Null/empty text yields an empty array.

    Plan: one Arrow-batched pandas UDF over an ``sc.broadcast`` of the
    merge-rank dict (torrent-shipped ONCE per executor, not re-pickled
    into every task like a closure capture — at a 256k-merge production
    vocab that is MBs per task saved; r9-verdict order) and a per-token
    LRU — web corpora repeat words heavily, so most lookups skip the
    merge loop entirely.
    """
    # the broadcast value is a plain dict of str tuples, so executor
    # unpickling needs no repo modules (executor workers do not share
    # the driver's sys.path; the segment loop is re-stated inside the
    # UDF for the same reason — pinned equal to the module-level
    # _segment_word by test)
    from exon_spark.operators.state import track_broadcast

    _bc = track_broadcast(
        df.sparkSession.sparkContext.broadcast(
            {pair: i for i, pair in enumerate(merges)}
        )
    )
    _eow = EOW

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def seg(texts):
        import re

        import pandas as pd

        _ranks = _bc.value

        # EXACT mirror of the JVM tokens() helper bpe_train counts words
        # with (F.split(F.trim(F.lower(c)), "\\s+")): Java \s is
        # ASCII-only and Spark trim strips only ' ' — Python str.split()
        # would split on Unicode whitespace and segment NBSP-joined
        # words never seen at train time (r8 advice, bpe.py:224)
        ws = re.compile(r"[ \t\n\x0b\f\r]+")

        cache: dict[str, list[str]] = {}

        def segment_word(word):
            syms = list(word) + [_eow]
            while len(syms) > 1:
                best_i, best_r = -1, None
                for i in range(len(syms) - 1):
                    r = _ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_r is None or r < best_r):
                        best_i, best_r = i, r
                if best_r is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            return syms

        def one(t):
            if t is None:
                return []
            out = []
            for w in ws.split(t.lower().strip(" ")):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    hit = segment_word(w)
                    if len(cache) < 500_000:
                        cache[w] = hit
                out.extend(hit)
            return out

        return pd.Series([one(t) for t in texts])

    return df.select(
        F.col(id_col).alias("doc_id"),
        seg(F.col(text_col)).alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens"))


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The subword vocabulary a merge list induces, in deterministic
    order: base characters (and ``</w>``) that appear in any merge
    operand, sorted, followed by each merge's product in learned order —
    the id-assignment convention tokenizer exports use (base alphabet
    first, then one new symbol per merge). Segment outputs are always a
    subset of this vocabulary plus unseen base characters."""
    base: set[str] = set()
    for a, b in merges:
        for sym in (a, b):
            if len(sym) == 1:
                base.add(sym)
            elif sym == EOW:
                base.add(sym)
    out = sorted(base)
    seen = set(out)
    for a, b in merges:
        m = a + b
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out
