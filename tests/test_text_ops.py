"""Unit tests for the r5 text-pipeline additions: Gopher-style quality
signals, cross-doc duplicated-n-gram coverage, BM25 search, and the
stream-stream interval join — edge cases the sf-level oracle gate can't
isolate (single-token docs, overlapping window unions, hand-computed BM25,
stream-vs-batch join parity)."""

from __future__ import annotations

import math
import os
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_quality_signals_repetition_metrics(spark):
    from exon_spark.operators import quality_signals

    rows = [
        (1, "a a a a"),  # top unigram 4/4, bigram 'a a' 3/3, all tri dup
        (2, "w x y z"),  # all unique
        (3, "solo"),  # single token: bigram/trigram metrics guarded
    ]
    out = {
        r["doc_id"]: r
        for r in quality_signals(_docs(spark, rows)).collect()
    }
    assert out[1]["frac_top_unigram"] == 1.0
    assert out[1]["frac_top_bigram"] == 1.0
    assert out[1]["frac_dup_trigram"] == 1.0
    assert not out[1]["quality_pass"]
    # all-unique doc: no gram repeats, so top-gram metrics are 0 (a gram
    # seen once is not repetition)
    assert out[2]["frac_top_unigram"] == 0.0
    assert out[2]["frac_dup_trigram"] == 0.0
    assert out[2]["frac_unique"] == 1.0
    assert out[2]["quality_pass"]
    assert out[3]["frac_top_bigram"] == 0.0  # empty bigram array, not [1,0]
    assert out[3]["frac_unique"] == 1.0


def test_quality_signals_run_stats_match_python_reference(spark):
    """Pin the staged run-length respelling (r12) against a pure-Python
    reference computed from the SAME Spark-produced gram arrays, over
    randomized repetition-heavy docs plus the edges: null text, empty
    text, tab-led text (leading empty token), single token, all-equal
    tokens."""
    import random

    import pyspark.sql.functions as F

    from exon_spark.operators import quality_signals
    from exon_spark.operators.dedup import tokens, word_ngrams

    rng = random.Random(12)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = []
    for i in range(30):
        n = rng.randrange(0, 15)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    rows += [
        (100, None),
        (101, ""),
        (102, "\tled by tab"),
        (103, "solo"),
        (104, "x x x x x x"),
    ]
    df = _docs(spark, rows)
    toks_col = tokens("text", lowercase=True)
    base = df.select(
        "doc_id", F.explode(F.array(toks_col)).alias("toks")
    ).select(
        "doc_id",
        "toks",
        word_ngrams(F.col("toks"), 2).alias("bi"),
        word_ngrams(F.col("toks"), 3).alias("tri"),
    )
    arrays = {r["doc_id"]: r for r in base.collect()}

    def ref_stats(grams):
        if grams is None:
            return None, None, None
        s = sorted(grams)
        runs, i = [], 0
        while i < len(s):
            j = i
            while j < len(s) and s[j] == s[i]:
                j += 1
            runs.append(j - i)
            i = j
        top = max([r for r in runs if r >= 2], default=0)
        dup = sum(r for r in runs if r >= 2)
        return top, dup, len(runs)

    got = {
        r["doc_id"]: r for r in quality_signals(df).collect()
    }
    assert set(got) == set(arrays)
    for did, a in arrays.items():
        tk, bi, tri = a["toks"], a["bi"], a["tri"]
        r = got[did]
        if tk is None:
            assert r["frac_top_unigram"] is None and r["frac_unique"] is None
            continue
        n = len(tk)
        ut, _ud, udist = ref_stats(tk)
        bt, _bd, _ = ref_stats(bi)
        _tt, td, _ = ref_stats(tri)
        assert r["frac_top_unigram"] == round(ut / n, 6), did
        assert r["frac_top_bigram"] == round(bt / max(n - 1, 1), 6), did
        assert r["frac_dup_trigram"] == round(td / max(n - 2, 1), 6), did
        assert r["frac_unique"] == round(udist / n, 6), did


def test_dup_ngram_coverage_union_of_overlapping_windows(spark):
    from exon_spark.operators import dup_ngram_coverage

    # docs 1 and 2 share tokens 1..4 ("p q r s" + following "t"/"u" differ
    # at position 5). With n=3: doc1 windows (p q r),(q r s),(r s t);
    # shared = (p q r),(q r s) → covered union = positions 1..4 → 4 tokens.
    rows = [
        (1, "p q r s t"),
        (2, "p q r s u"),
        (3, "m n o v w"),
    ]
    out = {
        r["doc_id"]: r
        for r in dup_ngram_coverage(_docs(spark, rows), n=3).collect()
    }
    assert out[1]["n_dup_ngrams"] == 2
    assert out[1]["covered_tokens"] == 4  # union, not 2*3
    assert out[1]["covered_frac"] == 0.8
    assert out[3]["n_dup_ngrams"] == 0
    assert out[3]["covered_frac"] == 0.0


def test_dup_ngram_coverage_scale_knobs(spark):
    """The hashed-key regime (forced with n_rows) must be value-identical
    (8-byte xxhash64 shuffle key in the plan); max_gram_df drops
    corpus-level stop-grams from coverage."""
    from exon_spark.operators import dup_ngram_coverage, regime

    rows = [
        (1, "p q r s t"),
        (2, "p q r s u"),
        (3, "m n o v w"),
        (4, "p q r x y"),   # (p q r) now in 3 docs
    ]
    base = dup_ngram_coverage(_docs(spark, rows), n=3)
    hashed = dup_ngram_coverage(
        _docs(spark, rows), n=3, n_rows=regime.FLOORS["hashed_grams"] + 1
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, hashed.collect())
    )
    # the xxhash64 runs inside the eagerly-materialized gram stage, so the
    # final plan sees only the key column — pin that the shuffle/join key
    # is the 8-byte hash (bigint, '#nL'), not the gram text
    import re

    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"gram_k#\d+L", plan), (
        "the hashed regime must shuffle 8-byte bigint gram keys"
    )
    # cap at df<=2: the df=3 gram (p q r) stops counting toward coverage
    capped = {
        r["doc_id"]: r
        for r in dup_ngram_coverage(
            _docs(spark, rows), n=3, max_gram_df=2
        ).collect()
    }
    assert capped[4]["n_dup_ngrams"] == 0  # only shared gram was capped
    uncapped = {
        r["doc_id"]: r
        for r in dup_ngram_coverage(_docs(spark, rows), n=3).collect()
    }
    assert uncapped[4]["n_dup_ngrams"] == 1


def test_dup_ngram_coverage_auto_hash_switch(spark, monkeypatch):
    """r11: the ``hashed_grams`` regime keeps string gram keys below the
    document threshold and switches to 8-byte xxhash64 keys above it,
    value-identically."""
    import re

    import exon_spark.operators.dedup as dd
    from exon_spark.operators import regime

    rows = [(1, "p q r s t"), (2, "p q r s u"), (3, "m n o v w")]
    small = dd.dup_ngram_coverage(_docs(spark, rows), n=3)
    assert not re.search(
        r"xxhash64", small._jdf.queryExecution().toString()
    ), "auto must keep string keys below the threshold"
    base = sorted(map(tuple, small.collect()))
    monkeypatch.setitem(regime.FLOORS, "hashed_grams", 1)
    big = dd.dup_ngram_coverage(_docs(spark, rows), n=3)
    assert sorted(map(tuple, big.collect())) == base


def test_dup_ngram_coverage_caller_cardinality_skips_count(spark):
    """r12 (VERDICT r11 next #6): n_rows= supplies the corpus size so
    the gram-key regime skips its count() job — pinned by poisoning df.count;
    the regime pick still honors the supplied cardinality."""
    import re

    import exon_spark.operators.dedup as dd
    from exon_spark.operators import regime

    rows = [(1, "p q r s t"), (2, "p q r s u"), (3, "m n o v w")]
    base = sorted(map(tuple, dd.dup_ngram_coverage(_docs(spark, rows), n=3).collect()))
    d = _docs(spark, rows)
    d.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("n_rows supplied — count() must not run")
    )
    small = dd.dup_ngram_coverage(d, n=3, n_rows=3)
    assert not re.search(r"xxhash64", small._jdf.queryExecution().toString())
    assert sorted(map(tuple, small.collect())) == base
    d2 = _docs(spark, rows)
    d2.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("n_rows supplied — count() must not run")
    )
    big = dd.dup_ngram_coverage(
        d2, n=3, n_rows=regime.FLOORS["hashed_grams"] + 1
    )
    # the xxhash64 runs inside the eagerly-materialized gram stage; the
    # final plan sees only the 8-byte bigint key column (same pin as
    # test_dup_ngram_coverage_scale_knobs)
    assert re.search(
        r"gram_k#\d+L", big._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(map(tuple, big.collect())) == base


def test_minhash_dedup_columnar_regime_parity(spark, tmp_path, monkeypatch):
    """r12: minhash_dedup's scale regime (candidate-id prefilter +
    explicit broadcast of jaccard_verify's candidate id sets) must emit
    the identical pair set and 6-dp jaccard as the latency regime
    (AQE-planned joins, no prefilter). The regime only re-spells the
    join strategy — the hash arithmetic and the materialized hashed
    shingle frame are shared — so parity is exact, not approximate."""
    import exon_spark.operators.dedup as dd
    from exon_spark.operators import regime

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "m n o p q r s t"),
        (4, "m n o p q r s t"),
        (5, "z y x w v u t s"),
    ]
    p = str(tmp_path / "docs.parquet")
    _docs(spark, rows).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    base = sorted(map(tuple, dd.minhash_dedup(docs, n=3).collect()))
    assert base, "fixture must plant at least one near-dup pair"
    monkeypatch.setitem(regime.FLOORS, "columnar", 0)
    scale = sorted(map(tuple, dd.minhash_dedup(docs, n=3).collect()))
    assert scale == base
    monkeypatch.undo()
    # r13 (ADVICE r12): n_rows= forces the scale regime on inputs whose
    # cardinality the parquet-footer sniff cannot see (s3://, views);
    # output must be identical to both auto-detected regimes
    forced = sorted(
        map(
            tuple,
            dd.minhash_dedup(
                docs, n=3, n_rows=regime.FLOORS["columnar"] + 1
            ).collect(),
        )
    )
    assert forced == base


def test_glibc_ln_corpus_misuse_guard(spark):
    """r12 (VERDICT r11 next #5): _glibc_ln is a per-element Python libm
    loop reserved for Zipf-bounded model tables; applying it to a
    corpus-sized column must fail loudly (per-worker cumulative cap)
    instead of silently burning hours. max_rows=None lifts the cap."""
    import pyspark.sql.functions as F
    import pytest

    from exon_spark.operators.dedup import _glibc_ln

    big = spark.range(0, 500, 1, 1).select(
        (F.col("id").cast("double") + 1.0).alias("x")
    )
    with pytest.raises(Exception, match="_glibc_ln processed >"):
        big.select(_glibc_ln(F.col("x"), max_rows=100).alias("y")).collect()
    # under the cap and cap-lifted paths both compute
    ok = big.select(_glibc_ln(F.col("x"), max_rows=10_000).alias("y")).collect()
    assert len(ok) == 500
    ok2 = big.limit(5).select(_glibc_ln(F.col("x"), max_rows=None).alias("y"))
    assert ok2.count() == 5
    # the cap is per-invocation: a fresh call after a tripped one starts at 0
    again = big.limit(50).select(_glibc_ln(F.col("x"), max_rows=100).alias("y"))
    assert again.count() == 50


def test_bm25_matches_hand_computation(spark):
    from exon_spark.operators import bm25_search

    rows = [
        (1, "x x y"),
        (2, "x z z"),
        (3, "z z z"),
    ]
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_search(_docs(spark, rows), ["x"], k1=1.2, b=0.75).collect()
    }
    # N=3, df=2, avgdl=3, dl=3 → tf_norm = tf*2.2/(tf+1.2)
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    exp1 = round(round(idf * 2 * 2.2 / (2 + 1.2), 6), 4)
    exp2 = round(round(idf * 1 * 2.2 / (1 + 1.2), 6), 4)
    assert out[1] == exp1
    assert out[2] == exp2
    assert 3 not in out  # no match, no row


def test_bm25_topk_ordering_deterministic(spark):
    from exon_spark.operators import bm25_search

    rows = [(i, "x y") for i in range(10)]
    got = bm25_search(_docs(spark, rows), ["x"], limit=4).collect()
    # identical scores → doc_id ascending tie-break
    assert [r["doc_id"] for r in got] == [0, 1, 2, 3]


def test_streaming_interval_join_matches_batch(spark):
    from exon_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_interval_join,
    )

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 1.0, ""),
            (2, "2024-01-01 10:10:00", 7, "purchase", 5.0, ""),  # in window
            (3, "2024-01-01 11:10:00", 7, "purchase", 5.0, ""),  # too late
            (4, "2024-01-01 10:10:00", 8, "purchase", 5.0, ""),  # other user
            (5, "2024-01-01 09:50:00", 7, "purchase", 5.0, ""),  # before view
        ],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = os.path.join(
        tempfile.gettempdir(), f"exon_t_ivj_{uuid.uuid4().hex[:8]}"
    )
    events.write.mode("overwrite").parquet(d)
    views = read_events_stream(spark, d).filter(F.col("event_type") == "view")
    buys = read_events_stream(spark, d).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_memory(
        streaming_interval_join(views, buys, within="30 minutes"),
        f"ivj_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    ).collect()
    assert len(out) == 1
    assert out[0]["l_event_id"] == 1 and out[0]["r_event_id"] == 2
    assert out[0]["user_id"] == 7


def test_dedup_against_cross_corpus_only(spark):
    from exon_spark.operators import dedup_against

    idx = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
        ],
    )
    new = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # dup of idx 1
            (11, "totally different words entirely unlike any other doc"),
            (12, "totally different words entirely unlike any other doc"),  # new-new dup: must NOT appear
        ],
    )
    got = dedup_against(new, idx, threshold=0.5).collect()
    assert [(r["doc_id"], r["dup_of"], r["jaccard"]) for r in got] == [
        (10, 1, 1.0)
    ]


def test_dedup_against_prebuilt_index_state_parity(spark, tmp_path):
    """minhash_index written to parquet and handed back via index_state
    yields the IDENTICAL result multiset as the raw-docs path — the
    standing-pipeline contract."""
    import pytest

    from exon_spark.operators import dedup_against, minhash_index

    rows = [
        (i, f"shared boiler plate words {i % 4} plus tail {i % 7}")
        for i in range(60)
    ]
    idx = _docs(spark, rows)
    new = _docs(
        spark,
        [(1000 + i, f"shared boiler plate words {i % 4} plus tail {i % 7}")
         for i in range(12)]
        + [(2000, "nothing like anything in the accepted corpus at all")],
    )
    live = sorted(map(tuple, dedup_against(new, idx, threshold=0.5).collect()))
    assert live  # non-trivial
    state = minhash_index(idx)
    p = str(tmp_path / "mh_index")
    state.write.parquet(p)
    stored = spark.read.parquet(p)
    via_state = sorted(
        map(tuple, dedup_against(new, index_state=stored, threshold=0.5).collect())
    )
    assert via_state == live
    with pytest.raises(ValueError, match="index_state"):
        dedup_against(new)


def test_token_budget_cap_prefix_and_partitioning_invariance(spark):
    from exon_spark.operators import token_budget_cap

    rows = [(i, "w " * (i % 7 + 3), "s%d" % (i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    a = token_budget_cap(df, 30, by="source")
    got = {r["doc_id"]: r for r in a.collect()}
    # prefix property: every kept doc's cumulative count is within budget
    # and group totals actually hit near the cap
    per_src = {}
    for r in got.values():
        assert r["cum_tokens"] <= 30
        per_src[r["source"]] = max(per_src.get(r["source"], 0), r["cum_tokens"])
    assert all(v > 20 for v in per_src.values())
    # deterministic under different partitioning
    b = token_budget_cap(df.repartition(7, "doc_id"), 30, by="source")
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))


def test_unigram_logppl_hand_computed(spark):
    import math

    from exon_spark.operators import unigram_logppl

    # corpus: 6 tokens total; p(a)=3/6, p(b)=2/6, p(c)=1/6
    rows = [(1, "a a b"), (2, "a b c")]
    out = {r["doc_id"]: r for r in unigram_logppl(_docs(spark, rows)).collect()}

    def nll(p):
        return round(-math.log(p), 6)

    exp1 = round((nll(0.5) * 2 + nll(2 / 6)) / 3, 4)
    exp2 = round((nll(0.5) + nll(2 / 6) + nll(1 / 6)) / 3, 4)
    assert out[1]["logppl"] == exp1
    assert out[2]["logppl"] == exp2
    # the rare-token doc scores strictly higher
    assert out[2]["logppl"] > out[1]["logppl"]


def test_zorder_key_interleave_known_values(spark):
    from exon_spark.operators.layout import zorder_key, zorder_repartition

    # dims span exactly [0, 3] with bits=2 → cell == value; Morton
    # interleave of (x, y): bit j of x at position 2b, y at 2b+1
    rows = [(i, x, y) for i, (x, y) in enumerate(
        [(0, 0), (3, 0), (0, 3), (3, 3), (1, 2), (2, 1)]
    )]
    df = spark.createDataFrame(rows, "rid bigint, x bigint, y bigint")
    got = {r["rid"]: r["zkey"] for r in zorder_key(df, ["x", "y"], bits=2).collect()}

    def morton(x, y):
        z = 0
        for b in range(2):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    expect = {i: morton(x, y) for i, (x, y) in enumerate(
        [(0, 0), (3, 0), (0, 3), (3, 3), (1, 2), (2, 1)]
    )}
    assert got == expect
    # repartition path: z-sorted within partitions, all rows kept
    rp = zorder_repartition(df, ["x", "y"], n_partitions=2, bits=2)
    assert rp.count() == len(rows)


def test_zorder_layout_tightens_parquet_stats(spark, tmp_path):
    """The point of the z-order pass is data-skipping: after
    zorder_repartition, each parquet file's (x, y) min/max spans must be
    far tighter than a hash-shuffled layout's (which cover ~the full
    domain), so multi-dimension predicates prune files/row-groups."""
    import pyarrow.parquet as pq

    from exon_spark.operators.layout import zorder_repartition

    n = 4096
    df = spark.range(n).selectExpr(
        "id as rid", "cast(id % 64 as bigint) as x",
        "cast((id * 37) % 64 as bigint) as y",
    )

    def spans(path):
        tot, cnt = 0, 0
        for f in __import__("pathlib").Path(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                for c in ("x", "y"):
                    st = md.row_group(rg).column(names[c]).statistics
                    tot += st.max - st.min
                    cnt += 1
        return tot / cnt

    d1, d2 = str(tmp_path / "zord"), str(tmp_path / "rand")
    zorder_repartition(df, ["x", "y"], n_partitions=8, bits=6).write.parquet(d1)
    df.repartition(8).write.parquet(d2)
    z_span, r_span = spans(d1), spans(d2)
    # hash layout spans ~the full 0..63 domain; z-order must be much tighter
    assert r_span > 50
    assert z_span < r_span / 2, (z_span, r_span)


def test_pack_sequences_matches_naive_global_window(spark):
    from pyspark.sql import Window

    from exon_spark.operators import pack_sequences

    rows = [
        (i, "w " * (i * 7 % 11 + 1), "s%d" % (i % 3)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    # tiny buckets → many buckets per group, exercising both window levels
    got = {
        r["doc_id"]: r
        for r in pack_sequences(df, seq_len=16, bucket_rows=4).collect()
    }
    # naive single-window reference
    d = df.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    ref = d.withColumn("cum", F.sum("n").over(w)).collect()
    assert len(got) == 60
    for r in ref:
        start = r["cum"] - r["n"]
        g = got[r["doc_id"]]
        assert g["pack_id"] == start // 16
        assert g["pack_offset"] == start % 16
        assert g["n_packs"] == (r["cum"] - 1) // 16 - start // 16 + 1
    # partitioning invariance
    again = pack_sequences(df.repartition(13), seq_len=16, bucket_rows=4)
    assert sorted(map(tuple, again.collect())) == sorted(
        tuple(v) for v in got.values()
    )


def test_corpus_top_ngrams_counts_and_tiebreak(spark):
    from exon_spark.operators import corpus_top_ngrams

    rows = [(1, "to be or not to be"), (2, "to be is to do"), (3, "x")]
    out = corpus_top_ngrams(_docs(spark, rows), n=2, k=3).collect()
    # 'to be' occurs 3x in 2 docs; the rest occur once → gram-text tiebreak
    assert (out[0]["gram"], out[0]["n_occurrences"], out[0]["n_docs"]) == (
        "to be",
        3,
        2,
    )
    assert [r["gram"] for r in out[1:]] == ["be is", "be or"]


def test_temperature_weights_math_and_mix(spark):
    import math

    from exon_spark.operators import temperature_mix, temperature_weights

    # 8000 tokens in 'big', 2000 in 'small' (each doc = 20 tokens)
    rows = [(i, "w " * 20, "big" if i < 400 else "small") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    w1 = temperature_weights(df, alpha=1.0)
    assert w1["big"] == pytest.approx(0.8) and w1["small"] == pytest.approx(0.2)
    w0 = temperature_weights(df, alpha=0.0)
    assert w0["big"] == pytest.approx(0.5) and w0["small"] == pytest.approx(0.5)
    wh = temperature_weights(df, alpha=0.5)
    z = math.sqrt(8000.0) + math.sqrt(2000.0)
    assert wh["big"] == math.sqrt(8000.0) / z  # exact, sqrt spelling
    assert sum(wh.values()) == pytest.approx(1.0)
    # flattening: low-resource share strictly grows as alpha drops
    assert w0["small"] > wh["small"] > w1["small"]

    out = temperature_mix(df, total_tokens=10_000, alpha=0.5)
    out2 = temperature_mix(df.repartition(13), total_tokens=10_000, alpha=0.5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    tok = out.toPandas().groupby("source")["n_tokens"].sum()
    # realized shares near the temperature targets (hash jitter bounded)
    assert abs(tok["big"] / tok.sum() - wh["big"]) < 0.05

    with pytest.raises(ValueError, match="alpha"):
        temperature_weights(df, alpha=-1)
    empty = spark.createDataFrame([], "doc_id bigint, text string, source string")
    with pytest.raises(ValueError, match="no groups"):
        temperature_weights(empty)


def test_epoch_mix_hits_target_tokens(spark):
    from exon_spark.operators import epoch_mix

    rows = [
        (i, "w " * 20, ["a", "b"][i % 2]) for i in range(200)
    ]  # 2000 tokens per source
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = epoch_mix(
        df, {"a": 0.75, "b": 0.25}, total_tokens=8000, by="source"
    ).toPandas()
    tok = out.groupby("source")["n_tokens"].sum()
    # a: factor 3.0 exactly → every doc 3 copies = 6000 tokens
    assert tok["a"] == 6000
    # b: factor 1.0 → 2000 tokens
    assert tok["b"] == 2000
    # copies enumerate 1..n
    a_copies = out[out.source == "a"].groupby("doc_id")["copy_n"].apply(list)
    assert all(sorted(v) == [1, 2, 3] for v in a_copies)
    # fractional factor keeps a deterministic hash-chosen extra subset
    out2 = epoch_mix(df, {"a": 0.5, "b": 0.5}, total_tokens=5000, by="source")
    out3 = epoch_mix(
        df.repartition(17), {"a": 0.5, "b": 0.5}, total_tokens=5000, by="source"
    )
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, out3.collect()))
    n = out2.toPandas().groupby("source")["n_tokens"].sum()
    # 1.25x factor → expect ~2500 per source, hash jitter bounded
    assert 2200 <= n["a"] <= 2800 and 2200 <= n["b"] <= 2800


def test_tfidf_keywords_hand_computed(spark):
    import math

    from exon_spark.operators import tfidf_keywords

    rows = [
        (1, "apple apple banana shared"),
        (2, "cherry shared shared"),
        (3, "durian shared"),
    ]
    out = tfidf_keywords(_docs(spark, rows), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 'apple' tf=2 df=1 -> 2*ln(3); 'banana' tf=1 df=1 -> ln(3);
    # 'shared' df=3 -> idf 0, never ranks above them
    d1 = by_doc[1]
    assert (d1[0].term, d1[0].rank) == ("apple", 1)
    assert d1[0].score == round(2 * math.log(3), 6)
    assert d1[1].term == "banana"
    # doc 3: only 'durian' scores > 0; 'shared' fills rank 2 with score 0
    assert by_doc[3][0].term == "durian"
    assert by_doc[3][1].score == 0.0
    # the r12 scale regime (single doc_id exchange + broadcast vocab,
    # forced via n_rows) emits identical rows
    scale = tfidf_keywords(_docs(spark, rows), k=2, n_rows=1 << 20).collect()
    key = lambda r: (r.doc_id, r.term, r.tf, r.score, r.rank)  # noqa: E731
    assert sorted(map(key, scale)) == sorted(map(key, out))


def test_token_budget_cap_approximate_mode(spark):
    from exon_spark.operators import token_budget_cap

    rows = [(i, "w " * 20, "a") for i in range(2000)]  # 40k tokens, one group
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = token_budget_cap(df, 10_000, by="source", approximate=True).toPandas()
    # within sampling noise of the budget (uniform hash, fixed 20-token docs)
    assert 8_000 <= out.n_tokens.sum() <= 12_000
    # cum_tokens is null in this mode
    assert out.cum_tokens.isna().all()
    # nests inside the exact prefix's keep ORDER: every approximate keep
    # has a hash below the cutoff, so the exact mode run at a LARGER
    # budget must contain it
    exact = token_budget_cap(df, 15_000, by="source").toPandas()
    assert set(out.doc_id) <= set(exact.doc_id)
    # under-budget group keeps everything
    small = token_budget_cap(df, 100_000, by="source", approximate=True)
    assert small.count() == 2000


def test_chunk_documents_windows_and_edges(spark):
    import pytest as _pytest

    from exon_spark.operators import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(12))),  # 12 toks: chunks at 0,4,8
        (2, "a b c"),  # under chunk size -> one chunk
        (3, "Case KEPT"),  # case preserved
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {}
    for r in chunk_documents(df, chunk_tokens=6, overlap=2).collect():
        out.setdefault(r.doc_id, []).append(r)
    d1 = sorted(out[1], key=lambda r: r.chunk_id)
    assert [(r.start_tok, r.n_chunk_tokens) for r in d1] == [(0, 6), (4, 6), (8, 4)]
    assert d1[1].chunk_text == "t4 t5 t6 t7 t8 t9"
    # consecutive chunks overlap by exactly `overlap`
    assert d1[0].chunk_text.split()[-2:] == d1[1].chunk_text.split()[:2]
    assert len(out[2]) == 1 and out[2][0].chunk_text == "a b c"
    assert out[3][0].chunk_text == "Case KEPT"
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_redact_pii_masks_and_counts(spark):
    from exon_spark.operators import redact_pii

    rows = [
        (1, "mail a@b.co and c@d.io, call 555-123-4567"),
        (2, "ssn 123-45-6789 at 10.0.0.1"),
        (3, "clean text"),
    ]
    out = {r.doc_id: r for r in redact_pii(_docs(spark, rows)).collect()}
    assert out[1].text == "mail <EMAIL> and <EMAIL>, call <PHONE>"
    assert out[1].n_redactions == 3
    assert out[2].text == "ssn <SSN> at <IP>"
    assert out[2].n_redactions == 2
    assert out[3].text == "clean text" and out[3].n_redactions == 0


def test_ppl_buckets_tertiles_per_stratum(spark):
    from exon_spark.operators import ppl_buckets

    # 6 docs per lang with increasing rarity (unique tokens raise logppl);
    # 'common' appears everywhere so all docs share some probability mass
    rows = []
    for li, lang in enumerate(("en", "de")):
        for i in range(6):
            uniq = " ".join(f"{lang}rare{i}x{j}" for j in range(i))
            rows.append((li * 10 + i, ("common " * 3 + uniq).strip(), lang))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = ppl_buckets(df, by="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert len(rs) == 6
        # tertiles: 2 head, 2 middle, 2 tail per 6-doc stratum
        from collections import Counter

        c = Counter(r.ppl_bucket for r in rs)
        assert c == {"head": 2, "middle": 2, "tail": 2}, (lang, c)
        # head docs have the lowest logppl within the stratum
        srt = sorted(rs, key=lambda r: (r.logppl, r.doc_id))
        assert [r.ppl_bucket for r in srt] == ["head"] * 2 + ["middle"] * 2 + ["tail"] * 2


# ------------------------------------------------- r8: line_dedup gate pins

def test_line_dedup_boilerplate_golden(spark):
    """Hand-built RefinedWeb fixture: nav/footer lines shared across >=
    min_df docs are stripped, unique body lines survive in original
    order, and a document whose EVERY line is boilerplate is dropped."""
    from exon_spark.operators import line_dedup

    nav, foot = "HOME | ABOUT", "(c) 2024 Corp"
    rows = [
        (1, f"{nav}\nalpha body one\nalpha body two\n{foot}"),
        (2, f"{nav}\nbeta body\n{foot}"),
        (3, f"{nav}\n{foot}"),  # all-boilerplate: must vanish
        (4, "gamma standalone"),  # untouched doc
    ]
    out = {r.doc_id: r for r in line_dedup(_docs(spark, rows), min_df=2).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].text == "alpha body one\nalpha body two"
    assert (out[1].n_lines, out[1].n_kept) == (4, 2)
    assert out[2].text == "beta body"
    assert (out[2].n_lines, out[2].n_kept) == (3, 1)
    assert out[4].text == "gamma standalone"
    assert (out[4].n_lines, out[4].n_kept) == (1, 1)

    # min_df=3: nav/foot only appear in 3 docs -> still stripped; raise
    # the bar to 4 and everything survives verbatim
    keep_all = {
        r.doc_id: r for r in line_dedup(_docs(spark, rows), min_df=4).collect()
    }
    assert set(keep_all) == {1, 2, 3, 4}
    assert keep_all[3].text == f"{nav}\n{foot}"
    assert keep_all[3].n_kept == 2


def test_line_dedup_regex_special_separator(spark):
    """sep is a LITERAL: '|' (a regex alternation metachar) must split on
    pipes, not on every character — the r7 F.split regex hazard."""
    from exon_spark.operators import line_dedup

    rows = [(1, "ad块|keep me|ad块"), (2, "ad块|other body|x"), (3, "ad块|z|q")]
    out = {
        r.doc_id: r
        for r in line_dedup(_docs(spark, rows), min_df=2, sep="|").collect()
    }
    # 'ad块' occurs in all 3 docs -> stripped; bodies survive pipe-joined
    assert out[1].text == "keep me"
    assert (out[1].n_lines, out[1].n_kept) == (3, 1)
    assert out[2].text == "other body|x"
    assert out[2].n_kept == 2


def test_line_dedup_null_text_coalesced(spark):
    """NULL text behaves as '' (one empty line): kept while rare, subject
    to the same df rule when common — never a silent row drop."""
    from exon_spark.operators import line_dedup

    one_null = [(1, None), (2, "real body")]
    out = {r.doc_id: r for r in line_dedup(_docs(spark, one_null), min_df=2).collect()}
    assert set(out) == {1, 2}
    assert out[1].text == "" and (out[1].n_lines, out[1].n_kept) == (1, 1)

    many_null = [(1, None), (2, None), (3, "real body")]
    out2 = {
        r.doc_id: r for r in line_dedup(_docs(spark, many_null), min_df=2).collect()
    }
    # the '' line now crosses min_df -> both null docs are all-boilerplate
    assert set(out2) == {3}


def test_pii_stats_redact_fusion_matches_standalone(spark):
    """pii_stats(redact=True) == pii_stats() join redact_pii(), column for
    column — the r7 fused detect+release scan changes the plan (one pass),
    never the values."""
    from exon_spark.operators import pii_stats, redact_pii

    rows = [
        (1, "mail a@b.co and c.d+x@e.org phone (555) 123-4567"),
        (2, "ssn 123-45-6789 at 10.0.0.1 and 999-88-7777"),
        (3, "clean text"),
        (4, "overlap 555-123-4567 then 1.2.3.4 via bob@corp.example"),
    ]
    df = _docs(spark, rows)
    fused = {r.doc_id: r for r in pii_stats(df, redact=True).collect()}
    stats = {r.doc_id: r for r in pii_stats(df).collect()}
    red = {r.doc_id: r for r in redact_pii(df).collect()}
    assert set(fused) == set(stats) == set(red)
    for i in fused:
        for c in ("n_emails", "n_phones", "n_ssns", "n_ips", "has_pii"):
            assert fused[i][c] == stats[i][c], (i, c)
        assert fused[i].text == red[i].text, i
        assert fused[i].n_redactions == red[i].n_redactions, i
    assert fused[4].text == "overlap <PHONE> then <IP> via <EMAIL>"


# ------------------------------------- r8: deterministic_shuffle gate pins

def test_deterministic_shuffle_properties(spark):
    """Keyed permutation contract: layout-independent determinism, dense
    1..k positions per shard, every row assigned, salt independence."""
    from exon_spark.operators.sampling import deterministic_shuffle

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    a = sorted(map(tuple, deterministic_shuffle(df, 8, salt="s1").collect()))
    b = sorted(
        map(
            tuple,
            deterministic_shuffle(df.repartition(13, "text"), 8, salt="s1").collect(),
        )
    )
    assert a == b  # bit-identical under any input partitioning

    assert len(a) == 200 and len({t[0] for t in a}) == 200
    by_shard = {}
    for doc_id, shard, pos in a:
        assert 0 <= shard < 8
        by_shard.setdefault(shard, []).append(pos)
    # dense 1..k within every shard, no gaps or dups
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # hash balance: 200 rows over 8 shards, no shard empty or hoarding
    sizes = sorted(len(v) for v in by_shard.values())
    assert len(by_shard) == 8 and sizes[0] >= 5

    c = sorted(map(tuple, deterministic_shuffle(df, 8, salt="s2").collect()))
    assert c != a  # a different salt is a different permutation
    assert {t[0] for t in c} == {t[0] for t in a}  # ...of the same rows

    one = deterministic_shuffle(df, 1).collect()
    assert sorted(r.pos for r in one) == list(range(1, 201))
    assert {r.shard for r in one} == {0}


def test_deterministic_shuffle_null_id_raises(spark):
    """A null key has no identity: raise loudly instead of funneling every
    null row into one silent skew shard."""
    import pytest
    from exon_spark.operators.sampling import deterministic_shuffle

    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="null doc_id"):
        deterministic_shuffle(df, 4).collect()


def test_line_dedup_randomized_python_oracle_parity(spark):
    """Seeded random corpus with a deliberately tiny line vocabulary (so
    cross-doc collisions are dense and min_df interacts with every doc)
    checked row-for-row against an independent pure-Python oracle."""
    import random

    from exon_spark.operators import line_dedup

    rng = random.Random(0xE805)
    vocab = [f"line {i}" for i in range(30)] + ["", "  ", "dup dup"]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(80)
    ]

    def oracle(docs, min_df):
        df_count = {}
        for _, text in docs:
            for ln in set(text.split("\n")):
                df_count[ln] = df_count.get(ln, 0) + 1
        hot = {ln for ln, c in df_count.items() if c >= min_df}
        out = {}
        for doc_id, text in docs:
            lines = text.split("\n")
            kept = [ln for ln in lines if ln not in hot]
            if kept:
                out[doc_id] = ("\n".join(kept), len(lines), len(kept))
        return out

    for min_df in (2, 5):
        got = {
            r.doc_id: (r.text, r.n_lines, r.n_kept)
            for r in line_dedup(_docs(spark, rows), min_df=min_df).collect()
        }
        assert got == oracle(rows, min_df), min_df


def test_write_training_shards_roundtrip(spark, tmp_path):
    """Sink half of deterministic_shuffle: one shard=<k>/ dir per shard,
    rows inside each file in pos order (no second sort inserted by the
    writer), membership/order identical to the assignment triple."""
    from exon_spark.operators.sampling import (
        deterministic_shuffle,
        write_training_shards,
    )

    rows = [(i, f"doc {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, n_shards=4, salt="e1")

    back = spark.read.parquet(path)
    expect = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, 4, salt="e1").collect()
    }
    got = {r.doc_id: (r.shard, r.pos) for r in back.collect()}
    assert got == expect
    assert {r.text for r in back.collect()} == {t for _, t in rows}  # payload rides

    # per-shard files preserve pos order: read each shard dir's parquet
    # WITHOUT spark (pyarrow keeps file row order) and check monotone pos
    import os

    import pyarrow.parquet as pq

    shard_dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert len(shard_dirs) == 4
    for d in shard_dirs:
        parts = [
            pq.read_table(os.path.join(path, d, f))
            for f in sorted(os.listdir(os.path.join(path, d)))
            if f.endswith(".parquet")
        ]
        pos = [p for t in parts for p in t.column("pos").to_pylist()]
        assert pos == sorted(pos) and sorted(pos) == list(range(1, len(pos) + 1)), d


def test_write_training_shards_guards(spark, tmp_path):
    """Input-shape hazards raise or heal: duplicate ids abort before any
    write (the join would fan out silently); pre-existing shard/pos
    payload columns (re-permuting a previous export) are dropped and
    recomputed instead of colliding."""
    import pytest

    from exon_spark.operators.sampling import (
        deterministic_shuffle,
        write_training_shards,
    )

    dup_df = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        write_training_shards(dup_df, str(tmp_path / "x"), n_shards=2)

    # re-permute a previous export: read-back carries shard/pos already
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(60)], "doc_id bigint, text string"
    )
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    write_training_shards(df, p1, n_shards=3, salt="e1")
    back1 = spark.read.parquet(p1)
    write_training_shards(back1, p2, n_shards=3, salt="e2")
    back2 = spark.read.parquet(p2)
    expect = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, 3, salt="e2").collect()
    }
    assert {r.doc_id: (r.shard, r.pos) for r in back2.collect()} == expect


def test_assign_cluster_udf_nonfinite_centroid_raises():
    """A NaN centroid component gives a NaN norm — truthy, so the
    zero-norm check alone would pass it and argmax would silently emit
    cluster 0 for every row."""
    import pytest

    from exon_spark.operators.similarity import _assign_cluster_udf

    with pytest.raises(ArithmeticError, match="non-finite"):
        _assign_cluster_udf([(0, [float("nan"), 1.0]), (1, [1.0, 0.0])])


# --------------------------------------- r8: duplicated-span removal pins

def test_remove_dup_spans_keeper_semantics(spark):
    """Keep-one-copy: the smallest doc_id sharing a duplicated n-gram
    keeps its span; every other sharer loses the covered positions. A doc
    that IS entirely a shared span empties to ''. Matching is
    case-insensitive, reassembly keeps the original case."""
    from exon_spark.operators import remove_dup_spans

    shared = "a b c d"  # the duplicated 4-gram (n=4)
    rows = [
        (1, f"one unique lead {shared} tail1"),
        (2, f"TWO opens {shared.upper()} then continues two"),
        (3, shared),  # entirely the shared span
        (4, "completely unrelated text here"),
    ]
    out = {
        r.doc_id: r for r in remove_dup_spans(_docs(spark, rows), n=4).collect()
    }
    # doc 1 is the keeper (min id): everything survives, original case
    assert out[1].text == "one unique lead a b c d tail1"
    assert out[1].n_removed == 0
    # doc 2 loses the 4 covered positions, keeps its own tokens' case
    assert out[2].text == "TWO opens then continues two"
    assert (out[2].n_toks, out[2].n_removed) == (9, 4)
    # doc 3: all 4 tokens were the shared span -> empty text, kept as a row
    assert out[3].text == "" and out[3].n_removed == 4
    assert out[4].text == "completely unrelated text here"
    assert out[4].n_removed == 0


def test_remove_dup_spans_fused_and_knob_parity(spark):
    """The standalone wrapper equals the fused dup_ngram_coverage
    (remove=True) selection; the hashed-key regime is value-identical;
    max_gram_df exempts viral grams from removal too."""
    from exon_spark.operators import dup_ngram_coverage, regime, remove_dup_spans

    shared = "p q r s"
    rows = [(i, f"doc{i} body {shared} end{i}") for i in range(1, 6)] + [
        (9, "no overlap at all here")
    ]
    df = _docs(spark, rows)
    stand = sorted(map(tuple, remove_dup_spans(df, n=4).collect()))
    fused = sorted(
        map(
            tuple,
            dup_ngram_coverage(df, n=4, remove=True)
            .select("doc_id", "text", "n_toks", "n_removed")
            .collect(),
        )
    )
    hashed = sorted(
        map(
            tuple,
            dup_ngram_coverage(
                df, n=4, remove=True, n_rows=regime.FLOORS["hashed_grams"] + 1
            )
            .select("doc_id", "text", "n_toks", "n_removed")
            .collect(),
        )
    )
    assert stand == fused == hashed
    # the shared gram sits in 5 docs; capping df at 4 exempts it entirely
    capped = {
        r.doc_id: r
        for r in remove_dup_spans(df, n=4, max_gram_df=4).collect()
    }
    assert all(r.n_removed == 0 for r in capped.values())
    # and coverage stats still agree with the stats-only spelling
    stats_only = sorted(
        map(tuple, dup_ngram_coverage(df, n=4).collect())
    )
    stats_fused = sorted(
        map(
            tuple,
            dup_ngram_coverage(df, n=4, remove=True)
            .select(
                "doc_id", "n_toks", "n_dup_ngrams", "covered_tokens", "covered_frac"
            )
            .collect(),
        )
    )
    assert stats_only == stats_fused


# ------------------------------------- r8: dsir_weights gate pins (q42 fused)

def test_dsir_weights_python_oracle_parity(spark):
    """Pure-Python mirror of the hashed-ngram importance weight (same md5
    h32 bucketing, same Laplace smoothing) on a seeded random corpus —
    pins the math independently of the DuckDB gate."""
    import hashlib
    import math
    import random
    import re as _re

    from exon_spark.operators import dsir_weights

    rng = random.Random(0xD518)
    spark_words = ["spark", "sql", "query", "engine", "shuffle", "join"]
    fruit_words = ["banana", "apple", "fruit", "salad", "pear", "melon"]
    rows = []
    for i in range(60):
        vocab = spark_words if i % 2 == 0 else fruit_words
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 20)))))
    rows.append((60, ""))  # featureless doc
    raw = _docs(spark, rows)
    target = _docs(
        spark, [(1000 + i, " ".join(rng.choice(spark_words) for _ in range(12))) for i in range(10)]
    )
    B, k = 512, 1.0

    def feats(text):
        toks = _re.split(r"\s+", text.lower().strip())
        grams = [t for t in toks if t != ""]
        if len(toks) >= 2:
            grams += [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
        return [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B for g in grams]

    # target / raw bucket counts + per-doc multiplicities
    ct = {}
    for r in target.collect():
        for b in feats(r.text):
            ct[b] = ct.get(b, 0) + 1
    cr, db = {}, {}
    for doc_id, text in rows:
        fs = feats(text)
        db[doc_id] = fs
        for b in fs:
            cr[b] = cr.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    lr = {
        b: round(
            math.log((ct.get(b, 0) + k) / (tt + k * B))
            - math.log((cr.get(b, 0) + k) / (tr + k * B)),
            6,
        )
        for b in set(ct) | set(cr)
    }
    exp = {
        doc_id: (len(fs), round(sum(lr[b] for b in fs), 4))
        for doc_id, fs in db.items()
    }

    got = {
        r.doc_id: (r.n_feats, r.dsir_w)
        for r in dsir_weights(raw, target, buckets=B).collect()
    }
    assert set(got) == set(exp)
    for doc_id in exp:
        assert got[doc_id][0] == exp[doc_id][0], doc_id
        assert abs(got[doc_id][1] - exp[doc_id][1]) < 1e-3, (
            doc_id, got[doc_id], exp[doc_id],
        )
    assert got[60] == (0, 0.0)  # empty doc: zero features, weight 0

    # in-domain raw docs must outscore out-of-domain ones on average
    in_dom = [w for d, (_, w) in got.items() if d < 60 and d % 2 == 0]
    out_dom = [w for d, (_, w) in got.items() if d < 60 and d % 2 == 1]
    assert sum(in_dom) / len(in_dom) > sum(out_dom) / len(out_dom) + 1.0


def test_dsir_weights_determinism_and_gumbel(spark):
    from exon_spark.operators import dsir_weights

    rows = [(i, f"alpha beta gamma delta {i % 7}") for i in range(50)]
    raw = _docs(spark, rows)
    tgt = _docs(spark, [(100, "alpha beta alpha beta")])

    a = sorted(map(tuple, dsir_weights(raw, tgt, buckets=64).collect()))
    b = sorted(
        map(tuple, dsir_weights(raw.repartition(13, "text"), tgt, buckets=64).collect())
    )
    assert a == b  # layout-independent
    assert [len(t) for t in a[:1]] == [3]  # no gumbel column without salt

    g1 = sorted(map(tuple, dsir_weights(raw, tgt, buckets=64, gumbel_salt="e0").collect()))
    g2 = sorted(map(tuple, dsir_weights(raw, tgt, buckets=64, gumbel_salt="e0").collect()))
    g3 = sorted(map(tuple, dsir_weights(raw, tgt, buckets=64, gumbel_salt="e1").collect()))
    assert g1 == g2  # same salt: bit-stable resampling key
    assert [t[:3] for t in g3] == [t[:3] for t in g1]  # weights unchanged
    assert [t[3] for t in g3] != [t[3] for t in g1]  # keys re-drawn

    import pytest

    with pytest.raises(ValueError, match="buckets"):
        dsir_weights(raw, tgt, buckets=1)
    with pytest.raises(ValueError, match="smoothing"):
        dsir_weights(raw, tgt, smoothing=0.0)


# ------------------------------------- r8: normalize_text

def test_normalize_text_cleanup_and_changed_flag(spark):
    from exon_spark.operators import normalize_text

    rows = [
        (1, "already clean"),
        (2, "ctrl\x00chars\x1fhere"),
        (3, "smart ‘quotes’ and “more” – dash … nbsp end"),
        (4, "win\r\nlines\rhere"),
        (5, "  runs \t of   space  \n  indented line  "),
        (6, None),
        (7, "zero​width﻿gone"),
    ]
    got = {
        r.doc_id: (r.text, r.changed)
        for r in normalize_text(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        ).collect()
    }
    assert got[1] == ("already clean", False)
    assert got[2] == ("ctrlcharshere", True)
    assert got[3] == ("smart 'quotes' and \"more\" - dash ... nbsp end", True)
    assert got[4] == ("win\nlines\nhere", True)
    assert got[5] == ("runs of space\nindented line", True)
    assert got[6] == (None, False)
    assert got[7] == ("zerowidthgone", True)

    # idempotence: a second pass changes nothing
    out2 = normalize_text(
        spark.createDataFrame(
            [(k, v[0]) for k, v in got.items()], "doc_id bigint, text string"
        )
    ).collect()
    assert all(not r.changed for r in out2)


def test_normalize_text_nfc_duckdb_oracle_parity(spark):
    """form='NFC' must agree with DuckDB's nfc_normalize on composed vs
    decomposed forms (both implement UAX #15)."""
    import duckdb

    from exon_spark.operators import normalize_text

    rows = [
        (1, "café"),            # composed é
        (2, "café"),           # decomposed e + combining acute
        (3, "Ångström"),  # decomposed Å
        (4, "プロ"),         # katakana (NFC-stable)
    ]
    got = {
        r.doc_id: r.text
        for r in normalize_text(
            spark.createDataFrame(rows, "doc_id bigint, text string"),
            form="NFC",
            unify_punct=False,
        ).collect()
    }
    con = duckdb.connect()
    for doc_id, text in rows:
        (exp,) = con.execute("select nfc_normalize(?)", [text]).fetchone()
        assert got[doc_id] == exp, doc_id
    assert got[1] == got[2] == "café"

    import pytest

    with pytest.raises(ValueError, match="form"):
        normalize_text(
            spark.createDataFrame(rows, "doc_id bigint, text string"),
            form="nfc",
        )


def test_normalize_text_jvm_only_plan(spark):
    """With form=None the operator is pure Column expressions — no Python
    workers anywhere in the plan, and the chain is evaluated once (the
    Generate barrier feeds both the text and the changed flag)."""
    from exon_spark.operators import normalize_text

    df = spark.createDataFrame([(1, "x  y")], "doc_id bigint, text string")
    plan = (
        normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "Generate" in plan


# ------------------------------------- r8: bigram_logppl


def test_bigram_logppl_hand_computed(spark):
    """Exact parity with a pure-Python reimplementation of the formula on
    a corpus with repeated, one-context, and sub-2-token docs."""
    from collections import Counter
    from decimal import Decimal

    from exon_spark.operators import bigram_logppl

    corpus = {
        1: "a b a b c",
        2: "a b",
        3: "solo",       # 1 token: no bigram positions -> absent
        4: "c a q c a",  # rare token q: unigram term matters
    }
    out = {
        r.doc_id: r
        for r in bigram_logppl(
            _docs(spark, list(corpus.items()))
        ).collect()
    }
    toks = {d: t.split() for d, t in corpus.items()}
    uni, big = Counter(), Counter()
    for t in toks.values():
        uni.update(t)
        big.update(zip(t, t[1:]))
    n_corpus = sum(uni.values())
    ctx = Counter()
    for (p, _c), n in big.items():
        ctx[p] += n
    for d, t in toks.items():
        ps = list(zip(t, t[1:]))
        if not ps:
            assert d not in out
            continue
        nlls = [
            round(
                -math.log(
                    0.9 * (big[pc] / ctx[pc[0]])
                    + (1 - 0.9) * (uni[pc[1]] / n_corpus)
                ),
                6,
            )
            for pc in ps
        ]
        s = sum(Decimal(str(v)) for v in nlls)
        assert out[d].n_bigrams == len(ps)
        assert out[d].logppl2 == round(float(s) / len(ps), 4), d


def test_bigram_logppl_partitioning_invariant(spark):
    """Rounded-decimal discipline: bit-identical result at any input
    partitioning (the repo's determinism bar for oracle-gated scores)."""
    from exon_spark.operators import bigram_logppl

    rows = [(i, f"tok{i % 7} tok{(i * 3) % 5} tok{i % 7} end") for i in range(40)]
    a = sorted(
        bigram_logppl(_docs(spark, rows).repartition(1)).collect()
    )
    b = sorted(
        bigram_logppl(_docs(spark, rows).repartition(13)).collect()
    )
    assert a == b


def test_bigram_logppl_model_side_python_only(spark):
    """No window; the token array is Generate-barriered so split() runs
    once per row; the ONLY Python is the single Arrow-batched _glibc_ln
    on the distinct-bigram model table (r11 oracle bit-parity) — never
    row-at-a-time, never more than once."""
    from exon_spark.operators import bigram_logppl

    df = _docs(spark, [(1, "x y z")])
    plan = bigram_logppl(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "Window" not in plan
    assert "Generate" in plan


def test_lm_ladder_model_joins_broadcast_pinned(spark):
    """The vocab-sized model tables (ctx, vocab) are broadcast-pinned —
    left to AQE, the ctx join re-shuffles the whole
    bigram-position fact side on `prev` (r8 verdict order #3). The big
    table is never pinned (its row count grows with the corpus)."""
    from exon_spark.operators import bigram_logppl, trigram_logppl

    df = _docs(spark, [(1, "a b a c a b"), (2, "b c a a b")])
    for fn in (bigram_logppl, trigram_logppl):
        plan = fn(df)._jdf.queryExecution().executedPlan().toString()
        # ctx + vocab hash joins pinned broadcast (total is the cross)
        assert plan.count("BroadcastHashJoin") >= 2, fn.__name__


def test_q52_short_docs_survive_with_null_rungs(spark, tmp_path):
    """A 1- or 2-token doc keeps its unigram row with NULL
    bigram/trigram columns (left-join semantics), and each rung's
    tertile is ranked over its own population (r8 advice,
    pipeline.py:1386)."""
    from exon_spark.queries.pipeline import _q52_spark

    rows = [
        (1, "alpha beta gamma delta", "en"),
        (2, "alpha beta gamma", "en"),
        (3, "alpha beta", "en"),   # no trigram positions
        (4, "alpha", "en"),        # no bigram or trigram positions
        (5, "beta gamma delta alpha beta", "en"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string, lang string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in _q52_spark(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # nobody vanishes
    assert out[4]["n_bigrams"] is None and out[4]["ppl2_bucket"] is None
    assert out[3]["n_bigrams"] == 1 and out[3]["n_trigrams"] is None
    assert out[3]["ppl3_bucket"] is None
    assert out[2]["n_trigrams"] == 1 and out[2]["ppl3_bucket"] is not None
    # unigram tertile still computed over ALL docs (ppl_buckets semantics)
    assert all(out[i]["ppl_bucket"] in ("head", "middle", "tail") for i in out)


def test_normalize_text_strip_html(spark):
    """strip_html: script/style/comment content removed wholesale,
    remaining tags stripped, common entities decoded, whitespace tidied
    by the standard collapse pass; idempotent on the cleaned output."""
    from exon_spark.operators import normalize_text

    rows = [
        (1, "<html><style>p { color: red }</style>"
            "<p>Hello &amp; welcome!</p><!-- c --><script>var x = '<p>';"
            "</script>Bye</html>"),
        (2, "a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp; b"),
        (3, "no markup"),
        (4, "<SCRIPT TYPE='text/js'>multi\nline\n</script >after"),
        (5, "&#x26;amp; double-encoded"),
    ]

    def run(df):
        return {
            r.doc_id: (r.text, r.changed)
            for r in normalize_text(df, strip_html=True).collect()
        }

    got = run(spark.createDataFrame(rows, "doc_id bigint, text string"))
    assert got[1] == ("Hello & welcome! Bye", True)
    assert got[2] == ('a <tag> "q" \'s\' b', True)
    assert got[3] == ("no markup", False)
    # case-insensitive tag match, attributes, multiline block, spaced close
    assert got[4] == ("after", True)
    # single-pass decode: &#x26;amp; -> "&amp;" and STOPS (no double decode)
    assert got[5] == ("&amp; double-encoded", True)
    # idempotence on already-clean text free of markup-meaningful chars —
    # decoded &lt;tag&gt; intentionally looks like a tag to a second pass
    # and &#x26;amp; stays one decode behind (single-pass, no double
    # decode), so outputs holding < or & legitimately change again
    again = run(
        spark.createDataFrame(
            [
                (d, t)
                for d, (t, _c) in got.items()
                if "<" not in t and "&" not in t
            ],
            "doc_id bigint, text string",
        )
    )
    assert all(not c for _t, c in again.values())
    # off by default: tags pass through
    kept = {
        r.doc_id: r.text
        for r in normalize_text(
            spark.createDataFrame(rows[:1], "doc_id bigint, text string")
        ).collect()
    }
    assert "<html>" in kept[1]


def test_corpus_stats_hand_computed(spark):
    from exon_spark.operators import corpus_stats

    rows = [
        (1, "a b c", "en"),
        (2, "d e", "en"),
        (3, "f g h i", "en"),
        (4, "x", "de"),
        (5, None, "de"),
        (6, "   ", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r["lang"]: r for r in corpus_stats(df).collect()}
    en, de = out["en"], out["de"]
    assert (en["n_docs"], en["n_tokens"], en["n_chars"]) == (3, 9, 15)
    assert en["avg_tokens"] == 3.0
    assert en["p50_tokens"] == 3.0  # exact median of [2,3,4]
    assert en["p95_tokens"] == pytest.approx(3.9)  # linear interp
    # null/whitespace text -> 0-token docs that still count
    assert (de["n_docs"], de["n_tokens"]) == (3, 1)
    assert de["p50_tokens"] == 0.0


def test_corpus_stats_duckdb_oracle_parity(spark):
    import random

    import duckdb

    from exon_spark.operators import corpus_stats

    rng = random.Random(41)
    rows = [
        (
            i,
            " ".join("tok%d" % rng.randint(0, 30) for _ in range(rng.randint(1, 40))),
            rng.choice(["en", "de", "fr"]),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = sorted(
        (
            r["lang"],
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["avg_tokens"],
            r["p50_tokens"],
            r["p95_tokens"],
        )
        for r in corpus_stats(df).collect()
    )
    con = duckdb.connect()
    con.execute("create table d (doc_id bigint, text varchar, lang varchar)")
    con.executemany("insert into d values (?, ?, ?)", rows)
    exp = sorted(
        tuple(x)
        for x in con.execute(
            """
            with p as (
              select lang,
                     len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '')) as nt,
                     length(text) as nc
              from d
            )
            select lang, count(*) as n_docs, sum(nt) as n_tokens,
                   sum(nc) as n_chars,
                   floor(cast(sum(nt) as double) / cast(count(*) as double)
                         * 1000000.0 + 0.5) / 1000000.0 as avg_tokens,
                   quantile_cont(nt, 0.5) as p50, quantile_cont(nt, 0.95) as p95
            from p group by lang
            """
        ).fetchall()
    )
    assert got == exp


def test_trigram_logppl_hand_computed(spark):
    """Exact parity with a pure-Python reimplementation of the recursive
    Jelinek-Mercer formula on a corpus with repeated, one-context, and
    sub-3-token docs."""
    from collections import Counter
    from decimal import Decimal

    from exon_spark.operators import trigram_logppl

    corpus = {
        1: "a b a b c a b",
        2: "a b c",
        3: "so lo",        # 2 tokens: no trigram positions -> absent
        4: "c a q c a b",  # rare token q exercises the unigram backoff
    }
    out = {
        r.doc_id: r
        for r in trigram_logppl(_docs(spark, list(corpus.items()))).collect()
    }
    toks = {d: t.split() for d, t in corpus.items()}
    uni, big, tri = Counter(), Counter(), Counter()
    for t in toks.values():
        uni.update(t)
        big.update(zip(t, t[1:]))
        tri.update(zip(t, t[1:], t[2:]))
    n_corpus = sum(uni.values())
    ctx = Counter()
    for (p, _c), n in big.items():
        ctx[p] += n
    ctx3 = Counter()
    for (p2, p1, _c), n in tri.items():
        ctx3[(p2, p1)] += n
    lam2, lam1 = 0.7, 0.9
    for d, t in toks.items():
        ps = list(zip(t, t[1:], t[2:]))
        if not ps:
            assert d not in out
            continue
        nlls = []
        for p2, p1, cur in ps:
            p1_term = lam1 * (big[(p1, cur)] / ctx[p1]) + (1 - lam1) * (
                uni[cur] / n_corpus
            )
            p = lam2 * (tri[(p2, p1, cur)] / ctx3[(p2, p1)]) + (1 - lam2) * p1_term
            nlls.append(round(-math.log(p), 6))
        s = sum(Decimal(str(v)) for v in nlls)
        assert out[d].n_trigrams == len(ps)
        assert out[d].logppl3 == round(float(s) / len(ps), 4), d


def test_trigram_logppl_partitioning_invariant(spark):
    from exon_spark.operators import trigram_logppl

    rows = [(i, "the cat sat on the mat and the cat ran " * (1 + i % 3)) for i in range(40)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, trigram_logppl(df).collect()))
    b = sorted(map(tuple, trigram_logppl(df.repartition(7)).collect()))
    assert a == b


def test_trigram_logppl_model_side_python_only(spark):
    from exon_spark.operators import trigram_logppl

    df = _docs(spark, [(1, "a b c d"), (2, "b c d e")])
    plan = trigram_logppl(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_glibc_ln_matches_duckdb():
    """The premise of _glibc_ln (r11): DuckDB's ln and CPython's
    math.log call the same system libm, so they agree bit-for-bit on
    the LM ladder's input domain (count ratios and JM mixtures). JVM
    Math.log does NOT hold this property (the q52 sf10 last-ulp row)."""
    import math
    import random
    import struct

    import duckdb
    import pyarrow as pa

    random.seed(11)
    N = 48_123_457
    xs = [random.randint(1, 2_000_000) / N for _ in range(200_000)]
    xs += [
        0.9 * (random.randint(1, 500) / random.randint(500, 5000))
        + 0.1 * (random.randint(1, 2_000_000) / N)
        for _ in range(200_000)
    ]
    con = duckdb.connect()
    con.register("xs", pa.table({"x": pa.array(xs, pa.float64())}))
    rows = con.execute("select x, ln(x) from xs").fetchall()
    bad = [
        x
        for x, v in rows
        if struct.pack("d", v) != struct.pack("d", math.log(x))
    ]
    assert not bad, f"{len(bad)} libm mismatches, first: {bad[:3]}"


def test_compression_signals_zlib_oracle(spark):
    import zlib

    from exon_spark.operators import compression_signals

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, None),
        (4, ""),
        (5, "héllo wörld ünïcode"),
    ]
    got = {
        r["doc_id"]: r
        for r in compression_signals(_docs(spark, rows)).collect()
    }
    for doc_id, text in rows:
        r = got[doc_id]
        if not text:
            assert r["raw_len"] == 0 and r["zlib_len"] == 0
            assert r["compression_ratio"] is None
        else:
            b = text.encode("utf-8")
            assert r["raw_len"] == len(b)
            assert r["zlib_len"] == len(zlib.compress(b, 6))
            assert r["compression_ratio"] == pytest.approx(
                len(zlib.compress(b, 6)) / len(b), abs=1e-6
            )
    # the signal separates repetitive from natural text
    assert (
        got[1]["compression_ratio"] < got[2]["compression_ratio"]
    )


def test_compression_signals_map_only_and_on_stream(spark, tmp_path):
    from exon_spark.operators import compression_signals

    docs = _docs(spark, [(1, "aaa bbb aaa"), (2, "xyz")])
    plan = (
        compression_signals(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    d = tmp_path / "comp_stream"
    docs.coalesce(1).write.parquet(str(d))
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        str(d)
    )
    q = (
        compression_signals(stream)
        .writeStream.format("memory")
        .queryName("comp_sig")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("select * from comp_sig").collect()))
    exp = sorted(map(tuple, compression_signals(docs).collect()))
    assert got == exp


def test_keyword_tag_counts_and_oracle(spark):
    import duckdb

    from exon_spark.operators import keyword_tag

    rows = [
        (1, "Spark hash join beats sort merge JOIN"),
        (2, "nothing relevant here"),
        (3, None),
        (4, "join Join JOIN  extra   spaces"),
    ]
    df = _docs(spark, rows)
    tags = {"joins": ["join", "merge"], "engines": ["spark", "duckdb"]}
    got = {r["doc_id"]: r for r in keyword_tag(df, tags).collect()}
    # in-test DuckDB oracle on the same tokenization convention
    con = duckdb.connect()
    con.execute("create table d(doc_id bigint, text varchar)")
    con.executemany("insert into d values (?, ?)", rows)
    orc = con.execute("""
      select doc_id,
        len(list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))),'\\s+'),
                        t -> t in ('join','merge'))) as joins_hits,
        len(list_filter(regexp_split_to_array(lower(trim(coalesce(text,''))),'\\s+'),
                        t -> t in ('spark','duckdb'))) as engines_hits
      from d
    """).fetchall()
    for doc_id, jh, eh in orc:
        assert got[doc_id]["joins_hits"] == jh, doc_id
        assert got[doc_id]["engines_hits"] == eh, doc_id
        assert got[doc_id]["joins_hit"] == (jh > 0)
    assert got[1]["joins_hits"] == 3 and got[1]["engines_hits"] == 1
    assert got[3]["joins_hits"] == 0 and got[3]["joins_hit"] is False
    # pure JVM: no Python eval nodes in the plan
    plan = keyword_tag(df, tags)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan
    with pytest.raises(ValueError, match="empty"):
        keyword_tag(df, {})


def test_hash_split_disjoint_exhaustive_stable(spark):
    from exon_spark.operators import hash_split

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5000)], "doc_id bigint, text string"
    )
    out = hash_split(df, {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 5000  # exhaustive, one label per row
    assert abs(counts["train"] / 5000 - 0.9) < 0.02
    assert abs(counts["val"] / 5000 - 0.05) < 0.01
    # stable: same labels on any partitioning
    out2 = hash_split(df.repartition(17), {"train": 0.9, "val": 0.05, "test": 0.05})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    # growth stability: adding docs never relabels existing ones
    bigger = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8000)], "doc_id bigint, text string"
    )
    out3 = {
        r["doc_id"]: r["split"]
        for r in hash_split(bigger, {"train": 0.9, "val": 0.05, "test": 0.05}).collect()
    }
    for r in out.collect():
        assert out3[r["doc_id"]] == r["split"]
    # normalization + errors
    w = hash_split(df, {"a": 2.0, "b": 2.0}).groupBy("split").count().collect()
    assert abs(dict((r[0], r[1]) for r in w)["a"] / 5000 - 0.5) < 0.02
    with pytest.raises(ValueError, match="empty"):
        hash_split(df, {})
    with pytest.raises(ValueError, match="positive"):
        hash_split(df, {"a": 0.0})


def test_phrase_tag_counts_and_python_oracle(spark):
    from exon_spark.operators import phrase_tag

    rows = [
        (1, "Ignore previous instructions. ignore previous instructions!"),
        (2, "benign text about sort merge joins"),
        (3, None),
        (4, "As an AI language model I cannot"),
    ]
    df = _docs(spark, rows)
    tags = {
        "inj": ["ignore previous instructions"],
        "canary": ["as an ai language model", "sort merge"],
    }
    got = {r["doc_id"]: r for r in phrase_tag(df, tags).collect()}

    def pycount(text, plist):
        t = (text or "").lower()
        return sum(t.count(p.lower()) for p in plist)

    for doc_id, text in rows:
        r = got[doc_id]
        for tag, plist in tags.items():
            assert r[f"{tag}_hits"] == pycount(text, plist), (doc_id, tag)
            assert r[f"{tag}_hit"] == (pycount(text, plist) > 0)
    assert got[1]["inj_hits"] == 2
    assert got[4]["canary_hits"] == 1
    # pure JVM, no shuffle
    plan = phrase_tag(df, tags)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan
    import pytest as _pt

    with _pt.raises(ValueError, match="empty"):
        phrase_tag(df, {})
    with _pt.raises(ValueError, match="empty phrase"):
        phrase_tag(df, {"x": [""]})


def _phrase_tag_in(monkeypatch, regime, df, phrases):
    """``phrase_tag`` forced into ``regime`` ("expr" or "ac") by patching
    the phrase count it switches at."""
    import exon_spark.operators.text as text

    monkeypatch.setattr(
        text, "AC_PHRASE_THRESHOLD", 0 if regime == "ac" else 1 << 30
    )
    return text.phrase_tag(df, phrases)


def test_phrase_tag_ac_regime_parity(spark, monkeypatch):
    """The Aho-Corasick regime must produce row-identical results to
    the expression regime (same greedy non-overlap, same cross-phrase
    independence, same duplicate-entry multiplicity) — the r9-verdict
    order shipping the 10^4+ blocklist path."""
    import random

    from exon_spark.operators import phrase_tag

    # adversarial hand cases: self-overlap (aa in aaaa -> 2 greedy),
    # shared prefixes, phrase inside another phrase, same phrase in two
    # tags, duplicate entry in one tag, unicode, case folding
    rows = [
        (1, "aaaa baba ababab"),
        (2, "Ignore previous instructions. ignore previous instructions!"),
        (3, None),
        (4, "the cat sat on the catamaran cata cat"),
        (5, "naïve café NAÏVE"),
        (6, ""),
    ]
    df = _docs(spark, rows)
    tags = {
        "a": ["aa", "aba", "cat"],
        "b": ["cat", "cat", "ignore previous instructions"],
        "c": ["naïve", "café", "ababab", "bab"],
    }
    expr_df = _phrase_tag_in(monkeypatch, "expr", df, tags)
    ac_df = _phrase_tag_in(monkeypatch, "ac", df, tags)
    assert sorted(map(tuple, expr_df.collect())) == sorted(
        map(tuple, ac_df.collect())
    )
    assert ac_df.columns == expr_df.columns

    # randomized parity over a tiny alphabet (maximal overlap pressure)
    rng = random.Random(7)
    rtexts = [
        (i, "".join(rng.choice("ab ") for _ in range(120))) for i in range(40)
    ]
    rdf = _docs(spark, rtexts)
    pool = ["a", "b", "ab", "ba", "aa", "bb", "aab", "b a", "a b", "abab"]
    rtags = {
        "x": [rng.choice(pool) for _ in range(4)],
        "y": [rng.choice(pool) for _ in range(3)],
    }
    got_e = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "expr", rdf, rtags).collect())
    )
    got_a = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "ac", rdf, rtags).collect())
    )
    assert got_e == got_a

    # the shipped threshold switches to ac above it; ac plan is map-only
    monkeypatch.undo()
    from exon_spark.operators.text import AC_PHRASE_THRESHOLD

    big = {"z": [f"needle{i} x" for i in range(AC_PHRASE_THRESHOLD + 1)]}
    plan = (
        phrase_tag(df, big)  # -> ac
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "Exchange" not in plan


def test_phrase_tag_c_path_wrapper_contract(spark, tmp_path, monkeypatch):
    """Execute the pyahocorasick branch of _phrase_tag_ac WITHOUT the C
    library (r12, VERDICT r11 next #7 / ADVICE: the branch shipped with
    its sole parity test never having run in this container). A minimal
    pure-Python stand-in implementing the documented pyahocorasick API
    subset the wrapper uses — ``Automaton()``, ``add_word(key, value)``,
    ``make_automaton()``, ``iter(text)`` yielding ``(end_index, value)``
    for EVERY occurrence of every added word — is shipped to the
    executors via ``addPyFile``, so ``import ahocorasick`` inside the
    UDF resolves to it and the C-path code (automaton build + cache,
    iter-enumeration consumption, greedy per-pattern counting) actually
    executes. This proves the WRAPPER against the library's API
    contract; bit-parity with the real C extension still needs
    test_phrase_tag_c_automaton_parity on a host that has it.

    The stand-in stays importable by this session's workers afterwards
    (addPyFile is session-sticky) — harmless, because it is
    enumeration-exact: any later ac-regime call yields identical
    results either path."""
    stub = tmp_path / "ahocorasick.py"
    stub.write_text(
        '"""Test stand-in for the pyahocorasick public API (subset)."""\n'
        "TEST_STAND_IN = True\n"
        "class Automaton:\n"
        "    def __init__(self):\n"
        "        self._words = {}\n"
        "        self._ready = False\n"
        "    def add_word(self, key, value):\n"
        "        self._words[key] = value\n"
        "    def make_automaton(self):\n"
        "        self._ready = True\n"
        "    def iter(self, text):\n"
        "        assert self._ready\n"
        "        for i in range(len(text)):\n"
        "            for w, v in self._words.items():\n"
        "                if i + 1 >= len(w) and text[i - len(w) + 1 : i + 1] == w:\n"
        "                    yield (i, v)\n"
    )
    spark.sparkContext.addPyFile(str(stub))

    docs = spark.createDataFrame(
        [
            (1, "aa AAa aaaa self-overlap aa"),
            (2, "alpha beta alpha beta gamma"),
            (3, None),
            (4, "nested aba abab ababa cases"),
        ],
        "doc_id bigint, text string",
    )
    phrases = {
        "a": ["aa", "aaa"],
        "greek": ["alpha beta", "gamma", "beta"],
        "nest": ["aba", "ababa"],
    }
    got = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "ac", docs, phrases).collect())
    )
    exp = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "expr", docs, phrases).collect())
    )
    assert got == exp
    # prove the C-path branch actually ran (not the pure-Python fallback):
    # a worker-side import of the shipped stand-in must succeed
    probe = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("ahocorasick").__name__
    ).collect()
    assert probe == ["ahocorasick"]


def test_phrase_tag_c_automaton_parity(spark, monkeypatch):
    """Parity pin for the optional pyahocorasick C fast path inside
    _phrase_tag_ac (r11). Skipped when the library is absent (this
    container): the pure-Python automaton then serves the scan and is
    already parity-pinned against the expr regime above. The wrapper's
    consumption of the ahocorasick API contract is exercised even here
    by test_phrase_tag_c_path_wrapper_contract."""
    ahc = pytest.importorskip("ahocorasick")
    if getattr(ahc, "TEST_STAND_IN", False):
        pytest.skip(
            "only the wrapper-contract stand-in is importable (leaked into "
            "the driver path by addPyFile) — the REAL C extension is absent"
        )

    docs = spark.createDataFrame(
        [
            (1, "aa AAa aaaa self-overlap aa"),
            (2, "alpha beta alpha beta gamma"),
            (3, None),
            (4, "nested aba abab ababa cases"),
        ],
        "doc_id bigint, text string",
    )
    phrases = {
        "a": ["aa", "aaa"],
        "greek": ["alpha beta", "gamma", "beta"],
        "nest": ["aba", "ababa"],
    }
    got = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "ac", docs, phrases).collect())
    )
    exp = sorted(
        map(tuple, _phrase_tag_in(monkeypatch, "expr", docs, phrases).collect())
    )
    assert got == exp


def test_lm_ladder_matches_standalone_rungs(spark):
    """The shared-frame ladder must be BIT-equal to the three standalone
    rungs joined (integer micro-unit sums make sharing the fits exact by
    construction) — including the null bigram/trigram columns for short
    docs and absence of zero-token docs."""
    from exon_spark.operators import (
        bigram_logppl,
        lm_ladder,
        trigram_logppl,
        unigram_logppl,
    )

    rows = [
        (1, "the cat sat on the mat the cat"),
        (2, "the cat sat"),
        (3, "solo"),             # no bigrams/trigrams
        (4, "two words"),        # bigram, no trigram
        (5, None),               # absent from every rung
        (6, "the cat sat on the mat again and again and again"),
        (7, ""),                 # one empty token: unigram only
    ]
    df = _docs(spark, rows)
    uni = unigram_logppl(df)
    b2 = bigram_logppl(df)
    b3 = trigram_logppl(df)
    want = {
        r["doc_id"]: r.asDict()
        for r in uni.join(b2, "doc_id", "left")
        .join(b3, "doc_id", "left")
        .collect()
    }
    got = {r["doc_id"]: r.asDict() for r in lm_ladder(df).collect()}
    assert set(got) == set(want)
    for did in want:
        assert got[did] == want[did], (did, want[did], got[did])
