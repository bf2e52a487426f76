"""Unit tests for the hashed-NB quality classifier (fit + score): hand-
computed closed-form parity, unseen-bucket default odds, degenerate-class
guards, null/empty-text scoring, and the broadcast-join plan shape the
100 TB design depends on."""

from __future__ import annotations

import hashlib
import math
import uuid

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, label boolean")


def _streamed(spark, df, score, tmp_path):
    """Rows of ``score`` over ``df`` read back as a stream (append mode,
    memory sink), and the stream's physical plan: a streaming input takes
    the scorers' map-only udf spelling, a batch one the join spelling."""
    name = f"classify_stream_{uuid.uuid4().hex[:12]}"
    path = tmp_path / name
    df.coalesce(1).write.parquet(str(path))
    stream = spark.readStream.schema(df.schema).parquet(str(path))
    q = (
        score(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect(), q._jsq.explainInternal(False)


def _h32(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)


def _py_nb(rows, buckets, alpha):
    """Pure-Python closed-form NB reference (multiset counts)."""
    c1, c0 = {}, {}
    t1 = t0 = n1 = n0 = 0
    for _id, text, label in rows:
        toks = [t for t in (text or "").strip().lower().split() if t]
        if label:
            n1 += 1
        else:
            n0 += 1
        for t in toks:
            b = _h32(t) % buckets
            if label:
                c1[b] = c1.get(b, 0) + 1
                t1 += 1
            else:
                c0[b] = c0.get(b, 0) + 1
                t0 += 1
    d1, d0 = t1 + alpha * buckets, t0 + alpha * buckets
    model = {
        b: math.log((c1.get(b, 0) + alpha) / d1)
        - math.log((c0.get(b, 0) + alpha) / d0)
        for b in set(c1) | set(c0)
    }
    default = math.log(alpha / d1) - math.log(alpha / d0)
    prior = math.log(n1 / n0)

    def score(text):
        toks = [t for t in (text or "").strip().lower().split() if t]
        s = prior
        for t in toks:
            s += model.get(_h32(t) % buckets, default)
        return s, len(toks)

    return model, prior, default, score


SEED_ROWS = [
    (1, "good clean prose with signal tokens", True),
    (2, "good good crisp signal writing here", True),
    (3, "bad spam junk noise keyboard mash", False),
    (4, "bad bad spam spam repeated junk", False),
    (5, "neutral words shared across both good bad", True),
    (6, "neutral words shared across both good bad", False),
]


def test_nb_classifier_hand_computed_parity(spark):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    df = _docs(spark, SEED_ROWS)
    model, meta = nb_classifier_fit(df, buckets=4096)
    _pm, prior, default, score = _py_nb(SEED_ROWS, 4096, 1.0)
    assert meta["log_prior"] == pytest.approx(prior)
    assert meta["default_log_odds"] == pytest.approx(default)
    out = {
        r["doc_id"]: r
        for r in nb_classifier_score(df, model, meta).collect()
    }
    assert len(out) == len(SEED_ROWS)
    for doc_id, text, _label in SEED_ROWS:
        exp_s, exp_n = score(text)
        assert out[doc_id]["n_toks"] == exp_n
        assert out[doc_id]["nb_logodds"] == pytest.approx(
            round(exp_s, 6), abs=2e-6
        )
        assert out[doc_id]["nb_pass"] == (exp_s > 0)


def test_nb_classifier_separates_marked_classes(spark):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    rows = [
        (i, ("hq hq hq shared text" if i % 2 == 0 else "lq lq lq shared text"), i % 2 == 0)
        for i in range(40)
    ]
    df = _docs(spark, rows)
    model, meta = nb_classifier_fit(df)
    out = nb_classifier_score(df, model, meta).collect()
    for r in out:
        assert r["nb_pass"] == (r["doc_id"] % 2 == 0)


def test_nb_classifier_unseen_bucket_uses_default(spark):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    fit_df = _docs(spark, SEED_ROWS)
    model, meta = nb_classifier_fit(fit_df, buckets=4096)
    _pm, prior, default, _ = _py_nb(SEED_ROWS, 4096, 1.0)
    held_out = _docs(spark, [(99, "zzzunseen qqqunseen", None)])
    (r,) = nb_classifier_score(held_out, model, meta).collect()
    assert r["n_toks"] == 2
    assert r["nb_logodds"] == pytest.approx(
        round(prior + 2 * default, 6), abs=2e-6
    )


def test_nb_classifier_null_and_empty_text_keep_prior(spark):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    model, meta = nb_classifier_fit(_docs(spark, SEED_ROWS), buckets=4096)
    df = _docs(spark, [(7, None, None), (8, "   ", None)])
    out = {r["doc_id"]: r for r in nb_classifier_score(df, model, meta).collect()}
    for doc_id in (7, 8):
        assert out[doc_id]["n_toks"] == 0
        assert out[doc_id]["nb_logodds"] == pytest.approx(
            round(meta["log_prior"], 6), abs=2e-6
        )


def test_nb_classifier_single_class_raises(spark):
    from exon_spark.operators import nb_classifier_fit

    df = _docs(spark, [(1, "only positives here", True), (2, "more", True)])
    with pytest.raises(ValueError, match="both classes"):
        nb_classifier_fit(df)


def test_nb_classifier_partitioning_invariant(spark):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    df = _docs(spark, SEED_ROWS)
    base_model, base_meta = nb_classifier_fit(df, buckets=4096)
    base = sorted(
        nb_classifier_score(df, base_model, base_meta).collect()
    )
    spread = df.repartition(7)
    model, meta = nb_classifier_fit(spread, buckets=4096)
    out = sorted(nb_classifier_score(spread, model, meta).collect())
    assert base == out


def test_nb_classifier_score_plan_broadcasts_model(spark):
    """The corpus side must never shuffle for the model join — the plan
    the 100 TB apply stage depends on."""
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    df = _docs(spark, SEED_ROWS)
    model, meta = nb_classifier_fit(df, buckets=4096)
    plan = (
        nb_classifier_score(df, model, meta)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nb_classifier_score_regimes_agree(spark, tmp_path):
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    rows = SEED_ROWS + [(7, None, None), (8, "   ", None), (9, "zz unseen", None)]
    df = _docs(spark, rows)
    model, meta = nb_classifier_fit(_docs(spark, SEED_ROWS), buckets=4096)
    a = sorted(map(tuple, nb_classifier_score(df, model, meta).collect()))
    b = sorted(
        map(
            tuple,
            _streamed(
                spark, df, lambda s: nb_classifier_score(s, model, meta), tmp_path
            )[0],
        )
    )
    assert a == b


def test_nb_classifier_regimes_agree_on_unicode_whitespace(spark, tmp_path):
    """Java \\s is ASCII-only: NBSP/ideographic-space/NEL must be part of
    the token in BOTH regimes (r8 advice: the udf's str.split() used to
    split on them, diverging from fit-time features)."""
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    rows = SEED_ROWS + [
        (20, "good stuff", None),          # NBSP joins one token
        (21, "tab\tsplit vert\x0bsplit", None),  # ASCII \s DOES split
        (22, "wide　spacenel", None),  # ideographic + NEL join
        (23, "   ", None),                  # NBSP-only text
    ]
    df = _docs(spark, rows)
    model, meta = nb_classifier_fit(_docs(spark, SEED_ROWS), buckets=4096)
    a = sorted(map(tuple, nb_classifier_score(df, model, meta).collect()))
    b = sorted(
        map(
            tuple,
            _streamed(
                spark, df, lambda s: nb_classifier_score(s, model, meta), tmp_path
            )[0],
        )
    )
    assert a == b
    # and the NBSP doc really is ONE token under the shared tokenizer
    n = {r[0]: r[1] for r in b}
    assert n[20] == 1 and n[21] == 4 and n[22] == 1


def test_nb_classifier_udf_mode_runs_on_streams(spark, tmp_path):
    """A streaming input takes the map-only closure-LUT apply, so it runs
    on readStream in append mode (the join spelling's per-doc agg cannot)
    with batch-identical rows, and its plan has no Exchange."""
    from exon_spark.operators import nb_classifier_fit, nb_classifier_score

    batch = _docs(spark, SEED_ROWS)
    model, meta = nb_classifier_fit(batch, buckets=4096)
    got, plan = _streamed(
        spark, batch, lambda s: nb_classifier_score(s, model, meta), tmp_path
    )
    assert "ArrowEvalPython" in plan and "Exchange" not in plan
    exp = sorted(map(tuple, nb_classifier_score(batch, model, meta).collect()))
    assert sorted(map(tuple, got)) == exp


# --------------------------------------------------------------------------
# fastText-shape logistic classifier (r9-verdict order 6)
# --------------------------------------------------------------------------

LR_SEED_ROWS = [
    (1, "good clean prose with signal tokens flowing nicely", True),
    (2, "good crisp signal writing here with clean structure", True),
    (3, "clean prose good structure signal flowing text", True),
    (4, "bad spam junk noise keyboard mash zxqv", False),
    (5, "bad spam repeated junk noise mash garbage", False),
    (6, "junk noise spam keyboard garbage zxqv mash", False),
]


def _py_grams(text):
    """Python mirror of classify._gram_array (uni + word bigrams over
    the raw ASCII-whitespace token array, empties dropped)."""
    import re

    raw = re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower().strip(" "))
    bi = [f"{a} {b}" for a, b in zip(raw, raw[1:])]
    return [g for g in raw + bi if g != ""]


def test_logreg_score_matches_numpy_reference(spark, tmp_path):
    """With a hand-frozen model (no fit), both score regimes must equal
    a pure-Python sigmoid over mean-pooled hashed gram weights."""
    from exon_spark.operators import logreg_classifier_score

    buckets = 4096
    texts = [
        (1, "good clean prose", None),
        (2, "bad spam junk bad spam", None),
        (3, None, None),
        (4, "   ", None),
        (5, "solo", None),
    ]
    df = _docs(spark, texts)
    weights = {"good": 2.0, "bad": -1.5, "good clean": 0.75, "spam": -0.5}
    model_rows = [(_h32(g) % buckets, w) for g, w in weights.items()]
    model = spark.createDataFrame(model_rows, "bucket bigint, weight double")
    meta = {"intercept": 0.25, "buckets": buckets}
    lut = dict(model_rows)

    def ref(text):
        gs = _py_grams(text)
        margin = 0.25 + (
            sum(lut.get(_h32(g) % buckets, 0.0) for g in gs) / len(gs)
            if gs
            else 0.0
        )
        return (
            len(gs),
            round(1.0 / (1.0 + math.exp(-margin)), 6),
            margin > 0,
        )

    streamed, _ = _streamed(
        spark, df, lambda s: logreg_classifier_score(s, model, meta), tmp_path
    )
    batch = logreg_classifier_score(df, model, meta).collect()
    for mode, rows in (("join", batch), ("udf", streamed)):
        got = {
            r["doc_id"]: (r["n_feats"], r["lr_prob"], r["lr_pass"]) for r in rows
        }
        for doc_id, text, _ in texts:
            assert got[doc_id] == ref(text), (mode, doc_id)


def test_logreg_score_regimes_agree_on_extreme_margins(spark, tmp_path):
    """A hand-frozen model can push |margin| past 709, where bare
    math.exp overflows: the udf regime must saturate to 0.0/1.0 like
    the join regime's F.exp (inf -> prob 0), not crash the job."""
    from exon_spark.operators import logreg_classifier_score

    buckets = 4096
    df = _docs(
        spark,
        [(1, "doom", None), (2, "boom", None), (3, "plain words", None)],
    )
    model = spark.createDataFrame(
        [(_h32("doom") % buckets, -50000.0), (_h32("boom") % buckets, 50000.0)],
        "bucket bigint, weight double",
    )
    meta = {"intercept": 0.0, "buckets": buckets}
    streamed, _ = _streamed(
        spark, df, lambda s: logreg_classifier_score(s, model, meta), tmp_path
    )
    got = {
        mode: {
            r["doc_id"]: (r["n_feats"], r["lr_prob"], r["lr_pass"]) for r in rows
        }
        for mode, rows in (
            ("join", logreg_classifier_score(df, model, meta).collect()),
            ("udf", streamed),
        )
    }
    assert got["join"] == got["udf"]
    assert got["join"][1] == (1, 0.0, False)
    assert got["join"][2] == (1, 1.0, True)


def test_logreg_fit_separates_and_regimes_agree(spark, tmp_path):
    from exon_spark.operators import (
        logreg_classifier_fit,
        logreg_classifier_score,
    )

    df = _docs(spark, LR_SEED_ROWS)
    model, meta = logreg_classifier_fit(df, buckets=4096, max_iter=50)
    scored = {
        r["doc_id"]: r["lr_pass"]
        for r in logreg_classifier_score(df, model, meta).collect()
    }
    for doc_id, _, label in LR_SEED_ROWS:
        assert scored[doc_id] == label, doc_id
    # regimes identical row-for-row on held-out text incl. null/empty
    held = _docs(
        spark,
        [
            (10, "good signal prose", None),
            (11, "spam junk zxqv", None),
            (12, None, None),
            (13, "\tweird  spacing nbsp", None),
        ],
    )
    a = sorted(map(tuple, logreg_classifier_score(held, model, meta).collect()))
    b, _ = _streamed(
        spark, held, lambda s: logreg_classifier_score(s, model, meta), tmp_path
    )
    assert a == sorted(map(tuple, b))


def test_logreg_fit_single_class_raises(spark):
    from exon_spark.operators import logreg_classifier_fit

    df = _docs(spark, [(1, "only positives", True), (2, "more pos", True)])
    with pytest.raises(ValueError, match="both"):
        logreg_classifier_fit(df, buckets=1024)


def test_logreg_score_plan_broadcasts_model(spark, tmp_path):
    """Batch input: ONE BroadcastHashJoin on the model, no corpus-side
    rejoin; streaming input: map-only (no Exchange at all)."""
    from exon_spark.operators import (
        logreg_classifier_fit,
        logreg_classifier_score,
    )

    df = _docs(spark, LR_SEED_ROWS)
    model, meta = logreg_classifier_fit(df, buckets=4096, max_iter=20)
    plan = (
        logreg_classifier_score(df, model, meta)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") == 1
    _, uplan = _streamed(
        spark, df, lambda s: logreg_classifier_score(s, model, meta), tmp_path
    )
    assert "ArrowEvalPython" in uplan and "Exchange" not in uplan


def test_nb_lr_score_fused_matches_standalone_pair(spark):
    """The one-pass fused scorer must equal nb_classifier_score ⋈
    logreg_classifier_score column-for-column on every tokenization
    edge: null text, empty text, tab-led text (Java split's leading
    empty token), single-token docs (no bigrams), and unseen grams."""
    import pyspark.sql.functions as F

    from exon_spark.operators import (
        logreg_classifier_score,
        nb_classifier_fit,
        nb_classifier_score,
        nb_lr_score_fused,
    )
    from exon_spark.operators.classify import NB_BUCKETS

    rows = [
        (1, "aa bb aa cc", True),
        (2, "bb bb dd", False),
        (3, "", True),          # zero tokens: prior / intercept alone
        (4, None, False),       # null text
        (5, "\tledby tab", True),   # trim(' ') keeps the tab: leading ""
        (6, "solo", False),     # one token, zero bigrams
        (7, "zz qq zz qq zz", True),
    ]
    df = _docs(spark, rows)
    model, meta = nb_classifier_fit(df, label_col="label")
    lr_model = spark.createDataFrame(
        [(_h32("aa") % NB_BUCKETS, 1.5), (_h32("bb bb") % NB_BUCKETS, -2.0)],
        "bucket bigint, weight double",
    )
    lr_meta = {"intercept": -0.1, "buckets": NB_BUCKETS}
    want = {
        r["doc_id"]: r.asDict()
        for r in nb_classifier_score(df, model, meta)
        .join(logreg_classifier_score(df, lr_model, lr_meta), "doc_id")
        .collect()
    }
    got = {
        r["doc_id"]: r.asDict()
        for r in nb_lr_score_fused(df, model, meta, lr_model, lr_meta).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did] == want[did], (did, want[did], got[did])
    # plan shape: both model joins broadcast, no Python on the corpus side
    plan = nb_lr_score_fused(
        df, model, meta, lr_model, lr_meta
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
