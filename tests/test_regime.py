"""Size regimes (operators/regime.py): one row-count rule — caller hint,
else local parquet footers when every plan leaf is a local parquet scan,
else one labelled count — and one floor table for every size switch."""

from __future__ import annotations

import logging

import pytest

from exon_spark.operators import regime

ROWS = [
    (1, "a b c d e f g h"),
    (2, "a b c d e f g x"),
    (3, "m n o p q r s t"),
    (4, "m n o p q r s t"),
    (5, "z y x w v u t s"),
]


def _docs(spark, rows=ROWS):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture
def parquet_docs(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    _docs(spark).repartition(3).write.parquet(p)
    return spark.read.parquet(p)


def _jobs_in(spark, gid, fn):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
        return out, sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_parquet_frame_sized_from_footers_without_jobs(spark, parquet_docs):
    n, jobs = _jobs_in(spark, "regime_footers", lambda: regime.rows(parquet_docs))
    assert n == len(ROWS)
    assert jobs == []


def test_every_leaf_counts(spark, parquet_docs):
    """A self-union reads its files twice and a non-file leaf has no
    footer: both must be sized by what the plan produces, not by the
    distinct input files (which saw 5 rows in both frames below)."""
    assert regime.rows(parquet_docs.unionAll(parquet_docs)) == 2 * len(ROWS)
    mem = _docs(spark, [(100 + i, "w") for i in range(7)])
    mixed = parquet_docs.unionAll(mem)
    sc = spark.sparkContext
    seen = []
    real_count = mixed.count
    mixed.count = lambda: seen.append(  # type: ignore[method-assign]
        sc.getLocalProperty("spark.job.description")
    ) or real_count()
    assert regime.rows(mixed, op="probe") == len(ROWS) + 7
    assert seen == ["probe: regime row count"]
    assert sc.getLocalProperty("spark.job.description") is None
    assert regime.rows(mixed, n_rows=3) == 3


def test_in_memory_input_takes_scale_regime_through_count(
    spark, monkeypatch, caplog
):
    """An input without footers is counted, so it reaches the scale
    regime above the floor (it used to stay in the latency regime), and
    the scale output equals the latency output."""
    from exon_spark.operators import minhash_dedup

    latency = sorted(map(tuple, minhash_dedup(_docs(spark), n=3).collect()))
    assert latency, "fixture must plant at least one near-dup pair"
    monkeypatch.setitem(regime.FLOORS, "columnar", 2)
    caplog.set_level(logging.INFO, logger="exon_spark.regime")
    scale = sorted(map(tuple, minhash_dedup(_docs(spark), n=3).collect()))
    assert scale == latency
    assert [
        (r.operator, r.floor, r.rows, r.source, r.regime)
        for r in caplog.records
        if r.name == "exon_spark.regime"
    ] == [("minhash_dedup", "columnar", len(ROWS), "count", "scale")]


def test_dup_ngram_coverage_parquet_input_runs_no_count(spark, parquet_docs):
    from exon_spark.operators import dup_ngram_coverage

    base = sorted(
        map(tuple, dup_ngram_coverage(_docs(spark), n=3, n_rows=len(ROWS)).collect())
    )
    parquet_docs.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("parquet footers size this input — count() must not run")
    )
    out = dup_ngram_coverage(parquet_docs, n=3)
    assert sorted(map(tuple, out.collect())) == base


# an n_rows hint above every floor: each operator below takes its scale regime
_SCALE_ROWS = max(regime.FLOORS.values()) + 1


def _empty_vectors(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<float>")


def _empty_cosine_topk(spark, n_rows):
    from exon_spark.operators import cosine_topk

    e = _empty_vectors(spark)
    return cosine_topk(e, e, k=3, n_rows=n_rows)


def _empty_semantic_dedup(spark, n_rows):
    from exon_spark.operators import semantic_dedup

    return semantic_dedup(_empty_vectors(spark), n_clusters=4, n_rows=n_rows)


def _empty_text_op(name, **kw):
    def run(spark, n_rows):
        import exon_spark.operators as ops

        return getattr(ops, name)(_docs(spark, []), n_rows=n_rows, **kw)

    return run


_EMPTY_INPUT_OPS = {
    "cosine_topk": _empty_cosine_topk,
    "semantic_dedup": _empty_semantic_dedup,
    "minhash_dedup": _empty_text_op("minhash_dedup", n=3),
    "ngram_jaccard_pairs": _empty_text_op("ngram_jaccard_pairs", n=3),
    "ngram_containment_pairs": _empty_text_op("ngram_containment_pairs", n=3),
    "dup_ngram_coverage": _empty_text_op("dup_ngram_coverage", n=3),
    "tfidf_keywords": _empty_text_op("tfidf_keywords", k=2),
}


@pytest.mark.parametrize("op", sorted(_EMPTY_INPUT_OPS))
def test_empty_input_in_both_regimes(spark, op):
    """An empty input gives the same schema and no rows in the latency
    and the scale regime, each forced with ``n_rows``."""
    run = _EMPTY_INPUT_OPS[op]
    latency, scale = run(spark, 0), run(spark, _SCALE_ROWS)
    assert latency.schema == scale.schema
    assert latency.collect() == [] and scale.collect() == []


# Every operator parameter whose default is a bool or "auto", with why it
# stays. A plan choice belongs to regime.py (forced in tests with n_rows)
# or to the input; a new knob fails test_path_selector_census until it is
# listed here.
KEPT_SELECTORS = {
    # output contents or shape, not a plan choice
    ("normalize_text", "strip_control"),
    ("normalize_text", "collapse_ws"),
    ("normalize_text", "unify_punct"),
    ("normalize_text", "strip_html"),
    ("token_budget_cap", "approximate"),
    ("write_training_shards", "check_unique"),
    ("dup_ngram_coverage", "remove"),
    ("shingle_rows", "hashed"),
    ("embedding_cosine_dups", "band_bits"),
    ("quantize_embeddings", "keep_scale"),
    ("pii_stats", "redact"),
    # q48 sets it; False is the collision-exact spelling
    ("ngram_containment_pairs", "hashed"),
    # minhash_dedup passes its size regime
    ("jaccard_verify", "scale"),
}


def test_path_selector_census():
    import inspect

    import exon_spark.operators as ops

    found = set()
    for name in ops.__all__:
        fn = getattr(ops, name)
        if not inspect.isfunction(fn):
            continue
        for p in inspect.signature(fn).parameters.values():
            if isinstance(p.default, bool) or (
                isinstance(p.default, str) and p.default == "auto"
            ):
                found.add((name, p.name))
    assert found == KEPT_SELECTORS
