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
        map(tuple, dup_ngram_coverage(_docs(spark), n=3, hashed=False).collect())
    )
    parquet_docs.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("parquet footers size this input — count() must not run")
    )
    out = dup_ngram_coverage(parquet_docs, n=3)
    assert sorted(map(tuple, out.collect())) == base
