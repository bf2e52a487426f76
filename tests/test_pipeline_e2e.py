"""End-to-end composition of the curation layer — the pipeline a real
training-data run chains: quality filter → language gate → near-dup
removal → benchmark decontamination → epoch mixing → sequence packing.

The per-operator oracles (q17-q46) prove each stage in isolation; this
test proves the stages COMPOSE: schemas line up stage to stage, filters
only ever shrink the doc set, the final packing covers exactly the
surviving docs, and the whole chain is deterministic under
repartitioning (no stage leaks partitioning- or RNG-dependence into the
next)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text", "lang", "source")
    )


def _run_pipeline(d):
    from exon_spark.operators import (
        decontaminate,
        dup_clusters,
        epoch_mix,
        lang_id,
        minhash_dedup,
        pack_sequences,
        quality_signals,
    )

    # 1. quality gate (Gopher-style repetition filters)
    q = quality_signals(d).filter("quality_pass").select("doc_id")
    d1 = d.join(q, "doc_id")

    # 2. language gate: keep docs the n-gram classifier calls English
    lang = lang_id(d1).filter(F.col("lang_guess") == "en").select("doc_id")
    d2 = d1.join(lang, "doc_id")

    # 3. near-dup removal: cluster minhash pairs, keep each cluster's min id
    pairs = minhash_dedup(d2, threshold=0.5)
    clusters = dup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    d3 = d2.join(drop, "doc_id", "left_anti")

    # 4. decontamination against a fake eval set (a sample of the corpus
    #    itself guarantees hits exist)
    bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    d4 = d3.join(
        decontaminate(d3, bench).filter("not contaminated").select("doc_id"),
        "doc_id",
    )

    # 5. epoch mixing to target source weights
    mixed = epoch_mix(
        d4, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, total_tokens=20_000
    )

    # 6. pack the kept docs (one copy each) into 512-token windows
    packed = pack_sequences(d4, seq_len=512, bucket_rows=32)
    return d1, d2, d3, d4, mixed, packed


def test_pipeline_stages_compose(spark, docs):
    d = docs
    d1, d2, d3, d4, mixed, packed = _run_pipeline(d)
    n0, n1, n2, n3, n4 = (x.count() for x in (d, d1, d2, d3, d4))
    # monotone shrink, and every stage keeps something at sf0.01
    assert n0 >= n1 >= n2 >= n3 >= n4 > 0
    # dedup actually dropped near-dups (the synthetic corpus plants them)
    assert n3 < n2
    # packing covers exactly the surviving docs, offsets within windows
    p = packed.toPandas()
    assert set(p.doc_id) == {r.doc_id for r in d4.select("doc_id").collect()}
    assert ((p.pack_offset >= 0) & (p.pack_offset < 512)).all()
    # every emitted mix row is a surviving doc
    assert mixed.join(d4, "doc_id", "left_anti").count() == 0


def test_pipeline_deterministic_under_repartition(spark, docs):
    _, _, _, d4a, mixa, packa = _run_pipeline(docs)
    _, _, _, d4b, mixb, packb = _run_pipeline(docs.repartition(7, "doc_id"))
    assert sorted(r.doc_id for r in d4a.select("doc_id").collect()) == sorted(
        r.doc_id for r in d4b.select("doc_id").collect()
    )
    assert sorted(map(tuple, mixa.collect())) == sorted(map(tuple, mixb.collect()))
    assert sorted(map(tuple, packa.collect())) == sorted(map(tuple, packb.collect()))


def _run_r8_pipeline(d):
    from exon_spark.operators import (
        bpe_segment,
        bpe_train,
        filter_funnel,
        line_dedup,
        nb_classifier_fit,
        nb_classifier_score,
        normalize_text,
    )

    # 1. normalize text (JVM-only cleanup; rejoin the metadata columns)
    d0 = normalize_text(d).select("doc_id", "text").join(
        d.select("doc_id", "lang", "source"), "doc_id"
    )

    # 2. model-based quality score (seeds: the 'en' slice)
    model, meta = nb_classifier_fit(
        d0.withColumn("label", F.col("lang") == "en")
    )
    d1 = d0.join(
        nb_classifier_score(d0, model, meta).select("doc_id", "nb_logodds"),
        "doc_id",
    )

    # 3. one-scan funnel: length gate + known-language gate
    kept, report = filter_funnel(
        d1,
        [
            ("min_chars", F.length("text") >= 50),
            ("lang_known", F.col("lang").isin("en", "de", "fr", "es", "zh")),
        ],
    )

    # 4. line-level boilerplate removal, then tokenizer induction +
    #    segmentation over the survivors
    deduped = line_dedup(kept, min_df=3)
    survivors = kept.join(deduped.select("doc_id"), "doc_id").select(
        "doc_id", "text"
    )
    merges = bpe_train(survivors, num_merges=30)
    seg = bpe_segment(survivors, merges)
    return d0, d1, kept, report, merges, seg


def test_pipeline_r8_stages_compose(spark, docs):
    d0, d1, kept, report, merges, seg = _run_r8_pipeline(docs)
    rep = report.orderBy("rule_idx").collect()
    n0 = d1.count()
    # funnel arithmetic closes: first n_in is the corpus, last n_out is kept
    assert rep[0]["n_in"] == n0
    assert rep[-1]["n_out"] == kept.count() > 0
    assert all(r["n_in"] - r["n_dropped"] == r["n_out"] for r in rep)
    # classifier column rode through the funnel
    assert "nb_logodds" in kept.columns
    # tokenizer learned real merges and every survivor segments
    assert len(merges) == 30
    s = seg.agg(
        F.count(F.lit(1)).alias("n"), F.min("n_bpe_tokens").alias("mn")
    ).collect()[0]
    assert s["n"] == kept.count() and s["mn"] > 0


def test_pipeline_r8_deterministic_under_repartition(spark, docs):
    _, _, kepta, _, mergesa, sega = _run_r8_pipeline(docs)
    _, _, keptb, _, mergesb, segb = _run_r8_pipeline(
        docs.repartition(7, "doc_id")
    )
    assert mergesa == mergesb
    assert sorted(r.doc_id for r in kepta.select("doc_id").collect()) == sorted(
        r.doc_id for r in keptb.select("doc_id").collect()
    )
    assert sorted(map(tuple, sega.collect())) == sorted(map(tuple, segb.collect()))


def _run_r9_pipeline(d):
    """The r9 ingestion-and-retrieval chain: bloom front door (drop
    exact texts already accepted) -> compressibility + keyword gates ->
    temperature mixing -> unigram segmentation of the mixed corpus;
    plus the retrieval side over embeddings: ivfpq encode + search."""
    from exon_spark.operators import (
        bloom_build,
        bloom_dedup_against,
        compression_signals,
        keyword_tag,
        temperature_mix,
        unigram_segment,
        unigram_train,
    )

    accepted = d.filter(F.col("doc_id") % 5 == 0)
    batch = d.filter(F.col("doc_id") % 5 != 0)
    bf = bloom_build(accepted)
    fresh = (
        bloom_dedup_against(batch, bf)
        .filter(~F.col("maybe_dup"))
        .drop("maybe_dup")
    )
    gated = (
        fresh.join(compression_signals(fresh).select(
            "doc_id", "compression_ratio"), "doc_id")
        .join(keyword_tag(fresh, {"ws": ["the", "a", "of"]}).select(
            "doc_id", "ws_hits"), "doc_id")
        .filter((F.col("compression_ratio") > 0.2) & (F.col("ws_hits") >= 0))
    )
    mixed = temperature_mix(gated, total_tokens=30_000, alpha=0.5)
    surv = gated.join(mixed.select("doc_id").distinct(), "doc_id")
    vocab = unigram_train(surv, vocab_size=80)
    seg = unigram_segment(surv, vocab)
    return fresh, gated, mixed, vocab, seg


def test_pipeline_r9_stages_compose(spark, docs):
    fresh, gated, mixed, vocab, seg = _run_r9_pipeline(docs)
    n_fresh, n_gated = fresh.count(), gated.count()
    # bloom front door only shrinks, gates only shrink
    assert 0 < n_gated <= n_fresh
    # every mixed doc is a gated doc; segmentation covers the survivors
    surv_ids = {r.doc_id for r in gated.select("doc_id").collect()}
    assert {r.doc_id for r in mixed.select("doc_id").collect()} <= surv_ids
    s = seg.agg(
        F.count(F.lit(1)).alias("n"), F.min("n_pieces").alias("mn")
    ).collect()[0]
    assert s["n"] > 0 and s["mn"] > 0
    assert len(vocab) >= 20


def test_pipeline_r9_deterministic_under_repartition(spark, docs):
    _, _, mixeda, vocaba, sega = _run_r9_pipeline(docs)
    _, _, mixedb, vocabb, segb = _run_r9_pipeline(docs.repartition(9, "doc_id"))
    assert vocaba == vocabb
    assert sorted(map(tuple, mixeda.collect())) == sorted(map(tuple, mixedb.collect()))
    assert sorted(map(tuple, sega.collect())) == sorted(map(tuple, segb.collect()))


def test_pipeline_r9_retrieval_side(spark):
    from exon_spark.operators import ivfpq_encode, ivfpq_fit, ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents, cb = ivfpq_fit(emb, n_cells=8, n_sub=16, k=32, pq_iters=4)
    enc = ivfpq_encode(emb, cents, cb)
    out = ivfpq_topk(enc, cents, cb, emb.orderBy("vec_id").limit(4), k=5, nprobe=3)
    assert out.count() == 20
    assert out.groupBy("q_id").count().where("count != 5").count() == 0


def test_staged_arms_regime(spark, monkeypatch):
    """r12 (VERDICT r11 next #2): fused multi-arm gates (q42, q36) stage
    their corpus-tokenizing arms sequentially above the stage_arms floor —
    result-invariant, and the size read comes from parquet footers
    (zero Spark jobs). Below the threshold the plan keeps concurrent
    arms (no InMemory/checkpoint scan of the ladder output)."""
    import exon_spark.queries.pipeline as pl
    from exon_spark.operators import regime

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert regime.rows(docs) == docs.count()
    base42 = sorted(map(tuple, pl._q42_spark(spark, sf).collect()))
    base36 = sorted(map(tuple, pl._q36_spark(spark, sf).collect()))
    monkeypatch.setitem(regime.FLOORS, "stage_arms", 1)
    assert sorted(map(tuple, pl._q42_spark(spark, sf).collect())) == base42
    assert sorted(map(tuple, pl._q36_spark(spark, sf).collect())) == base36
