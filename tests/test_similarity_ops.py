"""IVF ANN, embedding-cosine dedup, and the vectorized VCF scan path."""

import os

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def test_cosine_topk_blas_regime_parity(spark):
    """r13 (VERDICT r12 #7): cosine_topk's scale regime (mapInPandas
    BLAS matmul + per-batch partial top-k, forced via n_rows) must emit
    row-identical (q_id, vec_id, score, rnk) to the expr regime,
    including the 6-dp rounding and the (score desc, vec_id asc)
    tie-break, on the deterministic embeddings fixture."""
    from exon_spark.operators import cosine_topk

    em = _emb(spark)
    q = em.filter(F.col("vec_id") < 8)
    expr = sorted(map(tuple, cosine_topk(em, q, k=5).collect()))
    blas = sorted(
        map(tuple, cosine_topk(em, q, k=5, n_rows=1 << 20).collect())
    )
    assert expr == blas
    # the scale plan actually crosses the Python boundary once
    plan = (
        cosine_topk(em, q, k=5, n_rows=1 << 20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    # no queries: both regimes return the same empty frame
    none = q.filter(F.lit(False))
    for n_rows in (None, 1 << 20):
        out = cosine_topk(em, none, k=5, n_rows=n_rows)
        assert out.collect() == []
        assert out.schema == cosine_topk(em, none, k=5).schema
    # string ids keep their type in both regimes
    sem = em.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    sq = sem.filter(F.col("vec_id").isin([f"v{i}" for i in range(8)]))
    s_expr = cosine_topk(sem, sq, k=5)
    s_blas = cosine_topk(sem, sq, k=5, n_rows=1 << 20)
    assert s_expr.schema == s_blas.schema
    assert sorted(map(tuple, s_expr.collect())) == sorted(
        map(tuple, s_blas.collect())
    )


def test_ivf_ann_topk(spark):
    from exon_spark.operators import cosine_topk, ivf_ann_topk

    em = _emb(spark)
    q = em.filter(F.col("vec_id") < 4)
    got = ivf_ann_topk(em, q, k=5, n_cells=8, nprobe=2)
    rows = got.collect()
    assert len(rows) == 4 * 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r.vec_id != q_id for r in rs)
    # probing 2 of 8 cells: every IVF hit must also appear in the exact
    # top-50 (sanity that cells contain genuinely similar vectors)
    exact = {
        (r.q_id, r.vec_id)
        for r in cosine_topk(em, q, k=50).collect()
    }
    hits = sum((r.q_id, r.vec_id) in exact for r in rows)
    assert hits >= len(rows) * 0.5


def test_lsh_ann_multiprobe_widens_candidates(spark):
    """probe_hamming=1 must return a superset of the exact-bucket scan's
    matches (the exact bucket is always among the probes) and, at a plane
    count where single-bucket candidate mass is sparse, strictly more —
    with 2000 vectors and 12 planes the exact bucket holds ~0.5 candidates
    per query while 13 probes hold ~6."""
    from exon_spark.operators import lsh_ann_topk

    em = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 16)
    r0 = {
        (r.q_id, r.vec_id)
        for r in lsh_ann_topk(em, q, k=50, n_planes=12).collect()
    }
    r1 = {
        (r.q_id, r.vec_id)
        for r in lsh_ann_topk(
            em, q, k=50, n_planes=12, probe_hamming=1
        ).collect()
    }
    assert r0 <= r1
    assert len(r1) > len(r0)


def test_ivf_kmeans_centroids(spark):
    """The k-means scale path: fitted centroids are unit-norm,
    deterministic across calls, and the ANN built on them keeps recall
    against the exact top-k."""
    from exon_spark.operators import cosine_topk, ivf_ann_topk, ivf_fit_centroids

    em = _emb(spark)
    c1 = ivf_fit_centroids(em, n_cells=8, sample_n=200, iters=5)
    c2 = ivf_fit_centroids(em, n_cells=8, sample_n=200, iters=5)
    assert c1 == c2  # deterministic sample + init
    import math

    for _cid, vec in c1:
        assert abs(math.sqrt(sum(x * x for x in vec)) - 1.0) < 1e-9
    q = em.filter(F.col("vec_id") < 4)
    rows = ivf_ann_topk(em, q, k=5, nprobe=3, centroids=c1).collect()
    assert len(rows) == 4 * 5
    exact = {(r.q_id, r.vec_id) for r in cosine_topk(em, q, k=50).collect()}
    hits = sum((r.q_id, r.vec_id) in exact for r in rows)
    assert hits >= len(rows) * 0.5


def test_ivf_kmeans_beats_first_k_on_planted_clusters(spark):
    """Planted-cluster fixture (VERDICT r5 #7): 6 well-separated direction
    clusters, queries from each. The sampled-k-means centroids must give
    ANN recall at least as good as the arbitrary first-k-ids centroids at
    the same nprobe, and the fitted cells must separate the planted
    clusters (near-one planted cluster per used cell)."""
    import math
    import random

    from exon_spark.operators import (
        cosine_topk,
        ivf_ann_topk,
        ivf_fit_centroids,
    )

    random.seed(11)
    dim, n_clusters, per = 16, 6, 40
    # orthogonal-ish cluster axes: one-hot on distinct dims + small jitter
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = [random.gauss(0, 0.05) for _ in range(dim)]
            v[c] += 1.0
            rows.append((c * per + j, [float(x) for x in v]))
    em = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = em.filter(F.col("vec_id") % per == 0)  # one query per cluster
    exact = {}
    for r in cosine_topk(em, q, k=5).collect():
        exact.setdefault(r.q_id, set()).add(r.vec_id)

    def recall(centroids):
        got = {}
        for r in ivf_ann_topk(
            em, q, k=5, nprobe=1, centroids=centroids
        ).collect():
            got.setdefault(r.q_id, set()).add(r.vec_id)
        hits = sum(len(got.get(k_, set()) & v) for k_, v in exact.items())
        return hits / sum(len(v) for v in exact.values())

    # first-k baseline: first 6 ids all come from cluster 0 -> poor cells
    first_k = None  # ivf_ann_topk's default first-k path
    base = ivf_ann_topk(em, q, k=5, nprobe=1, n_cells=n_clusters)
    got_base = {}
    for r in base.collect():
        got_base.setdefault(r.q_id, set()).add(r.vec_id)
    base_recall = sum(
        len(got_base.get(k_, set()) & v) for k_, v in exact.items()
    ) / sum(len(v) for v in exact.values())

    fitted = ivf_fit_centroids(em, n_cells=n_clusters, sample_n=500, iters=10)
    km_recall = recall(fitted)
    assert km_recall >= base_recall
    assert km_recall >= 0.9, f"k-means recall {km_recall} on planted clusters"
    # each fitted centroid should be dominated by one planted axis
    dominated = sum(
        1 for _c, vec in fitted if max(vec) > 0.8 * math.sqrt(sum(x * x for x in vec))
    )
    assert dominated >= n_clusters - 1


def test_embedding_cosine_dups_finds_planted(spark):
    from exon_spark.operators import embedding_cosine_dups

    em = _emb(spark).select("vec_id", "embedding")
    planted = em.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    n_planted = planted.count()
    dups = embedding_cosine_dups(em.unionAll(planted), threshold=0.95).collect()
    # identical vectors always collide in their LSH bucket -> full recall
    assert len(dups) == n_planted
    for r in dups:
        assert r.id_b == r.id_a + 10_000
        assert r.score == 1.0


def test_ngram_jaccard_stop_shingle_cap(spark):
    """max_shingle_df drops hot shingles from candidate generation only:
    a generous cap reproduces the exact (uncapped) output; a cap of 1
    can only lose pairs whose every shared prefix shingle is hot —
    emitted pairs keep exact jaccard values either way."""
    from exon_spark.operators import regime
    from exon_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "completely different text with no overlap whatsoever here"),
        (4, "completely different text with no overlap whatsoever there"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, threshold=0.3).collect()
    }
    assert exact  # the two near-dup pairs exist
    capped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, threshold=0.3, max_shingle_df=100
        ).collect()
    }
    assert capped == exact
    tight = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, threshold=0.3, max_shingle_df=1).collect()
    }
    assert tight <= exact
    # the forced-regime n_rows (count-gated materialization) is
    # output-identical
    forced = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, threshold=0.3, n_rows=regime.FLOORS["columnar"] + 1
        ).collect()
    }
    assert forced == exact


def test_decontaminate_finds_planted_overlap(spark):
    from exon_spark.operators import decontaminate

    canary = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "completely unrelated text with enough tokens to shingle fine"),
        (2, "another clean document that shares nothing with the benchmark"),
        (3, "leaky document prefix " + canary),
    ]
    bench = [(100, "benchmark eval question " + canary)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    b = spark.createDataFrame(bench, "doc_id bigint, text string")
    got = {r.doc_id: r for r in decontaminate(df, b, n=5).collect()}
    assert len(got) == 3
    assert got[3].contaminated and got[3].n_hits >= 4  # canary 8 tokens -> 4 5-grams
    assert not got[1].contaminated and got[1].n_hits == 0
    assert not got[2].contaminated


def test_pii_stats_counts(spark):
    from exon_spark.operators import pii_stats

    rows = [
        (1, "email me at jane.doe+x@corp.example.org thanks"),
        (2, "call (415) 555-0100 or 650-555-0199 now"),
        (3, "ssn 123-45-6789 leaked with host 192.168.10.20"),
        (4, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in pii_stats(df).collect()}
    assert got[1].n_emails == 1 and got[1].has_pii
    assert got[2].n_phones == 2
    assert got[3].n_ssns == 1 and got[3].n_ips == 1
    assert not got[4].has_pii


def test_vcf_vectorized_matches_row_path(spark, tmp_path):
    """Tabix-pruned scans go through the pyarrow.csv vectorized reader;
    results must equal the per-row filter path bit-for-bit."""
    from exon_spark.sources.bgzf import BGZFWriter
    from exon_spark.sources.indexes import build_tabix_vcf

    gz = str(tmp_path / "v.vcf.gz")
    with BGZFWriter(gz) as w:
        w.write(
            b"##fileformat=VCFv4.2\n"
            b"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        )
        for i in range(1, 501):
            idf = "." if i % 3 == 0 else f"rs{i}"
            qual = "." if i % 5 == 0 else f"{i % 90}.25"
            w.write(
                f"7\t{i * 4}\t{idf}\tA\tG,T\t{qual}\tPASS\tDP={i}\t"
                f"GT\t0/1\n".encode()
            )
    build_tabix_vcf(gz)
    fast = (
        spark.read.format("vcf").option("regions", "7:100-1200").load(gz)
    ).collect()
    # drop the index so the same option takes the streaming filter path
    gz2 = str(tmp_path / "v2.vcf.gz")
    os.link(gz, gz2)
    slow = (
        spark.read.format("vcf").option("regions", "7:100-1200").load(gz2)
    ).collect()
    key = lambda r: r.pos
    assert sorted(fast, key=key) == sorted(slow, key=key)
    assert len(fast) == 276


def test_dup_clusters_components(spark):
    """Min-label propagation must traverse multi-hop chains: a-b-c chained
    pairs plus a separate d-e pair -> two components labelled by min id."""
    from exon_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_regimes_agree(spark):
    """The driver union-find (small-edge regime) and the distributed
    min-label propagation (forced via driver_edge_limit=0) must produce
    identical components on a random sparse graph."""
    import random

    from exon_spark.operators.dedup import dup_clusters

    random.seed(5)
    edges = [
        (random.randrange(200), random.randrange(200)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    small = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    big = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(pairs, driver_edge_limit=0).collect()
    }
    assert small == big
    # every cluster label is the component minimum
    assert all(lab <= doc for doc, lab in small.items())


def test_dup_clusters_distributed_needs_checkpoint_dir(spark, monkeypatch):
    """Without a checkpoint directory (a cluster that sets no
    spark.checkpoint.dir) the distributed regime fails up front, naming
    the setting; the driver regime does not need one."""
    from pyspark import SparkContext

    from exon_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a bigint, doc_b bigint")
    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    assert len(dup_clusters(pairs).collect()) == 3
    with pytest.raises(RuntimeError, match="spark.checkpoint.dir"):
        dup_clusters(pairs, driver_edge_limit=0)


def test_hash_sample_deterministic_and_nested(spark):
    from exon_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s20 = {r.doc_id for r in hash_sample(df, 0.2).collect()}
    s20_again = {r.doc_id for r in hash_sample(df, 0.2).collect()}
    s50 = {r.doc_id for r in hash_sample(df, 0.5).collect()}
    assert s20 == s20_again  # reproducible, partitioning-independent
    assert s20 <= s50  # nested: smaller fraction is a subset of larger
    assert 0.12 < len(s20) / 2000 < 0.28  # ~fraction of rows survive
    # repartitioning must not change the surviving row set
    s20_rep = {r.doc_id for r in hash_sample(df.repartition(7), 0.2).collect()}
    assert s20_rep == s20


def test_stratified_mix_rates(spark):
    from exon_spark.operators.sampling import stratified_mix

    import pyspark.sql.functions as F

    df = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("src", F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")))
    )
    got = stratified_mix(
        df, rates={"s0": 0.5, "s1": 0.1}, stratum_col="src", default_rate=0.0
    )
    counts = {r.src: r.n for r in got.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts.get("s2", 0) == 0  # default rate 0 drops the stratum
    assert 0.35 < counts["s0"] / 1000 < 0.65
    assert 0.03 < counts["s1"] / 1000 < 0.2


def test_semantic_dedup_finds_planted_dup_within_cluster(spark):
    import pyspark.sql.functions as F

    from exon_spark.operators import semantic_dedup

    # 40 spread-out vectors + one exact duplicate of vec 7
    rows = [(i, [float((i * 13 + j * 7) % 11 - 5) for j in range(8)]) for i in range(40)]
    rows.append((100, rows[7][1]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.999).collect()
    assert any(r.id_a == 7 and r.id_b == 100 and r.score >= 0.999 for r in out)
    # every reported pair shares its cluster by construction; scores honor
    # the threshold
    assert all(r.score >= 0.999 for r in out)
    # deterministic under repartitioning
    out2 = semantic_dedup(df.repartition(5), n_clusters=4, threshold=0.999).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_semantic_dedup_auto_k(spark):
    """n_clusters='auto' picks max(16, ceil(sqrt(n))) — the scale knob
    the r9 sf1 replica motivated (fixed k grows the within-cluster pair
    stage quadratically). The auto run must still find the planted dup
    and equal an explicit k of the same value."""
    import pytest as _pytest

    from exon_spark.operators import semantic_dedup

    rows = [(i, [float((i * 13 + j * 7) % 11 - 5) for j in range(8)]) for i in range(40)]
    rows.append((100, rows[7][1]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # n=41 -> ceil(sqrt)=7 -> floor of 16 applies
    auto = sorted(map(tuple, semantic_dedup(df, n_clusters="auto", threshold=0.999).collect()))
    explicit = sorted(map(tuple, semantic_dedup(df, n_clusters=16, threshold=0.999).collect()))
    assert auto == explicit
    assert any(a == 7 and b == 100 for _, a, b, _s in auto)
    with _pytest.raises(ValueError, match="n_clusters"):
        semantic_dedup(df, n_clusters="bogus")


def test_ngram_containment_quote_detection(spark):
    """A short doc fully quoted inside a long one must score
    containment_a = 1.0 even though Jaccard is low; hashed=True and the
    hot-shingle cap keep/drop the right pairs."""
    quote = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, quote),  # 2 shingles (6 tokens, n=5)
        (2, "start filler words here " + quote + " trailing content tokens x y z"),
        (3, "completely different text with many unrelated words in this row"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from exon_spark.operators import ngram_containment_pairs, ngram_jaccard_pairs

    out = {(r.doc_a, r.doc_b): r for r in ngram_containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in out and out[(1, 2)].containment_a == 1.0
    assert out[(1, 2)].containment_b < 0.5  # asymmetry: B is much bigger
    assert (1, 3) not in out and (2, 3) not in out
    # Jaccard misses the same pair at the same bar
    jac = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert not any(r.doc_a == 1 and r.doc_b == 2 for r in jac)
    # hashed keys give the identical pair set
    hashed = {(r.doc_a, r.doc_b): r for r in ngram_containment_pairs(df, threshold=0.9, hashed=True).collect()}
    assert set(hashed) == set(out)


def test_ngram_containment_prefilter_regimes_agree(spark):
    """The df>=2 broadcast pre-filter (r12 scale regime) is exact: it
    only drops join rows that cannot produce a pair, so both regimes —
    and their composition with hashed keys and the hot-shingle cap —
    emit identical rows. n_rows forces the regime deterministically
    regardless of the fixture's physical layout."""
    from exon_spark.operators import ngram_containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, quote),
        (2, "start filler words here " + quote + " trailing content tokens x y z"),
        (3, "completely different text with many unrelated words in this row"),
        (4, "start filler words here " + quote + " and more trailing content"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(**kw):
        return {
            (r.doc_a, r.doc_b): (r.n_common, r.containment_a, r.containment_b)
            for r in ngram_containment_pairs(df, threshold=0.3, **kw).collect()
        }

    base = run(n_rows=4)  # latency regime: no prefilter
    assert base  # fixture yields pairs
    assert run(n_rows=1 << 20) == base  # scale regime: prefilter
    assert run() == base
    capped = run(n_rows=4, max_shingle_df=2, hashed=True)
    assert run(n_rows=1 << 20, max_shingle_df=2, hashed=True) == capped


_VECTORS_SCALE = 1 << 20  # n_rows hint above the vectors floor


def test_semantic_dedup_assignment_regimes_agree(spark):
    """The scale regime's numpy closure argmax must produce the same
    cluster assignment — and therefore the same pair set — as the
    oracle-exact expression argmax on the real embeddings fixture."""
    from exon_spark.operators.similarity import semantic_dedup
    from exon_spark.queries.base import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    # plant exact duplicates so the pair set is guaranteed non-empty
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    both = emb.unionAll(planted)
    expr = semantic_dedup(both, n_clusters=16, threshold=0.8)
    udf = semantic_dedup(both, n_clusters=16, threshold=0.8, n_rows=_VECTORS_SCALE)
    e = {(r.cluster_id, r.id_a, r.id_b) for r in expr.collect()}
    u = {(r.cluster_id, r.id_a, r.id_b) for r in udf.collect()}
    assert e == u and len(e) > 0


def test_semantic_dedup_assignment_regimes_agree_on_ties(spark):
    """Adversarial tie cases both regimes must resolve identically (to
    the smallest centroid id, after rounding cosines to 6 dp):
    exact ties — every cone vector has the same cosine to the axis probe;
    near-ties — two candidates within 1e-6 cosine of the max. Zero-norm
    embeddings raise loudly in BOTH regimes (ANSI DIVIDE_BY_ZERO /
    ArithmeticError), never a silent NaN assignment."""
    import math

    from exon_spark.operators.similarity import semantic_dedup

    rows = []
    # 6 candidates on a cone around z: cosine(z_probe, v_i) identical
    for i in range(6):
        th = 2 * math.pi * i / 6
        rows.append((i, [2.0 * math.cos(th), 2.0 * math.sin(th), 3.0]))
    # one candidate nudged so its cosine to the probe differs by < 1e-6
    rows.append((6, [2.0, 0.0, 3.0 + 1e-8]))
    rows.append((100, [0.0, 0.0, 1.0]))  # the tied probe
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    for k in (2, 4, 7):
        expr = semantic_dedup(df, n_clusters=k, threshold=-1.0)
        udf = semantic_dedup(df, n_clusters=k, threshold=-1.0, n_rows=_VECTORS_SCALE)
        e = sorted((r.cluster_id, r.id_a, r.id_b) for r in expr.collect())
        u = sorted((r.cluster_id, r.id_a, r.id_b) for r in udf.collect())
        assert e == u, (k, e, u)

    withzero = df.unionAll(
        spark.createDataFrame(
            [(101, [0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
        )
    )
    for n_rows in (None, _VECTORS_SCALE):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
            semantic_dedup(
                withzero, n_clusters=2, threshold=-1.0, n_rows=n_rows
            ).collect()


def test_semantic_dedup_grouped_pairs_parity(spark):
    """r11: the scale regime's grouped pairs (per-cluster BLAS matmul
    via applyInPandas — the beyond-sf10 spelling that replaced the
    TB-class expr pair stream at the sf100 probe) must reproduce the
    oracle-exact expr pair set INCLUDING 6-dp scores, under any input
    partitioning."""
    from exon_spark.operators.similarity import semantic_dedup
    from exon_spark.queries.base import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    both = emb.unionAll(planted)
    expr = sorted(
        map(tuple, semantic_dedup(both, n_clusters=16, threshold=0.8).collect())
    )
    got = sorted(
        map(
            tuple,
            semantic_dedup(
                both.repartition(7),
                n_clusters=16,
                threshold=0.8,
                n_rows=_VECTORS_SCALE,
            ).collect(),
        )
    )
    assert got == expr and len(got) > 0


def test_semantic_dedup_grouped_pairs_row_blocking(spark, monkeypatch):
    """The grouped kernel row-blocks its score matrix so peak task
    memory is bounded at any cluster size; a forced tiny block budget
    (bs=1 per row) must give the identical pair set as one block."""
    import exon_spark.operators.similarity as sim

    rows = [(i, [float((i * 7 + j * 3) % 5) + 1.0 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    one = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                df, n_clusters=3, threshold=0.9, n_rows=_VECTORS_SCALE
            ).collect(),
        )
    )
    monkeypatch.setattr(sim, "_PAIR_BLOCK_DOUBLES", 1)
    blocked = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                df, n_clusters=3, threshold=0.9, n_rows=_VECTORS_SCALE
            ).collect(),
        )
    )
    assert blocked == one and len(one) > 0


def test_semantic_dedup_grouped_guards_and_plan(spark):
    """Zero-norm embeddings raise loudly in the grouped regime too, and
    the scale regime's udf+grouped plan is the minimal
    SemDeDup shape: ONE corpus shuffle (the cluster_id exchange feeding
    FlatMapGroupsInPandas), no joins, no second exchange."""
    import pytest

    from exon_spark.operators.similarity import semantic_dedup
    from exon_spark.queries.base import table

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
        semantic_dedup(
            df, n_clusters=1, threshold=-1.0, n_rows=_VECTORS_SCALE
        ).collect()

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    out = semantic_dedup(emb, n_clusters=16, threshold=0.8, n_rows=_VECTORS_SCALE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_semantic_dedup_auto_regime_switch(spark, monkeypatch):
    """The size regime keeps sub-threshold corpora on the oracle-exact
    expr paths and switches big ones to udf+grouped — and the
    switch is result-invariant on the fixture (the parity the scale
    regimes are pinned to)."""
    import exon_spark.operators.similarity as sim
    from exon_spark.operators import regime
    from exon_spark.queries.base import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    # below threshold: auto == expr plan (pair self-join present)
    small = sim.semantic_dedup(emb, n_clusters=16, threshold=0.8)
    assert "FlatMapGroupsInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    expr_rows = sorted(map(tuple, small.collect()))
    # force the scale regimes via a tiny threshold: grouped plan, same rows
    monkeypatch.setitem(regime.FLOORS, "vectors", 10)
    big = sim.semantic_dedup(emb, n_clusters=16, threshold=0.8)
    assert "FlatMapGroupsInPandas" in big._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, big.collect())) == expr_rows


def test_assign_cluster_udf_zero_norm_centroid_raises():
    """r8: the centroid matrix gets the same zero-norm guard as member
    embeddings — ArithmeticError at factory time, never NaN cosines (the
    r7 RuntimeWarning path)."""
    import pytest

    from exon_spark.operators.similarity import _assign_cluster_udf

    with pytest.raises(ArithmeticError, match="zero-norm"):
        _assign_cluster_udf([(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0])])


# ------------------------------------- r8: kmeans_refine


def _np_spherical_lloyd(X, centroids, iters):
    """Pure-numpy reference of the kmeans_refine contract: 6-dp-rounded
    cosine argmax, ties to smallest cell id, scaled-int-exact means."""
    import numpy as np

    scale = 10**9
    ids = sorted(cid for cid, _ in centroids)
    C = {cid: np.asarray(v, np.float64) for cid, v in centroids}
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for _ in range(iters):
        M = np.stack([C[c] / np.linalg.norm(C[c]) for c in ids])
        assign = np.argmax(np.round(Xn @ M.T, 6), axis=1)
        for j, cid in enumerate(ids):
            m = assign == j
            if not m.any():
                continue
            s = np.round(Xn[m] * scale).sum(axis=0)
            v = s / (m.sum() * scale)
            nv = np.linalg.norm(v)
            if nv > 1e-12:
                C[cid] = v / nv
    return [(cid, C[cid].tolist()) for cid in ids]


def test_kmeans_refine_matches_numpy_reference(spark):
    """Distributed refinement == the numpy reimplementation, bit for bit
    (exact integer partial sums make the distributed mean reproducible)."""
    import numpy as np

    from exon_spark.operators import ivf_fit_centroids, kmeans_refine

    em = _emb(spark)
    seed = ivf_fit_centroids(em, n_cells=6, sample_n=100, iters=2)
    got = kmeans_refine(em, seed, iters=3)
    rows = em.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.stack([np.asarray(r.embedding, np.float64) for r in rows])
    exp = _np_spherical_lloyd(X, seed, iters=3)
    assert [c for c, _ in got] == [c for c, _ in exp]
    for (_, gv), (_, ev) in zip(got, exp):
        assert gv == pytest.approx(ev, abs=1e-12)


def test_kmeans_refine_partitioning_invariant(spark):
    """Same fit at any input partitioning — the int64 partial sums are
    order-independent where float partials would drift."""
    from exon_spark.operators import ivf_fit_centroids, kmeans_refine

    em = _emb(spark)
    seed = ivf_fit_centroids(em, n_cells=5, sample_n=80, iters=1)
    a = kmeans_refine(em.repartition(1), seed, iters=2)
    b = kmeans_refine(em.repartition(13), seed, iters=2)
    assert a == b


def test_kmeans_refine_improves_inertia_and_plugs_into_ivf(spark):
    """Refinement must not worsen the seed's quantization quality, and the
    result drops into ivf_ann_topk(centroids=...)."""
    import numpy as np

    from exon_spark.operators import (
        ivf_ann_topk,
        ivf_fit_centroids,
        kmeans_refine,
    )

    em = _emb(spark)
    rows = em.select("embedding").collect()
    X = np.stack([np.asarray(r.embedding, np.float64) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def mean_max_cos(cents):
        M = np.stack([np.asarray(v, np.float64) for _, v in cents])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        return float(np.max(Xn @ M.T, axis=1).mean())

    seed = ivf_fit_centroids(em, n_cells=8, sample_n=60, iters=1)
    ref = kmeans_refine(em, seed, iters=4)
    assert mean_max_cos(ref) >= mean_max_cos(seed) - 1e-9
    q = em.filter(F.col("vec_id") < 3)
    out = ivf_ann_topk(em, q, k=5, nprobe=3, centroids=ref).collect()
    assert len(out) == 3 * 5


def test_kmeans_refine_zero_norm_centroid_raises(spark):
    from exon_spark.operators import kmeans_refine

    em = _emb(spark)
    with pytest.raises(ArithmeticError, match="zero-norm"):
        kmeans_refine(em, [(0, [0.0] * 16), (1, [1.0] + [0.0] * 15)], iters=1)


def _vec_rows(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semantic_decontaminate_hand_computed(spark):
    from exon_spark.operators import semantic_decontaminate

    corpus = _vec_rows(
        spark,
        [
            (1, [1.0, 0.0, 0.0]),  # identical to eval A -> 1.0
            (2, [0.0, 1.0, 0.0]),  # orthogonal to both -> 0.0
            (3, [2.0, 0.0, 0.0]),  # scaled copy -> cosine 1.0
            (4, [1.0, 0.0, 1.0]),  # 45 deg to A -> ~0.707107
        ],
    )
    eval_df = _vec_rows(
        spark, [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, -1.0])]
    )
    out = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, eval_df, threshold=0.9).collect()
    }
    assert out[1]["max_eval_cos"] == 1.0 and out[1]["contaminated"]
    assert out[2]["max_eval_cos"] == 0.0 and not out[2]["contaminated"]
    assert out[3]["max_eval_cos"] == 1.0 and out[3]["contaminated"]
    assert out[4]["max_eval_cos"] == pytest.approx(0.707107)
    assert not out[4]["contaminated"]


def test_semantic_decontaminate_duckdb_oracle_parity(spark):
    import random

    import duckdb

    from exon_spark.operators import semantic_decontaminate

    rng = random.Random(23)
    crows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    erows = [(500 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(5)]
    got = sorted(
        (r["vec_id"], r["max_eval_cos"], r["contaminated"])
        for r in semantic_decontaminate(
            _vec_rows(spark, crows), _vec_rows(spark, erows), threshold=0.3
        ).collect()
    )
    con = duckdb.connect()
    con.execute("create table c (vec_id bigint, v double[])")
    con.execute("create table e (eid bigint, v double[])")
    con.executemany("insert into c values (?, ?)", [(i, v) for i, v in crows])
    con.executemany("insert into e values (?, ?)", [(i, v) for i, v in erows])
    cos = (
        "list_sum(list_transform(range(1, 9), i -> c.v[i] * e.v[i]))"
        " / (sqrt(list_sum(list_transform(range(1, 9), i -> c.v[i] * c.v[i])))"
        " * sqrt(list_sum(list_transform(range(1, 9), i -> e.v[i] * e.v[i]))))"
    )
    exp = sorted(
        (vid, mx, bool(cont))
        for vid, mx, cont in con.execute(
            f"""
            select c.vec_id, max(round({cos}, 6)) as m, max(round({cos}, 6)) >= 0.3
            from c cross join e group by c.vec_id
            """
        ).fetchall()
    )
    # float32 ingestion parity: Spark stores array<float>; duckdb got the
    # python doubles — cast corpus values through float32 first
    import numpy as np

    con2 = duckdb.connect()
    con2.execute("create table c (vec_id bigint, v double[])")
    con2.execute("create table e (eid bigint, v double[])")
    con2.executemany(
        "insert into c values (?, ?)",
        [(i, [float(np.float32(x)) for x in v]) for i, v in crows],
    )
    con2.executemany(
        "insert into e values (?, ?)",
        [(i, [float(np.float32(x)) for x in v]) for i, v in erows],
    )
    exp32 = sorted(
        (vid, mx, bool(cont))
        for vid, mx, cont in con2.execute(
            f"""
            select c.vec_id, max(round({cos}, 6)) as m, max(round({cos}, 6)) >= 0.3
            from c cross join e group by c.vec_id
            """
        ).fetchall()
    )
    assert got == exp32 or got == exp


def test_semantic_decontaminate_guards(spark):
    from exon_spark.operators import semantic_decontaminate

    corpus = _vec_rows(spark, [(1, [1.0, 0.0])])
    empty = _vec_rows(spark, [])
    with pytest.raises(ValueError, match="empty eval set"):
        semantic_decontaminate(corpus, empty)
    # a zero-norm eval vector raises when the job runs
    zero_eval = _vec_rows(spark, [(9, [0.0, 0.0])])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        semantic_decontaminate(corpus, zero_eval).collect()


def test_quantize_embeddings_roundtrip_and_schema(spark):
    import random

    from exon_spark.operators import dequantize_embeddings, quantize_embeddings

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-3, 3) for _ in range(16)]) for i in range(30)]
    rows.append((99, [0.0] * 16))  # zero vector
    df = _vec_rows(spark, rows)
    q = quantize_embeddings(df)
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"
    assert dict(q.dtypes)["qvec_scale"] == "float"
    back = dequantize_embeddings(q, out_col="deq")
    for r in back.collect():
        orig, deq, scale = r["embedding"], r["deq"], r["qvec_scale"]
        if r["vec_id"] == 99:
            assert scale == 0.0 and all(x == 0.0 for x in deq)
            continue
        for o, d in zip(orig, deq):
            assert abs(o - d) <= scale / 2 + 1e-6  # half-step error bound
        assert max(abs(x) for x in r["qvec"]) == 127  # maxabs pins the range


def test_qcosine_approximates_cosine(spark):
    import random

    import pyspark.sql.functions as F

    from exon_spark.operators import qcosine, quantize_embeddings
    from exon_spark.operators.similarity import cosine

    rng = random.Random(6)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(40)]
    df = quantize_embeddings(_vec_rows(spark, rows))
    a = df.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"), F.col("qvec").alias("qa"))
    b = df.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"), F.col("qvec").alias("qb"))
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        cosine("va", "vb").alias("cf"), qcosine("qa", "qb").alias("cq")
    )
    for r in pairs.collect():
        assert abs(r["cf"] - r["cq"]) < 0.02  # int8 rounding error bound
    # identical vectors -> exactly 1.0 in both
    same = a.limit(1).select(qcosine("qa", "qa").alias("c")).collect()[0]["c"]
    assert same == 1.0


def test_qcosine_preserves_planted_nearest(spark):
    import random

    import pyspark.sql.functions as F

    from exon_spark.operators import qcosine, quantize_embeddings

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(32)]
    near = [x + rng.uniform(-0.01, 0.01) for x in base]
    rows = [(0, base), (1, near)] + [
        (i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(2, 50)
    ]
    df = quantize_embeddings(_vec_rows(spark, rows))
    qrow = df.filter("vec_id = 0").select(F.col("qvec").alias("q0"))
    scored = (
        df.filter("vec_id != 0")
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", qcosine("qvec", "q0").alias("c"))
        .orderBy(F.col("c").desc())
    )
    assert scored.first()["vec_id"] == 1  # the planted near-dup wins


def test_keep_best_argmax_with_ties(spark):
    from exon_spark.operators import keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "doc_id bigint, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.0), (20, 0.7)],
        "doc_id bigint, score double",
    )
    out = {r["cluster_id"]: r for r in keep_best(clusters, scores).collect()}
    # argmax, tie (2 vs 3 at 0.9) to the SMALLEST doc_id
    assert (out[1]["keep_id"], out[1]["best_score"], out[1]["n_members"]) == (2, 0.9, 3)
    assert out[10]["keep_id"] == 10
    assert out[20]["keep_id"] == 20  # singleton cluster keeps itself
    # composes with dup_clusters + a quality score into a survivor set
    survivors = clusters.join(
        keep_best(clusters, scores).select(
            F.col("keep_id").alias("doc_id")
        ),
        "doc_id",
    )
    assert sorted(r["doc_id"] for r in survivors.collect()) == [2, 10, 20]


def test_keep_best_string_ids_and_big_ids(spark):
    from exon_spark.operators import keep_best

    # string doc_ids (r8 advice: the old -doc_id tie-break raised
    # CAST_INVALID_INPUT here); ties break to the lexicographically
    # smallest id
    clusters = spark.createDataFrame(
        [("doc-a", 1), ("doc-b", 1), ("doc-c", 1), ("zzz", 2)],
        "doc_id string, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [("doc-a", 0.4), ("doc-b", 0.8), ("doc-c", 0.8), ("zzz", 0.1)],
        "doc_id string, score double",
    )
    out = {r["cluster_id"]: r for r in keep_best(clusters, scores).collect()}
    assert (out[1]["keep_id"], out[1]["best_score"]) == ("doc-b", 0.8)
    assert out[2]["keep_id"] == "zzz"

    # bigint ids above 2^53: the old implicit-double path collapsed
    # adjacent ids; the struct-min tie-break must keep them distinct
    lo, hi = (1 << 53) + 1, (1 << 53) + 2
    clusters2 = spark.createDataFrame(
        [(hi, 1), (lo, 1)], "doc_id bigint, cluster_id bigint"
    )
    scores2 = spark.createDataFrame(
        [(hi, 0.5), (lo, 0.5)], "doc_id bigint, score double"
    )
    row = keep_best(clusters2, scores2).collect()[0]
    assert row["keep_id"] == lo


def test_keep_best_partitioning_invariant(spark):
    import random

    from exon_spark.operators import keep_best

    rng = random.Random(3)
    clusters = spark.createDataFrame(
        [(i, i % 13) for i in range(200)], "doc_id bigint, cluster_id bigint"
    )
    scores = spark.createDataFrame(
        [(i, rng.choice([0.1, 0.5, 0.9])) for i in range(200)],
        "doc_id bigint, score double",
    )
    a = sorted(map(tuple, keep_best(clusters, scores).collect()))
    b = sorted(
        map(
            tuple,
            keep_best(clusters.repartition(7), scores.repartition(3)).collect(),
        )
    )
    assert a == b


def test_embedding_cosine_dups_auto_band_width(spark):
    """The r11 density-aware geometry: auto band_bits floors at 16 for
    every gate-scale corpus (legacy-exact) and widens past ~260k rows so
    per-bucket density — and with it candidate-pair volume — stays
    bounded instead of quadratic (the sf100 disk-spill catch)."""
    import math

    for n, expect in ((1000, 16), (60_000, 16), (242_000, 18),
                      (2_420_000, 22), (4_000_000_000_000, 40)):
        got = min(40, max(16, math.ceil(math.log2(max(n, 2) / 1.0))))
        assert got == expect, (n, got)
    # behavior pin at gate scale: auto == explicit 16 bits, row-identical
    from exon_spark.operators.similarity import embedding_cosine_dups

    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)]) for i in range(40)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 40, 5)]  # planted dups
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    a = sorted(map(tuple, embedding_cosine_dups(df).collect()))
    b = sorted(map(tuple, embedding_cosine_dups(df, n_planes=64, band_bits=16).collect()))
    assert a == b
    planted = {(i, 1000 + i) for i in range(0, 40, 5)}
    found = {(x, y) for x, y, s in a}
    assert planted <= found  # exact dups: recall 1 at any width


def test_explicit_n_planes_with_auto_band_bits_back_compat(spark):
    """r12 (ADVICE r11): an explicit n_planes with the default
    band_bits="auto" must pin the caller's legacy geometry (band_bits =
    n_planes / 4) instead of density-sizing into a width that rarely
    divides it — the pre-r11 call pattern keeps working at any corpus
    size, with zero count() job."""
    from exon_spark.operators.similarity import embedding_cosine_dups

    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(64)]) for i in range(30)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 30, 5)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    df.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("explicit n_planes must not trigger a count() job")
    )
    got = sorted(map(tuple, embedding_cosine_dups(df, n_planes=64).collect()))
    want = sorted(
        map(tuple, embedding_cosine_dups(df, n_planes=64, band_bits=16).collect())
    )
    assert got == want and got
    with pytest.raises(ValueError, match="multiple of 4"):
        embedding_cosine_dups(df, n_planes=63)


def test_auto_regimes_accept_caller_cardinality(spark):
    """r12 (VERDICT r11 next #6): n_rows= lets a standing pipeline that
    already knows its cardinality skip the auto-regime count() job —
    pinned by poisoning df.count on the input and checking the result is
    identical to the counted path."""
    import exon_spark.operators.similarity as sim

    emb = _emb(spark).select("vec_id", "embedding")
    n = emb.count()
    baseline = sorted(
        map(tuple, sim.semantic_dedup(emb, n_clusters="auto", threshold=0.8).collect())
    )
    poisoned = _emb(spark).select("vec_id", "embedding")
    poisoned.count = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        AssertionError("n_rows supplied — count() must not run")
    )
    got = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                poisoned, n_clusters="auto", threshold=0.8, n_rows=n
            ).collect(),
        )
    )
    assert got == baseline
    # embedding_cosine_dups: same contract for the band-width auto count
    base2 = sorted(map(tuple, sim.embedding_cosine_dups(emb).collect()))
    got2 = sorted(map(tuple, sim.embedding_cosine_dups(poisoned, n_rows=n).collect()))
    assert got2 == base2
