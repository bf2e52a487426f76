"""Plan-shape regression tests — pin the properties that matter at scale
(SURVEY.md §4): broadcast joins for small dims, parquet filter pushdown,
and zero Python workers in expression-only paths."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registered(spark):
    from exon_spark import register_all

    register_all(spark)
    return spark


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute (noop sink) and return the FINAL adaptive plan. Broadcast
    assertions must use this: the session disables estimate-based static
    broadcasts (post-Generate size estimates lie — the r10 sf10 probe
    OOMed three queries on 1 GB "broadcasts" estimated at <64 MB), so
    every non-hinted broadcast now appears only after AQE promotes the
    join from the ACTUAL runtime size. collect() (not a noop write —
    that spawns its own QueryExecution and leaves this one unexecuted)
    finalizes THIS dataframe's adaptive plan; plan tests run at sf0.01
    where every result is small."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _queries():
    from exon_spark.queries import ALL_QUERIES

    return ALL_QUERIES


def test_dim_joins_broadcast(registered):
    """TPC-H-style joins against small dims must broadcast, not shuffle —
    decided by AQE from runtime sizes (dims are only small until the
    business grows; customer scales with SF, so a static pin would be
    wrong at 100 TB)."""
    for q in ("q02_shipping_priority", "q03_local_supplier_volume"):
        plan = _final_plan(_queries()[q].spark_fn(registered, SF))
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_parquet_filter_pushdown(registered):
    plan = _plan(_queries()["q02_shipping_priority"].spark_fn(registered, SF))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(c_mktsegment" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(registered):
    import pyspark.sql.functions as F

    df = (
        registered.read.parquet(f"{SF}/lineitem.parquet")
        .select(F.sum("l_quantity").alias("s"))
    )
    schemas = re.findall(r"ReadSchema: ([^\n,]*)", _plan(df))
    assert schemas and all("l_quantity" in s for s in schemas)
    assert all("l_comment" not in s for s in schemas)


def test_expression_functions_stay_jvm_side(registered):
    """gc_content / samflags / region predicates compile to Column
    expressions — no BatchEvalPython/ArrowEvalPython in the plan."""
    import pyspark.sql.functions as F

    import exon_spark.functions as xf

    docs = registered.read.parquet(f"{SF}/documents.parquet")
    df = docs.select(
        xf.gc_content(F.col("text")).alias("g"),
        xf.region_match(F.lit("chr1"), F.lit(5), "chr1:1-10").alias("r"),
    )
    plan = _plan(df)
    assert "EvalPython" not in plan, plan


def test_fasta_plain_scan_has_no_python_workers(registered, tmp_path):
    p = tmp_path / "x.fasta"
    p.write_text(">a\nACGT\n>b\nGGTT\n")
    from exon_spark.sources import read_format

    plan = _plan(read_format(registered, "fasta", str(p)))
    assert "EvalPython" not in plan and "(Python)" not in plan, plan


# py4j round trips of a warm local FASTA read_format: the one
# DriverCalls.readFasta call (1 measured). The lineSep text route it
# replaced made about 414.
_MAX_FASTA_READ_PY4J = 2


def test_fasta_read_is_one_java_scan(registered, tmp_path):
    """A local FASTA read builds its frame in one JVM call and executes as
    one BatchScan of the Java FastaSource, with no Generate and no Python
    scan."""
    import gc
    import threading

    from exon_spark.sources import read_format

    p = tmp_path / "x.fasta"
    p.write_text(">a d\nACGT\n>b\nGGTT\n")
    read_format(registered, "fasta", str(p))  # resolves the session's caches
    gc.collect()  # frees earlier proxies now, not inside the window
    client = registered.sparkContext._gateway._gateway_client
    sent: list[str] = []
    real = client.send_command
    caller = threading.get_ident()

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        df = read_format(registered, "fasta", str(p))
    finally:
        del client.send_command
    assert len(sent) <= _MAX_FASTA_READ_PY4J, sent
    plan = _plan(df)
    assert plan.count("BatchScan") == 1 and "BatchScan fasta-jvm" in plan, plan
    assert "Generate" not in plan and "(Python)" not in plan, plan


def test_plain_fasta_above_1mb_fans_out(registered, tmp_path):
    """A single plain FASTA file above 1 MB plans more than one byte-range
    partition at local[4], so one large file still spreads across cores."""
    import os

    from exon_spark.sources import read_format
    from exon_spark.sources.fasta import FastaSource
    from exon_spark.sources.util import FoundFile

    p = tmp_path / "big.fasta"
    rec = b">r%d some description\n" + b"ACGT" * 60 + b"\n"
    p.write_bytes(b"".join(rec % i for i in range(5000)))
    size = os.path.getsize(p)
    assert (1 << 20) < size < (2 << 20)
    parts = FastaSource.plan_partitions(FoundFile(str(p), size), {"target_parallelism": 4})
    assert len(parts) > 1
    df = read_format(registered, "fasta", str(p))
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 5000


def test_dedup_shingles_single_shuffle(registered):
    """shingle_rows must be shuffle-free up to its final distinct — one
    Exchange total (the window-lead formulation had two)."""
    from exon_spark.operators.dedup import shingle_rows

    docs = registered.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(shingle_rows(docs))
    assert plan.count("Exchange") <= 2  # hashpartitioning + AQE read
    assert "Window" not in plan


def test_minhash_simhash_signatures_one_shuffle(registered):
    """Signature/fingerprint aggregation must be one shuffle with map-side
    partial aggregation: the exchange carries (doc_id, partial states),
    never raw shingle rows — the property that keeps both scale-safe."""
    import pyspark.sql.functions as F

    from exon_spark.operators.dedup import (
        minhash_signatures,
        shingled_docs,
        simhash,
    )

    docs = registered.read.parquet(f"{SF}/documents.parquet")
    rows = shingled_docs(docs).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    plan = _plan(minhash_signatures(rows))
    assert plan.count("Exchange") <= 2  # hashpartitioning + AQE read
    assert "partial_min" in plan
    plan = _plan(simhash(docs))
    assert plan.count("Exchange") <= 2
    assert "partial_sum" in plan


def test_embedding_dups_band_cardinality(registered):
    """embedding_cosine_dups must block on banded keys — n_bands * 2^16
    buckets (>= 2^18 effective), not the old single 2^6-bucket self-join
    that degenerates to O(n²/64) at corpus scale. Pin the geometry at the
    signature level (every key carries its band offset b << 16, so the key
    space spans 4 * 65,536 buckets) and the plan at the join level (bkey
    equi-join, vectorized Arrow UDF, no cartesian)."""
    import pyspark.sql.functions as F

    from exon_spark.operators.similarity import (
        _band_keys_udf,
        embedding_cosine_dups,
        hyperplanes,
    )

    em = registered.read.parquet(f"{SF}/embeddings.parquet")
    keys = (
        em.limit(32)
        .select(_band_keys_udf(hyperplanes(64, 64), 16)("embedding").alias("k"))
        .collect()
    )
    for row in keys:
        assert len(row.k) == 4
        for b, key in enumerate(row.k):
            assert b << 16 <= key < (b + 1) << 16  # 16-bit pattern + band id
    plan = _plan(embedding_cosine_dups(em))
    # (the signature UDF itself is behind the materialize boundary — its
    # vectorized ArrowEvalPython form is pinned by the _band_keys_udf
    # key-range check above)
    assert "bkey" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_band_cardinality_is_16_bit(registered):
    """The simhash band join must bucket on 16-bit band values (65,536
    buckets) — 8-bit/256-bucket banding degenerates toward O(n²/256) at
    corpus scale. Pin the mask in the executed plan."""
    from exon_spark.operators.dedup import simhash, simhash_pairs

    docs = registered.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash_pairs(simhash(docs)))
    assert "65535" in plan
    assert "& 255" not in plan


def test_bm25_broadcasts_stats_and_dfreq(registered):
    """q38's corpus-stats (1 row) and doc-frequency (≤|terms| rows) joins
    must broadcast — a shuffle join on either would serialize the corpus
    through a single-key exchange at scale. Also: no Python workers."""
    plan = _plan(_queries()["q38_bm25_search"].spark_fn(registered, SF))
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2, plan[:2000]
    assert "CartesianProduct" not in plan
    # the only Python is the per-TERM Arrow-batched _glibc_ln idf (r11
    # oracle bit-parity) — model side only, never row-at-a-time
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_quality_signals_no_shuffle_no_python(registered):
    """The quality_signals OPERATOR is per-row arithmetic: at most the
    ONE fanout_repartition round-robin exchange that spreads a
    single-row-group input before the per-doc compute (inert on wide
    inputs) — never a key exchange — and no Python workers."""
    from exon_spark.operators import quality_signals
    from exon_spark.queries.base import table

    plan = _plan(quality_signals(table(registered, SF, "documents")))
    assert plan.count("Exchange") <= 1, plan[:2000]
    assert "hashpartitioning" not in plan.lower(), plan[:2000]
    assert "EvalPython" not in plan


def test_fanout_repartition_defeats_phantom_splits(registered, tmp_path):
    """A big SINGLE-row-group parquet byte-splits into many phantom
    partitions (all rows in one task, the rest empty) — the partition
    count alone must not make fanout_repartition inert (caught at the
    sf1 replica: q23's whole fan-out on one core behind a 23-partition
    scan). The footer sniff must force the spread."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from exon_spark.operators.dedup import fanout_repartition

    path = str(tmp_path / "one_rg.parquet")
    n = 20_000
    import numpy as np

    rng = np.random.default_rng(7)
    # incompressible payloads so the FILE is actually multi-megabyte
    texts = [rng.bytes(300).hex() for _ in range(n)]
    tbl = pa.table({"doc_id": list(range(n)), "text": texts})
    pq.write_table(tbl, path, row_group_size=n)  # ONE row group, ~12 MB
    old = registered.conf.get("spark.sql.files.maxPartitionBytes")
    registered.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    try:
        df = registered.read.parquet(path)
        target = registered.sparkContext.defaultParallelism
        # precondition: the scan claims plenty of partitions (phantom
        # byte-range splits of the one row group)
        assert df.rdd.getNumPartitions() >= max(2, target // 2)
        spread = fanout_repartition(df)
        counts = [
            r["count"]
            for r in spread.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        ]
        assert len(counts) >= max(2, target // 2)  # really spread
        assert max(counts) < n  # no single task carries the whole table
    finally:
        registered.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_q36_fused_gate_plan_shape(registered):
    """The fused q36 gate adds the NB + logistic classifiers: the MODEL
    joins (bucket keys, bounded tables) must be broadcast in the final
    adaptive plan, and the whole gate stays JVM-side. The corpus-side
    doc_id joins may be SortMergeJoin — three corpus-sized frames
    joining each other is exactly where SMJ is the correct plan at
    scale (statically broadcasting them was the r10-diagnosed OOM
    class)."""
    import re

    plan = _final_plan(_queries()["q36_quality_signals"].spark_fn(registered, SF))
    # the only Python is the bucket-table Arrow-batched _glibc_ln in the
    # NB fit's log-odds (r11 oracle bit-parity) — never on the corpus
    # side. Count DISTINCT nodes: the adaptive final plan prints the
    # broadcast-stage subtree twice (materialized + reused), same
    # expression IDs both times.
    assert "BatchEvalPython" not in plan
    nodes = set(re.findall(r"ArrowEvalPython \[[^\]]*", plan))
    assert len(nodes) == 1, nodes
    assert "CartesianProduct" not in plan
    # every bucket-keyed model join is a broadcast, never shuffled
    bucket_joins = re.findall(r"(\w+Join) \[bucket#\d+L?\]", plan)
    assert bucket_joins and all(j == "BroadcastHashJoin" for j in bucket_joins), (
        bucket_joins,
        plan[:2000],
    )


def test_dup_ngram_coverage_no_cartesian(registered):
    """q37's inverted-index join must stay a hash join on the gram key —
    never a cartesian/nested-loop."""
    plan = _plan(_queries()["q37_dup_ngram_coverage"].spark_fn(registered, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_budget_cap_single_exchange_chain(registered):
    """q41 = one shuffle by the stratum key feeding the window sort; no
    extra exchange, no Python."""
    plan = _plan(_queries()["q41_token_budget_cap"].spark_fn(registered, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # window runs over the stratum partitioning: exactly one shuffle of the
    # data (AQE may add AQEShuffleRead wrappers; count Exchange nodes)
    assert plan.count("Exchange") <= 2, plan[:1500]


def test_unigram_logppl_broadcasts_corpus_total(registered):
    """q42's 1-row corpus-total join must broadcast; no cartesian beyond
    the broadcast nested loop for the single-row cross join."""
    plan = _plan(_queries()["q42_unigram_logppl"].spark_fn(registered, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # two model-side Arrow-batched _glibc_ln nodes (r11 oracle
    # bit-parity): the unigram vocab nll + the fused DSIR bucket
    # log-ratio — never row-at-a-time, never on the corpus side
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 2


def test_pack_sequences_no_per_group_global_window(registered):
    """q44's windows run per (group, bucket) — the plan must sort/window on
    both keys, not a single source-wide partition, and the bucket-offset
    join must broadcast."""
    df = _queries()["q44_pack_sequences"].spark_fn(registered, SF)
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the in-bucket running-sum window is keyed by [source, _b]
    import re

    assert re.search(r"Window \[.*windowspecdefinition\(source#\d+, _b#\d+", plan), (
        plan[:3000]
    )


def test_top_ngrams_uses_takeordered(registered):
    """q45 top-k must be TakeOrderedAndProject (partition heaps), never a
    global Sort + CollectLimit over the full gram table."""
    plan = _plan(_queries()["q45_top_ngrams"].spark_fn(registered, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_epoch_mix_broadcasts_source_totals(registered):
    """q46's per-source token totals (|sources| rows) broadcast back; the
    copy fan-out is a map-side explode — no shuffle of exploded rows."""
    plan = _plan(_queries()["q46_epoch_mix"].spark_fn(registered, SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_semantic_dedup_broadcasts_centroids(registered):
    """q47's assignment is a broadcast cross join against the centroid
    rows (no shuffled cartesian), one struct-min agg, and an equi join on
    cluster_id for the pair stage — all JVM-side. The assignment subtree
    is materialized (it feeds both self-join sides), so its broadcast NLJ
    is asserted on the unmaterialized assignment plan, and the final plan
    is asserted free of cartesians/Python over the checkpointed scan."""
    import pyspark.sql.functions as F

    from exon_spark.operators.similarity import cosine
    from exon_spark.queries.base import table

    plan = _plan(_queries()["q47_semantic_dedup"].spark_fn(registered, SF))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the assignment stage itself (pre-materialization): broadcast NLJ
    em = table(registered, SF, "embeddings").select("vec_id", "embedding")
    cents = em.limit(16).select(
        F.col("vec_id").alias("cidx"), F.col("embedding").alias("cemb")
    )
    assign_plan = _plan(
        em.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cidx", cosine(F.col("embedding"), F.col("cemb")).alias("cos")
        )
    )
    assert "BroadcastNestedLoopJoin" in assign_plan, assign_plan[:2000]
    assert "CartesianProduct" not in assign_plan


def test_line_dedup_plan_shape(registered):
    """q51's 100 TB contract: the hot-line set rides a broadcast LEFT ANTI
    hash join back onto the exploded lines (no shuffle anti by default),
    everything JVM-side, and reassembly is an in-group array_sort — no
    window over the corpus."""
    plan = _plan(_queries()["q51_line_dedup"].spark_fn(registered, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]
    assert "Window" not in plan  # array_sort reassembly, not a window sort


def test_deterministic_shuffle_plan_shape(registered):
    """q32's shard assignment: key-only shuffle on the computed shard +
    one in-shard sort for row_number — never a single global window
    partition, never Python."""
    import pyspark.sql.functions as F

    from exon_spark.operators.sampling import deterministic_shuffle

    df = registered.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(deterministic_shuffle(df, 8))
    assert "EvalPython" not in plan
    # partitioned window: hashpartitioning on shard, NOT SinglePartition
    assert re.search(r"hashpartitioning\(shard", plan), plan[:2000]
    assert "SinglePartition" not in plan
    # the window input is the narrow (id, shard, _ord) projection — the
    # document payload (text) never rides the shuffle
    m = re.search(r"Exchange hashpartitioning\(shard[^\n]*\n([^\n]*)", plan)
    assert m and "text" not in m.group(0) + m.group(1), m


def test_dsir_weights_plan_shape(registered):
    """q42's DSIR half: the bucket log-ratio table (≤ buckets rows) joins
    the corpus-sized (doc, bucket) frame via broadcast, totals ride a
    broadcast nested-loop (1-row frame), and the whole weight path is
    expression-only — no Python workers, no cartesian shuffle join."""
    import pyspark.sql.functions as F

    from exon_spark.operators.sampling import dsir_weights

    docs = registered.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        dsir_weights(docs, docs.filter(F.col("source") == "src0"), buckets=512)
    )
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1  # bucket-table _glibc_ln only
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_q40_bloom_fusion_plan_shape(registered):
    """The fused q40 keeps the scale shape: the bloom probe side is
    broadcast-joined candidate work, never a cartesian product, and the
    prefix partner join broadcasts the flagged residue (Q * fpp-sized),
    not the index."""
    plan = _final_plan(_queries()["q40_dedup_incremental"].spark_fn(registered, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q38_keyword_fusion_plan_shape(registered):
    """keyword_tag's literal-set filters stay JVM-side in the fused q38
    (no Python eval anywhere in the row: bm25 + keyword counts are all
    expressions)."""
    plan = _plan(_queries()["q38_bm25_search"].spark_fn(registered, SF))
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1  # the bm25 idf _glibc_ln
    assert "CartesianProduct" not in plan


def test_q46_temperature_fusion_plan_shape(registered):
    """Both mixing arms stay expression-only (no Python) and the
    per-source totals broadcast — the epoch_mix contract holds for the
    temperature arm too."""
    plan = _plan(_queries()["q46_epoch_mix"].spark_fn(registered, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_q32_split_fusion_stays_expression_only(registered):
    """hash_split adds one CASE expression to q32 — still no Python
    workers in the mix/shuffle/split pipeline."""
    plan = _plan(_queries()["q32_corpus_mix"].spark_fn(registered, SF))
    assert "EvalPython" not in plan


def test_records_larger_than_a_tungsten_page(registered):
    """The session uses 1 MB Tungsten pages (below G1's humongous
    threshold). A row wider than a page must still pass through a hash
    aggregate and a sort, which give such a record a page of its own."""
    import pyspark.sql.functions as F

    assert registered.conf.get("spark.buffer.pageSize") == "1m"
    big = 3 * 1024 * 1024
    df = registered.range(0, 6, 1, 2).select(
        (F.col("id") % 2).alias("k"),
        F.expr(f"repeat(cast(id AS string), {big})").alias("s"),
    )
    rows = (
        df.groupBy("k")
        .agg(F.max("s").alias("s"), F.sum(F.length("s")).alias("n"))
        .orderBy(F.col("s").desc())
        .collect()
    )
    assert [(r.k, r.s[:1], len(r.s), r.n) for r in rows] == [
        (1, "5", big, 3 * big),
        (0, "4", big, 3 * big),
    ]


# the gate queries that share materialized frames between plan branches
SHARED_FRAME_QUERIES = (
    "q18", "q19", "q20", "q21", "q28", "q31", "q36",
    "q37", "q40", "q42", "q47", "q48", "q52",
)


def _spec(prefix: str):
    return next(s for n, s in _queries().items() if n.split("_")[0] == prefix)


@pytest.mark.parametrize("prefix", SHARED_FRAME_QUERIES)
def test_shared_frames_plan_no_rdd_leaf(registered, prefix):
    """No ``ExistingRDD`` leaf in the executed plan (persisted frames
    included: their cached plans print under InMemoryTableScan). Such a
    leaf is a local checkpoint or an RDD round trip, whose rows live only
    in the executor that computed them."""
    plan = _final_plan(_spec(prefix).spark_fn(registered, "/root/testdata/sf0.001"))
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("prefix,n_jobs", [("q31", 24), ("q42", 24)])
def test_shared_frame_job_counts(registered, prefix, n_jobs):
    """Spark jobs per run at sf0.001: a site that materializes a frame
    and needs its row count takes the count from that materialization
    (dup_clusters' regime count), with no second count job."""
    sc = registered.sparkContext
    gid = f"shared_frame_jobs_{prefix}"
    sc.setJobGroup(gid, gid)
    try:
        _spec(prefix).spark_fn(registered, "/root/testdata/sf0.001").collect()
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == n_jobs, (len(jobs), jobs)
