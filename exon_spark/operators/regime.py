"""Size regimes: the one answer to "is this input above its scale floor?".

Operators keep an oracle-exact latency plan at or below a ``FLOORS`` row
floor and take a scale plan above it; SCALE.md "Size regimes" has the
table. Each decision logs one ``exon_spark.regime`` record with
``operator``, ``floor``, ``rows``, ``source`` and ``regime`` attributes."""

from __future__ import annotations

import logging
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

log = logging.getLogger("exon_spark.regime")

FLOORS: dict[str, int] = {
    # corpora at or below this row count keep semantic_dedup's oracle-exact
    # expr regime; larger ones take the scale regime (udf assignment +
    # grouped pairs). 2^17 sits 60x above the largest DuckDB-gated corpus
    # (sf0.1: 2.2k vectors) and below the sf10 board (220k), where the expr pair stream is already the measured
    # bottleneck (62 s, vs aborting outright at sf100) and no in-process
    # oracle row exists for this operator.
    "vectors": 131_072,
    # corpora above this many docs take the scale spellings of the
    # shared-frame operators (minhash_dedup's and ngram_containment_pairs'
    # prefilters, ngram_jaccard_pairs' eager fill, tfidf_keywords' doc_id
    # exchange), whose extra jobs cost more than they save below it (q19
    # sf0.1: 2.58 -> 2.23 s without the prefilter). STALE BASIS: 2^18 was
    # measured as the crossover of columnar persist against a raw-block
    # checkpoint, which is gone; the crossover of the spellings it gates
    # now was never measured (needs corpora around 2^18 docs, sf1-sf10).
    "columnar": 262_144,
    # corpora at or below this document count keep dup_ngram_coverage's
    # oracle-bit-true string gram keys; larger ones take the 8-byte
    # xxhash64 keys (collision P ~ 2^-64 per gram pair — can only ADD one
    # window, never drop coverage). 2^20 sits 2x above the largest
    # oracle-proven corpus (sf10: 500k docs) and below the sf100 replica
    # (5M), where string keys are a measured single-box disk-death.
    "hashed_grams": 1_048_576,
    # corpora above this document count stage their fused gates' corpus-
    # tokenizing arms sequentially (materialize one arm's narrow per-doc
    # output before the next plans) instead of letting them run concurrently:
    # concurrency stacks each arm's in-flight Arrow state, and at the sf100
    # probe (5M docs) that put q42's floor at 2.5 GB/core (G1 GCLocker
    # exhaustion) while a single arm passes at 1.5. Below the threshold the
    # arms overlap freely — serializing them costs measured wall time at
    # small SFs (q36 2.5->4.8 s at sf0.1) for memory nobody is short of.
    # r13: lowered 2^20 -> 2^18 (the shared regime constant) after a full
    # sf10 bench leg OOMed the 8 GB heap inside q42's dsir materialization
    # with GCLocker retry warnings — the same mechanism the sf100 probe hit
    # — in a JVM warmed by 41 prior queries. Isolated q42 runs passed at
    # sf10 every time; the in-bench heap is the binding constraint, and the
    # staged spelling costs ~1 tiny materialization at sf10 while halving
    # peak concurrent Arrow state. sf0.1/sf1 (<= 50k docs) keep the
    # overlapped arms.
    "stage_arms": 262_144,
}


def _footer_rows(df: DataFrame) -> int | None:
    """Parquet footer rows summed over the optimized plan's leaves, or
    None unless every leaf is a parquet scan of local files."""
    import pyarrow.parquet as pq

    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    files = []
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        # a HadoopFsRelation prints as its format's short name
        if leaf.getClass().getSimpleName() != "LogicalRelation" or (
            leaf.relation().toString() != "parquet"
        ):
            return None
        files += [urlparse(f) for f in leaf.relation().location().inputFiles()]
    if any(f.scheme != "file" for f in files):
        return None
    try:
        return sum(pq.ParquetFile(unquote(f.path)).metadata.num_rows for f in files)
    except OSError:  # unreadable footer: let the count decide
        return None


def _sized(df: DataFrame, n_rows: int | None, op: str) -> tuple[int, str]:
    if n_rows is not None:
        return int(n_rows), "hint"
    n = _footer_rows(df)
    if n is not None:
        return n, "footers"
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{op}: regime row count")
    try:
        return df.count(), "count"
    finally:
        sc.setJobDescription(prev)


def rows(df: DataFrame, n_rows: int | None = None, op: str = "rows") -> int:
    """The caller's ``n_rows`` if given; else parquet footer rows when every
    optimized-plan leaf is a local parquet scan, once per leaf, at zero
    Spark jobs (an over-estimate under filters, erring toward the scale
    plan); else one ``df.count()`` whose job description names ``op``."""
    return _sized(df, n_rows, op)[0]


def above(df: DataFrame, floor: str, op: str, n_rows: int | None = None) -> bool:
    """Whether ``op``'s input, sized by ``rows``, exceeds ``FLOORS[floor]``."""
    n, source = _sized(df, n_rows, op)
    regime = "scale" if n > FLOORS[floor] else "latency"
    log.info(
        "%s: %d rows (%s) vs %s floor -> %s", op, n, source, floor, regime,
        extra={"operator": op, "floor": floor, "rows": n, "source": source,
               "regime": regime},
    )
    return regime == "scale"
