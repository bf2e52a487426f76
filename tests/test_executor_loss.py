"""Executor-loss tier: the gate queries whose plans share materialized
frames, run on a ``local-cluster[2,1,1024]`` master (two executor JVMs,
one core and 1 GB each), with every executor killed and replaced as soon
as a persisted frame of the query holds blocks. Each result must still
equal its DuckDB oracle: a shared frame must be recoverable from
lineage, not tied to the executor that computed it. One more case runs
``dup_clusters``' distributed regime (``driver_edge_limit=0``) and kills
the executors in the middle of its checkpointed label loop.

A process holds one SparkContext, and the suite's own session is
``local[N]``, so the tier runs its session in a subprocess: this file,
run as a script, is that subprocess.

    python tests/test_executor_loss.py SF_DIR [query-prefix ...]
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
QUERIES = (
    "q18", "q19", "q20", "q21", "q28", "q31", "q36",
    "q37", "q40", "q42", "q47", "q48", "q52",
)
# queries that persist no frame at sf0.001 (nothing to lose)
NOTHING_CACHED = ("q36",)
# the tier's own bound: session start, 13 queries and 13 executor
# replacements (~10 s each) on two one-core executors
TIER_TIMEOUT_S = 900


@pytest.mark.executor_loss
def test_gate_queries_survive_executor_loss(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.run(
        [sys.executable, __file__, SF, *QUERIES, "dup_clusters"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=TIER_TIMEOUT_S,
    )
    report = [ln for ln in proc.stdout.splitlines() if ln.startswith(("OK ", "FAIL "))]
    assert proc.returncode == 0, "\n".join(report) + "\n" + proc.stderr[-4000:]
    assert len(report) == len(QUERIES) + 1, report
    assert all(ln.startswith("OK ") for ln in report), report
    # every case that persisted a frame lost its executors once, and no
    # case left a frame persisted after its scope
    for ln in report:
        name = ln.split()[1]
        kills = 0 if name.split("_")[0] in NOTHING_CACHED else 1
        assert f" kills={kills} leaked=0 " in ln, ln


# ---------------------------------------------------------------------------
# subprocess side


def _executor_ids(sc) -> list[str]:
    ids = sc._jsc.sc().getExecutorIds()
    return [ids.apply(i) for i in range(ids.size())]


def _wait_for_executors(sc, exclude=frozenset(), n: int = 2, timeout: float = 120.0):
    """Wait until ``n`` executors outside ``exclude`` are registered."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        now = set(_executor_ids(sc))
        if len(now) >= n and not now & exclude:
            return
        time.sleep(0.5)
    raise TimeoutError(f"{n} executors outside {set(exclude)} not up in {timeout} s")


def _replace_executors(sc) -> None:
    """Kill every executor, then wait until the replacements register."""
    old = set(_executor_ids(sc))
    for e in old:
        sc._jsc.sc().killAndReplaceExecutor(e)
    _wait_for_executors(sc, old)


def _cached_partitions(sc) -> int:
    return sum(r.numCachedPartitions() for r in sc._jsc.sc().getRDDStorageInfo())


class _Killer:
    """A driver thread that, while armed, kills and replaces every
    executor the first time ``ready()`` holds, by default as soon as a
    persisted frame has a cached block. A query's first materialization
    may be lazy, so the kill cannot simply follow the call that persists
    the frame: it waits for blocks to exist, whichever job fills them.
    ``disarm()`` waits for a kill in progress and returns how many
    replacements happened since ``arm()``, with what a replacement
    raised."""

    def __init__(self, sc):
        self.sc = sc
        self.lock = threading.Lock()
        self.ready = None
        self.kills = 0
        self.error = None
        threading.Thread(target=self._run, daemon=True).start()

    def arm(self, ready=None) -> None:
        # the previous case's blocks are removed asynchronously
        deadline = time.monotonic() + 60
        while _cached_partitions(self.sc):
            if time.monotonic() > deadline:
                raise TimeoutError("the previous case's cached blocks stay")
            time.sleep(0.1)
        with self.lock:
            self.kills = 0
            self.ready = ready or (lambda: _cached_partitions(self.sc) > 0)

    def disarm(self) -> tuple[int, Exception | None]:
        with self.lock:
            self.ready = None
            error, self.error = self.error, None
            return self.kills, error

    def _run(self) -> None:
        while True:
            time.sleep(0.05)
            with self.lock:
                try:
                    if self.ready is not None and self.ready():
                        self.ready = None
                        _replace_executors(self.sc)
                        self.kills += 1
                except Exception as e:  # returned by disarm()
                    self.error = e


def _drop_persisted(sc) -> int:
    """Unpersist every RDD still persisted; returns how many there were.
    After a case's ``broadcast_scope`` exits this should be none: each
    frame an operator persisted is released with the scope."""
    rdds = list(sc._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def _dup_clusters_case(spark, killer: _Killer) -> tuple[bool, str]:
    """The distributed regime on the random graph of
    test_dup_clusters_regimes_agree, with the executors killed once its
    cached edge table holds blocks and two label rounds are checkpointed:
    it must equal the driver regime."""
    import random

    from exon_spark.operators.dedup import dup_clusters

    random.seed(5)
    edges = [(random.randrange(200), random.randrange(200)) for _ in range(150)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a bigint, doc_b bigint"
    )
    want = sorted(map(tuple, dup_clusters(pairs).collect()))
    ckpt = spark.sparkContext.getCheckpointDir().removeprefix("file:")

    def mid_loop() -> bool:
        rounds = [d for d in os.listdir(ckpt) if d.startswith("rdd-")]
        return len(rounds) >= 2 and _cached_partitions(spark.sparkContext) > 0

    killer.arm(mid_loop)
    got = sorted(map(tuple, dup_clusters(pairs, driver_edge_limit=0).collect()))
    return got == want, "" if got == want else f"{len(got)} rows vs {len(want)}"


def _why(e: Exception) -> str:
    """The Spark error class (``[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND]``) if
    the message carries one, else its first line."""
    import re

    m = re.search(r"\[[A-Z][A-Z_.]{8,}\]", str(e))
    return m.group(0) if m else str(e).splitlines()[0][:300]


def _main(sf: str, cases: list[str]) -> int:
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tools"))
    import duckdb
    from check_correctness import normalize

    from exon_spark import get_spark
    from exon_spark.operators.state import broadcast_scope
    from exon_spark.queries import ALL_QUERIES, TABLES

    spark = get_spark(
        app_name="executor-loss",
        master="local-cluster[2,1,1024]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    _wait_for_executors(sc)
    killer = _Killer(sc)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf}/{t}.parquet'")

    def query_case(spec):
        killer.arm()
        got = normalize(spec.spark_fn(spark, sf).toPandas())
        want = normalize(con.execute(spec.oracle).df())
        return got == want, "" if got == want else f"{len(got)} rows vs oracle {len(want)}"

    runs = [(n, lambda s=s: query_case(s)) for n, s in ALL_QUERIES.items()
            if n.split("_")[0] in cases]
    if "dup_clusters" in cases:
        runs.append(("dup_clusters_distributed", lambda: _dup_clusters_case(spark, killer)))
    failures = 0
    for name, run in runs:
        t0 = time.monotonic()
        try:
            with broadcast_scope():
                ok, why = run()
        except Exception as e:  # report the case's failure, run the rest
            ok, why = False, _why(e)
        kills, error = killer.disarm()
        if error is not None:
            ok, why = False, f"executor replacement: {_why(error)}"
        leaked = _drop_persisted(sc)
        failures += not ok
        print(
            f"{'OK' if ok else 'FAIL'} {name} kills={kills} leaked={leaked} "
            f"{time.monotonic() - t0:.1f}s {why}",
            flush=True,
        )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(_main(sys.argv[1], sys.argv[2:]))
