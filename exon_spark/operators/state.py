"""Byte-blob persistence for small driver-side index state
(BloomFilter bitmaps, PQ codebooks) — the sidecar convention next to
``minhash_index``'s parquet state for standing pipelines.

Beyond-reference layer (no exon counterpart).

These objects are megabytes, not datasets, so they persist as single
files via the JVM Hadoop ``FileSystem`` API when a SparkSession is up —
the same path space the cluster already writes (``file:``, ``hdfs:``,
``s3a:``), no extra client libraries, atomic-enough single-stream
writes. Without a session (offline tooling), plain local file IO.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# Broadcast lifecycle (r11; SCALE.md "Known trade-offs"). Operators that ship
# pickled state to executors via ``sc.broadcast`` (segmenter vocabs, bloom
# bitmaps, classifier LUTs, PQ codebook LUTs) bind the handle into a lazy
# plan and historically never released it — correct for one-shot jobs, but a
# standing pipeline that re-derives operators per batch accumulates executor
# broadcast blocks until GC gets around to them; persisted shared frames
# (``dedup._materialize``) stay in Spark's cache manager for the session.
# ``broadcast_scope`` makes both lifecycles explicit without changing any
# operator signature.
# ---------------------------------------------------------------------------

import threading

_SCOPE_TLS = threading.local()


def _scopes() -> list[tuple[list, list]]:
    # thread-local, NOT module-global: concurrent driver threads (the
    # standing-pipeline audience runs batches in parallel) must not
    # cross-register broadcasts into each other's scopes — a destroy at
    # one thread's scope exit would kill a broadcast mid-use elsewhere.
    # Each open scope is a (broadcasts, frames) pair.
    if not hasattr(_SCOPE_TLS, "stack"):
        _SCOPE_TLS.stack = []
    return _SCOPE_TLS.stack


def track_broadcast(bc):
    """Register a freshly-created ``sc.broadcast`` handle with the
    innermost active :func:`broadcast_scope` of THIS thread (no-op when
    none is active). Every exon operator that creates a pickled
    broadcast routes through this hook, so callers never need the
    handle itself."""
    stack = _scopes()
    if stack:
        stack[-1][0].append(bc)
    return bc


def track_frame(df):
    """``track_broadcast`` for a frame ``dedup._materialize`` persisted:
    the scope unpersists it at exit (no scope: it stays cached)."""
    stack = _scopes()
    if stack:
        stack[-1][1].append(df)
    return df


@contextmanager
def broadcast_scope(destroy: bool = False):
    """Scope the executor lifetime of operator-created broadcasts and
    of the shared frames operators persist.

    Usage (the per-batch pattern for standing pipelines)::

        with broadcast_scope() as handles:
            out = bpe_segment(batch_df, vocab)   # broadcasts vocab
            out.write.parquet(dest)              # evaluate INSIDE the scope

    On exit every broadcast created inside the scope is ``unpersist``-ed
    (executor blocks dropped eagerly instead of waiting for driver GC).
    With ``destroy=True`` the handles are destroyed outright — full
    driver+executor reclamation, but any plan holding the handle becomes
    unusable, so only destroy when nothing derived in the scope will be
    re-evaluated. The default is safe either way: an unpersisted
    broadcast re-ships lazily if a retained plan is re-run.

    Frames persisted inside the scope are unpersisted on exit, so no
    later plan reads them for their sources (``handles`` lists only the
    broadcasts); a retained plan that is re-run recomputes them.

    The alternative (no scope) remains correct: hoist the operator call
    OUT of the per-batch loop so one broadcast serves every batch —
    preferable when the shipped state itself is loop-invariant."""
    handles: list = []
    frames: list = []
    stack = _scopes()
    stack.append((handles, frames))
    try:
        yield handles
    finally:
        stack.pop()
        for bc in handles:
            try:
                if destroy:
                    bc.destroy(blocking=False)
                else:
                    bc.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped; nothing left to reclaim
        for df in frames:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass


def _session(spark: SparkSession | None) -> SparkSession | None:
    return spark or SparkSession.getActiveSession()


def write_state_bytes(
    path: str, data: bytes, spark: SparkSession | None = None
) -> None:
    """Write ``data`` to ``path`` (overwrites). Hadoop FS when a Spark
    session exists — any scheme the cluster can write — else local."""
    spark = _session(spark)
    if spark is None:
        with open(path, "wb") as fh:
            fh.write(data)
        return
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_state_bytes(path: str, spark: SparkSession | None = None) -> bytes:
    """Read all of ``path``; the mirror of ``write_state_bytes``."""
    spark = _session(spark)
    if spark is None:
        with open(path, "rb") as fh:
            return fh.read()
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        # IOUtils ships with Hadoop on every Spark classpath
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data)
