"""Broadcast lifecycle (r11, VERDICT r10 order 5): operator-created
``sc.broadcast`` handles are registered with the active
``broadcast_scope`` and reclaimed on exit — executor blocks via
``unpersist`` (default, re-ship-safe) or fully via ``destroy``."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from exon_spark.operators.state import broadcast_scope, track_broadcast


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id bigint, text string",
    )


def test_scope_collects_operator_broadcasts(spark, docs, monkeypatch):
    import exon_spark.operators.text as text

    # two phrases take the Aho-Corasick regime above a threshold of 0
    monkeypatch.setattr(text, "AC_PHRASE_THRESHOLD", 0)
    with broadcast_scope() as handles:
        out = text.phrase_tag(docs, {"greek": ["alpha beta", "gamma"]})
        n = out.count()
    assert n == 20
    # the AC automaton broadcast was created inside the scope and tracked
    assert len(handles) == 1
    # default exit = unpersist: the plan stays usable; the broadcast
    # re-ships lazily on re-evaluation
    assert out.count() == 20


def test_nested_scopes_track_innermost(spark):
    sc = spark.sparkContext
    with broadcast_scope() as outer:
        b_outer = track_broadcast(sc.broadcast([1]))
        with broadcast_scope() as inner:
            b_inner = track_broadcast(sc.broadcast([2]))
        assert inner == [b_inner]
    assert outer == [b_outer]
    # outside any scope: no tracking, no error
    b_free = track_broadcast(sc.broadcast([3]))
    assert b_free.value == [3]
    b_free.destroy()


def test_destroy_reclaims_blocks(spark, docs):
    from exon_spark.operators.unigram import unigram_segment

    vocab = {"alpha": -1.0, "beta": -1.0, "a": -3.0, "b": -3.0}
    with broadcast_scope(destroy=True) as handles:
        seg = unigram_segment(docs, vocab)
        assert seg.count() == 20
    assert len(handles) == 1
    # destroyed: the handle is unusable — a standing pipeline must
    # re-derive the operator (fresh broadcast) for the next batch
    with pytest.raises(Exception):
        handles[0].value  # noqa: B018
        # driver may keep a cached value; the executor path must fail
        seg.write.format("noop").mode("overwrite").save()


def test_scope_exit_survives_stopped_session(spark):
    # reclamation after the session is gone must not raise (the guard
    # in broadcast_scope's finally) — simulate with a pre-destroyed
    # handle rather than stopping the shared fixture session
    sc = spark.sparkContext
    with broadcast_scope(destroy=True) as handles:
        b = track_broadcast(sc.broadcast([1]))
        b.destroy()  # already gone when the scope tries to reclaim it
    assert handles == [b]


def test_scopes_are_thread_local(spark):
    """Concurrent driver threads (parallel batches of a standing
    pipeline) must not cross-register into each other's scopes — a
    destroy at one thread's scope exit would kill a broadcast mid-use
    elsewhere (r11 review finding)."""
    import threading

    sc = spark.sparkContext
    seen = {}

    def worker():
        with broadcast_scope() as mine:
            b = track_broadcast(sc.broadcast([2]))
            seen["worker"] = list(mine)
            assert mine == [b]

    with broadcast_scope() as outer:
        t = threading.Thread(target=worker)
        t.start()
        t.join()
        b_main = track_broadcast(sc.broadcast([1]))
    # the worker's broadcast never landed in the main thread's scope
    assert outer == [b_main]
    assert len(seen["worker"]) == 1
    assert seen["worker"][0] is not b_main
