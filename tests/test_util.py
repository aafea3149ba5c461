"""util.memo_broadcast: memoized codec broadcasts with a FIFO bound."""

from __future__ import annotations


def _read(spark, bc):
    return spark.sparkContext.parallelize([0], 1).map(lambda _: bc.value).collect()[0]


def test_memo_broadcast_evicts_and_rebroadcasts(spark, monkeypatch):
    import dint_spark.util as U

    monkeypatch.setattr(U, "_BC_CACHE", {})
    monkeypatch.setattr(U, "_BC_CACHE_MAX", 1)
    a, b = ["codec-a"], ["codec-b"]
    bc_a = U.memo_broadcast(spark, a)
    assert U.memo_broadcast(spark, a) is bc_a  # memo hit
    released = []
    unpersist = bc_a.unpersist
    monkeypatch.setattr(
        bc_a, "unpersist", lambda blocking=False: (released.append(blocking), unpersist(blocking))
    )
    bc_b = U.memo_broadcast(spark, b)  # evicts a
    assert list(U._BC_CACHE) == [id(b)]
    assert released == [False]
    # unpersist, not destroy: a plan still holding the evicted
    # broadcast re-fetches its value
    assert _read(spark, bc_a) == a
    bc_a2 = U.memo_broadcast(spark, a)  # re-broadcast after eviction
    assert bc_a2 is not bc_a
    assert _read(spark, bc_a2) == a
    assert _read(spark, bc_b) == b
