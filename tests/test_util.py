"""util.memo_broadcast (memoized codec broadcasts with a FIFO bound) and
util.memo (session-checked memo of serving artifacts)."""

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


def test_memo_builds_once_per_session(spark, monkeypatch):
    import dint_spark.util as U

    monkeypatch.setattr(U, "_MEMO", {})
    calls = []

    def build():
        calls.append(1)
        return ["artifact"]

    v = U.memo(spark, ("index", "sf"), build)
    assert U.memo(spark, ("index", "sf"), build) is v  # memo hit
    assert calls == [1]


def test_memo_rebuilds_entry_of_another_context(spark, monkeypatch):
    """An entry stored under a different (live) context object is never
    served to this session: a restarted session gets fresh frames."""
    import types

    import dint_spark.util as U

    other = types.SimpleNamespace(_jsc=object())
    monkeypatch.setattr(U, "_MEMO", {"k": (other, "stale")})
    assert U.memo(spark, "k", lambda: "fresh") == "fresh"
    assert U._MEMO["k"] == (spark.sparkContext, "fresh")


def test_memo_drops_entries_of_a_stopped_context(spark, monkeypatch):
    """Entries whose context has stopped are dropped on the next lookup
    of any key, so a dead session's frames are not pinned."""
    import types

    import dint_spark.util as U

    stopped = types.SimpleNamespace(_jsc=None)
    monkeypatch.setattr(U, "_MEMO", {"dead": (stopped, "frames")})
    assert U.memo(spark, "k", lambda: 1) == 1
    assert "dead" not in U._MEMO
    assert U._MEMO == {"k": (spark.sparkContext, 1)}
