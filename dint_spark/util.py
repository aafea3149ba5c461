"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a DataFrame AND truncate its logical plan.

    `.cache()` keeps the full lineage: every later operation over the
    cached frame re-runs Catalyst analysis of the whole tree, and with a
    build pipeline's lineage (tokenize → groupBys → windows → joins →
    pandas UDFs) analysis alone grows to seconds per operator — measured
    ~100s of pure py4j/analysis overhead in a WAND plan over cached
    inputs. `localCheckpoint(eager=True)` stores the partitions and
    replaces the plan with a leaf scan.

    Local-mode note: localCheckpoint blocks live on the single executor
    (= driver). On a real cluster prefer a reliable checkpoint dir
    (sc.setCheckpointDir + .checkpoint()) or write/re-read a table —
    the engine's persistent path does exactly that (index/builder.py
    writes parquet between stages).
    """
    return df.localCheckpoint(eager=True)


_MEMO: dict = {}


def memo(spark, key, build):
    """build() once per (live session, key) — the one memo for every
    per-session serving artifact (index tables, block indexes, norm
    slices, ...).

    Keyed the way memo_broadcast is: the SparkContext is stored with the
    value and a hit is served only if it `is` this session's context, so
    a restarted session is never handed frames of a dead one. Entries
    whose context has stopped are dropped on every call, so a dead
    session's frames are not pinned either."""
    sc = spark.sparkContext
    for k in [k for k, (hit_sc, _v) in _MEMO.items() if hit_sc._jsc is None]:
        del _MEMO[k]
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is sc:
        return hit[1]
    val = build()
    _MEMO[key] = (sc, val)
    return val


_BC_CACHE: dict = {}
_BC_CACHE_MAX = 64  # a session holds a handful of codecs; bound the pins


def memo_broadcast(spark, obj):
    """Memoized sc.broadcast(obj) keyed on (context, object) IDENTITY —
    the live objects, not their (recyclable) ids.

    Codec objects (with their dictionary models, MB-class for DINT)
    were re-pickled and re-shipped on every decode/serve call — a fixed
    per-call cost for a per-index artifact. Both the SparkContext and
    the object are strongly referenced in the cache value and compared
    with `is`, so a broadcast can never be served to a different
    (restarted) context whose id() happens to collide, and a recycled
    object id can never alias. The cache is FIFO-bounded so a
    long-lived process churning codecs cannot pin broadcasts forever;
    an evicted broadcast is unpersisted (not destroyed: a plan that
    still holds it re-fetches the value from the driver)."""
    sc = spark.sparkContext
    key = id(obj)
    hit = _BC_CACHE.get(key)
    if hit is not None and hit[0] is sc and hit[1] is obj:
        return hit[2]
    bc = sc.broadcast(obj)
    if len(_BC_CACHE) >= _BC_CACHE_MAX:
        old_sc, _obj, old_bc = _BC_CACHE.pop(next(iter(_BC_CACHE)))
        if old_sc._jsc is not None:  # a stopped context freed it already
            old_bc.unpersist(blocking=False)
    _BC_CACHE[key] = (sc, obj, bc)
    return bc
