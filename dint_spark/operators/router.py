"""Plan-level cost-based routing between the two oracle-identical
top-k realizations.

The engine has two rank-identical ways to answer a ranked batch over
the same index artifacts (both hash-green against the DuckDB oracle,
both rank-identical on the reference's 500-query log —
tests/test_reference_queryset.py):

  * the EXHAUSTIVE relational plan (operators/ranked.py ranked_or):
    broadcast-pruned postings scan → one wide partial-agg groupBy →
    window top-k. Its cost grows with the batch's scored rows
    (Σ_q Σ_t df(t)) — the shuffle is batch × postings.
  * the sharded cogroup kernel (operators/wand_shard.py): ships the
    batch's index slice once, then prunes per (query, shard). Its cost
    is a FIXED set of stages (slice semi-join + shard explode + norm
    slices + cogroup setup) plus a near-constant marginal cost per
    query (measured 197.7 q/s at local[8] on the 5.4M-posting corpus).

Measured crossover (BENCH/scaling.json r4, local[8], 5.4M postings):
at 500 queries ranked_or wins 9.3s vs 16.9s; at 2,000 queries the
cogroup wins 24.4s vs 92.6s — a 4× inversion. Nothing chose the plan
until now; a user running small interactive batches silently paid the
cogroup's fixed stages (the r4 VERDICT's "What's missing #2").

The router estimates both walls from the batch's metadata — Q and the
scored-row total, one tiny agg over queries × broadcast vocab — and
dispatches. The relational estimate deliberately uses the HIGH
measured rate (its throughput degrades superlinearly once the scored
shuffle spills, 1.37M rows/s at 500q → 0.56M at 2,000q), which biases
routing toward the relational plan only NEAR the crossover, where both
plans are within ~2× anyway. Routing is correctness-free: both
realizations are oracle-green, so a miscalibrated constant costs only
latency, never results.

Constants are calibrated on the 5.4M-posting scaling corpus at
local[8] (BENCH/BASELINE.md); on a real cluster they shift together
(more executors speed both plans), and only their RATIO — fixed
stages vs per-row work — sets the crossover, which moves as
sqrt-of-nothing: the decision flips around t_cog ≈ t_rel and both
neighborhoods are low-regret.

Reference role: the reference is single-node and always DAAT — it has
no exhaustive fallback to route to (queries.cpp:105-111 constructs one
op per run). The routing need is Spark-native: fixed stage latency is
a cluster phenomenon.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from dint_spark.operators.boolean import query_terms
from dint_spark.operators.ranked import ranked_or
from dint_spark.operators.wand_shard import (
    maxscore_topk_sharded,
    wand_topk_sharded,
)

# fallback literals, calibrated at local[8] on the 5.4M-posting corpus
# (BENCH/scaling.json r4 + the scored-row calibration in
# BENCH/BASELINE.md §routing). The SERVING source of truth is the
# measurement artifact below — r5 VERDICT ask #5: "derive router constants
# from artifacts, not literals".
ROUTE_REL_ROWS_PER_SEC = 1.37e6  # exhaustive plan, scored rows/s (high-water)
ROUTE_COG_FIXED_SEC = 14.3       # cogroup fixed stages (wall − Q/marginal)
ROUTE_KERNEL_QPS = 197.7         # cogroup marginal rate (two-batch separation)

# measurement artifact written by BENCH/run_scaling.py from the SAME
# two-batch-size separation that calibrated the literals — rerunning the
# scaling bench on new hardware re-derives the constants with no code
# change. Override with $DINT_ROUTE_CONSTANTS; a missing/partial/corrupt
# artifact falls back field-by-field to the literals.
_ARTIFACT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCH",
    "route_constants.json",
)
_ART: "dict | None" = None


def route_constants() -> dict:
    """{rel_rows_per_sec, cog_fixed_sec, kernel_qps} — artifact-derived
    with literal fallback, memoized per process."""
    global _ART
    if _ART is None:
        vals = {
            "rel_rows_per_sec": ROUTE_REL_ROWS_PER_SEC,
            "cog_fixed_sec": ROUTE_COG_FIXED_SEC,
            "kernel_qps": ROUTE_KERNEL_QPS,
            "source": "literals",
        }
        path = os.environ.get("DINT_ROUTE_CONSTANTS", _ARTIFACT_PATH)
        try:
            with open(path) as f:
                d = json.load(f)
            for k in ("rel_rows_per_sec", "cog_fixed_sec", "kernel_qps"):
                v = d.get(k)
                if isinstance(v, (int, float)) and v > 0:
                    vals[k] = float(v)
                    vals["source"] = path
        except (OSError, ValueError):
            pass
        _ART = vals
    return _ART


def route_decision(
    n_queries: int,
    scored_rows: int,
    rel_rows_per_sec: "float | None" = None,
    cog_fixed_sec: "float | None" = None,
    kernel_qps: "float | None" = None,
) -> str:
    """Pure decision: 'relational' or 'cogroup' from batch metadata.

    t_rel  = scored_rows / rel_rows_per_sec      (linear, high-rate →
                                                  conservative toward
                                                  the relational plan)
    t_cog  = cog_fixed_sec + n_queries / kernel_qps

    Constants default to the measured artifact (route_constants); the
    decision is correctness-free either way — both realizations are
    oracle-identical, so a drifted constant costs latency near the
    crossover, never results, and the regret is bounded there because
    the flip happens where t_rel ≈ t_cog (tests/test_router.py pins a
    ±2× perturbation sweep).
    """
    c = route_constants()
    if rel_rows_per_sec is None:
        rel_rows_per_sec = c["rel_rows_per_sec"]
    if cog_fixed_sec is None:
        cog_fixed_sec = c["cog_fixed_sec"]
    if kernel_qps is None:
        kernel_qps = c["kernel_qps"]
    t_rel = scored_rows / rel_rows_per_sec
    t_cog = cog_fixed_sec + n_queries / kernel_qps
    return "relational" if t_rel <= t_cog else "cogroup"


def topk_auto(
    idx,
    bidx,
    codec,
    queries: DataFrame,
    num_docs: int,
    norms=None,
    k: int = 10,
    algo: str = "wand",
    universe: "int | None" = None,
    force: "str | None" = None,
    sharded_bidx: "DataFrame | None" = None,
) -> DataFrame:
    """Ranked top-k with cost-based plan choice.

    Computes (Q, scored_rows) with one tiny agg — query_terms joined to
    the broadcast vocab df column — then runs EITHER the exhaustive
    relational plan (ranked_or over idx.postings) or the sharded
    cogroup kernel (wand/maxscore over the compressed blocks). Both
    return (query_id, doc_id, score, rank) with identical ranking
    semantics (round-to-9 before rank, ties → doc_id ASC).

    force: 'relational' | 'cogroup' overrides the decision (tests,
    A/B benches)."""
    if force is None:
        qt = query_terms(queries, dedup=True).join(
            F.broadcast(idx.vocab.select("term", "df")), "term"
        )
        row = qt.agg(
            F.countDistinct("query_id").alias("q"),
            F.sum("df").alias("s"),
        ).first()
        nq = int(row["q"] or 0)
        scored = int(row["s"] or 0)
        choice = route_decision(nq, scored)
    else:
        choice = force
    if choice == "relational":
        return ranked_or(idx.postings, queries, idx.vocab, num_docs, k=k)
    fn = wand_topk_sharded if algo == "wand" else maxscore_topk_sharded
    return fn(idx, bidx, codec, queries, num_docs, norms, k=k,
              universe=universe, sharded_bidx=sharded_bidx)
