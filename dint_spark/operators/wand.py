"""The front half of pruned top-k BM25: query-term bounds and the θ seed.

Reference semantics (/root/reference/include/ds2i/queries.hpp):
  wand_query     (:190-307) — pivot on Σ max-weights vs θ (current kth
                  score); skip via next_geq over block maxima.
  maxscore_query (:459-573) — essential/non-essential list split by
                  cumulative max-weight bounds.

Both run in the doc-sharded cogroup kernel (operators/wand_shard.py).
This module builds what the kernel is handed besides the blocks, lazily
and with nothing collected (plan build runs no Spark job):
query_bounds resolves the query terms against term_meta, the per-term
bound table, and exact_seed gives the θ seed for k > TOPK_BOUND_K.

θ seed: METADATA ONLY for k ≤ 10 (the harness's fixed k,
queries.cpp:105-111). term_meta stores w10, the 10th-largest BM25 doc
weight of the list; a term with df ≥ 10 guarantees 10 docs whose total
score ≥ qw·w10, so θ = max over query terms of qw·w10 lower-bounds the
true kth with NO posting decode. For k > 10: the exact kth partial
score of the best term via a BOUNDED two-phase top-k (_bounded_kth:
partition-local head(k) Arrow kernel, ≤ k rows per query per
partition, then a ≤ k·P-row final slice — never an unbounded
collect_list, even for a df≈N stopword term).

Losslessness (rank-identical to ranked_or, the reference's own oracle,
test_ranked_queries.cpp:42-74): every true top-k doc has score ≥ the
true kth ≥ θ_seed, so pruning against θ_eff = θ_seed − 2e-9 never
drops it. A pruned doc has true score < θ_eff; if it resurfaces through
another list with a PARTIAL score, that is ≤ its true score < θ_eff,
and after 9-decimal rounding it sits strictly below every true top-k
doc (gap 2e-9 > rounding quantum 1e-9).

θ safety margin: final ranking rounds scores to 9 decimals (oracle
parity), so scores within 1e-9 can round equal and tie-break by doc_id;
θ_eff = θ − 2e-9 keeps every potentially-tying doc. 9 decimals (not 6)
matters: on tiny-vocab corpora every idf clamps to eps=1e-6 and ALL
scores are ≈2e-6 — a 2e-6 margin would zero θ and disable pruning
exactly where WAND is being exercised; at 1e-9 resolution those scores
separate and pruning stays real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from dint_spark.build.blocks import decode_block_index
from dint_spark.build.postings import FullTextIndex
from dint_spark.functions.bm25 import doc_term_weight, query_term_weight
from dint_spark.operators.boolean import query_terms

THETA_MARGIN = 2e-9


def _bounded_kth(scores: DataFrame, k: int) -> DataFrame:
    """(query_id, cnt, kth) — kth-largest `_s` per query, bounded memory.

    Phase 1: Arrow kernel keeps the top k scores per query PER PARTITION
    (the reference's topk_queue, queries.hpp:150-188 — one bounded heap
    per partition). Phase 2: final slice over ≤ k·num_partitions rows
    per query. No unbounded aggregation buffer anywhere.
    """

    def local(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cand = pd.concat([best, pdf], ignore_index=True) if best is not None else pdf
            cand = cand.sort_values(["query_id", "_s"], ascending=[True, False])
            best = cand.groupby("query_id", sort=False).head(k)
        if best is not None and len(best):
            yield best

    local_top = scores.mapInPandas(local, "query_id long, _s double")
    return (
        local_top.groupBy("query_id")
        .agg(F.slice(F.sort_array(F.collect_list("_s"), asc=False), 1, k).alias("_t"))
        .select(
            "query_id",
            F.size("_t").alias("cnt"),
            F.element_at("_t", -1).alias("kth"),
        )
    )


def query_bounds(idx: FullTextIndex, queries: DataFrame, num_docs: int) -> DataFrame:
    """(query_id, term, qtf, term_id, df, max_weight, w10, qw) — the
    query terms resolved against term_meta, the per-term bound table
    (wand_data.hpp:34-49), in ONE broadcast join."""
    qt = query_terms(queries, dedup=False).join(  # query_id, term, qtf
        F.broadcast(idx.term_meta.select("term", "term_id", "df", "max_weight", "w10")),
        "term",
    )
    return qt.withColumn(
        "qw", query_term_weight(F.col("qtf"), F.col("df"), F.lit(num_docs))
    )


def exact_seed(idx: FullTextIndex, bidx: DataFrame, codec, qt: DataFrame, k: int) -> DataFrame:
    """(query_id, seed) for k > TOPK_BOUND_K: the kth-best PARTIAL score
    of each query's highest-upper-bound term, less THETA_MARGIN — a valid
    lower bound on the true kth TOTAL score (total ≥ partial for every
    doc). qt is query_bounds() output. One extra decode of ONE list per
    query through the bounded two-phase top-k (_bounded_kth); queries
    whose best list holds < k docs get no row (θ then starts at 0)."""
    w_best = W.partitionBy("query_id").orderBy(
        F.desc(F.col("qw") * F.col("max_weight")), F.asc("term_id")
    )
    best = (
        qt.withColumn("_r", F.row_number().over(w_best))
        .filter(F.col("_r") == 1)
        .select("query_id", "term_id", "qw")
    )
    best_dec = decode_block_index(
        bidx.join(
            F.broadcast(best.select("term_id").distinct()), "term_id", "left_semi"
        ),
        codec,
    )
    # docs join: no broadcast hint — norm_len is O(num_docs); AQE picks
    # broadcast when it fits, shuffle join when it doesn't (10^12 docs).
    scores = (
        best_dec.join(idx.docs.select("doc_id", "norm_len"), "doc_id")
        .join(F.broadcast(best), "term_id")
        .select(
            "query_id",
            (F.col("qw") * doc_term_weight(F.col("tf"), F.col("norm_len"))).alias("_s"),
        )
    )
    return (
        _bounded_kth(scores, k)
        .filter(F.col("cnt") >= k)
        .select(
            "query_id",
            F.greatest(F.col("kth") - F.lit(THETA_MARGIN), F.lit(0.0)).alias("seed"),
        )
    )
