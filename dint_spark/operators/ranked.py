"""Ranked BM25 query operators — ranked_or / ranked_and, batch top-k.

Reference semantics (/root/reference/include/ds2i/queries.hpp):
  ranked_or_query  (:387-457) — exhaustive union-merge, BM25 score every
      matching doc, top-k heap. This is the reference's own correctness
      oracle for WAND/MaxScore (test_ranked_queries.cpp:42-74).
  ranked_and_query (:309-385) — score only docs matching ALL terms.
  topk_queue       (:150-188) — bounded heap; we use
      ORDER BY score DESC LIMIT k per query (TakeOrderedAndProject).

Fully relational — no UDFs; BM25 is native column math (functions/bm25.py).
Whole query batch in one job: the per-query loop of the reference becomes
a groupBy(query_id, doc_id), embarrassingly parallel across queries.

Tie-breaking (SURVEY.md §7 hard spot 2): the reference heap keeps scores
only; rank-identical docIDs require a deterministic order → we rank by
(round(score, 9) DESC, doc_id ASC). Rounding before ranking makes the
order reproducible across engines computing in float64: with ≤ dozens of
terms and scores ≤ O(10²), summation-order differences are ≤ ~1e-12 —
far inside the 1e-9 quantum — while 9 decimals keeps even eps-clamped
dense-term scores (≈2.2e-6 · dtw, tiny-vocab corpora) distinguishable,
so WAND's θ pruning stays effective on them (the θ margin,
operators/wand.py).

Scale: postings is pre-filtered to query terms by a broadcast join (the
scan reads only matching terms — with a term-bucketed index table this is
partition pruning). The only wide shuffle is groupBy(query_id, doc_id),
with map-side partial aggregation. Top-k per query is a window over
(query_id) — bounded by k·|queries| output rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from dint_spark.functions.bm25 import doc_term_weight, query_term_weight
from dint_spark.operators.boolean import query_terms

SCORE_ROUND = 9


def _scored_postings(
    postings: DataFrame, queries: DataFrame, vocab: DataFrame, num_docs: int
) -> DataFrame:
    """(query_id, doc_id, partial score) for every (query term, posting) hit."""
    qt = query_terms(queries, dedup=False)  # (query_id, term, qtf)
    qt = qt.join(F.broadcast(vocab.select("term", "df")), "term", "left").select(
        "query_id",
        "term",
        "qtf",
        F.coalesce("df", F.lit(0)).alias("df"),
    )
    qw = query_term_weight(F.col("qtf"), F.col("df"), F.lit(num_docs))
    qt = qt.withColumn("_qw", qw)
    return (
        postings.select("term", "doc_id", "tf", "norm_len")
        .join(F.broadcast(qt.select("query_id", "term", "_qw")), "term")
        .select(
            "query_id",
            "doc_id",
            (F.col("_qw") * doc_term_weight(F.col("tf"), F.col("norm_len"))).alias("_s"),
        )
    )


def score_all(
    postings: DataFrame, queries: DataFrame, vocab: DataFrame, num_docs: int
) -> DataFrame:
    """(query_id, doc_id, score) for every doc matching ≥1 term (OR mode)."""
    return (
        _scored_postings(postings, queries, vocab, num_docs)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, doc_id, score, rank) — top-k per query, deterministic ties.

    row_number window over (query_id): with the session's shuffle-state
    hygiene (periodic GC, session.py) this measured 1.4-2.8s on a 10M-row
    scored set at local[8..32] — faster than both a
    sort_array(collect_list) aggregation (35-67s) and an Arrow
    partition-local pandas heap. The reference's bounded heap
    (topk_queue, queries.hpp:150-188) corresponds to the window's
    per-partition TopK sort under ORDER BY + rank filter.
    """
    scored = scored.withColumn("score", F.round(F.col("score"), SCORE_ROUND))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def ranked_or(
    postings: DataFrame,
    queries: DataFrame,
    vocab: DataFrame,
    num_docs: int,
    k: int = 10,
) -> DataFrame:
    """Exhaustive BM25 top-k (queries.hpp:387-457). The pruning oracle.

    Plan: broadcast-joined scoring → ONE wide shuffle (the
    groupBy(query_id, doc_id) aggregation; bucket postings by doc_id on
    a cluster to elide it) → window top-k (see topk).
    """
    return topk(score_all(postings, queries, vocab, num_docs), k)


def ranked_and(
    postings: DataFrame,
    queries: DataFrame,
    vocab: DataFrame,
    num_docs: int,
    k: int = 10,
) -> DataFrame:
    """Conjunctive BM25 top-k (queries.hpp:309-385).

    Docs must contain ALL distinct query terms; scoring still uses qtf
    multiplicities. Implemented as score_all restricted by a per-doc
    distinct-term count == |q| (same single shuffle, second lightweight agg).
    """
    from dint_spark.operators.boolean import query_nterms

    nterms = query_nterms(queries)
    # ONE aggregation computes both the score and the matched-term count
    # (_scored_postings emits exactly one row per (query, term, doc)), so
    # the AND filter adds no extra shuffle — and with doc_id-partitioned
    # postings the aggregation itself is shuffle-free.
    scored = (
        _scored_postings(postings, queries, vocab, num_docs)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"), F.count("*").alias("_nt"))
        .join(F.broadcast(nterms), "query_id")
        .filter(F.col("_nt") == F.col("_k"))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)
