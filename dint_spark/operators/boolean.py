"""Boolean query operators — AND / OR / pairwise intersect.

Reference semantics (/root/reference/include/ds2i/queries.hpp):
  and_query  (:34-84)  — k-way sort-merge intersection over posting lists,
                         returns the match COUNT; terms deduped (:29-32).
  or_query   (:86-130) — k-way union-merge, counts distinct docs; deduped.
  intersect  (pair_wise_intersect.cpp:28-59) — 2-list intersection
                         materializing matching docIDs.

Spark realization (SURVEY.md §2.3): the reference's leapfrog `next_geq`
merge IS an equi-join on doc_id. We run the whole query batch at once:

  AND: postings ⋈ (query, term) → groupBy(query_id, doc_id)
       .agg(count(distinct term)) .filter(= |q|)  → count per query.
       The smallest-list-first heuristic (queries.hpp:50-54) is Catalyst's
       job here — a single grouped aggregation replaces the k-way join
       tree, so ordering is moot; skew on dense terms is handled by AQE.
  OR:  distinct (query_id, doc_id) pairs → count per query.

Both are ONE shuffle over the filtered postings (query terms only — the
postings⋈queries broadcast join prunes everything else at the scan, and
only doc_id/term columns are read: lazy-freq semantics, column pruning ==
dict_posting_list.hpp:164-169 lazy freq decode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def query_terms(queries: DataFrame, dedup: bool) -> DataFrame:
    """Explode (query_id, terms[]) → (query_id, term[, qtf]).

    dedup=True: boolean semantics (remove_duplicate_terms, queries.hpp:29-32).
    dedup=False adds qtf = multiplicity (query_freqs, queries.hpp:135-148),
    computed with array higher-order functions INSIDE the row (explode the
    distinct terms, count multiplicity with a lambda over the original
    array) instead of explode+groupBy — the groupBy formulation paid a
    full Exchange at the root of every query plan (boolean, ranked, WAND
    metadata) just to count duplicates within one row's array.
    """
    if dedup:
        return queries.select(
            "query_id", F.explode(F.array_distinct("terms")).alias("term")
        )
    return queries.select(
        "query_id",
        F.explode(F.array_distinct("terms")).alias("term"),
        F.col("terms").alias("_terms"),
    ).select(
        "query_id",
        "term",
        F.size(F.filter("_terms", lambda x: x == F.col("term")))
        .cast("long")
        .alias("qtf"),
    )


def query_nterms(queries: DataFrame) -> DataFrame:
    """(query_id, _k) — distinct-term count per query, exchange-free
    (size∘array_distinct on the terms array; the explode+groupBy
    formulation paid a shuffle for a per-row scalar)."""
    return queries.select(
        "query_id", F.size(F.array_distinct("terms")).cast("long").alias("_k")
    )


def and_query(postings: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, matches) — docs containing ALL distinct query terms.

    Queries whose terms match no common doc report 0 (left join keeps them).
    """
    qt = query_terms(queries, dedup=True)
    nterms = query_nterms(queries)
    hits = (
        postings.select("term", "doc_id")
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("_nt"))  # (term, doc_id) unique in postings
        .join(F.broadcast(nterms), "query_id")
        .filter(F.col("_nt") == F.col("_k"))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("matches"))
    )
    # hits is ≤ one row per query — broadcast it; without the hint the
    # stats-free createDataFrame left side forces a SortMergeJoin
    # (Exchange+Sort on both sides) for a |queries|-row join.
    return (
        queries.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select("query_id", F.coalesce("matches", F.lit(0)).cast("long").alias("matches"))
    )


def or_query(postings: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, matches) — count of docs containing ANY query term."""
    qt = query_terms(queries, dedup=True)
    hits = (
        postings.select("term", "doc_id")
        .join(F.broadcast(qt), "term")
        .groupBy("query_id")
        .agg(F.count_distinct("doc_id").cast("long").alias("matches"))
    )
    return (
        queries.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select("query_id", F.coalesce("matches", F.lit(0)).cast("long").alias("matches"))
    )


def intersect_pair(postings: DataFrame, term_a: str, term_b: str) -> DataFrame:
    """Materializing pairwise intersection (pair_wise_intersect.cpp:28-59).

    left-semi join: doc_ids present in BOTH posting lists, ascending.
    """
    la = postings.filter(F.col("term") == term_a).select("doc_id")
    lb = postings.filter(F.col("term") == term_b).select("doc_id")
    return la.join(lb, "doc_id", "left_semi").select("doc_id")
