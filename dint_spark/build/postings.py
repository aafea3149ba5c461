"""Index-side relational tables: postings / docs / vocab / term_meta.

This is the Spark re-creation of the ds2i data model (SURVEY.md §1):

  postings(term, term_id, doc_id, tf)      — the exploded truth; the
      reference's paired .docs/.freqs sequences
      (binary_freq_collection.hpp:11-99) row-oriented.
  docs(doc_id, doc_len, norm_len)          — the .sizes file + wand_data
      norm_lens (wand_data.hpp:20-32).
  vocab(term, term_id, df)                 — term-ids are dense ordinals
      (dict_freq_index.hpp:174); we order lexicographically (deterministic
      and oracle-reproducible).
  term_meta(term_id, term, df, max_weight, w10) — wand_data
      max_term_weight (wand_data.hpp:34-49); also the query-term catalog.

Scale notes (10^12-doc design):
* postings comes from ONE shuffle: groupBy(term, doc_id) with map-side
  partial aggregation (Catalyst HashAggregate partial/final). No window.
* docs is a second narrow aggregate of the same token stream.
* vocab uses dense_ids (two-level prefix-sum, docids.py) — no global sort
  bottleneck.
* term_meta is postings ⋈ docs on doc_id. At test scale docs broadcasts;
  at cluster scale both sides are large → sort-merge on doc_id; the result
  is tiny (one row per term).
* For query time we DENORMALIZE norm_len into postings: +8 bytes/posting
  pre-compression buys removal of the postings⋈docs shuffle from every
  query batch — the Spark analog of the reference's O(1)
  norm_lens[docid] array lookup (wand_data.hpp:55-58).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from dint_spark.build.docids import dense_ids
from dint_spark.util import materialize
from dint_spark.functions.bm25 import doc_term_weight

TOPK_BOUND_K = 10  # the reference harness's fixed top-k (queries.cpp:105-111);
#   term_meta.w10 = 10th-largest list weight → WAND's metadata-only θ seed.
META_BUCKET_BITS = 16  # build_term_meta level 1: per (term, 2^16-doc bucket)
META_MERGE_BITS = 12  # build_term_meta level 2: 4096 buckets per merge


@dataclass
class FullTextIndex:
    """Uncompressed (relational) index — the phase-1 query surface."""

    postings: DataFrame  # term, term_id, doc_id, tf [, norm_len]
    docs: DataFrame      # doc_id, doc_len, norm_len
    vocab: DataFrame     # term, term_id, df
    term_meta: DataFrame # term_id, term, df, max_weight, w10
    num_docs: int
    avgdl: float


def build_docs(tokens: DataFrame) -> "tuple[DataFrame, int, float]":
    """(docs(doc_id, doc_len, norm_len), num_docs, avgdl);
    norm_len = len/avg (wand_data.hpp:21-32).

    num_docs and avgdl come from ONE scalar aggregate over the doc_len
    frame — the old shape ran three separate driver actions (avg here,
    then count + avg again in build_fulltext_index), each a full
    aggregation job over the token stream."""
    doc_len = tokens.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    row = doc_len.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avg")
    ).first()
    num_docs, avgdl = int(row["n"]), float(row["avg"] or 0.0)
    docs = doc_len.withColumn(
        "norm_len", F.col("doc_len").cast("double") / F.lit(avgdl)
    )
    return docs, num_docs, avgdl


def build_postings_raw(tokens: DataFrame) -> DataFrame:
    """postings keyed by term string: (term, doc_id, tf). One shuffle."""
    return tokens.groupBy("term", "doc_id").agg(F.count("*").cast("long").alias("tf"))


def build_vocab(
    postings_raw: DataFrame,
    scalable: bool = True,
    num_partitions: "int | None" = None,
) -> DataFrame:
    """vocab(term, term_id, df); term_id = lexicographic dense rank.

    scalable=True (the DEFAULT — a code corpus has O(N) distinct
    identifiers, so the global window is a single-partition sort at
    scale) uses the two-level prefix-sum assigner (docids.dense_ids);
    False uses a plain window rank — exact same ids, kept for
    small-fixture debugging.

    num_partitions: range-partition count for the assigner. Callers
    that know the corpus size should pass a data-derived value —
    dense_ids' defaultParallelism default measured 4.3 s vs 0.8 s at 1
    partition for a 31-term vocab (32 near-empty range slices, each a
    Python-worker task).
    """
    df_per_term = postings_raw.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    if scalable:
        return dense_ids(
            df_per_term, ["term"], "term_id", num_partitions=num_partitions
        ).select("term", "term_id", "df")
    from pyspark.sql import Window as W

    w = W.orderBy("term")
    return df_per_term.withColumn("term_id", (F.row_number().over(w) - 1).cast("long")).select(
        "term", "term_id", "df"
    )


def build_term_meta(postings: DataFrame, docs: DataFrame, num_docs: int) -> DataFrame:
    """term_meta(term_id, term, df, max_weight, w10) — wand_data.hpp:34-49.

    postings must carry `term`; it rides the group keys, so term_meta is
    also the serving catalog (operators/wand.py query_bounds).

    max_weight = max over the posting list of the BM25 doc-side weight;
    it UPPER-bounds any doc's contribution for the term (the WAND bound).
    w10 = the TOPK_BOUND_K-th (=10, the harness's fixed k) largest weight
    in the list; qw·w10 LOWER-bounds the true kth-best total score for
    any query containing the term, giving WAND a θ seed from term
    metadata alone (the θ seed, operators/wand.py). NULL when df < 10.

    Scale shape: a three-level tree aggregation — per (term, 2^16-doc
    bucket, META_BUCKET_BITS) bounded top-10 (collect_list bounded by
    bucket population), a 4096-way merge level (META_MERGE_BITS), then
    the per-term merge (≤ ~4k arrays of 10 even for a df≈10^12
    stopword). No unbounded per-term buffer; docs join carries no
    broadcast hint (both sides are data-sized at cluster scale — AQE
    picks the strategy).
    """
    p = postings
    if "norm_len" not in p.columns:
        p = p.join(docs.select("doc_id", "norm_len"), "doc_id")
    dtw = doc_term_weight(F.col("tf"), F.col("norm_len"))
    K = TOPK_BOUND_K
    lvl1 = (
        p.withColumn("_b1", F.shiftrightunsigned("doc_id", META_BUCKET_BITS))
        .groupBy("term_id", "term", "_b1")
        .agg(
            F.count("*").alias("_n"),
            F.max(dtw).alias("_mx"),
            F.slice(F.sort_array(F.collect_list(dtw), asc=False), 1, K).alias("_t"),
        )
    )
    lvl2 = (
        lvl1.withColumn("_b2", F.shiftrightunsigned("_b1", META_MERGE_BITS))
        .groupBy("term_id", "term", "_b2")
        .agg(
            F.sum("_n").alias("_n"),
            F.max("_mx").alias("_mx"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("_t")), asc=False), 1, K
            ).alias("_t"),
        )
    )
    return lvl2.groupBy("term_id", "term").agg(
        F.sum("_n").cast("long").alias("df"),
        F.max("_mx").alias("max_weight"),
        F.get(
            F.sort_array(F.flatten(F.collect_list("_t")), asc=False), K - 1
        ).alias("w10"),
    )


def build_fulltext_index(tokens: DataFrame) -> FullTextIndex:
    """tokens(doc_id, term) → full relational index, every table
    materialized; postings carry the denormalized norm_len.

    term_ids come from the two-level prefix-sum assigner
    (build_vocab(scalable=True), round-2 verdict #3: no global
    single-partition window). It produces the same ids as the window
    path (tests/test_build.py asserts it).
    """
    docs, num_docs, avgdl = build_docs(tokens)
    docs = materialize(docs)

    raw = build_postings_raw(tokens)
    # Scale-adaptive assigner layout: distinct terms ≤ total tokens =
    # num_docs·avgdl, targeted at ~4M terms per range partition (the
    # same density the materialized right-sizing below uses), capped at
    # the session parallelism. Derived from corpus stats already in
    # hand — NOT from the cluster size alone, so a tiny corpus stops
    # paying a defaultParallelism-wide Python-worker fan-out (measured
    # 4.3 s → 0.8 s for the sf0.1 vocab) while a 10^9-doc corpus still
    # spreads across every core.
    est_tokens = max(1, int(num_docs * avgdl))
    nparts = max(1, min(
        tokens.sparkSession.sparkContext.defaultParallelism,
        -(-est_tokens // (1 << 22)),
    ))
    vocab = materialize(build_vocab(raw, scalable=True, num_partitions=nparts))
    # Right-size the materialized layout: dense_ids range-partitions
    # across defaultParallelism slices, so a small vocab came back as
    # ~32 near-empty partitions and every later scan (each query's
    # broadcast build) scheduled one task per slice — measured 31
    # tasks per scan for a 31-row table. Scale-adaptive: ~4M rows
    # per partition; the count is one build-time job over the
    # already-checkpointed frame, and the coalesce is narrow (reads
    # the checkpoint blocks, assigns ids nowhere — safe AFTER the
    # materialization barrier, unsafe inside dense_ids).
    nparts = vocab.rdd.getNumPartitions()
    want = max(1, -(-vocab.count() // (1 << 22)))
    if want < nparts:
        vocab = vocab.coalesce(want)

    # No broadcast hints: vocab is O(distinct terms) and docs is
    # O(num_docs) — both data-sized at cluster scale. AQE broadcasts
    # them when runtime stats say they fit, sort-merges when they don't.
    # Denormalized norm_len: the reference's norm_lens[] random access
    # becomes a build-time join instead of a query-time one.
    postings = materialize(
        raw.join(vocab.select("term", "term_id"), "term")
        .join(docs.select("doc_id", "norm_len"), "doc_id")
        .select("term", "term_id", "doc_id", "tf", "norm_len")
    )
    term_meta = materialize(build_term_meta(postings, docs, num_docs))

    return FullTextIndex(
        postings=postings,
        docs=docs,
        vocab=vocab,
        term_meta=term_meta,
        num_docs=num_docs,
        avgdl=float(avgdl),
    )
