"""Measure WAND pruning selectivity + phase timings at a given sf.

Usage: python tools/wand_profile.py [sf_dir]

Reports, for the bench query set:
  * total blocks of query terms (per query fan-out)
  * phase-1 surviving essential blocks (decoded for candidates)
  * phase-2 rescore blocks (decoded for scoring)
  * decoded-block fraction vs the exhaustive per-query plan
  * wall time of: metadata-only theta/split, phase-1, full wand, ranked_or
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W, functions as F

from dint_spark.engine import get_block_index, get_index
from dint_spark.functions.bm25 import query_term_weight
from dint_spark.operators.boolean import query_terms
from dint_spark.queryset import queries_df
from dint_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("wand_profile")
    idx = get_index(spark, sf_dir)
    bidx, codec = get_block_index(spark, sf_dir)
    queries = queries_df(spark)
    num_docs = idx.num_docs

    from dint_spark.build.postings import TOPK_BOUND_K
    from dint_spark.operators.wand import THETA_MARGIN, blocks_containing, wand_topk
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.build.blocks import decode_block_index

    # rebuild the metadata front half exactly as wand_topk does
    qt = query_terms(queries, dedup=False)
    qt = qt.join(F.broadcast(idx.vocab.select("term", "term_id", "df")), "term")
    qt = qt.withColumn("qw", query_term_weight(F.col("qtf"), F.col("df"), F.lit(num_docs)))
    qt = qt.join(
        F.broadcast(idx.term_meta.select("term_id", "max_weight", "w10")), "term_id"
    ).select(
        "query_id", "term_id", "qw",
        (F.col("qw") * F.col("max_weight")).alias("ub"),
        (F.col("qw") * F.col("w10")).alias("kth_lb"),
    )
    w_all = W.partitionBy("query_id").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    qt2 = qt.withColumn(
        "theta",
        F.coalesce(F.greatest(F.max("kth_lb").over(w_all) - THETA_MARGIN, F.lit(0.0)), F.lit(0.0)),
    )
    w_cum = (
        W.partitionBy("query_id").orderBy(F.asc("ub"), F.asc("term_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    qt2 = qt2.withColumn("cum_ub", F.sum("ub").over(w_cum)).withColumn(
        "sum_ub", F.sum("ub").over(w_all)
    )
    ess_meta = qt2.filter(F.col("cum_ub") >= F.col("theta")).select(
        "query_id", "term_id", "qw", "ub", "theta", "sum_ub"
    )

    nq_terms = qt.count()
    ness = ess_meta.count()
    print(f"query-term rows: {nq_terms}, essential: {ness}")

    bmeta = bidx.select("term_id", "block_id", "block_max_weight")
    total_qb = bmeta.join(F.broadcast(qt.select("query_id", "term_id").distinct()), "term_id")
    n_total = total_qb.count()

    ess_blocks = bmeta.join(F.broadcast(ess_meta), "term_id")
    n_ess = ess_blocks.count()
    surv = ess_blocks.filter(
        F.col("block_max_weight").isNull()
        | (F.col("qw") * F.col("block_max_weight") + (F.col("sum_ub") - F.col("ub")) >= F.col("theta"))
    )
    n_surv = surv.count()

    # phase-1 candidates exactly as wand_topk builds them
    ess_full = bidx.join(F.broadcast(ess_meta), "term_id").filter(
        F.col("block_max_weight").isNull()
        | (F.col("qw") * F.col("block_max_weight") + (F.col("sum_ub") - F.col("ub")) >= F.col("theta"))
    )
    cand = decode_block_index(
        ess_full, codec, extra_cols=(("query_id", "long"),), docs_only=True
    ).select("query_id", "doc_id")
    qt_df = qt.select("query_id", "term_id", "qw")
    pairs = cand.join(F.broadcast(qt_df), "query_id").select("term_id", "doc_id")
    bounds = bidx.select("term_id", "block_id", "block_base", "block_max").join(
        F.broadcast(qt_df), "term_id", "left_semi"
    )
    need = blocks_containing(bounds, pairs, max(256, num_docs // 1024))
    n_need = need.distinct().count()

    print(f"blocks of query terms (per-query fan-out): {n_total}")
    print(f"essential-term blocks:                     {n_ess}")
    print(f"surviving after block-max filter:          {n_surv}")
    print(f"rescore distinct (term, block):            {n_need}")
    frac = (n_surv + n_need) / max(1, n_total)
    print(f"decoded-block fraction vs exhaustive:      {frac:.3f}")

    # timings
    for name, fn in (
        ("ranked_or", lambda: ranked_or(idx.postings, queries, idx.vocab, num_docs).collect()),
        ("wand", lambda: wand_topk(idx, bidx, codec, queries, num_docs).collect()),
        ("phase1_cand_count", lambda: cand.count()),
    ):
        fn()
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        fn()
        print(f"{name}: {time.perf_counter() - t0:.2f}s")


if __name__ == "__main__":
    main()
