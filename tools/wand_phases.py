"""Marginal wall-time of each WAND plan phase in a fresh bench-like
session: theta/split metadata, phase-1 candidates, next_geq need set,
full wand, ranked_or. Run: python tools/wand_phases.py [sf_dir]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(spark, name, fn, runs=3):
    fn()
    ts = []
    for _ in range(runs):
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    print(f"{name}: med={sorted(ts)[len(ts)//2]:.2f}s runs={[round(t,2) for t in ts]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from dint_spark.session import get_spark
    from dint_spark.engine import get_block_index, get_index
    from dint_spark.queryset import queries_df

    spark = get_spark("wand_phases")
    idx = get_index(spark, sf_dir)
    bidx, codec = get_block_index(spark, sf_dir)
    queries = queries_df(spark)

    from pyspark.sql import functions as F
    from dint_spark.build.blocks import decode_block_index
    from dint_spark.operators import wand as Wm
    from dint_spark.operators.ranked import ranked_or

    num_docs = idx.num_docs

    # ranked_or baseline
    timed(spark, "ranked_or", lambda: ranked_or(idx.postings, queries, idx.vocab, num_docs).collect())

    # full wand
    timed(spark, "wand_full", lambda: Wm.wand_topk(idx, bidx, codec, queries, num_docs).collect())

    # piecewise: reproduce internals by monkey-patching exit points
    import types

    # phase A: metadata preamble only — run wand up to ess_meta by calling
    # the internal pieces (duplicated logic kept in tools/wand_profile.py);
    # here we time cheap proxies instead: decode-all and decode-docs-only.
    timed(spark, "decode_all_blocks_full", lambda: decode_block_index(bidx, codec).count())
    timed(
        spark,
        "decode_all_blocks_docsonly",
        lambda: decode_block_index(bidx, codec, docs_only=True).count(),
    )
    timed(
        spark,
        "exhaustive_over_index(ranked_or on decoded)",
        lambda: ranked_or(
            decode_block_index(bidx, codec).join(
                idx.docs.select("doc_id", "norm_len"), "doc_id"
            ).join(idx.vocab.select("term", "term_id"), "term_id"),
            queries,
            idx.vocab,
            num_docs,
        ).collect(),
    )


if __name__ == "__main__":
    main()
