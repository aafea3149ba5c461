"""spark-submit entry: run the 500-query BM25 batch against a built index.

    python jobs/query_batch.py --index /tmp/idx --queries 500 --k 10 \
        [--op ranked_or|wand|and|or]

Prints one JSON line: {queries, wall_sec, qps, op, k}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="IndexBuilder out dir")
    ap.add_argument("--queries", type=int, default=500)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--op", default="ranked_or")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.getActiveSession()
    if spark is None:
        from dint_spark.session import get_spark

        spark = get_spark("dint_query_batch")

    from dint_spark.build.postings import FullTextIndex
    from dint_spark.corpus import make_query_log
    from dint_spark.operators.boolean import and_query, or_query
    from dint_spark.operators.ranked import ranked_and, ranked_or
    from dint_spark.util import materialize

    load = lambda t: materialize(spark.read.parquet(os.path.join(args.index, t)))
    postings = load("postings")
    docs = load("docs")
    vocab = load("vocab")
    term_meta = load("term_meta")
    num_docs = docs.count()
    idx = FullTextIndex(
        postings=postings, docs=docs, vocab=vocab, term_meta=term_meta,
        num_docs=num_docs, avgdl=0.0,
    )

    qlog = make_query_log(args.queries, seed=args.seed)
    # few, right-sized slices (not defaultParallelism)
    qdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(qid, terms) for qid, terms in qlog],
            max(1, len(qlog) // 4096),
        ),
        "query_id long, terms array<string>",
    )

    def run():
        if args.op == "ranked_or":
            return ranked_or(postings, qdf, vocab, num_docs, k=args.k).count()
        if args.op == "ranked_and":
            return ranked_and(postings, qdf, vocab, num_docs, k=args.k).count()
        if args.op in ("wand", "wand_twophase", "maxscore"):
            from dint_spark.build.dint_build import DintModel, MultiDintModel
            from dint_spark.codecs.registry import get_codec

            # serve the codec the index was BUILT with (recorded in the
            # build lineage — builder.py "codec"); an auto-chosen
            # multi_packed index must not be decoded as single
            with open(os.path.join(args.index, "_lineage", "index.json")) as f:
                codec_name = json.load(f).get("codec", "single_packed_dint")
            cls = (
                MultiDintModel
                if codec_name == "multi_packed_dint"
                else DintModel
            )
            model = cls.load(spark, os.path.join(args.index, "dint_model"))
            codec = get_codec(codec_name, model)
            bidx = materialize(spark.read.parquet(os.path.join(args.index, "index")))
            if args.op == "wand_twophase":
                from dint_spark.operators.wand import wand_topk

                return wand_topk(idx, bidx, codec, qdf, num_docs, k=args.k).count()
            from pyspark.sql import functions as F

            from dint_spark.operators.wand_shard import (
                maxscore_topk_sharded,
                norm_slices,
                shard_block_max,
                sharded_block_index,
                static_layout,
                wand_topk_sharded,
            )

            # norm slices + shard_block_max are INDEX artifacts (static
            # layout): pack once per process and reuse across the batch
            # runs — the serving shape (engine.get_norm_slices /
            # get_sharded_blocks); no driver-side per-doc collect anywhere
            global _SLICES, _UNIVERSE, _SHARDED
            if "_SLICES" not in globals():
                _UNIVERSE = int(docs.agg(F.max("doc_id")).first()[0]) + 1
                _nsh, ss = static_layout(_UNIVERSE)
                _SLICES = materialize(
                    norm_slices(docs.select("doc_id", "norm_len"), ss)
                )
                # pre-sharded block artifact (engine.get_sharded_blocks
                # shape): the shard explode + shard_block_max refinement
                # happen ONCE per index, not per batch
                _SHARDED = materialize(
                    sharded_block_index(
                        bidx, ss,
                        shard_block_max(
                            postings.select(
                                "term_id", "doc_id", "tf", "norm_len"
                            ),
                            ss,
                        ),
                    )
                )
            fn = wand_topk_sharded if args.op == "wand" else maxscore_topk_sharded
            return fn(
                idx, bidx, codec, qdf, num_docs, _SLICES, k=args.k,
                universe=_UNIVERSE, sharded_bidx=_SHARDED,
            ).count()
        if args.op == "and":
            return and_query(postings, qdf).count()
        if args.op == "or":
            return or_query(postings, qdf).count()
        raise SystemExit(f"unknown op {args.op}")

    run()  # warmup pass, untimed (op_perftest protocol, queries.cpp:13-37)
    t0 = time.perf_counter()
    for _ in range(args.repeats):
        n = run()
    wall = (time.perf_counter() - t0) / args.repeats
    out = {
        "op": args.op,
        "queries": args.queries,
        "k": args.k,
        "rows": n,
        "wall_sec": round(wall, 3),
        "qps": round(args.queries / wall, 2),
    }
    if args.op == "ranked_or":
        # batch scored-row total Σ_q Σ_t df(t) — the router's cost-model
        # input (operators/router.py); one tiny metadata agg, untimed
        from dint_spark.operators.boolean import query_terms

        sr = (
            query_terms(qdf, dedup=True)
            .join(F.broadcast(vocab.select("term", "df")), "term")
            .agg(F.sum("df"))
            .first()[0]
        )
        out["scored_rows"] = int(sr or 0)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
