"""spark-submit entry: run the 500-query BM25 batch against a built index.

    python jobs/query_batch.py --index /tmp/idx --queries 500 --k 10 \
        [--op ranked_or|ranked_and|wand|maxscore|and|or]

An unknown --op is refused before anything is loaded. Prints one JSON
line: {queries, wall_sec, qps, op, k}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_index(spark, index_dir: str):
    """The relational index tables of an IndexBuilder directory,
    materialized; term_meta carries the term, so it is also the catalog
    serving resolves query terms against (wand.query_bounds)."""
    from dint_spark.build.postings import FullTextIndex
    from dint_spark.util import materialize

    t = {
        n: materialize(spark.read.parquet(os.path.join(index_dir, n)))
        for n in ("postings", "docs", "vocab", "term_meta")
    }
    return FullTextIndex(
        postings=t["postings"], docs=t["docs"], vocab=t["vocab"],
        term_meta=t["term_meta"], num_docs=t["docs"].count(), avgdl=0.0,
    )


def load_blocks(spark, index_dir: str):
    """(block index, codec) of an IndexBuilder directory. The codec is the
    one the index was BUILT with (its build lineage, builder.py "codec"):
    an auto-chosen multi_packed index must not be decoded as single."""
    from dint_spark.build.dint_build import model_class
    from dint_spark.codecs.registry import get_codec
    from dint_spark.util import materialize

    with open(os.path.join(index_dir, "_lineage", "index.json")) as f:
        codec_name = json.load(f).get("codec", "single_packed_dint")
    cls = model_class(codec_name)
    model = cls.load(spark, os.path.join(index_dir, "dint_model")) if cls else None
    bidx = materialize(spark.read.parquet(os.path.join(index_dir, "index")))
    return bidx, get_codec(codec_name, model)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="IndexBuilder out dir")
    ap.add_argument("--queries", type=int, default=500)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--op", default="ranked_or",
        choices=("ranked_or", "ranked_and", "wand", "maxscore", "and", "or"),
    )
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--repeats", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.getActiveSession()
    if spark is None:
        from dint_spark.session import get_spark

        spark = get_spark("dint_query_batch")

    from dint_spark.corpus import make_query_log
    from dint_spark.operators.boolean import and_query, or_query
    from dint_spark.operators.ranked import ranked_and, ranked_or

    idx = load_index(spark, args.index)
    postings, vocab, num_docs = idx.postings, idx.vocab, idx.num_docs
    # the block index, its codec and the serving artifacts are loaded
    # once per process, before the untimed warmup (queries.cpp:69-90)
    if args.op in ("wand", "maxscore"):
        bidx, codec = load_blocks(spark, args.index)
        from dint_spark.operators.wand_shard import serving_artifacts

        serving = serving_artifacts(idx, bidx)

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
        if args.op in ("wand", "maxscore"):
            from dint_spark.operators.wand_shard import (
                maxscore_topk_sharded,
                wand_topk_sharded,
            )

            fn = wand_topk_sharded if args.op == "wand" else maxscore_topk_sharded
            return fn(idx, bidx, codec, qdf, num_docs, k=args.k, **serving).count()
        if args.op == "and":
            return and_query(postings, qdf).count()
        return or_query(postings, qdf).count()

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
