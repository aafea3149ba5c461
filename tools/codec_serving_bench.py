"""Serve-bench the codec surfaces (r5 VERDICT "what's missing #2" /
ask #4): wall-clock of the SAME sharded WAND kernel serving
single_packed_dint vs pef_opt vs mixed_block indexes, plus bits/int —
the storage-vs-serving axis BASELINE.md already gives for multi_packed.

Protocol mirrors tools/multi_serving_report.py: all cells interleaved
back-to-back in the same load window (codec A run i, codec B run i, ...)
so co-tenant drift hits every codec equally; best + median of N.

Usage: python tools/codec_serving_bench.py [--sf /root/testdata/sf0.1]
       [--runs 5] [--queries-repeat 1]
Writes BENCH/r06/codec_serving.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CODECS = ["single_packed_dint", "pef_opt", "mixed_block"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dint_spark.session import get_spark
    from dint_spark.engine import get_block_index, get_index, get_serving
    from dint_spark.operators.wand_shard import wand_topk_sharded
    from dint_spark.queryset import queries_df

    spark = get_spark("codec_serving_bench")
    idx = get_index(spark, args.sf)
    get_serving(spark, args.sf)  # universe + norm slices, shared by every codec

    # prepare every codec's serving artifacts up front (index-build-class
    # costs, untimed — the engine serving path, wand_shard.serving_artifacts)
    arts = {}
    for name in CODECS:
        t0 = time.perf_counter()
        bidx, codec = get_block_index(spark, args.sf, name)
        serving = get_serving(spark, args.sf, name)
        prep = time.perf_counter() - t0
        st = bidx.agg(
            F.sum("n").alias("n"),
            F.sum(F.octet_length("docs_bytes")).alias("db"),
            F.sum(F.octet_length("freqs_bytes")).alias("fb"),
        ).first()
        arts[name] = {
            "bidx": bidx,
            "codec": codec,
            "serving": serving,
            "prep_sec": round(prep, 2),
            "docs_bpi": round(8.0 * st["db"] / st["n"], 3),
            "freqs_bpi": round(8.0 * st["fb"] / st["n"], 3),
        }

    def serve(name):
        a = arts[name]
        return wand_topk_sharded(
            idx, a["bidx"], a["codec"], queries_df(spark), idx.num_docs,
            k=10, **a["serving"],
        )

    # correctness cross-check first: identical rankings across codecs
    ref = sorted(map(tuple, serve(CODECS[0]).collect()))
    for name in CODECS[1:]:
        got = sorted(map(tuple, serve(name).collect()))
        assert got == ref, f"{name} diverges from {CODECS[0]}"

    walls: dict[str, list[float]] = {n: [] for n in CODECS}
    for _ in range(args.runs):
        for name in CODECS:  # interleaved cells
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            serve(name).collect()
            walls[name].append(round(time.perf_counter() - t0, 3))

    try:
        load = round(os.getloadavg()[0], 2)
    except OSError:
        load = None
    out = {
        "sf": args.sf,
        "runs": args.runs,
        "op": "wand_topk_sharded k=10, 16-query reference batch",
        "host_load_1m_end": load,
        "codecs": {
            n: {
                "walls_sec": walls[n],
                "best_sec": min(walls[n]),
                "median_sec": sorted(walls[n])[len(walls[n]) // 2],
                "docs_bpi": arts[n]["docs_bpi"],
                "freqs_bpi": arts[n]["freqs_bpi"],
                "prep_sec": arts[n]["prep_sec"],
            }
            for n in CODECS
        },
    }
    os.makedirs(os.path.join("BENCH", "r06"), exist_ok=True)
    with open(os.path.join("BENCH", "r06", "codec_serving.json"), "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
