"""Dictionary copy microbenchmark — the dict_perf_test surface (B14;
/root/reference/src/dict_perf_test.cpp:32-63: 10^7 random lookups × 10
runs over the rectangular dictionary, ns per copy()).

Our dictionary is a (K, 16) numpy matrix; copy() = one fancy-indexed
row gather per codeword (what codecs/dint.py _decode does for each
pattern codeword, batched here to time the gather alone).

Usage: python tools/dict_perf.py [--lookups 10000000] [--runs 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lookups", type=int, default=10_000_000)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--entries", type=int, default=65536 - 7)
    args = ap.parse_args()

    from dint_spark.codecs.dint import MAX_PATTERN

    rng = np.random.default_rng(7)
    matrix = rng.integers(0, 2**20, size=(args.entries, MAX_PATTERN)).astype(np.uint32)
    idx = rng.integers(0, args.entries, size=args.lookups)

    best = float("inf")
    for _ in range(args.runs):
        t0 = time.perf_counter()
        out = matrix[idx]  # the batched copy() — one row gather per lookup
        dt = time.perf_counter() - t0
        best = min(best, dt)
        del out
    print(
        json.dumps(
            {
                "metric": "dict_copy_ns",
                "value": round(best / args.lookups * 1e9, 3),
                "unit": "ns/copy",
                "lookups": args.lookups,
                "runs": args.runs,
                "entries": args.entries,
            }
        )
    )


if __name__ == "__main__":
    main()
