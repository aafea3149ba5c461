"""Train the decode-time predictors for mixed_block (B13).

The ``dec_time_regression.py`` role (ref:include/ds2i/
dec_time_regression.py): collect (block features, measured decode time)
samples per block type, fit a linear model per type, print per-type
error vs the constant (median) predictor — the same diagnostic the
reference logs — and write the predictors file the mixed codec loads
(``dint_spark/codecs/predictors_default.tsv``, the reference's
``load_predictors`` line format) plus ``BENCH/dec_time_model.json``
with the fit diagnostics.

Sampling: full 256-value blocks drawn from the distributions posting
residual streams actually produce (uniform by bit width, Zipf-gap-like,
constant runs, zero-heavy tf−1 streams). Decode times are medians of R
in-process reps (µs/block), interleaved across types per block so a
host-load swing hits all types equally (the repo's standard co-tenant
protocol).

Usage: python tools/dec_time_train.py [--reps 9] [--per-dist 40]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dint_spark.codecs import dec_time, mixed_block as mb


def sample_blocks(per_dist: int, rng: np.random.Generator) -> "list[np.ndarray]":
    n = mb.BLOCK_SIZE
    blocks: list[np.ndarray] = []
    for _ in range(per_dist):
        b = int(rng.integers(1, 29))
        blocks.append(rng.integers(0, 1 << b, n).astype(np.uint32))
    for _ in range(per_dist):  # doc-gap-like: zipf-ish small gaps
        g = rng.zipf(1.3, n).astype(np.uint64) - 1
        blocks.append(np.minimum(g, (1 << 27) - 1).astype(np.uint32))
    for _ in range(per_dist):  # tf-1-like: zero-heavy
        v = np.where(
            rng.random(n) < 0.8, 0, rng.integers(1, 64, n)
        ).astype(np.uint32)
        blocks.append(v)
    for _ in range(per_dist):  # constant runs
        c = int(rng.integers(0, 16))
        blocks.append(np.full(n, c, dtype=np.uint32))
    return blocks


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=9)
    ap.add_argument("--per-dist", type=int, default=40)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    blocks = sample_blocks(args.per_dist, rng)

    samples: dict[int, list[tuple[np.ndarray, float]]] = {t: [] for t in mb.BLOCK_TYPES}
    for v in blocks:
        fv_base = dec_time.values_statistics(v)
        for btype in mb.BLOCK_TYPES:  # interleaved across types per block
            fv = fv_base.copy()
            buf = mb.compression_stats(btype, v, fv)
            if buf is None:
                continue
            dec = mb._DECODERS[btype]
            dec(buf, v.size)  # warm
            times = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                dec(buf, v.size)
                times.append((time.perf_counter() - t0) * 1e6)
            samples[btype].append((fv, float(np.median(times))))

    predictors: dict[int, dec_time.Predictor] = {}
    diag: dict[str, dict] = {}
    for btype, rows in samples.items():
        fvs = np.stack([r[0] for r in rows])
        ts = np.array([r[1] for r in rows])
        # 80/20 split, same diagnostic as the reference's train()
        idx = rng.permutation(len(rows))
        cut = int(0.8 * len(rows))
        tr, te = idx[:cut], idx[cut:]
        p = dec_time.fit(fvs[tr], ts[tr])
        lr_err = float(np.mean(np.abs(p.predict_many(fvs[te]) - ts[te])))
        const_err = float(np.mean(np.abs(np.median(ts[tr]) - ts[te])))
        predictors[btype] = dec_time.fit(fvs, ts)  # final fit on all rows
        diag[mb.TYPE_NAMES[btype]] = {
            "samples": len(rows),
            "median_us": round(float(np.median(ts)), 2),
            "mae_linear_us": round(lr_err, 2),
            "mae_constant_us": round(const_err, 2),
        }
        print(
            f"type {btype} ({mb.TYPE_NAMES[btype]}): n={len(rows)} "
            f"median={diag[mb.TYPE_NAMES[btype]]['median_us']}us "
            f"MAE linear={lr_err:.2f}us vs constant={const_err:.2f}us"
        )

    out_tsv = os.path.join(REPO, "dint_spark", "codecs", "predictors_default.tsv")
    dec_time.save_predictors(out_tsv, predictors)
    out_json = os.path.join(REPO, "BENCH", "dec_time_model.json")
    with open(out_json, "w") as f:
        json.dump(
            {
                "reps": args.reps,
                "per_dist": args.per_dist,
                "unit": "us_per_decoded_block",
                "types": diag,
                "loadavg_1m": round(os.getloadavg()[0], 2),
            },
            f,
            indent=1,
        )
    print(f"wrote {out_tsv} and {out_json}")


if __name__ == "__main__":
    main()
