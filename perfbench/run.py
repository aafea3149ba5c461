"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads: serve and build (see serve.py
and build.py). With --trace 0 the last stdout line
holds the end-to-end metrics; with --trace 1 it holds the per-layer ones
(layers.PER_LAYER) from a run that records spans, parses a Spark event
log and times the codec in process. Host load and a fixed CPU probe,
taken before and after the run, go to stderr as diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.getcwd()

WORKLOADS = ("serve", "build")
E2E_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "work_per_s": "1/s",
    "docs_bpi": "bits/int",
    "freqs_bpi": "bits/int",
    "index_bytes_per_posting": "B",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare-serve", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "dint_spark")) and os.path.isdir(os.path.join(ROOT, "jobs"))):
        print("run from the root of a dint_spark checkout (dint_spark/ and jobs/ missing)",
              file=sys.stderr)
        return 2
    if args.workload is None and not args.prepare_serve:
        ap.error("--workload is required")

    from perfbench import common, layers, metrics

    work = os.path.join(ROOT, "perfbench", "_work")
    common.configure_env(ROOT, work)
    from perfbench import build, serve

    if args.prepare_serve:
        serve.prepare(ROOT, work)
        return 0

    before = metrics.host_probe()
    if args.workload == "build":
        res = build.run(args.seed, args.seconds, bool(args.trace), ROOT, work)
    else:
        res = serve.run(args.seed, args.seconds, bool(args.trace), ROOT, work)
    after = metrics.host_probe()

    diag = {"workload": args.workload, "seed": args.seed, "host_before": before,
            "host_after": after, **res["summary"]}
    print(json.dumps(diag), file=sys.stderr)
    for note in res["notes"]:
        print(f"note: {note}")
    if args.trace:
        values, units = res["layers"], layers.PER_LAYER
    else:
        values, units = res["e2e"], E2E_UNITS
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    # import the benchmark as the package perfbench, never its files as top-level modules
    sys.path[0] = ROOT
    sys.exit(main())
