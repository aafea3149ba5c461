"""Build workload: IndexBuilder(..., codec_name="single_packed_dint")
from an empty directory over a corpus read from parquet: tokenize, dense
ids, posting aggregation, DINT learning, block encode and the verifying
decode. Each build must compute every stage, verify with nothing missing
or extra, and keep the corpus's sha256 invariant.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from perfbench import common, inputs, layers, metrics

CODEC = "single_packed_dint"
# the serve corpus's doc shape at 1/12 of its size: a build is timed cold,
# as a build job runs, and its JVM and worker start-up is most of its wall
CORPUS = {"n_docs": 2_048, "min_tokens": 20, "max_tokens": 120}
TRACE_BUILDS = 3  # cold untraced, warm traced, warm untraced
STAGES = ("postings", "model", "index", "verify")

# (module, public function, span name, per-layer metric of its time)
TRACED = (
    ("dint_spark.build.docids", "dense_ids", "build.docids", "build.docids.s"),
    ("dint_spark.index.builder", "tokenize_code", "tokenizer", "tokenizer.s"),
    ("dint_spark.index.builder", "build_fulltext_index", "build.postings", "build.postings.s"),
    ("dint_spark.index.builder", "learn_dint_model", "dint_build.learn", "dint_build.learn_s"),
    ("dint_spark.index.builder", "build_block_index", "blocks.encode", "blocks.encode_s"),
    ("dint_spark.index.builder", "decode_block_index", "blocks.decode", "blocks.decode_s"),
)


def guard(res: dict, out: str, stats: dict) -> bool:
    """The build computed every stage, verified exactly, kept the sha256
    invariant and indexed exactly the corpus's postings."""
    done = dict(s.split(": ", 1) for s in res["stages"] if ": " in s)
    with open(os.path.join(out, "_lineage", "postings.json")) as f:
        post = json.load(f)
    return (
        all(done.get(s) == "compute" for s in STAGES)
        and res["verify"]["missing"] == 0
        and res["verify"]["extra"] == 0
        and post["sha256_invariant_ok"] is True
        and post["rows"] == stats["postings"]
        and post["num_docs"] == stats["docs"]
    )


@contextmanager
def traced_layers(tr: metrics.Tracer, counts: dict, notes: list):
    """Wrap the builder's calls into each module with a span that
    materializes the call's result, so each layer's time is its own."""
    import importlib

    from dint_spark.util import materialize

    def wrap(fn, span):
        def call(*args, **kwargs):
            with tr.span(span):
                res = fn(*args, **kwargs)
                if span == "tokenizer":
                    res = materialize(res)
                    counts["tokenizer.tokens"] = res.count()
                elif span == "build.postings":
                    counts["build.postings.rows"] = res.postings.count()
                elif span == "dint_build.learn":
                    counts["dint_build.docs_entries"] = len(res.docs)
                    counts["dint_build.freqs_entries"] = len(res.freqs)
                else:
                    res = materialize(res)
                return res
        return call

    saved = []
    try:
        for mod_name, fn_name, span, metric in TRACED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name, None)
            if fn is None:
                notes.append(f"{mod_name}.{fn_name} is gone: {metric} absent")
                continue
            saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, wrap(fn, span))
        yield
    finally:
        for mod, fn_name, fn in saved:
            setattr(mod, fn_name, fn)


def run(seed: int, seconds: float, trace: bool, root: str, work: str) -> dict:
    from dint_spark.index.builder import IndexBuilder

    home = common.fresh_dir(os.path.join(work, "build"))
    corpus = os.path.join(home, "corpus")
    stats = inputs.write_corpus(corpus, seed=seed, **CORPUS)
    event_dir = common.fresh_dir(os.path.join(work, "events")) if trace else None
    tr = metrics.Tracer(trace)
    notes: list[str] = []
    counts: dict = {}
    walls: list[float] = []
    ok: list[bool] = []
    built: list[dict] = []
    with metrics.RssSampler() as rss:
        t0 = time.perf_counter()
        with tr.span("session"):
            spark = common.start_session(work, "perfbench_build", event_dir)
        setup_s = time.perf_counter() - t0
        try:
            t_loop = time.perf_counter()
            j = 0
            while j < (TRACE_BUILDS if trace else 1) or (
                not trace and time.perf_counter() - t_loop < seconds
            ):
                out = os.path.join(home, f"index{j}")
                common.fresh_dir(out)
                if j > 0:
                    shutil.rmtree(os.path.join(home, f"index{j - 1}"), ignore_errors=True)
                common.force_gc(spark)
                spark.sparkContext.setJobGroup(f"build{j}", "build")
                on = trace and j == 1
                tr.enabled = on
                with (traced_layers(tr, counts, notes) if on else nullcontext()):
                    t = time.perf_counter()
                    with tr.span("build"):
                        res, err = common.attempt(
                            lambda: IndexBuilder(spark, out, codec_name=CODEC).build(
                                spark.read.parquet(corpus)
                            )
                        )
                    walls.append(time.perf_counter() - t)
                good = err is None and guard(res, out, stats)
                ok.append(good)
                if not good:
                    notes.append(f"build {j} failed: {err or 'guard'}")
                else:
                    built.append(res["index"])
                j += 1
            tr.enabled = trace
            if trace:
                codec = layers.codec_rates(spark, out)
        finally:
            common.stop_session(spark)

    last = built[-1] if built else {"docs_bpi": 0.0, "freqs_bpi": 0.0, "n_postings": 1}
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": metrics.median(walls),
        "work_per_s": sum(b["n_postings"] for b in built) / sum(walls),
        "docs_bpi": last["docs_bpi"],
        "freqs_bpi": last["freqs_bpi"],
        "index_bytes_per_posting": common.dir_bytes(os.path.join(out, "index")) / last["n_postings"],
        "ok_frac": sum(ok) / len(ok),
        "peak_rss_mb": rss.peak / 1e6,
    }
    result = {
        "e2e": e2e, "notes": notes, "attempted": len(ok), "failed": len(ok) - sum(ok),
        "summary": {"builds": len(walls), "build_walls_s": walls, "postings": stats["postings"],
                    "docs": stats["docs"]},
    }
    if trace:
        result["layers"] = _layers(tr, walls, counts, codec, event_dir, notes)
        tr.dump(os.path.join(work, "spans-build.json"))
    return result


def _layers(tr, walls, counts, codec, event_dir, notes) -> dict:
    out = {name: 0 for name in layers.PER_LAYER}
    out.update(codec)
    out.update(counts)
    selfs = defaultdict(float)
    for s, t in zip(tr.spans, metrics.self_times(tr.spans)):
        selfs[s["name"]] += t
    out["session.start_s"] = selfs["session"]
    for _mod, _fn, span, metric in TRACED:
        out[metric] = selfs[span]
    out["index_builder.other_s"] = selfs["build"]
    rows = out["build.postings.rows"]
    if out["blocks.encode_s"]:
        out["blocks.encode_postings_per_s"] = rows / out["blocks.encode_s"]
    if out["blocks.decode_s"]:
        out["blocks.decode_postings_per_s"] = rows / out["blocks.decode_s"]
    out["trace.overhead_frac"] = walls[1] / walls[2] - 1.0
    groups = metrics.read_event_logs(event_dir)
    out.update(layers.spark_layer(groups, ["build0"], walls[:1], common.cpus()))
    notes.append(f"not run by build, reported as 0: {', '.join(layers.SERVE_ONLY)}")
    notes.append("spark.* and python.* come from the first, cold, untraced build as timed; "
                 "trace.overhead_frac is the warm traced build over the warm untraced one after it")
    return out
