"""Per-layer metrics of the traced run: the registry of names and units,
the Spark/Python-boundary totals taken from the event log, and the
in-process codec rates over every block of an index."""

from __future__ import annotations

import json
import os
import time

# name -> unit. Every traced run reports all of them; a layer its workload
# does not run reports 0 and is named in the run's notes.
PER_LAYER = {
    "session.start_s": "s",
    "load.tables_s": "s",
    "wand_shard.artifacts_s": "s",
    "wand_shard.num_shards": "count",
    "wand_shard.plan_s": "s",
    "wand_shard.exec_s": "s",
    "wand_shard.blocks_handed": "count",
    "wand_shard.blocks_docs_decoded": "count",
    "wand_shard.blocks_freqs_decoded": "count",
    "wand_shard.docs_decoded_frac": "ratio",
    "wand_shard.shipped_rows": "count",
    "wand_shard.shipped_payload_bytes": "B",
    "ranked.plan_s": "s",
    "ranked.exec_s": "s",
    "ranked.scored_rows": "count",
    "ranked.rows_per_result": "ratio",
    "ranked.score_s": "s",
    "ranked.topk_s": "s",
    "boolean.plan_s": "s",
    "boolean.exec_s": "s",
    "boolean.rows_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    "build.docids.s": "s",
    "tokenizer.s": "s",
    "tokenizer.tokens": "count",
    "build.postings.s": "s",
    "build.postings.rows": "count",
    "dint_build.learn_s": "s",
    "dint_build.docs_entries": "count",
    "dint_build.freqs_entries": "count",
    "blocks.encode_s": "s",
    "blocks.encode_postings_per_s": "1/s",
    "blocks.decode_s": "s",
    "blocks.decode_postings_per_s": "1/s",
    "index_builder.other_s": "s",
    "codecs.docs_decode_ints_per_s": "1/s",
    "codecs.freqs_decode_ints_per_s": "1/s",
    "codecs.docs_encode_ints_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}


def _only(*prefixes: str) -> list[str]:
    return sorted(n for n in PER_LAYER if n.split(".")[0] in prefixes)


# the layers only one workload runs; the other reports them as 0
SERVE_ONLY = _only("load", "wand_shard", "ranked", "boolean")
BUILD_ONLY = _only("build", "tokenizer", "dint_build", "blocks", "index_builder")


def spark_layer(groups: dict[str, dict], names: list[str], walls: list[float], cores: int) -> dict:
    """Mean per operation of the event-log totals of the job groups `names`
    (one group per timed operation); core_util is executor run time over
    the operations' wall times the cores."""
    n = max(len(names), 1)
    tot = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
        "executor_run_s", "executor_cpu_s", "gc_s", "bytes_to_worker", "bytes_from_worker",
    )}
    for name in names:
        for k in tot:
            tot[k] += groups.get(name, {}).get(k, 0)
    out = {f"spark.{k}": v / n for k, v in tot.items() if not k.startswith("bytes_")}
    out["python.bytes_to_worker"] = tot["bytes_to_worker"] / n
    out["python.bytes_from_worker"] = tot["bytes_from_worker"] / n
    wall = sum(walls)
    out["spark.core_util"] = tot["executor_run_s"] / (wall * cores) if wall else 0.0
    return out


ENCODE_SAMPLE_EVERY = 16  # re-encode every 16th block: DINT encode is slow


def codec_rates(spark, index_dir: str) -> dict:
    """Integers per second of the index's own codec, in this process, over
    every block of the index (encode over a fixed 1-in-16 sample)."""
    import pyarrow.parquet as pq

    from dint_spark.build.dint_build import DintModel, MultiDintModel
    from dint_spark.codecs.registry import get_codec

    with open(os.path.join(index_dir, "_lineage", "index.json")) as f:
        name = json.load(f)["codec"]
    cls = MultiDintModel if name == "multi_packed_dint" else DintModel
    codec = get_codec(name, cls.load(spark, os.path.join(index_dir, "dint_model")))
    t = pq.read_table(os.path.join(index_dir, "index"), columns=["n", "docs_bytes", "freqs_bytes"])
    ns = t.column("n").to_pylist()
    dbufs = t.column("docs_bytes").to_pylist()
    fbufs = t.column("freqs_bytes").to_pylist()
    total = sum(ns)

    t0 = time.perf_counter()
    docs = [codec.decode_docs(b, n) for b, n in zip(dbufs, ns)]
    t_docs = time.perf_counter() - t0
    t0 = time.perf_counter()
    for b, n in zip(fbufs, ns):
        codec.decode_freqs(b, n)
    t_freqs = time.perf_counter() - t0
    sample = docs[::ENCODE_SAMPLE_EVERY]
    t0 = time.perf_counter()
    for vals in sample:
        codec.encode_docs(vals)
    t_enc = time.perf_counter() - t0
    return {
        "codecs.docs_decode_ints_per_s": total / t_docs,
        "codecs.freqs_decode_ints_per_s": total / t_freqs,
        "codecs.docs_encode_ints_per_s": sum(len(v) for v in sample) / t_enc,
    }
