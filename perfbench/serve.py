"""Serve workload: closed-loop query batches from one client against an
index built once per engine version, before any timing.

Each round answers one batch of the seed's query log with every operator
jobs/query_batch.py serves, in turn: the pruned wand_topk_sharded and
maxscore_topk_sharded over the pre-sharded block artifact and norm
slices (cogroup kernel, DINT block decode, shard exchange), then the
exhaustive ranked_or, ranked_and, and_query and or_query over the
uncompressed postings (broadcast join, scored-set exchange, window
top-k; no codec or kernel code).

Every batch is checked against the benchmark's oracle after the timed
loop: pruned batches must rank exactly like exhaustive BM25.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

from perfbench import common, inputs, layers, metrics
from perfbench.oracle import Oracle, same_ranking

# The corpus every serve run queries: 24,576 docs is the smallest doc-id
# universe the engine's static layout cuts into 4 shards, one per core
# of a 4-core host.
CORPUS = {"n_docs": 24_576, "seed": 42, "min_tokens": 20, "max_tokens": 120}
CODEC = "single_packed_dint"
BATCH = 64  # queries per batch: the engine's WAND prefilter engages from 64
MAX_ROUNDS = 256
WARMUP_BATCH = 8  # queries of the untimed warmup batch each operator answers
WARMUP_INDEX = 1 << 20  # batch index of the warmup batch, past any timed round
OPS = ("wand", "maxscore", "ranked_or", "ranked_and", "and", "or")
LAYER = {
    "wand": "wand_shard", "maxscore": "wand_shard",
    "ranked_or": "ranked", "ranked_and": "ranked",
    "and": "boolean", "or": "boolean",
}
TABLES = ("postings", "docs", "vocab", "term_meta")
WARMUP_FIRST_ID = 1 << 40


# ---------------------------------------------------------------------------
# the index, built once per engine version
# ---------------------------------------------------------------------------


def index_home(root: str, work: str) -> str:
    key = inputs.source_hash(root, ("dint_spark", "jobs"))
    key = hashlib.sha256((key + json.dumps(CORPUS, sort_keys=True) + CODEC).encode())
    return os.path.join(work, f"serve-{key.hexdigest()[:16]}")


def ensure_index(root: str, work: str) -> str:
    """The ready index home, building it in a child process when missing so
    the timed process starts its session cold."""
    home = index_home(root, work)
    if not os.path.exists(os.path.join(home, "meta.json")):
        subprocess.run(
            [sys.executable, os.path.join(root, "perfbench", "run.py"), "--prepare-serve"],
            cwd=root, check=True, stdout=sys.stderr,
        )
    return home


def prepare(root: str, work: str) -> None:
    """Write the corpus, build its index with IndexBuilder and check the
    index against the corpus's own token counts; publish atomically."""
    import numpy as np

    from dint_spark.index.builder import IndexBuilder

    home = index_home(root, work)
    for name in os.listdir(work):
        if name.startswith("serve-") and os.path.join(work, name) != home:
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    tmp = common.fresh_dir(home + ".tmp")
    stats = inputs.write_corpus(os.path.join(tmp, "corpus"), **CORPUS)
    spark = common.start_session(work, "perfbench_prepare")
    try:
        res = IndexBuilder(spark, os.path.join(tmp, "index"), codec_name=CODEC).build(
            spark.read.parquet(os.path.join(tmp, "corpus"))
        )
    finally:
        common.stop_session(spark)
    terms, doc_ids, tfs = _postings(os.path.join(tmp, "index"))
    names, code = np.unique(terms, return_inverse=True)
    df = dict(zip(names.tolist(), np.bincount(code).tolist()))
    cf = dict(zip(names.tolist(), np.bincount(code, weights=tfs).astype(np.int64).tolist()))
    if (len(doc_ids), df, cf, len(np.unique(doc_ids))) != (
        stats["postings"], stats["df"], stats["cf"], stats["docs"]
    ):
        raise RuntimeError("served index does not match the corpus token counts")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"corpus": CORPUS, "postings": stats["postings"], "build": res["index"]}, f)
    os.rename(tmp, home)


def _postings(index_dir: str):
    """(term, doc_id, tf) columns of the index's postings table."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "postings"), columns=["term", "doc_id", "tf"])
    return (np.asarray(t.column("term").to_pylist(), dtype=str),
            t.column("doc_id").to_numpy(), t.column("tf").to_numpy())


# ---------------------------------------------------------------------------
# serving state and operators: the calls jobs/query_batch.py makes
# ---------------------------------------------------------------------------


class Served:
    def __init__(self, spark, index_dir: str):
        from dint_spark.build.postings import FullTextIndex
        from dint_spark.util import materialize

        self.spark = spark
        self.index_dir = index_dir
        t = {n: materialize(spark.read.parquet(os.path.join(index_dir, n))) for n in TABLES}
        self.num_docs = t["docs"].count()
        self.idx = FullTextIndex(
            postings=t["postings"], docs=t["docs"], vocab=t["vocab"],
            term_meta=t["term_meta"], num_docs=self.num_docs, avgdl=0.0,
        )

    def prepare_pruned(self) -> None:
        """Codec, block index, universe, norm slices and the pre-sharded
        block artifact: per-index serving artifacts."""
        from pyspark.sql import functions as F

        from dint_spark.build.dint_build import DintModel, MultiDintModel
        from dint_spark.codecs.registry import get_codec
        from dint_spark.operators.wand_shard import (
            norm_slices, shard_block_max, sharded_block_index, static_layout,
        )
        from dint_spark.util import materialize

        with open(os.path.join(self.index_dir, "_lineage", "index.json")) as f:
            name = json.load(f).get("codec", CODEC)
        cls = MultiDintModel if name == "multi_packed_dint" else DintModel
        self.codec = get_codec(name, cls.load(self.spark, os.path.join(self.index_dir, "dint_model")))
        self.bidx = materialize(self.spark.read.parquet(os.path.join(self.index_dir, "index")))
        docs = self.idx.docs
        self.universe = int(docs.agg(F.max("doc_id")).first()[0]) + 1
        self.num_shards, self.shard_size = static_layout(self.universe)
        self.slices = materialize(norm_slices(docs.select("doc_id", "norm_len"), self.shard_size))
        self.sharded = materialize(sharded_block_index(
            self.bidx, self.shard_size,
            shard_block_max(
                self.idx.postings.select("term_id", "doc_id", "tf", "norm_len"), self.shard_size
            ),
        ))

    def queries(self, batch: list[tuple[int, list[str]]]):
        qdf = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(batch, max(1, len(batch) // 4096)),
            "query_id long, terms array<string>",
        )
        qdf._dint_nq = len(batch)
        return qdf

    def plan(self, op: str, qdf):
        from dint_spark.operators import boolean, ranked, wand_shard

        idx = self.idx
        if op in ("wand", "maxscore"):
            fn = wand_shard.wand_topk_sharded if op == "wand" else wand_shard.maxscore_topk_sharded
            return fn(idx, self.bidx, self.codec, qdf, self.num_docs, self.slices, k=common.K,
                      universe=self.universe, sharded_bidx=self.sharded)
        if op == "ranked_or":
            return ranked.ranked_or(idx.postings, qdf, idx.vocab, self.num_docs, k=common.K)
        if op == "ranked_and":
            return ranked.ranked_and(idx.postings, qdf, idx.vocab, self.num_docs, k=common.K)
        if op == "and":
            return boolean.and_query(idx.postings, qdf)
        return boolean.or_query(idx.postings, qdf)


def check(op: str, batch: list[tuple[int, list[str]]], rows, oracle: Oracle) -> bool:
    """Every query of the batch answered exactly as the oracle answers it."""
    qids = {q for q, _ in batch}
    if op in ("and", "or"):
        got = {r["query_id"]: r["matches"] for r in rows}
        count = oracle.and_count if op == "and" else oracle.or_count
        return len(rows) == len(batch) and all(got.get(q) == count(t) for q, t in batch)
    ranked: dict[int, list] = defaultdict(list)
    for r in rows:
        ranked[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    if not set(ranked) <= qids:
        return False
    want = oracle.ranked_and if op == "ranked_and" else oracle.ranked_or
    return all(
        same_ranking([(d, s) for _, d, s in sorted(ranked[q])], want(t, common.K))
        for q, t in batch
    )


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(seed: int, seconds: float, trace: bool, root: str, work: str) -> dict:
    """Closed loop over rounds: round r answers batch r of the seed's query
    log with each operator in turn, until `seconds` have passed at a
    round's end."""
    home = ensure_index(root, work)
    index_dir = os.path.join(home, "index")
    warm = inputs.query_batch(WARMUP_INDEX, WARMUP_BATCH, seed, first_id=WARMUP_FIRST_ID)
    tr = metrics.Tracer(trace)
    notes: list[str] = []
    event_dir = common.fresh_dir(os.path.join(work, "events")) if trace else None

    done: list[tuple[int, str, list, object, "str | None", float]] = []  # r, op, batch, rows, error, s
    extra: dict[str, list[float]] = defaultdict(list)
    with metrics.RssSampler() as rss:
        t0 = time.perf_counter()
        with tr.span("session"):
            spark = common.start_session(work, "perfbench_serve", event_dir)
        try:
            sc = spark.sparkContext
            sc.setJobGroup("setup", "setup")
            with tr.span("load.tables"):
                srv = Served(spark, index_dir)
            with tr.span("wand_shard.artifacts"):
                srv.prepare_pruned()
            setup_s = time.perf_counter() - t0

            sc.setJobGroup("warmup", "warmup")
            warm_done = [
                (op, common.attempt(lambda: srv.plan(op, srv.queries(warm)).collect()))
                for op in OPS
            ]
            if trace:
                shard_bmw = _trace_shard_bmw(srv)
            t_loop = time.perf_counter()
            r = 0
            while r < MAX_ROUNDS and (r < (2 if trace else 1) or time.perf_counter() - t_loop < seconds):
                # the traced run answers each batch twice, traced then untraced
                bi = r // 2 if trace else r
                b = inputs.query_batch(bi, BATCH, seed, first_id=bi * BATCH)
                tr.enabled = trace and r % 2 == 0
                for op in OPS:
                    common.force_gc(spark)
                    sc.setJobGroup(f"b{len(done)}", op)
                    layer = LAYER[op]

                    def one():
                        with tr.span("batch", len(done)):
                            qdf = srv.queries(b)
                            with tr.span(f"{layer}.plan", len(done)):
                                df = srv.plan(op, qdf)
                            with tr.span(f"{layer}.exec", len(done)):
                                return df.collect()

                    t = time.perf_counter()
                    rows, err = common.attempt(one)
                    done.append((r, op, b, rows, err, time.perf_counter() - t))
                    if tr.enabled and err is None:
                        sc.setJobGroup(f"x{len(done)}", "trace")
                        _trace_extras(srv, op, b, rows, extra, notes, shard_bmw)
                r += 1
            tr.enabled = trace
            if trace:
                sc.setJobGroup("codecs", "codecs")
                codec = layers.codec_rates(spark, index_dir)
        finally:
            common.stop_session(spark)

    oracle = Oracle.from_postings(*_postings(index_dir))
    ok = [err is None and check(op, b, rows, oracle) for _r, op, b, rows, err, _s in done]
    for op, (rows, err) in warm_done:
        if err is not None or not check(op, warm, rows, oracle):
            notes.append(f"warmup {op} batch failed its check")
    for (r, op, _b, _rows, err, _s), good in zip(done, ok):
        if not good:
            notes.append(f"round {r} {op} failed: {err or 'wrong answer'}")

    with open(os.path.join(home, "meta.json")) as f:
        build = json.load(f)["build"]
    rounds = defaultdict(float)
    for r, *_x, s in done:
        rounds[r] += s
    lat = [s for *_x, s in done]
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": metrics.median(list(rounds.values())),
        "work_per_s": sum(len(d[2]) for d, good in zip(done, ok) if good) / sum(lat),
        "docs_bpi": build["docs_bpi"],
        "freqs_bpi": build["freqs_bpi"],
        "index_bytes_per_posting": common.dir_bytes(os.path.join(index_dir, "index")) / build["n_postings"],
        "ok_frac": sum(ok) / len(ok),
        "peak_rss_mb": rss.peak / 1e6,
    }
    tail = metrics.tail(lat)
    summary = {
        "rounds": len(rounds), "batches": len(done), "queries_per_batch": BATCH,
        "per_op_s_p50": {op: metrics.median([d[-1] for d in done if d[1] == op]) for op in OPS},
        "batch_s_tail": None if tail is None else {"value": tail[0], "percentile": tail[1]},
    }
    result = {"e2e": e2e, "summary": summary, "notes": notes,
              "attempted": len(ok), "failed": len(ok) - sum(ok)}
    if trace:
        result["layers"] = _layers(tr, done, extra, codec, event_dir, notes)
        result["layers"]["wand_shard.num_shards"] = srv.num_shards
        tr.dump(os.path.join(work, "spans-serve.json"))
    return result


def _trace_shard_bmw(srv: Served):
    from dint_spark.operators.wand_shard import shard_block_max
    from dint_spark.util import materialize

    return materialize(shard_block_max(
        srv.idx.postings.select("term_id", "doc_id", "tf", "norm_len"), srv.shard_size
    ))


def _trace_extras(srv: Served, op: str, batch, rows, extra, notes, shard_bmw) -> None:
    """Counts-only helpers, outside the batch's span. A helper missing
    from the engine leaves its metrics absent instead of failing the run."""
    from pyspark.sql import functions as F

    from dint_spark.operators import ranked, wand_shard
    from dint_spark.util import materialize

    qdf = srv.queries(batch)
    if op in ("wand", "maxscore"):
        stats = getattr(wand_shard, "wand_sharded_decode_stats", None)
        if stats is None:
            notes.append("wand_shard.wand_sharded_decode_stats is gone: decode counts absent")
        else:
            r = stats(srv.idx, srv.bidx, srv.codec, qdf, srv.num_docs, srv.slices, k=common.K,
                      algo=op, universe=srv.universe, sharded_bidx=srv.sharded).agg(
                F.sum("blocks_total").alias("t"), F.sum("blocks_docs_decoded").alias("d"),
                F.sum("blocks_freqs_decoded").alias("f")).first()
            extra["wand_shard.blocks_handed"].append(r["t"])
            extra["wand_shard.blocks_docs_decoded"].append(r["d"])
            extra["wand_shard.blocks_freqs_decoded"].append(r["f"])
        shipped = getattr(wand_shard, "shipped_block_stats", None)
        if shipped is None:
            notes.append("wand_shard.shipped_block_stats is gone: shipped bytes absent")
        elif op == "wand":
            s = shipped(srv.idx, srv.bidx, srv.codec, qdf, srv.num_docs, srv.slices, k=common.K,
                        universe=srv.universe, shard_bmw=shard_bmw)
            extra["wand_shard.shipped_rows"].append(s["shuffled_block_rows"])
            extra["wand_shard.shipped_payload_bytes"].append(s["shuffled_payload_bytes"])
    elif op == "ranked_or":
        t = time.perf_counter()
        scored = materialize(ranked.score_all(srv.idx.postings, qdf, srv.idx.vocab, srv.num_docs))
        n = scored.count()
        t_score = time.perf_counter() - t
        t = time.perf_counter()
        top = ranked.topk(scored, common.K).collect()
        extra["ranked.topk_s"].append(time.perf_counter() - t)
        extra["ranked.score_s"].append(t_score)
        extra["ranked.scored_rows"].append(n)
        extra["ranked.rows_per_result"].append(n / max(len(top), 1))
    if op in ("and", "or"):
        extra["boolean.rows_out"].append(len(rows))


def _layers(tr, done, extra, codec, event_dir, notes) -> dict:
    out = {name: 0 for name in layers.PER_LAYER}
    out.update(codec)
    spans = metrics.self_time_by_name(tr.spans)
    out["session.start_s"] = spans.get("session", (0.0, 0))[0]
    out["load.tables_s"] = spans.get("load.tables", (0.0, 0))[0]
    out["wand_shard.artifacts_s"] = spans.get("wand_shard.artifacts", (0.0, 0))[0]
    for layer in set(LAYER.values()):
        for part in ("plan", "exec"):
            tot, n = spans.get(f"{layer}.{part}", (0.0, 0))
            out[f"{layer}.{part}_s"] = tot / n if n else 0
    for name, vals in extra.items():
        out[name] = sum(vals) / len(vals)
    if out["wand_shard.blocks_handed"]:
        out["wand_shard.docs_decoded_frac"] = (
            out["wand_shard.blocks_docs_decoded"] / out["wand_shard.blocks_handed"]
        )
    on = [d[-1] for d in done if d[0] % 2 == 0]
    off = [d[-1] for d in done if d[0] % 2 == 1]
    out["trace.overhead_frac"] = sum(on) / sum(off) - 1.0
    groups = metrics.read_event_logs(event_dir)
    names = [f"b{i}" for i, d in enumerate(done) if d[0] % 2 == 0]
    out.update(layers.spark_layer(groups, names, on, common.cpus()))
    notes.append(f"not run by serve, reported as 0: {', '.join(layers.BUILD_ONLY)}")
    notes.append("trace.overhead_frac: each batch is answered traced, then untraced; "
                 "both pay the Spark event log")
    return out
