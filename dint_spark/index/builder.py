"""Persistent, resumable index build job (the north rule's build surface).

Re-creates create_freq_index's driver (/root/reference/src/
create_freq_index.cpp:54-110) as a staged Spark job with the reference's
create-or-load side-file semantics (block_statistics::create_or_load,
block_statistics.hpp:25-43; dictionary try_store/load, S6/S7):

  stage postings : corpus → docids → postings/docs/vocab/term_meta
  stage model    : DINT dictionary learning (two-pass)
  stage index    : block encode → index table
  stage verify   : full decode vs postings (verify_collection, B9)

Each stage writes Parquet under <out>/<stage>/ plus a lineage record
<out>/_lineage/<stage>.json carrying {input fingerprint, row counts,
wall time, metrics}. On re-run, a stage whose lineage fingerprint
matches its input is LOADED, not recomputed — kill the job at any stage
boundary and it resumes. Per-partition encode metrics land in
<out>/metrics_partitions/ (partition id, blocks, postings, payload
bytes, bpi) — the reference's dump_stats (index_build_utils.hpp:91-118)
per Spark partition, as the north rule requires.

Fingerprints are order-insensitive aggregates (count + xor/sum of
crc32s) so they are stable across partitioning.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from dint_spark.build.blocks import build_block_index, decode_block_index
from dint_spark.build.dint_build import choose_packed_codec, learn_dint_model, model_class
from dint_spark.build.postings import build_fulltext_index
from dint_spark.codecs.registry import get_codec
from dint_spark.corpus import with_doc_ids
from dint_spark.tokenizer import tokenize_code


def _fingerprint(df: DataFrame, cols: list[str]) -> str:
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))).alias("s"),
    ).first()
    return f"{row['n']}:{row['s']}"


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        codec_name: str = "single_packed_dint",
    ):
        self.spark = spark
        self.out = out_dir
        self.codec_name = codec_name
        os.makedirs(os.path.join(out_dir, "_lineage"), exist_ok=True)
        self.log: list[str] = []

    # ---- lineage helpers ------------------------------------------------

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.out, "_lineage", f"{stage}.json")

    def _load_lineage(self, stage: str) -> dict | None:
        p = self._lineage_path(stage)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _write_lineage(self, stage: str, record: dict) -> None:
        with open(self._lineage_path(stage), "w") as f:
            json.dump(record, f, indent=2, sort_keys=True)

    def _stage_done(self, stage: str, fingerprint: str) -> bool:
        rec = self._load_lineage(stage)
        ok = rec is not None and rec.get("input_fingerprint") == fingerprint
        self.log.append(f"{stage}: {'load' if ok else 'compute'}")
        return ok

    def _table(self, name: str) -> str:
        return os.path.join(self.out, name)

    # ---- stages ---------------------------------------------------------

    def build(self, corpus: DataFrame) -> dict:
        """Run (or resume) the full build. Returns summary metrics."""
        t_all = time.time()
        fp_corpus = _fingerprint(corpus, ["content_sha256"] if "content_sha256" in corpus.columns else corpus.columns[:2])
        # Schema-version token (":pv2" = term_meta gained w10, ":pv3" =
        # term_meta gained term): an out_dir written before a
        # postings-stage schema change must RECOMPUTE, not resume — else
        # downstream consumers (wand.query_bounds' term join) hit
        # AnalysisException on the stale parquet. Same stale-resume class
        # the ":v2"/model-family tokens below prevent for index/model
        # stages.
        fp_corpus = fp_corpus + ":pv3"

        # stage: postings (+ docs, vocab, term_meta, docids)
        if not self._stage_done("postings", fp_corpus):
            t0 = time.time()
            if "doc_id" not in corpus.columns:
                corpus = with_doc_ids(corpus)
            tok = tokenize_code(corpus, text_col="content", doc_id_col="doc_id")
            idx = build_fulltext_index(tok)
            idx.postings.write.mode("overwrite").parquet(self._table("postings"))
            idx.docs.write.mode("overwrite").parquet(self._table("docs"))
            idx.vocab.write.mode("overwrite").parquet(self._table("vocab"))
            idx.term_meta.write.mode("overwrite").parquet(self._table("term_meta"))
            # sha256 invariant audit (input_hint): corpus column preserved
            invariant_ok = True
            if "content_sha256" in corpus.columns:
                bad = (
                    corpus.select(
                        F.sha2("content", 256).alias("re"), "content_sha256"
                    )
                    .filter(F.col("re") != F.col("content_sha256"))
                    .count()
                )
                invariant_ok = bad == 0
            self._write_lineage(
                "postings",
                {
                    "stage": "postings",
                    "input_fingerprint": fp_corpus,
                    "rows": idx.postings.count(),
                    "num_docs": idx.num_docs,
                    "avgdl": idx.avgdl,
                    "sha256_invariant_ok": invariant_ok,
                    "wall_sec": round(time.time() - t0, 2),
                },
            )
        postings = self.spark.read.parquet(self._table("postings"))
        postings_lineage = self._load_lineage("postings")
        fp_postings = postings_lineage["input_fingerprint"] + ":postings"
        # codec_name="auto": build-time chooser — multi_packed once
        # dictionary capacity plausibly binds (postings-count proxy,
        # build/dint_build.py:choose_packed_codec; README.md:114's
        # "should be preferred" guidance made executable). Resolved
        # AFTER the postings stage so the decision keys on the actual
        # posting count; the resolved name flows into every downstream
        # fingerprint, so re-running with a grown corpus that crosses
        # the threshold re-encodes instead of resuming the single model.
        # "auto" optimizes the serving objective (ALWAYS single — the
        # 12-way multi decode measured 1.4-3.4× query wall,
        # BENCH/multi_serving_50k.json); "auto_space" optimizes storage
        # (multi once capacity binds: docs bpi −25%, freqs −39% there).
        # Resolved per build() call into a local: self.codec_name keeps
        # the request, so a later build() on a grown corpus re-resolves.
        codec_name = self.codec_name
        if codec_name in ("auto", "auto_space"):
            objective = "space" if codec_name == "auto_space" else "serve"
            codec_name = choose_packed_codec(int(postings_lineage["rows"]), objective)
            self.log.append(f"codec {self.codec_name} -> {codec_name}")
        # index/verify stages are keyed by postings AND codec (+ a schema
        # version token, + the model's selection version — a new
        # dictionary model must re-encode the blocks too): re-running on
        # an existing out_dir with a different codec must re-encode +
        # re-verify, never silently load an index encoded with the old
        # codec or the old model.
        cls = model_class(codec_name)
        fp_index = f"{fp_postings}:{codec_name}:v2" + (cls.VERSION if cls else "")

        # stage: model (DINT only); keyed by postings AND model family so
        # switching single↔multi on one out_dir relearns, never misloads.
        model = None
        if cls is not None:
            fp_model = f"{fp_postings}:{cls.FAMILY}{cls.VERSION}"
            if not self._stage_done("model", fp_model):
                t0 = time.time()
                model = learn_dint_model(postings.select("term_id", "doc_id", "tf"), cls)
                model.save(self.spark, self._table("dint_model"))
                docs_entries, freqs_entries = model.entries()
                self._write_lineage(
                    "model",
                    {
                        "stage": "model",
                        "input_fingerprint": fp_model,
                        "docs_entries": docs_entries,
                        "freqs_entries": freqs_entries,
                        "wall_sec": round(time.time() - t0, 2),
                    },
                )
            else:
                model = cls.load(self.spark, self._table("dint_model"))
        codec = get_codec(codec_name, model)

        # stage: index (block encode)
        if not self._stage_done("index", fp_index):
            t0 = time.time()
            bidx = build_block_index(postings, codec)
            bidx.write.mode("overwrite").parquet(self._table("index"))
            bidx = self.spark.read.parquet(self._table("index"))
            # per-partition encode metrics (north rule); the lineage's
            # index totals are their sums, bpi rounded as index_stats does
            bpi = [
                F.round(F.col(f"{s}_bytes") * 8.0 / F.col("n_postings"), 4).alias(f"{s}_bpi")
                for s in ("docs", "freqs")
            ]
            per_part = (
                bidx.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .agg(
                    F.count("*").alias("n_blocks"),
                    F.sum("n").alias("n_postings"),
                    F.sum(F.octet_length("docs_bytes")).alias("docs_bytes"),
                    F.sum(F.octet_length("freqs_bytes")).alias("freqs_bytes"),
                )
                .select("*", *bpi)
            )
            per_part.write.mode("overwrite").parquet(self._table("metrics_partitions"))
            stats = (
                self.spark.read.parquet(self._table("metrics_partitions"))
                .agg(*[F.sum(c).alias(c) for c in ("n_blocks", "n_postings", "docs_bytes", "freqs_bytes")])
                .select("*", *bpi)
                .first()
            )
            self._write_lineage(
                "index",
                {
                    "stage": "index",
                    "input_fingerprint": fp_index,
                    "codec": codec_name,
                    "codec_requested": self.codec_name,
                    **{c: stats[c] for c in ("n_blocks", "n_postings", "docs_bpi", "freqs_bpi")},
                    "wall_sec": round(time.time() - t0, 2),
                },
            )
        bidx = self.spark.read.parquet(self._table("index"))

        # stage: verify (decode round-trip, verify_collection semantics)
        if not self._stage_done("verify", fp_index):
            t0 = time.time()
            # one signed multiset pass, so the index decodes once: truth
            # counts +1 and decoded −1 per (term_id, doc_id, tf); a
            # positive net count is missing, a negative one extra
            net = (
                postings.select("term_id", "doc_id", "tf", F.lit(1).alias("_s"))
                .unionByName(decode_block_index(bidx, codec).withColumn("_s", F.lit(-1)))
                .groupBy("term_id", "doc_id", "tf")
                .agg(F.sum("_s").alias("_s"))
            )
            diff = net.agg(
                F.sum(F.greatest("_s", F.lit(0))).alias("missing"),
                F.sum(F.greatest(-F.col("_s"), F.lit(0))).alias("extra"),
            ).first()
            missing, extra = int(diff["missing"] or 0), int(diff["extra"] or 0)
            if missing or extra:
                raise RuntimeError(
                    f"index verify FAILED: missing={missing} extra={extra}"
                )
            self._write_lineage(
                "verify",
                {
                    "stage": "verify",
                    "input_fingerprint": fp_index,
                    "missing": missing,
                    "extra": extra,
                    "wall_sec": round(time.time() - t0, 2),
                },
            )

        return {
            "out": self.out,
            "stages": self.log,
            "index": self._load_lineage("index"),
            "verify": self._load_lineage("verify"),
            "total_wall_sec": round(time.time() - t_all, 2),
        }
