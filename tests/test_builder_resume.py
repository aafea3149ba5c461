"""Resumable build: create-or-load staging, lineage, per-partition
metrics, verify stage (north rule: resumable from per-partition
checkpoints with lineage + metrics)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from dint_spark.corpus import synth_corpus, with_doc_ids
from dint_spark.index.builder import IndexBuilder


@pytest.fixture(scope="module")
def small_corpus(spark):
    return with_doc_ids(synth_corpus(spark, 200, seed=42)).localCheckpoint(eager=True)


def test_build_resume_and_verify(spark, small_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    b1 = IndexBuilder(spark, out)
    r1 = b1.build(small_corpus)
    assert r1["verify"]["missing"] == 0 and r1["verify"]["extra"] == 0
    assert all(s.endswith("compute") for s in r1["stages"]), r1["stages"]

    # lineage files exist with fingerprints + sha invariant audit
    with open(os.path.join(out, "_lineage", "postings.json")) as f:
        lp = json.load(f)
    assert lp["sha256_invariant_ok"] is True
    assert lp["num_docs"] == 200

    # per-partition metrics table present and consistent
    pm = spark.read.parquet(os.path.join(out, "metrics_partitions"))
    rows = pm.collect()
    assert sum(r["n_postings"] for r in rows) == spark.read.parquet(
        os.path.join(out, "postings")
    ).count()
    assert all(r["docs_bpi"] > 0 for r in rows)

    # second run: everything loads, nothing recomputes
    b2 = IndexBuilder(spark, out)
    r2 = b2.build(small_corpus)
    assert all(s.endswith("load") for s in r2["stages"]), r2["stages"]
    assert r2["index"]["docs_bpi"] == r1["index"]["docs_bpi"]

    # kill-and-resume: drop a later stage's lineage → only it recomputes
    os.remove(os.path.join(out, "_lineage", "verify.json"))
    b3 = IndexBuilder(spark, out)
    r3 = b3.build(small_corpus)
    assert "verify: compute" in r3["stages"]
    assert "index: load" in r3["stages"]

    # changed input → full recompute
    c2 = with_doc_ids(synth_corpus(spark, 150, seed=9))
    out2 = str(tmp_path_factory.mktemp("idx2"))
    r4 = IndexBuilder(spark, out2).build(c2)
    assert all(s.endswith("compute") for s in r4["stages"])


def test_verify_fails_on_missing_block(spark, small_corpus, tmp_path_factory):
    """A built index that loses one block row fails its re-run verify
    stage loudly instead of being served with postings missing."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("idx_corrupt"))
    r = IndexBuilder(spark, out).build(small_corpus)
    assert r["verify"]["missing"] == 0 and r["verify"]["extra"] == 0

    # rewrite the index table without its first block: write a sibling
    # directory, then swap it in
    index = os.path.join(out, "index")
    bidx = spark.read.parquet(index)
    first = (
        bidx.select("term_id", "block_id").orderBy("term_id", "block_id").first()
    )
    cut = bidx.filter(
        (F.col("term_id") != first["term_id"])
        | (F.col("block_id") != first["block_id"])
    )
    sibling = index + ".corrupt"
    cut.write.parquet(sibling)
    assert spark.read.parquet(sibling).count() == bidx.count() - 1
    shutil.rmtree(index)
    os.rename(sibling, index)

    os.remove(os.path.join(out, "_lineage", "verify.json"))
    with pytest.raises(RuntimeError, match="index verify FAILED: missing="):
        IndexBuilder(spark, out).build(small_corpus)


def test_verify_fails_on_corrupt_block(spark, small_corpus, tmp_path_factory):
    """A built index with bytes flipped inside one block's docs stream
    fails its re-run verify stage loudly: a verify mismatch or a decode
    error, never a silent pass."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("idx_flipped"))
    IndexBuilder(spark, out).build(small_corpus)

    # the block with the longest docs stream; flip its middle byte
    index = os.path.join(out, "index")
    bidx = spark.read.parquet(index)
    target = bidx.orderBy(
        F.desc(F.octet_length("docs_bytes")), "term_id", "block_id"
    ).first()
    buf = bytearray(target["docs_bytes"])
    assert len(buf) > 16
    buf[len(buf) // 2] ^= 0xFF
    hit = (F.col("term_id") == target["term_id"]) & (
        F.col("block_id") == target["block_id"]
    )
    flipped = bidx.withColumn(
        "docs_bytes",
        F.when(hit, F.lit(bytes(buf))).otherwise(F.col("docs_bytes")),
    )
    sibling = index + ".corrupt"
    flipped.write.parquet(sibling)
    assert spark.read.parquet(sibling).filter(hit).first()["docs_bytes"] == bytes(buf)
    shutil.rmtree(index)
    os.rename(sibling, index)

    os.remove(os.path.join(out, "_lineage", "verify.json"))
    with pytest.raises(Exception) as err:
        IndexBuilder(spark, out).build(small_corpus)
    msg = str(err.value)
    assert "index verify FAILED" in msg or "ValueError" in msg, msg


def test_codec_auto_chooser(spark, small_corpus, tmp_path_factory, monkeypatch):
    """codec_name='auto' optimizes SERVING (always single — the 12-way
    multi decode measured 1.4-3.4× query wall,
    BENCH/multi_serving_50k.json); 'auto_space' optimizes storage
    (multi once postings cross the capacity threshold — README.md:114's
    'multi should be preferred' made executable for the space
    objective). The lineage records BOTH the request and the
    resolution, and the auto_space-multi index verifies round-trip."""
    from dint_spark.build import dint_build

    assert dint_build.choose_packed_codec(0) == "single_packed_dint"
    # serve objective never trades latency for bits, even above threshold
    assert (
        dint_build.choose_packed_codec(dint_build.MULTI_PACKED_MIN_POSTINGS)
        == "single_packed_dint"
    )
    assert (
        dint_build.choose_packed_codec(
            dint_build.MULTI_PACKED_MIN_POSTINGS, "space"
        )
        == "multi_packed_dint"
    )
    assert dint_build.choose_packed_codec(0, "space") == "single_packed_dint"

    # tiny corpus → auto resolves single
    out = str(tmp_path_factory.mktemp("idx_auto_s"))
    r = IndexBuilder(spark, out, codec_name="auto").build(small_corpus)
    assert r["index"]["codec"] == "single_packed_dint"
    assert r["index"]["codec_requested"] == "auto"
    assert r["verify"]["missing"] == 0 and r["verify"]["extra"] == 0

    # force the threshold under the tiny corpus → auto_space resolves
    # multi, and the multi-encoded index still verifies (decode parity)
    monkeypatch.setattr(dint_build, "MULTI_PACKED_MIN_POSTINGS", 1)
    out2 = str(tmp_path_factory.mktemp("idx_auto_m"))
    r2 = IndexBuilder(spark, out2, codec_name="auto_space").build(small_corpus)
    assert r2["index"]["codec"] == "multi_packed_dint"
    assert r2["index"]["codec_requested"] == "auto_space"
    assert r2["verify"]["missing"] == 0 and r2["verify"]["extra"] == 0
    # serving loads the codec the index was built with, and its model
    from jobs.query_batch import load_blocks

    _bidx, codec = load_blocks(spark, out2)
    assert codec.name == "multi_packed_dint"


def test_codec_auto_reresolves_per_build(
    spark, small_corpus, tmp_path_factory, monkeypatch
):
    """One builder, two build() calls under auto_space: each call
    resolves the codec again and records the request, so the second
    call, with the threshold now under the corpus size, re-encodes as
    multi_packed_dint instead of reusing the first call's resolution."""
    from dint_spark.build import dint_build

    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("idx_auto_2x")),
                     codec_name="auto_space")
    r1 = b.build(small_corpus)
    assert r1["index"]["codec"] == "single_packed_dint"
    assert r1["index"]["codec_requested"] == "auto_space"

    monkeypatch.setattr(dint_build, "MULTI_PACKED_MIN_POSTINGS", 1)
    r2 = b.build(small_corpus)
    assert r2["index"]["codec"] == "multi_packed_dint"
    assert r2["index"]["codec_requested"] == "auto_space"
    assert r2["verify"]["missing"] == 0 and r2["verify"]["extra"] == 0
    assert b.codec_name == "auto_space"


def _ranks(df):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in df.collect()
    )


def test_builder_index_serves_rank_identical(spark, small_corpus, tmp_path_factory):
    """The IndexBuilder-loaded serving path of jobs/query_batch.py: tables
    whose term_meta carries the term, the codec read from
    _lineage/index.json with its model loaded through
    dint_build.model_class, and the serving artifacts from
    wand_shard.serving_artifacts. Sharded WAND and MaxScore rank exactly
    as ranked_or at k=10 and at k=25 (the exact-seed path)."""
    from dint_spark.corpus import make_query_log
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        serving_artifacts,
        wand_topk_sharded,
    )
    from jobs.query_batch import load_blocks, load_index

    out = str(tmp_path_factory.mktemp("idx_serve"))
    IndexBuilder(spark, out).build(small_corpus)
    idx = load_index(spark, out)
    assert "term" in idx.term_meta.columns
    bidx, codec = load_blocks(spark, out)
    assert codec.name == "single_packed_dint"
    serving = serving_artifacts(idx, bidx)
    assert serving["sharded_bidx"] is not None

    q = spark.createDataFrame(
        make_query_log(64, seed=42), "query_id long, terms array<string>"
    )
    for k in (10, 25):
        ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=k))
        assert ref
        for fn in (wand_topk_sharded, maxscore_topk_sharded):
            got = _ranks(fn(idx, bidx, codec, q, idx.num_docs, k=k, **serving))
            assert got == ref, (fn.__module__, fn.__name__, k)


def test_postings_schema_token_recomputes_stale_term_meta(
    spark, small_corpus, tmp_path_factory
):
    """An out_dir whose term_meta predates the `term` column (postings
    lineage token :pv2) recomputes its postings stage instead of loading
    a term_meta that serving cannot join on, and then serves."""
    from dint_spark.corpus import make_query_log
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import serving_artifacts, wand_topk_sharded
    from jobs.query_batch import load_blocks, load_index

    out = str(tmp_path_factory.mktemp("idx_pv2"))
    IndexBuilder(spark, out).build(small_corpus)

    # turn the out_dir into one written before term_meta gained `term`
    tm = os.path.join(out, "term_meta")
    sibling = tm + ".old"
    spark.read.parquet(tm).drop("term").write.parquet(sibling)
    shutil.rmtree(tm)
    os.rename(sibling, tm)
    lineage = os.path.join(out, "_lineage", "postings.json")
    with open(lineage) as f:
        rec = json.load(f)
    rec["input_fingerprint"] = rec["input_fingerprint"].rsplit(":", 1)[0] + ":pv2"
    with open(lineage, "w") as f:
        json.dump(rec, f)
    assert "term" not in spark.read.parquet(tm).columns

    b = IndexBuilder(spark, out)
    b.build(small_corpus)
    assert "postings: compute" in b.log, b.log
    idx = load_index(spark, out)
    assert "term" in idx.term_meta.columns

    bidx, codec = load_blocks(spark, out)
    q = spark.createDataFrame(
        make_query_log(16, seed=7), "query_id long, terms array<string>"
    )
    got = _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, k=10, **serving_artifacts(idx, bidx)
        )
    )
    assert got
    assert got == _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=10))
