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
