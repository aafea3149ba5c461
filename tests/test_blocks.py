"""Block index round-trip + skip-metadata invariants
(verify_collection analog, /root/reference/include/ds2i/verify_collection.hpp:7-53;
posting-list fixtures per FIXTURES.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dint_spark.build.blocks import (
    build_block_index,
    decode_block_index,
    index_stats,
    rank_within_term,
)
from dint_spark.codecs.registry import VBYTE as vbyte_codec


def test_rank_within_term(random_postings, monkeypatch):
    from dint_spark.build import blocks

    # 2^10-doc buckets: the 20k-doc lists span ~20 local-rank windows
    monkeypatch.setattr(blocks, "RANK_BUCKET_BITS", 10)
    ranked = rank_within_term(random_postings).collect()
    by_term = {}
    for r in ranked:
        by_term.setdefault(r["term_id"], []).append((r["doc_id"], r["rank"]))
    for t, lst in by_term.items():
        lst.sort()
        assert [rk for _, rk in lst] == list(range(len(lst))), t


def test_block_roundtrip_vbyte(random_postings):
    idx = build_block_index(random_postings, vbyte_codec)
    decoded = decode_block_index(idx, vbyte_codec)
    diff1 = decoded.exceptAll(random_postings).count()
    diff2 = random_postings.exceptAll(decoded).count()
    assert diff1 == 0 and diff2 == 0


def test_block_metadata(random_postings):
    idx = build_block_index(random_postings, vbyte_codec).collect()
    truth = {}
    for r in random_postings.collect():
        truth.setdefault(r["term_id"], []).append(r["doc_id"])
    for t in truth:
        truth[t].sort()
    by_tb = {(r["block_id"], r["term_id"]): r for r in idx}
    for (b, t), r in by_tb.items():
        lst = truth[t]
        chunk = lst[b * 256 : (b + 1) * 256]
        assert r["n"] == len(chunk)
        assert r["block_max"] == chunk[-1]
        assert r["block_base"] == (lst[b * 256 - 1] if b > 0 else -1)
    # every posting covered exactly once
    assert sum(r["n"] for r in idx) == sum(len(v) for v in truth.values())


def test_index_stats(random_postings):
    idx = build_block_index(random_postings, vbyte_codec)
    s = index_stats(idx).first()
    assert s["n_postings"] == random_postings.count()
    # dense gap-1 values are tiny → vbyte ≈ 8 bits/int for docs
    assert 7.9 <= s["docs_bpi"] <= 9.0
    assert 7.9 <= s["freqs_bpi"] <= 16.5


def test_posting_at_positional_access(spark, random_postings):
    """move(pos) semantics (E4, dict_posting_list.hpp:120-138): the
    pos-th posting in docID order, only its block decoded."""
    from dint_spark.build.blocks import build_block_index, posting_at
    from dint_spark.codecs.registry import get_codec

    c = get_codec("block_vbyte")
    bidx = build_block_index(random_postings, c).cache()
    truth = {}
    for r in random_postings.collect():
        truth.setdefault(r["term_id"], []).append((r["doc_id"], r["tf"]))
    for t in truth:
        truth[t].sort()
    req = [(0, 0), (0, 255), (0, 256), (1, 1), (2, 300)]
    req = [(t, p) for t, p in req if p < len(truth.get(t, []))]
    req_df = spark.createDataFrame(req, "term_id long, pos long")
    got = {
        (r["term_id"], r["pos"]): (r["doc_id"], r["tf"])
        for r in posting_at(bidx, c, req_df).collect()
    }
    assert len(got) == len(req)
    for (t, p), v in got.items():
        assert truth[t][p] == v, (t, p)
    # out-of-range pos yields no row, never a wrong one
    oob = spark.createDataFrame([(0, 10**9)], "term_id long, pos long")
    assert posting_at(bidx, c, oob).count() == 0


def test_block_profile(spark, random_postings):
    """block_profiler surface (B12): per-(block, stream) codeword
    accounting consistent with the whole-index histogram."""
    from dint_spark.build.blocks import build_block_index
    from dint_spark.build.dint_build import learn_dint_model
    from dint_spark.codecs.registry import get_codec
    from dint_spark.codecs.stats import block_profile

    model = learn_dint_model(random_postings, capacity=2048)
    codec = get_codec("single_packed_dint", model)
    bidx = build_block_index(random_postings, codec).cache()
    prof = block_profile(bidx, codec.docs.dict, codec.freqs.dict)
    rows = prof.collect()
    n_blocks = bidx.count()
    assert len(rows) == 2 * n_blocks  # one row per (block, stream)
    full = [r for r in rows if r["n"] == 256]
    assert full and all(
        (r["patterns"] or 0) + (r["exceptions"] or 0) + (r["runs"] or 0) > 0
        for r in full
    )
    tails = [r for r in rows if r["n"] < 256]
    assert all(r["patterns"] is None for r in tails)  # interpolative payloads
    assert all(r["bytes"] > 0 for r in rows)


def test_transcode_block_index(spark, random_postings):
    """E5 get_blocks/write_blocks: block-level re-encode into another
    codec preserves payload semantics and all skip metadata
    (dict_posting_list.hpp:207-277)."""
    from dint_spark.build.blocks import (
        build_block_index,
        decode_block_index,
        transcode_block_index,
    )
    from dint_spark.codecs.registry import get_codec
    from dint_spark.util import materialize

    src = get_codec("block_vbyte")
    dst = get_codec("block_simple16")
    bidx = materialize(build_block_index(random_postings, src))
    tidx = materialize(transcode_block_index(bidx, src, dst))

    meta_cols = ["term_id", "block_id", "n", "block_base", "block_max"]
    assert (
        bidx.select(*meta_cols).exceptAll(tidx.select(*meta_cols)).count() == 0
    )
    decoded = decode_block_index(tidx, dst)
    truth = random_postings.select("term_id", "doc_id", "tf")
    assert decoded.exceptAll(truth).count() == 0
    assert truth.exceptAll(decoded).count() == 0
