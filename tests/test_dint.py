"""DINT codec kernels + distributed dictionary learning
(micro-fixtures per FIXTURES.md §4; learning per SURVEY.md B3/B4)."""

from __future__ import annotations

import numpy as np
import pytest

from dint_spark.codecs.dint import (
    EXC16,
    EXC32,
    RESERVED,
    DintCodec,
    DintDict,
    extract_patterns,
)


def _codec(patterns):
    return DintCodec(DintDict.from_patterns([np.array(p, dtype=np.uint32) for p in patterns]))


def test_dint_exceptions_only():
    c = _codec([])
    vals = np.array([1, 70000, 65535, 65536, 2**32 - 1], dtype=np.uint32)
    enc = c.encode(vals)
    assert np.array_equal(c.decode(enc, len(vals)), vals)
    cws = np.frombuffer(enc, dtype=np.uint16)
    assert cws[0] == EXC16 and cws[2] == EXC32


def test_dint_zero_runs():
    c = _codec([])
    for n in (16, 32, 64, 128, 256, 48, 300):
        vals = np.zeros(n, dtype=np.uint32)
        enc = c.encode(vals)
        assert np.array_equal(c.decode(enc, n), vals), n
    # 256 zeros = exactly one codeword (2 bytes)
    assert len(c.encode(np.zeros(256, dtype=np.uint32))) == 2


def test_dint_pattern_match():
    pat = [3, 1, 4, 1]
    c = _codec([pat, [7], [2, 2]])
    vals = np.array(pat + [7] + [2, 2] + pat, dtype=np.uint32)
    enc = c.encode(vals)
    cws = np.frombuffer(enc, dtype=np.uint16)
    assert list(cws) == [RESERVED, RESERVED + 1, RESERVED + 2, RESERVED]
    assert np.array_equal(c.decode(enc, len(vals)), vals)


def test_dint_mixed_roundtrip():
    rng = np.random.default_rng(12345)
    pats = [list(rng.integers(0, 100, size=s)) for s in (16, 8, 8, 4, 2) for _ in range(3)]
    pats += [[v] for v in range(50)]
    c = _codec(pats)
    for trial in range(20):
        n = int(rng.integers(1, 257))
        vals = rng.integers(0, 1 << int(rng.integers(1, 25)), size=n).astype(np.uint32)
        # sprinkle zeros and known patterns
        if n > 30 + len(pats[0]):
            vals[5:25] = 0
            vals[30 : 30 + len(pats[0])] = np.array(pats[0], dtype=np.uint32)
        enc = c.encode(vals)
        assert np.array_equal(c.decode(enc, n), vals), trial


def test_extract_patterns_adjusted():
    counter = {}
    v = np.array([1, 2, 3, 4], dtype=np.uint32)
    extract_patterns(v, counter)
    # sizes 4, 2, 2, 1×4 → patterns: [1,2,3,4], [1,2], [3,4], [1],[2],[3],[4]
    assert counter[np.array([1, 2, 3, 4], dtype=np.uint32).tobytes()] == 1
    assert counter[np.array([1, 2], dtype=np.uint32).tobytes()] == 1
    assert counter[np.array([1], dtype=np.uint32).tobytes()] == 1
    # all-zero 16-chunks excluded
    counter2 = {}
    extract_patterns(np.zeros(16, dtype=np.uint32), counter2)
    assert np.zeros(16, dtype=np.uint32).tobytes() not in counter2
    assert counter2[np.zeros(8, dtype=np.uint32).tobytes()] == 2


@pytest.mark.usefixtures("spark")
def test_learned_model_roundtrip(spark, random_postings):
    from dint_spark.build.blocks import build_block_index, decode_block_index, index_stats
    from dint_spark.build.dint_build import DintModel, learn_dint_model
    from dint_spark.codecs.registry import get_codec

    model = learn_dint_model(random_postings, capacity=4096)
    assert len(model.docs) > 0 and len(model.freqs) > 0

    codec = get_codec("single_packed_dint", model)
    idx = build_block_index(random_postings, codec).cache()
    decoded = decode_block_index(idx, codec)
    assert decoded.exceptAll(random_postings).count() == 0
    assert random_postings.exceptAll(decoded).count() == 0

    # DINT beats VByte on these gap-dense lists
    from dint_spark.codecs.registry import VBYTE

    s_dint = index_stats(idx).first()
    s_vb = index_stats(build_block_index(random_postings, VBYTE)).first()
    assert s_dint["docs_bpi"] < s_vb["docs_bpi"]

    # save/load parity
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        model.save(spark, f"{td}/model")
        m2 = DintModel.load(spark, f"{td}/model")
        c2 = get_codec("single_packed_dint", m2)
        vals = np.array([0] * 32 + [5, 1, 2, 9], dtype=np.uint32)
        assert np.array_equal(
            c2.docs.decode(codec.docs.encode(vals), len(vals)), vals
        )


def test_selector_code_classes():
    from dint_spark.codecs.dint import selector_code

    mk = lambda *v: np.array(v, dtype=np.uint32)
    assert selector_code(mk(0, 1)) == 0
    assert selector_code(mk(2)) == 1  # ceil_log2(ceil_log2(3)) = 1
    assert selector_code(mk(3)) == 1
    assert selector_code(mk(16)) == 3
    assert selector_code(mk(255)) == 3
    assert selector_code(mk(65535)) == 4
    assert selector_code(mk(2**31)) == 5


def test_multi_dint_kernel_roundtrip_and_widths():
    from dint_spark.codecs.dint import MultiDintCodec, NUM_SELECTORS

    rng = np.random.default_rng(11)
    dicts = []
    for s in range(NUM_SELECTORS):
        hi = max(2, 2 ** (2**s) - 1) if s else 2
        ps = [list(rng.integers(0, hi, size=sz)) for sz in (16, 8, 4, 2) for _ in range(6)]
        ps += [[int(x)] for x in rng.integers(0, hi, size=30)]
        dicts.append(DintDict.from_patterns([np.array(p, np.uint32) for p in ps]))
    mc = MultiDintCodec(dicts)
    ctrls = set()
    for t in range(40):
        n = int(rng.integers(1, 600))
        vals = rng.integers(0, 2 ** int(rng.integers(1, 22)), size=n).astype(np.uint32)
        if n > 60:
            vals[10:40] = 0
        e = mc.encode(vals)
        assert np.array_equal(mc.decode(e, n), vals), (t, n)
        if n >= 256:
            ctrls.add(e[0])
    assert len(ctrls) > 1  # tournament actually switches dictionaries/widths
    # 8-bit width wins when every needed codeword is < 256
    small = [DintDict.from_patterns([np.array([i], np.uint32) for i in range(40)])] * 6
    mcs = MultiDintCodec(small)
    v = rng.integers(0, 40, size=256).astype(np.uint32)
    e = mcs.encode(v)
    assert e[0] >= 6 and len(e) == 1 + 256  # control byte + 1 byte/int
    assert np.array_equal(mcs.decode(e, 256), v)


def test_dint_tail_fallback_interpolative():
    """Registry index codecs interpolate partial blocks (dint_codecs.hpp:
    161-164): shorter payload than codeword streams on short sorted-gap
    tails, still exact."""
    rng = np.random.default_rng(13)
    c = _codec([[1, 2], [3]])
    from dint_spark.codecs.dint import DintCodec

    cf = DintCodec(c.dict, "optimal", tail_fallback=True)
    for n in (1, 2, 17, 100, 255):
        vals = rng.integers(0, 50, size=n).astype(np.uint32)
        enc = cf.encode(vals)
        assert np.array_equal(cf.decode(enc, n), vals), n
    # full blocks still use the codeword stream
    v256 = rng.integers(0, 50, size=256).astype(np.uint32)
    assert np.array_equal(cf.decode(cf.encode(v256), 256), v256)


@pytest.mark.usefixtures("spark")
def test_multi_learned_model_roundtrip(spark, random_postings):
    from dint_spark.build.blocks import build_block_index, decode_block_index, index_stats
    from dint_spark.build.dint_build import MultiDintModel, learn_dint_model
    from dint_spark.codecs.registry import get_codec

    model = learn_dint_model(random_postings, MultiDintModel, capacity=4096)
    assert sum(len(d) for d in model.docs) > 0

    codec = get_codec("multi_packed_dint", model)
    idx = build_block_index(random_postings, codec).cache()
    decoded = decode_block_index(idx, codec)
    assert decoded.exceptAll(random_postings).count() == 0
    assert random_postings.exceptAll(decoded).count() == 0

    # the 12-way tournament (6 dicts × 2 widths) never loses materially
    # to the single dictionary on the same corpus (ref target: 4.766 vs
    # 5.939 docs-bpi on test_collection, README.md:112-114)
    smodel = learn_dint_model(random_postings, capacity=4096)
    scodec = get_codec("single_packed_dint", smodel)
    s_multi = index_stats(idx).first()
    s_single = index_stats(build_block_index(random_postings, scodec)).first()
    assert s_multi["docs_bpi"] <= s_single["docs_bpi"] * 1.01
    assert s_multi["freqs_bpi"] <= s_single["freqs_bpi"] * 1.01

    # save/load parity
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        model.save(spark, f"{td}/mmodel")
        m2 = MultiDintModel.load(spark, f"{td}/mmodel")
        c2 = get_codec("multi_packed_dint", m2)
        vals = np.array(list(range(200)) + [0] * 56, dtype=np.uint32)
        assert np.array_equal(
            c2.docs.decode(codec.docs.encode(vals), len(vals)), vals
        )


def test_block_roundtrip_exceptions_runs_tails():
    """Per-block decode round-trips blocks with exceptions, zero runs and
    interpolative tails, for both single- and multi-dict codecs."""
    from dint_spark.codecs.dint import DintCodec, MultiDintCodec, NUM_SELECTORS

    rng = np.random.default_rng(31)
    pats = [list(rng.integers(0, 60, size=s)) for s in (16, 8, 4, 2) for _ in range(50)]
    pats += [[v] for v in range(40)]
    d = DintDict.from_patterns([np.array(p, np.uint32) for p in pats])
    single = DintCodec(d, "optimal", tail_fallback=True)
    multi = MultiDintCodec([d] * NUM_SELECTORS)
    for codec in (single, multi):
        blocks = []
        for t in range(60):
            n = 256 if t % 3 else int(rng.integers(1, 256))
            v = rng.integers(0, 200000, size=n).astype(np.uint32)  # many exceptions
            if t % 2:
                v = rng.integers(0, 60, size=n).astype(np.uint32)
            if n > 60:
                v[10:50] = 0
            blocks.append(v)
        for i, v in enumerate(blocks):
            assert np.array_equal(codec.decode(codec.encode(v), v.size), v), (
                type(codec).__name__, i)
