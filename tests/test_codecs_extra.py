"""Elias-Fano, interpolative, optimal-parse DINT (F17/F2/F15 analogs)."""

from __future__ import annotations

import numpy as np
import pytest

from dint_spark.codecs import elias_fano as ef, interpolative as ip
from dint_spark.codecs.dint import DintCodec, DintDict
from dint_spark.codecs.registry import get_codec


@pytest.mark.parametrize("trial", range(12))
def test_ef_roundtrip(trial):
    rng = np.random.default_rng(1000 + trial)
    n = int(rng.integers(1, 400))
    vals = np.sort(rng.choice(100000, size=n, replace=False)).astype(np.uint32)
    assert np.array_equal(ef.decode(ef.encode(vals), n), vals)


def test_ef_size_bound():
    # n(2 + ceil(log2(U/n))) bits + header: dense seq ≈ 2 bits/int
    vals = np.arange(0, 10000, 2, dtype=np.uint32)
    enc = ef.encode(vals)
    bpi = (len(enc) - 9) * 8 / vals.size
    assert bpi < 3.2, bpi


@pytest.mark.parametrize("trial", range(12))
def test_interpolative_roundtrip(trial):
    rng = np.random.default_rng(2000 + trial)
    n = int(rng.integers(1, 257))
    vals = rng.integers(0, 1 << int(rng.integers(1, 24)), size=n).astype(np.uint32)
    assert np.array_equal(ip.decode(ip.encode(vals), n), vals)


def test_interpolative_zeros_cheap():
    # all-equal/zero blocks cost ~0 payload bits (degenerate ranges)
    enc = ip.encode(np.zeros(256, dtype=np.uint32))
    assert len(enc) <= 12


def test_optimal_parse_beats_greedy_on_overlap():
    """Greedy takes [a,b] then singletons; optimal takes a + [b,c,d,e]
    (the motivating case for the DP, dint_codecs.hpp:141-283)."""
    d = DintDict.from_patterns(
        [np.array(p, dtype=np.uint32) for p in ([7, 8], [8, 9, 10, 11], [7])]
    )
    vals = np.array([7, 8, 9, 10, 11], dtype=np.uint32)
    g = DintCodec(d, "greedy").encode(vals)
    o = DintCodec(d, "optimal").encode(vals)
    assert len(o) == 2 * 2  # [7] + [8,9,10,11]
    assert len(g) > len(o)
    assert np.array_equal(DintCodec(d, "optimal").decode(o, 5), vals)


@pytest.mark.parametrize("trial", range(15))
def test_optimal_never_worse_roundtrip(trial):
    rng = np.random.default_rng(3000 + trial)
    pats = [list(rng.integers(0, 50, size=s)) for s in (16, 8, 4, 2) for _ in range(4)]
    pats += [[v] for v in range(40)]
    d = DintDict.from_patterns([np.array(p, dtype=np.uint32) for p in pats])
    g, o = DintCodec(d, "greedy"), DintCodec(d, "optimal")
    n = int(rng.integers(1, 257))
    vals = rng.integers(0, 60, size=n).astype(np.uint32)
    if n > 40:
        vals[5:25] = 0
    eg, eo = g.encode(vals), o.encode(vals)
    assert np.array_equal(g.decode(eg, n), vals)
    assert np.array_equal(o.decode(eo, n), vals)
    assert len(eo) <= len(eg)


def test_registry_gap_codecs_roundtrip():
    rng = np.random.default_rng(5)
    gaps = rng.integers(0, 30, size=200).astype(np.uint32)
    for name in ("ef", "block_interpolative", "block_vbyte", "block_u32"):
        c = get_codec(name)
        assert np.array_equal(c.decode_docs(c.encode_docs(gaps), 200), gaps), name


@pytest.mark.parametrize("name", ["block_simple16", "block_streamvbyte", "block_varintgb", "block_maskedvbyte"])
def test_new_block_codecs_roundtrip(name):
    rng = np.random.default_rng(17)
    c = get_codec(name)
    for t in range(30):
        n = int(rng.integers(0, 300))
        mag = 27 if name == "block_simple16" else 32
        v = rng.integers(0, 2 ** int(rng.integers(1, mag + 1)), size=n).astype(np.uint32)
        assert np.array_equal(c.decode_docs(c.encode_docs(v), n), v), (name, t, n)


def test_simple16_rejects_29bit():
    c = get_codec("block_simple16")
    with pytest.raises(ValueError):
        c.encode_docs(np.array([1 << 28], dtype=np.uint32))


@pytest.mark.parametrize("name", ["gamma", "delta"])
def test_elias_gamma_delta_roundtrip(name):
    rng = np.random.default_rng(23)
    c = get_codec(name)
    for t in range(30):
        n = int(rng.integers(0, 300))
        v = rng.integers(0, 2 ** int(rng.integers(1, 32)), size=n).astype(np.uint32)
        assert np.array_equal(c.decode_docs(c.encode_docs(v), n), v), (name, t)
    # canonical: γ(1) = '1' → value 0 encodes to the single bit 1
    assert c.encode_docs(np.array([0], dtype=np.uint32))[0] & 0x80


def test_ef_rejects_values_beyond_u32():
    """r5 ADVICE (medium): values ≥ 2^32 silently wrapped through the
    u32 decode dtype ([1, 2^33] → [1, 0]). encode must refuse loudly."""
    with pytest.raises(ValueError, match="u32 wire domain"):
        ef.encode(np.array([1, 2 ** 33], dtype=np.uint64))
    # the full u32 domain itself stays valid (universe == 2^32)
    v = np.array([1, 2 ** 32 - 1], dtype=np.uint64)
    out = ef.decode(ef.encode(v, universe=2 ** 32), 2)
    assert out.astype(np.int64).tolist() == [1, 2 ** 32 - 1]


def test_pef_adapter_rejects_overflowing_prefix_sums():
    """registry._pef_mono prefix sums can exceed 2^32 for valid u32
    inputs — must now fail loudly instead of corrupting (r5 ADVICE)."""
    codec = get_codec("pef_uniform")
    vals = np.array([2 ** 31, 2 ** 31, 2 ** 31], dtype=np.uint64).astype(
        np.uint32
    )
    with pytest.raises(ValueError, match="u32 wire domain"):
        codec.encode_docs(vals)
