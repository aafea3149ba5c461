"""Elias-Fano and partitioned Elias-Fano block codecs
(codecs/elias_fano.py, codecs/partitioned_ef.py): leaf representations,
per-partition selection, the optimal-partition DP, partitioned decode
over edge shapes, and the registry gap adapters — round-trip, golden
wire bytes, and refusal of cut buffers."""

from __future__ import annotations

import numpy as np
import pytest

from dint_spark.codecs import elias_fano as ef
from dint_spark.codecs import partitioned_ef as pef
from tests.test_dint_wire import _digest


def _strict(rng, n, universe):
    return np.sort(rng.choice(universe, size=n, replace=False)).astype(np.uint64)


# ---------------------------------------------------------------------------
# leaves
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("trial", range(6))
def test_rb_roundtrip(trial):
    rng = np.random.default_rng(100 + trial)
    n = int(rng.integers(1, 400))
    u = int(rng.integers(n, n * 20 + 2))
    v = _strict(rng, n, u)
    assert np.array_equal(pef.rb_decode(pef.rb_encode(v, u)), v)


def test_indexed_sequence_selection_and_roundtrip():
    """all-ones → zero-byte implicit; dense → ranked bitvector; sparse →
    EF (indexed_sequence.hpp best-of-three semantics), each decoding
    back exactly."""
    rng = np.random.default_rng(9)
    # all-ones: n == universe
    v = np.arange(50, dtype=np.uint64)
    buf = pef.indexed_encode(v, 50)
    assert buf == b""
    assert np.array_equal(pef.indexed_decode(buf, 50, 50), v)
    # dense (half the universe): bitvector beats EF
    u = 512
    v = _strict(rng, 400, u)
    buf = pef.indexed_encode(v, u)
    assert buf[0] == pef.T_RB
    assert np.array_equal(pef.indexed_decode(buf, u, 400), v)
    # sparse: EF wins
    u = 1 << 16
    v = _strict(rng, 40, u)
    buf = pef.indexed_encode(v, u)
    assert buf[0] == pef.T_EF
    assert np.array_equal(pef.indexed_decode(buf, u, 40), v)


# ---------------------------------------------------------------------------
# optimal partition DP
# ---------------------------------------------------------------------------


def test_optimal_partition_valid_and_adaptive():
    """Cuts are a valid increasing cover ending at n, and on a sequence
    with a dense run + a sparse tail the DP cuts near the density change
    (the PEF paper's raison d'être: clustered docIDs get cheap local
    universes)."""
    rng = np.random.default_rng(21)
    dense = np.arange(500, dtype=np.uint64)                 # run 0..499
    sparse = np.sort(rng.choice(
        np.arange(10_000, 500_000), size=300, replace=False
    )).astype(np.uint64)
    v = np.concatenate([dense, sparse])
    cuts = pef.optimal_partition(v, int(v[-1]) + 1)
    assert cuts[-1] == len(v)
    assert all(a < b for a, b in zip(cuts, cuts[1:]))
    # some cut lands within 64 positions of the density boundary (500)
    assert any(abs(c - 500) <= 64 for c in cuts), cuts
    # and the partitioned encoding beats one flat EF of the same data
    flat = len(ef.encode(v, int(v[-1]) + 1))
    part = len(pef.partitioned_encode(v, int(v[-1]) + 1))
    assert part < flat, (part, flat)


# ---------------------------------------------------------------------------
# partitioned containers
# ---------------------------------------------------------------------------


def _edge_shape(name, rng):
    """(values, universe) for a partition edge shape; the two runs also
    check the partition representation they are meant to reach."""
    if name == "n1":
        return np.array([41], dtype=np.uint64), 100
    if name == "psize_multiple":  # the last uniform cut lands exactly on n
        return _strict(rng, 384, 384 * 20), 384 * 20
    if name == "run":  # all-ones partitions: empty payloads
        v = np.arange(300, dtype=np.uint64) + 17
        assert pef.indexed_encode(v[:128] - v[0], 128) == b""
        return v, 400
    assert name == "dense"  # ranked-bitvector partitions
    v = np.flatnonzero(rng.random(1000) < 0.6).astype(np.uint64)
    assert pef.indexed_encode(v[:128] - v[0], int(v[127] - v[0]) + 1)[0] == pef.T_RB
    return v, int(v[-1]) + 1


@pytest.mark.parametrize("form", ["uniform", "opt"])
@pytest.mark.parametrize("trial", [*range(6), "n1", "psize_multiple", "run", "dense"])
def test_partitioned_roundtrip(form, trial):
    if isinstance(trial, str):
        v, u = _edge_shape(trial, np.random.default_rng(17))
    else:
        rng = np.random.default_rng(300 + trial)
        n = int(rng.integers(1, 1200))
        u = int(rng.integers(n, n * 30 + 2))
        v = _strict(rng, n, u)
    enc = pef.uniform_encode if form == "uniform" else pef.partitioned_encode
    buf = enc(v, u)
    assert np.array_equal(pef.partitioned_decode(buf, len(v)), v)


# ---------------------------------------------------------------------------
# registry adapters (docs gaps AND freqs via the positive_sequence trick)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", ["pef_uniform", "pef_opt"])
def test_registry_pef_roundtrip(name):
    from dint_spark.codecs.registry import get_codec

    rng = np.random.default_rng(42)
    c = get_codec(name)
    for t in range(12):
        n = int(rng.integers(0, 500))
        v = rng.integers(0, 2 ** int(rng.integers(1, 20)), size=n).astype(np.uint32)
        assert np.array_equal(c.decode_docs(c.encode_docs(v), n), v), (name, t)
        assert np.array_equal(c.decode_freqs(c.encode_freqs(v), n), v), (name, t)


# sha256 of encode_docs + encode_freqs over golden_gap_blocks(); a digest
# moves only if the wire format changed
GOLDEN_ENCODINGS = {
    "ef": "d49d5724085291ca34d3e37f2cccd3edd28c0c099cd92668ed62229f4a403e0a",
    "pef_uniform": "41726d4893503310c6bf855c3dca90b6411800dc4de82a5cf33c4a81f0a7bbbd",
    "pef_opt": "a40a6e8ebe4fd5ede9e2745e62b3cc11373191a87e324948a345289f1a3cbe7c",
}


def golden_gap_blocks() -> list[np.ndarray]:
    """Seeded gap blocks: n = 1, one full uniform partition, a zero run
    (all-ones partitions), 0/1 gaps (ranked-bitvector partitions), a
    run/sparse/dense/run block (the optimal form cuts it in three) and
    random gaps of three widths."""
    rng = np.random.default_rng(15)
    blocks = [
        np.array([7]),
        rng.integers(0, 1 << 12, size=128),
        np.zeros(256, dtype=np.int64),
        rng.integers(0, 2, size=256),
        np.concatenate([np.zeros(64, dtype=np.int64), rng.integers(0, 1 << 16, size=64),
                        rng.integers(0, 2, size=64), np.zeros(64, dtype=np.int64)]),
    ]
    blocks += [rng.integers(0, 1 << w, size=256) for w in (3, 9, 20)]
    return [np.asarray(b, dtype=np.uint32) for b in blocks]


@pytest.mark.parametrize("name", sorted(GOLDEN_ENCODINGS))
def test_encodings_match_golden_digest(name):
    from dint_spark.codecs.registry import get_codec

    c = get_codec(name)
    blocks = golden_gap_blocks()
    encs = [c.encode_docs(v) for v in blocks] + [c.encode_freqs(v) for v in blocks]
    assert _digest(encs) == GOLDEN_ENCODINGS[name]
    for v, buf in zip(blocks, encs[len(blocks):]):
        assert np.array_equal(c.decode_freqs(buf, v.size), v)


@pytest.mark.parametrize("name", sorted(GOLDEN_ENCODINGS))
def test_truncated_block_raises(name):
    """Every proper prefix of an encoded block is refused with
    ValueError(...truncated...): no assert, IndexError or struct.error."""
    from dint_spark.codecs.registry import get_codec

    c = get_codec(name)
    for v in golden_gap_blocks()[:5]:
        buf = c.encode_docs(v)
        for cut in range(len(buf)):
            with pytest.raises(ValueError, match="truncated"):
                c.decode_docs(buf[:cut], v.size)
