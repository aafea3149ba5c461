"""DINT wire format pinned by digest, and truncated streams refused.

The digests pin the encoded bytes of the registry's DINT codecs over a
seeded block set and the dictionaries both model families learn from
`random_postings`; they move only if the wire format or the learning
changes."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from dint_spark.build.blocks import _decode_rows
from dint_spark.codecs.dint import (
    NUM_SELECTORS, RESERVED, DintCodec, DintDict, MultiDintCodec,
)
from dint_spark.codecs.registry import PairCodec
from dint_spark.codecs.stats import _classify

GOLDEN_ENCODINGS = {
    "single_packed_dint": "ccfaaaee30f2a394431be0bdf2f429d4e2cf5c6085137b8602e9570d3a97850e",
    "single_packed_dint_greedy": "cbeea1aa898df11fbb4511a7f611a430abe9606ab382f6cc8c3d64e9d6538e56",
    "multi_packed_dint": "5c23a4e2fe2280b103176fb6d4b5e58546c333d74644e04b8dd16450072ae888",
}
GOLDEN_DICTS = {
    "single": "9833b6ed7789e35dda3fc8ac7004ff8f00a7486e7dfd5079a87cf13f4e14a830",
    "multi": "cb1b76d02f03e7ffdf95eb53bb2cbef1afa23a449a5ab1534440eef2765bcdac",
}

SMALL = 300  # singleton entries 0..299: codewords 7..306, 8-bit reaches 0..248


def golden_dict() -> DintDict:
    """Singletons 0..SMALL-1, then patterns of every target size over
    values ≥ SMALL, so their codewords are ≥ 256 and only the 16-bit
    width can use them."""
    rng = np.random.default_rng(2024)
    pats = [[v] for v in range(SMALL)]
    pats += [list(rng.integers(SMALL, 1000, size=s)) for s in (16, 8, 4, 2) for _ in range(8)]
    return DintDict.from_patterns([np.array(p, dtype=np.uint32) for p in pats])


def golden_blocks(d: DintDict) -> list[np.ndarray]:
    """Seeded blocks: full blocks of small values (the 8-bit width wins),
    full blocks tiled from the ≥ 256 codeword patterns (16-bit wins),
    zero runs, EXC16 and EXC32 values, and tails of every length class."""
    rng = np.random.default_rng(7)
    big = [d.matrix[k, : d.sizes[k]] for k in range(SMALL, len(d))]
    blocks = []
    for t in range(24):
        n = 256 if t % 4 else int(rng.integers(1, 256))
        if t % 3 == 0:
            v = rng.integers(0, 120, size=n)
        elif t % 3 == 1:
            v = np.concatenate([big[int(i)] for i in rng.integers(0, len(big), size=n)])[:n]
        else:
            v = rng.integers(0, 1 << int(rng.integers(8, 33)), size=n, dtype=np.uint64)
        v = np.asarray(v if n == 256 else v % 4096, dtype=np.uint32)
        if n == 256:
            v[20 : 20 + int(rng.integers(16, 60))] = 0
            v[-1] = (70000, 4660, 2**32 - 1)[t % 3]
        blocks.append(v)
    return blocks


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(len(p).to_bytes(4, "little"))
        h.update(p)
    return h.hexdigest()


def _dict_digest(dicts) -> str:
    return _digest(b for d in dicts for b in (d.sizes.tobytes(), d.matrix.tobytes()))


@pytest.mark.parametrize("name", sorted(GOLDEN_ENCODINGS))
def test_encodings_match_golden_digest(name):
    from dint_spark.build.dint_build import DintModel, MultiDintModel
    from dint_spark.codecs.registry import get_codec

    d = golden_dict()
    model = (
        MultiDintModel(docs=[d] * NUM_SELECTORS, freqs=[d] * NUM_SELECTORS)
        if name == "multi_packed_dint"
        else DintModel(docs=d, freqs=d)
    )
    codec = get_codec(name, model)
    blocks = golden_blocks(d)
    encs = [codec.encode_docs(v) for v in blocks]
    if name == "multi_packed_dint":
        ctrls = {e[0] for e, v in zip(encs, blocks) if v.size == 256}
        assert min(ctrls) < NUM_SELECTORS <= max(ctrls)  # both widths win somewhere
    assert any(v.size < 256 for v in blocks) and any((v == 0).sum() >= 16 for v in blocks)
    assert any(v.max() >= 1 << 16 for v in blocks) and any(256 <= v.max() < 1 << 16 for v in blocks)
    assert _digest(encs) == GOLDEN_ENCODINGS[name]
    for v, e in zip(blocks, encs):
        assert np.array_equal(codec.decode_docs(e, v.size), v)


@pytest.mark.usefixtures("spark")
def test_learned_dictionaries_match_golden_digest(random_postings):
    from dint_spark.build.dint_build import DintModel, MultiDintModel, learn_dint_model

    single = learn_dint_model(random_postings, capacity=4096)
    assert _dict_digest([single.docs, single.freqs]) == GOLDEN_DICTS["single"]
    multi = learn_dint_model(random_postings, model=MultiDintModel, capacity=4096)
    assert _dict_digest(multi.docs + multi.freqs) == GOLDEN_DICTS["multi"]
    assert isinstance(single, DintModel) and isinstance(single.docs, DintDict)


# --- truncated streams ------------------------------------------------------

def _truncation_case(kind: str, exc_value: int):
    """(codec, 256-int block whose last codeword is an exception): the
    single codec's u16 stream, or a multi block that wins at 16 or 8 bits.
    The tail kinds give a 100-int block ending in exc_value instead, which
    both codecs write as an interpolative payload."""
    d = golden_dict()
    rng = np.random.default_rng(5)
    if kind.startswith("tail"):
        v = np.append(rng.integers(1, 100, size=99), exc_value).astype(np.uint32)
        if kind == "tail_multi":
            return MultiDintCodec([d] * NUM_SELECTORS), v
        return DintCodec(d, tail_fallback=True), v
    if kind == "multi16":  # tiled from ≥ 256 codewords: 16-bit wins
        pat = d.matrix[SMALL, :16]
        v = np.concatenate([np.tile(pat, 15), rng.integers(1, 100, size=15)])
        codec = MultiDintCodec([d] * NUM_SELECTORS)
    else:
        v = rng.integers(1, 100, size=255)
        codec = MultiDintCodec([d] * NUM_SELECTORS) if kind == "multi8" else DintCodec(d)
    v = np.append(v, exc_value).astype(np.uint32)
    return codec, v


@pytest.mark.parametrize("path", ["scalar", "batch_last", "batch_cross"])
@pytest.mark.parametrize("exc_value", [4660, 0x12345678], ids=["exc16", "exc32"])
@pytest.mark.parametrize(
    "kind", ["single16", "multi16", "multi8", "tail_single", "tail_multi"]
)
@pytest.mark.parametrize("cut", [1, 2, "head"], ids=["cut1", "cut2", "head"])
def test_truncated_stream_raises(kind, exc_value, path, cut):
    """A stream whose final exception operand is cut raises ValueError:
    decoded alone, and in one decode_block_index batch as its last block
    and as a block followed by a whole one (the cut operand must not
    read the next block's bytes). A tail (interpolative) payload cut at
    its end raises it too, and so does every stream cut to 5 bytes
    (inside a tail's 8-byte header)."""
    codec, v = _truncation_case(kind, exc_value)
    enc = codec.encode(v)
    if kind in ("multi16", "multi8"):
        assert (enc[0] >= NUM_SELECTORS) == (kind == "multi8")
    bad = enc[:5] if cut == "head" else enc[:-cut]
    with pytest.raises(ValueError, match="truncated"):
        if path == "scalar":
            codec.decode(bad, v.size)
        else:
            bufs = [enc, bad] if path == "batch_last" else [bad, enc]
            rows = pd.DataFrame({"term_id": [0, 0], "n": [v.size] * 2, "block_base": [-1, -1],
                                 "docs_bytes": bufs, "freqs_bytes": bufs})
            _decode_rows(rows, PairCodec("cut", codec, codec))


@pytest.mark.parametrize(
    "fault, match",
    [("control_byte", "control byte"), ("codeword", "beyond dictionary"),
     ("trailing", "units after")],
    ids=["control_byte", "codeword", "trailing"],
)
def test_bad_control_byte_raises(fault, match):
    """A malformed stream is refused with ValueError: a multi block whose
    control byte names no (dictionary, width) pair, a codeword past the
    dictionary's last entry (by the reader and the codeword histogram),
    and units left after the block's values. The encoder writes none of
    these shapes."""
    d = golden_dict()
    codec = MultiDintCodec([d] * NUM_SELECTORS)
    if fault == "control_byte":
        bad = bytes([2 * NUM_SELECTORS]) + bytes(8)
    elif fault == "codeword":
        bad = bytes([0]) + np.array([RESERVED + len(d)], dtype="<u2").tobytes()
        with pytest.raises(ValueError, match=match):
            _classify(bad[1:], d.sizes)
    else:
        codec = DintCodec(d)
        enc = codec.encode(np.arange(256, dtype=np.uint32) % SMALL)
        bad = enc + enc
    with pytest.raises(ValueError, match=match):
        codec.decode(bad, 256)
