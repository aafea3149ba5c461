"""Codec registry — the Spark analog of the reference's compile-time
index-type dispatch (/root/reference/include/index_types.hpp:83-87).

A codec object exposes encode_docs / encode_freqs / decode_docs /
decode_freqs over uint32 numpy arrays, one posting block per call:
every reader (the shard kernel, decode_block_index, transcode) decodes
block by block. The docs stream carries docID gaps−1, the freqs stream
tf−1. DINT codecs are asymmetric: separate dictionaries are learned for
the two streams (dict_freq_index::builder::build_model learns two
models, dict_freq_index.hpp:53-68).
"""

from __future__ import annotations

import numpy as np

from dint_spark.codecs import vbyte


class SymmetricCodec:
    """Wrap a stateless encode/decode module (vbyte, u32) for both streams."""

    def __init__(self, name: str, encode, decode):
        self.name = name
        self._encode = encode
        self._decode = decode

    def encode_docs(self, vals: np.ndarray) -> bytes:
        return self._encode(vals)

    encode_freqs = encode_docs

    def decode_docs(self, buf: bytes, n: int) -> np.ndarray:
        return self._decode(buf, n)

    decode_freqs = decode_docs


class PairCodec:
    """Distinct per-stream codecs (DINT: docs dict + freqs dict)."""

    def __init__(self, name: str, docs, freqs):
        self.name = name
        self.docs = docs
        self.freqs = freqs

    def encode_docs(self, vals):
        return self.docs.encode(vals)

    def encode_freqs(self, vals):
        return self.freqs.encode(vals)

    def decode_docs(self, buf, n):
        return self.docs.decode(buf, n)

    def decode_freqs(self, buf, n):
        return self.freqs.decode(buf, n)


def _u32_encode(vals: np.ndarray) -> bytes:
    return np.asarray(vals, dtype=np.uint32).tobytes()


def _u32_decode(buf: bytes, n: int) -> np.ndarray:
    out = np.frombuffer(buf, dtype=np.uint32)
    if n is not None and out.size != n:
        raise ValueError(f"u32: expected {n}, got {out.size}")
    return out


VBYTE = SymmetricCodec("block_vbyte", vbyte.encode, vbyte.decode)
U32 = SymmetricCodec("block_u32", _u32_encode, _u32_decode)  # raw copy (F7)


def _ef_encode(vals: np.ndarray) -> bytes:
    # gaps → strictly-increasing prefix sums → Elias-Fano (the reference
    # stores docIDs as EF of the monotone sequence, compact_elias_fano.hpp)
    from dint_spark.codecs import elias_fano

    v = np.asarray(vals, dtype=np.uint64)
    mono = np.cumsum(v + 1) - 1
    return elias_fano.encode(mono)


def _ef_decode(buf: bytes, n: int) -> np.ndarray:
    from dint_spark.codecs import elias_fano

    mono = elias_fano.decode(buf, n).astype(np.uint64)
    vals = np.diff(mono, prepend=np.uint64(0))
    vals[1:] -= 1
    return vals.astype(np.uint32)


def _interp():
    from dint_spark.codecs import interpolative

    return SymmetricCodec("block_interpolative", interpolative.encode, interpolative.decode)


def _pef_mono(vals: np.ndarray) -> np.ndarray:
    # gaps → strictly-increasing prefix sums: the positive_sequence trick
    # (ref:positive_sequence.hpp:20-38) makes ANY u32 stream (freqs too)
    # a valid strictly-monotone PEF input
    v = np.asarray(vals, dtype=np.uint64)
    return np.cumsum(v + 1) - 1


def _pef_encode_u(vals: np.ndarray) -> bytes:
    from dint_spark.codecs import partitioned_ef as pef

    mono = _pef_mono(vals)
    u = int(mono[-1]) + 1 if mono.size else 1
    return pef.uniform_encode(mono, u)


def _pef_encode_o(vals: np.ndarray) -> bytes:
    from dint_spark.codecs import partitioned_ef as pef

    mono = _pef_mono(vals)
    u = int(mono[-1]) + 1 if mono.size else 1
    return pef.partitioned_encode(mono, u)


def _pef_decode(buf: bytes, n: int) -> np.ndarray:
    from dint_spark.codecs import partitioned_ef as pef

    mono = pef.partitioned_decode(buf, n).astype(np.uint64)
    vals = np.diff(mono, prepend=np.uint64(0))
    vals[1:] -= 1
    return vals.astype(np.uint32)


def get_codec(name: str, dint_model=None):
    """Resolve a codec by index-type name (index_types.hpp naming)."""
    if name in ("block_vbyte", "vbyte"):
        return VBYTE
    if name in ("block_u32", "u32"):
        return U32
    if name in ("ef", "elias_fano"):
        return SymmetricCodec("ef", _ef_encode, _ef_decode)
    if name in ("block_interpolative", "interpolative"):
        return _interp()
    if name in ("pef_uniform", "uniform_partitioned"):
        return SymmetricCodec("pef_uniform", _pef_encode_u, _pef_decode)
    if name in ("pef_opt", "partitioned"):
        return SymmetricCodec("pef_opt", _pef_encode_o, _pef_decode)
    if name == "block_simple16":
        from dint_spark.codecs import simple16

        return SymmetricCodec("block_simple16", simple16.encode, simple16.decode)
    if name == "block_streamvbyte":
        from dint_spark.codecs import varintfam

        return SymmetricCodec(
            "block_streamvbyte",
            varintfam.streamvbyte_encode,
            varintfam.streamvbyte_decode,
        )
    if name == "block_varintgb":
        from dint_spark.codecs import varintfam

        return SymmetricCodec(
            "block_varintgb", varintfam.varintgb_encode, varintfam.varintgb_decode
        )
    if name in ("gamma", "elias_gamma"):
        from dint_spark.codecs import elias_gamma_delta as egd

        return SymmetricCodec("gamma", egd.gamma_encode, egd.gamma_decode)
    if name in ("delta", "elias_delta"):
        from dint_spark.codecs import elias_gamma_delta as egd

        return SymmetricCodec("delta", egd.delta_encode, egd.delta_decode)
    if name == "mixed_block":
        # F12: per-block codec choice with the B13 decode-time model
        # (mixed_block.hpp:10-218); created by transformation in the
        # reference (hpp:34) — build.blocks.transcode_block_index is the
        # block_transformer analog, and direct encode works too.
        from dint_spark.codecs.mixed_block import MixedCodec

        return MixedCodec()
    if name == "block_maskedvbyte":
        # MaskedVByte's WIRE FORMAT is plain VByte — the mask trick is a
        # SIMD decode path, not a format (Plaisance/Kurz/Lemire 2015).
        return SymmetricCodec("block_maskedvbyte", vbyte.encode, vbyte.decode)
    if name in (
        "single_packed_dint",
        "dint",
        "single_packed_dint_opt",
        "dint_opt",
        "single_packed_dint_greedy",
        "dint_greedy",
    ):
        if dint_model is None:
            raise ValueError("DINT codec needs a learned model")
        from dint_spark.codecs.dint import DintCodec

        # optimal parse is the SHIPPED default (the reference publishes
        # opt-parse indexes, README.md:112-115); greedy kept by name.
        mode = "greedy" if name.endswith("greedy") else "optimal"
        return PairCodec(
            name,
            DintCodec(dint_model.docs, mode, tail_fallback=True),
            DintCodec(dint_model.freqs, mode, tail_fallback=True),
        )
    if name == "multi_packed_dint":
        if dint_model is None:
            raise ValueError("DINT codec needs a learned model")
        from dint_spark.codecs.dint import MultiDintCodec

        return PairCodec(
            name,
            MultiDintCodec(dint_model.docs),
            MultiDintCodec(dint_model.freqs),
        )
    raise KeyError(f"unknown codec {name!r}")
