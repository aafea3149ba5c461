"""Elias-Fano encoding of monotone sequences — numpy kernel.

Re-creates the wire role of the reference's compact_elias_fano
(compact_elias_fano.hpp:12-149): docID lists are strictly increasing,
EF stores them in n·(2 + ceil(log2(U/n))) bits. The reference's
enumerator (move/next_geq/prev_value, hpp:150-420) has no counterpart:
skipping is served for every codec by block metadata — the shard
kernel's _ListEnum runs next_geq over block_max and decodes whole blocks
(SURVEY.md §2.8) — so this kernel is encode/decode only, usable as an
alternative docs-stream block codec ("ef" in the registry) and as the
upper-bounds/cuts sequence of the partitioned codecs.

Layout (self-contained, little-endian):
  u32 n, u32 universe  (the VByte header convention of the vroom streams,
                        vroom_env/codecs.hpp:110-124, kept fixed-width
                        for simplicity)
  u8 l, lower-bits array: n × l bits packed LSB-first, l = max(0,
                    floor(log2(U/n)))
  upper-bits bitvector: unary-coded high parts, (n + (U >> l) + 1) bits.

Decode is fully vectorized: set-bit positions of the upper bitvector via
np.unpackbits, lower bits gathered with shifts. A cut buffer raises
ValueError("ef: truncated …"): every proper prefix loses the header, the
lower bits or the last set bit of the upper bitvector.
"""

from __future__ import annotations

import numpy as np


def _pack_bits(values: np.ndarray, width: int) -> np.ndarray:
    """Pack `width` low bits of each value LSB-first into a uint8 array."""
    if width == 0 or values.size == 0:
        return np.zeros(0, dtype=np.uint8)
    n = values.size
    bits = ((values[:, None] >> np.arange(width, dtype=np.uint64)) & 1).astype(np.uint8)
    flat = bits.reshape(-1)  # LSB-first per value
    pad = (-flat.size) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(flat.reshape(-1, 8)[:, ::-1], axis=1).reshape(-1)


def _unpack_bits(buf: np.ndarray, count: int) -> np.ndarray:
    """Inverse of _pack_bits: first `count` bits, LSB-first order."""
    bits = np.unpackbits(buf[:, None], axis=1)[:, ::-1].reshape(-1)
    return bits[:count]


def encode(values: np.ndarray, universe: int | None = None) -> bytes:
    """Encode a non-decreasing uint sequence."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.array([0, 0], dtype=np.uint32).tobytes()
    u = int(universe) if universe is not None else int(v[-1]) + 1
    if u < int(v[-1]) + 1:
        raise ValueError("universe too small")
    if int(v[-1]) > 0xFFFFFFFF:
        # decode returns uint32 — larger VALUES would wrap SILENTLY
        # (r5 ADVICE verified [1, 2^33] round-tripping to [1, 0]).
        # Refuse loudly; callers with >u32 domains must re-base or
        # partition first (PEF partition payloads are base-subtracted,
        # but its u64-framed upper-bound sequence now fails loudly here
        # instead of corrupting). The stored u32 universe header is
        # never read back, so universe == 2^32 with in-range values
        # stays valid (the registry adapters' full-u32 domain).
        raise ValueError(
            f"ef: value {int(v[-1])} exceeds the u32 wire domain; "
            "re-base or partition the sequence (e.g. PEF) before EF-encoding"
        )
    l = max(int(np.floor(np.log2(u / n))), 0) if u > n else 0
    low = _pack_bits(v, l)
    high = (v >> np.uint64(l)).astype(np.int64)
    # unary upper bitvector: bit positions high[i] + i are set
    positions = high + np.arange(n, dtype=np.int64)
    nbits = int(positions[-1]) + 1
    upper_bits = np.zeros(nbits, dtype=np.uint8)
    upper_bits[positions] = 1
    pad = (-nbits) % 8
    if pad:
        upper_bits = np.concatenate([upper_bits, np.zeros(pad, dtype=np.uint8)])
    upper = np.packbits(upper_bits.reshape(-1, 8)[:, ::-1], axis=1).reshape(-1)
    # u == 2^32 (full-u32 domain) does not fit the u32 header slot; the
    # stored universe is never read back (decode uses the bitvector),
    # so mask explicitly — numpy 1.x wrapped silently,
    # numpy >= 2 would raise OverflowError on the blessed boundary case
    header = np.array([n, u & 0xFFFFFFFF], dtype=np.uint32).tobytes()
    return header + np.uint8(l).tobytes() + low.tobytes() + upper.tobytes()


def decode(buf: bytes, n_expected: int | None = None) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size < 8:
        raise ValueError(f"ef: truncated header ({b.size} of 8 bytes)")
    n = int(np.frombuffer(b[:8], dtype=np.uint32)[0])
    if n_expected is not None and n != n_expected:
        raise ValueError(f"ef: expected {n_expected}, got {n}")
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    if b.size < 9:
        raise ValueError("ef: truncated header (no lower-bits width)")
    l = int(b[8])
    low_bytes = (n * l + 7) // 8
    if b.size < 9 + low_bytes:
        raise ValueError(f"ef: truncated lower bits ({b.size - 9} of {low_bytes} bytes)")
    lows = np.zeros(n, dtype=np.uint64)
    if l:
        bits = _unpack_bits(b[9 : 9 + low_bytes], n * l).reshape(n, l)
        lows = (bits.astype(np.uint64) << np.arange(l, dtype=np.uint64)).sum(axis=1)
    upper_arr = b[9 + low_bytes :]
    ubits = np.unpackbits(upper_arr[:, None], axis=1)[:, ::-1].reshape(-1)
    positions = np.flatnonzero(ubits)[:n]
    if positions.size < n:
        raise ValueError(f"ef: truncated upper bits ({positions.size} of {n} values)")
    highs = (positions - np.arange(n)).astype(np.uint64)
    return ((highs << np.uint64(l)) | lows).astype(np.uint32)
