"""Binary interpolative coding — numpy/bitstream kernel.

Re-creates the reference's partial-block fallback codec
(/root/reference/include/ds2i/interpolative_coding.hpp:57-69,124-145;
used for tail blocks < 256 ints, dint_codecs.hpp:17-19): a sorted
sequence is coded recursively — the middle element with
ceil(log2(hi-lo+1)) bits centered between its bounds, then the halves.

Wire format here: u32 count, u32 last-value, then the bitstream of the
recursion over the prefix-summed sequence (the reference's wrapper
encodes gaps by prefix-summing first, block_codecs.hpp:104-151 — this
kernel takes the raw block values and does the same).

The recursion is Python-level (tail blocks ≤ 256 ints — bounded work);
bit IO holds the whole stream as one Python int.
"""

from __future__ import annotations

import numpy as np


class _BitWriter:
    """MSB-first bit stream accumulated in one Python int."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, width: int) -> None:
        if width:
            self.acc = (self.acc << width) | (value & ((1 << width) - 1))
            self.nbits += width

    def getvalue(self) -> bytes:
        pad = -self.nbits % 8  # zero-pad the last byte
        return (self.acc << pad).to_bytes((self.nbits + pad) // 8, "big")


class _BitReader:
    """MSB-first reader over the payload held as one Python int: a read
    is one shift and one mask, not a Python step per bit."""

    def __init__(self, buf: bytes):
        self.val = int.from_bytes(buf, "big")
        self.pos = 0  # bit position
        self.nbits = 8 * len(buf)

    def read(self, width: int) -> int:
        if width == 0:
            return 0
        end = self.pos + width
        if end > self.nbits:
            raise ValueError(f"truncated bit stream ({self.nbits} bits)")
        self.pos = end
        return (self.val >> (self.nbits - end)) & ((1 << width) - 1)


def _width(r: int) -> int:
    return int(r).bit_length() if r > 0 else 0


def _enc(w: _BitWriter, vals, lo: int, hi: int) -> None:
    n = len(vals)
    if n == 0:
        return
    mid = n // 2
    v = int(vals[mid])
    # v ∈ [lo + mid, hi - (n - mid - 1)]
    a = lo + mid
    b = hi - (n - mid - 1)
    w.write(v - a, _width(b - a))
    _enc(w, vals[:mid], lo, v - 1)
    _enc(w, vals[mid + 1 :], v + 1, hi)


def _dec(r: _BitReader, n: int, lo: int, hi: int, out: list) -> None:
    if n == 0:
        return
    mid = n // 2
    a = lo + mid
    b = hi - (n - mid - 1)
    v = a + r.read(_width(b - a))
    _dec(r, mid, lo, v - 1, out)
    out.append(v)
    _dec(r, n - mid - 1, v + 1, hi, out)


def encode(values: np.ndarray) -> bytes:
    """Encode arbitrary uint32 block: prefix-sum → strictly increasing →
    interpolative (the positive_sequence trick, positive_sequence.hpp:21-29)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.array([0, 0], dtype=np.uint32).tobytes()
    mono = np.cumsum(v + 1) - 1  # strictly increasing
    last = int(mono[-1])
    if last > 0xFFFFFFFF:
        # the u32-count/u32-last header (and the reference's u32
        # sum_of_values) cannot represent this block — fail loudly
        # instead of silently wrapping.
        raise ValueError(f"interpolative: block sum {last} exceeds u32 domain")
    w = _BitWriter()
    _enc(w, mono[:-1], 0, last - 1)
    return np.array([n, last], dtype=np.uint32).tobytes() + w.getvalue()


def decode(buf: bytes, n_expected: int | None = None) -> np.ndarray:
    if len(buf) < 8:
        raise ValueError(f"interpolative: truncated header ({len(buf)} of 8 bytes)")
    n, last = np.frombuffer(buf[:8], dtype=np.uint32)
    n = int(n)
    if n_expected is not None and n != n_expected:
        raise ValueError(f"interpolative: expected {n_expected}, got {n}")
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    out: list[int] = []
    try:
        _dec(_BitReader(buf[8:]), n - 1, 0, int(last) - 1, out)
    except ValueError as e:
        raise ValueError(f"interpolative: {e}") from None
    out.append(int(last))
    mono = np.asarray(out, dtype=np.uint64)
    vals = np.diff(mono, prepend=np.uint64(0))
    vals[1:] -= 1
    return vals.astype(np.uint32)
