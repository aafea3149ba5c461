"""DINT — Dictionary of INTeger patterns codec (the reference's flagship).

Semantics re-created from /root/reference (NOT copied; the reference is
C++):
* dictionary of up to 65,536 entries, patterns of ≤16 ints, target sizes
  {16,8,4,2,1} (dint_configuration.hpp:20-28);
* reserved codewords: 0 → 16-bit exception, 1 → 32-bit exception,
  2..6 → runs of 256/128/64/32/16 zeros (single_dictionary.hpp:39-56);
  real entries start at codeword 7;
* blocks shorter than 256 ints are coded with binary interpolative
  coding (the reference's tail fallback, dint_codecs.hpp:17-19,161-164,
  405-408) when the codec is built with tail_fallback=True (the
  registry's index codecs; the raw kernel default is False so the
  codeword wire format stays directly testable);
* one wire format, parameterized by the codeword width b ∈ {16, 8} (the
  reference's single writer and reader, dint_codecs.hpp:285-509): a
  stream of b-bit little-endian units; a pattern or run is one unit, an
  exception is its code unit followed by the 16- or 32-bit value as b-bit
  units (OPERAND_UNITS). single_packed writes the 16-bit stream, which
  is also multi_packed's 16-bit payload. _ser writes a parse and _decode
  reads one block, the only reader: a stream cut inside an operand, a
  codeword beyond the dictionary or units left after the block's values
  raise ValueError;
* encode = greedy longest-run-then-longest-pattern-first parse
  (dint_codecs.hpp:52-139) or the optimal shortest-path parse
  (dint_codecs.hpp:141-283), with pattern matching VECTORIZED across
  positions (numpy void-dtype searchsorted over per-size sorted pattern
  tables) so the per-block Python cost is the DP loop alone; either
  parse is a list of (start, end, codeword) ops that _ser writes;
* multi_packed (opt_dint_multi_dict_block, dint_codecs.hpp:285-509):
  6 selector-context dictionaries; each full block is encoded with all
  6 dictionaries × 2 codeword widths (16-bit and 8-bit) and the
  smallest of the 12 wins; a control byte (selector, +6 if 8-bit)
  precedes the payload. The selector classifies a block by the
  bit-width class of its max value (statistics_collectors.hpp:21-40).

The dictionaries are LEARNED in Spark (build/dint_build.py, one pass for
both families): a global pattern-frequency aggregation (two-pass per the
north rule) followed by decreasing-static-frequency selection (DSF,
dictionary_builders.hpp:40-77).
This module is the pure-numpy kernel layer used inside pandas UDFs.

Storage-format note: the reference's packed/rectangular layouts
(pack_policy::compact prefix sharing, dictionary_building_utils.hpp:241-293)
are space optimizations of the C++ in-memory table; our table lives in a
Parquet side table where Parquet's own encodings play that role, so
entries are stored unpacked.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

NUM_ENTRIES = 65536
MAX_PATTERN = 16
TARGET_SIZES = (16, 8, 4, 2, 1)
RESERVED = 7
EXC16 = 0  # followed by the value (< 2^16)
EXC32 = 1  # followed by the value (< 2^32)
RUN_CODES = {256: 2, 128: 3, 64: 4, 32: 5, 16: 6}
RUN_SIZES = {2: 256, 3: 128, 4: 64, 5: 32, 6: 16}
_RUN_ORDER = (256, 128, 64, 32, 16)
DINT_BLOCK_SIZE = 256  # constants::block_size (dint_configuration.hpp:23)
NUM_SELECTORS = 6  # dint_configuration.hpp:20
# codeword width in bits → the stream's unit dtype, and the units of the
# value that follows an exception codeword (indexed by EXC16 = 0 and
# EXC32 = 1): the value is stored as little-endian units
UNIT_DTYPE = {16: np.dtype("<u2"), 8: np.dtype("u1")}
OPERAND_UNITS = {16: (1, 2), 8: (2, 4)}


def ceil_log2(x: int) -> int:
    return (x - 1).bit_length() if x > 1 else 0


def selector_code(vals: np.ndarray) -> int:
    """Bit-width-class selector (statistics_collectors.hpp:21-40,
    context=max): 0 for max ≤ 1, else ceil_log2(ceil_log2(max+1)) —
    range 0..5 for u32 values."""
    x = int(vals.max(initial=0))
    if x <= 1:
        return 0
    return ceil_log2(ceil_log2(x + 1))


@dataclass
class DintDict:
    """One stream's dictionary: patterns → codewords ≥ RESERVED."""

    matrix: np.ndarray  # (K, 16) uint32, zero-padded
    sizes: np.ndarray  # (K,) int32
    lookup: dict  # pattern bytes (uint32 LE) -> codeword
    _tables: dict | None = field(default=None, repr=False, compare=False)

    @classmethod
    def from_patterns(cls, patterns: list[np.ndarray]) -> "DintDict":
        k = len(patterns)
        if k > NUM_ENTRIES - RESERVED:
            raise ValueError(f"too many patterns: {k}")
        matrix = np.zeros((k, MAX_PATTERN), dtype=np.uint32)
        sizes = np.zeros(k, dtype=np.int32)
        lookup: dict[bytes, int] = {}
        for i, p in enumerate(patterns):
            p = np.asarray(p, dtype=np.uint32)
            matrix[i, : p.size] = p
            sizes[i] = p.size
            lookup.setdefault(p.tobytes(), RESERVED + i)
        return cls(matrix=matrix, sizes=sizes, lookup=lookup)

    def __len__(self) -> int:
        return len(self.sizes)

    def tables(self) -> dict:
        """size → (sorted void-key array, codeword array) for vectorized
        multi-position matching. Built lazily, cached."""
        if self._tables is None:
            tbl = {}
            for s in TARGET_SIZES:
                idxs = np.flatnonzero(self.sizes == s)
                if idxs.size:
                    keys = (
                        np.ascontiguousarray(self.matrix[idxs, :s])
                        .view(f"V{4 * s}")
                        .ravel()
                    )
                    order = np.argsort(keys)
                    tbl[s] = (keys[order], (idxs[order] + RESERVED).astype(np.int32))
            self._tables = tbl
        return self._tables

    def match_codewords(self, v: np.ndarray) -> dict[int, np.ndarray]:
        """size → int32 array of codewords (−1 = no match) for the window
        starting at EVERY position of v — one searchsorted per size
        instead of a Python dict probe per (position, size)."""
        n = v.size
        tbl = self.tables()
        out: dict[int, np.ndarray] = {}
        for s in TARGET_SIZES:
            if s > n:
                continue
            t = tbl.get(s)
            if t is None:
                continue
            keys_sorted, cws = t
            w = np.ascontiguousarray(sliding_window_view(v, s))
            wk = w.view(f"V{4 * s}").ravel()
            pos = np.searchsorted(keys_sorted, wk)
            pos_c = np.minimum(pos, keys_sorted.size - 1)
            ok = keys_sorted[pos_c] == wk
            out[s] = np.where(ok, cws[pos_c], np.int32(-1))
        return out


def _zrun(v: np.ndarray) -> np.ndarray:
    """zrun[i] = count of consecutive zeros starting at i (vectorized)."""
    n = v.size
    idx = np.arange(n)
    nz = np.flatnonzero(v)
    if nz.size == 0:
        return n - idx
    k = np.searchsorted(nz, idx)
    nxt = np.where(k < nz.size, nz[np.minimum(k, nz.size - 1)], n)
    return nxt - idx


def _optimal_ops(
    v: np.ndarray, cw: dict[int, np.ndarray], zrun: np.ndarray, cw_limit: int | None
) -> list[tuple[int, int, int]]:
    """Shortest-path parse (dint_codecs.hpp:141-283 semantics) → ops.

    Backward DP in codeword-unit costs (pattern/run = 1, exc16 = 2,
    exc32 = 3 — the reference's node costs); cw_limit restricts usable
    codewords (the 8-bit width uses only codewords < 256,
    builder.lookup(..., b) in dint_codecs.hpp:333). Returns
    [(start, end, code)] where code is the emitted codeword: EXC16 or
    EXC32 for an exception, a run code or a pattern codeword otherwise.
    """
    n = v.size
    INF = 1 << 30
    # plain Python lists throughout the hot loop: per-element numpy
    # scalar indexing costs ~100ns each and dominates a 256-iteration DP
    vl = v.tolist()
    zl = zrun.tolist()
    cwl = []
    for s in sorted(cw, reverse=True):
        arr = cw[s]
        if cw_limit is not None:
            arr = np.where(arr < cw_limit, arr, np.int32(-1))
        cwl.append((s, arr.tolist()))
    runs = [(size, RUN_CODES[size]) for size in _RUN_ORDER]
    cost = [INF] * (n + 1)
    cost[n] = 0
    nxt = [0] * (n + 1)
    code = [0] * (n + 1)
    for i in range(n - 1, -1, -1):
        # exception edge (always available)
        if vl[i] < 65536:
            best, bn, bc = 2 + cost[i + 1], i + 1, EXC16
        else:
            best, bn, bc = 3 + cost[i + 1], i + 1, EXC32
        # pattern edges
        for s, arr in cwl:
            j = i + s
            if j <= n:
                w = arr[i]
                if w >= 0:
                    c = 1 + cost[j]
                    if c < best:
                        best, bn, bc = c, j, w
        # zero-run edges
        z = zl[i]
        if z >= 16:
            for size, rc in runs:
                if z >= size:
                    c = 1 + cost[i + size]
                    if c < best:
                        best, bn, bc = c, i + size, rc
        cost[i] = best
        nxt[i] = bn
        code[i] = bc
    ops: list[tuple[int, int, int]] = []
    i = 0
    while i < n:
        j = nxt[i]
        ops.append((i, j, code[i]))
        i = j
    return ops


def _ser(ops: list, v: np.ndarray, width: int) -> bytes:
    """Write a parse as a codeword stream of `width`-bit units (the write
    path of dint_codecs.hpp:379-397 with b = width). A pattern or run is
    one unit; an exception is its code unit, then the value v[start] as
    OPERAND_UNITS little-endian units. An 8-bit parse only uses codewords
    < 256 (_optimal_ops' cw_limit)."""
    mask = (1 << width) - 1
    out: list[int] = []
    for i, _j, c in ops:
        out.append(c)
        if c <= EXC32:
            x = int(v[i])
            for u in range(OPERAND_UNITS[width][c]):
                out.append((x >> (width * u)) & mask)
    return np.asarray(out, dtype=UNIT_DTYPE[width]).tobytes()


def _decode(buf: bytes, n: int, d: DintDict, width: int) -> np.ndarray:
    """Read one block's codeword stream of `width`-bit units → n values."""
    size = UNIT_DTYPE[width].itemsize
    if len(buf) % size:
        raise ValueError("dint: truncated codeword stream (partial unit)")
    units = np.frombuffer(buf, dtype=UNIT_DTYPE[width]).tolist()
    operands = OPERAND_UNITS[width]
    matrix, sizes = d.matrix, d.sizes
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    j = 0
    m = len(units)
    while pos < n:
        if j >= m:
            raise ValueError("dint: truncated codeword stream")
        c = units[j]
        j += 1
        if c >= RESERVED:
            k = c - RESERVED
            try:
                s = int(sizes[k])
            except IndexError:
                raise ValueError(
                    f"dint: codeword {c} beyond dictionary ({len(d)} entries)"
                ) from None
            out[pos : pos + s] = matrix[k, :s]
            pos += s
        elif c <= EXC32:
            w = operands[c]
            if j + w > m:
                raise ValueError("dint: truncated codeword stream")
            out[pos] = int.from_bytes(buf[j * size : (j + w) * size], "little")
            j += w
            pos += 1
        else:  # zero run — out already zeroed
            pos += RUN_SIZES[c]
    if pos != n:
        raise ValueError(f"dint: decoded {pos}, expected {n}")
    if j != m:
        raise ValueError(f"dint: {m - j} units after {n} values")
    return out


def _interp():
    from dint_spark.codecs import interpolative

    return interpolative


class DintCodec:
    """encode/decode kernel over one stream, given a learned DintDict.

    mode="greedy" — longest-run-then-longest-pattern-first
    (dint_codecs.hpp:52-139); mode="optimal" — shortest-path DP over
    codeword costs (the reference's optimal parse, dint_codecs.hpp:141-283).
    Either parse is written as the 16-bit codeword stream.
    tail_fallback=True adds the reference's interpolative coding for
    blocks < 256 ints (dint_codecs.hpp:161-164); the registry's index
    codecs enable it, the raw kernel default keeps pure codeword streams
    for direct tests.
    """

    def __init__(self, dictionary: DintDict, mode: str = "greedy",
                 tail_fallback: bool = False):
        self.dict = dictionary
        if mode not in ("greedy", "optimal"):
            raise ValueError(mode)
        self.mode = mode
        self.tail_fallback = tail_fallback

    def encode(self, vals: np.ndarray) -> bytes:
        v = np.asarray(vals, dtype=np.uint32)
        if self.tail_fallback and v.size < DINT_BLOCK_SIZE:
            return _interp().encode(v)
        if self.mode == "optimal":
            return self.encode_optimal(v)
        return self.encode_greedy(v)

    def encode_greedy(self, vals: np.ndarray) -> bytes:
        v = np.asarray(vals, dtype=np.uint32)
        n = v.size
        lookup = self.dict.lookup
        ops: list[tuple[int, int, int]] = []
        zrun = _zrun(v)
        i = 0
        while i < n:
            z = int(zrun[i])
            if z >= 16:
                for size in _RUN_ORDER:
                    while z >= size:
                        ops.append((i, i + size, RUN_CODES[size]))
                        i += size
                        z -= size
                continue
            for s in TARGET_SIZES:
                cw = lookup.get(v[i : i + s].tobytes()) if i + s <= n else None
                if cw is not None:
                    ops.append((i, i + s, cw))
                    i += s
                    break
            else:
                ops.append((i, i + 1, EXC16 if v[i] < 65536 else EXC32))
                i += 1
        return _ser(ops, v, 16)

    def encode_optimal(self, vals: np.ndarray) -> bytes:
        v = np.asarray(vals, dtype=np.uint32)
        ops = _optimal_ops(v, self.dict.match_codewords(v), _zrun(v), None)
        return _ser(ops, v, 16)

    def decode(self, buf: bytes, n: int) -> np.ndarray:
        if self.tail_fallback and n < DINT_BLOCK_SIZE:
            return np.asarray(_interp().decode(buf, n), dtype=np.uint32)
        return _decode(buf, n, self.dict, 16)


class MultiDintCodec:
    """multi_packed DINT (opt_dint_multi_dict_block, dint_codecs.hpp:285-509).

    encode: blocks < 256 → interpolative; else every block is encoded
    with all NUM_SELECTORS dictionaries at both codeword widths (16-bit
    and 8-bit — the 8-bit width may only use codewords < 256, i.e. the
    249 most-frequent DSF entries) and the smallest of the 12 encodings
    wins (Option (1) tournament, :410-433). The control byte stores the
    winning dictionary id, +NUM_SELECTORS when the 8-bit width won.
    decode: control byte → dictionary + width → stream scan (:464-509).
    """

    def __init__(self, dicts: list[DintDict]):
        if len(dicts) != NUM_SELECTORS:
            raise ValueError(f"need {NUM_SELECTORS} dictionaries, got {len(dicts)}")
        self.dicts = dicts

    def encode(self, vals: np.ndarray) -> bytes:
        v = np.asarray(vals, dtype=np.uint32)
        n = v.size
        if n < DINT_BLOCK_SIZE:
            return _interp().encode(v)
        zr = _zrun(v)
        best_size = None
        best_payload = b""
        best_ctrl = 0
        for s, d in enumerate(self.dicts):
            cw = d.match_codewords(v)
            p16 = _ser(_optimal_ops(v, cw, zr, None), v, 16)
            p8 = _ser(_optimal_ops(v, cw, zr, 256), v, 8)
            # per-dict: prefer 8-bit on ties (reference :418-423)
            if len(p8) <= len(p16):
                sz, ctrl, payload = len(p8), s + NUM_SELECTORS, p8
            else:
                sz, ctrl, payload = len(p16), s, p16
            if best_size is None or sz < best_size:
                best_size, best_ctrl, best_payload = sz, ctrl, payload
        return bytes([best_ctrl]) + best_payload

    def decode(self, buf: bytes, n: int) -> np.ndarray:
        if n < DINT_BLOCK_SIZE:
            return np.asarray(_interp().decode(buf, n), dtype=np.uint32)
        return _decode(buf[1:], n, *self._route(buf[0]))

    def _route(self, ctrl: int) -> tuple[DintDict, int]:
        """Control byte → (dictionary, codeword width)."""
        if ctrl >= 2 * NUM_SELECTORS:
            raise ValueError(f"multi dint: bad control byte {ctrl}")
        if ctrl < NUM_SELECTORS:
            return self.dicts[ctrl], 16
        return self.dicts[ctrl - NUM_SELECTORS], 8


def extract_patterns(vals: np.ndarray, counter: dict) -> None:
    """Accumulate aligned sub-patterns of TARGET_SIZES into `counter`.

    This is the "adjusted" statistics scheme (statistics_collectors.hpp:
    adjusted::collect, block_statistics.hpp:62-76): each block is cut into
    aligned chunks per target size; every chunk pattern's occurrence is
    counted. All-zero 16-aligned chunks are excluded (they are covered by
    the reserved run codewords, not dictionary entries — a documented
    deviation that stops DSF spending entries on run-covered patterns).
    """
    v = np.asarray(vals, dtype=np.uint32)
    n = v.size
    for s in TARGET_SIZES:
        if s > n:
            continue
        m = (n // s) * s
        chunks = v[:m].reshape(-1, s)
        if s >= 16:
            nz = chunks.any(axis=1)
            chunks = chunks[nz]
        for row in chunks:
            key = row.tobytes()
            counter[key] = counter.get(key, 0) + 1

