"""Partitioned Elias-Fano sequences — the reference's PEF family as
numpy block codecs.

Re-creates, over byte-aligned self-contained buffers (the established
container deviation of this repo: Python has no succinct bit_vector, so
buffers are byte-aligned while the representation SELECTION is the
graft):

  * all-ones sequence            (ref:all_ones_sequence.hpp:1-77)
  * ranked (plain) bitvector     (ref:compact_ranked_bitvector.hpp)
  * indexed_sequence             (ref:indexed_sequence.hpp:22-87 —
                                  per-partition best-of-three choice)
  * uniform_partitioned_sequence (ref:uniform_partitioned_sequence.hpp:
                                  19-105 — fixed 2^log_psize cuts)
  * partitioned_sequence         (ref:partitioned_sequence.hpp:21-120 —
                                  cuts from the optimal_partition DP)
  * optimal_partition            (ref:optimal_partition.hpp:13-123 —
                                  the windowed (1+eps)-approximate DP of
                                  Ottaviano & Venturini, "Partitioned
                                  Elias-Fano Indexes", SIGIR 2014)

Both partitioned forms store the partition upper bounds as ONE
compact-EF sequence; partition p holds the values in
[ubs[p] + (1 if p else 0), ubs[p+1]] (the reference enumerator's
switch_partition arithmetic, uniform_partitioned_sequence.hpp:283-287).
Like elias_fano.py this module is encode/decode only: skipping is
served for every codec by block metadata in the shard kernel
(SURVEY.md §2.8), so the reference's per-sequence enumerators have no
counterpart. A cut buffer raises ValueError("pef: truncated …") or,
from an EF leaf, ValueError("ef: truncated …").

Sequences here are STRICTLY increasing (docID semantics), values in
[0, universe).
"""

from __future__ import annotations

import struct

import numpy as np

from dint_spark.codecs import elias_fano as ef

# per-partition fixed overhead for the DP cost model, in BYTES: one
# endpoint + one upper-bound entry + the type byte (the reference's
# conf.fix_cost = 64 bits plays the same role, configuration.hpp)
FIX_COST = 12.0
EPS1, EPS2 = 0.03, 0.3  # reference defaults (configuration.hpp)
T_EF, T_RB = 0, 1  # indexed_sequence::index_type; all-ones is an empty payload


# ---------------------------------------------------------------------------
# leaf representations
# ---------------------------------------------------------------------------


def rb_encode(values: np.ndarray, universe: int) -> bytes:
    """Plain ranked bitvector: universe bits, bit v set per value."""
    bits = np.zeros(int(universe), dtype=np.uint8)
    bits[np.asarray(values, dtype=np.int64)] = 1
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, dtype=np.uint8)])
    payload = np.packbits(bits.reshape(-1, 8)[:, ::-1], axis=1).reshape(-1)
    return struct.pack("<II", len(values), int(universe)) + payload.tobytes()


def rb_decode(buf: bytes) -> np.ndarray:
    if len(buf) < 8:
        raise ValueError(f"pef: truncated ranked bitvector header ({len(buf)} of 8 bytes)")
    n, universe = struct.unpack_from("<II", buf)
    b = np.frombuffer(buf, dtype=np.uint8, offset=8)
    if b.size * 8 < universe:
        raise ValueError(
            f"pef: truncated ranked bitvector ({b.size} of {-(-universe // 8)} bytes)"
        )
    bits = np.unpackbits(b[:, None], axis=1)[:, ::-1].reshape(-1)[:universe]
    out = np.flatnonzero(bits).astype(np.uint64)
    if out.size != n:
        raise ValueError(f"pef: ranked bitvector holds {out.size} values, header says {n}")
    return out


# ---------------------------------------------------------------------------
# indexed_sequence: per-partition best-of {EF, ranked bitvector, all-ones}
# ---------------------------------------------------------------------------


def _ef_cost_bytes(universe: int, n: int) -> float:
    """Analytic size of ef.encode() output (for the DP cost model)."""
    if n == 0:
        return 8.0
    l = max(int(np.floor(np.log2(universe / n))), 0) if universe > n else 0
    low = (n * l + 7) // 8
    nbits = ((universe - 1) >> l) + n
    return 9.0 + low + -(-nbits // 8)


def _rb_cost_bytes(universe: int, n: int) -> float:
    return 8.0 + -(-universe // 8)


def indexed_cost_bytes(universe: int, n: int) -> float:
    """indexed_sequence::bitsize role (ref:indexed_sequence.hpp:24-40),
    in bytes of THIS module's encodings + 1 type byte (all-ones is
    implicit and free, as in the reference)."""
    if n == universe:
        return 0.0
    return 1.0 + min(_ef_cost_bytes(universe, n), _rb_cost_bytes(universe, n))


def indexed_encode(values: np.ndarray, universe: int) -> bytes:
    """1 type byte + payload; n == universe → empty buffer (all-ones is
    implicit — the decoder infers it from (universe, n) exactly as the
    reference's zero-bit branch does, indexed_sequence.hpp:100-103)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == int(universe):
        return b""
    e = ef.encode(v, int(universe))
    r = rb_encode(v, int(universe))
    if len(e) <= len(r):
        return bytes([T_EF]) + e
    return bytes([T_RB]) + r


def indexed_decode(buf: bytes, universe: int, n: int) -> np.ndarray:
    if len(buf) == 0:
        if n != universe:
            raise ValueError(
                f"pef: truncated partition (no payload for {n} values in universe {universe})"
            )
        return np.arange(n, dtype=np.uint64)
    t = buf[0]
    if t == T_EF:
        return ef.decode(buf[1:], n).astype(np.uint64)
    if t == T_RB:
        return rb_decode(buf[1:])
    raise ValueError(f"indexed_sequence: unknown type {t}")


# ---------------------------------------------------------------------------
# optimal_partition (ref:optimal_partition.hpp — the SIGIR'14 windowed DP)
# ---------------------------------------------------------------------------


def optimal_partition(
    values: np.ndarray, universe: int, cost_fun=indexed_cost_bytes,
    fix_cost: float = FIX_COST, eps1: float = EPS1, eps2: float = EPS2,
) -> list[int]:
    """Partition END positions (last == n), minimizing Σ cost(part) +
    fix_cost within (1+eps1): sliding cost windows, one per (1+eps2)
    cost scale — the reference DP ported structurally (windows advance
    both ends monotonically, O(n · #windows))."""
    v = np.asarray(values, dtype=np.int64)
    n = v.size
    fc = float(fix_cost)

    def cost(u, m):
        return cost_fun(int(u), int(m)) + fc

    single = cost(universe, n)
    min_cost = np.full(n + 1, single + fc, dtype=np.float64)
    min_cost[0] = 0.0
    path = np.zeros(n + 1, dtype=np.int64)
    path[1:] = 0

    cost_lb = cost(1, 1)
    bounds = []
    b = cost_lb
    while eps1 == 0 or b < cost_lb / eps1:
        bounds.append(b)
        if b >= single:
            break
        b = b * (1 + eps2)
    # per window: [start, end) with min_p / max_p tracked
    starts = [0] * len(bounds)
    ends = [0] * len(bounds)

    def window_universe(s, e):
        mn = v[s - 1] + 1 if s > 0 else v[0]
        return v[e - 1] - mn + 1

    for i in range(n):
        last_end = i + 1
        for w, ub in enumerate(bounds):
            starts[w] = i
            if ends[w] < last_end:
                ends[w] = last_end
            while True:
                wc = cost(window_universe(i, ends[w]), ends[w] - i)
                if min_cost[i] + wc < min_cost[ends[w]]:
                    min_cost[ends[w]] = min_cost[i] + wc
                    path[ends[w]] = i
                last_end = ends[w]
                if ends[w] == n or wc >= ub:
                    break
                ends[w] += 1

    cuts = []
    cur = n
    while cur != 0:
        cuts.append(cur)
        cur = int(path[cur])
    return cuts[::-1]


# ---------------------------------------------------------------------------
# partitioned container (shared by the uniform and optimal forms)
# ---------------------------------------------------------------------------

_MAGIC_UNIFORM = 0xEFA1
_MAGIC_OPT = 0xEFA2
# magic, n, universe, parts, log_psize, len(upper bounds), len(cuts)
_HEAD = struct.Struct("<HIQIBII")


def _encode_partitioned(
    values: np.ndarray, universe: int, cuts: list[int], magic: int,
    log_psize: int,
) -> bytes:
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:  # the reference asserts n > 0; a zero-row header keeps
        # the block-codec contract total (S3 empty sequences)
        return _HEAD.pack(magic, 0, int(universe), 0, 0, 0, 0)
    parts = len(cuts)
    # upper_bounds = [first value, last of p0, last of p1, ...]
    ubs = np.empty(parts + 1, dtype=np.uint64)
    ubs[0] = v[0]
    payloads = []
    prev = 0
    base = int(v[0])
    for p, end in enumerate(cuts):
        seg = v[prev:end]
        ub = int(seg[-1])
        payloads.append(
            indexed_encode(seg - np.uint64(base), ub - base + 1)
        )
        ubs[p + 1] = ub
        prev = end
        base = ub + 1
    ub_buf = ef.encode(ubs, int(universe))
    cuts_buf = (
        ef.encode(np.asarray(cuts[:-1], dtype=np.uint64), n)
        if magic == _MAGIC_OPT and parts > 1
        else b""
    )
    endpoints = np.cumsum([0] + [len(b) for b in payloads[:-1]]).astype(
        np.uint32
    )
    head = _HEAD.pack(
        magic, n, int(universe), parts, log_psize, len(ub_buf), len(cuts_buf)
    )
    return (
        head + ub_buf + cuts_buf + endpoints.tobytes() + b"".join(payloads)
    )


def uniform_encode(
    values: np.ndarray, universe: int, log_psize: int = 7
) -> bytes:
    """uniform_partitioned_sequence::write role: fixed 2^log_psize cuts
    (ref:uniform_partitioned_sequence.hpp:19-105)."""
    n = len(values)
    psize = 1 << log_psize
    cuts = list(range(psize, n, psize)) + [n]
    return _encode_partitioned(values, universe, cuts, _MAGIC_UNIFORM, log_psize)


def partitioned_encode(values: np.ndarray, universe: int) -> bytes:
    """partitioned_sequence::write role: cuts from optimal_partition
    (ref:partitioned_sequence.hpp:21-120)."""
    cuts = optimal_partition(values, universe)
    return _encode_partitioned(values, universe, cuts, _MAGIC_OPT, 0)


def partitioned_decode(buf: bytes, n_expected: "int | None" = None) -> np.ndarray:
    """Either partitioned form: the upper bounds and the optimal form's
    cuts decode once, then each partition's payload decodes with base
    ubs[p] + (1 if p else 0) over universe ubs[p+1] − base + 1."""
    if len(buf) < _HEAD.size:
        raise ValueError(f"pef: truncated header ({len(buf)} of {_HEAD.size} bytes)")
    magic, n, _universe, parts, log_psize, ub_len, cuts_len = _HEAD.unpack_from(buf)
    if n_expected is not None and n != n_expected:
        raise ValueError(f"pef: expected {n_expected}, got {n}")
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    off = _HEAD.size
    seq_off = off + ub_len + cuts_len + 4 * parts
    if len(buf) < seq_off:
        raise ValueError(f"pef: truncated directory ({len(buf)} of {seq_off} bytes)")
    ubs = ef.decode(buf[off : off + ub_len], parts + 1).astype(np.int64)
    off += ub_len
    if magic == _MAGIC_OPT:  # the last cut (n) is implicit
        inner = ef.decode(buf[off : off + cuts_len], parts - 1) if parts > 1 else []
        cuts = np.append(inner, n).astype(np.int64)
    else:
        cuts = np.minimum(np.arange(1, parts + 1, dtype=np.int64) << log_psize, n)
    off += cuts_len
    starts = seq_off + np.frombuffer(buf, dtype=np.uint32, count=parts, offset=off).astype(np.int64)
    if starts[-1] > len(buf):
        raise ValueError(f"pef: truncated payload ({len(buf)} of {starts[-1]}+ bytes)")
    ends = np.append(starts[1:], len(buf))
    out = np.empty(n, dtype=np.uint64)
    begin = 0
    for p in range(parts):
        base = int(ubs[p]) + (1 if p else 0)
        end = int(cuts[p])
        seg = indexed_decode(buf[starts[p] : ends[p]], int(ubs[p + 1]) - base + 1, end - begin)
        out[begin:end] = seg + np.uint64(base)
        begin = end
    return out
