"""Per-block codec choice with a decode-time model — F12 ``mixed_block``.

Role parity with the reference's ``mixed_block.hpp:10-218``:

* a small closed set of block types, one **type byte** prepended to
  full blocks only; partial blocks (n < block_size) are ALWAYS
  interpolative and carry no type byte (mixed_block.hpp:43-49 — "Partial
  blocks can only be encoded with interpolative");
* per-candidate ``compression_stats`` that fills the codec-specific
  features and rejects invalid candidates (mixed_block.hpp:68-105: pfor
  is skipped when the exception coder can't span ``max_b``; our packed
  stand-in is skipped when values exceed Simple16's 28-bit ceiling);
* ``compute_space_time``: every valid (type) candidate becomes a
  (predicted_time × access_count, encoded_size) point
  (mixed_block.hpp:107-149), and the default choice is the reference's
  ``space_time_point::operator<`` — lexicographic (space, time)
  (mixed_block.hpp:114-119) — with an optional ``time_weight`` λ that
  switches the objective to space + λ·time for latency-tilted builds;
* decode dispatches on the type byte, partial blocks route straight to
  interpolative (mixed_block.hpp:197-216);
* mixed indexes are created **by transformation** from an existing
  block index (mixed_block.hpp:34 "can only be created by
  transformation"; block_transformer :152-195) — here that is
  ``build.blocks.transcode_block_index(bidx, from_codec, MixedCodec)``,
  one narrow map stage per partition, no shuffle.

Type mapping (the reference's types serve x86 SIMD kernels we
deliberately do not cosplay — README "justified skips"):

  ===  =================  =============================================
  id   reference          this engine (same *role*, public formats)
  ===  =================  =============================================
  0    OptPFor            Simple16 (word-aligned bit-packing family)
  1    VarintG8IU         StreamVByte (byte-aligned varint family)
  2    interpolative      binary interpolative (identical algorithm)
  ===  =================  =============================================

All kernels are numpy over byte buffers; the codec object plugs into
the registry like any other and is exercised by the same Arrow-batched
block map stages — per-block choice is embarrassingly parallel and
adds zero shuffles to the build.
"""

from __future__ import annotations

import os

import numpy as np

from dint_spark.codecs import dec_time, interpolative, simple16, varintfam
from dint_spark.codecs.dec_time import Predictor

BLOCK_SIZE = 256  # build/blocks.py BLOCK_SIZE (reference util.hpp:35)

TYPE_PACKED = 0  # pfor role
TYPE_VARINT = 1  # varint role (decode fast path, mixed_block.hpp:205)
TYPE_INTERP = 2
BLOCK_TYPES = (TYPE_PACKED, TYPE_VARINT, TYPE_INTERP)
TYPE_NAMES = {TYPE_PACKED: "packed", TYPE_VARINT: "varint", TYPE_INTERP: "interp"}

_ENCODERS = {
    TYPE_PACKED: simple16.encode,
    TYPE_VARINT: varintfam.streamvbyte_encode,
    TYPE_INTERP: interpolative.encode,
}
_DECODERS = {
    TYPE_PACKED: simple16.decode,
    TYPE_VARINT: varintfam.streamvbyte_decode,
    TYPE_INTERP: interpolative.decode,
}

_DEFAULT_PREDICTORS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "predictors_default.tsv"
)
_FALLBACK_PREDICTORS = {
    # per-element decode cost in µs, rough in-process measurements;
    # replaced by the trained predictors_default.tsv when present
    # (tools/dec_time_train.py). Shape mirrors the reference's linear
    # predictor — weight on n + bias.
    TYPE_PACKED: Predictor({"n": 0.030}, bias=2.0),
    TYPE_VARINT: Predictor({"n": 0.012}, bias=2.0),
    TYPE_INTERP: Predictor({"n": 0.150}, bias=4.0),
}

_predictors_cache: "dict[int, Predictor] | None" = None


def default_predictors() -> "dict[int, Predictor]":
    """Trained predictors if the shipped TSV is readable, else the
    static fallback (tests never depend on the artifact). Loads via
    importlib.resources so it also works from a spark-submit
    --py-files zip (dist/dint_spark.zip), where plain paths into the
    package directory don't exist on executor filesystems."""
    global _predictors_cache
    if _predictors_cache is None:
        text = None
        try:
            from importlib import resources

            text = (
                resources.files("dint_spark.codecs")
                .joinpath("predictors_default.tsv")
                .read_text()
            )
        except Exception:
            if os.path.exists(_DEFAULT_PREDICTORS_PATH):
                with open(_DEFAULT_PREDICTORS_PATH) as f:
                    text = f.read()
        if text is not None:
            _predictors_cache = {}
            for line in text.splitlines():
                if line.strip():
                    t, p = Predictor.from_line(line)
                    _predictors_cache[t] = p
        else:
            _predictors_cache = dict(_FALLBACK_PREDICTORS)
    return _predictors_cache


def compression_stats(
    btype: int, vals: np.ndarray, fv: np.ndarray
) -> "bytes | None":
    """Encode ``vals`` with candidate ``btype``, filling the
    codec-specific features in ``fv`` (mixed_block.hpp:68-105). Returns
    the payload bytes, or None when the candidate is invalid."""
    fv[dec_time._FIDX["pfor_b"]] = 0.0
    fv[dec_time._FIDX["pfor_exceptions"]] = 0.0
    if btype == TYPE_PACKED:
        max_b = fv[dec_time._FIDX["max_b"]]
        if max_b > simple16.MAX_BITS:
            return None  # Simple16's 28-bit ceiling (the ref skips pfor
            # candidates its exception coder can't span, :92-93)
        # packing width the block forces on every word group — the
        # packed-family analog of the ref's pfor_b feature
        fv[dec_time._FIDX["pfor_b"]] = max_b
    try:
        buf = _ENCODERS[btype](vals)
    except ValueError:
        # candidate can't represent this block (e.g. interpolative's u32
        # block-sum domain) — same contract as the ref's
        # compression_stats returning false (mixed_block.hpp:77-93)
        return None
    fv[dec_time._FIDX["size"]] = float(len(buf))
    return buf


def compute_space_time(
    vals: np.ndarray,
    predictors: "dict[int, Predictor] | None" = None,
    access_count: int = 1,
) -> "list[tuple[float, int, int, bytes]]":
    """All valid (time, space, type, payload) points for one block,
    sorted by the reference's (space, time) order (mixed_block.hpp:
    107-149). Partial blocks only admit interpolative."""
    preds = predictors if predictors is not None else default_predictors()
    v = np.asarray(vals, dtype=np.uint32)
    full = v.size == BLOCK_SIZE
    fv = dec_time.values_statistics(v)
    points: list[tuple[float, int, int, bytes]] = []
    for btype in BLOCK_TYPES if full else (TYPE_INTERP,):
        buf = compression_stats(btype, v, fv)
        if buf is None:
            continue
        # only predict time for full blocks (mixed_block.hpp:141-143)
        t = preds[btype](fv) * access_count if full else 0.0
        points.append((t, len(buf), btype, buf))
    points.sort(key=lambda p: (p[1], p[0]))
    return points


def encode_block(
    vals: np.ndarray,
    predictors: "dict[int, Predictor] | None" = None,
    access_count: int = 1,
    time_weight: float = 0.0,
) -> bytes:
    """One block → type byte (full blocks) + chosen payload."""
    v = np.asarray(vals, dtype=np.uint32)
    if v.size > BLOCK_SIZE:
        raise ValueError(f"mixed_block: {v.size} > block size {BLOCK_SIZE}")
    if v.size < BLOCK_SIZE:
        return interpolative.encode(v)  # no type byte, hpp:43-49
    points = compute_space_time(v, predictors, access_count)
    if not points:
        raise ValueError("mixed_block: no codec candidate can encode this block")
    if time_weight > 0.0:
        t, _, btype, buf = min(points, key=lambda p: p[1] + time_weight * p[0])
    else:
        t, _, btype, buf = points[0]  # (space, time) lexicographic
    return bytes([btype]) + buf


def decode_block(buf: bytes, n: int) -> np.ndarray:
    """Dispatch on the type byte; partial blocks are interpolative
    (mixed_block.hpp:197-216)."""
    if n < BLOCK_SIZE:
        return interpolative.decode(buf, n)
    btype = buf[0]
    try:
        dec = _DECODERS[btype]
    except KeyError:
        raise ValueError(f"mixed_block: unknown type byte {btype}")
    return dec(bytes(buf[1:]), n)


class MixedCodec:
    """Registry codec (symmetric: both streams carry u32 residuals).

    ``access_count_fn`` hook: the reference weighs predicted time by the
    block's access count from ``block_profiler`` stats
    (mixed_block.hpp:143); serving stats are optional here, so the
    default weighs every block equally."""

    def __init__(
        self,
        predictors: "dict[int, Predictor] | None" = None,
        time_weight: float = 0.0,
    ):
        self.name = "mixed_block"
        self._preds = predictors
        self._tw = time_weight

    def encode_docs(self, vals: np.ndarray) -> bytes:
        return encode_block(vals, self._preds, time_weight=self._tw)

    encode_freqs = encode_docs

    def decode_docs(self, buf: bytes, n: int) -> np.ndarray:
        return decode_block(buf, n)

    decode_freqs = decode_docs
