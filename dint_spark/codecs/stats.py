"""DINT usage statistics — the dint_statistics surface
(/root/reference/vroom_env/dint_codecs.hpp:8-35: codeword/int
distribution per entry size, exception counts).

One Arrow kernel over the index table classifies every codeword of
every full block's 16-bit stream: exception-16/32, zero-run (by run
length), or dictionary pattern (by pattern size); the operand units an
exception skips come from the codec's width table (codecs/dint.py
OPERAND_UNITS). Partial blocks are interpolative payloads with no
codewords. `codeword_histogram` sums the classes over the index (the
A10 aggregation); `block_profile` reports them per block.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dint_spark.codecs.dint import (
    DINT_BLOCK_SIZE,
    EXC16,
    EXC32,
    OPERAND_UNITS,
    RESERVED,
    RUN_SIZES,
    UNIT_DTYPE,
    DintDict,
)
from dint_spark.util import memo_broadcast

WIDTH = 16  # single_packed streams


def _classify(buf: bytes, sizes: np.ndarray) -> dict[str, int]:
    """Codeword class → count for one block's codeword stream."""
    cws = np.frombuffer(buf, dtype=UNIT_DTYPE[WIDTH]).tolist()
    out: dict[str, int] = {}
    j = 0
    while j < len(cws):
        c = cws[j]
        j += 1
        if c >= RESERVED:
            if c - RESERVED >= len(sizes):
                raise ValueError(f"dint: codeword {c} beyond dictionary ({len(sizes)} entries)")
            key = f"pattern_{int(sizes[c - RESERVED])}"
        elif c <= EXC32:
            key = "exception_16" if c == EXC16 else "exception_32"
            j += OPERAND_UNITS[WIDTH][c]
        else:
            key = f"run_{RUN_SIZES[c]}"
        out[key] = out.get(key, 0) + 1
    return out


def _scan(index: DataFrame, docs_dict: DintDict, freqs_dict: DintDict, fold, schema: str):
    """mapInPandas over the index: every (block, stream) becomes a record
    (row, stream, payload bytes, class counts or None for a partial
    block — interpolative payload, dint_codecs.hpp:161-164); fold(records)
    turns one partition's records into output rows."""
    spark = index.sparkSession
    dbc = memo_broadcast(spark, docs_dict.sizes)
    fbc = memo_broadcast(spark, freqs_dict.sizes)
    columns = [f.split()[0] for f in schema.split(", ")]

    def records(batches: Iterator[pd.DataFrame]):
        dsz, fsz = dbc.value, fbc.value
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                for stream, buf, sizes in (
                    ("docs", r.docs_bytes, dsz),
                    ("freqs", r.freqs_bytes, fsz),
                ):
                    h = _classify(buf, sizes) if r.n >= DINT_BLOCK_SIZE else None
                    yield r, stream, len(buf), h

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = list(fold(records(batches)))
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    return index.select("term_id", "block_id", "n", "docs_bytes", "freqs_bytes").mapInPandas(
        kernel, schema=schema
    )


def codeword_histogram(
    index: DataFrame, docs_dict: DintDict, freqs_dict: DintDict
) -> DataFrame:
    """(stream, kind, count) over the whole index."""

    def fold(records):
        acc: dict[tuple[str, str], int] = {}
        for _r, stream, _nbytes, h in records:
            for kind, cnt in ({"interpolative_tail": 1} if h is None else h).items():
                acc[(stream, kind)] = acc.get((stream, kind), 0) + cnt
        return [(s, k, v) for (s, k), v in acc.items()]

    local = _scan(index, docs_dict, freqs_dict, fold, "stream string, kind string, count long")
    return local.groupBy("stream", "kind").agg(F.sum("count").alias("count"))


def block_profile(index: DataFrame, docs_dict: DintDict, freqs_dict: DintDict) -> DataFrame:
    """Per-block codeword profile — the block_profiler surface (B12;
    /root/reference/vroom_env: per-block parse introspection): one row
    per (term_id, block_id, stream) with payload bytes and counts of
    pattern / exception / run codewords. Tail blocks (interpolative
    payload) report kind counts as NULL with bytes only."""

    def fold(records):
        for r, stream, nbytes, h in records:
            counts = (None, None, None)
            if h is not None:
                counts = tuple(
                    sum(v for k, v in h.items() if k.startswith(prefix))
                    for prefix in ("pattern", "exception", "run")
                )
            yield (r.term_id, r.block_id, stream, int(r.n), nbytes, *counts)

    return _scan(
        index, docs_dict, freqs_dict, fold,
        "term_id long, block_id long, stream string, n long, bytes long, "
        "patterns long, exceptions long, runs long",
    )
