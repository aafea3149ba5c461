"""DINT dictionary learning — distributed two-pass model build.

Re-creates dict_freq_index::builder::build_model
(/root/reference/include/dint/dict_freq_index.hpp:53-68) +
block_statistics (block_statistics.hpp:45-109) + DSF selection
(dictionary_builders.hpp:40-77) as Spark jobs:

  PASS 1 (this module): gap-transform every posting block (shared
  prepare_block_data pipeline), let the model family's rule pick the
  block's dictionary (single: the one dictionary; multi: a full block's
  selector context), extract aligned sub-patterns of sizes {16,8,4,2,1}
  with per-partition pre-aggregation (a Counter per Arrow batch — the
  map-side combine), then a global
  groupBy(stream, selector, pattern).sum(freq) — the classic
  partial+final hash aggregation (SURVEY.md A2). Per dictionary,
  candidates below the cost filter are dropped (A4,
  dictionary_builders.hpp:15-38; singletons exempt), the top-`capacity`
  by (freq DESC, size DESC) are selected (A5, freq_length_sorter,
  statistics_collectors.hpp:57-64) with orderBy().limit() — a
  distributed TakeOrdered, collected to the driver only at ≤65,529 rows.
  Both families learn through learn_dint_model.

  PASS 2 (build/blocks.py with the DINT codec): encode every block with
  the broadcast dictionary.

Model persistence = the reference's dictionary side files
(dict.<collection>... README.md:96): a small Parquet table, one row per
entry — (stream, codeword, pattern) for the single family, (stream,
selector, codeword, pattern) for the multi family — with create-or-load
semantics (S6/S7).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dint_spark.build.blocks import iter_block_arrays, prepare_block_data
from dint_spark.codecs.dint import (
    DINT_BLOCK_SIZE,
    NUM_ENTRIES,
    NUM_SELECTORS,
    RESERVED,
    DintDict,
    extract_patterns,
    selector_code,
)

STREAMS = ("docs", "freqs")
# DSF cost filter (dictionary_builders.hpp:15-38): a pattern is kept iff
# its saving exceeds this fraction of the stream's uncompressed bits
EPS = 1e-9

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("stream", T.StringType(), False),
        T.StructField("selector", T.IntegerType(), False),
        T.StructField("pattern", T.BinaryType(), False),
        T.StructField("freq", T.LongType(), False),
    ]
)


class _Family:
    """What the single and multi model families share. A family is
    SELECTORS dictionaries per stream ("banks"), a rule that picks the
    bank each block's patterns train, and one model-table row per entry
    (SCHEMA; the single table has no selector column)."""

    SELECTORS: int
    SCHEMA: str

    def entries(self) -> tuple[int, int]:
        """(docs, freqs) dictionary entries."""
        return tuple(sum(len(d) for d in self.banks(stream)) for stream in STREAMS)

    def save(self, spark, path: str) -> None:
        rows = []
        for stream in STREAMS:
            for sel, d in enumerate(self.banks(stream)):
                for i in range(len(d)):
                    pattern = d.matrix[i, : int(d.sizes[i])].tobytes()
                    if self.SELECTORS == 1:
                        rows.append((stream, RESERVED + i, pattern))
                    else:
                        rows.append((stream, sel, RESERVED + i, pattern))
        df = spark.createDataFrame(rows, schema=self.SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str):
        per: dict[tuple[str, int], list[tuple[int, bytes]]] = {}
        for r in spark.read.parquet(path).collect():
            sel = r["selector"] if cls.SELECTORS > 1 else 0
            per.setdefault((r["stream"], sel), []).append((r["codeword"], r["pattern"]))
        banks: dict[str, list[DintDict]] = {}
        for stream in STREAMS:
            banks[stream] = []
            for sel in range(cls.SELECTORS):
                lst = sorted(per.get((stream, sel), []))
                pats = [np.frombuffer(p, dtype=np.uint32) for _, p in lst]
                banks[stream].append(DintDict.from_patterns(pats))
        return cls.from_banks(banks)


@dataclass
class DintModel(_Family):
    """One dictionary per stream — the single_packed / dint model."""

    docs: DintDict
    freqs: DintDict

    # build-lineage tokens (index/builder.py): a model of another family
    # or selection version is relearned, never loaded
    FAMILY, VERSION = "single", ""
    SELECTORS = 1
    SCHEMA = "stream string, codeword long, pattern binary"

    @staticmethod
    def selector(vals: np.ndarray) -> int:
        """Every block, tails included, trains the one dictionary."""
        return 0

    def banks(self, stream: str) -> list[DintDict]:
        return [getattr(self, stream)]

    @classmethod
    def from_banks(cls, banks: dict) -> "DintModel":
        return cls(docs=banks["docs"][0], freqs=banks["freqs"][0])


@dataclass
class MultiDintModel(_Family):
    """NUM_SELECTORS dictionaries per stream — the multi_packed model
    (block_multi_statistics, block_statistics.hpp:171-258)."""

    docs: list  # [DintDict] × NUM_SELECTORS
    freqs: list

    # selection-algorithm version: rb1 = global entry-budget refill
    # (_refill_banks); rb2 = deterministic (freq, size, pattern)
    # tie-break with head+tail derived from one ranking fetch — an
    # out_dir built under an older selection relearns and re-encodes
    FAMILY, VERSION = "multi", ":rb2"
    SELECTORS = NUM_SELECTORS
    SCHEMA = "stream string, selector int, codeword long, pattern binary"

    @staticmethod
    def selector(vals: np.ndarray) -> "int | None":
        """A FULL block trains the dictionary of its selector context
        (adjusted::collect(buf, block_maps), statistics_collectors.hpp:
        90-107); a tail trains none — multi_packed encodes it with
        interpolative coding, so it never consults a dictionary."""
        return selector_code(vals) if vals.size == DINT_BLOCK_SIZE else None

    def banks(self, stream: str) -> list[DintDict]:
        return getattr(self, stream)

    @classmethod
    def from_banks(cls, banks: dict) -> "MultiDintModel":
        return cls(docs=banks["docs"], freqs=banks["freqs"])


def model_class(codec_name: str) -> "type[DintModel] | type[MultiDintModel] | None":
    """The dictionary-model class a codec name needs (learn / load /
    save), or None for a codec that learns nothing — the one place a
    codec name picks its DINT model (index_types.hpp:83-87 role; the
    registry then builds the codec from the model, get_codec)."""
    if codec_name == "multi_packed_dint":
        return MultiDintModel
    if codec_name.startswith(("single_packed_dint", "dint")):
        return DintModel
    return None


def collect_pattern_stats(postings: DataFrame, selector) -> DataFrame:
    """(stream, selector, pattern, freq) — globally aggregated sub-block
    pattern frequencies of the docs-gap and freq−1 streams, each block
    counted into the bank selector(block) picks (None: no bank)."""
    data, _ = prepare_block_data(postings)

    def stats_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[tuple[str, int], dict] = {}
        for _tid, _bid, _base, gaps, freqs in iter_block_arrays(batches):
            for stream, vals in (("docs", gaps), ("freqs", freqs)):
                sel = selector(vals)
                if sel is not None:
                    extract_patterns(vals, counters.setdefault((stream, sel), {}))
        rows = [
            (stream, sel, k, v)
            for (stream, sel), counter in counters.items()
            for k, v in counter.items()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["stream", "selector", "pattern", "freq"])

    local = data.mapInPandas(stats_kernel, schema=_STATS_SCHEMA)
    return local.groupBy("stream", "selector", "pattern").agg(
        F.sum("freq").alias("freq")
    )


def _ranked_candidates(
    stats: DataFrame, stream: str, selector: int, limit: int, total_ints: int
) -> list[tuple[np.ndarray, int]]:
    """DSF selection for one bank: cost filter (A4) then the top `limit`
    (pattern, freq) by (freq DESC, size DESC) — the DSF order
    (freq_length_sorter). Distributed TakeOrdered; driver sees ≤ limit
    rows.

    Cost model per dictionary_builders.hpp:15-38: a pattern saves
    freq·(48·size − 16) bits (48 = assumed uncompressed bits/int, 16 =
    codeword cost); keep it iff the saving fraction of the stream's total
    exceeds EPS. Singletons are always kept (exception codes are dearer).
    """
    s = stats.filter((F.col("stream") == stream) & (F.col("selector") == selector))
    s = s.withColumn("size", (F.octet_length("pattern") / 4).cast("int"))
    if total_ints:
        min_saving = EPS * 48.0 * float(total_ints)
        s = s.filter(
            (F.col("size") == 1)
            | (F.col("freq") * (48 * F.col("size") - 16) > F.lit(min_saving))
        )
    top = (
        # pattern bytes as a deterministic tie-break: (freq, size) ties
        # are common and orderBy alone would make repeated fetches (or
        # re-learns) disagree at the capacity cut
        s.orderBy(F.desc("freq"), F.desc("size"), F.asc("pattern"))
        .limit(limit)
        .select("pattern", "freq", "size")
        .collect()
    )
    return [
        (np.frombuffer(r["pattern"], dtype=np.uint32), int(r["freq"]))
        for r in top
    ]


def learn_dint_model(
    postings: DataFrame,
    model: "type[DintModel] | type[MultiDintModel]" = DintModel,
    capacity: int = NUM_ENTRIES - RESERVED,
) -> "DintModel | MultiDintModel":
    """Learn a model of `model`'s family (dict_freq_index builder; with
    block_multi_statistics for the multi family) in one stats pass: each
    bank takes its top-`capacity` DSF candidates, then _refill_banks
    rebalances idle entries (a no-op with one bank). The DSF cost filter
    uses the stream-global posting count, as the reference's filter
    closes over total_integers (block_statistics.hpp:245-249)."""
    n_postings = postings.count()
    stats = collect_pattern_stats(postings, model.selector).cache()
    try:
        banks: dict[str, list[DintDict]] = {}
        for stream in STREAMS:
            per_sel = [
                _ranked_candidates(stats, stream, sel, capacity, n_postings)
                for sel in range(model.SELECTORS)
            ]
            pat_lists = _refill_banks(stats, stream, per_sel, capacity, n_postings)
            banks[stream] = [DintDict.from_patterns(p) for p in pat_lists]
    finally:
        stats.unpersist()
    return model.from_banks(banks)


def _refill_banks(
    stats: DataFrame,
    stream: str,
    per_sel: "list[list[tuple[np.ndarray, int]]]",
    capacity: int,
    n_postings: int,
) -> "list[list[np.ndarray]]":
    """GLOBAL entry-budget rebalancing across the NUM_SELECTORS
    dictionaries (our extension past the reference's fixed 65,529 per
    selector, dint_configuration.hpp:20-28).

    When dictionary capacity binds, some selector classes saturate while
    others sit nearly empty (measured on the 5.4M-posting corpus: docs
    selectors 2-4 full, 0/1/5 at 486/8,965/0 → ~187k of 393k codeword
    slots idle). Because the multi encoder runs a TOURNAMENT — every
    block tries every dictionary at both codeword widths and the
    smallest encoding wins (codecs/dint.py MultiDintCodec) — idle
    dictionaries can serve as EXTENDED BANKS for the saturated classes:
    each underfull dictionary keeps its own patterns and is topped up
    with a half-head/half-tail mix of a saturated selector's candidates
    (head: its top patterns, duplicated so a block choosing the bank
    still covers the high-frequency mass; tail: the marginal-saving
    ranks the primary dictionary had to cut). Block parse is
    winner-take-all over one dictionary, so head+tail must be
    CO-LOCATED — scattering tail patterns across banks would never win
    a tournament. Wire format unchanged: same 6 dictionaries, same
    control byte, decoder untouched."""
    fills = [len(p) for p in per_sel]
    free = [(capacity - f, s) for s, f in enumerate(fills) if capacity - f > 0]
    sat = [s for s, f in enumerate(fills) if f >= capacity]
    if not free or not sat:
        return [[p for p, _f in lst] for lst in per_sel]
    # rank saturated selectors by the saving their TAIL left on the
    # table (the refill priority); ONE 2·capacity fetch per saturated
    # selector supplies BOTH its primary dictionary (head) and the
    # refill tail — deriving them from separate fetches let the two
    # rankings disagree at the capacity cut on (freq, size) ties, so
    # tail picks could duplicate the primary's own patterns
    tails: dict[int, list] = {}
    tail_saving: list[tuple[int, int]] = []
    out = [[p for p, _f in lst] for lst in per_sel]
    for s in sat:
        ranked = _ranked_candidates(stats, stream, s, 2 * capacity, n_postings)
        tails[s] = ranked
        out[s] = [p for p, _f in ranked[:capacity]]
        sv = sum(
            f * (48 * len(p) - 16) for p, f in ranked[capacity:]
        )
        tail_saving.append((sv, s))
    tail_saving.sort(reverse=True)
    # biggest free bank serves the biggest leftover saving
    free.sort(reverse=True)
    for (bank_free, bank), (_sv, s) in zip(free, tail_saving):
        have = {p.tobytes() for p in out[bank]}
        ranked = tails[s]
        head_n = min(capacity // 2, bank_free // 2)
        picks: list[np.ndarray] = []
        for p, _f in ranked[:head_n]:
            b = p.tobytes()
            if b not in have:
                have.add(b)
                picks.append(p)
        for p, _f in ranked[capacity:]:
            if len(picks) >= bank_free:
                break
            b = p.tobytes()
            if b not in have:
                have.add(b)
                picks.append(p)
        out[bank] = out[bank] + picks
    return out


# --- build-time codec chooser (README.md:114 role: "[multi] should be
# preferred" when it pays) -------------------------------------------------
#
# multi_packed's 2×6 dictionaries only beat single_packed once the SINGLE
# dictionary's 65,529 usable entries saturate — i.e. when the corpus has
# more useful patterns than one dictionary can hold. Measured on the
# 50k-doc code corpus (5.4M postings, BENCH/multi_dict_50k.json): docs
# 4.369 vs 5.948 bpi (−26.6%); at the driver sf corpora (≤116k postings)
# the single dictionary holds every candidate that survives the DSF cost
# filter and multi only adds per-block selector control bits. Postings
# count is the cheap observable proxy for that saturation: the candidate
# pool grows with corpus size, and the single dict was already at
# capacity well below the 5.4M-posting measurement point. 1M is the
# conservative crossover pick (log-midpoint of the bracketing
# measurements 116k / 5.4M); below it the extra 6× stats pass and the
# 12-way decode tables cost more than the bits they save.
MULTI_PACKED_MIN_POSTINGS = 1_000_000


def choose_packed_codec(n_postings: int, objective: str = "serve") -> str:
    """Resolve codec_name="auto".

    objective="serve" (default): ALWAYS single_packed_dint — measured on
    the 5.4M-posting corpus (BENCH/multi_serving_50k.json), the 12-way
    multi decode costs 1.4-3.4× query wall against single at equal
    correctness, so the chooser never silently trades serving latency
    for bits. objective="space": multi_packed_dint once dictionary
    capacity plausibly binds (MULTI_PACKED_MIN_POSTINGS — docs bpi
    −25%, freqs −39% there), single below, where the extra 6× stats
    pass and decode tables cost more than the bits they save. The
    resolution is recorded in the build lineage either way."""
    if objective == "serve":
        return "single_packed_dint"
    return (
        "multi_packed_dint"
        if n_postings >= MULTI_PACKED_MIN_POSTINGS
        else "single_packed_dint"
    )
