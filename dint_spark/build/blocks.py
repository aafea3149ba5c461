"""Block-structured compressed posting lists (the reference's core layout).

Re-creates dict_posting_list/block_posting_list
(/root/reference/include/dint/dict_posting_list.hpp:10-56) Spark-first:

* posting lists are cut into blocks of 256 postings (util.hpp:35);
* per block we store `block_max` (last docID — the skip structure,
  dict_posting_list.hpp:17-19,42) and `block_max_weight` (max BM25
  doc-side weight — the block-max WAND metadata, SURVEY.md §1.5) as PLAIN
  COLUMNS, so Catalyst min/max pruning + predicate pushdown replace the
  reference's in-memory skip scan;
* payloads are docID gaps−1 (doc − prev − 1, dict_posting_list.hpp:35-38)
  and freqs−1 (:39), encoded by a pluggable codec kernel (VByte / DINT).

Scale design (10^12 docs):
* rank-within-term uses a TWO-LEVEL scheme: bounded windows over
  (term_id, doc_bucket) for local rank + a metadata-sized cumulative
  window over per-bucket counts. No unbounded per-term window → no
  single-task stopword skew (SURVEY.md §7 hard spot 4).
* block encode runs as mapInPandas over data repartitioned by
  (term_id, block_chunk) — many blocks per Arrow batch, vectorized
  kernels, no per-group Python overhead; chunking bounds partition sizes
  for heavy terms (term-frequency-aware repartitioning per north rule).
* block_base (gap chain seed = previous block's max) is computed
  relationally on the metadata-sized per-block table with a lag window.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from dint_spark.functions.bm25 import doc_term_weight

BLOCK_SIZE = 256  # reference block size, util.hpp:35
CHUNK_BLOCKS = 4096  # blocks per shuffle key chunk for heavy terms
RANK_BUCKET_BITS = 16  # rank_within_term's local-window bucket: 2^16 docIDs

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("block_base", T.LongType(), False),
        T.StructField("block_max", T.LongType(), False),
        T.StructField("block_max_weight", T.DoubleType(), True),
        T.StructField("docs_bytes", T.BinaryType(), False),
        T.StructField("freqs_bytes", T.BinaryType(), False),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
)


def rank_within_term(postings: DataFrame) -> DataFrame:
    """Append `rank` = 0-based position of the posting within its term's
    docID-ordered list. Bounded windows only (see module docstring)."""
    p = postings.withColumn("_bucket", F.shiftrightunsigned(F.col("doc_id"), RANK_BUCKET_BITS))
    local_w = W.partitionBy("term_id", "_bucket").orderBy("doc_id")
    p = p.withColumn("_lrank", F.row_number().over(local_w) - 1)
    counts = p.groupBy("term_id", "_bucket").agg(F.count("*").alias("_bc"))
    off_w = (
        W.partitionBy("term_id")
        .orderBy("_bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_bc").over(off_w), F.lit(0))
    ).select("term_id", "_bucket", "_off")
    return (
        p.join(offsets, ["term_id", "_bucket"])
        .withColumn("rank", (F.col("_off") + F.col("_lrank")).cast("long"))
        .drop("_bucket", "_lrank", "_off")
    )


def _block_meta(ranked: DataFrame) -> DataFrame:
    """Per-block metadata (metadata-sized): n, block_max, base, max_weight.

    Without norm_len, block_max_weight is NULL ("no bound" sentinel): an
    index built that way cannot silently feed WAND's block-max filter
    with a lossy 0.0 bound — the WAND kernel treats NULL as unskippable
    (keeps the block), degrading to term-level pruning, never to a
    wrong (or empty) top-k.
    """
    if "norm_len" in ranked.columns:
        max_w = F.max(doc_term_weight(F.col("tf"), F.col("norm_len"))).alias(
            "block_max_weight"
        )
    else:
        max_w = F.lit(None).cast("double").alias("block_max_weight")
    blocks = (
        ranked.groupBy("term_id", "block_id")
        .agg(
            F.count("*").cast("int").alias("n"),
            F.max("doc_id").alias("block_max"),
            max_w,
        )
    )
    lag_w = W.partitionBy("term_id").orderBy("block_id")
    return blocks.withColumn(
        "block_base", F.coalesce(F.lag("block_max").over(lag_w), F.lit(-1))
    )


def prepare_block_data(postings: DataFrame):
    """Shared front half of encode/stats passes: (data, meta).

    data: (term_id, block_id, doc_id, tf, block_base), repartitioned by
    (term_id, chunk) and sorted so each partition holds whole blocks in
    order. meta: per-block (term_id, block_id, n, block_max,
    block_max_weight, block_base) — metadata-sized.
    """
    ranked = rank_within_term(postings)
    ranked = ranked.withColumn("block_id", (F.col("rank") / BLOCK_SIZE).cast("long"))
    meta = _block_meta(ranked)

    data = ranked.join(
        meta.select("term_id", "block_id", "block_base"), ["term_id", "block_id"]
    ).select("term_id", "block_id", "doc_id", "tf", "block_base")

    # Chunked repartition: heavy terms split across CHUNK_BLOCKS-block
    # chunks (term-frequency-aware skew handling), blocks kept contiguous.
    data = data.withColumn("_chunk", (F.col("block_id") / CHUNK_BLOCKS).cast("long"))
    data = (
        data.repartition(F.col("term_id"), F.col("_chunk"))
        .sortWithinPartitions("term_id", "block_id", "doc_id")
        .drop("_chunk")
    )
    return data, meta


def iter_block_arrays(batches: Iterator[pd.DataFrame]):
    """Yield (term_id, block_id, base, gaps u32, freqs u32) per block from
    sorted (term_id, block_id, doc_id, tf, block_base) Arrow batches,
    buffering across batch cuts (a block may straddle one)."""
    pending: pd.DataFrame | None = None

    def split_tail(pdf: pd.DataFrame):
        last_t = pdf["term_id"].iloc[-1]
        last_b = pdf["block_id"].iloc[-1]
        tail_mask = (pdf["term_id"] == last_t) & (pdf["block_id"] == last_b)
        return pdf[~tail_mask], pdf[tail_mask]

    def blocks_of(pdf: pd.DataFrame):
        tid = pdf["term_id"].to_numpy()
        bid = pdf["block_id"].to_numpy()
        doc = pdf["doc_id"].to_numpy(dtype=np.int64)
        tf = pdf["tf"].to_numpy(dtype=np.int64)
        base = pdf["block_base"].to_numpy(dtype=np.int64)
        change = np.flatnonzero(
            np.diff(tid, prepend=tid[0] - 1) | np.diff(bid, prepend=bid[0] - 1)
        )
        bounds = np.append(change, len(pdf))
        for s, e in zip(bounds[:-1], bounds[1:]):
            d = doc[s:e]
            prev = np.concatenate(([base[s]], d[:-1]))
            gaps = (d - prev - 1).astype(np.uint32)  # strictly increasing → ≥0
            freqs = (tf[s:e] - 1).astype(np.uint32)  # stored f−1 (ref :39)
            yield int(tid[s]), int(bid[s]), int(base[s]), gaps, freqs

    for pdf in batches:
        if pending is not None:
            pdf = pd.concat([pending, pdf], ignore_index=True)
            pending = None
        if len(pdf) == 0:
            continue
        keep, pending = split_tail(pdf)
        if len(keep):
            yield from blocks_of(keep)
    if pending is not None and len(pending):
        yield from blocks_of(pending)


def build_block_index(
    postings: DataFrame,
    codec,
    prepared: tuple | None = None,
) -> DataFrame:
    """postings(term_id, doc_id, tf[, norm_len]) → compressed block table.

    `codec` is a kernel object with encode_docs/encode_freqs(u32 array)
    -> bytes and decode_docs/decode_freqs(bytes, n) -> u32 array
    (codecs/registry.py). It is broadcast once per job, not shipped per
    task (DINT models carry a 65k-entry pattern table).

    `prepared` takes a precomputed (data, meta) pair from
    prepare_block_data — callers encoding the SAME postings with several
    codecs (codec benchmarking, ft_index_stats) materialize the prepared
    frames once instead of re-ranking/re-shuffling per codec.
    """
    data, meta = prepared if prepared is not None else prepare_block_data(postings)
    spark = postings.sparkSession
    from dint_spark.util import memo_broadcast
    codec_bc = memo_broadcast(spark, codec)
    mw = meta.select("term_id", "block_id", "n", "block_max", "block_max_weight")

    def encode_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = codec_bc.value
        rows = []
        for tid, bid, base, gaps, freqs in iter_block_arrays(batches):
            rows.append((tid, bid, base, c.encode_docs(gaps), c.encode_freqs(freqs)))
            if len(rows) >= 4096:
                yield pd.DataFrame(
                    rows,
                    columns=["term_id", "block_id", "block_base", "docs_bytes", "freqs_bytes"],
                )
                rows = []
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["term_id", "block_id", "block_base", "docs_bytes", "freqs_bytes"],
            )

    enc_schema = T.StructType(
        [
            T.StructField("term_id", T.LongType(), False),
            T.StructField("block_id", T.LongType(), False),
            T.StructField("block_base", T.LongType(), False),
            T.StructField("docs_bytes", T.BinaryType(), False),
            T.StructField("freqs_bytes", T.BinaryType(), False),
        ]
    )
    encoded = data.mapInPandas(encode_blocks, schema=enc_schema)
    return encoded.join(mw, ["term_id", "block_id"]).select(
        "term_id",
        "block_id",
        "n",
        "block_base",
        "block_max",
        "block_max_weight",
        "docs_bytes",
        "freqs_bytes",
    )


def decode_block_index(
    index: DataFrame,
    codec,
    extra_cols: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Compressed block table → postings(term_id, doc_id, tf[, extras]).

    The verify_collection analog (/root/reference/include/ds2i/
    verify_collection.hpp:7-53): decoding every block must reproduce the
    input postings exactly (tested via exceptAll in tests + the driver's
    ft_decode_roundtrip oracle).

    extra_cols: ((name, spark_type), ...) — columns of `index` replicated
    onto every decoded posting of their block (lets a caller ride per-
    block context through the decode without a re-join; posting_at
    rides the block_id).
    """

    spark = index.sparkSession
    from dint_spark.util import memo_broadcast
    codec_bc = memo_broadcast(spark, codec)
    extra_names = [n for n, _ in extra_cols]

    def decode_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = codec_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cols = _decode_rows(pdf, c)
            ns = pdf["n"].to_numpy(dtype=np.int64)
            for name in extra_names:
                cols[name] = np.repeat(pdf[name].to_numpy(), ns)
            yield pd.DataFrame(cols)

    schema = ", ".join(
        ["term_id long, doc_id long, tf long"] + [f"{n} {t}" for n, t in extra_cols]
    )
    base_cols = ["term_id", "block_id", "n", "block_base", "docs_bytes", "freqs_bytes"]
    return index.select(
        *base_cols, *[c for c in extra_names if c not in base_cols]
    ).mapInPandas(decode_blocks, schema=schema)


def _decode_rows(pdf: pd.DataFrame, codec) -> dict[str, np.ndarray]:
    """One Arrow batch of block rows → its postings' term_id/doc_id/tf.
    Every block is decoded by one codec call; the segmented prefix-sum
    un-gap (P5) then runs over the whole batch at once:
    doc[i] = base(block) + Σ_{block-local ≤ i} (gap+1)."""
    ns = pdf["n"].to_numpy(dtype=np.int64)
    gaps = np.concatenate(
        [codec.decode_docs(b, n) for b, n in zip(pdf["docs_bytes"], ns.tolist())]
    )
    tfs = np.concatenate(
        [codec.decode_freqs(b, n) for b, n in zip(pdf["freqs_bytes"], ns.tolist())]
    )
    cs = np.cumsum(gaps.astype(np.int64) + 1)
    offs = np.cumsum(ns) - ns
    excl = np.where(offs > 0, cs[offs - 1], 0)
    bases = pdf["block_base"].to_numpy(dtype=np.int64)
    return {
        "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), ns),
        "doc_id": cs + np.repeat(bases - excl, ns),
        "tf": tfs.astype(np.int64) + 1,
    }


def transcode_block_index(index: DataFrame, src_codec, dst_codec) -> DataFrame:
    """Re-encode a compressed block table into another codec WITHOUT
    rebuilding from postings — the enumerator's get_blocks/write_blocks
    path (E5, /root/reference/include/dint/dict_posting_list.hpp:207-277:
    decode each block's gaps/freqs, hand them to a new writer, keep the
    skip metadata untouched).

    One narrow mapInPandas over the block table: per block, decode the
    payload with src_codec and encode with dst_codec; term_id/block_id/
    n/block_base/block_max/block_max_weight pass through unchanged (the
    gap transform is codec-independent, so no re-ranking, no shuffle —
    at 100 TB this is a pure map stage over the index, which is the
    point of the reference's block-level transcode).
    """
    spark = index.sparkSession
    from dint_spark.util import memo_broadcast
    src_bc = memo_broadcast(spark, src_codec)
    dst_bc = memo_broadcast(spark, dst_codec)

    def transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s, d = src_bc.value, dst_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            pdf = pdf.copy()
            pdf["docs_bytes"] = [
                d.encode_docs(s.decode_docs(b, int(n)))
                for b, n in zip(pdf["docs_bytes"], ns)
            ]
            pdf["freqs_bytes"] = [
                d.encode_freqs(s.decode_freqs(b, int(n)))
                for b, n in zip(pdf["freqs_bytes"], ns)
            ]
            yield pdf

    return index.select(
        "term_id",
        "block_id",
        "n",
        "block_base",
        "block_max",
        "block_max_weight",
        "docs_bytes",
        "freqs_bytes",
    ).mapInPandas(transcode, schema=INDEX_SCHEMA)


def index_stats(index: DataFrame) -> DataFrame:
    """bits-per-integer metrics (index_build_utils.hpp:91-118 analog)."""
    return index.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("n").cast("long").alias("n_postings"),
        F.round(F.sum(F.octet_length("docs_bytes")) * 8.0 / F.sum("n"), 4).alias(
            "docs_bpi"
        ),
        F.round(F.sum(F.octet_length("freqs_bytes")) * 8.0 / F.sum("n"), 4).alias(
            "freqs_bpi"
        ),
    )


def posting_at(index: DataFrame, codec, positions: DataFrame) -> DataFrame:
    """Positional access — the enumerator's move(pos) (E4;
    /root/reference/include/dint/dict_posting_list.hpp:120-138): for each
    requested (term_id, pos) return the pos-th posting (0-based, docID
    order) of that term's list.

    Relational realization: per-term cumulative block offsets (metadata-
    sized lag window) locate the ONE block holding each pos; only those
    blocks are decoded (block_id rides through the decode kernel); the
    intra-block ordinal picks the posting. The request batch is broadcast
    (lookups are query-sized, never data-sized).
    """
    meta = index.select("term_id", "block_id", "n")
    w = (
        W.partitionBy("term_id")
        .orderBy("block_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    meta = meta.withColumn("start", F.coalesce(F.sum("n").over(w), F.lit(0)))
    hits = meta.join(F.broadcast(positions), "term_id").filter(
        (F.col("pos") >= F.col("start")) & (F.col("pos") < F.col("start") + F.col("n"))
    )
    blocks = index.join(
        hits.select("term_id", "block_id").distinct(), ["term_id", "block_id"], "left_semi"
    )
    dec = decode_block_index(blocks, codec, extra_cols=(("block_id", "long"),))
    bw = W.partitionBy("term_id", "block_id").orderBy("doc_id")  # ≤ BLOCK_SIZE rows
    dec = dec.withColumn("_br", F.row_number().over(bw) - 1)
    return (
        dec.join(
            F.broadcast(hits.select("term_id", "block_id", "start", "pos")),
            ["term_id", "block_id"],
        )
        .filter(F.col("pos") == F.col("start") + F.col("_br"))
        .select("term_id", "pos", "doc_id", "tf")
    )
