"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Engine: dint_spark — PySpark-native full-text inverted index + BM25
(capabilities of jermp/dint; see SURVEY.md).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def _idx(spark: SparkSession, sf_dir: str):
    from dint_spark.engine import get_index

    return get_index(spark, sf_dir)


def _queries(spark: SparkSession) -> DataFrame:
    from dint_spark.queryset import queries_df

    return queries_df(spark)


# ---------------------------------------------------------------- queries


def q_ft_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _idx(spark, sf_dir)
    return idx.vocab.select("term", "term_id", "df")


def q_ft_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _idx(spark, sf_dir)
    return idx.docs.select(
        "doc_id", "doc_len", F.round("norm_len", 6).alias("norm_len")
    )


def q_ft_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _idx(spark, sf_dir)
    return idx.postings.select("term_id", "doc_id", "tf")


def q_ft_term_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _idx(spark, sf_dir)
    return idx.term_meta.select(
        "term_id", "df", F.round("max_weight", 6).alias("max_weight")
    )


def q_ft_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.boolean import and_query

    idx = _idx(spark, sf_dir)
    return and_query(idx.postings, _queries(spark))


def q_ft_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.boolean import or_query

    idx = _idx(spark, sf_dir)
    return or_query(idx.postings, _queries(spark))


def q_ft_ranked_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.ranked import ranked_or

    idx = _idx(spark, sf_dir)
    return ranked_or(idx.postings, _queries(spark), idx.vocab, idx.num_docs, k=10)


def q_ft_ranked_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.ranked import ranked_and

    idx = _idx(spark, sf_dir)
    return ranked_and(idx.postings, _queries(spark), idx.vocab, idx.num_docs, k=10)


def q_ft_intersect_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.boolean import intersect_pair

    idx = _idx(spark, sf_dir)
    return intersect_pair(idx.postings, "hash", "join")


def _sharded(fn, spark: SparkSession, sf_dir: str, codec_name: str = "single_packed_dint"):
    """fn (a wand_shard / router top-k entry point) over the engine's
    memoized index, block index and serving artifacts, k=10."""
    from dint_spark.engine import get_block_index, get_serving

    idx = _idx(spark, sf_dir)
    bidx, codec = get_block_index(spark, sf_dir, codec_name)
    return fn(
        idx, bidx, codec, _queries(spark), idx.num_docs, k=10,
        **get_serving(spark, sf_dir, codec_name),
    )


def q_ft_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND over the compressed index — rank-identical to
    ranked_or (oracle is the SAME SQL: pruning must be lossless).

    Doc-sharded DAAT (operators/wand_shard.py): the reference's actual
    pivot/next_geq algorithm runs per (query, doc-shard) group in one
    applyInPandas kernel — two shuffles total, lazy per-block decode.
    norm_lens ride the cogroup as per-shard packed slices (no
    driver-side collect or data-sized broadcast anywhere in the path)."""
    from dint_spark.operators.wand_shard import wand_topk_sharded

    return _sharded(wand_topk_sharded, spark, sf_dir)


def q_ft_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.wand_shard import maxscore_topk_sharded

    return _sharded(maxscore_topk_sharded, spark, sf_dir)


def q_ft_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based plan routing (operators/router.py): picks the
    exhaustive relational plan or the sharded cogroup kernel from the
    batch's (Q, scored-rows) metadata — the measured r4 crossover
    showed a 4× inversion between 500- and 2,000-query batches. Both
    realizations are rank-identical, so the oracle is the SAME
    RANKED_OR SQL regardless of which plan the router picks."""
    from dint_spark.operators.router import topk_auto

    return _sharded(topk_auto, spark, sf_dir)


def q_ft_wand_pef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sharded DAAT kernel serving a partitioned-Elias-Fano
    index (pef_opt) — the serving path is codec-generic: any registry
    codec's block index slots in (the reference compiles one engine per
    index type, index_types.hpp:83-87; here it is one kernel, many
    codecs). Oracle is the same RANKED_OR SQL: pruning and the codec
    swap must both be lossless."""
    from dint_spark.operators.wand_shard import wand_topk_sharded

    return _sharded(wand_topk_sharded, spark, sf_dir, "pef_opt")


def q_ft_wand_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded WAND with the shard explosion built in the plan. The name
    is kept from the deleted relational two-phase plan, so the declared
    query set keeps its names. No pre-sharded artifact is passed
    (sharded_bidx=None): the plan shard-explodes the block index itself,
    the path bench.py's decode_stats run, so this checks that path's
    ranking against the same RANKED_OR oracle."""
    from dint_spark.engine import get_block_index, get_serving
    from dint_spark.operators.wand_shard import wand_topk_sharded

    idx = _idx(spark, sf_dir)
    bidx, codec = get_block_index(spark, sf_dir, "single_packed_dint")
    return wand_topk_sharded(
        idx, bidx, codec, _queries(spark), idx.num_docs, k=10,
        **get_serving(spark, sf_dir),
    )


def q_ft_maxscore_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded MaxScore with the shard explosion built in the plan; the
    name is kept from the deleted relational two-phase plan (see
    q_ft_wand_twophase)."""
    from dint_spark.engine import get_block_index, get_serving
    from dint_spark.operators.wand_shard import maxscore_topk_sharded

    idx = _idx(spark, sf_dir)
    bidx, codec = get_block_index(spark, sf_dir, "single_packed_dint")
    return maxscore_topk_sharded(
        idx, bidx, codec, _queries(spark), idx.num_docs, k=10,
        **get_serving(spark, sf_dir),
    )


def q_ft_freqs_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 freqs_sum: per-posting-list Σtf (one partial+final hash agg)."""
    idx = _idx(spark, sf_dir)
    return idx.postings.groupBy("term_id").agg(
        F.sum("tf").cast("long").alias("freqs_sum")
    )


def q_ft_vroom_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 vroom encoded streams: postings → per-list (n, universe)
    VByte-headered docs+freqs records → decode → re-pair on the
    within-list ordinal. Must equal the oracle's postings exactly
    (check_encoded_data semantics, vroom_env/check_encoded_data.cpp)."""
    from dint_spark.codecs.registry import get_codec
    from dint_spark.vroom_stream import vroom_roundtrip_postings

    idx = _idx(spark, sf_dir)
    return vroom_roundtrip_postings(
        idx.postings.select("term_id", "doc_id", "tf"), get_codec("block_vbyte")
    )


def _decoded(spark: SparkSession, sf_dir: str, codec_name: str) -> DataFrame:
    """The engine's memoized block index of codec_name, fully decoded."""
    from dint_spark.build.blocks import decode_block_index
    from dint_spark.engine import get_block_index

    return decode_block_index(*get_block_index(spark, sf_dir, codec_name))


def q_ft_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the DINT-compressed block index → must equal the oracle's
    postings exactly (verify_collection semantics, B9)."""
    return _decoded(spark, sf_dir, "single_packed_dint")


def q_ft_block_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block skip metadata (n, block_max) — the reference's skip
    structure (dict_posting_list.hpp:17-19,42) as plain columns."""
    from dint_spark.engine import get_block_index

    bidx, _ = get_block_index(spark, sf_dir, "single_packed_dint")
    return bidx.select(
        "term_id", "block_id", F.col("n").cast("long").alias("n"), "block_max"
    )


def q_ft_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest parity (dint_spark/streaming/ingest.py):
    the documents table is staged as THREE parquet drops in a landing
    dir, streamed with a file source (maxFilesPerTrigger=1 under
    Trigger.AvailableNow → three real micro-batches), each batch's
    postings delta appended via foreachBatch, then compacted with the
    batch path's dense term_id assignment. The result must hash-match
    the batch ft_postings oracle — stream-built ≡ batch-built."""
    import os
    import tempfile

    from dint_spark.streaming.ingest import (
        compact_postings,
        run_ingest,
        stream_documents,
    )
    from dint_spark.util import memo

    def ingest():
        work = tempfile.mkdtemp(prefix="dint_stream_ingest_")
        landing = os.path.join(work, "landing")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        docs.select("doc_id", "text").repartition(3).write.parquet(landing)
        stream = stream_documents(spark, landing, max_files_per_trigger=1)
        run_ingest(stream, work)
        return work

    return compact_postings(spark, memo(spark, ("stream_ingest", sf_dir), ingest))


def q_st_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState): state =
    first-seen doc per content hash, carried across micro-batches. The
    documents table is staged as three doc_id-ordered drops so arrival
    order is ascending — first-seen then equals the global
    min(doc_id) per text, which is the batch SQL oracle (stateful
    streaming made hash-checkable)."""
    import os
    import tempfile

    from dint_spark.streaming.ingest import run_streaming_dedup, stream_documents
    from dint_spark.util import memo

    def dedup():
        work = tempfile.mkdtemp(prefix="dint_stream_dedup_")
        landing = os.path.join(work, "landing")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        max_id = docs.agg(F.max("doc_id")).first()[0]
        bounds = [-1, max_id // 3, (2 * max_id) // 3, max_id]
        # The file source orders micro-batches by file modification time;
        # three fast sequential writes can land inside one mtime tick, so
        # stamp each drop's part files with strictly increasing mtimes to
        # make the ascending arrival order deterministic.
        import glob as _glob

        seen_parts: set = set()
        base_mt = None
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            docs.filter(
                (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
            ).coalesce(1).write.mode("append").parquet(landing)
            parts = set(_glob.glob(os.path.join(landing, "*.parquet")))
            new = parts - seen_parts
            if base_mt is None:
                base_mt = max(os.path.getmtime(p) for p in new)
            for p in new:
                os.utime(p, (base_mt + 2 * i, base_mt + 2 * i))
            seen_parts = parts
        stream = stream_documents(spark, landing, max_files_per_trigger=1)
        run_streaming_dedup(stream, work)
        return os.path.join(work, "dedup")

    return spark.read.parquet(memo(spark, ("st_dedup", sf_dir), dedup)).select(
        "doc_id", "canonical_doc_id", "is_dup"
    )


def q_ft_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bits-per-integer per codec (rows-only check: byte sizes aren't
    SQL-derivable). Reference metric surface: README.md:110-115 bpi table.
    All codecs share ONE prepared block pipeline (engine.get_index_stats)."""
    from dint_spark.engine import get_index_stats

    return get_index_stats(
        spark,
        sf_dir,
        [
            "block_vbyte",
            "block_simple16",
            "block_streamvbyte",
            "block_varintgb",
            "gamma",
            "ef",
            "pef_uniform",
            "pef_opt",
            "block_interpolative",
            "mixed_block",
            "single_packed_dint",
            "multi_packed_dint",
        ],
    )


def q_ft_decode_roundtrip_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the multi_packed (6 selector dictionaries, 12-way
    tournament) index — must equal the oracle's postings exactly."""
    return _decoded(spark, sf_dir, "multi_packed_dint")


def q_ft_decode_roundtrip_pef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the partitioned-Elias-Fano index (pef_opt: optimal-DP
    partitions, per-partition EF/bitvector/all-ones selection,
    partitioned_sequence.hpp role) — must equal the oracle's postings
    exactly. Both streams ride PEF via the positive_sequence prefix-sum
    trick (registry adapter)."""
    return _decoded(spark, sf_dir, "pef_opt")


def q_ft_decode_roundtrip_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode a mixed_block index (F12: per-block codec choice with the
    B13 decode-time model, type byte on full blocks, partial blocks
    interpolative — mixed_block.hpp:10-218). Created the way the
    reference mandates — BY TRANSFORMATION from an existing block index
    (mixed_block.hpp:34, block_transformer:152-195): the vbyte index is
    transcoded block-by-block (E5, one narrow map stage), then decoded;
    must equal the oracle's postings exactly."""
    from dint_spark.build.blocks import decode_block_index, transcode_block_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.engine import get_block_index

    bidx, src = get_block_index(spark, sf_dir, "block_vbyte")
    dst = get_codec("mixed_block")
    return decode_block_index(transcode_block_index(bidx, src, dst), dst)


def q_ft_dint_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codeword-class usage histogram (dint_statistics analog, A10;
    rows-only: depends on the encoded byte streams)."""
    from dint_spark.codecs.stats import codeword_histogram
    from dint_spark.engine import get_block_index

    bidx, codec = get_block_index(spark, sf_dir, "single_packed_dint")
    return codeword_histogram(bidx, codec.docs.dict, codec.freqs.dict)


# ------------------------------------------------ training-data pipeline


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.io import load_table

    return load_table(spark, sf_dir, "documents")


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.io import load_table

    return load_table(spark, sf_dir, "embeddings")


def q_dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def q_dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def q_dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


def q_dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), radius=3)


def q_dd_embed_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.dedup import embedding_dup_pairs

    return embedding_dup_pairs(_embeds(spark, sf_dir), threshold=0.4)


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.similarity import cosine_topk

    return cosine_topk(_embeds(spark, sf_dir), k=10)


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(_embeds(spark, sf_dir), k=10)


def q_ta_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.functions.textfns import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_ta_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.functions.textfns import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_ta_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.functions.textfns import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.functions.textfns import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dint_spark.operators.multimodal import extract_media_meta, synth_media

    return extract_media_meta(synth_media(_docs(spark, sf_dir)))


def q_mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: synthesize 24-bit BMP bytes per doc (pixels a
    closed form of doc_id), decode with the pure-numpy BMP parser
    (functions/media_codecs.py — header walk, row padding, bottom-up
    BGR), and emit exact per-channel pixel sums. The oracle recomputes
    the sums from the closed form, so a hash match proves
    bmp_encode∘bmp_decode ≡ identity on the real wire layout."""
    from dint_spark.operators.multimodal import image_stats, synth_media_bmp

    return image_stats(synth_media_bmp(_docs(spark, sf_dir)))


def q_mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize to 8x8, exact channel sums of
    the RESIZED pixels; the oracle applies the same floor-index mapping
    to the closed pixel form (decode AND resize proven end-to-end)."""
    from dint_spark.operators.multimodal import resize_image_stats, synth_media_bmp

    return resize_image_stats(synth_media_bmp(_docs(spark, sf_dir)))


def q_mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: PCM16 WAV bytes per doc (samples a closed
    form of doc_id), decoded via the RIFF chunk walk; exact integer
    aggregates hash-checked against the closed-form oracle."""
    from dint_spark.operators.multimodal import audio_stats, synth_media_wav

    return audio_stats(synth_media_wav(_docs(spark, sf_dir)))


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 ranked-OR top-10 over sf0.001 documents."""
    return q_ft_ranked_or(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ft_vocab": q_ft_vocab,
        "ft_doc_stats": q_ft_doc_stats,
        "ft_postings": q_ft_postings,
        "ft_term_meta": q_ft_term_meta,
        "ft_and": q_ft_and,
        "ft_or": q_ft_or,
        "ft_ranked_or": q_ft_ranked_or,
        "ft_ranked_and": q_ft_ranked_and,
        "ft_intersect_pair": q_ft_intersect_pair,
        "ft_freqs_sum": q_ft_freqs_sum,
        "ft_vroom_roundtrip": q_ft_vroom_roundtrip,
        "ft_wand": q_ft_wand,
        "ft_maxscore": q_ft_maxscore,
        "ft_topk_auto": q_ft_topk_auto,
        "ft_wand_pef": q_ft_wand_pef,
        "ft_wand_twophase": q_ft_wand_twophase,
        "ft_maxscore_twophase": q_ft_maxscore_twophase,
        "ft_decode_roundtrip": q_ft_decode_roundtrip,
        "ft_decode_roundtrip_multi": q_ft_decode_roundtrip_multi,
        "ft_decode_roundtrip_pef": q_ft_decode_roundtrip_pef,
        "ft_decode_roundtrip_mixed": q_ft_decode_roundtrip_mixed,
        "ft_block_meta": q_ft_block_meta,
        "ft_stream_ingest": q_ft_stream_ingest,
        "st_dedup_stream": q_st_dedup_stream,
        "ft_index_stats": q_ft_index_stats,
        "ft_dint_histogram": q_ft_dint_histogram,
        "dd_exact": q_dd_exact,
        "dd_ngram_jaccard": q_dd_ngram_jaccard,
        "dd_minhash_lsh": q_dd_minhash_lsh,
        "dd_simhash": q_dd_simhash,
        "dd_simhash_pairs": q_dd_simhash_pairs,
        "dd_embed_dups": q_dd_embed_dups,
        "sim_bruteforce": q_sim_bruteforce,
        "sim_ann_lsh": q_sim_ann_lsh,
        "ta_token_stats": q_ta_token_stats,
        "ta_quality": q_ta_quality,
        "ta_langid": q_ta_langid,
        "ta_fingerprint": q_ta_fingerprint,
        "mm_media_meta": q_mm_media_meta,
        "mm_image_decode": q_mm_image_decode,
        "mm_image_resize": q_mm_image_resize,
        "mm_audio_decode": q_mm_audio_decode,
    }


def oracle_sql() -> dict[str, str]:
    from dint_spark.oracle import sqlgen as S
    from dint_spark.oracle import sqlgen_pipeline as P

    return {
        "ft_vocab": S.VOCAB,
        "ft_doc_stats": S.DOC_STATS,
        "ft_postings": S.POSTINGS,
        "ft_term_meta": S.TERM_META,
        "ft_and": S.AND_COUNTS,
        "ft_or": S.OR_COUNTS,
        "ft_ranked_or": S.RANKED_OR,
        "ft_ranked_and": S.RANKED_AND,
        "ft_intersect_pair": S.intersect_pair_sql("hash", "join"),
        "ft_freqs_sum": S.FREQS_SUM,
        "ft_vroom_roundtrip": S.POSTINGS,
        "ft_wand": S.RANKED_OR,  # pruning must be lossless
        "ft_maxscore": S.RANKED_OR,
        "ft_topk_auto": S.RANKED_OR,  # routing must be plan-invisible
        "ft_wand_pef": S.RANKED_OR,
        "ft_wand_twophase": S.RANKED_OR,
        "ft_maxscore_twophase": S.RANKED_OR,
        "ft_decode_roundtrip": S.POSTINGS,
        "ft_decode_roundtrip_multi": S.POSTINGS,
        "ft_decode_roundtrip_pef": S.POSTINGS,
        "ft_decode_roundtrip_mixed": S.POSTINGS,
        "ft_block_meta": S.BLOCK_META,
        "ft_stream_ingest": S.POSTINGS,  # stream-built ≡ batch-built
        "st_dedup_stream": P.ST_DEDUP_STREAM,

        # ft_index_stats intentionally has no oracle (binary payload sizes
        # are not SQL-derivable) → driver records rows-only check.
        "dd_exact": P.DD_EXACT,
        "dd_ngram_jaccard": P.DD_NGRAM_JACCARD,
        "dd_minhash_lsh": P.DD_MINHASH_LSH,
        "dd_simhash": P.DD_SIMHASH,
        "dd_simhash_pairs": P.DD_SIMHASH_PAIRS,
        "dd_embed_dups": P.DD_EMBED_DUPS,
        "sim_bruteforce": P.SIM_BRUTEFORCE,
        "sim_ann_lsh": P.SIM_ANN_LSH,
        "ta_token_stats": P.TA_TOKEN_STATS,
        "ta_quality": P.TA_QUALITY,
        "ta_langid": P.TA_LANGID,
        "ta_fingerprint": P.TA_FINGERPRINT,
        "mm_media_meta": P.MM_MEDIA_META,
        "mm_image_decode": P.MM_IMAGE_DECODE,
        "mm_image_resize": P.MM_IMAGE_RESIZE,
        "mm_audio_decode": P.MM_AUDIO_DECODE,
    }
