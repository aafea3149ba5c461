"""High-level engine facade: build the full-text index over a documents
table and answer the reference's query surface. Memoizes the built index
per (session, sf_dir) so a batch of driver checks reuses cached tables.

Five caches: the index, its compressed block table per codec, the docID
universe, and the two sharded serving artifacts for the static layout —
the norm slices and the pre-sharded block index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dint_spark.build.postings import FullTextIndex, build_fulltext_index
from dint_spark.io import load_table
from dint_spark.queryset import queries_df
from dint_spark.tokenizer import tokenize_words

_INDEX_CACHE: dict[tuple[int, str], FullTextIndex] = {}
_BLOCK_CACHE: dict[tuple[int, str, str], tuple] = {}
_UNIVERSE_CACHE: dict[tuple[int, str], int] = {}
_NORMSLICE_CACHE: dict[tuple[int, str], DataFrame] = {}
_SHARDED_BIDX_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def get_index(spark: SparkSession, sf_dir: str) -> FullTextIndex:
    key = (id(spark), sf_dir)
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        from dint_spark.util import materialize

        docs_tbl = load_table(spark, sf_dir, "documents")
        tokens = tokenize_words(docs_tbl, text_col="text", doc_id_col="doc_id")
        idx = build_fulltext_index(tokens, with_norm_len=True, cache=True)
        # pre-merged vocab⋈term_meta (term, term_id, df, max_weight, w10):
        # the serving metadata join (wand_shard._qt_meta) then pays ONE
        # broadcast build per batch instead of two. An index artifact —
        # one tiny build-time join, term_meta-sized.
        idx.term_catalog = materialize(
            idx.vocab.join(
                idx.term_meta.select("term_id", "max_weight", "w10"), "term_id"
            ).select("term", "term_id", "df", "max_weight", "w10")
        )
        _INDEX_CACHE[key] = idx
    return idx


def get_block_index(spark: SparkSession, sf_dir: str, codec_name: str = "single_packed_dint"):
    """(block_index_df, codec) — compressed block table, memoized & cached.

    For DINT the dictionary model is learned on this corpus (two-pass
    build, build/dint_build.py) before encoding.
    """
    key = (id(spark), sf_dir, codec_name)
    hit = _BLOCK_CACHE.get(key)
    if hit is None:
        from dint_spark.build.blocks import build_block_index
        from dint_spark.codecs.registry import get_codec

        idx = get_index(spark, sf_dir)
        model = None
        if codec_name == "multi_packed_dint":
            from dint_spark.build.dint_build import learn_multi_dint_model

            model = learn_multi_dint_model(
                idx.postings.select("term_id", "doc_id", "tf")
            )
        elif codec_name.startswith(("single_packed_dint", "dint")):
            from dint_spark.build.dint_build import learn_dint_model

            model = learn_dint_model(idx.postings.select("term_id", "doc_id", "tf"))
        codec = get_codec(codec_name, model)
        from dint_spark.util import materialize

        block_idx = materialize(build_block_index(idx.postings, codec))
        hit = (block_idx, codec)
        _BLOCK_CACHE[key] = hit
    return hit


def get_universe(spark: SparkSession, sf_dir: str) -> int:
    """docID universe (max assigned id + 1) — an index property, fetched
    once per session as ONE scalar aggregate (never a per-row collect)."""
    key = (id(spark), sf_dir)
    u = _UNIVERSE_CACHE.get(key)
    if u is None:
        idx = get_index(spark, sf_dir)
        mx = idx.docs.agg(F.max("doc_id")).first()[0]
        u = int(mx) + 1 if mx is not None else 0
        _UNIVERSE_CACHE[key] = u
    return u


def get_norm_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-shard packed norm slices for the index's STATIC
    shard layout — the norms every WAND/MaxScore serve call cogroups
    alongside the posting blocks. Built once per
    session (one shuffle of the docs table, an index-build-class cost),
    then every query batch cogroups the slices alongside the posting
    blocks; NO driver-side collect of per-doc data anywhere
    (ref parity: wand_data.hpp:55-58 keeps norm_lens[] node-resident —
    this is the node-sharded form of the same artifact)."""
    from dint_spark.operators.wand_shard import norm_slices, static_layout
    from dint_spark.util import materialize

    key = (id(spark), sf_dir)
    df = _NORMSLICE_CACHE.get(key)
    if df is None:
        idx = get_index(spark, sf_dir)
        _nsh, ss = static_layout(get_universe(spark, sf_dir))
        df = materialize(norm_slices(idx.docs.select("doc_id", "norm_len"), ss))
        _NORMSLICE_CACHE[key] = df
    return df


def get_sharded_blocks(
    spark: SparkSession, sf_dir: str, codec_name: str = "single_packed_dint"
) -> DataFrame:
    """Materialized sharded_block_index() artifact: the block index
    shard-exploded for the static layout with the shard_block_max()
    refinement joined in (dead straddle pairs dropped, in-shard max
    weights in place — wand_shard.py shard_block_max docstring). One
    index-build-class join per session; every serve batch then goes
    term-semi-join → cogroup exchange, instead of re-running a
    SortMergeJoin that shuffled the block payload a second time per
    batch (guide §8: heavy bytes move once)."""
    from dint_spark.operators.wand_shard import (
        shard_block_max,
        sharded_block_index,
        static_layout,
    )
    from dint_spark.util import materialize

    key = (id(spark), sf_dir, codec_name)
    df = _SHARDED_BIDX_CACHE.get(key)
    if df is None:
        idx = get_index(spark, sf_dir)
        bidx, _codec = get_block_index(spark, sf_dir, codec_name)
        _nsh, ss = static_layout(get_universe(spark, sf_dir))
        sbmw = shard_block_max(
            idx.postings.select("term_id", "doc_id", "tf", "norm_len"), ss
        )
        df = materialize(sharded_block_index(bidx, ss, sbmw))
        _SHARDED_BIDX_CACHE[key] = df
    return df


def get_index_stats(
    spark: SparkSession, sf_dir: str, codec_names: list[str]
) -> DataFrame:
    """bits-per-integer per codec, sharing ONE prepared block pipeline.

    prepare_block_data (rank + block cut + chunked repartition) is
    materialized once; each codec only runs its encode kernel over the
    same prepared frames — n codecs cost n encodes, not n full builds.
    """
    from dint_spark.build.blocks import build_block_index, index_stats, prepare_block_data
    from dint_spark.codecs.registry import get_codec
    from dint_spark.util import materialize

    idx = get_index(spark, sf_dir)
    postings = idx.postings.select("term_id", "doc_id", "tf", "norm_len")
    data, meta = prepare_block_data(postings)
    data, meta = materialize(data), materialize(meta)

    single_model = None
    multi_model = None
    outs = []
    for name in codec_names:
        if name == "multi_packed_dint":
            if multi_model is None:
                from dint_spark.build.dint_build import learn_multi_dint_model

                multi_model = learn_multi_dint_model(
                    idx.postings.select("term_id", "doc_id", "tf")
                )
            codec = get_codec(name, multi_model)
        elif name.startswith(("single_packed_dint", "dint")):
            if single_model is None:
                from dint_spark.build.dint_build import learn_dint_model

                single_model = learn_dint_model(
                    idx.postings.select("term_id", "doc_id", "tf")
                )
            codec = get_codec(name, single_model)
        else:
            codec = get_codec(name)
        bidx = build_block_index(postings, codec, prepared=(data, meta))
        outs.append(index_stats(bidx).withColumn("codec", F.lit(name)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("codec", "n_blocks", "n_postings", "docs_bpi", "freqs_bpi")


def get_queries(spark: SparkSession) -> DataFrame:
    return queries_df(spark)
