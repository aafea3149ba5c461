"""High-level engine facade: build the full-text index over a documents
table and answer the reference's query surface.

Every artifact is memoized per (session, sf_dir) through util.memo, so a
batch of driver checks reuses materialized tables and a restarted
session rebuilds them: the index, its compressed block table per codec,
and the serving artifacts (wand_shard.serving_artifacts) — the docID
universe and norm slices per index, the pre-sharded block index per
codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dint_spark.build.postings import FullTextIndex, build_fulltext_index
from dint_spark.io import load_table
from dint_spark.tokenizer import tokenize_words
from dint_spark.util import materialize, memo


def get_index(spark: SparkSession, sf_dir: str) -> FullTextIndex:
    """The relational index of sf_dir's documents table. Its term_meta
    carries the term, so it is also the serving catalog that resolves
    query terms in one join (wand.query_bounds)."""

    def build():
        docs_tbl = load_table(spark, sf_dir, "documents")
        return build_fulltext_index(
            tokenize_words(docs_tbl, text_col="text", doc_id_col="doc_id")
        )

    return memo(spark, ("index", sf_dir), build)


def get_block_index(spark: SparkSession, sf_dir: str, codec_name: str = "single_packed_dint"):
    """(block_index_df, codec) — compressed block table, memoized and
    materialized. A DINT codec's dictionary model is learned on this
    corpus first (two-pass build, build/dint_build.py)."""

    def build():
        from dint_spark.build.blocks import build_block_index
        from dint_spark.build.dint_build import learn_dint_model, model_class
        from dint_spark.codecs.registry import get_codec

        idx = get_index(spark, sf_dir)
        cls = model_class(codec_name)
        postings = idx.postings.select("term_id", "doc_id", "tf")
        model = learn_dint_model(postings, cls) if cls else None
        codec = get_codec(codec_name, model)
        return materialize(build_block_index(idx.postings, codec)), codec

    return memo(spark, ("blocks", sf_dir, codec_name), build)


def get_serving(spark: SparkSession, sf_dir: str, codec_name: "str | None" = None) -> dict:
    """wand_shard.serving_artifacts of the index — the norms / universe /
    sharded_bidx keywords of a sharded top-k call. Universe and norm
    slices are built once per (session, sf_dir) and shared by every
    codec; given a codec, that codec's pre-sharded block artifact too."""
    from dint_spark.operators.wand_shard import serving_artifacts

    idx = get_index(spark, sf_dir)
    base = memo(spark, ("serving", sf_dir), lambda: serving_artifacts(idx))
    if codec_name is None:
        return base
    return memo(
        spark,
        ("serving", sf_dir, codec_name),
        lambda: serving_artifacts(
            idx, get_block_index(spark, sf_dir, codec_name)[0], shared=base
        ),
    )


def get_universe(spark: SparkSession, sf_dir: str) -> int:
    """docID universe (max assigned id + 1) — one scalar aggregate per
    session, never a per-row collect."""
    return get_serving(spark, sf_dir)["universe"]


def get_norm_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-shard packed norm slices for the index's static
    shard layout, which every WAND/MaxScore serve call cogroups
    alongside the posting blocks (ref parity: wand_data.hpp:55-58 keeps
    norm_lens[] node-resident — this is the node-sharded form)."""
    return get_serving(spark, sf_dir)["norms"]


def get_index_stats(
    spark: SparkSession, sf_dir: str, codec_names: list[str]
) -> DataFrame:
    """bits-per-integer per codec, sharing ONE prepared block pipeline.

    prepare_block_data (rank + block cut + chunked repartition) is
    materialized once; each codec only runs its encode kernel over the
    same prepared frames — n codecs cost n encodes, not n full builds.
    Each DINT model family is learned once.
    """
    from dint_spark.build.blocks import build_block_index, index_stats, prepare_block_data
    from dint_spark.build.dint_build import learn_dint_model, model_class
    from dint_spark.codecs.registry import get_codec

    idx = get_index(spark, sf_dir)
    postings = idx.postings.select("term_id", "doc_id", "tf", "norm_len")
    data, meta = prepare_block_data(postings)
    data, meta = materialize(data), materialize(meta)

    models: dict = {}
    outs = []
    for name in codec_names:
        cls = model_class(name)
        if cls is not None and cls not in models:
            models[cls] = learn_dint_model(idx.postings.select("term_id", "doc_id", "tf"), cls)
        codec = get_codec(name, models.get(cls))
        bidx = build_block_index(postings, codec, prepared=(data, meta))
        outs.append(index_stats(bidx).withColumn("codec", F.lit(name)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("codec", "n_blocks", "n_postings", "docs_bpi", "freqs_bpi")
