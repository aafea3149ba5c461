"""End-to-end on the input_hint corpus: sha256 invariant, rank-identity
vs the pure-Python reference engine, WAND losslessness on the
reference-shaped 500-query log (FIXTURES.md §1/§3/§6)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dint_spark.corpus import make_query_log, synth_corpus, with_doc_ids

N_DOCS = 1000  # t1 smoke size
N_QUERIES = 120  # subset of the 500-query log for test speed


@pytest.fixture(scope="module")
def corpus(spark):
    c = synth_corpus(spark, N_DOCS, seed=42)
    return with_doc_ids(c).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def code_index(corpus):
    from dint_spark.build.postings import build_fulltext_index
    from dint_spark.tokenizer import tokenize_code

    toks = tokenize_code(corpus, text_col="content", doc_id_col="doc_id")
    return build_fulltext_index(toks)


@pytest.fixture(scope="module")
def pyref(corpus):
    import re

    from dint_spark.oracle.pyref import PyRefIndex
    from dint_spark.tokenizer import CODE_TOKEN_RE

    docs = {
        r["doc_id"]: re.findall(CODE_TOKEN_RE, r["content"])
        for r in corpus.select("doc_id", "content").collect()
    }
    return PyRefIndex.from_tokens(docs)


def test_corpus_deterministic(spark):
    a = synth_corpus(spark, 50, seed=42).orderBy("path").collect()
    b = synth_corpus(spark, 50, seed=42).repartition(7).orderBy("path").collect()
    assert a == b
    c = synth_corpus(spark, 50, seed=43).orderBy("path").collect()
    assert a != c


def test_sha256_invariant_through_ingestion(spark, corpus, tmp_path_factory):
    """input_hint invariant: content sha256 preserved byte-exactly."""
    td = str(tmp_path_factory.mktemp("corpus"))
    corpus.write.mode("overwrite").parquet(td)
    back = spark.read.parquet(td)
    recomputed = back.select(
        "doc_id", F.sha2("content", 256).alias("sha_re"), "content_sha256"
    )
    bad = recomputed.filter(F.col("sha_re") != F.col("content_sha256")).count()
    assert bad == 0
    assert back.count() == N_DOCS


def test_docids_dense(corpus):
    rows = corpus.select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(N_DOCS))


def test_boolean_vs_pyref(spark, code_index, pyref):
    from dint_spark.operators.boolean import and_query, or_query

    qlog = make_query_log(N_QUERIES, seed=42)
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in qlog], "query_id long, terms array<string>"
    )
    got_and = {r["query_id"]: r["matches"] for r in and_query(code_index.postings, qdf).collect()}
    got_or = {r["query_id"]: r["matches"] for r in or_query(code_index.postings, qdf).collect()}
    for qid, terms in qlog:
        assert got_and[qid] == pyref.and_query(terms), (qid, terms)
        assert got_or[qid] == pyref.or_query(terms), (qid, terms)


def test_ranked_or_rank_identical_to_pyref(spark, code_index, pyref):
    from dint_spark.operators.ranked import ranked_or

    qlog = make_query_log(N_QUERIES, seed=42)
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in qlog], "query_id long, terms array<string>"
    )
    got = ranked_or(code_index.postings, qdf, code_index.vocab, code_index.num_docs, k=10)
    by_q: dict[int, list] = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, terms in qlog:
        exp = pyref.ranked_or(terms, k=10, dtype=np.float64)
        rows = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], (qid, terms)
        for r, (_, s) in zip(rows, exp):
            assert abs(r["score"] - s) < 1e-9, (qid, r, s)
        # float32 (reference arithmetic) within 0.1% relative
        # (test_ranked_queries.cpp:52 tolerance)
        exp32 = pyref.ranked_or(terms, k=10, dtype=np.float32, round_to=None)
        for r, (_, s32) in zip(rows, exp32):
            if s32 > 1e-5:
                assert abs(r["score"] - s32) / s32 < 1e-3, (qid, r, s32)


def test_wand_rank_identical_on_code_corpus(spark, corpus, code_index):
    """Sharded WAND and MaxScore over the compressed DINT index ==
    exhaustive ranked_or, on a corpus with REAL idf spread (rare sym_k
    terms → pruning actually prunes, unlike the dense sf testdata),
    served with the pre-sharded artifact and norm slices of
    serving_artifacts."""
    from dint_spark.build.blocks import build_block_index
    from dint_spark.build.dint_build import learn_dint_model
    from dint_spark.codecs.registry import get_codec
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        serving_artifacts,
        wand_topk_sharded,
    )
    from dint_spark.util import materialize

    model = learn_dint_model(code_index.postings.select("term_id", "doc_id", "tf"))
    codec = get_codec("single_packed_dint", model)
    bidx = materialize(build_block_index(code_index.postings, codec))

    qlog = make_query_log(40, seed=123)
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in qlog], "query_id long, terms array<string>"
    )
    exhaustive = ranked_or(code_index.postings, qdf, code_index.vocab, code_index.num_docs, k=10)
    e = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in exhaustive.collect()}
    assert e
    serving = serving_artifacts(code_index, bidx)
    for fn in (wand_topk_sharded, maxscore_topk_sharded):
        pruned = fn(code_index, bidx, codec, qdf, code_index.num_docs, k=10, **serving)
        p = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in pruned.collect()}
        assert e == p, fn.__name__
