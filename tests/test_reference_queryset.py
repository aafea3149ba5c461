"""Rank-identity on the REFERENCE'S OWN 500-query log (north rule:
"matching the reference's top-k docIDs and BM25 scores (rank-identical)
on the reference query set").

The reference repo ships its query log (test/test_data/queries — 500
term-id queries) but not the .docs/.freqs payloads
(.MISSING_LARGE_BLOBS), so the collection is synthesized: a
deterministic posting list per query term id over the reference fixture
shape (10,000 docs, README.md:53), mixed sparse/dense document
frequencies so MaxScore's essential split and WAND's block-max filter
both engage. Both the relational ranked_or AND the compressed-index
sharded WAND/MaxScore plan must be rank-identical to the pure-Python
reference engine (oracle/pyref.py, queries.hpp/bm25.hpp semantics) on
every query.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

QUERIES = "/root/reference/test/test_data/queries"
NUM_DOCS = 10_000
K = 10


def _term_postings(tid: int, rng_cache={}):
    """Deterministic posting list for a term id: df spans 1..~2500."""
    rng = np.random.default_rng(np.uint64(0xD1E7) * np.uint64(1_000_003) + np.uint64(tid))
    h = (tid * 2654435761) % 100
    df = 1 + (tid * 40503) % 300 if h >= 10 else 500 + (tid * 104729) % 2000
    df = min(df, NUM_DOCS - 1)
    docs = np.sort(rng.choice(NUM_DOCS, size=df, replace=False))
    tfs = 1 + rng.integers(0, 4, size=df) ** 2  # 1,2,5,10-ish spread
    return docs, tfs


@pytest.fixture(scope="module")
def ref_setup(spark):
    if not os.path.exists(QUERIES):
        pytest.skip("reference query log not present")
    qlog = [
        [int(x) for x in line.split()]
        for line in open(QUERIES)
        if line.strip()
    ]
    tids = sorted({t for q in qlog for t in q})

    rows = []
    pyref_post = {}
    doc_lens = {d: 0 for d in range(NUM_DOCS)}
    for tid in tids:
        docs, tfs = _term_postings(tid)
        term = f"t{tid}"
        pyref_post[term] = [(int(d), int(f)) for d, f in zip(docs, tfs)]
        for d, f in zip(docs, tfs):
            rows.append((term, int(d), int(f)))
            doc_lens[int(d)] += int(f)
    # every doc needs a nonzero length (docs outside all lists keep len 1
    # via a filler term so avgdl matches between engine and oracle)
    filler_docs = [d for d, L in doc_lens.items() if L == 0]
    for d in filler_docs:
        rows.append(("zfiller", d, 1))
        doc_lens[d] = 1
    pyref_post["zfiller"] = [(d, 1) for d in sorted(filler_docs)]

    from pyspark.sql import functions as F

    from dint_spark.build.postings import build_term_meta, build_vocab
    from dint_spark.util import materialize

    raw = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    vocab = materialize(build_vocab(raw))
    avgdl = float(sum(doc_lens.values())) / NUM_DOCS
    docs_df = materialize(
        spark.createDataFrame(
            [(d, L, L / avgdl) for d, L in doc_lens.items()],
            "doc_id long, doc_len long, norm_len double",
        )
    )
    postings = materialize(
        raw.join(F.broadcast(vocab.select("term", "term_id")), "term").join(
            F.broadcast(docs_df.select("doc_id", "norm_len")), "doc_id"
        ).select("term", "term_id", "doc_id", "tf", "norm_len")
    )
    term_meta = materialize(build_term_meta(postings, docs_df, NUM_DOCS))

    from dint_spark.build.postings import FullTextIndex

    idx = FullTextIndex(
        postings=postings, docs=docs_df, vocab=vocab, term_meta=term_meta,
        num_docs=NUM_DOCS, avgdl=avgdl,
    )

    from dint_spark.oracle.pyref import PyRefIndex

    oracle = PyRefIndex(pyref_post, doc_lens)

    queries = spark.createDataFrame(
        [(qid, [f"t{t}" for t in terms]) for qid, terms in enumerate(qlog)],
        "query_id long, terms array<string>",
    )
    return idx, oracle, qlog, queries


def _assert_rank_identical(got_by_q, oracle, qlog):
    mismatches = []
    for qid, terms in enumerate(qlog):
        want = oracle.ranked_or([f"t{t}" for t in terms], k=K)
        got = sorted(got_by_q.get(qid, []), key=lambda r: r["rank"])
        if [r["doc_id"] for r in got] != [d for d, _ in want]:
            mismatches.append((qid, [r["doc_id"] for r in got][:3], [d for d, _ in want][:3]))
            continue
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) < 1e-9, (qid, r["doc_id"], r["score"], s)
    assert not mismatches, mismatches[:5]


def test_ranked_or_rank_identical_on_reference_queries(spark, ref_setup):
    idx, oracle, qlog, queries = ref_setup
    from dint_spark.operators.ranked import ranked_or

    got = ranked_or(idx.postings, queries, idx.vocab, idx.num_docs, k=K).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    _assert_rank_identical(by_q, oracle, qlog)


def test_sharded_defaults_rank_identical_on_reference_queries(spark, ref_setup):
    """The pruned plan (doc-sharded DAAT cogroup kernels, cogrouped norm
    slices), WAND and MaxScore, against all 500 reference queries —
    closes the loop on the reference's own oracle relationship
    (test_ranked_queries.cpp:42-74) for the path the engine serves."""
    idx, oracle, qlog, queries = ref_setup
    from dint_spark.build.blocks import build_block_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        serving_artifacts,
        wand_topk_sharded,
    )
    from dint_spark.util import materialize

    codec = get_codec("block_vbyte")
    bidx = materialize(build_block_index(idx.postings, codec))
    norms = serving_artifacts(idx)["norms"]
    for fn in (wand_topk_sharded, maxscore_topk_sharded):
        got = fn(idx, bidx, codec, queries, idx.num_docs, norms, k=K).collect()
        by_q: dict[int, list] = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        _assert_rank_identical(by_q, oracle, qlog)
