"""Index build invariants (FIXTURES.md §2 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_docs_and_postings(tiny_index):
    idx = tiny_index
    assert idx.num_docs == 6
    docs = {r["doc_id"]: r for r in idx.docs.collect()}
    assert docs[0]["doc_len"] == 4
    assert docs[3]["doc_len"] == 2
    total = sum(r["doc_len"] for r in docs.values())
    assert abs(idx.avgdl - total / 6) < 1e-12
    for r in docs.values():
        assert abs(r["norm_len"] - r["doc_len"] / idx.avgdl) < 1e-12

    # postings: tf ≥ 1, (term, doc) unique, doc_ids dense range
    p = idx.postings.collect()
    assert all(r["tf"] >= 1 for r in p)
    assert len({(r["term_id"], r["doc_id"]) for r in p}) == len(p)
    # doc 2 has 'a' three times
    a_id = {r["term"]: r["term_id"] for r in idx.vocab.collect()}["a"]
    tf = {r["doc_id"]: r["tf"] for r in p if r["term_id"] == a_id}
    assert tf == {0: 2, 2: 3, 5: 1}


def test_vocab_dense_lexicographic(tiny_index):
    v = sorted(tiny_index.vocab.collect(), key=lambda r: r["term_id"])
    terms = [r["term"] for r in v]
    assert terms == sorted(terms)
    assert [r["term_id"] for r in v] == list(range(len(v)))
    dfs = {r["term"]: r["df"] for r in v}
    assert dfs == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 2, "f": 2}


def test_term_meta_max_weight(tiny_index):
    """max_weight = max BM25 dtw over the list (wand_data.hpp:34-49)."""
    idx = tiny_index
    k1, b = 1.2, 0.5
    post = idx.postings.collect()
    docs = {r["doc_id"]: r["norm_len"] for r in idx.docs.collect()}
    expect = {}
    for r in post:
        L = docs[r["doc_id"]]
        w = r["tf"] / (r["tf"] + k1 * (1 - b + b * L))
        expect[r["term_id"]] = max(expect.get(r["term_id"], 0.0), w)
    got = {r["term_id"]: r["max_weight"] for r in idx.term_meta.collect()}
    assert set(got) == set(expect)
    for t in got:
        assert abs(got[t] - expect[t]) < 1e-9


def test_term_meta_multilevel_merge(random_postings, monkeypatch):
    """build_term_meta's three-level tree (2^16-doc buckets, 4096 per
    merge) combines one array per level on any fixture under 65,536
    docs. With 2^8-doc buckets merged 4 at a time, the 20k-doc lists of
    random_postings span ~79 level-1 buckets and ~20 level-2 groups, and
    term_meta must equal the default result exactly."""
    from dint_spark.build import postings as P

    post = random_postings.withColumn(
        "term", F.concat(F.lit("t"), F.col("term_id").cast("string"))
    )
    doc_len = post.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    avg = doc_len.agg(F.avg("doc_len")).first()[0]
    docs = doc_len.withColumn("norm_len", F.col("doc_len") / F.lit(avg))
    num_docs = docs.count()

    def meta():
        rows = P.build_term_meta(post, docs, num_docs).collect()
        return sorted(tuple(r) for r in rows)

    want = meta()
    assert len(want) == 25 and all(r[4] is not None for r in want)
    monkeypatch.setattr(P, "META_BUCKET_BITS", 8)
    monkeypatch.setattr(P, "META_MERGE_BITS", 2)
    lvl1 = post.select("term_id", F.shiftrightunsigned("doc_id", 8).alias("b"))
    assert lvl1.select("b").distinct().count() > 4**2  # 3 levels all merge
    assert meta() == want


def test_vocab_scalable_matches_window_path(spark, tiny_docs):
    """build_vocab(scalable=True) — the production default since round 3 —
    assigns term_ids identical to the window-rank debug path, so flipping
    the default changes no query result or oracle hash (VERDICT r02 #4)."""
    from dint_spark.build.postings import build_postings_raw, build_vocab
    from dint_spark.tokenizer import tokenize_words

    raw = build_postings_raw(tokenize_words(tiny_docs))
    a = {r["term"]: r["term_id"] for r in build_vocab(raw, scalable=True).collect()}
    b = {r["term"]: r["term_id"] for r in build_vocab(raw, scalable=False).collect()}
    assert a == b and len(a) == 6


def test_dense_ids_matches_window_rank(spark):
    from dint_spark.build.docids import dense_ids

    df = spark.createDataFrame(
        [(f"k{i:04d}", i * 7 % 100) for i in range(997)], schema="key string, v int"
    )
    out = dense_ids(df, ["key"], "rid", num_partitions=8).collect()
    by_key = sorted(out, key=lambda r: r["key"])
    assert [r["rid"] for r in by_key] == list(range(997))
