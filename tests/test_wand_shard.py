"""Sharded DAAT WAND/MaxScore (operators/wand_shard.py): rank-identity
vs the ranked_or oracle (the reference's own lossless contract,
test_ranked_queries.cpp:42-74) across corpora that exercise BOTH kernel
paths — the ε-flat corpus (vectorized exhaustive path) and a Zipf
corpus with real idf spread (DAAT pruning path) — plus the decode-stats
evidence that pruning skips blocks on the Zipf corpus.

Every case runs the one serving path: the static layout
static_layout(universe) (3 shards on the 20,000-doc Zipf corpus), norm
slices (precomputed, or packed in the plan when norms=None) and a
shard-exploded block frame. Cases that need a single shard shrink the
layout by raising MIN_SHARD_DOCS (one_shard)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _zipf_tokens(spark, num_docs=20000, seed=7):
    """Deterministic Zipf-ish corpus: term df spans 10..~2*N/3 so idf
    ranges from ~ln(N/10) (strong) to ε-clamped (dense)."""
    rng = np.random.default_rng(seed)
    rows = []
    spec = []
    # 12 terms with geometric df decay + 3 dense terms
    for i in range(12):
        df = max(10, int(num_docs * 0.5 ** (i + 1)))
        spec.append((f"t{i:02d}", df))
    for j in range(3):
        spec.append((f"dense{j}", int(num_docs * 0.66)))
    for term, df in spec:
        docs = rng.choice(num_docs, size=df, replace=False)
        tfs = 1 + rng.integers(0, 4, size=df)
        for d, tf in zip(docs, tfs):
            rows += [(int(d), term)] * int(tf)
    return spark.createDataFrame(rows, schema="doc_id long, term string"), num_docs


def _zipf_queries(spark):
    qs = [
        (0, ["t00", "t08"]),            # dense + rare: the WAND showcase
        (1, ["t10"]),                    # rare single
        (2, ["dense0", "dense1"]),       # flat pair (exhaustive path)
        (3, ["t01", "t05", "t09"]),      # mixed
        (4, ["t11", "dense2"]),          # rarest + dense
        (5, ["t03", "t03", "t07"]),      # duplicate term (qtf=2)
        (6, ["missing", "t02"]),         # unknown term ignored
    ]
    return spark.createDataFrame(qs, schema="query_id long, terms array<string>")


@pytest.fixture(scope="module")
def zipf_setup(spark):
    from dint_spark.build.blocks import build_block_index
    from dint_spark.build.postings import build_fulltext_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.util import materialize

    from dint_spark.operators.wand_shard import norm_slices, static_layout

    tokens, num_docs = _zipf_tokens(spark)
    idx = build_fulltext_index(tokens, with_norm_len=True, cache=True)
    codec = get_codec("block_vbyte")
    bidx = materialize(build_block_index(idx.postings, codec))
    _nsh, ss = static_layout(_universe(idx))
    slices = materialize(
        norm_slices(idx.docs.select("doc_id", "norm_len"), ss)
    )
    return idx, bidx, codec, slices


def _universe(idx) -> int:
    return int(idx.docs.agg(F.max("doc_id")).first()[0]) + 1


def one_shard(monkeypatch) -> None:
    """Shrink the static layout to ONE shard for the rest of the test
    (MIN_SHARD_DOCS above the corpus size); norm slices packed for the
    3-shard layout no longer apply, so such tests pass norms=None."""
    from dint_spark.operators import wand_shard

    monkeypatch.setattr(wand_shard, "MIN_SHARD_DOCS", 1 << 40)


def _norms_for(monkeypatch, idx, slices, num_shards):
    """norms for a test run at num_shards (1 or the static 3)."""
    from dint_spark.operators.wand_shard import static_layout

    if num_shards == 1:
        one_shard(monkeypatch)
    assert static_layout(_universe(idx))[0] == num_shards
    return None if num_shards == 1 else slices


def _ranks(df):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in df.collect()
    )


@pytest.mark.parametrize("num_shards", [1, 3])
def test_wand_sharded_rank_identity_zipf(
    spark, zipf_setup, monkeypatch, num_shards
):
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import wand_topk_sharded

    idx, bidx, codec, slices = zipf_setup
    norms = _norms_for(monkeypatch, idx, slices, num_shards)
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(wand_topk_sharded(idx, bidx, codec, q, idx.num_docs, norms))
    assert got == ref


@pytest.mark.parametrize("num_shards", [1, 3])
def test_maxscore_sharded_rank_identity_zipf(
    spark, zipf_setup, monkeypatch, num_shards
):
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import maxscore_topk_sharded

    idx, bidx, codec, slices = zipf_setup
    norms = _norms_for(monkeypatch, idx, slices, num_shards)
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(
        maxscore_topk_sharded(idx, bidx, codec, q, idx.num_docs, norms)
    )
    assert got == ref


def test_wand_sharded_tiny_corpus(spark, tiny_index):
    from dint_spark.build.blocks import build_block_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import wand_topk_sharded
    from dint_spark.util import materialize

    idx = tiny_index
    codec = get_codec("block_vbyte")
    bidx = materialize(build_block_index(idx.postings, codec))
    q = spark.createDataFrame(
        [(0, ["a", "e"]), (1, ["c"]), (2, ["a", "b", "c", "d", "e", "f"])],
        schema="query_id long, terms array<string>",
    )
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=3))
    got = _ranks(wand_topk_sharded(idx, bidx, codec, q, idx.num_docs, None, k=3))
    assert got == ref


def test_wand_sharded_prunes_blocks_on_zipf(spark, zipf_setup, monkeypatch):
    """The pruning evidence: on a corpus with real idf spread, the DAAT
    kernel decodes well under half of the doc-stream blocks it was
    handed, and freq decode (lazy) is rarer still. One shard: a block
    that straddles shards is handed (and counted) once per shard, which
    inflates the denominator's share of dense blocks at 3 shards."""
    from dint_spark.operators.wand_shard import wand_sharded_decode_stats

    idx, bidx, codec, _slices = zipf_setup
    one_shard(monkeypatch)
    q = _zipf_queries(spark).filter(F.col("query_id").isin(0, 1, 3, 4))
    st = (
        wand_sharded_decode_stats(idx, bidx, codec, q, idx.num_docs, None)
        .agg(
            F.sum("blocks_total").alias("t"),
            F.sum("blocks_docs_decoded").alias("d"),
            F.sum("blocks_freqs_decoded").alias("f"),
        )
        .first()
    )
    assert st["t"] > 0
    assert st["d"] < 0.5 * st["t"], (st["d"], st["t"])
    assert st["f"] <= st["d"]


@pytest.mark.parametrize("algo", ["wand", "maxscore"])
def test_sharded_norms_cogrouped_zipf(spark, zipf_setup, algo):
    """Default norms mode (norms=None): norm slices derive from
    idx.docs INSIDE the plan and ride the cogroup — rank-identical to
    the oracle with zero driver-side per-doc collection."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        wand_topk_sharded,
    )

    idx, bidx, codec, _slices = zipf_setup
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    fn = wand_topk_sharded if algo == "wand" else maxscore_topk_sharded
    got = _ranks(fn(idx, bidx, codec, q, idx.num_docs, None))
    assert got == ref


def test_sharded_norms_precomputed_slices_zipf(spark, zipf_setup):
    """Precomputed norm_slices() frame (the engine's serving path, static
    layout) is rank-identical; a slices frame packed for a DIFFERENT
    shard size is rejected instead of silently mis-scoring."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        norm_slices,
        static_layout,
        wand_topk_sharded,
    )
    from dint_spark.util import materialize

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    universe = _universe(idx)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, slices, universe=universe
        )
    )
    assert got == ref
    # layout-mismatch guard: slices packed for a 5-shard size, served at
    # the static 3-shard layout
    nsh, ss = static_layout(universe)
    assert nsh == 3
    other = materialize(
        norm_slices(idx.docs.select("doc_id", "norm_len"), -(-universe // 5))
    )
    bad = wand_topk_sharded(
        idx, bidx, codec, q, idx.num_docs, other, universe=universe
    )
    with pytest.raises(Exception, match="shard_size|rebuild"):
        bad.collect()


@pytest.mark.parametrize("algo", ["wand", "maxscore"])
def test_sharded_rank_identity_k_gt_10(spark, zipf_setup, algo):
    """k > TOPK_BOUND_K: the qw·w10 seed only lower-bounds the 10th-best
    score, so the kernels must seed θ = 0 for larger k — pruning against
    the w10 seed at k=25 silently drops docs ranked 11..k."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        wand_topk_sharded,
    )

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=25))
    fn = wand_topk_sharded if algo == "wand" else maxscore_topk_sharded
    got = _ranks(fn(idx, bidx, codec, q, idx.num_docs, slices, k=25))
    assert got == ref


def test_k_gt_10_exact_seed_still_prunes(spark, zipf_setup, monkeypatch):
    """At k=25 the w10 seed is invalid, but the exact bounded-kth seed
    (shipped per query into the cogroup) keeps pruning engaged: the
    kernel still skips blocks on rare-anchored queries."""
    from dint_spark.operators.wand_shard import wand_sharded_decode_stats

    idx, bidx, codec, _slices = zipf_setup
    one_shard(monkeypatch)
    q = _zipf_queries(spark).filter(F.col("query_id").isin(0, 3, 4))
    st = (
        wand_sharded_decode_stats(
            idx, bidx, codec, q, idx.num_docs, None, k=25
        )
        .agg(
            F.sum("blocks_total").alias("t"),
            F.sum("blocks_docs_decoded").alias("d"),
        )
        .first()
    )
    assert st["t"] > 0
    assert st["d"] < st["t"], (st["d"], st["t"])


def test_sharded_norms_sparse_universe(spark):
    """docIDs with large holes (universe >> num_docs): the cogrouped
    norm slices size by shard SPAN, shards tile the universe, and no
    trailing doc is dropped — rank identity holds end to end."""
    from dint_spark.build.blocks import build_block_index
    from dint_spark.build.postings import build_fulltext_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import wand_topk_sharded
    from dint_spark.util import materialize

    rng = np.random.default_rng(3)
    rows = []
    for term, df in (("rare", 15), ("mid", 80), ("dense", 300)):
        for d in rng.choice(400, size=df, replace=False):
            rows += [(int(d) * 97 + 13, term)] * int(1 + d % 3)  # sparse ids
    tokens = spark.createDataFrame(rows, schema="doc_id long, term string")
    idx = build_fulltext_index(tokens, with_norm_len=True, cache=True)
    codec = get_codec("block_vbyte")
    bidx = materialize(build_block_index(idx.postings, codec))
    q = spark.createDataFrame(
        [(0, ["rare", "dense"]), (1, ["mid"]), (2, ["rare", "mid", "dense"])],
        schema="query_id long, terms array<string>",
    )
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(wand_topk_sharded(idx, bidx, codec, q, idx.num_docs, None))
    assert got == ref


def test_static_layout_span_bounded():
    """Scale-elastic layout: the shard SPAN (per-kernel working set) is
    capped at TARGET_SHARD_SPAN at every corpus size — shard COUNT grows
    with the universe instead (the reference bounds working state
    per-list/per-block, dict_posting_list.hpp:17-19, never
    per-corpus-fraction). Small-corpus behavior is unchanged."""
    from dint_spark.operators.wand_shard import (
        MAX_STATIC_SHARDS,
        MIN_SHARD_DOCS,
        TARGET_SHARD_SPAN,
        static_layout,
    )

    # span cap holds from 10^8 through 10^12 (the design point)
    for universe in (10**8, 10**9 + 7, 10**10, 10**12):
        nsh, ss = static_layout(universe)
        assert ss <= TARGET_SHARD_SPAN, (universe, nsh, ss)
        assert nsh * ss >= universe  # shards tile the whole universe
        assert (nsh - 1) * ss < universe  # no all-empty trailing shard
    assert static_layout(10**8)[0] == -(-10**8 // TARGET_SHARD_SPAN)
    # small corpora: the MIN_SHARD_DOCS/MAX_STATIC_SHARDS regime
    assert static_layout(5_000) == (1, 5_000)
    nsh, ss = static_layout(50_000)
    assert nsh == 50_000 // MIN_SHARD_DOCS and ss == -(-50_000 // nsh)
    nsh, _ = static_layout(1_000_000)
    assert nsh == MAX_STATIC_SHARDS  # span 31,250 ≤ cap: count stays put


def test_wand_elastic_layout_end_to_end(spark):
    """Default layout above the MAX_STATIC_SHARDS regime (sparse docIDs
    spread over a ~2·10^7 universe → ~77 span-capped shards): rank
    identity and norm-slice reassembly hold with no per-shard state
    larger than TARGET_SHARD_SPAN."""
    from dint_spark.build.blocks import build_block_index
    from dint_spark.build.postings import build_fulltext_index
    from dint_spark.codecs.registry import get_codec
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        MAX_STATIC_SHARDS,
        static_layout,
        wand_topk_sharded,
    )
    from dint_spark.util import materialize

    rng = np.random.default_rng(11)
    rows = []
    for term, df in (("rare", 12), ("mid", 70), ("dense", 250)):
        for d in rng.choice(400, size=df, replace=False):
            rows += [(int(d) * 50_021 + 5, term)] * int(1 + d % 3)
    tokens = spark.createDataFrame(rows, schema="doc_id long, term string")
    idx = build_fulltext_index(tokens, with_norm_len=True, cache=True)
    universe = int(idx.docs.agg(F.max("doc_id")).first()[0]) + 1
    nsh, _ss = static_layout(universe)
    assert nsh > MAX_STATIC_SHARDS, (universe, nsh)
    codec = get_codec("block_vbyte")
    bidx = materialize(build_block_index(idx.postings, codec))
    q = spark.createDataFrame(
        [(0, ["rare", "dense"]), (1, ["mid"]), (2, ["rare", "mid", "dense"])],
        schema="query_id long, terms array<string>",
    )
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(wand_topk_sharded(idx, bidx, codec, q, idx.num_docs, None))
    assert got == ref


def test_block_prefilter_drops_blocks_losslessly(spark, zipf_setup):
    """The plan-side block-max cut (ask: wand.py step-3 semantics BEFORE
    the cogroup shuffle) must (a) hand strictly fewer blocks to the
    kernel on a corpus with idf spread, and (b) stay rank-identical to
    the unfiltered plan and the ranked_or oracle."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        wand_sharded_decode_stats,
        wand_topk_sharded,
    )

    idx, bidx, codec, norms = zipf_setup  # norms: static-layout slices
    q = _zipf_queries(spark)

    def handed(prefilter):
        return (
            wand_sharded_decode_stats(
                idx, bidx, codec, q, idx.num_docs, norms, prefilter=prefilter
            )
            .agg(F.sum("blocks_total"))
            .first()[0]
        )

    h_off, h_on = handed(False), handed(True)
    assert h_on < h_off, (h_on, h_off)  # the cut actually drops blocks

    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    assert _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, norms, prefilter=True
        )
    ) == ref
    assert _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, norms, prefilter=False
        )
    ) == ref


def test_block_prefilter_k25_exact_seed(spark, zipf_setup):
    """k > TOPK_BOUND_K: the prefilter must use the exact bounded-kth
    seed frame (w10 invalid there) and stay rank-identical at k=25."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import wand_topk_sharded

    idx, bidx, codec, norms = zipf_setup
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=25))
    got = _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, norms, k=25, prefilter=True
        )
    )
    assert got == ref


def test_norm_slices_chunked_rows(spark, zipf_setup):
    """Multiple packed slice rows per shard (chunk < shard population)
    reassemble into the same result as single-row slices."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import norm_slices, wand_topk_sharded
    from dint_spark.util import materialize

    from dint_spark.operators.wand_shard import static_layout

    idx, bidx, codec, _slices = zipf_setup
    q = _zipf_queries(spark).filter(F.col("query_id").isin(0, 3))
    universe = _universe(idx)
    nsh, ss = static_layout(universe)
    assert nsh == 3
    slices = materialize(
        norm_slices(idx.docs.select("doc_id", "norm_len"), ss, chunk=512)
    )
    # chunking produced multiple rows per shard
    n_rows = slices.count()
    assert n_rows > nsh, n_rows
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(
        wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, slices, universe=universe
        )
    )
    assert got == ref


# ---------------------------------------------------------------------------
# shard_block_max artifact (per-(block, shard) true in-shard bounds)
# ---------------------------------------------------------------------------


def _shard_bmw(idx):
    """shard_block_max() at the static layout → (artifact, shard_size)."""
    from dint_spark.operators.wand_shard import shard_block_max, static_layout

    _nsh, ss = static_layout(_universe(idx))
    return (
        shard_block_max(
            idx.postings.select("term_id", "doc_id", "tf", "norm_len"), ss
        ),
        ss,
    )


def test_shard_block_max_matches_block_index(spark, zipf_setup):
    """The artifact's (term_id, block_id) universe equals the built
    block index's (same rank//BLOCK_SIZE derivation), its per-block
    max-over-shards equals the index's global block_max_weight, and
    every row's shard sits inside the block's doc span."""
    idx, bidx, codec, _slices = zipf_setup
    sb, ss = _shard_bmw(idx)

    a = {(r["term_id"], r["block_id"]) for r in
         sb.select("term_id", "block_id").distinct().collect()}
    b = {(r["term_id"], r["block_id"]) for r in
         bidx.select("term_id", "block_id").collect()}
    assert a == b

    glob = (
        sb.groupBy("term_id", "block_id")
        .agg(F.max("bmw_s").alias("mx"))
        .join(bidx.select("term_id", "block_id", "block_max_weight"),
              ["term_id", "block_id"])
    )
    bad = glob.filter(
        F.abs(F.col("mx") - F.col("block_max_weight")) > 1e-12
    ).count()
    assert bad == 0

    oob = (
        sb.join(bidx.select("term_id", "block_id", "block_base", "block_max"),
                ["term_id", "block_id"])
        .filter(
            (F.col("_shard") < F.floor((F.col("block_base") + 1) / ss))
            | (F.col("_shard") > F.floor(F.col("block_max") / ss))
        )
        .count()
    )
    assert oob == 0


@pytest.mark.parametrize("algo", ["wand", "maxscore"])
@pytest.mark.parametrize("k", [10, 25])
def test_sharded_rank_identity_with_shard_bmw(spark, zipf_setup, algo, k):
    """Dead-pair drop + in-shard bmw override are LOSSLESS: top-k with
    the artifact (sharded_block_index refined by shard_block_max;
    prefilter forced on for wand) is rank-identical to the exhaustive
    oracle, for both kernels, k ≤ and > TOPK_BOUND_K."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        sharded_block_index,
        wand_topk_sharded,
    )

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    sb, ss = _shard_bmw(idx)
    sharded = sharded_block_index(bidx, ss, sb)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=k))
    if algo == "wand":
        got = wand_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, slices, k=k,
            prefilter=True, sharded_bidx=sharded,
        )
    else:
        got = maxscore_topk_sharded(
            idx, bidx, codec, q, idx.num_docs, slices, k=k,
            sharded_bidx=sharded,
        )
    assert _ranks(got) == ref


def test_shard_bmw_drops_dead_pairs_and_bytes(spark, zipf_setup):
    """A rare term's straddling block ships only to shards that hold
    its postings: shipped rows and payload bytes strictly shrink with
    the artifact while the top-k stays identical (the preceding test)."""
    from dint_spark.operators.wand_shard import shipped_block_stats

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    sb, _ss = _shard_bmw(idx)
    off = shipped_block_stats(
        idx, bidx, codec, q, idx.num_docs, slices, prefilter=False
    )
    on = shipped_block_stats(
        idx, bidx, codec, q, idx.num_docs, slices, prefilter=True,
        shard_bmw=sb,
    )
    assert on["shuffled_block_rows"] < off["shuffled_block_rows"]
    assert on["shuffled_payload_bytes"] < off["shuffled_payload_bytes"]


def test_presharded_artifact_equals_perbatch_join(spark, zipf_setup):
    """r6 optimization guard: the pre-sharded block index
    (sharded_block_index materialized once — engine.get_sharded_blocks
    serving shape) must produce results identical to no artifact at all
    (the plan then shard-explodes bidx without the refinement) and to
    the oracle; the refinement is lossless."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.wand_shard import (
        maxscore_topk_sharded,
        norm_slices,
        shard_block_max,
        sharded_block_index,
        static_layout,
        wand_topk_sharded,
    )
    from dint_spark.util import materialize

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    universe = _universe(idx)
    _nsh, ss = static_layout(universe)
    sbmw = materialize(
        shard_block_max(
            idx.postings.select("term_id", "doc_id", "tf", "norm_len"), ss
        )
    )
    sharded = materialize(sharded_block_index(bidx, ss, sbmw))

    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    for fn in (wand_topk_sharded, maxscore_topk_sharded):
        pre = _ranks(fn(idx, bidx, codec, q, idx.num_docs, slices,
                        universe=universe, sharded_bidx=sharded))
        none = _ranks(fn(idx, bidx, codec, q, idx.num_docs, slices,
                         universe=universe))
        assert pre == none == ref, fn.__name__


def test_presharded_artifact_layout_mismatch_refused(spark, zipf_setup):
    """A sharded block index exploded for another shard_size, served at
    the static layout, is refused by the kernel's layout guard instead
    of silently mis-scoring (its rows land in shards they do not
    overlap)."""
    from dint_spark.operators.wand_shard import (
        sharded_block_index,
        wand_topk_sharded,
    )

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    universe = _universe(idx)
    other = sharded_block_index(bidx, -(-universe // 5))
    bad = wand_topk_sharded(
        idx, bidx, codec, q, idx.num_docs, slices, universe=universe,
        sharded_bidx=other,
    )
    with pytest.raises(Exception, match="do not overlap"):
        bad.collect()


def test_legacy_norms_forms_refused(spark, zipf_setup):
    """norms is a norm_slices() frame or None; a (doc_id, norm_len)
    frame or a broadcast array is refused before any plan is built."""
    from dint_spark.operators.wand_shard import wand_topk_sharded

    idx, bidx, codec, _slices = zipf_setup
    q = _zipf_queries(spark)
    bc = spark.sparkContext.broadcast(np.zeros(4))
    for norms in (idx.docs.select("doc_id", "norm_len"), bc):
        with pytest.raises(TypeError, match="norm_slices"):
            wand_topk_sharded(idx, bidx, codec, q, idx.num_docs, norms)
    bc.unpersist()
