"""Document-sharded DAAT WAND / MaxScore — the distributed form of the
reference's pruned top-k algorithms.

Reference semantics (/root/reference/include/ds2i/queries.hpp):
  wand_query     (:190-307) — DAAT pivot on Σ term upper bounds vs θ
                  (current kth score), block-max refinement + next_geq
                  skipping (the Ding-Suel BMW algorithm).
  maxscore_query (:459-573) — essential/non-essential list split by
                  cumulative upper bounds; non-essential lists probed
                  by next_geq lookups with early termination.

Distribution model (how real search clusters run WAND): partition the
DOCUMENT space into contiguous shards fixed per index; every shard
holds its slice of the posting blocks; queries fan out to shards; each
shard runs the sequential algorithm per query over an in-memory slice;
a final tiny top-k merges k rows per (query, shard). In Spark, as a
COGROUP so the index slice ships ONCE regardless of batch size:

    blocks (query terms only, left-semi)  ─┐ groupBy(shard) ─┐
    query-term metadata × shard ids       ─┘ groupBy(shard) ─┴─ cogroup
      → applyInPandas(shard server kernel)   -- the ONE shuffle;
         · per-shard TERM CACHE: block arrays built once, decoded
           blocks memoized ACROSS the batch's queries (a query that
           touches a block another query already decoded pays nothing —
           the shard-server working set, not a Spark-level cache)
         · per query: DAAT kernel (pivot/next_geq/block-max, lazy
           per-block doc+freq decode) or a vectorized exhaustive merge
      → topk merge over ≤ k·shards rows per query   -- tiny

Shuffle volume is O(index slice of the batch's terms), NOT
O(Σ_q blocks(q)) — a 500-query batch ships each hot block once, where
the first fan-out implementation shipped it once per query.

Losslessness: θ is seeded from term metadata (qw·w10 lower-bounds the
true GLOBAL kth total score — see operators/wand.py step 1) and grows
with the shard-local kth; both bounds are valid for the global top-k
(a doc beaten by k docs within one shard is beaten globally). A 2e-9
margin under θ protects 9-decimal rounding ties exactly as in the
relational plan. Exact BM25 is evaluated for every candidate that
survives, so surviving scores are complete and the merge is
rank-identical to ranked_or (the reference's own oracle,
test_ranked_queries.cpp:42-74).

norm_lens: the per-doc BM25 normalization values ride the SAME cogroup
as the posting blocks, packed into per-shard slice rows (norm_slices) —
the node-sharded form of the reference's resident norm_lens[]
(wand_data.hpp:55-58). Each kernel reconstructs only its shard's
contiguous slice (memory ∝ shard span, hi−lo), so the path has NO
driver-side per-doc collect and NO universe-sized broadcast at any
scale.

One serving path: the layout is always static_layout(universe), the
blocks come from ONE shard-exploded frame (the pre-sharded
sharded_block_index artifact, or the same function applied to bidx),
and the norms from ONE norm_slices frame (precomputed, or packed in the
plan from idx.docs). The kernel refuses block rows or slices that were
built for a different layout instead of mis-scoring them. WAND and
MaxScore share one plan — term semi-join, cogroup, kernel, top-k — at
every batch size; they differ only in the kernel core.

Pruning happens only inside the kernel, as in the reference, whose
posting-list iterator skips useless blocks itself
(dict_posting_list.hpp:126-147) with no pass before the scan. A
plan-side block-max cut before the cogroup once saved shuffle bytes
but no decodes, and its extra exchange stages cost more wall time than
the bytes saved at every measured scale (BENCH/BASELINE.md).

Adaptive kernel: a COST MODEL (C_PIVOT / C_VEC / C_DECODE below)
chooses per query, per shard between the DAAT path and a batched-decode
bincount merge — DAAT runs when its pivot work undercuts the vectorized
merge plus the decode credit for blocks the merge would decode but DAAT
skips. Runtime re-planning from group statistics, like a cost-based
optimizer.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dint_spark.build.postings import TOPK_BOUND_K, FullTextIndex
from dint_spark.functions.bm25 import B, K1, query_term_weight
from dint_spark.operators.boolean import query_terms
from dint_spark.operators.ranked import topk

THETA_MARGIN = 2e-9
SCORE_ROUND = 9
INT64_MAX = np.iinfo(np.int64).max

# Cost model for the per-(query, shard) DAAT-vs-vectorized choice —
# constants measured on this host (tools/wand_phases.py profiling):
C_PIVOT = 20e-6   # sec per DAAT pivot iteration (sort + bound scan + probes)
C_VEC = 0.05e-6   # sec per posting through the bincount merge
C_DECODE = 30e-6  # sec per block decode (DINT lockstep, amortized)
# DAAT wins only when its pivot work (≈ postings of pivot-capable lists,
# the ones whose bound reaches θ_seed) undercuts the vectorized merge
# PLUS the decode credit for blocks the merge would have to decode but
# DAAT would never touch. With the shard's shared decoded-block memo, a
# hot block decoded by ANY query in the batch is free for the rest — so
# on large batches the credit evaporates and the vectorized path wins
# (measured: a skip-fraction heuristic that ignored decode state ran the
# 500-query code-corpus batch 3× slower than all-vectorized), while on
# small selective batches cold-block credit makes DAAT win (the Zipf
# bench). This is the same decision a cost-based optimizer makes, from
# runtime statistics, per query, per shard.

MIN_SHARD_DOCS = 6144  # static layout: ~24 blocks of doc span per shard
# (measured sweet spot on the 5.4M-posting corpus: smaller shards
# multiply the per-(query,shard) kernel setup, larger ones under-tile)
MAX_STATIC_SHARDS = 32  # small-corpus cap on MIN_SHARD_DOCS-driven growth
SEQ_SHARD_MAX = 4096  # fan shard ids out via sequence-explode up to this
# many shards (bounded per-row array); larger layouts stream a range frame
TARGET_SHARD_SPAN = 1 << 18  # 262,144 docs (~1024 blocks): max doc span
# per shard. The SPAN cap — not the shard COUNT — is what bounds the
# kernel's working set (its dense norms array is np.zeros(hi−lo) and its
# blocks slice covers the same range), so per-task memory stays O(span)
# at any corpus size: ~2 MB of norms + the span's slice of the batch's
# blocks. Beyond MAX_STATIC_SHARDS·TARGET_SHARD_SPAN ≈ 8.4M docs the
# shard count grows with the corpus instead of the span growing — the
# reference sizes all working state per-list/per-block
# (dict_posting_list.hpp:17-19), never per-corpus-fraction.


# ---------------------------------------------------------------------------
# per-shard term cache + per-term enumerator (decode-on-demand, memoized)
# ---------------------------------------------------------------------------


class _TermBlocks:
    """One term's block arrays within a shard, shared across the batch's
    queries, with decoded-block memo dicts (the shard server's working
    set — decode each touched block at most once per shard per batch)."""

    __slots__ = ("bases", "maxs", "ns", "bmw", "dbytes", "fbytes",
                 "dcache", "fcache", "max_bmw", "ns_total", "_est")

    def est_postings(self, lo: int, hi: int) -> float:
        """Estimated postings of this list INSIDE [lo, hi) from block
        metadata alone: each block contributes n·overlap/span. A block
        that straddles many shards (rare list over a wide docID range)
        contributes only its in-shard sliver — counting its full n (the
        old estimate) inflated DAAT's pivot-cost estimate by up to
        span/overlap and mis-routed exactly the rare-anchored queries
        pruning exists for. Memoized per (shard, term): the kernel's
        (lo, hi) is fixed."""
        if self._est < 0.0:
            b0 = self.bases + 1
            span = np.maximum(self.maxs - b0 + 1, 1)
            ov = np.clip(
                np.minimum(self.maxs, hi - 1) - np.maximum(b0, lo) + 1,
                0, None,
            )
            self._est = float((self.ns * (ov / span)).sum())
        return self._est

    def __init__(self, bases, maxs, ns, bmw, dbytes, fbytes):
        self.bases = bases    # int64[nb] block gap-chain seeds
        self.maxs = maxs      # int64[nb] last docID per block
        self.ns = ns          # int64[nb]
        self.bmw = bmw        # float64[nb] block max weights (may be nan)
        self.dbytes = dbytes
        self.fbytes = fbytes
        self.dcache: dict[int, np.ndarray] = {}  # bi → absolute docIDs
        self.fcache: dict[int, np.ndarray] = {}  # bi → tf values
        # per-shard constants computed ONCE, shared by every query of
        # the batch (keeps per-(query,shard) setup O(|terms|) python ops)
        m = np.nanmax(bmw) if bmw.size else float("nan")
        self.max_bmw = m if m == m else 1.0  # nan → weight ≤ 1 bound
        self.ns_total = int(ns.sum())
        self._est = -1.0


def _term_cache(left: pd.DataFrame) -> dict[int, _TermBlocks]:
    """Build the shard's term → _TermBlocks map ONCE per kernel call
    (numpy boundary split — no per-term pandas groupby)."""
    left = left.sort_values(["term_id", "block_id"])
    tid = left["term_id"].to_numpy(dtype=np.int64)
    bases = left["block_base"].to_numpy(dtype=np.int64)
    maxs = left["block_max"].to_numpy(dtype=np.int64)
    ns = left["n"].to_numpy(dtype=np.int64)
    bmw = left["block_max_weight"].to_numpy(dtype=np.float64)
    db = list(left["docs_bytes"])
    fb = list(left["freqs_bytes"])
    cache: dict[int, _TermBlocks] = {}
    if not len(tid):
        return cache
    bounds = np.flatnonzero(np.diff(tid, prepend=tid[0] - 1))
    bounds = np.append(bounds, len(tid))
    for s, e in zip(bounds[:-1], bounds[1:]):
        cache[int(tid[s])] = _TermBlocks(
            bases[s:e], maxs[s:e], ns[s:e], bmw[s:e], db[s:e], fb[s:e]
        )
    return cache


class _ListEnum:
    """Posting-list enumerator over a _TermBlocks slice.

    Blocks decode lazily AND late: next_geq binary-searches block
    metadata (block_max) only, landing on a block WITHOUT decoding it —
    `cur` then holds a docID LOWER BOUND (max(target, block_base+1),
    every doc of block bi exceeds its gap-chain seed) and `approx` is
    set. The block decodes only at materialize(), which the DAAT loops
    call strictly when a pivot decision needs the true docID — so lists
    that are skipped past (the Ding-Suel d'+1 jump) or never become
    pivot-relevant ship only metadata and never decode. This goes one
    step beyond the reference's dict_posting_list (hpp:120-169 decodes
    the landing block inside next_geq): at ≥32 shards an eager landing
    decode costs |terms|×shards block decodes per batch before any θ
    check. Lazy freqs unchanged (decode on first freq()). Decoded
    arrays land in the shared _TermBlocks memo, so another query in the
    same shard batch reuses them for free — and a memo hit during
    next_geq positions exactly at zero cost.
    """

    __slots__ = ("qw", "ub", "tb", "codec", "bi", "docs", "tfs", "pos",
                 "cur", "exhausted", "stats", "approx")

    def __init__(self, qw, tb: _TermBlocks, codec, stats):
        self.qw = qw
        self.tb = tb
        self.codec = codec
        self.bi = -1
        self.docs = None
        self.tfs = None
        self.pos = 0
        self.cur = -1
        self.exhausted = False
        self.approx = False
        self.stats = stats  # [blocks_total, docs_decoded, freqs_decoded]
        # term upper bound within this shard: max block_max_weight when
        # present (tighter than the global max_weight), scaled by qw
        self.ub = qw * tb.max_bmw

    def _enter_block(self, bi: int) -> None:
        self.bi = bi
        tb = self.tb
        docs = tb.dcache.get(bi)
        if docs is None:
            gaps = self.codec.decode_docs(tb.dbytes[bi], int(tb.ns[bi]))
            docs = np.cumsum(gaps.astype(np.int64) + 1) + tb.bases[bi]
            tb.dcache[bi] = docs
            self.stats[1] += 1
        self.docs = docs
        self.tfs = None

    def materialize(self) -> None:
        """Resolve a metadata-only position to the true docID (decodes
        the landing block). cur is a lower bound ≤ block_max[bi], so the
        in-block searchsorted always lands (pos < n)."""
        if not self.approx:
            return
        target = self.cur
        self._enter_block(self.bi)
        self.pos = int(self.docs.searchsorted(target))
        self.cur = int(self.docs[self.pos])
        self.approx = False

    def freq(self) -> int:
        if self.tfs is None:
            tb = self.tb
            tfs = tb.fcache.get(self.bi)
            if tfs is None:
                tfs = (
                    self.codec.decode_freqs(tb.fbytes[self.bi], int(tb.ns[self.bi]))
                    .astype(np.int64) + 1
                )
                tb.fcache[self.bi] = tfs
                self.stats[2] += 1
            self.tfs = tfs
        return int(self.tfs[self.pos])

    def next_geq(self, target: int) -> None:
        if self.exhausted:
            return
        if self.bi >= 0 and self.cur >= target:
            return
        maxs = self.tb.maxs
        bi = int(maxs.searchsorted(target))
        if bi >= len(maxs):
            self.exhausted = True
            self.cur = INT64_MAX
            self.approx = False
            return
        docs = self.tb.dcache.get(bi)
        if docs is not None:
            # memo hit (this or another query already decoded it): exact
            # positioning is free
            self.bi = bi
            self.docs = docs
            self.tfs = None
            self.pos = int(docs.searchsorted(target))
            # target ≤ block_max guarantees pos < n
            self.cur = int(docs[self.pos])
            self.approx = False
            return
        # metadata-only landing: cur becomes a lower bound; the block
        # decodes only if a pivot decision later needs the true docID
        self.bi = bi
        self.docs = None
        self.tfs = None
        self.cur = max(target, int(self.tb.bases[bi]) + 1)
        self.approx = True

    def advance(self) -> None:
        # only legal from an exact position (after scoring)
        self.pos += 1
        if self.docs is not None and self.pos < len(self.docs):
            self.cur = int(self.docs[self.pos])
        elif self.bi + 1 < len(self.tb.maxs):
            self._enter_block(self.bi + 1)
            self.pos = 0
            self.cur = int(self.docs[0])
        else:
            self.exhausted = True
            self.cur = INT64_MAX


def _dtw(tf: float, norm_len: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * norm_len))


def _make_enums(
    qrows: list[tuple], cache: dict[int, _TermBlocks], codec, lo: int,
    hi: int, stats,
) -> list[_ListEnum]:
    enums = []
    for term_id, qw, _w10 in qrows:
        tb = cache.get(int(term_id))
        if tb is None:
            continue
        e = _ListEnum(float(qw), tb, codec, stats)
        stats[0] += len(tb.ns)
        e.next_geq(lo)
        if not e.exhausted and e.cur < hi:
            enums.append(e)
    return enums


def _seed_from_rows(qrows: list[tuple], k: int) -> float:
    """max over terms of qw·w10 − margin (see operators/wand.py step 1).

    VALID ONLY for k ≤ TOPK_BOUND_K: w10 lower-bounds the 10th-best
    partial score of the list, so qw·w10 lower-bounds the true kth TOTAL
    score only when k ≤ 10. For larger k the seed must be 0 (θ then
    grows from the heap's own kth) — pruning against the w10 seed with
    k > 10 would silently drop docs ranked 11..k."""
    if k > TOPK_BOUND_K:
        return 0.0
    best = float("nan")
    for _t, qw, w10 in qrows:
        v = qw * w10
        if v == v and not (best == best and best >= v):
            best = v
    if best != best:  # all-NaN (every term df < 10)
        return 0.0
    return max(0.0, best - THETA_MARGIN)


def _push(heap: list, k: int, score: float, doc: int) -> None:
    key = (round(score, SCORE_ROUND), -doc, score)
    if len(heap) < k:
        heapq.heappush(heap, key)
    elif key > heap[0]:
        heapq.heapreplace(heap, key)


def _kth_theta(heap: list, k: int, seed: float) -> float:
    if len(heap) < k:
        return seed
    return max(seed, heap[0][0] - THETA_MARGIN)


def _use_daat(
    enums: list[_ListEnum], theta: float, lo: int, hi: int
) -> bool:
    """Cost-based path choice (see the constants above).

    visited ≈ IN-SHARD postings of PIVOT-CAPABLE lists (bound ≥ θ_seed)
    — only those can produce pivots; non-essential lists surface through
    cheap probes. The in-shard estimate comes from block-metadata
    overlap (est_postings): a rare list whose single block straddles
    every shard pivots only over its few in-range docs, not the block's
    full n — the old full-n estimate inflated DAAT's cost by up to
    span/overlap and routed rare-anchored queries (the pruning
    showcase) to the exhaustive path. decode credit ≈ still-undecoded
    blocks of the non-essential lists, which the vectorized merge must
    decode but DAAT mostly skips (probes touch ≤ one block per pivot,
    already inside `visited`'s pivot cost). θ grows during execution, so
    `visited` OVERestimates — conservative toward the vectorized path.
    """
    if theta <= 0.0 or not enums:
        return False
    visited = 0.0
    saved_blocks = 0
    total = 0.0
    for e in enums:
        est = e.tb.est_postings(lo, hi)
        total += est
        if e.ub >= theta:
            visited += est
        else:
            saved_blocks += len(e.tb.maxs) - len(e.tb.dcache)
    if total <= 0.0:
        return False
    return visited * C_PIVOT < total * C_VEC + saved_blocks * C_DECODE


# ---------------------------------------------------------------------------
# per-(query, shard) algorithm cores
# ---------------------------------------------------------------------------


def _exhaustive_merge(
    enums: list[_ListEnum], norms: np.ndarray, lo: int, hi: int, k: int,
    theta: float = 0.0,
) -> list[tuple]:
    """Vectorized exhaustive scoring for groups where pruning cannot
    skip enough to pay for the per-doc DAAT loop. Uncached blocks decode
    in ONE batched-decoder call (the lockstep DINT kernel where the
    codec provides it); results land in the shard's memo so later
    queries in the batch reuse them. Aggregation is a bincount over the
    shard's contiguous doc range; top-k by (rounded, -doc).

    With θ > 0 (the WAND variant passes its seed), blocks whose
    cross-list bound qw_i·block_max_weight_i(b) + Σ_{j≠i} ub_j < θ are
    skipped BEFORE
    decode — the same lossless filter as the relational plan's step 3
    (operators/wand.py): every doc in such a block has total score
    < θ_eff, so it cannot enter the top-k, and a doc that resurfaces via
    another list's blocks carries a partial score < θ_eff that rounds
    strictly below every true top-k doc (the 2e-9 margin > the 1e-9
    rounding quantum). NULL (NaN) block_max_weight keeps the block.
    Every block overlaps [lo, hi) (the kernel's layout guard)."""
    blocks: list[tuple[_ListEnum, int]] = []
    need_d: list[tuple[_ListEnum, int]] = []
    need_f: list[tuple[_ListEnum, int]] = []
    sum_ub = sum(e.ub for e in enums)
    skip_bound = theta > 0.0
    for e in enums:
        tb = e.tb
        others = sum_ub - e.ub
        for bi in range(len(tb.maxs)):
            if skip_bound:
                w = tb.bmw[bi]
                if w == w and e.qw * w + others < theta:
                    continue
            blocks.append((e, bi))
            if bi not in tb.dcache:
                need_d.append((e, bi))
            if bi not in tb.fcache:
                need_f.append((e, bi))
    if need_d:
        c = need_d[0][0].codec
        ns = np.asarray([int(e.tb.ns[bi]) for e, bi in need_d], dtype=np.int64)
        dbufs = [e.tb.dbytes[bi] for e, bi in need_d]
        if hasattr(c, "decode_docs_batch"):
            gaps, offs = c.decode_docs_batch(dbufs, ns)
        else:
            gaps = np.concatenate(
                [c.decode_docs(b, int(n)) for b, n in zip(dbufs, ns)]
            )
            offs = np.concatenate(([0], np.cumsum(ns)[:-1]))
        # segmented un-gap (same prefix-sum trick as decode_block_index)
        g = gaps.astype(np.int64) + 1
        cs = np.cumsum(g)
        excl = np.where(offs > 0, cs[offs - 1], 0)
        bases = np.asarray(
            [int(e.tb.bases[bi]) for e, bi in need_d], dtype=np.int64
        )
        docs_flat = cs + np.repeat(bases - excl, ns)
        for j, (e, bi) in enumerate(need_d):
            s, t = int(offs[j]), int(offs[j] + ns[j])
            e.tb.dcache[bi] = docs_flat[s:t]
            e.stats[1] += 1
    if need_f:
        c = need_f[0][0].codec
        ns = np.asarray([int(e.tb.ns[bi]) for e, bi in need_f], dtype=np.int64)
        fbufs = [e.tb.fbytes[bi] for e, bi in need_f]
        if hasattr(c, "decode_freqs_batch"):
            tfs_flat, offs = c.decode_freqs_batch(fbufs, ns)
        else:
            tfs_flat = np.concatenate(
                [c.decode_freqs(b, int(n)) for b, n in zip(fbufs, ns)]
            )
            offs = np.concatenate(([0], np.cumsum(ns)[:-1]))
        tfs_all = tfs_flat.astype(np.int64) + 1
        for j, (e, bi) in enumerate(need_f):
            s, t = int(offs[j]), int(offs[j] + ns[j])
            e.tb.fcache[bi] = tfs_all[s:t]
            e.stats[2] += 1
    parts = [
        (e.qw, e.tb.dcache[bi], e.tb.fcache[bi]) for e, bi in blocks
    ]
    if not parts:
        return []
    alld = np.concatenate([d for _q, d, _f in parts])
    tf = np.concatenate([f for _q, _d, f in parts]).astype(np.float64)
    qws = np.concatenate(
        [np.full(len(d), q, dtype=np.float64) for q, d, _f in parts]
    )
    m = (alld >= lo) & (alld < hi)
    alld, tf, qws = alld[m], tf[m], qws[m]
    if not alld.size:
        return []
    alls = qws * (tf / (tf + K1 * (1.0 - B + B * norms[alld - lo])))
    span = hi - lo
    if span <= 1 << 24:
        # dense-array aggregation (bincount is C-speed, no sort): doc
        # space within a shard is contiguous by construction
        tot_all = np.bincount(alld - lo, weights=alls, minlength=span)
        nz = np.flatnonzero(tot_all)  # every matching doc scores > 0
        uniq, tot = nz + lo, tot_all[nz]
    else:
        uniq, inv = np.unique(alld, return_inverse=True)
        tot = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(tot, inv, alls)
    # top-k by (rounded score desc, doc asc); a partial-sort shortcut
    # (argpartition) is WRONG here — on ε-flat corpora every doc ties on
    # the rounded score and the tie-break must see all of them
    order = np.lexsort((uniq, -np.round(tot, SCORE_ROUND)))[:k]
    return [(int(uniq[i]), float(tot[i])) for i in order]


def _wand_core(
    enums: list[_ListEnum], seed: float, norms, lo: int, hi: int, k: int,
) -> list[tuple]:
    if not _use_daat(enums, seed, lo, hi):
        return _exhaustive_merge(enums, norms, lo, hi, k, seed)

    heap: list[tuple] = []
    while True:
        enums = [e for e in enums if not e.exhausted and e.cur < hi]
        if not enums:
            break
        enums.sort(key=lambda e: e.cur)
        theta = _kth_theta(heap, k, seed)
        # pivot: first prefix whose Σub reaches θ (queries.hpp:233-247)
        acc, p = 0.0, -1
        for i, e in enumerate(enums):
            acc += e.ub
            if acc >= theta:
                p = i
                break
        if p < 0:
            break
        pivot_doc = enums[p].cur
        # extend the prefix over ties: every list sitting ON pivot_doc
        # can contribute to its score, so the block-max bound (and the
        # skip-past-pivot decision) must include them all
        while p + 1 < len(enums) and enums[p + 1].cur == pivot_doc:
            p += 1
        # shallow block-max refinement (BMW): align each prefix enum's
        # block metadata to pivot_doc, sum block maxima
        bm_sum, boundary = 0.0, INT64_MAX
        for e in enums[: p + 1]:
            maxs, bmw = e.tb.maxs, e.tb.bmw
            bi = int(maxs.searchsorted(pivot_doc))
            w = bmw[bi] if bi < len(bmw) else np.nan
            bm_sum += e.qw * (w if w == w else 1.0)
            if bi < len(maxs):
                boundary = min(boundary, int(maxs[bi]))
        if bm_sum < theta:
            # no doc in these blocks can reach θ: jump past the nearest
            # block boundary (Ding-Suel d'+1 rule)
            d2 = boundary + 1
            if p + 1 < len(enums):
                d2 = min(d2, enums[p + 1].cur)
            d2 = max(d2, pivot_doc + 1)
            big = max(enums[: p + 1], key=lambda e: e.ub)
            big.next_geq(d2)
            continue
        # exactness barrier: pivoting on docID LOWER BOUNDS is lossless
        # (a list with lb ≥ pivot has true cur ≥ pivot, so docs before
        # the pivot candidate still see Σub < θ; the block-max skip
        # above is metadata-only and its jump target min(boundary+1,
        # next lb) is conservative) — but evaluating/advancing at
        # pivot_doc needs true docIDs. Materialize only the prefix
        # enums; suffix lists stay undecoded. Re-pivot after: true curs
        # may have moved past the tentative pivot.
        need = [e for e in enums[: p + 1] if e.approx]
        if need:
            for e in need:
                e.materialize()
            continue
        if enums[0].cur == pivot_doc:
            # full evaluation: every enum sitting on pivot contributes
            nl = float(norms[pivot_doc - lo])
            score = 0.0
            for e in enums:
                if e.cur != pivot_doc:
                    break
                score += e.qw * _dtw(float(e.freq()), nl)
            if pivot_doc >= lo:
                _push(heap, k, score, pivot_doc)
            for e in enums:
                if e.cur != pivot_doc:
                    break
                e.advance()
        else:
            # advance the largest-bound list still strictly before the
            # pivot doc (a tie-extended prefix can contain lists already
            # ON pivot_doc — advancing those would be a no-op)
            big = max(
                (e for e in enums[: p + 1] if e.cur < pivot_doc),
                key=lambda e: e.ub,
            )
            big.next_geq(pivot_doc)
    return [(-nd, raw) for _r, nd, raw in heap]


def _maxscore_core(
    enums: list[_ListEnum], seed: float, norms, lo: int, hi: int, k: int,
) -> list[tuple]:
    """Term-level MaxScore (queries.hpp:459-573): ascending-bound prefix
    is non-essential; DAAT over essential lists only; non-essential
    contributions added by next_geq probes with early termination."""
    if not _use_daat(enums, seed, lo, hi):
        # no block-max filter here: MaxScore is TERM-level pruning by
        # contract (queries.hpp:459-573 never consults block maxima)
        return _exhaustive_merge(enums, norms, lo, hi, k)

    enums.sort(key=lambda e: e.ub)  # ascending bound
    prefix = np.cumsum([0.0] + [e.ub for e in enums])  # prefix[i] = Σ ub[<i]
    heap: list[tuple] = []
    while True:
        theta = _kth_theta(heap, k, seed)
        if prefix[-1] < theta:  # no doc can reach θ anymore
            break
        # essential split: first index whose cumulative bound reaches θ
        ess = int(np.searchsorted(prefix[1:], theta))
        ess = min(ess, len(enums) - 1)
        live = [e for e in enums[ess:] if not e.exhausted and e.cur < hi]
        if not live:
            break
        # essential lists are fully traversed anyway — resolve any
        # metadata-only positions before picking the DAAT doc, then
        # recompute (a materialized cur may have moved past hi)
        if any(e.approx for e in live):
            for e in live:
                e.materialize()
            continue
        d = min(e.cur for e in live)
        nl = float(norms[d - lo])
        score = 0.0
        for e in live:
            if e.cur == d:
                score += e.qw * _dtw(float(e.freq()), nl)
                e.advance()
        # non-essential probes, highest bound first, early termination
        remaining = float(prefix[ess])
        for e in reversed(enums[:ess]):
            if score + remaining < theta:
                break
            remaining -= e.ub
            if e.exhausted:
                continue
            e.next_geq(d)
            if e.approx and e.cur == d:
                # metadata says the landing block COULD contain d —
                # decode to test membership (lb > d needs no decode)
                e.materialize()
            if not e.exhausted and e.cur == d:
                score += e.qw * _dtw(float(e.freq()), nl)
        if score >= theta or len(heap) < k:
            _push(heap, k, score, d)
    return [(-nd, raw) for _r, nd, raw in heap]


def _run_query(algo, qrows, cache, codec, norms, lo, hi, k, stats,
               seed=None):
    enums = _make_enums(qrows, cache, codec, lo, hi, stats)
    if seed is None:
        seed = _seed_from_rows(qrows, k)
    if algo == "maxscore":
        return _maxscore_core(enums, seed, norms, lo, hi, k)
    return _wand_core(enums, seed, norms, lo, hi, k)


# ---------------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------------


NORM_SENTINEL = -1  # term_id of packed norm-slice rows in the cogroup left side
NORM_CHUNK = 1 << 18  # docs per packed slice row (4 MB of ids+vals per row)


def static_layout(universe: int) -> tuple[int, int]:
    """(num_shards, shard_size) — a STATIC per-index layout, the way real
    search deployments shard: shards are an INDEX property (derived from
    the docID universe alone), NOT a session property. The same index
    presents the same shard layout at every executor count, so kernel
    work tiles into task waves and scales with the cluster — deriving
    shards from defaultParallelism (the first implementation) made the
    layout shrink with the cluster and capped the kernel's parallel
    speedup at 1× by construction.

    Scale-elastic: shard count grows from MIN_SHARD_DOCS (small corpora,
    capped at MAX_STATIC_SHARDS so toy universes don't over-tile) and
    then from the TARGET_SHARD_SPAN cap (large corpora) — the per-shard
    SPAN never exceeds TARGET_SHARD_SPAN, so per-kernel memory is O(1)
    in the corpus size; only the number of parallel kernel tasks grows
    (10^8 docs → 382 shards, 10^12 → ~3.8M, each a bounded task)."""
    nsh = max(
        1,
        min(MAX_STATIC_SHARDS, universe // MIN_SHARD_DOCS or 1),
        -(-universe // TARGET_SHARD_SPAN),
    )
    return nsh, -(-universe // nsh)


def norm_slices(
    norms_df: DataFrame, shard_size: int, chunk: int = NORM_CHUNK
) -> DataFrame:
    """Pack (doc_id, norm_len) into per-shard slice rows that union into
    the cogroup's block side — the distributed replacement for the
    reference's node-resident norm_lens[] (wand_data.hpp:55-58).

    Each shard's slice is CONTIGUOUS by construction (shards tile the
    docID space), so the kernel reconstructs a dense array of span
    `hi−lo` — memory proportional to the shard span, never the universe,
    and no driver-side collect anywhere. Rows reuse the block-index
    schema: term_id = NORM_SENTINEL marks them; block_id carries the
    shard_size the layout was packed for (validated in the kernel so a
    precomputed slices frame cannot silently pair with a different
    layout); docs_bytes/freqs_bytes carry raw little-endian int64 ids /
    float64 norms, chunked at NORM_CHUNK docs per row."""
    ssz = int(shard_size)
    ck = int(chunk)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        vals = pdf["norm_len"].to_numpy(dtype=np.float64)
        o = np.argsort(ids)
        ids, vals = ids[o], vals[o]
        shard = int(ids[0] // ssz)
        rows = []
        for s in range(0, len(ids), ck):
            i, v = ids[s : s + ck], vals[s : s + ck]
            rows.append(
                (NORM_SENTINEL, ssz, len(i), int(i[0]), int(i[-1]), None,
                 i.tobytes(), v.tobytes(), shard)
            )
        return pd.DataFrame(rows, columns=_LEFT_COLS)

    return (
        norms_df.select(
            "doc_id", "norm_len",
            F.floor(F.col("doc_id") / F.lit(ssz)).alias("_shard"),
        )
        .groupBy("_shard")
        .applyInPandas(pack, _LEFT_SCHEMA)
    )


def shard_block_max(postings: DataFrame, shard_size: int) -> DataFrame:
    """(term_id, block_id, _shard, bmw_s) — per-(block, shard) max BM25
    doc-term weight, an INDEX artifact (like norm_slices: derived from
    the static layout + the raw postings, built once, reused by every
    batch).

    Why it exists: block_max_weight is the block's GLOBAL max
    (wand_data.hpp:109-119 role), but the sharded kernels score each
    shard independently — for a sparse list whose one block straddles
    the whole docID space, the global max rides into every shard, every
    shard treats the term as live, and the block is shipped and decoded
    once PER SHARD even where the term has zero in-shard postings.
    This table gives each (block, shard) pair its true in-shard bound:

      * pairs with NO in-shard postings simply have no row — the plan's
        inner join drops them before the cogroup shuffle (lossless:
        they contribute no docs to that shard's scoring, and enumerator
        navigation over the surviving blocks still visits every
        in-shard doc);
      * surviving pairs carry bmw_s ≤ block_max_weight, which tightens
        every downstream bound that already keys off the shipped bmw
        column — the kernel's shard-local term ub (_ListEnum.ub via
        _TermBlocks.max_bmw) and the exhaustive merge's per-block skip
        — both of which bound only in-shard docs, so a true in-shard
        max stays lossless.

    Block membership reuses the EXACT build-time derivation
    (build/blocks.py prepare_block_data: rank_within_term → rank //
    BLOCK_SIZE), so the artifact's block_ids match the block index by
    construction. Size: one row per (block, overlapped-nonempty shard)
    ≈ a small multiple of the block count — metadata-sized at any
    corpus scale, partition-pruned by the batch's term semi-join before
    the plan join."""
    from dint_spark.build.blocks import BLOCK_SIZE, rank_within_term
    from dint_spark.functions.bm25 import doc_term_weight

    ranked = rank_within_term(postings.select("term_id", "doc_id", "tf", "norm_len"))
    return (
        ranked.withColumn("block_id", (F.col("rank") / BLOCK_SIZE).cast("long"))
        .withColumn(
            "_shard", F.floor(F.col("doc_id") / F.lit(int(shard_size)))
        )
        .groupBy("term_id", "block_id", "_shard")
        .agg(
            F.max(doc_term_weight(F.col("tf"), F.col("norm_len"))).alias("bmw_s")
        )
    )


_LEFT_COLS = [
    "term_id", "block_id", "n", "block_base", "block_max",
    "block_max_weight", "docs_bytes", "freqs_bytes", "_shard",
]
_LEFT_SCHEMA = (
    "term_id long, block_id long, n int, block_base long, block_max long, "
    "block_max_weight double, docs_bytes binary, freqs_bytes binary, "
    "_shard long"
)


def _qt_meta(idx: FullTextIndex, queries: DataFrame, num_docs: int) -> DataFrame:
    qt = query_terms(queries, dedup=False)
    cat = getattr(idx, "term_catalog", None)
    if cat is not None:
        # pre-merged vocab⋈term_meta index artifact (engine.get_index):
        # ONE broadcast join per serve call instead of two
        qt = qt.join(
            F.broadcast(
                cat.select("term", "term_id", "df", "max_weight", "w10")
            ),
            "term",
        )
        return qt.withColumn(
            "qw", query_term_weight(F.col("qtf"), F.col("df"), F.lit(num_docs))
        )
    qt = qt.join(F.broadcast(idx.vocab.select("term", "term_id", "df")), "term")
    return qt.withColumn(
        "qw", query_term_weight(F.col("qtf"), F.col("df"), F.lit(num_docs))
    ).join(
        F.broadcast(idx.term_meta.select("term_id", "max_weight", "w10")),
        "term_id",
    )


def _exact_seed_df(idx, bidx, codec, qt: DataFrame, k: int) -> DataFrame:
    """(query_id, seed) for k > TOPK_BOUND_K: the kth-best PARTIAL score
    of each query's highest-upper-bound term — a valid lower bound on
    the true kth TOTAL score (total ≥ partial for every doc), computed
    with the same bounded two-phase top-k as the relational plan
    (operators/wand.py step 1, k > 10 branch; ref queries.hpp:150-188
    topk_queue). One extra decode of ONE list per query, shared across
    all shards of the batch; queries whose best list holds < k docs get
    no row (kernel falls back to seed 0)."""
    from pyspark.sql import Window as W

    from dint_spark.build.blocks import decode_block_index
    from dint_spark.functions.bm25 import doc_term_weight
    from dint_spark.operators.wand import _bounded_kth

    w_best = W.partitionBy("query_id").orderBy(
        F.desc(F.col("qw") * F.col("max_weight")), F.asc("term_id")
    )
    best = (
        qt.withColumn("_r", F.row_number().over(w_best))
        .filter(F.col("_r") == 1)
        .select("query_id", "term_id", "qw")
    )
    best_dec = decode_block_index(
        bidx.join(
            F.broadcast(best.select("term_id").distinct()), "term_id", "left_semi"
        ),
        codec,
    )
    scores = (
        best_dec.join(idx.docs.select("doc_id", "norm_len"), "doc_id")
        .join(F.broadcast(best), "term_id")
        .select(
            "query_id",
            (F.col("qw") * doc_term_weight(F.col("tf"), F.col("norm_len"))).alias("_s"),
        )
    )
    return (
        _bounded_kth(scores, k)
        .filter(F.col("cnt") >= k)
        .select(
            "query_id",
            F.greatest(
                F.col("kth") - F.lit(THETA_MARGIN), F.lit(0.0)
            ).alias("seed"),
        )
    )


def sharded_block_index(
    bidx: DataFrame, shard_size: int, shard_bmw: "DataFrame | None" = None
) -> DataFrame:
    """Shard-explode a block index ONCE, at index-preparation time —
    (block, shard) rows with the in-shard-refined max weight when the
    shard_block_max() artifact is supplied (dead straddle pairs dropped
    by the inner join, bmw replaced by the true in-shard max).

    Rationale (guide §8 / r5 VERDICT "what's wrong #2"): the serving
    plan used to run this join per QUERY BATCH as a SortMergeJoin whose
    both sides carry the block payload — the payload crossed one
    exchange for the join and a second for the cogroup. The join's
    inputs (bidx, shard_bmw) and key (the static layout) are all INDEX
    properties, so the joined frame is an index artifact: built once,
    materialized (engine.get_sharded_blocks), and every batch's plan
    goes straight from term semi-join to the single cogroup exchange."""
    blocks_sh = bidx.withColumn("_shard", _shard_col(int(shard_size))).select(
        *_LEFT_COLS
    )
    if shard_bmw is not None:
        blocks_sh = (
            blocks_sh.join(shard_bmw, ["term_id", "block_id", "_shard"], "inner")
            .withColumn("block_max_weight", F.col("bmw_s"))
            .select(*_LEFT_COLS)
        )
    return blocks_sh


def _batch_blocks_sharded(sharded_bidx, qt) -> DataFrame:
    """The index slice the cogroup shuffle ships for a query batch: the
    shard-exploded block index (sharded_block_index) semi-joined to the
    batch's terms (deduped, shipped ONCE). Shared by _run and
    shipped_block_stats so the evidence surface measures EXACTLY the
    serving plan. No block is cut here: the kernel skips useless blocks
    itself (see the module docstring).

    The broadcast semi-join build side skips .distinct(): a broadcast
    left-semi probe is duplicate-insensitive, and the distinct added an
    Exchange to every serve plan."""
    return sharded_bidx.join(
        F.broadcast(qt.select("term_id")), "term_id", "left_semi"
    )


def _serving_inputs(idx, bidx, codec, queries, num_docs, norms, k, universe):
    """The front half shared by _run and shipped_block_stats →
    (universe, nsh, ss, qt, seed_df).

    norms: a norm_slices() frame, or None (universe then comes from
    idx.docs and _run packs the slices in the plan). The layout is
    always static_layout(universe) — the docID universe (max assigned
    id + 1) can exceed num_docs when ids are not dense (docs with no
    tokens leave holes), so shards tile the universe or trailing docs
    vanish."""
    if norms is not None and "docs_bytes" not in getattr(norms, "columns", ()):
        raise TypeError(
            "norms must be a norm_slices() frame or None, got "
            f"{type(norms).__name__}"
        )
    if universe is None:
        # bounded metadata action: ONE max aggregate (scalar), not a
        # per-row collect — the docID universe is an index property;
        # serving paths pass it precomputed (engine.get_universe)
        if norms is None:
            mx = idx.docs.agg(F.max("doc_id")).first()[0]
        else:
            mx = norms.agg(F.max("block_max")).first()[0]
        universe = int(mx) + 1
    universe = int(universe)
    nsh, ss = static_layout(universe)
    qt_full = _qt_meta(idx, queries, num_docs)
    qt = qt_full.select("query_id", "term_id", "qw", "w10")
    seed_df = (
        _exact_seed_df(idx, bidx, codec, qt_full, k) if k > TOPK_BOUND_K else None
    )
    return universe, nsh, ss, qt, seed_df


def shipped_block_stats(
    idx, bidx, codec, queries, num_docs, norms=None, k=10,
    universe=None, shard_bmw=None,
) -> dict:
    """Rows and payload bytes the cogroup shuffle would ship for this
    batch — the shuffled-bytes evidence surface (BENCH/wand_pruning.py
    records the shard_block_max artifact's dead-pair drop). Builds the
    SAME blocks frame as the serving plan (_batch_blocks_sharded over
    sharded_block_index(bidx, ss, shard_bmw)) and aggregates it without
    running the kernel; norm-slice rows are excluded."""
    _u, nsh, ss, qt, _seed = _serving_inputs(
        idx, bidx, codec, queries, num_docs, norms, k, universe
    )
    r = (
        _batch_blocks_sharded(sharded_block_index(bidx, ss, shard_bmw), qt)
        .agg(
            F.count("*").alias("rows"),
            F.sum(
                F.octet_length("docs_bytes") + F.octet_length("freqs_bytes")
            ).alias("payload_bytes"),
        )
        .first()
    )
    return {
        "shuffled_block_rows": int(r["rows"]),
        "shuffled_payload_bytes": int(r["payload_bytes"] or 0),
        "num_shards": nsh,
    }


def _shard_col(shard_size) -> F.Column:
    return F.explode(
        F.sequence(
            F.greatest(
                F.floor((F.col("block_base") + F.lit(1)) / shard_size), F.lit(0)
            ),
            F.floor(F.col("block_max") / shard_size),
        )
    )


def wand_topk_sharded(
    idx: FullTextIndex,
    bidx: DataFrame,
    codec,
    queries: DataFrame,
    num_docs: int,
    norms: "DataFrame | None" = None,
    k: int = 10,
    universe: "int | None" = None,
    sharded_bidx: "DataFrame | None" = None,
) -> DataFrame:
    """Block-max WAND over the compressed index, doc-sharded DAAT at the
    static layout, static_layout(universe).

    norms: a precomputed norm_slices() frame packed for that layout
    (engine.get_norm_slices — the serving path), or None → the slices
    are packed inside the plan from idx.docs.

    sharded_bidx: the pre-sharded block artifact, sharded_block_index
    (bidx, ss, shard_block_max(...)) for that layout
    (engine.get_sharded_blocks — the serving path). None → the plan
    shard-explodes bidx with the same function, without the in-shard
    bmw refinement. An artifact built for another layout is refused by
    the kernel.

    Every block of the batch's terms ships to the kernel; block-max
    pruning happens there, per (query, shard), so WAND and MaxScore run
    the same plan and the same Spark jobs."""
    return _run(idx, bidx, codec, queries, num_docs, norms, k, "wand",
                universe, sharded_bidx=sharded_bidx)


def maxscore_topk_sharded(
    idx: FullTextIndex,
    bidx: DataFrame,
    codec,
    queries: DataFrame,
    num_docs: int,
    norms: "DataFrame | None" = None,
    k: int = 10,
    universe: "int | None" = None,
    sharded_bidx: "DataFrame | None" = None,
) -> DataFrame:
    """Term-level MaxScore over the compressed index, doc-sharded DAAT.
    Same plan as wand_topk_sharded (see it for the norms and
    sharded_bidx contracts); only the kernel core differs. The kernel
    applies no block-level skip here — MaxScore is term-level pruning by
    contract — but the artifact's dead-pair drop and tighter shard-local
    term ubs apply."""
    return _run(idx, bidx, codec, queries, num_docs, norms, k, "maxscore",
                universe, sharded_bidx=sharded_bidx)


def wand_sharded_decode_stats(
    idx, bidx, codec, queries, num_docs, norms=None, k=10, algo="wand",
    universe=None, sharded_bidx=None,
) -> DataFrame:
    """(query_id, shard, blocks_total, blocks_docs_decoded,
    blocks_freqs_decoded) — the pruning evidence surface (reference
    analog: the profiled decode counts, block_profiler.hpp:9-64). Runs
    on the SAME cogroup spine as the top-k surfaces; per-query
    attribution is restored by clearing the shard's decoded-block memo
    between queries (each query pays its own decodes, as the reference's
    per-query profiler does)."""
    return _run(idx, bidx, codec, queries, num_docs, norms, k, algo,
                universe, emit="stats", sharded_bidx=sharded_bidx)


def _codec_broadcast(spark, codec):
    """Memoized sc.broadcast(codec) — see util.memo_broadcast."""
    from dint_spark.util import memo_broadcast

    return memo_broadcast(spark, codec)


def _run(idx, bidx, codec, queries, num_docs, norms, k, algo,
         universe=None, emit="topk", sharded_bidx=None):
    spark = queries.sparkSession
    universe, nsh, ss, qt, seed_df = _serving_inputs(
        idx, bidx, codec, queries, num_docs, norms, k, universe
    )
    if sharded_bidx is None:
        sharded_bidx = sharded_block_index(bidx, ss)
    blocks_sh = _batch_blocks_sharded(sharded_bidx, qt)
    if norms is None:
        norms = norm_slices(idx.docs.select("doc_id", "norm_len"), ss)
    left = blocks_sh.unionByName(norms)
    if nsh <= SEQ_SHARD_MAX:
        # small layouts: fan the shard ids out with a per-row sequence
        # explode — zero extra source, zero broadcast job. (The old
        # crossJoin(broadcast(spark.range(nsh))) scheduled a
        # defaultParallelism-sized scan — 32 tasks for ONE shard id —
        # plus a broadcast build job on every serve call.)
        qx = qt.withColumn(
            "_shard",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(nsh - 1).cast("long")
                )
            ),
        )
    else:
        # large layouts: a sequence() would materialize an nsh-element
        # array per query-term row; stream the ids from a right-sized
        # range instead (~1M ids per split, an index-scale property)
        qx = qt.crossJoin(
            F.broadcast(
                spark.range(0, nsh, 1, max(1, -(-nsh // (1 << 20)))).select(
                    F.col("id").alias("_shard")
                )
            )
        )
    if k > TOPK_BOUND_K:
        # w10 only bounds the 10th-best; for larger k ship an EXACT
        # per-query kth-partial seed (tiny |queries|-row frame) so
        # pruning still engages instead of seeding 0
        qx = qx.join(F.broadcast(seed_df), "query_id", "left")
    else:
        qx = qx.withColumn("seed", F.lit(None).cast("double"))
    codec_bc = _codec_broadcast(spark, codec)

    stats_mode = emit == "stats"
    out_schema = (
        "query_id long, shard long, blocks_total long, "
        "blocks_docs_decoded long, blocks_freqs_decoded long"
        if stats_mode
        else "query_id long, doc_id long, score double"
    )

    def kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {c.split()[0]: pd.Series(dtype="int64" if "long" in c else "float64")
             for c in out_schema.split(", ")}
        )
        if not len(right):
            return empty
        shard = int(key[0])
        lo, hi = shard * ss, min((shard + 1) * ss, universe)
        c = codec_bc.value
        nv = np.zeros(max(0, hi - lo), dtype=np.float64)
        cache = {}
        if len(left):
            tcol = left["term_id"].to_numpy(dtype=np.int64)
            sent = left[tcol == NORM_SENTINEL]
            for r in sent.itertuples(index=False):
                if int(r.block_id) != ss:
                    raise ValueError(
                        f"norm slices packed for shard_size {r.block_id}, "
                        f"query plan uses {ss} — rebuild norm_slices"
                    )
                ids = np.frombuffer(r.docs_bytes, dtype=np.int64)
                nv[ids - lo] = np.frombuffer(r.freqs_bytes, dtype=np.float64)
            blocks_pdf = left[tcol >= 0]
            # layout guard: sharded_block_index puts a block only in the
            # shards it overlaps and every later step only drops rows, so
            # a non-overlapping row means the artifact was exploded for a
            # different shard_size — refuse instead of mis-scoring
            far = (blocks_pdf["block_max"].to_numpy() < lo) | (
                blocks_pdf["block_base"].to_numpy() + 1 >= hi
            )
            if far.any():
                raise ValueError(
                    f"{int(far.sum())} block rows handed to shard {shard} do "
                    f"not overlap its docs [{lo}, {hi}) at shard_size {ss} — "
                    "rebuild sharded_block_index for static_layout(universe)"
                )
            cache = _term_cache(blocks_pdf)
        tids = right["term_id"].to_numpy(dtype=np.int64)
        qws = right["qw"].to_numpy(dtype=np.float64)
        w10s = right["w10"].to_numpy(dtype=np.float64)
        seeds = right["seed"].to_numpy(dtype=np.float64)  # NaN → derive
        q_arr = right["query_id"].to_numpy(dtype=np.int64)
        order = np.argsort(q_arr, kind="stable")
        bounds = np.flatnonzero(
            np.diff(q_arr[order], prepend=q_arr[order[0]] - 1)
        )
        bounds = np.append(bounds, len(order))
        out_rows: list[tuple] = []
        for s_i, e_i in zip(bounds[:-1], bounds[1:]):
            sel = order[s_i:e_i]
            qid = int(q_arr[sel[0]])
            qrows = [
                (int(tids[i]), float(qws[i]), float(w10s[i])) for i in sel
            ]
            if stats_mode:
                for tb in cache.values():
                    tb.dcache.clear()
                    tb.fcache.clear()
            stats = [0, 0, 0]
            sv = seeds[sel[0]]
            rows = _run_query(algo, qrows, cache, c, nv, lo, hi, k,
                              stats, seed=float(sv) if sv == sv else None)
            if stats_mode:
                out_rows.append((qid, shard, stats[0], stats[1], stats[2]))
            else:
                out_rows.extend((qid, d, sc) for d, sc in rows)
        if not out_rows:
            return empty
        return pd.DataFrame(out_rows, columns=list(empty.columns))

    local = (
        left.groupBy("_shard")
        .cogroup(qx.groupBy("_shard"))
        .applyInPandas(kernel, out_schema)
    )
    if stats_mode:
        return local
    return topk(local, k)
