"""CI compression regression gate (VERDICT r03 "Next round" #6).

The reference re-publishes bits/int on every build
(ref:src/create_freq_index.cpp:95-103, index_build_utils.hpp:91-118);
nothing in CI asserted it here, so a codec regression would ship
silently to BENCH. This gate pins the learned-dictionary bpi on a small
FIXED corpus within tolerance of recorded values, and multi ≤ single +
the selector-control-byte overhead.

Recorded on 2026-08-17 (deterministic corpus below, BLOCK_SIZE 256):
single_packed docs 1.359 / freqs 1.199 bpi over 16,795 postings; multi
degenerates to single + 1-byte control here (capacity does not bind at
this scale — the multi advantage regime is measured in
BENCH/multi_dict_50k.json). Deliberately padding the encoder output
makes this fail (verified when the gate landed).
"""

from __future__ import annotations

import numpy as np
import pytest

# recorded baselines + tolerance: +5% trips on a real encoder/selection
# regression, not on noise (the corpus and model build are fully
# deterministic — any drift at all means the pipeline changed)
DOCS_BPI = 1.359
FREQS_BPI = 1.199
TOL = 1.05
CTRL_OVERHEAD = 0.05  # 8-bit selector byte per ≥227-int block ≈ 0.035 bpi


def _corpus(spark, num_docs=6000, seed=11):
    rng = np.random.default_rng(seed)
    rows = []
    spec = [(f"t{i:02d}", max(10, int(num_docs * 0.5 ** (i + 1)))) for i in range(10)]
    spec += [(f"dense{j}", int(num_docs * 0.6)) for j in range(3)]
    for term, df in spec:
        docs = rng.choice(num_docs, size=df, replace=False)
        tfs = 1 + rng.integers(0, 4, size=df)
        for d, tf in zip(docs, tfs):
            rows += [(int(d), term)] * int(tf)
    return spark.createDataFrame(rows, schema="doc_id long, term string")


@pytest.fixture(scope="module")
def gate_setup(spark):
    from dint_spark.build.postings import build_fulltext_index

    idx = build_fulltext_index(_corpus(spark))
    return idx


def _bpi(idx, codec):
    from dint_spark.build.blocks import build_block_index, index_stats
    from dint_spark.util import materialize

    st = index_stats(materialize(build_block_index(idx.postings, codec))).first()
    return float(st["docs_bpi"]), float(st["freqs_bpi"]), int(st["n_postings"])


def test_single_packed_bpi_within_tolerance(spark, gate_setup):
    from dint_spark.build.dint_build import learn_dint_model
    from dint_spark.codecs.registry import get_codec

    idx = gate_setup
    model = learn_dint_model(idx.postings.select("term_id", "doc_id", "tf"))
    docs_bpi, freqs_bpi, n = _bpi(idx, get_codec("single_packed_dint", model))
    assert n == 16795, n  # corpus determinism guard
    assert docs_bpi <= DOCS_BPI * TOL, (docs_bpi, DOCS_BPI)
    assert freqs_bpi <= FREQS_BPI * TOL, (freqs_bpi, FREQS_BPI)


def test_multi_packed_never_worse_than_single_plus_control(spark, gate_setup):
    """multi ≤ single + control byte EVERYWHERE: the tournament tries
    every dictionary, so the worst case is single's encoding behind a
    1-byte selector (codecs/dint.py MultiDintCodec)."""
    from dint_spark.build.dint_build import MultiDintModel, learn_dint_model
    from dint_spark.codecs.registry import get_codec

    idx = gate_setup
    postings = idx.postings.select("term_id", "doc_id", "tf")
    s_docs, s_freqs, _ = _bpi(
        idx, get_codec("single_packed_dint", learn_dint_model(postings))
    )
    m_docs, m_freqs, _ = _bpi(
        idx, get_codec("multi_packed_dint", learn_dint_model(postings, MultiDintModel))
    )
    assert m_docs <= s_docs + CTRL_OVERHEAD, (m_docs, s_docs)
    assert m_freqs <= s_freqs + CTRL_OVERHEAD, (m_freqs, s_freqs)
