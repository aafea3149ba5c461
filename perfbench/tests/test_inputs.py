"""The generated inputs, and BENCHMARK.json against the metrics the
benchmark prints."""

from __future__ import annotations

import json
import os

from perfbench import inputs, layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_query_batches_are_seeded_and_share_their_shape():
    a = inputs.query_batch(3, 128, seed=1)
    assert a == inputs.query_batch(3, 128, seed=1)
    b = inputs.query_batch(3, 128, seed=2)
    assert a != b
    assert [len(t) for _q, t in a] == [len(t) for _q, t in b]
    assert all(1 <= len(t) <= inputs.MAX_QUERY_TERMS for _q, t in a)
    assert any(len(t) >= 3 and t[0] == t[-1] for _q, t in a)
    assert [q for q, _t in inputs.query_batch(2, 4, seed=1, first_id=8)] == [8, 9, 10, 11]


def test_token_stats_count_postings_per_doc_and_term():
    import numpy as np

    lengths = np.array([3, 2])
    ids = np.array([0, 0, 7, 7, 1])
    st = inputs.token_stats(lengths, ids)
    v = inputs.VOCAB
    assert st["postings"] == 4 and st["tokens"] == 5 and st["docs"] == 2
    assert st["df"] == {v[0]: 1, v[1]: 1, v[7]: 2}
    assert st["cf"] == {v[0]: 2, v[1]: 1, v[7]: 2}


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
