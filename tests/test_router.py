"""Plan-level cost-based routing (operators/router.py).

The r4 measurements showed a 4× inversion between the two rank-identical
top-k realizations depending on batch size (BENCH/BASELINE.md): the
router must pick the measured winner at both ends, and both dispatch
targets must return identical rankings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.test_wand_shard import _ranks, _zipf_queries, zipf_setup  # noqa: F401

# measured batch stats on the 5.4M-posting scaling corpus (local[8]):
# (n_queries, scored_rows, measured ranked_or wall, measured cogroup wall)
MEASURED = [
    (500, 12_731_305, 9.268, 16.847, "relational"),
    (2000, 52_175_127, 92.6, 24.435, "cogroup"),
]


def test_route_decision_matches_measured_winners():
    """Done-criterion from the r4 VERDICT ask #4: the decision function
    picks the measured winner at BOTH 500 and 2,000 queries on the
    5.4M-posting corpus."""
    from dint_spark.operators.router import route_decision

    for nq, scored, t_rel, t_cog, want in MEASURED:
        got = route_decision(nq, scored)
        assert got == want, (nq, got, want)
        # and the measured walls really do order that way
        assert (t_rel < t_cog) == (want == "relational")


def test_route_decision_degenerate_batches():
    from dint_spark.operators.router import route_decision

    assert route_decision(1, 10) == "relational"  # tiny interactive
    # huge batch over a selective corpus: fixed stages amortize
    assert route_decision(100_000, 10_000_000_000) == "cogroup"


def test_topk_auto_rank_identity_both_routes(spark, zipf_setup):  # noqa: F811
    """topk_auto returns the SAME ranking whichever plan it picks; the
    auto decision for this tiny batch is the relational plan."""
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.router import topk_auto

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got_auto = _ranks(
        topk_auto(idx, bidx, codec, q, idx.num_docs, slices)
    )
    got_rel = _ranks(
        topk_auto(idx, bidx, codec, q, idx.num_docs, slices,
                  force="relational")
    )
    got_cog = _ranks(
        topk_auto(idx, bidx, codec, q, idx.num_docs, slices,
                  force="cogroup")
    )
    assert got_auto == ref
    assert got_rel == ref
    assert got_cog == ref


def test_topk_auto_maxscore_route(spark, zipf_setup):  # noqa: F811
    from dint_spark.operators.ranked import ranked_or
    from dint_spark.operators.router import topk_auto

    idx, bidx, codec, slices = zipf_setup
    q = _zipf_queries(spark)
    ref = _ranks(ranked_or(idx.postings, q, idx.vocab, idx.num_docs))
    got = _ranks(
        topk_auto(idx, bidx, codec, q, idx.num_docs, slices,
                  algo="maxscore", force="cogroup")
    )
    assert got == ref


def test_route_constants_artifact_loading(tmp_path, monkeypatch):
    """r5 VERDICT #3: constants flow from a measurement artifact when
    present, fall back to the calibrated literals when absent/corrupt."""
    import json

    import dint_spark.operators.router as R

    # absent → literals
    monkeypatch.setenv("DINT_ROUTE_CONSTANTS", str(tmp_path / "nope.json"))
    monkeypatch.setattr(R, "_ART", None)
    c = R.route_constants()
    assert c["kernel_qps"] == R.ROUTE_KERNEL_QPS
    assert c["source"] == "literals"

    # present → artifact values win
    art = tmp_path / "rc.json"
    art.write_text(json.dumps(
        {"kernel_qps": 400.0, "cog_fixed_sec": 5.0,
         "rel_rows_per_sec": 2.0e6}
    ))
    monkeypatch.setenv("DINT_ROUTE_CONSTANTS", str(art))
    monkeypatch.setattr(R, "_ART", None)
    c = R.route_constants()
    assert c["kernel_qps"] == 400.0 and c["cog_fixed_sec"] == 5.0

    # corrupt / partial → field-by-field fallback
    art.write_text(json.dumps({"kernel_qps": -1, "cog_fixed_sec": "x"}))
    monkeypatch.setattr(R, "_ART", None)
    c = R.route_constants()
    assert c["kernel_qps"] == R.ROUTE_KERNEL_QPS
    monkeypatch.setattr(R, "_ART", None)


def test_route_decision_perturbed_constants_bounded_regret(monkeypatch):
    """Perturbing each constant ±2× may flip the decision ONLY where the
    measured walls are within ~2.2× of each other — i.e. any misroute a
    drifted constant can cause near the crossover costs a bounded factor,
    never the 4× inversion the router exists to avoid."""
    import dint_spark.operators.router as R

    monkeypatch.setenv("DINT_ROUTE_CONSTANTS", "/nonexistent")
    monkeypatch.setattr(R, "_ART", None)
    for nq, scored, t_rel, t_cog, want in MEASURED:
        worst = max(t_rel, t_cog) / min(t_rel, t_cog)
        for f in (0.5, 1.0, 2.0):
            got = R.route_decision(
                nq, scored,
                rel_rows_per_sec=R.ROUTE_REL_ROWS_PER_SEC * f,
                cog_fixed_sec=R.ROUTE_COG_FIXED_SEC / f,
                kernel_qps=R.ROUTE_KERNEL_QPS * f,
            )
            if got != want:
                # a flip is tolerable only when the real walls are close
                assert worst <= 2.2, (nq, f, got, want, worst)
    monkeypatch.setattr(R, "_ART", None)
