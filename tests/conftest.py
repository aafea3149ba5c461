from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dint_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dint_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def tiny_docs(spark):
    """6-doc corpus with known term distribution for hand-checkable results."""
    rows = [
        (0, "a b c a"),
        (1, "b c d"),
        (2, "a a a b"),
        (3, "d e"),
        (4, "c c d e f"),
        (5, "a f"),
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


@pytest.fixture(scope="session")
def random_postings(spark):
    """~25 lists, universe 20k, avg gap 1.1..11, freqs 1..256 (FIXTURES §5)."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for term_id in range(25):
        avg_gap = 1.1 + rng.random() * 10
        n = int(20000 / avg_gap * rng.uniform(0.3, 1.0))
        docs = np.sort(rng.choice(20000, size=min(n, 19999), replace=False))
        tfs = rng.integers(1, 257, size=docs.size)
        rows += [(term_id, int(d), int(t)) for d, t in zip(docs, tfs)]
    return spark.createDataFrame(rows, schema="term_id long, doc_id long, tf long")


@pytest.fixture(scope="session")
def tiny_index(tiny_docs):
    from dint_spark.build.postings import build_fulltext_index
    from dint_spark.tokenizer import tokenize_words

    return build_fulltext_index(tokenize_words(tiny_docs))
