"""Inputs the benchmark generates itself from a seed: the synthetic
source-code corpus (FIXTURES.md section 1 shape) and the query log
(section 3 shape). The engine receives only the generated parquet and
query lists, so a change to the engine's own generators cannot change
what is measured.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

KEYWORDS = (
    "def return if else for while class import from int float str list dict "
    "void static const char double long unsigned struct typedef enum switch "
    "case break continue public private protected final var let function "
    "async await try catch throw new delete nullptr true false none self "
    "this super lambda yield print len range map filter reduce open close "
    "read write append pop push size begin end next iter hash eq init main"
).split()
VOCAB_SIZE = 5000
VOCAB = np.array(
    KEYWORDS + [f"sym_{k}" for k in range(VOCAB_SIZE - len(KEYWORDS))], dtype=object
)
ZIPF_S = 1.1
_P = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
ZIPF_CDF = np.cumsum(_P / _P.sum())
LANGS = ["py", "java", "c", "go", "js"]

# df strata of the query log: frequent / medium / rare vocabulary ranks
STRATA = ((0, 50), (50, 500), (500, VOCAB_SIZE))
MAX_QUERY_TERMS = 8


def corpus_tokens(n_docs: int, seed: int, min_tokens: int, max_tokens: int):
    """(lengths, token ids) of every doc, token ids concatenated in doc order."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(min_tokens, max_tokens + 1, size=n_docs)
    ids = np.searchsorted(ZIPF_CDF, rng.random(int(lengths.sum())))
    return lengths, np.minimum(ids, VOCAB_SIZE - 1)


def token_stats(lengths: np.ndarray, ids: np.ndarray) -> dict:
    """Id-free facts any correct index of the corpus must reproduce: the
    posting count, and per term its df and total term frequency."""
    doc = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    pairs = np.unique(doc * VOCAB_SIZE + ids)
    df = np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)
    cf = np.bincount(ids, minlength=VOCAB_SIZE)
    present = np.flatnonzero(df)
    return {
        "docs": int(len(lengths)),
        "postings": int(len(pairs)),
        "tokens": int(lengths.sum()),
        "df": {str(VOCAB[t]): int(df[t]) for t in present},
        "cf": {str(VOCAB[t]): int(cf[t]) for t in present},
    }


def write_corpus(
    path: str, n_docs: int, seed: int, min_tokens: int, max_tokens: int
) -> dict:
    """Write the corpus as one parquet file under `path`; returns its
    token_stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lengths, ids = corpus_tokens(n_docs, seed, min_tokens, max_tokens)
    words = VOCAB[ids]
    ends = np.cumsum(lengths)
    cols = {k: [] for k in ("repo", "path", "commit", "lang", "content", "content_sha256")}
    start = 0
    for i, end in enumerate(ends):
        lang = LANGS[i % len(LANGS)]
        repo = f"org{i % 7}/repo{i % 23}"
        p = f"src/mod{i % 11}/file{i}.{lang}"
        content = " ".join(words[start:end])
        start = end
        cols["repo"].append(repo)
        cols["path"].append(p)
        cols["commit"].append(hashlib.sha256(f"{repo}/{p}".encode()).hexdigest()[:40])
        cols["lang"].append(lang)
        cols["content"].append(content)
        cols["content_sha256"].append(hashlib.sha256(content.encode()).hexdigest())
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return token_stats(lengths, ids)


def _shape(batch_index: int, size: int) -> list[tuple[list[int], bool]]:
    """The seed-independent shape of batch `batch_index`: per query, the
    vocabulary rank each term slot is drawn near, and whether the last
    slot repeats the first (a planted duplicate, the qtf > 1 path).
    Queries have 1-8 terms, mostly 1-5, from mixed df strata."""
    rng = np.random.default_rng([batch_index, 3])
    out = []
    for _ in range(size):
        n_terms = int(min(rng.geometric(0.45), MAX_QUERY_TERMS))
        ranks = []
        for _ in range(n_terms):
            lo, hi = STRATA[int(rng.integers(0, len(STRATA)))]
            ranks.append(int(rng.integers(lo, hi)))
        out.append((ranks, n_terms >= 3 and bool(rng.random() < 0.15)))
    return out


def query_batch(
    batch_index: int, size: int, seed: int, first_id: int = 0
) -> list[tuple[int, list[str]]]:
    """Batch `batch_index` of the seed's query log. The seed picks each
    term uniformly within the power-of-two rank band of the shape's rank,
    so every seed asks batches of the same make-up (document frequencies
    within about 2x) with different terms."""
    rng = np.random.default_rng([seed, batch_index, 2])
    out = []
    for q, (ranks, dup) in enumerate(_shape(batch_index, size)):
        terms = []
        for r in ranks:
            lo = (1 << ((r + 1).bit_length() - 1)) - 1
            terms.append(str(VOCAB[int(rng.integers(lo, min(2 * lo + 1, VOCAB_SIZE)))]))
        if dup:
            terms[-1] = terms[0]
        out.append((first_id + q, terms))
    return out


def source_hash(root: str, dirs: tuple[str, ...]) -> str:
    """Hash of every source file under `dirs` (paths and bytes), so an index
    built by one version of the engine is never served to another."""
    paths = []
    for d in dirs:
        for base, subdirs, files in os.walk(os.path.join(root, d)):
            subdirs[:] = [s for s in subdirs if s != "__pycache__"]
            paths += [os.path.join(base, f) for f in files if not f.endswith(".pyc")]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()
