"""Plan-hygiene rules the round-2 verdict turned into CI checks.

1. No operator owns an unmanaged `.cache()`/`.persist()` — a cache with
   no unpersist in a long-lived session leaks (each plan instantiation
   caches a fresh copy; BENCH_r02 measured monotonic degradation).
   Caching belongs to the build/engine layers, whose memoized frames
   live for the session by design (engine.py's util.memo entries —
   eviction = session scope).
2. No `F.broadcast(...)` on a frame derived from the block index or
   postings inside operators — those are data-sized at cluster scale;
   AQE picks broadcast at runtime when a side actually fits
   (VERDICT r02 "What's wrong" #2).
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "dint_spark"

CACHE_ALLOWED = {"util.py", "engine.py"}  # materialize() + session memoizers


def _py_files(sub: str):
    return sorted((PKG / sub).glob("*.py")) if (PKG / sub).is_dir() else []


def test_no_unmanaged_cache_in_operators():
    offenders = []
    for sub in ("operators", "functions", "plans", "streaming"):
        for f in _py_files(sub):
            src = f.read_text()
            if re.search(r"\.(cache|persist)\(", src):
                offenders.append(str(f))
    assert offenders == [], f"unmanaged cache/persist in operators: {offenders}"


def test_no_broadcast_of_index_derived_frames():
    """Operators may broadcast only query/metadata-sized frames. Frames
    named after the block index / postings / candidate sets must go
    through plain joins (AQE decides). Heuristic: broadcast argument
    identifiers containing these data-sized roots are forbidden."""
    forbidden_roots = ("bidx", "surv", "cand", "postings", "rescore", "decoded")
    offenders = []
    for f in _py_files("operators"):
        src = f.read_text()
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_.]*)", src):
            name = m.group(1)
            if any(root in name for root in forbidden_roots):
                offenders.append(f"{f.name}:{name}")
    assert offenders == [], f"data-sized broadcast hints: {offenders}"


def test_no_driver_side_data_collect_in_query_path():
    """The round-3 verdict's last scale boundary: the default
    WAND/MaxScore path must never collect a data-sized frame to the
    driver (the old get_norms collected one row per document). Norms now
    ride the cogroup as packed per-shard slices; the only driver actions
    allowed in the query path are scalar aggregates (.first() on an agg).
    Enforced statically: no .collect()/.toPandas() in the query-path
    operator modules."""
    offenders = []
    for name in ("wand_shard.py", "wand.py", "ranked.py", "boolean.py"):
        src = (PKG / "operators" / name).read_text()
        for pat in (r"\.collect\(", r"\.toPandas\("):
            if re.search(pat, src):
                offenders.append(f"{name}:{pat}")
    assert offenders == [], f"driver-side collection in query path: {offenders}"


def test_entry_wand_path_uses_sharded_norms():
    """__spark_entry__'s default ft_wand/ft_maxscore must use the
    cogrouped norm slices (get_norm_slices), not the broadcast
    resident-array get_norms."""
    import pathlib

    entry = pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    src = entry.read_text()
    assert not re.search(r"get_norms\(", src), (
        "__spark_entry__ still routes a query through the broadcast "
        "norms array (get_norms) — default paths must use "
        "get_norm_slices"
    )


def test_declared_queries_and_oracles():
    """__spark_entry__ declares 42 queries; every oracle names a
    declared query, only the two binary-payload queries are checked on
    rows alone, and every pruned top-k query (the sharded WAND/MaxScore
    entries, the router, and the two names kept from the deleted
    relational two-phase plan) shares ranked_or's oracle SQL."""
    import __spark_entry__ as E
    from dint_spark.oracle import sqlgen as S

    declared, oracles = E.queries(), E.oracle_sql()
    assert len(declared) == 42
    assert set(declared) - set(oracles) == {"ft_index_stats", "ft_dint_histogram"}
    assert set(oracles) <= set(declared)
    for name in (
        "ft_ranked_or", "ft_wand", "ft_maxscore", "ft_topk_auto", "ft_wand_pef",
        "ft_wand_twophase", "ft_maxscore_twophase",
    ):
        assert oracles[name] == S.RANKED_OR, name


def test_script_imports_resolve():
    """Every `from dint_spark… import name` in the scripts no test runs
    (tools/, BENCH/, jobs/, perfbench/, __spark_entry__.py) and every
    (module, function) pair perfbench/build.py's TRACED tuple wraps
    still names something: the files are parsed with ast and the names
    resolved, the scripts never run. A deleted public name then fails
    here, not in the next script or benchmark run."""
    import ast
    import importlib

    def resolves(module: str, name: str) -> bool:
        try:
            mod = importlib.import_module(module)
        except ImportError:
            return False
        if name == "*" or hasattr(mod, name):
            return True
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            return False
        return True

    root = PKG.parent
    scripts = [*sorted(root.glob("tools/*.py")), *sorted(root.glob("BENCH/*.py")),
               *sorted(root.glob("jobs/*.py")), *sorted(root.glob("perfbench/*.py")),
               root / "__spark_entry__.py"]
    names = []  # (where, module, name)
    for f in scripts:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                    and node.module.split(".")[0] == "dint_spark"):
                names += [(f"{f.relative_to(root)}:{node.lineno}", node.module, a.name)
                          for a in node.names]
            elif (f == root / "perfbench" / "build.py" and isinstance(node, ast.Assign)
                    and [getattr(t, "id", None) for t in node.targets] == ["TRACED"]):
                names += [(f"{f.relative_to(root)}:{node.lineno}", mod, fn)
                          for mod, fn, *_ in ast.literal_eval(node.value)]
    assert any(w.startswith("perfbench/build.py") and n == "learn_dint_model"
               for w, _, n in names)
    missing = [f"{w} {m}.{n}" for w, m, n in names if not resolves(m, n)]
    assert missing == [], f"script imports that no longer resolve: {missing}"
