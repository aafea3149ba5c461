"""Deterministic reference query set.

The reference's query log is 500 lines of whitespace-separated term-ids
(/root/reference/include/ds2i/queries.hpp:15-27, test_data/queries), with
1-8 terms per line and meaningful duplicates (FIXTURES.md §3). The driver
testdata's `documents` vocabulary is the corpus here, so the query set is
expressed over term *strings*; df strata are mixed (30 dense terms with
df≈380-400/500 plus the rare `dup`, df≈25) so AND selectivity, OR breadth,
and WAND pruning paths are all exercised. Fixed literals → identical in
Spark and in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (query_id, [terms...]) — duplicates allowed (boost qtf for ranked ops,
# deduped for boolean ops per queries.hpp:29-32,135-148).
QUERY_SET: list[tuple[int, list[str]]] = [
    (0, ["key"]),
    (1, ["dup"]),
    (2, ["hash", "join"]),
    (3, ["sort", "merge", "join"]),
    (4, ["the", "a"]),
    (5, ["dup", "key"]),
    (6, ["scan", "filter", "agg", "group"]),
    (7, ["spark", "spark", "stream"]),
    (8, ["vector", "column", "batch", "row", "value"]),
    (9, ["query", "table"]),
    (10, ["window", "order", "sort"]),
    (11, ["dup", "dup"]),
    (12, ["customer", "line", "part"]),
    (13, ["big", "small", "fast", "slow"]),
    (14, ["data"]),
    (15, ["merge", "scan", "dup", "window"]),
]


def _sql_escape(term: str) -> str:
    return term.replace("\\", "\\\\").replace("'", "''")


def queries_df(spark: SparkSession) -> DataFrame:
    """Small DataFrame (query_id long, terms array<string>) — broadcast side.

    Realized as a SQL VALUES LocalRelation, not createDataFrame:
    createDataFrame parallelizes even a 16-row batch into
    defaultParallelism Python-RDD slices — every scan of the frame (the
    query plans read it several times) then scheduled one task per
    slice (32 tasks at local[32]) AND paid a Python-worker round trip
    to deserialize 16 pickled rows (~0.15 s per action, measured). A
    LocalRelation lives in the JVM, carries real size stats (so the
    planner broadcasts it without hints), and its scan is free. A
    genuinely huge query log would arrive as a table, not as literals.
    """
    rows = []
    for qid, terms in QUERY_SET:
        # Spark SQL string-literal escaping: \ first (the parser reads
        # it as an escape character), then ' as '' — so an extended
        # QUERY_SET term can never break or reshape the VALUES clause;
        # byte-identical output for the current set, which has neither
        arr = ", ".join("'" + _sql_escape(t) + "'" for t in terms)
        rows.append(f"(CAST({int(qid)} AS BIGINT), array({arr}))")
    return spark.sql(
        "SELECT col1 AS query_id, col2 AS terms FROM VALUES " + ", ".join(rows)
    )


def queries_sql_values() -> str:
    """DuckDB VALUES clause: (query_id, terms) rows, for oracle CTEs.
    DuckDB strings are standard SQL: ' doubles, \\ is literal."""
    rows = []
    for qid, terms in QUERY_SET:
        arr = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
        rows.append(f"({qid}::BIGINT, [{arr}])")
    return ",\n    ".join(rows)
