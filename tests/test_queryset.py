"""queries_df: the query batch as a SQL VALUES relation — terms must
survive Spark SQL string-literal parsing unchanged."""

from __future__ import annotations


def test_queries_df_escapes_backslash_and_quote(spark, monkeypatch):
    import dint_spark.queryset as Q

    terms = ["end\\", "a\\'b", "it's", "x\\\\y", "'", "\\n", "plain"]
    monkeypatch.setattr(Q, "QUERY_SET", [(0, terms), (1, ["dup", "it's"])])
    rows = sorted(
        (r["query_id"], list(r["terms"])) for r in Q.queries_df(spark).collect()
    )
    assert rows == [(0, terms), (1, ["dup", "it's"])]


def test_queries_df_sql_unchanged_for_reference_set():
    """The reference query set has no quote or backslash, so escaping
    leaves its generated SQL byte-identical."""
    from dint_spark.queryset import QUERY_SET, _sql_escape

    for _qid, terms in QUERY_SET:
        for t in terms:
            assert _sql_escape(t) == t


def test_queries_sql_values_round_trips_in_duckdb(monkeypatch):
    """The oracle's VALUES clause (standard SQL strings) keeps quotes and
    backslashes literal."""
    duckdb = __import__("pytest").importorskip("duckdb")
    import dint_spark.queryset as Q

    terms = ["end\\", "a\\'b", "it's", "'"]
    monkeypatch.setattr(Q, "QUERY_SET", [(0, terms)])
    got = duckdb.sql(
        "SELECT * FROM (VALUES " + Q.queries_sql_values() + ") t(q, terms)"
    ).fetchall()
    assert got == [(0, terms)]
