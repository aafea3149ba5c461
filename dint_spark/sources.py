"""Query-log and collection sources.

S4: the reference reads queries as whitespace-separated term lines
(/root/reference/include/ds2i/queries.hpp:15-27, duplicated in
pair_wise_intersect.cpp:14-26). Here: spark.read.text → split →
query_id by line order (zip-free monotonic id is fine — query ids only
need to be distinct; for strict line-number ids pass ordered=True to use
the scale-safe ranker on a deterministic sort key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_query_log(
    spark: SparkSession, path: str, as_term_ids: bool = False
) -> DataFrame:
    """(query_id long, terms array<string|int>) from a text query log."""
    lines = spark.read.text(path)
    df = lines.select(
        F.monotonically_increasing_id().alias("_mid"),
        F.split(F.trim(F.col("value")), r"\s+").alias("terms"),
    ).filter(F.size("terms") > 0)
    from pyspark.sql import Window as W

    # query logs are small (≤ thousands of lines): a window rank is fine
    w = W.orderBy("_mid")
    df = df.withColumn("query_id", (F.row_number().over(w) - 1).cast("long")).drop("_mid")
    if as_term_ids:
        df = df.withColumn(
            "terms", F.transform("terms", lambda t: t.cast("long"))
        )
    return df.select("query_id", "terms")

