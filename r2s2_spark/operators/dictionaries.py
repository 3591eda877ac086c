"""Stage D — dictionary encoding of IRIs into long-id lookup tables.

Reference counterpart: in-memory ``TemporaryIriIdMap`` (atomic counter per
first-seen IRI, TemporaryIriIdMap.java:23-56) flushed to
``predicates(id, iri)`` / ``graphs(id, iri)`` tables
(ParseIntoSOGTables.java:455-470), plus the later scheme/host enum passes
(IntroduceIriSchemeEnum.java:27-72, IntroduceHostEnums.java:27-71).

Spark realization: ``row_number()`` over the globally *sorted distinct*
value set — deterministic across retries and cluster sizes, unlike
``monotonically_increasing_id`` or first-seen counters (illegal under task
retry). The single-partition window is over the distinct set only (IRI
vocabulary, not data volume), which is exactly the small side of every
subsequent broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: dictionary domains unbounded at web scale (graphs: one per source file;
#: hosts: one per crawled site). Joins against these must never force a
#: broadcast — AQE picks broadcast when the measured size is actually small.
UNBOUNDED_DICTS = frozenset({"hosts", "graphs"})


def build_dictionary(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    value_col: str = "iri",
    n_buckets: int | None = None,
) -> DataFrame:
    """Distinct values of ``col`` -> ``(id bigint, iri string)``, ids
    assigned deterministically (the reference's first-seen atomic counter,
    TemporaryIriIdMap.java:25, cannot be reproduced stably by any
    distributed plan).

    Two forms:
    - ``n_buckets=None``: global ``row_number`` over the sorted distinct
      set — ids are dense and sorted. Right for vocabulary-sized domains
      (predicates, schemes, hosts), whose distinct set is tiny; the
      single-partition window is over that distinct set only.
    - ``n_buckets=k``: two-level assignment for UNBOUNDED domains (graphs:
      one per source file at 10^12-file scale). Values hash into k
      buckets; each bucket numbers its values in parallel; bucket offsets
      (a k-row driver aggregate) splice the ranges into globally unique,
      deterministic dense ids. No single-partition stage anywhere.
    """
    distinct = (
        df.select(F.col(col).alias(value_col))
        .where(F.col(value_col).isNotNull())
        .distinct()
    )
    if not n_buckets:
        w = Window.orderBy(value_col)
        return distinct.withColumn(
            id_col, F.row_number().over(w).cast("bigint")
        ).select(id_col, value_col)

    bucketed = distinct.withColumn(
        "__b", F.pmod(F.xxhash64(value_col), F.lit(n_buckets)).cast("int")
    )
    counts = {r["__b"]: r["n"] for r in bucketed.groupBy("__b").count().withColumnRenamed("count", "n").collect()}
    offsets = {}
    acc = 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(b, offsets[b]) for b in range(n_buckets)], "__b int, __off bigint"
        )
    )
    w = Window.partitionBy("__b").orderBy(value_col)
    return (
        bucketed.join(off_df, "__b")
        .withColumn(id_col, (F.row_number().over(w) + F.col("__off")).cast("bigint"))
        .select(id_col, value_col)
    )


def encode_with_dictionary(
    df: DataFrame, dictionary: DataFrame, col: str, id_alias: str
) -> DataFrame:
    """Replace string ``col`` with its dictionary id via broadcast join
    (the Spark idiom for the reference's 10k-arm CASE id->IRI,
    IntroduceGraphEnum.java:59-73)."""
    dim = F.broadcast(
        dictionary.select(F.col("iri").alias(col), F.col("id").alias(id_alias))
    )
    return df.join(dim, on=col, how="left")

