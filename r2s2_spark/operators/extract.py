"""Stage E — triple extraction from the ``source_files`` table.

Reference counterpart: ParseIntoSOGTables.java:100-124 (thread-pool Rio
parse) + LoadIntoTable.java:283-368 (term decomposition). Here:

  source_files --sha2(content,256) [JVM]--> mapInArrow(per-file parse,
               sources/ntriples + 9-part IRI decomposition on Arrow
               kernels) --> statements frame

Scale notes:
- the parser is the only Python boundary in the whole load path; it is
  Arrow-batched and line-vectorized for N-Triples and line-oriented
  Turtle (no per-row Python; no Python string objects except for escaped
  terms and the per-file Turtle tokenizer / RDF/XML walker).
- IRI decomposition happens *inside the same batch*
  (functions.uri.decompose_arrow): doing it as a Catalyst projection
  expands to a >64KB generated method, kicking whole-stage codegen into
  interpreted fallback (observed OOM at default driver memory). The
  Catalyst twin (functions.uri.decompose_iri) is kept for the SQL-oracle
  operators and cross-checked in tests.
- bnode labels are renumbered to cluster-stable ids with
  ``xxhash64(file_sha256, label)`` — the reference's global AtomicLong
  (ParseIntoSOGTables.java:65) is illegal under Spark retry semantics;
  a content hash is deterministic across retries and executors.
- per-file graph defaulting matches ParseIntoSOGTables.java:355-357.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.fixtures import DEFAULT_GRAPH
from ..sources.ntriples import DECOMPOSED_SCHEMA, STATEMENT_SCHEMA, parse_iterator_arrow


def parse_statements(
    source_files: DataFrame,
    default_graph: str = DEFAULT_GRAPH,
    decompose: bool = False,
) -> DataFrame:
    """source_files -> statement rows (lexical terms; optionally with the
    18 decomposed URI-part columns computed in the same Arrow batch).

    Rows that fail to parse are kept with ``parse_error`` set so lineage can
    count them; downstream stages filter them out.
    """
    spark = source_files.sparkSession
    target = spark.sparkContext.defaultParallelism * 3
    # File text compresses ~100x in parquet, so byte-based file splits can
    # leave a 10M-statement corpus in 1-2 tasks; balance by ROW count so
    # every core parses. (Observed: 32-core parse ran on 2 tasks before.)
    # Streaming frames skip this (no .rdd; micro-batch sizing bounds tasks).
    if not source_files.isStreaming and source_files.rdd.getNumPartitions() < target:
        source_files = source_files.repartition(target)
    with_sha = source_files.withColumn("file_sha256", F.sha2(F.col("content"), 256))
    fn = functools.partial(
        parse_iterator_arrow, default_graph=default_graph, decompose=decompose
    )
    schema = DECOMPOSED_SCHEMA if decompose else STATEMENT_SCHEMA
    in_cols = ["content", "file_sha256"] + (["lang"] if "lang" in source_files.columns else [])
    return with_sha.select(*in_cols).mapInArrow(fn, schema=schema)


def _bnode_ids(df: DataFrame) -> DataFrame:
    return df.withColumns(
        {
            "s_bnode_id": F.when(
                F.col("s_kind") == "bnode",
                F.xxhash64(F.col("file_sha256"), F.col("s_lex")),
            ),
            "o_bnode_id": F.when(
                F.col("o_kind") == "bnode",
                F.xxhash64(F.col("file_sha256"), F.col("o_lex")),
            ),
        }
    )


def extract(source_files: DataFrame, default_graph: str = DEFAULT_GRAPH) -> DataFrame:
    """Full Stage E: parse + decompose (Arrow batch) + stable bnode ids.

    Width matters at scale: IRI lexical forms are fully carried by their 9
    parts, so ``s_lex``/``o_lex`` are nulled for IRIs (kept for literal
    values and bnode labels); ``file_id = xxhash64(sha)`` is the compact
    provenance key shuffled through later stages (the 64-char sha rides
    only in the file dictionary and lineage rows)."""
    raw = parse_statements(source_files, default_graph, decompose=True)
    good = raw.where(F.col("parse_error").isNull()).drop("parse_error")
    good = _bnode_ids(good)
    return good.withColumns(
        {
            "file_id": F.xxhash64("file_sha256"),
            "s_lex": F.when(F.col("s_kind") == "bnode", F.col("s_lex")),
            "o_lex": F.when(F.col("o_kind") != "iri", F.col("o_lex")),
        }
    )
