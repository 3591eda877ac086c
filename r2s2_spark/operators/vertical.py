"""Stage V — vertical partitioning: one table per target key.

Reference counterpart: the statement router + create-table-on-miss
(ParseIntoSOGTables.java:208-225,286-307) keyed by
``TargetKey(subjKind, objKind, lang, datatype)`` within each predicate
(LoadIntoTable.java:268-281), feeding row-wise DuckDB Appenders.

Spark realization: the router IS the shuffle. Statements get a table name
``t`` via a broadcast join against the (small) distinct target-key set,
then one job writes everything with ``partitionBy("t")``. Skew notes:
predicate frequency is Zipfian (rdf:type dominates), so the repartition key
is (t, salt) — t alone would put a whole hot predicate in one task; the
salt spreads each table over up to FILES_PER_TABLE tasks while keeping
files-per-table bounded (small-file control at 10^12-file scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import naming
from ..functions.uri import PART_KEYS
from ..plans.catalog import Catalog, ColumnSpec, PredicateMapSpec, TableSpec

#: generic (pre-rename) physical columns stored in the V dataset
GENERIC_COLUMNS = (
    [f"s_{k}" for k in PART_KEYS]
    + ["s_bnode_id"]
    + [f"o_{k}" for k in PART_KEYS]
    + ["o_bnode_id", "o_lang", "o_datatype", "o_lit", "g_id"]
)

_NULL = "\x00"  # sentinel for null lang/datatype join keys


def discover_target_keys(stmts: DataFrame) -> list[tuple]:
    """Distinct (p_iri, s_kind, o_kind, lang, datatype) — the dynamic,
    data-derived schema discovery (ParseIntoSOGTables.java:286-307). The
    result is vocabulary-sized, safe to collect."""
    rows = (
        stmts.select("p_iri", "s_kind", "o_kind", "o_lang", "o_datatype")
        .distinct()
        .collect()
    )
    keys = [(r.p_iri, r.s_kind, r.o_kind, r.o_lang, r.o_datatype) for r in rows]
    return sorted(keys, key=lambda k: tuple("" if x is None else x for x in k))


def build_catalog(
    keys: list[tuple],
    namespaces: dict[str, str] | None = None,
    default_graph: str | None = None,
) -> Catalog:
    """Target keys -> TableSpecs with reference-style names and column
    groups (Table.java:30-63, GroupOfColumns.java:44-91)."""
    ns = namespaces or dict(naming.DEFAULT_NAMESPACES)
    tables = []
    for i, (pred, s_kind, o_kind, lang, dt) in enumerate(keys):
        name = naming.table_name(pred, i, s_kind, o_kind, lang, dt, ns)
        subj_names = naming.column_names("subject", pred, s_kind, None, None, ns)
        if s_kind == "iri":
            subj_cols = [
                ColumnSpec(name=n, part=p, source=f"s_{p}")
                for n, p in zip(subj_names, PART_KEYS)
            ]
        else:
            subj_cols = [
                ColumnSpec(
                    name=subj_names[0], part="bnode_id", sql_type="bigint", source="s_bnode_id"
                )
            ]
        obj_names = naming.column_names("object", pred, o_kind, lang, dt, ns)
        if o_kind == "iri":
            obj_cols = [
                ColumnSpec(name=n, part=p, source=f"o_{p}")
                for n, p in zip(obj_names, PART_KEYS)
            ]
        elif o_kind == "bnode":
            obj_cols = [
                ColumnSpec(
                    name=obj_names[0], part="bnode_id", sql_type="bigint", source="o_bnode_id"
                )
            ]
        elif lang is not None:
            obj_cols = [
                ColumnSpec(name=obj_names[0], part="lang", source="o_lang"),
                ColumnSpec(name=obj_names[1], part="langvalue", source="o_lit"),
            ]
        else:
            obj_cols = [
                ColumnSpec(name=obj_names[0], part="datatype", source="o_datatype"),
                ColumnSpec(name=obj_names[1], part="litvalue", source="o_lit"),
            ]
        g_col = ColumnSpec(
            name=naming.graph_column_name(pred, o_kind, lang, dt, ns),
            part="graph",
            sql_type="bigint",
            source="g_id",
        )
        tables.append(
            TableSpec(
                name=name,
                subject_kind=s_kind,
                subject_columns=subj_cols,
                predicates=[
                    PredicateMapSpec(
                        predicate=pred,
                        obj_kind=o_kind,
                        lang=lang,
                        datatype=dt,
                        columns=obj_cols,
                        graph_column=g_col,
                    )
                ],
            )
        )
    return Catalog(tables=tables, namespaces=ns, default_graph=default_graph)


def table_salts(
    spark: SparkSession, table_rows: dict[str, int], max_salt: int = 64
) -> dict[str, int]:
    """Size-derived salt width per table for the routed (t, salt) shuffle.

    A FIXED files-per-table salt writes salt-many near-empty files for
    every small table — at a 10^4-10^5-table real-KG vocabulary that is
    the classic small-files problem (measured: the 64-table bench corpus
    wrote 501 files averaging 34 KB, and every downstream scan — the 3
    fused stage-O probe jobs, the dicts scan, stage M reads, triples
    reconstruction — paid the per-file open cost). Salt width scales with
    the table's row count instead: small tables take 1 file, hot
    (Zipf-head) tables fan out over up to ``max_salt`` tasks, and the
    rows-per-file target floors at 64k rows but grows with corpus size so
    total write parallelism stays ~4x the cluster width."""
    total = sum(table_rows.values()) or 1
    per_file = max(
        65536, total // (4 * spark.sparkContext.defaultParallelism)
    )
    return {
        name: max(1, min(max_salt, -(-n // per_file)))
        for name, n in table_rows.items()
    }


def route_statements(
    spark: SparkSession,
    stmts: DataFrame,
    catalog: Catalog,
    graphs_dict: DataFrame,
    files_per_table: int = 8,
    table_rows: dict[str, int] | None = None,
) -> DataFrame:
    """Assign each statement its table name and produce the generic frame.

    The routing table is vocabulary-sized -> broadcast join (null lang/dt
    handled with a sentinel, avoiding a null-unsafe join miss). Statements
    then shuffle once on (t, salt).

    ``table_rows`` (per-table statement counts, discovered by stage D's
    fused scan) sizes each table's salt via :func:`table_salts`; without
    it (resumed pre-count work dirs, update deltas) every table falls
    back to the fixed ``files_per_table`` width.

    The graphs dictionary is NOT force-broadcast: the graph domain is
    unbounded by design (per-file graphs at 10^12-file scale — the same
    reason stage D two-level-buckets graph ids). AQE broadcasts when the
    measured size is actually small; a forced broadcast OOMs the driver at
    web scale. Mirrors triples_with_graph_iri / _encode / _decode_encoded.
    """
    salts = table_salts(spark, table_rows) if table_rows else {}
    routing_rows = []
    for t in catalog.tables:
        pm = t.predicates[0]
        routing_rows.append(
            (
                pm.predicate, t.subject_kind, pm.obj_kind,
                pm.lang or _NULL, pm.datatype or _NULL, t.name,
                salts.get(t.name, files_per_table),
            )
        )
    routing = spark.createDataFrame(
        routing_rows,
        "p_iri string, s_kind string, o_kind string, lang_k string, "
        "dt_k string, t string, _nsalt int",
    )
    g_dim = graphs_dict.select(F.col("iri").alias("g_iri"), F.col("id").alias("g_id"))
    keyed = (
        stmts.withColumn("lang_k", F.coalesce(F.col("o_lang"), F.lit(_NULL)))
        .withColumn("dt_k", F.coalesce(F.col("o_datatype"), F.lit(_NULL)))
        .join(F.broadcast(routing), ["p_iri", "s_kind", "o_kind", "lang_k", "dt_k"])
        .join(g_dim, "g_iri", "left")
        .withColumn("o_lit", F.when(F.col("o_kind") == "literal", F.col("o_lex")))
    )
    salt = F.pmod(F.xxhash64("file_id", "line_no"), F.col("_nsalt")).alias("_salt")
    routed = keyed.select("t", salt, "file_id", *GENERIC_COLUMNS)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return routed.repartition(n, "t", "_salt").drop("_salt")


def rename_generic(df: DataFrame, table: TableSpec, with_sha: bool = False) -> DataFrame:
    """Select/rename generic statement columns to reference-style names."""
    cols = []
    for spec in table.all_column_specs():
        if spec.physical and spec.source:
            cols.append(F.col(spec.source).alias(spec.name))
    if with_sha:
        cols.append(F.col("file_sha256"))
    return df.select(*cols)


def read_table(spark: SparkSession, data_path: str, table: TableSpec, with_sha: bool = False) -> DataFrame:
    """Read one vertical table and rename generic -> reference columns."""
    return rename_generic(spark.read.parquet(f"{data_path}/t={table.name}"), table, with_sha)
