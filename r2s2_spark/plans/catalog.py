"""Table catalog — the schema/lineage source of truth between stages.

Reference counterpart: the in-memory ``List<Table>`` of
Table/Column/VirtualSingleValueColumn (Table.java:21-38, Column.java:8-66,
VirtualSingleValueColumn.java:3-24) serialized to Turtle after every step
(TableDescriptionAsRdf.java:35-120, Loader.java:207-213). Ours is a JSON
document committed with each stage snapshot; same round-trip guarantee
(TableDescriptionTest.java:29-72 -> tests/test_catalog.py).

Column semantics are carried by ``part``:
  IRI groups   : scheme, ssp, authority, user_info, host, port, path, query,
                 fragment                      (9 parts, LoadIntoTable.java:318-351)
  literals     : lang, langvalue | datatype, litvalue
  bnodes       : bnode_id
  graphs       : graph (int id) | graph_set (array<int> after set-semantics
                 collapse, ReintroduceRdfSetSemantics.java:71-92)
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

IRI_PARTS = (
    "scheme",
    "ssp",
    "authority",
    "user_info",
    "host",
    "port",
    "path",
    "query",
    "fragment",
)


@dataclass
class ColumnSpec:
    name: str  # reference-style SQL name (naming.column_names)
    part: str  # semantic key, see module docstring
    sql_type: str = "string"  # spark cast-able type string
    source: str | None = None  # generic statement-frame column it came from
    physical: bool = True
    virtual_value: str | None = None  # constant when not physical (as string)
    lcp_prefix: str = ""  # factored-out common prefix (OptimizeForLCS)
    encoding: str | None = None  # None | 'gyear' | dictionary table name


@dataclass
class PredicateMapSpec:
    predicate: str
    obj_kind: str  # iri | bnode | literal
    lang: str | None = None
    datatype: str | None = None
    columns: list[ColumnSpec] = field(default_factory=list)  # object group
    graph_column: ColumnSpec | None = None
    #: True when stage M copied this map into a merge target: rows the
    #: merged-in predicate does not describe hold NULL in its physical
    #: columns, so reconstruction must require a physical hit before
    #: rendering the map's VIRTUAL constants (else a non-matched row
    #: fabricates a term from the constants alone).
    merged: bool = False


@dataclass
class TableSpec:
    name: str
    subject_kind: str  # iri | bnode
    subject_columns: list[ColumnSpec] = field(default_factory=list)
    predicates: list[PredicateMapSpec] = field(default_factory=list)
    row_count: int | None = None
    #: storage location relative to the pipeline work dir (set from stage O
    #: on; lets a later catalog reference unchanged tables from an earlier
    #: snapshot without rewriting them)
    path: str | None = None
    #: outcome of the post-merge uniqueness verification (IntroduceIndexes
    #: analog: the reference tries CREATE UNIQUE INDEX on the subject
    #: columns and records success/failure, IntroduceIndexes.java:22-46).
    #: None = not probed; True/False = subject key unique / repeating.
    subject_unique: bool | None = None
    #: stage-O-computed repeating-subject flag (the A2 merge-candidacy
    #: probe, folded into stage O's fused probe: distinct subject-key
    #: groups < written rows). None = not computed (stage M falls back to
    #: its own fused probe scan); True/False = exact verdict over the
    #: stored table, same collision tolerance as the M probe (hash-merge
    #: can only flag repeating, never falsely unique).
    subject_repeating: bool | None = None
    #: the REAL column names in storage position order: every stage-O/M/U
    #: table is a ``t=`` member of a batch root whose files store
    #: positional names c0..cN, so readers rename c{i} ->
    #: storage_columns[i]. None only for V-stage tables (generic V/data
    #: columns, renamed by vertical.rename_generic).
    storage_columns: list[str] | None = None

    def physical_columns(self) -> list[str]:
        out = [c.name for c in self.subject_columns if c.physical]
        for pm in self.predicates:
            out += [c.name for c in pm.columns if c.physical]
            if pm.graph_column is not None and pm.graph_column.physical:
                out.append(pm.graph_column.name)
        return out

    def all_column_specs(self) -> list[ColumnSpec]:
        out = list(self.subject_columns)
        for pm in self.predicates:
            out += pm.columns
            if pm.graph_column is not None:
                out.append(pm.graph_column)
        return out


@dataclass
class Catalog:
    tables: list[TableSpec] = field(default_factory=list)
    #: dictionary name -> relative storage path ('predicates', 'graphs', ...)
    dictionaries: dict[str, str] = field(default_factory=dict)
    namespaces: dict[str, str] = field(default_factory=dict)
    default_graph: str | None = None

    def table(self, name: str) -> TableSpec:
        for t in self.tables:
            if t.name == name:
                return t
        raise KeyError(name)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=1, ensure_ascii=False)

    @classmethod
    def from_json(cls, text: str) -> "Catalog":
        d = json.loads(text)

        def col(c: dict) -> ColumnSpec:
            return ColumnSpec(**c)

        tables = [
            TableSpec(
                name=t["name"],
                subject_kind=t["subject_kind"],
                subject_columns=[col(c) for c in t["subject_columns"]],
                predicates=[
                    PredicateMapSpec(
                        predicate=p["predicate"],
                        obj_kind=p["obj_kind"],
                        lang=p["lang"],
                        datatype=p["datatype"],
                        columns=[col(c) for c in p["columns"]],
                        graph_column=col(p["graph_column"])
                        if p["graph_column"] is not None
                        else None,
                        merged=p.get("merged", False),
                    )
                    for p in t["predicates"]
                ],
                row_count=t.get("row_count"),
                path=t.get("path"),
                subject_unique=t.get("subject_unique"),
                subject_repeating=t.get("subject_repeating"),
                storage_columns=t.get("storage_columns"),
            )
            for t in d["tables"]
        ]
        return cls(
            tables=tables,
            dictionaries=d.get("dictionaries", {}),
            namespaces=d.get("namespaces", {}),
            default_graph=d.get("default_graph"),
        )
