"""Triple reconstruction + R2RML-style mapping document.

Reference counterpart: R2RMLFromTables.java:59-217 — emits an rr:TriplesMap
per table whose templates rebuild each term from the stored columns; Ontop
then uses that one mapping both to expose the tables as triples and to
unfold SPARQL. Here the mapping materializes as :func:`reconstruct_triples`,
the one predicate-map scanner: it re-emits (s_kind, s, p, o_kind, o_lex,
o_lang, o_datatype, g_id) from the vertical tables for every selected
predicate map. Unfiltered it is the oracle surface for the P/R >= 0.95
gate and the exact inverse of the Stage E decomposition; plans.sparql
compiles each triple pattern through it with a predicate-map filter.

A textual Turtle mapping document is also generated (write_mapping) for
parity with the reference's artifact.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import replace
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.uri import PART_KEYS, reassemble_iri
from ..operators.dictionaries import UNBOUNDED_DICTS
from ..naming import RDF_TYPE
from ..plans.catalog import Catalog, ColumnSpec, PredicateMapSpec, TableSpec

TRIPLE_COLUMNS = ["s_kind", "s", "p", "o_kind", "o_lex", "o_lang", "o_datatype", "g_id"]

# A table with >= _STACK_MIN selected predicate maps scans ONCE
# (array-of-structs + explode) instead of once per map; tests monkeypatch
# this high to force the per-map path for parity comparison.
_STACK_MIN = 2


def balanced_union(frames: list) -> DataFrame:
    """unionByName as a balanced tree: a left-deep chain re-analyzes the
    growing plan on every union — O(T^2) analyzer work at vocabulary-scale
    predicate-map counts (10^4+ branches for a full reconstruction);
    pairing halves keeps it O(T log T)."""
    while len(frames) > 1:
        frames = [
            frames[i].unionByName(frames[i + 1]) if i + 1 < len(frames) else frames[i]
            for i in range(0, len(frames), 2)
        ]
    return frames[0]


def decimal_lexical(col) -> "F.Column":
    """decimal -> lexical string with trailing fraction zeros trimmed.
    THE canonical rendering: the narrowing guard (operators.passes) and
    reconstruction (:func:`_lexical`) must share this exact form — a
    divergence silently breaks the guard's exact-inverse contract for
    narrowed decimals."""
    return F.regexp_replace(
        F.regexp_replace(col.cast("string"), r"(\.\d*?)0+$", "$1"), r"\.$", ""
    )


def virtual_graph_id(gc) -> int | None:
    """A virtual graph column's constant id — None when the column was
    all-NULL at virtualization time (virtual_value None), a state the
    update module's graph-domain classifier models; int() on it would
    crash plan construction."""
    return None if gc.virtual_value is None else int(gc.virtual_value)


def _lexical(spec: ColumnSpec, vcol=None, lcol=None) -> "F.Column":
    """Physical/virtual column -> its lexical (string) form, undoing
    narrowing (OptimizeForDatatype), LCP factoring and gYear encoding.
    ``vcol``/``lcol`` replace the spec's literal ``virtual_value`` /
    ``lcp_prefix`` with per-row columns: a fused scan (:func:`_fused_scan`)
    serves many tables from one branch, their constants joined in."""
    if not spec.physical:
        base = F.lit(spec.virtual_value) if vcol is None else vcol
    else:
        base = F.col(spec.name)
        if spec.encoding == "gyear":
            # zero-padded years, sign-aware (OptimizeForDatatype.java:32-50)
            base = F.when(
                base < 0, F.concat(F.lit("-"), F.format_string("%04d", -base))
            ).otherwise(F.format_string("%04d", base))
        elif spec.sql_type.startswith("decimal"):
            base = decimal_lexical(base)
        else:
            base = base.cast("string")
    if spec.lcp_prefix:
        # NULL stays NULL (a merged-in row without this term); a value that
        # equalled the prefix was stripped to '' (non-null) and round-trips.
        prefix = F.lit(spec.lcp_prefix) if lcol is None else lcol
        base = F.when(base.isNotNull(), F.concat(prefix, base))
    return base


def _term_exprs(
    specs: list[ColumnSpec], kind: str, consts: Callable | None = None
) -> tuple["F.Column", "F.Column", "F.Column"]:
    """Column specs of one term group -> (lex, lang, datatype) expressions.
    ``consts(spec) -> (vcol, lcol)`` supplies per-row constant columns
    (see :func:`_lexical`); None renders the specs' own constants."""

    def lex(spec):
        return _lexical(spec, *consts(spec)) if consts else _lexical(spec)

    none = F.lit(None).cast("string")
    by_part = {s.part: s for s in specs}
    if kind == "iri":
        parts = {k: lex(by_part[k]) if k in by_part else none for k in PART_KEYS}
        return reassemble_iri(parts), none, none
    if kind == "bnode":
        spec = by_part["bnode_id"]
        if spec.physical:
            col = F.col(spec.name)
        elif consts:
            col = consts(spec)[0].cast("long")
        else:
            col = F.lit(int(spec.virtual_value))
        return F.concat(F.lit("b"), col.cast("string")), none, none
    if "langvalue" in by_part:
        return lex(by_part["langvalue"]), lex(by_part["lang"]), none
    return lex(by_part["litvalue"]), none, lex(by_part["datatype"])


def _graph_id(gc: ColumnSpec | None, vcol=None) -> tuple["F.Column", bool]:
    """(graph-id expression, is_set) for one predicate map's graph column:
    a bigint, or for a graph set an array<bigint> the caller explodes.
    ``vcol`` replaces a virtual graph's constant id (fused scans)."""
    if gc is None:
        return F.lit(None).cast("bigint"), False
    if not gc.physical:
        base = F.lit(virtual_graph_id(gc)) if vcol is None else vcol
        return base.cast("bigint"), False
    if gc.part == "graph_set":
        return F.col(gc.name).cast("array<bigint>"), True
    return F.col(gc.name).cast("bigint"), False


def _decode_encoded(df: DataFrame, specs: list[ColumnSpec], dicts: dict[str, DataFrame]) -> DataFrame:
    """Replace dictionary-encoded id columns with their string values
    (broadcast decode joins) so term expressions see strings."""
    for cs in specs:
        if cs.physical and cs.encoding in dicts:
            d = dicts[cs.encoding]
            dim = d.select(
                F.col("id").alias(cs.name + "\x00id"),
                F.col("iri").alias(cs.name + "\x00str"),
            )
            if cs.encoding not in UNBOUNDED_DICTS:
                # schemes/predicates are vocabulary-sized -> broadcast;
                # hosts/graphs are unbounded at web scale -> plain join
                # (AQE broadcasts when the measured size is small)
                dim = F.broadcast(dim)
            df = (
                df.join(dim, F.col(cs.name) == F.col(cs.name + "\x00id"), "left")
                .drop(cs.name, cs.name + "\x00id")
                .withColumnRenamed(cs.name + "\x00str", cs.name)
            )
    return df


def _presence(pm: PredicateMapSpec) -> "F.Column | None":
    """For a stage-M merged-in predicate map, the rows the merge join
    actually matched — at least one moved PHYSICAL column set (None: every
    row counts). Without it, a non-matched row renders the map's virtual
    constants as a fabricated term (e.g. a bare scheme+host IRI)."""
    if not pm.merged:
        return None
    phys = [cs.name for cs in pm.columns if cs.physical]
    if pm.graph_column is not None and pm.graph_column.physical:
        phys.append(pm.graph_column.name)
    if not phys:
        return None
    return reduce(or_, [F.col(name).isNotNull() for name in phys])


def _merged_presence_filter(df: DataFrame, pm: PredicateMapSpec) -> DataFrame:
    present = _presence(pm)
    return df if present is None else df.where(present)


def table_triples(
    df: DataFrame,
    table: TableSpec,
    pm: PredicateMapSpec,
    dicts: dict[str, DataFrame] | None = None,
    graph_needed: bool = True,
    *,
    consts: Callable | None = None,
    p=None,
    gv=None,
) -> DataFrame:
    """One predicate map of one table -> its triples (graph ids exploded;
    no ``g_id`` column unless ``graph_needed``). A fused scan passes its
    per-row constants: ``consts`` (see :func:`_term_exprs`), the predicate
    column ``p`` and the virtual graph-id column ``gv``."""
    if dicts:
        df = _decode_encoded(df, [*table.subject_columns, *pm.columns], dicts)
    df = _merged_presence_filter(df, pm)
    s_lex = _term_exprs(table.subject_columns, table.subject_kind, consts)[0]
    o_lex, o_lang, o_dt = _term_exprs(pm.columns, pm.obj_kind, consts)
    sel = [
        F.lit(table.subject_kind).alias("s_kind"),
        s_lex.alias("s"),
        (F.lit(pm.predicate) if p is None else p).alias("p"),
        F.lit(pm.obj_kind).alias("o_kind"),
        o_lex.alias("o_lex"),
        o_lang.alias("o_lang"),
        o_dt.alias("o_datatype"),
    ]
    is_set = False
    if graph_needed:
        g, is_set = _graph_id(pm.graph_column, gv)
        sel.append(g.alias("g_id"))
    # merged tables carry NULL object groups for subjects the merged-in
    # predicate doesn't describe (full-outer merge) — not triples, drop.
    out = df.select(*sel).where(F.col("o_lex").isNotNull() & F.col("s").isNotNull())
    return out.withColumn("g_id", F.explode("g_id")) if is_set else out


def _stacked_table_triples(
    df: DataFrame,
    table: TableSpec,
    pms: list[PredicateMapSpec],
    dicts: dict[str, DataFrame] | None = None,
    graph_needed: bool = True,
) -> DataFrame:
    """ONE scan of a multi-predicate (merged) table reconstructing ALL the
    given predicate maps: each map's term expressions pack into an
    array-of-structs element and one explode unpacks — T maps cost one
    table scan and one analyzer pass instead of T union branches over the
    SAME file. A real KG merges overlapping-subject predicate tables into
    wide rows (cf. the reference's merge cascade), so a variable-predicate
    pattern over a 10^3-predicate merged table would otherwise build 10^3
    branches."""
    if dicts:
        by_name = {cs.name: cs for cs in table.subject_columns}
        for pm in pms:
            by_name.update({cs.name: cs for cs in pm.columns})
        df = _decode_encoded(df, list(by_name.values()), dicts)
    s_lex = _term_exprs(table.subject_columns, table.subject_kind)[0]
    structs = []
    for pm in pms:
        o_lex, o_lang, o_dt = _term_exprs(pm.columns, pm.obj_kind)
        fields = [
            F.lit(pm.predicate).alias("p"),
            F.lit(pm.obj_kind).alias("o_kind"),
            o_lex.alias("o_lex"),
            o_lang.alias("o_lang"),
            o_dt.alias("o_datatype"),
        ]
        if graph_needed:
            g, is_set = _graph_id(pm.graph_column)
            fields.append((g if is_set else F.array(g)).alias("g_id"))
        st = F.struct(*fields)
        # merged-map presence guard as a NULL struct instead of a
        # per-branch where; NULL structs fall to the o_lex filter below
        present = _presence(pm)
        structs.append(st if present is None else F.when(present, st))
    out = (
        df.select(
            F.lit(table.subject_kind).alias("s_kind"),
            s_lex.alias("s"),
            F.explode(F.array(*structs)).alias("__x"),
        )
        .where(F.col("s").isNotNull() & F.col("__x.o_lex").isNotNull())
        .select("s_kind", "s", "__x.*")
    )
    return out.withColumn("g_id", F.explode("g_id")) if graph_needed else out


def _sorted_parts(specs):
    return sorted(specs, key=lambda c: c.part)


def _fuse_sig(t, pm, graph_needed: bool):
    """Structural signature of one (table, predicate-map) pair: two pairs
    with EQUAL signatures compile to identical Spark expressions over the
    shared batched storage schema, so one fused branch can serve both —
    only their constants (predicate IRI, virtual values, LCP prefixes,
    virtual graph id) differ, and those join in per table. Returns None
    when the pair cannot fuse (not batch-stored, or a physical column is
    missing from the storage layout).

    Why this matters at scale: a variable-predicate SPARQL pattern over a
    real KG vocabulary (10^4-10^5 predicate tables, one per
    predicate/kind/lang/datatype — cf. ParseIntoSOGTables.java:286-307
    creating tables on-miss) would otherwise build one union branch per
    table: one footer-read job plus ~100 ms of eager driver analysis
    EACH, i.e. tens of minutes of driver work before the query runs.
    Fused, the branch count is the number of distinct STRUCTURES (a
    handful), independent of vocabulary size."""
    if not (t.storage_columns and t.path and "/t=" in t.path):
        return None

    def spec_sig(cs):
        pos = t.storage_columns.index(cs.name) if cs.physical else None
        return (cs.part, cs.sql_type, cs.physical, cs.encoding,
                bool(cs.lcp_prefix), pos)

    try:
        subj = tuple(spec_sig(cs) for cs in _sorted_parts(t.subject_columns))
        obj = tuple(spec_sig(cs) for cs in _sorted_parts(pm.columns))
        gc = pm.graph_column
        if not graph_needed:
            gsig = None
        elif gc is None:
            gsig = ("none",)
        elif not gc.physical:
            gsig = ("virtual",)
        else:
            gsig = ("phys", gc.part, gc.sql_type,
                    t.storage_columns.index(gc.name))
    except ValueError:
        return None
    root = t.path.rsplit("/t=", 1)[0]
    return (root, t.subject_kind, pm.obj_kind, pm.merged, subj, obj, gsig)


def _fused_scan(raw: DataFrame, members, dicts, graph_needed: bool) -> DataFrame:
    """ONE branch for many structurally-identical (table, pm) pairs living
    in the same batch root: partition-pruned ``t IN (...)`` filter,
    broadcast join of a per-table constants frame, then
    :func:`table_triples` over the positional c0..cN storage columns with
    the joined constants as per-row columns."""
    t0, pm0 = members[0]

    def clone(cs):
        if cs is None or not cs.physical:
            return cs
        return replace(cs, name=f"c{t0.storage_columns.index(cs.name)}")

    subj = [clone(cs) for cs in _sorted_parts(t0.subject_columns)]
    objc = [clone(cs) for cs in _sorted_parts(pm0.columns)]
    t2 = replace(t0, subject_columns=subj)
    pm2 = replace(pm0, columns=objc, graph_column=clone(pm0.graph_column))

    # constant slots aligned with the sorted spec order (the signature
    # guarantees every member has the same physical/lcp pattern)
    fields = ["t string", "__p string"]
    slots: dict[int, tuple[str | None, str | None]] = {}
    for i, cs in enumerate((*subj, *objc)):
        slot = (None if cs.physical else f"__v{i}", f"__l{i}" if cs.lcp_prefix else None)
        fields += [f"{n} string" for n in slot if n]
        slots[id(cs)] = slot
    gc = pm2.graph_column
    g_virtual = graph_needed and gc is not None and not gc.physical
    if g_virtual:
        fields.append("__gv bigint")
    rows = []
    for t, pm in members:
        row: list = [t.name, pm.predicate]
        for cs in (*_sorted_parts(t.subject_columns), *_sorted_parts(pm.columns)):
            if not cs.physical:
                row.append(cs.virtual_value)
            if cs.lcp_prefix:
                row.append(cs.lcp_prefix)
        if g_virtual:
            row.append(virtual_graph_id(pm.graph_column))
        rows.append(tuple(row))
    consts = raw.sparkSession.createDataFrame(rows, ", ".join(fields))
    df = raw.where(F.col("t").isin([t.name for t, _ in members]))
    df = df.join(F.broadcast(consts), "t")
    return table_triples(
        df, t2, pm2, dicts, graph_needed,
        consts=lambda cs: tuple(F.col(n) if n else None for n in slots[id(cs)]),
        p=F.col("__p"),
        gv=F.col("__gv") if g_virtual else None,
    )


def reconstruct_triples(
    catalog: Catalog,
    reader: Callable[[TableSpec], DataFrame],
    dicts: dict[str, DataFrame] | None = None,
    keep: Callable[[PredicateMapSpec], bool] | None = None,
    graph_needed: bool = True,
) -> DataFrame:
    """The predicate-map scanner: the union of the triples of every
    predicate map ``keep`` selects (all by default) as TRIPLE_COLUMNS.
    ``reader`` supplies each table's DataFrame (with reference-named
    columns). ``graph_needed=False`` leaves out ``g_id`` and the graph
    explode (a pattern outside any GRAPH/FROM scope).

    Branch count tracks STRUCTURES, not vocabulary: a table with several
    selected maps reconstructs in ONE stacked scan
    (:func:`_stacked_table_triples`), and structurally-identical single-map
    batched tables FUSE into one scan with a broadcast constants join
    (:func:`_fused_scan`). A 10^4-table vocabulary reconstructs in a
    handful of scans instead of 10^4 analyzer passes; every other map is
    one :func:`table_triples` branch."""
    pieces = []
    groups: dict = {}
    raw_fn = getattr(reader, "batch_raw", None)
    for t in catalog.tables:
        pms = [pm for pm in t.predicates if keep is None or keep(pm)]
        if len(pms) >= _STACK_MIN:
            pieces.append(
                _stacked_table_triples(reader(t), t, pms, dicts, graph_needed)
            )
            continue
        for pm in pms:
            sig = _fuse_sig(t, pm, graph_needed) if raw_fn else None
            groups.setdefault(sig or object(), []).append((t, pm))
    for sig, members in groups.items():
        if len(members) > 1:
            pieces.append(_fused_scan(raw_fn(sig[0]), members, dicts, graph_needed))
        else:  # a lone member gains nothing from the constants join
            t, pm = members[0]
            pieces.append(table_triples(reader(t), t, pm, dicts, graph_needed))
    if not pieces:
        # an empty KG (e.g. every source statement was a parse error), or
        # a selection matching no map, has zero triples — not an error
        from pyspark.sql import SparkSession

        cols = TRIPLE_COLUMNS if graph_needed else TRIPLE_COLUMNS[:-1]
        return SparkSession.getActiveSession().createDataFrame(
            [], ", ".join(f"{c} {'bigint' if c == 'g_id' else 'string'}" for c in cols)
        )
    return balanced_union(pieces)


def distinct_types(
    catalog: Catalog,
    reader: Callable[[TableSpec], DataFrame],
    dicts: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """The reference's flagship SPARQL `SELECT DISTINCT ?type WHERE {[] a ?type}`
    (SparqlOnLoadedTest.java:111-127) as a DataFrame program: union the
    object-IRI expressions of every rdf:type predicate map, distinct."""
    pieces = []
    for t in catalog.tables:
        for pm in t.predicates:
            if pm.predicate == RDF_TYPE and pm.obj_kind == "iri":
                df = reader(t)
                if dicts:
                    df = _decode_encoded(df, list(pm.columns), dicts)
                df = _merged_presence_filter(df, pm)
                o_lex = _term_exprs(pm.columns, pm.obj_kind)[0]
                pieces.append(df.select(o_lex.alias("type")).where(o_lex.isNotNull()))
    if not pieces:
        raise ValueError("no rdf:type tables in catalog")
    return balanced_union(pieces).distinct()


# -- mapping document --------------------------------------------------------


def _ttl_escape(s: str) -> str:
    """Turtle string-literal escaping for the mapping document — data
    constants (virtual values) may carry quotes/backslashes/newlines."""
    return (
        str(s)
        .replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def _template(specs: list[ColumnSpec], kind: str) -> str:
    """R2RML-ish template string: constants inlined, physical columns as
    {name} placeholders (R2RMLFromTables.java:139-217)."""
    if kind == "bnode":
        s = specs[0]
        return f"_:{{{s.name}}}" if s.physical else f"_:b{s.virtual_value}"
    by_part = {s.part: s for s in specs}

    def piece(key: str, prefix: str = "") -> str:
        s = by_part.get(key)
        if s is None:
            return ""
        if not s.physical:
            # a column can be LCP-stripped FIRST and virtualized later
            # (post-merge reopt): virtual_value holds the STRIPPED form,
            # so the template must re-prepend the prefix exactly like
            # _lexical does at reconstruction
            return (
                f"{prefix}{s.lcp_prefix}{s.virtual_value}"
                if s.virtual_value is not None else ""
            )
        return f"{prefix}{s.lcp_prefix}{{{s.name}}}"

    host = by_part.get("host")
    has_host = host is not None and (host.physical or host.virtual_value is not None)
    out = piece("scheme") + ":"
    if has_host:
        out += "//" + piece("user_info") + ("@" if by_part.get("user_info") and (by_part["user_info"].physical or by_part["user_info"].virtual_value) else "")
        out += piece("host") + piece("port", ":") + piece("path") + piece("query", "?")
    else:
        out += piece("ssp")
    out += piece("fragment", "#")
    return out


def mapping_document(catalog: Catalog) -> str:
    """Turtle-ish mapping doc for parity with R2RMLFromTables.write."""
    lines = [
        "@prefix rr: <http://www.w3.org/ns/r2rml#> .",
        "@prefix r2s2s: <https://r2s2-spark.example/ns#> .",
        "",
    ]
    for t in catalog.tables:
        lines.append(f"r2s2s:map_{t.name} a rr:TriplesMap ;")
        lines.append(f'  rr:logicalTable [ rr:tableName "{t.name}" ] ;')
        lines.append(
            f"  rr:subjectMap [ rr:template "
            f'"{_ttl_escape(_template(t.subject_columns, t.subject_kind))}" ] ;'
        )
        for pm in t.predicates:
            lines.append("  rr:predicateObjectMap [")
            lines.append(f"    rr:predicate <{pm.predicate}> ;")
            if pm.obj_kind == "literal":
                extra = (
                    f'rr:language "{pm.lang}"'
                    if pm.lang
                    else f"rr:datatype <{pm.datatype}>"
                )
                val = next(c for c in pm.columns if c.part in ("langvalue", "litvalue"))
                ref = (
                    f'rr:column "{val.name}"'
                    if val.physical
                    else f'rr:constant "{_ttl_escape(val.virtual_value)}"'
                )
                lines.append(f"    rr:objectMap [ {ref} ; {extra} ] ;")
            else:
                lines.append(
                    f'    rr:objectMap [ rr:template '
                    f'"{_ttl_escape(_template(pm.columns, pm.obj_kind))}" ] ;'
                )
            lines.append("  ] ;")
        lines.append("  .")
        lines.append("")
    return "\n".join(lines)
