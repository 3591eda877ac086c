"""SPARQL 1.1 Update over the loaded KG (plans/sparql_update.py).

The reference engine is load-only (Ontop is read-only; mutation = re-run
the loader), so updates are an engine-native extension: each operation
commits a ``U{k}`` snapshot stage whose catalog references unchanged
tables in place and rewrites only what the operation touched."""

import shutil

import pytest

from r2s2_spark.naming import EX, XSD
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.plans.sparql_text import SparqlSyntaxError, SparqlUnsupported, sparql_query
from r2s2_spark.plans.sparql_update import parse_update
from r2s2_spark.sources import fixtures as fx


#: per-module directory of the template KGs (see _loaded)
_TEMPLATES: dict = {}


@pytest.fixture(scope="module", autouse=True)
def _template_dir(tmp_path_factory):
    _TEMPLATES["dir"] = tmp_path_factory.mktemp("kg_templates")


def _loaded(spark, tmp_path, wd, name, lines, fresh=False):
    """A KG over ``lines`` in ``tmp_path / wd``. Unless ``fresh``, the
    E->M load runs once per module into a template work dir, and each
    call copies that dir and resumes it (every load stage is already
    committed, so ``load`` only finds the manifests). Catalog paths are
    relative to the work dir, so the copy is an independent KG."""
    src = fx.source_files_df(spark, [fx._row("r", "m.nq", "\n".join(lines))])
    if not fresh:
        template = _TEMPLATES["dir"] / name
        if not template.exists():
            KgPipeline(spark, str(template)).load(src)
        shutil.copytree(template, tmp_path / wd)
    return KgPipeline(spark, str(tmp_path / wd)).load(src)


def _kg(spark, tmp_path, wd="wd", fresh=False):
    lines = [
        f'<{EX}s1> <{EX}name> "anna" .',
        f'<{EX}s1> <{EX}age> "7"^^<{XSD}integer> .',
        f'<{EX}s2> <{EX}name> "bob" .',
        f'<{EX}s2> <{EX}in> <{EX}g1> <{EX}graph1> .',
    ]
    return _loaded(spark, tmp_path, wd, "kg", lines, fresh)


def _quads(pipe):
    return sorted(
        (r.s, r.p, r.o_lex, r.o_lang, r.o_datatype, r.g)
        for r in pipe.triples_with_graph_iri().collect()
    )


# -- parsing ------------------------------------------------------------------


def test_parse_update_forms():
    ops = parse_update(
        "PREFIX ex: <https://example.org/> "
        'INSERT DATA { ex:s ex:p "v" } ; '
        "DELETE DATA { ex:s ex:p ex:o } ; "
        "DELETE { ?s ex:old ?o } INSERT { ?s ex:new ?o } WHERE { ?s ex:old ?o } ; "
        "DELETE WHERE { ?s ex:gone ?o } ; "
        "WITH ex:g DELETE { ?s ex:p ?o } WHERE { ?s ex:p ?o } ; "
        "CLEAR SILENT GRAPH ex:g ; CLEAR ALL ; DROP DEFAULT"
    )
    assert [o["op"] for o in ops] == [
        "insert_data", "delete_data", "modify", "modify", "modify",
        "clear", "clear", "clear",
    ]
    assert ops[4]["with"] == EX + "g"
    assert ops[5]["target"] == EX + "g"
    # DELETE WHERE: template doubles as the pattern group
    assert len(ops[3]["where"]["patterns"]) == 1


def test_parse_update_named_narrowings():
    # WHERE-form INSERT template bnodes parse (minted per solution)
    ops = parse_update(f"INSERT {{ ?s <{EX}p> _:b }} WHERE {{ ?s <{EX}q> ?o }}")
    assert ops[0]["insert"][0][2] == ("bnode", "b")
    with pytest.raises(SparqlSyntaxError):
        # bnode in predicate position is grammar-invalid
        parse_update(f"INSERT {{ ?s _:b ?o }} WHERE {{ ?s <{EX}q> ?o }}")
    with pytest.raises(SparqlSyntaxError):
        parse_update(f"DELETE DATA {{ _:b <{EX}p> <{EX}o> }}")  # spec-forbidden
    with pytest.raises(SparqlSyntaxError):
        parse_update(f"INSERT DATA {{ <{EX}s> <{EX}p> ?v }}")  # non-ground
    with pytest.raises(SparqlSyntaxError):
        # ground data blocks never take a variable graph
        parse_update(f"INSERT DATA {{ GRAPH ?g {{ <{EX}s> <{EX}p> <{EX}o> }} }}")


def test_parse_load_using_graphvar_forms():
    ops = parse_update(
        "PREFIX ex: <https://example.org/> "
        "LOAD SILENT <file:///tmp/x.nt> INTO GRAPH ex:g ; "
        "DELETE { GRAPH ?g { ?s ex:p ?o } } "
        "USING ex:a USING NAMED ex:b WHERE { GRAPH ?g { ?s ex:p ?o } }"
    )
    assert ops[0] == {
        "op": "load", "src": "file:///tmp/x.nt", "into": EX + "g", "silent": True,
    }
    assert ops[1]["using"] == ((EX + "a",), (EX + "b",))
    # the template's graph slot carries the variable
    assert ops[1]["delete"][0][3] == "?g"


# -- data operations ----------------------------------------------------------


def test_insert_data_new_and_existing_predicates(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ <{EX}s3> <{EX}name> "carol" . '
        f'<{EX}s1> <{EX}nick> "an" . '
        f'GRAPH <{EX}graph2> {{ <{EX}s3> <{EX}in> <{EX}g2> }} }}'
    )
    assert pipe.triples().count() == 7
    names = {
        (r.s, r.n)
        for r in sparql_query(
            pipe, f"SELECT ?s ?n WHERE {{ ?s <{EX}name> ?n }}"
        ).collect()
    }
    assert (EX + "s3", "carol") in names and len(names) == 3
    # the new graph entered the dictionary and decodes back
    gq = sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}graph2> {{ ?s <{EX}in> ?o }} }}"
    )
    assert [r.s for r in gq.collect()] == [EX + "s3"]


def test_insert_is_set_semantics(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    before = _quads(pipe)
    pipe.update(f'INSERT DATA {{ <{EX}s1> <{EX}name> "anna" }}')
    assert _quads(pipe) == before  # re-inserting an existing triple: no-op


def test_delete_data_exact_term_identity(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    # wrong datatype must NOT match the stored xsd:integer literal
    pipe.update(f'DELETE DATA {{ <{EX}s1> <{EX}age> "7" }}')
    assert pipe.triples().count() == 4
    pipe.update(f'DELETE DATA {{ <{EX}s1> <{EX}age> "7"^^<{XSD}integer> }}')
    assert pipe.triples().count() == 3
    # deleting twice is idempotent
    pipe.update(f'DELETE DATA {{ <{EX}s1> <{EX}age> "7"^^<{XSD}integer> }}')
    assert pipe.triples().count() == 3


def test_insert_data_bnodes_fresh_and_deterministic(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    pipe.update(f"INSERT DATA {{ _:x <{EX}knows> _:y . _:x a <{EX}Agent> }}")
    tri = pipe.triples().collect()
    knows = [r for r in tri if r.p == EX + "knows"]
    typed = [r for r in tri if r.p.endswith("#type")]
    assert len(knows) == 1 and knows[0].s_kind == "bnode"
    assert knows[0].o_kind == "bnode" and knows[0].s != knows[0].o_lex
    # the same _:x label in one operation denotes ONE bnode
    assert typed and typed[0].s == knows[0].s


# -- template operations ------------------------------------------------------


def test_modify_rename_predicate(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f"DELETE {{ ?s <{EX}name> ?n }} INSERT {{ ?s <{EX}label> ?n }} "
        f"WHERE {{ ?s <{EX}name> ?n }}"
    )
    assert sparql_query(pipe, f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}").count() == 0
    labs = {
        (r.s, r.n)
        for r in sparql_query(
            pipe, f"SELECT ?s ?n WHERE {{ ?s <{EX}label> ?n }}"
        ).collect()
    }
    assert labs == {(EX + "s1", "anna"), (EX + "s2", "bob")}
    assert pipe.triples().count() == 4  # conserved


def test_modify_preserves_term_identity(spark, tmp_path):
    """Template variables carry exact term kind/lang/datatype through the
    rewrite — a typed literal moves graphs with its datatype intact."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f"DELETE {{ ?s <{EX}age> ?a }} "
        f"INSERT {{ GRAPH <{EX}ages> {{ ?s <{EX}age> ?a }} }} "
        f"WHERE {{ ?s <{EX}age> ?a }}"
    )
    rows = [r for r in pipe.triples().collect() if r.p == EX + "age"]
    assert len(rows) == 1
    assert rows[0].o_lex == "7" and rows[0].o_datatype == XSD + "integer"
    ag = sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}ages> {{ ?s <{EX}age> ?a }} }}"
    )
    assert [r.s for r in ag.collect()] == [EX + "s1"]


def test_delete_where_shorthand(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    pipe.update(f"DELETE WHERE {{ ?s <{EX}name> ?n }}")
    assert sparql_query(pipe, f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}").count() == 0
    assert pipe.triples().count() == 2


def test_modify_with_graph(spark, tmp_path):
    """WITH <g> scopes both the WHERE match and the delete template."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f"WITH <{EX}graph1> DELETE {{ ?s <{EX}in> ?o }} WHERE {{ ?s <{EX}in> ?o }}"
    )
    assert pipe.triples().count() == 3
    # the same delete against the default graph would have matched nothing
    pipe2 = _kg(spark, tmp_path, "wd2")
    pipe2.update(
        f"WITH <{EX}nosuch> DELETE {{ ?s <{EX}in> ?o }} WHERE {{ ?s <{EX}in> ?o }}"
    )
    assert pipe2.triples().count() == 4


def test_clear_forms(spark, tmp_path):
    pipe = _kg(spark, tmp_path)
    pipe.update(f"CLEAR GRAPH <{EX}graph1>")
    assert pipe.triples().count() == 3
    pipe.update("CLEAR DEFAULT")
    assert pipe.triples().count() == 0
    pipe2 = _kg(spark, tmp_path, "wd2")
    pipe2.update("CLEAR NAMED")
    assert pipe2.triples().count() == 3  # default-graph triples survive
    pipe2.update("CLEAR ALL")
    assert pipe2.triples().count() == 0
    assert pipe2.catalog().tables == []


def _graph_kg(spark, tmp_path, wd="wdg"):
    """Disjoint-subject predicates so each lands in its own table:
    ``name`` default-graph only, ``color`` graph1 only (both single-graph
    -> stage O virtualizes their graph columns to constants; each needs
    TWO rows with distinct object values, else every other column is
    constant too and the never-empty-the-table guard keeps the graph
    column physical), ``in`` spanning graph1+graph2 (non-constant ->
    physical, conservative)."""
    lines = [
        f'<{EX}s1> <{EX}name> "anna" .',
        f'<{EX}s2> <{EX}name> "bob" .',
        f'<{EX}t1> <{EX}color> "red" <{EX}graph1> .',
        f'<{EX}t2> <{EX}color> "blue" <{EX}graph1> .',
        f'<{EX}u1> <{EX}in> <{EX}g1> <{EX}graph1> .',
        f'<{EX}u2> <{EX}in> <{EX}g2> <{EX}graph2> .',
    ]
    return _loaded(spark, tmp_path, wd, "graph_kg", lines)


def _tables_by_pred(cat):
    out = {}
    for t in cat.tables:
        for pm in t.predicates:
            out.setdefault(pm.predicate, []).append(t)
    return out


def test_clear_graph_skips_statically_excluded_tables(spark, tmp_path):
    """CLEAR GRAPH must not rewrite the whole KG: tables whose stage-O
    virtual graph constant proves a different graph are referenced in
    place; only tables that MAY hold the target rebuild."""
    pipe = _graph_kg(spark, tmp_path)
    before = {t.name: t.path for t in pipe.catalog().tables}
    pipe.update(f"CLEAR GRAPH <{EX}graph1>")
    by_pred = _tables_by_pred(pipe.catalog())
    # default-graph-only table: provably unaffected, referenced in place
    (name_t,) = by_pred[EX + "name"]
    assert name_t.path == before[name_t.name]
    assert not name_t.path.startswith("U1")
    # graph1-only table: cleared away entirely
    assert EX + "color" not in by_pred
    # multi-graph table: conservative rebuild, graph2 rows survive
    (in_t,) = by_pred[EX + "in"]
    assert in_t.path.startswith("U1")
    assert sorted(
        (r.s, r.g) for r in pipe.triples_with_graph_iri().collect()
    ) == [
        (EX + "s1", pipe.default_graph),
        (EX + "s2", pipe.default_graph),
        (EX + "u2", EX + "graph2"),
    ]


def test_clear_default_and_named_static_exclusion(spark, tmp_path):
    pipe = _graph_kg(spark, tmp_path)
    before = {t.name: t.path for t in pipe.catalog().tables}
    pipe.update("CLEAR DEFAULT")
    by_pred = _tables_by_pred(pipe.catalog())
    assert EX + "name" not in by_pred  # default-graph table cleared away
    (color_t,) = by_pred[EX + "color"]  # graph1 constant: untouched
    assert color_t.path == before[color_t.name]
    assert pipe.triples().count() == 4

    pipe2 = _graph_kg(spark, tmp_path, "wdg2")
    before2 = {t.name: t.path for t in pipe2.catalog().tables}
    pipe2.update("CLEAR NAMED")
    by_pred2 = _tables_by_pred(pipe2.catalog())
    (name_t,) = by_pred2[EX + "name"]  # default constant: untouched
    assert name_t.path == before2[name_t.name]
    assert EX + "color" not in by_pred2
    assert pipe2.triples().count() == 2


def test_copy_prunes_source_scan_statically(spark, tmp_path):
    """COPY graph1 TO graph3: the source-side reconstruction prunes
    tables that provably cannot hold graph1 (the default-graph name
    table), and the copy is correct."""
    from r2s2_spark.plans.sparql_update import _clear_graph_ids, _clear_may_affect

    pipe = _graph_kg(spark, tmp_path)
    cat = pipe.catalog()
    ids = _clear_graph_ids(
        pipe, pipe.dicts(pipe.last_catalog_stage()), ("graph", EX + "graph1")
    )
    may = {
        t.name
        for t in cat.tables
        if _clear_may_affect(t, ("graph", EX + "graph1"), ids)
    }
    by_pred = _tables_by_pred(cat)
    assert by_pred[EX + "name"][0].name not in may  # statically pruned
    assert by_pred[EX + "color"][0].name in may
    assert by_pred[EX + "in"][0].name in may  # physical: conservative
    pipe.update(f"COPY GRAPH <{EX}graph1> TO GRAPH <{EX}graph3>")
    got = sorted(
        (r.s, r.o_lex)
        for r in pipe.triples_with_graph_iri().collect()
        if r.g == EX + "graph3"
    )
    assert got == [
        (EX + "t1", "red"),
        (EX + "t2", "blue"),
        (EX + "u1", EX + "g1"),
    ]


def test_update_sequence_and_stages(spark, tmp_path):
    """';'-separated operations apply in order, one committed stage each;
    the catalog chain stays readable (JSON roundtrip per stage)."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ <{EX}s9> <{EX}name> "zoe" }} ; '
        f'DELETE DATA {{ <{EX}s9> <{EX}name> "zoe" }}'
    )
    assert pipe.last_catalog_stage() == "U2"
    assert pipe.triples().count() == 4  # net no-op, through two snapshots
    # earlier snapshots remain queryable (time travel)
    assert len(pipe.catalog("U1").tables) > len(pipe.catalog("U2").tables) - 1
    prev = sparql_query(
        pipe, f'SELECT ?n WHERE {{ <{EX}s9> <{EX}name> ?n }}', stage="U1"
    )
    assert [r.n for r in prev.collect()] == ["zoe"]


def test_update_rebuilds_only_affected_tables(spark, tmp_path):
    """Deletion rewrites ONLY tables whose predicate is touched: every
    other TableSpec keeps its previous snapshot path. The fixture needs a
    DISJOINT-subject predicate — shared subjects merge into one wide
    table, and a merged table containing the deleted predicate is
    legitimately affected."""
    lines = [
        f'<{EX}s1> <{EX}name> "anna" .',
        f'<{EX}s2> <{EX}name> "bob" .',
        f'<{EX}t1> <{EX}color> "red" .',  # disjoint subject: own table
    ]
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.load(fx.source_files_df(spark, [fx._row("r", "m.nt", "\n".join(lines))]))
    before = {t.name: t.path for t in pipe.catalog().tables}
    pipe.update(f'DELETE DATA {{ <{EX}s2> <{EX}name> "bob" }}')
    after = pipe.catalog()
    untouched = [
        t for t in after.tables
        if all(pm.predicate != EX + "name" for pm in t.predicates)
    ]
    assert untouched and all(t.path == before.get(t.name) for t in untouched)
    assert all(
        not t.path.startswith("U1") for t in untouched
    )


def test_update_then_sparql_surface(spark, tmp_path):
    """The updated KG stays a first-class query target: BGP joins,
    variable predicates, GRAPH, and reconstruction all read the mixed
    old-table/delta-table catalog."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ <{EX}s1> <{EX}likes> <{EX}s2> . '
        f'<{EX}s2> <{EX}age> "9"^^<{XSD}integer> }}'
    )
    out = sparql_query(
        pipe,
        f"SELECT ?a ?b WHERE {{ ?a <{EX}likes> ?b . ?b <{EX}age> ?n }}",
    )
    assert [(r.a, r.b) for r in out.collect()] == [(EX + "s1", EX + "s2")]
    allp = sparql_query(pipe, "SELECT DISTINCT ?p WHERE { ?s ?p ?o }")
    assert EX + "likes" in {r.p for r in allp.collect()}


def test_graph_management_add_copy_move(spark, tmp_path):
    """ADD / COPY / MOVE (§3.2.5-3.2.7): dst := dst ∪ src / dst := src /
    dst := src with src dropped; DEFAULT names the loader-filled default
    graph."""
    pipe = _kg(spark, tmp_path)
    # ADD the default graph into a fresh named graph
    pipe.update(f"ADD DEFAULT TO GRAPH <{EX}arch>")
    arch = sparql_query(
        pipe, f"SELECT ?s ?p WHERE {{ GRAPH <{EX}arch> {{ ?s ?p ?o }} }}"
    )
    assert arch.count() == 3  # the 3 default-graph triples, copied
    assert pipe.triples().count() == 7  # originals survive
    # COPY graph1 over arch: arch is REPLACED by graph1's single triple
    pipe.update(f"COPY GRAPH <{EX}graph1> TO GRAPH <{EX}arch>")
    arch2 = sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}arch> {{ ?s ?p ?o }} }}"
    )
    assert [r.s for r in arch2.collect()] == [EX + "s2"]
    # MOVE arch to graph9: arch empties, graph9 holds the triple
    pipe.update(f"MOVE GRAPH <{EX}arch> TO GRAPH <{EX}graph9>")
    assert sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}arch> {{ ?s ?p ?o }} }}"
    ).count() == 0
    assert sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}graph9> {{ ?s ?p ?o }} }}"
    ).count() == 1
    # same-graph is the spec's no-op (no new stage)
    before = pipe.last_catalog_stage()
    pipe.update(f"MOVE GRAPH <{EX}graph9> TO GRAPH <{EX}graph9>")
    assert pipe.last_catalog_stage() == before


def test_new_graph_decodes_in_triples_with_graph_iri(spark, tmp_path):
    """Regression: graphs() must read the CURRENT catalog's (extended)
    graphs dictionary — a graph IRI first introduced by an update used to
    decode to NULL in triples_with_graph_iri (the stage-D dictionary
    predates it), even though SPARQL GRAPH queries saw it."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ GRAPH <{EX}brand_new> {{ <{EX}s7> <{EX}name> "gil" }} }}'
    )
    rows = [
        (r.s, r.g)
        for r in pipe.triples_with_graph_iri().collect()
        if r.s == EX + "s7"
    ]
    assert rows == [(EX + "s7", EX + "brand_new")]
    assert all(r.g is not None for r in pipe.triples_with_graph_iri().collect())


def test_create_graph(spark, tmp_path):
    from r2s2_spark.plans.sparql_update import SparqlUpdateError

    pipe = _kg(spark, tmp_path)
    before = pipe.last_catalog_stage()
    pipe.update(f"CREATE GRAPH <{EX}fresh>")  # unknown graph: no-op
    assert pipe.last_catalog_stage() == before
    with pytest.raises(SparqlUpdateError):
        pipe.update(f"CREATE GRAPH <{EX}graph1>")  # non-empty: spec error
    pipe.update(f"CREATE SILENT GRAPH <{EX}graph1>")  # SILENT: no-op
    assert pipe.last_catalog_stage() == before


# -- incremental load ---------------------------------------------------------


def test_append_incremental_load(spark, tmp_path):
    """pipe.append(source_files): new files load as one delta snapshot —
    new predicates become delta tables, overlapping triples dedupe (set
    semantics), existing tables stay referenced in place."""
    pipe = _kg(spark, tmp_path)
    extra = [
        f'<{EX}s1> <{EX}name> "anna" .',       # already present: dedupes
        f'<{EX}s5> <{EX}name> "eve" .',        # existing predicate, new row
        f'<{EX}s5> <{EX}born> "1990"^^<{XSD}integer> .',  # new predicate
        f'<{EX}s5> <{EX}in> <{EX}g2> <{EX}graph2> .',     # new graph
    ]
    pipe.append(
        fx.source_files_df(spark, [fx._row("r", "more.nq", "\n".join(extra))])
    )
    assert pipe.triples().count() == 7  # 4 + 3 new (one deduped)
    names = {
        r.n
        for r in sparql_query(
            pipe, f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}"
        ).collect()
    }
    assert names == {"anna", "bob", "eve"}
    born = sparql_query(pipe, f"SELECT ?b WHERE {{ ?s <{EX}born> ?b }}")
    assert [r.b for r in born.collect()] == ["1990"]
    g2 = sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}graph2> {{ ?s ?p ?o }} }}"
    )
    assert g2.count() == 1
    # idempotence: appending the same content again is a full no-op
    pipe.append(
        fx.source_files_df(spark, [fx._row("r", "more2.nq", "\n".join(extra))])
    )
    assert pipe.triples().count() == 7


def test_append_bnodes_stable_per_file(spark, tmp_path):
    """Appended bnode ids mint from the file sha256 + label, exactly like
    the initial load: the same content appends the same bnodes (retry/
    re-append stable), and joins across the bnode work."""
    pipe = _kg(spark, tmp_path)
    nt = f'_:a <{EX}knows> _:b .\n_:a <{EX}name> "ghost" .'
    pipe.append(fx.source_files_df(spark, [fx._row("r", "b.nt", nt)]))
    out = sparql_query(
        pipe, f'SELECT ?x WHERE {{ ?s <{EX}knows> ?x . ?s <{EX}name> "ghost" }}'
    )
    assert out.count() == 1  # _:a joins across the two appended triples
    n = pipe.triples().count()
    pipe.append(fx.source_files_df(spark, [fx._row("r", "b2.nt", nt)]))
    assert pipe.triples().count() == n  # same sha -> same bnodes -> no-op


def test_vacuum_expires_superseded_update_snapshots(spark, tmp_path):
    """vacuum(expire_superseded=True) on an update chain removes table
    dirs of OLDER snapshots the current catalog no longer references —
    and every query still answers from what remains."""
    import os

    pipe = _kg(spark, tmp_path)
    pipe.update(f'INSERT DATA {{ <{EX}s7> <{EX}name> "gus" }}')   # U1
    pipe.update(f'DELETE DATA {{ <{EX}s7> <{EX}name> "gus" }}')   # U2 (rebuild)
    stats = pipe.vacuum(expire_superseded=True)
    assert stats["superseded_removed"] >= 1  # U1's name delta superseded
    # current snapshot still fully queryable
    assert pipe.triples().count() == 4
    names = {
        r.n
        for r in sparql_query(
            pipe, f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}"
        ).collect()
    }
    assert names == {"anna", "bob"}
    # live table dirs survived
    for t in pipe.catalog().tables:
        assert os.path.isdir(os.path.join(pipe.io.root, t.path)), t.path


# -- LOAD / USING / GRAPH ?var templates (round 5) ----------------------------


def test_load_file_into_graph(spark, tmp_path):
    """LOAD <file:...> INTO GRAPH routes the whole document into the
    target graph through the engine's own parser; re-LOADing identical
    content is a set-semantics no-op (stable bnode ids)."""
    pipe = _kg(spark, tmp_path)
    doc = tmp_path / "extra.nt"
    doc.write_text(
        f'<{EX}s5> <{EX}name> "dora" .\n'
        f'_:b <{EX}knows> <{EX}s5> .\n'
    )
    pipe.update(f"LOAD <file://{doc}> INTO GRAPH <{EX}loaded>")
    assert pipe.triples().count() == 6
    got = sparql_query(
        pipe,
        f"SELECT ?s ?n WHERE {{ GRAPH <{EX}loaded> {{ ?s <{EX}name> ?n }} }}",
    ).collect()
    assert [(r.s, r.n) for r in got] == [(EX + "s5", "dora")]
    # bnode survived as a bnode in the loaded graph
    k = [r for r in pipe.triples().collect() if r.p == EX + "knows"]
    assert len(k) == 1 and k[0].s_kind == "bnode"
    # idempotent re-load (same sha256 -> same bnode ids -> anti-joined)
    pipe.update(f"LOAD <file://{doc}> INTO GRAPH <{EX}loaded>")
    assert pipe.triples().count() == 6


def test_load_defaults_and_failures(spark, tmp_path):
    from r2s2_spark.plans.sparql_update import SparqlUpdateError

    pipe = _kg(spark, tmp_path)
    ttl = tmp_path / "doc.ttl"
    ttl.write_text(f'@prefix ex: <{EX}> . ex:s6 ex:name "eli" .')
    # no INTO GRAPH: triples land in the default graph
    pipe.update(f"LOAD <file://{ttl}>")
    rows = sparql_query(
        pipe, f'SELECT ?g WHERE {{ GRAPH ?g {{ ?s <{EX}name> "eli" }} }}'
    ).collect()
    assert [r.g for r in rows] == [pipe.default_graph]
    n = pipe.triples().count()
    # failures: named errors without SILENT, spec no-ops with it
    with pytest.raises(SparqlUnsupported):
        pipe.update("LOAD <http://remote/doc.nt>")
    with pytest.raises(SparqlUpdateError):
        pipe.update(f"LOAD <file://{tmp_path}/missing.nt>")
    with pytest.raises(SparqlUpdateError):
        bad = tmp_path / "bad.nt"
        bad.write_text("this is not ntriples\n")
        pipe.update(f"LOAD <file://{bad}>")
    pipe.update(
        f"LOAD SILENT <http://remote/doc.nt> ; "
        f"LOAD SILENT <file://{tmp_path}/missing.nt> ; "
        f"LOAD SILENT <file://{tmp_path}/bad.nt>"
    )
    assert pipe.triples().count() == n


def test_modify_using_dataset(spark, tmp_path):
    """USING picks the WHERE dataset like FROM (§3.1.3.3): the same
    template deletes or not depending on the USING graph; USING NAMED
    restricts GRAPH ?g blocks."""
    pipe = _kg(spark, tmp_path)
    # WHERE runs against <graph1> as its default graph; template targets
    # <graph1> explicitly -> the quad goes
    pipe.update(
        f"DELETE {{ GRAPH <{EX}graph1> {{ ?s <{EX}in> ?o }} }} "
        f"USING <{EX}graph1> WHERE {{ ?s <{EX}in> ?o }}"
    )
    assert pipe.triples().count() == 3
    # a USING graph where the pattern matches nothing: no-op
    pipe2 = _kg(spark, tmp_path, "wd2")
    pipe2.update(
        f"DELETE {{ GRAPH <{EX}graph1> {{ ?s <{EX}in> ?o }} }} "
        f"USING <{EX}nosuch> WHERE {{ ?s <{EX}in> ?o }}"
    )
    assert pipe2.triples().count() == 4
    # USING NAMED <nosuch> leaves GRAPH ?g nothing to match
    pipe2.update(
        f"DELETE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }} "
        f"USING NAMED <{EX}nosuch> WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }}"
    )
    assert pipe2.triples().count() == 4
    pipe2.update(
        f"DELETE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }} "
        f"USING NAMED <{EX}graph1> WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }}"
    )
    assert pipe2.triples().count() == 3


def test_graph_var_template_cross_graph_move(spark, tmp_path):
    """GRAPH ?var templates instantiate the graph per solution: archive
    every named-graph triple of a predicate into <archive>, deleting it
    from whichever graph held it."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ GRAPH <{EX}graph2> {{ <{EX}s3> <{EX}in> <{EX}g3> }} }}'
    )
    pipe.update(
        f"DELETE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }} "
        f"INSERT {{ GRAPH <{EX}archive> {{ ?s <{EX}in> ?o }} }} "
        f"WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} . "
        f"FILTER(?g != <{EX}archive>) }}"
    )
    rows = sparql_query(
        pipe,
        f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }} ORDER BY ?s",
    ).collect()
    assert [(r.g, r.s) for r in rows] == [
        (EX + "archive", EX + "s2"),
        (EX + "archive", EX + "s3"),
    ]


def test_delete_where_graph_var_shorthand(spark, tmp_path):
    """DELETE WHERE { GRAPH ?g { ... } }: the shorthand's quad doubles as
    pattern (scope ?g) and template (per-solution graph)."""
    pipe = _kg(spark, tmp_path)
    pipe.update(f"DELETE WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }}")
    assert pipe.triples().count() == 3
    assert sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }}"
    ).count() == 0


# -- WHERE-form INSERT template bnodes (round 5) -------------------------------


def test_insert_template_bnode_fresh_per_solution(spark, tmp_path):
    """_:n in a WHERE-form INSERT mints ONE fresh bnode per solution
    (§3.1.3): shared across the solution's template quads, distinct
    between solutions."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f"INSERT {{ ?s <{EX}note> _:n . _:n <{EX}text> ?v }} "
        f"WHERE {{ ?s <{EX}name> ?v }}"
    )
    notes = [r for r in pipe.triples().collect() if r.p == EX + "note"]
    texts = [r for r in pipe.triples().collect() if r.p == EX + "text"]
    assert len(notes) == 2 and len(texts) == 2
    assert all(r.o_kind == "bnode" for r in notes)
    assert all(r.s_kind == "bnode" for r in texts)
    # distinct bnode per solution...
    assert len({r.o_lex for r in notes}) == 2
    # ...and the SAME bnode links the pair within one solution
    link = {r.s: r.o_lex for r in notes}
    text_of = {r.s: r.o_lex for r in texts}
    names = {r.s: r.o_lex for r in pipe.triples().collect() if r.p == EX + "name"}
    for subj, b in link.items():
        assert text_of[b] == names[subj]


def test_insert_template_bnode_retry_deterministic(spark, tmp_path):
    """Identically-built pipelines mint identical template bnode ids
    (pure function of stage + solution multiset), so a retried/resumed
    operation writes the same bytes."""
    quads = []
    for wd in ("wda", "wdb"):
        pipe = _kg(spark, tmp_path, wd, fresh=True)
        pipe.update(
            f"INSERT {{ ?s <{EX}note> _:n }} WHERE {{ ?s <{EX}name> ?v }}"
        )
        quads.append(_quads(pipe))
    assert quads[0] == quads[1]


def test_insert_template_bnode_duplicate_solutions_distinct(spark, tmp_path):
    """A WHERE is a multiset: two solutions with identical bindings still
    mint DISTINCT bnodes (duplicate-rank row_number under the
    fingerprint window)."""
    pipe = _kg(spark, tmp_path)
    # ?v binds "anna"/"bob"; projecting a constant via the template-only
    # bnode means both template rows are driven by distinct solutions —
    # force true duplicates with a UNION of the same pattern
    pipe.update(
        f"INSERT {{ <{EX}s9> <{EX}mark> _:m }} WHERE {{ "
        f"{{ <{EX}s1> <{EX}name> ?v }} UNION {{ <{EX}s1> <{EX}name> ?v }} }}"
    )
    marks = [r for r in pipe.triples().collect() if r.p == EX + "mark"]
    assert len(marks) == 2
    assert len({r.o_lex for r in marks}) == 2


def test_update_template_path_bound_var_named_error(spark, tmp_path):
    """A template variable bound by a PROPERTY PATH has no tracked term
    kind — instantiation would silently drop every row; the module
    contract promises a named error instead."""
    pipe = _kg(spark, tmp_path)
    with pytest.raises(SparqlUnsupported, match="property path"):
        pipe.update(
            f"DELETE {{ ?a <{EX}reach> ?b }} "
            f"WHERE {{ ?a <{EX}in>+ ?b }}"
        )
    with pytest.raises(SparqlUnsupported, match="property path"):
        # bound by a path AND a plain pattern: still rejected — metadata
        # through the join is first-pattern-wins, i.e. order-dependent
        pipe.update(
            f"INSERT {{ ?s <{EX}tag> \"t\" }} "
            f"WHERE {{ ?s <{EX}in>* ?x . ?s <{EX}name> ?n }}"
        )
    # a path used only for SELECTION (no template var touches it) is fine
    pipe.update(
        f"INSERT {{ <{EX}s1> <{EX}allnames> ?n }} "
        f"WHERE {{ ?s <{EX}name> ?n . ?s <{EX}in>* ?x }}"
    )
    assert sparql_query(
        pipe, f"SELECT ?n WHERE {{ <{EX}s1> <{EX}allnames> ?n }}"
    ).count() == 2  # anna + bob, deduped across path solutions


def test_update_boolean_literals(spark, tmp_path):
    """true/false are valid literals in quad data and templates (§19.8)."""
    pipe = _kg(spark, tmp_path)
    pipe.update(f"INSERT DATA {{ <{EX}s1> <{EX}ok> true }}")
    out = sparql_query(pipe, f"SELECT ?v WHERE {{ <{EX}s1> <{EX}ok> ?v }}")
    assert [r.v for r in out.collect()] == ["true"]
    pipe.update(f"DELETE DATA {{ <{EX}s1> <{EX}ok> true }}")
    assert sparql_query(
        pipe, f"SELECT ?v WHERE {{ <{EX}s1> <{EX}ok> ?v }}"
    ).count() == 0


def test_move_commits_one_atomic_stage(spark, tmp_path):
    """MOVE (and COPY over a non-empty destination) commit ONE stage: the
    destination drop, the retargeted insert, and the source drop are a
    single snapshot — a failure mid-operation can never leave a
    half-applied state (it used to be 2-3 independently committed
    stages)."""
    pipe = _graph_kg(spark, tmp_path)
    pipe.update(f'INSERT DATA {{ GRAPH <{EX}dstg> {{ <{EX}d1> <{EX}color> "old" }} }}')
    assert pipe.last_catalog_stage() == "U1"
    pipe.update(f"MOVE GRAPH <{EX}graph1> TO GRAPH <{EX}dstg>")
    assert pipe.last_catalog_stage() == "U2"  # exactly one new stage
    rows = sorted(
        (r.s, r.g) for r in pipe.triples_with_graph_iri().collect()
    )
    assert (EX + "d1", EX + "dstg") not in rows      # dst replaced
    assert not [r for r in rows if r[1] == EX + "graph1"]  # src emptied
    assert (EX + "t1", EX + "dstg") in rows and (EX + "u1", EX + "dstg") in rows
    pipe.update(f"COPY GRAPH <{EX}graph2> TO GRAPH <{EX}dstg>")
    assert pipe.last_catalog_stage() == "U3"
    assert sparql_query(
        pipe, f"SELECT ?s WHERE {{ GRAPH <{EX}dstg> {{ ?s ?p ?o }} }}"
    ).count() == 1  # dst := graph2's single triple


def test_update_template_predicate_var_contract(spark, tmp_path):
    """A template variable in predicate position is an IRI by
    construction ONLY when bound in predicate position of a WHERE
    pattern; BIND-bound text must stay a named error, not extend the
    predicates dictionary with arbitrary strings."""
    pipe = _kg(spark, tmp_path)
    # pattern-pred-bound: allowed (archive every s1 statement as-is)
    pipe.update(
        f"INSERT {{ GRAPH <{EX}arch> {{ ?s ?p ?o }} }} "
        f"WHERE {{ ?s ?p ?o . FILTER(?s = <{EX}s1>) }}"
    )
    n = sparql_query(
        pipe, f"SELECT ?p WHERE {{ GRAPH <{EX}arch> {{ ?s ?p ?o }} }}"
    ).count()
    assert n == 2  # s1's name + age
    with pytest.raises(SparqlUnsupported, match="statically-tracked"):
        pipe.update(
            f"INSERT {{ ?s ?p2 <{EX}o> }} "
            f'WHERE {{ ?s <{EX}name> ?n . BIND(CONCAT("x ", ?n) AS ?p2) }}'
        )


def test_load_dedupes_document(spark, tmp_path):
    """A document repeating the same triple LOADs as ONE triple (an RDF
    graph is a set)."""
    doc = tmp_path / "dup.nt"
    doc.write_text(
        f'<{EX}s9> <{EX}name> "zoe" .\n<{EX}s9> <{EX}name> "zoe" .\n'
    )
    pipe = _kg(spark, tmp_path)
    pipe.update(f"LOAD <file://{doc}>")
    out = sparql_query(pipe, f"SELECT ?n WHERE {{ <{EX}s9> <{EX}name> ?n }}")
    assert [r.n for r in out.collect()] == ["zoe"]
    assert pipe.triples().count() == 5


def test_anon_bnode_label_no_collision(spark, tmp_path):
    """'[]' anon bnodes mint in a namespace no user label can reach — a
    user-written _:__anon1 stays a DISTINCT blank node."""
    pipe = _kg(spark, tmp_path)
    pipe.update(
        f'INSERT DATA {{ [] <{EX}tag> "a" . _:__anon1 <{EX}tag> "b" }}'
    )
    rows = [r for r in pipe.triples().collect() if r.p == EX + "tag"]
    assert len(rows) == 2
    assert rows[0].s != rows[1].s  # two distinct bnodes


def test_template_graph_var_bind_bound_is_named_error(spark, tmp_path):
    """ADVICE r6: a template GRAPH ?var bound only by BIND/VALUES has no
    statically-tracked term kind — it must raise the same named error as
    term positions, NOT fall back to kind 'iri' and store literal text
    as a graph name. Graph-scope-bound and predicate-bound variables
    keep the IRI-by-construction fast path."""
    pipe = _kg(spark, tmp_path)
    # graph-scope-bound: still allowed (copy s2's graph1 statement into
    # a per-solution target graph named by the source graph)
    pipe.update(
        f"INSERT {{ GRAPH ?g {{ ?s <{EX}seen> ?o }} }} "
        f"WHERE {{ GRAPH ?g {{ ?s <{EX}in> ?o }} }}"
    )
    n = sparql_query(
        pipe,
        f"SELECT ?s WHERE {{ GRAPH <{EX}graph1> {{ ?s <{EX}seen> ?o }} }}",
    ).count()
    assert n == 1
    with pytest.raises(SparqlUnsupported, match="graph variable"):
        pipe.update(
            f"INSERT {{ GRAPH ?g {{ ?s <{EX}flag> \"y\" }} }} "
            f'WHERE {{ ?s <{EX}name> ?n . BIND(CONCAT("not ", "an iri") AS ?g) }}'
        )


def test_load_percent_encoded_file_iri(spark, tmp_path):
    """ADVICE r6: a spec-legal percent-encoded file IRI
    (<file:///tmp/my%20file.nt>) must resolve to the decoded local path."""
    pipe = _kg(spark, tmp_path)
    doc = tmp_path / "my file.nt"
    doc.write_text(f'<{EX}s9> <{EX}zone> "z9" .\n')
    from urllib.parse import quote

    pipe.update(f"LOAD <file://{quote(str(doc))}> INTO GRAPH <{EX}loaded>")
    got = sparql_query(
        pipe, f"SELECT ?o WHERE {{ GRAPH <{EX}loaded> {{ ?s <{EX}zone> ?o }} }}"
    ).collect()
    assert [r["o"] for r in got] == ["z9"]
