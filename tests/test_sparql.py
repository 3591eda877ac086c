"""BGP queries over the vertical tables (the reference's SPARQL surface,
SparqlOnLoadedTest.java:104-145, minus the Ontop dependency)."""

import pytest
from pyspark.sql import functions as F

from r2s2_spark.naming import EX, RDF, RDFS, RDF_TYPE, XSD
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.plans.sparql import Literal, bgp_on_pipeline
from r2s2_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    p = KgPipeline(spark, str(tmp_path_factory.mktemp("sparql") / "wd"))
    p.load(fx.fixture_oddeven(spark, with_labels=True))
    return p


def test_select_distinct_type(pipe):
    """SELECT DISTINCT ?type WHERE { [] a ?type } — the reference's
    flagship query, as a BGP."""
    out = bgp_on_pipeline(pipe, [("?s", RDF_TYPE, "?type")], select=["?type"], distinct=True)
    assert {r.type for r in out.collect()} == {EX + "odd", EX + "even"}


def test_two_pattern_join(pipe):
    """{ ?s a ?t . ?s rdfs:label ?l } — a self-join over subject."""
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, "?t"), ("?s", RDFS + "label", "?l")],
        select=["?s", "?t", "?l"],
    )
    rows = out.collect()
    assert len(rows) == 99
    by_s = {r.s: (r.t, r.l) for r in rows}
    # reference's inverted ternary: even i -> ex:odd
    assert by_s[EX + "i4"] == (EX + "odd", "4")
    assert by_s[EX + "i7"] == (EX + "even", "7")


def test_constant_object_and_subject(pipe):
    odd = bgp_on_pipeline(pipe, [("?s", RDF_TYPE, EX + "odd")], select=["?s"])
    assert odd.count() == 49  # even i in 1..99 -> 49 subjects
    lbl = bgp_on_pipeline(
        pipe,
        [(EX + "i42", RDFS + "label", "?l")],
        select=["?l"],
    )
    assert [r.l for r in lbl.collect()] == ["42"]


def test_repeated_variable_within_pattern(spark, tmp_path):
    """('?x', p, '?x') is an s==o equality constraint, not a rebinding
    (regression: the second binding used to silently overwrite the first)."""
    nt = "\n".join(
        [
            f"<{EX}self> <{EX}rel> <{EX}self> .",
            f"<{EX}a> <{EX}rel> <{EX}b> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "self.nt", nt)]))
    out = bgp_on_pipeline(p, [("?x", EX + "rel", "?x")], select=["?x"])
    assert [r.x for r in out.collect()] == [EX + "self"]


def test_literal_constant_with_datatype(pipe):
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDFS + "label", Literal("7", datatype=XSD + "int"))],
        select=["?s"],
    )
    assert [r.s for r in out.collect()] == [EX + "i7"]


def test_bgp_after_merge_sees_merged_tables(spark, tmp_path):
    """BGPs read through the catalog, so merged (denormalized) tables and
    virtual columns are transparent."""
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.load(fx.fixture_loading(spark))
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, RDF + "Bag"), ("?s", RDFS + "label", "?l")],
        select=["?s", "?l"],
    )
    rows = {(r.s, r.l) for r in out.collect()}
    # Alt and List are rdf:type Bag; labels come from boolean/cz/en-UK/date tables
    assert (RDF + "Alt", "杭州市") in rows
    assert all(s in (RDF + "Alt", RDF + "List") for s, _ in rows)


def test_variable_predicate(pipe):
    """{ ?s ?p ?o } and { <s> ?p ?o } union over ALL predicate maps
    (SparqlOnLoadedTest parity notch: the reference answers these through
    Ontop; variable predicates used to raise NotImplementedError)."""
    allp = bgp_on_pipeline(pipe, [("?s", "?p", "?o")], select=["?p"], distinct=True)
    assert {r.p for r in allp.collect()} == {RDF_TYPE, RDFS + "label"}
    spo = bgp_on_pipeline(pipe, [(EX + "i42", "?p", "?o")], select=["?p", "?o"])
    assert {(r.p, r.o) for r in spo.collect()} == {
        (RDF_TYPE, EX + "odd"),
        (RDFS + "label", "42"),
    }
    # full scan row count: 99 types + 99 labels
    assert bgp_on_pipeline(pipe, [("?s", "?p", "?o")]).count() == 198


def test_optional_group(spark, tmp_path):
    """{ ?s ex:name ?n } OPTIONAL { ?s ex:age ?a }: subjects without an
    age keep their name row with a NULL binding (SPARQL 1.1 left join)."""
    nt = "\n".join(
        [
            f'<{EX}s1> <{EX}name> "anna" .',
            f'<{EX}s1> <{EX}age> "7"^^<{XSD}int> .',
            f'<{EX}s2> <{EX}name> "bob" .',
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "opt.nt", nt)]))
    out = bgp_on_pipeline(
        p,
        [("?s", EX + "name", "?n")],
        select=["?n", "?a"],
        optional=[[("?s", EX + "age", "?a")]],
    )
    assert {(r.n, r.a) for r in out.collect()} == {("anna", "7"), ("bob", None)}


def test_filter_expression(pipe):
    """FILTER over bound variables: { ?s rdfs:label ?l . FILTER(?l > 90) }
    — applied post-join; Catalyst pushes the predicate into the scan."""
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDFS + "label", "?l")],
        select=["?l"],
        filter=F.col("l").cast("int") > 90,
    )
    assert {int(r.l) for r in out.collect()} == set(range(91, 100))


def test_union_groups(pipe):
    """{ ?s a ex:odd } UNION { ?s a ex:even } covers all 99 subjects;
    branches binding different variables yield NULL for the unbound one."""
    from r2s2_spark.plans.sparql import bgp_union_on_pipeline

    both = bgp_union_on_pipeline(
        pipe,
        [[("?s", RDF_TYPE, EX + "odd")], [("?s", RDF_TYPE, EX + "even")]],
        select=["?s"],
        distinct=True,
    )
    assert both.count() == 99
    mixed = bgp_union_on_pipeline(
        pipe,
        [[("?s", RDF_TYPE, EX + "odd")], [("?x", RDFS + "label", "?l")]],
    )
    rows = mixed.collect()
    assert len(rows) == 49 + 99
    assert sum(1 for r in rows if r.s is None) == 99  # label branch binds ?x/?l


def test_property_path_plus(spark, tmp_path):
    """Property path p+ (one-or-more): semi-naive transitive closure over
    the predicate's pairs, joinable with other patterns like any BGP."""
    from r2s2_spark.plans.sparql import PathPlus

    nt = "\n".join(
        [
            f"<{EX}a> <{EX}next> <{EX}b> .",
            f"<{EX}b> <{EX}next> <{EX}c> .",
            f"<{EX}c> <{EX}next> <{EX}d> .",
            f'<{EX}d> <{EX}name> "dee" .',
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "path.nt", nt)]))
    reach = bgp_on_pipeline(p, [(EX + "a", PathPlus(EX + "next"), "?x")], select=["?x"])
    assert {r.x for r in reach.collect()} == {EX + "b", EX + "c", EX + "d"}
    all_pairs = bgp_on_pipeline(p, [("?x", PathPlus(EX + "next"), "?y")])
    assert all_pairs.count() == 6  # 3 + 2 + 1
    # composed with a second pattern: everything reaching something named
    named = bgp_on_pipeline(
        p,
        [("?x", PathPlus(EX + "next"), "?y"), ("?y", EX + "name", "?n")],
        select=["?x", "?n"],
    )
    assert {(r.x, r.n) for r in named.collect()} == {
        (EX + "a", "dee"), (EX + "b", "dee"), (EX + "c", "dee"),
    }


def test_bgp_constant_predicate_prunes_scans(pipe):
    """A constant-predicate pattern must scan ONLY that predicate's table
    directories. At stage O (pre-merge) { ?s rdfs:label ?l } touches no
    type-table path; post-merge the label columns legitimately live INSIDE
    the type tables — then the plan must still read only the label column
    (column pruning), never the type table's other columns."""
    out = bgp_on_pipeline(pipe, [("?s", RDFS + "label", "?l")], select=["?l"], stage="O")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rdfs_label" in plan
    assert "/type_" not in plan, plan

    merged = bgp_on_pipeline(pipe, [("?s", RDFS + "label", "?l")], select=["?l"], stage="M")
    mplan = merged._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", mplan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        # batched small tables store generic positional names (c0..cN;
        # TableSpec.storage_columns maps back) — there pruning shows as
        # WIDTH: only the subject/label positions may be read, never the
        # type table's full column set
        plain = {c for c in cols if not re.fullmatch(r"c\d+", c)}
        assert all("label" in c or c.startswith("subject_") for c in plain), cols
        assert len(cols) <= 2, cols


def test_graph_constant_from(spark, tmp_path):
    """The reference's flagship FROM query (SparqlOnLoadedTest.java:117):
    SELECT DISTINCT ?type FROM <graph> WHERE {[] a ?type} — positive (the
    graph holding data) and negative (a second graph that must NOT leak
    in), on the odd/even fixture quadded into two named graphs."""
    nq = "\n".join(
        [
            f"<{EX}i1> <{RDF_TYPE}> <{EX}even> <{EX}g/one> .",
            f"<{EX}i2> <{RDF_TYPE}> <{EX}odd> <{EX}g/one> .",
            f"<{EX}i3> <{RDF_TYPE}> <{EX}other> <{EX}g/two> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "g.nq", nq)]))
    one = bgp_on_pipeline(
        p, [("?s", RDF_TYPE, "?t")], select=["?t"], distinct=True, graph=EX + "g/one"
    )
    assert {r.t for r in one.collect()} == {EX + "even", EX + "odd"}
    two = bgp_on_pipeline(
        p, [("?s", RDF_TYPE, "?t")], select=["?t"], distinct=True, graph=EX + "g/two"
    )
    assert {r.t for r in two.collect()} == {EX + "other"}
    # a graph with no data matches nothing (not everything)
    none = bgp_on_pipeline(
        p, [("?s", RDF_TYPE, "?t")], select=["?t"], graph=EX + "g/absent"
    )
    assert none.count() == 0


def test_graph_variable_binds_iri(spark, tmp_path):
    """GRAPH ?g { ?s a ?t }: each solution carries its graph IRI; joins on
    a shared graph variable keep patterns within one graph."""
    nq = "\n".join(
        [
            f"<{EX}a> <{RDF_TYPE}> <{EX}T> <{EX}g/one> .",
            f'<{EX}a> <{RDFS}label> "in-one" <{EX}g/one> .',
            f'<{EX}a> <{RDFS}label> "in-two" <{EX}g/two> .',
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "gv.nq", nq)]))
    out = bgp_on_pipeline(
        p, [("?s", RDF_TYPE, "?t")], select=["?s", "?g"], graph="?g"
    )
    assert {(r.s, r.g) for r in out.collect()} == {(EX + "a", EX + "g/one")}
    # two patterns sharing ?g: the label must come from the SAME graph as
    # the type — "in-two" (other graph) is excluded
    joined = bgp_on_pipeline(
        p,
        [("?s", RDF_TYPE, "?t"), ("?s", RDFS + "label", "?l")],
        select=["?l", "?g"],
        graph="?g",
    )
    assert {(r.l, r.g) for r in joined.collect()} == {("in-one", EX + "g/one")}


def test_graph_collapsed_set_still_queryable(spark, tmp_path):
    """After stage O's multi-graph collapse (graph_set arrays) the GRAPH
    surface still works — set membership is exploded per pattern."""
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.fixture_multigraph(spark))
    per_graph = bgp_on_pipeline(
        p, [("?s", "?p", "?o")], select=["?g"], graph="?g", stage="M"
    )
    gs = [r.g for r in per_graph.collect()]
    assert sorted(gs) == [
        "http://example.org/oneGraph",
        "http://example.org/zeroGraph",
    ]


def test_path_star_and_opt(spark, tmp_path):
    """p* = closure + zero-length (§9.3: every term of the graph for a
    both-variable pair; a constant endpoint matches itself without a
    scan); p? = base + zero-length."""
    from r2s2_spark.plans.sparql import PathOpt, PathStar

    nt = "\n".join(
        [
            f"<{EX}a> <{EX}next> <{EX}b> .",
            f"<{EX}b> <{EX}next> <{EX}c> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "star.nt", nt)]))
    star = bgp_on_pipeline(p, [(EX + "a", PathStar(EX + "next"), "?x")], select=["?x"])
    assert {r.x for r in star.collect()} == {EX + "a", EX + "b", EX + "c"}
    all_star = bgp_on_pipeline(p, [("?x", PathStar(EX + "next"), "?y")])
    # 3 reflexive (a,b,c) + 2 edges + 1 transitive = 6
    assert all_star.count() == 6
    opt = bgp_on_pipeline(p, [(EX + "a", PathOpt(EX + "next"), "?x")], select=["?x"])
    assert {r.x for r in opt.collect()} == {EX + "a", EX + "b"}


def test_zero_length_path_spec_semantics(spark, tmp_path):
    """§9.3 ZeroLengthPath: a both-variable p* pairs EVERY term of the
    graph with itself — including terms never incident to p (the
    pre-round-5 narrowing missed them); a constant endpoint matches
    itself even when absent from the graph entirely; two constants match
    iff equal."""
    from r2s2_spark.plans.sparql import PathOpt, PathStar

    nt = "\n".join(
        [
            f"<{EX}a> <{EX}next> <{EX}b> .",
            f"<{EX}x> <{EX}other> <{EX}y> .",  # not incident to ex:next
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "zl.nt", nt)]))
    all_star = bgp_on_pipeline(p, [("?s", PathStar(EX + "next"), "?o")])
    rows = {(r[0], r[1]) for r in all_star.collect()}
    # 4 reflexive nodes (a, b, x, y) + the one edge
    expect = {(EX + t, EX + t) for t in "abxy"} | {(EX + "a", EX + "b")}
    assert rows == expect
    # constant endpoint absent from the graph still matches itself
    ghost = bgp_on_pipeline(
        p, [(EX + "ghost", PathStar(EX + "next"), "?x")], select=["?x"]
    )
    assert [r.x for r in ghost.collect()] == [EX + "ghost"]
    # two constants: equal matches (marker row), unequal does not
    eq = bgp_on_pipeline(p, [(EX + "g2", PathOpt(EX + "next"), EX + "g2")])
    assert eq.count() == 1
    ne = bgp_on_pipeline(p, [(EX + "g2", PathOpt(EX + "next"), EX + "g3")])
    assert ne.count() == 0


def test_zero_length_path_graph_scoped(spark, tmp_path):
    """Zero-length node enumeration respects the active graph: GRAPH
    <iri> restricts the §9.3 node set to that graph's terms, and GRAPH
    ?g enumerates per named graph."""
    from r2s2_spark.plans.sparql import PathStar

    nq = "\n".join(
        [
            f"<{EX}a> <{EX}next> <{EX}b> <{EX}g1> .",
            f"<{EX}x> <{EX}other> <{EX}y> <{EX}g2> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "zl.nq", nq)]))
    g1 = bgp_on_pipeline(
        p, [("?s", PathStar(EX + "next"), "?o")], graph=EX + "g1"
    )
    rows = {(r[0], r[1]) for r in g1.collect()}
    assert rows == {
        (EX + "a", EX + "a"), (EX + "b", EX + "b"), (EX + "a", EX + "b"),
    }
    # GRAPH <g2> holds no ex:next edges: only its own terms' reflexive
    # pairs remain
    g2 = bgp_on_pipeline(
        p, [("?s", PathStar(EX + "next"), "?o")], graph=EX + "g2"
    )
    rows2 = {(r[0], r[1]) for r in g2.collect()}
    assert rows2 == {(EX + "x", EX + "x"), (EX + "y", EX + "y")}
    # GRAPH ?g: per-graph node sets, the graph variable bound per row
    gv = bgp_on_pipeline(
        p, [("?s", PathStar(EX + "next"), "?o")], graph="?g"
    )
    by_g = {}
    for r in gv.collect():
        by_g.setdefault(r.g, set()).add((r.s, r.o))
    assert by_g[EX + "g1"] == {
        (EX + "a", EX + "a"), (EX + "b", EX + "b"), (EX + "a", EX + "b"),
    }
    assert by_g[EX + "g2"] == {(EX + "x", EX + "x"), (EX + "y", EX + "y")}


def test_path_sequence_and_alternation(spark, tmp_path):
    """p1/p2 chains through a hidden variable; p1|p2 unions branches;
    ^(p1/p2) normalizes to ^p2/^p1."""
    from r2s2_spark.plans.sparql import PathAlt, PathInverse, PathSeq

    nt = "\n".join(
        [
            f"<{EX}a> <{EX}p1> <{EX}m> .",
            f"<{EX}m> <{EX}p2> <{EX}z> .",
            f"<{EX}a> <{EX}q> <{EX}w> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "seq.nt", nt)]))
    seq = bgp_on_pipeline(
        p, [(EX + "a", PathSeq((EX + "p1", EX + "p2")), "?x")], select=["?x"]
    )
    assert [r.x for r in seq.collect()] == [EX + "z"]
    inv_seq = bgp_on_pipeline(
        p,
        [(EX + "z", PathInverse(PathSeq((EX + "p1", EX + "p2"))), "?x")],
        select=["?x"],
    )
    assert [r.x for r in inv_seq.collect()] == [EX + "a"]
    alt = bgp_on_pipeline(
        p, [(EX + "a", PathAlt((EX + "p1", EX + "q")), "?x")], select=["?x"]
    )
    assert {r.x for r in alt.collect()} == {EX + "m", EX + "w"}


def test_minus_groups(pipe):
    """{ ?s a ?t } MINUS { ?s a ex:odd }: odd-typed subjects drop; a MINUS
    group sharing no variable removes nothing (SPARQL 1.1 §8.3)."""
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, "?t")],
        select=["?s"],
        minus=[[("?s", RDF_TYPE, EX + "odd")]],
    )
    assert out.count() == 50  # 99 - 49 odd-typed
    disjoint = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, "?t")],
        minus=[[("?x", RDF_TYPE, EX + "odd")]],
    )
    assert disjoint.count() == 99  # no shared variable -> nothing removed


def test_optional_disjoint_group_keeps_required(spark, tmp_path):
    """OPTIONAL group sharing NO variable with the required part: required
    solutions must survive whether the group matches (cross-product
    semantics) or is EMPTY (unbound vars) — SPARQL LeftJoin (ADVICE r2:
    the old crossJoin dropped everything on an empty group)."""
    nt = "\n".join(
        [
            f'<{EX}s1> <{EX}name> "anna" .',
            f'<{EX}s2> <{EX}name> "bob" .',
            f'<{EX}t1> <{EX}tag> "x" .',
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "od.nt", nt)]))
    # non-empty disjoint group: cross product (2 names x 1 tag)
    full = bgp_on_pipeline(
        p,
        [("?s", EX + "name", "?n")],
        select=["?n", "?v"],
        optional=[[("?t", EX + "tag", "?v")]],
    )
    assert {(r.n, r.v) for r in full.collect()} == {("anna", "x"), ("bob", "x")}
    # EMPTY disjoint group: both required rows survive with NULL binding
    empty = bgp_on_pipeline(
        p,
        [("?s", EX + "name", "?n")],
        select=["?n", "?v"],
        optional=[[("?t", EX + "nosuch", "?v")]],
    )
    assert {(r.n, r.v) for r in empty.collect()} == {("anna", None), ("bob", None)}


def test_inverse_path(spark, tmp_path):
    """^p and ^(p+): (s, ^p, o) == (o, p, s); composes with closure."""
    from r2s2_spark.plans.sparql import PathInverse, PathPlus

    nt = "\n".join(
        [
            f"<{EX}a> <{EX}next> <{EX}b> .",
            f"<{EX}b> <{EX}next> <{EX}c> .",
        ]
    )
    p = KgPipeline(spark, str(tmp_path / "wd"))
    p.load(fx.source_files_df(spark, [fx._row("r", "inv.nt", nt)]))
    inv = bgp_on_pipeline(p, [(EX + "b", PathInverse(EX + "next"), "?x")], select=["?x"])
    assert [r.x for r in inv.collect()] == [EX + "a"]
    inv_plus = bgp_on_pipeline(
        p, [(EX + "c", PathInverse(PathPlus(EX + "next")), "?x")], select=["?x"]
    )
    assert {r.x for r in inv_plus.collect()} == {EX + "a", EX + "b"}


def test_filter_exists_and_not_exists(pipe):
    """FILTER EXISTS / NOT EXISTS (SPARQL 1.1 §8.1.1) on the odd/even
    fixture with labels: keep subjects that do (not) have a label."""
    out = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, EX + "even")],
        select=["?s"],
        exists=[[("?s", RDFS + "label", "?l")]],
    )
    assert out.count() == 50  # every even-classed subject has a label
    none = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, EX + "even")],
        select=["?s"],
        not_exists=[[("?s", RDFS + "label", "?l")]],
    )
    assert none.count() == 0
    # disjoint-variable EXISTS: group non-empty -> all pass; group over an
    # absent predicate -> empty -> all drop (and NOT EXISTS inverts)
    alive = bgp_on_pipeline(
        pipe, [("?s", RDF_TYPE, EX + "even")],
        exists=[[("?x", RDFS + "label", "?l")]],
    )
    assert alive.count() == 50
    dead = bgp_on_pipeline(
        pipe, [("?s", RDF_TYPE, EX + "even")],
        exists=[[("?x", EX + "nosuch", "?l")]],
    )
    assert dead.count() == 0
    inverted = bgp_on_pipeline(
        pipe, [("?s", RDF_TYPE, EX + "even")],
        not_exists=[[("?x", EX + "nosuch", "?l")]],
    )
    assert inverted.count() == 50


def test_bind_and_aggregates(pipe):
    """BIND + GROUP BY aggregates (SPARQL 1.1 §11): count subjects per
    class, and bind a computed column usable by a later FILTER."""
    counts = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, "?t")],
        group_by=["?t"],
        agg={"n": F.count(F.lit(1))},
        select=["?t", "?n"],
    )
    got = {r.t: r.n for r in counts.collect()}
    assert got == {EX + "even": 50, EX + "odd": 49}
    total = bgp_on_pipeline(
        pipe, [("?s", RDF_TYPE, "?t")], group_by=[], agg={"n": F.count(F.lit(1))}
    )
    assert total.collect()[0].n == 99
    bound = bgp_on_pipeline(
        pipe,
        [("?s", RDF_TYPE, "?t")],
        bind=[(lambda df: F.upper(df.t), "?ut")],
        filter=lambda df: df.ut.endswith("EVEN"),
        select=["?s", "?ut"],
    )
    assert bound.count() == 50


def test_transitive_plus_doubling_on_deep_chain(spark):
    """A 100-deep chain (diameter far past _LINEAR_ROUNDS) must close via
    PATH DOUBLING: after 8 semi-naive rounds the closure squares itself,
    reaching depth 100 in ~4 more rounds instead of ~92 — asserted as a
    Spark-job budget (each round is a bounded handful of jobs), plus the
    exact closure: n*(n+1)/2 pairs for a chain of n edges."""
    from r2s2_spark.plans.sparql import _transitive_plus

    n = 100
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "__s long, __o long"
    )
    store = spark.sparkContext._jsc.sc().statusStore()
    j0 = store.jobsList(None).size()
    out = _transitive_plus(edges, max_iter=64)
    assert out.count() == n * (n + 1) // 2
    jobs = store.jobsList(None).size() - j0
    # 8 linear + ~4 doubling + 1 final empty round at ~10 jobs each
    # (checkpoints, emptiness probe, union checkpoint, AQE subjobs);
    # the linear-only design needed ~99 rounds (~1000 jobs)
    assert jobs < 160, f"deep-chain closure ran {jobs} jobs"
    # per-group closure still respected with doubling active: two
    # disjoint 50-chains in separate groups never cross
    ge = spark.createDataFrame(
        [(i, i + 1, "a") for i in range(50)]
        + [(1000 + i, 1001 + i, "b") for i in range(50)],
        "__s long, __o long, g string",
    )
    got = _transitive_plus(ge, max_iter=64, group_cols=("g",))
    assert got.count() == 2 * (50 * 51 // 2)
    assert got.where("g = 'a' AND __s >= 1000").count() == 0


def _mixed_shape_kg(spark, tmp_path, wd: str) -> KgPipeline:
    """12-predicate KG spanning every fusable structure: IRI objects,
    plain / typed / language-tagged literals, and named graphs — DISJOINT
    subject spaces per predicate so stage M keeps one small table per
    predicate (shared subjects would merge everything into one wide
    table, where predicate maps occupy distinct storage positions and
    nothing fuses), all small enough to land in shared partitionBy('t')
    batches."""
    xsd_int = f"{XSD}integer"
    lines = []
    for i in range(8):
        for p in range(3):
            lines.append(f"<{EX}r{p}s{i}> <{EX}ref{p}> <{EX}o{i * 3 + p}> .")
            lines.append(f'<{EX}l{p}s{i}> <{EX}lit{p}> "v{i}-{p}" .')
            lines.append(
                f'<{EX}n{p}s{i}> <{EX}num{p}> "{i * 10 + p}"^^<{xsd_int}> .'
            )
        lines.append(f'<{EX}bs{i}> <{EX}lab> "hello {i}"@en .')
        lines.append(
            f'<{EX}gs{i}> <{EX}in> <{EX}g{i % 2}> <{EX}graph{i % 2}> .'
        )
        lines.append(f"<{EX}as{i}> <{EX}also> <{EX}o{i}> <{EX}graph{i % 2}> .")
    pipe = KgPipeline(spark, str(tmp_path / wd))
    src = fx.source_files_df(
        spark, [fx._row("r", "mix.nq", "\n".join(lines))]
    )
    pipe.load(src)
    return pipe


def test_fused_varpred_scan_matches_per_table(spark, tmp_path, monkeypatch):
    """The fused variable-predicate scan (one branch per structural
    signature over the shared batch read, constants broadcast-joined)
    must be result-identical to the per-table path for every term shape:
    IRI / plain / typed / language-tagged objects, named graphs, and
    term-metadata (LANG/DATATYPE) columns riding the scan."""
    from r2s2_spark.plans import r2rml as rr
    from r2s2_spark.plans.sparql_text import sparql_query

    pipe = _mixed_shape_kg(spark, tmp_path, "fuse")
    queries = [
        "SELECT ?s ?p ?o WHERE { ?s ?p ?o }",
        "SELECT ?g ?p (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }"
        " GROUP BY ?g ?p",
        # LANG/DATATYPE put ?o in term_meta -> metadata columns must
        # travel through the fused branch identically
        "SELECT ?p ?o (LANG(?o) AS ?l) (DATATYPE(?o) AS ?d)"
        " WHERE { ?s ?p ?o FILTER(isLiteral(?o)) }",
    ]

    def rows(q):
        return sorted(
            tuple(str(v) for v in r) for r in sparql_query(pipe, q).collect()
        )

    fused = [rows(q) for q in queries]
    # sanity: the fused path actually engaged (batched tables fuse)
    cat = pipe.catalog(pipe.last_catalog_stage())
    sigs = {
        rr._fuse_sig(t, pm, True)
        for t in cat.tables
        for pm in t.predicates
        if t.storage_columns and t.path and "/t=" in t.path
    }
    sigs.discard(None)
    n_batched_pairs = sum(
        1
        for t in cat.tables
        for _ in t.predicates
        if t.storage_columns and t.path and "/t=" in t.path
    )
    assert n_batched_pairs >= 10  # the fixture really exercises batching
    # branch count tracks STRUCTURES, not vocabulary: far fewer
    # signatures than (table, pm) pairs
    assert 0 < len(sigs) < n_batched_pairs / 2

    monkeypatch.setattr(rr, "_fuse_sig", lambda *a, **k: None)
    per_table = [rows(q) for q in queries]
    assert fused == per_table
    assert all(len(r) > 0 for r in fused)


def _merged_wide_kg(spark, tmp_path, wd: str) -> KgPipeline:
    """SHARED subjects across many predicates -> stage M merges them into
    one wide multi-predicate table: the shape _stacked_table_triples targets.
    Covers every object term shape (IRI / plain / typed / lang-tagged),
    named graphs, and a PARTIAL predicate (only half the subjects) whose
    merged map exercises the NULL-struct presence guard."""
    xsd_int = f"{XSD}integer"
    lines = []
    for i in range(8):
        s = f"<{EX}s{i}>"
        lines.append(f"{s} <{EX}ref> <{EX}o{i}> .")
        lines.append(f'{s} <{EX}plain> "v{i}" .')
        lines.append(f'{s} <{EX}num> "{i}"^^<{xsd_int}> .')
        lines.append(f'{s} <{EX}lab> "hello {i}"@en .')
        lines.append(f"{s} <{EX}in> <{EX}g{i % 2}> <{EX}graph{i % 2}> .")
    for i in range(4):  # partial predicate -> merged presence guard
        lines.append(f'<{EX}s{i}> <{EX}part> "p{i}" .')
    pipe = KgPipeline(spark, str(tmp_path / wd))
    pipe.load(
        fx.source_files_df(spark, [fx._row("r", "wide.nq", "\n".join(lines))])
    )
    return pipe


def test_stacked_merged_scan_matches_per_map(spark, tmp_path, monkeypatch):
    """A variable-predicate pattern over a MERGED multi-predicate table
    scans the table ONCE (array-of-structs + explode) instead of once per
    predicate map — and must be result-identical to the per-map path for
    every term shape, graph binding, term metadata, and the merged-map
    presence guard (a row missing the partial predicate must not
    fabricate its virtual constants)."""
    from r2s2_spark.plans import r2rml as rr
    from r2s2_spark.plans.sparql_text import sparql_query

    pipe = _merged_wide_kg(spark, tmp_path, "stack")
    queries = [
        "SELECT ?s ?p ?o WHERE { ?s ?p ?o }",
        "SELECT ?g ?p (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }"
        " GROUP BY ?g ?p",
        "SELECT ?p ?o (LANG(?o) AS ?l) (DATATYPE(?o) AS ?d)"
        " WHERE { ?s ?p ?o FILTER(isLiteral(?o)) }",
        f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}",
    ]

    def rows(q):
        return sorted(
            tuple(str(v) for v in r) for r in sparql_query(pipe, q).collect()
        )

    stacked = [rows(q) for q in queries]
    # sanity: a genuinely multi-predicate merged table exists, so the
    # stacked path actually engaged
    cat = pipe.catalog(pipe.last_catalog_stage())
    assert max(len(t.predicates) for t in cat.tables) >= rr._STACK_MIN
    # presence guard: exactly the 4 loaded ex:part rows, none fabricated
    part = [r for r in stacked[0] if r[1] == EX + "part"]
    assert sorted(p[2] for p in part) == ["p0", "p1", "p2", "p3"]

    monkeypatch.setattr(rr, "_STACK_MIN", 10**9)
    per_map = [rows(q) for q in queries]
    assert stacked == per_map
    assert all(len(r) > 0 for r in stacked)


def test_stacked_scan_reads_merged_table_once(spark, tmp_path):
    """Plan-shape: the full { ?s ?p ?o } scan over the merged-wide KG
    carries ONE file-scan branch per physical table, not one per
    predicate map — the analyzer/IO cost that makes variable-predicate
    patterns viable over a 10^3-predicate merged vocabulary."""
    from r2s2_spark.plans.sparql_text import sparql_query

    pipe = _merged_wide_kg(spark, tmp_path, "stack1")
    df = sparql_query(pipe, "SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    cat = pipe.catalog(pipe.last_catalog_stage())
    n_pairs = sum(len(t.predicates) for t in cat.tables)
    n_tables = len(cat.tables)
    assert n_pairs > n_tables  # merging really happened
    # one scan per table (plus bounded dictionary-decode relations),
    # strictly fewer than one branch per predicate map
    assert n_scans < n_pairs + 2


def test_stacked_reconstruct_triples_matches_per_map(spark, tmp_path, monkeypatch):
    """reconstruct_triples (pipe.triples / DESCRIBE / CONSTRUCT / the
    registered `triples` view) over a merged multi-predicate table must
    be identical whether it runs as ONE stacked scan (production), as
    per-map branches over the fused batch scan, or as plain per-(table,
    map) branches. SPARQL compiles its patterns through the same scanner:
    in each mode, ``GRAPH ?g { ?s ?p ?o }`` returns exactly the
    reconstructed triples that carry a graph."""
    from r2s2_spark.plans import r2rml as rr
    from r2s2_spark.plans.sparql_text import sparql_query

    pipe = _merged_wide_kg(spark, tmp_path, "stackr")

    def rows():
        return sorted(
            tuple(str(v) for v in r) for r in pipe.triples().collect()
        )

    def graph_rows():
        got = sparql_query(
            pipe, "SELECT ?s ?p ?o ?g WHERE { GRAPH ?g { ?s ?p ?o } }"
        ).select("s", "p", "o", "g")
        want = pipe.triples_with_graph_iri().where("g IS NOT NULL").select(
            "s", "p", "o_lex", "g"
        )
        got, want = (
            sorted(tuple(str(v) for v in r) for r in df.collect())
            for df in (got, want)
        )
        # the loader puts graph-less statements in its default graph
        assert got == want and len(got) == 44
        return got

    stacked = rows()
    stacked_g = graph_rows()
    assert len(stacked) == 44  # 8 subjects x 5 predicates + 4 partial
    monkeypatch.setattr(rr, "_STACK_MIN", 10**9)
    fused = rows()
    fused_g = graph_rows()
    monkeypatch.setattr(rr, "_fuse_sig", lambda *a, **k: None)
    per_map = rows()
    assert stacked == fused == per_map
    assert stacked_g == fused_g == graph_rows()


def test_graph_terms_via_reconstruct(spark, tmp_path):
    """Zero-length both-variable paths enumerate the ACTIVE graph's node
    set through the structure-bounded reconstruction — same semantics as
    before the rewrite: every subject/object term, including terms only
    incident to OTHER predicates."""
    from r2s2_spark.plans.sparql_text import sparql_query

    pipe = _merged_wide_kg(spark, tmp_path, "gterms")
    out = sparql_query(
        pipe, f"SELECT DISTINCT ?x WHERE {{ ?x <{EX}part>* ?x }}"
    )
    terms = {r.x for r in out.collect()}
    # node set = every term of the graph: 8 subjects + 8 ref-objects +
    # literals + graph-membership objects + the 4 part literals
    assert f"{EX}s7" in terms          # subject with NO ex:part triple
    assert f"{EX}o3" in terms          # object of another predicate
    assert "hello 5" in terms          # lang literal as a term
    assert "p2" in terms               # the part literal itself
