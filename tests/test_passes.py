"""Stage O layout passes: golden facts from the reference test suite."""

import pytest
from pyspark.sql import functions as F

from r2s2_spark.naming import EX, RDF, RDFS, XSD
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.sources import fixtures as fx

from tests.test_pipeline_ev import (
    expected_triples_loading,
    precision_recall,
    reconstructed_set,
)


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    pipe = KgPipeline(spark, str(tmp_path_factory.mktemp("o") / "wd"))
    pipe.load(fx.fixture_loading(spark))
    return pipe


def table(cat, name):
    return cat.table(name)


def test_type_split_golden(loaded):
    """LoadingTest.java:87-92: after class split, type_rdf_Bag has 2 rows;
    type tables exist per distinct class (Alt: 3 rows)."""
    cat = loaded.catalog("O")
    names = {t.name for t in cat.tables}
    assert "type_rdf_Bag" in names and "type_rdf_Alt" in names
    assert cat.table("type_rdf_Bag").row_count == 2
    assert cat.table("type_rdf_Alt").row_count == 3


def test_virtual_columns_golden(loaded):
    """Constant columns become virtual; varying fragment stays physical.
    (IntroduceVirtualColumns.java:21-76 + LoadingTest column sets.)"""
    cat = loaded.catalog("O")
    t = cat.table("type_rdf_Alt")
    phys = set(t.physical_columns())
    # pre-merge: only the subject fragment varies (Alt/Bag/List subjects);
    # all object columns are the constant class -> virtual; graph constant
    assert phys == {"subject_rdf_type_fragment"}
    by_name = {c.name: c for c in t.all_column_specs()}
    assert by_name["subject_rdf_type_scheme"].virtual_value == "http"
    assert by_name["subject_rdf_type_host"].virtual_value == "www.w3.org"
    assert by_name["object_rdf_type_fragment"].virtual_value == "Alt"
    assert t.predicates[0].graph_column.physical is False


def test_datatype_narrowing_golden(loaded):
    """xsd:boolean litvalue -> boolean, xsd:date -> date
    (OptimizeForDatatype.java:101-115)."""
    cat = loaded.catalog("O")
    bool_t = next(t for t in cat.tables if t.predicates[0].datatype == XSD + "boolean")
    lit = next(c for c in bool_t.predicates[0].columns if c.part == "litvalue")
    assert lit.sql_type == "boolean"
    date_t = next(t for t in cat.tables if t.predicates[0].datatype == XSD + "date")
    lit = next(c for c in date_t.predicates[0].columns if c.part == "litvalue")
    assert lit.sql_type == "date"


def test_reconstruction_exact_after_o(loaded):
    got = reconstructed_set(loaded, "O")
    expect = expected_triples_loading()
    p, r = precision_recall(got, expect)
    assert got == expect, (p, r, got ^ expect)


def test_multigraph_collapse(spark, tmp_path):
    """ReintroduceRdfSetSemantics.java:71-92: same (s,o) in 2 graphs
    collapses to ONE row whose graph column is the set of both graphs."""
    pipe = KgPipeline(spark, str(tmp_path / "mg"))
    pipe.load(fx.fixture_multigraph(spark))
    cat = pipe.catalog("O")
    assert len(cat.tables) == 1
    t = cat.tables[0]
    assert t.row_count == 1
    g = t.predicates[0].graph_column
    assert g.part == "graph_set" and g.physical
    trips = pipe.triples_with_graph_iri("O").collect()
    assert len(trips) == 2
    assert {x.g for x in trips} == {
        "http://example.org/zeroGraph",
        "http://example.org/oneGraph",
    }
    assert {x.s for x in trips} == {"http://example.org/2"}


def test_numeric_narrowing_fixture_d(spark, tmp_path):
    """OptimizeForDatatypeTest.java:23-94 translated: numeric fragments ->
    int; leading zeros stay string; mixed stays string; gYear -> encoded."""
    pipe = KgPipeline(spark, str(tmp_path / "dt"))
    pipe.load(fx.fixture_datatypes(spark))
    cat = pipe.catalog("O")

    def frag_spec(pred_local):
        t = next(x for x in cat.tables if x.predicates[0].predicate == EX + pred_local)
        return next(c for c in t.predicates[0].columns if c.part == "fragment")

    assert frag_spec("numeric").sql_type == "int"
    assert frag_spec("zeros").sql_type == "string"
    assert frag_spec("mixed").sql_type == "string"
    gyear_t = next(x for x in cat.tables if x.predicates[0].datatype == XSD + "gYear")
    lit = next(c for c in gyear_t.predicates[0].columns if c.part == "litvalue")
    assert lit.encoding == "gyear" and lit.sql_type == "int"
    # round-trip: reconstructed lexical forms keep zero padding
    got = {r.o_lex for r in pipe.triples("O").where(F.col("o_datatype").isNotNull()).collect()}
    assert {f"{i:04d}" for i in range(10)}.issubset(got)


def test_oddeven_lcp_and_int(spark, tmp_path):
    """Subject paths /i1../i99 share LCP '/i' (OptimizeForLCS min/max
    one-pass trick); xsd:int labels narrow to int; flagship query holds."""
    pipe = KgPipeline(spark, str(tmp_path / "oe"))
    pipe.load(fx.fixture_oddeven(spark, with_labels=True))
    cat = pipe.catalog("O")
    label_t = next(t for t in cat.tables if t.predicates[0].predicate == RDFS + "label")
    path_spec = next(c for c in label_t.subject_columns if c.part == "path")
    assert path_spec.lcp_prefix == "/i"
    lit = next(c for c in label_t.predicates[0].columns if c.part == "litvalue")
    assert lit.sql_type == "int"
    types = {r.type for r in pipe.distinct_types("O").collect()}
    assert types == {EX + "odd", EX + "even"}
    # exactly 2 type tables exist (SparqlOnLoadedTest.java:129-145)
    assert sum(1 for t in cat.tables if t.name.startswith("type_")) == 2


def test_mixed_host_dict_roundtrip(spark, tmp_path):
    """Regression: LCP factoring must SKIP scheme/host columns headed for
    dictionary encoding — the dictionaries are built from unstripped V data,
    so an encode join on stripped values writes NULL ids and the term
    reconstructs as 'http:' (host and path silently lost)."""
    nt = "\n".join(
        [
            f"<{EX}s1> <{EX}link> <http://example.com/a> .",
            f"<{EX}s2> <{EX}link> <http://example.org/b> .",
            f"<{EX}s3> <{EX}link> <https://example.net/c> .",
        ]
    )
    pipe = KgPipeline(spark, str(tmp_path / "mh"))
    pipe.load(fx.source_files_df(spark, [fx._row("r", "mh.nt", nt)]))
    expect = {
        (EX + "s1", "http://example.com/a"),
        (EX + "s2", "http://example.org/b"),
        (EX + "s3", "https://example.net/c"),
    }
    for stage in ("O", "M"):
        got = {(r.s, r.o_lex) for r in pipe.triples(stage).collect()}
        assert got == expect, (stage, got ^ expect)
    # and the encoding actually happened (hosts vary -> stays physical)
    cat = pipe.catalog("O")
    t = next(x for x in cat.tables if x.predicates[0].predicate == EX + "link")
    host = next(c for c in t.predicates[0].columns if c.part == "host")
    assert host.encoding == "hosts" and host.lcp_prefix == ""


def test_double_decimal_guard_roundtrip(spark, tmp_path):
    """Regression: narrowing to double/float/decimal must be guarded by
    cast-back-equals-original — Spark canonicalizes "1" -> "1.0" (double)
    and silently rounds decimal scale overflow, violating the exact-inverse
    reconstruction contract."""
    lines = [
        f'<{EX}d1> <{EX}dbl> "1"^^<{XSD}double> .',  # non-canonical: blocks
        f'<{EX}d2> <{EX}dbl> "1.5"^^<{XSD}double> .',
        f'<{EX}g1> <{EX}dbl2> "1.5"^^<{XSD}double> .',  # clean col: narrows
        f'<{EX}g2> <{EX}dbl2> "2.25"^^<{XSD}double> .',
        f'<{EX}e1> <{EX}dec> "0.123456789012345678901"^^<{XSD}decimal> .',
        f'<{EX}e2> <{EX}dec> "1.50"^^<{XSD}decimal> .',
        f'<{EX}f1> <{EX}n> "25"^^<{XSD}integer> .',  # canonical ints: narrow
        f'<{EX}f2> <{EX}n> "7"^^<{XSD}integer> .',
    ]
    pipe = KgPipeline(spark, str(tmp_path / "dd"))
    pipe.load(fx.source_files_df(spark, [fx._row("r", "dd.nt", "\n".join(lines))]))
    got = {
        r.o_lex
        for r in pipe.triples("O").where(F.col("o_datatype").isNotNull()).collect()
    }
    assert got == {
        "1", "1.5", "2.25", "0.123456789012345678901", "1.50", "25", "7",
    }
    cat = pipe.catalog("O")

    def lit_spec(pred_local):
        t = next(x for x in cat.tables if x.predicates[0].predicate == EX + pred_local)
        return next(c for c in t.predicates[0].columns if c.part == "litvalue")

    assert lit_spec("dbl").sql_type == "string"  # "1" blocked the column
    assert lit_spec("dbl2").sql_type == "double"  # all-canonical narrows
    assert lit_spec("dec").sql_type == "string"  # overflow + "1.50" block
    assert lit_spec("n").sql_type.startswith("decimal")  # xsd:integer ok


def test_scheme_host_dict_encoding(loaded):
    """Object scheme/host columns that stay physical are long-id encoded.
    In fixture A all object schemes/hosts are constant -> virtual, so
    check the dictionaries exist and decode works end-to-end via P/R."""
    d = loaded.dicts("O")
    assert "schemes" in d and "hosts" in d
    schemes = {r.iri for r in d["schemes"].collect()}
    assert "http" in schemes


def test_pooled_stage_jobs_deterministic(spark, tmp_path, monkeypatch):
    """The bounded-pool stage O/M submission must be a pure wall-clock
    optimization: pool=1 and pool=8 produce byte-identical catalogs and
    identical triple sets (thread-safety of per-table spec mutation)."""
    import r2s2_spark.pipeline as pl

    outs = {}
    for pool in (1, 8):
        monkeypatch.setattr(pl, "MAX_CONCURRENT_TABLE_JOBS", pool)
        pipe = KgPipeline(spark, str(tmp_path / f"pool{pool}"))
        pipe.load(fx.fixture_loading(spark))
        cat = pipe.catalog("M")
        trips = frozenset(
            (r.s, r.p, r.o_lex, r.o_lang, r.o_datatype)
            for r in pipe.triples("M").collect()
        )
        outs[pool] = (cat.to_json(), trips)
    assert outs[1][0] == outs[8][0]
    assert outs[1][1] == outs[8][1]


def test_reassemble_py_matches_catalyst(spark):
    """_reassemble_py (the rdf:type split's class-IRI naming) must agree
    with functions.uri.reassemble_iri for every decomposable IRI — a
    divergence (e.g. truthiness vs isNotNull on an empty-but-present
    user_info/host) would let two distinct class IRIs collide into one
    table name."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from r2s2_spark.functions.uri import PART_KEYS, decompose_arrow, reassemble_iri
    from r2s2_spark.operators.passes import _reassemble_py

    iris = [
        "http://example.org/a/B",
        "http://@host/x",          # empty-but-present user_info
        "file:///x",               # empty authority (host == "")
        "http://host:8080/p?q=1#f",
        "http://host/p?",          # empty-but-present query
        "http://host/p#",          # empty-but-present fragment
        "urn:uuid:abc",            # no authority: ssp branch
        "mailto:a@b.example",
        "http://u:pw@host:80/",
    ]
    rows = pa.table(decompose_arrow(pa.array(iris))).to_pylist()
    py_out = [_reassemble_py(r) for r in rows]
    sdf = spark.createDataFrame(
        [tuple(r[k] for k in PART_KEYS) for r in rows],
        ", ".join(f"{k} string" for k in PART_KEYS),
    )
    cat_out = [
        r.out
        for r in sdf.select(
            reassemble_iri({k: F.col(k) for k in PART_KEYS}).alias("out")
        ).collect()
    ]
    assert py_out == cat_out == iris


def test_type_split_children_carry_row_counts(spark, tmp_path):
    """Split children must carry their per-class row counts OUT of the
    split — stage O's big/small batching decision reads them, and a
    None count would route a Zipf-head class through the fused
    small-table batch write."""
    from r2s2_spark.operators import passes

    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    lines = [f"<{EX}s{i}> <{RDF}type> <{EX}Big> ." for i in range(7)] + [
        f"<{EX}t1> <{RDF}type> <{EX}Small> ."
    ]
    src = fx.source_files_df(spark, [fx._row("r", "t.nt", "\n".join(lines))])
    pipe.stage_e(src)
    pipe.stage_d()
    pipe.stage_v()
    cat = pipe.catalog("V")
    cat2, paths = passes.split_type_tables(
        spark, cat, pipe.io.path("V", "data"), str(tmp_path / "split")
    )
    counts = {
        t.name: t.row_count
        for t in cat2.tables
        if t.predicates[0].predicate.endswith("#type")
    }
    assert sorted(counts.values()) == [1, 7]
    # the written partition dirs agree with the counts
    for name, path in paths.items():
        n = spark.read.parquet(path).count()
        assert n == counts[name]
