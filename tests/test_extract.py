"""Stage E: vectorized N-Triples parse + Catalyst IRI decomposition."""

import random

import pyarrow as pa
from pyspark.sql import functions as F

from r2s2_spark.functions.uri import PART_KEYS, decompose_arrow, decompose_iri, reassemble_iri
from r2s2_spark.naming import EX, RDF, RDFS, XSD, XSD_STRING
from r2s2_spark.operators.extract import extract, parse_statements
from r2s2_spark.sources import fixtures as fx
from r2s2_spark.sources.ntriples import parse_iterator_arrow


def test_parse_nt_lines():
    content = (
        '<http://a/s> <http://a/p> "hi there" .\n'
        "# a comment line\n"
        "\n"
        f'<http://a/s> <http://a/p> "v\\"q"@en-UK .\n'
        "<http://a/s> <http://a/p> _:b1 <http://g/1> .\n"
        "_:b1 <http://a/p> <http://a/o> .\n"
        "this line is garbage\n"
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array([content]), pa.array(["sha"])], names=["content", "file_sha256"]
    )
    out = [r for rb in parse_iterator_arrow(iter([batch]), "http://default/g") for r in rb.to_pylist()]
    ok = [r for r in out if r["parse_error"] is None]
    assert len(ok) == 4
    assert [r["line_no"] for r in out if r["parse_error"]] == [7]
    plain = ok[0]
    assert plain["o_kind"] == "literal" and plain["o_datatype"] == XSD_STRING
    assert plain["g_iri"] == "http://default/g"
    lang = ok[1]
    assert lang["o_lang"] == "en-UK" and lang["o_lex"] == 'v"q' and lang["o_datatype"] is None
    quad = ok[2]
    assert quad["o_kind"] == "bnode" and quad["o_lex"] == "b1" and quad["g_iri"] == "http://g/1"
    bsubj = ok[3]
    assert bsubj["s_kind"] == "bnode" and bsubj["s_lex"] == "b1"


URIS = [
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "https://example.org/i42",
    "http://user:pw@example.org:8080/path/x?q=1&r=2#frag",
    "mailto:someone@example.org",
    "urn:isbn:0451450523",
    "file:///tmp/x.txt",
    "https://example.org",
    "http://example.org/a%20b?x#y",
]


def test_uri_roundtrip(spark):
    df = spark.createDataFrame([(u,) for u in URIS], "iri string")
    parts = decompose_iri(F.col("iri"))
    out = df.select(
        "iri",
        reassemble_iri(parts).alias("back"),
        *[parts[k].alias(k) for k in PART_KEYS],
    )
    rows = {r["iri"]: r for r in out.collect()}
    for u in URIS:
        assert rows[u]["back"] == u, (u, rows[u].asDict())
    r = rows["http://user:pw@example.org:8080/path/x?q=1&r=2#frag"]
    assert r["host"] == "example.org" and r["port"] == "8080"
    assert r["user_info"] == "user:pw" and r["query"] == "q=1&r=2"
    assert r["fragment"] == "frag" and r["ssp"] is None
    m = rows["mailto:someone@example.org"]
    assert m["host"] is None and m["ssp"] == "someone@example.org"
    f = rows["file:///tmp/x.txt"]
    # empty authority -> host null -> opaque-side storage (java.net.URI parity)
    assert f["host"] is None and f["ssp"] == "///tmp/x.txt"
    t = rows["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"]
    assert t["fragment"] == "type" and t["host"] == "www.w3.org"
    assert t["path"] == "/1999/02/22-rdf-syntax-ns"


def test_arrow_catalyst_decompose_agree(spark):
    """The Arrow decomposition (stage E and SPARQL update) and the
    Catalyst twin (oracle-operator path) must agree part-for-part — on
    the edge corpus and on seeded random strings over the IRI
    delimiters, non-ASCII and line terminators — and reassemble to the
    input wherever a scheme is present."""
    extra = [
        "https://example.org/",
        "http://example.org:80",
        "urn:uuid:1-2-3",
        "tel:+1-816-555-1212",
        "http://a@b@example.org/x",
        "http://h/p#a\nb",
        "http://h:80\n",
        "http://u\r@h/p?q\n#f\t",
        "",
    ]
    rng = random.Random(7)
    alphabet = "ab:/?#@%.-+1é東\n\r\t"
    fuzz = [
        rng.choice(["", "http:", "http://", "urn:", "x+y.z:"])
        + "".join(rng.choice(alphabet) for _ in range(rng.randrange(12)))
        for _ in range(3000)
    ]
    corpus = list(dict.fromkeys(URIS + extra + fuzz))
    arrow = decompose_arrow(pa.array(corpus, pa.string()))
    df = spark.createDataFrame([(i, u) for i, u in enumerate(corpus)], "i int, iri string")
    parts = decompose_iri(F.col("iri"))
    back = reassemble_iri(parts)
    jvm = df.select("i", back.alias("back"), *[parts[k].alias(k) for k in PART_KEYS]).collect()
    for r in jvm:
        u = corpus[r["i"]]
        for k in PART_KEYS:
            assert arrow[k][r["i"]].as_py() == r[k], (u, k, arrow[k][r["i"]], r[k])
        if r["scheme"] is not None:
            assert r["back"] == u, (u, r["back"])


def test_extract_iri_with_line_terminator(spark):
    """An escaped line terminator inside an IRI survives stage E: the
    subject keeps all its parts (extract nulls s_lex for IRIs; that the
    parts reassemble to the IRI is checked by the parity test above)."""
    src = fx.source_files_df(
        spark, [("r", "a.nt", "c", "ntriples", '<http://h/p#a\\u000Ab> <http://h/q> "x" .')]
    )
    (row,) = extract(src).collect()
    assert row.s_lex is None
    assert (row.s_scheme, row.s_host, row.s_path, row.s_fragment) == ("http", "h", "/p", "a\nb")


def test_extract_fixture_loading(spark):
    stmts = extract(fx.fixture_loading(spark))
    rows = stmts.collect()
    assert len(rows) == 15
    type_rows = [r for r in rows if r.p_iri == RDF + "type"]
    assert len(type_rows) == 5
    assert all(r.g_iri == fx.DEFAULT_GRAPH for r in rows)
    # lang/datatype routing facts used by the target-key partitioning
    label = [r for r in rows if r.p_iri == RDFS + "label"]
    langs = {r.o_lang for r in label}
    assert langs == {"cz", "en-UK", None}
    dts = {r.o_datatype for r in label if r.o_datatype}
    assert dts == {XSD + "boolean", XSD + "date"}
    bn = [r for r in label if r.o_kind == "bnode"]
    assert len(bn) == 1 and bn[0].o_bnode_id is not None


def test_extract_multigraph(spark):
    stmts = extract(fx.fixture_multigraph(spark))
    rows = stmts.collect()
    assert len(rows) == 2
    assert {r.g_iri for r in rows} == {
        "http://example.org/zeroGraph",
        "http://example.org/oneGraph",
    }


def test_sha256_invariant(spark):
    """Per-row invariant (north_rule): file_sha256 carried through the
    pipeline equals sha2(content,256) recomputed from the source table."""
    src = fx.fixture_oddeven(spark, with_labels=True)
    stmts = parse_statements(src)
    carried = stmts.select("file_sha256").distinct()
    fresh = src.select(F.sha2("content", 256).alias("file_sha256")).distinct()
    assert carried.count() == 1 == fresh.count()
    assert carried.join(fresh, "file_sha256").count() == 1


def test_bnode_ids_deterministic(spark):
    a = extract(fx.fixture_loading(spark)).where("o_kind = 'bnode'").collect()
    b = extract(fx.fixture_loading(spark)).where("o_kind = 'bnode'").collect()
    assert a[0].o_bnode_id == b[0].o_bnode_id


def test_synthetic_generator(spark):
    df = fx.synthetic_source_files(spark, n_files=4, statements_per_file=10)
    raw = parse_statements(df)
    assert raw.where("parse_error is not null").count() == 0
    assert extract(df).count() == 40


FIXTURE_LOADING_TTL = """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
rdf:Bag a rdf:Alt .
rdf:Alt a rdf:Bag , rdf:Alt ;
    rdfs:label "true"^^xsd:boolean , "false"^^xsd:boolean ;
    rdfs:label "杭州市"@cz ;
    rdfs:label "lala"@en-UK , "lala lala"@en-UK ;
    rdfs:label "2023-06-23"^^xsd:date , "2023-06-22"^^xsd:date ;
    rdfs:label _:b1 .
rdf:List a rdf:Alt , rdf:Bag ;
    rdfs:label "false"^^xsd:boolean .
rdf:Bag rdfs:label "杭州"@cz .
"""


def test_turtle_equals_ntriples_fixture(spark):
    """The Turtle rendering of fixture A must extract the exact same
    triple set as the N-Triples rendering (multi-syntax parity — the
    reference gets this from Rio, we dispatch on the lang column)."""
    nt = extract(fx.fixture_loading(spark))
    ttl_src = fx.source_files_df(
        spark, [("fixture-repo", "data/loading.ttl", "c", "turtle", FIXTURE_LOADING_TTL)]
    )
    ttl = extract(ttl_src)

    def key(rows):
        return {
            (r.s_kind, r.s_fragment, r.p_iri, r.o_kind, r.o_fragment, r.o_lex, r.o_lang, r.o_datatype)
            for r in rows
        }

    assert key(ttl.collect()) == key(nt.collect())
    assert ttl.count() == 15


def test_mixed_lang_batch(spark):
    """One batch containing both syntaxes routes each file correctly."""
    rows = [
        ("r", "a.nt", "c", "ntriples", f'<{EX}s> <{EX}p> "v" .'),
        ("r", "b.ttl", "c", "turtle", f"@prefix ex: <{EX}> .\nex:s2 ex:p 42 ."),
        ("r", "c.ttl", "c", "turtle", "this is ( bad turtle"),
    ]
    from r2s2_spark.operators.extract import parse_statements

    src = fx.source_files_df(spark, rows)
    raw = parse_statements(src)
    good = raw.where("parse_error is null").collect()
    assert {(r.s_lex, r.o_lex) for r in good} == {("https://example.org/s", "v"), ("https://example.org/s2", "42")}
    assert raw.where("parse_error is not null").count() >= 1


def test_rdfxml_equals_ntriples_fixture(spark):
    """Fixture A serialized as RDF/XML (the reference's OWN fixture syntax,
    LoadingTest.java:41-53) extracts the exact same triple set as the
    N-Triples rendering: P = R = 1.0."""
    nt = extract(fx.fixture_loading(spark))
    xml = extract(fx.fixture_loading_rdfxml(spark))

    def key(rows):
        return {
            (r.s_kind, r.s_fragment, r.p_iri, r.o_kind, r.o_fragment, r.o_lex, r.o_lang, r.o_datatype)
            for r in rows
        }

    got, expect = key(xml.collect()), key(nt.collect())
    assert got == expect, got ^ expect
    assert xml.count() == 15


def test_rdfxml_parsetype_and_li():
    """parseType=Resource/Collection/Literal, rdf:li numbering, property
    attributes, rdf:ID base resolution (sources/rdfxml.py subset)."""
    from r2s2_spark.sources.rdfxml import parse_rdfxml

    xml = f"""<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="{EX}" xml:base="http://b.org/d">
      <ex:Person rdf:ID="p1" ex:nick="fred">
        <ex:addr rdf:parseType="Resource"><ex:city>X</ex:city></ex:addr>
        <ex:items rdf:parseType="Collection">
          <rdf:Description rdf:about="{EX}i1"/>
          <rdf:Description rdf:about="{EX}i2"/>
        </ex:items>
        <ex:note rdf:parseType="Literal">a <ex:b>c</ex:b></ex:note>
      </ex:Person>
      <rdf:Seq rdf:about="{EX}seq"><rdf:li>one</rdf:li><rdf:li>two</rdf:li></rdf:Seq>
    </rdf:RDF>"""
    stmts, errors = parse_rdfxml(xml, "g")
    assert errors == []
    spo = {(s[2], s[3], s[5]) for s in stmts}
    assert ("http://b.org/d#p1", RDF + "type", EX + "Person") in spo
    assert ("http://b.org/d#p1", EX + "nick", "fred") in spo
    firsts = [s for s in stmts if s[3] == RDF + "first"]
    rests = [s for s in stmts if s[3] == RDF + "rest"]
    assert len(firsts) == 2 and len(rests) == 2
    assert sum(1 for s in rests if s[5] == RDF + "nil") == 1
    lit = next(s for s in stmts if s[3] == EX + "note")
    assert lit[7] == RDF + "XMLLiteral" and "<" in lit[5]
    assert (EX + "seq", RDF + "_1", "one") in spo and (EX + "seq", RDF + "_2", "two") in spo


def test_turtle_collections_and_anon_nodes(spark):
    """Turtle `[ ... ]` property lists and `( ... )` collections produce
    the standard rdf:first/rdf:rest/bnode structure end-to-end."""
    ttl = (
        f"@prefix ex: <{EX}> .\n"
        'ex:s ex:knows [ ex:name "Anna" ; ex:age 7 ] .\n'
        'ex:list ex:items ( ex:a "b" 3 ) .\n'
        "ex:t ex:empty ( ) .\n"
    )
    src = fx.source_files_df(spark, [("r", "c.ttl", "c", "turtle", ttl)])
    rows = extract(src).collect()
    by_p = {}
    for r in rows:
        by_p.setdefault(r.p_iri, []).append(r)
    assert len(by_p[RDF + "first"]) == 3 and len(by_p[RDF + "rest"]) == 3
    # chain terminates in rdf:nil; empty collection is rdf:nil directly
    assert sum(1 for r in by_p[RDF + "rest"] if r.o_fragment == "nil") == 1
    assert by_p[EX + "empty"][0].o_fragment == "nil"
    # the anonymous node carries its own properties and is the object of knows
    knows = by_p[EX + "knows"][0]
    assert knows.o_kind == "bnode"
    anna = by_p[EX + "name"][0]
    assert anna.s_kind == "bnode" and anna.s_bnode_id == knows.o_bnode_id
    assert {r.o_lex for r in by_p[EX + "age"]} == {"7"}
    # distinct generated bnodes never collide: the [ ] node + 3 list cells
    bnode_ids = {r.s_bnode_id for r in rows if r.s_kind == "bnode"}
    assert len(bnode_ids) == 4


def test_turtle_long_strings_and_trailing_dot():
    """Triple-quoted long strings (multiline, embedded quotes) and the
    PN_LOCAL no-trailing-dot rule ('ex:foo.' = pname + statement dot) —
    both ubiquitous in real LOD dumps."""
    from r2s2_spark.sources.turtle import parse_turtle

    ttl = (
        f"@prefix ex: <{EX}> .\n"
        'ex:s ex:desc """a "long"\nmultiline \\t text""" .\n'
        "ex:s2 ex:p ex:foo.\n"
        "ex:s3 ex:q '''triple-single with ' quote''' .\n"
    )
    stmts, errors = parse_turtle(ttl, "g")
    assert errors == []
    by_p = {s[3]: s for s in stmts}
    assert by_p[EX + "desc"][5] == 'a "long"\nmultiline \t text'
    assert by_p[EX + "p"][5] == EX + "foo"
    assert by_p[EX + "q"][5] == "triple-single with ' quote"


def test_rdfxml_relative_iri_resolution():
    """rdf:about/rdf:resource relative references resolve against xml:base
    per full RFC 3986 ('#frag' onto the document, '/abs' onto the
    authority, 'rel' MERGES onto the base path replacing its last segment,
    '..' climbs) — ubiquitous in hand-written RDF/XML."""
    from r2s2_spark.sources.rdfxml import parse_rdfxml

    xml = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="{EX}"
                  xml:base="http://b.org/dir/doc">
      <rdf:Description rdf:about="#me">
        <ex:knows rdf:resource="other"/>
        <ex:root rdf:resource="/top"/>
        <ex:up rdf:resource="../sib/./x"/>
        <ex:q rdf:resource="?k=v"/>
        <ex:auth rdf:resource="//cdn.org/z"/>
        <ex:abs rdf:resource="https://x.org/y"/>
      </rdf:Description>
    </rdf:RDF>"""
    stmts, errors = parse_rdfxml(xml, "g")
    assert errors == []
    spo = {(s[2], s[3], s[5]) for s in stmts}
    me = "http://b.org/dir/doc#me"
    assert (me, EX + "knows", "http://b.org/dir/other") in spo
    assert (me, EX + "root", "http://b.org/top") in spo
    assert (me, EX + "up", "http://b.org/sib/x") in spo
    assert (me, EX + "q", "http://b.org/dir/doc?k=v") in spo
    assert (me, EX + "auth", "http://cdn.org/z") in spo
    assert (me, EX + "abs", "https://x.org/y") in spo
