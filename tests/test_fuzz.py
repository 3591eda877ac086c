"""Property-based round-trips for the parsers and the URI decomposition
(hypothesis; Arrow-only — no SparkSession, so these run in seconds)."""

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from r2s2_spark.functions.uri import decompose_arrow
from r2s2_spark.naming import XSD_STRING
from r2s2_spark.operators.passes import _reassemble_py
from r2s2_spark.sources.ntriples import parse_iterator_arrow
from r2s2_spark.sources.turtle import parse_turtle

# IRI-safe path/fragment characters (no escapes needed inside <...>)
_iri_chars = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-._~!$&'()*+,;=:@%",
    min_size=0,
    max_size=20,
)
# literal bodies may contain anything N-Triples can escape
_lit = st.text(min_size=0, max_size=40).filter(lambda s: "\udc80" not in s)


def _nt_escape(s: str) -> str:
    out = s.replace("\\", "\\\\").replace('"', '\\"')
    return out.replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")


@settings(max_examples=60, deadline=None)
@given(path=_iri_chars, frag=_iri_chars, lit=_lit)
def test_ntriples_literal_roundtrip(path, frag, lit):
    """Arbitrary unicode literal bodies survive serialize -> vectorized
    parse exactly (escape handling is the classic corruption source)."""
    s = f"http://h.example/{path}#{frag}"
    line = f'<{s}> <http://h.example/p> "{_nt_escape(lit)}" .'
    batch = pa.RecordBatch.from_arrays(
        [pa.array([line]), pa.array(["sha"])], names=["content", "file_sha256"]
    )
    (row,) = [r for rb in parse_iterator_arrow(iter([batch]), "g") for r in rb.to_pylist()]
    assert row["parse_error"] is None, (line, row)
    assert row["s_lex"] == s
    assert row["o_lex"] == lit and row["o_datatype"] == XSD_STRING


@settings(max_examples=60, deadline=None)
@given(lit=_lit, lang=st.sampled_from(["en", "en-UK", "cz"]))
def test_turtle_literal_roundtrip(lit, lang):
    ttl = (
        "@prefix ex: <http://h.example/> .\n"
        f'ex:s ex:p """{lit.replace(chr(92), chr(92) * 2).replace(chr(34), chr(92) + chr(34))}"""@{lang} .'
    )
    stmts, errors = parse_turtle(ttl, "g")
    assert errors == [] and len(stmts) == 1, (ttl, errors)
    assert stmts[0][5] == lit and stmts[0][6] == lang


@settings(max_examples=60, deadline=None)
@given(
    host=st.from_regex(r"[a-z][a-z0-9\-]{0,10}(\.[a-z]{2,5}){0,2}", fullmatch=True),
    path=_iri_chars.filter(lambda s: not s.startswith("//") and "?" not in s and "#" not in s and "@" not in s and ":" not in s and "%" not in s),
    query=_iri_chars.filter(lambda s: "#" not in s and "%" not in s),
    frag=_iri_chars.filter(lambda s: "%" not in s),
    scheme=st.sampled_from(["http", "https", "ftp"]),
)
def test_uri_decompose_reassemble_identity(host, path, query, frag, scheme):
    """decompose -> reassemble is the identity on authority-form IRIs (the
    R2RML template inverse the whole vertical layout depends on)."""
    iri = f"{scheme}://{host}/{path}?{query}#{frag}"
    parts = {k: v[0].as_py() for k, v in decompose_arrow(pa.array([iri])).items()}
    assert _reassemble_py(parts) == iri, (iri, parts)


# -- SPARQL text parser total-ness ----------------------------------------
#
# The parser must be TOTAL over arbitrary input: any string either parses
# or raises one of the two documented exception types — never an
# IndexError/KeyError/RecursionError from a malformed query. (Spark-free:
# parse only, no compilation.)

_SPARQL_FRAGMENTS = st.lists(
    st.sampled_from([
        "SELECT", "ASK", "CONSTRUCT", "DESCRIBE", "WHERE", "{", "}", "(", ")",
        "?x", "?y", "<http://e/p>", "ex:p", "PREFIX", "ex:", "a", ".", ";",
        ",", "FILTER", "OPTIONAL", "MINUS", "UNION", "BIND", "AS", "VALUES",
        "GRAPH", "ORDER", "BY", "LIMIT", "OFFSET", "GROUP", "HAVING",
        "COUNT", "DISTINCT", "*", "+", "/", "|", "^", "!", "=", "<", ">",
        '"lit"', "42", "UNDEF", "LANG", "DATATYPE", "EXISTS", "NOT",
    ]),
    min_size=1,
    max_size=25,
)


@given(_SPARQL_FRAGMENTS)
@settings(max_examples=300, deadline=None)
def test_sparql_parser_total_over_token_soup(frags):
    from r2s2_spark.plans.sparql_text import (
        SparqlSyntaxError,
        SparqlUnsupported,
        parse_sparql,
    )

    try:
        parse_sparql(" ".join(frags))
    except (SparqlSyntaxError, SparqlUnsupported):
        pass  # the documented failure modes


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_sparql_parser_total_over_arbitrary_text(text):
    from r2s2_spark.plans.sparql_text import (
        SparqlSyntaxError,
        SparqlUnsupported,
        parse_sparql,
    )

    try:
        parse_sparql(text)
    except (SparqlSyntaxError, SparqlUnsupported):
        pass


_UPDATE_FRAGMENTS = st.lists(
    st.sampled_from([
        "INSERT", "DELETE", "DATA", "WHERE", "WITH", "USING", "NAMED",
        "LOAD", "SILENT", "INTO", "CLEAR", "DROP", "CREATE", "ADD",
        "MOVE", "COPY", "TO", "GRAPH", "DEFAULT", "ALL", "{", "}", ";",
        ".", ",", "?x", "?g", "<http://e/p>", "<file:///tmp/x.nt>",
        "ex:p", "PREFIX", "ex:", "a", "_:b", "[", "]", '"lit"', "42",
        "FILTER", "OPTIONAL", "(", ")", "=",
    ]),
    min_size=1,
    max_size=25,
)


@given(_UPDATE_FRAGMENTS)
@settings(max_examples=300, deadline=None)
def test_update_parser_total_over_token_soup(frags):
    """The update parser must be total like the query parser: any token
    soup either parses or raises a documented exception type."""
    from r2s2_spark.plans.sparql_text import SparqlSyntaxError, SparqlUnsupported
    from r2s2_spark.plans.sparql_update import parse_update

    try:
        parse_update(" ".join(frags))
    except (SparqlSyntaxError, SparqlUnsupported):
        pass


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_update_parser_total_over_arbitrary_text(text):
    from r2s2_spark.plans.sparql_text import SparqlSyntaxError, SparqlUnsupported
    from r2s2_spark.plans.sparql_update import parse_update

    try:
        parse_update(text)
    except (SparqlSyntaxError, SparqlUnsupported):
        pass
