"""Stage E's parse: N-Triples / N-Quads lines on Arrow kernels (RE2), and
the per-file routing of every syntax, inside one ``mapInArrow`` batch.

The reference parses with rdf4j Rio on a thread pool, one file per thread
(ParseIntoSOGTables.java:91-96,402-445), choosing the format by file
extension (:138-141). Here the ``lang`` column picks the parser per FILE:

- N-Triples / N-Quads (any other or a NULL lang): the line regex below,
  vectorized over all lines of the batch — string columns never become
  Python objects;
- Turtle: the line-oriented subset on Arrow kernels (:mod:`turtle_arrow`),
  and the files it cannot prove eligible through the tokenizer
  (:mod:`turtle`);
- RDF/XML: the per-file ElementTree walker (:mod:`rdfxml`).

All three producers emit the same lexical columns, and one shared
:func:`_finish` decomposes IRIs (:func:`functions.uri.decompose_arrow`)
and assembles the ``RecordBatch``.

Output statement columns (the pre-decomposition IR; SURVEY.md §3.1):
  file_sha256, line_no,
  s_kind ('iri'|'bnode'), s_lex (IRI string | bnode label),
  p_iri,
  o_kind ('iri'|'bnode'|'literal'), o_lex (IRI | label | lexical form),
  o_lang (lang tag | NULL), o_datatype (datatype IRI | NULL for non-literal),
  g_iri (explicit quad graph, else the per-file default graph —
         ParseIntoSOGTables.java:355-357),
  parse_error (the offending line, cut to 200 chars, on rows that failed).

Plain literals get xsd:string (RDF 1.1). RDF-star quoted triples are
rejected, matching the reference (GroupOfColumns.java:64-66).

Line regex: RE2 reports a non-participating group as '' rather than
NULL, so each group captures its delimiter too (``<iri>`` keeps its angle
brackets, ``"lit"`` its quotes, ``@lang``/``^^<dt>`` their markers); an
empty group then always means "absent", and the markers are sliced off
afterwards. Escapes (``\\t``, ``\\"``, ``\\u00E9``, ...) are resolved
only in the term values that hold a backslash, by the tokenizer's
:func:`turtle.unescape` — one left-to-right pass, so ``\\\\n`` stays a
backslash followed by 'n'.

One visible semantic nuance: RE2's ``\\s`` is ASCII whitespace while
CPython's is Unicode. The N-Triples grammar only allows ASCII space/tab
between terms, so conforming input parses as any N-Triples parser does;
a line using exotic Unicode separators is kept as a ``parse_error`` row.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.uri import PART_KEYS, decompose_arrow
from ..naming import XSD_STRING
from .rdfxml import parse_rdfxml
from .turtle import parse_turtle, unescape
from .turtle_arrow import parse_turtle_arrow

STATEMENT_COLUMNS = [
    "file_sha256",
    "line_no",
    "s_kind",
    "s_lex",
    "p_iri",
    "o_kind",
    "o_lex",
    "o_lang",
    "o_datatype",
    "g_iri",
    "parse_error",
]

STATEMENT_SCHEMA = (
    "file_sha256 string, "
    "line_no bigint, s_kind string, s_lex string, p_iri string, "
    "o_kind string, o_lex string, o_lang string, o_datatype string, "
    "g_iri string, parse_error string"
)

_PART_COLS = [f"{role}_{k}" for role in ("s", "o") for k in PART_KEYS]
DECOMPOSED_COLUMNS = STATEMENT_COLUMNS + _PART_COLS
DECOMPOSED_SCHEMA = STATEMENT_SCHEMA + ", " + ", ".join(f"{c} string" for c in _PART_COLS)

_BIG = 2**30
_NULL_STR = pa.scalar(None, pa.string())
_TURTLE = pa.array(["turtle", "ttl"])
_RDFXML = pa.array(["rdfxml", "rdf", "xml", "rdf/xml"])

_IRI = r"<[^<>\s]*>"
_BN = r"_:[A-Za-z0-9][A-Za-z0-9._\-]*"
#: one statement per line; every group carries its delimiters (module doc)
LINE_RE = (
    r"^\s*"
    rf"(?:(?P<s_iri>{_IRI})|(?P<s_bn>{_BN}))"
    r"\s+"
    rf"(?P<p_iri>{_IRI})"
    r"\s+"
    rf"(?:(?P<o_iri>{_IRI})|(?P<o_bn>{_BN})|"
    r'(?P<o_lit>"(?:[^"\\]|\\.)*")'
    r"(?:(?P<o_lang>@[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*)"
    rf"|(?P<o_dt>\^\^{_IRI}))?)"
    r"\s*"
    rf"(?:(?P<g_iri>{_IRI})|(?P<g_bn>{_BN}))?"
    r"\s*\.\s*(?:#.*)?$"
)


def _schema(decompose: bool) -> pa.Schema:
    cols = DECOMPOSED_COLUMNS if decompose else STATEMENT_COLUMNS
    return pa.schema(
        [(c, pa.int64() if c == "line_no" else pa.string()) for c in cols]
    )


def _present(g):
    """Delimiter-carrying group -> boolean presence (empty = absent;
    null struct rows stay null and propagate)."""
    return pc.not_equal(g, "")


def _opt(g, start: int, stop: int = _BIG):
    """Delimiter-carrying group -> stripped value or null when absent."""
    return pc.if_else(_present(g), pc.utf8_slice_codeunits(g, start, stop), _NULL_STR)


def _unescape(col: pa.Array) -> pa.Array:
    """Resolve escapes in the values holding a backslash (Python per
    value; the rest of the column is untouched)."""
    has = pc.fill_null(pc.match_substring(col, "\\"), False)
    if not pc.any(has).as_py():
        return col
    vals = [unescape(v) for v in pc.filter(col, has).to_pylist()]
    return pc.replace_with_mask(col, has, pa.array(vals, pa.string()))


def parse_nt(content: pa.Array, sha: pa.Array, default_graph: str) -> dict[str, pa.Array]:
    """N-Triples / N-Quads file contents -> lexical statement columns,
    one row per non-blank, non-comment line."""
    lines_list = pc.split_pattern(content, "\n")
    file_idx = pc.list_parent_indices(lines_list)
    lines = pc.list_flatten(lines_list)
    counts = pc.list_value_length(lines_list).to_numpy(zero_copy_only=False)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    line_no = np.arange(len(starts), dtype=np.int64) - starts + 1

    stripped = pc.utf8_trim_whitespace(lines)
    keep = pc.and_(
        pc.greater(pc.binary_length(stripped), 0),
        pc.invert(pc.starts_with(stripped, "#")),
    )
    stripped = pc.filter(stripped, keep)
    file_idx = pc.filter(file_idx, keep)
    line_no = line_no[keep.to_numpy(zero_copy_only=False)]

    g = pc.extract_regex(stripped, LINE_RE)
    f = {n: pc.struct_field(g, n) for n in (
        "s_iri", "s_bn", "p_iri", "o_iri", "o_bn", "o_lit", "o_lang", "o_dt",
        "g_iri", "g_bn",
    )}
    # unescaping keeps each group's leading and closing delimiter (an
    # escape starts with a backslash and ends before the delimiter), so
    # the slices below still cut exactly the markers
    for n in ("s_iri", "p_iri", "o_iri", "o_lit", "o_dt", "g_iri"):
        f[n] = _unescape(f[n])

    s_is_iri = _present(f["s_iri"])
    o_is_iri = _present(f["o_iri"])
    o_is_bn = _present(f["o_bn"])
    lang_p = _present(f["o_lang"])
    return {
        "file_sha256": pc.take(sha, file_idx),
        "line_no": pa.array(line_no, pa.int64()),
        "s_kind": pc.if_else(s_is_iri, "iri", "bnode"),
        "s_lex": pc.if_else(
            s_is_iri,
            pc.utf8_slice_codeunits(f["s_iri"], 1, -1),
            pc.utf8_slice_codeunits(f["s_bn"], 2, _BIG),
        ),
        "p_iri": pc.utf8_slice_codeunits(f["p_iri"], 1, -1),
        "o_kind": pc.if_else(
            o_is_iri, "iri", pc.if_else(o_is_bn, "bnode", "literal")
        ),
        "o_lex": pc.if_else(
            o_is_iri,
            pc.utf8_slice_codeunits(f["o_iri"], 1, -1),
            pc.if_else(
                o_is_bn,
                pc.utf8_slice_codeunits(f["o_bn"], 2, _BIG),
                pc.utf8_slice_codeunits(f["o_lit"], 1, -1),
            ),
        ),
        "o_lang": _opt(f["o_lang"], 1),
        # plain literal (no lang, no ^^datatype) -> xsd:string
        "o_datatype": pc.if_else(
            pc.and_(pc.and_(pc.invert(o_is_iri), pc.invert(o_is_bn)), pc.invert(lang_p)),
            pc.if_else(
                _present(f["o_dt"]),
                pc.utf8_slice_codeunits(f["o_dt"], 3, -1),
                pa.scalar(XSD_STRING, pa.string()),
            ),
            _NULL_STR,
        ),
        # bnode graph labels keep their _: prefix as an opaque graph name
        "g_iri": pc.if_else(
            _present(f["g_iri"]),
            pc.utf8_slice_codeunits(f["g_iri"], 1, -1),
            pc.if_else(
                _present(f["g_bn"]), f["g_bn"], pa.scalar(default_graph, pa.string())
            ),
        ),
        "parse_error": pc.if_else(
            pc.is_valid(g), _NULL_STR, pc.utf8_slice_codeunits(stripped, 0, 200)
        ),
    }


def _parse_per_file(
    content: pa.Array, sha: pa.Array, default_graph: str, parse_fn
) -> dict[str, pa.Array]:
    """Per-file parser (:func:`turtle.parse_turtle` or
    :func:`rdfxml.parse_rdfxml`) -> lexical statement columns; its
    errors become ``parse_error`` rows."""
    rows: list[tuple] = []
    for digest, text in zip(sha.to_pylist(), content.to_pylist()):
        stmts, errors = parse_fn(text, default_graph)
        rows.extend((digest, *st, None) for st in stmts)
        rows.extend((digest, ln) + (None,) * 8 + (msg[:200],) for ln, msg in errors)
    cols = list(zip(*rows)) if rows else [()] * len(STATEMENT_COLUMNS)
    return {
        c: pa.array(list(v), pa.int64() if c == "line_no" else pa.string())
        for c, v in zip(STATEMENT_COLUMNS, cols)
    }


def _finish(parts: list[dict[str, pa.Array]], decompose: bool) -> pa.RecordBatch:
    """Lexical statement columns of one or more producers -> one
    RecordBatch; with ``decompose`` the subject's and object's IRI parts
    are added (NULL for bnodes and literals)."""
    cols = {c: pa.concat_arrays([p[c] for p in parts]) for c in STATEMENT_COLUMNS}
    if decompose:
        for role in ("s", "o"):
            iri = pc.if_else(
                pc.equal(cols[f"{role}_kind"], "iri"), cols[f"{role}_lex"], _NULL_STR
            )
            for k, v in decompose_arrow(iri).items():
                cols[f"{role}_{k}"] = v
    schema = _schema(decompose)
    return pa.RecordBatch.from_arrays([cols[c] for c in schema.names], schema=schema)


def parse_iterator_arrow(
    batches: Iterator[pa.RecordBatch], default_graph: str, decompose: bool = False
) -> Iterator[pa.RecordBatch]:
    """Adapter for ``DataFrame.mapInArrow``: ``source_files`` batches
    (content, file_sha256, optional lang) -> statement batches, one per
    input batch, routed per file as the module doc describes."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        content = batch.column("content")
        sha = batch.column("file_sha256")
        if "lang" not in batch.schema.names:
            yield _finish([parse_nt(content, sha, default_graph)], decompose)
            continue
        lang = batch.column("lang")
        is_ttl = pc.fill_null(pc.is_in(lang, value_set=_TURTLE), False)
        is_xml = pc.fill_null(pc.is_in(lang, value_set=_RDFXML), False)
        is_nt = pc.invert(pc.or_(is_ttl, is_xml))
        parts = []
        if pc.any(is_nt).as_py():
            parts.append(
                parse_nt(pc.filter(content, is_nt), pc.filter(sha, is_nt), default_graph)
            )
        if pc.any(is_ttl).as_py():
            ttl_content, ttl_sha = pc.filter(content, is_ttl), pc.filter(sha, is_ttl)
            cols, ok = parse_turtle_arrow(ttl_content, ttl_sha, default_graph)
            parts.append(cols)
            slow = pc.invert(ok)
            if pc.any(slow).as_py():
                parts.append(_parse_per_file(
                    pc.filter(ttl_content, slow), pc.filter(ttl_sha, slow),
                    default_graph, parse_turtle,
                ))
        if pc.any(is_xml).as_py():
            parts.append(_parse_per_file(
                pc.filter(content, is_xml), pc.filter(sha, is_xml),
                default_graph, parse_rdfxml,
            ))
        yield _finish(parts, decompose)
