"""Turtle-subset parser (batch, runs inside the Stage E Arrow boundary).

The reference parses any RDF4J-supported syntax chosen by file extension
(ParseIntoSOGTables.java:138-141,402-445). This engine's `lang` column
plays that role: 'ntriples'/'nquads' take the fully vectorized line parser
(sources/ntriples.py); 'turtle'/'ttl' files outside the line-oriented
Arrow subset (sources/turtle_arrow.py) take this tokenizer.

Supported subset (covers common LOD dumps):
- @prefix / PREFIX declarations, @base / BASE,
- prefixed names, IRIREFs (relative resolved against base), blank nodes,
- the `a` keyword, `;` predicate lists, `,` object lists,
- string literals with escapes, @lang tags, ^^datatype (IRI or pname),
- numeric (integer/decimal/double) and boolean shorthand literals,
- anonymous blank-node property lists `[ ... ]` (as subject or object;
  fresh labels `__anon<n>` — user labels can't start with '_', so no
  collision) and collections `( ... )` (rdf:first/rdf:rest chains,
  `()` = rdf:nil),
- comments.
Unsupported (statement flagged as parse_error, matching the engine's
lenient-but-accounted policy): RDF-star (also rejected by the reference,
GroupOfColumns.java:64-66).

Per-file Python is acceptable here: Turtle is context-sensitive (prefix
state), so it cannot be line-vectorized like N-Triples; the loop still
lives inside the one sanctioned mapInArrow batch, not a per-row Spark UDF.
"""

from __future__ import annotations

import re

from ..naming import RDF, XSD, XSD_STRING
from .iri import resolve as iri_resolve

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>\#[^\n]*)
  | (?P<iriref><[^<>"{}|^`\\\x00-\x20]*>)
  | (?P<string>\"{3}(?:[^"\\]|\\.|"(?!""))*\"{3}
              |'{3}(?:[^'\\]|\\.|'(?!''))*'{3}
              |"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<prefix_decl>@prefix|@base|PREFIX(?=\s)|BASE(?=\s))
  | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<dtype>\^\^)
  | (?P<blank>_:[A-Za-z0-9][A-Za-z0-9._\-]*)
  | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<bool>(?:true|false)(?![A-Za-z0-9_]))
    # PN_LOCAL must not END with '.' — 'ex:foo.' is pname + statement dot
  | (?P<pname>[A-Za-z0-9_][A-Za-z0-9_.\-]*?:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?
             |[A-Za-z0-9_][A-Za-z0-9_.\-]*?:
             |:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?
             |:)
  | (?P<kw_a>a(?![A-Za-z0-9_]))
  | (?P<punct>[.;,\[\]()])
""",
    re.VERBOSE,
)

_ESCAPE_RE = re.compile(r"\\(?:[tbnrf\"'\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})")
_ESCAPE_MAP = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def unescape(s: str) -> str:
    if "\\" not in s:
        return s

    def sub(m):
        body = m.group(0)[1:]
        if body[0] in "uU":
            return chr(int(body[1:], 16))
        return _ESCAPE_MAP[body]

    return _ESCAPE_RE.sub(sub, s)


class _Term:
    __slots__ = ("kind", "lex", "lang", "datatype")

    def __init__(self, kind, lex, lang=None, datatype=None):
        self.kind, self.lex, self.lang, self.datatype = kind, lex, lang, datatype


def parse_turtle(text: str, default_graph: str):
    """-> (statements, errors): statements are
    (line_no, s_kind, s_lex, p_iri, o_kind, o_lex, o_lang, o_datatype, g_iri);
    errors are (line_no, message)."""
    prefixes: dict[str, str] = {}
    base = ""
    statements: list[tuple] = []
    errors: list[tuple] = []

    tokens: list[tuple] = []  # (type, value, line_no)
    line = 1
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if not m:
            errors.append((line, f"lex error at {text[pos:pos+30]!r}"))
            nl = text.find("\n", pos)
            pos = n if nl < 0 else nl + 1
            line += 1
            continue
        kind = m.lastgroup
        val = m.group(0)
        if kind not in ("ws", "comment"):
            tokens.append((kind, val, line))
        line += val.count("\n")
        pos = m.end()

    def resolve_iri(raw: str, ln: int) -> str | None:
        # full RFC 3986 reference resolution against the current @base
        # (dot segments, .., authority-relative, query-only — VERDICT r2);
        # with no @base in scope, relative IRIs pass through unchanged
        inner = unescape(raw[1:-1])
        return iri_resolve(inner, base)

    def resolve_pname(raw: str, ln: int) -> str | None:
        p, _, local = raw.partition(":")
        ns = prefixes.get(p)
        if ns is None:
            errors.append((ln, f"unknown prefix {p!r}:"))
            return None
        return ns + local

    i = 0
    N = len(tokens)
    anon = [0]

    def new_bnode() -> _Term:
        # '__anon<n>': user labels can't start with '_' (tokenizer requires
        # an alnum first char), so generated labels never collide; the
        # downstream bnode id is xxhash64(file_sha256, label) either way
        anon[0] += 1
        return _Term("bnode", f"__anon{anon[0]}")

    def emit(ln: int, subj: _Term, pred_iri: str, obj: _Term) -> None:
        statements.append(
            (ln, subj.kind, subj.lex, pred_iri, obj.kind, obj.lex, obj.lang,
             obj.datatype, default_graph)
        )

    def _is_punct(j: int, ch: str) -> bool:
        return j < N and tokens[j][0] == "punct" and tokens[j][1] == ch

    def term_at(j: int):
        """Parse one term starting at token j -> (Term|None, next_j).
        `[ ... ]` and `( ... )` emit their internal triples as a side
        effect and return the head node."""
        kind, val, ln = tokens[j]
        if kind == "iriref":
            return _Term("iri", resolve_iri(val, ln)), j + 1
        if kind == "pname":
            iri = resolve_pname(val, ln)
            return (None if iri is None else _Term("iri", iri)), j + 1
        if kind == "kw_a":
            return _Term("iri", RDF + "type"), j + 1
        if kind == "blank":
            return _Term("bnode", val[2:]), j + 1
        if kind == "punct" and val == "[":
            node = new_bnode()
            if _is_punct(j + 1, "]"):  # empty anonymous node
                return node, j + 2
            ok, nj = parse_pol(node, j + 1, ln, closer="]")
            return (node if ok else None), nj
        if kind == "punct" and val == "(":
            j += 1
            items: list[tuple[_Term, int]] = []
            while j < N and not _is_punct(j, ")"):
                t, j = term_at(j)
                if t is None:
                    return None, j
                items.append((t, tokens[min(j, N - 1)][2]))
            if j >= N:
                errors.append((ln, "eof in collection"))
                return None, j
            j += 1  # past ')'
            if not items:
                return _Term("iri", RDF + "nil"), j
            cells = [new_bnode() for _ in items]
            for idx, (t, iln) in enumerate(items):
                emit(iln, cells[idx], RDF + "first", t)
                rest = cells[idx + 1] if idx + 1 < len(items) else _Term("iri", RDF + "nil")
                emit(iln, cells[idx], RDF + "rest", rest)
            return cells[0], j
        if kind == "string":
            nq = 3 if val[:3] in ('"""', "'''") else 1
            lex = unescape(val[nq:-nq])
            if j + 1 < N and tokens[j + 1][0] == "langtag":
                return _Term("literal", lex, lang=tokens[j + 1][1][1:]), j + 2
            if j + 1 < N and tokens[j + 1][0] == "dtype":
                if j + 2 < N:
                    dt, nj = term_at(j + 2)
                    if dt is not None and dt.kind == "iri":
                        return _Term("literal", lex, datatype=dt.lex), nj
                errors.append((ln, "bad ^^ datatype"))
                return None, j + 2
            return _Term("literal", lex, datatype=XSD_STRING), j + 1
        if kind == "num":
            if re.fullmatch(r"[+-]?\d+", val):
                return _Term("literal", val, datatype=XSD + "integer"), j + 1
            if "e" in val.lower():
                return _Term("literal", val, datatype=XSD + "double"), j + 1
            return _Term("literal", val, datatype=XSD + "decimal"), j + 1
        if kind == "bool":
            return _Term("literal", val, datatype=XSD + "boolean"), j + 1
        errors.append((ln, f"unsupported term {val!r}"))
        return None, j + 1

    def parse_pol(subj: _Term, j: int, ln: int, closer: str | None = None):
        """predicateObjectList for ``subj``; terminated by '.' (top level)
        or ``closer`` (']' for anonymous nodes, consumed). -> (ok, next_j)."""
        while True:
            if j >= N:
                errors.append((ln, "eof in statement"))
                return False, j
            pred, j = term_at(j)
            if pred is None or pred.kind != "iri":
                errors.append((tokens[min(j, N - 1)][2], "bad predicate"))
                return False, j
            while True:  # object list
                if j >= N:
                    errors.append((ln, "eof in object list"))
                    return False, j
                obj, j = term_at(j)
                if obj is None:
                    return False, j
                emit(ln, subj, pred.lex, obj)
                if _is_punct(j, ","):
                    j += 1
                    continue
                break
            if _is_punct(j, ";"):
                j += 1
                while _is_punct(j, ";"):  # repeated ';' are legal
                    j += 1
                # trailing ';' before the terminator
                if closer is not None and _is_punct(j, closer):
                    return True, j + 1
                if closer is None and _is_punct(j, "."):
                    return True, j + 1
                continue
            if closer is not None and _is_punct(j, closer):
                return True, j + 1
            if closer is None and _is_punct(j, "."):
                return True, j + 1
            errors.append(
                (tokens[min(j, N - 1)][2],
                 "expected '.', ';' or ','" if closer is None else "expected ']', ';' or ','")
            )
            return False, j

    while i < N:
        kind, val, ln = tokens[i]
        # directives
        if kind == "prefix_decl":
            sparql_style = val in ("PREFIX", "BASE")
            if val in ("@prefix", "PREFIX"):
                if i + 2 < N and tokens[i + 1][0] == "pname" and tokens[i + 2][0] == "iriref":
                    pname = tokens[i + 1][1]
                    prefixes[pname[: pname.index(":")]] = resolve_iri(tokens[i + 2][1], ln)
                    i += 3
                else:
                    errors.append((ln, "bad @prefix"))
                    i += 1
                    continue
            else:  # @base / BASE
                if i + 1 < N and tokens[i + 1][0] == "iriref":
                    base = resolve_iri(tokens[i + 1][1], ln)
                    i += 2
                else:
                    errors.append((ln, "bad @base"))
                    i += 1
                    continue
            if not sparql_style:
                if _is_punct(i, "."):
                    i += 1
                else:
                    errors.append((ln, "missing '.' after directive"))
            continue

        # statement: subject predicateObjectList '.'
        was_anon_subject = kind == "punct" and val in ("[", "(")
        subj, i = term_at(i)
        if subj is None or subj.kind == "literal":
            errors.append((ln, "bad subject"))
            i = _skip_to_dot(tokens, i)
            continue
        # 'blankNodePropertyList .' / 'collection .' — predicateObjectList
        # is optional after an anonymous subject (Turtle [6] triples)
        if was_anon_subject and _is_punct(i, "."):
            i += 1
            continue
        ok, i = parse_pol(subj, i, ln)
        if not ok:
            i = _skip_to_dot(tokens, i)
    return statements, errors


def _skip_to_dot(tokens, i):
    while i < len(tokens) and not (tokens[i][0] == "punct" and tokens[i][1] == "."):
        i += 1
    return i + 1
