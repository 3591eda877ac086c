"""Arrow-native fast path for LINE-ORIENTED Turtle (pyarrow.compute, RE2).

Turtle is context-sensitive (prefix state), so it cannot be blindly
line-vectorized like N-Triples — but the overwhelmingly common dump shape
IS line-oriented: a header block of ``@prefix`` directives followed by one
simple triple per line (pname/IRIREF/bnode terms, string/number/boolean
objects, optional ``@lang``/``^^dt``, a trailing ``.``). This module
vectorizes exactly that subset and rejects WHOLE FILES to the tokenizer
(:mod:`turtle`) on the first sign of anything else, so the accepted subset
is byte-identical to the tokenizer by construction (asserted against it on
fixture, adversarial and fuzz corpora in tests):

File eligibility (any failure -> the file takes the slow path):
- no backslash anywhere in the content (the tokenizer resolves escapes
  in context: strings, IRIs, long strings);
- every non-blank, non-comment line FULL-MATCHES either the ``@prefix``
  directive form or the simple-triple grammar below (so ``;``/``,``
  lists, ``[ ]``/``( )``, multiline strings, BASE/@base/PREFIX, RDF-star
  and malformed lines all demote the file — the tokenizer's per-line
  error recovery then produces its exact statements/errors);
- every directive line precedes every triple line (prefix state is then
  constant over all triples and can resolve vectorized);
- no directive declares a prefix the tokenizer lexes as something else —
  digit-leading (num) or 'true'/'false' + '.', '-' or ':' (boolean) —
  even when no triple uses it (the tokenizer reports it as an error);
- every pname's prefix resolves in the file's directive map.

Line grammar (delimiter-carrying captures; RE2 has no backreferences and
the string pattern is escape-free because of the backslash prefilter):

    subject:   IRIREF | pname | _:label
    predicate: IRIREF | pname | a
    object:    IRIREF | pname | _:label | "lit"[@lang|^^IRIREF|^^pname]
               | number | true|false
    terminator: '.' [#comment]

Ambiguity notes mirroring the tokenizer: pname is tried before the bare
``a`` keyword (``a:x`` is a pname); a pname's local part cannot END with
'.' (``ex:foo.`` is pname + statement dot); the numeric token is greedy
(``1.`` is a decimal-ish num token, the statement dot must follow
separately) — each is encoded in the regex so a line this path matches
tokenizes identically in the slow path.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..naming import RDF, XSD, XSD_STRING

_BIG = 2**30
_NULL_STR = pa.scalar(None, pa.string())

_IRI = r"<[^<>\"{}|^`\\\x00-\x20]*>"
#: pname prefix with a NON-DIGIT first character: the tokenizer tries num
#: BEFORE pname, so a digit-leading "123:x" lexes as num + ':x' (two
#: tokens) — accepting it here as one pname would diverge; excluded from
#: the fast grammar so such lines demote the file to the tokenizer.
_PFX = r"(?:[A-Za-z_][A-Za-z0-9_.\-]*)?:"
#: a prefix the tokenizer lexes as a boolean + ':local' ('true:', 'false.x:'
#: — the bool token only refuses a following [A-Za-z0-9_]); such a prefix
#: demotes its file whether it is declared or used
_BOOL_PFX = r"(?:true|false)[.:\-]"
#: local part cannot END with '.' (statement dot)
_PNAME = _PFX + r"(?:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?)?"
_BNODE = r"_:[A-Za-z0-9][A-Za-z0-9._\-]*"
_NUM = r"[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?"
#: escape-free single-line string (the backslash prefilter guarantees it)
_STR = r'"[^"\n]*"'

#: header directive: @prefix pn: <iri> .   (PREFIX/BASE/@base -> fallback)
DIRECTIVE_RE = (
    r"^[ \t]*@prefix[ \t]+"
    rf"(?P<pfx>{_PFX})[ \t]*"
    rf"(?P<ns>{_IRI})[ \t]*\.[ \t]*(?:#.*)?$"
)

#: bnode BEFORE pname in every alternation: the tokenizer's blank token
#: precedes pname, and the pname prefix class contains '_' — pname-first
#: would claim '_:b1' as prefix '_' + local 'b1' and then fail resolution
TRIPLE_RE = (
    r"^[ \t]*"
    rf"(?:(?P<s_iri>{_IRI})|(?P<s_bn>{_BNODE})|(?P<s_pn>{_PNAME}))"
    r"[ \t]+"
    rf"(?:(?P<p_iri>{_IRI})|(?P<p_pn>{_PNAME})|(?P<p_a>a))"
    r"[ \t]+"
    # num and bnode tokens can CONTAIN '.'-ish tails the tokenizer munches
    # possessively ('_:z.' lexes as label 'z.', '5.' as a num token) while
    # a backtracking full-line match would un-greedy them to free the
    # statement dot — so those two branches REQUIRE whitespace before the
    # terminator (adjacent-dot lines demote the file to the tokenizer)
    rf"(?:(?:(?P<o_num>{_NUM})|(?P<o_bn>{_BNODE}))[ \t]"
    rf"|(?:(?P<o_iri>{_IRI})|(?P<o_bool>true|false)"
    rf"|(?P<o_pn>{_PNAME})"
    rf"|(?P<o_lit>{_STR})"
    r"(?:(?P<o_lang>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)"
    rf"|\^\^(?:(?P<dt_iri>{_IRI})|(?P<dt_pn>{_PNAME})))?))"
    r"[ \t]*\.[ \t]*(?:#.*)?$"
)


def _present(g):
    return pc.fill_null(pc.not_equal(g, ""), False)


def parse_turtle_arrow(content: pa.Array, sha: pa.Array, default_graph: str):
    """Vectorized parse attempt over Turtle files.

    Returns ``(columns, ok_mask)``: ``columns`` maps each lexical
    statement column to an array holding the statements of every ELIGIBLE
    file (ok_mask True); ineligible files contribute no rows and must be
    routed to the tokenizer by the caller.
    """
    n_files = len(content)
    lines_list = pc.split_pattern(content, "\n")
    file_idx_a = pc.list_parent_indices(lines_list)
    lines = pc.list_flatten(lines_list)
    counts = pc.list_value_length(lines_list).to_numpy(zero_copy_only=False)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    line_no = np.arange(len(starts), dtype=np.int64) - starts + 1
    file_idx = file_idx_a.to_numpy(zero_copy_only=False)

    stripped = pc.utf8_trim_whitespace(lines)
    blank = pc.or_(
        pc.equal(pc.binary_length(stripped), 0), pc.starts_with(stripped, "#")
    )
    blank_np = blank.to_numpy(zero_copy_only=False)

    d = pc.extract_regex(lines, DIRECTIVE_RE)
    is_dir = pc.is_valid(d).to_numpy(zero_copy_only=False)
    t = pc.extract_regex(lines, TRIPLE_RE)
    is_tri = pc.is_valid(t).to_numpy(zero_copy_only=False)

    # per-file eligibility: no backslash, every line classifies,
    # directives before triples
    bad_line = ~(blank_np | is_dir | is_tri)
    ok = pc.fill_null(pc.invert(pc.match_substring(content, "\\")), True).to_numpy(
        zero_copy_only=False
    )
    if bad_line.any():
        np.logical_and.at(ok, file_idx[bad_line], False)
    # order: max(directive line index) < min(triple line index) per file
    if is_dir.any():
        last_dir = np.full(n_files, -1, dtype=np.int64)
        np.maximum.at(last_dir, file_idx[is_dir], line_no[is_dir])
        first_tri = np.full(n_files, np.iinfo(np.int64).max, dtype=np.int64)
        if is_tri.any():
            np.minimum.at(first_tri, file_idx[is_tri], line_no[is_tri])
        ok &= last_dir < first_tri

    # prefix maps from the directive lines (tiny; later directives
    # override earlier ones in line order, like the tokenizer's dict)
    pmaps: list[dict] = [dict() for _ in range(n_files)]
    if is_dir.any():
        dir_rows = np.nonzero(is_dir)[0]
        pfx_vals = pc.struct_field(d, "pfx").take(pa.array(dir_rows)).to_pylist()
        ns_vals = pc.struct_field(d, "ns").take(pa.array(dir_rows)).to_pylist()
        for r, pfx, ns in zip(dir_rows, pfx_vals, ns_vals):
            if re.match(_BOOL_PFX, pfx):
                ok[file_idx[r]] = False
            # no @base in eligible files and no escapes (prefilter), so
            # the tokenizer's resolve_iri/unescape are both identity here
            pmaps[int(file_idx[r])][pfx[:-1]] = ns[1:-1]

    tri_rows = np.nonzero(is_tri & ok[file_idx])[0]
    take = pa.array(tri_rows)
    g = {
        name: pc.struct_field(t, name).take(take)
        for name in (
            "s_iri", "s_pn", "s_bn", "p_iri", "p_pn", "p_a",
            "o_iri", "o_num", "o_bool", "o_pn", "o_bn", "o_lit",
            "o_lang", "dt_iri", "dt_pn",
        )
    }
    tri_file = file_idx[tri_rows]
    tri_line = line_no[tri_rows]

    # pname resolution: dictionary-encode (file, pname) keys, resolve the
    # small dictionary in Python against the per-file maps, take back.
    # An unresolved prefix marks the FILE ineligible (the tokenizer then
    # produces its exact rows/errors).
    bad_files: set[int] = set()
    # '"x"@prefix'/'"x"@base': the tokenizer lexes these as directive
    # tokens (alternation order), not language tags — demote such files
    bad_lang = pc.fill_null(
        pc.is_in(g["o_lang"], value_set=pa.array(["@prefix", "@base"])), False
    ).to_numpy(zero_copy_only=False)
    if bad_lang.any():
        bad_files.update(int(x) for x in tri_file[bad_lang])

    def resolve_pn(col: pa.Array) -> pa.Array:
        present = _present(col)
        keyed = pc.if_else(
            present,
            pc.binary_join_element_wise(
                pa.array(tri_file.astype("U"), pa.string()), col, "\x00"
            ),
            _NULL_STR,
        )
        de = pc.dictionary_encode(keyed)
        out_vals = []
        for kv in de.dictionary.to_pylist():
            if kv is None:
                out_vals.append(None)
                continue
            fi_s, _, pn = kv.partition("\x00")
            pfx, _, local = pn.partition(":")
            ns = pmaps[int(fi_s)].get(pfx)
            if ns is None:
                bad_files.add(int(fi_s))
                out_vals.append(None)
            else:
                out_vals.append(ns + local)
        return pc.take(pa.array(out_vals, pa.string()), de.indices)

    s_pn_iri = resolve_pn(g["s_pn"])
    p_pn_iri = resolve_pn(g["p_pn"])
    o_pn_iri = resolve_pn(g["o_pn"])
    dt_pn_iri = resolve_pn(g["dt_pn"])
    if bad_files:
        for fi in bad_files:
            ok[fi] = False
        keep = np.isin(tri_file, np.fromiter(bad_files, dtype=np.int64), invert=True)
        keep_a = pa.array(keep)
        g = {k: pc.filter(v, keep_a) for k, v in g.items()}
        s_pn_iri = pc.filter(s_pn_iri, keep_a)
        p_pn_iri = pc.filter(p_pn_iri, keep_a)
        o_pn_iri = pc.filter(o_pn_iri, keep_a)
        dt_pn_iri = pc.filter(dt_pn_iri, keep_a)
        tri_file = tri_file[keep]
        tri_line = tri_line[keep]

    s_is_iri = _present(g["s_iri"])
    s_is_pn = _present(g["s_pn"])
    p_is_iri = _present(g["p_iri"])
    p_is_pn = _present(g["p_pn"])
    o_is_iri = _present(g["o_iri"])
    o_is_pn = _present(g["o_pn"])
    o_is_bn = _present(g["o_bn"])
    o_is_lit = _present(g["o_lit"])
    o_is_num = _present(g["o_num"])
    o_is_bool = _present(g["o_bool"])
    lang_p = _present(g["o_lang"])
    dt_iri_p = _present(g["dt_iri"])
    dt_pn_p = _present(g["dt_pn"])

    num_dt = pc.if_else(
        pc.match_substring_regex(g["o_num"], r"^[+-]?\d+$"),
        pa.scalar(XSD + "integer", pa.string()),
        pc.if_else(
            pc.match_substring_regex(g["o_num"], r"[eE]"),
            pa.scalar(XSD + "double", pa.string()),
            pa.scalar(XSD + "decimal", pa.string()),
        ),
    )

    s_lex = pc.if_else(
        s_is_iri,
        pc.utf8_slice_codeunits(g["s_iri"], 1, -1),
        pc.if_else(
            s_is_pn, s_pn_iri, pc.utf8_slice_codeunits(g["s_bn"], 2, _BIG)
        ),
    )
    p_iri = pc.if_else(
        p_is_iri,
        pc.utf8_slice_codeunits(g["p_iri"], 1, -1),
        pc.if_else(p_is_pn, p_pn_iri, pa.scalar(RDF + "type", pa.string())),
    )
    o_kind = pc.if_else(
        pc.or_(o_is_iri, o_is_pn),
        pa.scalar("iri", pa.string()),
        pc.if_else(
            o_is_bn, pa.scalar("bnode", pa.string()),
            pa.scalar("literal", pa.string()),
        ),
    )
    o_lex = pc.if_else(
        o_is_iri,
        pc.utf8_slice_codeunits(g["o_iri"], 1, -1),
        pc.if_else(
            o_is_pn,
            o_pn_iri,
            pc.if_else(
                o_is_bn,
                pc.utf8_slice_codeunits(g["o_bn"], 2, _BIG),
                pc.if_else(
                    o_is_lit,
                    pc.utf8_slice_codeunits(g["o_lit"], 1, -1),
                    pc.if_else(o_is_num, g["o_num"], g["o_bool"]),
                ),
            ),
        ),
    )
    o_datatype = pc.if_else(
        o_is_lit,
        pc.if_else(
            lang_p,
            _NULL_STR,
            pc.if_else(
                dt_iri_p,
                pc.utf8_slice_codeunits(g["dt_iri"], 1, -1),
                pc.if_else(
                    dt_pn_p, dt_pn_iri, pa.scalar(XSD_STRING, pa.string())
                ),
            ),
        ),
        pc.if_else(
            o_is_num,
            num_dt,
            pc.if_else(
                o_is_bool,
                pa.scalar(XSD + "boolean", pa.string()),
                _NULL_STR,
            ),
        ),
    )

    out = {
        "file_sha256": pc.take(sha, pa.array(tri_file)),
        "line_no": pa.array(tri_line, pa.int64()),
        "s_kind": pc.if_else(
            pc.or_(s_is_iri, s_is_pn), "iri", "bnode"
        ),
        "s_lex": s_lex,
        "p_iri": p_iri,
        "o_kind": o_kind,
        "o_lex": o_lex,
        "o_lang": pc.if_else(
            lang_p, pc.utf8_slice_codeunits(g["o_lang"], 1, _BIG), _NULL_STR
        ),
        "o_datatype": o_datatype,
        "g_iri": pa.array([default_graph] * len(tri_line), pa.string()),
        "parse_error": pa.nulls(len(tri_line), pa.string()),
    }
    return out, pa.array(ok)
