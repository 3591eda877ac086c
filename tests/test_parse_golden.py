"""Frozen stage-E parse outputs on a small seeded mixed-syntax corpus —
Spark-free (pyarrow + the per-file parsers).

The goldens under tests/data/ are the canonical rendering (one JSON row
per line, rows sorted) of ``parse_iterator_arrow`` over :func:`corpus`,
with and without IRI decomposition. They were written when escaped
N-Triples, list-form Turtle and RDF/XML still went through a pandas
parser and a pandas IRI decomposer, and pin the single Arrow path to
that output byte for byte.

Two kinds of row differ on purpose and are listed in :data:`DELIBERATE`:
an IRI holding a line terminator (the old decomposer's ``.`` stopped at
the newline and nulled all nine parts) and an escaped-file line whose
terms are separated by a non-ASCII space (RE2's ``\\s`` is ASCII-only,
the old pandas line regex used CPython's Unicode ``\\s``).

Regenerate after an intended output change with
``python tests/test_parse_golden.py`` and review the diff.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from r2s2_spark.sources.ntriples import parse_iterator_arrow  # noqa: E402

DG = "urn:x-default"
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
GOLDEN = {
    False: os.path.join(DATA, "parse_golden_lexical.jsonl"),
    True: os.path.join(DATA, "parse_golden_decomposed.jsonl"),
}

#: (file_sha256, line_no) of the rows that differ from the goldens on
#: purpose, mapped to the decompose values under which they differ
DELIBERATE = {
    ("esc-iri-newline", 1): (True,),
    ("esc-nbsp", 2): (False, True),
}

_IRIS = [
    "http://ex.org/a",
    "http://ex.org/p#frag",
    "https://user:pw@ex.org:8443/x/y?q=1&r=2#f",
    "http://@ex.org/empty-user",
    "http://ex.org:80",
    "http://ex.org/p?",
    "http://ex.org/p#",
    "file:///tmp/x.txt",
    "mailto:someone@ex.org",
    "urn:isbn:0451450523",
    "urn:uuid:1-2-3",
    "tel:+1-816-555-1212",
    "http://a@b@ex.org/two-at",
    "http://ex.org/café/東京",
    "rel/path",
    "",
]
_LANGS = ["en", "en-GB", "cz", "de-CH-1901"]
_DTS = ["http://www.w3.org/2001/XMLSchema#integer", "urn:dt:custom"]
_WORDS = ["alpha", "beta", "gamma", "delta", "café", "東京", "x y"]
_ESCAPES = ["\\t", "\\n", "\\r", '\\"', "\\\\", "\\u00E9", "\\U0001F600", "\\b", "\\f", "\\'", "\\x"]


def _nt_term(rng: random.Random, obj: bool, escaped: bool) -> str:
    r = rng.random()
    if r < 0.15:
        return f"_:b{rng.randrange(5)}"
    if not obj or r < 0.55:
        iri = rng.choice(_IRIS)
        if escaped and rng.random() < 0.3:
            iri = iri + "\\u00E9"
        return f"<{iri}>"
    body = " ".join(rng.sample(_WORDS, 2))
    if escaped:
        body = body + rng.choice(_ESCAPES) + rng.choice(_WORDS)
    suffix = rng.choice(["", "", f"@{rng.choice(_LANGS)}", f"^^<{rng.choice(_DTS)}>"])
    return f'"{body}"{suffix}'


def _nt_file(rng: random.Random, escaped: bool, quads: bool) -> str:
    lines = []
    for _ in range(rng.randrange(2, 6)):
        r = rng.random()
        if r < 0.08:
            lines.append("# comment")
        elif r < 0.14:
            lines.append("   ")
        elif r < 0.22:
            lines.append(rng.choice(["garbage line", '<http://ex.org/s> <http://ex.org/p> "open .',
                                     "<http://ex.org/s> <http://ex.org/p> ."]))
        else:
            g = ""
            if quads and rng.random() < 0.6:
                g = " " + rng.choice(["<http://ex.org/g1>", "_:g2", "<urn:g:3>"])
            pred = f"<{rng.choice(_IRIS[:4])}>"
            lines.append(
                f"{_nt_term(rng, False, escaped)} {pred} {_nt_term(rng, True, escaped)}{g} ."
                + rng.choice(["", "", " # trailing"])
            )
    return "\n".join(lines) + rng.choice(["", "\n", "\r\n"])


_TTL_HEAD = (
    "@prefix ex: <http://ex.org/> .\n"
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
)
_TTL_LINE_OBJS = ['"v"', '"v"@en', '"v"^^xsd:string', "5", "5.5", "-7e3", "true",
                  "ex:o", "<urn:o>", "_:z", '"café"']
_TTL_LIST_BODIES = [
    'ex:s ex:p "a" , "b" ; ex:q ex:o .',
    'ex:s ex:knows [ ex:name "Anna\\tB" ; ex:age 7 ] .',
    "ex:l ex:items ( ex:a \"b\" 3 ) .",
    "ex:t ex:empty ( ) .",
    'ex:s ex:desc """multi\nline "quoted" text""" .',
    "ex:s ex:p ex:foo.",
    "ex:u ex:p 'single \\u00E9' .",
    "ex:v ex:p undeclared:x .",
    "ex:w ex:p ( unterminated",
    '[ ex:p "anon subject" ] .',
]


def _ttl_line_file(rng: random.Random) -> str:
    lines = [_TTL_HEAD.rstrip("\n")]
    for i in range(rng.randrange(1, 5)):
        lines.append(f"ex:e{i} {rng.choice(['ex:p', 'a', '<urn:p>'])} {rng.choice(_TTL_LINE_OBJS)} .")
    return "\n".join(lines) + "\n"


def _ttl_list_file(rng: random.Random) -> str:
    return _TTL_HEAD + "\n".join(rng.sample(_TTL_LIST_BODIES, 3)) + "\n"


_XML = [
    """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/" xml:base="http://b.org/dir/doc">
  <ex:Person rdf:ID="p1" ex:nick="fred">
    <ex:addr rdf:parseType="Resource"><ex:city>Zürich</ex:city></ex:addr>
    <ex:items rdf:parseType="Collection">
      <rdf:Description rdf:about="http://ex.org/i1"/>
      <rdf:Description rdf:about="other"/>
    </ex:items>
    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:age>
    <ex:label xml:lang="en">a label</ex:label>
  </ex:Person>
  <rdf:Seq rdf:about="http://ex.org/seq"><rdf:li>one</rdf:li><rdf:li>two</rdf:li></rdf:Seq>
</rdf:RDF>""",
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/">
  <rdf:Description rdf:about="mailto:a@b.org"><ex:q rdf:resource="urn:x:1"/></rdf:Description>
</rdf:RDF>""",
    "<rdf:RDF><unclosed>",
]

#: fixed lines covering the two deliberate differences (see module doc)
_FIXED = [
    ("esc-iri-newline", "ntriples", '<http://h/p#a\\u000Ab> <http://h/q> "x" .\n'),
    ("esc-nbsp", "ntriples",
     '<http://h/s> <http://h/p> "tab\\there" .\n<http://h/s> <http://h/p> "nbsp" .\n'),
]


def corpus() -> list[tuple[str, str | None, str]]:
    """Seeded (file_sha256, lang, content) rows."""
    rng = random.Random(20261018)
    files: list[tuple[str, str | None, str]] = list(_FIXED)
    nt_langs = ["ntriples", "nquads", None]
    for i in range(14):
        files.append((f"nt{i:02d}", rng.choice(nt_langs), _nt_file(rng, False, i % 2 == 0)))
    for i in range(14):
        files.append((f"esc{i:02d}", rng.choice(nt_langs), _nt_file(rng, True, i % 2 == 1)))
    for i in range(8):
        files.append((f"ttl{i:02d}", rng.choice(["turtle", "ttl"]), _ttl_line_file(rng)))
    for i in range(8):
        files.append((f"ttl-list{i:02d}", "turtle", _ttl_list_file(rng)))
    for i, text in enumerate(_XML):
        files.append((f"xml{i:02d}", ["rdfxml", "rdf", "xml"][i], text))
    rng.shuffle(files)
    return files


def render(decompose: bool) -> str:
    """Canonical text of the parse output: a header row of column names,
    then one JSON row per statement, sorted."""
    files = corpus()
    batches = [
        pa.RecordBatch.from_arrays(
            [
                pa.array([f[2] for f in chunk], pa.string()),
                pa.array([f[0] for f in chunk], pa.string()),
                pa.array([f[1] for f in chunk], pa.string()),
            ],
            names=["content", "file_sha256", "lang"],
        )
        for chunk in (files[i:i + 13] for i in range(0, len(files), 13))
    ]
    names = None
    rows = []
    for rb in parse_iterator_arrow(iter(batches), DG, decompose):
        names = rb.schema.names
        rows.extend(json.dumps(list(r.values())) for r in rb.to_pylist())
    return json.dumps(names) + "\n" + "\n".join(sorted(rows)) + "\n"


def _key(line: str) -> tuple:
    row = json.loads(line)
    return row[0], row[1]


def _check(decompose: bool) -> None:
    with open(GOLDEN[decompose], encoding="ascii") as fh:
        want = fh.read().splitlines()
    got = render(decompose).splitlines()
    assert got[0] == want[0]
    gone = set(want[1:]) - set(got[1:])
    new = set(got[1:]) - set(want[1:])
    expected = {k for k, modes in DELIBERATE.items() if decompose in modes}
    assert {_key(r) for r in gone} == expected, sorted(gone)
    assert {_key(r) for r in new} == expected, sorted(new)
    for line in new:
        row = dict(zip(json.loads(got[0]), json.loads(line)))
        if row["file_sha256"] == "esc-nbsp":
            assert row["parse_error"], row
        else:
            assert row["s_fragment"] == "a\nb", row
    assert len(got) == len(want)


def test_lexical_output_matches_golden():
    _check(False)


def test_decomposed_output_matches_golden():
    _check(True)


if __name__ == "__main__":
    os.makedirs(DATA, exist_ok=True)
    for decompose, path in GOLDEN.items():
        with open(path, "w", encoding="ascii") as fh:
            fh.write(render(decompose))
        print(path, os.path.getsize(path))
