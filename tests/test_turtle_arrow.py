"""Fast-path/tokenizer equivalence for the Arrow line-oriented Turtle
subset (sources/turtle_arrow.py) — Spark-free (pyarrow + the tokenizer).

The contract: for every file the fast path marks ELIGIBLE, its statement
rows are byte-identical to sources.turtle.parse_turtle (and the tokenizer
reports no errors for it); every other file contributes no fast rows and
is routed to the tokenizer by the iterator."""

import random

import pyarrow as pa
import pytest

from r2s2_spark.naming import EX, XSD
from r2s2_spark.sources import turtle as T
from r2s2_spark.sources.ntriples import DECOMPOSED_COLUMNS, STATEMENT_COLUMNS, parse_iterator_arrow
from r2s2_spark.sources.turtle_arrow import parse_turtle_arrow

DG = "urn:x-default"


def _fast(texts):
    content = pa.array(texts, pa.string())
    sha = pa.array([f"sha{i}" for i in range(len(texts))], pa.string())
    cols, ok = parse_turtle_arrow(content, sha, DG)
    return pa.table(cols).to_pylist(), ok.to_pylist()


def _batch(files):
    return pa.RecordBatch.from_arrays(
        [pa.array(files, pa.string()),
         pa.array([f"s{i}" for i in range(len(files))], pa.string()),
         pa.array(["turtle"] * len(files), pa.string())],
        names=["content", "file_sha256", "lang"],
    )


ADVERSARIAL = [
    # fully eligible common dump shape
    f'@prefix ex: <{EX}> .\n@prefix xsd: <{XSD}> .\n'
    f'ex:e1 ex:p0 "v1"^^xsd:string .\nex:e2 a ex:Klass .\n'
    f'ex:e3 ex:p1 <http://x/y> .\n_:b1 ex:p2 _:b2 .\nex:e4 ex:p3 5 .\n'
    f'ex:e5 ex:p4 5.5 .\nex:e6 ex:p5 5e2 .\nex:e7 ex:p6 true .\n'
    f'ex:e8 ex:p7 "hi"@en-GB .',
    "# only a comment\n\n   \n",
    "",
    '<s> <p> <o> .',
    '_:x <p> "lit" .\n_:y <q> 7 .',
    f'@prefix ex: <{EX}> .\nex:a.b ex:p ex: .\nex:x ex:p ex:foo.\n',
    f'@prefix ex: <{EX}> .\nex:a ex:p ex:c . # trailing',
    # each of these must DEMOTE the file (tokenizer semantics differ or
    # the construct is out of the fast subset)
    f'@prefix ex: <{EX}> .\nex:e1 ex:p0 "a" ; ex:p1 "b" .',       # ; list
    'ex:e1 ex:p0 "a" .',                                           # unknown prefix
    '@base <http://b/> .\n<x> <p> "v" .',                          # @base
    f'@prefix ex: <{EX}> .\nex:a ex:b ex:c .\n@prefix zz: <urn:z#> .\nzz:a ex:b zz:c .',  # directive after triple
    f'@prefix ex: <{EX}> .\n@prefix 1x: <urn:q#> .\nex:a ex:p 1x:y .',  # digit prefix = num+pname in tokenizer
    '@prefix true: <urn:t#> .\ntrue:a true:b true:c .',            # bool-preference prefix
    f'@prefix ex: <{EX}> .\nex:a ex:p "x"@prefix .',               # langtag-vs-directive token
    f'@prefix ex: <{EX}> .\na ex:p ex:c .',                        # 'a' subject
    f'@prefix ex: <{EX}> .\n5 ex:p ex:c .',                        # num subject
    f'@prefix ex: <{EX}> .\nex:a:b ex:p ex:c .',                   # double-colon
    f"@prefix ex: <{EX}> .\nex:a ex:p 'v' .",                      # single-quote string
    f'@prefix ex: <{EX}> .\nex:a ex:p """v""" .',                  # long string
    f'@prefix ex: <{EX}> .\nex:a ex:p ( ex:b ex:c ) .',            # collection
    f'@prefix ex: <{EX}> .\n[ ex:p ex:b ] .',                      # anon subject
    f'PREFIX ex: <{EX}>\nex:a ex:p ex:c .',                        # sparql-style
    f'@prefix ex: <{EX}> .\nex:a ex:p _:z. ',                      # dot-absorbing bnode
    f'@prefix ex: <{EX}> .\nex:a ex:p 5.',                         # dot-absorbing num
    f'@prefix ex: <{EX}> .\nex:a ex:p "e\\tsc" .',                   # escape
]

#: declared but never used: the tokenizer still reports 'bad @prefix'
UNUSED_BAD_DIRECTIVES = [
    f'@prefix ex: <{EX}> .\n@prefix 1x: <urn:q#> .\nex:a ex:p ex:c .',
    f'@prefix ex: <{EX}> .\n@prefix true: <urn:t#> .\nex:a ex:p ex:c .',
    f'@prefix false.x: <urn:f#> .\n@prefix ex: <{EX}> .\nex:a ex:p ex:c .',
]
ADVERSARIAL += UNUSED_BAD_DIRECTIVES


def _assert_files_equal(cases):
    rows, ok = _fast(cases)
    by_sha = {}
    for r in rows:
        by_sha.setdefault(r["file_sha256"], []).append(r)
    for i, text in enumerate(cases):
        stmts, errs = T.parse_turtle(text, DG)
        frows = by_sha.get(f"sha{i}", [])
        if ok[i]:
            assert not errs, (i, errs)
            conv = [
                (r["line_no"], r["s_kind"], r["s_lex"], r["p_iri"],
                 r["o_kind"], r["o_lex"], r["o_lang"], r["o_datatype"],
                 r["g_iri"])
                for r in frows
            ]
            assert conv == stmts, (i, conv, stmts)
        else:
            assert frows == [], i


def test_adversarial_corpus():
    _assert_files_equal(ADVERSARIAL)
    # the common shape and the passthrough cases must be on the fast path
    _, ok = _fast(ADVERSARIAL)
    assert ok[0] and ok[3] and ok[4] and ok[6]
    # every demotion case must be off it
    assert not any(ok[7:])


def test_unused_bad_directives_keep_tokenizer_errors():
    """A digit-leading or boolean-leading @prefix demotes its file even
    when the prefix is never used, so the tokenizer's error rows reach
    the output instead of being dropped with the fast path's rows."""
    rows = [r for rb in parse_iterator_arrow(iter([_batch(UNUSED_BAD_DIRECTIVES)]), DG)
            for r in rb.to_pylist()]
    for i, text in enumerate(UNUSED_BAD_DIRECTIVES):
        _, errs = T.parse_turtle(text, DG)
        got = [(r["line_no"], r["parse_error"]) for r in rows
               if r["file_sha256"] == f"s{i}" and r["parse_error"]]
        assert errs and sorted(got) == sorted(errs), (i, got, errs)


def _reference_rows(files, parts=None):
    """Per-file tokenizer rows (the iterator's column order); with
    ``parts`` (IRI -> part dict) the decomposed columns are appended."""
    out = []
    for i, text in enumerate(files):
        stmts, errs = T.parse_turtle(text, DG)
        rows = [(f"s{i}", *st, None) for st in stmts]
        rows += [(f"s{i}", ln) + (None,) * 8 + (msg[:200],) for ln, msg in errs]
        for r in rows:
            rec = dict(zip(STATEMENT_COLUMNS, r))
            if parts is not None:
                for role in ("s", "o"):
                    iri = rec[f"{role}_lex"] if rec[f"{role}_kind"] == "iri" else None
                    for k, v in parts.get(iri, {}).items():
                        rec[f"{role}_{k}"] = v
            out.append(rec)
    return out


def test_iterator_routes_fast_and_slow_identically(spark):
    """The mapInArrow iterator's union of fast + fallback rows equals the
    per-file tokenizer row-for-row (order-insensitive) on a fuzz corpus,
    and its IRI parts equal the Catalyst decomposition."""
    from pyspark.sql import functions as F

    from r2s2_spark.functions.uri import PART_KEYS, decompose_iri

    random.seed(23)
    subj = ["ex:a", "<http://x/s>", "_:b1", "_:b.2", "a", "5", "ex:a:b", "_x:s"]
    pred = ["ex:p", "a", "<urn:p>", "ex:p.q", "rdf:type"]
    obj = ['"v"', '"v"@en', '"v"^^xsd:string', '"v"^^<urn:d>', "5", "5.5",
           "-7e3", "true", "false", "ex:o", "<urn:o>", "_:z", "( ex:a )",
           '[ ex:p "v" ]', '"""m"""', "'sq'", '"es\\tc"', "ex:", "_:z."]
    dirs = [f"@prefix ex: <{EX}> .", f"@prefix xsd: <{XSD}> .",
            "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
            "@base <http://b/> .", "PREFIX q: <urn:q#>",
            # never used by a triple: must still demote the file
            "@prefix 1x: <urn:q#> .", "@prefix true: <urn:t#> .",
            "@prefix false-y: <urn:f#> ."]
    files = []
    for _ in range(250):
        header = random.sample(dirs, random.randrange(0, 4))
        body = []
        for _ in range(random.randrange(0, 10)):
            r = random.random()
            if r < 0.1:
                body.append("# c")
            elif r < 0.15:
                body.append("")
            elif r < 0.2 and header:
                body.append(random.choice(dirs))
            else:
                body.append(
                    f"{random.choice(subj)} {random.choice(pred)} "
                    f"{random.choice(obj)} ."
                )
        files.append("\n".join(header + body))
    batch = _batch(files)

    iris = sorted({
        r[f"{role}_lex"] for r in _reference_rows(files) for role in ("s", "o")
        if r[f"{role}_kind"] == "iri"
    })
    parts_col = decompose_iri(F.col("iri"))
    parts = {
        r["iri"]: {k: r[k] for k in PART_KEYS}
        for r in spark.createDataFrame([(i,) for i in iris], "iri string")
        .select("iri", *[parts_col[k].alias(k) for k in PART_KEYS]).collect()
    }
    for decompose, cols in ((False, STATEMENT_COLUMNS), (True, DECOMPOSED_COLUMNS)):
        fast_rows = []
        for rb in parse_iterator_arrow(iter([batch]), DG, decompose):
            fast_rows.extend(rb.to_pylist())
        ref = _reference_rows(files, parts if decompose else None)

        def key(r):
            return tuple(str(r.get(c)) for c in cols)

        assert sorted(map(key, fast_rows)) == sorted(map(key, ref))
