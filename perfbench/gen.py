"""Seeded input generator for the benchmark.

``generate(seed)`` builds a small mixed-syntax RDF corpus in the engine's
``source_files`` shape together with everything the checks need: the
expected distinct triple set, the number of valid statements, the number
of planted malformed lines, the planted near-duplicate pairs for stage L
and the fixed stage-C probe chain. The same seed always gives the same
corpus; nothing here imports the program.

Terms are tuples: ``("iri", iri)``, ``("bnode", label)`` and
``("lit", lex, lang, datatype)`` (``datatype`` is None for a language
literal). A triple is ``(subject, predicate_iri, object)``.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

NS = "http://bench.example/"
ENT = NS + "e/"
VOC = NS + "v/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = RDF + "type"
XSD_STRING = XSD + "string"
XSD_INT = XSD + "integer"
XSD_DATE = XSD + "date"
XSD_BOOL = XSD + "boolean"

#: syntaxes and the share of subjects serialised in each
SYNTAXES = {
    "ntriples": 0.35,  # escape-free N-Triples: Arrow fast path
    "ntriples_escaped": 0.10,  # escaped N-Triples: pandas fallback
    "turtle": 0.25,  # line-oriented Turtle: Arrow fast path
    "turtle_list": 0.20,  # ';' ',' '[]' Turtle: tokenizer
    "rdfxml": 0.10,  # RDF/XML: ElementTree parser
}
SUBJECTS_PER_FILE = 30
N_TAIL = 2  # long-tail predicates a0 (string), a1 (integer), Zipf presence
LANGS = ("en", "de")

# fixed vocabulary (independent of the seed): pronounceable words
_W = random.Random(0)
WORDS = sorted(
    {
        "".join(_W.choice("bcdfghklmnprstvz") + _W.choice("aeiou") for _ in range(3))
        for _ in range(400)
    }
)[:240]
FIRST = WORDS[:40]

#: stage C probe: a fixed chain of five entities whose neighbours share
#: 10 of 11 label tokens (Jaccard 0.83, above the 0.7 link threshold) and
#: whose second neighbours share 9 of 13 (0.69, below it). The names are
#: chosen so that the engine's hashed node ids order the chain like the
#: edge list (37,75),(49,62),(57,62),(57,75): the shape on which the
#: large-star/small-star convergence test stops early and leaves one node
#: in two components. It does not depend on the seed, so stage C gets it
#: wrong in every run (check.bad_components).
PROBE_NAMES = ("c0", "c2", "c1", "c5", "c6")
PROBE_TOKENS = [f"zq0x{k}" for k in range(15)]


def iri(x: str) -> tuple:
    return ("iri", x)


def lit(lex: str, datatype: str | None = XSD_STRING, lang: str | None = None) -> tuple:
    return ("lit", lex, lang, None if lang else datatype)


@dataclass
class Corpus:
    seed: int
    files: list = field(default_factory=list)  # (path, lang, syntax, content)
    triples: set = field(default_factory=set)
    statements: int = 0
    malformed: int = 0
    syntax_statements: dict = field(default_factory=dict)
    planted_pairs: set = field(default_factory=set)  # frozenset({iri, iri})
    probe: list = field(default_factory=list)  # probe IRIs in chain order
    persons: list = field(default_factory=list)
    orgs: list = field(default_factory=list)

    def rows(self, syntax: str | None = None) -> list[tuple]:
        """(repo, path, commit, lang, content) rows, optionally one syntax."""
        return [
            (
                "bench",
                path,
                hashlib.sha1(path.encode()).hexdigest(),
                lang,
                content,
            )
            for path, lang, syn, content in self.files
            if syntax is None or syn == syntax
        ]


def _more(rng: random.Random, multi: set, pred) -> bool:
    """Whether a subject gets a second value of ``pred``: always the first
    subject that has it (so stage M never merges ``pred``), then 20%."""
    first = pred not in multi
    multi.add(pred)
    return first or rng.random() < 0.2


def _person_block(rng: random.Random, i: int, persons: list, orgs: list, multi: set) -> list:
    p = iri(persons[i])
    last = f"{rng.choice(WORDS)}{i}"
    out = [
        (p, RDF_TYPE, iri(VOC + "Person")),
        (p, VOC + "name", lit(f"{rng.choice(FIRST)} {last}")),
        (p, VOC + "age", lit(str(rng.randint(18, 80)), XSD_INT)),
    ]
    for _ in range(1 + _more(rng, multi, "born")):
        date = f"{rng.randint(1940, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        out.append((p, VOC + "born", lit(date, XSD_DATE)))
    for flag in rng.sample(("true", "false"), 1 + _more(rng, multi, "active")):
        out.append((p, VOC + "active", lit(flag, XSD_BOOL)))
    out += [(p, VOC + "worksFor", iri(o)) for o in rng.sample(orgs, 1 + _more(rng, multi, "worksFor"))]
    if rng.random() < 0.33:
        out.append((p, RDF_TYPE, iri(VOC + "Agent")))
    for lang in rng.sample(LANGS, rng.randint(1, 2)):
        out.append(
            (p, VOC + "label", lit(f"{rng.choice(WORDS)} {rng.choice(WORDS)}", lang=lang))
        )
    if rng.random() < 0.5:
        for m in rng.sample(range(10), 1 + _more(rng, multi, "email")):
            out.append((p, VOC + "email", lit(f"{last}@mail{m}.example")))
    for q in rng.sample(range(len(persons)), rng.randint(0, 4)):
        if q != i:
            out.append((p, VOC + "knows", iri(persons[q])))
    for k in range(N_TAIL):
        if rng.random() < min(1.0, 0.9 / (k + 1) ** 0.8):
            for _ in range(1 + _more(rng, multi, k)):
                if k % 2:
                    o = lit(str(rng.randint(0, 999)), XSD_INT)
                else:
                    o = lit(rng.choice(WORDS))
                out.append((p, f"{VOC}a{k}", o))
    return out


def _address(rng: random.Random, subj: tuple, label: str, uid: int, multi: set) -> list:
    b = ("bnode", label)
    out = [(subj, VOC + "address", b), (b, VOC + "tag", lit(f"adr{uid}"))]
    for city in rng.sample(WORDS, 1 + _more(rng, multi, "city")):
        out.append((b, VOC + "city", lit(city)))
    return out


# -- serialisers ---------------------------------------------------------


def _esc_nt(s: str) -> str:
    out = []
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ord(ch) > 126:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "".join(out)


def _nt_term(t: tuple, escape: bool) -> str:
    if t[0] == "iri":
        return f"<{t[1]}>"
    if t[0] == "bnode":
        return f"_:{t[1]}"
    _, lex, lang, dt = t
    body = _esc_nt(lex) if escape else lex
    if lang:
        return f'"{body}"@{lang}'
    return f'"{body}"^^<{dt}>'


_PREFIXES = {"e": ENT, "v": VOC, "xsd": XSD, "rdf": RDF}


def _ttl_term(t: tuple) -> str:
    if t[0] == "iri":
        for pfx, ns in _PREFIXES.items():
            if t[1].startswith(ns):
                return f"{pfx}:{t[1][len(ns):]}"
        return f"<{t[1]}>"
    if t[0] == "bnode":
        return f"_:{t[1]}"
    _, lex, lang, dt = t
    if lang:
        return f'"{lex}"@{lang}'
    if dt in (XSD_INT, XSD_BOOL):
        return lex  # shorthand numeric / boolean
    return f'"{lex}"^^{_ttl_term(iri(dt))}'


def _ttl_pred(p: str) -> str:
    return "a" if p == RDF_TYPE else _ttl_term(iri(p))


def _ttl_header() -> str:
    return "".join(f"@prefix {pfx}: <{ns}> .\n" for pfx, ns in _PREFIXES.items())


def _xml_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _xml_prop(p: str, o: tuple, nested: dict) -> str:
    tag = "rdf:type" if p == RDF_TYPE else "v:" + p[len(VOC):]
    if o[0] == "iri":
        return f'<{tag} rdf:resource="{o[1]}"/>'
    if o[0] == "bnode":
        inner = "".join(_xml_prop(p2, o2, nested) for p2, o2 in nested[o])
        return f'<{tag} rdf:parseType="Resource">{inner}</{tag}>'
    _, lex, lang, dt = o
    if lang:
        return f'<{tag} xml:lang="{lang}">{_xml_text(lex)}</{tag}>'
    if dt == XSD_STRING:
        return f"<{tag}>{_xml_text(lex)}</{tag}>"
    return f'<{tag} rdf:datatype="{dt}">{_xml_text(lex)}</{tag}>'


def _malformed(rng: random.Random, persons: list) -> str:
    p = rng.choice(persons)
    return rng.choice(
        (
            f'<{p}> <{VOC}name> "unterminated .',
            "this is not a triple .",
            f"<{p}> <{VOC}name> .",
        )
    )


def _serialise(corpus: Corpus, rng: random.Random, syntax: str, blocks: list, fno: int) -> None:
    """Write one file of ``blocks`` (each a subject's triple list, bnode
    triples included) and count its statements."""
    n_stmt = 0
    if syntax in ("ntriples", "ntriples_escaped"):
        lines = []
        for block in blocks:
            for s, p, o in block:
                line = f"{_nt_term(s, False)} <{p}> {_nt_term(o, syntax == 'ntriples_escaped')} ."
                lines.append(line)
                n_stmt += 1
                if syntax == "ntriples" and rng.random() < 0.02:
                    lines.append(line)  # duplicate statement: set semantics
                    n_stmt += 1
        for _ in range(rng.randint(1, 3)):
            lines.insert(rng.randint(0, len(lines)), _malformed(rng, corpus.persons))
            corpus.malformed += 1
        content, lang, ext = "\n".join(lines) + "\n", "ntriples", "nt"
    elif syntax == "turtle":
        lines = [f"{_ttl_term(s)} {_ttl_pred(p)} {_ttl_term(o)} ." for b in blocks for s, p, o in b]
        n_stmt = len(lines)
        content, lang, ext = _ttl_header() + "\n".join(lines) + "\n", "turtle", "ttl"
    elif syntax == "turtle_list":
        parts = [_ttl_header()]
        for block in blocks:
            subj = block[0][0]
            nested: dict = {}
            for s, p, o in block:
                if s[0] == "bnode":
                    nested.setdefault(s, []).append((p, o))
            preds: dict = {}
            for s, p, o in block:
                if s == subj:
                    preds.setdefault(p, []).append(o)

            def obj(o):
                if o in nested:
                    inner = " ; ".join(f"{_ttl_pred(p2)} {_ttl_term(o2)}" for p2, o2 in nested[o])
                    return f"[ {inner} ]"
                return _ttl_term(o)

            body = " ;\n    ".join(
                f"{_ttl_pred(p)} " + " , ".join(obj(o) for o in objs) for p, objs in preds.items()
            )
            parts.append(f"{_ttl_term(subj)} {body} .\n")
            n_stmt += len(block)
        content, lang, ext = "".join(parts), "turtle", "ttl"
    else:  # rdfxml
        parts = [f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF}" xmlns:v="{VOC}">\n']
        for block in blocks:
            subj = block[0][0]
            nested = {}
            for s, p, o in block:
                if s[0] == "bnode":
                    nested.setdefault(s, []).append((p, o))
            props = "".join(_xml_prop(p, o, nested) for s, p, o in block if s == subj)
            parts.append(f'<rdf:Description rdf:about="{subj[1]}">{props}</rdf:Description>\n')
            n_stmt += len(block)
        parts.append("</rdf:RDF>\n")
        content, lang, ext = "".join(parts), "rdfxml", "rdf"
    corpus.files.append((f"data/{syntax}/f{fno}.{ext}", lang, syntax, content))
    corpus.statements += n_stmt
    corpus.syntax_statements[syntax] = corpus.syntax_statements.get(syntax, 0) + n_stmt


def probe_block() -> list:
    """The fixed stage-C probe entities (see PROBE_NAMES)."""
    out = []
    for k, name in enumerate(PROBE_NAMES):
        s = iri(f"{ENT}probe/{name}")
        out.append((s, VOC + "name", lit(" ".join(PROBE_TOKENS[k : k + 11]))))
    return out


def generate(seed: int, n_persons: int = 160, n_orgs: int = 16) -> Corpus:
    rng = random.Random(seed)
    c = Corpus(seed=seed)
    c.persons = [f"{ENT}p{i}" for i in range(n_persons)]
    c.orgs = [f"{ENT}o{j}" for j in range(n_orgs)]
    names = list(SYNTAXES)
    weights = list(SYNTAXES.values())
    subjects: list[tuple[str, list]] = []  # (syntax, block)
    bnode_uid = 0
    multi: set = set()  # predicates that already have a subject (_more)
    for i in range(n_persons):
        syntax = rng.choices(names, weights)[0]
        block = _person_block(rng, i, c.persons, c.orgs, multi)
        p = block[0][0]
        if syntax == "ntriples_escaped":
            w1, w2 = rng.choice(WORDS), rng.choice(WORDS)
            for n in range(1 + _more(rng, multi, "quote")):
                block.append((p, VOC + "quote", lit(f'say "{w1}" café\\{w2} {n}')))
        elif rng.random() < 0.1:
            # planted near-duplicates: copies of every literal statement
            # with one name token changed (token Jaccard (T-1)/(T+1) >= 0.7)
            first, last = block[1][2][1].split(" ")
            dups = []
            for r in range(rng.randint(1, 2)):
                d = iri(f"{ENT}d{i}x{r}")
                dups.append(d[1])
                dblock = [(d, RDF_TYPE, iri(VOC + "Person"))]
                for _, pr, o in block:
                    if o[0] != "lit":
                        continue
                    if pr == VOC + "name":
                        o = lit(f"{first} {last}z{r}")
                    dblock.append((d, pr, o))
                subjects.append((rng.choices(names[:1] + names[2:], weights[:1] + weights[2:])[0], dblock))
            for a in [p[1]] + dups:
                for b in [p[1]] + dups:
                    if a < b:
                        c.planted_pairs.add(frozenset((a, b)))
        if rng.random() < 0.3:
            for _ in range(1 + _more(rng, multi, "address")):
                bnode_uid += 1
                block += _address(rng, p, f"b{bnode_uid}", bnode_uid, multi)
        subjects.append((syntax, block))
    for j in range(n_orgs):
        o = iri(c.orgs[j])
        subjects.append(
            (
                rng.choices(names, weights)[0],
                [
                    (o, RDF_TYPE, iri(VOC + "Org")),
                    (o, VOC + "name", lit(f"Org{j} {rng.choice(WORDS)}")),
                    (o, VOC + "label", lit(f"{rng.choice(WORDS)} {rng.choice(WORDS)}", lang="en")),
                ],
            )
        )
    rng.shuffle(subjects)
    fno = 0
    for syntax in names:
        mine = [b for s, b in subjects if s == syntax]
        for start in range(0, len(mine), SUBJECTS_PER_FILE):
            _serialise(c, rng, syntax, mine[start : start + SUBJECTS_PER_FILE], fno)
            fno += 1
    probe = probe_block()
    c.files.append(
        ("data/probe/chain.nt", "ntriples", "ntriples", "\n".join(f"{_nt_term(s, False)} <{p}> {_nt_term(o, False)} ." for s, p, o in probe) + "\n")
    )
    c.statements += len(probe)
    c.syntax_statements["ntriples"] += len(probe)
    c.probe = [f"{ENT}probe/{n}" for n in PROBE_NAMES]
    for _, block in subjects:
        c.triples.update(block)
    c.triples.update(probe)
    return c
