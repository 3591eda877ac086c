"""Reference computations the benchmark checks the program against.

Everything here works on the generator's triple set (see gen.py) with
plain Python: the expected triples after each write, token Jaccard of
stage-L mentions, a union-find for stage C and a direct evaluation of
every SPARQL query the benchmark sends. Nothing here imports the program.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from gen import ENT, N_TAIL, RDF_TYPE, VOC, XSD, iri, lit

LINK_THRESHOLD = 0.7
_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, as the engine splits
PREFIXES = f"PREFIX v: <{VOC}> PREFIX xsd: <{XSD}> "


class CheckFailed(Exception):
    """An output of the program differs from the reference."""


# -- triples -------------------------------------------------------------


def bnode_names(triples: set) -> dict:
    """Each blank node of a triple set keyed by its unique v:tag value."""
    return {
        s[1]: o[1]
        for s, p, o in triples
        if s[0] == "bnode" and p == VOC + "tag"
    }


def bnode_rename(rows, expected: set) -> dict:
    """Engine blank-node label -> generator label, matched by v:tag."""
    by_tag = {tag: label for label, tag in bnode_names(expected).items()}
    return {
        r.s: by_tag.get(r.o_lex, r.s)
        for r in rows
        if r.s_kind == "bnode" and r.p == VOC + "tag"
    }


def engine_triples(rows, rename: dict) -> set:
    """Rows of ``KgPipeline.triples()`` as generator terms, blank nodes
    renamed by ``rename``."""

    def node(kind, lex):
        return ("bnode", rename.get(lex, lex)) if kind == "bnode" else iri(lex)

    out = set()
    for r in rows:
        if r.o_kind == "literal":
            o = ("lit", r.o_lex, r.o_lang, None if r.o_lang else r.o_datatype)
        else:
            o = node(r.o_kind, r.o_lex)
        out.add((node(r.s_kind, r.s), r.p, o))
    return out


def same_triples(got: set, want: set, what: str) -> None:
    if got != want:
        missing = sorted(map(str, want - got))[:3]
        extra = sorted(map(str, got - want))[:3]
        raise CheckFailed(
            f"{what}: {len(want - got)} triples missing {missing}, "
            f"{len(got - want)} unexpected {extra}"
        )


# -- stage L and C -------------------------------------------------------


def mention_tokens(triples: set) -> dict:
    """Subject -> token set of its mention, built the way stage L defines
    a mention: the distinct literal values of the subject, space-joined,
    split on whitespace. Blank nodes are keyed by their generator label."""
    lits = defaultdict(set)
    for s, p, o in triples:
        if o[0] == "lit":
            lits[s[1]].add(o[1])
    return {
        s: set(_WS.split(" ".join(sorted(vals)).strip(" ")))
        for s, vals in lits.items()
    }


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def check_edges(edges, tokens: dict, rename: dict) -> None:
    """Every L edge links two mentions whose exact token Jaccard is at
    least the threshold, and its score is that Jaccard."""
    for e in edges:
        a, b = tokens[rename.get(e.src, e.src)], tokens[rename.get(e.dst, e.dst)]
        j = jaccard(a, b)
        if j < LINK_THRESHOLD or abs(j - e.score) > 1e-3:
            raise CheckFailed(f"L edge {e.src} {e.dst}: score {e.score}, Jaccard {j:.4f}")


def union_find(nodes, edges) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def bad_components(mapping_rows, entities, edges) -> list[set]:
    """Components of the union-find over L's edges that stage C's
    (entity_id, canonical_id) mapping gets wrong. Right means: every
    entity mapped exactly once, to the least entity of its component."""
    want = union_find(entities, edges)
    got = defaultdict(list)
    for r in mapping_rows:
        got[r.entity_id].append(r.canonical_id)
    members = defaultdict(set)
    for n, root in want.items():
        members[root].add(n)
    return [
        comp
        for root, comp in members.items()
        if any(got.get(n) != [root] for n in comp)
    ]


# -- queries ---------------------------------------------------------------


class Index:
    """Predicate and subject indexes over a triple set, with values as the
    engine's SPARQL frames render them (IRI or literal lexical form)."""

    def __init__(self, triples: set):
        self.by_p = defaultdict(list)
        self.by_sp = defaultdict(list)
        self.by_s = defaultdict(list)
        for s, p, o in triples:
            self.by_p[p].append((s[1], o))
            self.by_sp[(s[1], p)].append(o)
            self.by_s[s[1]].append((p, o))
        self.people = sorted(
            s for s, o in self.by_p[RDF_TYPE] if o == iri(VOC + "Person")
        )

    def values(self, s: str, p: str) -> list:
        return [o[1] for o in self.by_sp[(s, p)]]


def _star(rng, ix):
    s = rng.choice(ix.people)
    text = f"SELECT ?n ?a ?d WHERE {{ <{s}> v:name ?n ; v:age ?a ; v:born ?d }}"
    want = [
        (n, a, d)
        for n in ix.values(s, VOC + "name")
        for a in ix.values(s, VOC + "age")
        for d in ix.values(s, VOC + "born")
    ]
    return text, want


def _path2(rng, ix):
    s = rng.choice(ix.people)
    text = f"SELECT ?f ?n WHERE {{ <{s}> v:knows ?f . ?f v:name ?n }}"
    want = [
        (f, n) for f in ix.values(s, VOC + "knows") for n in ix.values(f, VOC + "name")
    ]
    return text, want


def _age_eq(rng, ix):
    age = int(rng.choice(ix.values(rng.choice(ix.people), VOC + "age")))
    text = f"SELECT ?s WHERE {{ ?s v:age ?a FILTER(?a = {age}) }}"
    want = [(s,) for s, o in ix.by_p[VOC + "age"] if int(o[1]) == age]
    return text, want


def _ask(rng, ix):
    s = rng.choice(ix.people)
    known = ix.values(s, VOC + "knows")
    t = rng.choice(known) if known and rng.random() < 0.5 else rng.choice(ix.people)
    return f"ASK {{ <{s}> v:knows <{t}> }}", [(t in known,)]


def _group_by_p(rng, ix):
    cls = VOC + rng.choice(("Person", "Agent", "Org"))
    subjects = {s for s, o in ix.by_p[RDF_TYPE] if o == iri(cls)}
    text = (
        f"SELECT ?p (COUNT(?o) AS ?n) WHERE {{ ?s a <{cls}> . ?s ?p ?o }} GROUP BY ?p"
    )
    counts = Counter(p for s in subjects for p, o in ix.by_s[s])
    return text, [(p, n) for p, n in counts.items()]


def _optional(rng, ix):
    p = f"{VOC}a{rng.randint(0, N_TAIL - 1)}"
    text = f"SELECT ?s ?n ?e WHERE {{ ?s v:name ?n OPTIONAL {{ ?s <{p}> ?e }} }}"
    want = [
        (s, o[1], e)
        for s, o in ix.by_p[VOC + "name"]
        for e in (ix.values(s, p) or [None])
    ]
    return text, want


def _date_range(rng, ix):
    y = rng.randint(1940, 1995)
    lo, hi = f"{y}-01-01", f"{y + 10}-01-01"
    text = (
        f'SELECT ?s ?d WHERE {{ ?s v:born ?d FILTER(?d >= "{lo}"^^xsd:date '
        f'&& ?d < "{hi}"^^xsd:date) }}'
    )
    want = [(s, o[1]) for s, o in ix.by_p[VOC + "born"] if lo <= o[1] < hi]
    return text, want


def _type_scan(rng, ix):
    cls = VOC + rng.choice(("Person", "Agent", "Org"))
    text = f"SELECT ?s WHERE {{ ?s a <{cls}> }}"
    return text, [(s,) for s, o in ix.by_p[RDF_TYPE] if o == iri(cls)]


def _construct(rng, ix):
    age = rng.randint(30, 70)
    text = (
        "CONSTRUCT { ?o v:knownBy ?s } WHERE "
        f"{{ ?s v:knows ?o . ?s v:age ?a FILTER(?a > {age}) }}"
    )
    want = {
        (o[1], VOC + "knownBy", s)
        for s, o in ix.by_p[VOC + "knows"]
        for a in ix.values(s, VOC + "age")
        if int(a) > age
    }
    return text, list(want)


#: (name, kind, maker): lookup queries touch a few rows through selective
#: patterns; scan queries read whole tables
QUERIES = [
    ("star", "lookup", _star),
    ("path2", "lookup", _path2),
    ("age_eq", "lookup", _age_eq),
    ("ask", "lookup", _ask),
    ("group_by_p", "scan", _group_by_p),
    ("optional", "scan", _optional),
    ("date_range", "scan", _date_range),
    ("type_scan", "scan", _type_scan),
    ("construct", "scan", _construct),
]


def rows_of(collected) -> list:
    """Collected Spark rows as sorted tuples of strings (None kept)."""
    return sorted(
        (tuple(None if v is None else str(v) for v in r) for r in collected),
        key=repr,
    )


def same_rows(got, want, what: str) -> None:
    want = rows_of(want)
    if got != want:
        raise CheckFailed(
            f"{what}: {len(got)} rows, expected {len(want)}; "
            f"first got {got[:2]}, first expected {want[:2]}"
        )


# -- updates -------------------------------------------------------------


def update_round(rng, model: set, r: int) -> list:
    """Writes as (kind, request, apply, read, answer) tuples: ``apply``
    changes the set model the way the write should, and ``answer(model)``
    is the expected result of the read-after-write query ``read``. One
    INSERT DATA of three triples."""
    ix = Index(model)
    victim = rng.choice(ix.people)
    newp = iri(f"{ENT}new{r}")
    ins = [
        (iri(victim), VOC + "nick", lit(f"nick{r}")),
        (newp, RDF_TYPE, iri(VOC + "Person")),
        (newp, VOC + "name", lit(f"New Person{r}")),
    ]
    body = " ".join(
        f"<{s[1]}> <{p}> " + (f"<{o[1]}>" if o[0] == "iri" else f'"{o[1]}"^^<{o[3]}>') + " ."
        for s, p, o in ins
    )
    return [
        (
            "update",
            PREFIXES + "INSERT DATA { " + body + " }",
            lambda m: m.update(ins),
            f"SELECT ?n WHERE {{ <{victim}> v:nick ?n }}",
            lambda m: [(n,) for n in Index(m).values(victim, VOC + "nick")],
        ),
    ]
