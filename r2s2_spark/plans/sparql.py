"""Basic-graph-pattern (BGP) queries over the vertical tables.

The reference delegates SPARQL to Ontop, which compiles BGPs into SQL
self-joins over the SOG tables through the R2RML mapping (SURVEY.md §3.2,
SparqlOnLoadedTest.java:104-127). Here the same compilation targets
DataFrames directly: each triple pattern with a constant predicate scans
only that predicate's tables (partition pruning by construction), a
variable predicate unions all predicate maps (the IRI constant-folds per
branch), patterns join on shared variables, OPTIONAL groups left-join,
and Catalyst picks the join strategy.

    bgp(pipe, [("?s", RDF_TYPE, "?t"), ("?s", RDFS+"label", "?l")],
        select=["?t", "?l"])

Term syntax: "?name" = variable; anything else = constant (IRI for s/p;
IRI or plain-literal string for o). Objects bind their lexical form; use
``o_lang``/``o_datatype`` filters via ``literal()`` for typed constants.

Named graphs (SPARQL GRAPH / FROM — SparqlOnLoadedTest.java:117 queries
``SELECT DISTINCT ?type FROM <graph> WHERE {[] a ?type}``): pass
``graph=<iri>`` to restrict every pattern to that graph (FROM semantics),
or ``graph="?g"`` to bind each solution's graph IRI (GRAPH ?g semantics).
Graph ids are decoded through the graphs dictionary with a PLAIN join —
the graph domain is unbounded at web scale (per-file graphs), so the
dictionary is never force-broadcast (AQE broadcasts when actually small).

Property paths (SPARQL 1.1 §9; the reference gets these from Ontop,
pom.xml:118-127): ``PathPlus`` (p+), ``PathStar`` (p*), ``PathOpt``
(p?), ``PathSeq`` (p1/p2), ``PathAlt`` (p1|p2), ``PathInverse`` (^p),
``PathNeg`` (!(p1|p2), plan-time map pruning), composable (``^(p1/p2)``
normalizes to ``^p2/^p1``). Zero-length paths (p*/p?) follow §9.3
ZeroLengthPath: a both-variable endpoint pair enumerates every term of
the active graph (one scan over all predicate maps — the spec's own
cost, paid only then); a constant endpoint matches itself with NO scan
and regardless of graph membership.

Solution modifiers and filters (SPARQL 1.1 §8, §11): OPTIONAL
(left join, marker-key form for disjoint domains), FILTER, MINUS,
FILTER EXISTS / NOT EXISTS (semi/anti joins), BIND (withColumn), and
GROUP BY aggregates (``group_by`` + ``agg``) — all compile to single
Catalyst operators, no driver-side evaluation.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .r2rml import reconstruct_triples


class SparqlCompileError(Exception):
    """A group compiled to a plan the engine cannot express — named, so
    callers can distinguish it from engine bugs."""


@dataclass(frozen=True)
class Literal:
    lex: str
    lang: str | None = None
    datatype: str | None = None


@dataclass(frozen=True)
class PathInverse:
    """SPARQL inverse path ``^p``: (s, ^p, o) matches where (o, p, s)
    holds. ``path`` may be a predicate IRI or any other path object
    (``^(p+)`` composes by swapping the pattern's ends; ``^(p1/p2)``
    normalizes to ``^p2/^p1``; ``^(p1|p2)`` to ``^p1|^p2``)."""

    path: object


@dataclass(frozen=True)
class PathPlus:
    """SPARQL one-or-more property path ``p+`` in predicate position.
    Evaluated by semi-naive transitive closure: each round joins only the
    NEW pairs (frontier) against the base edges — O(graph diameter)
    rounds, lineage cut per round (same shape as operators/components).
    ``predicate`` may be an IRI or any non-sequence path object —
    ``(p1/p2)+`` closes over the COMPILED inner path's edge set."""

    predicate: object
    max_iter: int = 64


@dataclass(frozen=True)
class PathStar:
    """``p*`` — zero or more: the p+ closure plus the §9.3 zero-length
    pairs (see ``_zero_length``). ``predicate`` may be an IRI or a
    compound path (see ``PathPlus``)."""

    predicate: object
    max_iter: int = 64


@dataclass(frozen=True)
class PathOpt:
    """``p?`` — zero or one: the base edges plus the zero-length pairs.
    ``predicate`` may be an IRI or a compound path (see ``PathPlus``)."""

    predicate: object


@dataclass(frozen=True)
class PathSeq:
    """``p1/p2/...`` — path sequence. Expanded into chained patterns with
    fresh hidden intermediate variables before compilation; elements may
    be predicate IRIs or any non-sequence path object."""

    parts: tuple


@dataclass(frozen=True)
class PathAlt:
    """``p1|p2|...`` — path alternation: the union of each branch's
    solutions (bag semantics, like SPARQL). Elements may be predicate
    IRIs, inverse, closure, or SEQUENCE paths — a sequence branch
    compiles as a chain join on the branch's endpoints (see
    ``_pattern_frame``)."""

    alts: tuple


@dataclass(frozen=True)
class PathNeg:
    """``!(p1|...|pn)`` — negated property set (SPARQL 1.1 §9.1): matches
    any edge whose predicate is NOT in the set. Compiles like a variable
    predicate (union over all predicate maps) with the listed maps pruned
    at PLAN time — no per-row predicate test. Holds FORWARD members only;
    the textual parser compiles ``!(F|^I)`` to
    ``PathAlt((PathNeg(F), PathInverse(PathNeg(I))))`` per SPARQL 1.1
    §9.2."""

    predicates: tuple


#: semi-naive rounds before _transitive_plus switches to path doubling.
#: Short-diameter vocabulary graphs (the typical KG path workload)
#: converge within these cheap frontier-joins-base rounds; a graph still
#: growing after them is a long chain, where closure-squares-closure
#: reaches diameter d in O(log d) further rounds instead of O(d).
_LINEAR_ROUNDS = 8


def _transitive_plus(
    edges: DataFrame, max_iter: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """edges(__s, __o[, group...]) -> all pairs connected by a path of
    length >= 1, closed WITHIN each group (per-graph closure when the
    pattern is graph-constrained by a variable).

    Each round costs one driver job round-trip (the ``limit(1).count()``
    emptiness probe). The first ``_LINEAR_ROUNDS`` rounds are semi-naive
    (frontier joins the BASE edges: cheapest per round, O(diameter)
    rounds); past that the loop switches to PATH DOUBLING (closure joins
    CLOSURE: each round doubles the reachable path length, so a
    100-deep chain closes in ~4 more rounds instead of ~92) — heavier
    per round, which is why it only kicks in once the linear rounds have
    proven the diameter long."""
    # Each round's frontier is checkpointed eagerly (cuts lineage: the
    # per-round plan stays O(1)). Constraint propagation is switched off
    # for the loop: the closure plan unions the SAME checkpointed leaf
    # with its own self-join descendants, and Catalyst's union constraint
    # rewrite hits key-not-found on the rewritten attributes (the inferred
    # isNotNull constraints it would add are worthless here anyway —
    # every column is already non-null by construction).
    spark = edges.sparkSession
    prop_key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(prop_key, "true")
    spark.conf.set(prop_key, "false")
    keys = ["__s", "__o", *group_cols]
    try:
        edges = edges.distinct().localCheckpoint()
        closure = edges
        frontier = edges
        for i in range(max_iter):
            cond = F.col("f.__o") == F.col("e.__s")
            for g in group_cols:
                cond = cond & (F.col(f"f.{g}") == F.col(f"e.{g}"))
            left = frontier if i < _LINEAR_ROUNDS else closure
            right = edges if i < _LINEAR_ROUNDS else closure
            nxt = (
                left.alias("f")
                .join(right.alias("e"), cond)
                .select(
                    F.col("f.__s").alias("__s"),
                    F.col("e.__o").alias("__o"),
                    *[F.col(f"f.{g}").alias(g) for g in group_cols],
                )
                .distinct()
                .join(closure, keys, "left_anti")
                .localCheckpoint()
            )
            if nxt.limit(1).count() == 0:
                return closure
            closure = closure.unionByName(nxt).localCheckpoint()
            frontier = nxt
        raise RuntimeError(f"p+ closure did not converge in {max_iter} rounds")
    finally:
        spark.conf.set(prop_key, prev)


def _graph_restrict(df: DataFrame, dicts, graph, named) -> DataFrame:
    """FROM <iri> / GRAPH <iri>: semi-join ``df.__gid`` down to the
    constant graph — or to the MERGED dataset when ``graph`` is a
    list/tuple of IRIs (SPARQL repeated FROM merges the named graphs into
    the query's default graph). ``named`` (FROM NAMED) further restricts
    which graphs qualify (§13.2: a constant outside the named set matches
    nothing). The small dictionary side is left to AQE (no forced
    broadcast). Drops ``__gid``."""
    if isinstance(graph, (list, tuple, set, frozenset)):
        # an EMPTY merge set (FROM NAMED without FROM: the default
        # graph is empty) matches nothing
        cond = F.col("iri").isin(list(graph)) if graph else F.lit(False)
    else:
        cond = F.col("iri") == graph
    if named is not None:
        cond = cond & F.col("iri").isin(list(named))
    gd = dicts["graphs"].where(cond).select(F.col("id").alias("__gid"))
    return df.join(gd, "__gid", "semi").drop("__gid")


def _graph_terms(
    catalog, reader, dicts, graph, named, g_is_var, g_col="__gid"
) -> DataFrame:
    """All RDF terms appearing as subject or object of ANY triple in the
    active graph, as zero-length pairs ``(__n, __n)[, __gid]`` — the
    SPARQL §9.3 ZeroLengthPath node set for a both-variable ``p*``/``p?``
    endpoint pair. ONE scan over every predicate map (the scanner
    behind every pattern, :func:`reconstruct_triples`, endpoints and
    graph id projected out, the rest column-pruned by Catalyst) + one
    distinct; the scan is the spec's own cost and is paid only on
    both-variable zero-length paths. It inherits the scanner's
    structure-bounded branch count (stacked scans per merged table, fused
    scans across batched single-map tables).

    ``g_col="__giri"`` decodes the per-graph key to the graph IRI after
    the distinct (compound-path closures group on the decoded IRI), with
    ``named`` (FROM NAMED) applied at the decode — the ``__gid`` form
    leaves the named narrowing to the caller's decode join."""
    tri = reconstruct_triples(
        catalog, reader, dicts, graph_needed=graph is not None
    )
    sel = [F.col("s").alias("__s"), F.col("o_lex").alias("__o")]
    if graph is not None:
        sel.append(F.col("g_id").alias("__gid"))
    edges = tri.select(*sel)
    if graph is not None and not g_is_var:
        edges = _graph_restrict(edges, dicts, graph, named)
    group = ("__gid",) if g_is_var else ()
    nodes = (
        edges.select(F.col("__s").alias("__n"), *group)
        .unionByName(edges.select(F.col("__o").alias("__n"), *group))
        .distinct()
    )
    if g_is_var and g_col == "__giri":
        gd = dicts["graphs"]
        if named is not None:
            gd = gd.where(F.col("iri").isin(list(named)))
        nodes = nodes.join(
            gd.select(F.col("id").alias("__gid"), F.col("iri").alias("__giri")),
            "__gid",
        ).drop("__gid")
        group = ("__giri",)
    return nodes.select(
        F.col("__n").alias("__s"), F.col("__n").alias("__o"), *group
    )


def _zero_length(
    catalog, reader, dicts, s, o, graph, named, g_is_var, g_col="__gid"
) -> DataFrame:
    """SPARQL §9.3 ZeroLengthPath contribution of a ``p*``/``p?`` pattern.

    - two variables: every term of the active graph pairs with itself
      (``_graph_terms`` — one full scan, the spec's own cost);
    - a constant endpoint matches ITSELF regardless of graph membership
      (eval(ZeroLengthPath(term, var)) = { var -> term }) — O(1), no
      scan; under GRAPH ?g the match holds in EVERY named graph (FROM
      NAMED narrows at the ?g decode — the caller's join for the
      ``__gid`` form, in-line here for ``__giri``);
    - two constants match iff they are the same term.

    Returns ``(__s, __o[, g_col])`` matching the closure frame's schema."""
    from pyspark.sql import SparkSession

    s_const, o_const = not _is_var(s), not _is_var(o)
    if not (s_const or o_const):
        return _graph_terms(
            catalog, reader, dicts, graph, named, g_is_var, g_col
        )
    spark = SparkSession.getActiveSession()
    # a typed-literal endpoint compares on its lexical form, like the
    # closure frame's __o (whose __ol/__od are NULL through paths)
    s_lex = s.lex if isinstance(s, Literal) else s
    o_lex = o.lex if isinstance(o, Literal) else o
    if s_const and o_const and s_lex != o_lex:
        schema = "__s string, __o string" + (
            f", {g_col} bigint" if g_is_var and g_col == "__gid" else
            f", {g_col} string" if g_is_var else ""
        )
        return spark.createDataFrame([], schema)
    c = s_lex if s_const else o_lex
    one = spark.createDataFrame([(c, c)], "__s string, __o string")
    if g_is_var:
        gd = dicts["graphs"]
        if g_col == "__giri":
            if named is not None:
                gd = gd.where(F.col("iri").isin(list(named)))
            one = one.crossJoin(gd.select(F.col("iri").alias("__giri")))
        else:
            one = one.crossJoin(
                gd.select(F.col("id").cast("bigint").alias("__gid"))
            )
    return one


def _is_var(t) -> bool:
    return isinstance(t, str) and t.startswith("?")


def _expand_path_patterns(patterns: list[tuple]) -> list[tuple]:
    """Rewrite PathSeq predicates into chained patterns with fresh hidden
    variables (``?__seq<n>_<i>``); normalizes ``^(p1/p2)`` first. Patterns
    may be 4-tuples ``(s, p, o, graph_scope)`` — the scope rides along to
    every expanded link (a GRAPH block scopes the whole path)."""
    out: list[tuple] = []
    counter = [0]

    def one(s, p, o, scope):
        while isinstance(p, PathInverse) and isinstance(p.path, PathSeq):
            p = PathSeq(tuple(PathInverse(q) for q in reversed(tuple(p.path.parts))))
        if isinstance(p, PathSeq):
            parts = tuple(p.parts)
            mids = [f"?__seq{counter[0]}_{i}" for i in range(len(parts) - 1)]
            counter[0] += 1
            terms = [s, *mids, o]
            for i, part in enumerate(parts):
                one(terms[i], part, terms[i + 1], scope)
        else:
            out.append((s, p, o, scope))

    for pat in patterns:
        s, p, o = pat[:3]
        one(s, p, o, pat[3] if len(pat) > 3 else None)
    return out


#: prefixes of the hidden per-variable term-metadata columns carried for
#: LANG()/DATATYPE()/isIRI()-family (see ``term_meta``); dropped before
#: projection
META_LANG, META_DT, META_KIND = "__lang_", "__dt_", "__kind_"
META_PREFIXES = (META_LANG, META_DT, META_KIND)
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

def _pattern_frame(
    catalog, reader, dicts, pattern, idx: int, graph=None,
    term_meta: frozenset = frozenset(), named=None,
) -> tuple[DataFrame, dict]:
    """One triple pattern -> DataFrame with one column per variable
    (plus hidden uniqueness suffix) and constant filters applied.

    A variable predicate unions over ALL predicate maps (the predicate IRI
    becomes a constant-folded literal column per branch — no per-row
    lookup); a constant predicate prunes to that predicate's tables only
    (partition pruning by construction). ``graph``: None = ignore graphs;
    an IRI constant = restrict to that graph; "?g" = bind the graph IRI.

    ``term_meta``: variable names (with '?') whose object-position
    bindings must carry hidden ``__lang_<v>`` / ``__dt_<v>`` columns for
    LANG()/DATATYPE(). The object kind is known per predicate map at plan
    time, so the SPARQL semantics constant-fold per branch: IRI/bnode
    objects -> NULL (the spec's type error, observed as unbound);
    lang-tagged literals -> (lang, rdf:langString); typed -> (``''``,
    datatype); plain -> (``''``, xsd:string)."""
    s, p, o = pattern
    while isinstance(p, PathInverse):  # (s, ^p, o) == (o, p, s)
        if isinstance(p.path, PathAlt):
            p = PathAlt(tuple(PathInverse(a) for a in p.path.alts))
        else:
            s, p, o = o, p.path, s

    if isinstance(p, PathSeq):
        # a sequence reaching the pattern compiler directly is an
        # alternation branch or a nested path element (top-level sequences
        # are expanded by _expand_path_patterns before this point):
        # compile the chain on the REAL endpoints via _join_patterns and
        # project the hidden ``__seq`` intermediates away, leaving the
        # same schema any sibling branch produces
        sub, _ = _join_patterns(
            catalog, reader, dicts, [(s, p, o, graph)],
            term_meta=term_meta, named=named,
        )
        mids = [c for c in sub.columns if c.startswith("__seq")]
        df = sub.drop(*mids)
        binds = {
            v: v[1:]
            for v in dict.fromkeys((s, o, graph if _is_var(graph) else None))
            if _is_var(v)
        }
        if not df.columns:
            # both endpoints constant: a match marker, like the no-vars
            # select at the bottom of this function
            df = sub.select(F.lit(1).alias(f"__m{idx}"))
        return df, binds

    if isinstance(p, PathAlt):
        compiled = [
            _pattern_frame(
                catalog, reader, dicts, (s, alt, o), idx, graph, term_meta,
                named,
            )
            for alt in p.alts
        ]
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=False),
            [f for f, _ in compiled],
        )
        return df, compiled[0][1]

    g_is_var = graph is not None and _is_var(graph)
    if graph is not None and (not dicts or "graphs" not in dicts):
        raise ValueError("graph-constrained queries need the graphs dictionary")

    is_neg = isinstance(p, PathNeg)
    is_path = isinstance(p, (PathPlus, PathStar, PathOpt))
    p_match = p.predicate if is_path else p
    p_is_var = not is_neg and _is_var(p_match)
    compound = is_path and not isinstance(p_match, str)
    if compound:
        # closure over a COMPOUND path, e.g. (p1/p2)+ or (p|^q)*: compile
        # the inner path to its edge set through hidden endpoint
        # variables; the shared closure block below closes it
        # transitively. A constant graph filters inside the inner compile
        # (per-leaf, before closure); GRAPH ?g compiles the inner with a
        # hidden graph variable — the edge set carries the DECODED graph
        # IRI, the closure groups on it, and the tail decode join is
        # skipped (the frame already holds ``__giri``).
        ep_a, ep_b = f"?__cp{idx}a", f"?__cp{idx}b"
        inner_graph = f"?__cp{idx}g" if g_is_var else graph
        inner, _ = _join_patterns(
            catalog, reader, dicts, [(ep_a, p_match, ep_b, inner_graph)],
            named=named,
        )
        sel = [F.col(ep_a[1:]).alias("__s"), F.col(ep_b[1:]).alias("__o")]
        if g_is_var:
            sel.append(F.col(inner_graph[1:]).alias("__giri"))
        df = inner.select(*sel)
    else:
        # one scanner call (plans.r2rml), pruned to the matching predicate
        # maps at plan time: a constant predicate keeps its own maps
        # (partition pruning by construction); a variable predicate keeps
        # all, a negated property set all but the EXCLUDED ones — no
        # per-row predicate comparison either way
        keep = (
            (lambda pm: pm.predicate not in p.predicates) if is_neg
            else None if p_is_var
            else (lambda pm: pm.predicate == p_match)
        )
        df = reconstruct_triples(
            catalog, reader, dicts, keep, graph_needed=graph is not None
        ).toDF(
            "__sk", "__s", "__p", "__ok", "__o", "__ol", "__od",
            *(("__gid",) if graph is not None else ()),
        )
        meta = []
        if _is_var(o) and o in term_meta:
            # from the per-row object kind; Catalyst constant-folds it on
            # single-map branches. IRI/bnode objects: LANG/DATATYPE is a
            # type error -> NULL
            is_lit = F.col("__ok") == "literal"
            meta += [
                F.when(is_lit, F.coalesce("__ol", F.lit(""))).alias(
                    META_LANG + o[1:]
                ),
                F.when(
                    is_lit,
                    F.when(
                        F.col("__ol").isNotNull(), F.lit(_RDF_LANGSTRING)
                    ).otherwise(F.coalesce("__od", F.lit(_XSD_STRING))),
                ).alias(META_DT + o[1:]),
                F.col("__ok").alias(META_KIND + o[1:]),
            ]
        if _is_var(s) and s in term_meta and s != o:
            # subject-position term metadata: LANG/DATATYPE of an
            # IRI/bnode is a type error -> NULL
            none = F.lit(None).cast("string")
            meta += [
                none.alias(META_LANG + s[1:]),
                none.alias(META_DT + s[1:]),
                F.col("__sk").alias(META_KIND + s[1:]),
            ]
        if meta:
            df = df.select("*", *meta)

    if not compound and graph is not None and not g_is_var:
        # the filter runs BEFORE any closure so paths stay inside the
        # dataset (see _graph_restrict)
        df = _graph_restrict(df, dicts, graph, named)

    if is_path:
        g_key = "__giri" if compound else "__gid"
        group = (g_key,) if g_is_var else ()
        base = df.select("__s", "__o", *group)
        if isinstance(p, PathPlus):
            paths = _transitive_plus(base, p.max_iter, group)
        else:
            zero = _zero_length(
                catalog, reader, dicts, s, o, graph, named, g_is_var, g_key
            )
            if isinstance(p, PathStar):
                paths = _transitive_plus(base, p.max_iter, group)
            else:  # PathOpt
                paths = base.distinct()
            paths = paths.unionByName(zero).distinct()
        path_meta = []
        for v in (o, s):
            # path endpoints are IRIs/bnodes: LANG/DATATYPE type-errors;
            # the exact kind is not tracked through the closure -> NULL
            if _is_var(v) and v in term_meta:
                path_meta += [
                    F.lit(None).cast("string").alias(META_LANG + v[1:]),
                    F.lit(None).cast("string").alias(META_DT + v[1:]),
                    F.lit(None).cast("string").alias(META_KIND + v[1:]),
                ]
        if s == o:
            path_meta = path_meta[:3]
        df = paths.select(
            "__s",
            F.lit(p_match if isinstance(p_match, str) else "__path__").alias("__p"),
            "__o",
            F.lit(None).cast("string").alias("__ol"),
            F.lit(None).cast("string").alias("__od"),
            *path_meta,
            *group,
        )

    if g_is_var and not compound:
        # GRAPH ?g: decode id -> IRI (plain join — unbounded dict) and
        # bind it; rows with NULL g_id (graph-less data) drop, matching
        # SPARQL's GRAPH matching named graphs only. FROM NAMED narrows
        # the graphs ?g may range over. (A compound-path frame already
        # carries the decoded ``__giri`` from its inner compile.)
        gd = dicts["graphs"]
        if named is not None:
            gd = gd.where(F.col("iri").isin(list(named)))
        gd = gd.select(F.col("id").alias("__gid"), F.col("iri").alias("__giri"))
        df = df.join(gd, "__gid").drop("__gid")

    cols = {}

    def bind(var, col_name):
        nonlocal df
        if var in cols:
            # repeated variable within one pattern, e.g. ('?x', p, '?x'):
            # an equality constraint, not a rebinding
            df = df.where(F.col(cols_src[var]) == F.col(col_name))
        else:
            cols[var] = F.col(col_name)
            cols_src[var] = col_name

    cols_src: dict = {}
    if _is_var(s):
        bind(s, "__s")
    else:
        df = df.where(F.col("__s") == s)
    if p_is_var:
        bind(p, "__p")
    if _is_var(o):
        bind(o, "__o")
    elif isinstance(o, Literal):
        df = df.where(F.col("__o") == o.lex)
        # path closures carry lexical forms only (__ol/__od are NULL by
        # construction), so a lang/datatype-qualified endpoint compares
        # on the lexical form — the same documented narrowing as
        # _zero_length's constant endpoints; filtering NULL metadata
        # would drop every legitimate match
        if not is_path:
            if o.lang is not None:
                df = df.where(F.col("__ol") == o.lang)
            if o.datatype is not None:
                df = df.where(F.col("__od") == o.datatype)
    else:
        df = df.where(F.col("__o") == o)
    if g_is_var:
        bind(graph, "__giri")
    meta_cols = [F.col(n) for n in df.columns if n.startswith(META_PREFIXES)]
    named = (
        df.select(*[c.alias(v[1:]) for v, c in cols.items()], *meta_cols)
        if cols
        else df.select(F.lit(1).alias(f"__m{idx}"))
    )
    return named, {v: v[1:] for v in cols}


def _join_patterns(
    catalog, reader, dicts, patterns, graph=None,
    term_meta: frozenset = frozenset(), named=None,
) -> tuple[DataFrame, set]:
    """``patterns`` may mix 3-tuples (scoped by the group default
    ``graph`` — FROM semantics) and 4-tuples ``(s, p, o, scope)`` from
    GRAPH blocks, each with its own constant/variable scope. Two GRAPH
    blocks binding the same ?g join on the bound graph IRI like any other
    shared variable; distinct ?g/?h scopes bind independently. ``named``
    (FROM NAMED) restricts GRAPH-block scopes only — never the default
    graph."""
    patterns = _expand_path_patterns(patterns)
    frames = []
    for i, pat in enumerate(patterns):
        s, p, o, scope = pat
        f, binds = _pattern_frame(
            catalog, reader, dicts, (s, p, o), i,
            scope if scope is not None else graph, term_meta,
            named if scope is not None else None,
        )
        frames.append((f, set(binds.values())))
    out, bound = frames[0]
    for f, vs in frames[1:]:
        # a variable bound in two object positions would carry the meta
        # columns twice: the FIRST binding pattern wins (documented)
        dup_meta = [
            c for c in f.columns
            if c.startswith(META_PREFIXES) and c in out.columns
        ]
        if dup_meta:
            f = f.drop(*dup_meta)
        shared = sorted(bound & vs)
        out = out.join(f, on=shared, how="inner") if shared else out.crossJoin(f)
        bound |= vs
    return out, bound


def _group_patterns(g):
    """Yield every triple pattern of a group — a plain pattern list or a
    sub-group dict (patterns + nested modifier groups + union blocks) —
    recursively. Used to detect GRAPH-scoped 4-tuples."""
    if isinstance(g, dict):
        yield from g.get("patterns") or []
        for sub in (
            *(g.get("optional") or []), *(g.get("minus") or []),
            *(g.get("exists") or []), *(g.get("not_exists") or []),
        ):
            yield from _group_patterns(sub)
        for block in g.get("unions") or []:
            for branch in block:
                yield from _group_patterns(branch)
    else:
        yield from g


class _JoinScope:
    """Duck-typed frame facade for compiling a FILTER as a JOIN
    CONDITION over the two sides of an OPTIONAL/EXISTS join (SPARQL's
    LeftJoin(Ω1, Ω2, expr) form): variable names bound by the GROUP side
    resolve to its (renamed) columns, everything else to the outer side.
    Filter lambdas only ever use ``df[name]`` and ``df.columns`` — both
    provided here. A name bound on NEITHER side (a variable bound
    nowhere in the query) resolves to NULL: the SPARQL type error, which
    a join condition treats as effectively-false (§17.2), instead of an
    unresolved-column AnalysisException."""

    def __init__(self, outer_cols: list, rename: dict):
        self._outer = list(outer_cols)
        self._outer_set = set(outer_cols)
        self._ren = dict(rename)

    @property
    def columns(self):
        seen = dict.fromkeys([*self._ren, *self._outer])
        return list(seen)

    def __getitem__(self, name):
        if name in self._ren:
            return F.col(self._ren[name])
        if name not in self._outer_set:
            return F.lit(None).cast("string")
        return F.col(name)


class _RecordingScope:
    """Probe facade for STRUCTURAL correlation detection. Filter lambdas
    compiled by the textual front-end only ever touch ``df[name]`` and
    ``df.columns``; evaluating one against this scope records every name
    resolved through ``__getitem__`` that is not one of the group's own
    columns — the outer-referencing (correlated) variables — without any
    Spark analysis, so AnalysisException stays reserved for genuine
    errors and the mechanism keeps working under lazy analysis (Spark
    Connect), where ``df.where()`` would never raise eagerly."""

    def __init__(self, own_cols: list):
        self._own = set(own_cols)
        self._cols = list(own_cols)
        self.foreign: set = set()

    @property
    def columns(self):
        return list(self._cols)

    def __getitem__(self, name):
        if name not in self._own:
            self.foreign.add(name)
        return F.col(name)


def _group_frame(
    catalog, reader, dicts, g, graph=None,
    term_meta: frozenset = frozenset(), named=None, deferred=None,
) -> tuple[DataFrame, set]:
    """Compile a modifier group — OPTIONAL/MINUS/EXISTS body or a UNION
    branch — to its solution frame. A plain pattern list compiles through
    ``_join_patterns`` (the bare-BGP fast path); a sub-group dict carries
    its own modifiers (nested OPTIONAL/MINUS/EXISTS, FILTER, BIND,
    VALUES, UNION blocks) and compiles through ``bgp`` RECURSIVELY —
    SPARQL's GroupGraphPattern algebra, one frame per group.

    ``deferred``: a list, or None. Group FILTERs normally apply to the
    group's OWN solutions; one that references variables bound only
    OUTSIDE the group cannot (unresolved column). With ``deferred`` a
    list, such filters are appended to it for the caller to compile into
    the join condition (the spec's LeftJoin/EXISTS correlation); with
    None they raise a named ``SparqlUnsupported``."""
    if not isinstance(g, dict):
        return _join_patterns(catalog, reader, dicts, g, graph, term_meta, named)
    # pre-compiled solution frames (sub-SELECTs inside the group — the
    # textual front-end compiles them before handing the dict over) seed
    # the join exactly like top-level sub-SELECTs seed bgp
    frames = list(g.get("frames") or [])
    frames += [
        bgp_union(
            catalog, reader, dicts, block, graph=graph,
            named_graphs=named, term_meta=term_meta,
        )
        for block in g.get("unions") or []
    ]
    df = bgp(
        catalog, reader, dicts, g.get("patterns") or [],
        optional=g.get("optional") or None,
        graph=graph,
        minus=g.get("minus") or None,
        exists=g.get("exists") or None,
        not_exists=g.get("not_exists") or None,
        bind=g.get("binds") or None,
        values=g.get("values") or None,
        frames=frames or None,
        term_meta=term_meta,
        named_graphs=named,
        keep_meta=True,
    )
    for f in g.get("filters") or []:
        if callable(f):
            # structural correlation test: evaluate the lambda against a
            # recording scope and see whether it reads any name the group
            # itself does not bind. Genuine analysis errors are NOT
            # caught here — applying the filter below surfaces them.
            probe = _RecordingScope(df.columns)
            try:
                f(probe)
                correlated = bool(probe.foreign)
            except Exception:
                # the lambda did something beyond the df[name]/df.columns
                # contract — treat as uncorrelated and apply directly
                correlated = False
            if correlated:
                if deferred is None:
                    raise SparqlCompileError(
                        "FILTER references variables bound outside its "
                        "group (supported for OPTIONAL and EXISTS groups "
                        "only)"
                    )
                deferred.append(f)
                continue
            df = df.where(f(df))
        else:
            # programmatic raw-Column filter: no structure to inspect —
            # the legacy eager-analysis probe is the only signal left
            try:
                df = df.where(f)
            except AnalysisException:
                if deferred is None:
                    raise SparqlCompileError(
                        "FILTER references variables bound outside its "
                        "group (supported for OPTIONAL and EXISTS groups "
                        "only)"
                    ) from None
                deferred.append(f)
    return df, {c for c in df.columns if not c.startswith(META_PREFIXES)}


def join_values(
    out: DataFrame, names: list[str], rows: list[tuple], bound: set
) -> tuple[DataFrame, set]:
    """SPARQL VALUES inline-data join (§10.2) incl. UNDEF wildcards: rows
    group by their defined-cell mask (UNDEF = None); each mask group
    joins the solution set on its DEFINED columns only (an UNDEF cell
    constrains nothing), and the groups' results concatenate — the
    spec's multiset join with partially-bound rows. The literal side is
    broadcast (inline data is always tiny). Returns (joined, bound)."""
    spark = out.sparkSession
    masks: dict = {}
    for row in rows:
        mask = tuple(i for i, v in enumerate(row) if v is not None)
        masks.setdefault(mask, []).append(row)
    pieces = []
    for mask, mrows in masks.items():
        mnames = [names[i] for i in mask]
        if not mnames:
            # all-UNDEF row(s): each matches every solution, unchanged
            piece = out
            for _ in range(len(mrows) - 1):
                piece = piece.unionByName(out)
            pieces.append(piece)
            continue
        lit_df = spark.createDataFrame(
            [tuple(r[i] for i in mask) for r in mrows],
            ", ".join(f"`{n}` string" for n in mnames),
        )
        shared = sorted(bound & set(mnames))
        piece = (
            out.join(F.broadcast(lit_df), on=shared, how="inner")
            if shared
            else out.crossJoin(F.broadcast(lit_df))
        )
        pieces.append(piece)
    res = pieces[0]
    for p in pieces[1:]:
        res = res.unionByName(p, allowMissingColumns=True)
    for n in names:
        # a block variable no surviving mask defined: unbound -> NULL
        if n not in res.columns:
            res = res.withColumn(n, F.lit(None).cast("string"))
    return res, bound | set(names)


def bgp(
    catalog,
    reader,
    dicts,
    patterns: list[tuple],
    select: list[str] | None = None,
    distinct: bool = False,
    optional: list[list[tuple]] | None = None,
    filter=None,
    graph=None,
    minus: list[list[tuple]] | None = None,
    exists: list[list[tuple]] | None = None,
    not_exists: list[list[tuple]] | None = None,
    bind: list[tuple] | None = None,
    group_by: list[str] | None = None,
    agg: dict | None = None,
    values: list[tuple] | None = None,
    frames: list[DataFrame] | None = None,
    having=None,
    term_meta: frozenset = frozenset(),
    named_graphs=None,
    keep_meta: bool = False,
) -> DataFrame:
    """Compile a BGP to a DataFrame: per-pattern predicate-pruned scans
    joined on shared variables (Catalyst reorders/broadcasts as usual).

    ``optional``: a list of OPTIONAL groups (SPARQL 1.1 §6): each group
    compiles to its own BGP and LEFT-joins the required part on the
    shared variables — unmatched rows keep NULL for the group's variables.
    Groups sharing no variable left-join through a constant marker key, so
    required solutions survive even when the group matches nothing.
    A group is a pattern list, or a sub-group dict with its own nested
    modifiers (OPTIONAL/MINUS/EXISTS/FILTER/BIND/VALUES/UNION) compiled
    recursively by ``_group_frame`` — same for ``minus``/``exists``/
    ``not_exists``. A FILTER inside such a group applies to the group's
    OWN solutions before the outer join (a documented narrowing of the
    spec's LeftJoin-condition form for filters that reference
    outer-group variables).

    ``filter``: a FILTER expression — a Column over the bound variable
    names (without '?'), or a callable(df) -> Column. Applied after the
    required part and all OPTIONAL joins, like SPARQL group-level FILTER;
    Catalyst pushes deterministic predicates down into the scans.

    ``graph``: an IRI constant (SPARQL FROM <iri> / GRAPH <iri> — every
    pattern restricted to that graph) or a variable like "?g" (GRAPH ?g —
    the graph IRI joins each solution and binds). Applies to the required
    part and to OPTIONAL/MINUS groups (GRAPH-block scoping).

    ``minus``: a list of MINUS pattern groups (SPARQL 1.1 §8.3): solutions
    compatible with a group's solution on >= 1 shared variable are
    removed (left-anti join on the shared variables); a group sharing NO
    variable removes nothing, per spec.

    ``exists`` / ``not_exists``: FILTER (NOT) EXISTS pattern groups
    (SPARQL 1.1 §8.1.1): a solution passes iff the group matches (resp.
    does not match) under the solution's bindings — left-semi/left-anti
    join on the shared variables. A group sharing no variable degenerates
    to "the group has >= 1 solution at all", realized with the same
    marker-key join (no driver-side count).

    ``bind``: list of (Column-or-callable, "?var") — SPARQL BIND: each
    expression (over previously bound variable names, without '?') is
    evaluated per solution and bound to the new variable, in order.

    ``group_by`` + ``agg``: SPARQL 1.1 §11 aggregates — ``group_by`` lists
    grouping variables, ``agg`` maps output name -> Column (or
    callable(df) -> Column) aggregate expression. With ``group_by=[]``
    the whole solution set is one group (SELECT (COUNT(*) AS ...)).

    ``values``: list of (var_names, rows) — SPARQL VALUES inline data
    (§10.2, no UNDEF): each block becomes a literal DataFrame joined on
    its variables (inner join on shared vars; a block sharing no variable
    cross-joins, i.e. multiplies solutions, per the spec's Join with a
    disjoint multiset). Catalyst broadcast-joins the literal side.

    ``frames``: pre-compiled solution DataFrames (sub-SELECTs): each
    joins the running solution set on the shared column names — SPARQL
    §12 evaluates the subquery first and joins it into the group.

    ``having``: Column or callable(df) -> Column over the aggregated
    frame (aggregate aliases included) — SPARQL HAVING, applied after
    ``agg``.

    ``term_meta``: variable names (with '?') whose bindings carry hidden
    ``__lang_<v>`` / ``__dt_<v>`` columns so FILTER/BIND expressions can
    compile LANG()/DATATYPE(); the hidden columns are dropped after the
    filters run (joins still compare lexical forms — documented).

    ``patterns`` may be EMPTY when ``frames`` is given: the first frame
    seeds the solution set (a pure-UNION group with FILTER/OPTIONAL/
    MINUS/BIND/aggregate modifiers compiles this way — the union frame is
    the required part)."""
    if patterns:
        out, bound = _join_patterns(
            catalog, reader, dicts, patterns, graph, term_meta, named_graphs
        )
        rest = frames or []
    else:
        if not frames:
            raise ValueError("bgp requires patterns or frames")
        out = frames[0]
        bound = set(out.columns)
        rest = frames[1:]
    for sub in rest:
        # two frames (union blocks / sub-SELECTs) can both carry hidden
        # term-metadata columns for a shared variable: the FIRST frame's
        # metadata wins (same rule as _join_patterns) and meta columns
        # are never join keys — solutions join on lexical bindings only
        dup_meta = [
            c for c in sub.columns
            if c.startswith(META_PREFIXES) and c in out.columns
        ]
        if dup_meta:
            sub = sub.drop(*dup_meta)
        sub_vars = set(sub.columns)
        shared = sorted(
            v for v in bound & sub_vars if not v.startswith(META_PREFIXES)
        )
        out = out.join(sub, on=shared, how="inner") if shared else out.crossJoin(sub)
        bound |= sub_vars
    if values:
        if optional:
            # VALUES joins HERE (before the optional left-joins), but §18.2
            # translates group elements in textual order — and the parser
            # collapses positions. When a VALUES variable is bound ONLY
            # inside an OPTIONAL group the two orders genuinely differ
            # (VALUES-after-OPTIONAL must filter the optional's bindings;
            # the early join cross-joins instead), so that combination is
            # a named error rather than a silent wrong answer. A VALUES
            # variable bound by the required part is order-insensitive.
            opt_vars: set = set()
            for grp_ in optional:
                for pat in _group_patterns(grp_):
                    opt_vars |= {
                        x[1:] for x in pat
                        if isinstance(x, str) and x.startswith("?")
                    }
                if isinstance(grp_, dict):
                    opt_vars |= {
                        v[1:] for _, v in grp_.get("binds") or []
                    }
            for var_names, _rows in values:
                amb = sorted(
                    {v[1:] if v.startswith("?") else v for v in var_names}
                    & (opt_vars - bound)
                )
                if amb:
                    raise SparqlCompileError(
                        "VALUES over variable(s) bound only inside an "
                        f"OPTIONAL group ({', '.join(amb)}): evaluation "
                        "order is position-dependent (SPARQL §18.2.2.6) "
                        "and the textual position is not preserved — "
                        "bind the variable in the required part or move "
                        "the constraint into a FILTER"
                    )
        for var_names, rows in values:
            names = [v[1:] if v.startswith("?") else v for v in var_names]
            out, bound = join_values(out, names, rows, bound)
    for group in optional or []:
        defr: list = []
        g, g_vars = _group_frame(
            catalog, reader, dicts, group, graph, term_meta, named_graphs,
            deferred=defr,
        )
        dup_meta = [
            c for c in g.columns
            if c.startswith(META_PREFIXES) and c in out.columns
        ]
        if dup_meta:
            g = g.drop(*dup_meta)
        shared = sorted(bound & g_vars)
        if defr:
            # LeftJoin(Ω1, Ω2, expr) — the group FILTER references outer
            # variables, so it becomes part of the JOIN CONDITION: rows
            # failing it keep the required solution with the group's
            # variables unbound (NOT eliminated, unlike a post-join
            # FILTER). Group columns are renamed unique so the condition
            # can reference both sides by plain name.
            ren = {c: f"__opt_{c}" for c in g.columns}
            right = g.select([F.col(c).alias(ren[c]) for c in g.columns])
            scope = _JoinScope(out.columns, ren)
            cond = F.lit(True)
            for c in shared:
                cond = cond & (F.col(c) == F.col(ren[c]))
            for f in defr:
                cond = cond & (f(scope) if callable(f) else f)
            out = out.join(right, cond, "left").select(
                *out.columns,
                *[
                    F.col(ren[c]).alias(c)
                    for c in g.columns
                    if c not in out.columns
                ],
            )
        elif shared:
            # SPARQL OPTIONAL multiplies matching solutions, so the plain
            # left join (no dedupe of the optional side) IS the semantics
            out = out.join(g, on=shared, how="left")
        else:
            # LeftJoin with disjoint domains: every required solution must
            # SURVIVE even when the optional group is empty (vars unbound).
            # A crossJoin would eliminate them all — left-join through a
            # constant marker key instead (ADVICE r2).
            out = (
                out.withColumn("__m", F.lit(1))
                .join(g.withColumn("__m", F.lit(1)), "__m", "left")
                .drop("__m")
            )
        bound |= g_vars
    for group in minus or []:
        g, g_vars = _group_frame(
            catalog, reader, dicts, group, graph, named=named_graphs
        )
        shared = sorted(bound & g_vars)
        if shared:
            out = out.join(g.select(*shared).distinct(), on=shared, how="left_anti")
        # disjoint domains: MINUS removes nothing (SPARQL 1.1 §8.3 —
        # a solution with no variable in common is not "compatible")
    for want, groups in ((True, exists or []), (False, not_exists or [])):
        for group in groups:
            defr = []
            g, g_vars = _group_frame(
                catalog, reader, dicts, group, graph, named=named_graphs,
                deferred=defr,
            )
            shared = sorted(bound & g_vars)
            if defr:
                # correlated [NOT] EXISTS (SPARQL §8.1.2: the group
                # evaluates under the outer solution's bindings): the
                # outer-referencing FILTER joins as the semi/anti
                # condition alongside the shared-variable equalities
                ren = {c: f"__ex_{c}" for c in g.columns}
                right = g.select([F.col(c).alias(ren[c]) for c in g.columns])
                scope = _JoinScope(out.columns, ren)
                cond = F.lit(True)
                for c in shared:
                    cond = cond & (F.col(c) == F.col(ren[c]))
                for f in defr:
                    cond = cond & (f(scope) if callable(f) else f)
                out = out.join(
                    right, cond, "left_semi" if want else "left_anti"
                )
            elif shared:
                out = out.join(
                    g.select(*shared).distinct(),
                    on=shared,
                    how="left_semi" if want else "left_anti",
                )
            else:
                # no shared variable: pass/reject ALL solutions depending
                # on whether the group has any solution — marker-key join
                # keeps it lazy and distributed (no driver-side count)
                marker = g.limit(1).select(F.lit(1).alias("__m"))
                out = out.withColumn("__m", F.lit(1)).join(
                    marker, "__m", "left_semi" if want else "left_anti"
                )
                if "__m" in out.columns:
                    out = out.drop("__m")
    for expr, var in bind or []:
        out = out.withColumn(
            var[1:] if var.startswith("?") else var,
            expr(out) if callable(expr) else expr,
        )
        bound.add(var[1:] if var.startswith("?") else var)
    if filter is not None:
        out = out.where(filter(out) if callable(filter) else filter)
    meta_hidden = [c for c in out.columns if c.startswith(META_PREFIXES)]
    if meta_hidden and not keep_meta:
        out = out.drop(*meta_hidden)
    if agg is not None:
        keys = [v[1:] if v.startswith("?") else v for v in (group_by or [])]
        exprs = [
            (e(out) if callable(e) else e).alias(name) for name, e in agg.items()
        ]
        out = out.groupBy(*keys).agg(*exprs) if keys else out.agg(*exprs)
        if having is not None:
            out = out.where(having(out) if callable(having) else having)
    if select:
        out = out.select(*[v[1:] if v.startswith("?") else v for v in select])
    if distinct:
        out = out.distinct()
    return out


def bgp_union(
    catalog,
    reader,
    dicts,
    groups: list[list[tuple]],
    select: list[str] | None = None,
    distinct: bool = False,
    graph=None,
    named_graphs=None,
    term_meta: frozenset = frozenset(),
) -> DataFrame:
    """SPARQL UNION: each group compiles to its own BGP; solutions are
    concatenated with NULL for variables a branch does not bind
    (unionByName(allowMissingColumns) — exactly SPARQL's unbound).

    A group may be a plain pattern list or a sub-group dict (patterns +
    its own OPTIONAL/MINUS/EXISTS/FILTER/BIND/VALUES/UNION modifiers),
    compiled recursively by ``_group_frame``.

    ``term_meta``: variables whose hidden term-metadata columns
    (LANG()/DATATYPE()/kind) each branch carries; a branch that does not
    bind the variable contributes NULL metadata (the spec's type error)
    through the same allowMissingColumns union."""
    frames = [
        _group_frame(
            catalog, reader, dicts, g, graph,
            term_meta=term_meta, named=named_graphs,
        )[0]
        for g in groups
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if select:
        out = out.select(*[v[1:] if v.startswith("?") else v for v in select])
    if distinct:
        out = out.distinct()
    return out


def bgp_on_pipeline(
    pipe,
    patterns,
    select=None,
    distinct=False,
    stage=None,
    optional=None,
    filter=None,
    graph=None,
    minus=None,
    exists=None,
    not_exists=None,
    bind=None,
    group_by=None,
    agg=None,
    values=None,
    frames=None,
    having=None,
    term_meta: frozenset = frozenset(),
    named_graphs=None,
    keep_meta: bool = False,
) -> DataFrame:
    stage = stage or pipe.last_catalog_stage()
    dicts = pipe.dicts(stage)
    if "graphs" not in dicts and (
        graph is not None
        or named_graphs is not None
        or any(len(p) > 3 and p[3] is not None for p in patterns)
        or any(
            len(p) > 3 and p[3] is not None
            for g in [*(optional or []), *(minus or []),
                      *(exists or []), *(not_exists or [])]
            for p in _group_patterns(g)
        )
    ):
        # the V-stage catalog carries the graphs dictionary; older stages
        # read it straight from stage D
        dicts = {**dicts, "graphs": pipe.graphs()}
    return bgp(
        pipe.catalog(stage),
        pipe.reader(stage),
        dicts,
        patterns,
        select,
        distinct,
        optional,
        filter,
        graph,
        minus,
        exists,
        not_exists,
        bind,
        group_by,
        agg,
        values,
        frames,
        having,
        term_meta,
        named_graphs,
        keep_meta,
    )


def bgp_union_on_pipeline(
    pipe, groups, select=None, distinct=False, stage=None, graph=None,
    named_graphs=None, term_meta: frozenset = frozenset(),
) -> DataFrame:
    stage = stage or pipe.last_catalog_stage()
    dicts = pipe.dicts(stage)
    if "graphs" not in dicts and (
        graph is not None
        or named_graphs is not None
        or any(
            len(p) > 3 and p[3] is not None
            for g in groups
            for p in _group_patterns(g)
        )
    ):
        dicts = {**dicts, "graphs": pipe.graphs()}
    return bgp_union(
        pipe.catalog(stage),
        pipe.reader(stage),
        dicts,
        groups,
        select,
        distinct,
        graph,
        named_graphs,
        term_meta,
    )
