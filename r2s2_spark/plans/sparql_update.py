"""SPARQL 1.1 Update over a loaded :class:`KgPipeline`.

Reference counterpart: none — the reference engine is load-only (its query
surface is Ontop, read-only; mutation happens by re-running the loader,
LoadIntoTable.java append paths). This module is the engine-native
extension a switching user needs for incremental KG maintenance: each
update operation materializes a NEW checkpointed stage ``U{k}`` whose
catalog references every unchanged table in place (TableSpec.path is
snapshot-relative by design) and rewrites only what the operation touched.

Supported operations (sequences separated by ``;``):

- ``INSERT DATA { quads }`` / ``DELETE DATA { quads }`` (ground quads,
  ``GRAPH <iri> { ... }`` blocks; bnodes in INSERT DATA mint fresh,
  retry-stable ids ``xxhash64(stage, label)``)
- ``DELETE WHERE { quads }`` (§3.1.3.1 shorthand)
- ``[WITH <g>] DELETE {t} INSERT {t} [USING [NAMED] <g>]* WHERE
  { group }`` (either template clause optional, full WHERE grammar — the
  templates instantiate against the PRE-update state, deletes apply
  before inserts; USING/USING NAMED define the WHERE dataset exactly
  like FROM/FROM NAMED §13.2, and any USING clause makes WITH
  template-only per §3.1.3.3; ``GRAPH ?var { ... }`` template blocks
  instantiate the graph per solution)
- ``LOAD [SILENT] <file:...> [INTO GRAPH <g>]`` through the engine's own
  decompression + multi-syntax parsers (network IRIs stay a named
  unsupported — SILENT makes them the spec's no-op)
- ``CLEAR [SILENT] (GRAPH <iri> | DEFAULT | NAMED | ALL)`` and ``DROP``
  (graphs exist implicitly here, so DROP ≡ CLEAR)
- graph management §3.2: ``ADD/COPY/MOVE [SILENT] (DEFAULT | [GRAPH]
  <iri>) TO (DEFAULT | [GRAPH] <iri>)`` (graph-sized quad-frame ops over
  the same apply machinery; same-graph is the spec's no-op), and
  ``CREATE [SILENT] GRAPH <iri>`` (a no-op under implicit graphs, except
  the spec's already-exists error when the graph is non-empty and not
  SILENT)

Bnodes in WHERE-form INSERT templates mint FRESH per solution (§3.1.3)
yet stay retry-deterministic: the id is ``xxhash64(stage, label,
solution-fingerprint, duplicate-rank)`` where the fingerprint hashes
every solution column and the rank is a row_number window PARTITIONED BY
the fingerprint (no global sort) — duplicate solutions get distinct
consecutive ranks, so the minted id SET is a pure function of the
solution multiset and the stage.

Named unsupported: ``LOAD`` over network IRIs, bnodes in DELETE templates
(spec-forbidden), and template variables whose term kind is not
statically tracked (bound only by BIND/VALUES/paths — pattern-bound
variables always are).

Scale notes: deletions rebuild ONLY the affected tables (those whose
predicate appears in the delete set) by routing their reconstructed
triples minus the deletes back through the stage-V router — one shuffle
over affected-table data, never a full-KG rewrite; insertions become
fresh V-layout delta tables (the BGP compiler unions all tables per
predicate, so a predicate split across an optimized table and a delta
table queries correctly), anti-joined against the post-delete state so
RDF set semantics hold. Dictionary domains only grow: new graph/predicate
IRIs extend the dictionaries with offset ids, never re-assign.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.uri import PART_KEYS
from ..naming import RDF, XSD
from ..operators import vertical
from .catalog import Catalog
from .r2rml import reconstruct_triples
from .sparql import Literal, META_KIND, META_LANG, META_DT
from .sparql_text import (
    _Parser,
    SparqlSyntaxError,
    SparqlUnsupported,
    _unquote,
    _where_solutions,
)

_XSD_STRING = XSD + "string"
_SENT = "\x00"  # sentinel for NULL join keys (never a valid lexical form)

#: lexical quad schema every delta flows through (graph as IRI; the
#: router re-encodes through the graphs dictionary)
QUAD_SCHEMA = (
    "s_kind string, s string, p string, o_kind string, o_lex string, "
    "o_lang string, o_datatype string, g_iri string"
)


# -- parsing -----------------------------------------------------------------


class _UpdateParser(_Parser):
    """SPARQL 1.1 Update grammar over the shared query tokenizer. Terms
    in data blocks and templates are TAGGED tuples — ``("var", "?x")``,
    ``("iri", abs)``, ``("bnode", label)``, ``("literal", Literal)`` —
    because the query parser's untyped terms cannot distinguish a plain
    string literal from an IRI, and updates need exact term identity."""

    def parse_update(self) -> list[dict]:
        self._prologue()
        ops: list[dict] = []
        while self.peek()[0] != "eof":
            ops.append(self._operation())
            if self.peek()[1] == ";":
                self.next()
                self._prologue()  # each operation may carry its own prologue
            elif self.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    f"expected ';' or end of update, got {self.peek()[1]!r}"
                )
        if not ops:
            raise SparqlSyntaxError("empty update request")
        return ops

    def _operation(self) -> dict:
        if self.at_word("LOAD"):
            # §3.1.4: LOAD [SILENT] <doc> [INTO GRAPH <g>] — file: IRIs
            # only (this engine does no network IO; a non-file scheme is
            # a named unsupported, or the spec's silent failure under
            # SILENT). The document parses through the engine's own
            # multi-syntax sources (files.read_rdf_files → extract
            # parser), so every syntax/codec the loader accepts LOADs.
            self.next()
            silent = False
            if self.at_word("SILENT"):
                self.next()
                silent = True
            kind, val = self.next()
            if kind not in ("iri", "pname"):
                raise SparqlSyntaxError("LOAD needs an IRI")
            src = self._iri(val) if kind == "iri" else self._pname(val)
            into = None
            if self.at_word("INTO"):
                self.next()
                self.eat_word("GRAPH")
                kind, val = self.next()
                if kind not in ("iri", "pname"):
                    raise SparqlSyntaxError("INTO GRAPH needs an IRI")
                into = self._iri(val) if kind == "iri" else self._pname(val)
            return {"op": "load", "src": src, "into": into, "silent": silent}
        if self.at_word("CREATE"):
            # graphs exist implicitly here (a graph IS its triples), so
            # CREATE is a no-op — except that creating an EXISTING
            # (non-empty) graph is the spec's error unless SILENT
            self.next()
            silent = False
            if self.at_word("SILENT"):
                self.next()
                silent = True
            self.eat_word("GRAPH")
            kind, val = self.next()
            if kind not in ("iri", "pname"):
                raise SparqlSyntaxError("CREATE GRAPH needs an IRI")
            tgt = self._iri(val) if kind == "iri" else self._pname(val)
            return {"op": "create", "target": tgt, "silent": silent}
        if self.at_word("ADD", "MOVE", "COPY"):
            word = self.next()[1].upper()
            if self.at_word("SILENT"):
                self.next()
            src = self._graph_ref()
            self.eat_word("TO")
            dst = self._graph_ref()
            return {"op": word.lower(), "src": src, "dst": dst}
        if self.at_word("CLEAR", "DROP"):
            self.next()
            if self.at_word("SILENT"):
                self.next()
            if self.at_word("GRAPH"):
                self.next()
                kind, val = self.next()
                if kind == "var":
                    raise SparqlUnsupported("CLEAR GRAPH ?var")
                tgt = self._iri(val) if kind == "iri" else self._pname(val)
            elif self.at_word("DEFAULT", "NAMED", "ALL"):
                tgt = self.next()[1].upper()
            else:
                raise SparqlSyntaxError("CLEAR needs GRAPH <iri> | DEFAULT | NAMED | ALL")
            return {"op": "clear", "target": tgt}
        with_g = None
        if self.at_word("WITH"):
            self.next()
            kind, val = self.next()
            if kind not in ("iri", "pname"):
                raise SparqlSyntaxError("WITH needs an IRI")
            with_g = self._iri(val) if kind == "iri" else self._pname(val)
        if self.at_word("INSERT"):
            self.next()
            if with_g is None and self.at_word("DATA"):
                self.next()
                return {"op": "insert_data",
                        "quads": self._quad_block(ground=True, bnodes="mint")}
            ins = self._quad_block(ground=False, bnodes="fresh")
            return self._modify(with_g, delete=None, insert=ins)
        if self.at_word("DELETE"):
            self.next()
            if with_g is None and self.at_word("DATA"):
                self.next()
                return {"op": "delete_data",
                        "quads": self._quad_block(ground=True, bnodes="forbid")}
            if self.at_word("WHERE"):
                # DELETE WHERE shorthand: the quad pattern is template AND
                # WHERE group at once (§3.1.3.1)
                self.next()
                tmpl = self._quad_block(ground=False, bnodes="forbid")
                return {"op": "modify", "with": with_g, "delete": tmpl,
                        "insert": None, "where": self._where_from_quads(tmpl)}
            dele = self._quad_block(ground=False, bnodes="forbid")
            ins = None
            if self.at_word("INSERT"):
                self.next()
                ins = self._quad_block(ground=False, bnodes="fresh")
            return self._modify(with_g, delete=dele, insert=ins)
        raise SparqlSyntaxError(f"expected an update operation, got {self.peek()[1]!r}")

    def _graph_ref(self) -> str | None:
        """GraphOrDefault: 'DEFAULT' -> None, '[GRAPH] <iri>' -> the IRI."""
        if self.at_word("DEFAULT"):
            self.next()
            return None
        if self.at_word("GRAPH"):
            self.next()
        kind, val = self.next()
        if kind not in ("iri", "pname"):
            raise SparqlSyntaxError("expected DEFAULT or [GRAPH] <iri>")
        return self._iri(val) if kind == "iri" else self._pname(val)

    def _modify(self, with_g, delete, insert) -> dict:
        # §3.1.3.3: USING / USING NAMED define the WHERE clause's dataset
        # exactly like FROM / FROM NAMED define a query's (§13.2) — and
        # when ANY using clause is present, WITH is ignored for the WHERE
        # evaluation (it still names the templates' destination graph).
        using, unamed = [], []
        saw_using = False
        while self.at_word("USING"):
            self.next()
            saw_using = True
            if self.at_word("NAMED"):
                self.next()
                kind, val = self.next()
                if kind not in ("iri", "pname"):
                    raise SparqlSyntaxError("USING NAMED needs an IRI")
                unamed.append(self._iri(val) if kind == "iri" else self._pname(val))
            else:
                kind, val = self.next()
                if kind not in ("iri", "pname"):
                    raise SparqlSyntaxError("USING needs an IRI")
                using.append(self._iri(val) if kind == "iri" else self._pname(val))
        self.eat_word("WHERE")
        return {"op": "modify", "with": with_g, "delete": delete,
                "insert": insert, "where": self.group(),
                "using": (tuple(using), tuple(unamed)) if saw_using else None}

    def _where_from_quads(self, tmpl) -> dict:
        """DELETE WHERE: replay the tagged quads as a pattern group."""
        g = {k: [] for k in ("patterns", "optional", "minus", "exists",
                             "not_exists", "filters", "binds", "unions",
                             "values", "subselects", "services")}
        g["graph"] = None
        for s, p, o, gt in tmpl:
            g["patterns"].append(
                (_untag(s), _untag(p), _untag(o), gt) if gt is not None
                else (_untag(s), _untag(p), _untag(o))
            )
        return g

    # -- tagged quad blocks -------------------------------------------------

    def _quad_block(self, ground: bool, bnodes: str) -> list[tuple]:
        """``{ triples (GRAPH <iri> { triples })* }`` -> tagged quads
        ``(s, p, o, g_iri_or_None)``."""
        self.eat_op("{")
        quads: list[tuple] = []
        while self.peek()[1] != "}":
            if self.peek()[1] == ".":
                self.next()
                continue
            if self.at_word("GRAPH"):
                self.next()
                kind, val = self.next()
                if kind == "var":
                    # legal in DELETE/INSERT templates (the WHERE binds
                    # the graph, §3.1.3) — never in ground data blocks
                    if ground:
                        raise SparqlSyntaxError(
                            "variable graph in ground quad data"
                        )
                    giri = "?" + val[1:]
                elif kind not in ("iri", "pname"):
                    raise SparqlSyntaxError("GRAPH needs an IRI here")
                else:
                    giri = self._iri(val) if kind == "iri" else self._pname(val)
                self.eat_op("{")
                while self.peek()[1] != "}":
                    if self.peek()[1] == ".":
                        self.next()
                        continue
                    self._u_triples(quads, giri, ground, bnodes)
                self.next()
            else:
                self._u_triples(quads, None, ground, bnodes)
        self.next()
        return quads

    def _u_triples(self, out: list, giri, ground: bool, bnodes: str) -> None:
        s = self._u_term("s", ground, bnodes)
        if s[0] == "literal":
            raise SparqlSyntaxError("literal subject in update quads")
        while True:
            p = self._u_term("p", ground, bnodes)
            if p[0] not in ("iri", "var"):
                raise SparqlSyntaxError("update predicate must be an IRI or variable")
            o = self._u_term("o", ground, bnodes)
            out.append((s, p, o, giri))
            while self.peek()[1] == ",":
                self.next()
                out.append((s, p, self._u_term("o", ground, bnodes), giri))
            if self.peek()[1] != ";":
                break
            while self.peek()[1] == ";":
                self.next()
            if self.peek()[1] in (".", "}"):
                break
        if self.peek()[1] == ".":
            self.next()

    def _u_term(self, position: str, ground: bool, bnodes: str) -> tuple:
        kind, val = self.peek()
        if kind == "var":
            if ground:
                raise SparqlSyntaxError(f"variable {val} in ground quad data")
            self.next()
            return ("var", "?" + val[1:])
        if kind == "iri":
            self.next()
            return ("iri", self._iri(val))
        if kind == "pname":
            self.next()
            return ("iri", self._pname(val))
        if kind == "word" and val == "a":
            self.next()
            return ("iri", RDF + "type")
        if kind == "word" and val.lower() in ("true", "false"):
            # BooleanLiteral is valid anywhere a literal is (§19.8)
            self.next()
            return ("literal", Literal(val.lower(), datatype=XSD + "boolean"))
        if kind == "bnode" or val == "[":
            if bnodes == "forbid":
                raise SparqlSyntaxError("blank node in DELETE quads (spec-forbidden)")
            # bnodes == "fresh": WHERE-form INSERT template — minted
            # fresh per solution in _template_quads (§3.1.3)
            if val == "[":
                self.next()
                self.eat_op("]")
                self.anon += 1
                # NUL-prefixed label: no parseable user label can collide
                # (a user-written _:__anon1 must stay a DISTINCT bnode)
                return ("bnode", f"\x00anon{self.anon}")
            self.next()
            return ("bnode", val[2:])
        if kind == "string":
            self.next()
            lex = _unquote(val)
            nk, nv = self.peek()
            if nv == "@":
                self.next()
                tag = self.next()[1]
                while self.peek()[1] == "-":
                    self.next()
                    tag += "-" + self.next()[1]
                return ("literal", Literal(lex, lang=tag))
            if nv == "^^":
                self.next()
                k2, v2 = self.next()
                dt = self._iri(v2) if k2 == "iri" else self._pname(v2)
                return ("literal", Literal(lex, datatype=dt))
            return ("literal", Literal(lex, datatype=_XSD_STRING))
        if kind == "number":
            self.next()
            if re.fullmatch(r"[+-]?\d+", val):
                dt = XSD + "integer"
            elif re.search(r"[eE]", val):
                dt = XSD + "double"
            else:
                dt = XSD + "decimal"
            return ("literal", Literal(val, datatype=dt))
        raise SparqlSyntaxError(f"unexpected term {val!r} in update {position}")


def _untag(t: tuple):
    """Tagged term -> the query compiler's untyped representation."""
    kind, val = t
    if kind == "var":
        return val
    if kind == "iri":
        return val
    if kind == "bnode":
        return "?__bn_" + val  # pattern position: bnode == scoped variable
    return val  # Literal


def parse_update(text: str) -> list[dict]:
    return _UpdateParser(text).parse_update()


# -- quad frames -------------------------------------------------------------


def _mint_bnode_ids(spark: SparkSession, labels: list[str], stage: str) -> dict:
    """INSERT DATA bnode labels -> fresh ids, deterministic per (stage,
    label) so a retried/resumed operation mints identical ids."""
    if not labels:
        return {}
    df = spark.createDataFrame([(l,) for l in sorted(labels)], "l string")
    rows = df.select("l", F.xxhash64(F.lit(stage), F.col("l")).alias("id")).collect()
    return {r.l: r.id for r in rows}


def _data_quads(pipe, quads: list[tuple], stage: str) -> DataFrame:
    """Ground tagged quads -> lexical quad frame (QUAD_SCHEMA)."""
    labels = sorted({v for (s, p, o, g) in quads for (k, v) in (s, o) if k == "bnode"})
    ids = _mint_bnode_ids(pipe.spark, labels, stage)

    def lex(t):
        kind, val = t
        if kind == "iri":
            return "iri", val, None, None
        if kind == "bnode":
            return "bnode", f"b{ids[val]}", None, None
        lit = val
        return "literal", lit.lex, lit.lang, (lit.datatype if lit.lang is None else None)

    rows = []
    for s, p, o, g in quads:
        sk, sl, _, _ = lex(s)
        ok, ol, olang, odt = lex(o)
        rows.append((sk, sl, p[1], ok, ol, olang, odt, g or pipe.default_graph))
    return pipe.spark.createDataFrame(rows, QUAD_SCHEMA).distinct()


def _template_quads(
    pipe,
    templates: list[tuple],
    sol: DataFrame,
    with_g,
    stage: str | None = None,
    pred_vars: frozenset = frozenset(),
    graph_scope_vars: frozenset = frozenset(),
) -> DataFrame:
    """Instantiate tagged quad templates against a solution frame ->
    lexical quad frame. Variable term kinds come from the hidden
    ``__kind_/__lang_/__dt_`` metadata columns the WHERE compile carried
    (every template variable is registered in ``meta_vars``); rows with
    an unbound template variable are skipped (§3.1.3), as are rows that
    would form an RDF-invalid triple (literal subject, non-IRI
    predicate).

    ``("bnode", label)`` template terms (INSERT only — ``stage`` is the
    update stage name) mint one fresh bnode per (label, solution): the
    per-solution id is a fingerprint hash of every solution column plus
    a duplicate-rank row_number PARTITIONED BY that fingerprint, so the
    window never needs a global sort and duplicate solutions (a WHERE is
    a multiset) still get distinct bnodes, while the minted id SET stays
    a pure function of (stage, solution multiset) — retry-stable."""
    cols = set(sol.columns)
    need_bnodes = any(
        kind == "bnode" for quad in templates for (kind, _) in quad[:3]
    )
    if need_bnodes:
        from pyspark.sql import Window

        if stage is None:
            raise SparqlSyntaxError("blank node in DELETE quads (spec-forbidden)")
        fp = (
            F.xxhash64(*[F.col(c) for c in sorted(cols)])
            if cols else F.lit(0).cast("bigint")
        )
        rank = F.row_number().over(
            Window.partitionBy(fp).orderBy(F.lit(1))
        )
        sol = sol.withColumn(
            "__solid", F.concat_ws("_", fp.cast("string"), rank.cast("string"))
        )

    def bnode_cols(label):
        lex = F.concat(
            F.lit("b"),
            F.xxhash64(F.lit(stage), F.lit(label), F.col("__solid")).cast("string"),
        )
        null = F.lit(None).cast("string")
        return F.lit("bnode"), lex, null, null

    def term_cols(t, pos):
        kind, val = t
        if kind == "bnode":
            return bnode_cols(val)
        if kind == "iri":
            return (F.lit("iri"), F.lit(val), F.lit(None).cast("string"),
                    F.lit(None).cast("string"))
        if kind == "literal":
            lit = val
            dt = lit.datatype if lit.lang is None else None
            return (F.lit("literal"), F.lit(lit.lex),
                    F.lit(lit.lang).cast("string"), F.lit(dt).cast("string"))
        n = val[1:]
        if n not in cols:
            # unbound everywhere: NULL per solution, rows filtered below
            null = F.lit(None).cast("string")
            return null, null, null, null
        if META_KIND + n in cols:
            kc = F.col(META_KIND + n)
            lang_raw = F.col(META_LANG + n)
            lang = F.when(
                (kc == "literal") & lang_raw.isNotNull() & (lang_raw != ""),
                lang_raw,
            )
            dt = F.when(
                (kc == "literal") & ((lang_raw == "") | lang_raw.isNull()),
                F.col(META_DT + n),
            )
            return kc, F.col(n), lang, dt
        if val in pred_vars:
            # a var bound in PREDICATE POSITION of a WHERE pattern is an
            # IRI by construction (in any template position); a
            # BIND/VALUES-bound var is NOT — the raise below keeps
            # arbitrary literal text out of the predicates dictionary
            null = F.lit(None).cast("string")
            return F.lit("iri"), F.col(n), null, null
        raise SparqlUnsupported(
            f"update template variable {val} has no statically-tracked "
            "term kind (bound only by BIND/VALUES/paths?)"
        )

    def graph_cols(g):
        """-> (g_iri column, g_kind column). A variable graph instantiates
        per solution: graph-SCOPE-bound variables carry no hidden metadata
        but are IRIs by construction (the graphs dictionary holds IRIs
        only, and predicate-position bindings likewise); term-position-
        bound variables use their tracked kind so a literal binding skips
        the row (RDF-invalid graph name). A variable bound only by
        BIND/VALUES has NO statically-tracked kind — mirroring the
        term-position contract, that raises the named error instead of
        silently storing arbitrary text as a graph name (ADVICE r5)."""
        if isinstance(g, str) and g.startswith("?"):
            n = g[1:]
            if n not in cols:
                null = F.lit(None).cast("string")
                return null, null
            if META_KIND + n in cols:
                return F.col(n), F.col(META_KIND + n)
            if g in graph_scope_vars or g in pred_vars:
                return F.col(n), F.lit("iri")
            raise SparqlUnsupported(
                f"update template graph variable {g} has no statically-"
                "tracked term kind (bound only by BIND/VALUES?)"
            )
        return F.lit(g or with_g or pipe.default_graph), F.lit("iri")

    pieces = []
    for s, p, o, g in templates:
        sk, sl, _, _ = term_cols(s, "s")
        pk, pl, _, _ = term_cols(p, "p")
        ok, ol, olang, odt = term_cols(o, "o")
        gl, gk = graph_cols(g)
        row = sol.select(
            sk.alias("s_kind"),
            sl.alias("s"),
            pl.alias("p"),
            ok.alias("o_kind"),
            ol.alias("o_lex"),
            olang.alias("o_lang"),
            odt.alias("o_datatype"),
            gl.alias("g_iri"),
            pk.alias("__pk"),
            gk.alias("__gk"),
        ).where(
            F.col("s").isNotNull()
            & F.col("p").isNotNull()
            & F.col("o_lex").isNotNull()
            & F.col("g_iri").isNotNull()
            & (F.col("s_kind") != "literal")
            & (F.col("__pk") == "iri")
            & (F.col("__gk") == "iri")
        ).drop("__pk", "__gk")
        pieces.append(row)
    out = pieces[0]
    for p_ in pieces[1:]:
        out = out.unionByName(p_)
    return out.distinct()


def _template_vars(templates) -> set:
    term_vars = {val for quad in templates for (kind, val) in quad[:3] if kind == "var"}
    graph_vars = {
        quad[3] for quad in templates
        if isinstance(quad[3], str) and quad[3].startswith("?")
    }
    return term_vars | graph_vars


# -- application -------------------------------------------------------------


def _qkeyed(df: DataFrame) -> DataFrame:
    return df.withColumns({
        "__kl": F.coalesce(F.col("o_lang"), F.lit(_SENT)),
        "__kd": F.coalesce(F.col("o_datatype"), F.lit(_SENT)),
        "__kg": F.coalesce(F.col("g_iri"), F.lit(_SENT)),
    })


_QKEYS = ["s_kind", "s", "p", "o_kind", "o_lex", "__kl", "__kd", "__kg"]


def _minus_quads(base: DataFrame, deletes: DataFrame) -> DataFrame:
    """base \\ deletes under null-safe 8-key quad identity."""
    dk = _qkeyed(deletes).select(*_QKEYS).distinct()
    return (
        _qkeyed(base).join(dk, _QKEYS, "left_anti").drop("__kl", "__kd", "__kg")
    )


def _map_graph_domain(pm) -> tuple | None:
    """Static graph domain of one predicate map from the stage-O layout:
    ``("null",)`` when its rows carry no graph id (decodes to NULL g_iri),
    ``("const", id)`` when the graph column is virtual (single-graph table
    — the common case at real-KG scale), ``None`` when physical (scalar
    multi-graph or graph_set: unknown without a scan).

    The ``("null",)`` state is defensive: no supported flow produces it
    (the loader fills graph-less triples with the default-graph IRI and
    every update quad frame filters NULL g_iri), so the classifier only
    needs to be CONSERVATIVE about it — CLEAR DEFAULT treats such rows
    as default-graph members (rebuilds), graph-targeted ops as
    non-members (NULL never equals a target IRI), matching the keep
    predicates they prune for."""
    g = pm.graph_column
    if g is None:
        return ("null",)
    if not g.physical:
        if g.virtual_value is None:
            return ("null",)
        return ("const", int(g.virtual_value))
    return None


def _clear_may_affect(table, mode: tuple, ids: dict) -> bool:
    """May ANY row of ``table`` fail the clear's keep predicate? False
    only when every predicate map's static graph domain PROVES all its
    rows survive — those tables skip the rebuild entirely (a CLEAR GRAPH
    of one small graph must not rewrite a 100 TB KG). Physical graph
    columns stay conservative. ``ids`` maps the clear's target / default
    IRIs to dictionary ids (None = never seen as a graph, so no stored
    constant can match)."""
    for pm in table.predicates:
        dom = _map_graph_domain(pm)
        if dom is None:
            return True
        if mode[0] in ("graph", "graphs"):
            # keep = g_iri IS NULL OR g_iri not in targets
            if dom[0] == "const" and dom[1] in ids["targets"]:
                return True
        elif mode[0] == "default":
            # keep = g_iri IS NOT NULL AND g_iri != default
            if dom[0] == "null":
                return True
            if ids["default"] is not None and dom[1] == ids["default"]:
                return True
        else:  # named: keep = g_iri IS NULL OR g_iri == default
            if dom[0] == "const" and (
                ids["default"] is None or dom[1] != ids["default"]
            ):
                return True
    return False


def _clear_graph_ids(pipe, dicts, mode: tuple) -> dict:
    """Resolve the few graph IRIs a clear's static test needs to
    dictionary ids — one tiny isin scan of the graphs dictionary. A
    target IRI the dictionary has never seen resolves to nothing (no
    stored constant can match it)."""
    targets = (
        (mode[1],) if mode[0] == "graph"
        else tuple(mode[1]) if mode[0] == "graphs"
        else ()
    )
    want = {pipe.default_graph, *targets}
    rows = (
        dicts["graphs"].where(F.col("iri").isin([w for w in want if w])).collect()
    )
    by_iri = {r.iri: r.id for r in rows}
    return {
        "default": by_iri.get(pipe.default_graph),
        "targets": {by_iri[t] for t in targets if t in by_iri},
    }


def _tri_with_graph_iri(pipe, tables, reader, dicts) -> DataFrame:
    """Reconstructed triples of ``tables`` with the graph id decoded back
    to its IRI (plain join — the graphs domain is unbounded; AQE
    broadcasts when small), in QUAD_SCHEMA column names."""
    cat = Catalog(tables=tables)
    tri = reconstruct_triples(cat, reader, dicts)
    g = dicts["graphs"].select(F.col("id").alias("g_id"), F.col("iri").alias("g_iri"))
    return tri.join(g, "g_id", "left").select(
        "s_kind", "s", "p", "o_kind", "o_lex", "o_lang", "o_datatype", "g_iri"
    )


def _extend_dict(spark, old: DataFrame, values: DataFrame, out_path: str) -> DataFrame:
    """Append unseen values to a dictionary with offset ids (ids only
    grow, existing assignments never change) and write the union."""
    new = (
        values.select(F.col("v").alias("iri"))
        .where(F.col("iri").isNotNull())
        .distinct()
        .join(old.select("iri"), "iri", "left_anti")
    )
    base = old.select("id", "iri")
    max_id = base.agg(F.max("id")).first()[0] or 0
    from pyspark.sql.window import Window

    # the unseen set is delta-sized (bounded by the update request /
    # its solution count), so a single-partition row_number is fine here
    added = new.select(
        (F.row_number().over(Window.orderBy("iri")) + F.lit(max_id)).alias("id"),
        "iri",
    )
    union = base.unionByName(added)
    union.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


def _quads_to_statements(quads: DataFrame, stage: str) -> DataFrame:
    """Lexical quad frame -> the router's statement schema: IRI parts
    decomposed in the SAME Arrow path stage E uses (the Catalyst 9-part
    expression tree exceeds janino's 64 KB codegen limit and OOMs in
    interpreted fallback — the documented engineering finding), bnode ids
    recovered from the ``b<id>`` lexical form, synthetic provenance
    (updates have no source file; ``file_id``/``line_no`` only feed the
    router's salt and must be deterministic)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StringType, StructField, StructType

    from ..functions.uri import decompose_arrow

    schema = StructType(
        quads.schema.fields
        + [StructField(f"{r}_{k}", StringType()) for r in ("s", "o") for k in PART_KEYS]
    )

    def gen(batches):
        null = pa.scalar(None, pa.string())
        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            for role, lex in (("s", "s"), ("o", "o_lex")):
                iri = pc.if_else(pc.equal(cols[f"{role}_kind"], "iri"), cols[lex], null)
                for k, v in decompose_arrow(iri).items():
                    cols[f"{role}_{k}"] = v
            yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))

    parts = quads.mapInArrow(gen, schema)
    return parts.select(
        F.col("s_kind"),
        F.col("o_kind"),
        F.col("p").alias("p_iri"),
        F.col("o_lex"),
        F.col("o_lang"),
        F.col("o_datatype"),
        F.col("g_iri"),
        *[F.col(f"s_{k}") for k in PART_KEYS],
        *[F.col(f"o_{k}") for k in PART_KEYS],
        F.when(
            F.col("s_kind") == "bnode",
            F.expr("cast(substring(s, 2) as bigint)"),
        ).alias("s_bnode_id"),
        F.when(
            F.col("o_kind") == "bnode",
            F.expr("cast(substring(o_lex, 2) as bigint)"),
        ).alias("o_bnode_id"),
        F.xxhash64(F.lit(stage)).alias("file_id"),
        F.xxhash64("s", "p", "o_lex", "g_iri").alias("line_no"),
    )


def _next_update_index(pipe) -> int:
    mx = 0
    root = pipe.io.root
    for d in os.listdir(root):
        m = re.fullmatch(r"U(\d+)", d)
        if m and pipe.io.is_committed(d):
            mx = max(mx, int(m.group(1)))
    return mx + 1


def apply_update(pipe, deletes, inserts, clear=None) -> str:
    """Apply one update operation: write stage ``U{k}`` with rebuilt /
    delta tables + extended dictionaries, catalog referencing everything
    else in place. ``deletes``/``inserts`` are lexical quad frames (may
    be None); ``clear`` is a keep-predicate config instead. Returns the
    new stage name."""
    from ..pipeline import _write_batched

    spark = pipe.spark
    prev = pipe.last_catalog_stage()
    k = _next_update_index(pipe)
    stage = f"U{k}"

    def fn(io):
        cat = Catalog.from_json(pipe.catalog(prev).to_json())
        reader = pipe.reader(prev)
        dicts = pipe.dicts(prev)

        if clear is not None and clear.get("all"):
            cat.tables = []
            io.write_catalog(stage, cat)
            return {"tables": 0, "rows": 0, "op": "clear_all"}

        del_preds: set = set()
        if deletes is not None:
            del_preds = {r.p for r in deletes.select("p").distinct().collect()}
        if clear is not None:
            # static exclusion: a table whose every predicate map carries a
            # provable graph domain (stage-O virtual constants / no graph
            # column) that cannot fail the keep predicate is referenced in
            # place — CLEAR GRAPH of one graph never rewrites the whole KG
            ids = _clear_graph_ids(pipe, dicts, clear["mode"])
            affected = [
                t for t in cat.tables
                if _clear_may_affect(t, clear["mode"], ids)
            ]
        else:
            affected = [
                t for t in cat.tables
                if any(pm.predicate in del_preds for pm in t.predicates)
            ]
        ins_preds: set = set()
        if inserts is not None:
            ins_preds = {r.p for r in inserts.select("p").distinct().collect()}

        # -- surviving triples of rebuilt tables ------------------------
        keep = None
        if affected:
            base = _tri_with_graph_iri(pipe, affected, reader, dicts)
            if clear is not None:
                keep = base.where(clear["keep"])
            else:
                keep = _minus_quads(base, deletes)

        # -- inserts minus post-delete current state --------------------
        ins_new = None
        if inserts is not None:
            affected_names = {t.name for t in affected}
            ins_only = [
                t for t in cat.tables
                if t.name not in affected_names
                and any(pm.predicate in ins_preds for pm in t.predicates)
            ]
            current = keep
            if ins_only:
                other = _tri_with_graph_iri(pipe, ins_only, reader, dicts)
                current = other if current is None else current.unionByName(other)
            ins_new = (
                _minus_quads(inserts, current) if current is not None else inserts
            )

        new_stmts = keep
        if ins_new is not None:
            new_stmts = ins_new if new_stmts is None else new_stmts.unionByName(ins_new)
        if new_stmts is None:
            io.write_catalog(stage, cat)
            return {"tables": len(cat.tables), "rows": 0, "op": "noop"}
        new_stmts = new_stmts.persist()
        try:
            # -- extend dictionaries (domains only grow) ----------------
            os.makedirs(io.path(stage, "dicts"), exist_ok=True)
            graphs = _extend_dict(
                spark, dicts["graphs"],
                new_stmts.select(F.col("g_iri").alias("v")),
                io.path(stage, "dicts", "graphs"),
            )
            cat.dictionaries = dict(cat.dictionaries)
            cat.dictionaries["graphs"] = f"{stage}/dicts/graphs"
            if "predicates" in dicts:
                _extend_dict(
                    spark, dicts["predicates"],
                    new_stmts.select(F.col("p").alias("v")),
                    io.path(stage, "dicts", "predicates"),
                )
                cat.dictionaries["predicates"] = f"{stage}/dicts/predicates"

            # -- route into fresh V-layout tables -----------------------
            keys = sorted(
                {
                    (r.p, r.s_kind, r.o_kind, r.o_lang, r.o_datatype)
                    for r in new_stmts.select(
                        "p", "s_kind", "o_kind", "o_lang", "o_datatype"
                    ).distinct().collect()
                },
                key=lambda t: tuple("" if x is None else x for x in t),
            )
            delta = vertical.build_catalog(keys, cat.namespaces, cat.default_graph)
            for t in delta.tables:
                t.name = f"u{k}_{t.name}"
            stmts = _quads_to_statements(new_stmts, stage)
            routed = vertical.route_statements(spark, stmts, delta, graphs).persist()
            try:
                pairs = [
                    (t, vertical.rename_generic(routed.where(F.col("t") == t.name), t))
                    for t in delta.tables
                ]
                counts = _write_batched(
                    spark, pairs, io.path(stage, "tables"), f"{stage}/tables"
                )
            finally:
                routed.unpersist()
            for t in delta.tables:
                t.row_count = counts.get(t.name, 0)
            delta.tables = [t for t in delta.tables if t.row_count]

            affected_names = {t.name for t in affected}
            cat.tables = [
                t for t in cat.tables if t.name not in affected_names
            ] + delta.tables
            io.write_catalog(stage, cat)
            return {
                "tables": len(cat.tables),
                "rows": sum(t.row_count or 0 for t in delta.tables),
                "rebuilt": len(affected),
            }
        finally:
            new_stmts.unpersist()

    # the delete/insert frames are read several times (predicate-set
    # collect, the keep anti-join / set-semantics anti-join, routing) and
    # may sit on an expensive WHERE plan — compute that plan once
    cached = [d for d in (deletes, inserts) if d is not None]
    for d in cached:
        d.persist()
    try:
        pipe.runner.run(stage, fn)
    finally:
        for d in cached:
            d.unpersist()
    return stage


# -- driver ------------------------------------------------------------------


class SparqlUpdateError(ValueError):
    """A spec-defined update failure (e.g. CREATE of an existing graph)."""


def _graph_quads(pipe, g_iri: str) -> DataFrame:
    """All triples of one named graph (or the default graph's IRI) as a
    lexical quad frame — the source side of ADD/COPY/MOVE. Tables whose
    static graph domain (stage-O virtual constants) proves they cannot
    hold the graph are pruned before reconstruction, so copying a small
    graph never scans the whole KG."""
    stage = pipe.last_catalog_stage()
    cat = pipe.catalog(stage)
    dicts = pipe.dicts(stage)
    ids = _clear_graph_ids(pipe, dicts, ("graph", g_iri))
    tables = [
        t for t in cat.tables if _clear_may_affect(t, ("graph", g_iri), ids)
    ]
    if not tables:
        return pipe.spark.createDataFrame([], QUAD_SCHEMA)
    tri = _tri_with_graph_iri(pipe, tables, pipe.reader(stage), dicts)
    return tri.where(F.col("g_iri") == g_iri)


def _graph_nonempty(pipe, g_iri: str) -> bool:
    """Does the graph hold >= 1 triple NOW? The graphs dictionary is the
    cheap necessary condition (an IRI never seen as a graph cannot have
    triples — no scan); only a dictionary hit pays the limit(1) probe.
    Guards CLEAR/COPY/MOVE from rebuilding the whole catalog to clear a
    graph that is already empty."""
    dicts = pipe.dicts(pipe.last_catalog_stage())
    g = dicts.get("graphs")
    if g is not None and not g.where(F.col("iri") == g_iri).limit(1).count():
        return False
    return bool(_graph_quads(pipe, g_iri).limit(1).count())


def _file_iri_path(iri: str) -> str | None:
    """``file:`` IRI -> local path (RFC 8089 forms: ``file:///p``,
    ``file:/p``, ``file:p``); None for any other scheme. Percent-escapes
    are decoded (ADVICE r5: a spec-legal ``<file:///tmp/my%20file.nt>``
    must resolve to the actual path, not a literal ``%20``)."""
    from urllib.parse import unquote

    if iri.startswith("file://"):
        rest = iri[len("file://"):]
        # file://host/p is out of scope; accept only an empty authority
        return unquote(rest) if rest.startswith("/") else None
    if iri.startswith("file:"):
        return unquote(iri[len("file:"):])
    return None


def _load_op(pipe, op: dict) -> str:
    """LOAD [SILENT] <file:...> [INTO GRAPH <g>]: parse the document
    through the engine's own source machinery (decompression + syntax by
    extension + the vectorized parsers — files.read_rdf_files/
    extract.parse_statements) and insert the triples with RDF set
    semantics via the same delta path as INSERT. INTO GRAPH overrides the
    document's graphs (a LOADed document is a graph, §3.1.4); without it,
    quad syntaxes keep their graphs and triples land in the default
    graph. SILENT turns every load failure (bad scheme, missing file,
    undecodable bytes, parse errors) into the spec's success no-op."""
    from ..operators.extract import parse_statements
    from ..sources.files import read_rdf_files

    last = pipe.last_catalog_stage()
    silent = op["silent"]
    path = _file_iri_path(op["src"])
    if path is None:
        if silent:
            return last
        raise SparqlUnsupported(
            f"LOAD <{op['src']}> (no network IO; file: IRIs only)"
        )
    if not os.path.isfile(path):
        if silent:
            return last
        raise SparqlUpdateError(f"LOAD <{op['src']}>: no such file")
    src = read_rdf_files(pipe.spark, path)
    raw = parse_statements(
        src.where(F.col("decode_error").isNull()), pipe.default_graph
    ).persist()
    try:
        failed = bool(
            src.where(F.col("decode_error").isNotNull()).limit(1).count()
            or raw.where(F.col("parse_error").isNotNull()).limit(1).count()
        )
        if failed and not silent:
            raise SparqlUpdateError(
                f"LOAD <{op['src']}>: undecodable or unparsable content"
            )
        good = raw.where(F.col("parse_error").isNull())
        # bnode labels -> the quad frame's b<id> lexical form, minted the
        # same way stage E does (xxhash64(file_sha256, label)) so
        # re-LOADing identical content is idempotent under the insert
        # path's anti-join
        def lex(kind_col, lex_col):
            return F.when(
                F.col(kind_col) == "bnode",
                F.concat(
                    F.lit("b"),
                    F.xxhash64(F.col("file_sha256"), F.col(lex_col)).cast("string"),
                ),
            ).otherwise(F.col(lex_col))

        quads = good.select(
            F.col("s_kind"),
            lex("s_kind", "s_lex").alias("s"),
            F.col("p_iri").alias("p"),
            F.col("o_kind"),
            lex("o_kind", "o_lex").alias("o_lex"),
            F.col("o_lang"),
            F.col("o_datatype"),
            (F.lit(op["into"]) if op["into"] else F.col("g_iri")).alias("g_iri"),
        ).distinct()  # an RDF document is a SET: a repeated line is one triple
        return apply_update(pipe, None, quads)
    finally:
        raw.unpersist()


def sparql_update(pipe, text: str) -> list[str]:
    """Run a textual SPARQL 1.1 Update request; each operation commits
    one ``U{k}`` stage (atomic per operation — a failed op leaves the
    previous stage current). Returns the new stage names."""
    ops = parse_update(text)
    stages = []
    for op in ops:
        stages.append(_run_op(pipe, op))
    return stages


def _run_op(pipe, op: dict) -> str:
    if op["op"] == "clear":
        tgt = op["target"]
        dg = pipe.default_graph
        if tgt == "ALL":
            return apply_update(pipe, None, None, clear={"all": True})
        if tgt == "DEFAULT":
            keep = F.col("g_iri").isNotNull() & (F.col("g_iri") != dg)
            mode = ("default",)
        elif tgt == "NAMED":
            keep = F.col("g_iri").isNull() | (F.col("g_iri") == dg)
            mode = ("named",)
        else:
            if not _graph_nonempty(pipe, tgt):
                return pipe.last_catalog_stage()  # already empty: no-op
            keep = F.col("g_iri").isNull() | (F.col("g_iri") != tgt)
            mode = ("graph", tgt)
        return apply_update(pipe, None, None, clear={"keep": keep, "mode": mode})
    if op["op"] == "create":
        # graphs exist implicitly: CREATE is a no-op, but creating an
        # EXISTING (non-empty) graph is the spec's error unless SILENT
        if not op["silent"] and _graph_nonempty(pipe, op["target"]):
            raise SparqlUpdateError(
                f"CREATE GRAPH <{op['target']}>: graph already exists"
            )
        return pipe.last_catalog_stage()
    if op["op"] in ("add", "copy", "move"):
        # §3.2.5-3.2.7 over our default-graph convention (the loader
        # fills graph-less triples with pipe.default_graph). ONE atomic
        # stage per operation: the destination drop (COPY/MOVE), the
        # retargeted source insert, and the source drop (MOVE) all commit
        # together — a failure mid-operation leaves the pre-operation
        # catalog current, never a half-applied state (both the clear's
        # keep filter and the insert quads read the same immutable
        # previous snapshot).
        dg = pipe.default_graph
        src = op["src"] or dg
        dst = op["dst"] or dg
        if src == dst:
            return pipe.last_catalog_stage()  # spec: same-graph is a no-op
        drop = []
        if op["op"] in ("copy", "move") and _graph_nonempty(pipe, dst):
            drop.append(dst)  # dst := src (skipped when already empty)
        src_nonempty = _graph_nonempty(pipe, src)
        if op["op"] == "move" and src_nonempty:
            drop.append(src)
        quads = (
            _graph_quads(pipe, src).withColumn("g_iri", F.lit(dst))
            if src_nonempty else None
        )
        if not drop and quads is None:
            return pipe.last_catalog_stage()  # both sides empty: no-op
        clear = None
        if drop:
            cond = F.col("g_iri") != drop[0]
            for g in drop[1:]:
                cond = cond & (F.col("g_iri") != g)
            clear = {
                "keep": F.col("g_iri").isNull() | cond,
                "mode": ("graphs", tuple(drop)),
            }
        return apply_update(pipe, None, quads, clear=clear)
    if op["op"] == "load":
        return _load_op(pipe, op)
    if op["op"] == "insert_data":
        k = _next_update_index(pipe)
        return apply_update(pipe, None, _data_quads(pipe, op["quads"], f"U{k}"))
    if op["op"] == "delete_data":
        k = _next_update_index(pipe)
        return apply_update(pipe, _data_quads(pipe, op["quads"], f"U{k}"), None)
    # modify
    tmpl_vars = set()
    if op["delete"]:
        tmpl_vars |= _template_vars(op["delete"])
    if op["insert"]:
        tmpl_vars |= _template_vars(op["insert"])
    # a template variable bound by a PROPERTY PATH has no tracked term
    # kind (closures carry NULL metadata — plans/sparql.py path_meta), so
    # instantiation would silently drop every row instead of erroring:
    # reject it by name, as the module contract promises
    from .sparql_text import _group_patterns_text

    path_vars, pred_vars, graph_scope_vars = set(), set(), set()
    for pat in _group_patterns_text(op["where"]):
        if len(pat) < 3:
            continue
        if not isinstance(pat[1], str):
            path_vars |= {
                x for x in (pat[0], pat[2])
                if isinstance(x, str) and x.startswith("?")
            }
    # the IRI-by-construction grants come from the REQUIRED part only
    # (top-level patterns; GRAPH blocks fold their scoped patterns in
    # there): a variable predicate-bound in one UNION branch can be
    # BIND-bound to a literal in another, and the blanket grant would let
    # that literal into the predicates dictionary — exactly what the
    # named-error guard exists to block (ADVICE r5). Required-part
    # bindings hold in EVERY solution, so the grant is sound there.
    for pat in op["where"].get("patterns") or []:
        if len(pat) >= 3 and isinstance(pat[1], str) and pat[1].startswith("?"):
            # bound in predicate position: an IRI by construction
            pred_vars.add(pat[1])
        if (
            len(pat) == 4
            and isinstance(pat[3], str)
            and pat[3].startswith("?")
        ):
            # bound in graph-scope position: the graphs dictionary holds
            # IRIs only
            graph_scope_vars.add(pat[3])
    bad = sorted(tmpl_vars & path_vars)
    if bad:
        raise SparqlUnsupported(
            f"update template variable(s) {', '.join(bad)} bound by a "
            "property path (term kind is not tracked through closures)"
        )
    q = {
        "form": "update",
        "where": op["where"],
        "graph": op["with"],
        "named": None,
        "meta_vars": set(tmpl_vars),  # "?x" form, as the query parser records
    }
    if op.get("using") is not None:
        # §3.1.3.3: the USING clauses ARE the WHERE dataset (WITH is
        # ignored for WHERE but still names the templates' target graph).
        # Encoding mirrors the query parser's FROM/FROM NAMED slots: a
        # lone USING leaves GRAPH blocks an empty named set; a lone
        # USING NAMED leaves the default graph empty (graph None + named
        # non-None -> () in _dataset).
        froms, named = op["using"]
        q["graph"] = (froms[0] if len(froms) == 1 else tuple(froms)) if froms else None
        q["named"] = named
    # persist the SHARED solution frame: with both templates present the
    # (possibly expensive) WHERE plan would otherwise execute once per
    # template materialization — the per-frame persists in apply_update
    # cache each derived frame, not this common subtree
    sol = _where_solutions(pipe, q, None, keep_meta=True).persist()
    try:
        # the stage index is fixed BEFORE minting so template bnode ids
        # are a pure function of (stage, solutions) — apply_update
        # recomputes the same k (nothing commits in between), keeping
        # retries identical
        k = _next_update_index(pipe)
        deletes = (
            _template_quads(
                pipe, op["delete"], sol, op["with"],
                pred_vars=frozenset(pred_vars),
                graph_scope_vars=frozenset(graph_scope_vars),
            )
            if op["delete"] else None
        )
        inserts = (
            _template_quads(
                pipe, op["insert"], sol, op["with"], stage=f"U{k}",
                pred_vars=frozenset(pred_vars),
                graph_scope_vars=frozenset(graph_scope_vars),
            )
            if op["insert"] else None
        )
        return apply_update(pipe, deletes, inserts)
    finally:
        sol.unpersist()
