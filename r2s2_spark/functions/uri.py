"""IRI <-> 9-part column decomposition, as pure Catalyst expressions.

Replicates the reference's java.net.URI-based storage encoding
(LoadIntoTable.java:318-351) and its R2RML template reassembly
(R2RMLFromTables.java:139-217):

- parts: scheme, scheme_specific_part, authority, user_info, host, port,
  path, query, fragment (all strings at ingest; narrowing happens later).
- exclusivity rule (LoadIntoTable.java:328-334): when host is non-null the
  ssp/authority columns are NULL; when host is null only scheme/ssp/
  authority(/fragment) are populated (opaque URIs like mailto:, urn:).
- reassembly: scheme ':' [ssp] ['//' [userinfo '@'] host [':' port]] [path]
  ['?' query] ['#' fragment].

:func:`decompose_iri` stays inside whole-stage codegen — no Python
boundary — and serves the SQL-side operators and oracles;
:func:`decompose_arrow` is its twin on Arrow kernels for the Python
batches (stage E's parse, SPARQL update's statement frames), where a
Catalyst projection of both terms' parts would pass janino's 64 KB
method limit. Their agreement is asserted in tests/test_extract.py.

Every regex is dot-all and anchors on the end of the text, so an IRI
holding a line terminator decomposes and reassembles to itself.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

#: canonical order, matching naming.IRI_PART_SUFFIXES
PART_KEYS = (
    "scheme",
    "ssp",
    "authority",
    "user_info",
    "host",
    "port",
    "path",
    "query",
    "fragment",
)


def _nullif_empty(c: Column) -> Column:
    return F.when(c != "", c)


def decompose_iri(iri: Column) -> dict[str, Column]:
    """Split an absolute IRI string column into the 9 reference parts.

    Returns ``{part_key: Column}`` in :data:`PART_KEYS` order. NULL iri ->
    all parts NULL (used for non-IRI rows in a mixed statement frame).

    Every intermediate here is a SHORT chain over the base ``iri``
    attribute (2-4 linear string/regex ops), never a reference to another
    intermediate's ``when`` tree. Column expressions inline every
    reference, so the previous level-chained form (after_scheme built
    from scheme, authority from after_scheme, host from authority, and a
    final ``has_host`` guard referencing host in six outputs) expanded to
    an exponentially duplicated tree — and past the 64KB codegen method
    limit the interpreted fallback really evaluated every copy:
    thousands of regex executions per row (f1_url_decompose 26.3 s noop
    for 15k rows at sf0.1; this form: sub-second). Identities used, all
    parity-tested against the Arrow twin on the edge corpus + fuzz:
    - the first '#' of the iri is the fragment split (scheme and ssp
      cannot contain '#'), so ``substring_index(iri, '#', 1)`` is the
      fragment-free body without knowing the scheme;
    - the scheme prefix regex is anchored and '#'-free, so stripping it
      from the body equals stripping it after the fragment split;
    - ``substring_index(s, '@', -1)`` returns ``s`` unchanged when there
      is no '@' — the has_at branch collapses;
    - the authority cannot contain '/', '?' or '#', so the FIRST '?' of a
      hierarchical ssp lies after the authority, and path/query regexes
      can anchor over ssp directly.
    """
    scheme = _nullif_empty(F.regexp_extract(iri, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))
    has_fragment = F.instr(iri, "#") > 0
    fragment = F.when(has_fragment, F.regexp_extract(iri, r"(?s)#(.*)", 1))
    # body (iri minus fragment) minus the scheme prefix; anchored regex,
    # single possible match
    ssp = F.regexp_replace(
        F.substring_index(iri, "#", 1), r"^[A-Za-z][A-Za-z0-9+.\-]*:", ""
    )

    hierarchical = ssp.startswith("//")
    authority_raw = F.regexp_extract(ssp, r"^//([^/?#]*)", 1)
    path_h = F.regexp_extract(ssp, r"^//[^/?#]*([^?]*)", 1)
    query = F.when(
        hierarchical & (F.instr(ssp, "?") > 0),
        F.regexp_extract(ssp, r"(?s)\?(.*)", 1),
    )
    has_at = F.instr(authority_raw, "@") > 0
    # greedy: everything before the LAST '@' (matches the Arrow twin)
    user_info = F.when(
        hierarchical & has_at, F.regexp_extract(authority_raw, r"(?s)^(.*)@", 1)
    )
    hostport = F.substring_index(authority_raw, "@", -1)
    # \z, not $: Java's $ also matches before a final line terminator
    port = _nullif_empty(F.regexp_extract(hostport, r":([0-9]+)\z", 1))
    host = F.when(hierarchical, _nullif_empty(F.regexp_replace(hostport, r":[0-9]+\z", "")))

    # exclusivity rule: host non-null -> ssp/authority NULL; host null ->
    # only ssp/authority carry the information (plus fragment).
    # host.isNotNull() would re-inline the whole host chain per guarded
    # output; this is the same predicate over the cheaper pieces.
    has_host = hierarchical & (F.regexp_replace(hostport, r":[0-9]+\z", "") != "")
    out = {
        "scheme": scheme,
        "ssp": F.when(~has_host, ssp),
        "authority": F.when(~has_host & hierarchical, _nullif_empty(authority_raw)),
        "user_info": F.when(has_host, user_info),
        "port": F.when(has_host, port),
        "host": host,
        "path": F.when(has_host, path_h),
        "query": F.when(has_host, query),
        "fragment": fragment,
    }
    guarded = {k: F.when(iri.isNotNull(), v) for k, v in out.items()}
    return {k: guarded[k] for k in PART_KEYS}


_BIG = 2**30
_NULL_STR = pa.scalar(None, pa.string())
# Delimiters are captured WITH their groups ('scheme:', '#frag', '?query',
# 'user@', ':port'): RE2 reports a non-participating group as '', so an
# empty group always means "absent" and the marker is sliced off after.
_TOP_RE = r"(?s)^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*:)?(?P<ssp>[^#]*)(?P<fragment>#.*)?$"
_HIER_RE = r"(?s)^//(?P<authority>[^/?#]*)(?P<path>[^?]*)(?P<query>\?.*)?$"
_AUTH_RE = r"(?s)^(?P<user_info>.*@)?(?P<host>.*?)(?P<port>:[0-9]+)?$"


def decompose_arrow(iri: pa.Array) -> dict[str, pa.Array]:
    """Arrow twin of :func:`decompose_iri`: IRI strings -> ``{part_key:
    array}`` in :data:`PART_KEYS` order; a NULL iri gives NULL parts.

    IRIs repeat heavily (predicates, classes, hot entities), so the part
    regexes run over the dictionary of distinct values and ``take`` back.
    """
    de = pc.dictionary_encode(iri)
    u, idx = de.dictionary, de.indices

    top = pc.extract_regex(u, _TOP_RE)
    ssp = pc.struct_field(top, "ssp")
    hier = pc.extract_regex(ssp, _HIER_RE)
    auth_g = pc.struct_field(hier, "authority")
    auth = pc.extract_regex(auth_g, _AUTH_RE)
    host_g = pc.struct_field(auth, "host")

    def present(g):
        return pc.fill_null(pc.not_equal(g, ""), False)

    def where(cond, val):
        return pc.if_else(cond, val, _NULL_STR)

    def marked(cond, g, start, stop=_BIG):
        return where(pc.and_(cond, present(g)), pc.utf8_slice_codeunits(g, start, stop))

    # host presence decides the hierarchical-vs-opaque split
    has_host = present(host_g)
    not_host = pc.invert(has_host)
    parts = {
        "scheme": marked(True, pc.struct_field(top, "scheme"), 0, -1),
        "ssp": where(not_host, ssp),
        "authority": where(pc.and_(not_host, present(auth_g)), auth_g),
        # present-but-empty user_info ("http://@h/x") stays ''
        "user_info": marked(has_host, pc.struct_field(auth, "user_info"), 0, -1),
        "host": where(has_host, host_g),
        "port": marked(has_host, pc.struct_field(auth, "port"), 1),
        "path": where(has_host, pc.struct_field(hier, "path")),
        "query": marked(has_host, pc.struct_field(hier, "query"), 1),
        "fragment": marked(True, pc.struct_field(top, "fragment"), 1),
    }
    return {k: pc.take(parts[k], idx) for k in PART_KEYS}


def reassemble_iri(parts: dict[str, Column]) -> Column:
    """Inverse of :func:`decompose_iri` — the R2RML subject/object template
    (R2RMLFromTables.java:156-217) as one concat expression."""

    def opt(prefix: str, c: Column) -> Column:
        return F.coalesce(F.when(c.isNotNull(), F.concat(F.lit(prefix), c)), F.lit(""))

    scheme = parts["scheme"]
    host_block = F.when(
        parts["host"].isNotNull(),
        F.concat(
            F.lit("//"),
            F.coalesce(
                F.when(
                    parts["user_info"].isNotNull(),
                    F.concat(parts["user_info"], F.lit("@")),
                ),
                F.lit(""),
            ),
            parts["host"],
            opt(":", parts["port"]),
            F.coalesce(parts["path"], F.lit("")),
            opt("?", parts["query"]),
        ),
    ).otherwise(F.coalesce(parts["ssp"], F.lit("")))
    out = F.concat(
        F.coalesce(scheme, F.lit("")),
        F.when(scheme.isNotNull(), F.lit(":")).otherwise(F.lit("")),
        host_block,
        opt("#", parts["fragment"]),
    )
    # a row with no parts at all reassembles to NULL, not ''
    any_part = F.coalesce(*[parts[k] for k in PART_KEYS if k in parts])
    return F.when(any_part.isNotNull(), out)
