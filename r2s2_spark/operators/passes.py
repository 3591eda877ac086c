"""Stage O — physical-design rewrite passes over the vertical tables.

Reference counterparts (reference pass order, OptimizeForR2RML.java:26-49):

  1. RdfTypeSplitting            (RdfTypeSplitting.java:36-130)
  2. IntroduceVirtualColumns     (IntroduceVirtualColumns.java:21-76)
  3. OptimizeForDatatype         (OptimizeForDatatype.java:52-147)
  4. OptimizeForLongestCommonSubstring (OptimizeForLCS.java:23-100)
  5. ReintroduceRdfSetSemantics  (ReintroduceRdfSetSemantics.java:25-141)
  plus scheme/host dictionary encoding (IntroduceIriSchemeEnum.java:27-72,
  IntroduceHostEnums.java:27-71 — object columns only, like the reference).

Spark-first fusion: the reference issues one probe query + one ALTER/UPDATE
per column per pass (6 table rewrites). Here each table gets exactly
  ONE aggregation job   (all probes: count/min/max/cast-guards per column)
  ONE rewrite job       (drop-virtual + cast + prefix-strip + dict-encode +
                         set-semantics collapse + clustering sort + write)
which is the plan you want when a single table is terabytes.

Semantic deviations from the reference (deliberate, documented):
- int narrowing requires *every* row canonical (len-preserving round-trip),
  not DuckDB's EXISTS-then-try-ALTER, which silently strips leading zeros
  on mixed data (lossy).
- the last remaining physical column is never virtualized; the reference
  DELETEs all rows in that case (IntroduceVirtualColumns.java:63-72),
  losing the statements entirely.
- rdf:type splitting keys on the class value only, not class+graph
  (the reference's DISTINCT includes the graph column and collides table
  names when one class spans graphs, RdfTypeSplitting.java:60-69).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import naming
from ..functions.uri import PART_KEYS
from ..naming import RDF_TYPE, XSD
from ..plans.catalog import Catalog, ColumnSpec, TableSpec
from .dictionaries import UNBOUNDED_DICTS, build_dictionary

INT_MAX = 2147483647

#: target rows per shuffle task in the rdf:type split write — classes
#: above this get a count-derived salt (capped 32) so the Zipf-head
#: class never rides one straggler task
SPLIT_ROWS_PER_TASK = 2_000_000


# --------------------------------------------------------------------------
# 1. rdf:type splitting ("class cracking")
# --------------------------------------------------------------------------


def split_type_tables(
    spark: SparkSession,
    catalog: Catalog,
    v_data_path: str,
    out_dir: str,
) -> tuple[Catalog, dict[str, str]]:
    """Split each (iri,iri) rdf:type table into one table per class value.

    One partitionBy write per parent (not one INSERT per class like the
    reference). Returns the updated catalog and a map table_name ->
    parquet path for split children (others read from the V dataset).
    """
    paths: dict[str, str] = {}
    new_tables: list[TableSpec] = []
    used: set[str] = {t.name for t in catalog.tables}
    for t in catalog.tables:
        pm = t.predicates[0]
        if not (
            len(t.predicates) == 1 and pm.predicate == RDF_TYPE and pm.obj_kind == "iri"
        ):
            new_tables.append(t)
            continue
        df = spark.read.parquet(f"{v_data_path}/t={t.name}")
        o_cols = [f"o_{k}" for k in PART_KEYS]
        # one groupBy instead of a distinct: the per-class counts feed the
        # children's row_count (stage O's big/small batching split would
        # otherwise classify EVERY split child as small — a Zipf-head
        # class like foaf:Person would ride a fused batch job) and size
        # the write salt below
        classes = df.groupBy(*o_cols).count().collect()
        # class IRI (for the table name) reassembled in Python — same
        # template as functions.uri.reassemble_iri
        split_dir = os.path.join(out_dir, t.name)
        key = F.md5(F.concat_ws("\x00", *[F.coalesce(F.col(c), F.lit("\x01")) for c in o_cols]))

        def cls_md5(row) -> str:
            parts_key = "\x00".join(
                (row[f"o_{k}"] if row[f"o_{k}"] is not None else "\x01")
                for k in PART_KEYS
            )
            return hashlib.md5(parts_key.encode("utf-8")).hexdigest()

        # rdf:type class frequency is Zipfian: repartition("_cls") alone
        # puts the hottest class in ONE shuffle task (the skew stage V
        # salts (t, salt) to avoid). Salt each class by a count-derived
        # factor — 1 for small classes (no extra files), bounded for hot
        # ones — so no task exceeds ~SPLIT_ROWS_PER_TASK rows
        salt_df = spark.createDataFrame(
            [
                (
                    cls_md5(r),
                    max(1, min(32, -(-r["count"] // SPLIT_ROWS_PER_TASK))),
                )
                for r in classes
            ],
            "_cls string, _nsalt int",
        )
        (
            df.withColumn("_cls", key)
            .join(F.broadcast(salt_df), "_cls")
            .withColumn(
                "_salt",
                F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("_nsalt")),
            )
            .repartition("_cls", "_salt")
            .drop("_salt", "_nsalt")
            .write.mode("overwrite")
            .partitionBy("_cls")
            .parquet(split_dir)
        )
        for i, row in enumerate(
            # key on the class parts only (NOT the count) so the naming
            # fallback index is stable against count changes
            sorted(
                classes,
                key=lambda r: str(tuple(r[f"o_{k}"] for k in PART_KEYS)),
            )
        ):
            cls_iri = _reassemble_py({k: row[f"o_{k}"] for k in PART_KEYS})
            name = _type_table_name(cls_iri, catalog.namespaces, used, len(used))
            used.add(name)
            child = TableSpec(
                name=name,
                subject_kind=t.subject_kind,
                subject_columns=[replace(c) for c in t.subject_columns],
                predicates=[
                    replace(
                        pm,
                        columns=[replace(c) for c in pm.columns],
                        graph_column=replace(pm.graph_column),
                    )
                ],
                row_count=row["count"],
            )
            new_tables.append(child)
            paths[name] = f"{split_dir}/_cls={cls_md5(row)}"
    catalog.tables = new_tables
    return catalog, paths


def _reassemble_py(parts: dict[str, str | None]) -> str:
    """Python twin of functions.uri.reassemble_iri — every presence test
    is ``is not None`` (NOT truthiness) to match the Catalyst twin's
    isNotNull semantics exactly: an empty-but-present user_info/host
    (``http://@host/x``, ``file:///x``) must reassemble identically in
    both, else two distinct class IRIs could collide into one table
    name. Cross-checked by test_reassemble_py_matches_catalyst."""
    out = ""
    if parts["scheme"] is not None:
        out += parts["scheme"] + ":"
    if parts["host"] is not None:
        out += "//"
        if parts["user_info"] is not None:
            out += parts["user_info"] + "@"
        out += parts["host"]
        if parts["port"] is not None:
            out += ":" + parts["port"]
        out += parts["path"] or ""
        if parts["query"] is not None:
            out += "?" + parts["query"]
    else:
        out += parts["ssp"] or ""
    if parts["fragment"] is not None:
        out += "#" + parts["fragment"]
    return out


def _type_table_name(
    cls_iri: str, namespaces: dict[str, str], used: set, idx: int
) -> str:
    """type_<prefix>_<Local> (case preserved — LoadingTest expects
    ``type_rdf_Bag``), else type_<n> (RdfTypeSplitting.java:139-154)."""
    for prefix, ns in namespaces.items():
        if prefix and cls_iri.startswith(ns):
            cand = naming._sanitize(f"type_{prefix}_{cls_iri[len(ns):]}")
            if cand not in used:
                return cand
    return f"type_{idx}"


# --------------------------------------------------------------------------
# 2-5. fused per-table probe + rewrite
# --------------------------------------------------------------------------

_XSD_NARROWING = {
    XSD + "int": "int",
    XSD + "integer": "decimal(38,18)",
    XSD + "long": "bigint",
    XSD + "boolean": "boolean",
    XSD + "double": "double",
    XSD + "float": "float",
    XSD + "date": "date",
    XSD + "decimal": "decimal(38,18)",
}


def _narrow_target(table_dt: str | None, cs: ColumnSpec) -> str | None:
    """Narrowing target type for a column (OptimizeForDatatype.java:52-115)."""
    if cs.part == "port":
        return "int"
    if cs.part in ("path", "query", "fragment"):
        return "int"  # guarded by the all-canonical probe
    if cs.part == "litvalue" and table_dt:
        if table_dt == XSD + "gYear":
            return "gyear"
        return _XSD_NARROWING.get(table_dt)
    return None


def _decimal_lexical(col):
    """decimal -> lexical string with trailing fraction zeros trimmed —
    the narrowing guard verifies against the reconstruction inverse, so
    this IS plans.r2rml.decimal_lexical (one shared definition)."""
    from ..plans.r2rml import decimal_lexical

    return decimal_lexical(col)


#: first characters a candidate value MUST start with per narrowing
#: target — a cheap necessary condition evaluated BEFORE the try_cast +
#: cast-back machinery. Exact: every lexical form the full guard accepts
#: starts with one of these (canonical numerics/dates start with a digit
#: or '-'; Spark renders non-finite doubles as "NaN"/"Infinity"/
#: "-Infinity"). Most real part-column values (paths, fragments) fail on
#: the first character, which cut the fused probe's guard aggregation
#: ~4x at 20M rows.
_GUARD_PREFIX = {
    "int": list("-0123456789"),
    "bigint": list("-0123456789"),
    "date": list("-0123456789"),
    "double": list("-0123456789NI"),
    "float": list("-0123456789NI"),
    "decimal": list("-0123456789"),
}


def _guard_expr(c, target: str):
    """Boolean per-row expression: value is losslessly representable AND
    reconstructs to the exact original lexical form (cast-back-equals-
    original for every narrowed type — Spark silently rounds decimal scale
    overflow and canonicalizes double lexical forms, so isNotNull alone
    would violate the exact-inverse reconstruction contract).
    try_cast throughout — Spark 4 runs ANSI mode, where a plain cast
    *throws* on malformed input instead of returning NULL."""
    if target == "int" or target == "bigint":
        full = c.try_cast(target).cast("string") == c
    elif target == "boolean":
        return c.isin("true", "false")
    elif target == "date":
        full = c.try_cast("date").cast("string") == c
    elif target in ("double", "float"):
        # round-trip guard: "1"^^xsd:double would reconstruct as "1.0"
        full = c.try_cast(target).cast("string") == c
    elif target.startswith("decimal"):
        # render with the reconstruction's zero-trim: scale overflow
        # ("0.123...901" -> rounded) and non-canonical forms ("1.50")
        # fail the guard and stay strings
        full = _decimal_lexical(c.try_cast(target)) == c
    elif target == "gyear":
        return c.rlike(r"^-?[0-9]{4}$") & F.coalesce(
            c.try_cast("int").between(-5999, 2999), F.lit(False)
        )
    else:
        raise ValueError(target)
    prefix = _GUARD_PREFIX[target.split("(")[0]]
    return F.when(F.substring(c, 1, 1).isin(*prefix), full).otherwise(F.lit(False))


def _cast_expr(c, target: str):
    if target == "boolean":
        return c == "true"  # OptimizeForDatatype.java: CASE WHEN c='true'
    if target == "gyear":
        return c.try_cast("int")
    return c.try_cast(target)


def _to_lexical_py(v) -> str | None:
    """Python-side value -> RDF lexical form (for virtual-column constants
    captured after narrowing: bool/date/Decimal repr differs from str())."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        s = format(v, "f")
        return s.rstrip("0").rstrip(".") if "." in s else s
    return str(v)


def pass2_virtual_names(specs: list[ColumnSpec], stats: dict, n: int) -> set[str]:
    """Names of the columns pass 2 (IntroduceVirtualColumns) will
    virtualize, given probe stats — THE single definition of 'constant'
    plus the never-empty-the-table guard. optimize_table applies it; the
    stage-O merge-probe fold replays it to know which subject columns
    stay physical (a physical column's NULL rows give the whole subject
    key NULL semantics in the A2/J1 probes)."""
    out: set[str] = set()
    phys_remaining = sum(1 for cs in specs if cs.physical)
    for cs in specs:
        if not cs.physical or cs.encoding or cs.sql_type.startswith("array"):
            continue
        cnt = stats[f"{cs.name}\x00cnt"]
        mn, mx = stats[f"{cs.name}\x00min"], stats[f"{cs.name}\x00max"]
        constant = (cnt == 0) or (cnt == n and mn == mx)
        if constant and phys_remaining > 1:
            out.add(cs.name)
            phys_remaining -= 1
    return out


def probe_table(df: DataFrame, table: TableSpec, mode: str = "full") -> dict:
    """ONE aggregation pass computing everything every pass needs:
    per physical column count/min/max plus narrowing guards (P1, P5, A9)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for cs in table.all_column_specs():
        if not cs.physical:
            continue
        c = F.col(cs.name)
        aggs.append(F.count(c).alias(f"{cs.name}\x00cnt"))
        aggs.append(F.min(c).alias(f"{cs.name}\x00min"))
        aggs.append(F.max(c).alias(f"{cs.name}\x00max"))
        target = _narrow_target(_table_dt_for(table, cs), cs)
        if mode == "full" and target and cs.sql_type == "string":
            # coalesce(False): try_cast NULLs must count as guard failure,
            # not vanish from min() (NULL == x is NULL, min skips NULLs)
            ok = F.when(
                c.isNotNull(),
                F.coalesce(_guard_expr(c, target), F.lit(False)).cast("int"),
            )
            aggs.append(F.min(ok).alias(f"{cs.name}\x00ok"))
    row = df.agg(*aggs).collect()[0].asDict()
    return row


def _table_dt_for(table: TableSpec, cs: ColumnSpec) -> str | None:
    for pm in table.predicates:
        if cs in pm.columns:
            return pm.datatype
    return None


def fused_probe_tables(
    spark: SparkSession,
    catalog: Catalog,
    v_data_path: str,
    split_paths: dict[str, str],
) -> dict[str, dict]:
    """Every stage-O probe for EVERY table in TWO concurrent grouped jobs.

    The per-table loop previously ran 3 driver jobs per table before the
    write (probe agg, collapse max-graphs probe, read-back count) — at
    10^4-10^5 predicate tables the driver round-trips dominate, exactly
    the failure mode the stage-M fused probe fixed. All tables share the
    generic V statement schema (GENERIC_COLUMNS), so two passes cover
    every table at once:

    - STATS job: groupBy(table) with per-column count/min/max + narrowing
      guards + ``__n``. Map-side partial aggregation means the shuffle
      carries one tiny agg buffer per (task, table) — the wide string
      columns never leave the map side.
    - COLLAPSE job: ``__groups`` (count of distinct non-graph tuples =
      post-collapse row count) and ``__max_graphs`` (an INDICATOR: 2 when
      any group spans >1 distinct g_id — via min(g)!=max(g), the only
      question the layout decision asks — else <=1) via a 96-bit HASH of
      the non-graph tuple
      (xxhash64 + murmur3 over null-sentineled columns), so the shuffle
      carries (table, 2 hashes, g_id) instead of ~19 string columns. A
      hash collision can only MERGE groups, which can only raise
      ``__max_graphs`` and lower ``__groups`` — the failure direction is
      a pessimized layout (array graph column kept, identity fast path
      skipped), never a dropped graph id or a wrong dedupe.

    ``__max_graphs``/``__groups`` are valid for the POST-rewrite collapse
    because the rewrites are injective per column (guarded lossless casts,
    fixed-prefix strip, dictionary encode) and dropped virtual columns are
    constant per table — neither changes group boundaries.

    Returns per-table stats dicts in ``probe_table``'s key format (keyed
    by the table's renamed column names) plus the two collapse keys.
    Tables absent from the data (zero rows) get an all-zero dict.
    """
    from .vertical import GENERIC_COLUMNS

    non_g = [c for c in GENERIC_COLUMNS if c != "g_id"]
    frames = []
    # split children live under their parent's _cls-partitioned dir; one
    # read per parent, _cls md5 -> child table name via a literal map
    by_parent: dict[str, dict[str, str]] = {}
    for name, path in split_paths.items():
        parent, _, cls = path.rpartition("/_cls=")
        by_parent.setdefault(parent, {})[cls] = name
    if any(t.name not in split_paths for t in catalog.tables):
        v = spark.read.parquet(v_data_path)
        # the V dataset's t= partitions are exactly the catalog's plain
        # tables plus the split PARENTS (now replaced by their children) —
        # exclude the handful of parents rather than shipping a 10^5-name
        # isin literal
        parents = sorted(os.path.basename(p) for p in by_parent)
        plain_v = v.where(~F.col("t").isin(parents)) if parents else v
        frames.append(
            plain_v.select(F.col("t").cast("string").alias("__t"), *GENERIC_COLUMNS)
        )
    for parent in sorted(by_parent):
        md5s = by_parent[parent]
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(md5s.items()) for x in kv]
        )
        frames.append(
            spark.read.parquet(parent).select(
                mapping[F.col("_cls").cast("string")].alias("__t"),
                *GENERIC_COLUMNS,
            )
        )
    if not frames:
        return {}
    u = frames[0]
    for f_ in frames[1:]:
        u = u.unionByName(f_)

    guard_pairs: set[tuple[str, str]] = set()
    for t in catalog.tables:
        for cs in t.all_column_specs():
            if not cs.physical or cs.sql_type != "string" or not cs.source:
                continue
            target = _narrow_target(_table_dt_for(t, cs), cs)
            if target:
                guard_pairs.add((cs.source, target))

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in GENERIC_COLUMNS:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}\x00cnt"))
        aggs.append(F.min(col).alias(f"{c}\x00min"))
        aggs.append(F.max(col).alias(f"{c}\x00max"))
    for src, target in sorted(guard_pairs):
        col = F.col(src)
        # same NULL semantics as probe_table: null rows sit out of the
        # min, try_cast failures count as guard failure
        ok = F.when(
            col.isNotNull(),
            F.coalesce(_guard_expr(col, target), F.lit(False)).cast("int"),
        )
        aggs.append(F.min(ok).alias(f"{src}\x00ok\x00{target}"))

    # null sentinel per column: Spark's hash functions SKIP null inputs,
    # so (null, "x") and ("x", null) would otherwise hash identically
    # across positions — a systematic (not birthday-rare) collision
    hcols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00N")) for c in non_g]
    keyed = u.select(
        "__t",
        F.xxhash64(*hcols).alias("__h1"),
        F.hash(*hcols).alias("__h2"),
        "g_id",
    )
    # SUBJECT-GROUP job (stage-M merge-probe fold): per (table, subject
    # null-bitmask) count the distinct 96-bit-hashed subject tuples and
    # the rows. Driver-side, once pass-2 physicality is known, this
    # resolves to the exact number of A2 subject-key GROUPS in the stored
    # table (distinct non-NULL keys + one shared group for NULL-keyed
    # rows) — pigeonhole against the written row count then gives the
    # repeating-subject flag without stage M re-scanning anything. The
    # bitmask keying defers the physical/virtual decision: equal hashed
    # tuples share one bitmask (sentinel hashing covers the null pattern),
    # so per-bitmask distinct counts add up disjointly. Kept as its OWN
    # concurrent job: chaining it onto the collapse aggregation was
    # measured slower (the union re-runs the big exchange with a wider
    # payload — cross-branch exchange reuse does not materialize here).
    s_cols = [f"s_{k}" for k in PART_KEYS] + ["s_bnode_id"]
    sent = [F.coalesce(F.col(c).cast("string"), F.lit("\x00N")) for c in s_cols]
    bits = None
    for i, c in enumerate(s_cols):
        term = F.when(F.col(c).isNull(), F.lit(1 << i)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    subj = u.select(
        "__t",
        F.xxhash64(*sent).alias("__sh1"),
        F.hash(*sent).alias("__sh2"),
        bits.cast("int").alias("__B"),
    ).groupBy("__t", "__B").agg(
        F.countDistinct("__sh1", "__sh2").alias("__nd"),
        F.count(F.lit(1)).alias("__nr"),
    )
    # collapse stats: only "does ANY group span >1 distinct graph" is
    # consulted (the array-vs-scalar layout decision), so min(g)!=max(g)
    # replaces countDistinct(g) — one aggregation phase less and narrower
    # state; __max_graphs is an INDICATOR (2 = some group spans graphs,
    # <=1 = none does), not the true maximum
    lvl2 = (
        keyed.groupBy("__t", "__h1", "__h2")
        .agg(F.min("g_id").alias("__gmn"), F.max("g_id").alias("__gmx"))
        .groupBy("__t")
        .agg(
            F.count(F.lit(1)).alias("__groups"),
            F.max(
                F.when(F.col("__gmn") == F.col("__gmx"), 1).otherwise(2)
            ).alias("__max_graphs"),
        )
    )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_stats = ex.submit(lambda: u.groupBy("__t").agg(*aggs).collect())
        f_coll = ex.submit(lambda: lvl2.collect())
        f_subj = ex.submit(lambda: subj.collect())
        by_t = {r["__t"]: r.asDict() for r in f_stats.result()}
        for r in f_coll.result():
            by_t[r["__t"]]["__groups"] = r["__groups"]
            by_t[r["__t"]]["__max_graphs"] = r["__max_graphs"]
        subj_by_t: dict[str, list] = {}
        for r in f_subj.result():
            subj_by_t.setdefault(r["__t"], []).append((r["__B"], r["__nd"], r["__nr"]))
    s_bit = {c: i for i, c in enumerate(s_cols)}

    out: dict[str, dict] = {}
    for t in catalog.tables:
        r = by_t.get(t.name)
        stats: dict = {}
        if r is None:
            stats["__n"] = 0
            stats["__groups"] = 0
            stats["__max_graphs"] = 0
            stats["__subject_groups"] = 0
            for cs in t.all_column_specs():
                if cs.physical:
                    stats[f"{cs.name}\x00cnt"] = 0
                    stats[f"{cs.name}\x00min"] = None
                    stats[f"{cs.name}\x00max"] = None
            out[t.name] = stats
            continue
        stats["__n"] = r["__n"]
        stats["__groups"] = r["__groups"]
        stats["__max_graphs"] = r["__max_graphs"]
        for cs in t.all_column_specs():
            if not cs.physical or not cs.source:
                continue
            stats[f"{cs.name}\x00cnt"] = r[f"{cs.source}\x00cnt"]
            stats[f"{cs.name}\x00min"] = r[f"{cs.source}\x00min"]
            stats[f"{cs.name}\x00max"] = r[f"{cs.source}\x00max"]
            target = _narrow_target(_table_dt_for(t, cs), cs)
            if target and cs.sql_type == "string":
                stats[f"{cs.name}\x00ok"] = r[f"{cs.source}\x00ok\x00{target}"]
        # resolve the deferred subject-group count: P = subject columns
        # that SURVIVE pass 2 (the same simulation optimize_table applies)
        # and hold NULLs — a row with a NULL in any of them takes a NULL
        # subject key, and all NULL-keyed rows share ONE A2 group (exactly
        # has_repeating_subjects' grouping). Equal hashed tuples share one
        # bitmask, so the per-bitmask distinct counts are disjoint sums.
        virt = pass2_virtual_names(t.all_column_specs(), stats, stats["__n"])
        p_mask = 0
        for cs in t.subject_columns:
            if cs.name in virt or not cs.physical or not cs.source:
                continue
            if stats[f"{cs.name}\x00cnt"] < stats["__n"]:
                p_mask |= 1 << s_bit[cs.source]
        groups = sum(nd for b, nd, nr in subj_by_t.get(t.name, []) if not (b & p_mask))
        has_null = any(nr for b, nd, nr in subj_by_t.get(t.name, []) if b & p_mask)
        stats["__subject_groups"] = groups + (1 if has_null else 0)
        out[t.name] = stats
    return out


def fused_reopt_probe(
    spark: SparkSession,
    pairs: list,
    pooled_map=None,
) -> dict[str, dict]:
    """``probe_table(mode="reopt")`` for MANY tables in ONE grouped agg job
    per distinct schema shape — the stage-M analog of fused_probe_tables
    (which fuses over the shared generic V schema; post-merge frames have
    heterogeneous real schemas, so they fuse by SHAPE instead).

    Tables group by their frame's physical type tuple, rename to generic
    c0..cN plus a table tag, union as a balanced tree, and one
    ``groupBy(__t)`` agg computes ``__n`` + per-column count/min/max for
    every member — job count = number of distinct shapes (a handful),
    not number of tables (10^4-10^5 at a real KG vocabulary). Only the
    keys the reopt passes read are produced: narrowing guards are
    full-mode only (ReOptimizeForR2RML.java:24-46 re-runs virtual + LCP
    alone). ``pairs`` is [(TableSpec, frame)]; returns {table name:
    stats dict in probe_table's key format}.
    """
    groups: dict[tuple, list] = {}
    for t, df in pairs:
        key = tuple(f.dataType.simpleString() for f in df.schema.fields)
        groups.setdefault(key, []).append((t, df))

    def probe_group(item):
        key, members = item
        parts = []
        for t, df in members:
            parts.append(
                df.select(
                    F.lit(t.name).alias("__t"),
                    *[F.col(c).alias(f"c{i}") for i, c in enumerate(df.columns)],
                )
            )
        from ..plans.r2rml import balanced_union

        parts = [balanced_union(parts)]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i in range(len(key)):
            c = F.col(f"c{i}")
            aggs.append(F.count(c).alias(f"c{i}\x00cnt"))
            aggs.append(F.min(c).alias(f"c{i}\x00min"))
            aggs.append(F.max(c).alias(f"c{i}\x00max"))
        rows = {
            r["__t"]: r.asDict()
            for r in parts[0].groupBy("__t").agg(*aggs).collect()
        }
        out_g = []
        for t, df in members:
            r = rows.get(t.name)
            stats: dict = {"__n": 0 if r is None else r["__n"]}
            for i, c in enumerate(df.columns):
                if r is None:
                    stats[f"{c}\x00cnt"] = 0
                    stats[f"{c}\x00min"] = None
                    stats[f"{c}\x00max"] = None
                else:
                    stats[f"{c}\x00cnt"] = r[f"c{i}\x00cnt"]
                    stats[f"{c}\x00min"] = r[f"c{i}\x00min"]
                    stats[f"{c}\x00max"] = r[f"c{i}\x00max"]
            out_g.append((t.name, stats))
        return out_g

    items = sorted(groups.items(), key=lambda kv: str(kv[0]))
    mapper = pooled_map or (lambda fn, xs: [fn(x) for x in xs])
    out: dict[str, dict] = {}
    for got in mapper(probe_group, items):
        out.update(dict(got))
    return out


def _iri_group_parts(table: TableSpec, cs: ColumnSpec) -> bool:
    return cs.part in PART_KEYS


def optimize_table(
    spark: SparkSession,
    df: DataFrame,
    table: TableSpec,
    schemes: DataFrame | None = None,
    hosts: DataFrame | None = None,
    mode: str = "full",
    small_dicts: frozenset = frozenset(),
    *,
    stats: dict,
) -> DataFrame:
    """Apply passes 2-5 to one table. Mutates ``table``'s column specs
    (virtual values, narrowed types, LCP prefixes, encodings, graph
    collapse) and returns the rewritten DataFrame, ready to write.

    mode="reopt" is the post-merge re-optimization (ReOptimizeForR2RML.java:
    24-46): virtual columns + LCP only — no narrowing, no dict encode, no
    set-semantics collapse.

    ``stats``: precomputed probe results in ``probe_table``'s key format
    (fused_probe_tables for stage O, fused_reopt_probe for stage M) — no
    probe job runs here; with the fused ``__max_graphs`` key present the
    collapse probe is skipped too, leaving the write as this table's only
    job.
    """
    n = stats["__n"]

    specs = [cs for cs in table.all_column_specs()]

    # --- pass 2: virtual (constant) columns, never emptying the table ----
    # (encoded ids / graph sets stay physical: a virtual id would need a
    # decode lookup at reconstruction; the win is negligible)
    virt = pass2_virtual_names(specs, stats, n)
    for cs in specs:
        if cs.name in virt:
            cnt = stats[f"{cs.name}\x00cnt"]
            cs.physical = False
            cs.virtual_value = (
                _to_lexical_py(stats[f"{cs.name}\x00min"]) if cnt else None
            )

    # --- pass 3: datatype narrowing (guarded) -----------------------------
    narrowed: dict[str, str] = {}
    if mode == "full":
        for cs in specs:
            if not cs.physical or cs.sql_type != "string":
                continue
            target = _narrow_target(_table_dt_for(table, cs), cs)
            ok = stats.get(f"{cs.name}\x00ok")
            if target and ok == 1 and stats[f"{cs.name}\x00cnt"] > 0:
                narrowed[cs.name] = target
                if target == "gyear":
                    cs.sql_type = "int"
                    cs.encoding = "gyear"
                else:
                    cs.sql_type = target

    # --- pass 4: longest-common-prefix factoring (IRI part columns) ------
    # Columns headed for scheme/host dictionary encoding must NOT be
    # LCP-stripped: the dictionaries are built from UNSTRIPPED V data
    # (build_scheme_host_dicts), so an encode join on stripped values would
    # miss every row and silently write NULL ids (corrupting the term).
    will_encode: set[str] = set()
    if mode == "full":
        for pm in table.predicates:
            for cs in pm.columns:
                if cs.part == "scheme" and schemes is not None:
                    will_encode.add(cs.name)
                elif cs.part == "host" and hosts is not None:
                    will_encode.add(cs.name)
    to_strip: dict[str, str] = {}
    for cs in specs:
        if not cs.physical or cs.sql_type != "string" or not _iri_group_parts(table, cs):
            continue
        if cs.name in narrowed or cs.name in will_encode:
            continue
        mn, mx = stats[f"{cs.name}\x00min"], stats[f"{cs.name}\x00max"]
        if mn is None or mx is None or not isinstance(mn, str):
            continue
        lcp = os.path.commonprefix([mn, mx])
        if lcp:
            to_strip[cs.name] = lcp
            # composes across re-optimizations: stored prefix accumulates,
            # the projection strips only this round's discovery
            cs.lcp_prefix = cs.lcp_prefix + lcp

    # --- build the single rewrite projection ------------------------------
    cols = []
    for cs in specs:
        if not cs.physical:
            continue
        c = F.col(cs.name)
        if cs.name in narrowed:
            c = _cast_expr(c, narrowed[cs.name])
        if cs.name in to_strip:
            c = F.substring(c, len(to_strip[cs.name]) + 1, INT_MAX)
        cols.append(c.alias(cs.name))
    out = df.select(*cols)

    if mode != "full":
        return out

    # --- scheme/host dictionary encoding (object side only, like the
    #     reference's enum passes) ----------------------------------------
    for pm in table.predicates:
        for cs in pm.columns:
            if not cs.physical or cs.sql_type != "string":
                continue
            if cs.part == "scheme" and schemes is not None:
                out = _encode(out, schemes, cs, "schemes", small_dicts)
            elif cs.part == "host" and hosts is not None:
                out = _encode(out, hosts, cs, "hosts", small_dicts)

    # --- pass 5: set semantics + graph collapse ---------------------------
    out = _collapse(out, table, stats, n)
    return out


def _encode(
    df: DataFrame,
    dictionary: DataFrame,
    cs: ColumnSpec,
    dict_name: str,
    small_dicts: frozenset = frozenset(),
) -> DataFrame:
    dim = dictionary.select(
        F.col("iri").alias(cs.name), F.col("id").alias(f"{cs.name}\x00id")
    )
    if dict_name not in UNBOUNDED_DICTS or dict_name in small_dicts:
        # vocabulary-sized dims (schemes) always broadcast. Unbounded
        # domains (hosts — one per crawled site) broadcast only on a
        # MEASURED driver-side decision (stage O counts the materialized
        # dict once and passes ``small_dicts``): a blind hint OOMs at web
        # scale, but leaving a provably tiny dim to a per-table shuffle
        # join was the round-3 stage-O regression (64 tables x one
        # sort-merge shuffle each, 13.0 -> 18.3 s).
        dim = F.broadcast(dim)
    df = df.join(dim, cs.name, "left").drop(cs.name).withColumnRenamed(f"{cs.name}\x00id", cs.name)
    cs.sql_type = "bigint"
    cs.encoding = dict_name
    return df


def _collapse(df: DataFrame, table: TableSpec, stats: dict, n: int) -> DataFrame:
    """ReintroduceRdfSetSemantics: dedupe + multi-graph collapse + cluster
    sort. Works on the post-rewrite frame."""
    g_specs = [pm.graph_column for pm in table.predicates if pm.graph_column is not None]
    g_phys = [g for g in g_specs if g.physical]
    non_graph = [
        cs.name
        for cs in table.all_column_specs()
        if cs.physical and cs not in g_specs
    ]
    # identity fast path: the fused probe proved every non-graph tuple is
    # unique (__groups == __n) and no group spans graphs — dedupe and graph
    # collapse are both no-ops, so skip the groupBy SHUFFLE entirely and
    # the write becomes this table's only stage. Hash collisions in the
    # probe can only LOWER __groups (merge groups), so equality with __n
    # is collision-proof; at real-KG scale most predicate tables are
    # already statement-unique and take this path. ``target_partitions``
    # (size-derived, caller-measured) replaces the AQE coalesce the
    # skipped shuffle would have applied — without it each table keeps
    # one file per salted V input split and downstream stages pay the
    # per-file open cost T*salt times.
    if stats.get("__groups") == n and (stats.get("__max_graphs") or 0) <= 1:
        tp = stats.get("__target_partitions")
        if tp:
            df = df.coalesce(int(tp))
        return df.sortWithinPartitions(*df.columns) if df.columns else df
    if not g_phys:
        out = df.dropDuplicates()
    else:
        g = g_phys[0]
        collapsed = df.groupBy(*non_graph).agg(
            F.sort_array(F.collect_set(F.col(g.name))).alias(g.name)
        )
        # fused probe already measured max graphs per group (valid post-
        # rewrite: injective rewrites keep group boundaries) -> no probe
        # job, no cache needed
        max_graphs = stats.get("__max_graphs")
        if max_graphs is None:
            max_graphs = collapsed.agg(F.max(F.size(F.col(g.name)))).first()[0]
        if max_graphs is not None and max_graphs > 1:
            g.part = "graph_set"
            g.sql_type = "array<bigint>"
            out = collapsed
        else:
            out = collapsed.withColumn(g.name, F.element_at(F.col(g.name), 1))
    sort_cols = [c for c in out.columns]
    return out.sortWithinPartitions(*sort_cols) if sort_cols else out


# --------------------------------------------------------------------------
# global scheme/host dictionaries (A8: distinct union across tables)
# --------------------------------------------------------------------------


def build_scheme_host_dicts(
    spark: SparkSession, v_data_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Distinct object schemes/hosts across ALL tables in ONE scan of the
    V dataset (the reference unions per-table SELECT DISTINCTs,
    IntroduceHostEnums.java:30-39).

    The two domains share a single tagged distinct (explode to (kind,
    value), distinct, persist): the previous per-dictionary builds cost
    THREE full V scans (schemes write; hosts bucket-count collect; hosts
    write) — the tagged distinct is dictionary-sized, so every downstream
    job reads the cache instead of re-scanning V. Returns (schemes,
    hosts, tagged); the CALLER must unpersist ``tagged`` after
    materializing both dictionaries."""
    v = spark.read.parquet(v_data_path).select("o_scheme", "o_host")
    tagged = (
        v.select(
            F.explode(
                F.array(
                    F.struct(F.lit("s").alias("k"), F.col("o_scheme").alias("v")),
                    F.struct(F.lit("h").alias("k"), F.col("o_host").alias("v")),
                )
            ).alias("e")
        )
        .select("e.*")
        .where(F.col("v").isNotNull())
        .distinct()
        .persist()
    )
    schemes = build_dictionary(
        tagged.where(F.col("k") == "s").select(F.col("v").alias("o_scheme")),
        "o_scheme",
    )
    # hosts are closer to unbounded than vocabulary at web scale (every
    # crawled site is a host) -> two-level bucketed id assignment, no
    # global-window stage (schemes stay global: the IANA registry is tiny)
    hosts = build_dictionary(
        tagged.where(F.col("k") == "h").select(F.col("v").alias("o_host")),
        "o_host",
        n_buckets=64,
    )
    return schemes, hosts, tagged
