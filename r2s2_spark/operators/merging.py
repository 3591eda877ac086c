"""Stage M — table merging (denormalization of star-shaped subjects).

Reference counterpart: TableMergingConcurence.java:46-268 (step 4 of
Loader.STEPS; TableMerging.java is dead code). Algorithm kept faithful:

- merge candidates = tables whose subjects are unique (no repeating
  subject, probed as GROUP BY subject HAVING COUNT(*)>1 LIMIT 1,
  TableMergingConcurence.java:246-268);
- processed type-tables-first then smallest-first ("merge into small
  tables to generate denser columns", :81-100);
- ``other`` merges into ``mc`` when: same subject kind, no shared
  predicate, ``other`` not already a merge target, both non-empty, and
  the subject sets actually overlap (:201-230);
- the merge pulls ``other``'s physical object columns into ``mc`` for
  matching subjects (reference: UPDATE..FROM, :180-190) and removes the
  consumed rows from ``other`` (reference: DELETE..USING, :191-196).

Spark realization: UPDATE becomes a left join adding the columns; DELETE
becomes a left-anti join on the subject key. Deviation (documented): the
reference's DELETE also equi-compares the copied values, so rows whose
copied value is NULL are never deleted (NULL=NULL is unknown) — leaving
duplicate statements behind; we anti-join on the subject alone, which is
the intended semantics (both reconstruct to identical triple *sets*).

The composite subject key is concat with an explicit separator —
the reference's bare ``c1||c2`` (J4) is ambiguous ("ab"+"c" == "a"+"bc") —
and NULL parts propagate (concat, not concat_ws), matching DuckDB's
NULL||x = NULL: a subject with a NULL part never matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import Catalog, TableSpec

SEP = "\x00"

#: wall-clock of the most recent run_merges, keyed by sub-phase ("probe",
#: "cascade") plus counters ("merges", "reprobes") — the bench harness
#: reads these through pipeline.TIMINGS to attribute stage-M drift.
LAST_TIMINGS: dict = {}


def subject_key(table: TableSpec) -> "F.Column":
    """concatSubjectColumns (TableMergingConcurence.java:232-244): physical
    columns by value, virtual columns inlined as literals.

    Keys are built from FULL lexical part values: a column's factored-out
    ``lcp_prefix`` (F3 substring strip) is prepended, exactly as
    reconstruction does (r2rml.py ``_lexical``). Comparing stripped
    values cross-merged tables whose subjects share suffixes under
    different prefixes — e.g. .../nation/0 vs .../region/0 both stripped
    to '0' — silently attaching one entity's statements to another."""
    pieces = []
    for cs in table.subject_columns:
        if cs.physical:
            # physical NULL propagates -> row never matches (DuckDB
            # NULL||x = NULL in the reference's concat key); the prefix
            # concat preserves that (concat propagates NULL)
            v = F.col(cs.name).cast("string")
            if cs.lcp_prefix:
                v = F.concat(F.lit(cs.lcp_prefix), v)
            pieces.append(v)
        else:
            # an absent (all-NULL virtual) part is a *column* property, not
            # a row property: sentinel so two tables with the same absent
            # part still match (the reference string-concats Java null into
            # the literal 'null', same effect)
            full = (
                (cs.lcp_prefix or "") + cs.virtual_value
                if cs.virtual_value is not None
                else "\x01null"
            )
            pieces.append(F.lit(full).cast("string"))
        pieces.append(F.lit(SEP))
    return F.concat(*pieces[:-1]) if pieces else F.lit(None)


def has_repeating_subjects(df: DataFrame, table: TableSpec) -> bool:
    """A2 probe (GROUP BY .. HAVING COUNT(*)>1 LIMIT 1)."""
    phys = [cs.name for cs in table.subject_columns if cs.physical]
    if not phys:
        # all-virtual subject: every row IS the same subject, so >1 row
        # repeats. (The reference returns false here — empty column list,
        # TableMergingConcurence.java:249-251 — which would wrongly admit
        # multi-row single-subject tables as merge candidates.)
        return df.limit(2).count() > 1
    k = subject_key(table).alias("__k")
    return (
        df.groupBy(k).count().where(F.col("count") > 1).limit(1).count() > 0
    )


def subjects_overlap(mc_df: DataFrame, mc: TableSpec, other_df: DataFrame, other: TableSpec) -> bool:
    """J1 probe as a left-semi join with early exit (the reference runs a
    full COUNT(*) over the join, :211 — semi+limit is the Spark idiom)."""
    a = mc_df.select(subject_key(mc).alias("__k")).where(F.col("__k").isNotNull())
    b = other_df.select(subject_key(other).alias("__k")).where(F.col("__k").isNotNull())
    return a.join(b, "__k", "left_semi").limit(1).count() > 0


def merge_pair(
    mc_df: DataFrame, mc: TableSpec, other_df: DataFrame, other: TableSpec
) -> tuple[DataFrame, DataFrame]:
    """Merge ``other``'s predicate maps into ``mc``. Returns the new
    (mc_df, other_df). ``mc`` gains deep copies of the predicate maps;
    ``other`` keeps its own specs — its remaining (non-overlapping) rows
    still represent statements of that predicate, exactly like the
    reference where the same PredicateMap ends up on both tables."""
    import copy

    move_cols: list[str] = []
    for pm in other.predicates:
        for cs in [*pm.columns, pm.graph_column]:
            if cs is not None and cs.physical:
                move_cols.append(cs.name)
        moved = copy.deepcopy(pm)
        # non-matched mc rows hold NULL in the moved physical columns;
        # reconstruction must not render the map's virtual constants for
        # them (a merged-in all-virtual-but-path IRI map would otherwise
        # fabricate scheme+host terms for every non-matched subject)
        moved.merged = True
        mc.predicates.append(moved)

    ok = subject_key(other).alias("__k")
    payload = other_df.select(ok, *move_cols)
    mk = subject_key(mc).alias("__k")
    merged = mc_df.withColumn("__k", subject_key(mc)).join(
        payload, "__k", "left"
    ).drop("__k")

    remaining = other_df.join(
        mc_df.select(mk).where(F.col("__k").isNotNull()),
        subject_key(other) == F.col("__k"),
        "left_anti",
    )
    return merged, remaining


def _tagged_subject_keys(
    frames: dict[str, DataFrame], tables: list[TableSpec]
) -> DataFrame:
    """Union every table's subject keys tagged with the table name — the
    single input both fused probes aggregate. Uniform 2-column schema, so
    the union is cheap regardless of per-table column sets. The plan is
    linear in the table count (one parquet scan branch per table); at
    10^5-table catalogs the branches still compile in seconds and the job
    replaces 10^5 separate probe jobs (and, for overlaps, 10^10 pair jobs)."""
    parts = [
        frames[t.name].select(
            F.lit(t.name).alias("tbl"), subject_key(t).alias("k")
        )
        for t in tables
    ]
    # balanced-tree union: a left-deep chain re-analyzes the growing plan
    # on every unionByName (O(T^2) analyzer work — measured 4.3 s of pure
    # driver time at 64 tables); pairing halves keeps it O(T log T)
    while len(parts) > 1:
        parts = [
            parts[i].unionByName(parts[i + 1])
            if i + 1 < len(parts)
            else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


def _hashed_keys(tagged: DataFrame) -> DataFrame:
    """(tbl, k) -> (tbl, k, k2) with k replaced by a 96-bit hash pair.
    NULL keys stay NULL (they group together for the repeating probe and
    are filtered out of the overlap probe, same as the raw-string path)."""
    return tagged.select(
        "tbl",
        F.when(F.col("k").isNotNull(), F.xxhash64("k")).alias("k"),
        F.when(F.col("k").isNotNull(), F.hash("k")).alias("k2"),
    )


def _fused_probe(
    spark: SparkSession,
    frames: dict[str, DataFrame],
    tables: list[TableSpec],
    repeating_hint: dict[str, bool] | None = None,
) -> tuple[dict[str, bool], set[frozenset]]:
    """ONE pass over all tables answering both merge questions:

    - repeating-subject flag per table (A2 probe: any key with count>1;
      NULL keys group like any value, matching has_repeating_subjects);
    - the set of table PAIRS whose subject keys overlap (J1 probe): among
      non-repeating candidates every key appears once per table, so
      grouping keys across tables and emitting co-occurring table pairs
      costs one shuffle — where the per-pair semi-join architecture costs
      O(T^2) driver-submitted jobs (the round-3 4x stage-M regression at
      64 tables; fatal at the 10^4-10^5 tables of a real KG vocabulary).

    Pair sets are DISTINCT-ed distributed-side; only the (small) distinct
    pair list is collected, never the per-key sets.

    Keys travel as a 96-bit hash (xxhash64 + murmur3), not the concat
    string — subject keys are full IRIs, so the hash shrinks the shuffle
    ~10x. A collision can only MERGE key groups: a table may be flagged
    repeating when it isn't (drops out of merge candidacy) or a disjoint
    pair may probe as overlapping (merge_pair then joins on the REAL keys
    and attaches nothing) — layout pessimization only, never a wrong row.
    """
    if not tables:
        return {}, set()
    pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "stage_m")
    try:
        per_key = None
        if repeating_hint is None:
            per_key = (
                _hashed_keys(_tagged_subject_keys(frames, tables))
                .groupBy("tbl", "k", "k2")
                .agg(F.count(F.lit(1)).alias("c"))
                .persist()
            )
            rep_rows = per_key.groupBy("tbl").agg(F.max("c").alias("mx")).collect()
            mx = {r.tbl: r.mx for r in rep_rows}
            # absent => empty table => trivially non-repeating (matches the
            # per-table probe: zero groups exceed count 1)
            repeating = {t.name: int(mx.get(t.name, 0) or 0) > 1 for t in tables}
        else:
            # stage O already answered A2 for every table (catalog
            # subject_repeating via the fused-probe subject-group count)
            # — the most common outcome, all-tables-repeating, now costs
            # ZERO stage-M jobs
            repeating = {t.name: bool(repeating_hint[t.name]) for t in tables}
        cand = [t.name for t in tables if not repeating[t.name]]
        pairs = set()
        if len(cand) > 1:
            if per_key is None:
                # hinted path: scan ONLY the candidate tables for the
                # overlap-pair probe (the full-catalog per_key scan was
                # the hint's whole point to avoid)
                cand_tables = [t for t in tables if t.name in set(cand)]
                per_key = (
                    _hashed_keys(_tagged_subject_keys(frames, cand_tables))
                    .groupBy("tbl", "k", "k2")
                    .agg(F.count(F.lit(1)).alias("c"))
                )
            sets = (
                per_key.where(F.col("k").isNotNull() & F.col("tbl").isin(cand))
                .groupBy("k", "k2")
                .agg(F.collect_set("tbl").alias("ts"))
                .where(F.size("ts") >= 2)
            )
            pair_rows = (
                sets.select(F.explode("ts").alias("a"), "ts")
                .select("a", F.explode("ts").alias("b"))
                .where(F.col("a") < F.col("b"))
                .distinct()
                .collect()
            )
            pairs = {frozenset((r.a, r.b)) for r in pair_rows}
        if per_key is not None and repeating_hint is None:
            per_key.unpersist()
        return repeating, pairs
    finally:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)


def run_merges(
    spark: SparkSession,
    catalog: Catalog,
    frames: dict[str, DataFrame],
    sizes: dict[str, int],
    repeating_hint: dict[str, bool] | None = None,
) -> tuple[list[str], list[str], dict[str, bool]]:
    """The full TableMergingConcurence driver loop over in-memory (lazy)
    frames. Mutates ``catalog``/``frames``/``sizes``. Returns
    (names of tables that changed, names of emptied/dropped tables,
    {name: subject-unique} — the probe's verdict, still valid after the
    cascade, see below).

    Driver-loop scale: ALL repeating-subject flags and ALL overlapping
    table pairs come from one fused probe job (see _fused_probe) instead
    of per-table + per-pair jobs. The upfront pair set stays valid through
    the cascade because merging never grows a side: ``mc`` keeps its rows
    (left join adds columns), ``other`` only shrinks (anti join) — so a
    pair the probe called disjoint can never become overlapping, and a
    pair involving a since-shrunk table is re-probed live before merging.

    The same monotonicity makes the returned uniqueness map valid AFTER
    the cascade: a non-candidate is never touched; an ``mc`` keeps its
    exact row set (the payload it left-joins has unique keys — ``other``
    is itself a candidate — so no row duplication); an ``other`` only
    loses rows, and a subset of a unique-keyed set is unique. Step 10
    (verify_subject_uniqueness) consumes it via ``known=`` and probes
    nothing.
    """
    import time as _time

    def order_key(t: TableSpec):
        return (0 if t.name.startswith("type_") else 1, sizes[t.name], t.name)

    tables = sorted(catalog.tables, key=order_key)
    t0 = _time.time()
    repeating, overlap_pairs = _fused_probe(
        spark, frames, tables, repeating_hint=repeating_hint
    )
    LAST_TIMINGS.clear()
    LAST_TIMINGS["probe"] = round(_time.time() - t0, 3)
    LAST_TIMINGS["merges"] = 0
    LAST_TIMINGS["reprobes"] = 0
    t0 = _time.time()
    candidates = [t for t in tables if not repeating[t.name]]
    merged_targets: set[str] = set()
    changed: set[str] = set()
    shrunk: set[str] = set()
    for mc in candidates:
        if sizes[mc.name] == 0:
            continue
        for other in list(candidates):
            if other.name == mc.name or not other.predicates:
                continue
            if other.subject_kind != mc.subject_kind:
                continue
            mc_preds = {pm.predicate for pm in mc.predicates}
            if any(pm.predicate in mc_preds for pm in other.predicates):
                continue
            if other.name in merged_targets or sizes[other.name] == 0:
                continue
            # nothing physical to pull in -> the reference's merge() is a
            # no-op for this pair (toMerge empty, :168-176); skip entirely.
            # Only OBJECT columns count: a lone physical graph column holds
            # no statement content (such tables exist here only because we
            # keep the last physical column where the reference empties the
            # table, IntroduceVirtualColumns.java:63-72).
            if not any(cs.physical for pm in other.predicates for cs in pm.columns):
                continue
            if frozenset((mc.name, other.name)) not in overlap_pairs:
                continue  # probed disjoint; shrinking can't create overlap
            # the probe result is exact unless a side shrank since: then
            # the overlapping rows may be the very ones consumed earlier
            if other.name in shrunk or mc.name in shrunk:
                LAST_TIMINGS["reprobes"] += 1
                if not subjects_overlap(
                    frames[mc.name], mc, frames[other.name], other
                ):
                    continue
            LAST_TIMINGS["merges"] += 1
            new_mc, new_other = merge_pair(frames[mc.name], mc, frames[other.name], other)
            # localCheckpoint keeps the cascade's plan from growing
            # unboundedly across merges (lineage cut, still lazy enough)
            frames[mc.name] = new_mc.localCheckpoint(eager=False)
            frames[other.name] = new_other.localCheckpoint(eager=False)
            sizes[other.name] = frames[other.name].count()
            changed.add(mc.name)
            changed.add(other.name)
            shrunk.add(other.name)
        merged_targets.add(mc.name)

    LAST_TIMINGS["cascade"] = round(_time.time() - t0, 3)
    dropped = []
    for t in list(catalog.tables):
        if sizes[t.name] == 0:
            catalog.tables.remove(t)
            frames.pop(t.name, None)
            dropped.append(t.name)
    unique = {
        t.name: not repeating[t.name] for t in catalog.tables
    }
    return sorted(changed), dropped, unique


def verify_subject_uniqueness(
    spark: SparkSession,
    catalog: Catalog,
    frames: dict[str, DataFrame],
    known: dict[str, bool] | None = None,
) -> dict[str, bool]:
    """IntroduceIndexes analog (step 10, IntroduceIndexes.java:22-46): the
    reference tries CREATE UNIQUE INDEX over each table's subject columns
    and records whether it succeeded. Spark has no indexes (data skipping
    comes from parquet min/max stats), but the VERIFIED-UNIQUE bit is the
    part queries care about: it licenses merge candidacy and 1:1 join
    cardinality. ONE fused job probes every table NOT already answered by
    ``known`` (same union shape as _fused_probe — per-table jobs would be
    10^5 scheduler round-trips at real vocabulary scale), records the
    boolean on the TableSpec (serialized with the catalog), returns
    {name: unique}.

    ``known`` is run_merges' returned uniqueness map: the merge cascade
    preserves every flag it probed (see run_merges), so the pipeline's
    step-10 call resolves entirely from it — zero extra jobs."""
    if not catalog.tables:
        return {}
    known = known or {}
    todo = [t for t in catalog.tables if t.name not in known]
    mx: dict[str, int] = {}
    if todo:
        pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "stage_m")
        try:
            # hashed keys like _fused_probe: a collision can only flip a
            # table to "not verified unique" — it never licenses a false
            # 1:1 cardinality
            rows = (
                _hashed_keys(_tagged_subject_keys(frames, todo))
                .groupBy("tbl", "k", "k2")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("tbl")
                .agg(F.max("c").alias("mx"))
                .collect()
            )
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        mx = {r.tbl: r.mx for r in rows}
    out = {}
    for t in catalog.tables:
        unique = (
            known[t.name]
            if t.name in known
            else int(mx.get(t.name, 0) or 0) <= 1
        )
        t.subject_unique = unique
        out[t.name] = unique
    return out
