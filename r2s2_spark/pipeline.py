"""Pipeline orchestration — the Spark restatement of Loader.STEPS.

Reference: Loader.java:151-213 runs 12 steps, checkpointing the catalog to
description.ttl after each so a killed job resumes at any step. Here every
stage is a resume-aware snapshot commit (plans.tableio.StageRunner):

  E  extract        parse + decompose          (ParseIntoSOGTables step 0)
  D  dictionaries   predicates/graphs long ids (ParseIntoSOGTables.java:455-470)
  V  vertical       route + partitionBy write  (LoadIntoTable routing)
  O  layout         type split + fused column passes (steps 1-2, 8-9)
  M  merge          denormalize + re-optimize  (steps 4, 6)
  R  mapping        R2RML-style doc            (steps 3, 5, 7)

Indexing (step 10) has no Spark equivalent (uniqueness is asserted by the
set-semantics pass; data skipping comes from parquet min/max stats), and
vacuum (step 11) is unnecessary on immutable files (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators import vertical
from .operators.dictionaries import build_dictionary
from .operators.extract import extract
from .plans.catalog import Catalog, TableSpec
from .plans.r2rml import (
    balanced_union,
    distinct_types,
    mapping_document,
    reconstruct_triples,
)
from .plans.tableio import StageIO, StageRunner
from .sources.fixtures import DEFAULT_GRAPH

#: stage directories this pipeline owns — the only names vacuum() may sweep
KNOWN_STAGES = frozenset({"E", "D", "V", "O", "M", "R", "L", "C"})

#: bound on concurrent per-table Spark jobs from driver-side loops. Each
#: job is small; the pool keeps the scheduler fed without flooding it
#: (10^5 simultaneous job submissions would thrash the DAG scheduler).
MAX_CONCURRENT_TABLE_JOBS = 8

#: measured-size ceiling for broadcasting an UNBOUNDED dictionary (hosts)
#: into per-table encode joins. Parquet bytes on disk, so ~3-5x that in
#: memory — 64 MiB keeps the executor-side hash relation comfortably under
#: typical 4-8 GiB executor heaps while covering every realistic hosts
#: dict short of a full web crawl.
BROADCAST_DICT_MAX_BYTES = 64 * 1024 * 1024

#: stage O/M/U write fusion: tables at or below this row count share
#: generic-schema partitionBy("t") batch writes instead of one Spark job
#: each. At a real-KG vocabulary (10^4-10^5 predicate tables, one per
#: predicate/kind/lang/datatype) the long tail is tiny tables whose
#: per-table job submission latency — not their data — dominates the
#: stage; batching makes driver job count sub-linear in table count. A
#: larger table gets a batch of its own (its data is the cost).
SMALL_TABLE_MAX_ROWS = 1_000_000
#: bounds on one batch job, so a single batch never degenerates into a
#: monster union plan (analyzer cost) or an oversized shuffle
BATCH_MAX_TABLES = 1024
BATCH_MAX_ROWS = 16_000_000


#: wall-clock seconds of the most recent stage's internal passes, keyed
#: "<stage>.<pass>" — populated by stage_o/stage_m for the bench harness
#: (attributing wide-catalog regressions needs per-pass numbers, not one
#: stage total). Overwritten per stage run; diagnostic only.
TIMINGS: dict = {}


def _dir_bytes(d: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(base, fn))
    return total


def _pooled_map(fn, items):
    """Map ``fn`` over items on a bounded thread pool (Spark job submission
    is thread-safe; the JVM scheduler runs the jobs concurrently)."""
    from concurrent.futures import ThreadPoolExecutor

    items = list(items)
    if not items:
        return []
    if len(items) == 1:
        return [fn(items[0])]
    with ThreadPoolExecutor(
        max_workers=min(MAX_CONCURRENT_TABLE_JOBS, len(items))
    ) as ex:
        return list(ex.map(fn, items))


def _write_batched(
    spark: SparkSession,
    pairs: list[tuple[TableSpec, DataFrame]],
    abs_dir: str,
    rel_dir: str,
    pool: str | None = None,
) -> dict[str, int]:
    """Write every stage-O/M/U table as a member of a batch root, in a
    handful of Spark jobs instead of one per table: tables are grouped by
    physical schema SHAPE (positional Spark types), renamed to generic
    c0..cN columns, balanced-tree unioned, and written as ONE
    partitionBy("t") job per group chunk — so driver job count is
    sub-linear in table count (the last linear-in-vocabulary driver cost
    at 10^4-10^5 predicate tables).

    Each member TableSpec gets ``path = {rel_dir}/{gid}/t={name}`` and
    ``storage_columns`` = its real column names in storage order
    (``KgPipeline.reader`` renames back on read). NO shuffle is added:
    every union branch is ONE table (t constant per input partition,
    already size-coalesced and clustering-sorted by optimize_table), so
    the partitionBy("t") write routes each task's rows to its own
    partition dir as-is — batching only fuses the JOB SUBMISSIONS, it
    must not re-shuffle data the identity fast path deliberately avoided
    shuffling.

    A table above SMALL_TABLE_MAX_ROWS gets a chunk of its own. A
    one-table chunk is written with a plain parquet write straight into
    ``{gid}/t={name}`` — the layout partitionBy would produce, so readers
    cannot tell — because partitionBy's planned write costs a lone
    multi-million-row table 8-16% over a plain write. Returns
    {name: row_count} (missing = zero rows; an empty table in a shared
    chunk writes no partition dir)."""
    groups: dict[tuple, list] = {}
    jobs: list[tuple[int, list]] = []
    for t, out in pairs:
        if (t.row_count or 0) > SMALL_TABLE_MAX_ROWS:
            jobs.append((len(jobs), [(t, out)]))
            continue
        key = tuple(f.dataType.simpleString() for f in out.schema.fields)
        groups.setdefault(key, []).append((t, out))
    # chunk size balances two costs: fewer chunks = fewer driver jobs
    # (the 10^4-table win), more chunks = batch jobs overlap on the
    # thread pool (wall clock at moderate table counts). Aim for ~2
    # chunks per pool slot, floored at 8 tables and capped by the
    # monster-plan bounds — job count stays O(T / 8) worst case and
    # O(T / BATCH_MAX_TABLES) at vocabulary scale.
    chunk_max = min(
        BATCH_MAX_TABLES,
        max(8, -(-len(pairs) // (2 * MAX_CONCURRENT_TABLE_JOBS))),
    )
    for key in sorted(groups, key=str):
        chunk: list = []
        chunk_rows = 0
        for t, out in groups[key]:
            chunk.append((t, out))
            chunk_rows += t.row_count or 0
            if len(chunk) >= chunk_max or chunk_rows >= BATCH_MAX_ROWS:
                jobs.append((len(jobs), chunk))
                chunk, chunk_rows = [], 0
        if chunk:
            jobs.append((len(jobs), chunk))

    def write_one(job: tuple[int, list]) -> dict[str, int]:
        g, chunk = job
        if pool:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        parts = []
        obs: list[tuple[str, Observation]] = []
        for t, out in chunk:
            names = list(out.columns)
            t.storage_columns = names
            t.path = f"{rel_dir}/{g}/t={t.name}"
            branch = out.select(
                *[F.col(c).alias(f"c{i}") for i, c in enumerate(names)]
            )
            if len(chunk) > 1:
                branch = branch.select(F.lit(t.name).alias("t"), "*")
            # per-BRANCH row-count metric: each branch is exactly one
            # table, so a plain count per branch rides the write — no
            # read-back scan, no per-row conditionals
            ob = Observation()
            obs.append((t.name, ob))
            parts.append(branch.observe(ob, F.count(F.lit(1)).alias("n")))
        dest = os.path.join(abs_dir, str(g))
        if len(parts) == 1:
            parts[0].write.mode("overwrite").parquet(
                os.path.join(dest, f"t={chunk[0][0].name}")
            )
        else:
            # balanced-tree union via the one shared helper (branches
            # share the generic (t, c0..cN) schema, so by-name ==
            # positional)
            balanced_union(parts).write.mode("overwrite").partitionBy(
                "t"
            ).parquet(dest)
        return {name: int(ob.get["n"]) for name, ob in obs}

    counts: dict[str, int] = {}
    for got in _pooled_map(write_one, jobs):
        counts.update(got)
    return counts


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        default_graph: str = DEFAULT_GRAPH,
        namespaces: dict[str, str] | None = None,
        force: bool = False,
    ):
        self.spark = spark
        self.io = StageIO(spark, work_dir)
        self.runner = StageRunner(self.io, force=force)
        self.default_graph = default_graph
        self.namespaces = namespaces
        # SPARQL SERVICE federation registry: endpoint IRI -> another
        # loaded KgPipeline (plans/sparql_text._service_frames)
        self.services: dict[str, "KgPipeline"] = {}
        # shared batch-root reads (see reader()): every spark.read.parquet
        # submits a 1-task footer-inference job, so reading each batched
        # small table through its own read costs one driver job per table
        # — a variable-predicate SPARQL pattern over a 10^4-table
        # vocabulary would pay 10^4 jobs before the query even runs.
        # Tables in one batch share ONE cached read of the batch root;
        # each member is a partition-pruned ``t =`` filter + rename on it.
        # Keyed by batch-root rel path (stage-qualified, e.g. "M/batch/3");
        # cleared by the writing stages (stage_o/stage_m/vacuum re-runs
        # may rewrite the same dirs).
        self._batch_reads: dict[str, DataFrame] = {}

    def register_service(self, iri: str, pipeline: "KgPipeline") -> None:
        """Map a SPARQL ``SERVICE <iri>`` endpoint to another loaded
        pipeline: queries against THIS pipeline may federate sub-groups
        to it (SPARQL 1.1 Federated Query over registered engines; real
        HTTP endpoints are out of scope)."""
        self.services[iri] = pipeline

    # -- stages ----------------------------------------------------------
    def stage_e(self, source_files: DataFrame) -> None:
        def fn(io: StageIO) -> dict:
            # per-file provenance dictionary (statement rows carry only the
            # 8-byte file_id; see operators/extract.py scale notes)
            files = source_files.select(
                "repo",
                "path",
                "commit",
                F.sha2(F.col("content"), 256).alias("file_sha256"),
            ).withColumn("file_id", F.xxhash64("file_sha256"))
            files.write.mode("overwrite").parquet(io.path("E", "files"))
            stmts = extract(source_files, self.default_graph)
            io.write_parquet("E", stmts)
            out = io.read_parquet("E")
            io.write_lineage("E", out)
            # the lineage pass counted every partition — sum the tiny
            # lineage table instead of a second full scan of E
            n = int(io.read_lineage("E").agg(F.sum("n_rows")).first()[0] or 0)
            return {"statements": n}

        self.runner.run("E", fn)

    def stage_d(self) -> None:
        def fn(io: StageIO) -> dict:
            stmts = io.read_parquet("E")
            # ONE scan of E feeds both dictionaries AND stage V's target-key
            # discovery: the (kind, ...) explode distincts predicates,
            # graphs, and (p, s_kind, o_kind, lang, datatype) table keys
            # together; the small distinct set persists and each consumer
            # selects its rows (ids identical to per-column builds — same
            # distinct sets). Three full scans of a 100 TB E become one.
            ns = F.lit(None).cast("string")

            def kv(k, v, s_kind=ns, o_kind=ns, o_lang=ns, o_datatype=ns):
                return F.struct(
                    F.lit(k).alias("k"),
                    v.alias("v"),
                    s_kind.alias("s_kind"),
                    o_kind.alias("o_kind"),
                    o_lang.alias("o_lang"),
                    o_datatype.alias("o_datatype"),
                )

            pairs = (
                stmts.select(
                    F.explode(
                        F.array(
                            kv("p", F.col("p_iri")),
                            kv("g", F.col("g_iri")),
                            kv(
                                "t",
                                F.col("p_iri"),
                                F.col("s_kind"),
                                F.col("o_kind"),
                                F.col("o_lang"),
                                F.col("o_datatype"),
                            ),
                        )
                    ).alias("kv")
                )
                .select("kv.*")
                .where((F.col("k") == "t") | F.col("v").isNotNull())
                # groupBy-count instead of distinct: identical shuffle
                # (both partial-hash-aggregate map-side), but the 't'
                # rows' counts are the per-table statement totals stage V
                # needs to SIZE each table's write salt (small tables one
                # file, Zipf-head tables fanned out — vertical.table_salts)
                .groupBy("k", "v", "s_kind", "o_kind", "o_lang", "o_datatype")
                .agg(F.count(F.lit(1)).alias("n_rows"))
                .persist()
            )
            preds = build_dictionary(
                pairs.where(F.col("k") == "p").select(F.col("v").alias("p_iri")),
                "p_iri",
            )
            # graph domain is unbounded at 10^12-file scale (per-file
            # graphs) -> two-level deterministic id assignment
            graphs = build_dictionary(
                pairs.where(F.col("k") == "g").select(F.col("v").alias("g_iri")),
                "g_iri",
                n_buckets=64,
            )
            preds.coalesce(1).write.mode("overwrite").parquet(io.path("D", "predicates"))
            graphs.write.mode("overwrite").parquet(io.path("D", "graphs"))
            # vocabulary-sized; stage V collects it instead of re-scanning E
            pairs.where(F.col("k") == "t").select(
                F.col("v").alias("p_iri"), "s_kind", "o_kind", "o_lang",
                "o_datatype", "n_rows",
            ).coalesce(1).write.mode("overwrite").parquet(io.path("D", "target_keys"))
            pairs.unpersist()

            return {
                "predicates": self.predicates().count(),
                "graphs": self.graphs().count(),
            }

        self.runner.run("D", fn)

    def stage_v(self) -> None:
        def fn(io: StageIO) -> dict:
            stmts = io.read_parquet("E")
            # target keys were discovered inside stage D's single fused
            # scan (vocabulary-sized parquet); re-deriving them here would
            # be one more full pass over a 100 TB E
            # per-key statement counts size each table's write salt from
            # its measured row count instead of a fixed files-per-table
            key_rows = {
                (r.p_iri, r.s_kind, r.o_kind, r.o_lang, r.o_datatype): int(r.n_rows)
                for r in self.spark.read.parquet(io.path("D", "target_keys")).collect()
            }
            keys = sorted(
                key_rows, key=lambda k: tuple("" if x is None else x for x in k)
            )
            catalog = vertical.build_catalog(keys, self.namespaces, self.default_graph)
            catalog.dictionaries = {"predicates": "D/predicates", "graphs": "D/graphs"}
            table_rows = {
                t.name: key_rows[
                    (
                        t.predicates[0].predicate, t.subject_kind,
                        t.predicates[0].obj_kind, t.predicates[0].lang,
                        t.predicates[0].datatype,
                    )
                ]
                for t in catalog.tables
            }
            routed = vertical.route_statements(
                self.spark, stmts, catalog, self.graphs(),
                table_rows=table_rows,
            )
            io.write_parquet("V", routed, partition_by=["t"])
            written = io.read_parquet("V")
            files = self.spark.read.parquet(io.path("E", "files"))
            # ONE scan of V serves both per-table counts and lineage: the
            # (partition, table) pre-aggregate is tiny (partitions x
            # tables), persists, and re-aggregates each way
            pre = (
                written.groupBy(
                    F.spark_partition_id().alias("partition_id"), "t"
                )
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sort_array(F.collect_set("file_id")).alias("__idset"),
                )
                .persist()
            )
            counts = {
                r["t"]: int(r["n"])
                for r in pre.groupBy("t").agg(F.sum("n_rows").alias("n")).collect()
            }
            io.write_lineage_from_pre("V", pre, sha_col="file_id", sha_dict=files)
            pre.unpersist()
            for t in catalog.tables:
                t.row_count = counts.get(t.name, 0)
            catalog.tables = [t for t in catalog.tables if t.row_count]
            io.write_catalog("V", catalog)
            return {"tables": len(catalog.tables), "rows": sum(counts.values())}

        self.runner.run("V", fn)

    def stage_o(self) -> None:
        """Layout passes: type split + fused per-table rewrite (steps 1-2,
        8-9 of Loader.STEPS, Loader.java:151-159)."""
        from .operators import passes

        import time

        self._batch_reads.clear()  # re-runs may rewrite batch dirs

        def fn(io: StageIO) -> dict:
            t0 = time.time()
            catalog = io.read_catalog("V")
            v_data = io.path("V", "data")
            catalog, split_paths = passes.split_type_tables(
                self.spark, catalog, v_data, io.path("O", "split")
            )
            TIMINGS["O.split"] = round(time.time() - t0, 3)
            t_prep = time.time()

            def build_dicts():
                t0 = time.time()
                schemes, hosts, tagged = passes.build_scheme_host_dicts(
                    self.spark, v_data
                )
                schemes.coalesce(1).write.mode("overwrite").parquet(
                    io.path("O", "schemes")
                )
                hosts.coalesce(1).write.mode("overwrite").parquet(io.path("O", "hosts"))
                tagged.unpersist()
                TIMINGS["O.dicts"] = round(time.time() - t0, 3)

            def run_probe():
                # every table's probe (column stats, narrow guards, collapse
                # max-graphs) in ONE pair of grouped jobs over the generic V
                # schema — the per-table loop below then runs exactly one
                # job per table (the write), with the row count taken from
                # an Observation metric on that same write instead of a
                # read-back count. 3 fewer driver jobs per table; at
                # 10^4-10^5 predicate tables the driver round-trips were
                # the bottleneck.
                t0 = time.time()
                out = passes.fused_probe_tables(
                    self.spark, catalog, v_data, split_paths
                )
                TIMINGS["O.probe"] = round(time.time() - t0, 3)
                return out

            # the dictionary build and the fused probe are independent
            # scans of V — overlap them on the scheduler
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                f_dicts = ex.submit(build_dicts)
                f_stats = ex.submit(run_probe)
                f_dicts.result()
                stats_all = f_stats.result()
            schemes = self.spark.read.parquet(io.path("O", "schemes"))
            hosts = self.spark.read.parquet(io.path("O", "hosts"))
            catalog.dictionaries["schemes"] = "O/schemes"
            catalog.dictionaries["hosts"] = "O/hosts"
            # hosts is unbounded by design (one per crawled site), so it
            # never gets a blind broadcast hint — but it IS materialized
            # right here, so the driver can decide from its MEASURED size:
            # under the threshold it broadcasts into every per-table encode
            # join (a per-table shuffle join of a tiny dim was the round-3
            # stage-O regression); over it, plain join + AQE.
            small_dicts = frozenset(
                name
                for name in ("hosts",)
                if _dir_bytes(io.path("O", name)) <= BROADCAST_DICT_MAX_BYTES
            )
            TIMINGS["O.prep_wall"] = round(time.time() - t_prep, 3)
            t0 = time.time()

            # the rewrite plan for each table (pure driver-side analysis:
            # the fused probe already supplied every stat). Source reads
            # share ONE inferred schema per parent layout — an unadorned
            # spark.read.parquet submits a 1-task footer-inference job,
            # which a per-table loop turns into a job per table.
            schema_cache: dict = {}

            def read_src(src_dir):
                parent = os.path.dirname(src_dir)
                sch = schema_cache.get(parent)
                if sch is None:
                    src = self.spark.read.parquet(src_dir)
                    schema_cache[parent] = src.schema
                    return src
                return self.spark.read.schema(sch).parquet(src_dir)

            def optimize_frame(t):
                src_dir = split_paths.get(t.name, f"{v_data}/t={t.name}")
                src = read_src(src_dir)
                # size-derived file target for the identity fast path (the
                # collapse shuffle it skips would have AQE-coalesced) —
                # same 128 MiB goal as vacuum's compaction
                stats_all[t.name]["__target_partitions"] = max(
                    1, _dir_bytes(src_dir) // (128 * 1024 * 1024) + 1
                )
                df = vertical.rename_generic(src, t)
                return passes.optimize_table(
                    self.spark, df, t, schemes, hosts,
                    small_dicts=small_dicts, stats=stats_all[t.name],
                )

            # warm the schema cache serially (one footer-inference job per
            # distinct source layout), then build the frames on the POOL —
            # plan construction is eager-analysis py4j work (~50 ms per
            # table, 3.5 s serial at 64 tables) and the Java calls release
            # the GIL, so threads overlap it
            seen_parents = set()
            for t in catalog.tables:
                src_dir = split_paths.get(t.name, f"{v_data}/t={t.name}")
                parent = os.path.dirname(src_dir)
                if parent not in seen_parents:
                    seen_parents.add(parent)
                    read_src(src_dir)
            table_counts = _write_batched(
                self.spark,
                _pooled_map(lambda t: (t, optimize_frame(t)), catalog.tables),
                io.path("O", "batch"),
                "O/batch",
                pool="stage_o",
            )
            for t in catalog.tables:
                t.row_count = table_counts.get(t.name, 0)
                # merge-probe fold: the fused probe counted this table's
                # exact subject-key groups; strictly fewer groups than
                # written rows == some subject repeats (pigeonhole). The
                # flag rides the catalog so stage M's A2 probe costs
                # zero jobs (merging._fused_probe repeating_hint).
                sg = stats_all.get(t.name, {}).get("__subject_groups")
                if sg is not None and t.row_count:
                    t.subject_repeating = sg < t.row_count
            TIMINGS["O.optimize"] = round(time.time() - t0, 3)
            catalog.tables = [t for t in catalog.tables if t.row_count]
            io.write_catalog("O", catalog)
            return {"tables": len(catalog.tables), "rows_after_collapse": sum(table_counts.values())}

        self.runner.run("O", fn)

    def stage_m(self) -> None:
        """Table merging (step 4) + post-merge re-optimization (step 6) +
        final mapping emission (steps 3/5/7 collapse into one artifact)."""
        import time

        from .operators import merging, passes

        self._batch_reads.clear()  # re-runs may rewrite batch dirs

        def fn(io: StageIO) -> dict:
            catalog = io.read_catalog("O")
            # batch members share ONE read per batch root (reader())
            t0 = time.time()
            read = self.reader("O")
            frames = {t.name: read(t) for t in catalog.tables}
            TIMINGS["M.read"] = round(time.time() - t0, 3)
            sizes = {t.name: t.row_count or 0 for t in catalog.tables}
            # stage O already computed every repeating-subject flag
            # (catalog subject_repeating); with a complete hint the merge
            # probe scans nothing unless merge CANDIDATES exist, and then
            # only the candidate tables. A partial hint (resumed pre-fold
            # work dir) falls back to the full fused probe.
            hint = {t.name: t.subject_repeating for t in catalog.tables}
            if any(v is None for v in hint.values()):
                hint = None
            t0 = time.time()
            changed, dropped, unique_hint = merging.run_merges(
                self.spark, catalog, frames, sizes, repeating_hint=hint
            )
            TIMINGS["M.merge"] = round(time.time() - t0, 3)
            for k, v in merging.LAST_TIMINGS.items():
                TIMINGS[f"M.merge.{k}"] = v
            t0 = time.time()

            # changed tables: ONE fused reopt probe job per schema shape
            # (count/min/max for every table at once — no per-table agg
            # jobs), then ALL writes fuse into batched jobs: stage M's
            # job count is sub-linear in table count end to end
            to_write = [t for t in catalog.tables if t.name in changed]
            reopt_stats = passes.fused_reopt_probe(
                self.spark,
                [(t, frames[t.name]) for t in to_write],
                pooled_map=_pooled_map,
            )

            def reopt_frame(t):
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", "stage_m"
                )
                return (
                    t,
                    passes.optimize_table(
                        self.spark, frames[t.name], t, mode="reopt",
                        stats=reopt_stats[t.name],
                    ),
                )

            m_counts = _write_batched(
                self.spark,
                _pooled_map(reopt_frame, to_write),
                io.path("M", "batch"),
                "M/batch",
                pool="stage_m",
            )
            for t in to_write:
                t.row_count = m_counts.get(t.name, 0)
            TIMINGS["M.reopt"] = round(time.time() - t0, 3)
            t0 = time.time()
            # step 10 analog: record verified subject uniqueness per table.
            # The merge probe's flags survive the cascade unchanged (see
            # run_merges), so this resolves from ``known`` with zero jobs.
            uniq = merging.verify_subject_uniqueness(
                self.spark, catalog, frames, known=unique_hint
            )
            TIMINGS["M.verify"] = round(time.time() - t0, 3)
            io.write_catalog("M", catalog)
            doc = mapping_document(catalog)
            with open(io.path("M", "mapping.ttl"), "w") as f:
                f.write(doc)
            return {
                "merged_or_shrunk": changed,
                "dropped_empty": dropped,
                "tables": len(catalog.tables),
                "unique_subject_tables": sum(1 for v in uniq.values() if v),
            }

        self.runner.run("M", fn)

    def stage_l(self, threshold: float = 0.7, k: int = 8) -> None:
        """Entity linking (north-star stage L): literal-bearing subjects
        become mentions; MinHash-LSH blocking + Jaccard scoring emits
        owl:sameAs edges."""
        from .operators.linking import link_mentions

        def fn(io: StageIO) -> dict:
            trips = self.triples("M")
            mentions = (
                trips.where(F.col("o_kind") == "literal")
                .groupBy(F.col("s").alias("entity_id"))
                .agg(
                    F.concat_ws(
                        " ", F.sort_array(F.collect_set("o_lex"))
                    ).alias("mention")
                )
            )
            mentions.write.mode("overwrite").parquet(io.path("L", "mentions"))
            mentions = self.spark.read.parquet(io.path("L", "mentions"))
            edges = link_mentions(mentions, threshold=threshold, k=k)
            edges.write.mode("overwrite").parquet(io.path("L", "edges"))
            out = self.spark.read.parquet(io.path("L", "edges"))
            io.write_lineage("L", out, sha_col=None)
            return {"mentions": mentions.count(), "edges": out.count()}

        self.runner.run("L", fn)

    def stage_c(self) -> None:
        """Canonicalization (north-star stage C): connected components over
        sameAs edges -> (entity_id, canonical_id) mapping."""
        from .operators.linking import canonical_mapping

        def fn(io: StageIO) -> dict:
            mentions = self.spark.read.parquet(io.path("L", "mentions"))
            edges = self.spark.read.parquet(io.path("L", "edges"))
            mapping = canonical_mapping(mentions, edges)
            mapping.write.mode("overwrite").parquet(io.path("C", "canonical_map"))
            out = self.spark.read.parquet(io.path("C", "canonical_map"))
            io.write_lineage("C", out, sha_col=None)
            n_clusters = out.select("canonical_id").distinct().count()
            return {"entities": out.count(), "clusters": n_clusters}

        self.runner.run("C", fn)

    def vacuum(
        self, compact_target_mb: int = 128, expire_superseded: bool = False
    ) -> dict:
        """Step 11 analog (PoorMansVacuum.java:22-65: the reference copies
        every live table into a fresh DB file, dropping dead space). The
        Spark-native equivalents, both offline ops like the reference's:

        - COMPACTION: each catalog table's parquet dir is rewritten into
          ceil(bytes / compact_target_mb) files when it holds more — the
          many-small-files left by wide writes are the cluster version of
          DuckDB's dead pages (every downstream scan pays per-file open
          cost; Iceberg calls this rewrite_data_files).
        - EXPIRY (opt-in): uncommitted stage leftovers are removed, and
          with ``expire_superseded=True`` data superseded by the current
          catalog (V/data and O/batch members no longer referenced once M
          is committed) is deleted — manifests, catalogs and lineage stay
          (Iceberg expire_snapshots keeps metadata too).
        """
        import math
        import re
        import shutil as sh

        self._batch_reads.clear()  # compaction rewrites table dirs
        stage = self.last_catalog_stage()
        catalog = self.catalog(stage)

        def dir_stats(d: str) -> tuple[int, int]:
            n, size = 0, 0
            for base, _dirs, files in os.walk(d):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(base, fn))
            return n, size

        stats = {"tables_compacted": 0, "files_before": 0, "files_after": 0,
                 "orphans_removed": 0, "superseded_removed": 0}

        def compact_one(t):
            self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "vacuum")
            d = os.path.join(self.io.root, t.path)
            base0 = os.path.dirname(d)
            # crash recovery (ADVICE r5): a crash between rename(d->trash)
            # and rename(tmp->d) leaves the live dir MISSING with the full
            # committed data in the hidden trash sibling. Restore it before
            # anything else — dir_stats on the missing d would read 0 files
            # and return early, and the idempotent leftover sweep below
            # would delete the only remaining copy. Only .trash is a safe
            # source (it is the original moved atomically; .vacuum may be
            # a partial write), and d-missing implies .trash exists: trash
            # is only removed after tmp->d restores the live dir.
            prev = os.path.join(base0, f".{os.path.basename(d)}.trash")
            if not os.path.exists(d) and os.path.exists(prev):
                os.rename(prev, d)
            n_files, size = dir_stats(d)
            target = max(1, math.ceil(size / (compact_target_mb * 1024 * 1024)))
            if n_files <= target:
                return 0, 0
            # dot-prefixed temp/trash names: Spark partition discovery
            # ignores hidden dirs, so a crashed compaction can never leave
            # a phantom t=<name>.vacuum partition inside a batch root
            base = os.path.dirname(d)
            tmp = os.path.join(base, f".{os.path.basename(d)}.vacuum")
            trash = os.path.join(base, f".{os.path.basename(d)}.trash")
            for leftover in (tmp, trash):  # idempotent retry
                if os.path.exists(leftover):
                    sh.rmtree(leftover)
            self.spark.read.parquet(d).coalesce(target).write.mode(
                "overwrite"
            ).parquet(tmp)
            # never delete committed data before its replacement is in
            # place: d -> trash, tmp -> d, then drop trash. A crash
            # between the renames leaves the full data in the hidden
            # trash dir (recoverable), not destroyed.
            os.rename(d, trash)
            os.rename(tmp, d)
            sh.rmtree(trash)
            return n_files, dir_stats(d)[0]

        # V tables share the one V/data partitioning; only stored (batch
        # member) tables are compacted
        stored = [] if stage == "V" else catalog.tables
        for before, after in _pooled_map(compact_one, stored):
            if before:
                stats["tables_compacted"] += 1
                stats["files_before"] += before
                stats["files_after"] += after

        # uncommitted stage leftovers (a crash between begin() and commit()).
        # ONLY known stage names are swept: a directory the user (or a
        # concurrent writer) placed in the work dir is not ours to delete
        # (ADVICE r2 — the previous sweep rmtree'd every non-committed dir).
        for entry in os.listdir(self.io.root):
            d = os.path.join(self.io.root, entry)
            if (
                (entry in KNOWN_STAGES or re.fullmatch(r"U\d+", entry))
                and os.path.isdir(d)
                and not self.io.is_committed(entry)
            ):
                sh.rmtree(d)
                stats["orphans_removed"] += 1

        # superseded-data expiry is path-based: a t= member of a batch
        # root that the CURRENT catalog does not reference is dead
        live = {t.path for t in catalog.tables}

        def sweep_batch_root(stage_name: str, sub: str) -> None:
            root_dir = self.io.path(stage_name, sub)
            if not os.path.isdir(root_dir):
                return
            for g in os.listdir(root_dir):
                gdir = os.path.join(root_dir, g)
                if not os.path.isdir(gdir):
                    continue
                for part in os.listdir(gdir):
                    if (
                        part.startswith("t=")
                        and f"{stage_name}/{sub}/{g}/{part}" not in live
                    ):
                        sh.rmtree(os.path.join(gdir, part))
                        stats["superseded_removed"] += 1

        if expire_superseded and stage.startswith("U"):
            # update-chain expiry: table dirs of OLDER update snapshots
            # (and of M) that the CURRENT catalog no longer references —
            # rebuilt/delta tables superseded by newer updates. Catalogs,
            # manifests and dictionaries stay (metadata, like Iceberg
            # expire_snapshots); the O sweep below also runs.
            for entry in sorted(os.listdir(self.io.root)):
                if entry == stage or not self.io.is_committed(entry):
                    continue
                if re.fullmatch(r"U\d+", entry):
                    sweep_batch_root(entry, "tables")
            sweep_batch_root("M", "batch")

        if expire_superseded and (
            stage == "M"
            or (stage.startswith("U") and self.io.is_committed("M"))
        ):
            v_data = self.io.path("V", "data")
            if os.path.exists(v_data):
                sh.rmtree(v_data)
                stats["superseded_removed"] += 1
            sweep_batch_root("O", "batch")
            split = self.io.path("O", "split")
            if os.path.exists(split):
                sh.rmtree(split)
                stats["superseded_removed"] += 1
        return stats

    def canonical_triples(self) -> DataFrame:
        """Triples with subjects rewritten to their cluster canonical id
        (salted join — canonical ids are hot keys by construction)."""
        from .operators.linking import rewrite_subjects

        mapping = self.spark.read.parquet(self.io.path("C", "canonical_map"))
        return rewrite_subjects(self.triples("M"), mapping)

    # -- accessors ---------------------------------------------------------
    def _current_dict(self, name: str) -> DataFrame:
        """The named dictionary of the CURRENT catalog — SPARQL Update
        stages EXTEND dictionaries (new graph/predicate IRIs get offset
        ids), so reading stage D unconditionally would decode post-update
        ids to NULL. Falls back to the stage-D dictionary while the
        initial load is still building (stage D/V run before any catalog
        commits)."""
        try:
            stage = self.last_catalog_stage()
            rel = self.io.read_catalog(stage).dictionaries.get(name)
        except RuntimeError:
            rel = None
        if rel is None:
            return self.spark.read.parquet(self.io.path("D", name))
        return self.spark.read.parquet(os.path.join(self.io.root, rel))

    def predicates(self) -> DataFrame:
        return self._current_dict("predicates")

    def graphs(self) -> DataFrame:
        return self._current_dict("graphs")

    def dicts(self, stage: str | None = None, cat: Catalog | None = None) -> dict:
        """Dictionary DataFrames referenced by the stage's catalog. Pass
        an already-loaded ``cat`` to skip re-parsing catalog.json — at a
        real-KG vocabulary (10^4-10^5 TableSpecs) the catalog is tens of
        MB and every query entry point otherwise parses it twice."""
        stage = stage or self.last_catalog_stage()
        cat = cat or self.io.read_catalog(stage)
        out = {}
        for name, rel in cat.dictionaries.items():
            out[name] = self.spark.read.parquet(os.path.join(self.io.root, rel))
        return out

    def catalog(self, stage: str = None) -> Catalog:
        stage = stage or self.last_catalog_stage()
        return self.io.read_catalog(stage)

    def last_catalog_stage(self) -> str:
        # SPARQL Update stages (U1, U2, ...) supersede the load stages;
        # the latest committed one carries the current catalog
        import re as _re

        us = sorted(
            (
                int(m.group(1))
                for d in os.listdir(self.io.root)
                for m in (_re.fullmatch(r"U(\d+)", d),)
                if m and self.io.is_committed(d)
            ),
            reverse=True,
        )
        for stage in [f"U{i}" for i in us] + ["M", "O", "V"]:
            if self.io.is_committed(stage):
                return stage
        raise RuntimeError("no committed catalog stage; run the pipeline first")

    def reader(self, stage: str):
        """Table reader for the given stage's storage layout."""
        if stage == "V":
            data = self.io.path("V", "data")

            def read(t: TableSpec) -> DataFrame:
                return vertical.read_table(self.spark, data, t)

        else:

            def batch_raw(batch_rel: str) -> DataFrame:
                """Shared read of one batch root (t partition column +
                positional c0..cN): footer inference runs once per batch,
                not once per member table. Cached on the pipeline; the
                writing stages invalidate."""
                base = self._batch_reads.get(batch_rel)
                if base is None:
                    base = self.spark.read.parquet(
                        os.path.join(self.io.root, batch_rel)
                    )
                    self._batch_reads[batch_rel] = base
                return base

            def read(t: TableSpec) -> DataFrame:
                # batch member: partition-pruned filter + rename on the
                # shared batch-root read
                base = batch_raw(t.path.rsplit("/t=", 1)[0])
                return base.where(F.col("t") == t.name).select(
                    *[
                        F.col(f"c{i}").alias(name)
                        for i, name in enumerate(t.storage_columns)
                    ]
                )

            # fused multi-table scans (plans.r2rml._fused_scan) need the
            # RAW batch frame; expose it as a reader attribute so callers
            # without a pipeline keep working (getattr default None)
            read.batch_raw = batch_raw

        return read

    # -- products ------------------------------------------------------
    def triples(self, stage: str | None = None) -> DataFrame:
        stage = stage or self.last_catalog_stage()
        cat = self.catalog(stage)
        return reconstruct_triples(cat, self.reader(stage), self.dicts(stage, cat))

    def triples_with_graph_iri(self, stage: str | None = None) -> DataFrame:
        # NO forced broadcast: the graph domain is unbounded by design
        # (per-file graphs at 10^12-file scale — the same reason stage D
        # two-level-buckets graph ids). AQE broadcasts when actually small;
        # a forced broadcast OOMs the driver at web scale.
        t = self.triples(stage)
        g = self.graphs().select(F.col("id").alias("g_id"), F.col("iri").alias("g"))
        return t.join(g, "g_id", "left").drop("g_id")

    def distinct_types(self, stage: str | None = None) -> DataFrame:
        stage = stage or self.last_catalog_stage()
        cat = self.catalog(stage)
        return distinct_types(cat, self.reader(stage), self.dicts(stage, cat))

    def write_mapping(self, stage: str | None = None) -> str:
        stage = stage or self.last_catalog_stage()
        doc = mapping_document(self.catalog(stage))
        path = self.io.path(stage, "mapping.ttl")
        with open(path, "w") as f:
            f.write(doc)
        return path

    def register_views(self, stage: str | None = None, prefix: str = "") -> list[str]:
        """Register every catalog table plus the reconstructed ``triples``
        view as Spark temp views, so the loaded KG is queryable with plain
        ``spark.sql`` — the reference's users query its DuckDB tables with
        SQL directly; this is the same surface (the R2RML mapping names
        match: ``rr:tableName`` == the view name). Returns the view names."""
        stage = stage or self.last_catalog_stage()
        catalog = self.catalog(stage)
        reader = self.reader(stage)
        names = []
        for t in catalog.tables:
            name = f"{prefix}{t.name}"
            reader(t).createOrReplaceTempView(name)
            names.append(name)
        self.triples(stage).createOrReplaceTempView(f"{prefix}triples")
        names.append(f"{prefix}triples")
        return names

    # -- entry ---------------------------------------------------------
    def load(self, source_files: DataFrame) -> "KgPipeline":
        """Run the full load pipeline E -> D -> V -> O -> M."""
        self.stage_e(source_files)
        self.stage_d()
        self.stage_v()
        self.stage_o()
        self.stage_m()
        return self

    def update(self, text: str) -> "KgPipeline":
        """Run a SPARQL 1.1 Update request (INSERT/DELETE DATA, DELETE/
        INSERT ... WHERE, CLEAR/DROP, ADD/COPY/MOVE; ';'-separated
        sequences). Each operation commits one ``U{k}`` stage whose
        catalog references unchanged tables in place — see
        plans/sparql_update.py."""
        from .plans.sparql_update import sparql_update

        sparql_update(self, text)
        return self

    def append(self, source_files: DataFrame) -> "KgPipeline":
        """Incrementally load MORE source files into an already-loaded KG
        (the reference's bulk-append workflow, LoadIntoTable.java append
        paths — realized as one update snapshot instead of a full
        reload): parse the new files to lexical quads and apply them as
        a set-semantics insert. Cost is delta-bounded — only the new
        files parse, only their predicates' tables anti-join, existing
        tables are referenced in place. Re-appending identical content
        is a no-op (RDF set semantics). Bnode labels mint ids from the
        file sha256, exactly like the initial load — the same file
        appends the same bnodes."""
        from .operators.extract import parse_statements
        from .plans.sparql_update import apply_update

        raw = parse_statements(source_files, self.default_graph)
        good = raw.where(F.col("parse_error").isNull())
        b = lambda kind, lex: F.when(  # noqa: E731
            F.col(kind) == "bnode",
            F.concat(F.lit("b"), F.xxhash64("file_sha256", lex).cast("string")),
        ).otherwise(F.col(lex))
        quads = good.select(
            F.col("s_kind"),
            b("s_kind", "s_lex").alias("s"),
            F.col("p_iri").alias("p"),
            F.col("o_kind"),
            b("o_kind", "o_lex").alias("o_lex"),
            F.col("o_lang"),
            F.col("o_datatype"),
            F.col("g_iri"),
        ).distinct()
        apply_update(self, None, quads)
        return self
