"""Stage snapshot I/O: atomic commits, per-partition lineage, resume.

Reference counterpart: DuckDB ``CHECKPOINT`` + ``description.ttl`` rewrite
after every pipeline step (JdbcUtil.java:26-33, Loader.java:207-213) and the
reload-or-parse resume branch (Loader.java:171-183).

Spark realization (Iceberg-snapshot semantics without requiring the Iceberg
jar, which is absent in this sandbox — swap `spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime...` on a real cluster):

- each stage owns ``<root>/<stage>/``; data is written under it, then a
  ``_SNAPSHOT.json`` manifest is created via write-temp + atomic rename.
  A stage directory without a manifest is an uncommitted leftover and is
  overwritten on re-run; a manifest present means the stage is committed
  and is *skipped* on resume (no recomputation — tested by killing between
  stages).
- a ``lineage`` parquet per stage records one row per partition:
  (stage, partition_id, n_rows, input sha256 set, wall_ms) — the
  north-rule lineage contract, and the place skew becomes visible.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog

MANIFEST = "_SNAPSHOT.json"


class StageIO:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def path(self, stage: str, *parts: str) -> str:
        return os.path.join(self.stage_dir(stage), *parts)

    # -- commit protocol -----------------------------------------------
    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self.path(stage, MANIFEST))

    def begin(self, stage: str) -> None:
        """Re-running an uncommitted stage clears its leftovers first."""
        d = self.stage_dir(stage)
        if os.path.exists(d) and not self.is_committed(stage):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)

    def commit(self, stage: str, manifest: dict) -> None:
        manifest = dict(manifest)
        manifest.setdefault("stage", stage)
        manifest["committed_at_unix"] = time.time()
        tmp = self.path(stage, f".{MANIFEST}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, self.path(stage, MANIFEST))

    def manifest(self, stage: str) -> dict:
        with open(self.path(stage, MANIFEST)) as f:
            return json.load(f)

    # -- catalog ---------------------------------------------------------
    def write_catalog(self, stage: str, catalog: Catalog) -> None:
        with open(self.path(stage, "catalog.json"), "w") as f:
            f.write(catalog.to_json())
        # the reference writes the catalog as RDF after every step
        # (description.ttl, TableDescriptionAsRdf.java:35-120); same
        # artifact here — catalog.json stays the operational checkpoint
        from .catalog_rdf import catalog_to_turtle

        with open(self.path(stage, "description.ttl"), "w") as f:
            f.write(catalog_to_turtle(catalog))

    def read_catalog(self, stage: str) -> Catalog:
        with open(self.path(stage, "catalog.json")) as f:
            return Catalog.from_json(f.read())

    # -- lineage ---------------------------------------------------------
    def write_lineage(
        self,
        stage: str,
        df: DataFrame,
        wall_ms: float = 0.0,
        sha_col: str | None = "file_sha256",
        sha_dict: DataFrame | None = None,
    ) -> None:
        """One row per (re-read) partition of the stage's committed data.

        Computed from the *written* dataset so the recorded partitioning is
        the one a downstream reader observes. ``collect_set`` of file hashes
        is bounded by files-per-partition, not rows. When the frame carries
        the compact ``file_id`` instead of the sha (stages after E shuffle
        8-byte ids, not 64-char hashes), pass ``sha_dict`` (file_id ->
        file_sha256) and the lineage rows still record real sha sets.
        """
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        has_sha = bool(sha_col) and sha_col in df.columns
        if has_sha:
            aggs.append(F.sort_array(F.collect_set(sha_col)).alias("__idset"))
        lineage = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs)
        self._finish_lineage(stage, lineage, has_sha, sha_col, sha_dict, wall_ms)

    def write_lineage_from_pre(
        self,
        stage: str,
        pre: DataFrame,
        wall_ms: float = 0.0,
        sha_col: str | None = "file_sha256",
        sha_dict: DataFrame | None = None,
    ) -> None:
        """Lineage from a PRE-AGGREGATED frame with columns
        (partition_id, n_rows, __idset[, ...]) — possibly several rows per
        partition (e.g. grouped by (partition, table) so one scan serves
        both lineage and per-table counts). Rows re-aggregate per
        partition; the id->sha decode tail is shared with
        :meth:`write_lineage`."""
        lineage = pre.groupBy("partition_id").agg(
            F.sum("n_rows").alias("n_rows"),
            F.array_distinct(
                F.sort_array(F.flatten(F.collect_list("__idset")))
            ).alias("__idset"),
        )
        self._finish_lineage(stage, lineage, True, sha_col, sha_dict, wall_ms)

    def _finish_lineage(
        self, stage, lineage, has_sha, sha_col, sha_dict, wall_ms
    ) -> None:
        if has_sha and sha_dict is not None:
            pairs = F.broadcast(
                sha_dict.select(F.col(sha_col).alias("__id"), F.col("file_sha256"))
            )
            lineage = (
                lineage.select("*", F.explode_outer("__idset").alias("__id"))
                .join(pairs, "__id", "left")
                .groupBy("partition_id", "n_rows")
                .agg(F.sort_array(F.collect_set("file_sha256")).alias("input_sha256_set"))
            )
        elif has_sha:
            lineage = lineage.withColumnRenamed("__idset", "input_sha256_set")
        lineage = lineage.withColumn("stage", F.lit(stage)).withColumn(
            "wall_ms", F.lit(float(wall_ms))
        )
        lineage.write.mode("overwrite").parquet(self.path(stage, "lineage"))

    def read_lineage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage, "lineage"))

    # -- data ------------------------------------------------------------
    def write_parquet(
        self,
        stage: str,
        df: DataFrame,
        name: str = "data",
        partition_by: list[str] | None = None,
    ) -> str:
        target = self.path(stage, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        if not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(target)
            for f in fs
        ):
            # zero rows + partitionBy writes NO data files (just _SUCCESS),
            # which cannot be read back (UNABLE_TO_INFER_SCHEMA) — e.g. a
            # corpus whose every statement is a parse error. Re-write one
            # empty schema-bearing file so the stage dir always reads.
            df.limit(0).repartition(1).write.mode("overwrite").parquet(target)
        return target

    def read_parquet(self, stage: str, name: str = "data") -> DataFrame:
        return self.spark.read.parquet(self.path(stage, name))


class StageRunner:
    """Resume-aware stage execution (Loader.parse, Loader.java:193-213)."""

    def __init__(self, io: StageIO, force: bool = False):
        self.io = io
        self.force = force
        self.timings: dict[str, float] = {}

    def run(self, stage: str, fn, *args, **kwargs):
        """Run ``fn(io, *args)`` unless the stage is already committed.

        ``fn`` must write its outputs under ``io.path(stage, ...)`` and
        return the manifest dict; commit happens here, after fn succeeds.
        """
        if self.io.is_committed(stage) and not self.force:
            self.timings[stage] = 0.0
            return False
        t0 = time.time()
        self.io.begin(stage)
        manifest = fn(self.io, *args, **kwargs) or {}
        wall = (time.time() - t0) * 1000
        manifest["wall_ms"] = wall
        self.io.commit(stage, manifest)
        self.timings[stage] = wall
        return True
