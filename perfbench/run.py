"""Load and query benchmark for the r2s2_spark engine.

    python3 perfbench/run.py --workload load --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

- ``load``: build a KG from a seeded mixed-syntax corpus through stages
  E, D, V, O, M, each round in a fresh work directory.
- ``query``: set-up loads the corpus once; each round then runs nine
  parameterised SELECT/ASK/CONSTRUCT queries whose constants come from
  the seed.

Every output is checked against gen.py's triple set (see check.py). The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 1`` the run records a span
per call and then also runs, traced, the layers the workload does not
time (stages L and C, queries, an INSERT DATA, a parse of each syntax);
it reports per-layer metrics instead, and writes its spans to
``.perfbench/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"
LOAD_STAGES = ("E", "D", "V", "O", "M")


def prepare_env(work: str) -> None:
    """Process environment for a reproducible local Spark run."""
    os.environ.pop("SPARK_GRAFT_CONF", None)  # no ad-hoc conf overrides
    # executors import r2s2_spark from the checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, mem_gb // 8))}g"
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_spark(work: str):
    from r2s2_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job's stages back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_seconds(spark) -> float:
    """CPU seconds used so far by this process, the gateway JVM and the
    JVM's Python workers (a reaped worker's time is in its parent's
    children fields). Steal time on a shared host does not count here,
    where it stretches wall-clock times."""
    tick = os.sysconf("SC_CLK_TCK")
    jvm = spark.sparkContext._gateway.proc.pid
    total = 0
    for pid in [jvm] + _descendants(jvm):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the scan
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    own = os.times()
    return own.user + own.system + total / tick


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in procs):
        time.sleep(0.1)


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, fn))
    return total


class Bench:
    """The benchmark's calls into the program, each timed in a span, with
    the checks of their outputs (check failures are collected, not
    raised: they make the run's ``correct`` false)."""

    def __init__(self, spark, corpus: gen.Corpus, tracer: Tracer, work: str):
        from r2s2_spark.pipeline import KgPipeline
        from r2s2_spark.plans.sparql_text import sparql_query

        self.KgPipeline = KgPipeline
        self.sparql_query = sparql_query
        self.spark = spark
        self.corpus = corpus
        self.tracer = tracer
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.rename: dict = {}  # engine blank-node label -> generator label
        self.parse_error_rows: int | None = None
        self.n_pipes = 0
        self.src = spark.createDataFrame(corpus.rows(), SOURCE_SCHEMA)

    def note(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def verify(self, what: str, fn) -> None:
        try:
            fn()
        except check.CheckFailed as e:
            self.errors.append(f"{what}: {e}")

    def call(self, name: str, fn, **attrs):
        """Time one public call in a span; returns (seconds, result)."""
        self.attempted += 1
        with self.tracer.span(name, **attrs) as rec:
            out = fn()
        secs = self.tracer.secs(rec)
        print(f"{name} {attrs.get('kind', '')} {secs:.3f}s", file=sys.stderr, flush=True)
        return secs, out

    def new_pipe(self):
        self.n_pipes += 1
        return self.KgPipeline(self.spark, os.path.join(self.work, f"kg{self.n_pipes}"))

    # -- load and link -------------------------------------------------------
    def stage(self, pipe, st: str) -> float:
        fn = getattr(pipe, f"stage_{st.lower()}")
        secs, _ = self.call(st, (lambda: fn(self.src)) if st == "E" else fn)
        # StageRunner skips a committed stage and records 0 s for it
        if not (pipe.io.is_committed(st) and pipe.runner.timings.get(st, 0) > 0):
            self.errors.append(f"stage {st} did not run")
        return secs

    def load_stages(self, pipe) -> float:
        return sum(self.stage(pipe, st) for st in LOAD_STAGES)

    def verify_load(self, pipe, check_triples: bool = True) -> None:
        self.verify("E statements", lambda: self._check_statements(pipe))
        if check_triples:
            self.verify("load triples", lambda: self.check_triples(pipe, self.corpus.triples))

    def _check_statements(self, pipe) -> None:
        got = pipe.io.manifest("E")["statements"]
        if got != self.corpus.statements:
            raise check.CheckFailed(f"{got} statements, expected {self.corpus.statements}")

    def check_triples(self, pipe, want: set) -> None:
        rows = pipe.triples().collect()
        self.rename = check.bnode_rename(rows, self.corpus.triples)
        check.same_triples(check.engine_triples(rows, self.rename), want, "triples()")

    def check_parse_errors(self) -> int:
        """Parse-error rows of the corpus must equal the planted malformed
        lines (stage E drops them without a count)."""
        from pyspark.sql import functions as F

        from r2s2_spark.operators.extract import parse_statements

        n = parse_statements(self.src).where(F.col("parse_error").isNotNull()).count()
        if n != self.corpus.malformed:
            self.errors.append(f"{n} parse-error rows, expected {self.corpus.malformed}")
        self.parse_error_rows = n
        return n

    def stored_bytes_per_triple(self, pipe) -> float:
        """Data bytes of the M snapshot's tables and dictionaries per
        distinct triple."""
        cat = pipe.catalog("M")
        rels = {t.path or f"M/tables/{t.name}" for t in cat.tables}
        rels |= set(cat.dictionaries.values())
        total = sum(data_bytes(os.path.join(pipe.io.root, r)) for r in rels)
        return total / len(self.corpus.triples)

    def link(self, pipe) -> float:
        secs = self.stage(pipe, "L") + self.stage(pipe, "C")
        self.verify("L/C", lambda: self._check_link(pipe))
        return secs

    def _check_link(self, pipe) -> None:
        read = self.spark.read.parquet
        edges = read(pipe.io.path("L", "edges")).collect()
        mentions = [r.entity_id for r in read(pipe.io.path("L", "mentions")).collect()]
        mapping = read(pipe.io.path("C", "canonical_map")).collect()
        found = {frozenset((e.src, e.dst)) for e in edges}
        self.linked = (len(edges), len(found & self.corpus.planted_pairs))
        check.check_edges(edges, check.mention_tokens(self.corpus.triples), self.rename)
        bad = check.bad_components(mapping, mentions, [(e.src, e.dst) for e in edges])
        probe = set(self.corpus.probe)
        if any(not (c & probe) for c in bad):
            raise check.CheckFailed(f"stage C wrong on components {bad[:2]}")
        if bad:
            # only the fixed probe chain: the known connected_components
            # fault (see README), so stage C counts as a failed operation
            self.failed += 1

    # -- queries ---------------------------------------------------------------
    def query(self, pipe, text: str, kind: str, want) -> float:
        """Compile and execute into a noop sink (timed), then check the
        answer with a collect (not timed)."""

        def run():
            with self.tracer.span("compile"):
                df = self.sparql_query(pipe, check.PREFIXES + text)
            with self.tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
            return df

        c0 = cpu_seconds(self.spark)
        secs, df = self.call("query", run, kind=kind)
        self.last_cpu = cpu_seconds(self.spark) - c0
        got = check.rows_of(df.collect())
        self.verify(f"{kind} query {text[:70]}", lambda: check.same_rows(got, want, "rows"))
        self.note(f"query_{kind}", secs)
        return secs

    def query_round(self, pipe, rng, ix, cpus=None, which=None) -> float:
        """Run the query templates; returns their summed latency and, when
        ``cpus`` is given, appends their summed CPU seconds (the answer
        checks excluded)."""
        total = cpu = 0.0
        for name, kind, make in check.QUERIES:
            text, want = make(rng, ix)
            if which is None or name in which:
                total += self.query(pipe, text, kind, want)
                cpu += self.last_cpu
        if cpus is not None:
            cpus.append(cpu)
        return total

    # -- writes ----------------------------------------------------------------
    def write_round(self, pipe, rng, model: set) -> None:
        """Small SPARQL Updates, each followed by a read-after-write query
        checked against the set model."""
        for kind, request, apply, read, answer in check.update_round(rng, model, 0):
            before = set(os.listdir(pipe.io.root))
            secs, _ = self.call(kind, lambda: pipe.update(request))
            self.tracer.spans_named(kind)[-1]["commits"] = sorted(
                set(os.listdir(pipe.io.root)) - before
            )
            apply(model)
            self.query(pipe, read, "raw", answer(model))


#: persons in each workload's corpus. The query workload's set-up load is
#: mostly fixed Spark cost; a smaller KG keeps its run near the load
#: workload's length while the queries still touch every table.
PERSONS = {"load": 160, "query": 60}


def run(args, spark, work: str, t_start: float) -> dict:
    corpus = gen.generate(args.seed, n_persons=PERSONS[args.workload])
    tracer = Tracer(spark, enabled=bool(args.trace))
    b = Bench(spark, corpus, tracer, work)
    rng = random.Random(args.seed)
    ix = check.Index(corpus.triples)
    if args.workload == "load":
        # stage E's check, and it warms E: the parse starts the Python
        # worker of every task slot and imports the parsers in it
        b.check_parse_errors()
    else:
        qpipe = b.new_pipe()
        b.load_stages(qpipe)
        b.verify_load(qpipe, check_triples=False)  # the query answers check it
        stored = b.stored_bytes_per_triple(qpipe)
        b.samples.clear()
    setup_wall = time.perf_counter() - t_start
    setup_cpu = cpu_seconds(spark)

    rounds, cpus = [], []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < args.seconds:
        c0 = cpu_seconds(spark)
        if args.workload == "load":
            pipe = b.new_pipe()
            rounds.append(b.load_stages(pipe))
            cpus.append(cpu_seconds(spark) - c0)
            b.verify_load(pipe)
            b.note("stored", b.stored_bytes_per_triple(pipe))
        else:
            rounds.append(b.query_round(qpipe, rng, ix, cpus))
    s = b.samples
    detail = {
        "rounds": len(rounds),
        "setup_wall_s": setup_wall,
        "round_wall_s": statistics.median(rounds),
    }
    if args.workload == "load":
        stored = statistics.median(s["stored"])
    else:
        detail.update(
            query_lookup_p50_ms=1000 * statistics.median(s["query_lookup"]),
            query_scan_p50_ms=1000 * statistics.median(s["query_scan"]),
        )
    detail["samples"] = {k: len(v) for k, v in s.items()}
    metrics = {
        "setup_s": (setup_cpu, "s"),
        "round_cpu_s": (statistics.median(cpus), "s"),
        "stored_bytes_per_triple": (stored, "bytes"),
    }
    if not args.trace:
        print(json.dumps({"detail": detail}), flush=True)
        return result(b, metrics)

    # traced run: the layers the workload does not time, then the report
    if args.workload == "load":
        b.link(pipe)
        b.query_round(pipe, rng, ix, which=("star", "group_by_p"))
    else:
        pipe = qpipe
        b.verify("load triples", lambda: b.check_triples(pipe, corpus.triples))
        b.link(pipe)
    layer = {"trace.round_s": (statistics.median(rounds), "s")}
    layer.update(_parse_rates(b, tracer, corpus))
    b.write_round(pipe, rng, set(corpus.triples))
    tracer.collect_stage_metrics()
    layer.update(_layer_metrics(b, tracer, pipe))
    busy = sum(tracer.secs(r) for r in tracer.spans if r["parent"] is None)
    layer["trace.overhead_pct"] = (100 * tracer.self_s / busy, "%")
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
    return result(b, layer)


def _parse_rates(b: Bench, tracer: Tracer, corpus: gen.Corpus) -> dict:
    """Statements per second of parse_statements on each syntax alone."""
    from r2s2_spark.operators.extract import parse_statements

    out = {}
    for syntax in gen.SYNTAXES:
        src = b.spark.createDataFrame(corpus.rows(syntax), SOURCE_SCHEMA)
        with tracer.span(f"parse.{syntax}") as rec:
            parse_statements(src).write.format("noop").mode("overwrite").save()
        rate = corpus.syntax_statements[syntax] / tracer.secs(rec)
        out[f"E.parse_{syntax}_stmts_per_s"] = (rate, "1/s")
    if b.parse_error_rows is None:  # the load set-up counted them already
        with tracer.span("parse.errors"):
            b.check_parse_errors()
    out["E.parse_error_rows"] = (b.parse_error_rows, "count")
    return out


def _layer_metrics(b: Bench, tracer: Tracer, pipe) -> dict:
    def last(name):
        return tracer.spans_named(name)[-1]

    out = {}
    for st in LOAD_STAGES + ("L", "C"):
        out[f"{st}.wall_s"] = (tracer.secs(last(st)), "s")
        out[f"{st}.jobs"] = (last(st)["jobs"], "count")
    for st in ("E", "V", "L"):
        out[f"{st}.shuffle_bytes"] = (last(st)["shuffle_bytes"], "bytes")
    out["V.spill_bytes"] = (last("V")["spill_bytes"], "bytes")
    out["E.statements"] = (pipe.io.manifest("E")["statements"], "count")
    cat_v = pipe.catalog("V")
    out["D.predicates"] = (
        len({pm.predicate for t in cat_v.tables for pm in t.predicates}),
        "count",
    )
    out["V.tables"] = (len(cat_v.tables), "count")
    out["V.files"] = (
        sum(
            fn.endswith(".parquet")
            for _b, _d, fns in os.walk(pipe.io.stage_dir("V"))
            for fn in fns
        ),
        "count",
    )
    out["O.bytes"] = (data_bytes(pipe.io.stage_dir("O")), "bytes")
    out["M.bytes"] = (data_bytes(pipe.io.stage_dir("M")), "bytes")
    out["M.tables_out"] = (len(pipe.catalog("M").tables), "count")
    out["L.mentions"] = (pipe.io.manifest("L")["mentions"], "count")
    out["L.edges"] = (b.linked[0], "count")
    out["L.planted_pairs_found"] = (b.linked[1], "count")
    out["L.candidate_pairs"] = (_candidate_pairs(b, pipe), "count")
    out["C.clusters"] = (pipe.io.manifest("C")["clusters"], "count")
    for kind in ("lookup", "scan"):
        ids = {q["id"] for q in tracer.spans_named("query") if q.get("kind") == kind}
        comp = [s for s in tracer.spans_named("compile") if s["parent"] in ids]
        exe = [s for s in tracer.spans_named("execute") if s["parent"] in ids]
        out[f"sparql.{kind}.compile_ms"] = (1000 * statistics.median([tracer.secs(s) for s in comp]), "ms")
        out[f"sparql.{kind}.execute_ms"] = (1000 * statistics.median([tracer.secs(s) for s in exe]), "ms")
        out[f"sparql.{kind}.compile_jobs"] = (statistics.median([s["jobs"] for s in comp]), "count")
        out[f"sparql.{kind}.compile_py4j_calls"] = (
            statistics.median([s["py4j_calls"] for s in comp]),
            "count",
        )
    raw = [q for q in tracer.spans_named("query") if q.get("kind") == "raw"]
    out["sparql.raw.latency_ms"] = (1000 * statistics.median([tracer.secs(q) for q in raw]), "ms")
    spans = tracer.spans_named("update")
    out["update.wall_ms"] = (1000 * statistics.median([tracer.secs(s) for s in spans]), "ms")
    out["update.jobs"] = (statistics.median([s["jobs"] for s in spans]), "count")
    # bytes of the U{k} snapshot stage(s) each update committed
    commits = [u for s in spans for u in s["commits"]]
    out["update.bytes_written"] = (
        statistics.median([sum(data_bytes(pipe.io.stage_dir(u)) for u in s["commits"]) for s in spans]),
        "bytes",
    )
    commit_files = [
        sum(
            os.path.getsize(os.path.join(pipe.io.stage_dir(u), fn))
            for fn in os.listdir(pipe.io.stage_dir(u))
            if os.path.isfile(os.path.join(pipe.io.stage_dir(u), fn))
        )
        for u in commits
    ]
    # catalog.json, description.ttl, mapping and manifest of each commit
    out["catalog.bytes_written_per_commit"] = (statistics.mean(commit_files), "bytes")
    return out


def _candidate_pairs(b: Bench, pipe) -> int:
    """LSH candidate pairs of stage L's mentions, with link_mentions'
    default blocking parameters (stage L does not record them)."""
    from pyspark.sql import functions as F

    from r2s2_spark.operators import dedup

    docs = b.spark.read.parquet(pipe.io.path("L", "mentions")).select(
        F.col("entity_id").alias("doc_id"), F.col("mention").alias("text")
    )
    sigs = dedup.minhash_signatures(docs, k=8)
    return dedup.lsh_candidate_pairs(sigs, k=8, rows_per_band=2, max_bucket=50).count()


def result(b: Bench, metrics: dict) -> dict:
    for e in b.errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    return {
        "correct": not b.errors,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("load", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "r2s2_spark")):
        print(f"r2s2_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    t_start = time.perf_counter()
    spark = start_spark(work)
    try:
        out = run(args, spark, work, t_start)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
