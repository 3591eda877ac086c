"""End-to-end E->D->V: routing, catalog, reconstruction P/R, resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from r2s2_spark.naming import EX, RDF, RDFS, XSD
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    """The loading fixture's KG, loaded once: the tests using it only
    read it (the resume test re-runs the load, which must skip)."""
    pipe = KgPipeline(spark, str(tmp_path_factory.mktemp("ev") / "wd"))
    pipe.load(fx.fixture_loading(spark))
    return pipe


def expected_triples_loading():
    """Independent oracle: the fixture's triple set, written by hand from
    LoadingTest.java:41-53 (not through our parser)."""
    t = []
    for s, o in [("Bag", "Alt"), ("Alt", "Bag"), ("Alt", "Alt"), ("List", "Alt"), ("List", "Bag")]:
        t.append((RDF + s, RDF + "type", RDF + o, None, None, "iri"))
    lbl = RDFS + "label"
    t += [
        (RDF + "Alt", lbl, "true", None, XSD + "boolean", "literal"),
        (RDF + "Alt", lbl, "false", None, XSD + "boolean", "literal"),
        (RDF + "List", lbl, "false", None, XSD + "boolean", "literal"),
        (RDF + "Alt", lbl, "杭州市", "cz", None, "literal"),
        (RDF + "Bag", lbl, "杭州", "cz", None, "literal"),
        (RDF + "Alt", lbl, "lala", "en-UK", None, "literal"),
        (RDF + "Alt", lbl, "lala lala", "en-UK", None, "literal"),
        (RDF + "Alt", lbl, "2023-06-23", None, XSD + "date", "literal"),
        (RDF + "Alt", lbl, "2023-06-22", None, XSD + "date", "literal"),
        (RDF + "Alt", lbl, "*bnode*", None, None, "bnode"),
    ]
    return set(t)


def reconstructed_set(pipe, stage=None):
    rows = pipe.triples(stage).collect()
    out = set()
    for r in rows:
        o = "*bnode*" if r.o_kind == "bnode" else r.o_lex
        out.add((r.s, r.p, o, r.o_lang, r.o_datatype, r.o_kind))
    return out


def precision_recall(got: set, expect: set):
    tp = len(got & expect)
    return tp / max(len(got), 1), tp / max(len(expect), 1)


def test_routing_creates_expected_tables(loaded):
    """Target-key partitioning (LoadIntoTable.java:268-281): separate tables
    for (iri,iri) rdf:type; boolean/date/cz/en-UK rdfs:label; (iri,bnode)."""
    cat = loaded.catalog("V")
    keys = {
        (p.predicate, t.subject_kind, p.obj_kind, p.lang, p.datatype)
        for t in cat.tables
        for p in t.predicates
    }
    lbl = RDFS + "label"
    assert keys == {
        (RDF + "type", "iri", "iri", None, None),
        (lbl, "iri", "literal", None, XSD + "boolean"),
        (lbl, "iri", "literal", None, XSD + "date"),
        (lbl, "iri", "literal", "cz", None),
        (lbl, "iri", "literal", "en-UK", None),
        (lbl, "iri", "bnode", None, None),
    }
    type_table = next(
        t for t in cat.tables if t.predicates[0].predicate == RDF + "type"
    )
    # rdf:type partition: 5 rows, golden from LoadingTest.java:154-175
    assert type_table.row_count == 5


def test_reconstruction_pr(loaded):
    got = reconstructed_set(loaded, "V")
    expect = expected_triples_loading()
    p, r = precision_recall(got, expect)
    assert p >= 0.95 and r >= 0.95, (p, r, got ^ expect)
    # and in fact exact equality must hold at stage V
    assert got == expect


def test_distinct_types_flagship(spark, tmp_path):
    """SparqlOnLoadedTest.java:111-127: SELECT DISTINCT ?type -> 2 rows."""
    pipe = KgPipeline(spark, str(tmp_path / "oe"))
    pipe.load(fx.fixture_oddeven(spark, with_labels=True))
    types = {r.type for r in pipe.distinct_types("V").collect()}
    assert types == {EX + "odd", EX + "even"}


def test_multigraph_two_rows_precollapse(spark, tmp_path):
    """ReintroduceRdfSetSemanticsTest.java:43-44: 2 rows before collapse."""
    pipe = KgPipeline(spark, str(tmp_path / "mg"))
    pipe.load(fx.fixture_multigraph(spark))
    cat = pipe.catalog("V")
    assert len(cat.tables) == 1 and cat.tables[0].row_count == 2
    trips = pipe.triples_with_graph_iri("V").collect()
    assert {t.g for t in trips} == {
        "http://example.org/zeroGraph",
        "http://example.org/oneGraph",
    }


def test_graph_iri_join_not_forced_broadcast(loaded):
    """The graphs dict is unbounded by design (per-file graphs at
    10^12-file scale) — triples_with_graph_iri must NOT force-broadcast it.
    With auto-broadcast off, a forced hint would still plan
    BroadcastHashJoin on g_id; the fix leaves strategy choice to AQE, so
    the g_id join plans as a shuffle join."""
    spark = loaded.spark
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            loaded.triples_with_graph_iri()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    g_id_joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "g_id" in ln
    ]
    assert g_id_joins, plan
    assert not any("Broadcast" in ln for ln in g_id_joins), g_id_joins


def test_route_graphs_join_not_forced_broadcast(loaded):
    """Stage V's statement router encodes g_iri -> g_id through the SAME
    unbounded graphs dictionary — the one join every triple passes through
    on the load path. It must not carry a forced broadcast hint either
    (round-3 leftover): with auto-broadcast off the join must plan as a
    shuffle join, proving strategy choice is left to AQE."""
    from r2s2_spark.operators import vertical

    spark = loaded.spark
    stmts = loaded.io.read_parquet("E")
    catalog = loaded.catalog("V")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            vertical.route_statements(spark, stmts, catalog, loaded.graphs())
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    g_joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "g_iri" in ln
    ]
    assert g_joins, plan
    assert not any("Broadcast" in ln for ln in g_joins), g_joins


def test_dictionaries_deterministic(loaded):
    preds1 = [(r.id, r.iri) for r in loaded.predicates().orderBy("id").collect()]
    assert preds1 == [(1, RDF + "type"), (2, RDFS + "label")]
    g = [(r.id, r.iri) for r in loaded.graphs().orderBy("id").collect()]
    assert g == [(1, fx.DEFAULT_GRAPH)]


def test_resume_skips_committed_stages(spark, tmp_path, loaded):
    """Loader.java:171-183 resume semantics: a second run over a committed
    work dir recomputes nothing (manifests untouched)."""
    wd = loaded.io.root
    before = {s: loaded.io.manifest(s)["committed_at_unix"] for s in ("E", "D", "V")}
    pipe2 = KgPipeline(spark, wd)
    pipe2.load(fx.fixture_loading(spark))
    after = {s: pipe2.io.manifest(s)["committed_at_unix"] for s in ("E", "D", "V")}
    assert before == after
    assert all(not ran for ran in [pipe2.runner.timings[s] for s in ("E", "D", "V")])


def test_lineage_rows(loaded):
    lin = loaded.io.read_lineage("V")
    pdf = lin.toPandas()
    assert set(["partition_id", "n_rows", "input_sha256_set", "stage"]).issubset(pdf.columns)
    assert pdf.n_rows.sum() == 15
    shas = {s for row in pdf.input_sha256_set for s in row}
    assert len(shas) == 1  # single fixture file


def test_all_parse_errors_yields_empty_kg(spark, tmp_path):
    """A corpus whose every statement is malformed is a VALID empty KG:
    the load must complete (zero-row partitioned writes used to leave a
    file-less parquet dir -> UNABLE_TO_INFER_SCHEMA on the V read) and
    triples() must return an empty frame, not raise 'empty catalog'."""
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.load(fx.source_files_df(spark, [fx._row("r", "bad.nt", "<x> malformed")]))
    assert pipe.triples().count() == 0
    assert pipe.io.manifest("E")["statements"] == 0


def test_stage_d_target_keys_match_discovery(spark, tmp_path):
    """Stage D's fused (dictionary + target-key) scan must discover exactly
    the keys vertical.discover_target_keys derives from E, in the same
    order — stage V's catalog (and therefore every table name) is built
    from the D artifact."""
    from r2s2_spark.operators.vertical import discover_target_keys

    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.stage_e(fx.fixture_loading(spark))
    pipe.stage_d()
    stmts = pipe.io.read_parquet("E")
    expected = discover_target_keys(stmts)
    rows = spark.read.parquet(pipe.io.path("D", "target_keys")).collect()
    got = sorted(
        [(r.p_iri, r.s_kind, r.o_kind, r.o_lang, r.o_datatype) for r in rows],
        key=lambda k: tuple("" if x is None else x for x in k),
    )
    assert got == expected


def test_stage_o_batched_writes_sublinear_jobs(spark, tmp_path):
    """Round-5 write fusion: small tables land in shared generic-schema
    partitionBy('t') batches (path under O/batch, storage_columns set),
    and stage O's Spark job count grows SUB-LINEARLY in table count —
    the old design added ~2 jobs per table (footer inference + write) on
    top of ~20 fixed jobs (dicts, fused probe, AQE subjobs). Measured as
    GROWTH between two catalog widths so the fixed overhead cancels:
    tripling the table count must add far less than 1 job per added
    table."""
    from r2s2_spark.naming import EX

    # the status store's jobsList is bounded by spark.ui.retainedJobs and
    # evicts mid-suite (shared session, >1000 prior jobs), corrupting
    # before/after deltas; the DAG scheduler's job-id counter is monotonic
    # and exact
    sc = spark.sparkContext._jsc.sc()

    def run(n_preds, wd):
        nt = "\n".join(
            f'<{EX}s{i}> <{EX}p{p}> "v{i}" .'
            for p in range(n_preds)
            for i in range(5)
        )
        pipe = KgPipeline(spark, str(tmp_path / wd))
        src = fx.source_files_df(spark, [fx._row("r", "many.nt", nt)])
        pipe.stage_e(src)
        pipe.stage_d()
        pipe.stage_v()
        before = sc.dagScheduler().nextJobId()
        pipe.stage_o()
        return pipe, sc.dagScheduler().nextJobId() - before

    pipe_small, jobs_small = run(12, "wd12")
    pipe, jobs_big = run(48, "wd48")
    added = jobs_big - jobs_small
    # growth is per BATCH (~4 jobs per chunk of >= 8 tables at the
    # wall-clock floor -> <= 0.5/table here, ~0.004/table at the
    # 1024-table vocabulary-scale chunk), vs the old ~2 jobs per TABLE
    # (36 added tables would have added ~72)
    assert added <= 20, (
        f"stage O grew {added} jobs for 36 added tables "
        f"({jobs_small} @12 -> {jobs_big} @48); old design added ~72"
    )

    cat = pipe.catalog("O")
    assert len(cat.tables) == 48
    batched = [t for t in cat.tables if t.storage_columns]
    assert len(batched) == 48  # all tiny -> all fused
    for t in batched:
        assert t.path.startswith("O/batch/") and t.row_count == 5
    one = batched[0]
    df = pipe.reader("O")(one)
    assert df.columns == one.physical_columns()
    assert df.count() == 5
    # reconstruction reads through the batched layout transparently
    trips = pipe.triples("O")
    assert trips.count() == 48 * 5


def test_single_stored_layout(spark, tmp_path, monkeypatch):
    """Every stage-O/M table is a batch-root member written by
    _write_batched, whatever its size: a table above SMALL_TABLE_MAX_ROWS
    is the only t= member of its batch dir, no per-table tables/ dir is
    written, and the KG reconstructs exactly before and after vacuum
    expiry."""
    import os
    import re

    from r2s2_spark import pipeline

    thr = 2  # type_rdf_Alt and the boolean labels (3 rows each) exceed it
    monkeypatch.setattr(pipeline, "SMALL_TABLE_MAX_ROWS", thr)
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.load(fx.fixture_loading(spark))

    # stage O batches by its input rows, which its collapse can only
    # shrink; stage M by the stage-O count of the table
    o_rows = {t.name: t.row_count for t in pipe.catalog("O").tables}
    big = set()
    for stage in ("O", "M"):
        for t in pipe.catalog(stage).tables:
            assert t.storage_columns, (stage, t.name)
            m = re.fullmatch(rf"([OM])/batch/\d+/t={t.name}", t.path)
            assert m and (stage == "M" or m.group(1) == "O"), (stage, t.path)
            if o_rows[t.name] > thr:
                big.add(t.path)
    assert any(p.startswith("M/") for p in big) and len(big) >= 3
    for path in big:
        batch_dir = os.path.dirname(os.path.join(pipe.io.root, path))
        members = [d for d in os.listdir(batch_dir) if d.startswith("t=")]
        assert members == [os.path.basename(path)], (path, members)
    for stage in ("O", "M"):
        assert not os.path.exists(pipe.io.path(stage, "tables"))

    assert reconstructed_set(pipe) == expected_triples_loading()
    pipe.vacuum(expire_superseded=True)
    assert reconstructed_set(pipe) == expected_triples_loading()


def test_fused_reopt_probe_matches_per_table(spark, tmp_path):
    """Stage-M fused reopt probe (one grouped agg per schema SHAPE, not
    one agg job per table) must reproduce probe_table(mode='reopt')
    key-for-key for every table — mixed shapes: plain literals, IRI
    objects (9-part decompose), narrowed ints."""
    from r2s2_spark.naming import EX
    from r2s2_spark.operators import passes

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = []
    for i in range(6):
        rows.append(f'<{EX}s{i}> <{EX}lit1> "a{i}" .')
        rows.append(f'<{EX}s{i}> <{EX}lit2> "b{i}" .')
        rows.append(f'<{EX}s{i}> <{EX}ref> <{EX}o{i}> .')
        rows.append(f'<{EX}s{i}> <{EX}num> "{i}"^^<{xsd_int}> .')
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    src = fx.source_files_df(spark, [fx._row("r", "mix.nt", "\n".join(rows))])
    pipe.stage_e(src)
    pipe.stage_d()
    pipe.stage_v()
    pipe.stage_o()
    cat = pipe.catalog("O")
    read = pipe.reader("O")
    frames = {t.name: read(t) for t in cat.tables}
    pairs = [(t, frames[t.name]) for t in cat.tables]
    fused = passes.fused_reopt_probe(spark, pairs)
    assert len(fused) == len(cat.tables) >= 3
    shapes = {
        tuple(f.dataType.simpleString() for f in frames[t.name].schema.fields)
        for t in cat.tables
    }
    assert len(shapes) >= 2  # the test must actually exercise shape grouping
    for t in cat.tables:
        solo = passes.probe_table(frames[t.name], t, mode="reopt")
        assert fused[t.name] == solo, t.name
