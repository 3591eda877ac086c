"""Fused stage-O probe parity: the one-job fused_probe_tables must agree
key-for-key with the per-table probe_table it replaces, including the
collapse stats (__groups = post-collapse row count, __max_graphs = a >1-
max-graphs probe) — across type-split children, multi-graph data, and
numeric narrowing guards."""

import pytest

from r2s2_spark.operators import passes, vertical
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.sources import fixtures as fx


def _fused_vs_per_table(spark, tmp_path, fixture):
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.stage_e(fixture)
    pipe.stage_d()
    pipe.stage_v()
    io = pipe.io
    catalog = io.read_catalog("V")
    v_data = io.path("V", "data")
    catalog, split_paths = passes.split_type_tables(
        spark, catalog, v_data, str(tmp_path / "split")
    )
    fused = passes.fused_probe_tables(spark, catalog, v_data, split_paths)

    assert set(fused) == {t.name for t in catalog.tables}
    for t in catalog.tables:
        if t.name in split_paths:
            src = spark.read.parquet(split_paths[t.name])
        else:
            src = spark.read.parquet(f"{v_data}/t={t.name}")
        df = vertical.rename_generic(src, t)
        ref = passes.probe_table(df, t, mode="full")
        got = fused[t.name]
        for key, val in ref.items():
            assert got[key] == val, (t.name, key.replace("\x00", "|"), got[key], val)

        # collapse stats vs a directly computed collapse on the raw frame
        from pyspark.sql import functions as F

        g_specs = [
            pm.graph_column for pm in t.predicates if pm.graph_column is not None
        ]
        non_graph = [
            cs.name
            for cs in t.all_column_specs()
            if cs.physical and cs not in g_specs
        ]
        if g_specs:
            grp = df.groupBy(*non_graph).agg(
                F.countDistinct(g_specs[0].name).alias("ng")
            )
            n_groups = grp.count()
            max_graphs = grp.agg(F.max("ng")).first()[0] or 0
        else:
            n_groups = df.dropDuplicates().count()
            max_graphs = 0
        assert got["__groups"] == n_groups, t.name
        # __max_graphs is an indicator (only >1 is consulted downstream)
        assert (got["__max_graphs"] > 1) == (max_graphs > 1), t.name
    return catalog


def test_fused_probe_loading(spark, tmp_path):
    """fixture_loading has rdf:type tables -> exercises the split-children
    union branch and the md5->name mapping."""
    cat = _fused_vs_per_table(spark, tmp_path, fx.fixture_loading(spark))
    assert any("type_" in t.name for t in cat.tables)


def test_fused_probe_multigraph(spark, tmp_path):
    """__max_graphs > 1 for the two-graph fixture (the collapse-to-array
    decision path)."""
    cat = _fused_vs_per_table(spark, tmp_path, fx.fixture_multigraph(spark))


def test_fused_probe_datatypes(spark, tmp_path):
    """narrow-guard aggregation (ok keys) must survive the two-level
    decomposition exactly — fixture_datatypes carries numeric literals."""
    _fused_vs_per_table(spark, tmp_path, fx.fixture_datatypes(spark))


def test_observed_row_counts_match_written(spark, tmp_path):
    """stage O records row_count from the write-time Observation metric;
    it must equal what a read-back count would have said (and __groups
    from the fused probe)."""
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.stage_e(fx.fixture_loading(spark))
    pipe.stage_d()
    pipe.stage_v()
    pipe.stage_o()
    catalog = pipe.io.read_catalog("O")
    import os

    for t in catalog.tables:
        actual = spark.read.parquet(os.path.join(pipe.io.root, t.path)).count()
        assert t.row_count == actual, t.name


def test_subject_repeating_fold_matches_direct_probe(spark, tmp_path):
    """Stage O's folded repeating-subject flags (catalog subject_repeating,
    from the fused probe's subject-group count) must equal the direct A2
    probe over the stored frames — including NULL subject parts (partial
    fragments => NULL concat keys grouping as ONE A2 group) and
    unique-subject tables."""
    from r2s2_spark.operators import merging

    rows = [
        (
            "r", f"f{i}", "c0", "ntriples",
            f"<http://ex.org/s{i % 5}{'#frag' if i % 3 == 0 else ''}> "
            f'<http://ex.org/p> "v{i}" .',
        )
        for i in range(30)
    ] + [
        ("r", f"g{i}", "c0", "ntriples", f'<http://ex.org/u{i}> <http://ex.org/q> "w" .')
        for i in range(20)
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    pipe = KgPipeline(spark, str(tmp_path / "wd"))
    pipe.stage_e(src)
    pipe.stage_d()
    pipe.stage_v()
    pipe.stage_o()
    catalog = pipe.io.read_catalog("O")
    read = pipe.reader("O")
    frames = {t.name: read(t) for t in catalog.tables}
    seen = set()
    for t in catalog.tables:
        assert t.subject_repeating is not None, t.name
        direct = merging.has_repeating_subjects(frames[t.name], t)
        assert t.subject_repeating == direct, t.name
        seen.add(t.subject_repeating)
    assert seen == {True, False}  # both verdicts exercised

    # the hinted merge probe (stage M's path) must agree with the unhinted
    # one AND submit zero Spark jobs when no candidates pair up
    tables = sorted(catalog.tables, key=lambda t: t.name)
    hint = {t.name: t.subject_repeating for t in tables}
    rep_full, pairs_full = merging._fused_probe(spark, frames, tables)
    sc = spark.sparkContext._jsc.sc()
    j0 = sc.dagScheduler().nextJobId()
    rep_hint, pairs_hint = merging._fused_probe(
        spark, frames, tables, repeating_hint=hint
    )
    jobs = sc.dagScheduler().nextJobId() - j0
    assert rep_hint == rep_full
    assert pairs_hint == pairs_full
    cand = [n for n, r in rep_full.items() if not r]
    if len(cand) <= 1:
        assert jobs == 0
