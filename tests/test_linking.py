"""Stages L/C: MinHash-LSH linking, connected components, canonicalization."""

import random

import pytest
from pyspark.sql import functions as F

from r2s2_spark.operators.components import connected_components
from r2s2_spark.operators.linking import canonical_mapping, link_mentions, rewrite_subjects
from r2s2_spark.operators.skew import salted_join
from r2s2_spark.pipeline import KgPipeline
from r2s2_spark.sources import fixtures as fx


def cc(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(df)
    comp = {}
    for r in out.collect():
        comp[r.node] = r.component
    return comp


def test_cc_chain(spark):
    comp = cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert set(comp.values()) == {1}
    assert set(comp.keys()) == {1, 2, 3, 4, 5}


def test_cc_two_components_and_star(spark):
    comp = cc(spark, [(10, 11), (11, 12), (20, 21), (22, 21), (23, 21)])
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20
    assert len(set(comp.values())) == 2


def test_cc_deterministic_and_self_loops(spark):
    edges = [(5, 5), (1, 7), (7, 3), (2, 9)]
    a = cc(spark, edges)
    b = cc(spark, list(reversed(edges)))
    assert a == b
    assert a[1] == a[3] == a[7] == 1 and a[2] == a[9] == 2


def _union_find_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find(spark):
    """Seeded differential test against union-find: several hundred small
    random graphs packed into one edge frame with disjoint id ranges,
    plus the two-parent case that a "no member is a parent" convergence
    test accepts too early."""
    rng = random.Random(11)
    packed = []
    for g in range(1, 400):
        base, n = g * 100, rng.randrange(2, 30)
        for _ in range(rng.randrange(1, 2 * n)):
            packed.append((base + rng.randrange(n), base + rng.randrange(n)))
    # the two-parent case runs alone: packed next to graphs that need
    # more rounds it would be carried past the bad round
    for edges in ([(37, 75), (49, 62), (57, 62), (57, 75), (75, 57)], packed):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        rows = connected_components(df).collect()
        got = {r.node: r.component for r in rows}
        assert len(got) == len(rows), "a node is listed in two components"
        assert got == _union_find_components(edges)


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v int")
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, name string")
    salted = salted_join(big, small, "k", n_salt=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 100
    assert sorted((r.v, r.name) for r in salted.collect()) == sorted(
        (r.v, r.name) for r in plain.collect()
    )


@pytest.fixture(scope="module")
def mention_df(spark):
    rows = [
        ("ex:alice1", "alice smith zurich researcher proteins"),
        ("ex:alice2", "alice smith zurich researcher proteins extra"),
        ("ex:alice3", "alice smith zurich researcher proteins"),
        ("ex:bob", "bob jones completely different tokens here"),
        ("ex:carol", "carol white unrelated vocabulary entirely used"),
    ]
    return spark.createDataFrame(rows, "entity_id string, mention string")


def test_link_and_canonicalize(spark, mention_df):
    edges = link_mentions(mention_df, threshold=0.6, k=8, rows_per_band=2)
    pairs = {(r.src, r.dst) for r in edges.collect()}
    assert ("ex:alice1", "ex:alice2") in pairs or ("ex:alice2", "ex:alice1") in pairs
    assert ("ex:alice1", "ex:alice3") in pairs
    assert not any("bob" in a or "bob" in b for a, b in pairs)

    mapping = canonical_mapping(mention_df, edges)
    m = {r.entity_id: r.canonical_id for r in mapping.collect()}
    assert m["ex:alice1"] == m["ex:alice2"] == m["ex:alice3"] == "ex:alice1"
    assert m["ex:bob"] == "ex:bob" and m["ex:carol"] == "ex:carol"


def test_rewrite_subjects(spark, mention_df):
    edges = link_mentions(mention_df, threshold=0.6)
    mapping = canonical_mapping(mention_df, edges)
    triples = spark.createDataFrame(
        [("ex:alice2", "p", "o1"), ("ex:bob", "p", "o2"), ("ex:unknown", "p", "o3")],
        "s string, p string, o string",
    )
    out = {(r.s, r.o) for r in rewrite_subjects(triples, mapping).collect()}
    assert out == {("ex:alice1", "o1"), ("ex:bob", "o2"), ("ex:unknown", "o3")}


def test_pipeline_stage_l_c(spark, tmp_path):
    """End-to-end L+C over the odd/even KG: every subject has a distinct
    numeric label, so linking must produce NO false merges."""
    pipe = KgPipeline(spark, str(tmp_path / "lc"))
    pipe.load(fx.fixture_oddeven(spark, with_labels=True))
    pipe.stage_l(threshold=0.9)
    pipe.stage_c()
    mapping = spark.read.parquet(pipe.io.path("C", "canonical_map"))
    rows = mapping.collect()
    assert all(r.entity_id == r.canonical_id for r in rows)
    n_before = pipe.triples("M").count()
    n_after = pipe.canonical_triples().count()
    assert n_before == n_after


def test_two_level_dictionary_deterministic_and_dense(spark):
    from r2s2_spark.operators.dictionaries import build_dictionary

    vals = [(f"http://g/{i}",) for i in range(500)]
    df = spark.createDataFrame(vals + vals[:100], "g string")  # with dups
    a = build_dictionary(df, "g", n_buckets=16)
    b = build_dictionary(df, "g", n_buckets=16)
    ra = {r.iri: r.id for r in a.collect()}
    rb = {r.iri: r.id for r in b.collect()}
    assert ra == rb                      # deterministic across runs
    assert len(ra) == 500
    assert sorted(ra.values()) == list(range(1, 501))  # dense, unique
