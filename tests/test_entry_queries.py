"""Driver-contract rehearsal: run every queries() entry against its DuckDB
oracle at sf0.001 the same way the driver does at sf0.01 (row count +
sorted-column, order-insensitive value comparison)."""

import math

import duckdb
import pytest

import r2s2_spark.testdata_queries as tq

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(tq.ALL_ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    """Rehearses the FULL registry (ALL_ORACLES): the 50 driver-window
    entries plus every composite component and scale twin."""
    sdf = tq.ALL_QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    res = ddb.execute(tq.ALL_ORACLES[name])
    orows = res.fetchall()
    ocols = [d[0] for d in res.description]

    assert sorted(scols) == sorted(ocols), (name, scols, ocols)
    assert len(srows) == len(orows), (name, len(srows), len(orows))
    ns, no = normalize(srows, scols), normalize(orows, ocols)
    mismatches = [(a, b) for a, b in zip(ns, no) if a != b][:5]
    assert ns == no, (name, mismatches)


@pytest.mark.parametrize(
    "name", sorted(set(tq.ALL_QUERIES) - set(tq.ALL_ORACLES))
)
def test_rows_only_queries_run(spark, name):
    sdf = tq.ALL_QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_bucketed_ann_exact_within_cell(spark):
    """The IVF contract: the bucketed search returns the EXACT top-k within
    the probed cell(s) (candidates restricted to the query's hyperplane
    bucket + flip-1 neighbors), and the cells prune a large share of the
    corpus. 8 Rademacher bits -> 256 balanced buckets."""
    from pyspark.sql import functions as F

    from r2s2_spark.functions.hashing import hyperplane_bucket, rademacher_planes
    from r2s2_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_bucketed,
        probe_buckets,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    planes = rademacher_planes(8, len(q))
    q_bucket = "".join(
        "1" if sum(c * x for c, x in zip(coefs, q)) >= 0 else "0" for coefs in planes
    )
    for n_probes in (1, 4):
        probes = probe_buckets(q_bucket, n_probes)
        cell = emb.where(hyperplane_bucket(F.col("embedding"), planes).isin(probes))
        n_all, n_cell = emb.count(), cell.count()
        assert n_cell < n_all / 4  # real pruning
        exact_in_cell = [
            (r.vec_id, r.cosine) for r in cosine_topk(cell, 0, k=10).collect()
        ]
        approx = [
            (r.vec_id, r.cosine)
            for r in cosine_topk_bucketed(
                emb, 0, k=10, n_bits=8, n_probes=n_probes
            ).collect()
        ]
        assert approx == exact_in_cell, n_probes


def test_embedding_near_dup_recall_planted(spark):
    """Recall contract for the banded hyperplane blocking: planted
    near-duplicate pairs (cosine >= 0.95) are recovered from a corpus of
    deterministic random vectors at high recall, without any all-pairs
    join. Brute force is the ground truth."""
    import math
    import random

    from r2s2_spark.operators.dedup import embedding_near_duplicates

    rng = random.Random(7)
    dim, n_base, n_dups = 32, 300, 40
    rows = []
    for i in range(n_base):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted near-dups: tiny perturbations of the first n_dups vectors
    for j in range(n_dups):
        base = rows[j][1]
        rows.append((1000 + j, [x + rng.gauss(0, 0.02) for x in base]))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    vecs = {i: v for i, v in rows}
    truth = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b and round(cos(vecs[a], vecs[b]), 4) >= 0.95
    }
    assert len(truth) >= n_dups  # the plant worked
    got = {
        (r.a_id, r.b_id)
        for r in embedding_near_duplicates(
            emb, threshold=0.95, n_bits=8, n_bands=8, dim=dim
        ).collect()
    }
    assert got <= truth  # exact scoring: no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_lsh_truncation_stats(spark):
    """The bucket cap is not silent: stats quantify truncated buckets and
    dropped members when a bucket exceeds max_bucket."""
    from pyspark.sql import functions as F

    from r2s2_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_truncation_stats,
        minhash_signatures,
    )

    # 60 identical docs -> every band bucket holds all 60 (> max_bucket=50)
    docs = spark.createDataFrame(
        [(i, "same tokens every time") for i in range(60)], "doc_id bigint, text string"
    )
    sigs = minhash_signatures(docs, k=4)
    stats = lsh_truncation_stats(sigs, k=4, rows_per_band=2, max_bucket=50).first()
    assert stats.n_buckets_truncated == 2  # both bands
    assert stats.n_members_dropped == 20  # 10 dropped per band
    pairs = lsh_candidate_pairs(sigs, k=4, rows_per_band=2, max_bucket=50)
    assert pairs.count() == 50 * 49 // 2  # capped self-join, not 60*59/2

    # and with a loose cap: nothing truncated
    loose = lsh_truncation_stats(sigs, k=4, rows_per_band=2, max_bucket=100).first()
    assert loose.n_buckets_truncated == 0 and loose.n_members_dropped == 0


def test_hyperplane_arrow_matches_catalyst(spark):
    """The Arrow matmul bucketer (the one embedding_candidate_pairs uses)
    gives EXACTLY the Catalyst fold's bucket (the DuckDB oracle's twin)
    for every fixture embedding and band."""
    from pyspark.sql import functions as F

    from r2s2_spark.functions.hashing import (
        hyperplane_bucket,
        hyperplane_buckets_pandas,
        rademacher_planes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bands = [rademacher_planes(8, 64, band=b) for b in range(4)]
    catalyst = emb.select(
        "vec_id",
        *[
            hyperplane_bucket(F.col("embedding"), planes).alias(f"bkt{i}")
            for i, planes in enumerate(bands)
        ],
    )
    arrow = hyperplane_buckets_pandas(emb, "embedding", bands, "vec_id")
    a = sorted(tuple(r) for r in catalyst.collect())
    b = sorted(tuple(r) for r in arrow.select(*catalyst.columns).collect())
    assert a == b and len(a) == emb.count()
    assert len({r[1] for r in a}) > 1  # buckets really vary


def test_ann_index_partition_pruning(spark, tmp_path):
    """build_ann_index + cosine_topk_indexed: the bucket predicate is a
    PARTITION filter (physically pruned scan), and results equal the
    unindexed bucketed search."""
    from r2s2_spark.operators.similarity import (
        build_ann_index,
        cosine_topk_bucketed,
        cosine_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ann_idx")
    build_ann_index(emb, path, n_bits=8)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    out = cosine_topk_indexed(spark, path, q, k=10, n_bits=8, exclude_id=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bkt" in plan.split("PartitionFilters:")[1][:200], plan
    indexed = [(r.vec_id, r.cosine) for r in out.collect()]
    unindexed = [
        (r.vec_id, r.cosine)
        for r in cosine_topk_bucketed(emb, 0, k=10, n_bits=8).collect()
    ]
    assert indexed == unindexed and len(indexed) > 0


def test_registry_order_complete_and_prioritized():
    """The driver records at most 50 CORRECTNESS rows per round (the r2
    and r3 artifacts both truncate at 50), so the driver-facing registry
    is EXACTLY 50 entries, every one oracle-gated — no operator family
    ever falls outside the recorded window again (round-3 regression).
    The folded components and scale twins stay in the pytest-only
    ALL_QUERIES superset, each with its own oracle."""
    names = list(tq.QUERIES)
    assert names == tq._ORDER
    assert len(names) == 50 == len(set(names))
    assert set(tq.ORACLES) == set(names)
    # pytest-only entries: every one still oracle-gated in ALL_ORACLES
    extra = set(tq.ALL_QUERIES) - set(tq.QUERIES)
    assert extra <= set(tq.ALL_ORACLES)
    # the scale twins are out of the driver window but still rehearsed
    assert {
        "minhash_lsh_pairs", "sequence_packing_global", "ann_cosine_topk"
    } <= extra


def test_ivf_full_probe_is_exact(spark):
    """IVF with n_probes == n_cells probes every cell -> EXACT top-k
    (equals brute force); the same configuration is the driver-gated
    oracle entry ``ivf_cosine_topk``."""
    from r2s2_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(emb, 0, k=10).collect()]
    ivf = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(emb, 0, k=10, n_cells=8, n_probes=8).collect()
    ]
    assert ivf == exact and len(ivf) == 10


def test_ivf_partial_probe_recall_and_determinism(spark):
    """The seeded quantizer is bit-identical across two trainings, and
    recall grows monotonically with the probe budget. The fixture
    embeddings are near-uniform (top-1 cosine ~0.37 in 64-dim), so
    partial-probe recall is inherently modest THERE — the clustered-data
    case where IVF earns its keep is the planted-cluster test below."""
    from r2s2_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = kmeans_centroids(emb, n_cells=8)
    c2 = kmeans_centroids(emb, n_cells=8)
    assert c1 == c2
    exact = {r.vec_id for r in cosine_topk(emb, 0, k=10).collect()}
    recalls = []
    for n_probes in (2, 4, 8):
        got = {
            r.vec_id
            for r in ivf_topk(
                emb, 0, k=10, n_cells=8, n_probes=n_probes, centroids=c1
            ).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls) and recalls[0] >= 0.3
    assert recalls[-1] == 1.0  # full probe = exact


def test_ivf_planted_clusters_nprobe1(spark):
    """Clustered data (IVF's home turf): 4 tight clusters around
    orthogonal axes — after training, ONE probe suffices for perfect
    top-k recall because the quantizer's cells coincide with the
    clusters (what data-independent hashing cannot guarantee)."""
    from r2s2_spark.operators.similarity import cosine_topk, ivf_topk

    dim, per = 16, 40
    rows = []
    for c in range(4):
        for i in range(per):
            # deterministic jitter, small vs the axis component
            v = [0.0] * dim
            v[c * 4] = 1.0
            for d in range(dim):
                v[d] += 0.05 * (((i * dim + d) * 2654435761 % 97) / 97 - 0.5)
            rows.append((c * per + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [r.vec_id for r in cosine_topk(emb, 0, k=10).collect()]
    got = [
        r.vec_id
        for r in ivf_topk(emb, 0, k=10, n_cells=4, n_probes=1).collect()
    ]
    assert got == exact


def test_ivf_index_partition_pruning(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed: the probed cells are a
    PARTITION filter, and the indexed result equals the unindexed IVF
    search with the same centroids."""
    from r2s2_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    centroids = build_ivf_index(emb, path, n_cells=8)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    out = ivf_topk_indexed(spark, path, q, k=10, n_probes=2, exclude_id=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split("PartitionFilters:")[1][:200], plan
    indexed = [(r.vec_id, r.cosine) for r in out.collect()]
    unindexed = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(
            emb, 0, k=10, n_cells=8, n_probes=2, centroids=centroids
        ).collect()
    ]
    assert indexed == unindexed and len(indexed) > 0


def test_lloyd_empty_cell_repair_distinct():
    """Two cells going empty in the SAME Lloyd iteration must reseed to
    DISTINCT sample vectors. Seeds here are [e0, e0, e1, e1] (duplicate
    pairs), so first-max-wins assignment leaves cells 1 and 3 empty in
    iteration 1; same-point reseeding would keep two duplicate centroids
    forever, silently halving the effective cell count."""
    import numpy as np

    from r2s2_spark.operators.similarity import _lloyd

    e = np.eye(4)
    X = np.array([e[0], e[0], e[1], e[1], e[2], e[3]])
    C = np.array(_lloyd(X, n_cells=4, iters=3))
    # all four centroids distinct, and together they cover all four axes
    assert len({tuple(np.round(c, 6)) for c in C}) == 4
    assert sorted(int(np.argmax(c)) for c in C) == [0, 1, 2, 3]
