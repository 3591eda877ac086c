"""Portable hashing primitives: MinHash, SimHash, n-gram shingles.

Design constraint: every hash here must be computable identically in
Spark AND DuckDB (the correctness oracle), so the base hash is md5's hex
string, not xxhash64. The MinHash trick: for fixed-width lowercase hex,
lexicographic MIN equals numeric MIN — signatures are ``min(substr(md5(
token || '#' || seed), 1, 16))`` per seed, no integer conversion needed.

For production scale the same structure runs with ``F.xxhash64`` (cheaper,
JVM-intrinsic); the md5 path is the cross-engine-verifiable twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_16(c: Column) -> Column:
    return F.substring(F.md5(c), 1, 16)


def minhash(tok: Column, seed: int) -> Column:
    """Aggregate expression: MIN over rows of the seeded token hash.
    Apply as ``df.groupBy(doc).agg(minhash(F.col('tok'), k))``."""
    return F.min(md5_16(F.concat(tok, F.lit(f"#{seed}")))).alias(f"mh{seed}")


def minhash_signature_agg(tok: Column, k: int) -> list[Column]:
    return [minhash(tok, i) for i in range(k)]


def band_exprs(k: int, rows_per_band: int) -> list[Column]:
    """LSH banding: concat ``rows_per_band`` adjacent minhashes per band."""
    bands = []
    for b in range(0, k, rows_per_band):
        cols = [F.col(f"mh{i}") for i in range(b, min(b + rows_per_band, k))]
        bands.append(F.concat_ws("|", *cols).alias(f"band{b // rows_per_band}"))
    return bands


def simhash16(tok_md5: Column) -> list[Column]:
    """16-bit SimHash as aggregate bit-majority expressions over a
    PRE-COMPUTED ``md5(token)`` column.

    Bit i is the high bit of hex nibble i of md5(token): portable to any
    engine with md5+substr. The caller projects ``F.md5(tok)`` once before
    the groupBy — the 16 per-bit aggregates each reference the hash
    column, and inlining ``F.md5`` here made codegen evaluate the digest
    16x per token (no common-subexpression elimination across aggregate
    buffers; measured 2.1 s -> 1.0 s noop at sf0.1). Apply in a
    groupBy(doc).agg(*simhash16(...)) then combine with
    :func:`simhash_from_bits`.
    """
    out = []
    for i in range(1, 17):
        nib = F.substring(tok_md5, i, 1)
        bit = F.when(nib.isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(0)
        out.append(F.sum(bit).alias(f"bit{i}"))
    out.append(F.count(F.lit(1)).alias("n_tok"))
    return out


def simhash_from_bits() -> Column:
    """Combine the bit-majority counts into a 16-char '0'/'1' string."""
    pieces = [
        F.when(F.col(f"bit{i}") * 2 > F.col("n_tok"), F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, 17)
    ]
    return F.concat(*pieces)


def token_bigrams(toks: Column) -> Column:
    """Adjacent-token 2-gram shingles from a token array. A <2-token array
    has no bigrams and yields an EMPTY array — the previous
    ``sequence(1, greatest(size-1, 0))`` produced the descending sequence
    [1, 0] for single-token docs, making ``element_at`` throw under ANSI
    (Spark 4 default)."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dot_fold(a: Column, b: Column) -> Column:
    """Double-precision dot product fold (zip_with + aggregate, pure
    Catalyst). THE dot expression of :func:`cosine_similarity` — reused
    by callers that share norm folds across several cosines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_fold(a: Column) -> Column:
    """L2 norm fold — THE norm expression of :func:`cosine_similarity`."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two float arrays, computed in double (zip_with +
    aggregate — pure Catalyst; the Pandas-UDF variant is only needed when
    the vectors move to matrix libraries).

    Evaluates three O(dim) folds per call; when one side is constant or a
    norm can be computed once per vector instead of once per pair, build
    the same expression from :func:`dot_fold` / :func:`norm_fold` as
    ``dot / (na * nb)`` — identical association, bit-identical doubles."""
    return dot_fold(a, b) / (norm_fold(a) * norm_fold(b))


def rademacher_planes(n_bits: int, dim: int, band: int = 0) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane coefficients (SimHash-style
    signed random projections). Derived from md5 of (band, bit, dim) so the
    SAME planes are constructible in any engine — the DuckDB oracles embed
    them as literal arrays. Unlike leading-dimension sign bits, every
    projection mixes ALL dimensions, so buckets stay balanced (2^n_bits
    cells) regardless of the embedding's coordinate distribution."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"rp:{band}:{b}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for b in range(n_bits)
    ]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """'0'/'1' bucket string: sign of dot(vec, plane) per plane. Pure
    Catalyst (zip_with + aggregate over literal coefficient arrays)."""
    pieces = []
    for coefs in planes:
        plane = F.array(*[F.lit(c) for c in coefs])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        pieces.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*pieces)


def hyperplane_buckets_pandas(df, vec_col: str, bands_planes: list[list[list[float]]], id_col: str):
    """ALL bands' buckets in one numpy matmul per Arrow batch -> one
    (id, bkt0, ..., bkt{n_bands-1}) row per vector. The Catalyst fold
    (:func:`hyperplane_bucket`) evaluates n_bands*n_bits separate aggregate
    expressions per row — exactly order-reproducible in SQL (the oracle
    twin), but the single (dim x total_bits) matmul is the scale path: one
    Python boundary, BLAS inside. Signs agree with the fold except on
    |dot| within float rounding of zero (never observed; asserted against
    the Catalyst fold in tests)."""
    import numpy as np
    import pandas as pd

    mats = [np.array(planes, dtype=np.float64).T for planes in bands_planes]  # (dim, n_bits)

    def it(batches):
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            out = {id_col: pdf[id_col]}
            for band_no, m in enumerate(mats):
                bits = vecs @ m >= 0  # (n, n_bits)
                out[f"bkt{band_no}"] = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    bkts = ", ".join(f"bkt{i} string" for i in range(len(mats)))
    return df.select(id_col, vec_col).mapInPandas(it, schema=f"{id_col} {id_type}, {bkts}")


def hyperplane_bucket_sql(planes: list[list[float]], vec_expr: str = "embedding") -> str:
    """The DuckDB twin of :func:`hyperplane_bucket` (oracle generation)."""
    bits = []
    for coefs in planes:
        arr = "[" + ", ".join(f"{c:.1f}" for c in coefs) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)
