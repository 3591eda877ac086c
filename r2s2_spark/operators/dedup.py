"""Deduplication operators for training-data pipelines.

Five families, each a DataFrame program (SURVEY.md §2 extension; these are
also the building blocks of the entity-linking stage L):

- exact:        hash-groupBy on normalized content
- MinHash+LSH:  shingle -> k minhashes -> banded buckets -> candidate pairs
- SimHash:      bit-majority fingerprint, equal-hash grouping
- n-gram Jaccard: exact overlap scoring of candidate pairs
- embedding cosine: near-duplicates by vector similarity

Scale notes: every candidate generation is *blocked* (band buckets /
sign buckets) — never an O(n^2) cross join. Hot LSH buckets (boilerplate
shingles) are the classic skew source: ``lsh_candidate_pairs`` caps bucket
width and salts the self-join, and AQE skew-join handles the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing, text


def _pair_partitions(spark) -> int:
    """Partition count for the candidate-pair self-joins: one wave over
    the cluster's cores (defaultParallelism tracks the real executor
    count — never a hard-coded local width). Overridable for A/B runs via
    spark.r2s2.pairPartitions."""
    v = spark.conf.get("spark.r2s2.pairPartitions", None)
    return int(v) if v else 2 * spark.sparkContext.defaultParallelism


def deterministic_shard(id_col: str) -> "F.Column":
    """Deterministic 16-way shard key from the first hex digit of
    md5(id) — replayable verbatim by a SQL oracle (DuckDB has the same
    ``instr``/``substr``/``md5``), uniform over hex digits, and stable
    across retries/cluster sizes (never ``rand()``)."""
    return F.expr(
        f"instr('0123456789abcdef', substr(md5(cast({id_col} as string)), 1, 1)) - 1"
    ).cast("bigint")


def pack_by_token_budget(
    docs: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_col: str | None = None,
    global_order: bool = False,
) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents in id order
    and cut at ``budget``-token boundaries — each document's bin is
    floor(start_offset / budget) over the exclusive running token count
    (concat-then-chunk semantics: a straddling document belongs to the bin
    it STARTS in). Deterministic: id order, never random.

    Scale-safe by DEFAULT: documents take a deterministic 16-way shard key
    (:func:`deterministic_shard`) and each shard packs independently under
    its own window — bins are (shard_id, bin_id) pairs and no
    single-partition stage exists. ``part_col`` shards on an existing
    column instead (e.g. a corpus/source shard — the right key at 100 TB).
    ``global_order=True`` is the explicit opt-in for one whole-corpus
    concat order through a single global window (the literal "moving all
    data to a single partition" plan) — corpus-manifest sizes only."""
    n_tok = text.token_count(F.col(text_col)).cast("bigint")
    if global_order:
        w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
        return docs.select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            F.floor(
                F.coalesce(F.sum(n_tok).over(w), F.lit(0)) / budget
            ).cast("bigint").alias("bin_id"),
        )
    if part_col is None:
        part_col = "shard_id"
        docs = docs.withColumn(part_col, deterministic_shard(id_col))
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        F.col(id_col),
        F.col(part_col),
        n_tok.alias("n_tokens"),
        F.floor(
            F.coalesce(F.sum(n_tok).over(w), F.lit(0)) / budget
        ).cast("bigint").alias("bin_id"),
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (fingerprint, n_dups, keep_id, dup_ids)."""
    fp = text.fingerprint(F.col(text_col))
    return (
        docs.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def minhash_signatures(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, mh0..mh{k-1}) — one shuffle: explode tokens, groupBy doc.
    Tokens are distinct-per-doc first (set semantics of Jaccard)."""
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(text.tokens(F.col(text_col)))).alias("tok")
    )
    return toks.groupBy(id_col).agg(*hashing.minhash_signature_agg(F.col("tok"), k))


def lsh_candidate_pairs(
    sigs: DataFrame,
    k: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    max_bucket: int = 50,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Banded LSH: docs sharing any band become a candidate pair (a < b).

    Skew handling: buckets wider than ``max_bucket`` are truncated to the
    first ``max_bucket`` members by id (boilerplate buckets otherwise
    explode quadratically) and the self-join runs bucket-local. Truncation
    loses recall SILENTLY from this frame's point of view — run
    :func:`lsh_truncation_stats` with the same parameters to quantify it
    (north rule: no silent caps).

    Pair generation never shuffles the pair set itself:

    - cross-band duplicates are dropped by a FIRST-SHARED-BAND join filter
      instead of a ``distinct()`` — a pair is emitted only by the lowest
      band whose capped bucket both members share, so the result is the
      same distinct set without an exchange over O(pairs) rows (the old
      plan shuffled every generated pair; at hot-bucket corpora that
      exchange was ~10x the cost of generating the pairs);
    - within a bucket the self-join is CHUNKED: members are split into
      ``ceil(max_bucket / chunk_rows)`` rank ranges and each chunk pair
      becomes its own join key, so one hot bucket fans out to
      O(n_chunks^2) parallel tasks instead of one straggler task. Task
      work is bounded by chunk_rows^2 regardless of corpus size.
    """
    n_bands = (k + rows_per_band - 1) // rows_per_band
    n_chunks = max(1, -(-max_bucket // chunk_rows))
    buckets = _lsh_buckets(sigs, k, rows_per_band, id_col)
    w = Window.partitionBy("band_no", "band").orderBy(id_col)
    capped = buckets.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= max_bucket
    )
    # pivot to one row per doc: surviving bucket value + rank per band
    # (NULL = truncated out of that band's bucket by the cap)
    surv = capped.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("band_no") == b, F.col("band"))).alias(f"__sb{b}")
            for b in range(n_bands)
        ],
        *[
            F.max(F.when(F.col("band_no") == b, F.col("rn"))).alias(f"__rn{b}")
            for b in range(n_bands)
        ],
    )
    # re-explode to join rows. Each surviving (doc, band) emits its chunk
    # keys for both join roles: role 0 rows carry (own_chunk, t) for every
    # t >= own_chunk, role 1 rows carry (s, own_chunk) for every
    # s <= own_chunk — a pair with chunks (ca <= cb) then matches on
    # exactly one (ka, kb) = (ca, cb) key, once. Both join sides read the
    # SAME frame (role is a join condition, not a pre-join filter), so the
    # exchange is planned once and reused.
    empty = F.expr("array()").cast(
        "array<struct<__band_no:int,__band:string,__role:int,__ka:int,__kb:int>>"
    )
    def _band_entries(b):
        cb = F.floor((F.col(f"__rn{b}") - F.lit(1)) / F.lit(chunk_rows)).cast("int")

        def mk(role, ka, kb):
            return F.struct(
                F.lit(b).alias("__band_no"),
                F.col(f"__sb{b}").alias("__band"),
                F.lit(role).alias("__role"),
                ka.cast("int").alias("__ka"),
                kb.cast("int").alias("__kb"),
            )

        return F.concat(
            F.transform(F.sequence(cb, F.lit(n_chunks - 1)), lambda t: mk(0, cb, t)),
            F.transform(F.sequence(F.lit(0), cb), lambda s: mk(1, s, cb)),
        )

    per_band = [F.coalesce(_band_entries(b), empty) for b in range(n_bands)]
    rows = surv.select(
        F.col(id_col),
        *[F.col(f"__sb{b}") for b in range(n_bands)],
        F.explode(F.concat(*per_band)).alias("__e"),
    ).select(id_col, *[f"__sb{b}" for b in range(n_bands)], "__e.*")
    # explicit keyed repartition on the join keys, with an explicit
    # partition count (the session's configured shuffle parallelism, NOT a
    # hard-coded core count): the bucket rows are tiny, so AQE would
    # coalesce this exchange to ~1 partition and the O(pairs) join OUTPUT
    # — the actual work — would run single-threaded. A user repartition
    # with explicit N is exempt from AQE coalescing, satisfies the join's
    # required distribution (no second exchange), and is planned ONCE for
    # both sides (identical subtrees -> reused exchange).
    rows = rows.repartition(
        _pair_partitions(sigs.sparkSession),
        "__band_no", "__band", "__ka", "__kb",
    )
    a = rows.alias("a")
    b_ = rows.alias("b")
    # role as a BOTH-SIDES comparison (roles are 0/1, so `<` means L-R
    # exactly): a single-side `a.__role == 0` would be pushed down as a
    # per-child filter, making the two join children differ and defeating
    # exchange reuse (the whole sigs pipeline would compute twice)
    cond = (
        (F.col("a.__band_no") == F.col("b.__band_no"))
        & (F.col("a.__band") == F.col("b.__band"))
        & (F.col("a.__ka") == F.col("b.__ka"))
        & (F.col("a.__kb") == F.col("b.__kb"))
        & (F.col("a.__role") < F.col("b.__role"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    # first-shared-band dedup (replaces the full-width distinct): for
    # every earlier band j, drop the pair iff BOTH members survived j's
    # cap in the SAME bucket (they were emitted there already). A NULL
    # survival (truncated at j) never suppresses — the pair was not
    # emitted at j.
    for j in range(n_bands - 1):
        cond = cond & (
            (F.col("a.__band_no") <= F.lit(j))
            | ~F.coalesce(
                F.col(f"a.__sb{j}") == F.col(f"b.__sb{j}"), F.lit(False)
            )
        )
    return a.join(b_, cond).select(
        F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
    )


def _lsh_buckets(sigs: DataFrame, k: int, rows_per_band: int, id_col: str) -> DataFrame:
    """(band_no, band, id) rows — one per document per band."""
    n_bands = (k + rows_per_band - 1) // rows_per_band
    banded = sigs.select(F.col(id_col), *hashing.band_exprs(k, rows_per_band))
    pieces = [
        banded.select(
            F.lit(b).alias("band_no"), F.col(f"band{b}").alias("band"), F.col(id_col)
        )
        for b in range(n_bands)
    ]
    buckets = pieces[0]
    for p in pieces[1:]:
        buckets = buckets.unionByName(p)
    return buckets


def lsh_truncation_stats_multi(
    sigs: DataFrame,
    caps: tuple[int, ...],
    k: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Recall-loss metrics for :func:`lsh_candidate_pairs` at SEVERAL caps
    in one pass: (cap, n_buckets_truncated, n_members_dropped) per cap.

    Widths come off the SAME (band_no, band) window shuffle the pair
    generation uses (row_number + an unordered count over one partition
    spec, then one row per bucket) — so when this frame is unioned with
    the capped pairs in a single query, the bands/sigs subtree is planned
    once and the exchange is reused instead of re-tokenizing the corpus
    per cap."""
    buckets = _lsh_buckets(sigs, k, rows_per_band, id_col)
    w = Window.partitionBy("band_no", "band").orderBy(id_col)
    ww = Window.partitionBy("band_no", "band")
    widths = (
        buckets.withColumn("rn", F.row_number().over(w))
        .withColumn("width", F.count(F.lit(1)).over(ww))
        .where(F.col("rn") == 1)
        .select("width")
    )
    one = widths.agg(
        *[
            agg
            for cap in caps
            for agg in (
                F.coalesce(
                    F.sum((F.col("width") > cap).cast("bigint")), F.lit(0)
                ).alias(f"__b{cap}"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("width") > cap, F.col("width") - cap).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__d{cap}"),
            )
        ]
    )
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cap).alias("cap"),
                        F.col(f"__b{cap}").alias("n_buckets_truncated"),
                        F.col(f"__d{cap}").alias("n_members_dropped"),
                    )
                    for cap in caps
                ]
            )
        ).alias("__s")
    ).select("__s.*")


def lsh_truncation_stats(
    sigs: DataFrame,
    k: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    max_bucket: int = 50,
) -> DataFrame:
    """One-row recall-loss metric for :func:`lsh_candidate_pairs` at the
    same parameters: how many buckets exceeded ``max_bucket`` and how many
    member rows the cap dropped. Emit/log this next to any capped run —
    a silent cap reads as full recall when it isn't."""
    return lsh_truncation_stats_multi(
        sigs, (max_bucket,), k=k, rows_per_band=rows_per_band, id_col=id_col
    ).select("n_buckets_truncated", "n_members_dropped")


def token_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_bigrams: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard scoring of candidate pairs (n=1 tokens or n=2
    shingles): |A ∩ B| / |A ∪ B|.

    Each document's distinct gram set travels as ONE array row of
    xxhash64'd grams; a pair's intersection is
    ``size(array_intersect(A, B))`` computed after two id-equi joins. The
    previous exploded-join formulation fanned every pair out to one row
    PER GRAM of its left member before the gram-match filter — O(sum over
    pairs of |A|) intermediate rows (~375M at sf0.1's 7.5M uncapped
    pairs; 34 s noop) — then shuffled that for the b-side join and again
    for the count groupBy. The array form shuffles one row per pair per
    side and drops both gram-fanout exchanges (34 s -> 6.4 s noop).

    Two deliberate shapes:
    - grams are hashed to LONGS before the set ops: long-array
      intersection is ~3x cheaper than string intersection (no per-token
      string hashing/equality inside the per-row hash set). A gram-hash
      collision would alter a count — odds are |grams|^2 / 2^64 per
      document (~1e-8 for the whole corpus), the same accepted trade as
      the xxhash64 node ids in :func:`duplicate_clusters`. Verified
      value-identical to the string form on every oracle SF.
    - the score is wrapped in a single-group aggregation
      (``groupBy(pair).min``) — an OPTIMIZATION BARRIER, not a
      computation: pairs are distinct by construction, so min(jac) == jac.
      Without it the threshold filter is pushed into the b-side join as a
      residual condition and the projection above recomputes it, so the
      expensive intersect runs TWICE per pair (measured ~2x the whole
      query). Predicates do not push through aggregations, so the filter
      applies to the agg output attribute and the intersect runs once,
      map-side, in the partial aggregate.

    Same result set: both forms count distinct shared grams over
    per-document distinct gram sets, and a pair whose member has a NULL
    gram set (NULL text) is dropped by the inner joins exactly as the
    inner size join dropped it before."""
    toks = text.tokens(F.col(text_col))
    grams = hashing.token_bigrams(toks) if use_bigrams else toks
    hashed = F.array_distinct(F.transform(grams, lambda x: F.xxhash64(x)))
    # size > 0 replicates the exploded form's inner-join semantics: a doc
    # with NULL text (NULL set) or no grams at all (empty bigram set of a
    # single-token doc) contributed no ``sets`` rows, so its pairs were
    # dropped by the inner size join — and an empty set would divide by
    # zero (ANSI) in the jaccard below
    gsets = docs.select(F.col(id_col), hashed.alias("__gs")).where(
        F.size("__gs") > 0
    )
    a_g = gsets.select(F.col(id_col).alias("a_id"), F.col("__gs").alias("__ga"))
    b_g = gsets.select(F.col(id_col).alias("b_id"), F.col("__gs").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb"))
    jac = F.round(inter / (F.size("__ga") + F.size("__gb") - inter), 4)
    return (
        pairs.join(a_g, "a_id")
        .join(b_g, "b_id")
        .groupBy("a_id", "b_id")
        .agg(F.min(jac).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def duplicate_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    log_truncation: bool = True,
) -> DataFrame:
    """End-to-end corpus dedup map (doc_id, keep_id): MinHash-LSH blocked
    candidates -> exact token-Jaccard >= threshold edges -> connected
    components -> every document mapped to its cluster minimum (non-dups
    map to themselves). THE training-data dedup composite: downstream
    keeps ``WHERE doc_id = keep_id``. Every stage is the blocked/bounded
    form (capped buckets, id-only joins, O(log n) CC rounds).

    ``log_truncation``: when the bucket cap bites, emit one WARNING with
    the measured recall loss (lsh_truncation_stats — no silent caps).
    Costs one extra aggregation over the bands; pass False to skip."""
    from .components import connected_components

    sigs = minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col)
    if log_truncation:
        # the stats collect below is a SEPARATE action from the cluster
        # computation; without a lineage cut it re-tokenizes the corpus
        # (the most expensive pass here) once per action. The lazy local
        # checkpoint materializes the tiny signature frame (id + k 16-char
        # hashes) on first use and every later action reads it back.
        sigs = sigs.localCheckpoint(eager=False)
        ts = lsh_truncation_stats(
            sigs, k=k, rows_per_band=rows_per_band,
            id_col=id_col, max_bucket=max_bucket,
        ).collect()[0]
        if ts.n_buckets_truncated:
            import logging

            logging.getLogger("r2s2_spark.dedup").warning(
                "LSH bucket cap (max_bucket=%d) truncated %d bucket(s), "
                "dropping %d member row(s) — candidate recall is below "
                "1.0; raise max_bucket or pre-filter boilerplate",
                max_bucket, ts.n_buckets_truncated, ts.n_members_dropped,
            )
    pairs = lsh_candidate_pairs(
        sigs, k=k, rows_per_band=rows_per_band, id_col=id_col, max_bucket=max_bucket
    )
    edges = token_jaccard_pairs(
        docs, pairs, threshold=threshold, id_col=id_col, text_col=text_col
    ).select("a_id", "b_id")
    # connected_components needs bigint nodes; ORIGINAL ids (string or
    # numeric) are kept through the composite and hashed to a node key
    # only inside the CC kernel (xxhash64 of the string form — collision
    # odds ~n^2/2^64, negligible below ~10^9 docs). The keep choice is
    # min(ORIGINAL id) per component, so the output id/keep_id columns
    # keep the caller's id type (ADVICE r2: the previous cast('bigint')
    # threw under ANSI mode for string ids).
    ids = docs.select(id_col).distinct().withColumn(
        "node", F.xxhash64(F.col(id_col).cast("string"))
    )
    e2 = (
        edges.join(ids.select(F.col(id_col).alias("a_id"), F.col("node").alias("src")), "a_id")
        .join(ids.select(F.col(id_col).alias("b_id"), F.col("node").alias("dst")), "b_id")
        .select("src", "dst")
    )
    comp = connected_components(e2)
    linked = ids.join(comp, "node")
    keep = linked.groupBy("component").agg(F.min(id_col).alias("keep_id"))
    linked_mapped = linked.join(keep, "component").select(F.col(id_col), "keep_id")
    singles = ids.join(comp, "node", "left_anti").select(
        F.col(id_col), F.col(id_col).alias("keep_id")
    )
    return linked_mapped.unionByName(singles)


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash bitstring): bit-majority over token hashes."""
    toks = docs.select(
        F.col(id_col), F.explode(text.tokens(F.col(text_col))).alias("tok")
    ).select(F.col(id_col), F.md5(F.col("tok")).alias("__m"))
    bits = toks.groupBy(id_col).agg(*hashing.simhash16(F.col("__m")))
    return bits.select(F.col(id_col), hashing.simhash_from_bits().alias("simhash"))


def embedding_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs over an embedding
    column — the same blocking shape as :func:`lsh_candidate_pairs`:
    ``n_bands`` independent buckets of ``n_bits`` Rademacher sign bits each
    (2^n_bits cells per band, balanced regardless of the embedding
    distribution), candidates = pairs sharing ANY band bucket. With the
    default 8 bits that's 256 buckets per band: the within-bucket self-join
    is O(n^2 / 256) per band — scale-safe, unlike a leading-dimension sign
    bucket whose 16 cells put n/16 vectors in each.

    All bands' buckets come from one numpy matmul per Arrow batch
    (:func:`hashing.hyperplane_buckets_pandas`: one Python boundary, BLAS
    inside), bucket-identical to the Catalyst fold the DuckDB oracles
    replay (:func:`hashing.hyperplane_bucket`, asserted in tests) and
    faster than it."""
    if dim is None:
        dim = emb.select(F.size(F.col(vec_col))).first()[0]
    bands_planes = [
        hashing.rademacher_planes(n_bits, dim, band=band) for band in range(n_bands)
    ]
    wide = hashing.hyperplane_buckets_pandas(
        emb, vec_col, bands_planes, id_col
    ).toDF(id_col, *[f"__bk{i}" for i in range(n_bands)])
    # one row per (vec, band), every band's bucket carried alongside so
    # cross-band duplicate pairs die to a FIRST-SHARED-BAND join filter
    # instead of a distinct() exchange over the whole pair set (same
    # rewrite as lsh_candidate_pairs; buckets are never NULL here, so no
    # cap-survival bookkeeping is needed). Both join sides are the same
    # frame — the exchange is planned once and reused.
    rows = wide.select(
        F.col(id_col),
        *[F.col(f"__bk{i}") for i in range(n_bands)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__band_no"),
                        F.col(f"__bk{i}").alias("__bkt"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("__e"),
    ).select(id_col, *[f"__bk{i}" for i in range(n_bands)], "__e.*")
    # same explicit keyed repartition as lsh_candidate_pairs: the bucket
    # rows are a few MB, AQE would coalesce the exchange to ~1 partition,
    # and the pair GENERATION plus whatever scoring the caller fuses after
    # it (cosine over millions of candidates) would run single-threaded
    rows = rows.repartition(
        _pair_partitions(emb.sparkSession), "__band_no", "__bkt"
    )
    a = rows.alias("a")
    b = rows.alias("b")
    cond = (
        (F.col("a.__band_no") == F.col("b.__band_no"))
        & (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for j in range(n_bands - 1):
        cond = cond & (
            (F.col("a.__band_no") <= F.lit(j))
            | ~F.coalesce(F.col(f"a.__bk{j}") == F.col(f"b.__bk{j}"), F.lit(False))
        )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
    )


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: banded hyperplane-LSH candidates
    (never all-pairs) scored by exact cosine >= threshold. Pairs carry ids
    only through the blocking join; vectors are joined back once for
    scoring (no vector duplication across bands)."""
    pairs = embedding_candidate_pairs(emb, id_col, vec_col, n_bits, n_bands, dim)
    # norms are projected once per VECTOR below the join; the per-pair
    # work is then a single dot fold. Expression is dot / (na * nb) —
    # the exact association of hashing.cosine_similarity, bit-identical
    # doubles (the fold ran 3x per pair before: dot + both norms).
    va = emb.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va")
    ).withColumn("__na", hashing.norm_fold(F.col("__va")))
    vb = emb.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb")
    ).withColumn("__nb", hashing.norm_fold(F.col("__vb")))
    cos = hashing.dot_fold(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        pairs.join(va, "a_id")
        .join(vb, "b_id")
        .select("a_id", "b_id", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
