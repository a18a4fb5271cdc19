"""Similarity search over embedding columns (array<float>).

Two paths:
  cosine_topk     brute-force exact top-k: broadcast the (small) query
                  set against the corpus, dot products as higher-order
                  array expressions (JVM-side, codegen), per-query
                  window top-k. The correctness baseline.
  signlsh_topk    sign-random-hyperplane LSH: each vector gets a B-bit
                  bucket from deterministic pseudo-random hyperplanes
                  (hash-derived, engine-portable); queries probe only
                  their own bucket — the 100 TB path, where the bucket
                  join replaces the full cross product. Recall is
                  tunable via B (fewer bits -> bigger buckets).

No Python UDFs; the hyperplanes are hash-derived inside Catalyst so
the same code runs identically on any cluster (and has an exact DuckDB
oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.ops.text import hash64, spread_input


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (q_id, vec_id, cos, rank), rank 1..k, ties broken by vec_id
    (cosine rounded to 6dp first so ranking is float-order-insensitive).
    """
    # norms are per-VECTOR, so compute them once before the pair join —
    # same doubles, same divide, but |pairs| fewer interpreted HOF folds
    c = spread_input(corpus, id_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("vn"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"),
                       _norm(F.col(q_vec_col)).alias("qn"))
    scored = (
        c.join(F.broadcast(q))
        .select(
            "q_id", "vec_id",
            F.round(_dot("v", "qv") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sign_lsh_bucket(vec_col, n_bits: int = 4, dim: int = 64):
    """Deterministic sign-LSH bucket id in [0, 2^n_bits).

    Hyperplane j's d-th component = (hash64('j,d') % 2001 - 1000)/1000,
    a reproducible pseudo-random value in [-1, 1] — derived inside the
    engine, no driver-side randomness, identical on every executor and
    every engine (portable oracle).
    """
    import hashlib

    bucket = F.lit(0).cast("long")
    for j in range(n_bits):
        # plan-build-time literal hyperplane — same md5 formula as the
        # per-row Catalyst form it replaces (bit-identical values; see
        # _ivf_centroid_comps for the round-5 rationale: per-row
        # derivation cost n_bits x dim md5 calls PER ROW)
        comps = F.array(*[
            F.lit((int(hashlib.md5(f"hp{j}:{d}".encode()).hexdigest()[:15],
                       16) % 2001 - 1000) / 1000.0)
            for d in range(dim)
        ])
        proj = F.aggregate(
            F.zip_with(vec_col, comps, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2 ** j).cast("long")).otherwise(0)
    return bucket


def cosine_clusters(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_threshold: float = 0.95,
    use_lsh: bool = False,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """CosineStrategy clustering re-expressed for a cluster
    (extraction_strategy.py:121-478): the reference runs scipy
    agglomerative clustering over in-memory chunk embeddings; the
    distributed-expressible linkage is SINGLE linkage, where cutting the
    dendrogram at distance d equals connected components of the
    cos >= 1-d similarity graph — so clustering becomes edge finding +
    min-label propagation, both relational.

    use_lsh=True restricts candidate pairs to same sign-LSH bucket (the
    100 TB path: no all-pairs); False is the exact verification path.
    Output: (id, cluster) for EVERY input vector — singletons form their
    own cluster (cluster == own id).
    """
    from crawl4ai_spark.ops.dedup import connected_components_min

    v = spread_input(emb, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"))
    if use_lsh:
        b = v.withColumn("bucket", sign_lsh_bucket(F.col("v"), n_bits, dim))
        a2, b2 = b.alias("a"), b.alias("b")
        joined = a2.join(
            b2, (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id"))
        )
    else:
        a2, b2 = v.alias("a"), v.alias("b")
        joined = a2.join(b2, F.col("a.id") < F.col("b.id"))
    pairs = joined.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        # per-vector norms precomputed above: identical doubles to the
        # per-pair form, minus two 64-dim folds on every candidate pair
        F.round(
            _dot("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("cos"),
    ).where(F.col("cos") >= sim_threshold).select("id_a", "id_b")

    comps = connected_components_min(pairs)
    return (
        v.select("id")
        .join(comps, "id", "left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("cluster"))
    )


def signlsh_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 4,
    dim: int = 64,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """The PRODUCTION near-dup pairs path: only same-sign-LSH-bucket
    pairs ever reach the dot product (the bucket equijoin replaces the
    O(n^2) cross join of embedding_neardup_pairs, which stays as the
    exact verification path). Recall tunes via n_bits; near-identical
    vectors land in the same bucket with high probability.
    Output: (id_a < id_b, cos >= threshold).

    ``max_bucket_df`` caps hot buckets (the twin of the shingle-DF cap
    in ops.dedup): a degenerate bucket — e.g. every zero vector signs
    to the same code — is quadratic in the join. Buckets over K members
    are dropped wholesale, so pairs are only ever MISSED (conservative);
    the count is a window over the same bucket key the join shuffles
    on, so the exchange is shared."""
    v = spread_input(emb, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
        sign_lsh_bucket(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    if max_bucket_df is not None:
        bw = Window.partitionBy("bucket")
        v = (
            v.withColumn("__bdf", F.count(F.lit(1)).over(bw))
            .where(F.col("__bdf") <= max_bucket_df)
            .drop("__bdf")
        )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.round(
                _dot("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm")), 6
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _ivf_centroid_comps(cell: int, dim: int):
    """Centroid `cell`'s component array: deterministic pseudo-random
    values in [-1, 1], md5-derived — the same cross-engine formula as
    hash64 (`(int(md5('ivf{cell}:{d}')[:15 hex], 16) % 2001 - 1000) /
    1000`), evaluated ONCE at plan-build time and embedded as a
    literal array. Evaluating it in Catalyst per row (the pre-round-5
    form) cost 8 cells x 64 dims = 512 md5 calls PER ROW and a huge
    expression tree whose analyze/codegen time dominated the whole op
    (BENCH.md round 5: dedup_semantic wall was flat from sf0.01 to
    sf0.1 — all fixed cost). The values are bit-identical either way
    (md5 is engine-independent; conv(hex,16,10) of 15 hex chars ==
    int(hex, 16) < 2^60; pmod == % on non-negative), so every oracle
    and the sign-LSH determinism contract are unchanged."""
    import hashlib

    return F.array(*[
        F.lit((int(hashlib.md5(f"ivf{cell}:{d}".encode()).hexdigest()[:15],
                   16) % 2001 - 1000) / 1000.0)
        for d in range(dim)
    ])


def ivf_cell_distances(vec_col, n_cells: int = 8, dim: int = 64):
    """Array of squared-L2 distances from a vector to each of the
    n_cells fixed centroids — one per-row Catalyst expression, so the
    coarse-quantizer assignment NEVER shuffles the corpus (the property
    that matters at 100 TB: k-means-style training would need iterative
    full passes; fixed hash-derived centroids give the same inverted-
    file structure for free, trading centroid quality for determinism)."""
    dists = []
    for cell in range(n_cells):
        comps = _ivf_centroid_comps(cell, dim)
        dists.append(
            F.aggregate(
                F.zip_with(
                    vec_col, comps,
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*dists)


def ivf_cell(vec_col, n_cells: int = 8, dim: int = 64):
    """IVF coarse-quantizer cell id in [0, n_cells): argmin of the
    centroid distances; first-occurrence `array_position` breaks exact
    ties toward the lowest cell id (deterministic)."""
    dists = ivf_cell_distances(vec_col, n_cells, dim)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("long")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF approximate top-k (the inverted-file counterpart to
    signlsh_topk): corpus vectors are binned to their nearest fixed
    centroid by a shuffle-free per-row expression; each query probes its
    `nprobe` nearest cells and ranks candidates by exact cosine.

    nprobe == n_cells degenerates to exact brute force (every cell
    probed), which pins the recall/efficiency dial to a testable
    endpoint. Output: (q_id, vec_id, cos, rank), rank 1..k.
    """
    c = spread_input(corpus, id_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("vn"),
        ivf_cell(F.col(vec_col), n_cells, dim).alias("cell"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"),
        _norm(F.col(q_vec_col)).alias("qn"),
        F.posexplode(ivf_cell_distances(F.col(q_vec_col), n_cells, dim))
        .alias("cell", "d2"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    q_cells = (
        q.withColumn("probe_rank", F.row_number().over(wq))
        .where(F.col("probe_rank") <= nprobe)
        .select("q_id", "qv", "qn", F.col("cell").cast("long").alias("cell"))
    )
    scored = c.join(F.broadcast(q_cells), "cell").select(
        "q_id", "vec_id",
        F.round(_dot("v", "qv") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
    max_cell_df: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    within each cluster greedily drop any vector that has a
    lower-id neighbor with cosine >= threshold — semantic duplicates
    that exact/fuzzy text dedup can't see (paraphrases, templated
    rewrites).

    The paper k-means-clusters then keeps, per duplicate group, the
    point farthest from the centroid; here clusters are the fixed
    hash-derived IVF cells (shuffle-free assignment, ivf_cell) and the
    keeper rule is min-id — both deterministic, which makes the op
    exactly oracle-able. The pair join is confined to same-cell pairs
    (the SemDeDup trick: within-cluster epsilon-neighbours, never the
    corpus cross product).

    ``max_cell_df`` is the hot-cell cap, the twin of max_bucket_df in
    the LSH ops: a degenerate cell (all-identical embeddings) is
    quadratic in the pair join, so cells larger than K are excluded
    from the join — their members are all KEPT (pairs can only be
    missed, never invented; conservative dedup).

    Output: (vec_id, cell, nn_cos, keep) — nn_cos is the max cosine to
    any smaller-id same-cell vector (-1.0 when none), keep = nn_cos <
    threshold.
    """
    v = spread_input(emb, id_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
        ivf_cell(F.col(vec_col), n_cells, dim).alias("cell"),
    )
    joinable = v
    if max_cell_df is not None:
        cw = Window.partitionBy("cell")
        joinable = (
            v.withColumn("__cdf", F.count(F.lit(1)).over(cw))
            .where(F.col("__cdf") <= max_cell_df)
            .drop("__cdf")
        )
    a, b = joinable.alias("a"), joinable.alias("b")
    nn = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("b.vec_id") < F.col("a.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(
                _dot("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm")), 6
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("nn_cos"))
    )
    return (
        v.join(nn, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.coalesce("nn_cos", F.lit(-1.0)).alias("nn_cos"),
        )
        .withColumn("keep", F.col("nn_cos") < F.lit(threshold))
    )


def signlsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking *within* the query's
    sign-LSH bucket. Output: (q_id, vec_id, cos, rank)."""
    c = spread_input(corpus, id_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("vn"),
        sign_lsh_bucket(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv"),
        _norm(F.col(q_vec_col)).alias("qn"),
        sign_lsh_bucket(F.col(q_vec_col), n_bits, dim).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "q_id", "vec_id",
        F.round(_dot("v", "qv") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
