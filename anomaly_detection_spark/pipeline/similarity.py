"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** — exact baseline: normalize, dot
  product via ``F.zip_with`` + ``F.aggregate`` (JVM-side), window
  top-k. O(n·q) — fine for moderate corpora / the correctness oracle.
- **LSH-bucketed ANN** — random-hyperplane signs (sign-LSH) built
  from a seeded deterministic projection; candidates = same-bucket
  pairs, then exact cosine on candidates only. The scale path: the
  shuffle key is the bucket signature, so compute is proportional to
  bucket density, not n².
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomaly_detection_spark.sources.tables import spread_single_file


def _dot(a, b):
    # cast elements to double BEFORE multiplying: float32 products in
    # double are exact, so the result matches engines (e.g. DuckDB)
    # that compute over DOUBLE[] arrays
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_similarity(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def nonzero_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop zero-norm vectors BEFORE any cosine math.

    A zero vector has no direction, so cosine similarity against it is
    undefined — ANSI Spark raises DIVIDE_BY_ZERO and DuckDB's
    list_cosine_similarity quietly returns -1.0, so no shared value
    exists to agree on.  At 100 TB zero embeddings are routine (failed
    encoder calls, padding rows), so every similarity operator excludes
    them at ingest; oracles carry the matching
    ``WHERE list_dot_product(e, e) > 0``.  (Found by the r6 adversarial
    zero-vector fixture: 9 operators crashed.)"""
    return df.where(_dot(F.col(vec_col), F.col(vec_col)) > 0)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int | None = 5,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, cosine, rank).
    ``k=None`` skips the per-query rank window and returns every
    (query_id, vec_id, cosine) row — callers rank distributedly.

    ``queries`` is expected to be small (a probe set) → broadcast; the
    big ``vectors`` side streams map-side, and the only shuffle is the
    per-query top-k window over n_queries × k candidate rows.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = vectors.crossJoin(F.broadcast(q)).select(
        query_id_col, id_col,
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    if k is None:
        return scored
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)  # deterministic tiebreak
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def sign_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Append a sign-LSH bucket id (long) — vectors with the same
    bucket are ANN candidates. Deterministic (seeded planes baked into
    the plan as literals)."""
    planes = random_hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        sign_bit = F.when(_dot(F.col(vec_col), lit_plane) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bucket.bitwiseOR(sign_bit.cast("long"))
    return df.withColumn(out_col, bucket)


def ivf_index(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    fit_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: MLlib KMeans over the corpus; returns the
    corpus with a ``cluster`` column plus the centroid list.

    At scale the index build is one KMeans job; assignment is a
    map-only pass with broadcast centroids. Queries probe the
    ``nprobe`` nearest centroids, so search cost is
    ~``nprobe/n_clusters`` of the corpus.

    ``fit_fraction``: fit the quantizer on a seeded sample instead of
    the full corpus — the standard IVF practice at scale (centroids
    need ~100·k training points, not 100 TB of them); assignment still
    covers every vector.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    with_vec = vectors.withColumn("_mlvec", array_to_vector(F.col(vec_col)))
    fit_input = (
        with_vec.sample(fraction=fit_fraction, seed=seed)
        if fit_fraction is not None else with_vec
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_mlvec",
                predictionCol="cluster")
    model = km.fit(fit_input)
    assigned = model.transform(with_vec).drop("_mlvec")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    indexed: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus to KMeans cells, probe the
    ``nprobe`` cells nearest each query, exact cosine re-rank inside.

    Pass ``indexed``/``centroids`` (from ``ivf_index``) to reuse a
    prebuilt index — the realistic pattern at scale.

    The query side stays a DataFrame end-to-end: centroids are baked
    into the plan as a 2-D array literal (they're tiny — n_clusters ×
    dim doubles), each query row computes its ``nprobe`` nearest cells
    with JVM array expressions (``transform``/``array_sort``/``slice``)
    and ``explode``s into (query, cell) probe rows.  No ``collect()``
    — a 10-million-row query table works the same as a 3-row probe set.
    """
    if indexed is None or centroids is None:
        indexed, centroids = ivf_index(vectors, vec_col, n_clusters, seed)

    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )

    def _sqdist(c, qvec):
        return F.aggregate(
            F.zip_with(
                c, qvec,
                lambda x, y: (x - y.cast("double")) * (x - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    scored_cells = F.transform(
        cent_lit,
        lambda c, i: F.struct(
            _sqdist(c, F.col("_qvec")).alias("d"), i.alias("i")
        ),
    )
    probe_cells = F.transform(
        F.slice(F.array_sort(scored_cells), 1, nprobe), lambda s: s["i"]
    )
    probes = q.withColumn("cluster", F.explode(probe_cells))
    cand = indexed.join(F.broadcast(probes), "cluster").select(
        query_id_col, id_col,
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_duplicates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 12,
    seeds: tuple[int, ...] = (42, 1337, 9001),
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH buckets generate
    candidates (same bucket ⇒ likely small angle), exact cosine
    verifies. Returns (id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold.

    Scale: the only fact-fact shuffle keys on the (seed, bucket) pair;
    with n_planes=12 a random pair collides with p≈2^-12 per seed, so
    candidate volume tracks true near-dup density.  Recall comes from
    the ``seeds`` union — each plane-set is an independent detector and
    a pair is a candidate if ANY seed buckets it together (candidates
    are ``distinct``-ed before the exact-cosine verify, so each pair is
    scored once).  ``max_bucket_size`` drops pathological buckets where
    a plane-set failed to discriminate (skew guard: a b-row bucket
    contributes b² candidate pairs); dropped buckets only cost recall
    that the other seeds usually recover.
    """
    # one Arrow-batched numpy kernel computes ALL seeds' buckets in a
    # single matrix multiply per batch — 3 seeds × 12 planes as one
    # (dim, seeds·planes) GEMM, vs 36 interpreted higher-order folds
    # per row as JVM expressions (measured 4× faster at bench scale,
    # same scale shape: map-only, no shuffle)
    from pyspark.sql.functions import pandas_udf

    plane_mat = np.concatenate(
        [np.asarray(random_hyperplanes(dim, n_planes, s)).T for s in seeds],
        axis=1,
    )  # (dim, n_seeds·n_planes)
    bits = (1 << np.arange(n_planes, dtype=np.int64))
    n_seeds = len(seeds)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy())  # (batch, dim) float32
        signs = (m.astype(np.float64) @ plane_mat) >= 0  # (batch, s·p)
        per_seed = signs.reshape(len(m), n_seeds, n_planes)
        codes = (per_seed * bits).sum(axis=2)  # (batch, n_seeds)
        return pd.Series(list(codes))

    # a single parquet file scans as 1-2 partitions: spread rows across
    # the cluster before the Arrow kernel and the bucket self-join — at
    # real scale the input has many splits and this is skipped
    vectors = spread_single_file(vectors)
    with_buckets = vectors.select(
        F.col(id_col), _buckets(F.col(vec_col)).alias("_bkts")
    )
    slim = with_buckets.select(
        F.col(id_col),
        F.posexplode("_bkts").alias("_seed", "bucket"),
    ).select("_seed", "bucket", id_col)
    # the triple feeds three consumers (bucket-size cap, both sides of
    # the self-join): persist so the Arrow kernel runs ONCE, not 3x
    slim = slim.persist()
    if max_bucket_size is not None:
        sizes = (
            slim.groupBy("_seed", "bucket")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
        slim = slim.join(sizes, ["_seed", "bucket"])
    a, c = slim.alias("a"), slim.alias("b")
    cand = (
        a.join(
            c,
            (F.col("a._seed") == F.col("b._seed"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # precompute each vector's norm ONCE (sqrt(dot(v,v)) per row) so the
    # per-pair verify runs one 64-element fold instead of three — same
    # arithmetic, same bits: sqrt(da)*sqrt(db) exactly as before
    with_norm = vectors.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    va = with_norm.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    vb = with_norm.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = cand.join(va, "id_a").join(vb, "id_b").select(
        "id_a", "id_b",
        F.round(
            _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
        ).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= cosine_threshold)


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    n_probes: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, exact cosine
    re-rank on candidates.

    ``n_probes`` > 1 enables multi-probe: each query also probes
    ``n_probes - 1`` buckets at Hamming distance 1 (one sign bit
    flipped, fixed bit order) — the standard recall boost without
    extra hash tables (Lv et al., VLDB'07).  Candidate volume grows
    ~linearly in probes, still bucket-bounded; the corpus side is
    untouched.  A margin-ranked probe order (flip the lowest-|dot|
    bits first) is the refinement when probe budget is tight.

    ``n_tables`` > 1 builds L independent hash tables (seeded plane
    sets) and unions their candidates — the classic LSH recall lever:
    a true neighbor is missed only if it collides with the query in
    NONE of the L tables, so the miss rate decays geometrically in L.
    Probing composes with it (each table is multi-probed).  Each
    table's candidate join stays a map-side broadcast (the corpus is
    NEVER shuffled); scored candidates from all tables union narrowly
    and deduplicate on the slim (query, id, cosine) triples before the
    top-k window.
    """
    def _per_table(t: int) -> DataFrame:
        tseed = seed + 1000003 * t
        v = sign_lsh_buckets(vectors, vec_col, dim, n_planes, tseed)
        q = sign_lsh_buckets(
            queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec")),
            "_qvec", dim, n_planes, tseed,
        )
        if n_probes > 1:
            probes = F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
                    for i in range(min(n_probes - 1, n_planes))
                ],
            )
            # probe buckets are pairwise distinct, so within ONE table
            # no (query, vector) pair is generated twice
            q = q.withColumn("bucket", F.explode(probes))
        return v.join(F.broadcast(q), "bucket").select(
            query_id_col, id_col,
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), 6
            ).alias("cosine"),
        )

    cand = _per_table(0)
    for t in range(1, n_tables):
        cand = cand.unionByName(_per_table(t))
    if n_tables > 1:
        # a pair found by several tables has the same cosine everywhere
        # — dropDuplicates keeps one copy of the slim scored triple.
        # Partition by query_id BEFORE the dedup: HashPartitioning
        # (query_id) satisfies both the dedup aggregate's clustered
        # distribution ([query_id, id] — subset rule) AND the top-k
        # window's, so one exchange replaces the dedup's (query_id, id)
        # shuffle plus the window's query_id shuffle.
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism,
            query_id_col,
        ).dropDuplicates([query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def assign_nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment: (id, cluster_id, cosine).

    The building block for corpus clustering / topic-bucket balancing:
    ``centroids`` is small (K rows) and is broadcast, so the big side
    streams map-only — K scored rows per vector, then a per-vector
    argmax as a hash aggregation (``max`` over a (cosine, -id) struct).
    Ties break on the lower centroid id.

    The agg form beats a row_number window here because partial
    aggregation runs map-side: the K-per-vector candidate rows
    collapse to one BEFORE the exchange, so the shuffle carries n
    rows, not n·K, and no sort is needed.
    """
    c = centroids.select(
        F.col(centroid_id_col), F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    # same arithmetic as cosine_similarity — dot/(sqrt(da)*sqrt(db)) —
    # but each row's norm is computed ONCE instead of once per centroid
    scored = vectors.withColumn("_vn", _norm(F.col(vec_col))).crossJoin(
        F.broadcast(c)
    ).select(
        id_col,
        F.col(centroid_id_col).alias("cluster_id"),
        F.round(
            _dot(F.col(vec_col), F.col("_cvec")) / (F.col("_vn") * F.col("_cn")),
            6,
        ).alias("cosine"),
    )
    # `_k` = cosine normalized (-0.0 + 0.0 == +0.0) so the struct max
    # orders floats exactly as a sort would; raw cosine rides along
    # unchanged for the output
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                (F.col("cosine") + F.lit(0.0)).alias("_k"),
                (-F.col("cluster_id").cast("long")).alias("_nc"),
                F.col("cosine").alias("_c"),
            )
        ).alias("_m")
    )
    return best.select(
        id_col,
        (-F.col("_m._nc")).cast(dict(scored.dtypes)["cluster_id"])
        .alias("cluster_id"),
        F.col("_m._c").alias("cosine"),
    )


def simplified_silhouette(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per vector:
    ``s = (b - a) / max(a, b)`` with a = cosine distance to the OWN
    (nearest) centroid and b = distance to the runner-up centroid.

    The classic silhouette is O(n²) in the corpus; the simplified form
    substitutes centroid distances — linear, one broadcast of K
    centroids, the standard scale-safe variant.  Computed on the
    1e-6 integer grid so both engines make identical boundary
    decisions: ``silhouette_fp = (b - a) * 1e6 div max(a, b)`` (exact
    integer floor division; b >= a by construction so the quotient is
    non-negative).  NULL when fewer than two centroids exist (the
    score is undefined), 0 when the vector coincides with two
    centroids (a = b = 0).
    """
    c = centroids.select(
        F.col(centroid_id_col), F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    c6 = F.round(
        F.round(
            _dot(F.col(vec_col), F.col("_cvec"))
            / (F.col("_vn") * F.col("_cn")), 6
        ) * 1_000_000, 0
    ).cast("long")
    scored = vectors.withColumn("_vn", _norm(F.col(vec_col))).crossJoin(
        F.broadcast(c)
    ).select(
        id_col,
        F.col(centroid_id_col).cast("long").alias("_cid"),
        c6.alias("_c6"),
    )
    # top-2 per vector via a map-side sorted K-list (K = |centroids|,
    # bounded): sort ascending on (-c6, centroid_id) == descending
    # cosine with lower-id tie-break, the assign_nearest convention
    top2 = scored.groupBy(id_col).agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(
                    (-F.col("_c6")).alias("_nk"), F.col("_cid")
                ))
            ), 1, 2
        ).alias("_t")
    )
    a = F.lit(1_000_000) + F.element_at("_t", 1)["_nk"]
    b = F.lit(1_000_000) + F.element_at("_t", 2)["_nk"]
    s_fp = F.when(F.size("_t") < 2, F.lit(None).cast("long")).otherwise(
        F.when(F.greatest(a, b) == 0, F.lit(0).cast("long")).otherwise(
            F.expr(
                "CAST((1000000 + element_at(_t, 2)._nk"
                "      - (1000000 + element_at(_t, 1)._nk)) * 1000000"
                " div greatest(1000000 + element_at(_t, 1)._nk,"
                "              1000000 + element_at(_t, 2)._nk) AS BIGINT)"
            )
        )
    )
    return top2.select(
        id_col,
        F.element_at("_t", 1)["_cid"].alias("cluster_id"),
        s_fp.alias("silhouette_fp"),
    )


def local_outlier_factor(
    vectors: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Cluster-scoped Local Outlier Factor (Breunig et al., SIGMOD'00):
    density-RELATIVE outliers over an embedding column — the kNN-based
    detector the anomaly stack lacked (Mahalanobis is global-
    covariance, HBOS independence-assuming; LOF flags points whose
    local density is low *relative to their own neighbors'*, the
    standard multi-density detector).

    Scale shape: the classic LOF is O(n²); here neighborhoods are
    scoped to the nearest-centroid cell (the SemDeDup/IVF argument —
    cells are bounded by construction), so the quadratic is per-cell
    and the whole thing is dictionary joins + cell-partitioned
    windows.  Every distance is an exact integer on the 1e-6 cosine
    grid (d = 1e6 - cos6); k-distance, reachability, lrd and LOF are
    exact integer rationals (lrd on a 1e12 grid, LOF in ppm) so both
    engines truncate identically.  Cells with <= k members are
    excluded (LOF undefined); duplicate-saturated neighborhoods
    (sum of reachabilities = 0) yield NULL, and a NULL lrd among a
    point's neighbors nulls its LOF (no silent partial sums).

    Checkpoint retention/recovery trade-off: the three eager
    ``localCheckpoint()`` calls below (pairs, kd, lrd — the r8 lineage
    fix, 2.7x) pin their blocks in executor storage until the backing
    RDDs are garbage-collected JVM-side; there is no unpersist handle
    on the returned DataFrame, so a session that calls LOF in a loop
    accumulates storage until the async ContextCleaner catches up.
    Session-long callers should call :func:`release_local_checkpoints`
    AFTER fully materializing the result (the blocks ARE the data —
    lineage is truncated, so they are also non-recoverable on executor
    loss; a production run that needs fault tolerance should swap
    ``localCheckpoint`` for ``checkpoint`` against reliable storage).
    """
    assigned = assign_nearest_centroid(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    ).select(id_col, "cluster_id")
    v = vectors.select(
        F.col(id_col), F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
    )
    a = assigned.join(v, id_col).select(
        F.col(id_col).alias("p"), "cluster_id", "_v", "_n"
    )
    big = (
        a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_sz"))
        .where(F.col("_sz") > k).select("cluster_id")
    )
    a = a.join(F.broadcast(big), "cluster_id")
    b = a.select(
        F.col("cluster_id"), F.col("p").alias("o"),
        F.col("_v").alias("_w"), F.col("_n").alias("_m"),
    )
    d6 = (
        F.lit(1_000_000)
        - F.round(
            F.round(_dot(F.col("_v"), F.col("_w"))
                    / (F.col("_n") * F.col("_m")), 6) * 1_000_000, 0
        ).cast("long")
    )
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col("p") != F.col("o"))
        .select("cluster_id", "p", "o", d6.alias("d"))
        # localCheckpoint: kd, nbrs, lrd and the final aggregate each
        # reference this table, and without materialization every
        # reference RE-EXPANDS the whole assignment-cross + distance
        # lineage (measured r8: 81 exchanges / 101 joins, ~19 s on
        # 2000 vectors at sf0.1; ~5x faster checkpointed).  The table
        # is the operator's documented bounded Sigma|cell|^2 memory
        # contract, so materializing it is the intended cost.  Same
        # precedent as dedup_detector_eval's LSH checkpoint.
        .localCheckpoint()
    )
    wp = Window.partitionBy("p").orderBy("d", "o")
    kd = (
        pairs.withColumn("_rn", F.row_number().over(wp))
        .groupBy("p")
        .agg(F.max(F.when(F.col("_rn") == k, F.col("d"))).alias("kdist"))
        # one row per point, referenced twice (nbrs and the reach
        # lookup) — checkpointing stops the pair-window re-running
        .localCheckpoint()
    )
    nbrs = (
        pairs.join(kd, "p")
        .where(F.col("d") <= F.col("kdist"))
        .select("cluster_id", "p", "o", "d")
        # deliberately NOT checkpointed: measured r8, the extra eager
        # action costs as much as the duplicate pairs-join it saves
    )
    ko = kd.select(F.col("p").alias("o"), F.col("kdist").alias("kdist_o"))
    lrd = (
        nbrs.join(ko, "o")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum(F.greatest(F.col("kdist_o"), F.col("d"))).cast("long")
            .alias("sum_reach"),
        )
        .select(
            "p", "np",
            F.expr(
                "CASE WHEN sum_reach > 0"
                " THEN np * 1000000000000L div sum_reach"
                " ELSE NULL END"
            ).alias("lrd_fp"),
        )
        # one row per point, referenced twice (neighbor lookup and the
        # final LOF ratio)
        .localCheckpoint()
    )
    lo = lrd.select(F.col("p").alias("o"), F.col("lrd_fp").alias("lrd_o"))
    agg = (
        nbrs.join(lo, "o")
        .groupBy("p")
        .agg(
            F.count("lrd_o").cast("long").alias("_cnt"),
            F.sum(F.col("lrd_o").cast("decimal(38,0)")).alias("_sum"),
        )
    )
    out = (
        lrd.join(agg, "p")
        .join(a.select("p", "cluster_id"), "p")
        .select(
            F.col("p").alias(id_col),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("np").alias("n_neighbors"),
            F.expr(
                "CASE WHEN lrd_fp IS NOT NULL AND _cnt = np"
                " THEN CAST((_sum * 1000000)"
                "      div (CAST(np AS DECIMAL(38,0)) * lrd_fp) AS BIGINT)"
                " ELSE NULL END"
            ).alias("lof_ppm"),
        )
    )
    return out


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs currently pinned in executor storage (cache OR
    localCheckpoint blocks).  Snapshot before an operator, diff after —
    the leak-test primitive (set difference, not count equality: the
    async ContextCleaner can drop UNRELATED earlier RDDs mid-test)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def release_local_checkpoints(spark, keep_ids: set[int]) -> list[int]:
    """Unpersist every pinned RDD not in ``keep_ids`` — the cleanup
    path for session-long callers of checkpoint-backed operators
    (:func:`local_outlier_factor`, k-core, the LSH dedup eval), whose
    ``localCheckpoint`` blocks otherwise live until a JVM GC lets the
    ContextCleaner reap them.

    ``keep_ids`` is REQUIRED — pass the :func:`persistent_rdd_ids`
    snapshot taken before the operator ran.  A permissive default
    (release everything) would unpersist caches and still-live
    localCheckpoint blocks owned by UNRELATED code in the same
    session; a localCheckpoint has no lineage, so releasing someone
    else's live checkpoint makes their DataFrame permanently
    unusable.  The snapshot-diff pattern below is therefore enforced,
    not optional.

    Call ONLY after the results that reference those checkpoints are
    fully materialized (collected or written): a localCheckpoint has no
    lineage to recompute from, so unpersisting it makes any dependent
    DataFrame unusable.  Typical use::

        before = persistent_rdd_ids(spark)
        result = local_outlier_factor(...).collect()
        release_local_checkpoints(spark, keep_ids=before)

    Returns the ids released (blocking unpersist, so a follow-up
    :func:`persistent_rdd_ids` reflects the release immediately).
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released: list[int] = []
    for jid in list(jmap.keySet().toArray()):
        rid = int(jid)
        if rid in keep_ids:
            continue
        jmap.get(jid).unpersist(True)
        released.append(rid)
    return sorted(released)


def cluster_balanced_sample(
    assigned: DataFrame,
    per_cluster: int,
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-cluster subsample: ``per_cluster`` rows per
    cluster, chosen by a portable md5 content-hash order (reproducible
    on any engine / any partitioning, append-stable — ``rand()`` is
    none of those on a cluster). Appends ``sample_rank``.
    """
    hx = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"),
                           F.col(id_col).cast("string")).cast("binary")),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    w = Window.partitionBy(cluster_col).orderBy(hx.asc(), F.col(id_col).asc())
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= per_cluster)
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid,
    compare pairs ONLY within a cluster, and mark a vector as a
    duplicate when some lower-id cluster-mate has cosine >= threshold.
    Returns (vec_id, kept_id, cosine): one row per REMOVED vector,
    ``kept_id`` = its lowest-id qualifying neighbour (with that pair's
    cosine) — deterministic, no greedy chaining.

    Scale: this is the whole point of the construction — the quadratic
    candidate step is bounded per cluster, and the cluster count grows
    with the corpus (k ~ n/avg_cluster_size), so per-cluster work stays
    constant while clusters parallelize perfectly.  The only fact-fact
    shuffle keys on cluster_id; centroids are broadcast.
    """
    vectors = spread_single_file(vectors)
    assigned = assign_nearest_centroid(
        vectors, centroids, id_col, vec_col, centroid_id_col
    ).select(id_col, "cluster_id")
    # norms computed once per vector (identical bits to the per-pair
    # form: dot/(sqrt(da)*sqrt(db)) either way)
    slim = assigned.join(
        vectors.select(id_col, vec_col, _norm(F.col(vec_col)).alias("_n")),
        id_col,
    ).select(
        "cluster_id", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        F.col("_n"),
    )
    # the slim rows are BYTE-small but the per-cluster pair verify is
    # CPU-quadratic: AQE's byte-based coalescing would fold the tiny
    # shuffle into ONE partition and serialize the whole verify on a
    # single core (measured 2.5x at bench scale). An explicit keyed
    # repartition is exempt from AQE coalescing and co-partitions both
    # sides of the self-join, so no extra exchange is added.
    slim = slim.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, "cluster_id"
    )
    a, b = slim.alias("a"), slim.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("b._id").alias(id_col),
            F.col("a._id").alias("kept_id"),
            F.round(
                _dot(F.col("a._v"), F.col("b._v"))
                / (F.col("a._n") * F.col("b._n")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= cosine_threshold)
    )
    # lowest-id qualifying neighbour, with ITS cosine: min over the
    # (kept_id, cosine) struct orders by kept_id first
    return (
        pairs.groupBy(id_col)
        .agg(F.min(F.struct("kept_id", "cosine")).alias("_k"))
        .select(id_col, F.col("_k.kept_id").alias("kept_id"),
                F.col("_k.cosine").alias("cosine"))
    )


def pq_codebooks_from_rows(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    n_subspaces: int = 8,
    grid_scale: int = 4,
) -> list[list[list[int]]]:
    """Deterministic PQ codebooks: codeword (s, c) is the s-th subspace
    slice of training row c (the ``n_codes`` lowest-id vectors),
    quantized to the 1e-``grid_scale`` integer grid.  Collecting
    ``n_codes`` rows to the driver is index BUILD, not query execution
    — the artifact is m*k*(dim/m) ints, broadcast into the plan as
    literals (a real deployment would swap in sampled-KMeans codebooks
    the same way).  Integer codewords make every PQ distance an exact
    integer: encode argmins and ADC scores are bit-identical on any
    engine and any partitioning."""
    rows = (
        vectors.select(id_col, vec_col)
        .where(F.col(id_col) < n_codes)
        .orderBy(id_col)
        .collect()
    )
    scale = float(10 ** grid_scale)
    dim = len(rows[0][vec_col])
    sub = dim // n_subspaces
    books: list[list[list[int]]] = []
    for s in range(n_subspaces):
        book = []
        for r in rows:
            v = r[vec_col]
            book.append(
                [int(round(float(x) * scale)) for x in v[s * sub:(s + 1) * sub]]
            )
        books.append(book)
    return books


def _pq_quantize(vec_col, grid_scale: int = 4):
    scale = 10 ** grid_scale
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _books_relation(df: DataFrame, codebooks) -> DataFrame:
    """The codebooks as ONE plan constant: a 1-row broadcast relation
    holding the parsed ``array<array<array<bigint>>>``.

    Building m*k nested ``F.lit`` arrays costs thousands of Py4J
    round-trips (~2.5 s of pure driver time at m=8, k=16, dim=64 —
    measured; it dwarfed the 1.1 s of actual execution).  Serializing
    the whole structure to a single JSON literal and parsing it once
    in a 1-row relation is one driver call; the broadcast NLJ attaches
    the same in-memory row to every batch, so nothing is re-parsed
    per corpus row and no shuffle is introduced.
    """
    import json

    return F.broadcast(
        df.sparkSession.range(1).select(
            F.from_json(
                F.lit(json.dumps(codebooks)), "array<array<array<bigint>>>"
            ).alias("_books")
        )
    )


def _pq_sqdist_int(a, b):
    """Exact integer squared distance between two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    grid_scale: int = 4,
    out_col: str = "pq_code",
) -> DataFrame:
    """Append ``out_col``: array<int> of per-subspace codeword indices
    (0-based), the m-byte PQ compression of the vector.  Map-only: the
    codebooks ride the plan as literals, and each subspace argmin is a
    JVM ``array_min`` over (distance, code) structs — exact integers,
    ties to the lower code."""
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    vectors = spread_single_file(vectors)
    vq = _pq_quantize(vec_col, grid_scale)
    codes = []
    for s in range(n_sub):
        book_s = F.element_at("_books", s + 1)
        vslice = F.slice(vq, s * sub + 1, sub)
        scored = F.transform(
            book_s,
            lambda w, i: F.struct(
                _pq_sqdist_int(vslice, w).alias("d"), i.alias("c")
            ),
        )
        codes.append(F.array_min(scored)["c"])
    # NOTE(perf): an "optimized" flat unrolling of this (materialized
    # quantized dims + per-codeword expression arithmetic + F.least)
    # measures ~6x SLOWER: CollapseProject re-inlines the quantized
    # dims into every codeword expression and the resulting tree
    # evaluates interpreted. The HOF form keeps the per-subspace work
    # array-local; the codebooks ride in as ONE json-parsed constant
    # (see _books_relation) instead of thousands of lit() nodes.
    return (
        vectors.crossJoin(_books_relation(vectors, codebooks))
        .withColumn(out_col, F.array(*codes))
        .drop("_books")
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    grid_scale: int = 4,
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC, Jegou et al. TPAMI 2011):
    the corpus is scanned as m-byte codes, each query precomputes a
    (subspace x codeword) lookup table of exact integer distances, and
    the approximate distance is m table lookups + adds per corpus row.

    Returns (query_id, vec_id, adc_dist, rank) — ``adc_dist`` on the
    original value scale.  Shuffle shape: corpus encode is map-only,
    queries (with LUTs) broadcast, and the only exchange is the
    per-query top-k window.  At 100 TB the encoded corpus is ~dim/32x
    smaller than raw vectors — the scan, not the math, is the point.
    """
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    encoded = pq_encode(vectors, codebooks, vec_col, grid_scale, "_code")

    qv = _pq_quantize(vec_col, grid_scale)
    luts = []
    for s in range(n_sub):
        book_s = F.element_at("_books", s + 1)
        qslice = F.slice(qv, s * sub + 1, sub)
        luts.append(
            F.transform(book_s, lambda w: _pq_sqdist_int(qslice, w))
        )
    q = queries.crossJoin(_books_relation(queries, codebooks)).select(
        F.col(query_id_col), F.array(*luts).alias("_lut")
    )
    scale2 = float(10 ** (2 * grid_scale))
    adc_q = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at("_lut", (s + 1).cast("int")),
            (F.element_at("_code", (s + 1).cast("int")) + 1).cast("int"),
        ),
    )
    scored = encoded.crossJoin(F.broadcast(q)).select(
        query_id_col, id_col, (adc_q.cast("double") / scale2).alias("adc_dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def twonn_intrinsic_dim(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-scoped TwoNN intrinsic-dimension estimate (Facco et al.,
    Scientific Reports 2017): per cell, id = n / Σ ln(r2/r1) over each
    point's two nearest POSITIVE cosine distances — the
    manifold-dimension diagnostic for an embedding column.

    Same cell-scoping contract as :func:`local_outlier_factor`: the
    per-point 2NN search is confined to the nearest-centroid cell, so
    the quadratic is per-cell and the production scaling law is the
    IVF doctrine (centroid count grows with the corpus, cells stay
    bounded — `scripts/scale_probe_r8.py` measures the compliant
    regime).  Distances are exact integers on the 1e-6 cosine grid;
    ln-ratios land on a 1e-6 grid before the one shared division.
    Cells need >= 3 members; zero distances (exact duplicates) are
    excluded from the two-NN radii, and a cell whose ln-ratio sum is
    0 (all tied radii) yields NULL.
    """
    emb = vectors
    assigned = assign_nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster_id").join(emb, id_col)
    a = assigned.select(
        "cluster_id", F.col(id_col).alias("p"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
    )
    big = (
        a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_sz"))
        .where(F.col("_sz") >= 3).select("cluster_id")
    )
    a = a.join(F.broadcast(big), "cluster_id")
    b = a.select(
        F.col("cluster_id"), F.col("p").alias("o"),
        F.col("_v").alias("_w"), F.col("_n").alias("_m"),
    )
    d6 = (
        F.lit(1_000_000)
        - F.round(
            F.round(_dot(F.col("_v"), F.col("_w"))
                    / (F.col("_n") * F.col("_m")), 6) * 1_000_000, 0
        ).cast("long")
    )
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col("p") != F.col("o"))
        .select("cluster_id", "p", d6.alias("d"))
        .where(F.col("d") > 0)
    )
    # per-point collect_list + sort_array, NOT a row_number window:
    # measured r8, the window's shuffle-and-sort over the full pair
    # table costs ~2x the map-side array aggregation at sf0.1
    rr = pairs.groupBy("cluster_id", "p").agg(
        F.expr("slice(sort_array(collect_list(d)), 1, 2)").alias("ds")
    ).where(F.size("ds") >= 2)
    mu = rr.select(
        "cluster_id",
        F.expr(
            "CAST(round(round(ln(CAST(element_at(ds, 2) AS DOUBLE)"
            " / element_at(ds, 1)), 6) * 1000000, 0) AS BIGINT)"
        ).alias("lnmu_fp"),
    )
    return mu.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.expr(
            "CASE WHEN sum(lnmu_fp) > 0"
            " THEN CAST((count(*) * 1000000 * 1000000) div sum(lnmu_fp)"
            "      AS BIGINT)"
            " ELSE NULL END"
        ).alias("id_ppm"),
    ).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "n_used", "id_ppm",
    )
