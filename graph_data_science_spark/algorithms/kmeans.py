"""K-Means over an array node property (reference ``algo/.../kmeans/Kmeans.java:41``).

Lloyd's algorithm: assign each node to the nearest (Euclidean) centroid,
recompute centroids as cluster means, stop when fewer than
``delta_threshold · nodeCount`` nodes switch or ``max_iterations`` hit —
the same stopper as ``KmeansIterationStopper.java``. The reference samples
initial centroids uniformly/kmeans++ from a seeded SplittableRandom; a
shuffle engine needs cluster-size-independent determinism, so init picks
the k nodes with the smallest ``xxhash64(seed, node_id)`` (an unbiased
seeded sample with a total order any cluster reproduces; explicit
``seed_centroids`` overrides it, the ``seedCentroids`` config analog).

Spark shape: centroids are k·d doubles — driver-side literals. Assignment
is ONE scan with no shuffle either way, but the kernel differs by size:

- small k·d: the distance argmin unrolled as a column expression
  (whole-stage codegen) — zero Python;
- large k·d (> ``KMEANS_EXPR_MAX_TERMS``): the unrolled plan itself
  becomes the bottleneck — at k=128, d=128 building the literal tree
  exhausts the DRIVER heap before a row is read (recorded:
  ``bench_experiments/kmeans_kernel_ab.json``), so assignment switches
  to a broadcast centroid matrix + Arrow-batched ``mapInPandas`` argmin
  (the GEMM shape of ``datapipe/ann.py``): ``d² = ‖x‖² − 2·X·Cᵀ + ‖c‖²``
  per batch, clamped at 0. Same tie rule (lowest index wins). The GEMM
  form can differ from the elementwise form by ~1 ulp under cancellation
  (A/B: 0 beyond-tie disagreements, max distance delta 1.6e-15) —
  irrelevant to Lloyd's convergence and to the reference's own float
  accumulation. The expression path stays the small-k·d default because
  its arithmetic replays exactly in the DuckDB oracles (exact-tie
  breaks included) and the driver-gate fixtures are sub-second either
  way; the A/B records the kernel is 17× faster already at k=8, d=16,
  n=200k (HOF aggregate/zip_with run interpreted, not codegen'd), so
  any latency-sensitive large-n caller can lower the threshold.

The recompute is one groupBy over k groups (d partial-agg sums — plan
size O(d), not O(k·d)). Per iteration: one shuffle, one tiny collect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this many k·dim terms the unrolled argmin expression dominates the
# plan (codegen size) — assignment switches to the mapInPandas kernel.
KMEANS_EXPR_MAX_TERMS = 4096


@dataclass
class KmeansResult:
    assignments: DataFrame  # (node_id long, community int, distance double)
    centroids: list  # list[list[float]]
    ran_iterations: int
    did_converge: bool


def _dist_sq(vec_col, centroid: list) -> F.Column:
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_expr(df: DataFrame, centroids: list) -> DataFrame:
    """Unrolled column-expression argmin (small k·d): whole-stage codegen,
    ties to the lowest centroid index (strict < keeps the earlier one)."""
    dists = [(j, _dist_sq(F.col("vec"), c)) for j, c in enumerate(centroids)]
    best = F.lit(0)
    best_d = dists[0][1]
    for j, dcol in dists[1:]:
        cond = dcol < best_d
        best = F.when(cond, F.lit(j)).otherwise(best)
        best_d = F.when(cond, dcol).otherwise(best_d)
    return df.select(
        "node_id", "vec", best.cast("int").alias("community"), F.sqrt(best_d).alias("distance")
    )


def _assign_kernel(df: DataFrame, centroids: list) -> DataFrame:
    """Broadcast-matrix argmin (large k·d): one BLAS GEMM per Arrow batch,
    plan size O(1) in k and d. np.argmin's first-minimum rule matches the
    expression path's tie-break."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)  # k × d
    c_sq = (cmat * cmat).sum(axis=1)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cmat.T) + c_sq[None, :]
            np.maximum(d2, 0.0, out=d2)
            j = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "node_id": pdf["node_id"],
                    "vec": pdf["vec"],
                    "community": j.astype("int32"),
                    "distance": np.sqrt(d2[np.arange(len(j)), j]),
                }
            )

    return df.mapInPandas(fn, "node_id long, vec array<double>, community int, distance double")


def _assign(df: DataFrame, centroids: list) -> DataFrame:
    terms = len(centroids) * len(centroids[0])
    if terms > KMEANS_EXPR_MAX_TERMS:
        return _assign_kernel(df, centroids)
    return _assign_expr(df, centroids)


def kmeanspp_centroids(
    df: DataFrame,
    k: int,
    random_seed: int = 42,
    first_centroid: list | None = None,
) -> list:
    """K-Means++ style initial centroids (reference
    ``algo/.../kmeans/KmeansPlusPlusSampler.java``): after the first pick,
    each next centroid is chosen by squared distance to the nearest
    already-picked centroid. The reference samples D²-proportionally from
    a seeded SplittableRandom; the deterministic cluster-reproducible
    analog here is greedy farthest-first — argmax of min-D², ties to the
    smaller node id (same determinism rationale as the uniform rule in
    :func:`kmeans`). ``df`` must be (node_id, vec). One scan per pick.
    """
    if first_centroid is not None:
        centroids = [list(map(float, first_centroid))]
    else:
        r0 = (
            df.select("vec", F.xxhash64(F.lit(int(random_seed)), F.col("node_id")).alias("_h"))
            .orderBy("_h")
            .limit(1)
            .collect()
        )
        centroids = [list(r0[0]["vec"])]
    while len(centroids) < k:
        min_d2 = _dist_sq(F.col("vec"), centroids[0])
        for c in centroids[1:]:
            min_d2 = F.least(min_d2, _dist_sq(F.col("vec"), c))
        far = (
            df.select("node_id", "vec", min_d2.alias("_d2"))
            .orderBy(F.desc("_d2"), F.asc("node_id"))
            .limit(1)
            .collect()
        )
        centroids.append(list(far[0]["vec"]))
    return centroids


def kmeans(
    nodes: DataFrame,
    k: int = 4,
    id_col: str = "node_id",
    vec_col: str = "embedding",
    max_iterations: int = 10,
    delta_threshold: float = 0.05,
    random_seed: int = 42,
    seed_centroids: list | None = None,
    init: str = "uniform",
) -> KmeansResult:
    df = nodes.select(
        F.col(id_col).cast("long").alias("node_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).persist()
    n = df.count()
    if k >= n:
        # Degenerate k >= n: every node is its own cluster. Communities must
        # be DENSE 0..n-1 indices aligned with the returned centroid list —
        # downstream consumers (ivf_topk) join community against
        # range(len(centroids)), so raw node ids would silently never match.
        from graph_data_science_spark.graph.ranks import ordered_rank

        out = ordered_rank(df, ["node_id"], rank_col="_r", n_buckets=None, n_rows=n).select(
            "node_id",
            F.col("_r").cast("int").alias("community"),
            F.lit(0.0).alias("distance"),
        )
        cents = [list(r["vec"]) for r in df.orderBy("node_id").collect()]
        df.unpersist()
        return KmeansResult(out, cents, 0, True)

    if seed_centroids is not None:
        centroids = [list(map(float, c)) for c in seed_centroids]
    elif init == "kmeans++":
        centroids = kmeanspp_centroids(df, k, random_seed=random_seed)
    else:
        rows = (
            df.select("vec", F.xxhash64(F.lit(int(random_seed)), F.col("node_id")).alias("_h"))
            .orderBy("_h")
            .limit(k)
            .collect()
        )
        centroids = [list(r["vec"]) for r in rows]

    assignments = None
    converged = False
    it = 0
    prev = None
    for it in range(1, max_iterations + 1):
        assignments = _assign(df, centroids).persist()
        stats = (
            assignments.groupBy("community")
            .agg(
                F.count("*").alias("cnt"),
                *[F.sum(F.element_at("vec", i + 1)).alias(f"s{i}") for i in range(len(centroids[0]))],
            )
            .collect()
        )
        new_centroids = list(centroids)
        for r in stats:
            j = r["community"]
            new_centroids[j] = [r[f"s{i}"] / r["cnt"] for i in range(len(centroids[0]))]
        if prev is not None:
            moved = (
                assignments.select("node_id", "community")
                .join(prev.select("node_id", F.col("community").alias("_pc")), "node_id")
                .filter(F.col("community") != F.col("_pc"))
                .count()
            )
            if moved <= delta_threshold * n:
                converged = True
                centroids = new_centroids
                prev.unpersist()
                break
            prev.unpersist()
        prev = assignments
        centroids = new_centroids

    df.unpersist()
    return KmeansResult(
        assignments=assignments.select("node_id", "community", "distance"),
        centroids=centroids,
        ran_iterations=it,
        did_converge=converged,
    )


@dataclass
class SilhouetteResult:
    scores: DataFrame  # (node_id long, silhouette double)
    average_silhouette: float


def silhouette(
    nodes: DataFrame,
    id_col: str = "node_id",
    vec_col: str = "embedding",
    community_col: str = "community",
    exact_node_limit: int = 50_000,
) -> SilhouetteResult:
    """Exact silhouette over a cluster-labelled vector frame (reference
    ``algo/.../kmeans/SilhouetteTask.java:30``, the ``computeSilhouette``
    option of KMeans). Per node i in cluster c:

    - ``a(i)`` = mean Euclidean distance to the OTHER members of c
      (denominator ``|c| - 1``, SilhouetteTask.java:102 — a singleton
      cluster yields NaN exactly as the Java 0/0 does);
    - ``b(i)`` = min over clusters j != c of the mean distance to j's
      members (denominator ``|j|``);
    - ``s(i) = (b - a) / max(a, b)``.

    The reference is literally O(V^2) pairwise (every task loops all
    nodes per node); the distributed form is one cross join aggregated to
    (node, cluster) partials — O(V^2) scored rows but only O(V * k)
    shuffled, since the distance sum folds map-side. Guarded by
    ``exact_node_limit`` like the other exact-all-pairs modes: at 100x
    scale silhouette must run on a sample, not the corpus.
    """
    pts = nodes.select(
        F.col(id_col).cast("long").alias("node_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.col(community_col).cast("int").alias("community"),
    ).persist()
    n = pts.count()
    if n > exact_node_limit:
        pts.unpersist()
        raise ValueError(
            f"silhouette is exact O(V^2) pairwise ({n} nodes > limit "
            f"{exact_node_limit}); pass a sampled frame or raise "
            f"exact_node_limit explicitly"
        )
    sizes = pts.groupBy("community").agg(F.count("*").alias("cnt"))

    a = pts.select("node_id", "vec", "community")
    b = pts.select(
        F.col("node_id").alias("_oid"),
        F.col("vec").alias("_ovec"),
        F.col("community").alias("_ocomm"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("vec"), F.col("_ovec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    # (node, other-cluster) distance partials; the self pair contributes 0
    # to the own-cluster sum, matching the reference's skip of i == i.
    partials = (
        a.crossJoin(b)
        .select("node_id", "community", F.col("_ocomm"), dist.alias("_d"))
        .groupBy("node_id", "community", "_ocomm")
        .agg(F.sum("_d").alias("_sum"))
    )
    per_cluster = partials.join(
        F.broadcast(sizes.withColumnRenamed("community", "_ocomm")), "_ocomm"
    ).select(
        "node_id",
        "community",
        "_ocomm",
        F.when(
            F.col("_ocomm") == F.col("community"),
            F.col("_sum") / (F.col("cnt") - F.lit(1.0)),
        )
        .otherwise(F.col("_sum") / F.col("cnt"))
        .alias("_mean"),
        (F.col("_ocomm") == F.col("community")).alias("_own"),
    )
    scores = (
        per_cluster.groupBy("node_id")
        .agg(
            F.max(F.when(F.col("_own"), F.col("_mean"))).alias("_a"),
            F.min(F.when(~F.col("_own"), F.col("_mean"))).alias("_b"),
        )
        .select(
            "node_id",
            ((F.col("_b") - F.col("_a")) / F.greatest(F.col("_a"), F.col("_b"))).alias(
                "silhouette"
            ),
        )
    )
    avg = scores.agg(F.avg("silhouette").alias("avg")).collect()[0]["avg"]
    pts.unpersist()
    return SilhouetteResult(scores=scores, average_silhouette=float(avg) if avg is not None else float("nan"))
