"""FastRP node embeddings (reference ``algo/.../embeddings/fastrp/FastRP.java:55``).

Reference semantics (propertyRatio = 0 — topology-only, the default):

- init (:232-268 InitRandomVectorTask): per node, a very sparse random
  vector with entries ``±(deg^normalizationStrength)·√3/√d`` each with
  probability 1/6, else 0 (SPARSITY = 3, ENTRY_PROBABILITY = 1/6), seeded
  per node id;
- per iteration i (:296-344 PropagateEmbeddingsTask): ``cur(v) =
  (1/deg(v)) Σ_{v→t} prev(t)·w``, and the *final* embedding accumulates
  the L2-normalized cur: ``emb(v) += iterationWeights[i] · cur(v)/‖cur(v)‖``
  — note prev for the NEXT iteration is the degree-averaged cur
  *without* the L2 normalization (the norm applies only to the
  contribution, FastRP.java:336-341);
- defaults: iterationWeights [0.0, 1.0, 1.0], normalizationStrength 0,
  nodeSelfInfluence 0 (FastRPBaseConfig.java).

Property-aware mode (propertyRatio > 0 / ``featureProperties`` — reference
``FastRPParameters.java:29``, ``FastRP.java:142-153`` initPropertyVectors,
``FastRP.java:368-392`` PropertyVectorAdder, ``FastRPBaseConfig.java:39-46``
``propertyDimension = (int)(embeddingDimension * propertyRatio)``):

- a GLOBAL sparse random matrix P of shape (inputDimension ×
  propertyDimension) is drawn once with the UNSCALED entry value
  ``√3/√embeddingDimension`` (degree scaling applies only to the
  topology segment — InitRandomVectorTask:345 vs initPropertyVectors:143);
- each node's init vector is the concatenation
  ``[random(baseDim) | features(node) · P]`` with
  ``baseDim = embeddingDimension - propertyDimension``;
- propagation is UNCHANGED — the property segment rides the same
  degree-averaged, L2-contribution-normalized iterations.

Spark re-expression:

- the random init is a pure column expression — entry (node, i) derives
  from ``xxhash64(seed, node, i) mod 6`` (deterministic on any cluster, no
  RNG state to coordinate; the reference's per-node reseed serves the same
  goal);
- propagation pulls over *reversed* edges (cur(v) sums v's out-neighbors)
  with ``1/deg(v)`` folded into the cached edge weight, so each iteration
  is ONE Arrow/CSR array-SpMV (``spmv_messages_arrays`` — vector state is
  exactly what the SQL path can't express without a d× explode) + one
  column-level zip_with to fold into the accumulator;
- everything per-row-Python-free: the kernel is whole-batch NumPy, the
  fold is Catalyst higher-order functions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import build_blocks, spmv_messages_arrays
from graph_data_science_spark.pregel.superstep import free_checkpointed

SPARSITY = 3
ENTRY_PROBABILITY_DENOM = 6  # P(+v) = P(−v) = 1/6
# Above this many property-matrix entries the literal expression tree would
# dominate the plan — switch to the broadcast-join projection path.
PROP_EXPR_MAX_ENTRIES = 4096


@dataclass
class FastRPResult:
    embeddings: DataFrame  # (node_id long, embedding array<double>)
    ran_iterations: int


def _flatten_features(fp: DataFrame, cols: list[str] | None) -> tuple[int, DataFrame]:
    """(node, _feats array<double>) with scalars cast and array columns
    expanded to their (fixed) length — the FeatureExtraction analog
    (reference ``ml/ml-core/.../features/FeatureExtraction.java``); feature
    order = column order, arrays contributing ``len`` consecutive dims."""
    from pyspark.sql.types import ArrayType

    names = cols if cols is not None else [c for c in fp.columns if c != "node_id"]
    if not names:
        raise ValueError("featureProperties may not be empty")
    elems: list = []
    for c in names:
        if isinstance(fp.schema[c].dataType, ArrayType):
            first = fp.select(F.size(F.col(c)).alias("n")).first()
            ln = int(first["n"]) if first is not None and first["n"] is not None else 0
            if ln <= 0:
                raise ValueError(f"array feature column {c!r} must have a fixed positive length")
            elems += [F.col(c)[i].cast("double") for i in range(ln)]
        else:
            elems.append(F.col(c).cast("double"))
    out = fp.select(F.col("node_id").alias("node"), F.array(*elems).alias("_feats"))
    return len(elems), out


def _property_matrix(
    spark, input_dim: int, prop_dim: int, seed: int, rng: str, entry: float
) -> list[list[float]]:
    """The global (inputDimension × propertyDimension) sparse projection
    (reference ``FastRP.java:142-153`` initPropertyVectors): entries
    ±√3/√d with probability 1/6 each, UNSCALED by degree. Drawn via the
    same hash family as the node vectors under a distinct `"p"` domain tag
    (node payloads are numeric, so no collision); computed as a tiny Spark
    job so the 'xxhash' mode uses the identical JVM hash, then collected —
    the matrix is a per-job constant, not data."""
    idx = spark.range(input_dim * prop_dim).select(
        F.expr(f"id DIV {prop_dim}").alias("f"),
        F.pmod(F.col("id"), F.lit(prop_dim)).alias("k"),
    )
    if rng == "portable":
        payload = F.concat_ws(
            ":",
            F.lit(str(int(seed))),
            F.lit("p"),
            F.col("f").cast("string"),
            F.col("k").cast("string"),
        )
        h = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")
        b = F.pmod(h, F.lit(ENTRY_PROBABILITY_DENOM))
    else:
        b = F.pmod(
            F.xxhash64(F.lit(int(seed)), F.lit("p"), F.col("f"), F.col("k")),
            F.lit(ENTRY_PROBABILITY_DENOM),
        )
    rows = idx.select(
        "f",
        "k",
        F.when(b == 0, F.lit(float(entry)))
        .when(b == 1, F.lit(-float(entry)))
        .otherwise(F.lit(0.0))
        .alias("v"),
    ).collect()
    pmat = [[0.0] * prop_dim for _ in range(input_dim)]
    for r in rows:
        pmat[int(r["f"])][int(r["k"])] = float(r["v"])
    return pmat


def fastrp(
    graph: LinkGraph,
    embedding_dimension: int = 64,
    iteration_weights: list[float] | None = None,
    normalization_strength: float = 0.0,
    node_self_influence: float = 0.0,
    weighted: bool = False,
    random_seed: int = 42,
    rng: str = "xxhash",
    feature_properties: DataFrame | None = None,
    feature_columns: list[str] | None = None,
    property_ratio: float = 0.0,
    property_dimension: int | None = None,
) -> FastRPResult:
    """``rng``: 'xxhash' (default — cheapest JVM hash, for production scale)
    or 'portable' (md5-based, bit-reproducible in any SQL engine — the
    dedup ``portable_hash`` contract — used by the DuckDB oracle).

    Property-aware mode: ``feature_properties`` is a DataFrame with a
    ``node_id`` column plus numeric feature columns (``feature_columns``
    selects/orders them; default = every non-``node_id`` column in schema
    order — the analog of the reference's ``featureProperties`` list).
    ``property_dimension`` defaults to ``int(embedding_dimension *
    property_ratio)`` (FastRPBaseConfig.java:39-41). Every graph node must
    have a feature row — a missing row fails the job, matching
    FeatureExtraction's missing-property error."""
    if iteration_weights is None:
        iteration_weights = [0.0, 1.0, 1.0]
    if not (0.0 <= float(property_ratio) <= 1.0):
        raise ValueError("propertyRatio must be in [0, 1]")
    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    d = int(embedding_dimension)
    prop_dim = (
        int(property_dimension) if property_dimension is not None else int(d * float(property_ratio))
    )
    if not (0 <= prop_dim <= d):
        # The property segment is carved out of the d output columns; a
        # wider one would leave a negative random segment.
        raise ValueError(f"propertyDimension must be in [0, embeddingDimension={d}], got {prop_dim}")
    if prop_dim > 0 and feature_properties is None:
        raise ValueError("When `propertyRatio` is non-zero, `featureProperties` may not be empty.")
    if feature_properties is None:
        prop_dim = 0
    base_dim = d - prop_dim

    # Out-degree (unweighted relationship count — graph.degree analog).
    out_deg = graph.edges.groupBy("src").agg(F.count("*").alias("deg"))

    # Reversed edges with 1/deg(receiver) (and the relationship weight when
    # weighted) folded in: message (t → v) carries prev(t) · w(v→t)/deg(v).
    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    rev = (
        e.join(out_deg, "src")
        .select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            (F.col("weight") / F.col("deg")).alias("norm_w"),
        )
    )
    blocked = build_blocks(rev, n)

    # Sparse random init vectors, scaled by deg^normalizationStrength.
    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    deg_j = out_deg.select(F.col("src").alias("node"), "deg")
    base_val = (SPARSITY ** 0.5) / (d ** 0.5)
    scaling = F.when(
        F.coalesce(F.col("deg"), F.lit(0)) == 0, F.lit(1.0)
    ).otherwise(F.pow(F.col("deg").cast("double"), F.lit(float(normalization_strength))))
    if rng == "portable":
        # md5('<seed>:<node>:<i>') first 15 hex digits as int64, mod 6 —
        # identical in DuckDB: ('0x'||substr(md5(...),1,15))::BIGINT % 6.
        def bucket(i):
            payload = F.concat_ws(
                ":", F.lit(str(int(random_seed))), F.col("node").cast("string"), i.cast("string")
            )
            h = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")
            return F.pmod(h, F.lit(ENTRY_PROBABILITY_DENOM))
    else:
        bucket = lambda i: F.pmod(  # noqa: E731
            F.xxhash64(F.lit(int(random_seed)), F.col("node"), i), F.lit(ENTRY_PROBABILITY_DENOM)
        )
    if base_dim > 0:
        rand_vec = F.transform(
            F.sequence(F.lit(0), F.lit(base_dim - 1)),
            lambda i: F.when(bucket(i) == 0, F.col("_ev"))
            .when(bucket(i) == 1, -F.col("_ev"))
            .otherwise(F.lit(0.0)),
        )
    else:
        rand_vec = F.expr("CAST(array() AS array<double>)")
    l2 = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))  # noqa: E731

    init_cols = nodes.join(deg_j, "node", "left").withColumn("_ev", scaling * F.lit(base_val))
    if prop_dim == 0:
        init = init_cols.select("node", rand_vec.alias("prev"))
    else:
        input_dim, feats_df = _flatten_features(feature_properties, feature_columns)
        pmat = _property_matrix(spark, input_dim, prop_dim, random_seed, rng, base_val)
        # A graph node with no feature row is an input error (reference
        # FeatureExtraction throws for missing properties) — raise lazily
        # JVM-side instead of paying a validation action.
        feats = F.when(
            F.col("_feats").isNull(),
            F.raise_error("FastRP: node has no featureProperties row"),
        ).otherwise(F.col("_feats"))
        joined = init_cols.join(feats_df, "node", "left")
        if input_dim * prop_dim <= PROP_EXPR_MAX_ENTRIES:
            # Small matrix: one literal nested array, dot products via
            # Catalyst higher-order functions — zero extra shuffle.
            mat = F.array(
                *[F.array(*[F.lit(pmat[f][k]) for f in range(input_dim)]) for k in range(prop_dim)]
            )
            prop_vec = F.transform(
                mat,
                lambda col_k: F.aggregate(
                    F.zip_with(feats, col_k, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
            )
            init = joined.select("node", F.concat(rand_vec, prop_vec).alias("prev"))
        else:
            # Large matrix: the literal expression tree would dominate the
            # plan (the KMeans large-k lesson) — broadcast-join the matrix
            # and aggregate instead. Zero entries are KEPT so every k is
            # present and array_sort yields a dense prop_dim vector.
            pm_df = spark.createDataFrame(
                [(f, k, pmat[f][k]) for f in range(input_dim) for k in range(prop_dim)],
                "f int, k int, v double",
            )
            prop = (
                joined.select("node", F.posexplode(feats).alias("f", "x"))
                .join(F.broadcast(pm_df), "f")
                .groupBy("node", "k")
                .agg(F.sum(F.col("x") * F.col("v")).alias("pv"))
                .groupBy("node")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("k", "pv"))), lambda s: s["pv"]
                    ).alias("_prop")
                )
            )
            init = (
                joined.join(prop, "node", "left")
                .select("node", F.concat(rand_vec, F.col("_prop")).alias("prev"))
            )
    if node_self_influence != 0.0:
        safe = F.when(l2(F.col("prev")) < F.lit(1e-32), F.lit(1.0)).otherwise(l2(F.col("prev")))
        emb0 = F.transform(F.col("prev"), lambda x: x * F.lit(float(node_self_influence)) / safe)
    else:
        emb0 = F.transform(F.col("prev"), lambda x: x * F.lit(0.0))
    state = init.select("node", "prev", emb0.alias("emb")).localCheckpoint(eager=True)

    for it, w_i in enumerate(iteration_weights):
        msgs = spmv_messages_arrays(blocked, state.select("node", F.col("prev").alias("vec")))
        zero = F.expr(f"array_repeat(cast(0.0 as double), {d})")
        cur = F.coalesce(F.col("vec"), zero)
        inv_norm = F.when(l2(cur) > 0, F.lit(1.0) / l2(cur)).otherwise(F.lit(1.0))
        new_state = (
            state.join(msgs, state["node"] == msgs["dst"], "left")
            .select(
                "node",
                cur.alias("prev"),
                F.zip_with(
                    F.col("emb"), cur, lambda a, b: a + F.lit(float(w_i)) * inv_norm * b
                ).alias("emb"),
            )
        )
        prev_state = state
        state = new_state.localCheckpoint(eager=True)
        free_checkpointed(prev_state)

    blocked.unpersist()
    return FastRPResult(
        embeddings=state.select(F.col("node").alias("node_id"), F.col("emb").alias("embedding")),
        ran_iterations=len(iteration_weights),
    )
