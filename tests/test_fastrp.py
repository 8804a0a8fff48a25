"""FastRP invariants (reference FastRP.java; its fixtures assert structural
invariants + determinism, not golden floats — random vectors differ by RNG,
so parity is at the invariant level: determinism under a fixed seed,
iteration-weight linearity, normalization, neighborhood mixing)."""

import math

import numpy as np
import pytest

from graph_data_science_spark.algorithms.fastrp import fastrp
from graph_data_science_spark.graph.build import from_edge_list

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 4)]


def emb_map(res):
    return {r["node_id"]: np.array(r["embedding"]) for r in res.embeddings.collect()}


def test_fastrp_shape_and_determinism(spark):
    g = from_edge_list(spark, EDGES, node_count=5)
    a = emb_map(fastrp(g, embedding_dimension=16, random_seed=7))
    b = emb_map(fastrp(g, embedding_dimension=16, random_seed=7))
    assert set(a) == set(range(5))
    assert all(v.shape == (16,) for v in a.values())
    for k in a:
        assert np.array_equal(a[k], b[k]), f"node {k} not deterministic"
    c = emb_map(fastrp(g, embedding_dimension=16, random_seed=8))
    assert any(not np.array_equal(a[k], c[k]) for k in a)  # seed matters


def test_fastrp_iteration_weight_linearity(spark):
    # emb = Σ w_i · normalized(cur_i): doubling one weight doubles exactly
    # that term. With weights [0,1] vs [0,2] the whole embedding doubles.
    g = from_edge_list(spark, EDGES, node_count=5)
    a = emb_map(fastrp(g, embedding_dimension=32, iteration_weights=[0.0, 1.0], random_seed=3))
    b = emb_map(fastrp(g, embedding_dimension=32, iteration_weights=[0.0, 2.0], random_seed=3))
    for k in a:
        assert np.allclose(2.0 * a[k], b[k], atol=1e-12)


def test_fastrp_contributions_unit_norm(spark):
    # A single non-zero iteration weight w ⇒ ‖emb(v)‖ ∈ {0, w} (the
    # contribution is L2-normalized before weighting).
    g = from_edge_list(spark, EDGES, node_count=5)
    a = emb_map(fastrp(g, embedding_dimension=64, iteration_weights=[1.0], random_seed=11))
    for k, v in a.items():
        nrm = float(np.linalg.norm(v))
        assert nrm == pytest.approx(1.0, abs=1e-9) or nrm == 0.0


def test_fastrp_isolated_node_zero_without_self_influence(spark):
    g = from_edge_list(spark, [(0, 1)], node_count=3)
    a = emb_map(fastrp(g, embedding_dimension=16, random_seed=5))
    assert np.all(a[2] == 0.0)  # no neighbors, nodeSelfInfluence 0
    b = emb_map(fastrp(g, embedding_dimension=16, random_seed=5, node_self_influence=0.5))
    # With self influence the isolated node keeps its (normalized) init.
    assert float(np.linalg.norm(b[2])) == pytest.approx(0.5, abs=1e-9) or np.all(b[2] == 0.0)


def _feats(spark, rows, schema="node_id long, f0 double, fa array<double>"):
    return spark.createDataFrame(rows, schema)


def test_fastrp_property_paths_agree(spark, monkeypatch):
    # Expression path (small literal matrix) and broadcast-join path must
    # be bit-identical — the join path is the large-inputDim plan shape.
    import importlib

    mod = importlib.import_module("graph_data_science_spark.algorithms.fastrp")
    g = from_edge_list(spark, EDGES, node_count=5)
    fp = _feats(
        spark,
        [(0, 1.0, [2.0, 3.0]), (1, 0.5, [1.0, 0.0]), (2, 2.0, [0.0, 1.0]),
         (3, 1.0, [1.0, 1.0]), (4, 0.0, [0.5, 0.5])],
    )
    a = emb_map(fastrp(g, embedding_dimension=8, random_seed=7,
                       feature_properties=fp, property_ratio=0.5))
    monkeypatch.setattr(mod, "PROP_EXPR_MAX_ENTRIES", 0)
    b = emb_map(fastrp(g, embedding_dimension=8, random_seed=7,
                       feature_properties=fp, property_ratio=0.5))
    assert set(a) == set(b) == set(range(5))
    for k in a:
        assert np.array_equal(a[k], b[k]), f"node {k} differs between paths"


def test_fastrp_property_validation(spark):
    g = from_edge_list(spark, EDGES, node_count=5)
    with pytest.raises(ValueError, match="featureProperties"):
        fastrp(g, property_ratio=0.5)
    with pytest.raises(ValueError, match="propertyRatio"):
        fastrp(g, property_ratio=1.5,
               feature_properties=_feats(spark, [(0, 1.0, [1.0])]))
    # An explicit propertyDimension must fit inside embeddingDimension:
    # wider would drop the random segment and shrink the output width.
    fp = _feats(spark, [(i, 1.0, [1.0]) for i in range(5)])
    for bad in (9, -1):
        with pytest.raises(ValueError, match="propertyDimension"):
            fastrp(g, embedding_dimension=8, property_dimension=bad, feature_properties=fp)


def test_fastrp_missing_feature_row_fails(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    g = from_edge_list(spark, EDGES, node_count=5)
    fp = _feats(spark, [(0, 1.0, [1.0, 1.0])])  # nodes 1..4 missing
    # The eager init checkpoint surfaces the raise_error immediately.
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="featureProperties"):
        fastrp(g, embedding_dimension=8, random_seed=7,
               feature_properties=fp, property_ratio=0.5).embeddings.collect()


def test_fastrp_property_segment_semantics(spark):
    # propertyRatio=1.0 + self-influence-only: emb = selfInfluence ·
    # (features·P)/‖features·P‖ — so a zero-feature node lands at 0, and
    # scaling every feature by a positive constant leaves emb unchanged
    # (direction-invariant), per FastRP.java:368-392 + :396-403.
    g = from_edge_list(spark, [], node_count=3)
    fp = _feats(spark, [(0, 1.0, [2.0, 0.0]), (1, 0.0, [0.0, 0.0]), (2, 3.0, [1.0, 4.0])])
    fp2 = _feats(spark, [(0, 2.0, [4.0, 0.0]), (1, 0.0, [0.0, 0.0]), (2, 6.0, [2.0, 8.0])])
    kw = dict(embedding_dimension=8, iteration_weights=[], node_self_influence=1.0,
              random_seed=3, property_ratio=1.0)
    a = emb_map(fastrp(g, feature_properties=fp, **kw))
    b = emb_map(fastrp(g, feature_properties=fp2, **kw))
    assert np.all(a[1] == 0.0)
    for k in (0, 2):
        assert float(np.linalg.norm(a[k])) == pytest.approx(1.0, abs=1e-9)
        assert np.allclose(a[k], b[k], atol=1e-12)


def test_fastrp_property_base_segment_matches_topology_rng(spark):
    # The base segment's random entries use the same (seed, node, i) hash
    # stream as topology-only mode: with propertyRatio=0.5 at d=8 the
    # first 4 init entries equal a topology-only d'=… run's entries scaled
    # by √d'/√d (entry value is √3/√d of the FULL dimension).
    g = from_edge_list(spark, [], node_count=4)
    fp = _feats(spark, [(i, 0.0, [0.0, 0.0]) for i in range(4)])
    kw = dict(iteration_weights=[], node_self_influence=1.0, random_seed=5)
    withp = emb_map(fastrp(g, embedding_dimension=8, feature_properties=fp,
                           property_ratio=0.5, **kw))
    # zero features ⇒ prop segment 0 ⇒ normalization sees only base entries;
    # compare SIGN PATTERN against a topology-only run at the same d.
    topo = emb_map(fastrp(g, embedding_dimension=8, **kw))
    for k in withp:
        assert np.all(withp[k][4:] == 0.0)
        assert np.array_equal(np.sign(withp[k][:4]), np.sign(topo[k][:4]))


def test_fastrp_init_entry_distribution(spark):
    # Entries of the init vectors take values in {0, ±√3/√d} with ~1/6
    # probability each for ±: check via a 1-iteration self-influence run.
    d = 32
    g = from_edge_list(spark, [], node_count=200)
    res = fastrp(
        g, embedding_dimension=d, iteration_weights=[], node_self_influence=1.0, random_seed=1
    )
    vals = np.concatenate([v for v in emb_map(res).values()])
    nz = vals[vals != 0.0]
    assert 0.15 < len(nz) / len(vals) < 0.52  # ~1/3 nonzero
    # normalized init: entries share magnitude per node; sign split roughly even
    assert 0.3 < (nz > 0).mean() < 0.7
