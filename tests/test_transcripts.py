"""Transcript-input tests: deterministic synthesis, edge derivation, the
per-turn text-equality invariant (FIXTURES.md F0/F6), and cross-parallelism
reproducibility."""

from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.transcripts import (
    derive_link_graph,
    join_scores_back,
    synthesize_transcripts,
)


def test_synthesis_is_deterministic(spark):
    a = synthesize_transcripts(spark, 50, seed=42)
    b = synthesize_transcripts(spark, 50, seed=42)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = synthesize_transcripts(spark, 50, seed=43)
    assert c.exceptAll(a).count() > 0


def test_schema_matches_input_hint(spark):
    t = synthesize_transcripts(spark, 5)
    fields = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert fields == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    }


def test_reply_edges_follow_turn_order(spark):
    t = synthesize_transcripts(spark, 30, seed=7)
    tg = derive_link_graph(t, include_tool_edges=False)
    # reply edge count = Σ (turns_per_conv - 1)
    expected = (
        t.groupBy("conv_id").agg((F.count("*") - 1).alias("e")).agg(F.sum("e")).collect()[0][0]
    )
    assert tg.graph.edges.agg(F.sum("weight")).collect()[0][0] == float(expected)
    # each reply edge connects consecutive turns of one conversation
    ids = tg.turn_ids
    e = tg.graph.edges
    joined = (
        e.join(ids.withColumnRenamed("node_id", "src"), "src")
        .withColumnRenamed("conv_id", "c1").withColumnRenamed("turn_idx", "i1")
        .join(ids.withColumnRenamed("node_id", "dst"), "dst")
    )
    bad = joined.filter((F.col("c1") != F.col("conv_id")) | (F.col("turn_idx") != F.col("i1") + 1))
    assert bad.count() == 0


def test_id_mapping_is_bijection(spark):
    t = synthesize_transcripts(spark, 40)
    tg = derive_link_graph(t)
    n_keys = t.select("conv_id", "turn_idx").distinct().count()
    assert tg.turn_ids.count() == n_keys
    assert tg.turn_ids.select("node_id").distinct().count() == n_keys
    lo, hi = tg.turn_ids.agg(F.min("node_id"), F.max("node_id")).collect()[0]
    assert (lo, hi) == (0, n_keys - 1)


def test_text_equality_roundtrip(spark):
    # FIXTURES.md F6: join any per-vertex result back — text must be intact
    # under stable (conv_id, turn_idx) ordering.
    t = synthesize_transcripts(spark, 40)
    tg = derive_link_graph(t)
    res = pagerank(tg.graph, tolerance=1e-6, max_iterations=30)
    back = join_scores_back(t, tg.turn_ids, res.scores)
    orig = t.select("conv_id", "turn_idx", "text")
    got = back.select("conv_id", "turn_idx", "text")
    assert got.exceptAll(orig).count() == 0 and orig.exceptAll(got).count() == 0
    # every turn got a score (turn vertices all exist)
    assert back.filter(F.col("score").isNull()).count() == 0


def test_parity_across_parallelism(spark):
    # SURVEY.md §5: identical results independent of partitioning. Same
    # session, different edge-cache and state layout via the session's
    # shuffle partition count.
    t = synthesize_transcripts(spark, 60, seed=11)
    tg = derive_link_graph(t)
    g = tg.graph
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    scores = {}
    try:
        for parts in (2, 8):
            spark.conf.set(key, str(parts))
            res = pagerank(g, tolerance=1e-6, max_iterations=25)
            scores[parts] = {r["node_id"]: r["score"] for r in res.scores.collect()}
    finally:
        spark.conf.set(key, old)
    assert scores[2].keys() == scores[8].keys()
    assert max(abs(scores[2][n] - scores[8][n]) for n in scores[2]) < 1e-9
