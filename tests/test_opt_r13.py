"""r13 optimization-round regression tests: the structural properties
the round's rewrites introduced must stay visible — shared subtrees
materialize ONCE (interval self-join, winnowing postings), the skew
modes' density pass is one-sided for self-joins, and the component loop
excludes isolated nodes without losing them from the result.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_overlap_self_join_builds_sessionize_once(spark, tables):
    """concurrent_session_pairs materializes the session-interval frame:
    the sessionize subtree (user exchange + 2 Window passes) must appear
    at most once in the plan — the self-join's two sides and the salt
    mode's density phase all read the checkpointed RDD."""
    from featurebase_spark.operators.intervals import concurrent_session_pairs

    ev = tables["events"]
    for kwargs in ({}, {"skew": "salt", "skew_threshold": 20}):
        p = _plan(concurrent_session_pairs(ev, **kwargs))
        # the window pass pair lives below the checkpoint; each extra
        # occurrence means the subtree replays for another consumer
        assert p.count("Scan parquet") <= 1, kwargs
        assert p.count("ExistingRDD") >= 2, kwargs  # both sides read it


def test_salted_equals_unsalted_pairs(spark, tables):
    """salt mode's recall contract, post-materialization: identical pair
    aggregates to the unsalted join (same frames, forced-hot threshold)."""
    from featurebase_spark.operators.intervals import concurrent_session_pairs

    ev = tables["events"]
    plain = {
        tuple(r)
        for r in concurrent_session_pairs(ev).collect()
    }
    salted = {
        tuple(r)
        for r in concurrent_session_pairs(
            ev, skew="salt", skew_threshold=5
        ).collect()
    }
    assert plain == salted and plain


def test_winnowing_keep_aggregate_runs_once(spark, tables):
    """The df-cap aggregate over the fingerprint table must not replay
    per self-join side: exactly one Exchange+HashAggregate pair derives
    the keep set; both pair-join legs read the checkpointed fpk RDD."""
    from featurebase_spark.pipeline.dedup import winnowing_containment_pairs

    p = _plan(winnowing_containment_pairs(tables["documents"], "text", "doc_id"))
    # before r13 the plan held TWO keep-aggregate legs (one per side)
    assert p.count("(1) Scan ExistingRDD") == 1
    aggs = p.count("HashAggregate")
    # keep-agg partial+final (2) + pair count partial+final (2) = 4 nodes
    # in the operator DETAILS; the tree lists them once more each
    assert aggs <= 8, f"keep aggregate appears to replay: {aggs} HashAggregates"


def test_components_isolated_nodes_survive_active_restriction(spark):
    """The active-node loop restriction must not drop isolated nodes or
    mislabel near-isolated chains (regression for the r13 rewrite)."""
    from featurebase_spark.pipeline.graph import connected_components

    nodes = spark.range(50).select(F.col("id").alias("node"))
    # edges touch only 6, 7, 8 (chain) and 40<->41
    edges = spark.createDataFrame(
        [(6, 7), (7, 8), (40, 41)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert len(got) == 50
    assert got[6] == got[7] == got[8] == 6
    assert got[40] == got[41] == 40
    for n in set(range(50)) - {6, 7, 8, 40, 41}:
        assert got[n] == n


def test_components_empty_edges_short_circuits(spark):
    """A pair-free corpus: every node is its own component and the loop
    terminates on the first round (empty active set)."""
    from featurebase_spark.pipeline.graph import connected_components

    nodes = spark.range(10).select(F.col("id").alias("node"))
    edges = spark.createDataFrame([], "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {i: i for i in range(10)}


def test_minhash_cc_edge_list_materializes_once(spark):
    """graph.connected_components over (id_a, id_b) pairs — the MinHash
    tier's call shape: each round's neighbor join must read the
    materialized edge RDD, not replay the upstream pair pipeline."""
    from featurebase_spark.pipeline.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    nodes = spark.range(1, 10).select(F.col("id").alias("doc_id"))
    out = connected_components(nodes, pairs, "doc_id", "id_a", "id_b")
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[7] == got[8] == 7
    assert all(got[i] == i for i in (4, 5, 6, 9))
