"""connected_components (pipeline/graph) — fixpoint, shapes, bounds."""

from __future__ import annotations

import pytest

from featurebase_spark.pipeline.graph import connected_components


def _cc(spark, nodes, edges, **kw):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    )
    if not edges:
        edf = edf.where("src IS NOT NULL")
    out = connected_components(ndf, edf, **kw).collect()
    return {r["node"]: r["component"] for r in out}


def test_chain_converges_to_min(spark):
    """A 64-node chain needs ~6 pointer-jump rounds, not 64."""
    n = 64
    got = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_two_clusters_and_isolated(spark):
    got = _cc(
        spark,
        range(7),
        [(5, 3), (3, 4), (1, 2), (2, 1)],  # dup + reversed edges absorb
    )
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 3, 5: 3, 6: 6}


def test_no_edges_all_self(spark):
    got = _cc(spark, [10, 20, 30], [])
    assert got == {10: 10, 20: 20, 30: 30}


def test_max_iter_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(
            spark,
            range(40),
            [(i, i + 1) for i in range(39)],
            max_iter=1,
        )


def test_max_iter_validation(spark):
    with pytest.raises(ValueError, match="max_iter"):
        _cc(spark, [1], [], max_iter=0)


def test_reliable_checkpoint_identical_labels(spark, tmp_path):
    """Under the ``reliable`` materialize mode (df.checkpoint to a
    fault-tolerant dir — survives executor loss where localCheckpoint
    blocks do not) the loop runs the identical algebra: labels match the
    default path exactly, and checkpoint data actually lands in the
    directory."""
    import os

    from featurebase_spark.materialize import MODE_CONF

    nodes = list(range(40))
    edges = [(i, i + 1) for i in range(19)] + [(25, 30), (30, 39)]
    base = _cc(spark, nodes, edges)
    ckdir = str(tmp_path / "cc_ck")
    # pin the context dir ourselves: materialize() never clobbers an
    # existing context checkpoint dir, so if an earlier test set one
    # this test would silently write THERE and the walk below would
    # find nothing (order-dependent failure)
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(MODE_CONF, "reliable")
    try:
        rel = _cc(spark, nodes, edges)
    finally:
        spark.conf.unset(MODE_CONF)
    assert rel == base
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "reliable checkpoint wrote nothing to the checkpoint dir"


def test_edges_outside_nodes_ignored(spark):
    """An edge endpoint missing from ``nodes`` gets no label and bridges
    nothing: 1 and 3 meet only through 2, which is not a node."""
    got = _cc(spark, [1, 3, 4], [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 3: 3, 4: 3}
