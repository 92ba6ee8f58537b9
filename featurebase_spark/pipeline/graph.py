"""Distributed connected components — dedup cluster resolution.

Near-duplicate detection (MinHash LSH, winnowing containment, fuzzy
joins) emits PAIRS; turning pairs into dedup decisions needs the
transitive closure: if A~B and B~C, then {A,B,C} is ONE cluster and one
canonical survivor should represent it. The reference reaches the same
point through its groupBy/Distinct machinery only for single-hop
relations (executor.go GroupBy/Distinct have no iterative closure); a
component resolver is the standard missing piece every corpus-dedup
pipeline bolts on (cf. the large-star/small-star MapReduce formulation,
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14).

Algorithm: min-label propagation with POINTER JUMPING. Each node
carries a component label (a node id of its component, never above its
own id); every round computes

    comp'(u) = min(comp(comp(u)), min over neighbors v of comp(v))

as ONE join of the symmetrized edge list, extended with one pointer
edge ``u → comp(u)`` per node, against the label frame, plus ONE
groupBy — both keyed on a single id. The first round runs over every
node and sets aside those with no edge; later rounds carry only the
rest. ``comp(comp(u)) <= comp(u)``, so no label ever rises.

The pointer edge is the jump: because labels are node ids, reading the
label's own label doubles the distance a label travels along a chain
every round, so a chain whose ids ascend along it closes in O(log
length) rounds instead of O(length) (a 1024-node chain: 12 rounds, not
1024). Ids scattered along a long path converge more slowly (a
simulated 1024-node chain in random id order: ~200 rounds); near-dup
clusters are short and close in two or three.

Every shuffle carries two ids per row; text/payloads never enter the
loop. The edge list and each round's labels are cut through
:func:`~featurebase_spark.materialize.materialize`, so round i+1's plan
does not replay rounds 1..i (lineage would otherwise grow linearly and
the py4j plan quadratically) — and their durability is the session's
materialize mode: ``reliable`` checkpoints every round to storage, so a
lost executor resumes the loop from the last round instead of failing
it. The fixpoint test is exact: COUNT of labels that changed this round
— when it reaches zero every node's label equals each neighbor's (each
side is at most the other), so it is constant on each component; it is
a member id no larger than any member's id, i.e. the component minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from featurebase_spark.materialize import materialize

__all__ = ["connected_components"]


def _col(name: str):
    """A top-level column by its literal name (dots included)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _symmetrize(e: DataFrame, s: str, t: str) -> DataFrame:
    """Both orientations of every edge in ONE pass over the edge
    subtree: explode each row into (s,t) and (t,s). A two-leg union
    instantiates the edge DERIVATION once per leg — for the dedup
    callers that derivation is the whole pair pipeline (posting
    self-join + pair aggregate, or minhash → LSH → verify), so the
    symmetrized frame's materialization computed it twice (r14;
    guide §1.2 don't compute twice). The explode doubles rows inside
    the same stage instead — identical output, half the subtree.
    Both endpoints are cast to their common type first, so the two
    orientations build one struct type."""
    a, b = _col(s), _col(t)
    common = e.select(F.coalesce(a, b)).schema[0].dataType
    a, b = a.cast(common), b.cast(common)
    pair = F.col("__e")
    return e.select(
        F.explode(
            F.array(
                F.struct(a.alias(s), b.alias(t)),
                F.struct(b.alias(s), a.alias(t)),
            )
        ).alias("__e")
    ).select(pair.getField(s).alias(s), pair.getField(t).alias(t))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 64,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Component label (= MIN node id in the component) for every node.

    ``nodes`` — one column ``node_col`` (isolated nodes allowed; they
    become their own component). ``edges`` — undirected pairs in
    ``src_col``/``dst_col``; duplicates and orientation don't matter
    (the loop symmetrizes and min() absorbs repeats). Returns
    ``(node_col, component)``, both the node id type.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (see the module docstring for round counts):
    the loop never truncates, so a returned labelling is always the
    exact closure. Edges with an endpoint outside ``nodes`` are
    ignored.

    ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` for
    the loop's jobs (restored on exit) — the same sizing rule as
    streaming.state_partitions: the loop frames hold two longs per
    node/edge, so partition count should track |nodes|, not the
    session's corpus-sized default (a 5k-node closure on 32-wide
    shuffles spends most of its time scheduling empty tasks). Leave
    None at production scale.

    Durability of the lineage cuts is not a parameter: it is the
    session's :func:`~featurebase_spark.materialize.materialize` mode.
    Every mode runs the identical algebra — labels are bit-for-bit the
    same (tested).
    """
    if int(max_iter) < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    spark = nodes.sparkSession
    if shuffle_partitions is not None:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(shuffle_partitions)))
        try:
            return connected_components(
                nodes, edges, node_col, src_col, dst_col, max_iter
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    n = F.col(node_col)
    lab = nodes.where(n.isNotNull()).select(n.alias("node"), n.alias("comp"))
    node_type = lab.schema["node"].dataType
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .where(F.col("s").isNotNull() & F.col("t").isNotNull())
    )
    # the edge list is re-read every round: cut it once, or each round
    # replays the whole upstream pair pipeline inside its join
    sym = materialize(
        _symmetrize(e, "s", "t").where(F.col("s") != F.col("t")).distinct()
    ).select("s", "t", F.lit(None).cast(node_type).alias("own"))
    isolated = None
    for _ in range(int(max_iter)):
        # the pointer edge u → comp(u) carries u's current label in
        # ``own`` (NULL on real edges): the groupBy yields the old label
        # beside the new one, so the change flag needs no join
        ptr = lab.select(
            F.col("node").alias("s"),
            F.col("comp").alias("t"),
            F.col("comp").alias("own"),
        )
        new_lab = (
            sym.unionByName(ptr)
            .join(lab.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(
                F.min("comp").alias("comp"),
                F.max("own").alias("old"),
                F.max(F.col("own").isNull()).alias("linked"),
            )
            # an edge endpoint outside ``nodes`` never gets a label
            .where(F.col("old").isNotNull())
            .select(
                "node",
                "comp",
                (F.col("comp") != F.col("old")).alias("chg"),
                "linked",
            )
        )
        # LAZY materialize + count as the materializing action: the count
        # computes every partition (no limit/short-circuit — a partial
        # first job would leave checkpoint blocks unmaterialized behind
        # a truncated lineage), so one job both persists the round's
        # labels AND returns the fixpoint count — the eager form paid a
        # second scheduler round-trip per round to re-scan the
        # materialized rows (r14; guide §1.2 don't compute twice)
        new_lab = materialize(new_lab)
        changed = new_lab.where("chg").count()
        if isolated is None:
            # nodes with no edge are their own component: they leave the
            # loop after the first round instead of riding every later
            # round's shuffles (in a dedup corpus most docs pair with
            # nothing, so the loop tracks the duplicate surface, not the
            # corpus) and come back by a union, not a join
            isolated = new_lab.where(~F.col("linked")).select("node", "comp")
        lab = new_lab.where("linked").select("node", "comp")
        if changed == 0:
            return lab.unionByName(isolated).select(
                F.col("node").cast(node_type).alias(node_col),
                F.col("comp").alias("component"),
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )
