"""Posture-aware materialization of shared intermediate frames.

Several operators compute a small proxy frame once (session intervals,
hot-bucket sets, capped posting tables, edge lists) and read it from
multiple consumers; without materialization Catalyst would replay the
producing subtree — scan, exchanges, windows — once per consumer.
``localCheckpoint`` is the cheap way to cut that lineage, but it stores
the blocks on executors WITHOUT replication: on a real cluster, losing
one executor makes the blocks unrecoverable and aborts every downstream
action instead of recomputing (r13 verdict, "known sharp edge"). The
right durability is a deployment property, not an operator property, so
every operator routes through :func:`materialize` and the mode comes
from session conf / environment:

``spark.featurebase.materialize.mode`` (conf) or ``FB_MATERIALIZE_MODE``
(env), values:

- ``local`` (default) — ``localCheckpoint``: fastest, executor-pinned
  blocks, no fault tolerance for the materialized frame. The right
  choice on local[*] and for short jobs on stable executors.
- ``reliable`` — ``DataFrame.checkpoint()``: blocks land in the
  context's checkpoint directory (HDFS/S3). Requires a checkpoint dir:
  uses the context's if already set, else
  ``spark.featurebase.checkpoint.dir`` / ``FB_CHECKPOINT_DIR``. The
  100 TB posture for long jobs on preemptible machines.

Both run the identical algebra — consumers see the same rows — and
both CUT lineage: the materialized frame is an ExistingRDD scan that no
other query's plan can match, so the CacheManager never substitutes it
into another key's plan (a ``persist`` keeps the plan registered and
does exactly that). Every lineage cut in the package goes through this
helper, the connected-components loop's per-round labels included, so
the mode is the one durability setting for all of them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

MODE_CONF = "spark.featurebase.materialize.mode"
DIR_CONF = "spark.featurebase.checkpoint.dir"
_VALID = ("local", "reliable")


def _mode(spark) -> str:
    m = spark.conf.get(MODE_CONF, None) or os.environ.get(
        "FB_MATERIALIZE_MODE", "local"
    )
    if m not in _VALID:
        raise ValueError(
            f"{MODE_CONF}={m!r}: expected one of {', '.join(_VALID)}"
        )
    return m


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Compute ``df`` once and return a frame whose plan no consumer can
    replay — mode (durability) per the session conf above. ``eager``
    materializes now; lazy defers to the first action (the lazy form is
    what the single-shot operators want: the first consumer pays the
    build, later consumers read blocks)."""
    mode = _mode(df.sparkSession)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            d = df.sparkSession.conf.get(DIR_CONF, None) or os.environ.get(
                "FB_CHECKPOINT_DIR"
            )
            if not d:
                raise ValueError(
                    f"{MODE_CONF}=reliable needs a checkpoint dir: set the "
                    f"context's (sc.setCheckpointDir), {DIR_CONF}, or "
                    "FB_CHECKPOINT_DIR"
                )
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
