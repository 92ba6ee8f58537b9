"""r14 optimization-round regression tests: the structural properties
this round's rewrites introduced must stay visible — the funnel is a
single-scan window chain (no k-join replay), and the prebuilt trigram
postings materialize as a checkpointed RDD whose plan the CacheManager
cannot substitute into the inline build key.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_funnel_single_scan_single_user_exchange(spark, tables):
    """The k-step funnel must read the event source ONCE and shuffle on
    the user key ONCE — the pre-r14 join chain replayed the pruned scan
    2(k-1) times. The only other exchange is the single-row final
    count aggregate."""
    from featurebase_spark.pipeline.sessions import funnel

    ev = tables["events"]
    p = _plan(funnel(ev, ["view", "click", "purchase"], horizon_minutes=7 * 24 * 60))
    # tree nodes only (the details section repeats each node header)
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, p
    assert tree.count("Exchange") <= 2, tree
    assert tree.count("Window") == 3, tree
    # the type prune must reach the source
    assert "In(event_type" in p, p


def test_funnel_window_chain_semantics(spark):
    """First-touch recursion edge cases the window rewrite must keep:
    strict ordering (same-timestamp step events do NOT qualify), the
    horizon bound is inclusive, non-converters drop out of later steps,
    and duplicate step names chain on the same type."""
    from featurebase_spark.pipeline.sessions import funnel

    t0 = datetime.datetime(2030, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # u1 converts fully: view@0 -> click@5 -> buy@10
        (1, "view", ts(0)), (1, "click", ts(5)), (1, "buy", ts(10)),
        # u2: click at the SAME instant as view — strict > excludes it
        (2, "view", ts(0)), (2, "click", ts(0)),
        # u3: click exactly at the horizon bound (inclusive <=)
        (3, "view", ts(0)), (3, "click", ts(30)),
        # u4: click before view — ordered funnel rejects
        (4, "click", ts(0)), (4, "view", ts(5)),
        # u5: click after horizon
        (5, "view", ts(0)), (5, "click", ts(31)),
        # u6: no view at all
        (6, "click", ts(1)), (6, "buy", ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        (r["step"], r["event_type"]): r["users"]
        for r in funnel(
            df, ["view", "click", "buy"], horizon_minutes=30
        ).collect()
    }
    assert got == {(1, "view"): 5, (2, "click"): 2, (3, "buy"): 1}

    # duplicate step types: second 'view' needs a strictly later view
    got2 = {
        r["step"]: r["users"]
        for r in funnel(df, ["view", "view"], horizon_minutes=None).collect()
    }
    # only u4 has two views?? no — u4 has one view; nobody has 2 views
    assert got2 == {1: 5, 2: 0}


def test_prebuilt_trigram_postings_not_cache_substitutable(spark, tables):
    """queries._trigram_postings must materialize via localCheckpoint
    (ExistingRDD), never .cache(): a cached plan would be substituted by
    the CacheManager into the inline like_trigram_search build, turning
    a timed build-inclusive bench key into a cache read (r13 verdict)."""
    from featurebase_spark import queries as Q
    from featurebase_spark.pipeline.trigram import build_trigram_postings

    sf_dir = "/root/testdata/sf0.001"
    p = Q._trigram_postings(spark, sf_dir)
    assert "ExistingRDD" in _plan(p)
    # and the inline build of the SAME postings plan must NOT pick up
    # an InMemoryRelation (no cache to substitute)
    docs = Q._tables(spark, sf_dir)["documents"]
    inline = build_trigram_postings(docs, "doc_id", "text")
    assert "InMemoryTableScan" not in _plan(inline)


class TestMaterializePosture:
    """materialize() picks durability from session conf: local (default,
    localCheckpoint) or reliable (df.checkpoint into a checkpoint dir).
    Both cut lineage; same rows in every mode."""

    def _frame(self, spark):
        return (
            spark.range(100)
            .selectExpr("id % 7 AS k", "id AS v")
            .groupBy("k")
            .count()
        )

    def test_local_default_is_checkpointed_rdd(self, spark):
        from featurebase_spark.materialize import materialize

        m = materialize(self._frame(spark))
        assert "ExistingRDD" in _plan(m)

    def test_reliable_mode_checkpoints_to_dir(self, spark, tmp_path):
        import os

        from featurebase_spark.materialize import (
            DIR_CONF,
            MODE_CONF,
            materialize,
        )

        from urllib.parse import urlparse

        base = {tuple(r) for r in self._frame(spark).collect()}
        # documented precedence: a checkpoint dir already set on the
        # context wins; DIR_CONF only seeds one when the context has none
        # (under the full suite an earlier test may have set it)
        pre = spark.sparkContext.getCheckpointDir()
        spark.conf.set(MODE_CONF, "reliable")
        spark.conf.set(DIR_CONF, str(tmp_path))
        try:
            m = materialize(self._frame(spark), eager=True)
            assert "ExistingRDD" in _plan(m)
            assert {tuple(r) for r in m.collect()} == base
            # blocks really landed in the effective reliable dir
            eff = urlparse(spark.sparkContext.getCheckpointDir()).path
            assert any(os.scandir(eff)), eff
            if pre is None:  # DIR_CONF seeded the context
                assert os.path.realpath(eff).startswith(
                    os.path.realpath(str(tmp_path))
                ), eff
        finally:
            spark.conf.unset(MODE_CONF)
            spark.conf.unset(DIR_CONF)

    def test_bad_mode_rejected(self, spark):
        from featurebase_spark.materialize import MODE_CONF, materialize

        for mode in ("replicate", "disk"):
            spark.conf.set(MODE_CONF, mode)
            try:
                with pytest.raises(ValueError, match="expected one of"):
                    materialize(self._frame(spark))
            finally:
                spark.conf.unset(MODE_CONF)


class TestSmallIndexPinSkip:
    """r14 statement-door job cut: when the table's committed storage is
    tiny (driver-side signal, no job), index (re)builds adopt the
    driver-local tier FIRST and skip the localCheckpoint pin job; big or
    non-local storage keeps the checkpoint-first order."""

    def _mk(self, spark, name):
        from featurebase_spark.operators.ddl import Catalog
        from featurebase_spark.sql import fb_sql

        cat = Catalog(spark)
        fb_sql(spark, f"create table {name} (_id id, e string, "
               "v int min 0 max 1000)", catalog=cat)
        seed = ", ".join(
            f"({i}, '{['click', 'view', 'buy'][i % 3]}', {i * 7 % 100})"
            for i in range(60)
        )
        fb_sql(spark, f"insert into {name} values {seed}", catalog=cat)
        return cat

    def test_small_storage_signal(self, spark):
        cat = self._mk(spark, "t_pin_sig")
        assert cat._small_storage("t_pin_sig") is True
        assert cat._small_storage("no_such_table") is False
        cat.drop_table("t_pin_sig")

    def test_small_create_index_localizes_without_pin_job(self, spark, jobs_run_by):
        from featurebase_spark.sql import fb_sql

        cat = self._mk(spark, "t_pin_a")
        hint_jobs = jobs_run_by(
            lambda: fb_sql(spark, "create index on t_pin_a (e, v)", catalog=cat),
        )
        bc = cat._bitmap["t_pin_a"]
        assert bc.is_local("e") and bc.is_local("v")

        # same table, hint forced off: the checkpoint-first order costs
        # one extra job per field (the 100 TB order, kept for big tables)
        cat2 = self._mk(spark, "t_pin_b")
        orig = cat2._small_storage
        cat2._small_storage = lambda name, cap_bytes=8 << 20: False
        nohint_jobs = jobs_run_by(
            lambda: fb_sql(spark, "create index on t_pin_b (e, v)", catalog=cat2),
        )
        cat2._small_storage = orig
        assert hint_jobs < nohint_jobs, (hint_jobs, nohint_jobs)

        # identical serving results either way
        for q in ("select count(*) from {t} where e = 'click'",
                  "select sum(v) from {t}",
                  "select count(*) from {t} where v > 50"):
            ra = fb_sql(spark, q.format(t="t_pin_a"), catalog=cat).first()[0]
            rb = fb_sql(spark, q.format(t="t_pin_b"), catalog=cat2).first()[0]
            assert ra == rb, (q, ra, rb)
        cat.drop_table("t_pin_a")
        cat2.drop_table("t_pin_b")


def test_stream_join_staging_one_write_two_files_per_side(spark, tmpdir):
    """The stream-stream-join replay stages BOTH sides with ONE
    side-partitioned write (one source scan, one write job) instead of
    two scan+write jobs, while preserving the 2-files-per-side layout
    that gives each stream its 2-micro-batch replay. Pin the layout
    contract the staging relies on: a 2-task hash repartition on a
    high-cardinality key writes exactly 2 part files into each side
    directory, and a per-side subdirectory read yields the data columns
    without the partition column."""
    import glob
    import os

    rows = [
        (i, 1000 + i, datetime.datetime(2024, 3, 1, 12, i % 60),
         "purchase" if i % 3 == 0 else "view")
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, side string"
    )
    d = os.path.join(tmpdir, "ssj_staged")
    (
        df.repartition(2, F.pmod(F.xxhash64("event_id"), F.lit(1000)))
        .write.mode("overwrite")
        .partitionBy("side")
        .parquet(d)
    )
    for side in ("purchase", "view"):
        sub = os.path.join(d, f"side={side}")
        parts = glob.glob(os.path.join(sub, "part-*.parquet"))
        assert len(parts) == 2, (side, parts)
        back = spark.read.parquet(sub)
        assert back.columns == ["user_id", "event_id", "ts"], back.columns
    # nothing lost or duplicated by the partitioned staging
    back_all = spark.read.parquet(d)
    assert back_all.count() == len(rows)
    assert back_all.where(F.col("side") == "purchase").count() == sum(
        1 for r in rows if r[3] == "purchase"
    )


def test_fuzzy_join_no_nested_loop_single_distinct(spark, tables):
    """The r14 fuzzy_join restructure must stay visible in the plan:
    the short-string side leg joins on a length BAND (explode of the
    2d+1 candidate lengths -> equi/hash join), never a nested-loop
    inequality join over the corpus, and pair dedup happens in ONE
    distinct after the union (the per-leg distincts each cost a full
    exchange). Exactness vs brute force is pinned in test_fuzzy.py."""
    from featurebase_spark.pipeline.fuzzy import fuzzy_join

    cust = tables["customer"].where(F.col("c_custkey") % 10 == 0)
    p = _plan(fuzzy_join(cust, "c_custkey", "c_name", max_dist=1, q=2))
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 0, tree
    assert tree.count("CartesianProduct") == 0, tree
    # the length-band explode feeds the side leg
    assert tree.count("Generate") == 1, tree
    # one distinct = one partial+final aggregate pair, nothing else
    assert tree.count("HashAggregate") == 2, tree


def test_cc_fixpoint_count_fused_into_checkpoint_job(spark, jobs_run_by):
    """r14 (9409b47): each CC round's lazy checkpoint + FULL count is
    the materializing action — one job per round both persists the
    labels and returns the fixpoint count, where the eager form paid a
    second scheduler round-trip per round to re-scan materialized rows.
    An 8-chain closes in 5 rounds and 32 jobs with one join per round
    (measured alone and late in the full suite alike); the earlier
    two-join round ran 45 fused, 49 with a per-round count job.
    The count must stay FULL (no limit/short-circuit): a partial first
    job would leave checkpoint blocks unmaterialized behind truncated
    lineage — the r13 measured failure mode of the naive lazy fusion —
    and the collect() here reads the final round's checkpointed frame,
    so that hazard fails this test too."""
    from featurebase_spark.pipeline.graph import connected_components

    ndf = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src long, dst long"
    )
    out = []
    jobs = jobs_run_by(
        lambda: out.extend(
            connected_components(ndf, edf, shuffle_partitions=4).collect()
        ),
    )
    assert {r["node"]: r["component"] for r in out} == {
        i: 0 for i in range(8)
    }
    assert jobs <= 32, f"CC closure ran {jobs} jobs (one-join form: 32)"


def test_cc_symmetrize_single_pass_no_union(spark):
    """r14: edge symmetrization in the CC loops must be the one-pass
    explode (graph._symmetrize), never a two-leg union — a union
    instantiates the edge DERIVATION once per leg, so for the dedup
    callers the whole pair pipeline (posting self-join + aggregate)
    ran twice inside the symmetrized frame's materialization. The base
    frame here carries an aggregate so a replay is visible in the plan
    as a second HashAggregate pair."""
    from featurebase_spark.pipeline.graph import _symmetrize

    base = spark.range(10).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("t")
    )
    agg = base.groupBy("s").agg(F.max("t").alias("t"))
    p = _plan(_symmetrize(agg, "s", "t"))
    tree = p.split("\n\n")[0]
    assert tree.count("Union") == 0, tree
    assert tree.count("Generate") == 1, tree
    # one partial+final aggregate pair — a union leg would add a second
    assert tree.count("HashAggregate") == 2, tree
    rows = {(r["s"], r["t"]) for r in _symmetrize(base, "s", "t").collect()}
    want = {(i, i + 1) for i in range(10)}
    assert rows == want | {(b, a) for a, b in want}
    # a dotted column name is one top-level column, not a field path,
    # and an int/long endpoint pair meets on the common (long) type
    mixed = spark.createDataFrame(
        [(1, 2), (3, 4)], "`doc.a` int, `doc.b` long"
    )
    sym = _symmetrize(mixed, "doc.a", "doc.b")
    assert [f.dataType.simpleString() for f in sym.schema] == ["bigint"] * 2
    assert sym.columns == ["doc.a", "doc.b"]
    got = {(r[0], r[1]) for r in sym.collect()}
    assert got == {(1, 2), (2, 1), (3, 4), (4, 3)}
