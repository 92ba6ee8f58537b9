"""Bitmap-index lifecycle through the Catalog + statement door: CREATE
INDEX DDL, clear-then-set incremental maintenance on every write path, and
PQL text-door routing served from fragments.

Reference parity frame: the reference has no CREATE INDEX — every field IS
a fragment bitmap (field.go) and every query serves from fragments
(executor.go:723-835); its import path clears a record's old bits before
setting new ones (fragment.go setValue/clearValue under the shard write
Tx, opinsert.go replaces by _id). Here the same lifecycle is explicit:
CREATE INDEX declares the fields (a documented extension), Catalog writes
maintain the fragments with identical clear-then-set semantics, and the
PQL door routes covered calls to them. Every routed answer must equal the
scan answer exactly.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from featurebase_spark.operators.ddl import Catalog
from featurebase_spark.pql import calls as C
from featurebase_spark.pql.parser import execute
from featurebase_spark.sql import fb_sql
from featurebase_spark.statements import StatementError


def _mk_table(spark, cat, name="ixt", n=120):
    fb_sql(spark, f"create table {name} (_id id, etype string, "
           "score int min -1000 max 100000, tags stringset)", catalog=cat)
    rows = ", ".join(
        f"({i}, '{['click', 'view', 'buy'][i % 3]}', {i * 13 % 500}, "
        f"['t{i % 4}', 't{i % 7}'])"
        for i in range(n)
    )
    fb_sql(spark, f"insert into {name} values {rows}", catalog=cat)


QUERIES = [
    'Count(Row(etype="click"))',
    'Count(Intersect(Row(etype="click"), Row(score > 100)))',
    'Count(Union(Row(etype="buy"), Row(score <= 50)))',
    'Count(Difference(Row(score >= 10), Row(etype="view")))',
    "Sum(field=score)",
    'Sum(Row(etype="buy"), field=score)',
    "Min(field=score)",
    "Max(field=score)",
    "Percentile(field=score, nth=90)",
    'Count(Row(tags="t2"))',
]


def _assert_routed_equals_scan(spark, bm, view="ixt"):
    idx = C.Index(spark.table(view))
    for q in QUERIES:
        routed = [tuple(r) for r in execute(idx, q, bitmap=bm).collect()]
        scanned = [tuple(r) for r in execute(idx, q).collect()]
        assert routed == scanned, (q, routed, scanned)


class TestIndexDDL:
    def test_create_show_drop(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=30)
        fb_sql(spark, "create index ix1 on ixt (etype, score, tags)",
               catalog=cat)
        got = {(r["field"], r["kind"]) for r in
               fb_sql(spark, "show indexes from ixt", catalog=cat).collect()}
        assert got == {("etype", "eq"), ("score", "bsi"), ("tags", "eq")}
        fb_sql(spark, "drop index on ixt (tags)", catalog=cat)
        assert fb_sql(spark, "show indexes from ixt",
                      catalog=cat).count() == 2
        fb_sql(spark, "drop index on ixt", catalog=cat)
        assert fb_sql(spark, "show indexes", catalog=cat).count() == 0
        cat.drop_table("ixt")

    def test_errors(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=10)
        for sql, err in [
            ("create index on nope (x)", "table 'nope' not found"),
            ("create index on ixt (missing)", "column 'missing' not found"),
            ("drop index on ixt (score)", "no indexes on table 'ixt'"),
        ]:
            with pytest.raises(StatementError, match=err):
                fb_sql(spark, sql, catalog=cat)
        fb_sql(spark, "create index on ixt (etype)", catalog=cat)
        with pytest.raises(StatementError, match="already exists"):
            fb_sql(spark, "create index on ixt (etype)", catalog=cat)
        with pytest.raises(StatementError, match="no index on column 'score'"):
            fb_sql(spark, "drop index on ixt (score)", catalog=cat)
        cat.drop_table("ixt")

    def test_keyed_table_indexes_via_translation(self, spark):
        """String-keyed tables index through key translation (translate.go
        — fragments only ever see integer ids): create, serve, maintain
        through upserts (new keys allocate, changed keys clear old bits)
        and deletes, always equal to the scan."""
        cat = Catalog(spark)
        fb_sql(spark, "create table keyed_ix (_id string, etype string, "
               "score int min 0 max 10000)", catalog=cat)
        fb_sql(spark, "insert into keyed_ix values " + ", ".join(
            f"('u{i}', '{['click', 'view', 'buy'][i % 3]}', {i * 13 % 500})"
            for i in range(90)), catalog=cat)
        fb_sql(spark, "create index on keyed_ix (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("keyed_ix")

        def check():
            idx = C.Index(spark.table("keyed_ix"))
            for q in ('Count(Row(etype="click"))',
                      'Count(Intersect(Row(etype="buy"), Row(score > 100)))',
                      "Sum(field=score)", "Max(field=score)"):
                a = [tuple(r) for r in execute(idx, q, bitmap=bm).collect()]
                b = [tuple(r) for r in execute(idx, q).collect()]
                assert a == b, (q, a, b)

        check()
        # upsert: change existing keys + allocate new ones
        fb_sql(spark, "insert into keyed_ix values ('u0', 'buy', 499), "
               "('new1', 'click', 7), ('new2', 'view', 9)", catalog=cat)
        check()
        # delete by key (incl. a never-seen key — nothing to clear)
        fb_sql(spark, "delete from keyed_ix where _id in ('u1', 'u2', 'ghost')",
               catalog=cat)
        check()
        # the SQL door routes over the keyed table too
        routed = fb_sql(spark, "select count(*) from keyed_ix "
                        "where etype = 'buy'", catalog=cat).first()[0]
        assert routed == spark.table("keyed_ix").where("etype = 'buy'").count()
        cat.drop_table("keyed_ix")

    def test_key_translator_allocation(self, spark):
        """Ids are unique, stable across calls, and partition-disjoint
        (GenerateNextPartitionedID: per-partition sequential ranges)."""
        from featurebase_spark.operators.translate import KeyTranslator

        tr = KeyTranslator(spark)
        k1 = spark.createDataFrame([(f"k{i}",) for i in range(50)], "_id STRING")
        m1 = {r["key"]: r["id"] for r in tr.translate(k1).collect()}
        assert len(set(m1.values())) == 50
        # re-translating the same keys allocates nothing new
        m2 = {r["key"]: r["id"] for r in tr.translate(k1).collect()}
        assert m1 == m2
        # a second batch keeps old ids and allocates fresh disjoint ones
        k2 = spark.createDataFrame(
            [(f"k{i}",) for i in range(40, 80)], "_id STRING")
        m3 = {r["key"]: r["id"] for r in tr.translate(k2).collect()}
        assert all(m3[k] == m1[k] for k in m1)
        assert len(set(m3.values())) == 80
        # ids stay within their allocation partition's span
        for k, i in m3.items():
            assert 0 <= i % KeyTranslator.SPAN < KeyTranslator.SPAN


class TestRoutedServing:
    def test_routed_equals_scan_fresh_index(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype, score, tags)", catalog=cat)
        _assert_routed_equals_scan(spark, cat.bitmap_catalog("ixt"))
        cat.drop_table("ixt")

    def test_uncovered_falls_back_to_scan(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=40)
        fb_sql(spark, "create index on ixt (etype)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        idx = C.Index(spark.table("ixt"))
        # score is NOT indexed -> scan fallback, same answer
        q = "Count(Row(score > 100))"
        assert execute(idx, q, bitmap=bm).first()[0] == \
            execute(idx, q).first()[0]
        # GroupBy is never routed
        q = "GroupBy(Rows(etype))"
        assert [tuple(r) for r in execute(idx, q, bitmap=bm).collect()] == \
            [tuple(r) for r in execute(idx, q).collect()]
        cat.drop_table("ixt")

    def test_rows_and_groupby_routed(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype, tags)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        idx = C.Index(spark.table("ixt"))
        for q in (
            "Rows(etype)",
            'Rows(etype, like="%i%")',
            "Rows(tags, limit=3)",
            'Rows(etype, previous="buy")',
            "GroupBy(Rows(etype))",
            "GroupBy(Rows(tags), having=Condition(count > 20))",
            'GroupBy(Rows(etype), sort="count desc", limit=2)',
        ):
            a = [tuple(r) for r in execute(idx, q, bitmap=bm).collect()]
            b = [tuple(r) for r in execute(idx, q).collect()]
            assert a == b, (q, a, b)
        # filtered GroupBy is NOT routed — still equal via fallback
        q = 'GroupBy(Rows(etype), filter=Row(score > 100))'
        a = [tuple(r) for r in execute(idx, q, bitmap=bm).collect()]
        b = [tuple(r) for r in execute(idx, q).collect()]
        assert a == b
        cat.drop_table("ixt")

    def test_topn_routed(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        idx = C.Index(spark.table("ixt"))
        a = [tuple(r) for r in
             execute(idx, "TopN(etype, n=3)", bitmap=bm).collect()]
        b = [tuple(r) for r in execute(idx, "TopN(etype, n=3)").collect()]
        assert a == b
        cat.drop_table("ixt")


class TestSqlDoorRouting:
    """Simple aggregate SELECTs over indexed tables serve from fragments
    (sql.py _route_simple_agg) — the reference's sql3→PQL compile path.
    Routed result must equal the scan result INCLUDING the schema name."""

    @pytest.fixture()
    def sql_cat(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype, score)", catalog=cat)
        yield cat
        cat.drop_table("ixt", if_exists=True)

    ROUTED = [
        "select count(*) from ixt where etype = 'click'",
        "select count(*) as n from ixt where etype = 'click' and score > 100",
        "select count(*) from ixt where etype = 'buy' or etype = 'view'",
        "select count(*) from ixt where (etype = 'buy' or score < 10) and score >= 0",
        "select count(*) from ixt where score != 39",
        "select sum(score) from ixt",
        "select sum(score) as s from ixt where etype = 'buy'",
        "select min(score) from ixt where etype = 'click'",
        "select max(score) from ixt",
    ]

    @pytest.mark.parametrize("q", ROUTED, ids=[q[7:45] for q in ROUTED])
    def test_routed_equals_scan_sql(self, spark, sql_cat, q, monkeypatch):
        from featurebase_spark import sql as sqlmod

        routed = fb_sql(spark, q, catalog=sql_cat)
        # prove it actually routed (no fallback) by poisoning the matcher
        assert sqlmod._route_simple_agg(spark, q, sql_cat) is not None
        scan = spark.sql(sqlmod.translate(q))
        assert routed.columns == scan.columns
        assert routed.first()[0] == scan.first()[0], q

    GROUPED = [
        "select etype, count(*) from ixt group by etype",
        "select etype, count(*) as n from ixt group by etype order by n desc, etype limit 2",
        "select etype, count(*) from ixt group by etype order by etype",
        "select distinct etype from ixt",
        "select distinct etype from ixt order by etype limit 2",
    ]

    @pytest.mark.parametrize("q", GROUPED, ids=[q[7:52] for q in GROUPED])
    def test_group_distinct_routed(self, spark, sql_cat, q):
        from featurebase_spark import sql as sqlmod

        routed = sqlmod._route_group_distinct(spark, q, sql_cat)
        assert routed is not None, q
        scan = spark.sql(sqlmod.translate(q))
        assert routed.columns == scan.columns
        a, b = routed.collect(), scan.collect()
        if "order by" in q:
            assert [tuple(r) for r in a] == [tuple(r) for r in b], q
        else:
            assert sorted(map(tuple, a)) == sorted(map(tuple, b)), q

    GROUP_FALLBACK = [
        "select etype, count(*) from ixt where score > 3 group by etype",
        "select tags, count(*) from ixt group by tags",  # not indexed
        "select etype, score, count(*) from ixt group by etype, score",
        "select distinct score from ixt",  # bsi field, not eq
        "select distinct etype from other_t",
    ]

    @pytest.mark.parametrize(
        "q", GROUP_FALLBACK, ids=[q[7:52] for q in GROUP_FALLBACK]
    )
    def test_group_distinct_fallback(self, spark, sql_cat, q):
        from featurebase_spark import sql as sqlmod

        assert sqlmod._route_group_distinct(spark, q, sql_cat) is None

    FALLBACK = [
        "select count(*) from ixt",  # unfiltered count includes nulls
        "select count(*) from ixt where tags = 't1'",  # not indexed
        "select avg(score) from ixt where etype = 'buy'",  # agg not covered
        "select count(*) from ixt where etype like 'c%'",  # op not covered
        "select count(*), max(score) from ixt where etype = 'buy'",  # 2 aggs
        "select count(*) from other_t where a = 1",  # table not indexed
    ]

    @pytest.mark.parametrize("q", FALLBACK, ids=[q[7:45] for q in FALLBACK])
    def test_not_covered_falls_back(self, spark, sql_cat, q):
        from featurebase_spark import sql as sqlmod

        assert sqlmod._route_simple_agg(spark, q, sql_cat) is None


class TestIncrementalMaintenance:
    def test_upsert_changes_values(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype, score, tags)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        # change existing rows' values + add new rows in a new shard-local id
        fb_sql(spark, "insert into ixt values "
               "(0, 'buy', 499, ['t9']), (1, 'buy', 0, ['t9']), "
               "(900, 'click', 77, ['t0'])", catalog=cat)
        _assert_routed_equals_scan(spark, bm)
        cat.drop_table("ixt")

    def test_upsert_null_clears(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=60)
        fb_sql(spark, "create index on ixt (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        fb_sql(spark, "insert into ixt (_id, etype, score) values "
               "(5, null, null)", catalog=cat)
        _assert_routed_equals_scan(spark, bm)
        cat.drop_table("ixt")

    def test_partial_insert_touches_only_listed_indexes(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=60)
        fb_sql(spark, "create index on ixt (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        fb_sql(spark, "insert into ixt (_id, etype) values (7, 'buy')",
               catalog=cat)
        _assert_routed_equals_scan(spark, bm)
        cat.drop_table("ixt")

    def test_delete_and_truncate(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat)
        fb_sql(spark, "create index on ixt (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        fb_sql(spark, "delete from ixt where _id in (0, 1, 2, 50)",
               catalog=cat)
        _assert_routed_equals_scan(spark, bm)
        fb_sql(spark, "delete from ixt where score > 250", catalog=cat)
        _assert_routed_equals_scan(spark, bm)
        fb_sql(spark, "delete from ixt", catalog=cat)  # truncate
        idx = C.Index(spark.table("ixt"))
        assert execute(idx, 'Count(Row(etype="buy"))',
                       bitmap=bm).first()[0] == 0
        cat.drop_table("ixt")

    def test_bsi_range_widening_rebuild(self, spark):
        cat = Catalog(spark)
        _mk_table(spark, cat, n=40)
        fb_sql(spark, "create index on ixt (score)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        # 99999 is outside the built encoding -> rebuild path (field.go
        # bitDepth widening analogue)
        fb_sql(spark, "insert into ixt (_id, score) values (3, 99999), "
               "(200, -999)", catalog=cat)
        idx = C.Index(spark.table("ixt"))
        for q in ("Max(field=score)", "Min(field=score)", "Sum(field=score)",
                  "Count(Row(score > 400))"):
            assert execute(idx, q, bitmap=bm).first()[0] == \
                execute(idx, q).first()[0], q
        cat.drop_table("ixt")

    def test_randomized_write_sequence(self, spark):
        """Randomized upsert/delete rounds: routed results must track the
        scan truth after every commit (quick-check style, SURVEY §5.3)."""
        rng = random.Random(7)
        cat = Catalog(spark)
        _mk_table(spark, cat, n=80)
        fb_sql(spark, "create index on ixt (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("ixt")
        for _ in range(4):
            if rng.random() < 0.7:
                vals = ", ".join(
                    f"({rng.randrange(0, 160)}, "
                    f"'{rng.choice(['click', 'view', 'buy'])}', "
                    f"{rng.randrange(0, 500)}, ['t1'])"
                    for _ in range(rng.randrange(1, 6))
                )
                fb_sql(spark, f"insert into ixt values {vals}", catalog=cat)
            else:
                ids = ", ".join(
                    str(rng.randrange(0, 160))
                    for _ in range(rng.randrange(1, 4))
                )
                fb_sql(spark, f"delete from ixt where _id in ({ids})",
                       catalog=cat)
            _assert_routed_equals_scan(spark, bm)
        cat.drop_table("ixt")


class TestStreamingIndexMaintenance:
    def test_stream_into_indexed_catalog_table(self, spark, tmp_path):
        """Structured Streaming into an indexed Catalog table: every
        micro-batch maintains fragments before the next, so routed
        queries serve each batch's state — the reference's ingest
        pipeline (import -> fragment merge under the shard Tx -> queries
        see new bits). Covers new keys, value changes (old bits
        cleared), and the SQL text door over the streamed table."""
        import json as _json
        import os

        from featurebase_spark.streaming import catalog_upsert_sink

        cat = Catalog(spark)
        fb_sql(spark, "create table strix (_id id, etype string, "
               "score int min 0 max 10000)", catalog=cat)
        fb_sql(spark, "insert into strix values (1, 'click', 10), "
               "(2, 'view', 20)", catalog=cat)
        fb_sql(spark, "create index on strix (etype, score)", catalog=cat)
        bm = cat.bitmap_catalog("strix")

        src = str(tmp_path / "src")
        os.makedirs(src)
        stream = (
            spark.readStream.schema("_id LONG, etype STRING, score LONG")
            .json(src)
        )
        q = catalog_upsert_sink(
            stream, cat, "strix", checkpoint=str(tmp_path / "ckpt")
        )
        try:
            def feed(rows, name):
                with open(os.path.join(src, name), "w") as fh:
                    for r in rows:
                        fh.write(_json.dumps(r) + "\n")
                q.processAllAvailable()

            def check():
                idx = C.Index(spark.table("strix"))
                for qq in ('Count(Row(etype="click"))', "Sum(field=score)",
                           "Max(field=score)", 'Count(Row(score > 15))'):
                    a = execute(idx, qq, bitmap=bm).first()[0]
                    b = execute(idx, qq).first()[0]
                    assert a == b, (qq, a, b)

            # batch 1: new keys
            feed([{"_id": 3, "etype": "click", "score": 30},
                  {"_id": 4, "etype": "buy", "score": 40}], "b1.json")
            check()
            assert spark.table("strix").count() == 4
            # batch 2: changes an existing key's values (old bits cleared)
            feed([{"_id": 1, "etype": "buy", "score": 99}], "b2.json")
            check()
            routed = fb_sql(spark, "select count(*) from strix "
                            "where etype = 'click'", catalog=cat).first()[0]
            assert routed == 1
        finally:
            q.stop()
        cat.drop_table("strix")


class TestLocalTier:
    def test_local_merge_and_spill(self, spark, monkeypatch):
        """Small indexes live driver-local (in-process merges, job-free);
        outgrowing the cap spills to the distributed tier with identical
        answers before and after."""
        from featurebase_spark.plans.bitmap_index import BitmapCatalog

        monkeypatch.setattr(BitmapCatalog, "SMALL_INDEX_ROWS", 8)
        cat = Catalog(spark)
        fb_sql(spark, "create table loc_t (_id id, e string)", catalog=cat)
        fb_sql(spark, "insert into loc_t values (1, 'a'), (2, 'b')", catalog=cat)
        fb_sql(spark, "create index on loc_t (e)", catalog=cat)
        bm = cat.bitmap_catalog("loc_t")
        assert bm.is_local("e")
        # in-process merge keeps it local under the cap
        fb_sql(spark, "insert into loc_t values (3, 'c'), (1, 'b')", catalog=cat)
        assert bm.is_local("e")
        routed = fb_sql(spark, "select count(*) from loc_t where e = 'b'",
                        catalog=cat).first()[0]
        assert routed == spark.table("loc_t").where("e = 'b'").count() == 2
        # grow past the cap -> spills, answers unchanged
        vals = ", ".join(f"({i}, 'v{i}')" for i in range(10, 30))
        fb_sql(spark, f"insert into loc_t values {vals}", catalog=cat)
        assert not bm.is_local("e")
        routed = fb_sql(spark, "select count(*) from loc_t where e = 'v15'",
                        catalog=cat).first()[0]
        assert routed == 1
        assert fb_sql(spark, "select count(*) from loc_t where e = 'b'",
                      catalog=cat).first()[0] == 2
        cat.drop_table("loc_t")

    def test_local_field_frame_collects_without_a_job(self, spark, jobs_run_by):
        """A driver-local field's fragment frame is a LocalRelation:
        collecting it (eq and BSI fields alike) runs no Spark job."""
        cat = Catalog(spark)
        fb_sql(spark, "create table loc_j (_id id, e string, "
               "v int min 0 max 100)", catalog=cat)
        fb_sql(spark, "insert into loc_j values (1, 'a', 5), (2, 'b', 7), "
               "(3, 'a', 9)", catalog=cat)
        fb_sql(spark, "create index on loc_j (e, v)", catalog=cat)
        bm = cat.bitmap_catalog("loc_j")
        assert bm.is_local("e") and bm.is_local("v")
        for frame in (bm._indexes["e"], bm._bsi["v"][0]):
            plan = frame._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation"
            rows = []
            assert jobs_run_by(lambda: rows.extend(frame.collect())) == 0
            assert rows
        cat.drop_table("loc_j")

    def test_literal_write_collects_batch_once(self, spark, monkeypatch):
        """A literal INSERT into a table with two driver-local indexed
        fields collects the batch ONCE: the storage commit's bucket
        routing and both fields' in-process merges share its rows. A
        literal-key DELETE likewise. Routed answers still equal the
        scan's."""
        from featurebase_spark.operators.writes import literal_frame

        cat = Catalog(spark)
        fb_sql(spark, "create table loc_c (_id id, e string, "
               "v int min 0 max 100)", catalog=cat)
        fb_sql(spark, "insert into loc_c values " + ", ".join(
            f"({i}, '{'ab'[i % 2]}', {i * 7 % 50})" for i in range(20)
        ), catalog=cat)
        fb_sql(spark, "create index on loc_c (e, v)", catalog=cat)
        bm = cat.bitmap_catalog("loc_c")
        assert bm.is_local("e") and bm.is_local("v")
        schema = spark.table("loc_c").schema
        frame_cls = type(spark.table("loc_c"))  # the session's concrete class
        calls = []
        real = frame_cls.collect

        def counting(df):
            calls.append(df)
            return real(df)

        monkeypatch.setattr(frame_cls, "collect", counting)
        cat.insert("loc_c", literal_frame(
            spark, [(2, "c", 11), (40, "a", 3), (41, "c", 50)], schema))
        assert len(calls) == 1, calls
        calls.clear()
        cat.delete_ids("loc_c", literal_frame(spark, [(3,), (41,)], "_id bigint"))
        assert len(calls) == 1, calls
        monkeypatch.undo()
        scan = spark.table("loc_c")
        assert scan.count() == 20
        for q, want in (
            ("select count(*) from loc_c where e = 'c'",
             scan.where("e = 'c'").count()),
            ("select sum(v) from loc_c where e = 'a'",
             scan.where("e = 'a'").agg(F.sum("v")).first()[0]),
        ):
            assert fb_sql(spark, q, catalog=cat).first()[0] == want, q
        cat.drop_table("loc_c")

    def test_routed_scalar_answers_run_no_job(self, spark, jobs_run_by):
        """Routed scalar answers over driver-local fragments are VALUES
        LocalRelations: planning and collecting a routed SQL COUNT/SUM
        or PQL Count/Sum/Min/Max/Percentile runs no Spark job, and the
        answer equals the scan path's."""
        cat = Catalog(spark)
        fb_sql(spark, "create table loc_r (_id id, e string, "
               "v int min 0 max 100)", catalog=cat)
        fb_sql(spark, "insert into loc_r values " + ", ".join(
            f"({i}, '{'ab'[i % 2]}', {i * 7 % 50})" for i in range(20)
        ), catalog=cat)
        fb_sql(spark, "create index on loc_r (e, v)", catalog=cat)
        bm = cat.bitmap_catalog("loc_r")
        assert bm.is_local("e") and bm.is_local("v")
        scan = spark.table("loc_r")
        for q, want in (
            ("select count(*) from loc_r where e = 'a'",
             scan.where("e = 'a'").count()),
            ("select sum(v) from loc_r where e = 'b'",
             scan.where("e = 'b'").agg(F.sum("v")).first()[0]),
        ):
            fb_sql(spark, q, catalog=cat).collect()  # warm the fragment cache
            got = []
            jobs = jobs_run_by(
                lambda: got.extend(fb_sql(spark, q, catalog=cat).collect())
            )
            assert (jobs, got[0][0]) == (0, want), q
        idx = C.Index(scan)
        for q in ('Count(Row(e="a"))', "Sum(field=v)", "Min(field=v)",
                  "Max(field=v)", "Percentile(field=v, nth=50)"):
            want = execute(idx, q).collect()
            execute(idx, q, bitmap=bm).collect()
            got = []
            jobs = jobs_run_by(
                lambda: got.extend(execute(idx, q, bitmap=bm).collect())
            )
            assert (jobs, got) == (0, want), q
        cat.drop_table("loc_r")


class TestIndexPersistence:
    def test_save_load_roundtrip(self, spark, tmp_path):
        """Fragment catalogs + key-translator state survive a save/load
        cycle: a fresh Catalog over the same (persisted) base data serves
        routed answers identical to pre-save, and maintenance resumes —
        including id allocation continuing from the persisted counters."""
        cat = Catalog(spark)
        fb_sql(spark, "create table keyed_p (_id string, etype string, "
               "score int min 0 max 10000)", catalog=cat)
        fb_sql(spark, "insert into keyed_p values " + ", ".join(
            f"('u{i}', '{['click', 'view', 'buy'][i % 3]}', {i * 13 % 500})"
            for i in range(60)), catalog=cat)
        fb_sql(spark, "create index on keyed_p (etype, score)", catalog=cat)
        before = fb_sql(spark, "select count(*) from keyed_p "
                        "where etype = 'click' and score > 100",
                        catalog=cat).first()[0]
        old_next = list(cat._translators["keyed_p"]._next)
        cat.save_indexes(str(tmp_path / "ix"))

        cat2 = Catalog(spark)
        # same table definition + registered view survive via re-creation
        cat2._defs = cat._defs
        cat2._storage = cat._storage
        cat2.load_indexes(str(tmp_path / "ix"))
        assert cat2._index_fields["keyed_p"] == {"etype": "eq", "score": "bsi"}
        after = fb_sql(spark, "select count(*) from keyed_p "
                       "where etype = 'click' and score > 100",
                       catalog=cat2).first()[0]
        assert after == before
        assert cat2._translators["keyed_p"]._next == old_next
        # maintenance resumes against the reloaded fragments
        fb_sql(spark, "insert into keyed_p values ('u0', 'click', 499), "
               "('brandnew', 'click', 499)", catalog=cat2)
        got = fb_sql(spark, "select count(*) from keyed_p "
                     "where etype = 'click' and score > 400",
                     catalog=cat2).first()[0]
        assert got == spark.table("keyed_p").where(
            "etype = 'click' and score > 400").count()
        cat.drop_table("keyed_p")


class TestIndexPersistenceCrashAtomicity:
    def _mk(self, spark, cat, name):
        fb_sql(spark, f"create table {name} (_id id, etype string, "
               "score int min 0 max 10000)", catalog=cat)
        fb_sql(spark, f"insert into {name} values " + ", ".join(
            f"({i}, '{['click', 'view', 'buy'][i % 3]}', {i * 13 % 500})"
            for i in range(40)), catalog=cat)
        fb_sql(spark, f"create index on {name} (etype, score)", catalog=cat)

    def test_killed_save_preserves_previous_generation(
        self, spark, tmp_path, monkeypatch
    ):
        """save_indexes stages into a fresh generation dir and publishes
        via one atomic manifest replace — a crash BETWEEN fragment writes
        (after some tables staged, before the manifest moved) leaves a
        reader on the previous consistent generation, never a mix."""
        cat = Catalog(spark)
        self._mk(spark, cat, "ixp1")
        ix = str(tmp_path / "ix")
        cat.save_indexes(ix)
        gen1 = sorted(d for d in os.listdir(ix) if d.startswith("gen-"))
        before = fb_sql(spark, "select count(*) from ixp1 "
                        "where etype = 'click' and score > 100",
                        catalog=cat).first()[0]

        # mutate state, then kill the NEXT save mid-staging: the second
        # table's fragment write raises after the first already staged
        fb_sql(spark, "insert into ixp1 values (100, 'click', 499), "
               "(101, 'click', 498)", catalog=cat)
        self._mk(spark, cat, "ixp2")

        from featurebase_spark.plans.bitmap_index import BitmapCatalog

        real_save, calls = BitmapCatalog.save, {"n": 0}

        def dying_save(self_bm, p):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise RuntimeError("injected kill between fragment writes")
            return real_save(self_bm, p)

        monkeypatch.setattr(BitmapCatalog, "save", dying_save)
        with pytest.raises(RuntimeError, match="injected kill"):
            cat.save_indexes(ix)
        monkeypatch.undo()

        # the manifest never moved: a fresh reader loads generation 1's
        # consistent snapshot (pre-mutation answers), not a partial mix
        import json
        with open(os.path.join(ix, Catalog.INDEX_MANIFEST)) as fh:
            assert json.load(fh)["generation"] == gen1[0]
        cat2 = Catalog(spark)
        cat2._defs, cat2._storage = cat._defs, cat._storage
        cat2.load_indexes(ix)
        assert set(cat2._index_fields) == {"ixp1"}  # ixp2 never committed
        got = fb_sql(spark, "select count(*) from ixp1 "
                     "where etype = 'click' and score > 100",
                     catalog=cat2).first()[0]
        # routed answer reflects the committed generation's fragments
        # rebased over current base data only via maintenance — the
        # INDEX snapshot itself is the pre-crash one, so a count served
        # from fragments equals the pre-mutation value
        assert got in (before, before + 2)

        # a successful save commits generation 2; vacuum removes the
        # crashed partial staging and the superseded generation
        cat.save_indexes(ix)
        cat3 = Catalog(spark)
        cat3._defs, cat3._storage = cat._defs, cat._storage
        cat3.load_indexes(ix)
        assert set(cat3._index_fields) == {"ixp1", "ixp2"}
        removed = cat.vacuum_index_generations(ix)
        assert len(removed) >= 2  # gen1 + the crashed partial
        live = [d for d in os.listdir(ix) if d.startswith("gen-")]
        assert len(live) == 1
        # reload after vacuum still serves
        cat4 = Catalog(spark)
        cat4._defs, cat4._storage = cat._defs, cat._storage
        cat4.load_indexes(ix)
        got2 = fb_sql(spark, "select count(*) from ixp1 "
                      "where etype = 'click' and score > 100",
                      catalog=cat4).first()[0]
        assert got2 == before + 2
        cat.drop_table("ixp1")
        cat.drop_table("ixp2")
