"""Write-op semantics (PQL Set/Clear/ClearRow/Store/Delete, INSERT-upsert)
and the DDL/catalog façade — mirrored from reference behaviors in
executor.go:5895-6353 and sql3/test/defs (defs_insert, defs_delete)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from featurebase_spark.operators import writes as W
from featurebase_spark.operators.ddl import Catalog
from featurebase_spark.schema import FieldDef, TableDef


@pytest.fixture()
def tbl(spark):
    return spark.createDataFrame(
        [(1, "a", 10, ["x"]), (2, "b", 20, ["x", "y"]), (3, "a", 30, None)],
        "_id LONG, s STRING, n LONG, tags ARRAY<STRING>",
    )


def _by_id(df):
    return {r["_id"]: r for r in df.collect()}


def test_set_bit_mutex_last_write_wins(tbl):
    out = _by_id(W.set_bit(tbl, 1, "s", "z"))
    assert out[1]["s"] == "z" and out[2]["s"] == "b"


def test_set_bit_set_field_unions(tbl):
    out = _by_id(W.set_bit(tbl, 1, "tags", "new"))
    assert sorted(out[1]["tags"]) == ["new", "x"]
    # null array treated as empty set
    out = _by_id(W.set_bit(tbl, 3, "tags", "first"))
    assert out[3]["tags"] == ["first"]


def test_set_bit_creates_record(tbl):
    out = _by_id(W.set_bit(tbl, 99, "n", 5))
    assert out[99]["n"] == 5 and out[99]["s"] is None
    assert len(out) == 4


def test_clear_bit(tbl):
    out = _by_id(W.clear_bit(tbl, 2, "tags", "y"))
    assert out[2]["tags"] == ["x"]
    out = _by_id(W.clear_bit(tbl, 1, "s", "a"))
    assert out[1]["s"] is None
    # clearing a non-matching scalar value is a no-op
    out = _by_id(W.clear_bit(tbl, 2, "s", "nope"))
    assert out[2]["s"] == "b"


def test_clear_row_all_records(tbl):
    out = _by_id(W.clear_row(tbl, "s", "a"))
    assert out[1]["s"] is None and out[3]["s"] is None and out[2]["s"] == "b"


def test_store_row_overwrites_bitmap(spark, tbl):
    ids = spark.createDataFrame([(2,), (3,)], ["_id"])
    out = _by_id(W.store_row(tbl, ids, "s", "a"))
    # 2,3 gain 'a'; 1 (had 'a', not in bitmap) loses it
    assert out[1]["s"] is None and out[2]["s"] == "a" and out[3]["s"] == "a"


def test_delete_records(spark, tbl):
    ids = spark.createDataFrame([(1,), (3,)], ["_id"])
    out = W.delete_records(tbl, ids)
    assert sorted(r["_id"] for r in out.collect()) == [2]


def test_delete_where(tbl):
    out = W.delete_where(tbl, F.col("n") > 15)
    assert sorted(r["_id"] for r in out.collect()) == [1]


def test_merge_upsert(spark, tbl):
    updates = spark.createDataFrame(
        [(2, "B!", 200, None), (4, "d", 40, ["w"])], tbl.schema
    )
    out = _by_id(W.merge_upsert(tbl, updates))
    assert out[2]["n"] == 200 and out[4]["s"] == "d" and len(out) == 4


def test_bulk_upsert_last_write_wins(spark, tbl):
    updates = spark.createDataFrame(
        [(5, "v1", 1, None), (5, "v2", 2, None)], tbl.schema
    )
    out = _by_id(W.bulk_upsert_last_write_wins(tbl, updates, version_col="n"))
    assert out[5]["s"] == "v2"


def test_catalog_ddl_roundtrip(spark):
    cat = Catalog(spark)
    td = TableDef(
        "t_ddl",
        [
            FieldDef("name", "string"),
            FieldDef("age", "int"),
            FieldDef("tags", "stringset"),
            FieldDef("bal", "decimal", scale=2),
        ],
    )
    cat.create_table(td)
    assert cat.show_tables() == ["t_ddl"]
    assert cat.show_columns("t_ddl") == ["_id", "name", "age", "tags", "bal"]
    with pytest.raises(ValueError, match="exists"):
        cat.create_table(td)
    cat.create_table(td, if_not_exists=True)  # no-op

    rows = spark.createDataFrame(
        [(1, "ann", 30, ["x"], None), (2, "bob", 40, None, None)],
        spark.table("t_ddl").schema,
    )
    cat.insert("t_ddl", rows)
    assert spark.table("t_ddl").count() == 2
    # INSERT with existing _id upserts (opinsert.go upsert-by-_id)
    cat.insert(
        "t_ddl",
        spark.createDataFrame([(1, "ANN", 31, None, None)], spark.table("t_ddl").schema),
    )
    got = {r["_id"]: r["name"] for r in spark.table("t_ddl").collect()}
    assert got == {1: "ANN", 2: "bob"}

    cat.alter_table_add_column("t_ddl", FieldDef("extra", "int"))
    assert "extra" in spark.table("t_ddl").columns
    cat.alter_table_drop_column("t_ddl", "extra")
    assert "extra" not in spark.table("t_ddl").columns

    cat.create_view("v_ddl", "SELECT _id, upper(name) AS name FROM t_ddl")
    assert {r["name"] for r in spark.table("v_ddl").collect()} == {"ANN", "BOB"}

    sys_tables = cat.fb_tables().collect()
    assert sys_tables[0]["name"] == "t_ddl" and sys_tables[0]["n_columns"] == 5
    assert [r["name"] for r in cat.fb_columns("t_ddl").collect()][0] == "_id"
    assert cat.fb_views().first()["name"] == "v_ddl"
    cat.drop_view("v_ddl")
    cat.drop_table("t_ddl")
    assert cat.show_tables() == []
    with pytest.raises(ValueError, match="does not exist"):
        cat.drop_table("t_ddl")


def test_insert_never_collects_to_driver(spark, monkeypatch, tmp_path):
    """The INSERT commit path must be fully distributed (VERDICT r1 #1):
    a parquet generation swap, never DataFrame.collect through the driver."""
    import pyspark.sql

    cat = Catalog(spark, path_prefix=str(tmp_path))
    td = TableDef("t_nocollect", [FieldDef("v", "int")])
    cat.create_table(td)
    schema = spark.table("t_nocollect").schema

    def banned(self, *a, **k):
        raise AssertionError("collect() on the write path")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", banned)
    monkeypatch.setattr(pyspark.sql.DataFrame, "toLocalIterator", banned)
    cat.insert("t_nocollect", spark.createDataFrame([(1, 10), (2, 20)], schema))
    cat.insert("t_nocollect", spark.createDataFrame([(2, 99), (3, 30)], schema))
    monkeypatch.undo()
    got = {r["_id"]: r["v"] for r in spark.table("t_nocollect").collect()}
    assert got == {1: 10, 2: 99, 3: 30}
    cat.drop_table("t_nocollect")


def test_materialize_view_generations(spark, tmp_path):
    from featurebase_spark.operators.writes import (
        materialize_view,
        vacuum_generations,
    )
    import os

    df1 = spark.createDataFrame([(1,)], "a LONG")
    materialize_view(df1, "t_gen", str(tmp_path))
    df2 = spark.table("t_gen").withColumn("a", F.col("a") + 1)
    out = materialize_view(df2, "t_gen", str(tmp_path))
    assert [r["a"] for r in spark.table("t_gen").collect()] == [2]
    gens = os.listdir(tmp_path / "t_gen")
    assert len(gens) == 2
    keep = os.path.basename(os.path.dirname(out.inputFiles()[0]))
    vacuum_generations(str(tmp_path), "t_gen", keep)
    assert os.listdir(tmp_path / "t_gen") == [keep]
    assert [r["a"] for r in spark.table("t_gen").collect()] == [2]
    spark.catalog.dropTempView("t_gen")


def test_fb_databases(spark):
    from featurebase_spark.operators.ddl import Catalog

    dbs = Catalog(spark).fb_databases().collect()
    assert any(r["name"] == "default" for r in dbs)
    assert set(dbs[0].asDict()) == {"name", "catalog"}


def test_keyed_table_ddl_and_dialect(spark):
    """String-keyed table (index keys=true, index.go:36; defs_keyed.go):
    DDL create + upsert-by-string-key + dialect SELECT."""
    from featurebase_spark.operators.ddl import Catalog
    from featurebase_spark.schema import FieldDef, TableDef
    from featurebase_spark.sql import fb_sql

    cat = Catalog(spark)
    cat.drop_table("keyed_people", if_exists=True)
    cat.create_table(
        TableDef("keyed_people", [FieldDef("age", "int")], keys=True)
    )
    cat.insert(
        "keyed_people",
        spark.createDataFrame([("ann", 30), ("bob", 41)], "_id STRING, age LONG"),
    )
    cat.insert(  # upsert: 'ann' overwritten by key
        "keyed_people",
        spark.createDataFrame([("ann", 31)], "_id STRING, age LONG"),
    )
    rows = fb_sql(
        spark, "select top(5) _id, age from keyed_people order by _id"
    ).collect()
    assert [(r["_id"], r["age"]) for r in rows] == [("ann", 31), ("bob", 41)]
    assert cat.fb_columns("keyed_people").first()["keys"] is True


def test_cluster_introspection_system_tables(spark):
    """fb_exec_requests / fb_performance_counters (opsystemtable.go:1-673)
    mapped to Spark's public status tracker: exec requests mirror active
    jobs (idle session => empty with a stable schema); counters carry the
    scheduler gauges."""
    from featurebase_spark.operators.ddl import Catalog

    cat = Catalog(spark)
    reqs = cat.fb_exec_requests()
    # the 17-column wire shape (sql_complex_test.go:74-106)
    assert reqs.columns == [
        "nodeid", "request_id", "user", "start_time", "end_time",
        "status", "wait_type", "wait_time", "wait_resource", "cpu_time",
        "elapsed_time", "reads", "writes", "logical_reads", "row_count",
        "sql", "plan",
    ]
    assert reqs.count() >= 0  # idle driver: no active jobs
    # the 6-column wire shape (sql_complex_test.go:53-72)
    pc = cat.fb_performance_counters()
    assert pc.columns == [
        "nodeid", "namespace", "subsystem", "counter_name", "value",
        "counter_type",
    ]
    counters = {r["counter_name"]: r["value"] for r in pc.collect()}
    assert set(counters) == {
        "active_jobs", "active_stages", "default_parallelism", "uptime_ms"
    }
    assert counters["default_parallelism"] >= 1 and counters["uptime_ms"] > 0


def test_system_tables_selectable(spark):
    """System tables answer plain SELECTs through fb_sql (the reference
    registers them as ordinary planner tables, opsystemtable.go) — not
    only SHOW."""
    from featurebase_spark.operators.ddl import Catalog
    from featurebase_spark.schema import FieldDef, TableDef
    from featurebase_spark.sql import fb_sql

    cat = Catalog(spark)
    cat.create_table(TableDef("sys_sel_t", [FieldDef("a", "int")]))
    rows = fb_sql(
        spark,
        "select name, n_columns from fb_tables where name = 'sys_sel_t'",
        catalog=cat,
    ).collect()
    assert [(r["name"], r["n_columns"]) for r in rows] == [("sys_sel_t", 2)]
    n = fb_sql(
        spark,
        "select count(*) as n from fb_performance_counters "
        "where counter_name = 'uptime_ms'",
        catalog=cat,
    ).first()["n"]
    assert n == 1
    cat.drop_table("sys_sel_t")


def test_driver_side_xxhash64_replica_is_bit_exact(spark):
    """spark_bucket routes literal statement batches on the driver; its
    xxhash64 replica must match Spark's BIT-EXACTLY for long and string
    keys or routed writes would read the wrong buckets."""
    import random
    import string as _string

    from pyspark.sql import functions as F

    from featurebase_spark.operators.writes import (
        spark_bucket,
        xxhash64_bytes,
        xxhash64_long,
    )

    def signed(h):
        return ((h + 2**63) % 2**64) - 2**63

    rng = random.Random(7)
    longs = [0, 1, -1, 42, 2**62, -(2**62)] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(100)
    ]
    got = spark.createDataFrame([(v,) for v in longs], "v long").select(
        "v", F.xxhash64("v").alias("h"), F.pmod(F.xxhash64("v"), F.lit(16)).alias("b")
    ).collect()
    for r in got:
        assert signed(xxhash64_long(r["v"])) == r["h"]
        assert spark_bucket(r["v"], 16) == r["b"]
    strs = ["", "a", "abcdefgh", "x" * 31, "y" * 32, "z" * 100,
            "héllo ✓ wörld"] + [
        "".join(rng.choices(_string.printable, k=rng.randint(0, 64)))
        for _ in range(100)
    ]
    got = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h"), F.pmod(F.xxhash64("s"), F.lit(16)).alias("b")
    ).collect()
    for r in got:
        assert signed(xxhash64_bytes(r["s"].encode("utf-8"))) == r["h"]
        assert spark_bucket(r["s"], 16) == r["b"]


def test_touched_buckets_driver_route_equals_plan_route(spark, tmp_path):
    """The driver-side bucket routing must touch EXACTLY the buckets the
    plan-side aggregation would — verified by running an upsert through
    a literal batch and asserting the rewritten buckets equal the
    Spark-computed bucket set of the same keys."""
    from pyspark.sql import functions as F

    from featurebase_spark.operators.writes import PartitionedUpsertTable

    t = PartitionedUpsertTable(spark, str(tmp_path / "bkt"), "_id", 16)
    base = spark.range(200).select(F.col("id").alias("_id"),
                                   (F.col("id") * 3).alias("v"))
    t.init(base)
    batch = spark.sql(
        "SELECT v0 AS _id, v1 AS v FROM (VALUES "
        "(CAST(3 AS bigint), CAST(999 AS bigint)), "
        "(CAST(77 AS bigint), CAST(111 AS bigint)), "
        "(CAST(3 AS bigint), CAST(1000 AS bigint))) AS __v(v0, v1)"
    )
    from featurebase_spark.operators.writes import _is_literal_plan
    assert _is_literal_plan(batch)
    touched = t.upsert(batch)
    want = sorted(
        r[0] for r in batch.select(
            F.pmod(F.xxhash64("_id"), F.lit(16)).alias("b")
        ).distinct().collect()
    )
    assert sorted(touched) == want
    rows = {r["_id"]: r["v"] for r in t.read().collect()}
    assert rows[77] == 111 and rows[3] in (999, 1000) and rows[5] == 15


def test_literal_upsert_null_key_not_dropped(spark, tmp_path):
    """A literal (statement-door) batch containing a NULL key: the
    distributed path stages that row into bucket pmod(xxhash64(NULL)=42,
    n), so the driver-computed touched set must include that bucket or
    the commit never repoints it — silent row drop."""
    from pyspark.sql import functions as F

    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        spark_bucket,
    )

    n = 16
    # driver replica agrees with the engine on the NULL bucket
    eng = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(None).cast("bigint")), F.lit(n)).alias("b")
    ).first()["b"]
    assert spark_bucket(None, n) == eng
    t = PartitionedUpsertTable(spark, str(tmp_path / "nk"), "_id", n)
    t.init(spark.createDataFrame([(1, "a")], "_id bigint, v string"))
    batch = spark.createDataFrame(
        [(None, "nullrow"), (2, "b")], "_id bigint, v string"
    )
    touched = t.upsert(batch)
    assert spark_bucket(None, n) in touched
    rows = {r["_id"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "b", None: "nullrow"}


def _null_bucket_key(n: int) -> int:
    """A non-NULL long key that hashes into the NULL key's bucket, so a
    literal batch holding it rewrites the bucket a NULL-key row lives in."""
    from featurebase_spark.operators.writes import spark_bucket

    return next(k for k in range(1, 10_000)
                if spark_bucket(k, n) == spark_bucket(None, n))


def test_literal_commit_keeps_null_key_rows(spark, tmp_path):
    """A literal batch drops the replaced rows with ``key IS NULL OR key
    NOT IN (...)``: a bare ``NOT IN`` is never true for a NULL key, so
    the NULL-key row already in the table would vanish from its
    rewritten bucket on both a literal upsert and a literal delete."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        _is_literal_plan,
        literal_frame,
        spark_bucket,
    )

    n = 16
    k = _null_bucket_key(n)
    t = PartitionedUpsertTable(spark, str(tmp_path / "nk"), "_id", n)
    t.init(spark.createDataFrame(
        [(None, "nullrow"), (k, "old"), (1, "a")], "_id bigint, v string"
    ))
    batch = literal_frame(spark, [(k, "new"), (2, "b")], "_id bigint, v string")
    assert _is_literal_plan(batch)
    assert spark_bucket(None, n) in t.upsert(batch)
    rows = {r["_id"]: r["v"] for r in t.read().collect()}
    assert rows == {None: "nullrow", k: "new", 1: "a", 2: "b"}
    assert spark_bucket(None, n) in t.delete_keys(
        literal_frame(spark, [(k,)], "_id bigint")
    )
    rows = {r["_id"]: r["v"] for r in t.read().collect()}
    assert rows == {None: "nullrow", 1: "a", 2: "b"}


def test_literal_upsert_collapses_duplicate_keys(spark, tmp_path):
    """Duplicate keys in a literal batch still collapse to one row (the
    ``dropDuplicates`` is skipped only when the collected keys are
    unique)."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
    )

    t = PartitionedUpsertTable(spark, str(tmp_path / "dup"), "_id", 16)
    t.init(spark.createDataFrame([(5, "old"), (6, "keep")], "_id bigint, v string"))
    t.upsert(literal_frame(
        spark, [(5, "a"), (5, "b"), (7, "c"), (7, "c")], "_id bigint, v string"
    ))
    rows = [(r["_id"], r["v"]) for r in t.read().collect()]
    assert sorted(r[0] for r in rows) == [5, 6, 7]
    got = dict(rows)
    assert got[5] in ("a", "b") and got[6] == "keep" and got[7] == "c"


def test_literal_commit_string_keys_with_quotes_and_backslashes(spark, tmp_path):
    """String keys holding ``'`` and ``\\`` reach the key predicate
    quoted the way literal_frame quotes them: upsert replaces exactly
    those rows and delete removes exactly them."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
    )

    keys = ["a'b", "c\\d", "e\\'f", "plain"]
    t = PartitionedUpsertTable(spark, str(tmp_path / "sk"), "k", 16)
    t.init(spark.createDataFrame([(k, 0) for k in keys], "k string, v bigint"))
    t.upsert(literal_frame(spark, [(k, 1) for k in keys[:3]], "k string, v bigint"))
    rows = [(r["k"], r["v"]) for r in t.read().collect()]
    assert sorted(rows) == sorted([(k, 1) for k in keys[:3]] + [("plain", 0)])
    t.delete_keys(literal_frame(spark, [(keys[0],), (keys[2],)], "k string"))
    assert sorted(r["k"] for r in t.read().collect()) == sorted([keys[1], "plain"])


def test_literal_partial_column_upsert_keeps_unlisted_fields(spark, tmp_path):
    """A literal batch with ``update_cols`` rewrites only the listed
    columns of existing keys; new keys get NULL in the unlisted ones."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
    )

    schema = "_id bigint, a string, b bigint"
    t = PartitionedUpsertTable(spark, str(tmp_path / "pc"), "_id", 16)
    t.init(spark.createDataFrame([(1, "x", 10), (2, "y", 20)], schema))
    t.upsert(literal_frame(spark, [(1, "X", None), (3, "Z", None)], schema),
             update_cols=["_id", "a"])
    rows = {r["_id"]: (r["a"], r["b"]) for r in t.read().collect()}
    assert rows == {1: ("X", 10), 2: ("y", 20), 3: ("Z", None)}


def test_literal_and_distributed_batches_leave_identical_tables(spark, tmp_path):
    """The literal commit (key predicate, no dedupe) and the distributed
    one (broadcast anti join after ``dropDuplicates``) are the same
    upsert and delete: identical rows, identical bucket sets."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        _is_literal_plan,
        literal_frame,
    )

    schema = "_id bigint, v string"
    k = _null_bucket_key(16)
    base = [(i, f"v{i}") for i in range(0, 300, 3)] + [(None, "n")]
    batch = [(i, f"w{i}") for i in range(0, 400, 7)] + [(k, "nb")]
    dead = [(i,) for i in range(0, 120, 9)]
    out = []
    for name, make in (
        ("lit", lambda rows, sch: literal_frame(spark, rows, sch)),
        ("dist", lambda rows, sch: spark.createDataFrame(rows, sch)),
    ):
        t = PartitionedUpsertTable(spark, str(tmp_path / name), "_id", 16)
        t.init(spark.createDataFrame(base, schema))
        b = make(batch, schema)
        assert _is_literal_plan(b) == (name == "lit")
        touched = t.upsert(b)
        touched_del = t.delete_keys(make(dead, "_id bigint"))
        rows = sorted(((r["_id"] is None, r["_id"] or 0), r["v"])
                      for r in t.read().collect())
        out.append((touched, touched_del, sorted(t._load_manifest()["buckets"]), rows))
    assert out[0] == out[1]


def test_literal_upsert_small_table_two_jobs_one_data_file(
    spark, tmp_path, jobs_run_by
):
    """A 200-row literal upsert into a small 16-bucket table commits in
    at most two Spark jobs (the staging shuffle's map stage and the
    write) and writes exactly ONE data file, which every bucket points
    at: the commit writes its touched buckets into the fewest files
    their size needs, not one file per bucket."""
    import glob
    import os

    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
    )

    t = PartitionedUpsertTable(spark, str(tmp_path / "w"), "_id", 16)
    t.init(spark.range(1000).selectExpr("id AS _id", "CAST(id AS string) AS v"))
    batch = literal_frame(
        spark, [(i * 7, f"n{i}") for i in range(200)], "_id bigint, v string"
    )
    touched = []
    jobs = jobs_run_by(lambda: touched.extend(t.upsert(batch)))
    assert jobs <= 2, jobs
    assert len(touched) == 16
    gens = set(t._load_manifest()["buckets"].values())
    assert len(gens) == 1, gens
    written = glob.glob(os.path.join(t.path, gens.pop(), "*.parquet"))
    assert len(written) == 1, written
    assert all(t.bucket_files(b) == written for b in touched)
    assert t.read().count() == 1000 + sum(1 for i in range(200) if i * 7 >= 1000)


def _parent_layout_table(spark, path: str, rows: list, schema: str, n: int):
    """A table committed in the earlier layout: one ``__bucket=N``
    directory per bucket under its generation, and a manifest without
    written-bucket counts."""
    import json
    import os

    df = spark.createDataFrame(rows, schema)
    b = df.withColumn("__bucket", F.pmod(F.xxhash64(F.col("_id")), F.lit(n)))
    gen = "g_0123456789ab"
    b.repartition(n, "__bucket").write.partitionBy("__bucket").parquet(
        os.path.join(path, gen)
    )
    staged = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(path, gen))
        if d.startswith("__bucket=")
    )
    man = {"version": 1, "key": "_id", "n_buckets": n,
           "schema": b.schema.json(), "buckets": {str(x): gen for x in staged}}
    with open(os.path.join(path, "MANIFEST.json"), "w") as f:
        json.dump(man, f)


def test_earlier_layout_table_reads_and_commits(spark, tmp_path):
    """A table committed in the ``__bucket=N`` directory layout reads,
    upserts (literal and distributed) and deletes through the one
    reader and write path, and ends with the same rows and ``__bucket``
    values as a table built fresh from the same operations."""
    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
    )

    schema = "_id bigint, v string"
    base = [(i, f"v{i}") for i in range(60)]
    _parent_layout_table(spark, str(tmp_path / "old"), base, schema, 16)
    old = PartitionedUpsertTable(spark, str(tmp_path / "old")).load()
    new = PartitionedUpsertTable(spark, str(tmp_path / "new"), "_id", 16)
    new.init(spark.createDataFrame(base, schema))

    def state(t):
        return sorted((r["_id"], r["v"], r["__bucket"])
                      for r in t._read_raw().collect())

    assert state(old) == state(new)
    for t in (old, new):
        t.upsert(literal_frame(spark, [(3, "a"), (100, "b")], schema))
        t.upsert(spark.createDataFrame([(5, "c"), (7, "d")], schema))
        t.delete_keys(literal_frame(spark, [(11,), (12,)], "_id bigint"))
    assert state(old) == state(new)
    got = {r["_id"]: r["v"] for r in old.read().collect()}
    assert got[3] == "a" and got[100] == "b" and got[5] == "c"
    assert 11 not in got and 12 not in got and len(got) == 59


def test_generations_keep_half_their_buckets(spark, tmp_path):
    """Space bound: after every commit of a run of small upserts and
    deletes, each live generation still has at least half the buckets
    it was written with (a commit that would leave fewer folds the rest
    in), only live generations remain on disk, and the rows equal a
    last-write-wins model of the run. Over the run, buckets rewritten
    stay within twice the buckets touched (a fold moves fewer buckets
    than the commits that emptied its generation touched)."""
    import os
    import random

    from featurebase_spark.operators.writes import (
        PartitionedUpsertTable,
        literal_frame,
        spark_bucket,
    )

    n = 16
    t = PartitionedUpsertTable(spark, str(tmp_path / "sb"), "_id", n)
    model = {i: f"v{i}" for i in range(64)}
    t.init(spark.createDataFrame(sorted(model.items()), "_id bigint, v string"))
    rnd = random.Random(7)
    folds = n_touched = n_rewritten = 0
    for step in range(14):
        keys = rnd.sample(range(96), rnd.randint(1, 3))
        if step % 4 == 3:
            rewritten = t.delete_keys(
                literal_frame(spark, [(k,) for k in keys], "_id bigint"))
            for k in keys:
                model.pop(k, None)
        else:
            rewritten = t.upsert(literal_frame(
                spark, [(k, f"s{step}") for k in keys], "_id bigint, v string"))
            model.update({k: f"s{step}" for k in keys})
        touched = {spark_bucket(k, n) for k in keys}
        assert touched <= set(rewritten)
        folds += len(rewritten) > len(touched)
        n_touched += len(touched)
        n_rewritten += len(rewritten)
        man = t._load_manifest()
        live = {}
        for g in man["buckets"].values():
            live[g] = live.get(g, 0) + 1
        for g, k in live.items():
            assert 2 * k >= man["gens"][g], (step, g, k, man["gens"][g])
        on_disk = {d for d in os.listdir(t.path) if d.startswith("g_")}
        assert on_disk == set(live), step
        got = {r["_id"]: r["v"] for r in t.read().collect()}
        assert got == model, step
    assert folds > 0
    assert n_rewritten <= 2 * n_touched, (n_rewritten, n_touched)


def test_large_init_packs_each_bucket_into_one_file(spark, tmp_path):
    """A distributed init of a frame large enough to span several
    shuffle partitions writes at most min(buckets, shuffle partitions)
    data files; each bucket's rows sit in exactly one of them, sorted
    by ``__bucket`` within the file."""
    import glob
    import os

    import pyarrow.parquet as pq

    from featurebase_spark.operators.writes import PartitionedUpsertTable

    t = PartitionedUpsertTable(spark, str(tmp_path / "big"), "_id", 16)
    t.init(spark.range(200_000).selectExpr(
        "id AS _id", "sha2(CAST(id AS string), 256) AS v"))
    gen = t._load_manifest()["buckets"]["0"]
    files = glob.glob(os.path.join(t.path, gen, "*.parquet"))
    cap = min(16, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert 1 <= len(files) <= cap, files
    owner = {}
    for f in files:
        col = pq.read_table(f, columns=["__bucket"]).column(0).to_pylist()
        assert col == sorted(col), f
        for b in set(col):
            assert b not in owner, (b, owner.get(b), f)
            owner[b] = f
    assert sorted(owner) == list(range(16))
    assert t.read().count() == 200_000


def test_literal_frame_roundtrips_hostile_payloads(spark):
    """r7 ADVICE high #1: Spark's parser honors backslash escapes in
    string literals, so un-doubled backslashes silently corrupt spool
    payloads ('C:\\temp\\new' became 'C:<TAB>emp<LF>ew'); repr(nan/inf)
    are not valid SQL. literal_frame must round-trip all of them."""
    import math

    from featurebase_spark.operators.writes import literal_frame

    rows = [
        (1, "C:\\temp\\new", 1.5),
        (2, "line1\nline2\ttab", float("nan")),
        (3, "quote ' and \\' mix", float("inf")),
        (4, "regex \\d+ \\Q\\E", float("-inf")),
        (5, None, -2.5),
    ]
    df = literal_frame(spark, rows, "id long, s string, x double")
    got = {r["id"]: (r["s"], r["x"]) for r in df.collect()}
    for i, s, x in rows:
        gs, gx = got[i]
        assert gs == s, (gs, s)
        if math.isnan(x):
            assert math.isnan(gx)
        else:
            assert gx == x
    # Spark normalizes a -0.0 literal to 0.0 (SQL equality semantics);
    # the VALUES path must at least not error and must stay == 0.0
    z = literal_frame(spark, [(1, -0.0)], "id long, x double").first()["x"]
    assert z == 0.0


# ---------------------------------------------------------------------------
# TEXT (trigram) indexes — CREATE TEXT INDEX / like_search / staleness
# ---------------------------------------------------------------------------


def test_text_index_lifecycle(spark):
    from featurebase_spark.statements import execute_statement

    cat = Catalog(spark)
    td = TableDef(
        "t_txt", [FieldDef("body", "string"), FieldDef("n", "int")]
    )
    cat.create_table(td)
    rows = spark.createDataFrame(
        [
            (1, "the big vector table", 1),
            (2, "small batch merge", 2),
            (3, "vector big", 3),
            (4, None, 4),
        ],
        spark.table("t_txt").schema,
    )
    cat.insert("t_txt", rows)
    execute_statement(spark, "CREATE TEXT INDEX ON t_txt (body)", catalog=cat)
    got = sorted(
        r["_id"] for r in cat.like_search("t_txt", "body", "big vector").collect()
    )
    assert got == [1]
    # SHOW INDEXES reports the trigram kind
    kinds = {
        (r["field"], r["kind"]) for r in cat.fb_indexes("t_txt").collect()
    }
    assert ("body", "trigram") in kinds
    # a write marks the index stale; the next probe sees the new row
    more = spark.createDataFrame(
        [(5, "another big vector here", 5)], spark.table("t_txt").schema
    )
    cat.insert("t_txt", more)
    got = sorted(
        r["_id"] for r in cat.like_search("t_txt", "body", "big vector").collect()
    )
    assert got == [1, 5]
    # DROP INDEX removes it; probes error
    cat.drop_index("t_txt", ["body"])
    with pytest.raises(ValueError, match="no text index"):
        cat.like_search("t_txt", "body", "big vector")
    cat.drop_table("t_txt")


def test_text_index_errors(spark):
    cat = Catalog(spark)
    td = TableDef("t_txt2", [FieldDef("body", "string"), FieldDef("n", "int")])
    cat.create_table(td)
    with pytest.raises(ValueError, match="cannot carry a text index"):
        cat.create_text_index("t_txt2", "n")
    with pytest.raises(ValueError, match="column 'nope' not found"):
        cat.create_text_index("t_txt2", "nope")
    cat.create_text_index("t_txt2", "body")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_text_index("t_txt2", "body")
    cat.drop_table("t_txt2")
