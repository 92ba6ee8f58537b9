"""FeatureBase write semantics as DataFrame transformations.

The reference mutates roaring bitmaps in place under per-shard ACID
transactions (executeSet executor.go:6194-6353, RBF tx rbf/db.go). On
Spark, tables are immutable datasets: every write op here is a pure
``DataFrame -> DataFrame`` transformation suitable for a copy-on-write
table format. With Delta/Iceberg on the classpath these become real
``MERGE``/``DELETE``; without them (this container) the same logic runs as
anti-join + union — identical semantics, full-file rewrite cost, which is
exactly what a 100 TB deployment would avoid by using Delta. The seam is
:func:`merge_upsert`, so swapping in `DeltaTable.merge` is a one-function
change.

Null-handling note: ``Set`` on a mutex/int field REPLACES the old value
(last-write-wins, field.go:352-366); on a set field it UNIONS
(one-bitmap-per-value, a bit-set is additive).
"""

from __future__ import annotations

import math
import os
import uuid
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F


# --------------------------------------------------------------------------
# Driver-side replica of Spark's xxhash64 (XXH64, seed 42) — lets a
# literal statement batch compute its touched buckets on the driver, the
# way the reference's coordinator computes shard = id / ShardWidth
# without consulting the cluster. Exactness is test-enforced against
# F.xxhash64 (tests/test_writes_ddl.py).
# --------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64(bigint)`` (XXH64.hashLong): the 8-byte word
    form, bit-exact."""
    value &= _M64
    h = (seed + _XXP5 + 8) & _M64
    h ^= (_rotl64((value * _XXP2) & _M64, 31) * _XXP1) & _M64
    h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
    return _xx_fmix(h)


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64(string)`` over the UTF-8 bytes (XXH64
    hashUnsafeBytes), bit-exact for any length."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            w1 = int.from_bytes(data[i : i + 8], "little")
            w2 = int.from_bytes(data[i + 8 : i + 16], "little")
            w3 = int.from_bytes(data[i + 16 : i + 24], "little")
            w4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v1 = (_rotl64((v1 + w1 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v2 = (_rotl64((v2 + w2 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v3 = (_rotl64((v3 + w3 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v4 = (_rotl64((v4 + w4 * _XXP2) & _M64, 31) * _XXP1) & _M64
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h * _XXP1) + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        w = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64((w * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        w = int.from_bytes(data[i : i + 4], "little")
        h ^= (w * _XXP1) & _M64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        i += 1
    return _xx_fmix(h)


def _is_literal_plan(df: DataFrame) -> bool:
    """True when the frame constant-folds to a LocalRelation (a VALUES
    literal from the statement door) — its collect runs entirely on the
    driver, so driver-side bucket routing is free. ``df.isLocal()`` is
    too strict (it inspects the pre-optimization plan)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() == "LocalRelation"
    except Exception:  # pragma: no cover — connect-mode or analysis error
        return False


def sql_literal(v) -> str:
    """``v`` as a Spark SQL literal — the quoting every driver-built
    statement-door plan shares (:func:`literal_frame`'s VALUES rows, the
    literal-batch key filter of :class:`PartitionedUpsertTable`).
    Supported: None/bool/int/float/str."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr(nan)/repr(inf) are not valid SQL literals; Spark spells
        # non-finite doubles as quoted casts.
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        # Spark's default parser honors backslash escapes inside string
        # literals (spark.sql.parser.escapedStringLiterals=false), so a
        # bare backslash must be doubled or 'C:\temp' silently becomes
        # 'C:<TAB>emp' on commit (spool payloads carry paths/regexes).
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    raise TypeError(f"sql_literal cannot quote {type(v).__name__}")


def literal_frame(spark, rows: list, schema) -> DataFrame:
    """Build a small batch as a VALUES-backed LocalRelation instead of
    ``createDataFrame`` (which routes through an RDD scan in classic
    PySpark, so the frame is NOT a literal plan: driver-side bucket
    routing and the empty-init fast path both miss, costing a Spark job
    per probe). Values are SQL-quoted driver-side; supported cell types
    are None/bool/int/float/str — the statement-door batch shapes."""
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    casts = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(st.fields)
    )
    if not rows:
        nulls = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in st.fields
        )
        return spark.sql(f"SELECT {nulls} WHERE 1=0")

    vals = ", ".join(
        "(" + ", ".join(sql_literal(c) for c in r) + ")" for r in rows
    )
    names = ", ".join(f"c{i}" for i in range(len(st.fields)))
    return spark.sql(f"SELECT {casts} FROM (VALUES {vals}) AS t({names})")


def spark_bucket(key, n_buckets: int) -> int:
    """pmod(xxhash64(key), n) for a long or string key — the bucket id
    :meth:`PartitionedUpsertTable._bucketed` assigns, computed driver-side.
    ``None`` follows Spark's hash semantics: a NULL input leaves the
    xxhash64 accumulator at its seed (42), so NULL keys land in bucket
    ``42 % n`` — the same bucket the distributed path stages them into."""
    if key is None:
        h = 42
    elif isinstance(key, str):
        h = xxhash64_bytes(key.encode("utf-8"))
    else:
        h = xxhash64_long(int(key))
    if h >= 1 << 63:  # Spark's value is a SIGNED long
        h -= 1 << 64
    return h % n_buckets  # Python % is pmod for positive modulus


def materialize_view(df: DataFrame, name: str, base_path: str) -> DataFrame:
    """Commit ``df`` as the new contents of temp view ``name`` via a
    distributed parquet write to a fresh generation directory — the
    copy-on-write commit step of the temp-view table model. Never moves
    rows through the driver: the write is executor-parallel and the view
    re-registers over the written files. (With Delta/Iceberg this whole
    helper is replaced by a transactional MERGE/overwrite.)

    A NEW generation dir — not overwrite-in-place — because ``df`` usually
    derives from the current view: overwriting files that the plan is
    about to read would race. Old generations stay until
    :func:`vacuum_generations`; at scale the swap is a catalog pointer
    flip and old data files get vacuumed asynchronously, exactly Delta's
    commit model."""
    from featurebase_spark.schema import spark_view_name

    spark = df.sparkSession
    path = os.path.join(base_path, name, uuid.uuid4().hex[:12])
    df.write.mode("overwrite").parquet(path)
    out = spark.read.schema(df.schema).parquet(path)
    out.createOrReplaceTempView(spark_view_name(name))
    return out


class PartitionedUpsertTable:
    """Hash-bucket-partitioned upsert storage: per-batch cost is
    O(touched buckets), not O(table) — the 100 TB shape of the
    reference's ingest, which only rewrites the fragments of shards a
    batch touches (batch/batch.go builds per-shard fragments; import
    merges per shard).

    Layout (crash-atomic, manifest-pointer commit — the file-system form
    of RBF's per-shard ACID commit, rbf/rbf.go + tx.go)::

        path/MANIFEST.json              <- THE commit point (atomic replace)
        path/g_<gen>/part-*.parquet     <- rows of the buckets written in
                                           <gen>, ``__bucket`` a column

    Buckets are the unit of routing and of the commit contract; files
    are not. A commit writes the buckets it touches into the fewest
    files their size needs (AQE coalesces the staging shuffle, so a
    small commit writes one file, the way a reference import of a
    one-shard table writes one fragment). The manifest maps each bucket
    to the generation holding its current rows and records how many
    buckets each generation was written with. Every write stages a NEW
    generation dir (never touching live files), then atomically replaces
    the ONE manifest file; a crash at ANY point before the replace
    leaves readers on the old, fully consistent generation set. A
    generation no bucket points at any more is vacuumed best-effort after
    commit (Delta's retention-window analogue; single-writer assumed, as
    with any file-system table format without a lock service).

    A live generation can still hold rows of buckets later commits
    replaced; readers filter them out by ``__bucket``. Space stays
    bounded: a commit that would leave a generation with fewer than half
    the buckets it was written with folds that generation's remaining
    buckets into itself (rewritten unchanged), so stored rows stay within
    about twice the live ones, and over any run of commits the buckets
    rewritten stay within twice the buckets touched (a fold moves fewer
    buckets than the commits that emptied its generation touched).

    Bucket pruning happens at the MANIFEST level: a touched-bucket read
    opens only the generations those buckets point at, filtered to them
    (row-group statistics on the ``__bucket``-sorted files skip the
    rest). Generation directories in the earlier ``__bucket=N`` layout
    read through the same path (Spark discovers the partition column).
    With Delta this whole class is ``MERGE`` + Z-order; the seam is
    :meth:`upsert`.
    """

    MANIFEST = "MANIFEST.json"

    def __init__(self, spark, path: str, key: str = "_id", buckets: int = 64):
        self.spark = spark
        self.path = path
        self.key = key
        self.buckets = buckets
        self.schema = None  # pinned on init()/load(); empty tables read back
        #: generation -> its unfiltered frame: a generation's files never
        #: change, so the file listing spark.read.parquet paid for is
        #: reused by every later read until the generation is vacuumed
        self._frames: dict[str, DataFrame] = {}

    # -- manifest (the generation pointer)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def exists(self) -> bool:
        """True iff committed storage exists at ``path`` — the resume
        check a restarted stream uses instead of re-materializing (and
        silently truncating) the table."""
        return os.path.isfile(self._manifest_path())

    def load(self) -> "PartitionedUpsertTable":
        """Attach to existing committed storage: restore key/buckets/schema
        from the manifest (stream-restart resume)."""
        import json

        from pyspark.sql.types import StructType

        man = self._load_manifest()
        self.key = man["key"]
        self.buckets = int(man["n_buckets"])
        self.schema = StructType.fromJson(json.loads(man["schema"]))
        return self

    def _load_manifest(self) -> dict:
        """The committed manifest. A generation the manifest has no
        written-bucket count for (tables committed before the count was
        recorded, one ``__bucket=N`` directory per bucket, stale ones
        vacuumed) counts the buckets pointing at it."""
        import json
        from collections import Counter

        with open(self._manifest_path()) as f:
            man = json.load(f)
        gens = man.setdefault("gens", {})
        for g, n in Counter(man["buckets"].values()).items():
            gens.setdefault(g, n)
        return man

    def _swap_manifest(self, man: dict) -> None:
        """Atomically publish a new manifest: write-aside + fsync +
        ``os.replace`` — the single commit point of every write."""
        import json

        tmp = self._manifest_path() + ".tmp." + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    def bucket_files(self, b: int) -> list[str]:
        """Data files of the generation bucket ``b`` points at (empty if
        no generation holds it). They also hold other buckets' rows; a
        commit that does not rewrite ``b`` leaves them byte-identical."""
        import glob

        gen = self._load_manifest()["buckets"].get(str(b))
        if gen is None:
            return []
        return sorted(glob.glob(os.path.join(self.path, gen, "**", "*.parquet"),
                                recursive=True))

    def _vacuum(self, man: dict) -> None:
        """Best-effort removal of generation dirs no bucket of the
        committed manifest points at. Failure is harmless — orphans are
        re-collected on the next commit."""
        import shutil

        live = set(man["buckets"].values())
        for entry in os.listdir(self.path):
            p = os.path.join(self.path, entry)
            if entry.startswith("g_") and entry not in live and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        for g in [g for g in self._frames if g not in live]:
            del self._frames[g]

    # -- data plane

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.buckets))
        )

    def _touched(
        self, batch: DataFrame, rows: list | None = None
    ) -> tuple[list[int], list | None]:
        """Bucket ids a batch's keys hash into, and the batch's keys when
        they were collected. A LITERAL batch (the statement-door and
        ``consume_spool`` shape: a LocalRelation, whose collect needs no
        executors) with a long/string key collects its keys ONCE — or
        takes them from ``rows``, the batch already collected by the
        caller — and routes on the DRIVER via the bit-exact
        :func:`spark_bucket` replica — the reference coordinator's
        ``shard = id / ShardWidth`` arithmetic, saving the
        distinct+exchange job a plan-side computation costs;
        :meth:`upsert` and :meth:`delete_keys` reuse the key list to
        filter the replaced rows without a join. Distributed batches keep
        the aggregation and return ``None`` for the keys (keys may be
        billions; never collected)."""
        dtype = dict(batch.dtypes).get(self.key)
        if dtype in ("bigint", "string") and (
            rows is not None or _is_literal_plan(batch)
        ):
            if rows is None:
                rows = batch.select(self.key).collect()
            # NULL keys included: _bucketed stages them into bucket
            # pmod(xxhash64(NULL)=seed 42, n), so the driver-computed set
            # must cover that bucket too or the staged rows would never
            # be repointed by the manifest commit (silent row drop).
            keys = [r[self.key] for r in rows]
            touched = sorted({spark_bucket(k, self.buckets) for k in set(keys)})
            return touched, keys
        b = self._bucketed(batch.dropDuplicates([self.key]))
        return [int(r[0]) for r in b.select("__bucket").distinct().collect()], None

    def _without_keys(
        self, current: DataFrame, batch: DataFrame, keys: list | None
    ) -> DataFrame:
        """``current`` minus the rows whose key occurs in ``batch``.
        A distributed batch (``keys`` None) takes a broadcast left anti
        join. A literal batch passes the keys :meth:`_touched` collected
        and takes ONE SQL predicate built as a single expression string
        (a per-key ``Column.isin`` costs a py4j round trip per key). The
        predicate is null-safe like the join: NULL is left out of the
        list (``NOT IN`` over a list holding NULL is never true, which
        would drop every row) and NULL-key rows are kept (NULL never
        equals a key)."""
        if keys is None:
            return current.join(
                F.broadcast(batch.select(self.key)), self.key, "left_anti"
            )
        lits = [sql_literal(k) for k in set(keys) if k is not None]
        if not lits:
            return current
        k = f"`{self.key}`"
        return current.where(F.expr(f"{k} IS NULL OR {k} NOT IN ({', '.join(lits)})"))

    def _write_generation(self, bucketed: DataFrame) -> str:
        """Stage ``bucketed`` as a new generation dir; returns its name.
        Rows hash-place on ``__bucket`` through a shuffle of the session's
        shuffle-partition count, which AQE coalesces to the data's size:
        a small commit writes ONE file, a large one at most
        min(touched buckets, shuffle partitions), and hash partitioning
        still puts each bucket in exactly one file. Each file is sorted
        by ``__bucket``, so at scale row-group statistics let a reader's
        ``__bucket`` filter skip other buckets' rows. (One file per
        bucket cost a file, a checksum and a task per touched bucket:
        16 files per 200-row commit whatever the table's size.)"""
        gen = "g_" + uuid.uuid4().hex[:12]
        (
            bucketed.repartition("__bucket")
            .sortWithinPartitions("__bucket")
            .write.mode("overwrite")
            .parquet(os.path.join(self.path, gen))
        )
        return gen

    def init(self, df: DataFrame) -> None:
        """Initial (full) load: one generation every bucket points at.
        Works for EMPTY frames too — the schema is pinned (in memory and
        in the manifest) so later reads/upserts do not depend on file
        inference. The write is :meth:`_write_generation`'s, sized by
        AQE to the load."""
        bucketed = self._bucketed(df)
        self.schema = bucketed.schema
        os.makedirs(self.path, exist_ok=True)
        man = {
            "version": 1,
            "key": self.key,
            "n_buckets": self.buckets,
            "schema": self.schema.json(),
            "buckets": {},
            "gens": {},
        }
        if _is_literal_plan(df) and not df.take(1):
            # empty CREATE TABLE init: the manifest alone pins the
            # schema — skip the 0-row generation write job entirely
            # (a shuffle + commit costs ~0.5s per statement for nothing)
            self._swap_manifest(man)
            return
        gen = self._write_generation(bucketed)
        man["buckets"] = {str(b): gen for b in range(self.buckets)}
        man["gens"] = {gen: self.buckets}
        self._swap_manifest(man)
        self._vacuum(man)

    def _gen_frame(self, gen: str, sel: list[int], written: int) -> DataFrame:
        """One generation's rows of the buckets ``sel``: the whole dir,
        filtered by ``__bucket`` only when the generation holds buckets
        outside ``sel``."""
        out = self._frames.get(gen)
        if out is None:
            out = self.spark.read.schema(self.schema).parquet(
                os.path.join(self.path, gen)
            )
            self._frames[gen] = out
        if len(sel) < written:
            out = out.where(F.expr(f"__bucket IN ({', '.join(map(str, sel))})"))
        return out

    def _read_raw(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Read the committed table (optionally only the given buckets)
        by resolving bucket→generation through the manifest: one read
        per live generation, generations holding none of the buckets
        never opened."""
        import json

        from pyspark.sql.types import StructType

        man = self._load_manifest()
        if self.schema is None:
            self.schema = StructType.fromJson(json.loads(man["schema"]))
        want = None if buckets is None else {int(b) for b in buckets}
        by_gen: dict[str, list[int]] = {}
        for b, g in man["buckets"].items():
            if want is None or int(b) in want:
                by_gen.setdefault(g, []).append(int(b))
        frames = [
            self._gen_frame(g, sorted(by_gen[g]), man["gens"][g])
            for g in sorted(by_gen)
        ]
        if not frames:
            # LocalRelation, not createDataFrame([], schema) — the latter
            # schedules a defaultParallelism-task empty RDD scan per read
            cols = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in self.schema.fields
            )
            return self.spark.sql(f"SELECT {cols} WHERE 1=0")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def read(self) -> DataFrame:
        return self._read_raw().drop("__bucket")

    def _rewritten(self, touched: list[int]) -> list[int]:
        """The buckets a commit touching ``touched`` rewrites: those,
        plus the remaining buckets of every generation the commit would
        leave with fewer than half the buckets it was written with
        (folded in unchanged, so that generation can be vacuumed)."""
        man = self._load_manifest()
        rest: dict[str, list[int]] = {}
        t = set(touched)
        for b, g in man["buckets"].items():
            if int(b) not in t:
                rest.setdefault(g, []).append(int(b))
        for g, bs in rest.items():
            if 2 * len(bs) < man["gens"][g]:
                t.update(bs)
        return sorted(t)

    def upsert(
        self,
        updates: DataFrame,
        update_cols: Sequence[str] | None = None,
        rows: list | None = None,
    ) -> list[int]:
        """Upsert-by-key a batch; returns the bucket ids rewritten.
        Duplicate keys within the batch collapse last-write-wins by
        ``dropDuplicates`` order (pass pre-deduped batches for a
        deterministic winner, as bulk_upsert_last_write_wins does).
        ``update_cols`` as in :func:`merge_upsert` (partial-column INSERT
        keeps unlisted fields of existing rows). ``rows``: the batch's
        rows when the caller already collected them (a literal batch).

        A literal batch (see :meth:`_touched`) skips ``dropDuplicates``
        when its collected keys are already unique and drops the replaced
        rows with a key predicate (:meth:`_without_keys`), so the commit
        is two Spark jobs: the staging shuffle's map stage and the write.
        A distributed batch dedupes and takes a broadcast anti join.

        Commit is copy-on-write + manifest swap: the merged buckets
        (touched, plus any folded in by :meth:`_rewritten`) stage into a
        fresh generation dir — the job reads the old files while writing,
        no in-place overwrite race — then ONE atomic manifest replace
        points them at the new generation. A crash anywhere before the
        replace leaves readers on the old, fully consistent state."""
        touched, keys = self._touched(updates, rows)
        if keys is None or len(set(keys)) < len(keys):
            updates = updates.dropDuplicates([self.key])
        rewrite = self._rewritten(touched)
        current = self._read_raw(rewrite)  # manifest-level pruned read
        if update_cols is not None:
            merged_up = merge_upsert(current.drop("__bucket"), updates,
                                     self.key, update_cols)
            # merge_upsert already unioned kept+updates over touched buckets
            merged = self._bucketed(merged_up)
        else:
            kept = self._without_keys(current, updates, keys)
            merged = kept.unionByName(self._bucketed(updates))
        return self._commit(merged, rewrite)

    def delete_keys(self, keys: DataFrame, rows: list | None = None) -> list[int]:
        """Delete whole records by key — reads and rewrites ONLY the
        buckets the deleted keys hash into (the per-shard delete of
        executeDeleteRecords, executor.go:9050-9320), plus any folded in
        by :meth:`_rewritten`. The deleted keys' rows are dropped as in
        :meth:`upsert` (:meth:`_without_keys`); ``rows`` as there."""
        touched, collected = self._touched(keys, rows)
        if collected is None:
            keys = keys.select(self.key).dropDuplicates([self.key])
        rewrite = self._rewritten(touched)
        kept = self._without_keys(self._read_raw(rewrite), keys, collected)
        return self._commit(kept, rewrite)

    def _commit(self, merged: DataFrame, rewrite: list[int]) -> list[int]:
        """Stage the merged buckets ``rewrite`` as a new generation, then
        commit by atomic manifest replace (see :meth:`upsert`). EVERY
        bucket in ``rewrite`` points at the new generation, literal and
        distributed batches alike: a bucket whose rows all died points at
        a generation holding none of its rows, so it reads as empty."""
        if not rewrite:
            return []
        gen = self._write_generation(merged)
        man = self._load_manifest()
        for b in rewrite:
            man["buckets"][str(b)] = gen
        live = set(man["buckets"].values())
        man["gens"] = {g: n for g, n in man["gens"].items() if g in live}
        man["gens"][gen] = len(rewrite)
        man["version"] = int(man.get("version", 0)) + 1
        self._swap_manifest(man)  # the single atomic commit point
        self._vacuum(man)
        return rewrite


def vacuum_generations(base_path: str, name: str, keep: str) -> None:
    """Delete all generation dirs of ``name`` except ``keep`` (basename)."""
    import shutil

    root = os.path.join(base_path, name)
    if not os.path.isdir(root):
        return
    for gen in os.listdir(root):
        if gen != keep:
            shutil.rmtree(os.path.join(root, gen), ignore_errors=True)


def merge_upsert(
    table: DataFrame,
    updates: DataFrame,
    key: str = "_id",
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """INSERT-as-upsert on the record key (reference PlanOpInsert
    opinsert.go:16-453: INSERT with an existing ``_id`` overwrites — PQL
    ``Set`` semantics). Rows in ``updates`` replace same-key rows in
    ``table``; new keys append.

    ``update_cols``: the columns the INSERT actually listed. The reference
    imports ONLY those fields (opinsert.go builds its field list from
    targetColumns), so an upsert of an existing ``_id`` leaves UNLISTED
    fields untouched — here a column-wise merge pulls the unlisted columns
    of matched keys from the existing row (new keys keep their typed
    NULLs). ``None`` = all columns listed (whole-row replace).

    Plan (partial-column case): ONE scan of the table LEFT-joined with
    the broadcast batch produces kept rows AND in-place-updated matched
    rows together; new keys come from an anti-join against the matched
    key set (a table-derived frame bounded by |updates| — always
    broadcastable). The table itself never moves — every join broadcasts
    batch-sized frames, the scale shape of the reference's per-shard
    import merge. With Delta: ``MERGE WHEN MATCHED UPDATE SET <listed>
    WHEN NOT MATCHED INSERT *``."""
    all_cols = [c for c, _ in table.dtypes]
    if update_cols is not None:
        listed = set(update_cols) | {key}
        if set(all_cols) - listed:
            u = updates.select(
                F.col(key),
                *[
                    F.col(c).alias(f"__u_{c}")
                    for c in all_cols
                    if c != key and c in listed
                ],
                F.lit(True).alias("__m"),
            )
            hit = F.coalesce(F.col("__m"), F.lit(False))
            ex = table.join(F.broadcast(u), key, "left").select(
                *[
                    (
                        F.when(hit, F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
                        if c != key and c in listed
                        else F.col(c)
                    )
                    for c in all_cols
                ]
            )
            # semi-join against the SAME broadcast frame the merge join
            # uses: identical broadcast exchanges dedupe to one build
            # (ReusedExchange) — one fewer broadcast job per
            # partial-column statement (r14, guide §2.4)
            matched = table.join(F.broadcast(u), key, "left_semi").select(key)
            new_rows = updates.select(*all_cols).join(
                F.broadcast(matched), key, "left_anti"
            )
            return ex.unionByName(new_rows)
    kept = table.join(F.broadcast(updates.select(key)), key, "left_anti")
    return kept.unionByName(updates, allowMissingColumns=False)


def _is_quantum(table: DataFrame, field: str) -> bool:
    return dict(table.dtypes)[field].startswith("array<struct<")


def clear_changed(
    table: DataFrame, record_id, field: str, value, id_col: str = "_id",
    bsi: bool = False,
) -> bool:
    """The reference's coordinator-visible ``Clear()`` result — True
    iff the bit was present (TestMissingKeyRegression/ClearMix:
    Clear("a", f="garbage") → false, Clear("a", f="example") → true;
    TestTimelessClearRegression asserts true). Bounded single-record
    read, like :func:`set_changed`. ``bsi=True`` mirrors clear_bit's
    unconditional BSI clear: changed iff any value is stored."""
    record_id = _coerce_record_id(table, id_col, record_id)
    rows = (
        table.where(F.col(id_col) == F.lit(record_id))
        .select(field)
        .limit(1)
        .collect()
    )
    if not rows:
        return False
    stored = rows[0][field]
    if _is_quantum(table, field):
        return value in {e["value"] for e in (stored or [])}
    if dict(table.dtypes)[field].startswith("array"):
        return value in set(stored or [])
    if bsi:
        return stored is not None
    if stored is None:
        return False
    try:
        return float(stored) == float(value)
    except (TypeError, ValueError):
        return stored == value


def clear_row_changed(table: DataFrame, field: str, value) -> bool:
    """``ClearRow()``'s coordinator-visible changed bool — True iff ANY
    record held the bit (TestExecutor/ClearRow: first clear → true,
    repeat → false; /WithKeys: a key with no translation → false).
    One aggregation job over a pushed filter; no row collect."""
    if _is_quantum(table, field):
        pred = F.exists(F.col(field), lambda x: x["value"] == F.lit(value))
    elif dict(table.dtypes)[field].startswith("array"):
        pred = F.array_contains(F.col(field), value)
    else:
        pred = F.col(field) == F.lit(value)
    return bool(table.where(F.coalesce(pred, F.lit(False))).limit(1).count())


def _coerce_record_id(table: DataFrame, id_col: str, record_id):
    """A keyed (string-id) index accepts INTEGER column keys — the
    reference translates them to their decimal-string key
    (executor_test.go:1446-1459 'column changed with integer column
    key'). Without this, string-vs-int comparison trips ANSI
    CAST_INVALID_INPUT on any non-numeric key in the table."""
    if not isinstance(record_id, str) and dict(table.dtypes)[id_col] == "string":
        return str(record_id)
    return record_id


def set_changed(
    table: DataFrame, record_id, field: str, value, id_col: str = "_id"
) -> bool:
    """The reference's coordinator-visible ``Set()`` result — the bool
    'changed' flag (executeSet returns whether any bit flipped:
    executor_test.go Set/SetBool/SetDecimal assert first-Set→true,
    same-Set→false). The PQL door here returns the TRANSFORMED TABLE
    (a pure plan, composable); this helper answers the flag question
    the reference's wire response carries. Bounded: ONE record read via
    a pushed id filter — never a table scan's worth of driver data.

    Rules (executeSet executor.go:6194-6353): set fields — changed iff
    the member is absent; scalar (mutex/bool/int/decimal/timestamp)
    fields — changed iff the stored value differs; absent record —
    always changed."""
    record_id = _coerce_record_id(table, id_col, record_id)
    rows = (
        table.where(F.col(id_col) == F.lit(record_id))
        .select(field)
        .limit(1)
        .collect()
    )
    if not rows:
        return True
    stored = rows[0][field]
    if _is_quantum(table, field):
        members = {e["value"] for e in (stored or [])}
        return value not in members
    if dict(table.dtypes)[field].startswith("array"):
        return value not in set(stored or [])
    if stored is None:
        return True
    try:  # decimal/float forms of the same number compare equal
        return float(stored) != float(value)
    except (TypeError, ValueError):
        return stored != value


def set_bit(
    table: DataFrame,
    record_id,
    field: str,
    value,
    id_col: str = "_id",
    ts=None,
) -> DataFrame:
    """PQL ``Set(col, field=value)`` (executeSet executor.go:6194-6353).
    Scalar (mutex/int/bool/timestamp) fields: last-write-wins replace.
    Array (set) fields: add to the set. Creates the record if absent.

    TIME-QUANTUM fields (array<struct<value,ts>>): the bit carries its
    own timestamp — ``Set(2, f=1, 2001-01-01T00:00)`` appends the
    (value, ts) entry (the reference writes the bit into that time's
    quantum views, executeSetBitField executor.go:6263-6330). A Set
    WITHOUT a timestamp appends (value, NULL): the standard-view-only
    bit — Row(f=v) matches it, any from/to-ranged Row does not, the
    same visibility the reference gives a time field written with no
    timestamp.

    One lazy plan, no driver existence probe (VERDICT r1 minor #5): the
    in-place update is a conditional projection, and the create-if-absent
    row is the 1-row literal anti-joined against the table — both sides
    compose without an eager .count() job, so chains of Sets stay lazy."""
    import datetime as _dt

    dtypes = dict(table.dtypes)  # one JVM schema round trip per call
    record_id = _coerce_record_id(table, id_col, record_id)
    quantum = dtypes[field].startswith("array<struct<")
    is_array = dtypes[field].startswith("array")
    target = F.col(id_col) == F.lit(record_id)
    ts_dt = None
    if ts is not None:
        # naive wall-clock, like the scalar branch: an aware datetime
        # would shift through the session timezone while the view
        # literals stay naive (ranged Rows would miss the bit under a
        # non-UTC session tz)
        ts_dt = _dt.datetime.fromisoformat(
            str(ts).replace("Z", "+00:00")
        ).replace(tzinfo=None)
    if quantum:
        elem = table.schema[field].dataType.elementType
        vtype = elem["value"].dataType.simpleString()
        entry = F.struct(
            F.lit(value).cast(vtype).alias("value"),
            F.lit(ts_dt).cast("timestamp").alias("ts"),
        )
        updated = F.when(
            target,
            F.array_union(
                F.coalesce(F.col(field), F.array().cast(f"array<{elem.simpleString()}>")),
                F.array(entry),
            ),
        ).otherwise(F.col(field))
        new_val = [(value, ts_dt)]
    elif is_array:
        updated = F.when(
            target,
            F.array_union(F.coalesce(F.col(field), F.array()), F.array(F.lit(value))),
        ).otherwise(F.col(field))
        new_val = [value]
    else:
        if isinstance(value, str) and dtypes[field].startswith(
            "timestamp"
        ):
            # timestamp BSI fields accept string literals
            # (executor_test.go:1729 Set(10, f='2000-01-01T00:00:00Z'))
            value = _dt.datetime.fromisoformat(
                value.replace("Z", "+00:00")
            ).replace(tzinfo=None)
        if isinstance(value, (int, float)) and not isinstance(
            value, bool
        ) and dtypes[field].startswith("decimal"):
            # exact decimal literal: a raw float is refused by the
            # DataFrame row verifier AND would round-trip through
            # binary fp (the reference stores scaled ints)
            from decimal import Decimal

            value = Decimal(str(value))
        updated = F.when(target, F.lit(value)).otherwise(F.col(field))
        new_val = value
    existing_updated = table.withColumn(field, updated)
    new_row = table.sparkSession.createDataFrame(
        [tuple(
            record_id if c == id_col
            else new_val if c == field
            else None
            for c, _ in table.dtypes
        )],
        table.schema,
    ).join(table.select(id_col), id_col, "left_anti")
    return existing_updated.unionByName(new_row)


def clear_bit(
    table: DataFrame,
    record_id,
    field: str,
    value,
    id_col: str = "_id",
    bsi: bool = False,
) -> DataFrame:
    """PQL ``Clear(col, field=value)`` (executeClearBit executor.go:
    5895-5975): remove one (record, value) bit. Mutex (scalar row-ID)
    fields null out iff they currently hold ``value``; set fields drop
    the element.

    ``bsi=True`` (int/decimal/timestamp fields): the reference's
    ``f.ClearValue(colID)`` clears the column's stored value
    UNCONDITIONALLY — the value argument is not compared
    (executeClearValueField executor.go:6354-6390).

    TIME-QUANTUM fields: the clear removes the value from EVERY view —
    all timestamps of that value drop for the record
    (TestExecutor_Time_Clear_Quantums: after ``Clear(2, f=1)`` record 2
    stops matching ranged Rows under every quantum)."""
    record_id = _coerce_record_id(table, id_col, record_id)
    target = F.col(id_col) == F.lit(record_id)
    if _is_quantum(table, field):
        # null-safe: a stored NULL value must SURVIVE a Clear of some
        # other value (plain != yields NULL → filter drops the entry)
        updated = F.when(
            target,
            F.filter(
                F.col(field), lambda x: ~x["value"].eqNullSafe(F.lit(value))
            ),
        ).otherwise(F.col(field))
    elif dict(table.dtypes)[field].startswith("array"):
        updated = F.when(
            target, F.array_remove(F.col(field), value)
        ).otherwise(F.col(field))
    elif bsi:
        updated = F.when(target, F.lit(None)).otherwise(F.col(field))
    else:
        updated = F.when(
            target & (F.col(field) == F.lit(value)), F.lit(None)
        ).otherwise(F.col(field))
    return table.withColumn(field, updated)


def clear_row(table: DataFrame, field: str, value) -> DataFrame:
    """PQL ``ClearRow(field=value)`` (executeClearRow executor.go:5976-6076):
    clear the value's bit across ALL records — a single whole-column
    conditional rewrite (one scan, no shuffle). Time-quantum fields
    drop the value from every view of every record."""
    if _is_quantum(table, field):
        # null-safe for the same reason as clear_bit's quantum branch
        updated = F.filter(
            F.col(field), lambda x: ~x["value"].eqNullSafe(F.lit(value))
        )
    elif dict(table.dtypes)[field].startswith("array"):
        updated = F.array_remove(F.col(field), value)
    else:
        updated = F.when(F.col(field) == F.lit(value), F.lit(None)).otherwise(
            F.col(field)
        )
    return table.withColumn(field, updated)


def store_row(
    table: DataFrame, bitmap_ids: DataFrame, field: str, value, id_col: str = "_id"
) -> DataFrame:
    """PQL ``Store(child, field=value)`` (executeSetRow executor.go:
    6077-6193): overwrite the value's row-bitmap with ``bitmap_ids`` —
    records in the bitmap get the value, all others lose it.
    ``bitmap_ids``: DataFrame with column ``_id``. Storing into a field
    that does not exist CREATES it (executeSetRow resolves the
    destination with CreateFieldIfNotExists, executor.go:6088-6100;
    TestExecutor_Execute_SetRow 'Store(Row(f=10), nonexistent=20)'
    succeeds and the new row reads back) — here a fresh set-typed
    (array) column."""
    if field not in table.columns:
        vt = (
            "boolean" if isinstance(value, bool)
            else "bigint" if isinstance(value, int)
            else "string"
        )
        table = table.withColumn(field, F.lit(None).cast(f"array<{vt}>"))
    is_array = dict(table.dtypes)[field].startswith("array")
    marked = table.join(
        F.broadcast(bitmap_ids.withColumnRenamed("_id", id_col).withColumn("__in__", F.lit(True))),
        id_col,
        "left",
    )
    inb = F.coalesce(F.col("__in__"), F.lit(False))
    if is_array:
        with_v = F.array_union(F.coalesce(F.col(field), F.array()), F.array(F.lit(value)))
        without_v = F.array_remove(F.coalesce(F.col(field), F.array()), value)
        updated = F.when(inb, with_v).otherwise(without_v)
    else:
        updated = F.when(inb, F.lit(value)).otherwise(
            F.when(F.col(field) == F.lit(value), F.lit(None)).otherwise(F.col(field))
        )
    return marked.withColumn(field, updated).drop("__in__")


def delete_records(
    table: DataFrame, bitmap_ids: DataFrame, id_col: str = "_id"
) -> DataFrame:
    """PQL ``Delete(child)`` (executeDeleteRecords executor.go:9050-9320):
    whole-record delete for every id in the bitmap → anti-join (Delta:
    ``DELETE WHERE _id IN (...)``)."""
    return table.join(
        bitmap_ids.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )


def delete_where(table: DataFrame, predicate) -> DataFrame:
    """SQL ``DELETE WHERE`` via pushed filter (PlanOpPQLFilteredDelete
    oppqlfiltereddelete.go) — keep the complement."""
    return table.where(~F.coalesce(predicate, F.lit(False)))


def bulk_upsert_last_write_wins(
    table: DataFrame,
    updates: DataFrame,
    key: str = "_id",
    version_col: str | None = None,
) -> DataFrame:
    """Batch upsert where ``updates`` may contain multiple writes per key:
    keep the last (max ``version_col``, or arbitrary-but-deterministic max
    of all columns when None) — the reference's ingest batcher collapses
    duplicate keys the same way before import (idk/batch/batch.go)."""
    from pyspark.sql.window import Window

    if version_col is not None:
        w = Window.partitionBy(key).orderBy(F.desc(version_col))
        deduped = (
            updates.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1)
            .drop("__rn__")
        )
    else:
        deduped = updates.dropDuplicates([key])
    return merge_upsert(table, deduped, key)
