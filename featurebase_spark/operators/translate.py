"""Key translation: string record keys ↔ internal integer record ids.

The reference stores string-keyed indexes by translating every key to a
uint64 record id through a partitioned translate store (translate.go:
TranslateStore / GenerateNextPartitionedID — 256 hash partitions, each
allocating sequential ids in its own range so writers never contend, with
the boltdb store persisting the mapping). Bitmap fragments only ever see
integer ids; keys exist at the edges.

Spark analogue: the mapping is a (key, id) DataFrame pinned in the block
manager (``materialize`` — same treatment as fragment frames), and
allocation is hash-partitioned exactly like the reference: a new key hashes
to one of ``PARTITIONS`` allocation partitions, takes the next sequence
number there (``row_number`` within the partition — one task per
partition, so allocation parallelism = PARTITIONS), and its id is
``partition * SPAN + seq``. Ids from different partitions can never
collide, and per-partition sequences mean no global coordination — the
exact contention-avoidance design of GenerateNextPartitionedID. The
driver holds only PARTITIONS integers of allocator state.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurebase_spark.materialize import materialize


class KeyTranslator:
    """Per-table key→id mapping with partitioned allocation."""

    #: allocation partitions (disco.DefaultPartitionN is 256; smaller here
    #: because local[32] tests — the scheme is identical at any count)
    PARTITIONS = 16
    #: id-space span per partition — 2^44 ids each leaves the top bits
    #: clear of the shard arithmetic (shard = id >> 20)
    SPAN = 1 << 44

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._map: Optional[DataFrame] = None  # (key STRING, id LONG)
        self._next: list[int] = [0] * self.PARTITIONS

    def _part(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.PARTITIONS))

    def translate(self, keys: DataFrame, key_col: str = "_id") -> DataFrame:
        """(key, id) for every distinct key in ``keys``, allocating ids for
        unseen keys (TranslateStore.CreateKeys). Deterministic given the
        allocation history: within a batch, new keys allocate in key order
        per partition.

        Cost note: each call re-pins the merged map (O(|map|) blocks) —
        right for session-scoped tables. The 100-TB path stores the map
        as a bucketed parquet table (PartitionedUpsertTable keyed on
        ``key``) so a batch rewrites only the buckets its new keys hash
        into — the boltdb-per-partition persistence of the reference's
        translate store; the allocation arithmetic here is unchanged."""
        ks = (
            keys.select(F.col(key_col).cast("string").alias("key"))
            .where(F.col("key").isNotNull())
            .distinct()
        )
        if self._map is not None:
            new = ks.join(self._map, "key", "left_anti")
        else:
            new = ks
        alloc = new.withColumn("p", self._part(F.col("key")))
        w = Window.partitionBy("p").orderBy("key")
        alloc = alloc.withColumn("rk", F.row_number().over(w) - 1)
        # per-partition base offsets ride a tiny broadcast frame; the
        # counts come back to update the driver's allocator state
        bases = self.spark.createDataFrame(
            [(p, self._next[p]) for p in range(self.PARTITIONS)],
            "p LONG, base LONG",
        )
        allocated = (
            alloc.join(F.broadcast(bases), "p")
            .select(
                "key",
                (
                    F.col("p") * F.lit(self.SPAN)
                    + F.col("base")
                    + F.col("rk")
                ).alias("id"),
                "p",
            )
        )
        merged = allocated.select("key", "id")
        if self._map is not None:
            merged = self._map.unionByName(merged)
        # pin BEFORE reading the per-partition counts so allocation runs
        # exactly once (lineage-cut also protects against later view swaps)
        pinned = materialize(merged, eager=True)
        for r in (
            pinned.withColumn("p", F.floor(F.col("id") / F.lit(self.SPAN)))
            .groupBy("p")
            .agg(F.max(F.col("id") % F.lit(self.SPAN)).alias("hi"))
            .collect()
        ):
            self._next[int(r["p"])] = int(r["hi"]) + 1
        self._map = pinned
        return self._map

    def ids_for(self, keys: DataFrame, key_col: str = "_id") -> DataFrame:
        """Lookup-only (TranslateStore.TranslateKeys read path): (key, id)
        for keys already in the store; unseen keys drop out."""
        if self._map is None:
            return self.spark.createDataFrame([], "key STRING, id LONG")
        ks = (
            keys.select(F.col(key_col).cast("string").alias("key"))
            .where(F.col("key").isNotNull())
            .distinct()
        )
        return ks.join(self._map, "key")

    def attach(
        self, df: DataFrame, key_col: str = "_id", id_name: str = "__fbid"
    ) -> DataFrame:
        """``df`` with the internal id column joined on — the form the
        fragment builders consume (they only ever see integer ids)."""
        m = self.translate(df, key_col)
        return df.join(
            m.select(F.col("key").alias(key_col), F.col("id").alias(id_name)),
            key_col,
        )
