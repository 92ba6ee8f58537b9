"""DDL + catalog surface: CREATE/DROP/ALTER TABLE, CREATE VIEW, SHOW /
system tables — FeatureBase's statement surface (SURVEY §2.2) on the Spark
catalog.

The reference stores schema in etcd and serves ``SHOW``/system tables from
planner ops (``opsystemtable.go:1-673``, ``opfeaturebase{tables,columns,
databases}.go``). Here tables are temp views / catalog tables and the
``fb_*`` system tables are DataFrames derived from ``spark.catalog`` — the
same introspection contract (``fb_tables``, ``fb_columns``,
``fb_databases``, ``fb_views``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Row as SparkRow, SparkSession, functions as F

from featurebase_spark.materialize import materialize
from featurebase_spark.schema import TableDef


def _dir_bytes(path: str) -> int:
    """Recursive on-disk size (fb_cluster_nodes.space_used stand-in)."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Catalog:
    """FeatureBase DDL façade over a SparkSession catalog.

    Tables start as temp views (CREATE TABLE is a metadata-only op); the
    FIRST write materializes hash-bucket-partitioned parquet storage
    (:class:`~featurebase_spark.operators.writes.PartitionedUpsertTable`)
    and every later INSERT/DELETE rewrites ONLY the buckets its keys hash
    into — per-statement cost O(touched buckets), not O(table), the
    reference's per-shard fragment merge on import (batch/batch.go). The
    rewritten buckets go into one new generation, in as few files as
    their size needs (one for a small batch). A literal batch (the
    statement door, ``consume_spool``) commits in two Spark jobs and is
    collected once, for the commit and every indexed field.
    Pass ``bucketed=False`` to keep the r1 whole-generation-swap commit
    (fine for tiny in-session tables).
    """

    def __init__(
        self,
        spark: SparkSession,
        path_prefix: Optional[str] = None,
        bucketed: bool = True,
        buckets: int = 16,
    ):
        self.spark = spark
        self.path_prefix = path_prefix
        self.bucketed = bucketed
        self.buckets = buckets
        self._defs: dict[str, TableDef] = {}
        self._views: dict[str, str] = {}
        self._storage: dict[str, object] = {}  # name -> PartitionedUpsertTable
        #: table -> BitmapCatalog of its indexed fields (plans/bitmap_index)
        self._bitmap: dict[str, object] = {}
        #: table -> {field: "eq"|"bsi"} — which fields are indexed and how
        self._index_fields: dict[str, dict[str, str]] = {}
        #: table -> {field: postings DataFrame | None} — trigram TEXT
        #: indexes (pipeline/trigram); None marks the postings STALE
        #: (a write touched the column — rebuilt lazily at next probe)
        self._text_indexes: dict[str, dict[str, object]] = {}
        #: table -> KeyTranslator for string-keyed tables (translate.go)
        self._translators: dict[str, object] = {}
        #: table -> creation time, served by SHOW TABLES/COLUMNS
        #: (fb_tables wire schema, sql_complex_test.go:242-268)
        self._created_at: dict[str, object] = {}

    @staticmethod
    def _view(name: str) -> str:
        """Spark temp-view name for a table — identical to the table name
        except for names Spark can't register (e.g. the reference-legal
        hyphenated ``un-keyed``, scanner.go:338-339)."""
        from featurebase_spark.schema import spark_view_name

        return spark_view_name(name)

    @property
    def _data_path(self) -> str:
        if self.path_prefix is None:
            import tempfile

            self.path_prefix = tempfile.mkdtemp(prefix="fb_catalog_")
        return self.path_prefix

    # -- CREATE/DROP/ALTER TABLE (compilecreatetable.go:28-77,
    #    compilealtertable.go:26-81)

    def create_table(self, td: TableDef, if_not_exists: bool = False) -> None:
        if td.name in self._defs:
            if if_not_exists:
                return
            raise ValueError(f"table {td.name} exists")  # [TABLE_OR_VIEW_ALREADY_EXISTS]
        # foreign index must exist at field-create time (field.go:607-611,
        # applyForeignIndex 715-722) — mirrored here so the API path gets
        # the same guard the statement compiler applies
        for f in td.fields:
            if f.foreign_index and f.foreign_index not in self._defs:
                raise ValueError(
                    f"{f.foreign_index}: foreign index not found"
                )
        self._empty_frame(td).createOrReplaceTempView(self._view(td.name))
        self._defs[td.name] = td
        from datetime import datetime, timezone

        self._created_at[td.name] = datetime.now(timezone.utc).replace(
            tzinfo=None
        )

    def _empty_frame(self, td: TableDef) -> DataFrame:
        """0-row frame as a LocalRelation (WHERE FALSE folds to empty) —
        ``createDataFrame([], schema)`` would be a defaultParallelism-task
        empty RDD scan that every statement touching the view re-runs."""
        cols = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in td.spark_schema().fields
        )
        return self.spark.sql(f"SELECT {cols} WHERE 1=0")

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        if name not in self._defs and not if_exists:
            raise ValueError(f"table {name} does not exist")
        self.spark.catalog.dropTempView(self._view(name))
        self._defs.pop(name, None)
        self._bitmap.pop(name, None)
        self._index_fields.pop(name, None)
        self._text_indexes.pop(name, None)
        self._translators.pop(name, None)
        store = self._storage.pop(name, None)
        if store is not None:
            import shutil

            shutil.rmtree(store.path, ignore_errors=True)

    def alter_table_add_column(self, name: str, fdef) -> None:
        from featurebase_spark.schema import spark_type

        df = self.spark.table(self._view(name)).withColumn(
            fdef.name, F.lit(None).cast(spark_type(fdef))
        )
        self._defs[name].fields.append(fdef)
        self._replace_contents(name, df)

    def alter_table_drop_column(self, name: str, col: str) -> None:
        df = self.spark.table(self._view(name)).drop(col)
        self._defs[name].fields = [
            f for f in self._defs[name].fields if f.name != col
        ]
        self._replace_contents(name, df)

    # -- writes route through operators.writes

    def _ensure_storage(self, name: str):
        """Materialize bucketed storage for a table on its first write
        (CREATE TABLE stays metadata-only)."""
        import os

        from featurebase_spark.operators.writes import PartitionedUpsertTable

        store = self._storage.get(name)
        if store is None:
            store = PartitionedUpsertTable(
                self.spark,
                os.path.join(self._data_path, f"{name}__buckets"),
                "_id",
                self.buckets,
            )
            store.init(self.spark.table(self._view(name)))
            self._storage[name] = store
            self._register(name)
        return store

    def _register(self, name: str) -> None:
        self._storage[name].read().createOrReplaceTempView(self._view(name))

    def insert(
        self,
        name: str,
        rows: DataFrame,
        replace: bool = True,
        cols: Optional[list] = None,
    ) -> None:
        """INSERT (upsert-by-_id, opinsert.go:16-453). ``replace=False``
        mirrors plain INSERT which in the reference still overwrites by
        key — kept for API clarity. ``cols``: the column list the INSERT
        statement named — unlisted columns of an EXISTING ``_id`` keep
        their old values (opinsert.go imports only targetColumns).

        Bucketed (default): commit cost is O(buckets the batch's keys
        hash into); a 3-row INSERT into a huge table rewrites ≤3 buckets
        into one new generation file, never the table.

        A literal batch (a LocalRelation: the statement door,
        ``consume_spool``) is collected ONCE here, on the driver, and its
        rows go to the storage commit's bucket routing and to every
        indexed field's in-process merge."""
        from featurebase_spark.operators.writes import _is_literal_plan

        self._check_foreign_keys(name, rows)
        collected = None
        consumers = name in self._index_fields or (
            self.bucketed and name in self._storage
        )
        if consumers and _is_literal_plan(rows):
            collected = rows.collect()
        if self.bucketed:
            store = self._storage.get(name)
            if store is None:
                # FIRST write: merge the current view with the batch and
                # init the bucketed storage from the result — ONE write
                # job, instead of materializing the pre-write view and
                # then upserting into it (two writes + a bucket probe)
                import os

                from featurebase_spark.operators.writes import (
                    PartitionedUpsertTable,
                    merge_upsert,
                )

                view = self.spark.table(self._view(name))
                merged = merge_upsert(view, rows, "_id", update_cols=cols)
                store = PartitionedUpsertTable(
                    self.spark,
                    os.path.join(self._data_path, f"{name}__buckets"),
                    "_id",
                    self.buckets,
                )
                store.init(merged)
                self._storage[name] = store
            else:
                store.upsert(rows, update_cols=cols, rows=collected)
            self._register(name)
            self._index_upsert(name, rows, cols, collected)
            return
        from featurebase_spark.operators.writes import materialize_view, merge_upsert

        merged = merge_upsert(
            self.spark.table(self._view(name)), rows, "_id", update_cols=cols
        )
        # distributed parquet commit — no rows ever pass through the driver
        materialize_view(merged, name, self._data_path)
        self._index_upsert(name, rows, cols, collected)

    def _check_foreign_keys(self, name: str, rows: DataFrame) -> None:
        """Write-time foreign-index enforcement (field.go:133-141, checked
        on field open field.go:607-611): every non-null value of a field
        declared ``REFERENCES other (_id)`` must be an existing record id
        of the target table. The probe is one distinct anti-join per
        declared field — batch-sized, never table-sized, and at scale the
        target _id side is the join's build side (broadcast for dims).
        A superset of the current reference (which now validates only
        index existence, having once enforced values) — the semantic the
        declaration promises."""
        td = self._defs.get(name)
        if td is None:
            return
        for f in td.fields:
            if not f.foreign_index or f.name not in rows.columns:
                continue
            tgt = self.spark.table(self._view(f.foreign_index)).select("_id")
            bad = (
                rows.select(F.col(f.name).alias("v"))
                .where(F.col("v").isNotNull())
                .distinct()
                .join(tgt, F.col("v") == F.col("_id"), "left_anti")
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"value '{bad[0][0]}' for field '{f.name}' "
                    f"not in foreign index '{f.foreign_index}'"
                )

    def delete_ids(self, name: str, ids: DataFrame) -> None:
        """DELETE by key set — bucketed: rewrites only the buckets the
        deleted keys live in (per-shard delete, executor.go:9050-9320).
        A literal key set is collected once, as in :meth:`insert`."""
        from featurebase_spark.operators.writes import _is_literal_plan

        collected = None
        if (self.bucketed or name in self._index_fields) and _is_literal_plan(ids):
            collected = ids.collect()
        self._index_delete(name, ids, collected)
        if self.bucketed:
            store = self._ensure_storage(name)
            store.delete_keys(ids, rows=collected)
            self._register(name)
            return
        from featurebase_spark.operators.writes import delete_records

        self.overwrite(
            name, delete_records(self.spark.table(self._view(name)), ids)
        )

    def truncate(self, name: str) -> None:
        """TRUNCATE is metadata-only: drop the storage and re-register the
        empty view (the reference deletes whole fragment sets,
        oppqltruncate.go — no surviving data is rewritten)."""
        if name not in self._defs:
            raise ValueError(f"table {name} does not exist")
        store = self._storage.pop(name, None)
        if store is not None:
            import shutil

            shutil.rmtree(store.path, ignore_errors=True)
        self._empty_frame(self._defs[name]).createOrReplaceTempView(
            self._view(name)
        )
        self._index_rebuild(name)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Replace a table's contents wholesale (the commit path for
        arbitrary-rewrite ops like ALTER) — a full distributed swap; keyed
        DELETE should use :meth:`delete_ids` instead."""
        if name not in self._defs:
            raise ValueError(f"table {name} does not exist")
        self._replace_contents(name, df)

    def _replace_contents(self, name: str, df: DataFrame) -> None:
        from featurebase_spark.operators.writes import materialize_view

        if self.bucketed and name in self._storage:
            # full replace commits to a NEW generation path — df usually
            # derives from the current storage, so writing in place would
            # race the read (same copy-on-write rule as materialize_view)
            import os
            import shutil
            import uuid

            from featurebase_spark.operators.writes import PartitionedUpsertTable

            new_store = PartitionedUpsertTable(
                self.spark,
                os.path.join(
                    self._data_path, f"{name}__buckets_{uuid.uuid4().hex[:8]}"
                ),
                "_id",
                self.buckets,
            )
            new_store.init(df)
            old = self._storage[name]
            self._storage[name] = new_store
            self._register(name)
            shutil.rmtree(old.path, ignore_errors=True)
            self._index_rebuild(name)
            return
        materialize_view(df, name, self._data_path)
        self._index_rebuild(name)

    # -- bitmap indexes (plans/bitmap_index) — DECLARED EXTENSION ---------
    #
    # The reference has no CREATE INDEX: EVERY field is implicitly a
    # fragment bitmap (field.go), because fragments ARE its storage. On
    # Spark the base table is parquet and fragments are an acceleration
    # structure, so which fields get one is a user choice — CREATE INDEX
    # declares it. Once declared, the index is maintained through every
    # Catalog write (insert upsert / delete / truncate) with the same
    # clear-then-set semantics as the reference's import path, and the PQL
    # door serves covered calls from it (pql/parser.execute bitmap=).

    def create_index(self, table: str, fields: list[str]) -> None:
        from featurebase_spark.plans.bitmap_index import BitmapCatalog

        if table not in self._defs:
            raise ValueError(f"table '{table}' not found")
        td = self._defs[table]
        by_name = {f.name: f for f in td.fields}
        plan: list[tuple[str, str]] = []
        existing = self._index_fields.get(table, {})
        for f in fields:
            if f not in by_name:
                raise ValueError(f"column '{f}' not found")
            if f in existing:
                raise ValueError(
                    f"index on column '{f}' of table '{table}' already exists"
                )
            t = by_name[f].fb_type
            if t == "int":
                plan.append((f, "bsi"))
            elif t in ("id", "string", "bool", "idset", "stringset"):
                plan.append((f, "eq"))
            else:
                raise ValueError(
                    f"column '{f}' of type '{t}' cannot be indexed "
                    "(int -> BSI; id/string/bool/idset/stringset -> equality)"
                )
        cat = self._bitmap.get(table)
        if cat is None:
            cat = BitmapCatalog()
            self._bitmap[table] = cat
            self._index_fields[table] = {}
        df, id_col = self._indexed_frame(table)
        hint = self._small_storage(table)
        for f, kind in plan:
            if kind == "bsi":
                cat.index_bsi_field(df, f, id_col=id_col, cache=False)
            else:
                cat.index_field(df, f, id_col=id_col, cache=False)
            self._pin_field(cat, f, kind, small_hint=hint)
            self._index_fields[table][f] = kind

    def _indexed_frame(self, table: str):
        """(frame, id_col) for fragment building: id-keyed tables index on
        ``_id`` directly; string-keyed tables join the key translator's
        internal ids on (translate.go — fragments only ever see ints)."""
        df = self.spark.table(self._view(table))
        if not self._defs[table].keys:
            return df, "_id"
        from featurebase_spark.operators.translate import KeyTranslator

        tr = self._translators.get(table)
        if tr is None:
            tr = KeyTranslator(self.spark)
            self._translators[table] = tr
        return tr.attach(df, "_id"), "__fbid"

    def create_text_index(self, table: str, field: str) -> None:
        """CREATE TEXT INDEX — trigram posting lists for substring
        search (pipeline/trigram; the scale path for the reference's
        LIKE skip-through step, like.go:66-130). The posting frame is
        built once (one (trigram, _id) shuffle) and materialized; every
        :meth:`like_search` probe touches only the literal's posting
        lists. Writes to the column mark the index STALE; the next
        probe rebuilds it (the additive-maintenance path a production
        deployment would run per ingest batch)."""
        from featurebase_spark.pipeline.trigram import build_trigram_postings

        if table not in self._defs:
            raise ValueError(f"table '{table}' not found")
        by_name = {f.name: f for f in self._defs[table].fields}
        if field not in by_name:
            raise ValueError(f"column '{field}' not found")
        if by_name[field].fb_type != "string":
            raise ValueError(
                f"column '{field}' of type '{by_name[field].fb_type}' "
                "cannot carry a text index (string only)"
            )
        if field in self._text_indexes.get(table, {}):
            raise ValueError(
                f"text index on column '{field}' of table '{table}' "
                "already exists"
            )
        df = self.spark.table(self._view(table))
        postings = materialize(build_trigram_postings(df, "_id", field))
        self._text_indexes.setdefault(table, {})[field] = postings

    def like_search(
        self,
        table: str,
        field: str,
        literal: str,
        broadcast: bool | None = None,
    ) -> DataFrame:
        """Substring search (``LIKE '%literal%'``) through the table's
        trigram TEXT index — exact full-scan-LIKE semantics at posting-
        list probe cost. Stale indexes (column written since the build)
        rebuild transparently first. ``broadcast`` is the candidate-join
        strategy (trigram.like_contains): default None lets AQE pick by
        runtime candidate size — safe at any selectivity."""
        from featurebase_spark.pipeline.trigram import (
            build_trigram_postings,
            like_contains,
        )

        reg = self._text_indexes.get(table, {})
        if field not in reg:
            raise ValueError(
                f"no text index on column '{field}' of table '{table}'"
            )
        df = self.spark.table(self._view(table))
        if reg[field] is None:  # stale: a write touched the column
            reg[field] = materialize(build_trigram_postings(df, "_id", field))
        return like_contains(
            df, "_id", field, literal, postings=reg[field],
            broadcast=broadcast,
        )

    def _text_mark_stale(self, table: str, cols) -> None:
        reg = self._text_indexes.get(table)
        if not reg:
            return
        written = None if cols is None else set(cols)
        for f in reg:
            if written is None or f in written:
                reg[f] = None

    def drop_index(self, table: str, fields: Optional[list[str]] = None) -> None:
        reg = self._index_fields.get(table, {})
        treg = self._text_indexes.get(table, {})
        if not reg and not treg:
            raise ValueError(f"no indexes on table '{table}'")
        cat = self._bitmap.get(table)
        targets = (
            list(reg) + [f for f in treg if f not in reg]
            if fields is None
            else fields
        )
        for f in targets:
            if f not in reg and f not in treg:
                raise ValueError(
                    f"no index on column '{f}' of table '{table}'"
                )
        for f in targets:
            if f in treg:
                treg.pop(f)
            if f in reg:
                kind = reg.pop(f)
                cat._invalidate_field(f)
                (cat._bsi if kind == "bsi" else cat._indexes).pop(f, None)
        if table in self._index_fields and not reg:
            del self._index_fields[table]
            del self._bitmap[table]
        if table in self._text_indexes and not treg:
            del self._text_indexes[table]

    def fb_indexes(self, table: Optional[str] = None) -> DataFrame:
        """SHOW INDEXES [FROM t] — one row per indexed field."""
        rows = [
            SparkRow(table=t, field=f, kind=k)
            for t, reg in sorted(self._index_fields.items())
            for f, k in sorted(reg.items())
            if table is None or t == table
        ] + [
            SparkRow(table=t, field=f, kind="trigram")
            for t, reg in sorted(self._text_indexes.items())
            for f in sorted(reg)
            if table is None or t == table
        ]
        if not rows:
            return self.spark.createDataFrame(
                [], "table STRING, field STRING, kind STRING"
            )
        return self.spark.createDataFrame(rows)

    def bitmap_catalog(self, table: str):
        """The table's BitmapCatalog, or None if nothing is indexed."""
        return self._bitmap.get(table)

    def _index_upsert(
        self, table: str, rows: DataFrame, cols, collected: list | None = None
    ) -> None:
        """Post-write index maintenance: clear-then-set the batch into
        every indexed field the statement wrote (unlisted columns of a
        partial INSERT keep their values, so their indexes are untouched).
        A BSI delta outside the encoding range rebuilds that field from
        the committed table (reference bitDepth widening). ``collected``:
        the batch's rows, already collected by :meth:`insert`; every
        driver-local field merges from them instead of collecting again
        (string-keyed tables take the translator's ids, so they still
        collect per field)."""
        from featurebase_spark.plans.bitmap_index import BsiRangeError

        self._text_mark_stale(table, cols)
        reg = self._index_fields.get(table)
        if not reg:
            return
        cat = self._bitmap[table]
        id_col = "_id"
        if table in self._translators:
            rows = self._translators[table].attach(rows, "_id")
            id_col = "__fbid"
            collected = None
        written = None if cols is None else set(cols)
        hint = self._small_storage(table)
        for f, kind in reg.items():
            if written is not None and f not in written:
                continue
            try:
                if kind == "bsi":
                    cat.upsert_bsi_field(rows, f, id_col=id_col, cache=False,
                                         collected=collected)
                else:
                    cat.upsert_field(rows, f, id_col=id_col, cache=False,
                                     collected=collected)
            except BsiRangeError:
                df, rid = self._indexed_frame(table)
                cat.index_bsi_field(df, f, id_col=rid, cache=False)
            self._pin_field(cat, f, kind, small_hint=hint)

    def _index_delete(
        self, table: str, ids: DataFrame, collected: list | None = None
    ) -> None:
        self._text_mark_stale(table, None)
        reg = self._index_fields.get(table)
        if not reg:
            return
        cat = self._bitmap[table]
        id_col = "_id"
        if table in self._translators:
            # lookup-only: a never-seen key has no bits to clear
            ids = (
                self._translators[table]
                .ids_for(ids, "_id")
                .select(F.col("id").alias("__fbid"))
            )
            id_col = "__fbid"
            collected = None
        hint = self._small_storage(table)
        for f, kind in reg.items():
            cat.delete_field_ids(ids, f, id_col=id_col, cache=False,
                                 collected=collected)
            self._pin_field(cat, f, kind, small_hint=hint)

    @staticmethod
    def _pin_field(cat, f: str, kind: str, small_hint: bool = False) -> None:
        """Materialize a field's fragment frame EAGERLY and cut its
        lineage (``materialize``): the build/merge plan references the
        table view and the write batch, and ``cache()`` is not enough —
        replacing the temp view at the next commit UNCACHES dependent
        plans, whose recompute would read vacuumed storage generations.
        The reference's import applies fragment merges eagerly under the
        shard write Tx for the same reason. The previous pinned blocks
        free via the context cleaner when the old frame is dropped.

        Driver-LOCAL fields (small indexes) skip all of this: their
        in-process merge already rebuilt a LocalRelation. After a
        distributed pin, small indexes are (re)adopted into the local
        tier so subsequent maintenance is job-free.

        ``small_hint=True`` (the caller KNOWS the table's committed
        storage is tiny, so its index must be too) tries the local
        adoption FIRST, straight off the build/merge plan: a successful
        adoption replaces the frame with a LocalRelation and the
        checkpoint job never runs — one job per field per statement on
        the statement-door shape (r14, guide §1.2 don't compute things
        you throw away). A wrong hint only costs the fallback
        (plan computed once by the probe, once by the checkpoint), so
        callers hint conservatively."""
        if cat.is_local(f):
            return
        if small_hint and cat.try_localize(f):
            return  # adopted: LocalRelation, nothing to pin
        if kind == "bsi":
            frame, mv, nb = cat._bsi[f]
            cat._bsi[f] = (materialize(frame, eager=True), mv, nb)
        else:
            cat._indexes[f] = materialize(cat._indexes[f], eager=True)
        cat.try_localize(f)
        cat._invalidate_field(f)

    def _small_storage(self, name: str, cap_bytes: int = 8 << 20) -> bool:
        """True when ``name``'s committed bucketed storage is at most
        ``cap_bytes`` on disk — the driver-side signal that its bitmap
        fragments will fit the driver-local tier, read straight from the
        already-written files (no Spark job). Non-bucketed or
        not-yet-materialized tables return False (no cheap signal)."""
        import os

        store = self._storage.get(name)
        if store is None:
            return False
        try:
            if not os.path.isdir(store.path):
                # non-local storage (e.g. a cluster URI the driver can't
                # walk): no cheap signal — never hint small, or a huge
                # index would pay the localize probe AND the checkpoint
                return False
            return _dir_bytes(store.path) <= cap_bytes
        except OSError:
            return False

    def _index_rebuild(self, table: str) -> None:
        """Arbitrary-rewrite commits (ALTER, overwrite, truncate) rebuild
        the table's indexes from the new contents."""
        reg = self._index_fields.get(table)
        if not reg:
            return
        cat = self._bitmap[table]
        df, id_col = self._indexed_frame(table)
        hint = self._small_storage(table)
        for f, kind in list(reg.items()):
            if f not in {fd.name for fd in self._defs[table].fields}:
                self.drop_index(table, [f])  # ALTER dropped the column
                continue
            if kind == "bsi":
                cat.index_bsi_field(df, f, id_col=id_col, cache=False)
            else:
                cat.index_field(df, f, id_col=id_col, cache=False)
            self._pin_field(cat, f, kind, small_hint=hint)

    INDEX_MANIFEST = "INDEXES_MANIFEST.json"

    def save_indexes(self, path: str) -> None:
        """Persist every table's fragment catalog — and its key-translator
        map, for string-keyed tables — to parquet under ``path`` (the
        durable per-(field,shard) fragment files of fragment.go:30-80 via
        BitmapCatalog.save). Reopen in a later session with
        :meth:`load_indexes`; serving reads are lazy and shard-pruned.

        Crash-atomic via the same staged-generation + manifest-pointer
        commit the write path uses (operators/writes.py): every fragment
        and key file stages into a FRESH ``gen-<uuid>`` directory, and
        only after all tables staged successfully does one fsync'd
        ``os.replace`` of the manifest publish the new generation — a
        kill anywhere during staging leaves the previous manifest (and
        the consistent generation it points to) untouched. Reference
        analogue: fragments land under the shard's write Tx and the Tx
        commit is the visibility point (fragment.go / rbf Tx)."""
        import json
        import os
        import uuid

        os.makedirs(path, exist_ok=True)
        gen = "gen-" + uuid.uuid4().hex[:12]
        gen_dir = os.path.join(path, gen)
        meta = {}
        for t, reg in self._index_fields.items():
            self._bitmap[t].save(os.path.join(gen_dir, t, "fragments"))
            entry: dict = {"fields": reg}
            tr = self._translators.get(t)
            if tr is not None and tr._map is not None:
                tr._map.write.mode("overwrite").parquet(
                    os.path.join(gen_dir, t, "keys")
                )
                entry["next"] = tr._next
            meta[t] = entry
        # the commit point: fsync'd write-aside + atomic replace
        man = {"generation": gen, "tables": meta}
        tmp = os.path.join(path, self.INDEX_MANIFEST + ".tmp." + gen)
        with open(tmp, "w") as fh:
            json.dump(man, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(path, self.INDEX_MANIFEST))

    def vacuum_index_generations(self, path: str) -> list:
        """Delete staged generations the manifest no longer points to
        (crashed saves, superseded snapshots). Returns removed dirs."""
        import json
        import os
        import shutil

        with open(os.path.join(path, self.INDEX_MANIFEST)) as fh:
            live = json.load(fh)["generation"]
        removed = []
        for d in os.listdir(path):
            if d.startswith("gen-") and d != live:
                shutil.rmtree(os.path.join(path, d))
                removed.append(d)
        return removed

    def load_indexes(self, path: str) -> None:
        """Reopen persisted indexes from the manifest-pointed generation:
        fragment frames become lazy parquet reads (shard-partition-pruned
        at query time); small fields re-adopt into the driver-local tier
        on their next maintenance pin. Partially-staged generations from
        a crashed save are invisible (the manifest never moved)."""
        import json
        import os

        from featurebase_spark.plans.bitmap_index import BitmapCatalog

        with open(os.path.join(path, self.INDEX_MANIFEST)) as fh:
            man = json.load(fh)
        gen_dir = os.path.join(path, man["generation"])
        for t, entry in man["tables"].items():
            self._bitmap[t] = BitmapCatalog.load(
                self.spark, os.path.join(gen_dir, t, "fragments")
            )
            self._index_fields[t] = dict(entry["fields"])
            if "next" in entry:
                from featurebase_spark.operators.translate import KeyTranslator

                tr = KeyTranslator(self.spark)
                tr._map = self.spark.read.parquet(
                    os.path.join(gen_dir, t, "keys")
                )
                tr._next = list(entry["next"])
                self._translators[t] = tr

    def ddl_text(self, name: str) -> str:
        """SHOW CREATE TABLE reconstruction from the stored TableDef."""
        td = self._defs[name]
        cols = [f"_id {'string' if td.keys else 'id'}"]
        for f in td.fields:
            parts = [f.name, f.fb_type]
            if f.fb_type == "decimal":
                parts[1] = f"decimal({f.scale})"
            if f.min is not None:
                parts.append(f"min {f.min}")
            if f.max is not None:
                parts.append(f"max {f.max}")
            if f.time_unit:
                parts.append(f"timeunit '{f.time_unit}'")
            if f.time_quantum:
                parts.append(f"timequantum '{f.time_quantum}'")
                if f.ttl:
                    parts.append(f"ttl '{f.ttl}'")
            if f.cache_type:
                parts.append(f"cachetype {f.cache_type}")
                # SIZE is echoed when it was declared
                # (sql_complex_test.go:327-363 ShowCreateTableCacheTypes:
                # "speciesid id cachetype ranked size 1000")
                if f.cache_size:
                    parts.append(f"size {f.cache_size}")
            if f.foreign_index:
                parts.append(f"references {f.foreign_index} (_id)")
            cols.append(" ".join(parts))
        # the reference terminates the reconstructed DDL with ';'
        # (sql_complex_test.go:305-326)
        return f"create table {name} ({', '.join(cols)});"

    # -- CREATE VIEW (compilecreateview.go:14-60 — stores SQL text,
    #    re-compiled on use; Spark temp views do exactly this)

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        if name in self._views and not replace:
            raise ValueError(f"view {name} exists")
        self.spark.sql(sql_text).createOrReplaceTempView(self._view(name))
        self._views[name] = sql_text

    def drop_view(self, name: str) -> None:
        self.spark.catalog.dropTempView(self._view(name))
        self._views.pop(name, None)

    # -- SHOW / system tables (opsystemtable.go, opfeaturebasetables.go)

    def fb_tables(self) -> DataFrame:
        rows = [
            SparkRow(
                name=n,
                keys=td.keys,
                track_existence=td.track_existence,
                n_columns=len(td.fields) + 1,
            )
            for n, td in sorted(self._defs.items())
        ]
        if not rows:
            return self.spark.createDataFrame(
                [], "name STRING, keys BOOLEAN, track_existence BOOLEAN, n_columns INT"
            )
        return self.spark.createDataFrame(rows)

    def fb_columns(self, table: str) -> DataFrame:
        td = self._defs[table]
        rows = [SparkRow(table=table, name="_id", fb_type="id", keys=td.keys)]
        rows += [
            SparkRow(table=table, name=f.name, fb_type=f.fb_type, keys=f.keys)
            for f in td.fields
        ]
        return self.spark.createDataFrame(rows)

    # -- SHOW wire shapes (the reference's WireQueryField schemas,
    #    sql_complex_test.go:242-431; the raw fb_* system tables above
    #    keep their richer planner-facing shapes)

    _SHOW_TABLES_SCHEMA = (
        "_id STRING, name STRING, owner STRING, updated_by STRING, "
        "created_at TIMESTAMP, updated_at TIMESTAMP, keys BOOLEAN, "
        "space_used BIGINT, description STRING"
    )
    _SHOW_COLUMNS_SCHEMA = (
        "_id STRING, name STRING, type STRING, created_at TIMESTAMP, "
        "keys BOOLEAN, cache_type STRING, cache_size BIGINT, "
        "scale BIGINT, min BIGINT, max BIGINT, timeunit STRING, "
        "epoch BIGINT, timequantum STRING, ttl STRING"
    )
    _SHOW_DATABASES_SCHEMA = (
        "_id STRING, name STRING, owner STRING, updated_by STRING, "
        "created_at TIMESTAMP, updated_at TIMESTAMP, units BIGINT, "
        "description STRING"
    )

    #: names served under SHOW TABLES WITH SYSTEM (opsystemtable.go
    #: registers these as ordinary tables; the SELECT door shares them)
    _SYSTEM_TABLE_NAMES = (
        "fb_tables", "fb_views", "fb_databases", "fb_exec_requests",
        "fb_performance_counters", "fb_database_info", "fb_cluster_info",
        "fb_database_nodes", "fb_cluster_nodes",
    )

    def show_tables_wire(self, with_system: bool = False) -> DataFrame:
        from datetime import datetime

        epoch = datetime(1970, 1, 1)
        rows = [
            (n, n, "", "", self._created_at.get(n, epoch),
             self._created_at.get(n, epoch), td.keys, 0, "")
            for n, td in sorted(self._defs.items())
        ]
        if with_system:
            rows += [
                (n, n, "", "", epoch, epoch, False, 0, "")
                for n in self._SYSTEM_TABLE_NAMES
            ]
        return self.spark.createDataFrame(rows, self._SHOW_TABLES_SCHEMA)

    def show_columns_wire(self, table: str) -> DataFrame:
        from datetime import datetime

        td = self._defs[table]
        created = self._created_at.get(table, datetime(1970, 1, 1))
        rows = [
            ("_id", "_id", "string" if td.keys else "id", created,
             td.keys, "", 0, 0, 0, 0, "", 0, "", "")
        ]
        for f in td.fields:
            tname = f.fb_type
            if tname == "decimal":
                tname = f"decimal({f.scale})"
            rows.append((
                f.name, f.name, tname, created, f.keys,
                f.cache_type or "", f.cache_size or 0, f.scale,
                int(f.min) if f.min is not None else 0,
                int(f.max) if f.max is not None else 0,
                f.time_unit or "", 0, f.time_quantum or "", f.ttl or "",
            ))
        return self.spark.createDataFrame(rows, self._SHOW_COLUMNS_SCHEMA)

    def show_databases_wire(self) -> DataFrame:
        """SHOW DATABASES in the reference wire shape. A fresh deployment
        lists nothing (sql_complex_test.go:216-241 expects 0 rows on
        on-prem); databases created through CREATE DATABASE appear."""
        from datetime import datetime

        epoch = datetime(1970, 1, 1)
        rows = [
            (db.name, db.name, "", "", epoch, epoch, 0, "")
            for db in self.spark.catalog.listDatabases()
            if db.name != "default"
        ]
        return self.spark.createDataFrame(
            rows, self._SHOW_DATABASES_SCHEMA
        )

    def fb_database_info(self) -> DataFrame:
        """``fb_database_info`` (alias ``fb_cluster_info`` —
        opsystemtable.go:22-54,69-113): deployment-level metadata. On
        Spark the "database" is the session's cluster; node_count is the
        executor count (1 driver-only in local mode — local[*] is a
        cluster of one), platform/versions come from the session."""
        import platform as _plat

        sc = self.spark.sparkContext
        try:
            n_exec = max(
                1, sc._jsc.sc().getExecutorMemoryStatus().size() - 1
            )
        except Exception:
            n_exec = 1
        row = SparkRow(
            id=sc.applicationId,
            name=sc.appName,
            platform=f"spark/{_plat.system().lower()}",
            platform_version=sc.version,
            db_version=sc.version,
            state="RUNNING",
            node_count=n_exec,
            replica_count=1,
        )
        return self.spark.createDataFrame([row])

    def fb_cluster_info(self) -> DataFrame:
        return self.fb_database_info()

    def fb_database_nodes(self) -> DataFrame:
        """``fb_database_nodes`` (alias ``fb_cluster_nodes`` —
        opsystemtable.go:115-160): one row per node. Spark's analogue is
        the executor set; in local mode the driver doubles as the single
        executor (is_primary = the driver)."""
        import os

        sc = self.spark.sparkContext
        master = sc.master
        rows = [
            SparkRow(
                id="node0",
                type="driver+executor" if master.startswith("local")
                else "driver",
                state="STARTED",
                uri=master,
                grpc_uri=sc.uiWebUrl or "",
                is_primary=True,
                space_used=_dir_bytes(self._data_path)
                if os.path.isdir(self._data_path) else 0,
                nodeid=sc.applicationId,
            )
        ]
        return self.spark.createDataFrame(rows)

    def fb_cluster_nodes(self) -> DataFrame:
        return self.fb_database_nodes()

    def fb_databases(self) -> DataFrame:
        """SHOW DATABASES (opfeaturebasedatabases.go) — Spark catalogs/
        databases visible to this session."""
        rows = [
            SparkRow(name=db.name, catalog=db.catalog or "spark_catalog")
            for db in self.spark.catalog.listDatabases()
        ]
        return self.spark.createDataFrame(rows)

    _EXEC_REQUESTS_SCHEMA = (
        "nodeid STRING, request_id STRING, user STRING, "
        "start_time TIMESTAMP, end_time TIMESTAMP, status STRING, "
        "wait_type STRING, wait_time BIGINT, wait_resource STRING, "
        "cpu_time BIGINT, elapsed_time BIGINT, reads BIGINT, "
        "writes BIGINT, logical_reads BIGINT, row_count BIGINT, "
        "sql STRING, plan STRING"
    )

    def fb_exec_requests(self) -> DataFrame:
        """``fb_exec_requests`` in the reference's 17-column wire shape
        (opsystemtable.go:1-673; schema pinned by
        sql_complex_test.go:74-106). Rows come from Spark's public job
        status tracker — one per active job (idle session → empty
        frame). Wait/IO accounting is coordinator-internal in the
        reference; Spark's public tracker does not expose it, so those
        columns carry zero/empty with the wire types intact."""
        from datetime import datetime

        sc = self.spark.sparkContext
        st = sc.statusTracker()
        node = sc.applicationId
        epoch = datetime(1970, 1, 1)
        rows = []
        for jid in sorted(st.getActiveJobsIds()):
            info = st.getJobInfo(jid)
            if info is not None:
                rows.append((
                    node, str(jid), "", epoch, None,
                    str(info.status).lower(), "", 0, "", 0, 0, 0, 0, 0,
                    0, "", f"stages={len(info.stageIds)}",
                ))
        return self.spark.createDataFrame(
            rows, self._EXEC_REQUESTS_SCHEMA
        )

    _PERF_COUNTERS_SCHEMA = (
        "nodeid STRING, namespace STRING, subsystem STRING, "
        "counter_name STRING, value BIGINT, counter_type BIGINT"
    )

    def fb_performance_counters(self) -> DataFrame:
        """``fb_performance_counters`` in the reference's 6-column wire
        shape (opsystemtable.go; schema pinned by
        sql_complex_test.go:53-72). Counter values come from Spark's
        public status tracker + context — the reference's
        goroutine/memstats counters are runtime-specific and documented
        n/a (COVERAGE.md); counter_type 0 = gauge."""
        import time as _time

        sc = self.spark.sparkContext
        st = sc.statusTracker()
        node = sc.applicationId
        counters = [
            ("scheduler", "active_jobs", len(st.getActiveJobsIds())),
            ("scheduler", "active_stages", len(st.getActiveStageIds())),
            ("scheduler", "default_parallelism", sc.defaultParallelism),
            ("runtime", "uptime_ms",
             int(_time.time() * 1000) - sc.startTime),
        ]
        return self.spark.createDataFrame(
            [(node, "spark", sub, name, int(v), 0)
             for sub, name, v in counters],
            self._PERF_COUNTERS_SCHEMA,
        )

    def fb_views(self) -> DataFrame:
        if not self._views:
            return self.spark.createDataFrame([], "name STRING, statement STRING")
        return self.spark.createDataFrame(
            [SparkRow(name=n, statement=s) for n, s in sorted(self._views.items())]
        )

    def show_tables(self) -> list[str]:
        return sorted(self._defs)

    def show_columns(self, table: str) -> list[str]:
        return ["_id"] + [f.name for f in self._defs[table].fields]
