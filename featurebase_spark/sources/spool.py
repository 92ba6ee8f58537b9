"""File-backed idk Source harness: the reference consumer loop contract
executed end-to-end in a container with no brokers.

The reference's ingest daemon (idk/ingest.go:222-560) is a loop over a
``Source`` interface: ``Record()`` yields one record at a time with its
offset; records accumulate into a batch; the batch is IMPORTED (fragment
merge under the write Tx); and only after the import succeeds are the
source offsets COMMITTED (commit-after-import — crash between the two
replays the batch, and the key-upsert import makes the replay idempotent,
so the pipeline is effectively exactly-once in table state).

:class:`SpoolSource` implements that contract over a spool directory of
offset-ordered NDJSON files — the same shape as a single Kafka topic
partition (files = segments, line index = offset, committed-offset file =
consumer-group commit). :func:`consume_spool` is the ingest.go main loop
driving ``Catalog.insert``: batch → key-translate → bucketed fragment
merge → index maintenance → offset commit AFTER import, with a
fail-injection hook to kill the consumer between import and commit.

At scale the spool directory is any shared filesystem/object store; each
partition directory gets its own consumer, exactly like one idk worker
per Kafka partition.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Callable, Iterator, Optional

from pyspark.sql import SparkSession


class ConsumerKilled(RuntimeError):
    """Raised by the fail-injection hook to simulate a consumer crash."""


class SpoolSource:
    """Offset-ordered NDJSON spool directory as an idk ``Source``.

    Files are consumed in sorted name order; the global offset of a
    record is its 0-based index across that ordering. The committed
    offset (next offset to read) persists in ``<group_dir>/offset`` and
    is advanced ONLY via :meth:`commit` — an atomic tmp+rename so a kill
    mid-commit leaves the previous committed offset intact (the broker
    analogue: consumer-group commit is atomic on the coordinator)."""

    def __init__(self, spool_dir: str, group_dir: Optional[str] = None):
        self.spool_dir = spool_dir
        self.group_dir = group_dir or os.path.join(spool_dir, "_consumer_group")
        os.makedirs(self.group_dir, exist_ok=True)
        #: segment file name -> its record count, filled when a read
        #: reaches the segment's end (segments are immutable once visible)
        self._counts: dict[str, int] = {}

    # -- producer side (tests / simulated topic) --

    def append_segment(self, records: list) -> str:
        """Write one offset-ordered segment file (a producer batch)."""
        n = len(
            [f for f in os.listdir(self.spool_dir) if f.endswith(".ndjson")]
        )
        path = os.path.join(self.spool_dir, f"{n:08d}.ndjson")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        os.replace(tmp, path)  # segment becomes visible atomically
        return path

    # -- Source contract (idk/interfaces.go Source) --

    def committed_offset(self) -> int:
        """Next offset to consume (0 if the group never committed)."""
        p = os.path.join(self.group_dir, "offset")
        if not os.path.exists(p):
            return 0
        with open(p) as fh:
            return int(fh.read().strip())

    def commit(self, next_offset: int) -> None:
        """CommitOffsets — atomic tmp+rename, called AFTER import."""
        p = os.path.join(self.group_dir, "offset")
        fd, tmp = tempfile.mkstemp(dir=self.group_dir)
        with os.fdopen(fd, "w") as fh:
            fh.write(str(next_offset))
        os.replace(tmp, p)

    def records(self, from_offset: Optional[int] = None) -> Iterator[tuple]:
        """Record() loop: yields (offset, record_dict) from ``from_offset``
        (default: the committed offset) across all visible segments.
        A segment whose records all lie before the start offset is
        skipped unopened once its record count is known, so a call costs
        O(records from the start offset), not O(all records spooled)."""
        start = self.committed_offset() if from_offset is None else from_offset
        off = 0
        for fname in sorted(os.listdir(self.spool_dir)):
            if not fname.endswith(".ndjson"):
                continue
            n = self._counts.get(fname)
            if n is not None and off + n <= start:
                off += n
                continue
            first = off
            with open(os.path.join(self.spool_dir, fname)) as fh:
                for line in fh:
                    if line.strip():
                        if off >= start:
                            yield off, json.loads(line)
                        off += 1
            self._counts[fname] = off - first


def consume_spool(
    spark: SparkSession,
    source: SpoolSource,
    catalog,
    table: str,
    schema: str,
    batch_size: int = 100,
    max_batches: Optional[int] = None,
    crash_before_commit_at_batch: Optional[int] = None,
    on_batch: Optional[Callable] = None,
) -> int:
    """The idk ingest main loop (idk/ingest.go:222-560) against a spool.

    Reads from the COMMITTED offset, accumulates ``batch_size`` records,
    imports the batch through ``Catalog.insert`` (key translation for
    string-keyed tables, O(touched-bucket) fragment merge, clear-then-set
    bitmap-index maintenance — the api.Import path), and THEN commits the
    source offset. ``crash_before_commit_at_batch=k`` raises
    :class:`ConsumerKilled` after the k-th batch's import but before its
    offset commit — the fail-injection point the at-least-once contract
    is defined by: a restarted consumer re-reads that batch and the
    upsert-by-key import absorbs the replay (no loss, no duplicates in
    table state). Returns the number of batches imported."""
    from pyspark.sql.types import StructType

    from featurebase_spark.operators.writes import literal_frame

    st = StructType.fromDDL(schema)
    names = [f.name for f in st.fields]
    batch: list = []
    next_offset = source.committed_offset()
    imported = 0

    def flush() -> None:
        nonlocal imported
        if not batch:
            return
        # intra-batch last-write-wins by offset: the reference batcher
        # applies records in arrival order, so a later record for the
        # same key overrides an earlier one WITHIN the batch too
        # (idk/ingest.go batching). Catalog.insert's dropDuplicates
        # picks an arbitrary winner, so dedupe here, deterministically.
        last: dict = {}
        for rec in batch:
            last[rec.get(names[0])] = rec
        # literal_frame, not createDataFrame: the batch becomes a
        # LocalRelation, so Catalog.insert's bucket routing runs on the
        # driver (no distinct job per batch) and the first batch's init
        # shuffle is sized to its touched buckets
        df = literal_frame(
            spark, [tuple(rec.get(n) for n in names) for rec in last.values()], st
        )
        catalog.insert(table, df)  # import FIRST (fragment merge)
        imported += 1
        if on_batch is not None:
            on_batch(imported, batch)
        if crash_before_commit_at_batch == imported:
            raise ConsumerKilled(
                f"killed after import of batch {imported}, before commit"
            )
        source.commit(next_offset)  # commit AFTER import
        batch.clear()

    for off, rec in source.records():
        batch.append(rec)
        next_offset = off + 1
        if len(batch) >= batch_size:
            flush()
            if max_batches is not None and imported >= max_batches:
                return imported
    flush()
    return imported
