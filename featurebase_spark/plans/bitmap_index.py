"""Bitmap-index library: FeatureBase's core storage idea as a *materialized
index table* on Spark.

The reference stores EVERY column value as a roaring bitmap of record IDs,
sharded into 2^20-record fragments ((index, field, view, shard) → bitmap,
fragment.go:30-80, shardwidth/helper.go:14), and answers
Count/Intersect/Union/Difference with vectorized bitmap kernels
(roaring/roaring.go). Here the same idea is a DataFrame:

    index_table(field) = (value, shard, bitmap BINARY, cardinality LONG)

- ``shard = _id >> shard_exp`` — the unit of parallelism, exactly the
  reference's shard (we default to 2^20 too).
- ``bitmap`` — a CONTAINER-ENCODED blob, roaring's core trick
  (roaring/containers_*.go): a 1-byte tag selects dense packed-bitset
  (tag 0) or sorted-uint32 array (tag 1) per fragment, whichever is
  smaller. A value that appears once in a 2^20 shard costs 5 bytes, not
  128 KB — so |values|×|shards| index tables stay small at real shard
  width even for mid-cardinality fields.
- Kernels (AND/OR/ANDNOT/XOR/popcount) run as Arrow-batched pandas UDFs:
  dense×dense pairs use SIMD bitwise ops, anything involving an array
  container uses vectorized sorted-set ops — the same dispatch roaring
  does per container pair.
- A whole And/Or/AndNot/XOr TREE evaluates in ONE groupBy(shard) pass:
  leaf fragments union into a (leaf, shard, bitmap) frame and the tree
  is folded per shard inside a single applyInPandas — one shuffle total,
  not one full-outer join + UDF per operand pair. This is the
  shard-parallel scatter/gather of executor.go:6449.

Why this exists on Spark at all: a bitmap index table is ~|distinct values|
× |shards| rows of kilobyte blobs — for a 100 TB base table with low-card
fields, that's gigabytes. Counting ``Intersect(Row(a=x), Row(b=y))`` from
the index touches ONLY those blobs: no base-table scan, no shuffle of row
data. It is the low-latency filtered-count niche the reference was built
for; every result is verifiable against the plain-DataFrame path (tests do).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional, Sequence, Union as TUnion

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_SHARD_EXP = 20  # reference ShardWidth = 1 << 20 (shardwidth/helper.go:14)

#: Container tags (first byte of every non-empty blob) — the full roaring
#: container set (roaring/containers_*.go): bitmap, array, AND run (RLE) —
#: dense CONSECUTIVE id ranges (auto-increment keys, recent-window views)
#: collapse to (start, length) pairs, the reference's run containers.
_DENSE = 0x00  # packed little-endian bitset
_ARRAY = 0x01  # sorted uint32 offsets
_RUN = 0x02  # (start uint32, length uint32) pairs, sorted, non-adjacent


def _active_spark():
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession")
    return s


def _pack(offsets: np.ndarray, assume_sorted: bool = False) -> bytes:
    """Offsets within a shard → the smaller of the two container encodings.
    Break-even at cardinality ≈ max_offset/32, exactly roaring's rule.
    ``assume_sorted``: skip the dedup-sort when the caller guarantees
    sorted-unique input (e.g. flatnonzero output) — np.unique's sort
    dominated the serving-path seal cost."""
    if len(offsets) == 0:
        return b""
    offs = np.asarray(offsets, dtype=np.int64)
    if not assume_sorted:
        offs = np.unique(offs)
    dense_bytes = (int(offs[-1]) >> 3) + 1
    array_bytes = 4 * len(offs)
    # run container: consecutive-id ranges collapse to (start, len) pairs
    breaks = np.flatnonzero(np.diff(offs) != 1)
    n_runs = len(breaks) + 1
    run_bytes = 8 * n_runs
    if run_bytes < array_bytes and run_bytes < dense_bytes:
        starts = np.concatenate(([0], breaks + 1))
        ends = np.concatenate((breaks, [len(offs) - 1]))
        pairs = np.empty(2 * n_runs, dtype="<u4")
        pairs[0::2] = offs[starts]
        pairs[1::2] = offs[ends] - offs[starts] + 1
        return bytes([_RUN]) + pairs.tobytes()
    if array_bytes < dense_bytes:
        return bytes([_ARRAY]) + offs.astype("<u4").tobytes()
    width = int(offs[-1]) + 1
    bits = np.zeros(width, dtype=np.uint8)
    bits[offs] = 1
    return bytes([_DENSE]) + np.packbits(bits, bitorder="little").tobytes()


def _unpack(blob: bytes) -> np.ndarray:
    """Either container encoding → sorted offset array."""
    if not blob:
        return np.empty(0, dtype=np.int64)
    blob = bytes(blob)
    if blob[0] == _ARRAY:
        return np.frombuffer(blob, dtype="<u4", offset=1).astype(np.int64)
    if blob[0] == _RUN:
        pairs = np.frombuffer(blob, dtype="<u4", offset=1).astype(np.int64)
        starts, lens = pairs[0::2], pairs[1::2]
        # expand all runs: arange over total length + per-run base offsets
        total = int(lens.sum())
        idx = np.repeat(starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
        return idx + np.arange(total, dtype=np.int64)
    bits = np.unpackbits(
        np.frombuffer(blob, dtype=np.uint8, offset=1), bitorder="little"
    )
    return np.flatnonzero(bits).astype(np.int64)


def _is_dense(blob: bytes) -> bool:
    return bool(blob) and blob[0] == _DENSE


def _popcount(blob: bytes) -> int:
    if not blob:
        return 0
    blob = bytes(blob)
    if blob[0] == _ARRAY:
        return (len(blob) - 1) // 4
    if blob[0] == _RUN:
        # O(runs): the run container's whole point
        return int(np.frombuffer(blob, dtype="<u4", offset=1)[1::2].sum())
    return int(
        np.unpackbits(
            np.frombuffer(blob, dtype=np.uint8, offset=1), bitorder="little"
        ).sum()
    )


def _align_dense(a: bytes, b: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Two DENSE payloads (tag stripped) zero-extended to a common width."""
    pa = np.frombuffer(a, dtype=np.uint8, offset=1)
    pb = np.frombuffer(b, dtype=np.uint8, offset=1)
    n = max(len(pa), len(pb))
    aa = np.zeros(n, dtype=np.uint8)
    bb = np.zeros(n, dtype=np.uint8)
    aa[: len(pa)] = pa
    bb[: len(pb)] = pb
    return aa, bb


def _both_dense(a: bytes, b: bytes) -> bool:
    return _is_dense(a) and _is_dense(b)


def bitmap_and(a: bytes, b: bytes) -> bytes:
    if not a or not b:
        return b""
    if _both_dense(a, b):
        aa, bb = _align_dense(a, b)
        return bytes([_DENSE]) + (aa & bb).tobytes()
    return _pack(np.intersect1d(_unpack(a), _unpack(b), assume_unique=True))


def bitmap_or(a: bytes, b: bytes) -> bytes:
    if not a:
        return bytes(b)
    if not b:
        return bytes(a)
    if _both_dense(a, b):
        aa, bb = _align_dense(a, b)
        return bytes([_DENSE]) + (aa | bb).tobytes()
    return _pack(np.union1d(_unpack(a), _unpack(b)))


def bitmap_andnot(a: bytes, b: bytes) -> bytes:
    if not a:
        return b""
    if not b:
        return bytes(a)
    if _both_dense(a, b):
        aa, bb = _align_dense(a, b)
        return bytes([_DENSE]) + (aa & ~bb).tobytes()
    return _pack(np.setdiff1d(_unpack(a), _unpack(b), assume_unique=True))


def bitmap_xor(a: bytes, b: bytes) -> bytes:
    if not a:
        return bytes(b)
    if not b:
        return bytes(a)
    if _both_dense(a, b):
        aa, bb = _align_dense(a, b)
        return bytes([_DENSE]) + (aa ^ bb).tobytes()
    return _pack(np.setxor1d(_unpack(a), _unpack(b), assume_unique=True))


INDEX_SCHEMA = StructType(
    [
        StructField("value", StringType(), True),
        StructField("shard", LongType(), False),
        StructField("bitmap", BinaryType(), True),
        StructField("cardinality", LongType(), False),
    ]
)


def build_bitmap_index(
    df: DataFrame,
    field: str,
    id_col: str = "_id",
    shard_exp: int = DEFAULT_SHARD_EXP,
) -> DataFrame:
    """Materialize the (value, shard) → bitmap fragment table for a field.

    One groupBy(value, shard) + applyInPandas pack — the exact shape of the
    reference's ingest-side fragment build (batch/batch.go builds per-shard
    roaring fragments client-side). Set (array) fields explode first.
    Values are stringified for a uniform index schema (the reference's key
    translation plays this role, translate.go).

    Scale: output rows = |values|×|touched shards|; write it partitioned by
    shard (or bucketed by value) and the count path never sees row data.
    """
    width_mask = (1 << shard_exp) - 1
    src = df
    col = F.col(field)
    if dict(df.dtypes)[field].startswith("array"):
        src = df.select(F.explode(field).alias(field), id_col)
        col = F.col(field)
    rows = src.select(
        col.cast("string").alias("value"),
        F.shiftright(F.col(id_col).cast("long"), shard_exp).alias("shard"),
        F.col(id_col).cast("long").bitwiseAND(F.lit(width_mask).cast("long")).alias("offset"),
    ).where(F.col("value").isNotNull())

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        offs = pdf["offset"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "value": [pdf["value"].iloc[0]],
                "shard": [pdf["shard"].iloc[0]],
                "bitmap": [_pack(offs)],
                "cardinality": [len(np.unique(offs))],
            }
        )

    return rows.groupBy("value", "shard").applyInPandas(pack_group, INDEX_SCHEMA)


# ---------------------------------------------------------------------------
# Bitmap expression tree over index tables
# ---------------------------------------------------------------------------


def _canon_value(v) -> str:
    """Spark's ``CAST(x AS STRING)`` rendering for the scalar types an Atom
    can carry — bools render lowercase ('true'/'false'), everything else
    matches ``str()``. Index fragments store values in this form
    (build_bitmap_index casts the column to string), so Atom identity must
    use it too: otherwise Atom('f', 12) and Atom('f', '12') are distinct
    Python objects that match the SAME fragment rows, and the exclusive
    CASE tag in _leaves_frame hands each row to only the first leaf."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


@dataclass(frozen=True)
class Atom:
    """Row(field=value) resolved against a bitmap index. The value is
    canonicalized to the cast-string form at construction so Python
    equality (leaf dedup, driver-cache keys) agrees with fragment
    matching."""

    field: str
    value: object

    def __post_init__(self):
        object.__setattr__(self, "value", _canon_value(self.value))


@dataclass(frozen=True)
class Cmp:
    """Row(field <op> value) resolved against a BSI index — the reference's
    BSI range decomposition (executeRowBSIGroupShard executor.go:5249-5356)."""

    field: str
    op: str  # < <= > >= == !=
    value: int

    def __post_init__(self):
        if self.op not in ("<", "<=", ">", ">=", "==", "!="):
            raise ValueError(self.op)


@dataclass(frozen=True)
class Op:
    kind: str  # and|or|andnot|xor
    children: tuple

    def __post_init__(self):
        if self.kind not in ("and", "or", "andnot", "xor"):
            raise ValueError(self.kind)


def And(*children) -> Op:
    return Op("and", tuple(children))


def Or(*children) -> Op:
    return Op("or", tuple(children))


def AndNot(*children) -> Op:
    return Op("andnot", tuple(children))


def XOr(*children) -> Op:
    return Op("xor", tuple(children))


BSI_SCHEMA = StructType(
    [
        StructField("bit", LongType(), False),  # -1 = existence plane
        StructField("shard", LongType(), False),
        StructField("bitmap", BinaryType(), True),
        StructField("cardinality", LongType(), False),
    ]
)


def build_bsi_index(
    df: DataFrame,
    field: str,
    id_col: str = "_id",
    shard_exp: int = DEFAULT_SHARD_EXP,
) -> tuple[DataFrame, int, int]:
    """Bit-sliced integer index: one bitmap per bit of (value - min), plus
    an existence plane (reference BSIData bsi.go:11-64, field.go:827-856;
    we offset-encode instead of sign+magnitude so every plane is a plain
    non-negative bit). Returns (frame, min_value, n_bits).

    Build = one min/max agg pass + one shuffle on shard; inside each shard
    the planes are packed vectorized (numpy) — same shape as the
    reference's client-side fragment build (batch/batch.go).
    """
    width_mask = (1 << shard_exp) - 1
    rows = df.select(
        F.col(field).cast("long").alias("val"),
        F.shiftright(F.col(id_col).cast("long"), shard_exp).alias("shard"),
        F.col(id_col).cast("long").bitwiseAND(F.lit(width_mask).cast("long")).alias("offset"),
    ).where(F.col("val").isNotNull())
    mm = rows.agg(F.min("val").alias("lo"), F.max("val").alias("hi")).first()
    if mm["lo"] is None:
        return df.sparkSession.createDataFrame([], BSI_SCHEMA), 0, 1
    minv = int(mm["lo"])
    span = int(mm["hi"]) - minv
    nbits = max(1, span.bit_length())

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        offs = pdf["offset"].to_numpy(dtype=np.int64)
        vals = pdf["val"].to_numpy(dtype=np.int64) - minv
        shard = int(pdf["shard"].iloc[0])
        out = {
            "bit": [-1],
            "shard": [shard],
            "bitmap": [_pack(offs)],
            "cardinality": [len(np.unique(offs))],
        }
        for b in range(nbits):
            sel = offs[(vals >> b) & 1 == 1]
            out["bit"].append(b)
            out["shard"].append(shard)
            out["bitmap"].append(_pack(sel))
            out["cardinality"].append(len(np.unique(sel)))
        return pd.DataFrame(out)

    return rows.groupBy("shard").applyInPandas(pack_shard, BSI_SCHEMA), minv, nbits


def _dense_bits(offs: np.ndarray, nbytes: int) -> np.ndarray:
    """Offsets → packed little-endian byte array of exactly ``nbytes``."""
    bits = np.zeros(nbytes * 8, dtype=np.uint8)
    if len(offs):
        bits[offs] = 1
    return np.packbits(bits, bitorder="little")


def _seal(arr: np.ndarray) -> bytes:
    """Packed dense byte array → container-encoded blob (re-choosing the
    cheaper encoding for the result). flatnonzero output is already
    sorted-unique, so the pack skips its dedup-sort."""
    offs = np.flatnonzero(np.unpackbits(arr, bitorder="little"))
    return _pack(offs, assume_sorted=True)


def _aligned_planes(pdf: pd.DataFrame) -> tuple[dict[int, np.ndarray], int]:
    """One shard's BSI rows → {bit: packed dense byte-array} at a common
    width (container blobs decoded; bit-descent math is dense bitwise)."""
    offsets = {
        int(b): _unpack(m) for b, m in zip(pdf["bit"], pdf["bitmap"])
    }
    nbytes = max(
        ((int(o[-1]) >> 3) + 1 for o in offsets.values() if len(o)), default=0
    )
    planes = {b: _dense_bits(o, nbytes) for b, o in offsets.items()}
    return planes, nbytes


def _bsi_cmp_shard(planes: dict[int, np.ndarray], nbits: int, op: str, val2: int) -> np.ndarray:
    """Per-shard BSI comparison via the classic bit-descent (the bitmap
    form of executeRowBSIGroupShard's range decomposition)."""
    exists = planes[-1]
    zero = np.zeros_like(exists)
    if val2 < 0:
        eq, gt, lt = zero, exists, zero
    elif val2 >= (1 << nbits):
        eq, gt, lt = zero, zero, exists
    else:
        eq, gt, lt = exists.copy(), zero.copy(), zero.copy()
        for b in range(nbits - 1, -1, -1):
            bm = planes.get(b, zero)
            if (val2 >> b) & 1:
                lt = lt | (eq & ~bm)
                eq = eq & bm
            else:
                gt = gt | (eq & bm)
                eq = eq & ~bm
    return {
        "==": eq,
        "!=": exists & ~eq,
        "<": lt,
        "<=": lt | eq,
        ">": gt,
        ">=": gt | eq,
    }[op]


def _compile_trees(trees: Sequence) -> tuple[list, list]:
    """Expression trees → (nested-tuple programs, deduped leaf list).
    Shared leaves (the same Atom/Cmp appearing in several trees of a
    multi-expression request) resolve to ONE leaf id — their fragments are
    scanned once, the reference's per-shard kernel batching
    (executor.go:6449-6830)."""
    leaves: list = []
    pos: dict = {}

    def walk(n):
        if isinstance(n, (Atom, Cmp)):
            if n not in pos:
                pos[n] = len(leaves)
                leaves.append(n)
            return ("leaf", pos[n])
        return (n.kind, tuple(walk(c) for c in n.children))

    return [walk(t) for t in trees], leaves


_KERNELS = {
    "and": bitmap_and,
    "or": bitmap_or,
    "andnot": bitmap_andnot,
    "xor": bitmap_xor,
}


def _dense_planes(raw: dict[int, bytes]) -> tuple[dict[int, np.ndarray], int]:
    """{bit: container blob} → ({bit: packed dense bytes}, nbytes)."""
    offsets = {b: _unpack(blob) for b, blob in raw.items()}
    nbytes = max(
        ((int(o[-1]) >> 3) + 1 for o in offsets.values() if len(o)),
        default=0,
    )
    return {b: _dense_bits(o, nbytes) for b, o in offsets.items()}, nbytes


def _cmp_blob(raw: Optional[dict[int, bytes]], op: str, val2: int, nbits: int) -> bytes:
    """One shard's BSI plane blobs → the comparison's result blob via bit
    descent. ``raw`` None/existence-free means the field has no values in
    the shard."""
    if not raw or -1 not in raw:
        return b""
    planes, _ = _dense_planes(raw)
    return _seal(_bsi_cmp_shard(planes, nbits, op, val2))


def _minmax_descend(
    planes: dict[int, np.ndarray], nbits: int, cand0: np.ndarray
) -> Optional[tuple[int, int]]:
    """(min, max) of the candidate rows, RELATIVE to the BSI offset (add
    minv outside) — the PivotDescending walk of bsi.go:18-64, both
    directions over one set of decoded planes."""
    if not cand0.any():
        return None
    zero = np.zeros_like(cand0)
    out = []
    for want_max in (False, True):
        cand, acc = cand0, 0
        for b in range(nbits - 1, -1, -1):
            bm = planes.get(b, zero)
            t = cand & bm if want_max else cand & ~bm
            if t.any():
                cand = t
                if want_max:
                    acc |= 1 << b
            elif not want_max:
                acc |= 1 << b
        out.append(acc)
    return out[0], out[1]


def _shard_leaf_blobs(pdf: pd.DataFrame, leaf_specs: list) -> dict[int, bytes]:
    """One shard's unified leaf rows → {leaf_id: container blob}. Atom
    leaves arrive as tagged fragment rows; Cmp leaves compute here from
    the shard's BSI plane rows via bit descent — INSIDE the single
    per-shard pass, so comparison leaves add zero extra shuffles."""
    blobs: dict[int, bytes] = {}
    planes_raw: dict[str, dict[int, bytes]] = {}
    for leaf, field, bit, bm in zip(
        pdf["leaf"], pdf["field"], pdf["bit"], pdf["bitmap"]
    ):
        blob = bytes(bm) if bm is not None else b""
        if pd.notna(leaf):
            blobs[int(leaf)] = blob
        else:
            planes_raw.setdefault(field, {})[int(bit)] = blob
    for i, spec in enumerate(leaf_specs):
        if spec[0] != "cmp":
            continue
        _, fld, op, val2, nbits = spec
        blobs[i] = _cmp_blob(planes_raw.get(fld), op, val2, nbits)
    return blobs


def _eval_tree(tree, blobs: dict[int, bytes]) -> bytes:
    if tree[0] == "leaf":
        return blobs.get(tree[1], b"")
    kern = _KERNELS[tree[0]]
    vals = [_eval_tree(c, blobs) for c in tree[1]]
    out = vals[0]
    for v in vals[1:]:
        out = kern(out, v)
    return out


class BsiRangeError(ValueError):
    """A BSI delta value falls outside the index's (min, nbits) encoding —
    callers rebuild the field index with a wider encoding (the reference
    widens bitDepth on import, field.go:856+)."""


class BitmapCatalog:
    """Registry of per-field bitmap index tables + the query router.

    The FeatureBase analogy: the holder's fragment store + the executor's
    per-shard kernel dispatch (executor.go:5357-5534), with Spark's shuffle
    layer as the scatter/gather. Build once per field with
    :meth:`index_field`; answer Count/ids of And/Or/AndNot/XOr trees of
    (field = value) atoms from blobs alone.

    Serving shape (the latency the index exists for): ANY batch of
    expression trees answers in ONE two-stage Spark job — a pruned scan
    of just the needed fragment rows (value-filtered equality fragments +
    the BSI planes of compared fields), one shuffle on shard, and a
    per-shard pandas kernel that materializes Cmp leaves and folds every
    tree, emitting per-shard COUNTS. Only counts cross back to the driver
    — the reference's scatter/gather (per-node shard counts merged at the
    coordinator, executor.go:6449-6830) — so the gather is O(shards), not
    O(data), at any scale.
    """

    #: Max shard count for which scalar queries may gather fragment blobs
    #: to the driver and evaluate there (the coordinator-eval / fragment-
    #: cache niche, cache.go:19-45). 256 shards × 2^20 ids ≈ a 268M-row
    #: table; worst-case gather is 256 × 128 KB = 32 MB per leaf. Beyond
    #: that the distributed scatter/gather (per-shard kernels, counts-only
    #: gather) serves — the 100 TB path.
    DRIVER_SHARD_LIMIT = 256

    def __init__(self, shard_exp: int = DEFAULT_SHARD_EXP):
        self.shard_exp = shard_exp
        self._indexes: dict[str, DataFrame] = {}
        self._bsi: dict[str, tuple[DataFrame, int, int]] = {}
        #: known shard count (set by save/load) — gates the driver path
        self.n_shards: Optional[int] = None
        # driver-side fragment LRU: key ("eq", Atom) → {shard: blob};
        # key ("bsi", field) → {shard: {bit: blob}} — the reference keeps
        # exactly this per-fragment row cache (cache.go:19-45); repeated
        # queries over hot values never touch storage again
        from collections import OrderedDict

        self._frag_cache: "OrderedDict[tuple, dict]" = OrderedDict()
        self._frag_cache_bytes = 0
        self.frag_cache_cap = 64 << 20
        # decoded dense-plane LRU: (field, shard) → ({bit: dense bits},
        # nbytes). A BSI Cmp must unpack every plane container to dense
        # bits before the bit descent — the percentile binary search
        # issues O(nbits) Cmp counts against the SAME planes, so caching
        # the decoded form makes each probe a pure numpy descent instead
        # of a re-unpack (the reference's fragments are already decoded
        # in-process; this mirrors that). Invalidated with the field.
        self._dense_cache: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._dense_cache_bytes = 0
        self.dense_cache_cap = 128 << 20
        # DRIVER-LOCAL small-index tier: field → {(value|bit, shard): blob}.
        # The reference holds every fragment in-process and merges imports
        # there (fragment.go, under the shard write Tx); for indexes under
        # SMALL_INDEX_ROWS fragment rows we do the same — maintenance is
        # pure numpy (no Spark job), serving is pure driver kernels, and
        # the frame registered for distributed consumers is a
        # LocalRelation over the same blobs. Fields spill back to the
        # distributed tier when they outgrow the cap.
        self._eq_local: dict[str, dict] = {}
        self._bsi_local: dict[str, dict] = {}

    #: fragment-row cap for the driver-local tier
    SMALL_INDEX_ROWS = 4096
    #: delta-row cap for the in-process merge fast path
    SMALL_DELTA_ROWS = 2048

    # -- driver-side fragment gather + eval (the low-latency serving path)

    def _driver_ok(self, mode: str, leaves: Optional[Sequence] = None) -> bool:
        if mode == "driver":
            return True
        if mode != "auto":
            return False
        if (
            self.n_shards is not None
            and self.n_shards <= self.DRIVER_SHARD_LIMIT
        ):
            return True
        return leaves is not None and self._leaves_local(leaves)

    def _leaves_local(self, leaves: Sequence) -> bool:
        """True iff every leaf's field lives in the driver-local tier."""
        ok = False
        for lf in leaves:
            if isinstance(lf, Atom):
                if lf.field not in self._eq_local:
                    return False
            elif isinstance(lf, Cmp):
                if lf.field not in self._bsi_local:
                    return False
            else:
                return False
            ok = True
        return ok

    def _bsi_leaves(self, field: str, filter_node) -> list:
        """Leaf list representing a BSI aggregate call (the field plus the
        filter's leaves) — for locality gating."""
        leaves = [Cmp(field, "==", 0)]
        if filter_node is not None:
            _, fl = _compile_trees([filter_node])
            leaves += list(fl)
        return leaves

    def is_local(self, field: str) -> bool:
        return field in self._eq_local or field in self._bsi_local

    def try_localize(self, field: str) -> bool:
        """Adopt a small field index into the driver-local tier: collect
        its fragment rows (cheap off a pinned frame), keep them as a blob
        dict + a LocalRelation frame. Returns False (state untouched)
        when the index exceeds SMALL_INDEX_ROWS."""
        is_bsi = field in self._bsi
        frame = self._bsi[field][0] if is_bsi else self._indexes[field]
        rows = frame.limit(self.SMALL_INDEX_ROWS + 1).collect()
        if len(rows) > self.SMALL_INDEX_ROWS:
            return False
        key = "bit" if is_bsi else "value"
        d = {
            (r[key], int(r["shard"])): bytes(r["bitmap"])
            if r["bitmap"] is not None
            else b""
            for r in rows
        }
        self._adopt_local(field, d, is_bsi, frame.sparkSession)
        return True

    def _adopt_local(self, field: str, d: dict, is_bsi: bool, spark) -> None:
        frame = self._local_relation(d, is_bsi, spark)
        if is_bsi:
            _, minv, nbits = self._bsi[field]
            self._bsi[field] = (frame, minv, nbits)
            self._bsi_local[field] = d
            self._eq_local.pop(field, None)
        else:
            self._indexes[field] = frame
            self._eq_local[field] = d
            self._bsi_local.pop(field, None)
        self._invalidate_field(field)

    @staticmethod
    def _local_relation(d: dict, is_bsi: bool, spark) -> DataFrame:
        """The dict's fragments as a LocalRelation DataFrame — the form
        every distributed consumer (joins, groupBys, the one-shuffle
        serving path) reads; no lineage, nothing to pin. Built from an
        Arrow table: ``createDataFrame`` of a Python list builds a
        ``LogicalRDD`` in a classic session, whose every collect runs a
        defaultParallelism-task Python job; the Arrow table becomes a
        LocalRelation (collect with no job), whatever the session's
        Arrow conf."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = BSI_SCHEMA if is_bsi else INDEX_SCHEMA
        items = sorted(d.items(), key=lambda kv: str(kv[0]))
        cols = (
            [k for (k, _), _ in items],
            [int(s) for (_, s), _ in items],
            [blob for _, blob in items],
            [_popcount(blob) for _, blob in items],
        )
        table = pa.Table.from_pydict(
            dict(zip(schema.names, cols)), schema=to_arrow_schema(schema)
        )
        return spark.createDataFrame(table, schema)

    def _spill_local(self, field: str) -> None:
        """Drop the dict (the LocalRelation frame stays valid) — the field
        returns to the distributed tier."""
        self._eq_local.pop(field, None)
        self._bsi_local.pop(field, None)

    def _invalidate_field(self, field: str) -> None:
        """Drop the driver cache's entries for a field — REQUIRED whenever
        the field's index frame changes (re-index, incremental
        update_field), or the cache would serve pre-update fragments."""
        stale = [
            k
            for k in self._frag_cache
            if (k[0] == "eq" and k[1].field == field)
            or (k[0] == "bsi" and k[1] == field)
        ]
        for k in stale:
            old = self._frag_cache.pop(k)
            self._frag_cache_bytes -= sum(
                len(b) if isinstance(b, bytes) else sum(len(x) for x in b.values())
                for b in old.values()
            )
        for k in [k for k in self._dense_cache if k[0] == field]:
            _, nbytes = self._dense_cache.pop(k)
            self._dense_cache_bytes -= nbytes

    def _cache_put(self, key: tuple, entry: dict, nbytes: int) -> None:
        self._frag_cache[key] = entry
        self._frag_cache_bytes += nbytes
        while self._frag_cache_bytes > self.frag_cache_cap and len(self._frag_cache) > 1:
            _, old = self._frag_cache.popitem(last=False)
            self._frag_cache_bytes -= sum(
                len(b) if isinstance(b, bytes) else sum(len(x) for x in b.values())
                for b in old.values()
            )

    def _gather(
        self, atoms: Sequence[Atom], bsi_fields: Sequence[str]
    ) -> tuple[dict, dict]:
        """Fetch the fragment blobs the leaves need into the driver cache
        (ONE pruned single-stage scan for all misses — no shuffle) and
        return ({Atom: {shard: blob}}, {field: {shard: {bit: blob}}})."""
        atoms = list(dict.fromkeys(atoms))
        bsi_fields = list(dict.fromkeys(bsi_fields))
        missing_atoms = [a for a in atoms if ("eq", a) not in self._frag_cache]
        missing_fields = [
            f for f in bsi_fields if ("bsi", f) not in self._frag_cache
        ]
        # driver-local fields fill their cache entries straight from the
        # in-process blob dicts — no scan at all
        for a in list(missing_atoms):
            d = self._eq_local.get(a.field)
            if d is not None:
                entry = {
                    s: blob for (v, s), blob in d.items() if v == a.value
                }
                self._cache_put(
                    ("eq", a), entry, sum(len(b) for b in entry.values())
                )
                missing_atoms.remove(a)
        for f in list(missing_fields):
            d = self._bsi_local.get(f)
            if d is not None:
                entry: dict[int, dict] = {}
                for (bit, s), blob in d.items():
                    entry.setdefault(int(s), {})[int(bit)] = blob
                self._cache_put(
                    ("bsi", f),
                    entry,
                    sum(len(b) for x in entry.values() for b in x.values()),
                )
                missing_fields.remove(f)
        if missing_atoms or missing_fields:
            probe_leaves: list = list(missing_atoms) + [
                Cmp(f, "==", 0) for f in missing_fields
            ]
            rows = self._leaves_frame(probe_leaves).collect()
            new_atoms: dict[Atom, dict] = {a: {} for a in missing_atoms}
            new_planes: dict[str, dict] = {f: {} for f in missing_fields}
            for r in rows:
                blob = bytes(r["bitmap"]) if r["bitmap"] is not None else b""
                if r["leaf"] is not None:
                    new_atoms[missing_atoms[int(r["leaf"])]][int(r["shard"])] = blob
                else:
                    new_planes[r["field"]].setdefault(int(r["shard"]), {})[
                        int(r["bit"])
                    ] = blob
            for a, entry in new_atoms.items():
                self._cache_put(("eq", a), entry, sum(len(b) for b in entry.values()))
            for f, entry in new_planes.items():
                self._cache_put(
                    ("bsi", f),
                    entry,
                    sum(len(b) for d in entry.values() for b in d.values()),
                )
        for a in atoms:
            self._frag_cache.move_to_end(("eq", a))
        for f in bsi_fields:
            self._frag_cache.move_to_end(("bsi", f))
        return (
            {a: self._frag_cache[("eq", a)] for a in atoms},
            {f: self._frag_cache[("bsi", f)] for f in bsi_fields},
        )

    def _driver_leaf_blobs(self, leaves: list, specs: list):
        """Gather every leaf's fragments and return (shard_set, fn) where
        ``fn(shard) -> {leaf_id: blob}``."""
        atoms = [lf for lf in leaves if isinstance(lf, Atom)]
        fields = sorted({lf.field for lf in leaves if isinstance(lf, Cmp)})
        eq, planes = self._gather(atoms, fields)
        shards: set[int] = set()
        for d in eq.values():
            shards |= set(d)
        for d in planes.values():
            shards |= set(d)

        def blobs_for(shard: int) -> dict[int, bytes]:
            out: dict[int, bytes] = {}
            for i, lf in enumerate(leaves):
                if isinstance(lf, Atom):
                    out[i] = eq[lf].get(shard, b"")
                else:
                    spec = specs[i]
                    dense = self._dense_planes_for(
                        lf.field, shard, planes[lf.field].get(shard)
                    )
                    out[i] = (
                        b""
                        if dense is None
                        else _seal(
                            _bsi_cmp_shard(dense, spec[4], spec[2], spec[3])
                        )
                    )
            return out

        return shards, blobs_for

    def _dense_planes_for(self, field: str, shard: int, raw):
        """Decoded dense planes for one (field, shard), LRU-cached —
        None when the shard has no values of the field."""
        key = (field, shard)
        hit = self._dense_cache.get(key)
        if hit is None:
            if not raw or -1 not in raw:
                hit = (None, 0)
            else:
                dense, _ = _dense_planes(raw)
                hit = (dense, sum(a.nbytes for a in dense.values()))
            self._dense_cache[key] = hit
            self._dense_cache_bytes += hit[1]
            while (
                self._dense_cache_bytes > self.dense_cache_cap
                and len(self._dense_cache) > 1
            ):
                _, (_, nb) = self._dense_cache.popitem(last=False)
                self._dense_cache_bytes -= nb
        else:
            self._dense_cache.move_to_end(key)
        return hit[0]

    def _driver_filter_fn(self, node):
        """Filter tree → ``fn(shard) -> blob | None`` evaluated from the
        driver cache (None = no filter)."""
        if node is None:
            return None
        compiled, leaves = _compile_trees([node])
        specs = self._leaf_specs(leaves)
        _, blobs_for = self._driver_leaf_blobs(leaves, specs)
        return lambda shard: _eval_tree(compiled[0], blobs_for(shard))

    def index_field(
        self, df: DataFrame, field: str, id_col: str = "_id", cache: bool = True
    ) -> DataFrame:
        idx = build_bitmap_index(df, field, id_col, self.shard_exp)
        if cache:
            idx = idx.cache()
        self._spill_local(field)  # a full rebuild supersedes the local tier
        self._invalidate_field(field)
        self._indexes[field] = idx
        return idx

    def index_bsi_field(
        self, df: DataFrame, field: str, id_col: str = "_id", cache: bool = True
    ) -> DataFrame:
        """Register an int field as a BSI index (field.go:827-856)."""
        frame, minv, nbits = build_bsi_index(df, field, id_col, self.shard_exp)
        if cache:
            frame = frame.cache()
        self._spill_local(field)  # a full rebuild supersedes the local tier
        self._invalidate_field(field)
        self._bsi[field] = (frame, minv, nbits)
        return frame

    def _atom_frame(self, atom: Atom) -> DataFrame:
        # Compare under the same cast('string') rule build_bitmap_index used
        # to store values (Python str(True) = 'True' but Spark renders
        # 'true'; lit().cast keeps the two sides consistent).
        idx = self._indexes[atom.field]
        return idx.where(
            F.col("value") == F.lit(atom.value).cast("string")
        ).select("shard", "bitmap")

    def _leaf_specs(self, leaves: list) -> list:
        specs = []
        for lf in leaves:
            if isinstance(lf, Atom):
                specs.append(("atom",))
            else:
                _, minv, nbits = self._bsi[lf.field]
                specs.append(("cmp", lf.field, lf.op, int(lf.value) - minv, nbits))
        return specs

    def _leaves_frame(self, leaves: list) -> DataFrame:
        """Union the fragment rows every leaf needs into ONE unified frame
        (leaf, field, bit, shard, bitmap). Atom leaves on the same field
        share a single value-filtered scan (an `IN` filter + CASE tag —
        pushed to the parquet footer on a persisted index, so only the
        needed fragments' row groups are read); Cmp leaves pull their
        field's BSI plane rows once, untagged (the per-shard kernel
        derives every comparison on that field from the same planes)."""
        from collections import defaultdict
        from functools import reduce as _reduce

        frames: list[DataFrame] = []
        atoms_by_field: dict[str, list] = defaultdict(list)
        for i, lf in enumerate(leaves):
            if isinstance(lf, Atom):
                atoms_by_field[lf.field].append((i, lf))
        for f, items in atoms_by_field.items():
            idx = self._indexes[f]
            filt = None
            tag = None
            for i, lf in items:
                # match under the same cast('string') rule the build used
                c = F.col("value") == F.lit(lf.value).cast("string")
                filt = c if filt is None else (filt | c)
                tag = F.when(c, F.lit(i)) if tag is None else tag.when(c, F.lit(i))
            frames.append(
                idx.where(filt).select(
                    tag.cast("long").alias("leaf"),
                    F.lit(None).cast("string").alias("field"),
                    F.lit(None).cast("long").alias("bit"),
                    F.col("shard").cast("long").alias("shard"),
                    "bitmap",
                )
            )
        for f in sorted({lf.field for lf in leaves if isinstance(lf, Cmp)}):
            frame, _, _ = self._bsi[f]
            frames.append(
                frame.select(
                    F.lit(None).cast("long").alias("leaf"),
                    F.lit(f).alias("field"),
                    F.col("bit").cast("long").alias("bit"),
                    F.col("shard").cast("long").alias("shard"),
                    "bitmap",
                )
            )
        return _reduce(lambda a, b: a.unionByName(b), frames)

    def _eval(self, node) -> DataFrame:
        """Evaluate an expression tree to a (shard, bitmap) frame.

        The WHOLE tree folds in one groupBy(shard) pass: every leaf's
        fragment rows union into the unified leaf frame and one
        applyInPandas per shard materializes Cmp leaves (bit descent over
        the shard's planes) and folds the tree — one shuffle total,
        regardless of operator or comparison count (the reference
        batches all fragment kernels of a shard in one mapper call,
        executor.go:6449-6830)."""
        if isinstance(node, Atom):
            return self._atom_frame(node)
        compiled, leaves = _compile_trees([node])
        tree = compiled[0]
        specs = self._leaf_specs(leaves)
        allf = self._leaves_frame(leaves)

        def eval_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            blobs = _shard_leaf_blobs(pdf, specs)
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "bitmap": [_eval_tree(tree, blobs)],
                }
            )

        return allf.groupBy("shard").applyInPandas(
            eval_shard, "shard LONG, bitmap BINARY"
        )

    def counts(self, nodes: Sequence, mode: str = "auto") -> list[int]:
        """Cardinalities of a BATCH of expressions — the serving path.

        Small index (≤ :data:`DRIVER_SHARD_LIMIT` shards, known after
        save/load): leaf fragments gather once into the driver's fragment
        LRU (ONE single-stage pruned scan per cache miss, no shuffle) and
        every tree folds in numpy on the driver — repeated queries over
        hot values are pure in-memory kernel calls, the reference's
        fragment-cache serving latency (cache.go:19-45).

        Large index: one two-stage Spark job — pruned scan of exactly the
        needed fragment rows, one shuffle on shard, per-shard kernels fold
        every tree and emit per-shard COUNTS; the driver sums them — the
        reference's scatter/gather where only per-shard counts reach the
        coordinator (executeCount executor.go:5839, gather :6449-6830).
        The gather is O(n_shards × n_trees) longs, never blobs, at any
        scale. ``mode``: 'auto' | 'driver' | 'distributed'."""
        compiled, leaves = _compile_trees(list(nodes))
        specs = self._leaf_specs(leaves)
        if self._driver_ok(mode, leaves):
            shards, blobs_for = self._driver_leaf_blobs(leaves, specs)
            out = [0] * len(compiled)
            for s in shards:
                blobs = blobs_for(s)
                for q, t in enumerate(compiled):
                    out[q] += _popcount(_eval_tree(t, blobs))
            return out
        allf = self._leaves_frame(leaves)
        ntrees = len(compiled)

        def count_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            blobs = _shard_leaf_blobs(pdf, specs)
            return pd.DataFrame(
                {
                    "q": list(range(ntrees)),
                    "n": [
                        _popcount(_eval_tree(t, blobs)) for t in compiled
                    ],
                }
            )

        rows = allf.groupBy("shard").applyInPandas(
            count_shard, "q LONG, n LONG"
        ).collect()
        out = [0] * ntrees
        for r in rows:
            out[int(r["q"])] += int(r["n"])
        return out

    def count(self, node) -> int:
        """Cardinality of the bitmap expression — touches only index blobs
        (reference executeCount over fragment bitmaps, executor.go:5839)."""
        return self.counts([node])[0]

    def count_many(self, nodes: Sequence) -> list[int]:
        """Back-compat alias of :meth:`counts` (multi-call PQL request,
        executor.go:183-489)."""
        return self.counts(nodes)

    def ids(self, node) -> DataFrame:
        """Materialize the record IDs of a bitmap expression (shard-parallel
        unpack — the Extract path back to row space)."""
        frame = self._eval(node)
        exp = self.shard_exp

        def unpack_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for shard, blob in zip(pdf["shard"], pdf["bitmap"]):
                    offs = _unpack(bytes(blob) if blob is not None else b"")
                    if len(offs):
                        out.append((int(shard) << exp) + offs)
                yield pd.DataFrame(
                    {"_id": np.concatenate(out) if out else np.empty(0, dtype=np.int64)}
                )

        return frame.mapInPandas(unpack_part, "_id LONG")

    # -- BSI aggregates (executor.go Sum/Min/Max shard paths 2155-2356) ----

    def bsi_sum(self, field: str, filter_node=None, mode: str = "auto") -> int:
        """Sum of a BSI field: Σ_b popcount(plane_b ∩ filter) << b, plus
        min offset × existence count (executeSumCountShard 2155-2217).
        Small index → driver fragment-cache eval (see :meth:`counts`).
        No filter (distributed) → pure metadata (precomputed
        cardinalities, zero blob reads)."""
        frame, minv, _ = self._bsi[field]
        if self._driver_ok(mode, self._bsi_leaves(field, filter_node)):
            planes = self._gather([], [field])[1][field]
            ffn = self._driver_filter_fn(filter_node)
            total = 0
            for s, raw in planes.items():
                fb = ffn(s) if ffn is not None else None
                for bit, blob in raw.items():
                    n = _popcount(blob if fb is None else bitmap_and(blob, fb))
                    total += n * minv if bit == -1 else n << int(bit)
            return total
        if filter_node is None:
            r = frame.select(
                F.sum(
                    F.when(
                        F.col("bit") >= 0,
                        F.col("cardinality")
                        * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
                    ).otherwise(F.col("cardinality") * F.lit(minv))
                ).alias("s")
            ).first()
            return int(r["s"] or 0)
        filt = self._eval(filter_node).withColumnRenamed("bitmap", "bitmap_f")
        joined = frame.join(filt, "shard", "inner")

        @F.pandas_udf(LongType())
        def contrib(bm: pd.Series, fm: pd.Series, bit: pd.Series) -> pd.Series:
            out = []
            for b, f, bt in zip(bm, fm, bit):
                n = _popcount(
                    bitmap_and(
                        bytes(b) if b is not None else b"",
                        bytes(f) if f is not None else b"",
                    )
                )
                out.append(n * minv if bt == -1 else n << int(bt))
            return pd.Series(out, dtype="int64")

        r = joined.select(
            F.sum(contrib(F.col("bitmap"), F.col("bitmap_f"), F.col("bit"))).alias("s")
        ).first()
        return int(r["s"] or 0)

    def _bsi_extreme(self, field: str, want_max: bool, filter_node=None):
        """Per-shard BSI bit descent for Min/Max (PivotDescending walk,
        bsi.go:18-64), then a global scalar min/max over shard results."""
        frame, minv, nbits = self._bsi[field]
        if filter_node is not None:
            filt = self._eval(filter_node).withColumnRenamed("bitmap", "bitmap_f")
            src = frame.join(filt, "shard", "inner")
        else:
            src = frame.withColumn("bitmap_f", F.lit(None).cast(BinaryType()))

        def extreme_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            planes, width = _aligned_planes(pdf)
            cand = planes[-1]
            fblob = next((x for x in pdf["bitmap_f"] if x is not None), None)
            if fblob is not None:
                foffs = _unpack(fblob)
                fa = _dense_bits(foffs[foffs < width * 8], width)
                cand = cand & fa
            if not cand.any():
                return pd.DataFrame({"v": pd.Series([], dtype="int64")})
            zero = np.zeros_like(cand)
            acc = 0
            for b in range(nbits - 1, -1, -1):
                bm = planes.get(b, zero)
                if want_max:
                    t = cand & bm
                    if t.any():
                        cand = t
                        acc |= 1 << b
                else:
                    t = cand & ~bm
                    if t.any():
                        cand = t
                    else:
                        acc |= 1 << b
            return pd.DataFrame({"v": pd.Series([acc + minv], dtype="int64")})

        per_shard = src.groupBy("shard").applyInPandas(extreme_shard, "v LONG")
        r = per_shard.agg((F.max("v") if want_max else F.min("v")).alias("v")).first()
        return None if r["v"] is None else int(r["v"])

    def bsi_max(self, field: str, filter_node=None, mode: str = "auto"):
        if self._driver_ok(mode, self._bsi_leaves(field, filter_node)):
            mm = self.bsi_minmax(field, filter_node, mode="driver")
            return mm[1]
        return self._bsi_extreme(field, True, filter_node)

    def bsi_min(self, field: str, filter_node=None, mode: str = "auto"):
        if self._driver_ok(mode, self._bsi_leaves(field, filter_node)):
            mm = self.bsi_minmax(field, filter_node, mode="driver")
            return mm[0]
        return self._bsi_extreme(field, False, filter_node)

    def bsi_minmax(self, field: str, filter_node=None, mode: str = "auto"):
        """(min, max) in ONE per-shard pass — both descents share the
        shard's decoded planes, and one Spark action serves both answers
        (the multi-call-request batching of count_many, for extremes).
        Small index → driver fragment-cache descent (see :meth:`counts`)."""
        frame, minv, nbits = self._bsi[field]
        if self._driver_ok(mode, self._bsi_leaves(field, filter_node)):
            planes_raw = self._gather([], [field])[1][field]
            ffn = self._driver_filter_fn(filter_node)
            lo = hi = None
            for s, raw in planes_raw.items():
                planes, nbytes = _dense_planes(raw)
                cand = planes.get(-1)
                if cand is None:
                    continue
                fb = ffn(s) if ffn is not None else None
                if fb is not None:
                    foffs = _unpack(fb)
                    cand = cand & _dense_bits(foffs[foffs < nbytes * 8], nbytes)
                mm = _minmax_descend(planes, nbits, cand)
                if mm is None:
                    continue
                lo = mm[0] if lo is None else min(lo, mm[0])
                hi = mm[1] if hi is None else max(hi, mm[1])
            return (
                None if lo is None else lo + minv,
                None if hi is None else hi + minv,
            )
        if filter_node is not None:
            filt = self._eval(filter_node).withColumnRenamed("bitmap", "bitmap_f")
            src = frame.join(filt, "shard", "inner")
        else:
            src = frame.withColumn("bitmap_f", F.lit(None).cast(BinaryType()))

        def extremes_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            planes, width = _aligned_planes(pdf)
            cand0 = planes[-1]
            fblob = next((x for x in pdf["bitmap_f"] if x is not None), None)
            if fblob is not None:
                foffs = _unpack(fblob)
                cand0 = cand0 & _dense_bits(foffs[foffs < width * 8], width)
            mm = _minmax_descend(planes, nbits, cand0)
            if mm is None:
                return pd.DataFrame({"lo": pd.Series([], dtype="int64"),
                                     "hi": pd.Series([], dtype="int64")})
            return pd.DataFrame({"lo": [mm[0] + minv], "hi": [mm[1] + minv]})

        r = (
            src.groupBy("shard")
            .applyInPandas(extremes_shard, "lo LONG, hi LONG")
            .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
            .first()
        )
        return (
            None if r["lo"] is None else int(r["lo"]),
            None if r["hi"] is None else int(r["hi"]),
        )

    def update_field(
        self, delta: DataFrame, field: str, id_col: str = "_id", cache: bool = True
    ) -> DataFrame:
        """Incrementally merge NEW records into an equality index: the
        delta's fragments build from the delta alone, then OR into the
        existing fragments on (value, shard) — only fragments whose
        (value, shard) the delta touches change, the reference's
        import-time per-shard fragment merge (api.Import → fragment
        union under a shard write Tx). Fragments in shards the delta
        never touches pass through untouched."""
        new_frags = build_bitmap_index(delta, field, id_col, self.shard_exp)
        old = self._indexes[field]
        joined = old.withColumnRenamed("bitmap", "b_old").join(
            new_frags.withColumnRenamed("bitmap", "b_new"),
            ["value", "shard"],
            "full_outer",
        )

        @F.pandas_udf(BinaryType())
        def merge(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    bitmap_or(
                        bytes(x) if x is not None else b"",
                        bytes(y) if y is not None else b"",
                    )
                    for x, y in zip(a, b)
                ]
            )

        @F.pandas_udf(LongType())
        def card(bm: pd.Series) -> pd.Series:
            return pd.Series(
                [_popcount(bytes(x) if x is not None else b"") for x in bm]
            )

        merged = joined.select(
            "value",
            "shard",
            merge(F.col("b_old"), F.col("b_new")).alias("bitmap"),
        ).withColumn("cardinality", card(F.col("bitmap")))
        if cache:
            merged = merged.cache()
        self._invalidate_field(field)
        self._indexes[field] = merged
        return merged

    # -- incremental maintenance with CLEAR semantics ---------------------
    #
    # The reference's import path clears a record's existing bits before
    # setting the new ones (fragment.go setValue/clearValue under a shard
    # write Tx; opinsert.go replaces by _id) — update_field above is the
    # append-only fast path, these are the full upsert/delete analogues.

    #: shard count above which touched-shard pruning falls back to an
    #: unpruned join (the delta is no longer "small"; a full merge is the
    #: right plan anyway)
    TOUCHED_SHARD_CAP = 4096

    def _clear_frame(self, ids: DataFrame, id_col: str) -> DataFrame:
        """(shard, bitmap) of the delta's record offsets — the per-shard
        clear mask every fragment of a touched shard is ANDNOT-ed with."""
        width_mask = (1 << self.shard_exp) - 1
        rows = ids.select(
            F.shiftright(F.col(id_col).cast("long"), self.shard_exp).alias(
                "shard"
            ),
            F.col(id_col)
            .cast("long")
            .bitwiseAND(F.lit(width_mask).cast("long"))
            .alias("offset"),
        )

        def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
            offs = np.unique(pdf["offset"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "bitmap": [_pack(offs)],
                    "cardinality": [len(offs)],
                }
            )

        return rows.groupBy("shard").applyInPandas(
            pack_group,
            StructType(
                [
                    StructField("shard", LongType(), False),
                    StructField("bitmap", BinaryType(), True),
                    StructField("cardinality", LongType(), False),
                ]
            ),
        )

    def _touched_shards(self, clears: DataFrame) -> Optional[list[int]]:
        """Driver-side touched-shard list (bounded by the delta's size /
        the cap — the same O(touched) pruning writes.py uses for buckets),
        or None when the delta spans too many shards to enumerate."""
        shards = [
            r["shard"]
            for r in clears.select("shard")
            .limit(self.TOUCHED_SHARD_CAP + 1)
            .collect()
        ]
        if len(shards) > self.TOUCHED_SHARD_CAP:
            return None
        return shards

    @staticmethod
    def _merge_clear_set(old_col, clear_col, new_col):
        """(old ANDNOT clear) OR new, elementwise over fragment rows."""

        @F.pandas_udf(BinaryType())
        def merge(a: pd.Series, c: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for x, m, y in zip(a, c, b):
                x = bytes(x) if x is not None else b""
                m = bytes(m) if m is not None else b""
                y = bytes(y) if y is not None else b""
                out.append(bitmap_or(bitmap_andnot(x, m), y))
            return pd.Series(out)

        return merge(old_col, clear_col, new_col)

    @staticmethod
    def _card(col):
        @F.pandas_udf(LongType())
        def card(bm: pd.Series) -> pd.Series:
            return pd.Series(
                [_popcount(bytes(x) if x is not None else b"") for x in bm]
            )

        return card(col)

    def _delta_rows(
        self, delta: DataFrame, cols: list[str], collected: list | None = None
    ):
        """A small delta's rows for the in-process merge — ``collected``
        when the caller already collected the batch, else collected here
        — or None when it exceeds SMALL_DELTA_ROWS (caller takes the
        distributed path)."""
        rows = collected
        if rows is None:
            rows = delta.select(*cols).limit(self.SMALL_DELTA_ROWS + 1).collect()
        if len(rows) > self.SMALL_DELTA_ROWS:
            return None
        return rows

    def _local_clear(self, d: dict, ids) -> set:
        """ANDNOT every delta id's offset out of its shard's fragments
        (in place); returns the touched shard set."""
        mask = (1 << self.shard_exp) - 1
        by_shard: dict[int, list] = {}
        for i in ids:
            by_shard.setdefault(int(i) >> self.shard_exp, []).append(
                int(i) & mask
            )
        clears = {
            s: _pack(np.asarray(offs, dtype=np.int64))
            for s, offs in by_shard.items()
        }
        for (k, s), blob in list(d.items()):
            c = clears.get(s)
            if c is not None:
                d[(k, s)] = bitmap_andnot(blob, c)
        return set(clears)

    def _local_finish(self, field: str, d: dict, is_bsi: bool, spark):
        """Drop empty equality fragments, rebuild the LocalRelation frame,
        spill to the distributed tier if the dict outgrew the cap."""
        if not is_bsi:
            for k in [k for k, b in d.items() if not b]:
                del d[k]
        frame = self._local_relation(d, is_bsi, spark)
        if is_bsi:
            _, minv, nbits = self._bsi[field]
            self._bsi[field] = (frame, minv, nbits)
        else:
            self._indexes[field] = frame
        if len(d) > self.SMALL_INDEX_ROWS:
            self._spill_local(field)
        self._invalidate_field(field)
        return frame

    def _local_upsert_eq(self, field: str, rows, id_col: str, field_name: str):
        """In-process clear-then-set for a driver-local equality index —
        the reference's import-time fragment merge (fragment.go
        setValue/clearValue), no Spark job at all."""
        d = self._eq_local[field]
        mask = (1 << self.shard_exp) - 1
        self._local_clear(d, [r[id_col] for r in rows])
        new: dict[tuple, list] = {}
        for r in rows:
            v = r[field_name]
            if v is None:
                continue
            vals = v if isinstance(v, (list, tuple)) else [v]
            i = int(r[id_col])
            s, off = i >> self.shard_exp, i & mask
            for x in vals:
                if x is not None:
                    new.setdefault((_canon_value(x), s), []).append(off)
        for key, offs in new.items():
            d[key] = bitmap_or(
                d.get(key, b""), _pack(np.asarray(offs, dtype=np.int64))
            )
        return self._local_finish(
            field, d, False, _active_spark()
        )

    def _local_upsert_bsi(self, field: str, rows, id_col: str, field_name: str):
        """In-process clear-then-set for a driver-local BSI index; raises
        :class:`BsiRangeError` exactly like the distributed path."""
        _, minv, nbits = self._bsi[field]
        vals = [
            (int(r[id_col]), int(r[field_name]))
            for r in rows
            if r[field_name] is not None
        ]
        if vals:
            lo = min(v for _, v in vals)
            hi = max(v for _, v in vals)
            if lo < minv or hi > minv + (1 << nbits) - 1:
                raise BsiRangeError(
                    f"delta value range [{lo}, {hi}] outside BSI encoding "
                    f"[min={minv}, nbits={nbits}] for field '{field}'"
                )
        d = self._bsi_local[field]
        mask = (1 << self.shard_exp) - 1
        self._local_clear(d, [r[id_col] for r in rows])
        by_shard: dict[int, list] = {}
        for i, v in vals:
            by_shard.setdefault(i >> self.shard_exp, []).append(
                (i & mask, v - minv)
            )
        for s, pairs in by_shard.items():
            offs = np.asarray([p[0] for p in pairs], dtype=np.int64)
            vv = np.asarray([p[1] for p in pairs], dtype=np.int64)
            d[(-1, s)] = bitmap_or(d.get((-1, s), b""), _pack(offs))
            for b in range(nbits):
                sel = offs[(vv >> b) & 1 == 1]
                if len(sel):
                    d[(b, s)] = bitmap_or(d.get((b, s), b""), _pack(sel))
                else:
                    d.setdefault((b, s), d.get((b, s), b""))
        return self._local_finish(field, d, True, _active_spark())

    def upsert_field(
        self, delta: DataFrame, field: str, id_col: str = "_id", cache: bool = True,
        collected: list | None = None,
    ) -> DataFrame:
        """Full upsert of an EQUALITY index: every delta id's old bits are
        cleared from its shard's fragments, then the delta's new (value,
        id) bits are set — a record whose value CHANGED (or became NULL)
        leaves no stale bit behind. Fragments in untouched shards pass
        through without a byte of work (shard-pruned), mirroring the
        reference's per-shard import transaction.

        Driver-local fields (small indexes) merge IN PROCESS — pure
        numpy, no Spark job — exactly the reference's fragment merge
        under the shard write Tx; ``collected`` is the delta's rows when
        the caller already collected them."""
        if field in self._eq_local:
            rows = self._delta_rows(delta, [id_col, field], collected)
            if rows is not None:
                return self._local_upsert_eq(field, rows, id_col, field)
            self._spill_local(field)
        new_frags = build_bitmap_index(delta, field, id_col, self.shard_exp)
        clears = self._clear_frame(delta.select(id_col), id_col)
        old = self._indexes[field]
        touched = self._touched_shards(clears)
        untouched = None
        if touched is not None:
            untouched = old.where(~F.col("shard").isin(touched))
            old = old.where(F.col("shard").isin(touched))
        joined = (
            old.select("value", "shard", F.col("bitmap").alias("b_old"))
            .join(
                new_frags.select(
                    "value", "shard", F.col("bitmap").alias("b_new")
                ),
                ["value", "shard"],
                "full_outer",
            )
            .join(
                F.broadcast(
                    clears.select("shard", F.col("bitmap").alias("b_clear"))
                ),
                ["shard"],
                "left",
            )
        )
        merged = (
            joined.select(
                "value",
                "shard",
                self._merge_clear_set(
                    F.col("b_old"), F.col("b_clear"), F.col("b_new")
                ).alias("bitmap"),
            )
            .withColumn("cardinality", self._card(F.col("bitmap")))
            .where(F.col("cardinality") > 0)
        )
        if untouched is not None:
            merged = untouched.unionByName(merged)
        if cache:
            merged = merged.cache()
        self._invalidate_field(field)
        self._indexes[field] = merged
        return merged

    def upsert_bsi_field(
        self, delta: DataFrame, field: str, id_col: str = "_id", cache: bool = True,
        collected: list | None = None,
    ) -> DataFrame:
        """Full upsert of a BSI index: clear delta ids from every plane of
        their shards, then OR in the delta's planes built against the
        EXISTING (min, nbits) encoding. Raises ``BsiRangeError`` when a
        delta value falls outside the encodable range — the caller
        rebuilds with a wider encoding (the reference widens bitDepth on
        import, field.go:856+). Driver-local fields merge in process
        (``collected`` as in :meth:`upsert_field`)."""
        if field in self._bsi_local:
            local_rows = self._delta_rows(delta, [id_col, field], collected)
            if local_rows is not None:
                return self._local_upsert_bsi(field, local_rows, id_col, field)
            self._spill_local(field)
        frame, minv, nbits = self._bsi[field]
        width_mask = (1 << self.shard_exp) - 1
        rows = delta.select(
            F.col(field).cast("long").alias("val"),
            F.shiftright(F.col(id_col).cast("long"), self.shard_exp).alias(
                "shard"
            ),
            F.col(id_col)
            .cast("long")
            .bitwiseAND(F.lit(width_mask).cast("long"))
            .alias("offset"),
        ).where(F.col("val").isNotNull())
        mm = rows.agg(F.min("val").alias("lo"), F.max("val").alias("hi")).first()
        if mm["lo"] is not None and (
            mm["lo"] < minv or mm["hi"] > minv + (1 << nbits) - 1
        ):
            raise BsiRangeError(
                f"delta value range [{mm['lo']}, {mm['hi']}] outside BSI "
                f"encoding [min={minv}, nbits={nbits}] for field '{field}'"
            )

        def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            offs = pdf["offset"].to_numpy(dtype=np.int64)
            vals = pdf["val"].to_numpy(dtype=np.int64) - minv
            shard = int(pdf["shard"].iloc[0])
            out = {
                "bit": [-1],
                "shard": [shard],
                "bitmap": [_pack(np.unique(offs))],
                "cardinality": [len(np.unique(offs))],
            }
            for b in range(nbits):
                sel = np.unique(offs[(vals >> b) & 1 == 1])
                out["bit"].append(b)
                out["shard"].append(shard)
                out["bitmap"].append(_pack(sel))
                out["cardinality"].append(len(sel))
            return pd.DataFrame(out)

        new_planes = rows.groupBy("shard").applyInPandas(pack_shard, BSI_SCHEMA)
        clears = self._clear_frame(delta.select(id_col), id_col)
        touched = self._touched_shards(clears)
        old = frame
        untouched = None
        if touched is not None:
            untouched = old.where(~F.col("shard").isin(touched))
            old = old.where(F.col("shard").isin(touched))
        joined = (
            old.select("bit", "shard", F.col("bitmap").alias("b_old"))
            .join(
                new_planes.select(
                    "bit", "shard", F.col("bitmap").alias("b_new")
                ),
                ["bit", "shard"],
                "full_outer",
            )
            .join(
                F.broadcast(
                    clears.select("shard", F.col("bitmap").alias("b_clear"))
                ),
                ["shard"],
                "left",
            )
        )
        merged = joined.select(
            "bit",
            "shard",
            self._merge_clear_set(
                F.col("b_old"), F.col("b_clear"), F.col("b_new")
            ).alias("bitmap"),
        ).withColumn("cardinality", self._card(F.col("bitmap")))
        if untouched is not None:
            merged = untouched.unionByName(merged)
        if cache:
            merged = merged.cache()
        self._invalidate_field(field)
        self._bsi[field] = (merged, minv, nbits)
        return merged

    def delete_field_ids(
        self, ids: DataFrame, field: str, id_col: str = "_id", cache: bool = True,
        collected: list | None = None,
    ) -> DataFrame:
        """Clear the given record ids from a field's index (equality or
        BSI) — the DELETE side of the shard write Tx. Only fragments in
        the ids' shards are rewritten. Driver-local fields clear in
        process (``collected`` as in :meth:`upsert_field`)."""
        if self.is_local(field):
            id_rows = self._delta_rows(ids, [id_col], collected)
            if id_rows is not None:
                local_bsi = field in self._bsi_local
                d = (self._bsi_local if local_bsi else self._eq_local)[field]
                self._local_clear(d, [r[id_col] for r in id_rows])
                return self._local_finish(
                    field, d, local_bsi, _active_spark()
                )
            self._spill_local(field)
        clears = self._clear_frame(ids.select(id_col), id_col)
        touched = self._touched_shards(clears)
        is_bsi = field in self._bsi
        old = self._bsi[field][0] if is_bsi else self._indexes[field]
        untouched = None
        if touched is not None:
            untouched = old.where(~F.col("shard").isin(touched))
            old = old.where(F.col("shard").isin(touched))
        key = "bit" if is_bsi else "value"
        joined = old.select(
            key, "shard", F.col("bitmap").alias("b_old")
        ).join(
            F.broadcast(
                clears.select("shard", F.col("bitmap").alias("b_clear"))
            ),
            ["shard"],
            "left",
        )
        merged = joined.select(
            key,
            "shard",
            self._merge_clear_set(
                F.col("b_old"), F.col("b_clear"), F.lit(None).cast("binary")
            ).alias("bitmap"),
        ).withColumn("cardinality", self._card(F.col("bitmap")))
        if not is_bsi:
            merged = merged.where(F.col("cardinality") > 0)
        if untouched is not None:
            merged = untouched.unionByName(merged)
        if cache:
            merged = merged.cache()
        self._invalidate_field(field)
        if is_bsi:
            _, minv, nbits = self._bsi[field]
            self._bsi[field] = (merged, minv, nbits)
        else:
            self._indexes[field] = merged
        return merged

    # -- persistence: fragments as parquet, partitioned by shard ----------

    def save(self, path: str) -> None:
        """Write every registered index to parquet PARTITIONED BY SHARD —
        the durable form of the reference's per-(field,view,shard) fragment
        files (fragment.go:30-80). Query-time shard pruning becomes
        partition pruning on the reloaded frames.

        ``repartition(shard)`` gives each shard directory exactly ONE
        compact file (a fragment file, not a spray of task outputs), and
        equality fragments sort by ``value`` within it so large shards'
        row groups carry tight value min/max stats — a value-filtered
        serving read skips every row group whose range misses, the
        parquet analogue of opening only the queried row's fragment."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        for field, idx in self._indexes.items():
            (
                idx.repartition("shard")
                .sortWithinPartitions("value")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(os.path.join(path, "eq", field))
            )
        for field, (frame, _, _) in self._bsi.items():
            (
                frame.repartition("shard")
                .sortWithinPartitions("bit")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(os.path.join(path, "bsi", field))
            )
        # shard count (from the written partition dirs) gates the
        # driver-cache serving path on reload
        import glob

        n_shards = 0
        for sub in ("eq", "bsi"):
            for fdir in glob.glob(os.path.join(path, sub, "*")):
                n_shards = max(
                    n_shards, len(glob.glob(os.path.join(fdir, "shard=*")))
                )
        self.n_shards = n_shards or None
        meta = {
            "shard_exp": self.shard_exp,
            "eq_fields": sorted(self._indexes),
            "bsi": {f: [mv, nb] for f, (_, mv, nb) in self._bsi.items()},
            "n_shards": self.n_shards,
        }
        with open(os.path.join(path, "meta.json"), "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark, path: str) -> "BitmapCatalog":
        """Reopen a persisted catalog: frames are LAZY parquet reads, so a
        routed count touches only the fragments (and shard partitions) the
        expression needs."""
        import json
        import os

        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        cat = cls(shard_exp=meta["shard_exp"])
        cat.n_shards = meta.get("n_shards")
        for field in meta["eq_fields"]:
            # partition-column inference may narrow shard to int — pin long
            cat._indexes[field] = spark.read.parquet(
                os.path.join(path, "eq", field)
            ).withColumn("shard", F.col("shard").cast("long"))
        for field, (mv, nb) in meta["bsi"].items():
            cat._bsi[field] = (
                spark.read.parquet(
                    os.path.join(path, "bsi", field)
                ).withColumn("shard", F.col("shard").cast("long")),
                int(mv),
                int(nb),
            )
        return cat

    def topk_values(self, field: str, k=None) -> DataFrame:
        """TopK straight off the index: sum fragment cardinalities per value
        (the reference's TopK merges per-shard count-BSI, executor.go:2357;
        here it's a partial-agg over precomputed cardinalities — no base
        scan, no row shuffle). ``k=None`` ranks ALL values (the no-k call
        form, executor.go:2381-2390)."""
        idx = self._indexes[field]
        out = (
            idx.groupBy("value")
            .agg(F.sum("cardinality").alias("count"))
            .orderBy(F.desc("count"), F.asc("value"))
        )
        return out.limit(k) if k is not None else out
