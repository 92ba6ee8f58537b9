"""Query router: answer PQL-shaped calls from materialized bitmap indexes
when possible, fall back to the base-table scan path otherwise.

This is the piece that makes the bitmap-index library (plans/bitmap_index)
transparent: the reference always serves Row/Intersect/Count from fragment
bitmaps (executor.go executeCall dispatch); on Spark the scan path is
usually optimal, and the index path wins for repeated low-latency filtered
counts over a huge, already-indexed corpus. The router inspects a PQL
combinator tree (featurebase_spark.pql.calls) and translates it to a
bitmap expression iff every leaf is index-covered:

- ``Row(f, '==', v)``       → ``Atom(f, v)``      (equality index)
- ``Row(f, <op>, v)`` (int) → ``Cmp(f, op, v)``   (BSI index)
- ``Intersect/Union/Difference/Xor`` → ``And/Or/AndNot/XOr``

Anything else (time ranges, LIKE, set-field ops, Not, All) returns None →
caller uses the scan path. Correctness contract: routed answers ≡ scan
answers (tests assert equality on every supported shape).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from featurebase_spark.plans import bitmap_index as B
from featurebase_spark.pql import calls as C


def scalar_frame(spark, pairs) -> DataFrame:
    """One row of routed scalars, ``pairs`` = ``(name, value, sql_type)``,
    as a VALUES LocalRelation: collecting it runs no Spark job. A bare
    ``SELECT CAST(v AS T)`` plans as a Project over OneRowRelation, whose
    collect still schedules a 1-task job (~40 ms against ~13 ms)."""
    vals = ", ".join(
        f"CAST({'NULL' if v is None else v} AS {t})" for _, v, t in pairs
    )
    names = ", ".join(f"`{name}`" for name, _, _ in pairs)
    return spark.sql(f"SELECT * FROM VALUES ({vals}) AS t({names})")


def to_bitmap_expr(cat: B.BitmapCatalog, call: C.RowCall):
    """PQL row-call tree → bitmap expression, or None if not index-covered."""
    if isinstance(call, C.Row):
        if call.between is not None or call.from_ is not None or call.to is not None:
            return None
        if call.value is None:
            return None
        if call.field in cat._indexes and call.op == "==":
            return B.Atom(call.field, call.value)
        if call.field in cat._bsi and call.op in ("<", "<=", ">", ">=", "==", "!="):
            try:
                return B.Cmp(call.field, call.op, int(call.value))
            except (TypeError, ValueError):
                return None
        return None
    ops = {
        C.Intersect: B.And,
        C.Union: B.Or,
        C.Difference: B.AndNot,
        C.Xor: B.XOr,
    }
    for cls, builder in ops.items():
        if type(call) is cls:
            children = [to_bitmap_expr(cat, ch) for ch in call.children]
            if any(ch is None for ch in children):
                return None
            return builder(*children)
    return None


def route_count(
    cat: B.BitmapCatalog, call: C.Count, idx: Optional[C.Index] = None
) -> int:
    """Execute ``Count(child)``: from index blobs when covered, else from
    the scan path (requires ``idx``). The answer is identical either way —
    only the data touched differs (index: kilobyte blobs; scan: the base
    table)."""
    expr = to_bitmap_expr(cat, call.child)
    if expr is not None:
        return cat.count(expr)
    if idx is None:
        raise ValueError("call not index-covered and no scan Index given")
    return int(call.to_df(idx).first()["count"])


def route_call(cat: B.BitmapCatalog, call, idx: Optional[C.Index] = None):
    """Route a reader call to the index path when covered, else fall back
    to the scan path — the executor-dispatch role of executeCall
    (executor.go:723-835) over fragment storage. Covered shapes:

    - ``Count(tree)``                      → bitmap popcount
    - ``Sum/Min/Max(filter?, bsi_field)``  → BSI plane arithmetic
      (executor.go:2155-2356)
    - ``TopN/TopK(indexed_field)`` no filter → fragment cardinalities
      (the ranked-cache niche, cache.go:19-45)

    Scalar calls return Python scalars; TopN/TopK return a DataFrame."""
    if isinstance(call, C.Count):
        return route_count(cat, call, idx)
    if isinstance(call, (C.Sum, C.Min, C.Max)) and call.field in cat._bsi:
        filt = None
        if call.filter is not None:
            filt = to_bitmap_expr(cat, call.filter)
            if filt is None:
                return _scan_fallback(call, idx)
        if isinstance(call, C.Sum):
            return cat.bsi_sum(call.field, filt)
        if isinstance(call, C.Max):  # BEFORE Min — Max subclasses Min
            return cat.bsi_max(call.field, filt)
        return cat.bsi_min(call.field, filt)
    if isinstance(call, C.TopN) and call.filter is None and call.field in cat._indexes:
        return cat.topk_values(call.field, call.n)  # TopK stores k as n
    if isinstance(call, C.Percentile) and call.field in cat._bsi:
        filt = None
        if call.filter is not None:
            filt = to_bitmap_expr(cat, call.filter)
            if filt is None:
                return _scan_fallback(call, idx)
        return _index_percentile(cat, call.field, call.nth, filt)
    return _scan_fallback(call, idx)


def _index_percentile(cat: B.BitmapCatalog, field: str, nth: float, filt):
    """Percentile answered ENTIRELY from BSI planes with the reference's
    EXACT bisection semantics — a LITERAL replay of executePercentile
    (executor.go:1310-1603): every probe is a bitmap Count (near-free
    here, exactly the cost model that motivated the reference's design),
    the midpoint uses the Go truncating average, and the rejected-
    midpoint fall-out is preserved (median of {0,1,1,1} is 0). The
    result can be a value ABSENT from the data — that is the contract
    (defs_aggregate.go pins percentile(d1,50) = 11.50); the scan path
    (pql.calls.reference_percentile) returns identical answers via
    order-statistic replay. Zero base-table access."""
    from featurebase_spark.pql.calls import _go_trunc_mid

    _, minv, nbits = cat._bsi[field]

    def count_cmp(op: str, v: int) -> int:
        node = B.Cmp(field, op, v)
        return cat.count(B.And(node, filt) if filt is not None else node)

    exists = B.Cmp(field, ">=", minv)
    n = cat.count(B.And(exists, filt) if filt is not None else exists)
    if n == 0:
        return None
    desired_less = int((float(n) * nth) / 100.0)
    desired_greater = int((float(n) * (100.0 - nth)) / 100.0)
    lo, hi = cat.bsi_min(field, filt), cat.bsi_max(field, filt)
    if desired_greater != 0 and desired_less == 0:
        return lo
    if desired_greater == 0:
        return hi
    val = lo
    while lo < hi:
        val = _go_trunc_mid(lo, hi)
        if count_cmp("<", val) > desired_less:
            hi = val - 1
            continue
        if count_cmp(">", val) > desired_greater:
            lo = val + 1
            continue
        break
    return val


def _scan_fallback(call, idx: Optional[C.Index]):
    """Fallback keeps the ROUTED contract per call type: scalar calls
    return the scalar the scan produced (exactly — no int() coercion, the
    scan path may legally yield floats/decimals the BSI path cannot), and
    Percentile likewise unwraps its 1-row frame to the scalar the routed
    `_index_percentile` would have returned."""
    if idx is None:
        raise ValueError("call not index-covered and no scan Index given")
    df = call.to_df(idx)
    if isinstance(call, (C.Sum, C.Min, C.Max)):
        return df.first()[0]
    if isinstance(call, C.Percentile):
        return df.first()["percentile"]
    return df
