"""PQL text parser: FeatureBase's Pilosa Query Language → combinator calls.

Grammar follows the reference PEG (``/root/reference/pql/pql.peg``; tokens
``pql/token.go:10-44``): ``Call(arg, ..., key=value, ...)`` trees with
condition args ``field == v``, ``field > v``, ``a < field <= b``,
``field >< [a, b]`` (between) and list/string/number/bool/null literals.

``parse(text)`` returns call objects from :mod:`featurebase_spark.pql.calls`;
``execute(spark-Index, text)`` compiles and runs them — the same two-step
shape as the reference (parse → executor.Execute, executor.go:183).

Example::

    execute(idx, 'Count(Intersect(Row(event_type="click"), Row(value > 250)))')
    execute(idx, 'TopN(event_type, n=3)')
    execute(idx, 'GroupBy(Rows(event_type), limit=10, having=Condition(count > 5))')
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame

from featurebase_spark.materialize import materialize
from featurebase_spark.pql import calls as C

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<timestamp>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(?::\d{2})?(?:\.\d+)?
                  (?:Z|[+-]\d{2}:\d{2})?)
  | (?P<number>-?\d+\.\d+|-?\d+)
  | (?P<op><=|>=|==|!=|><|<|>|=)
  | (?P<punct>[(),\[\]])
  | (?P<name>[^\W\d][\w.-]*)
""",
    re.VERBOSE,
)

#: reference parser error texts asserted by pql/pqlpeg_test.go
#: (pql/parser.go:16-18)
_DUP_ARG_ERR = "duplicate argument provided"
_INT_RANGE_ERR = "integer is not in signed 64-bit range"
_BAD_TS_ERR = "string is not a valid timestamp"


class _Quoted(str):
    """A string literal that was QUOTED in the source text.

    The reference PEG distinguishes bare identifiers from quoted
    strings in positional field slots: ``Rows(general)`` parses (the
    identifier becomes the ``_field`` arg) while ``Rows("true")`` is a
    parse error (TestExecutor_Execute_Query_Error, executor_test.go:
    5352-5371 — the surfaced text is the doubled wrap
    ``parsing: parsing:``). Subclassing str keeps every downstream
    consumer (F.lit, dict keys, == comparisons) unchanged."""


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(s: str) -> list[_Tok]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise SyntaxError(f"PQL: unexpected character {s[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "timestamp":
            # unquoted timestamp literal (pql.peg timestampfmt) — validated
            # at lex time, matching the reference (pqlpeg_test
            # SetBadTimestamp: month 94 is a parse error)
            import datetime as _dt

            try:
                _dt.datetime.fromisoformat(m.group().replace("Z", "+00:00"))
            except ValueError:
                raise SyntaxError(f"{_BAD_TS_ERR}: {m.group()}") from None
        if kind != "ws":
            out.append(_Tok(kind, m.group()))
    return out


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Optional[_Tok]:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise SyntaxError("PQL: unexpected end of input")
        self.i += 1
        return t

    def expect(self, text: str) -> _Tok:
        t = self.next()
        if t.text != text:
            raise SyntaxError(f"PQL: expected {text!r}, got {t.text!r}")
        return t

    # ---- literals

    def literal(self) -> Any:
        t = self.next()
        if t.kind == "string":
            return _Quoted(
                t.text[1:-1].replace('\\"', '"').replace("\\'", "'")
            )
        if t.kind == "number":
            if "." in t.text:
                return float(t.text)
            v = int(t.text)
            if not -(1 << 63) <= v < (1 << 63):
                raise SyntaxError(_INT_RANGE_ERR)  # pql/parser.go:17
            return v
        if t.kind == "timestamp":
            return t.text  # same value form as the quoted spelling
        if t.text == "[":
            items = []
            while self.peek() and self.peek().text != "]":
                items.append(self.literal())
                if self.peek() and self.peek().text == ",":
                    self.next()
            self.expect("]")
            return items
        if t.kind == "name":
            low = t.text.lower()
            if low == "true":
                return True
            if low == "false":
                return False
            if low == "null":
                return None
            return t.text  # bare word (field names in args like Rows(field))
        raise SyntaxError(f"PQL: bad literal {t.text!r}")

    # ---- calls

    def call(self):
        name = self.next()
        if name.kind != "name":
            raise SyntaxError(f"PQL: expected call name, got {name.text!r}")
        self.expect("(")
        pos: list[Any] = []
        kw: dict[str, Any] = {}
        seen: set[str] = set()
        while self.peek() and self.peek().text != ")":
            self.arg(pos, kw, seen)
            if self.peek() and self.peek().text == ",":
                self.next()
        self.expect(")")
        _check_call_info(
            _CANONICAL_CALLS.get(name.text.lower(), name.text), kw
        )
        return _build(name.text, pos, kw)

    @staticmethod
    def _mark(seen: set, name: str) -> None:
        """Each field/kwarg name may appear once per call — the reference
        errors on duplicates (pql/ast.go:168, pqlpeg_test
        TestDuplicateArgError), for value, conditional, and list forms
        alike."""
        if name in seen:
            raise SyntaxError(f"{_DUP_ARG_ERR}: {name}")
        seen.add(name)

    def arg(self, pos: list, kw: dict, seen: Optional[set] = None) -> None:
        t0, t1 = self.peek(0), self.peek(1)
        # nested call: Name (
        if t0 and t0.kind == "name" and t1 and t1.text == "(":
            pos.append(self.call())
            return
        # number-first range condition: a < field <= b
        if t0 and t0.kind == "number" and t1 and t1.text in ("<", "<="):
            lo = self.literal()
            op1 = self.next().text
            field = self.next().text
            op2 = self.next().text
            hi = self.literal()
            if seen is not None:
                self._mark(seen, field)
            lo_v = lo if op1 == "<=" else lo + _one(lo)
            hi_v = hi if op2 == "<=" else hi - _one(hi)
            # an exclusive bound AT the int64 edge cannot be adjusted —
            # the range is unsatisfiable and the reference returns an
            # EMPTY row, not an error (Row_BSIGroupEdge BTWN_LT_LT:
            # Row(INT_MAX < f < INT_MIN) and friends → {})
            if isinstance(lo_v, int) and lo_v > (1 << 63) - 1:
                lo_v, hi_v = 1, 0
            if isinstance(hi_v, int) and hi_v < -(1 << 63):
                lo_v, hi_v = 1, 0
            pos.append(C.Row(field, between=(lo_v, hi_v)))
            return
        # name-led: could be key=value, condition, or bare field
        if t0 and t0.kind == "name":
            if t1 and t1.kind == "op":
                name = self.next().text
                op = self.next().text
                if seen is not None:
                    self._mark(seen, name)
                # kwarg value may itself be a call: aggregate=Sum(field=x),
                # having=Condition(count > 5), filter=Row(...)
                nxt, nxt2 = self.peek(0), self.peek(1)
                if (
                    op == "="
                    and nxt is not None
                    and nxt.kind == "name"
                    and nxt2 is not None
                    and nxt2.text == "("
                ):
                    val = self.call()
                    if isinstance(val, C.Rows):
                        # the reference grammar has no production that
                        # places a Rows call in an argument-VALUE slot
                        # (filter=Rows(f) is a parse error surfacing as
                        # the doubled wrap, executor_test.go:5386-5389)
                        raise SyntaxError(
                            "parsing: parsing: Rows() is not a valid "
                            f"value for argument '{name}'"
                        )
                    kw[name] = val
                    return
                val = self.literal()
                if op == "=":
                    kw[name] = val
                elif op == "><":
                    pos.append(C.Row(name, between=tuple(val)))
                else:
                    pos.append(C.Row(name, op, val))
                return
            pos.append(self.literal())
            return
        pos.append(self.literal())


def _one(v):
    return 1 if isinstance(v, int) else 1e-9


_SETOPS = {
    "Intersect": C.Intersect,
    "Union": C.Union,
    "Difference": C.Difference,
    "Xor": C.Xor,
}


def _row_from_kw(kw: dict) -> C.Row:
    meta = {k: kw.pop(k) for k in ("from", "to") if k in kw}
    if not kw:
        # Row() PARSES in the reference (pqlpeg_test UnionNested counts
        # it as a call); the refusal is the executor's FieldArg failure
        # at run time — C.Row carries field=None and raises there
        # (executor.go:5133)
        return C.Row(None, "==", None, from_=meta.get("from"),
                     to=meta.get("to"))
    # several field=value pairs also parse (pqlpeg_test ArbSetArb
    # `Row(q=1, a=4)`): the reference's executor picks whichever arg
    # Go's map iteration yields first (Call.FieldArg) — any single
    # choice is consistent, so take the FIRST IN SOURCE ORDER, the
    # only deterministic refinement
    field, value = next(iter(kw.items()))
    return C.Row(field, "==", value, from_=meta.get("from"), to=meta.get("to"))


#: call names are CASE-INSENSITIVE — the reference canonicalizes via a
#: ToLower map onto the friendly capitalization (canonicalCaps,
#: pql/ast.go:648-661; executor_test.go freely writes `extract(All(), …)`
#: and `count(All())`)
#: arg-prototype table mirroring the reference's ``callInfoByFunc``
#: (pql/ast.go:450-645). Each entry: (allow_unknown, {arg: spec}) with
#: spec ∈ {"int64", "string", "bool", "any", "s_or_i", "s_or_var",
#: "iface_or_var"} — the Go prototype values int64(0)/""/true/nil/
#: stringOrInt64/stringOrVariable/interfaceOrVariable respectively.
#: Calls present in the Go table but not executable here (pre-1.0
#: legacy Bitmap/SetBit) still get entries so their arg surface is
#: validated the same way before our "unknown call" refusal fires.
_ALLOW_FIELD = (False, {"_field": "s_or_var", "field": "s_or_var"})
_CALL_INFO: dict[str, tuple[bool, dict]] = {
    "Bitmap": (True, {}),
    "Count": (True, {}),
    "Delete": (True, {}),
    "Row": (True, {}),
    "Range": (True, {}),
    "Distinct": (True, {}),
    "Condition": (True, {}),
    "Max": _ALLOW_FIELD,
    "Min": _ALLOW_FIELD,
    "Sum": _ALLOW_FIELD,
    "Difference": (False, {}),
    "Intersect": (False, {}),
    "Not": (False, {}),
    "FieldValue": (False, {"field": "string", "column": "s_or_i"}),
    "All": (False, {"limit": "int64", "offset": "int64"}),
    "ClearRow": (True, {}),
    "Store": (True, {}),
    "MinRow": _ALLOW_FIELD,
    "MaxRow": _ALLOW_FIELD,
    "Rows": (False, {
        "_field": "s_or_var", "field": "s_or_var", "limit": "int64",
        "column": "any", "previous": "any", "from": "any", "to": "any",
        "like": "string", "valueidx": "int64", "in": "any",
    }),
    "InnerUnionRows": (False, {
        "_field": "s_or_var", "field": "s_or_var", "from": "any",
        "to": "any", "rows": "any",
    }),
    "Shift": (False, {"n": "int64"}),
    "Union": (False, {}),
    "UnionRows": (False, {}),
    "Extract": (False, {}),
    "ExternalLookup": (False, {"query": "string", "write": "bool"}),
    "Limit": (False, {"limit": "int64", "offset": "int64"}),
    "Xor": (False, {}),
    "ConstRow": (False, {"columns": "iface_or_var"}),
    "TopK": (False, {
        "_field": "s_or_var", "field": "s_or_var", "k": "int64",
        "filter": "any", "from": "any", "to": "any",
    }),
    "TopN": (True, {"_field": "s_or_var", "field": "s_or_var"}),
    "Percentile": (False, {
        "field": "s_or_var", "_field": "s_or_var", "filter": "any",
        "nth": "any",
    }),
    "Clear": (True, {"_col": "s_or_i"}),
    "GroupBy": (False, {
        "filter": "any", "limit": "int64", "offset": "int64",
        "previous": "any", "aggregate": "any", "having": "any",
        "sort": "string",
    }),
    "Options": (False, {"shards": "any"}),
    "Set": (True, {"_col": "s_or_i", "_timestamp": "string"}),
    "Precomputed": (True, {}),
    "SetBit": (True, {"_col": "s_or_i"}),
    "IncludesColumn": (False, {"column": "s_or_i"}),
    "Sort": (True, {
        "_field": "s_or_var", "field": "s_or_var", "limit": "int64",
        "offset": "int64", "sort-desc": "bool",
    }),
    "Apply": (True, {"_ivy": "s_or_var", "_ivyReduce": "s_or_var"}),
    "Arrow": (False, {"header": "iface_or_var"}),
}


def _go_type(v: Any) -> str:
    """Go's %T spelling of a parsed arg value, for error-text parity."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "float64"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "[]interface {}"
    if v is None:
        return "<nil>"
    if isinstance(v, tuple):
        return "*pql.Condition"
    return "*pql.Call"


def _check_call_info(name: str, kw: dict) -> None:
    """``Call.CheckCallInfo`` mirror (pql/ast.go:668-732): unknown-arg
    and arg-type validation against the prototype table, with the
    reference's exact error texts. Conditions and child calls live in
    positional slots on this parser (Go keeps conditions in Args), so
    only genuine ``key=value`` args are checked — the same surface the
    reference's error corpus exercises."""
    info = _CALL_INFO.get(name)
    if info is None:
        # unknown call name: the PEG parses it, CheckCallInfo refuses
        raise ValueError(f"no arg validation for '{name}'")
    allow_unknown, protos = info
    for k, v in kw.items():
        spec = protos.get(k)
        if spec is None and k not in protos:
            if not allow_unknown:
                raise ValueError(f"'{name}': unknown arg '{k}'")
            if k.startswith("_"):
                raise ValueError(f"'{name}': unknown reserved arg '{k}'")
            continue
        if spec == "any":
            continue
        if spec == "int64":
            if isinstance(v, int) and not isinstance(v, bool):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' wrong type "
                f"(got {_go_type(v)}, expected int64)"
            )
        if spec == "string":
            if isinstance(v, str):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' wrong type "
                f"(got {_go_type(v)}, expected string)"
            )
        if spec == "bool":
            if isinstance(v, bool):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' wrong type "
                f"(got {_go_type(v)}, expected bool)"
            )
        if spec == "s_or_i":
            if isinstance(v, str) or (
                isinstance(v, int) and not isinstance(v, bool)
            ):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' needed a string or integer "
                f"value, got {_go_type(v)}"
            )
        if spec == "s_or_var":
            if isinstance(v, str):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' needed a string or variable "
                f"value, got {_go_type(v)}"
            )
        if spec == "iface_or_var":
            if isinstance(v, list):
                continue
            raise ValueError(
                f"'{name}': arg '{k}' needed a []interface{{}} or "
                f"variable value, got {_go_type(v)}"
            )


_CANONICAL_CALLS = {
    n.lower(): n
    for n in (
        "Row", "Range", "Not", "All", "ConstRow", "UnionRows", "Shift",
        "Limit", "Count", "Distinct", "Percentile", "TopN", "TopK",
        "Rows", "GroupBy", "Extract", "Sort", "IncludesColumn",
        "FieldValue", "Condition", "Apply", "Options", "Arrow", "Set",
        "Clear", "ClearRow", "Store", "Delete", "Intersect", "Union",
        "Difference", "Xor", "Min", "Max", "Sum", "MinRow", "MaxRow",
        "InnerUnionRows", "Precomputed", "ExternalLookup",
    )
}


def _build(name: str, pos: list, kw: dict):
    name = _CANONICAL_CALLS.get(name.lower(), name)
    if name == "Row" or name == "Range":
        if name == "Row" and any(isinstance(p, str) for p in pos):
            # bare positional timestamps belong to the legacy Range form
            # only; Row takes from=/to= (pqlpeg_test RangeTimeGT /
            # RangeTimeOneStamp are parse errors)
            raise SyntaxError(
                "PQL Row: bare timestamp arguments not allowed — use "
                "from=/to="
            )
        if name == "Range":
            # legacy Range(field=v, fromTs, toTs) positional-timestamp
            # form (pqlpeg_test OldRange)
            ts_strs = [p for p in pos if isinstance(p, str)]
            if ts_strs:
                base = (
                    pos[0]
                    if pos and isinstance(pos[0], C.Row)
                    else _row_from_kw(kw)
                )
                return C.Row(
                    base.field, base.op, base.value, between=base.between,
                    from_=ts_strs[0],
                    to=ts_strs[1] if len(ts_strs) > 1 else None,
                )
        if pos and isinstance(pos[0], C.Row):
            r = pos[0]
            return C.Row(
                r.field, r.op, r.value, between=r.between,
                from_=kw.get("from"), to=kw.get("to"),
            )
        return _row_from_kw(kw)
    if name in _SETOPS:
        return _SETOPS[name](*[C.as_row_call(p) for p in pos])
    if name == "Not":
        return C.Not(pos[0])
    if name == "All":
        # All(limit=, offset=) pages the existence row in id order
        # (executeAllCall wraps the same limit/offset walk as Limit —
        # TestExecutor_Execute_All pins the page boundaries)
        if "limit" in kw or "offset" in kw:
            return C.Limit(
                C.All(), limit=kw.get("limit"), offset=kw.get("offset", 0)
            )
        return C.All()
    if name == "ConstRow":
        return C.ConstRow(kw.get("columns", pos[0] if pos else []))
    if name == "UnionRows":
        # pass the CHILD CALLS through — their args (Rows limit/
        # previous/…, TopN n=) restrict which rows union
        # (Test_Executor_Execute_UnionRows: Count(UnionRows(
        # TopN(s, n=1))) = 2, not the whole field's 4)
        return C.UnionRows(*pos)
    if name == "Shift":
        # n defaults to ZERO — IntArg("n") (executeShiftShard
        # executor.go:5819); Shift(Shift(Row(…))) is the identity
        # (TestExecutor_Execute_Shift "shard boundary")
        return C.Shift(pos[0], kw.get("n", 0))
    if name == "Limit":
        return C.Limit(pos[0], limit=kw.get("limit"), offset=kw.get("offset", 0))
    if name == "Count":
        return C.Count(pos[0])
    if name in ("Sum", "Min", "Max"):
        # positional forms: Min(field) / Min(filter, field=f) — the
        # reference resolves "_field" from a bare positional name
        # (c.FirstStringArg("_field", "field"); corpus writes
        # Min(unix_sec) bare, executor_test.go:8080-8110)
        cls = {"Sum": C.Sum, "Min": C.Min, "Max": C.Max}[name]
        field = kw.get("field")
        filt = None
        for p in pos:
            if isinstance(p, str) and field is None:
                field = p
            elif isinstance(p, C.RowCall):
                filt = p
        if field is None:
            raise ValueError(f"{name}(): field required")
        return cls(field=field, filter=filt)
    if name in ("MinRow", "MaxRow"):
        cls = {"MinRow": C.MinRow, "MaxRow": C.MaxRow}[name]
        return cls(field=kw["field"], filter=pos[0] if pos else None)
    if name == "Distinct":
        return C.Distinct(
            field=kw["field"],
            filter=pos[0] if pos else None,
            index_name=kw.get("index"),
        )
    if name == "Percentile":
        if "field" not in kw:
            raise ValueError("Percentile(): field required")
        return C.Percentile(field=kw["field"], nth=kw.get("nth"),
                            filter=pos[0] if pos else None)
    if name in ("TopN", "TopK"):
        # n/k omitted → ALL values ranked (executor.go:2779-2804 UintArg
        # hasN; executor.go:2381-2390). The field may be positional or
        # named; a positional RowCall is the src filter
        # (TopN(f, Row(other=100), n=3) — TestExecutor_Execute_TopN_Src)
        field = kw.pop("_field", kw.pop("field", None))
        filt = kw.get("filter")
        for p in pos:
            if isinstance(p, C.Distinct) and filt is None:
                # TopN(f, Distinct(…)) — the distinct values are the
                # src bitmap (TestExecutor_Execute_TopNDistinct)
                filt = C.DistinctAsRow(p)
            elif isinstance(p, C.RowCall) and filt is None:
                filt = p
            elif isinstance(p, str) and field is None:
                field = p
        if name == "TopN":
            return C.TopN(field, n=kw.get("n"), filter=filt,
                          from_=kw.get("from"), to=kw.get("to"))
        return C.TopK(field, k=kw.get("k"), filter=filt,
                      from_=kw.get("from"), to=kw.get("to"))
    if name == "Rows":
        if not pos and "field" not in kw and "_field" not in kw:
            # executor.go:7041/7411 — the call parses, field resolution
            # fails (GroupBy(Rows()) and bare Rows() both surface this)
            raise ValueError("missing field in Rows call")
        positional = bool(pos)
        field = pos[0] if pos else kw.pop("field", kw.pop("_field", None))
        if isinstance(field, C.Row):
            # a condition arg (Rows(a > 4)) lands in Go's Call.Args
            # keyed by the field name; Rows' prototype table doesn't
            # list it → CheckCallInfo's unknown-arg text
            raise ValueError(f"'Rows': unknown arg '{field.field}'")
        if positional and isinstance(field, (_Quoted, int, float)):
            # positional field slot takes a BARE IDENTIFIER only:
            # Rows("true") / Rows(1) are PEG parse errors in the
            # reference (executor_test.go:5369-5375, surfaced as the
            # doubled "parsing:" wrap of api.Query)
            raise SyntaxError(
                "parsing: parsing: Rows() field must be a bare "
                f"identifier, got {field!r}"
            )
        if not positional and not isinstance(field, str):
            raise ValueError(
                "'Rows': arg 'field' needed a string or variable "
                f"value, got {_go_type(field)}"
            )
        return C.Rows(
            field,
            like=kw.get("like"),
            in_=kw.get("in"),
            previous=kw.get("previous"),
            limit=kw.get("limit"),
            column=kw.get("column"),
            from_=kw.get("from"),
            to=kw.get("to"),
        )
    if name == "GroupBy":
        rows = [p for p in pos if isinstance(p, C.Rows)]
        flt = next((p for p in pos if isinstance(p, C.RowCall)), None)
        agg = kw.get("aggregate")
        having = kw.get("having")
        return C.GroupBy(
            rows,
            filter=kw.get("filter", flt),
            aggregate=agg,
            having=having,
            sort=kw.get("sort"),
            limit=kw.get("limit"),
            offset=kw.get("offset", 0),
        )
    if name == "Extract":
        flt = pos[0]
        # pass the Rows CALLS through, not just their field names — a
        # Rows child may carry from=/to= which restricts the extracted
        # value list of a time-quantum field (ExtractWithTime,
        # executor_test.go:9708-9820)
        fields = [p for p in pos[1:] if isinstance(p, C.Rows)]
        return C.Extract(flt, *fields)
    if name == "Sort":
        return C.Sort(
            pos[0],
            field=kw["field"],
            desc=bool(kw.get("sort-desc", kw.get("desc", False))),
            limit=kw.get("limit"),
            offset=kw.get("offset", 0),
        )
    if name == "IncludesColumn":
        # exact texts: executor.go:915 (column), :1115 (row query)
        if not pos:
            raise ValueError(
                "IncludesColumn call must specify a row query"
            )
        if "column" not in kw:
            raise ValueError("IncludesColumn call must specify a column")
        return C.IncludesColumn(pos[0], column=kw["column"])
    if name == "FieldValue":
        # ErrFieldRequired / ErrColumnRequired (pilosa.go:28-29 via
        # executeFieldValueCall executor.go:946-951)
        if "field" not in kw:
            raise ValueError("field required")
        if "column" not in kw:
            raise ValueError("column required")
        return C.FieldValue(field=kw["field"], column=kw["column"])
    if name == "Condition":
        # having=Condition(count > 5) — the condition Row was built by arg()
        cond = pos[0]
        if isinstance(cond, C.Row):
            if cond.between is not None:  # Condition(5 < count < 10) ranges
                return (cond.field, "><", cond.between)
            return (cond.field, cond.op, cond.value)
        raise SyntaxError("PQL Condition: expected comparison")
    if name == "Apply":
        flt = pos[0] if pos and isinstance(pos[0], C.RowCall) else None
        strs = [p for p in pos if isinstance(p, str)]
        if not strs:
            raise SyntaxError("PQL Apply: expected an ivy program string")
        return C.Apply(
            strs[0],
            filter=flt,
            reduce_op=strs[1] if len(strs) > 1 else "_",
        )
    if name == "Options":
        return C.Options(
            pos[0],
            shards=kw.get("shards", []),
            shard_exp=kw.get("shard_exp", 20),
        )
    if name == "Arrow":
        header = kw.get("header", [])
        return C.Arrow(pos[0], *header)
    # write calls (executor.go:5895-6353, 9050-9320): field=value kwargs
    # are whatever keys aren't reserved arg names; Set also accepts a
    # trailing bare timestamp (pqlpeg_test SetTimestamp / SetManyArgs)
    if name in ("Set", "Clear"):
        ts = None
        if name == "Set" and len(pos) == 2 and isinstance(pos[1], str):
            ts = pos.pop(1)
        if len(pos) != 1:
            # exact texts: executor.go:6203 (Set UintArg _col) /
            # executor.go:5904 (Clear)
            if name == "Set":
                raise ValueError("Set() column argument 'col' required")
            raise ValueError(
                "column argument to Clear(<COLUMN>, <FIELD>=<ROW>) "
                "required"
            )
        if isinstance(pos[0], float):
            # the reference grammar's col arg is uint-or-key — a float
            # column fails at PARSE time (executor_test.go:1473
            # Set(2.1, f=1) → 'parse error')
            raise ValueError(
                f"parse error: {name}() column must be an integer or "
                f"key, got {pos[0]}"
            )
        if not kw:
            # FieldArg() failure (executor.go:6214 / :5909)
            raise ValueError(f"{name}() argument required: field")
        items = list(kw.items())
        field, value = items[0]
        more = dict(items[1:]) or None
        if name == "Set":
            return C.Set(pos[0], field, value, more=more, ts=ts)
        return C.Clear(pos[0], field, value, more=more)
    if name == "ClearRow":
        if not kw:
            # FieldArg() failure (executor.go:6033)
            raise ValueError("ClearRow() argument required: field")
        if len(kw) != 1:
            raise SyntaxError("PQL ClearRow: expected (field=value)")
        (field, value), = kw.items()
        return C.ClearRow(field, value)
    if name == "Store":
        if pos and not kw:
            # FieldArg() failure (executor.go:6131)
            raise ValueError("Store() argument required: field")
        if len(pos) != 1 or len(kw) != 1:
            raise SyntaxError("PQL Store: expected (child, field=value)")
        (field, value), = kw.items()
        # Store(Distinct(…), f=v): the distinct values are the stored
        # bitmap (executor_test.go:7097-7141 Store(Distinct))
        return C.Store(C.as_row_call(pos[0]), field, value)
    if name == "Delete":
        return C.Delete(pos[0])
    # aggregate=Count(...) / aggregate=Sum(field=x) inside GroupBy kwargs
    # executor.go:1814 — calls the PEG + CheckCallInfo accept but the
    # executor has no handler for (the pre-1.0 SetBit/Bitmap/Range-era
    # names land here with the reference's exact text)
    raise ValueError(f"unknown call: {name}")


def _normalize_groupby_aggregate(obj):
    if obj is None:
        return None
    if isinstance(obj, C.Sum):
        return ("sum", obj.field)
    if isinstance(obj, C.Count):
        if isinstance(obj.child, C.Distinct):
            if obj.child.filter is not None:
                # Count(Distinct(Row(…), field=f)) — the inner filter
                # restricts the DISTINCT side only (executor.go:
                # 3370-3386; executor_test.go pins pilosa,1,0 under
                # aggregate=Count(Distinct(Row(affinity>-7), zip_code)))
                return ("count_distinct", obj.child.field, obj.child.filter)
            return ("count_distinct", obj.child.field)
        return None  # plain count is the default
    return obj


def _postprocess(node):
    if isinstance(node, C.GroupBy):
        node.aggregate = _normalize_groupby_aggregate(node.aggregate)
        if isinstance(node.aggregate, C.GroupBy):
            raise SyntaxError("PQL GroupBy: bad aggregate")
    return node


def parse(text: str):
    """Parse one PQL call string into a call object."""
    p = _Parser(_tokenize(text.strip()))
    node = p.call()
    if p.peek() is not None:
        raise SyntaxError(f"PQL: trailing input at token {p.peek().text!r}")
    return _postprocess(node)


def parse_all(text: str) -> list:
    """Parse a MULTI-CALL query string — the reference's request body may
    hold several top-level calls executed in order within one round trip
    (executor.Execute loops query.Calls, executor.go:183-489)."""
    p = _Parser(_tokenize(text.strip()))
    nodes = []
    while p.peek() is not None:
        nodes.append(_postprocess(p.call()))
    # an EMPTY request parses to zero calls, not an error (pqlpeg_test
    # TestPEGWorking "Empty": ParseString("") → 0 calls); execute_all
    # then returns an empty result list, like the reference's response
    return nodes


def execute(idx: C.Index, text: str, bitmap=None, indexes=None) -> DataFrame:
    """Parse + compile + return the result DataFrame (row-calls return
    their id frames, readers their reader frames, write calls the
    TRANSFORMED table — commit it via Catalog/materialize_view) — the
    PQL front door.

    ``bitmap``: an optional :class:`~featurebase_spark.plans.bitmap_index.
    BitmapCatalog` holding this table's field indexes. When given,
    index-covered reader calls (Count/Sum/Min/Max/Percentile/unfiltered
    TopN) are served from fragment blobs instead of the base-table scan —
    the reference's ONLY serving path (every executeCall reads fragments,
    executor.go:723-835); here it is the low-latency option and the scan
    stays the fallback. Routed answers are exactly equal to scan answers
    (plans/router contract)."""
    node = parse(text)
    if indexes:
        _resolve_foreign(node, indexes)
    return _execute_node(idx, node, bitmap)


def _resolve_foreign(node, indexes) -> None:
    """Attach source indexes to cross-index Distincts (the text form's
    ``index=other`` argument — defs_join.go 'distinctjoin'; the
    reference dispatches the nested Distinct to the named index,
    executor.go handlePreCalls)."""
    if isinstance(node, C.DistinctAsRow):
        nm = getattr(node.distinct, "index_name", None)
        if nm is not None:
            if nm not in indexes:
                raise ValueError(f"index '{nm}' not found")
            node.source = indexes[nm]
    for attr in ("children", "rows"):
        for child in getattr(node, attr, ()) or ():
            if hasattr(child, "__dataclass_fields__"):
                _resolve_foreign(child, indexes)
    for attr in ("filter", "child", "a", "b", "row", "src", "distinct"):
        child = getattr(node, attr, None)
        if child is not None and hasattr(child, "__dataclass_fields__"):
            _resolve_foreign(child, indexes)


def _execute_node(idx: C.Index, node, bitmap=None) -> DataFrame:
    if isinstance(node, C.Options) and isinstance(node.child, C.ReaderCall):
        # executeOptionsCall wraps ANY child (executor.go:883-906) —
        # Options(Count(...), shards=[...]) restricts the index to the
        # named shards and delegates (dax_test PQLTests 'options')
        import dataclasses as _dc

        restricted = _dc.replace(
            idx, df=idx.df.where(node._shard_pred(idx))
        )
        return _execute_node(restricted, node.child, None)
    if isinstance(node, C.ReaderCall):
        if bitmap is not None:
            routed = _route_reader(bitmap, node, idx)
            if routed is not None:
                return routed
        return node.to_df(idx)
    if isinstance(node, C.WriteCall):
        return node.to_table(idx)
    if isinstance(node, C.RowCall):
        return node.ids(idx)
    raise TypeError(f"unexecutable node {node!r}")


def _route_reader(cat, node, idx: C.Index) -> Optional[DataFrame]:
    """Serve one reader call from the bitmap catalog when covered, with
    the SAME result schema as the scan path; None → not covered, caller
    scans. Scalars come back to the coordinator (the reference's
    scatter/gather merges per-shard scalars there too), so results are
    LocalRelations — no job at all for cached fragments."""
    from featurebase_spark.plans import router
    from featurebase_spark.plans.bitmap_index import Cmp

    spark = idx.df.sparkSession

    def lit_frame(pairs) -> DataFrame:
        cols = ", ".join(
            f"CAST({'NULL' if v is None else v} AS {t}) AS {name}"
            for name, v, t in pairs
        )
        return spark.sql(f"SELECT {cols}")

    if isinstance(node, C.Count):
        expr = router.to_bitmap_expr(cat, node.child)
        if expr is None:
            return None
        return lit_frame([("count", cat.count(expr), "BIGINT")])
    if isinstance(node, (C.Sum, C.Min, C.Max, C.Percentile)):
        if node.field not in cat._bsi:
            return None
        filt = None
        if node.filter is not None:
            filt = router.to_bitmap_expr(cat, node.filter)
            if filt is None:
                return None
        if isinstance(node, C.Sum):
            # scan-path Sum carries the contributing count (for AVG)
            _, minv, _ = cat._bsi[node.field]
            exists = Cmp(node.field, ">=", minv)
            from featurebase_spark.plans.bitmap_index import And as BAnd

            n = cat.count(BAnd(exists, filt) if filt is not None else exists)
            return lit_frame(
                [
                    ("sum", cat.bsi_sum(node.field, filt), "BIGINT"),
                    ("count", n, "BIGINT"),
                ]
            )
        if isinstance(node, (C.Min, C.Max)):
            # ValCount shape: the extreme AND how many records hold it
            # (executeMin/Max merge per-shard val+count) — count served
            # from the same planes via an equality Cmp
            is_max = isinstance(node, C.Max)  # Max subclasses Min
            name = "max" if is_max else "min"
            fn = cat.bsi_max if is_max else cat.bsi_min
            val = fn(node.field, filt)
            if val is None:
                cnt = 0
            else:
                eq = Cmp(node.field, "==", int(val))
                from featurebase_spark.plans.bitmap_index import And as BAnd2

                cnt = cat.count(BAnd2(eq, filt) if filt is not None else eq)
            return lit_frame(
                [(name, val, "BIGINT"), ("count", cnt, "BIGINT")]
            )
        return lit_frame(
            [
                (
                    "percentile",
                    router._index_percentile(cat, node.field, node.nth, filt),
                    "BIGINT",
                )
            ]
        )
    if (
        isinstance(node, C.Rows)
        and node.field in cat._indexes
        and node.column is None
        and node.from_ is None
        and node.to is None
    ):
        # distinct values straight off the fragment value column
        # (executeRows executor.go:3987-4076 iterates fragment rows) —
        # like/in/previous/limit re-applied on the cast values. The
        # entry guards run FIRST so the routed door refuses exactly
        # like the scan door (arg exclusivity, like-needs-keys, field
        # type whitelist)
        node.guard(idx)
        from pyspark.sql import functions as F

        ftype = dict(idx.df.dtypes).get(node.field, "string")
        if ftype.startswith("array<"):
            ftype = ftype[6:-1]
        vals = cat._indexes[node.field].select("value").distinct()
        if node.like is not None:
            vals = vals.where(F.col("value").like(node.like))
        vals = vals.select(F.col("value").cast(ftype).alias(node.field))
        if node.in_ is not None:
            vals = vals.where(F.col(node.field).isin(list(node.in_)))
        if node.previous is not None:
            vals = vals.where(F.col(node.field) > F.lit(node.previous))
        vals = vals.orderBy(node.field)
        if node.limit is not None:
            vals = vals.limit(node.limit)
        return vals
    if (
        isinstance(node, C.GroupBy)
        and len(node.rows) == 1
        and node.filter is None
        and node.aggregate is None
        and node.rows[0].field in cat._indexes
    ):
        # single-field count GroupBy from fragment cardinalities — the
        # reference's core GroupBy loop over row bitmaps
        # (executeGroupBy executor.go:3176-3438) without touching rows;
        # having/sort/limit run through the same _finish post-step as
        # the scan plan
        from pyspark.sql import functions as F

        f = node.rows[0].field
        ftype = dict(idx.df.dtypes).get(f, "string")
        if ftype.startswith("array<"):
            ftype = ftype[6:-1]
        agged = (
            cat._indexes[f]
            .groupBy("value")
            .agg(F.sum("cardinality").alias("count"))
            .select(F.col("value").cast(ftype).alias(f), F.col("count"))
        )
        return node._finish(agged, [f])
    if (
        isinstance(node, C.TopN)
        and node.filter is None
        and node.field in cat._indexes
    ):
        # fragment-cardinality TopK (cache.go niche); cast the stringified
        # fragment value back to the base column type and re-sort — ties
        # at the k boundary may pick different members than the scan
        # (string vs native ordering), the same divergence class as the
        # reference's approximate TopN
        from pyspark.sql import functions as F

        ftype = dict(idx.df.dtypes).get(node.field, "string")
        if ftype.startswith("array<"):
            ftype = ftype[6:-1]
        return (
            cat.topk_values(node.field, node.n)
            .select(
                F.col("value").cast(ftype).alias(node.field), F.col("count")
            )
            .orderBy(F.desc("count"), F.asc(node.field))
        )
    return None


#: call names counted by the reference's Query.WriteCallN()
_WRITE_CALL_NAMES = {"set", "clear", "clearrow", "store", "delete"}


def execute_all(
    idx: C.Index, text: str, bitmap=None, max_writes: int = 0
) -> list[DataFrame]:
    """Execute a multi-call query string; returns one result per call,
    in order — the reference's one-request-many-results contract
    (wire_response.go carries a result list). Write calls thread their
    transformed table into the Index seen by SUBSEQUENT calls (the
    reference's writes are visible to later calls in the same request) —
    and stop index routing for the rest of the request (the routed
    fragments describe the pre-write table).

    ``max_writes`` mirrors ``Executor.MaxWritesPerRequest``: when
    positive, a request containing more write calls refuses BEFORE
    executing (or even arg-validating) anything — the reference counts
    write calls right after parse (executor.go:208-216,
    TestExecutor_Execute_ErrMaxWritesPerRequest: ``Set() Clear() Set()
    Set()`` with limit 3 is ErrTooManyWrites, not a missing-arg
    error). The count here is token-level for the same reason: the
    per-call arg checks must not run first."""
    if max_writes > 0:
        toks = _tokenize(text)
        nw = sum(
            1
            for i, t in enumerate(toks)
            if t.kind == "name"
            and t.text.lower() in _WRITE_CALL_NAMES
            and i + 1 < len(toks)
            and toks[i + 1].text == "("
        )
        if nw > max_writes:
            # pilosa.go:57 ErrTooManyWrites
            raise ValueError("too many write commands")
    results = []
    cur = idx
    for node in parse_all(text):
        out = _execute_node(cur, node, bitmap)
        if isinstance(node, C.WriteCall):
            # TRUNCATE LINEAGE per write: set_bit's plan references its
            # input twice (conditional update + create-if-absent
            # anti-join), so a k-write batch otherwise builds a
            # 2^k-node plan tree — a 15-write request OOMs the driver
            # at ANALYSIS time. materialize() cuts each write's result
            # (the reference applies writes eagerly too, one mutation
            # per call) and keeps batches linear.
            out = materialize(out, eager=True)
            cur = C.Index(
                out,
                id_col=cur.id_col,
                time_col=cur.time_col,
                quantums=cur.quantums,
                field_types=cur.field_types,
            )
            bitmap = None
        results.append(out)
    return results
