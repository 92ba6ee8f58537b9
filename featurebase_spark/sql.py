"""FeatureBase SQL dialect front door: run reference SQL text on Spark.

The reference's SQL dialect (``sql3/parser/parser.go``) differs from Spark
SQL in a few mechanical ways; :func:`translate` rewrites FeatureBase SQL
text into Spark SQL text, and :func:`fb_sql` executes it. Differences
covered (file:line cites into /root/reference):

- ``SELECT TOP(n) ...`` (parser.go:2376, compileselect.go:309-325)
  → trailing ``LIMIT n`` on the same (sub)query scope.
- Set literals ``['a', 'b']`` (expression.go:2439-2592)
  → ``array('a', 'b')``.
- Scalar functions (inbuiltfunctions{set,string,date}.go; SURVEY §2.3)
  → Spark built-ins, with the same arg order/base conventions as the
  Python wrappers in :mod:`featurebase_spark.functions` (0-based
  SUBSTRING/CHARINDEX/STRINGSPLIT, ``'yy'``-style date-part codes).
- CAST type names (astdatatype.go:10-26): ``ID``→``BIGINT``,
  ``IDSET``→``ARRAY<BIGINT>``, ``STRINGSET``→``ARRAY<STRING>``,
  ``DECIMAL(s)`` (scale-only, pql/decimal.go) → ``DECIMAL(38, s)``.

Everything else (SELECT/WHERE/GROUP BY/HAVING/ORDER BY/LIMIT, joins,
subqueries, CASE/CAST/BETWEEN/IN/LIKE, operators incl. ``||`` concat) is
already common SQL and passes through untouched — Catalyst parses it.

The translation is purely textual (token-level, paren-balanced); it never
needs a full SQL grammar because every dialect difference is local to a
call site or a literal.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = ["translate", "fb_sql", "fb_sql_plan"]


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<str>'(?:[^']|'')*')
    | (?P<qid>"(?:[^"]|"")*")
    | (?P<num>\d+(?:\.\d*)?|\.\d+)
    | (?P<word>[A-Za-z_][A-Za-z0-9_]*(?:-[A-Za-z0-9_]+)*)
    | (?P<op><=|>=|!=|<>|\|\||<<|>>|.)
    """,
    re.VERBOSE | re.DOTALL,
)


def _tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if m is None:  # unreachable: the '.' alternative matches anything
            raise ValueError(f"cannot tokenize at {sql[pos:pos+20]!r}")
        tok = m.group(0)
        if tok != ";":  # single-statement front door; ; is noise
            out.append(tok)
        pos = m.end()
    return out


def _is_ws(tok: str) -> bool:
    return tok[:1].isspace()


def _emit_plain(tok: str) -> str:
    """Generic token emission: map '!' (bitwise complement in the
    dialect) to '~', and SQL-standard double-quoted identifiers
    (scanner.go scanQuotedIdent — e.g. ``as "yy"``) to Spark's
    backtick quoting."""
    if tok == "!":
        return "~"
    if tok[:1] == '"' and tok[-1:] == '"' and len(tok) >= 2:
        inner = tok[1:-1].replace('""', '"').replace("`", "``")
        return f"`{inner}`"
    return tok


#: keywords after which a hyphenated identifier is a TABLE reference
_TABLE_POS_KWS = {"FROM", "JOIN", "INTO", "TABLE", "UPDATE"}

#: keywords that END a FROM clause's table list — after one of these a
#: comma separates expressions (ORDER BY a, b), not table references
_FROM_LIST_ENDERS = {
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
    "INTERSECT", "EXCEPT", "SELECT", "SET", "VALUES",
}


def _emit_word_ctx(
    tok: str, table_pos: bool = False, qualifier: bool = False
) -> str:
    """Emit one identifier/keyword token into Spark SQL. Hyphenated
    identifiers (legal in the reference — scanner.go:338-339 treats '-'
    as an identifier char, so ``un-keyed`` is ONE token, not subtraction)
    are position-sensitive: in table position they rewrite to the
    Spark-safe VIEW name (Spark rejects hyphens in view names); in
    expression position they are COLUMN references, which Spark accepts
    with backtick quoting (the physical DataFrame column keeps the
    hyphenated spelling). Subtraction still works when spaced (``a - b``)
    or against numeric literals (``a -1``), exactly as in the reference
    dialect. ``qualifier``: the identifier is immediately followed by
    '.', i.e. it QUALIFIES a column (``my-tbl.k``) — the reference has
    no struct fields, so a dotted hyphenated identifier is always a
    table reference and rewrites to the view name too."""
    if "-" in tok and (tok[:1].isalpha() or tok[:1] == "_"):
        if table_pos or qualifier:
            from featurebase_spark.schema import spark_view_name

            return spark_view_name(tok)
        return f"`{tok}`"
    return tok


def _strip_str_literal(arg: str) -> Optional[str]:
    arg = arg.strip()
    if len(arg) >= 2 and arg[0] == "'" and arg[-1] == "'":
        return arg[1:-1].replace("''", "'")
    return None


# --------------------------------------------------------------------------
# Function mappings — mirror featurebase_spark.functions semantics exactly
# --------------------------------------------------------------------------

#: Reference interval codes (inbuiltfunctionsdate.go:13-24).
_PART_CODES = ("yy", "yd", "m", "d", "w", "wk", "hh", "mi", "s", "ms", "us", "ns")


def _date_part(fn: str, arg: str, param: str = "interval") -> str:
    lit = _strip_str_literal(arg)
    if lit is None:
        # a non-literal part code can't drive the static SQL rewrite;
        # int literals already raised the analyzer type error upstream
        raise ValueError(
            f"{fn} part must be a string literal, got {arg!r}"
        )
    if lit.lower() not in _PART_CODES:
        # NewErrCallParameterValueInvalid (errors.go:752-756); the
        # part-code parameter is named 'interval' for datetimepart/
        # datetimename/date_trunc and 'timeunit' for datetimeadd/
        # datetimediff/totimestamp (inbuiltfunctionsdate.go:271,392,533)
        raise ValueError(f"invalid value '{lit}' for parameter '{param}'")
    return lit.lower()


_PART_SQL = {
    # EvaluateDateTimePart (inbuiltfunctionsdate.go:194-276); 'w' is Go
    # Weekday (Sunday=0), 'wk' ISO week, ms/us/ns = sub-second fraction
    "yy": "year({t})",
    "yd": "dayofyear({t})",
    "m": "month({t})",
    "d": "day({t})",
    "w": "(dayofweek({t}) - 1)",
    "wk": "weekofyear({t})",
    "hh": "hour({t})",
    "mi": "minute({t})",
    "s": "floor(date_part('second', {t}))",
    "ms": "floor(pmod(unix_micros({t}), 1000000) / 1000)",
    "us": "pmod(unix_micros({t}), 1000000)",
    "ns": "(pmod(unix_micros({t}), 1000000) * 1000)",
}


def _ts_arg(x: str) -> str:
    """Coerce a literal timestamp argument the way the reference's
    analyzer does (coerceValue int->time.Unix; string literals parse
    RFC3339Nano / RFC3339 / '2006-01-02' and REFUSE otherwise with
    'unable to convert ... to type timestamp',
    planner/expression.go timestampFromString;
    defs_date_functions.go 'DateTimePartImplicitIntConversion',
    defs_datetime 'datetimeadd bad literal')."""
    if x.strip().lower() in ("true", "false"):
        raise ValueError(
            "an expression of type 'bool' cannot be passed to a "
            "parameter of type 'timestamp'"
        )
    k, v = _lit_kind(x)
    if k == "int":
        return f"timestamp_seconds({x})"
    if k == "str":
        import datetime as _dtmod
        ok = False
        for probe in (v, v.replace("Z", "+00:00")):
            try:
                _dtmod.datetime.fromisoformat(probe)
                ok = True
                break
            except ValueError:
                pass
        if not ok:
            raise ValueError(
                f"[0:0] unable to convert '{v}' to type 'timestamp'"
            )
    return x


def _f_datetimepart(a: list[str]) -> str:
    p = _date_part("DATETIMEPART", a[0])
    return f"CAST({_PART_SQL[p].format(t=_ts_arg(a[1]))} AS BIGINT)"


def _f_datetimename(a: list[str]) -> str:
    # Go fmt.Sprint semantics: month/weekday NAMES, digit strings otherwise
    # (EvaluateDateTimeName inbuiltfunctionsdate.go:399-477)
    p = _date_part("DATETIMENAME", a[0])
    if p == "m":
        return f"date_format({a[1]}, 'MMMM')"
    if p == "w":
        return f"date_format({a[1]}, 'EEEE')"
    return f"CAST({_PART_SQL[p].format(t=a[1])} AS STRING)"


_TRUNC_FMTS = {
    # EvaluateDateTrunc returns formatted STRINGS (inbuiltfunctionsdate.go:
    # 564-642, Go time.Format layouts)
    "yy": "yyyy",
    "m": "yyyy-MM",
    "d": "yyyy-MM-dd",
    "hh": "yyyy-MM-dd'T'HH",
    "mi": "yyyy-MM-dd'T'HH:mm",
    "s": "yyyy-MM-dd'T'HH:mm:ss",
    "ms": "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "us": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _f_date_trunc(a: list[str]) -> str:
    p = _date_part("DATE_TRUNC", a[0])
    if p == "ns":
        return f"concat(date_format({a[1]}, \"{_TRUNC_FMTS['us']}\"), '000')"
    if p not in _TRUNC_FMTS:
        raise ValueError(f"DATE_TRUNC invalid interval {a[0]}")
    return f'date_format({a[1]}, "{_TRUNC_FMTS[p]}")'


_ADD_UNITS = {
    "yy": "YEAR", "m": "MONTH", "d": "DAY", "hh": "HOUR",
    "mi": "MINUTE", "s": "SECOND", "ms": "MILLISECOND", "us": "MICROSECOND",
}


def _f_datetimeadd(a: list[str]) -> str:
    p = _date_part("DATETIMEADD", a[0], param="timeunit")
    a = [a[0], a[1], _ts_arg(a[2])]
    if p == "ns":
        return f"timestampadd(MICROSECOND, CAST(({a[1]}) / 1000 AS BIGINT), {a[2]})"
    if p not in _ADD_UNITS:
        raise ValueError(
            f"invalid value '{_strip_str_literal(a[0])}' "
            f"for parameter 'timeunit'"
        )
    return f"timestampadd({_ADD_UNITS[p]}, {a[1]}, {a[2]})"


_DIFF_DIVISORS = {
    "d": 86_400_000_000, "hh": 3_600_000_000, "mi": 60_000_000,
    "s": 1_000_000, "ms": 1_000, "us": 1,
}


def _f_datetimediff(a: list[str]) -> str:
    # calendar diffs for yy/m, truncate-toward-zero elapsed otherwise
    # (EvaluateDatetimeDiff inbuiltfunctionsdate.go:643-715); a NULL
    # part evaluates to NULL (defs_date_functions.go DatetimeDiffNull)
    if _lit_kind(a[0])[0] == "null":
        return "CAST(NULL AS BIGINT)"
    p = _date_part("DATETIMEDIFF", a[0], param="timeunit")
    s, e = _ts_arg(a[1]), _ts_arg(a[2])
    if p == "yy":
        return f"CAST(year({e}) - year({s}) AS BIGINT)"
    if p == "m":
        return f"CAST((year({e}) - year({s})) * 12 + (month({e}) - month({s})) AS BIGINT)"
    # NTZ columns (the parquet loader's native type) take the repo-wide
    # UTC-pinned ltz view; plain TIMESTAMP casts are no-ops
    micros = (
        f"(unix_micros(CAST({e} AS timestamp_ltz)) - "
        f"unix_micros(CAST({s} AS timestamp_ltz)))"
    )
    if p == "ns":
        return f"CAST({micros} * 1000 AS BIGINT)"
    if p not in _DIFF_DIVISORS:
        raise ValueError(
            f"invalid value '{_strip_str_literal(a[0])}' "
            f"for parameter 'timeunit'"
        )
    d = _DIFF_DIVISORS[p]
    return f"CAST(({micros} - {micros} % {d}) / {d} AS BIGINT)"


def _f_totimestamp(a: list[str]) -> str:
    unit = _strip_str_literal(a[1]) if len(a) > 1 else "s"
    fn = {"s": "timestamp_seconds", "ms": "timestamp_millis",
          "us": "timestamp_micros", "µs": "timestamp_micros"}.get(unit)
    if fn:
        return f"{fn}(CAST({a[0]} AS BIGINT))"
    if unit == "ns":
        return f"timestamp_micros(CAST(floor(CAST({a[0]} AS BIGINT) / 1000) AS BIGINT))"
    raise ValueError(f"invalid value '{unit}' for parameter 'timeunit'")


def _f_datetimefromparts(a: list[str]) -> str:
    a = a + ["0"] * (7 - len(a))
    sec = f"{a[5]} + {a[6]} / 1000.0"
    return f"make_timestamp({a[0]}, {a[1]}, {a[2]}, {a[3]}, {a[4]}, {sec})"


#: FeatureBase function name → (min_args, max_args, emitter(args) -> sql)
_FUNCS: dict[str, tuple[int, int, Callable[[list[str]], str]]] = {
    # set functions (inbuiltfunctionsset.go)
    # evaluator semantics (inbuiltfunctionsset.go): string-set members
    # compare with strings.EqualFold → case-folded match (exact for id
    # sets — int→string is injective so one folded comparison serves
    # both); NULL if either argument is NULL. The reference's PQL
    # pushdown path matches keys exactly — documented split, we follow
    # the evaluator that defines the scalar function.
    "SETCONTAINS": (2, 2, lambda a: _f_setcontains(a)),
    "SETCONTAINSALL": (2, 2, lambda a: _f_setcontains_all(a)),
    "SETCONTAINSANY": (2, 2, lambda a: _f_setcontains_any(a)),
    # string functions (inbuiltfunctionsstring.go:257-860)
    "REVERSE": (1, 1, lambda a: f"reverse({a[0]})"),
    "CHAR": (1, 1, lambda a: _f_char(a)),
    "ASCII": (1, 1, lambda a: _f_ascii(a)),
    "UPPER": (1, 1, lambda a: f"upper({a[0]})"),
    "LOWER": (1, 1, lambda a: f"lower({a[0]})"),
    "STRINGSPLIT": (2, 3, lambda a: _f_stringsplit(a)),
    "SUBSTRING": (2, 3, lambda a: _f_substring(a)),
    "REPLACEALL": (3, 3, lambda a: f"replace({a[0]}, {a[1]}, {a[2]})"),
    "TRIM": (1, 1, lambda a: f"trim({a[0]})"),
    "RTRIM": (1, 1, lambda a: f"rtrim({a[0]})"),
    "LTRIM": (1, 1, lambda a: f"ltrim({a[0]})"),
    "SUFFIX": (2, 2, lambda a: _f_prefix_suffix(a, last=True)),
    "PREFIX": (2, 2, lambda a: _f_prefix_suffix(a, last=False)),
    "SPACE": (1, 1, lambda a: f"repeat(' ', {a[0]})"),
    "LEN": (1, 1, lambda a: f"length({a[0]})"),
    "REPLICATE": (2, 2, lambda a: _f_replicate(a)),
    "FORMAT": (1, 99, lambda a: _f_format(a)),
    "CHARINDEX": (2, 3, lambda a: _f_charindex(a)),
    "STR": (1, 3, lambda a: _f_str(a)),
    # date functions (inbuiltfunctionsdate.go)
    "DATETIMEPART": (2, 2, _f_datetimepart),
    "DATETIMENAME": (2, 2, _f_datetimename),
    "DATE_TRUNC": (2, 2, _f_date_trunc),
    "DATETIMEADD": (3, 3, _f_datetimeadd),
    "DATETIMEDIFF": (3, 3, _f_datetimediff),
    # exactly 7 parts — the reference analyzer rejects partial calls
    # (inbuiltfunctionsdate.go:108-111; the pre-r10 3..7 optionality
    # was a parity bug)
    "DATETIMEFROMPARTS": (7, 7, _f_datetimefromparts),
    "TOTIMESTAMP": (1, 2, _f_totimestamp),
    # POPULATION variance at the reference's scale-6 decimal
    # (defs_aggregate.go:820-920: var(i1)=1.222222 over
    # [10,10,11,12,12,13] — Σ(x-μ)²/n, not the sample /(n-1))
    # (floor = the reference's truncate-toward-zero, valid since
    # variance is non-negative; a bare CAST would round HALF_UP —
    # 17.5/6 must be 2.916666, not 2.916667)
    "VAR": (1, 1, lambda a: (
        f"CAST(floor(var_pop({a[0]}) * 1000000) / 1000000 "
        f"AS DECIMAL(38, 6))")),
    # AVG returns decimal(4) whatever the input class
    # (expressionanalyzercall.go:85 ResultDataType = decimal(4)); the
    # quotient is pql.DivideDecimal = big.Int.Div at the common scale —
    # TRUNCATED, not rounded (defs_aggregate.go pins avg(i1) over
    # {10,11,13} = 11.3333): sum at scale 4 over count, then q - q%step
    "AVG": (1, 1, lambda a: (
        f"CAST((CAST(SUM({a[0]}) AS DECIMAL(38,4)) / COUNT({a[0]})) - "
        f"((CAST(SUM({a[0]}) AS DECIMAL(38,4)) / COUNT({a[0]})) % 0.0001) "
        f"AS DECIMAL(38,4))")),
    # Pearson correlation at the reference's scale-6 decimal
    # (defs_aggregate.go:768-800: corr(i1,d1)=1.000000); the inner
    # BIGINT cast truncates TOWARD ZERO, matching pql.Decimal for the
    # negative-correlation side where floor would not
    "CORR": (2, 2, lambda a: (
        f"CAST(CAST(corr({a[0]}, {a[1]}) * 1000000 AS BIGINT) / 1000000 "
        f"AS DECIMAL(38, 6))")),
    # FALLBACK percentile emitter — only reached when the dtype-aware
    # _percentile_rewrite pass could not resolve the column (complex
    # scope the reference rejects outright, or a float/double column the
    # reference cannot hold): nearest-rank percentile_disc as a
    # documented EXTENSION. Reference-exact bisection semantics
    # (executor.go:1310-1603, incl. midpoints absent from the data —
    # defs_aggregate.go pins percentile(d1,50)=11.50) are emitted by
    # _percentile_fold_sql for int/decimal/timestamp columns. SUPERSET:
    # the reference rejects non-pushable filters and GROUP BY
    # ('Percentile call that can't be pushed down to PQL'); here both
    # compose.
    "PERCENTILE": (2, 2, lambda a: (
        f"percentile_disc(CAST({a[1]} AS DOUBLE) / 100) "
        f"WITHIN GROUP (ORDER BY {a[0]})")),
    # time-quantum range filter (inbuiltfunctionsquantum.go:8-60): BOOL,
    # exactly 3 args (from/to each nullable, not both), valid as a WHERE
    # pushdown — true iff any entry of the quantum column falls in [from, to)
    "RANGEQ": (3, 3, lambda a: _f_rangeq(a)),
}


def _rt_range_err(val_expr: str, cast_to: str = "STRING") -> str:
    """Runtime '[0:0] value '<v>' out of range' via raise_error — the
    reference raises these at Evaluate time (inbuiltfunctionsstring.go),
    so non-literal arguments must error at evaluation, not compile."""
    return (
        f"CAST(raise_error(concat('[0:0] value ''', "
        f"CAST(({val_expr}) AS STRING), ''' out of range')) AS {cast_to})"
    )


def _fold_sql(x: str) -> str:
    return f"lower(CAST({x} AS STRING))"


def _f_setcontains(a: list[str]) -> str:
    """Case-folded membership, NULL on NULL args (EvaluateSetContains,
    inbuiltfunctionsset.go:10-58 + stringSetContains:170-177 EqualFold)."""
    s, v = a[0], a[1]
    return (
        f"CASE WHEN ({s}) IS NULL OR ({v}) IS NULL THEN "
        f"CAST(NULL AS BOOLEAN) ELSE "
        f"exists({s}, x -> {_fold_sql('x')} = {_fold_sql(f'({v})')}) END"
    )


def _f_setcontains_all(a: list[str]) -> str:
    """Case-folded superset test (EvaluateSetContainsAll:113-165);
    vacuously true on an empty test set."""
    s, vs = a[0], a[1]
    return (
        f"CASE WHEN ({s}) IS NULL OR ({vs}) IS NULL THEN "
        f"CAST(NULL AS BOOLEAN) ELSE "
        f"forall({vs}, y -> exists({s}, x -> "
        f"{_fold_sql('x')} = {_fold_sql('y')})) END"
    )


def _f_setcontains_any(a: list[str]) -> str:
    """Case-folded overlap test (EvaluateSetContainsAny:60-111); false
    on an empty test set."""
    s, vs = a[0], a[1]
    return (
        f"CASE WHEN ({s}) IS NULL OR ({vs}) IS NULL THEN "
        f"CAST(NULL AS BOOLEAN) ELSE "
        f"exists({vs}, y -> exists({s}, x -> "
        f"{_fold_sql('x')} = {_fold_sql('y')})) END"
    )


def _f_char(a: list[str]) -> str:
    """CHAR(n): codepoint for n in [0, 255]; out of range raises
    (EvaluateChar:312-332 — Spark's char() would silently wrap mod 256)."""
    n = a[0]
    return (
        f"CASE WHEN ({n}) IS NOT NULL AND (({n}) < 0 OR ({n}) > 255) "
        f"THEN {_rt_range_err(n)} ELSE char({n}) END"
    )


def _f_ascii(a: list[str]) -> str:
    """ASCII(s): first codepoint, but the reference requires the BYTE
    length to be exactly 1 (EvaluateAscii:334-360, Go len()) — ascii of
    'ÿ' (2 UTF-8 bytes) or 'longer' errors where Spark would silently
    take the first char. Empty string: the reference returns Go ""
    (untyped quirk); here it stays Spark's 0 — documented divergence,
    not in the reference corpus."""
    s = a[0]
    return (
        f"CASE WHEN ({s}) IS NOT NULL AND octet_length({s}) > 1 THEN "
        f"CAST(raise_error(concat('[0:0] value ''', {s}, "
        f"''' should be of the length 1')) AS BIGINT) "
        f"ELSE ascii({s}) END"
    )


def _f_substring(a: list[str]) -> str:
    """0-based SUBSTRING with the reference's range contract
    (EvaluateSubstring:362-416): start must lie in [0, len); with a
    length, end = start + length must lie in [start, len] — violations
    raise with the OFFENDING BOUND in the message (start for the first
    rule, end for the second), unlike Spark's silent clamping. Checks
    and slicing are on Go BYTE length (``stringArgOne[a:b]`` — bytes),
    hence octet_length + encode/substring/decode; a slice splitting a
    multi-byte sequence decodes to U+FFFD where Go keeps raw bytes
    (ASCII — the whole corpus — is identical)."""
    s, i = a[0], a[1]
    start_bad = f"(({i}) < 0 OR ({i}) >= octet_length({s}))"

    def _slice(ln: str) -> str:
        return (
            f"decode(substring(encode({s}, 'UTF-8'), ({i}) + 1, {ln}), "
            f"'UTF-8')"
        )

    if len(a) > 2:
        ln = a[2]
        end = f"(({i}) + ({ln}))"
        return (
            f"CASE WHEN ({s}) IS NOT NULL AND {start_bad} "
            f"THEN {_rt_range_err(i)} "
            f"WHEN ({s}) IS NOT NULL AND ({ln}) IS NOT NULL AND "
            f"({end} < ({i}) OR {end} > octet_length({s})) "
            f"THEN {_rt_range_err(end)} "
            f"ELSE {_slice(ln)} END"
        )
    return (
        f"CASE WHEN ({s}) IS NOT NULL AND {start_bad} "
        f"THEN {_rt_range_err(i)} "
        f"ELSE {_slice('2147483647')} END"
    )


def _f_stringsplit(a: list[str]) -> str:
    """STRINGSPLIT(s, sep, pos=0): LITERAL separator split (Go
    strings.Split — the pre-r10 emit passed sep to Spark's regex
    split), pos <= 0 picks the first part, pos past the end returns ''
    (EvaluateStringSplit:456-505)."""
    s, sep = a[0], a[1]
    parts = f"split({s}, concat('\\\\Q', {sep}, '\\\\E'), -1)"
    if len(a) == 2:
        return f"element_at({parts}, 1)"
    pos = a[2]
    # NULL in ANY argument is NULL (EvaluateStringSplit:440-512) — the
    # leading guard matters because size(split(NULL)) is NULL, which
    # would otherwise fall through the position cases to the '' branch
    return (
        f"CASE WHEN ({s}) IS NULL OR ({sep}) IS NULL OR ({pos}) IS NULL "
        f"THEN CAST(NULL AS STRING) "
        f"WHEN ({pos}) <= 0 THEN element_at({parts}, 1) "
        f"WHEN ({pos}) < size({parts}) THEN "
        f"element_at({parts}, CAST(({pos}) AS INT) + 1) "
        f"ELSE '' END"
    )


def _f_replicate(a: list[str]) -> str:
    """REPLICATE(s, n): negative n raises (EvaluateReplicate:661-692 —
    Spark repeat() silently returns '')."""
    s, n = a[0], a[1]
    return (
        f"CASE WHEN ({n}) < 0 THEN {_rt_range_err(n)} "
        f"ELSE repeat({s}, {n}) END"
    )


def _f_charindex(a: list[str]) -> str:
    """0-based CHARINDEX; the 3-arg start position must lie in
    [0, len(s)) where len is the Go BYTE length — out of range raises,
    even start=0 on '' (EvaluateCharIndex:726-810; only the 2-arg form
    skips the check, because it never evaluates a pos argument)."""
    if len(a) == 2:
        return f"(locate({a[0]}, {a[1]}) - 1)"
    sub, s, pos = a[0], a[1], a[2]
    return (
        f"CASE WHEN ({sub}) IS NULL OR ({s}) IS NULL OR ({pos}) IS NULL "
        f"THEN CAST(NULL AS BIGINT) "  # null args → null BEFORE the
        # range check (EvaluateCharIndex:765-768)
        f"WHEN ({pos}) < 0 OR ({pos}) >= octet_length({s}) "
        f"THEN {_rt_range_err(pos, 'BIGINT')} "
        f"ELSE (locate({sub}, {s}, ({pos}) + 1) - 1) END"
    )


def _f_format(a: list[str]) -> str:
    """FORMAT with Go verbs (EvaluateFormat): %t (Go boolean) maps to
    Java's %b when the format is a literal; %s/%d are shared."""
    fmt = a[0]
    k, v = _lit_kind(fmt)
    if k == "str":
        fmt = "'" + v.replace("%t", "%b").replace("'", "''") + "'"
    return f"format_string({', '.join([fmt] + a[1:])})"


def _f_str(a: list[str]) -> str:
    """STR(x, length=10, decimals=0): SQL-Server-style fixed-width
    right-justified numeric formatting; values wider than ``length``
    render as '*' * length (EvaluateStr:812-868 — the pre-r10 emit was
    a bare CAST, losing the width/decimals contract entirely). Go and
    Java printf agree on %w.df for the corpus values; half-to-even vs
    half-up rounding can differ on exact .5 midpoints (documented,
    absent from the corpus)."""
    x = a[0]
    w = a[1] if len(a) > 1 else "10"
    d = a[2] if len(a) > 2 else "0"
    fmt = (
        f"format_string(concat('%', CAST({w} AS STRING), '.', "
        f"CAST({d} AS STRING), 'f'), CAST({x} AS DOUBLE))"
    )
    return (
        f"CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN length({fmt}) > ({w}) THEN repeat('*', {w}) "
        f"ELSE {fmt} END"
    )


def _f_prefix_suffix(a: list[str], last: bool) -> str:
    """Reference PREFIX/SUFFIX semantics (inbuiltfunctionsstring.go:
    560-630, corrected in r10 — the pre-r10 mapping to startswith/
    endswith was WRONG): the first/last ``n`` characters of the string,
    NULL-propagating, with the runtime '[0:0] value ... out of range'
    error when n < 0 or n > len(s). The guard is a CASE over
    raise_error so non-literal arguments error at evaluation time
    exactly like the reference; literal arguments are caught at compile
    time by _fn_literal_guard with the same text. Range check and slice
    are on Go BYTE length (:585-589,617-621 — len()/[:n] are bytes), so
    octet_length guards and encode/substring/decode slices (ASCII
    identical; a multi-byte split decodes to U+FFFD vs Go's raw bytes)."""
    s, n = a[0], a[1]
    b = f"encode({s}, 'UTF-8')"
    if last:
        pick = (
            f"decode(substring({b}, octet_length({s}) - ({n}) + 1, {n}), "
            f"'UTF-8')"
        )
    else:
        pick = f"decode(substring({b}, 1, {n}), 'UTF-8')"
    return (
        f"CASE WHEN ({s}) IS NOT NULL AND "
        f"(({n}) < 0 OR ({n}) > octet_length({s})) THEN "
        f"CAST(raise_error(concat('[0:0] value ''', "
        f"CAST(({n}) AS STRING), ''' out of range')) AS STRING) "
        f"ELSE {pick} END"
    )


def _f_rangeq(a: list[str]) -> str:
    return (
        f"exists({a[0]}, x -> (({a[1]}) IS NULL OR x.ts >= ({a[1]}))"
        f" AND (({a[2]}) IS NULL OR x.ts < ({a[2]})))"
    )


#: per-argument expected type classes for the reference's string-family
#: analyzer errors (defs_string_functions.go corpus). Checked for
#: LITERAL arguments only — column-typed arguments are left to Catalyst
#: (same conservatism as the binop type guard); NULL literals pass
#: (typeIsVoid is accepted by every reference analyzer).
_FN_SIG: dict[str, list[str]] = {
    "REVERSE": ["str"],
    "UPPER": ["str"],
    "LOWER": ["str"],
    "TRIM": ["str"],
    "RTRIM": ["str"],
    "LTRIM": ["str"],
    "ASCII": ["str"],
    "CHAR": ["int"],
    "SPACE": ["int"],
    "LEN": ["str"],
    "REPLICATE": ["str", "int"],
    "REPLACEALL": ["str", "str", "str"],
    "PREFIX": ["str", "int"],
    "SUFFIX": ["str", "int"],
    "CHARINDEX": ["str", "str", "int"],
    "SUBSTRING": ["str", "int", "int"],
    "STRINGSPLIT": ["str", "str", "int"],
}


def _lit_kind(arg: str) -> tuple:
    """(kind, value) for a literal argument text: int / str / null /
    (None, None) for anything non-literal."""
    t = arg.strip()
    if re.fullmatch(r"-?\d+", t):
        return ("int", int(t))
    if (
        len(t) >= 2
        and t[0] == "'"
        and t[-1] == "'"
        and "'" not in t[1:-1].replace("''", "")
    ):
        return ("str", t[1:-1].replace("''", "'"))
    if t.upper() == "NULL":
        return ("null", None)
    return (None, None)


#: date-family per-argument type classes (NewErrParameterTypeMistmatch
#: phrasing, distinct from the string family's short texts)
_FN_SIG_DATE: dict[str, list] = {
    "DATETIMEPART": ["str"],
    "DATETIMENAME": ["str"],
    "DATE_TRUNC": ["str"],
    "DATETIMEADD": ["str", "int"],
    "DATETIMEDIFF": ["str"],
    "TOTIMESTAMP": ["int", "str"],
    "DATETIMEFROMPARTS": ["int"] * 7,
}

#: functions whose arity error reports a formal count other than the
#: minimum (the reference echoes the FULL signature width for the
#: optional-arg calls: totimestamp() says 'formal parameters (2)')
#: analyzer formal counts echoed in arity errors when they differ from
#: the nearest bound (TOTIMESTAMP always says 2; STR always says 1 —
#: analyseFunctionStr passes 1, defs_string_functions.go:1300+)
_ARITY_FORMAL = {"TOTIMESTAMP": 2, "STR": 1}


def _fromparts_literal_check(lits: list) -> None:
    """isValidDateTimeParts (inbuiltfunctionsdate.go:308-352) replayed
    over all-literal DATETIMEFROMPARTS calls: echoes the FIRST offending
    part in '[0:0] not a valid datetimepart <v>' (year 0-9999, month
    1-12, day per month with the leap-year rule, h/m/s/ms ranges)."""
    if not all(k == "int" for k, _ in lits):
        return
    v = [x for _, x in lits]
    y, mo, d, h, mi, s, ms = v

    def bad(x):
        raise ValueError(f"[0:0] not a valid datetimepart {x}")

    if not 0 <= y <= 9999:
        bad(y)
    if not 1 <= mo <= 12:
        bad(mo)
    days = {1: 31, 3: 31, 5: 31, 7: 31, 8: 31, 10: 31, 12: 31,
            4: 30, 6: 30, 9: 30, 11: 30, 2: 29}[mo]
    if not 1 <= d <= days:
        bad(d)
    leap = y % 4 == 0 and y % 100 != 0 or y % 400 == 0
    if mo == 2 and d == 29 and not leap:
        bad(d)
    if not 0 <= h <= 23:
        bad(h)
    if not 0 <= mi <= 59:
        bad(mi)
    if not 0 <= s <= 59:
        bad(s)
    if not 0 <= ms <= 999:
        bad(ms)


def _fn_check(
    name_tok: str,
    up: str,
    args: list[str],
    pos: Optional[list[str]] = None,
    rparen: str = "",
) -> None:
    """Arity (reference phrasing, original-case name) + literal
    type/range errors for one rewritten function call. ``pos`` carries
    per-arg '[line:col] ' prefixes from the rewriter (errors.go formats
    every analyzer error with the offending argument's position —
    defs_string_functions.go pins e.g. '[1:16] string expression
    expected' for 'select reverse(22)')."""

    def _p(idx: int) -> str:
        return pos[idx] if pos and 0 <= idx < len(pos) else ""

    lo, hi, _ = _FUNCS[up]
    if not (lo <= len(args) <= hi):
        # the analyzer names the NEAREST legal arity (charindex takes
        # 2-3; a 4-arg call reports formal (3), a 1-arg call (2)) and
        # positions the error at the call's RIGHT PAREN
        # (NewErrCallParameterCountMismatch(call.Rparen...))
        formal = _ARITY_FORMAL.get(up) or (hi if len(args) > hi else lo)
        raise ValueError(
            rparen +
            f"'{name_tok}': count of formal parameters ({formal}) does "
            f"not match count of actual parameters ({len(args)})"
        )
    lits = [_lit_kind(a) for a in args]
    sig = _FN_SIG.get(up, [])
    for _ai, ((kind, _v), want) in enumerate(zip(lits, sig)):
        if kind == "int" and want == "str":
            raise ValueError(_p(_ai) + "string expression expected")
        if kind == "str" and want == "int":
            raise ValueError(_p(_ai) + "integer expression expected")
    # SETCONTAINS*'s first argument must be set-typed; a scalar literal
    # (null / int / string) is the analyzer's 'set expression expected'
    # (analyzeFunctionSetContains, inbuiltfunctionsset analyzer;
    # defs_set_functions.go 'set-contains-null-set')
    if up in ("SETCONTAINS", "SETCONTAINSALL", "SETCONTAINSANY"):
        if lits[0][0] in ("null", "int", "str"):
            raise ValueError("set expression expected")
    # literal value-range errors (runtime errors in the reference —
    # raised at compile time here when the values are already known;
    # non-literal arguments get the same texts from the raise_error
    # guards the emitters plant)
    if up == "CHAR" and lits[0][0] == "int" and not (0 <= lits[0][1] <= 255):
        raise ValueError(f"[0:0] value '{lits[0][1]}' out of range")
    if up == "ASCII" and lits[0][0] == "str":
        # > 1, not != 1: EvaluateAscii returns "" for the EMPTY string
        # (inbuiltfunctionsstring.go:350-352 — the empty-string early
        # return precedes the len != 1 error), so only multi-byte
        # literals are compile errors, matching the runtime guard
        if len(lits[0][1].encode("utf-8")) > 1:
            raise ValueError(
                f"[0:0] value '{lits[0][1]}' should be of the length 1"
            )
    if up == "SUBSTRING" and lits[0][0] != "null":
        if lits[1][0] == "int" and lits[1][1] < 0:
            raise ValueError(f"[0:0] value '{lits[1][1]}' out of range")
    if up in ("PREFIX", "SUFFIX") and lits[0][0] != "null":
        k, v = lits[1]
        if k == "int":
            if v < 0 or (lits[0][0] == "str" and v > len(lits[0][1])):
                raise ValueError(f"[0:0] value '{v}' out of range")
    # date family: the analyzer's type errors name BOTH types
    # (NewErrParameterTypeMistmatch — defs_date_functions.go corpus)
    sig_date = _FN_SIG_DATE.get(up, [])
    for (kind, _v), want in zip(lits, sig_date):
        if kind in ("int", "str") and want in ("int", "str") and kind != want:
            a_name = {"int": "int", "str": "string"}[kind]
            w_name = {"int": "int", "str": "string"}[want]
            raise ValueError(
                f"an expression of type '{a_name}' cannot be passed to "
                f"a parameter of type '{w_name}'"
            )
    if up == "DATETIMEFROMPARTS":
        _fromparts_literal_check(lits)
    # STR(x, length?, decimals?) / FORMAT(fmt, args...): the analyzer
    # rejects NULL literals in the optional/variadic positions
    # (analyseFunctionStr / analyseFunctionFormat — 'null literal not
    # allowed'); STR's width/decimals must be integers
    if up in ("STR", "FORMAT"):
        for _ai, (kind, _v) in enumerate(lits[1:], start=1):
            if kind == "null":
                raise ValueError(
                    (_p(_ai) or "[0:0] ") + "null literal not allowed"
                )
        if up == "STR":
            for _ai, (kind, _v) in enumerate(lits[1:], start=1):
                if kind == "str":
                    raise ValueError(
                        _p(_ai) + "integer expression expected"
                    )

#: FeatureBase CAST target types (astdatatype.go:10-26) → Spark SQL types.
_CAST_TYPES = {
    "BOOL": "BOOLEAN",
    "ID": "BIGINT",
    "INT": "BIGINT",
    "STRING": "STRING",
    "TIMESTAMP": "TIMESTAMP",
    "IDSET": "ARRAY<BIGINT>",
    "STRINGSET": "ARRAY<STRING>",
}

_CAST_TAIL_RE = re.compile(
    r"(?is)\bAS\s+([A-Za-z_][A-Za-z0-9_]*)(\s*\(\s*(\d+)\s*\))?\s*$"
)


def _rewrite_cast(inner: str) -> str:
    """Map the FeatureBase type name in a rewritten ``CAST(expr AS T)``
    body. Only called for the trailing ``AS <type>`` of a CAST — ordinary
    ``AS alias`` clauses elsewhere are never touched."""
    m = _CAST_TAIL_RE.search(inner)
    if m is None:
        return inner
    name = m.group(1).upper()
    if name == "DECIMAL":
        # reference DECIMAL takes scale only (pql/decimal.go scaled-int64)
        scale = m.group(3) or "0"
        return inner[: m.start()] + f"AS DECIMAL(38, {scale})"
    if name in _CAST_TYPES:
        return inner[: m.start()] + f"AS {_CAST_TYPES[name]}"
    return inner


# --------------------------------------------------------------------------
# Rewriter
# --------------------------------------------------------------------------


#: words before '()' that mean "empty expression group", not a zero-arg
#: function call — these keep the reference's `where ()` compile error
_EMPTY_PAREN_RESERVED = {
    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE", "SELECT",
    "HAVING", "BY", "IN", "EXISTS", "ALL", "ANY", "SOME", "CASE", "FROM",
    "JOIN", "AS", "BETWEEN", "LIKE", "IS", "UNION", "EXCEPT", "INTERSECT",
    "DISTINCT", "LIMIT", "OFFSET", "VALUES",
}


class _Rewriter:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        # char offset of each token, for the reference's '[line:col]'
        # error positions (1-based, errors.go '[%d:%d]')
        self.offs: list[int] = []
        _off = 0
        for _t in toks:
            self.offs.append(_off)
            _off += len(_t)
        self._src = "".join(toks)
        #: start offsets of the args of the most recent args_until call
        self._last_arg_offs: list[int] = []
        self._last_rparen_off: int = 0
        # current clause keyword across nested paren scopes (RANGEQ is
        # WHERE-only; parens inside WHERE must not reset the context)
        self._clause = "select"

    def pos_prefix(self, off: int) -> str:
        line = self._src.count("\n", 0, off) + 1
        col = off - (self._src.rfind("\n", 0, off) + 1) + 1
        return f"[{line}:{col}] "

    def _peek_word(self, j: int) -> Optional[str]:
        """Next non-ws token at or after j, if it exists."""
        while j < len(self.toks) and _is_ws(self.toks[j]):
            j += 1
        return self.toks[j] if j < len(self.toks) else None

    def _prev_word(self, j: int) -> Optional[str]:
        """Previous non-ws token at or before j, if it exists."""
        while j >= 0 and _is_ws(self.toks[j]):
            j -= 1
        return self.toks[j] if j >= 0 else None

    def scope(self, stop: Optional[str]) -> str:
        """Rewrite one query scope (whole statement or a (...) group).

        Consumes up to but NOT including the ``stop`` token. Handles
        TOP(n) → deferred LIMIT for this scope.
        """
        out: list[str] = []
        top_limit: Optional[str] = None
        saw_top_expr = False  # TOP or TOPN present (stmt.TopExpr)
        saw_explicit_limit = False
        in_from_list = False  # inside FROM's table list (through JOIN/ON)
        while self.i < len(self.toks):
            tok = self.toks[self.i]
            if stop is not None and tok == stop:
                break
            if tok == "(":
                prevw = self._prev_word(self.i - 1)
                self.i += 1
                # save/restore the clause context: a projection-embedded
                # subquery containing WHERE must not leave _clause stuck
                # at 'where' for the rest of the OUTER scope (a RANGEQ in
                # the outer projection would then escape the reference's
                # "calling ranqeq() usage invalid" error)
                saved_clause = self._clause
                inner = self.scope(")")
                self._clause = saved_clause
                self.i += 1  # consume ')'
                if not inner.strip():
                    # `where ()` is a compile error in the reference
                    # (defs_sql1.go:434-437); a zero-arg FUNCTION call
                    # (ROW_NUMBER() OVER ... — the window extension) is
                    # not: allow empty parens iff glued to an identifier
                    # that isn't a reserved word
                    is_call = bool(
                        prevw
                        and _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", prevw)
                        and prevw.upper() not in _EMPTY_PAREN_RESERVED
                    )
                    if not is_call:
                        raise ValueError("expected expression, found ')'")
                    out.append("()")
                    continue
                out.append(f"({inner})")
                continue
            if tok == "[":
                self.i += 1
                args = self.args_until("]")
                out.append(f"array({', '.join(args)})")
                continue
            if tok[:1].isalpha() or tok[:1] == "_":
                up = tok.upper()
                nxt = self._peek_word(self.i + 1)
                if up in ("TOP", "TOPN") and nxt == "(":
                    self.i += 1
                    while _is_ws(self.toks[self.i]):
                        self.i += 1
                    self.i += 1  # consume '('
                    n_args = self.args_until(")")
                    if len(n_args) != 1:
                        raise ValueError("TOP(n) takes one argument")
                    # analyzer parity (compileselect.go:672-681): the
                    # top expression must be an INTEGER literal
                    if not _re.fullmatch(r"\s*\d+\s*", n_args[0]):
                        raise ValueError("integer literal expected")
                    saw_top_expr = True
                    # TOPN parses into stmt.TopN (parser.go:2389-2400)
                    # but the planner only inserts PlanOpTop for
                    # stmt.Top (compileselect.go:309-315) — TOPN is a
                    # validated NO-OP: all rows come back
                    # (sql_complex_test.go:2755 SelectTopNStar expects
                    # 3 rows from `select topn(1) *`)
                    if up == "TOP":
                        top_limit = n_args[0]
                    # swallow one trailing space so SELECT TOP(5) x
                    # doesn't become SELECT  x
                    if self.i < len(self.toks) and _is_ws(self.toks[self.i]):
                        self.i += 1
                    continue
                if up in ("SELECT", "WHERE", "GROUP", "ORDER", "HAVING"):
                    self._clause = up.lower()
                if up in _FUNCS and nxt == "(":
                    self.i += 1
                    while _is_ws(self.toks[self.i]):
                        self.i += 1
                    self.i += 1  # consume '('
                    args = self.args_until(")")
                    lo, hi, emit = _FUNCS[up]
                    # arity with the analyzer's phrasing (name as
                    # written — 'PREFIX' vs 'upper' follow the query
                    # text in the reference corpus) + literal
                    # type/range errors
                    _fn_check(
                        tok, up, args,
                        [self.pos_prefix(o) for o in self._last_arg_offs],
                        rparen=self.pos_prefix(self._last_rparen_off),
                    )
                    if up == "RANGEQ":
                        if self._clause != "where":
                            # a WHERE-pushdown filter only — invalid in a
                            # projection/order/having position
                            raise ValueError("calling ranqeq() usage invalid")
                        if (
                            args[1].strip().upper() == "NULL"
                            and args[2].strip().upper() == "NULL"
                        ):
                            raise ValueError(
                                "calling ranqeq() 'from' and 'to' "
                                "parameters cannot both be null"
                            )
                    out.append(emit(args))
                    continue
                if up == "CAST" and nxt == "(":
                    self.i += 1
                    while _is_ws(self.toks[self.i]):
                        self.i += 1
                    self.i += 1  # consume '('
                    inner = self.scope(")")
                    self.i += 1  # consume ')'
                    out.append(f"CAST({_rewrite_cast(inner)})")
                    continue
                if up == "LIMIT":
                    saw_explicit_limit = True
                if up == "FROM":
                    in_from_list = True
                elif up in _FROM_LIST_ENDERS:
                    in_from_list = False
                prev = self._prev_word(self.i - 1)
                # table position: right after FROM/JOIN/INTO/..., or
                # after a ',' while still inside the FROM table list
                # (`FROM a, my-tbl` — the reference dialect accepts the
                # hyphenated name there too, scanner.go:338-339)
                out.append(_emit_word_ctx(
                    tok,
                    table_pos=prev is not None
                    and (prev.upper() in _TABLE_POS_KWS
                         or (in_from_list and prev == ",")),
                    qualifier=nxt == ".",
                ))
                self.i += 1
                continue
            # unary '!' is BITWISE complement in the reference dialect
            # (defs_unops.go: !10 = -11; on bool it errors) — Spark's '!'
            # is logical NOT, so map to '~'. '!=' is a single token and
            # never reaches here.
            out.append(_emit_plain(tok))
            self.i += 1
        text = "".join(out)
        # analyzer parity (compileselect.go:668-670): TOP/TOPN and
        # LIMIT in the same SELECT scope is a compile error — message
        # reproduced verbatim, doubled "cannot" included
        if saw_top_expr and saw_explicit_limit:
            raise ValueError(
                "TOP and LIMIT cannot cannot be used at the same time "
                "(TOP will be deprecated in a future release)"
            )
        if top_limit is not None:
            text = text.rstrip()
            text += f" LIMIT {top_limit}"
        return text

    def args_until(self, closer: str) -> list[str]:
        """Rewrite a comma-separated arg list, consuming the closer.
        Records each arg's source offset in ``_last_arg_offs`` (read by
        the caller immediately after return — nested calls each set it
        for themselves before their parent finishes)."""
        args: list[str] = []
        cur: list[str] = []
        arg_offs: list[int] = []
        cur_off: Optional[int] = None
        while self.i < len(self.toks):
            tok = self.toks[self.i]
            if cur_off is None and not _is_ws(tok) and tok not in (
                closer, ","
            ):
                cur_off = self.offs[self.i]
            if tok == closer:
                self._last_rparen_off = self.offs[self.i]
                self.i += 1
                break
            if tok == ",":
                args.append("".join(cur).strip())
                arg_offs.append(cur_off if cur_off is not None else 0)
                cur = []
                cur_off = None
                self.i += 1
                continue
            if tok == "(":
                self.i += 1
                cur.append(f"({self.scope(')')})")
                self.i += 1
                continue
            if tok == "[":
                self.i += 1
                inner = self.args_until("]")
                cur.append(f"array({', '.join(inner)})")
                continue
            if (tok[:1].isalpha() or tok[:1] == "_"):
                up = tok.upper()
                if up in _FUNCS and self._peek_word(self.i + 1) == "(":
                    self.i += 1
                    while _is_ws(self.toks[self.i]):
                        self.i += 1
                    self.i += 1
                    inner_args = self.args_until(")")
                    lo, hi, emit = _FUNCS[up]
                    _fn_check(
                        tok, up, inner_args,
                        [self.pos_prefix(o) for o in self._last_arg_offs],
                        rparen=self.pos_prefix(self._last_rparen_off),
                    )
                    cur.append(emit(inner_args))
                    continue
                if up == "CAST" and self._peek_word(self.i + 1) == "(":
                    self.i += 1
                    while _is_ws(self.toks[self.i]):
                        self.i += 1
                    self.i += 1
                    inner = self.scope(")")
                    self.i += 1
                    cur.append(f"CAST({_rewrite_cast(inner)})")
                    continue
            cur.append(_emit_plain(tok) if not (
                tok[:1].isalpha() or tok[:1] == "_") else _emit_word_ctx(
                    tok, qualifier=self._peek_word(self.i + 1) == "."))
            self.i += 1
        tail = "".join(cur).strip()
        if tail:
            args.append(tail)
            arg_offs.append(cur_off if cur_off is not None else 0)
        self._last_arg_offs = arg_offs
        return args


import re as _re


#: aggregate calls whose argument analysis the reference runs at compile
#: time (defs_aggregate.go) — token-level rules only; type-dependent
#: rules (avg over a string column) stay with Catalyst
_AGG_CHECKED = (
    "COUNT", "SUM", "AVG", "MIN", "MAX", "PERCENTILE", "VAR", "CORR",
)


def _check_count_args(toks: list[str]) -> None:
    """Mirror the reference's aggregate argument analysis
    (defs_aggregate.go): COUNT/SUM/AVG/MIN/MAX take exactly one
    argument; ``*`` is valid only for COUNT; ``_id`` is rejected for
    every aggregate but COUNT; COUNT's argument must be ``*`` or a
    column reference (COUNT(1) errors — SUM(1)/MIN(1) are legal value
    cases); PERCENTILE takes (column, literal). Exact reference error
    texts. Runs on the TOKEN stream, so a COUNT(1)-shaped substring
    inside a string literal (one ``str`` token) can never trip it."""
    i, n = 0, len(toks)
    while i < n:
        tok = toks[i]
        up = tok.upper() if (tok[:1].isalpha() or tok[:1] == "_") else ""
        if up in _AGG_CHECKED:
            j = i + 1
            while j < n and _is_ws(toks[j]):
                j += 1
            if j < n and toks[j] == "(":
                depth, j = 1, j + 1
                args: list[list[str]] = [[]]
                while j < n and depth:
                    t = toks[j]
                    if t == "(":
                        depth += 1
                    elif t == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    elif t == "," and depth == 1:
                        args.append([])
                        j += 1
                        continue
                    args[-1].append(t)
                    j += 1
                flat = [
                    "".join(t for t in a if not _is_ws(t)).strip()
                    for a in args
                ]
                if up == "PERCENTILE":
                    _check_percentile_args(tok, flat)
                elif up == "CORR":
                    # corr takes TWO columns (defs_aggregate.go:760-800):
                    # '*' stops the reference's parser at the comma
                    if flat and flat[0] == "*":
                        raise ValueError("expected right paren, found ','")
                    if len(flat) != 2:
                        raise ValueError(
                            f"count of formal parameters (2) does not "
                            f"match count of actual parameters "
                            f"({len(flat)})"
                        )
                    for arg in flat:
                        if arg.lower() == "_id":
                            raise ValueError(
                                f"_id column cannot be used in aggregate "
                                f"function '{tok.lower()}'"
                            )
                else:
                    if len(flat) > 1:
                        raise ValueError(
                            f"count of formal parameters (1) does not "
                            f"match count of actual parameters "
                            f"({len(flat)})"
                        )
                    arg = flat[0]
                    if up == "COUNT":
                        if _re.fullmatch(r"\d+(\.\d+)?", arg):
                            raise ValueError("column reference expected")
                    else:
                        if arg == "*":
                            raise ValueError("column reference expected")
                        if arg.lower() == "_id":
                            raise ValueError(
                                f"_id column cannot be used in aggregate "
                                f"function '{tok.lower()}'"
                            )
                i = j
        i += 1


def _check_percentile_args(name_tok: str, flat: list[str]) -> None:
    """PERCENTILE(column, nth-literal) analysis (defs_aggregate.go:
    467-501): ``*`` / numeric first arg → 'column reference expected';
    ``_id`` rejected; the nth argument must be a LITERAL."""
    if flat and (flat[0] == "*" or _re.fullmatch(r"-?\d+(\.\d+)?", flat[0])):
        raise ValueError("column reference expected")
    if flat and flat[0].lower() == "_id":
        raise ValueError(
            f"_id column cannot be used in aggregate function "
            f"'{name_tok.lower()}'"
        )
    if len(flat) == 2:
        nth = flat[1]
        is_lit = bool(
            _re.fullmatch(r"-?\d+(\.\d+)?", nth)
            or (nth[:1] == "'" and nth[-1:] == "'")
        )
        if not is_lit:
            raise ValueError("literal expression expected")


def translate(sql: str) -> str:
    """FeatureBase SQL text → Spark SQL text."""
    toks = _tokenize(sql)
    _check_count_args(toks)
    rw = _Rewriter(toks)
    return rw.scope(None).strip().rstrip(";")


# --------------------------------------------------------------------------
# Table-valued functions — DECLARED EXTENSION beyond reference parity.
# The reference's TVF scaffolding is disabled (optablevaluedfunction.go:
# 45-47 returns 'tvf not supported'); these give the pipeline operators a
# SQL front door: FROM fb_sessionize(...) / fb_sessions(...) /
# fb_dedup_survivors(...). Documented as extensions in COVERAGE.md.
# --------------------------------------------------------------------------

#: TVF name → (arity, signature shown in errors)
_TVFS: dict[str, tuple[int, str]] = {
    "FB_SESSIONIZE": (4, "(table, user_col, ts_col, gap_minutes)"),
    "FB_SESSIONS": (4, "(table, user_col, ts_col, gap_minutes)"),
    "FB_DEDUP_SURVIVORS": (3, "(table, text_col, id_col)"),
    # deterministic-sampling family (pipeline/sampling.py): split uses
    # binary-exact 3/4-1/8-1/8 train/val/test weights; sample takes the
    # rate as a decimal literal
    "FB_HASH_SPLIT": (3, "(table, id_col, seed)"),
    "FB_HASH_SAMPLE": (4, "(table, id_col, rate, seed)"),
    "FB_DECONTAMINATE": (5, "(table, bench_table, text_col, id_col, ngram)"),
    # exact corpus heavy hitters (pipeline/frequent.py): threshold is
    # share_permille of the total token count, integer-exact
    "FB_HEAVY_HITTERS": (3, "(table, text_col, share_permille)"),
    # group-wise top-k (map-side WindowGroupLimit pruning)
    "FB_TOPK_PER_GROUP": (4, "(table, part_col, order_col, k)"),
    # bloom-pruned exact blocklist filtering (pipeline/blocklist.py)
    "FB_BLOCKLIST_FILTER": (3, "(table, blocklist_table, key_col)"),
    # behavioral tier (pipeline/sessions.py, operators/asof.py): ordered
    # funnel (steps as a quoted CSV literal, horizon 0 = unbounded),
    # weekly retention triangle, and the backward point-in-time join
    "FB_FUNNEL": (
        6, "(table, user_col, type_col, ts_col, steps, horizon_minutes)"
    ),
    "FB_RETENTION": (3, "(table, user_col, ts_col)"),
    "FB_ASOF_JOIN": (5, "(table, right_table, on_col, left_ts, right_ts)"),
    # trigram-accelerated substring search (pipeline/trigram.py): the
    # pattern is a quoted string; a plain literal runs the skip-through
    # probe (like_contains), a pattern with %/_ wildcards routes through
    # the like_match pattern planner (longest-fragment prune + verify)
    "FB_LIKE_SEARCH": (4, "(table, id_col, text_col, literal)"),
    # first-order event-transition matrix (pipeline/sessions.py)
    "FB_TRANSITIONS": (5, "(table, user_col, type_col, ts_col, id_col)"),
    # Ed-Join edit-distance similarity join (pipeline/fuzzy.py)
    "FB_FUZZY_JOIN": (4, "(table, id_col, text_col, max_dist)"),
    # mergeable HLL distinct sketch summary (pipeline/sketches.py)
    "FB_HLL": (3, "(table, key_col, b)"),
    # integer-rank keyword search (pipeline/text.keyword_topk)
    "FB_KEYWORD_SEARCH": (5, "(table, id_col, text_col, terms, k)"),
    # integer-exact BM25 ranking (pipeline/ranking.bm25_topk)
    "FB_BM25": (5, "(table, id_col, text_col, terms, k)"),
    # cross-source n-gram overlap matrix (pipeline/contamination)
    "FB_SOURCE_OVERLAP": (5, "(table, text_col, source_col, ngram, top)"),
    # Count-Min frequency verification shape (pipeline/sketches.py):
    # top-k keys by exact count with their min-cell CMS estimates
    "FB_CMS": (5, "(table, key_col, d, w, k)"),
    # integer-PMI collocations (pipeline/frequent.collocations_pmi_topk)
    "FB_PMI": (4, "(table, text_col, min_count, k)"),
    # cross-user concurrent-session pairs via the bucketed
    # interval-overlap join (operators/intervals.py)
    "FB_SESSION_OVERLAP": (4, "(table, user_col, ts_col, gap_minutes)"),
    # winnowing containment pairs (pipeline/dedup, MOSS sketch)
    "FB_WINNOW": (4, "(table, text_col, id_col, min_shared)"),
    # near-dup pairs closed into components (pipeline/graph): the
    # transitive closure that turns pairwise ~ into dedup clusters
    "FB_DEDUP_COMPONENTS": (4, "(table, text_col, id_col, min_shared)"),
}

_TVF_GUARD = _re.compile(
    r"\b(fb_sessionize|fb_sessions|fb_dedup_survivors|fb_hash_split"
    r"|fb_hash_sample|fb_decontaminate|fb_heavy_hitters"
    r"|fb_topk_per_group|fb_blocklist_filter"
    r"|fb_funnel|fb_retention|fb_asof_join"
    r"|fb_like_search|fb_transitions|fb_fuzzy_join|fb_hll"
    r"|fb_keyword_search|fb_source_overlap|fb_bm25"
    r"|fb_cms|fb_pmi|fb_session_overlap|fb_winnow"
    r"|fb_dedup_components)\b",
    _re.IGNORECASE,
)


def _eval_tvf(spark: SparkSession, name: str, args: list[str], idx: int) -> str:
    """Materialize one TVF call as a temp view; returns the view name.
    Arity/argument errors mirror the reference's compile-error phrasing
    (sql3/errors.go: parameter-count / column-not-found)."""
    arity, sig = _TVFS[name]
    low = name.lower()
    if len(args) != arity:
        raise ValueError(
            f"{low}: count of formal parameters ({arity}) does not match "
            f"count of actual parameters ({len(args)}); expected {low}{sig}"
        )
    table = args[0]
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(f"{low}: table name expected, got {table!r}")
    df = spark.table(table)
    cols = set(df.columns)

    def need_col(c: str, role: str):
        if c not in cols:
            raise ValueError(
                f"{low}: column '{c}' not found in {table} ({role})"
            )

    if name in ("FB_SESSIONIZE", "FB_SESSIONS"):
        from featurebase_spark.pipeline import sessions

        user, ts, gap = args[1], args[2], args[3]
        need_col(user, "user_col")
        need_col(ts, "ts_col")
        if not _re.fullmatch(r"\d+", gap):
            raise ValueError(
                f"{low}: integer literal expected for gap_minutes, got {gap!r}"
            )
        fn = (
            sessions.sessionize
            if name == "FB_SESSIONIZE"
            else sessions.session_stats
        )
        out = fn(df, user, ts, int(gap))
    elif name == "FB_HASH_SPLIT":
        from featurebase_spark.pipeline import sampling

        id_col, seed = args[1], args[2]
        need_col(id_col, "id_col")
        if not _re.fullmatch(r"\d+", seed):
            raise ValueError(
                f"{low}: integer literal expected for seed, got {seed!r}"
            )
        out = sampling.hash_split(
            df, id_col,
            {"train": 0.75, "val": 0.125, "test": 0.125}, int(seed),
        )
    elif name == "FB_HASH_SAMPLE":
        from featurebase_spark.pipeline import sampling

        id_col, rate, seed = args[1], args[2], args[3]
        need_col(id_col, "id_col")
        if not _re.fullmatch(r"\d*\.?\d+", rate):
            raise ValueError(
                f"{low}: numeric literal expected for rate, got {rate!r}"
            )
        if not _re.fullmatch(r"\d+", seed):
            raise ValueError(
                f"{low}: integer literal expected for seed, got {seed!r}"
            )
        out = sampling.hash_sample(df, id_col, float(rate), int(seed))
    elif name == "FB_DECONTAMINATE":
        from featurebase_spark.pipeline import contamination

        bench_tbl, text_col, id_col, ng = args[1], args[2], args[3], args[4]
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", bench_tbl):
            raise ValueError(
                f"{low}: table name expected, got {bench_tbl!r}"
            )
        bench = spark.table(bench_tbl)
        need_col(text_col, "text_col")
        need_col(id_col, "id_col")
        if not _re.fullmatch(r"\d+", ng):
            raise ValueError(
                f"{low}: integer literal expected for ngram, got {ng!r}"
            )
        out = contamination.decontaminate(df, bench, text_col, id_col, int(ng))
    elif name == "FB_HEAVY_HITTERS":
        from featurebase_spark.pipeline import frequent

        text_col, permille = args[1], args[2]
        need_col(text_col, "text_col")
        if not _re.fullmatch(r"\d+", permille):
            raise ValueError(
                f"{low}: integer literal expected for share_permille, "
                f"got {permille!r}"
            )
        out = frequent.heavy_hitter_tokens(
            df, text_col, share_permille=int(permille)
        )
    elif name == "FB_TOPK_PER_GROUP":
        from featurebase_spark.pipeline import sampling

        part_c, order_c, kk = args[1], args[2], args[3]
        need_col(part_c, "part_col")
        need_col(order_c, "order_col")
        if not _re.fullmatch(r"\d+", kk):
            raise ValueError(
                f"{low}: integer literal expected for k, got {kk!r}"
            )
        out = sampling.topk_per_group(df, part_c, order_c, int(kk))
    elif name == "FB_BLOCKLIST_FILTER":
        from featurebase_spark.pipeline import blocklist as _bl

        bl_tbl, key_c = args[1], args[2]
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", bl_tbl):
            raise ValueError(f"{low}: table name expected, got {bl_tbl!r}")
        bl = spark.table(bl_tbl)
        need_col(key_c, "key_col")
        if key_c not in bl.columns:
            raise ValueError(
                f"{low}: column '{key_c}' not found in {bl_tbl} (key_col)"
            )
        out = _bl.blocklist_filter(df, bl, key_c)
    elif name == "FB_FUNNEL":
        from featurebase_spark.pipeline import sessions

        user, typ, ts, steps, horizon = args[1], args[2], args[3], args[4], args[5]
        need_col(user, "user_col")
        need_col(typ, "type_col")
        need_col(ts, "ts_col")
        m = _re.fullmatch(r"'((?:[^']|'')*)'", steps)
        if not m:
            raise ValueError(
                f"{low}: string literal expected for steps (a CSV of "
                f"event types), got {steps!r}"
            )
        step_list = [s.strip() for s in m.group(1).replace("''", "'").split(",") if s.strip()]
        if len(step_list) < 2:
            raise ValueError(
                f"{low}: steps must name at least two event types, "
                f"got {steps!r}"
            )
        if not _re.fullmatch(r"\d+", horizon):
            raise ValueError(
                f"{low}: integer literal expected for horizon_minutes "
                f"(0 = unbounded), got {horizon!r}"
            )
        out = sessions.funnel(
            df, step_list, user, typ, ts,
            horizon_minutes=(int(horizon) or None),
        )
    elif name == "FB_RETENTION":
        from featurebase_spark.pipeline import sessions

        user, ts = args[1], args[2]
        need_col(user, "user_col")
        need_col(ts, "ts_col")
        out = sessions.retention_cohorts(df, user, ts)
    elif name == "FB_ASOF_JOIN":
        from featurebase_spark.operators.asof import asof_join

        r_tbl, on_c, lts, rts = args[1], args[2], args[3], args[4]
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", r_tbl):
            raise ValueError(f"{low}: table name expected, got {r_tbl!r}")
        right = spark.table(r_tbl)
        need_col(on_c, "on_col")
        need_col(lts, "left_ts")
        for c, role in ((on_c, "on_col"), (rts, "right_ts")):
            if c not in right.columns:
                raise ValueError(
                    f"{low}: column '{c}' not found in {r_tbl} ({role})"
                )
        # expose the matched right timestamp too (<right_ts>_asof) so
        # SQL callers can compute staleness without a second join
        out = asof_join(
            df, right, on_c, lts, rts,
            value_cols=[c for c in right.columns if c != on_c],
            tiebreak=next(
                (c for c in right.columns if c not in (on_c, rts)), rts
            ),
        )
    elif name == "FB_LIKE_SEARCH":
        from featurebase_spark.pipeline.trigram import (
            like_contains,
            like_match,
        )

        id_col, text_col, lit = args[1], args[2], args[3]
        need_col(id_col, "id_col")
        need_col(text_col, "text_col")
        m = _re.fullmatch(r"'((?:[^']|'')*)'", lit)
        if not m:
            raise ValueError(
                f"{low}: string literal expected for literal, got {lit!r}"
            )
        literal = m.group(1).replace("''", "'")
        if any(ch in literal for ch in "%_"):
            # a wildcard pattern routes through the full planLike
            # surface (longest-fragment prune + whole-pattern verify)
            out = like_match(df, id_col, text_col, literal)
        else:
            out = like_contains(df, id_col, text_col, literal)
    elif name == "FB_TRANSITIONS":
        from featurebase_spark.pipeline import sessions

        user, typ, ts, id_col = args[1], args[2], args[3], args[4]
        need_col(user, "user_col")
        need_col(typ, "type_col")
        need_col(ts, "ts_col")
        need_col(id_col, "id_col")
        out = sessions.transitions(df, user, typ, ts, id_col)
    elif name == "FB_FUZZY_JOIN":
        from featurebase_spark.pipeline.fuzzy import fuzzy_join

        id_col, text_col, dd = args[1], args[2], args[3]
        need_col(id_col, "id_col")
        need_col(text_col, "text_col")
        if not _re.fullmatch(r"[1-9]\d*", dd):
            raise ValueError(
                f"{low}: positive integer literal expected for max_dist, "
                f"got {dd!r}"
            )
        out = fuzzy_join(df, id_col, text_col, max_dist=int(dd))
    elif name == "FB_HLL":
        from featurebase_spark.pipeline.sketches import hll_summary

        key_c, bb = args[1], args[2]
        need_col(key_c, "key_col")
        if not _re.fullmatch(r"\d+", bb):
            raise ValueError(
                f"{low}: integer literal expected for b, got {bb!r}"
            )
        out = hll_summary(df, key_c, b=int(bb))
    elif name == "FB_KEYWORD_SEARCH":
        from featurebase_spark.pipeline.text import keyword_topk

        id_col, text_col, terms_lit, kk = args[1], args[2], args[3], args[4]
        need_col(id_col, "id_col")
        need_col(text_col, "text_col")
        m = _re.fullmatch(r"'((?:[^']|'')*)'", terms_lit)
        if not m:
            raise ValueError(
                f"{low}: string literal expected for terms (a CSV of "
                f"search terms), got {terms_lit!r}"
            )
        term_list = [
            t.strip()
            for t in m.group(1).replace("''", "'").split(",")
            if t.strip()
        ]
        if not term_list:
            raise ValueError(
                f"{low}: terms must name at least one search term, "
                f"got {terms_lit!r}"
            )
        if not _re.fullmatch(r"[1-9]\d*", kk):
            raise ValueError(
                f"{low}: positive integer literal expected for k, got {kk!r}"
            )
        out = keyword_topk(df, id_col, text_col, term_list, k=int(kk))
    elif name == "FB_BM25":
        from featurebase_spark.pipeline.ranking import bm25_topk

        id_col, text_col, terms_lit, kk = args[1], args[2], args[3], args[4]
        need_col(id_col, "id_col")
        need_col(text_col, "text_col")
        m = _re.fullmatch(r"'((?:[^']|'')*)'", terms_lit)
        if not m:
            raise ValueError(
                f"{low}: string literal expected for terms (a CSV of "
                f"search terms), got {terms_lit!r}"
            )
        term_list = [
            t.strip()
            for t in m.group(1).replace("''", "'").split(",")
            if t.strip()
        ]
        if not term_list:
            raise ValueError(
                f"{low}: terms must name at least one search term, "
                f"got {terms_lit!r}"
            )
        if not _re.fullmatch(r"[1-9]\d*", kk):
            raise ValueError(
                f"{low}: positive integer literal expected for k, got {kk!r}"
            )
        out = bm25_topk(df, id_col, text_col, term_list, k=int(kk))
    elif name == "FB_SOURCE_OVERLAP":
        from featurebase_spark.pipeline.contamination import (
            source_overlap_jaccard,
        )

        text_col, src_col, ng, top = args[1], args[2], args[3], args[4]
        need_col(text_col, "text_col")
        need_col(src_col, "source_col")
        for v, role in ((ng, "ngram"), (top, "top")):
            if not _re.fullmatch(r"[1-9]\d*", v):
                raise ValueError(
                    f"{low}: positive integer literal expected for {role}, "
                    f"got {v!r}"
                )
        out = source_overlap_jaccard(df, text_col, src_col, int(ng), int(top))
    elif name == "FB_CMS":
        from featurebase_spark.pipeline.sketches import cms_topk_with_truth

        key_c, dd, ww, kk = args[1], args[2], args[3], args[4]
        need_col(key_c, "key_col")
        for v, role in ((dd, "d"), (ww, "w"), (kk, "k")):
            if not _re.fullmatch(r"[1-9]\d*", v):
                raise ValueError(
                    f"{low}: positive integer literal expected for {role}, "
                    f"got {v!r}"
                )
        out = cms_topk_with_truth(df, key_c, d=int(dd), w=int(ww), k=int(kk))
    elif name == "FB_PMI":
        from featurebase_spark.pipeline.frequent import collocations_pmi_topk

        text_col, mc, kk = args[1], args[2], args[3]
        need_col(text_col, "text_col")
        for v, role in ((mc, "min_count"), (kk, "k")):
            if not _re.fullmatch(r"[1-9]\d*", v):
                raise ValueError(
                    f"{low}: positive integer literal expected for {role}, "
                    f"got {v!r}"
                )
        out = collocations_pmi_topk(df, text_col, min_count=int(mc), k=int(kk))
    elif name == "FB_SESSION_OVERLAP":
        from featurebase_spark.operators.intervals import (
            concurrent_session_pairs,
        )

        user_c, ts_c, gap = args[1], args[2], args[3]
        need_col(user_c, "user_col")
        need_col(ts_c, "ts_col")
        if not _re.fullmatch(r"[1-9]\d*", gap):
            raise ValueError(
                f"{low}: positive integer literal expected for "
                f"gap_minutes, got {gap!r}"
            )
        out = concurrent_session_pairs(df, user_c, ts_c, int(gap))
    elif name == "FB_WINNOW":
        from featurebase_spark.pipeline.dedup import (
            winnowing_containment_pairs,
        )

        text_col, id_col, ms = args[1], args[2], args[3]
        need_col(text_col, "text_col")
        need_col(id_col, "id_col")
        if not _re.fullmatch(r"[1-9]\d*", ms):
            raise ValueError(
                f"{low}: positive integer literal expected for "
                f"min_shared, got {ms!r}"
            )
        out = winnowing_containment_pairs(
            df, text_col, id_col, min_shared=int(ms)
        )
    elif name == "FB_DEDUP_COMPONENTS":
        from featurebase_spark.pipeline.dedup import (
            winnowing_containment_pairs,
        )
        from featurebase_spark.pipeline.graph import connected_components

        text_col, id_col, ms = args[1], args[2], args[3]
        need_col(text_col, "text_col")
        need_col(id_col, "id_col")
        if not _re.fullmatch(r"[1-9]\d*", ms):
            raise ValueError(
                f"{low}: positive integer literal expected for "
                f"min_shared, got {ms!r}"
            )
        pairs = winnowing_containment_pairs(
            df, text_col, id_col, min_shared=int(ms)
        )
        out = connected_components(
            df.select(id_col), pairs,
            node_col=id_col, src_col="id_a", dst_col="id_b",
            shuffle_partitions=8,  # loop frames = |ids| label rows
        )
    else:
        from featurebase_spark.pipeline import dedup

        text_col, id_col = args[1], args[2]
        need_col(text_col, "text_col")
        need_col(id_col, "id_col")
        out = dedup.dedup_survivors(df, text_col, id_col)
    view = f"__fb_tvf_{idx}"
    out.createOrReplaceTempView(view)
    return view


def _expand_tvfs(spark: SparkSession, sql: str) -> str:
    """Replace every TVF call in the statement with a temp view holding
    its result (the compile step the reference's planner would do if its
    TVFs were enabled). No-op when no TVF name appears."""
    if not _TVF_GUARD.search(sql):
        return sql
    toks = _tokenize(sql)
    out: list[str] = []
    i, n, count = 0, len(toks), 0
    while i < n:
        tok = toks[i]
        up = tok.upper() if (tok[:1].isalpha() or tok[:1] == "_") else ""
        if up in _TVFS:
            j = i + 1
            while j < n and _is_ws(toks[j]):
                j += 1
            if j < n and toks[j] == "(":
                depth, j2 = 1, j + 1
                args: list[str] = []
                cur: list[str] = []
                while j2 < n and depth:
                    t = toks[j2]
                    if t == "(":
                        depth += 1
                    elif t == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    elif t == "," and depth == 1:
                        args.append("".join(cur).strip())
                        cur = []
                        j2 += 1
                        continue
                    cur.append(t)
                    j2 += 1
                if depth:
                    raise ValueError(f"{up.lower()}: unterminated argument list")
                tail = "".join(cur).strip()
                if tail:
                    args.append(tail)
                out.append(_eval_tvf(spark, up, args, count))
                count += 1
                i = j2 + 1
                continue
        out.append(tok)
        i += 1
    return "".join(out)


def _route_group_distinct(
    spark: SparkSession, sql: str, catalog
) -> Optional[DataFrame]:
    """Serve ``SELECT f, COUNT(*) FROM t GROUP BY f [ORDER BY ...]
    [LIMIT n]`` and ``SELECT DISTINCT f FROM t [ORDER BY f] [LIMIT n]``
    from an equality index's fragment value/cardinality columns — the
    reference's PlanOpPQLGroupBy / PlanOpPQLRowsOp lowering (single
    ungrouped field, no WHERE). None → Catalyst scan fallback."""
    toks = [t for t in _tokenize(sql) if not _is_ws(t)]
    if len(toks) < 4 or toks[0].upper() != "SELECT":
        return None
    from pyspark.sql import functions as F

    def field_type(table: str, f: str) -> Optional[str]:
        view = catalog._view(table)
        t = dict(spark.table(view).dtypes).get(f)
        if t is None:
            return None
        return t[6:-1] if t.startswith("array<") else t

    i = 1
    if toks[i].upper() == "DISTINCT":
        # SELECT DISTINCT f FROM t [ORDER BY f [ASC]] [LIMIT n]
        if i + 3 >= len(toks) or toks[i + 2].upper() != "FROM":
            return None
        f, table = toks[i + 1].lower(), toks[i + 3].lower()
        i += 4
        reg = getattr(catalog, "_index_fields", {}).get(table)
        if not reg or reg.get(f) != "eq":
            return None
        ordered = False
        if i < len(toks) and toks[i].upper() == "ORDER":
            if (
                i + 2 >= len(toks)
                or toks[i + 1].upper() != "BY"
                or toks[i + 2].lower() != f
            ):
                return None
            i += 3
            if i < len(toks) and toks[i].upper() == "ASC":
                i += 1
            ordered = True
        limit = None
        if i + 1 < len(toks) and toks[i].upper() == "LIMIT":
            if not toks[i + 1].isdigit():
                return None
            limit = int(toks[i + 1])
            i += 2
        if i != len(toks):
            return None
        ft = field_type(table, f)
        if ft is None:
            return None
        out = (
            catalog._bitmap[table]._indexes[f]
            .select("value")
            .distinct()
            .select(F.col("value").cast(ft).alias(f))
        )
        if ordered:
            out = out.orderBy(f)
        return out.limit(limit) if limit is not None else out

    # SELECT f, COUNT(*) [AS a] FROM t GROUP BY f [ORDER BY ...] [LIMIT n]
    if i + 1 >= len(toks) or toks[i + 1] != ",":
        return None
    f = toks[i].lower()
    i += 2
    if (
        i + 3 >= len(toks)
        or toks[i].upper() != "COUNT"
        or toks[i + 1] != "("
        or toks[i + 2] != "*"
        or toks[i + 3] != ")"
    ):
        return None
    i += 4
    alias = None
    if i + 1 < len(toks) and toks[i].upper() == "AS":
        alias = toks[i + 1]
        if alias[:1] == '"' and alias[-1:] == '"':
            alias = alias[1:-1].replace('""', '"')
        i += 2
    if i + 1 >= len(toks) or toks[i].upper() != "FROM":
        return None
    table = toks[i + 1].lower()
    i += 2
    reg = getattr(catalog, "_index_fields", {}).get(table)
    if not reg or reg.get(f) != "eq":
        return None
    if (
        i + 2 >= len(toks)
        or toks[i].upper() != "GROUP"
        or toks[i + 1].upper() != "BY"
        or toks[i + 2].lower() != f
    ):
        return None
    i += 3
    cname = alias or "count(1)"
    order = None
    if i + 1 < len(toks) and toks[i].upper() == "ORDER" and toks[i + 1].upper() == "BY":
        i += 2
        order = []
        while i < len(toks) and toks[i].upper() != "LIMIT":
            col = toks[i].lower()
            if col == ",":
                i += 1
                continue
            if col not in (f, cname.lower(), "count"):
                return None
            direction = "asc"
            if i + 1 < len(toks) and toks[i + 1].upper() in ("ASC", "DESC"):
                direction = toks[i + 1].lower()
                i += 1
            order.append((f if col == f else cname, direction))
            i += 1
    limit = None
    if i + 1 < len(toks) and toks[i].upper() == "LIMIT":
        if not toks[i + 1].isdigit():
            return None
        limit = int(toks[i + 1])
        i += 2
    if i != len(toks):
        return None
    ft = field_type(table, f)
    if ft is None:
        return None
    out = (
        catalog._bitmap[table]._indexes[f]
        .groupBy("value")
        .agg(F.sum("cardinality").alias("__n"))
        .select(
            F.col("value").cast(ft).alias(f),
            F.col("__n").cast("long").alias(cname),
        )
    )
    if order:
        out = out.orderBy(
            *[
                F.desc(c) if d == "desc" else F.asc(c)
                for c, d in order
            ]
        )
    return out.limit(limit) if limit is not None else out


def _route_simple_agg(
    spark: SparkSession, sql: str, catalog
) -> Optional[DataFrame]:
    """Serve ``SELECT <one agg> FROM <indexed table> [WHERE <and/or of
    simple predicates>]`` from the table's bitmap fragments — the
    reference's actual compile path: sql3 lowers exactly this shape to a
    PQL Count/Sum/Min/Max over fragment bitmaps (compileselect.go →
    PlanOpPQLAggregate). Returns None for anything not fully covered
    (the Catalyst scan path is the fallback and the answers are equal —
    tests assert it). Result schema matches what ``spark.sql`` would
    name (``count(1)``/``sum(f)``/... or the AS alias)."""
    toks = [t for t in _tokenize(sql) if not _is_ws(t)]
    if len(toks) < 4 or toks[0].upper() != "SELECT":
        return None

    i = 1
    agg = toks[i].upper() if i < len(toks) else ""
    if agg not in ("COUNT", "SUM", "MIN", "MAX"):
        return None
    if i + 1 >= len(toks) or toks[i + 1] != "(":
        return None
    arg = toks[i + 2] if i + 2 < len(toks) else None
    if arg is None or (i + 3 >= len(toks)) or toks[i + 3] != ")":
        return None
    i += 4
    alias = None
    if i < len(toks) and toks[i].upper() == "AS":
        alias = toks[i + 1] if i + 1 < len(toks) else None
        if alias is None:
            return None
        if alias[:1] == '"' and alias[-1:] == '"':
            alias = alias[1:-1].replace('""', '"')
        i += 2
    if i >= len(toks) or toks[i].upper() != "FROM":
        return None
    table = toks[i + 1] if i + 1 < len(toks) else None
    i += 2
    if table is None or table.lower() not in getattr(catalog, "_index_fields", {}):
        return None
    table = table.lower()
    reg = catalog._index_fields[table]
    cat = catalog._bitmap[table]

    # WHERE clause → bitmap expression (and/or over field-op-literal)
    expr = None
    if i < len(toks):
        if toks[i].upper() != "WHERE":
            return None
        from featurebase_spark.plans import bitmap_index as B

        pos = [i + 1]

        def parse_or():
            node = parse_and()
            while (
                node is not None
                and pos[0] < len(toks)
                and toks[pos[0]].upper() == "OR"
            ):
                pos[0] += 1
                rhs = parse_and()
                node = B.Or(node, rhs) if rhs is not None else None
            return node

        def parse_and():
            node = parse_leaf()
            while (
                node is not None
                and pos[0] < len(toks)
                and toks[pos[0]].upper() == "AND"
            ):
                pos[0] += 1
                rhs = parse_leaf()
                node = B.And(node, rhs) if rhs is not None else None
            return node

        def parse_leaf():
            if pos[0] < len(toks) and toks[pos[0]] == "(":
                pos[0] += 1
                node = parse_or()
                if (
                    node is None
                    or pos[0] >= len(toks)
                    or toks[pos[0]] != ")"
                ):
                    return None
                pos[0] += 1
                return node
            if pos[0] + 2 >= len(toks):
                return None
            f, op, lit = toks[pos[0]], toks[pos[0] + 1], toks[pos[0] + 2]
            pos[0] += 3
            f = f.lower()
            if op == "=" and f in reg and reg[f] == "eq":
                v = lit[1:-1].replace("''", "'") if lit[:1] == "'" else lit
                return B.Atom(f, v)
            if (
                op in ("=", "!=", "<>", "<", "<=", ">", ">=")
                and f in reg
                and reg[f] == "bsi"
            ):
                try:
                    v = int(lit)
                except ValueError:
                    return None
                o = {"=": "==", "<>": "!="}.get(op, op)
                return B.Cmp(f, o, v)
            return None

        expr = parse_or()
        if expr is None or pos[0] != len(toks):
            return None

    if agg == "COUNT":
        # unfiltered COUNT(*) has no fragment answer (an eq index only
        # covers rows where its field is set) — scan path handles it
        if arg != "*" or expr is None:
            return None
        val = cat.count(expr)
        name = alias or "count(1)"
    else:
        f = arg.lower()
        if f not in reg or reg[f] != "bsi":
            return None
        fn = {"SUM": cat.bsi_sum, "MIN": cat.bsi_min, "MAX": cat.bsi_max}[agg]
        val = fn(f, expr)
        name = alias or f"{agg.lower()}({f})"
    from featurebase_spark.plans.router import scalar_frame

    return scalar_frame(
        spark, [(name, None if val is None else int(val), "BIGINT")]
    )


#: reference binary-operator TYPE RULES (sql3/test/defs/defs_binops.go —
#: the 64-matrix corpus; error texts asserted verbatim there). Spark
#: would silently COERCE most of these (int < string compares by cast,
#: bool < bool works), so without this guard the dialect's behavior
#: drifts from the reference with no error at all. Conservative scope:
#: the guard fires only on a COLUMN-op-COLUMN expression whose two bare
#: identifiers both resolve in the single FROM table — literals keep
#: Spark's coercion semantics (the corpus types those cases via field
#: reads, which a text front door cannot see), and anything qualified,
#: parenthesized, or multi-table is left to Catalyst.
_BINOP_ALLOWED: dict[str, frozenset] = {
    **{op: frozenset({"int", "id"}) for op in ("&", "|", "<<", ">>", "%")},
    **{op: frozenset({"int", "id", "decimal"}) for op in ("+", "-", "*", "/")},
    "||": frozenset({"string"}),
    **{
        op: frozenset({"int", "id", "decimal", "timestamp"})
        for op in ("<", "<=", ">", ">=")
    },
    # AND/OR deliberately absent: the corpus asserts only their VALID
    # bool cases, never an error text — and guarding them would false-
    # positive on BETWEEN x AND y. Catalyst types them.
}
_EQ_OPS = {"=", "!=", "<>"}
_ORDER_OPS = {"<", "<=", ">", ">="}

#: tokens that put the NEXT -/+/! in unary position (expression start)
_UNARY_STARTERS = {
    "SELECT", ",", "(", "WHERE", "AND", "OR", "NOT", "BY", "HAVING",
    "THEN", "ELSE", "WHEN", "=", "!=", "<>", "<", "<=", ">", ">=",
    "+", "-", "*", "/", "%",
}


def _fb_type_name(field) -> Optional[str]:
    """Reference type-system name for a Spark schema field; None for
    types outside the reference's system (guard then stays silent)."""
    from pyspark.sql import types as T

    dt = field.dataType
    if field.name == "_id" and isinstance(
        dt, (T.LongType, T.IntegerType)
    ):
        return "id"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.LongType, T.IntegerType)):
            return "idset"
        if isinstance(dt.elementType, T.StringType):
            return "stringset"
    return None


def _binop_class(tname: str) -> str:
    return "decimal" if tname.startswith("decimal(") else tname


#: keywords that terminate a FROM/JOIN table-reference position
_JOIN_STOP = {
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "ON", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "JOIN", "WITH", "AS", "USING", "OFFSET",
    "UNION", "AND", "OR",
}


def _join_resolver_rewrite(spark: SparkSession, sql: str) -> str:
    """Two sql3 name-resolution quirks the defs corpus pins for joins:

    1. An ALIASED table stays addressable by its BASE name —
       ``from orders o ... sum(orders.price)`` resolves
       (defs_join.go:73 'innerjoin-aggregate-groupby'); Spark would
       raise UNRESOLVED_COLUMN. Rewrite ``base.`` qualifiers to the
       alias.
    2. An UNQUALIFIED column that exists in several joined tables
       resolves to the FIRST table in FROM order — ``select _id from
       grouper g inner join joiner j`` returns grouper ids
       (defs_sql1.go:162-174); Spark raises AMBIGUOUS_REFERENCE.
       Qualify with the first owning table's alias."""
    if not _re.search(r"(?i)\bjoin\b", sql):
        return sql
    toks = _tokenize(sql)
    sig_pos = [i for i, t in enumerate(toks) if not _is_ws(t)]
    sig = [toks[i] for i in sig_pos]
    ups = [t.upper() for t in sig]
    # ordered (table, alias) pairs from FROM/JOIN positions
    tables: list[tuple[str, str]] = []
    for n, u in enumerate(ups):
        if u not in ("FROM", "JOIN"):
            continue
        if n + 1 >= len(sig) or not _re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*", sig[n + 1]
        ):
            return sql  # subquery/paren in FROM — leave untouched
        tbl = sig[n + 1]
        alias = tbl
        m = n + 2
        if m < len(sig) and ups[m] == "AS":
            m += 1
        if (
            m < len(sig)
            and _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", sig[m])
            and ups[m] not in _JOIN_STOP
        ):
            alias = sig[m]
        tables.append((tbl, alias))
    if len(tables) < 2:
        return sql
    try:
        owners: dict[str, list[str]] = {}
        base_alias = {}
        for tbl, alias in tables:
            base_alias[tbl.lower()] = alias
            for c in spark.table(tbl).columns:
                owners.setdefault(c.lower(), []).append(alias)
    except Exception:  # noqa: BLE001 — unknown table: Catalyst's error
        return sql
    aliases = {a.lower() for _, a in tables}
    # join-condition equatability (defs_join.go 'Unmatched-columns':
    # ON u.name = o.userid -> "types 'string' and 'int' are not
    # equatable" at compile; Spark would cast-and-run)
    tcols: dict[str, dict[str, str]] = {}
    for tbl, alias in tables:
        colmap = {}
        for c, dt in spark.table(tbl).dtypes:
            if dt == "string":
                colmap[c.lower()] = "string"
            elif dt == "bigint":
                colmap[c.lower()] = "int"
            elif dt.startswith("decimal"):
                colmap[c.lower()] = "decimal"
            elif dt.startswith("timestamp"):
                colmap[c.lower()] = "timestamp"
            elif dt == "boolean":
                colmap[c.lower()] = "bool"
        tcols[alias.lower()] = colmap
    _numeric = {"int", "decimal"}
    for n in range(len(sig) - 6):
        if (
            sig[n + 1] == "."
            and sig[n + 5] == "."
            and sig[n + 3] in ("=", "!=", "<", "<=", ">", ">=")
            and sig[n].lower() in tcols
            and sig[n + 4].lower() in tcols
        ):
            lt = tcols[sig[n].lower()].get(sig[n + 2].lower())
            rt = tcols[sig[n + 4].lower()].get(sig[n + 6].lower())
            if lt and rt:
                jointly = (lt == rt) or (
                    lt in _numeric and rt in _numeric
                )
                if not jointly:
                    raise ValueError(
                        f"types '{lt}' and '{rt}' are not equatable"
                    )
    out = list(toks)
    for n, t in enumerate(sig):
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t):
            continue
        prev_dot = n >= 1 and sig[n - 1] == "."
        next_dot = n + 1 < len(sig) and sig[n + 1] == "."
        low = t.lower()
        if next_dot:
            # base-name qualifier for an aliased table → the alias
            if (
                low in base_alias
                and low not in aliases
                and base_alias[low].lower() != low
            ):
                out[sig_pos[n]] = base_alias[low]
            continue
        if prev_dot:
            continue
        # skip the FROM/JOIN table/alias positions themselves
        if n >= 1 and ups[n - 1] in ("FROM", "JOIN", "AS"):
            continue
        if low in aliases or low in base_alias:
            continue
        own = owners.get(low, [])
        if len(own) >= 2:
            out[sig_pos[n]] = f"{own[0]}.{t}"
    return "".join(out)


_AGG_HEAD_RE = _re.compile(
    r"(?i)\b(COUNT|SUM|AVG|MIN|MAX|PERCENTILE|CORR|VAR)\s*\("
)


def _grouped_sum_rewrite(sql: str) -> str:
    """A GROUP BY whose ONLY aggregate is SUM(col) compiles to a single
    PQL GroupBy(aggregate=Sum(...)) in the reference, and PQL GroupBy
    OMITS groups with no summable values (defs_groupby.go:124-136:
    sum(i2) over groups 11/12/13 — all-null i2 — returns ONE row, not
    NULL rows). With additional aggregates the compilation joins
    per-aggregate ops and null-sum groups SURVIVE (:152-166 pins
    (0, nil, 11)). Mirror: append HAVING <sum> IS NOT NULL for the
    single-SUM shape."""
    m = _re.match(
        r"(?is)^\s*select\s+(.*?)\s+from\s+.*\bgroup\s+by\b.*$", sql
    )
    if m is None or _re.search(
        r"(?i)\b(having|order\s+by|limit|offset)\b", sql
    ):
        return sql
    heads = _AGG_HEAD_RE.findall(m.group(1))
    if len(heads) != 1 or heads[0].upper() != "SUM":
        return sql
    sm = _re.search(r"(?is)\bSUM\s*\((.*?)\)", m.group(1))
    if sm is None:
        return sql
    return sql + f" having sum({sm.group(1)}) is not null"


def _setfn_type_guard(sig, ups, types, _pos) -> None:
    """SETCONTAINS/SETCONTAINSALL/SETCONTAINSANY argument typing
    (analyzeFunctionSetContains*; defs_set_functions.go): the member
    must match the set's element class — mismatches refuse with
    'types X and Y are not equatable' (X/Y are the SET type and the
    member's scalar type for SETCONTAINS; the two ELEMENT types
    ('string'/'id') for ALL/ANY), and a set literal containing null is
    'set literal must contain ints or strings'."""

    def arg_spans(start):
        """Comma-split the arg token spans of a call whose '(' is at
        sig[start]."""
        spans, cur, depth, m = [], [], 1, start + 1
        while m < len(sig) and depth:
            t = sig[m]
            if t in ("(", "["):
                depth += 1
            elif t in (")", "]"):
                depth -= 1
                if depth == 0:
                    break
            if t == "," and depth == 1:
                spans.append(cur)
                cur = []
            else:
                cur.append((m, t))
            m += 1
        if cur:
            spans.append(cur)
        return spans

    def set_kind(span):
        """('stringset'|'idset', elem) for a set literal or set column;
        scalar kinds ('int','string','void') otherwise; None unknown."""
        if not span:
            return None
        toks = [t for _, t in span]
        if toks[0] == "[":
            elems = [t for t in toks[1:] if t not in ("]", ",")]
            kinds = set()
            for e in elems:
                k, _v = _lit_kind(e)
                if k == "null":
                    raise ValueError(
                        "set literal must contain ints or strings"
                    )
                kinds.add(k)
            if kinds <= {"int"}:
                return "idset"
            if kinds <= {"str"}:
                return "stringset"
            return None
        if len(toks) == 1:
            k, _v = _lit_kind(toks[0])
            if k == "int":
                return "int"
            if k == "str":
                return "string"
            if k == "null":
                return "void"
            st = types.get(toks[0].lower())
            if st in ("idset", "stringset"):
                return st
            if st == "idsetq" or st == "time":
                return "idset"
            if st == "stringsetq":
                return "stringset"
        if len(toks) == 3 and toks[1] == ".":
            st = types.get(toks[2].lower())
            if st in ("idset", "stringset"):
                return st
        return None

    _ELEM = {"stringset": "string", "idset": "id"}
    for n, u in enumerate(ups):
        if u not in (
            "SETCONTAINS", "SETCONTAINSALL", "SETCONTAINSANY"
        ) or n + 1 >= len(sig) or sig[n + 1] != "(":
            continue
        spans = arg_spans(n + 1)
        if len(spans) != 2:
            continue
        s_kind = set_kind(spans[0])
        m_kind = set_kind(spans[1])
        if s_kind not in ("idset", "stringset") or m_kind is None:
            continue
        if u == "SETCONTAINS":
            ok = (s_kind == "stringset" and m_kind == "string") or (
                s_kind == "idset" and m_kind == "int"
            )
            if not ok:
                raise ValueError(
                    _pos(spans[1][0][0])
                    + f"types '{s_kind}' and '{m_kind}' are not equatable"
                )
        else:
            if m_kind not in ("idset", "stringset"):
                continue
            if m_kind != s_kind:
                raise ValueError(
                    _pos(spans[1][0][0])
                    + f"types '{_ELEM[s_kind]}' and '{_ELEM[m_kind]}' "
                    f"are not equatable"
                )


#: aggregates legal under GROUP BY in the reference (compileselect
#: routes GROUP BY through PQLGroupBy ops; MIN/MAX/PERCENTILE have no
#: PQL GroupBy aggregate — defs_groupby.go:209-226 pins the refusals)
_GROUPBY_AGGS_OK = {"COUNT", "SUM", "AVG", "CORR", "VAR"}


def _select_analyzer_guard(spark: SparkSession, sql: str, catalog=None):
    """Compile-time analyzer rules the defs corpus pins beyond the
    binop guard:

    - RIGHT/FULL joins refuse (compileselect.go:378-380)
    - ORDER BY terms must be a column, alias, or 1-based position —
      expressions refuse (defs_groupby.go:33-56 'order by count(*)')
    - ORDER BY over a set-typed column refuses ("unable to sort a
      column of type 'idset'", defs_orderby.go)
    - MIN/MAX/PERCENTILE refuse under GROUP BY (no PQL GroupBy
      aggregate exists for them, defs_groupby.go:209-226)
    - AVG takes int/decimal (defs_aggregate.go avg(s1));
      PERCENTILE takes int/decimal/timestamp
    """
    toks = _tokenize(sql)
    sig = []
    offs = []
    _off = 0
    for t in toks:
        if not _is_ws(t):
            sig.append(t)
            offs.append(_off)
        _off += len(t)
    ups = [t.upper() for t in sig]

    def _pos(i: int) -> str:
        off = offs[i] if 0 <= i < len(offs) else 0
        line = sql.count("\n", 0, off) + 1
        col = off - (sql.rfind("\n", 0, off) + 1) + 1
        return f"[{line}:{col}] "

    for n, u in enumerate(ups):
        if u in ("RIGHT", "FULL") and n + 1 < len(ups) and ups[n + 1] in (
            "JOIN", "OUTER",
        ):
            raise ValueError(
                _pos(n) + f"{u} join types are not supported"
            )

    has_group = any(
        u == "GROUP" and n + 1 < len(ups) and ups[n + 1] == "BY"
        for n, u in enumerate(ups)
    )
    if has_group:
        for n, u in enumerate(ups):
            if (
                u in ("MIN", "MAX", "PERCENTILE")
                and n + 1 < len(sig)
                and sig[n + 1] == "("
            ):
                raise ValueError(
                    _pos(n)
                    + f"aggregate '{u}()' not allowed in GROUP BY"
                )

    # single-table column types (declared via catalog when available)
    types: dict[str, str] = {}
    froms = [n for n, u in enumerate(ups) if u == "FROM"]
    if len(froms) == 1 and "JOIN" not in ups:
        fi = froms[0]
        if fi + 1 < len(sig) and _re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 1]
        ):
            table = sig[fi + 1]
            td = (
                getattr(catalog, "_defs", {}).get(table)
                if catalog
                else None
            )
            if td is not None:
                types["_id"] = "string" if td.keys else "id"
                for fd in td.fields:
                    ft = fd.fb_type.lower()
                    types[fd.name.lower()] = (
                        f"decimal({fd.scale})" if ft == "decimal" else ft
                    )
            else:
                try:
                    for f in spark.table(table).schema.fields:
                        tn = _fb_type_name(f)
                        if tn:
                            types[f.name.lower()] = tn
                except Exception:  # noqa: BLE001 — unknown table
                    pass

    # ORDER BY term validation (top paren depth only)
    depth = 0
    n = 0
    while n < len(sig):
        t = sig[n]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and ups[n] == "ORDER" and n + 1 < len(ups) and (
            ups[n + 1] == "BY"
        ):
            m = n + 2
            term_start = m
            while m <= len(sig):
                tm = sig[m] if m < len(sig) else ","
                um = tm.upper()
                if m >= len(sig) or tm == "," or um in (
                    "LIMIT", "OFFSET",
                ):
                    span = sig[term_start:m]
                    su = [x.upper() for x in span]
                    while su and su[-1] in ("ASC", "DESC"):
                        span = span[:-1]
                        su = su[:-1]
                    if any(x == "(" for x in span):
                        raise ValueError(
                            _pos(term_start) + "column reference, alias "
                            "reference or column position expected"
                        )
                    if len(span) == 1:
                        st = types.get(span[0].lower(), "")
                        if st in ("idset", "stringset") or st.endswith(
                            "setq"
                        ):
                            raise ValueError(
                                _pos(term_start) + "unable to sort a "
                                f"column of type '{st}'"
                            )
                    if m >= len(sig) or um in ("LIMIT", "OFFSET"):
                        break
                    term_start = m + 1
                m += 1
        n += 1

    # aggregate argument type rules over the single-table scope
    for n, u in enumerate(ups):
        if u in ("AVG", "PERCENTILE", "CORR", "VAR") and n + 2 < len(
            sig
        ) and sig[n + 1] == "(":
            arg = sig[n + 2]
            st = types.get(arg.lower())
            if st is None:
                continue
            cls = "decimal" if st.startswith("decimal(") else st
            if u == "AVG" and cls not in ("int", "id", "decimal"):
                raise ValueError(
                    _pos(n + 2) + "integer or decimal expression expected"
                )
            if u in ("PERCENTILE", "CORR", "VAR") and cls not in (
                "int", "id", "decimal", "timestamp",
            ):
                raise ValueError(
                    _pos(n + 2)
                    + "integer, decimal or timestamp expression expected"
                )

    # PERCENTILE only compiles when its filter pushes down to PQL —
    # '!=' on a string/set column has no PQL Row form (executor.go:
    # 5188 'only support != for null'), so the reference refuses the
    # whole call (defs_aggregate.go percentileTests 'can't be pushed')
    if "PERCENTILE" in ups and "WHERE" in ups:
        wi = ups.index("WHERE")
        for n in range(wi, len(sig) - 1):
            if sig[n] == "!=" or (
                sig[n] == "!" and sig[n + 1 : n + 2] == ["="]
            ):
                lt = types.get(sig[n - 1].lower(), "")
                if lt and lt not in ("int", "id", "timestamp") and not (
                    lt.startswith("decimal(")
                ):
                    raise ValueError(
                        "Percentile call that can't be pushed down to "
                        "PQL is not supported"
                    )

    # RANGEQ's FIRST argument must be a time-quantum column — checked
    # BEFORE the from/to null rules (analyzeFunctionRangeQ,
    # inbuiltfunctionsquantum.go:13-17; defs_timequantum.go pins
    # rangeq(a.i1, null, null) = 'time quantum expression expected')
    for n, u in enumerate(ups):
        if u == "RANGEQ" and n + 2 < len(sig) and sig[n + 1] == "(":
            m = n + 2
            # skip an alias qualifier
            if m + 2 < len(sig) and sig[m + 1] == ".":
                m += 2
            st = types.get(sig[m].lower())
            if st is not None and not st.endswith("setq") and st not in (
                "time",
            ):
                raise ValueError(
                    _pos(n + 2) + "time quantum expression expected"
                )

    _setfn_type_guard(sig, ups, types, _pos)


def _like_scalar_rewrite(sql: str) -> str:
    """The sql3 scalar LIKE is NOT standard SQL LIKE: wildCardToRegexp
    (planner/expression.go:2991-3001) compiles the pattern to a
    case-INSENSITIVE regex where ``%`` → ``.*`` and ``_`` → ``.+`` (one
    OR MORE, not exactly one — defs_like.go pins 'foo' LIKE '%f_' =
    true), with no escaping of regex metacharacters. Rewrite
    ``LIKE '<literal>'`` to RLIKE with that exact conversion. (The PQL
    like door — like.go planLike, served by the trigram index — keeps
    standard one-char ``_`` semantics; the reference itself has the
    same split.) Non-literal patterns keep Spark LIKE."""
    if "like" not in sql.lower():
        return sql
    toks = _tokenize(sql)
    out = list(toks)
    for i, t in enumerate(toks):
        if t.upper() != "LIKE":
            continue
        j = i + 1
        while j < len(toks) and _is_ws(toks[j]):
            j += 1
        if j >= len(toks):
            continue
        lit = toks[j]
        if not (lit[:1] == "'" and lit[-1:] == "'" and len(lit) >= 2):
            continue
        pat = lit[1:-1].replace("''", "'")
        regex = "(?i)^" + pat.replace("%", ".*").replace("_", ".+") + "$"
        out[i] = "rlike"
        out[j] = "'" + regex.replace("'", "''") + "'"
    return "".join(out)


#: aggregate-function heads that make _id paging meaningless
_PAGE_AGG_FNS = {
    "COUNT", "SUM", "AVG", "MIN", "MAX", "PERCENTILE", "CORR", "VAR",
}


def _page_order_rewrite(spark: SparkSession, sql: str) -> str:
    """TOP(n) / LIMIT paging without an ORDER BY returns the FIRST n
    records by ``_id`` in the reference — scan order is _id-ascending
    shard order (Extract(Limit(All(), ...)), defs_unkeyed.go
    'select-all-with-top' pins rows 1..n). Our storage is hash-bucketed,
    so an explicit ``ORDER BY _id`` is appended for paged, non-grouped,
    non-distinct single-table scopes. Scale-safe: orderBy(_id).limit(n)
    compiles to TakeOrderedAndProject — a per-partition top-n heap, not
    a global sort."""
    toks = _tokenize(sql)
    sig = [t for t in toks if not _is_ws(t)]
    ups = [t.upper() for t in sig]
    if "ORDER" in ups or "GROUP" in ups or "DISTINCT" in ups:
        return sql
    has_top = any(
        u in ("TOP", "TOPN") and i + 1 < len(sig) and sig[i + 1] == "("
        for i, u in enumerate(ups)
    )
    has_limit = "LIMIT" in ups
    if not has_top and not has_limit:
        return sql
    if any(
        u in _PAGE_AGG_FNS and i + 1 < len(sig) and sig[i + 1] == "("
        for i, u in enumerate(ups)
    ):
        return sql
    froms = [i for i, u in enumerate(ups) if u == "FROM"]
    if len(froms) != 1 or "JOIN" in ups:
        return sql
    if any(t == "(" for t in sig[froms[0] :]):
        return sql  # subquery in/after FROM — leave untouched
    fi = froms[0]
    if fi + 1 >= len(sig) or not _re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 1]
    ):
        return sql
    table = sig[fi + 1]
    alias = None
    if fi + 2 < len(sig) and _re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 2]
    ) and sig[fi + 2].upper() not in ("WHERE", "LIMIT", "WITH"):
        alias = sig[fi + 2]
    try:
        cols = {c.lower() for c, _ in spark.table(table).dtypes}
    except Exception:  # noqa: BLE001 — unknown table: Catalyst's error
        return sql
    if "_id" not in cols:
        return sql
    ref = f"{alias}._id" if alias else "_id"
    if has_limit:
        # insert before the top-level LIMIT
        out, done = [], False
        for t in toks:
            if not done and t.upper() == "LIMIT":
                out.append(f"order by {ref} ")
                done = True
            out.append(t)
        return "".join(out)
    return sql + f" order by {ref}"


_CAST_COL_RE = _re.compile(
    r"(?is)\bCAST\s*\(\s*"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\s*\.\s*[A-Za-z_][A-Za-z0-9_]*)?)"
    r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s*\(\s*(\d+)\s*\))?\s*\)"
)

#: typesCanBeCast (planner/expressiontypes.go:781-851): source fb type
#: -> legal cast targets; decimal->decimal additionally requires the
#: target scale >= source scale
_CAST_ALLOWED = {
    "int": {"int", "bool", "decimal", "id", "string", "timestamp"},
    "bool": {"bool", "int", "string"},
    "decimal": {"decimal", "string"},
    "id": {"int", "bool", "decimal", "id", "string"},
    "idset": {"idset", "string"},
    "string": {"int", "bool", "decimal", "id", "string", "timestamp"},
    "stringset": {"stringset", "string"},
    "timestamp": {"int", "timestamp", "string"},
}

#: strconv.ParseBool's accepted spellings (string->bool cast)
_GO_BOOL_LITS = (
    "'1','t','T','TRUE','true','True','0','f','F','FALSE','false','False'"
)


def _cast_string_render_rewrite(spark, sql: str, catalog=None) -> str:
    """CAST(col AS T) with the REFERENCE's semantics (defs_cast.go):

    - the typesCanBeCast compile matrix (planner/expressiontypes.go:
      781-851) — e.g. bool->decimal refuses with "'bool' cannot be
      cast to 'decimal(2)'" (errors.go:254); decimal->decimal requires
      target scale >= source scale
    - string-source casts CONVERT AT RUNTIME and raise
      "'<value>' cannot be cast to '<type>'" on unparseable values
      (expression.go:2253-2300 — strconv.Atoi / ParseBool /
      pql.ParseDecimal / RFC3339) where Spark would yield NULL
    - render formats: idset -> Go slice form '[101 102]' (sorted),
      stringset -> JSON '["a","b"]' (sorted, expression.go:2303-2332),
      timestamp -> RFC3339

    Bare single-table column refs only — the same conservative scope as
    the binop guard; computed expressions keep Spark semantics."""
    if "cast" not in sql.lower():
        return sql
    # literal sources face the same compile matrix (castIntLiteral:
    # cast(1 as idset) -> "'int' cannot be cast to 'idset'")
    for lm in _re.finditer(
        r"(?is)\bCAST\s*\(\s*(-?\d+(?:\.\d+)?|'(?:[^']|'')*'|true|false)"
        r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s*\(\s*(\d+)\s*\))?\s*\)",
        sql,
    ):
        lit, tname, tscale = lm.group(1), lm.group(2).lower(), lm.group(3)
        if tname not in _CAST_ALLOWED and tname not in (
            "idset", "stringset",
        ):
            continue
        if lit.lower() in ("true", "false"):
            src = "bool"
        elif lit[:1] == "'":
            src = "string"
        elif "." in lit:
            src = "decimal"
        else:
            src = "int"
        if tname not in _CAST_ALLOWED.get(src, set()):
            tgt_txt = (
                f"decimal({tscale or 0})" if tname == "decimal" else tname
            )
            raise ValueError(f"'{src}' cannot be cast to '{tgt_txt}'")
    toks = _tokenize(sql)
    sig = [t for t in toks if not _is_ws(t)]
    froms = [i for i, t in enumerate(sig) if t.upper() == "FROM"]
    if len(froms) != 1 or any(t.upper() == "JOIN" for t in sig):
        return sql
    fi = froms[0]
    if fi + 1 >= len(sig) or not _re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 1]
    ):
        return sql
    table = sig[fi + 1]
    # declared fb types (id vs int needs the catalog; Spark schema
    # types both as bigint)
    fbt: dict = {}
    scales: dict = {}
    td = getattr(catalog, "_defs", {}).get(table) if catalog else None
    if td is not None:
        fbt["_id"] = "string" if td.keys else "id"
        for fd in td.fields:
            fbt[fd.name.lower()] = fd.fb_type.lower()
            scales[fd.name.lower()] = fd.scale
    try:
        dtypes = {c.lower(): dt for c, dt in spark.table(table).dtypes}
    except Exception:  # noqa: BLE001 — unknown table: Catalyst's error
        return sql
    if not fbt:
        for c, dt in dtypes.items():
            if dt == "bigint":
                fbt[c] = "id" if c == "_id" else "int"
            elif dt == "boolean":
                fbt[c] = "bool"
            elif dt.startswith("decimal"):
                fbt[c] = "decimal"
                m2 = _re.match(r"decimal\(\d+,(\d+)\)", dt)
                scales[c] = int(m2.group(1)) if m2 else 0
            elif dt == "string":
                fbt[c] = "string"
            elif dt == "array<bigint>":
                fbt[c] = "idset"
            elif dt == "array<string>":
                fbt[c] = "stringset"
            elif dt.startswith("timestamp"):
                fbt[c] = "timestamp"

    def _raise_sql(ref: str, tgt: str, ct: str) -> str:
        # runtime "'<value>' cannot be cast to '<type>'"
        return (
            "CAST(raise_error(concat('''', CAST((" + ref + ") AS STRING)"
            ", ''' cannot be cast to ''" + tgt + "''')) AS " + ct + ")"
        )

    def render(m) -> str:
        ref, tname, tscale = m.group(1), m.group(2).lower(), m.group(3)
        col = ref.split(".")[-1].strip().lower()
        src = fbt.get(col)
        if src is None or tname not in (
            "int", "bool", "decimal", "id", "idset", "string",
            "stringset", "timestamp",
        ):
            return m.group(0)
        src_txt = (
            f"decimal({scales.get(col, 0)})" if src == "decimal" else src
        )
        tgt_txt = f"decimal({tscale or 0})" if tname == "decimal" else tname
        if tname not in _CAST_ALLOWED.get(src, set()):
            raise ValueError(f"'{src_txt}' cannot be cast to '{tgt_txt}'")
        if (
            src == "decimal"
            and tname == "decimal"
            and int(tscale or 0) < scales.get(col, 0)
        ):
            raise ValueError(f"'{src_txt}' cannot be cast to '{tgt_txt}'")
        null_guard = f"CASE WHEN ({ref}) IS NULL THEN CAST(NULL AS"
        if src == "string" and tname in (
            "int", "id", "bool", "decimal", "timestamp",
        ):
            if tname in ("int", "id"):
                ok = f"({ref}) rlike '^[+-]?[0-9]+$'"
                good = f"CAST({ref} AS BIGINT)"
                ct = "BIGINT"
            elif tname == "bool":
                ok = f"({ref}) IN ({_GO_BOOL_LITS})"
                good = f"({ref}) IN ('1','t','T','TRUE','true','True')"
                ct = "BOOLEAN"
            elif tname == "decimal":
                sc = int(tscale or 0)
                ok = (
                    f"({ref}) rlike "
                    f"'^[+-]?[0-9]+(\\\\.[0-9]{{0,{sc}}})?$'"
                )
                good = f"CAST({ref} AS DECIMAL(38,{sc}))"
                ct = f"DECIMAL(38,{sc})"
            else:  # timestamp
                ok = f"try_cast(({ref}) AS TIMESTAMP) IS NOT NULL"
                good = f"CAST({ref} AS TIMESTAMP)"
                ct = "TIMESTAMP"
            return (
                f"({null_guard} {ct}) WHEN {ok} THEN {good} "
                f"ELSE {_raise_sql(ref, tgt_txt, ct)} END)"
            )
        if tname == "string":
            if src == "idset":
                return (
                    f"({null_guard} STRING) ELSE concat('[', "
                    f"concat_ws(' ', array_sort({ref})), ']') END)"
                )
            if src == "stringset":
                return (
                    f"({null_guard} STRING) "
                    f"ELSE to_json(array_sort({ref})) END)"
                )
            if src == "timestamp":
                frac = f"date_format({ref}, 'SSSSSS')"
                return (
                    f"({null_guard} STRING) ELSE concat("
                    f"date_format({ref}, 'yyyy-MM-dd''T''HH:mm:ss'), "
                    f"CASE WHEN {frac} = '000000' THEN '' ELSE "
                    f"concat('.', regexp_replace({frac}, '0+$', '')) "
                    f"END, 'Z') END)"
                )
        return m.group(0)

    return _CAST_COL_RE.sub(render, sql)


#: function scopes that consume a quantum column RAW (the (value, ts)
#: entry array): RANGEQ reads entry.ts for its view-range filter
_QUANTUM_RAW_FNS = {"RANGEQ"}
#: set functions whose set argument is the VALUE set of the column
_QUANTUM_VALUE_FNS = {"SETCONTAINS", "SETCONTAINSANY", "SETCONTAINSALL"}


def _quantum_rewrite(spark: SparkSession, sql: str) -> str:
    """Time-quantum columns store (value, ts) view entries
    (array<struct<value,ts>>), but the reference's SQL surface treats a
    ``stringsetq``/``idsetq`` column as its VALUE SET everywhere except
    RANGEQ (which reads the view timestamps): selecting ``ss1`` returns
    the distinct values (Extract reads the standard view — every write
    lands there, executor.go:5191-5207), and SETCONTAINS/ANY/ALL test
    membership against values (defs_set_functions.go:445-480
    'set-contains-select-list' on setq columns). Rewrite bare quantum
    column references accordingly; single-table scope like the binop
    guard."""
    toks = _tokenize(sql)
    sig_pos = [i for i, t in enumerate(toks) if not _is_ws(t)]
    sig = [toks[i] for i in sig_pos]
    froms = [i for i, t in enumerate(sig) if t.upper() == "FROM"]
    if len(froms) != 1 or any(t.upper() == "JOIN" for t in sig):
        return sql
    fi = froms[0]
    if fi + 1 >= len(sig):
        return sql
    table = sig[fi + 1]
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        return sql
    alias = None
    if fi + 2 < len(sig) and _re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 2]
    ) and sig[fi + 2].upper() not in (
        "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "WITH",
    ):
        alias = sig[fi + 2].lower()
    try:
        dtypes = dict(spark.table(table).dtypes)
    except Exception:  # noqa: BLE001 — unknown table: Catalyst's error
        return sql
    qcols = {
        c.lower() for c, dt in dtypes.items()
        if dt.startswith("array<struct<")
    }
    if not qcols:
        return sql

    out: list[str] = []
    fn_stack: list[str] = []  # innermost function per paren scope
    pending_fn = ""
    clause = ""
    n = len(toks)
    i = 0
    while i < n:
        t = toks[i]
        if _is_ws(t):
            out.append(t)
            i += 1
            continue
        up = t.upper()
        nxt = ""
        k = i + 1
        while k < n and _is_ws(toks[k]):
            k += 1
        if k < n:
            nxt = toks[k]
        if up in ("SELECT", "WHERE", "GROUP", "ORDER", "HAVING"):
            clause = up.lower()
        if t == "(":
            fn_stack.append(pending_fn)
            pending_fn = ""
        elif t == ")":
            if fn_stack:
                fn_stack.pop()
        is_ident = bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t))
        if is_ident and nxt == "(":
            pending_fn = up
        ref = None  # (consumed-token-count, column-name)
        if is_ident and t.lower() in qcols and nxt != "(":
            prev = next(
                (x for x in reversed(out) if not _is_ws(x)), ""
            )
            if prev != ".":
                ref = (1, t)
        elif (
            is_ident
            and alias is not None
            and t.lower() == alias
            and nxt == "."
        ):
            # a.ss1 — three tokens
            k2 = k + 1
            while k2 < n and _is_ws(toks[k2]):
                k2 += 1
            if k2 < n and toks[k2].lower() in qcols:
                ref = (k2 - i + 1, toks[k2])
        if ref is not None:
            consumed, col = ref
            raw = "".join(toks[i : i + consumed])
            scope = fn_stack[-1] if fn_stack else ""
            if scope in _QUANTUM_RAW_FNS:
                out.append(raw)
            elif scope in _QUANTUM_VALUE_FNS:
                out.append(f"transform({raw}, __q -> __q.value)")
            else:
                expr = f"array_distinct(transform({raw}, __q -> __q.value))"
                # top-level select-list item keeps the column's name
                if clause == "select" and not fn_stack:
                    k3 = i + consumed
                    while k3 < n and _is_ws(toks[k3]):
                        k3 += 1
                    if k3 >= n or toks[k3].upper() in (",", "FROM"):
                        expr += f" AS {col}"
                out.append(expr)
            i += consumed
            continue
        out.append(t)
        i += 1
    return "".join(out)


def _binop_type_guard(spark: SparkSession, sql: str, catalog=None) -> None:
    """Raise the reference's binop compile errors for column-op-column
    expressions (defs_binops.go corpus): per-operand 'operator <op>
    incompatible with type <t>' (checked left to right), then the
    cross-class 'types X and Y are not equatable' rule for
    equality/ordering over non-jointly-comparable classes (numeric
    classes int/id/decimal ARE jointly comparable; timestamp only with
    itself)."""
    toks = _tokenize(sql)
    sig = []
    offs = []  # char offset of each sig token in the original text
    _off = 0
    for t in toks:
        if not _is_ws(t):
            sig.append(t)
            offs.append(_off)
        _off += len(t)

    def _pos(i: int) -> str:
        """'[line:col] ' of sig[i] — the reference's 1-based error
        position prefix (errors.go formats every planner error as
        '[%d:%d] ...'; the corpus's leading-space ExpErr substrings,
        e.g. \" operator '+' incompatible...\", match the space AFTER
        the bracket)."""
        off = offs[i] if 0 <= i < len(offs) else 0
        line = sql.count("\n", 0, off) + 1
        col = off - (sql.rfind("\n", 0, off) + 1) + 1
        return f"[{line}:{col}] "

    # single-table scope only: exactly one FROM, a bare table name, no
    # JOIN / comma-list / subquery
    froms = [i for i, t in enumerate(sig) if t.upper() == "FROM"]
    if len(froms) != 1 or any(t.upper() == "JOIN" for t in sig):
        return
    fi = froms[0]
    if fi + 1 >= len(sig):
        return
    table = sig[fi + 1]
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        return
    # Bail unless the table name is followed by end-of-statement or a
    # clause keyword: 'FROM t1 a, t2 b' (aliased comma list), 'FROM t.s'
    # (qualified), or any alias would otherwise slip a second table's
    # columns into the single-table type scope and raise a spurious
    # binop error on a query Catalyst accepts.
    if fi + 2 < len(sig) and sig[fi + 2].upper() not in (
        "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", ";",
    ):
        return
    types = {}
    # DECLARED types first — the Spark schema cannot distinguish id
    # from int (both bigint), and the corpus pins e.g. "types
    # 'timestamp' and 'id' are not equatable" (binOpExprWithTSID)
    td = getattr(catalog, "_defs", {}).get(table) if catalog else None
    if td is not None:
        types["_id"] = "string" if td.keys else "id"
        for fd in td.fields:
            ft = fd.fb_type.lower()
            types[fd.name.lower()] = (
                f"decimal({fd.scale})" if ft == "decimal" else ft
            )
    else:
        try:
            schema = spark.table(table).schema
        except Exception:  # noqa: BLE001 — unknown table
            return
        for f in schema.fields:
            tn = _fb_type_name(f)
            if tn:
                types[f.name.lower()] = tn

    def col_type(i: int) -> Optional[str]:
        t = sig[i]
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t):
            return None
        # adjacent '.' means a qualified name or struct access — skip
        if sig[i - 1 : i] == ["."] or sig[i + 1 : i + 2] == ["."]:
            return None
        return types.get(t.lower())

    for i in range(1, len(sig) - 1):
        tok = sig[i]
        op = tok
        if op in ("-", "+", "!") and i >= 1:
            # UNARY position: the token before is an expression starter,
            # not an operand (defs_unops.go:60-260 — unary -/+ take
            # int/id/decimal, bitwise '!' takes int/id only; bool/
            # timestamp/sets/strings raise; Spark would coerce or negate)
            prev = sig[i - 1].upper()
            if prev in _UNARY_STARTERS:
                ut = col_type(i + 1)
                if ut is not None:
                    uc = _binop_class(ut)
                    allowed = (
                        {"int", "id"} if op == "!"
                        else {"int", "id", "decimal"}
                    )
                    if uc not in allowed:
                        raise ValueError(
                            _pos(i + 1) +
                            f"operator '{op}' incompatible with "
                            f"type '{ut}'"
                        )
                continue
        if op.upper() == "BETWEEN":
            # BETWEEN subscripts are numeric/timestamp only
            # (defs_between.go:63-224 — bool/string/sets rejected even
            # though they order; Spark would happily range-compare them)
            j = i - 1
            if j >= 1 and sig[j].upper() == "NOT":
                j -= 1
            lt = col_type(j)
            if lt is not None and _binop_class(lt) not in (
                "int", "id", "decimal", "timestamp",
            ):
                raise ValueError(
                    _pos(j) +
                    f"type '{lt}' cannot be used as a range subscript"
                )
            continue
        if op.upper() == "LIKE":
            # LIKE/NOT LIKE take a STRING left operand; the right side
            # is the pattern literal, so only the left is typed here
            # (defs_like.go:24-140 — 'NOTLIKE' when negated)
            j = i - 1
            opname = "LIKE"
            if j >= 1 and sig[j].upper() == "NOT":
                opname, j = "NOTLIKE", j - 1
            lt = col_type(j)
            if lt is not None and lt != "string":
                raise ValueError(
                    _pos(j) +
                    f"operator '{opname}' incompatible with type '{lt}'"
                )
            continue
        if op not in _BINOP_ALLOWED and op not in _EQ_OPS:
            continue
        lt, rt = col_type(i - 1), col_type(i + 1)
        if lt is None or rt is None:
            continue
        lc, rc = _binop_class(lt), _binop_class(rt)
        if op in _BINOP_ALLOWED:
            allowed = _BINOP_ALLOWED[op]
            for nn, t, c in ((i - 1, lt, lc), (i + 1, rt, rc)):
                if c not in allowed:
                    raise ValueError(
                        _pos(nn) +
                        f"operator '{tok}' incompatible with type '{t}'"
                    )
        if op in _EQ_OPS or op in _ORDER_OPS:
            numeric = {"int", "id", "decimal"}
            jointly = (lc == rc) or (lc in numeric and rc in numeric)
            if not jointly:
                raise ValueError(
                    _pos(i - 1) +
                    f"types '{lt}' and '{rt}' are not equatable"
                )


def _int_binop_rewrite(spark: SparkSession, sql: str) -> str:
    """Reference INT arithmetic semantics for ``/`` and ``%``
    (expression.go:414-428): int/int division TRUNCATES (Go ``nl/nr`` —
    10/20 is 0, not Spark's fractional 0.5) and a zero divisor raises
    '[0:0] divisor is equal to zero' (NewErrDivideByZero, errors.go:908;
    defs_binops.go:24-49) where Spark returns NULL.

    Same conservative scope as the binop type guard: operands must be
    bare single tokens — an integer literal, or a column of the single
    FROM table whose reference class is int/id (the reference's ID path
    skips the zero check and would panic, expression.go:484-488; we
    raise the same error — documented superset). A NONZERO literal
    divisor needs no guard, so it emits a bare ``DIV``/``%`` and keeps
    predicate pushdown intact (a CASE-wrapped ``%`` in WHERE would
    block the parquet filter). Truncating division commutes with
    negation (trunc(-x) = -trunc(x); Go ``%`` follows the dividend like
    Spark's), so a preceding unary minus stays correct."""
    toks = _tokenize(sql)
    if not any(t in ("/", "%") for t in toks):
        return sql
    sig_idx = [i for i, t in enumerate(toks) if not _is_ws(t)]
    pos_in_sig = {i: n for n, i in enumerate(sig_idx)}
    sig = [toks[i] for i in sig_idx]
    # column types from the single bare FROM table, if one exists
    types: dict[str, str] = {}
    froms = [n for n, t in enumerate(sig) if t.upper() == "FROM"]
    if len(froms) == 1 and not any(t.upper() == "JOIN" for t in sig):
        fi = froms[0]
        if fi + 1 < len(sig) and _re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 1]
        ) and (
            fi + 2 >= len(sig)
            or sig[fi + 2].upper()
            in ("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", ";")
        ):
            try:
                for f in spark.table(sig[fi + 1]).schema.fields:
                    tn = _fb_type_name(f)
                    if tn:
                        types[f.name.lower()] = tn
            except Exception:  # noqa: BLE001 — unknown table
                pass

    def int_operand(n: int) -> bool:
        """sig[n] is an int-class operand: integer literal or int/id
        column (not part of a qualified name)."""
        if not 0 <= n < len(sig):
            return False
        t = sig[n]
        if sig[n - 1 : n] == ["."] or sig[n + 1 : n + 2] == ["."]:
            return False
        if _lit_kind(t)[0] == "int":
            return True
        return (
            bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t))
            and _binop_class(types.get(t.lower(), "")) in ("int", "id")
        )

    def dec_scale(n: int):
        """Scale of sig[n] when it is a decimal-class operand (decimal
        column or decimal literal); None otherwise."""
        if not 0 <= n < len(sig):
            return None
        t = sig[n]
        if sig[n - 1 : n] == ["."] or sig[n + 1 : n + 2] == ["."]:
            return None
        m = _re.fullmatch(r"-?\d+\.(\d+)", t)
        if m:
            return len(m.group(1))
        tn = types.get(t.lower(), "")
        m = _re.fullmatch(r"decimal\((\d+)\)", tn)
        return int(m.group(1)) if m else None

    out = list(toks)
    for n in range(1, len(sig) - 1):
        op = sig[n]
        if op not in ("/", "%"):
            continue
        lsc, rsc = dec_scale(n - 1), dec_scale(n + 1)
        if (
            op == "/"
            and (lsc is not None or rsc is not None)
            and (lsc is not None or int_operand(n - 1))
            and (rsc is not None or int_operand(n + 1))
        ):
            # decimal division: result scale = max operand scale, the
            # quotient TRUNCATED at that scale (pql.DivideDecimal,
            # pql/decimal.go:150-161 — sameScalify to the max scale,
            # then big.Int.Div; defs_binops.go pins 12.34/20 = 0.61,
            # not the rounded 0.62). Truncation via q - (q % step);
            # zero divisor raises like the int path (the reference
            # evaluates decimal binops with the same zero check).
            s = max(lsc or 0, rsc or 0)
            if s > 0:
                lhs, rhs = sig[n - 1], sig[n + 1]
                step = "0." + "0" * (s - 1) + "1"
                q = f"(({lhs}) / ({rhs}))"
                expr = (
                    f"(CASE WHEN ({rhs}) = 0 THEN CAST(raise_error("
                    f"'[0:0] divisor is equal to zero') AS DECIMAL(38,{s})) "
                    f"ELSE CAST({q} - ({q} % {step}) AS DECIMAL(38,{s})) "
                    f"END)"
                )
                li, oi, ri = sig_idx[n - 1], sig_idx[n], sig_idx[n + 1]
                out[li] = expr
                for j in range(li + 1, ri + 1):
                    out[j] = ""
                sig[n - 1] = expr
                sig[n] = ""
                sig[n + 1] = ""
                continue
        if not (int_operand(n - 1) and int_operand(n + 1)):
            continue
        lhs, rhs = sig[n - 1], sig[n + 1]
        sp = "DIV" if op == "/" else "%"
        k, v = _lit_kind(rhs)
        if k == "int" and v != 0:
            expr = f"(({lhs}) {sp} ({rhs}))"
        else:
            expr = (
                f"(CASE WHEN ({rhs}) = 0 THEN CAST(raise_error("
                f"'[0:0] divisor is equal to zero') AS BIGINT) "
                f"ELSE ({lhs}) {sp} ({rhs}) END)"
            )
        li, oi, ri = sig_idx[n - 1], sig_idx[n], sig_idx[n + 1]
        out[li] = expr
        for j in range(li + 1, ri + 1):
            out[j] = ""
        # keep sig consistent for chained scans: the rewritten span is
        # no longer a bare operand, so later ops see a non-identifier
        sig[n - 1] = expr
        sig[n] = ""
        sig[n + 1] = ""
    return "".join(out)


def _percentile_fold_sql(col: str, nth: str, kind: str, prec: int, scale: int) -> str:
    """One SQL aggregate expression replaying executePercentile
    (executor.go:1310-1603) — the reference's bisection whose result may
    be a midpoint ABSENT from the data (defs_aggregate.go pins
    percentile(d1,50) over {10,10,11,12,12,13} = 11.50, not 11.00).

    Shape: the bisection's branches depend only on two order statistics
    (b = sorted[desiredLess], a = sorted[n-1-desiredGreater]), so the
    loop becomes a PURE-ARITHMETIC fold over ``sequence(1, 70)`` (≥ the
    64 halvings a 64-bit span can need) with the group's sorted values
    supplying a and b. int columns use the Go truncating average
    (executor.go:1484-1490 — DIV/% match Go exactly); decimal columns
    run on 10^scale-scaled BIGINTs with the floor average (DivideDecimal
    = big.Int Div, pql/decimal.go:150-161) and unscale at the end;
    timestamp columns (reference: int BSI of epoch units) bisect on
    epoch MICROS — the engine's timestamp resolution — as a documented
    granularity choice. desiredLess/Greater replicate Go's
    ``uint64(float64(n)*nth/100.0)`` with double math and
    truncate-toward-zero casts.

    Memory note: ``collect_list`` buffers each group's values exactly
    like Spark's own percentile_disc buffer — same memory class as the
    previous emitter. The 100-TB path for global percentiles is the PQL
    door (pql.calls.reference_percentile: histogram narrowing, no
    value materialization), mirroring the reference where SQL PERCENTILE
    exists only as a PQL pushdown (expressionagg.go:909-911)."""
    if kind == "decimal" and scale > 0:
        c = f"CAST(({col}) * {10 ** scale} AS BIGINT)"
    elif kind == "timestamp":
        c = f"unix_micros({col})"
    else:
        c = f"CAST({col} AS BIGINT)"
    nthd = f"CAST(({nth}) AS DOUBLE)"
    cnt = f"count({col})"
    dl = f"CAST((CAST({cnt} AS DOUBLE) * {nthd}) / 100.0D AS BIGINT)"
    dg = f"CAST((CAST({cnt} AS DOUBLE) * (100.0D - {nthd})) / 100.0D AS BIGINT)"
    vs = f"array_sort(collect_list({c}))"
    # INTEGER (not INT) — the dialect CAST map rewrites INT to the
    # reference's 64-bit INT; element_at requires a 32-bit index
    b = f"element_at({vs}, CAST({dl} AS INTEGER) + 1)"
    a = f"element_at({vs}, CAST({cnt} - {dg} AS INTEGER))"
    if kind == "decimal":
        # floor average on scaled values (big.Int Div semantics),
        # overflow-safe via arithmetic shifts
        mid = (
            "(shiftright(s.lo, 1) + shiftright(s.hi, 1) "
            "+ shiftright((s.lo & 1) + (s.hi & 1), 1))"
        )
    else:
        mid = (
            "((s.lo DIV 2) + (s.hi DIV 2) "
            "+ (((s.lo % 2) + (s.hi % 2)) DIV 2))"
        )
    fold = (
        f"aggregate(sequence(1, 70), "
        f"named_struct('lo', min({c}), 'hi', max({c}), "
        f"'val', min({c}), 'done', false), "
        f"(s, i) -> IF(s.done OR s.lo >= s.hi, s, "
        f"IF({mid} > {b}, "
        f"named_struct('lo', s.lo, 'hi', {mid} - 1L, 'val', {mid}, "
        f"'done', false), "
        f"IF({mid} < {a}, "
        f"named_struct('lo', {mid} + 1L, 'hi', s.hi, 'val', {mid}, "
        f"'done', false), "
        f"named_struct('lo', s.lo, 'hi', s.hi, 'val', {mid}, "
        f"'done', true)))), "
        f"s -> s.val)"
    )
    if kind == "decimal":
        t = f"DECIMAL({prec},{scale})"
        unscaled = (
            f"CAST(CAST({fold} AS DECIMAL(38,0)) / {10 ** scale} AS {t})"
            if scale > 0
            else f"CAST({fold} AS {t})"
        )
    elif kind == "timestamp":
        t, unscaled = "TIMESTAMP", f"timestamp_micros({fold})"
    else:
        t, unscaled = "BIGINT", fold
    # branch order mirrors the reference: desiredGreater == 0 → max
    # (also covers the both-zero case, executor.go:1443-1467);
    # desiredLess == 0 (with dG != 0) → min; else bisect
    return (
        f"(CASE WHEN {cnt} = 0 THEN CAST(NULL AS {t}) "
        f"WHEN {dg} = 0 THEN CAST(max({col}) AS {t}) "
        f"WHEN {dl} = 0 THEN CAST(min({col}) AS {t}) "
        f"ELSE {unscaled} END)"
    )


def _percentile_rewrite(spark: SparkSession, sql: str) -> str:
    """Rewrite PERCENTILE(col, nth) to the reference-exact bisection fold
    (:func:`_percentile_fold_sql`) when the column's dtype is knowable —
    same conservative scope rule as :func:`_int_binop_rewrite`: one bare
    FROM table, no JOIN (every reference-LEGAL percentile query has this
    shape — sql3 rejects anything it cannot push down to one PQL call,
    expressionagg.go:909-911). int / decimal / timestamp columns rewrite;
    float/double columns (no reference BSI dtype exists) and unresolvable
    scopes keep the nearest-rank percentile_disc EXTENSION emitter in
    translate()."""
    if "percentile" not in sql.lower():
        return sql
    toks = _tokenize(sql)
    _check_count_args(toks)  # arg analysis must fire BEFORE the rewrite
    # (else percentile(_id, 50) would silently rewrite — _id is a column)
    sig_idx = [i for i, t in enumerate(toks) if not _is_ws(t)]
    sig = [toks[i] for i in sig_idx]
    types: dict[str, tuple[str, int, int]] = {}
    froms = [n for n, t in enumerate(sig) if t.upper() == "FROM"]
    if len(froms) == 1 and not any(t.upper() == "JOIN" for t in sig):
        fi = froms[0]
        if fi + 1 < len(sig) and _re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*", sig[fi + 1]
        ) and (
            fi + 2 >= len(sig)
            or sig[fi + 2].upper()
            in ("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", ";")
        ):
            try:
                for f in spark.table(sig[fi + 1]).schema.fields:
                    ss = f.dataType.simpleString()
                    if ss in ("tinyint", "smallint", "int", "bigint"):
                        types[f.name.lower()] = ("int", 0, 0)
                    elif ss.startswith("decimal("):
                        p, s = ss[8:-1].split(",")
                        types[f.name.lower()] = ("decimal", int(p), int(s))
                    elif ss == "timestamp":
                        types[f.name.lower()] = ("timestamp", 0, 0)
            except Exception:  # noqa: BLE001 — unknown table
                pass
    if not types:
        return sql
    out = list(toks)
    n = len(sig)
    for k in range(n - 1):
        if sig[k].upper() != "PERCENTILE" or sig[k + 1] != "(":
            continue
        # walk the argument span in RAW token space
        start = sig_idx[k]
        j = sig_idx[k + 1] + 1
        depth, args = 1, [[]]
        while j < len(toks) and depth:
            t = toks[j]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0:
                    break
            elif t == "," and depth == 1:
                args.append([])
                j += 1
                continue
            args[-1].append(t)
            j += 1
        if depth or len(args) != 2:
            continue
        col = "".join(args[0]).strip()
        nth = "".join(args[1]).strip()
        info = types.get(col.lower())
        if info is None or not _re.fullmatch(r"-?\d+(\.\d+)?", nth):
            continue
        if not 0 <= float(nth) <= 100.0:
            # the executor's runtime range check (executor.go:1332-1335),
            # raised at compile time since nth is a literal
            raise ValueError(
                f"Percentile(): invalid nth value ({float(nth):f}), "
                f"should be a number between 0 and 100 inclusive"
            )
        kind, prec, scale = info
        expr = _percentile_fold_sql(col, nth, kind, prec, scale)
        out[start] = expr
        for m in range(start + 1, j + 1):
            out[m] = ""
    return "".join(out)


_HINT_RE = _re.compile(
    r"(?is)\bfrom\s+([A-Za-z_][\w]*)\s+with\s*\(\s*"
    r"([A-Za-z_]\w*)\s*\(([^()]*)\)\s*\)"
)


def _apply_query_hints(spark: SparkSession, sql: str) -> str:
    """Reference QUERY HINTS: ``FROM t WITH (flatten(setcol))`` makes
    DISTINCT / GROUP BY over a set column operate per ELEMENT — each
    element becomes its own single-element set (planoptimizer.go:
    819-930, defs_groupby.go:282-460). Compiled as a derived table that
    explodes the set and re-wraps each element (``array(e) AS setcol``),
    so the downstream distinct/groupBy/aggregate sees per-element
    groups through the ordinary Catalyst path — no special grouping
    operator needed. Hint errors use the reference's exact texts."""
    m = _HINT_RE.search(sql)
    if m is None:
        return sql
    table, hint, raw_args = m.group(1), m.group(2), m.group(3)
    if hint.lower() != "flatten":
        raise ValueError(f"unknown query hint '{hint}'")
    args = [a.strip() for a in raw_args.split(",") if a.strip()]
    if len(args) != 1:
        raise ValueError(
            f"query hint 'flatten' expected 1 parameter(s) "
            f"(column name), got {len(args)} parameters"
        )
    col = args[0]
    try:
        cols = spark.table(table).columns
    except Exception:  # noqa: BLE001 — unknown table: Catalyst's error
        return sql
    if col not in cols:
        raise ValueError(f"column '{col}' not found")
    # the optimizer rule fires ONLY on a single-output-column scan of
    # the hinted (non-_id) column (planoptimizer.go:810-818 — 'bail if
    # there is more than one output column'): `select distinct ids1,
    # ss1 ... with (flatten(ids1))` returns the UNflattened sets
    # (defs_groupby.go:346-360). Hint VALIDATION above still ran —
    # unknown hints/columns error regardless.
    sel = _re.match(
        r"(?is)^\s*select\s+(distinct\s+)?(.*?)\s+from\b", sql
    )
    selected = [
        s.strip().strip("`").lower()
        for s in (sel.group(2).split(",") if sel else [])
    ]
    # the companion GROUP BY rule (planoptimizer.go:895-935) flattens
    # whenever the hinted set column is a grouping expression
    grouped = _re.search(
        rf"(?is)\bgroup\s+by\b[^)]*\b{_re.escape(col)}\b", sql
    )
    if selected != [col.lower()] and not grouped:
        # strip the hint clause, leave the query otherwise untouched
        out = sql[: m.start()] + f"FROM {table}" + sql[m.end():]
        return _apply_query_hints(spark, out)
    others = ", ".join(f"`{c}`" for c in cols if c != col)
    derived = (
        f"(SELECT {others + ', ' if others else ''}array(__fb_flat) "
        f"AS `{col}` FROM (SELECT *, explode(`{col}`) AS __fb_flat "
        f"FROM {table})) AS {table}"
    )
    out = sql[: m.start()] + f"FROM {derived}" + sql[m.end():]
    # one hint clause per table reference; apply any further hints too
    return _apply_query_hints(spark, out)


def fb_sql(spark: SparkSession, sql: str, catalog=None) -> Optional[DataFrame]:
    """Execute FeatureBase-dialect SQL against registered Spark views —
    the ``POST /sql`` front door (http_handler.go:1440-1530), with
    Catalyst in place of sql3's analyze/compile/optimize pipeline.

    Queries translate to Spark SQL; non-SELECT statements (CREATE/ALTER/
    DROP/INSERT/REPLACE/BULK INSERT/DELETE/SHOW — statement dispatch
    ``executionplanner.go:137-188``) route through
    :mod:`featurebase_spark.statements` to the Catalog/write/source
    implementations. DDL/DML return None (the reference returns empty
    headers); SHOW and queries return a DataFrame. Simple aggregate
    SELECTs over tables with declared bitmap indexes serve from
    fragments (:func:`_route_simple_agg`) — the reference's sql3→PQL
    compile path — with the Catalyst scan as fallback."""
    from featurebase_spark import statements

    if statements.is_statement(sql):
        return statements.execute_statement(spark, sql, catalog)
    if catalog is not None:
        routed = _route_simple_agg(spark, sql, catalog)
        if routed is None:
            routed = _route_group_distinct(spark, sql, catalog)
        if routed is not None:
            return routed
    sql = _expand_tvfs(spark, sql)  # declared extension (TVF front door)
    sql = _apply_query_hints(spark, sql)  # WITH (flatten(col)) hints
    sql = _join_resolver_rewrite(spark, sql)  # sql3 join name quirks
    sql = _page_order_rewrite(spark, sql)  # TOP/LIMIT page by _id
    sql = _cast_string_render_rewrite(spark, sql, catalog)  # defs_cast.go
    sql = _quantum_rewrite(spark, sql)  # setq/idsetq value-set surface
    _binop_type_guard(spark, sql, catalog)  # defs_binops.go type rules
    _select_analyzer_guard(spark, sql, catalog)  # joins/order-by/agg rules
    sql = _like_scalar_rewrite(sql)  # wildCardToRegexp LIKE semantics
    sql = _grouped_sum_rewrite(sql)  # single-SUM GroupBy drops null groups
    sql = _int_binop_rewrite(spark, sql)  # int '/'+'%' truncation + /0
    sql = _percentile_rewrite(spark, sql)  # executePercentile bisection
    if catalog is not None:
        # system tables are SELECT-able, not just SHOW-able
        # (opsystemtable.go registers them as ordinary planner tables)
        _SYS = {
            "fb_tables": catalog.fb_tables,
            "fb_views": catalog.fb_views,
            "fb_databases": catalog.fb_databases,
            "fb_exec_requests": catalog.fb_exec_requests,
            "fb_performance_counters": catalog.fb_performance_counters,
            "fb_database_info": catalog.fb_database_info,
            "fb_cluster_info": catalog.fb_cluster_info,
            "fb_database_nodes": catalog.fb_database_nodes,
            "fb_cluster_nodes": catalog.fb_cluster_nodes,
        }
        for name, fn in _SYS.items():
            if _re.search(rf"\b{name}\b", sql, _re.IGNORECASE):
                fn().createOrReplaceTempView(name)
    from pyspark.errors import AnalysisException

    try:
        return spark.sql(translate(sql))
    except AnalysisException as e:
        # Analyzer errors re-phrased to the reference's compile-error
        # wording (sql3/errors.go: ErrTableOrViewNotFound /
        # ErrColumnNotFound — asserted verbatim by the defs corpus, e.g.
        # defs_sql1.go:534-556). Anything else propagates untouched.
        cls = (
            e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        ) or ""
        params = e.getMessageParameters() or {}

        def _bare(key: str) -> Optional[str]:
            v = params.get(key)
            if v is None:
                return None
            return v.replace("`", "").split(".")[-1]

        if cls == "TABLE_OR_VIEW_NOT_FOUND":
            name = _bare("relationName")
            if name:
                raise ValueError(f"table or view '{name}' not found") from e
        if cls.startswith("UNRESOLVED_COLUMN"):
            name = _bare("objectName")
            if name:
                raise ValueError(f"column '{name}' not found") from e
        raise


def fb_sql_plan(spark: SparkSession, sql: str, formatted: bool = True) -> str:
    """The reference's ``POST /sql?plan=true`` surface
    (http_handler.go:1437-1446): return the query plan without executing.
    Here the plan is Catalyst's — the translated Spark SQL text's
    formatted physical plan (scan pushdown, join strategy, codegen spans
    all visible)."""
    df = spark.sql(translate(sql))
    mode = "formatted" if formatted else "extended"
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )
