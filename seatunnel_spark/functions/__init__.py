"""Zeta SQL dialect compatibility layer.

The reference's Sql transform exposes ~100 scalar functions through an
H2-flavored dialect (registry: transform/sql/zeta/ZetaSQLFunction.java:79-192;
examples: docs/en/transform-v2/sql-functions.md). Spark SQL already has
near-1:1 natives for almost all of them (SURVEY.md §2.3); this module
closes the gap two ways:

1. ``rewrite_zeta_sql`` — pure name-level rewrites for functions whose
   Spark spelling differs (FORMATDATETIME -> date_format, ...). This
   keeps everything JVM-side / codegen'd.
2. ``register_zeta_udfs`` — the handful of true shims with no Spark
   equivalent (TO_CHAR, INSERT, IS_DATE, TRUNCATE-numeric), registered
   as Python UDFs. These exist for config-compat only; the hot path
   never needs them.
"""

from __future__ import annotations

import functools
import re
from datetime import date, datetime

from pyspark.sql import SparkSession

# Zeta name -> Spark name (argument-compatible). Word-boundary,
# case-insensitive, applied only to call sites ``NAME(``.
_NAME_REWRITES = {
    # H2-legacy semantics: HEXTORAW = 4 hex digits -> one UTF-16 char,
    # RAWTOHEX(string) = 4 lowercase hex digits per char
    # (StringFunction.java:132-177) — not Spark's unhex/hex.
    "HEXTORAW": "ZETA_HEXTORAW",
    "RAWTOHEX": "ZETA_RAWTOHEX",
    "LCASE": "lower",
    "UCASE": "upper",
    "FORMATDATETIME": "date_format",
    # Zeta TO_CHAR takes date/timestamp + Java pattern; Spark's native
    # to_char is numeric-format-only, so route the Zeta spelling to the
    # shim WITHOUT shadowing the native function.
    "TO_CHAR": "ZETA_TO_CHAR",
    "INSERT": "INSERT_STR",
    "DAY_OF_MONTH": "dayofmonth",
    "DAY_OF_YEAR": "dayofyear",
    # Zeta DAYNAME/MONTHNAME return FULL names ('Thursday'); Spark 4's
    # natives abbreviate ('Thu') -> shim.
    "DAYNAME": "ZETA_DAYNAME",
    "MONTHNAME": "ZETA_MONTHNAME",
}

_QUOTED = re.compile(r"'[^']*'")


def _split_call_args(sql: str, lparen: int) -> tuple[list[str], int]:
    """Split the argument list of a call whose '(' is at `lparen` into
    top-level args; returns (args, index-after-')')."""
    depth, args, cur, in_str = 0, [], [], None
    i = lparen
    while i < len(sql):
        ch = sql[i]
        if in_str:
            cur.append(ch)
            if ch == in_str:
                if i + 1 < len(sql) and sql[i + 1] == in_str:  # '' escape
                    cur.append(sql[i + 1])
                    i += 1
                else:
                    in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            if depth > 1:
                cur.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tail = "".join(cur).strip()
                if tail or args:
                    args.append(tail)
                return args, i + 1
            cur.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    raise ValueError(f"unbalanced parentheses in SQL near offset {lparen}")


def _rewrite_calls(sql: str, name_pattern: str, builder) -> str:
    """Replace every call site matching name_pattern via
    builder(args)->str. Matches are collected upfront and processed
    right-to-left, so builder output is never re-scanned (no loops when
    the output spells the same name) and nested same-name calls are
    rewritten innermost-first."""
    pat = re.compile(rf"\b(?:{name_pattern})\s*\(", re.I)
    for m in reversed(list(pat.finditer(sql))):
        args, end = _split_call_args(sql, sql.index("(", m.start()))
        sql = sql[: m.start()] + builder(args) + sql[end:]
    return sql


_UNITS = {"YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "DAYTIME", "HOUR",
          "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND", "NANOSECOND"}


def _unit_args(args: list[str], default_unit: str = "DAY"):
    """Zeta puts the unit LAST as a quoted string (dateadd(ts, n, 'DAY'),
    func_datetime.conf:53); H2/Spark dialects put it FIRST (quoted or a
    bare keyword). Accept all three; 2-arg calls default to DAY
    (DateTimeFunction.java:152). Returns (unit, rest, unit_was_first)."""
    if args and _QUOTED.fullmatch(args[0]):
        return args[0][1:-1].upper(), args[1:], True
    if len(args) >= 3 and args[0].upper() in _UNITS:
        return args[0].upper(), args[1:], True
    if len(args) >= 3 and _QUOTED.fullmatch(args[-1]):
        return args[-1][1:-1].upper(), args[:-1], False
    return default_unit, args, False


def _build_dateadd(args: list[str]) -> str:
    unit, rest, unit_first = _unit_args(args)
    n, x = (rest[0], rest[1]) if unit_first else (rest[1], rest[0])
    return f"timestampadd({unit}, {n}, {x})"


def _build_datediff(args: list[str]) -> str:
    # Zeta DATEDIFF(a, b[, unit]) = b - a (Duration.between(a, b),
    # DateTimeFunction.java:143-215); H2's DATEDIFF(unit, a, b) is also
    # b - a, so both forms share one mapping. YEAR/MONTH use java.time
    # Period COMPONENTS (months excludes whole years); DAY compares
    # calendar dates ignoring time-of-day; DAYTIME is the raw 24h count.
    unit, (a, b), _ = _unit_args(args)
    if unit == "DAY":
        return f"CAST(datediff(CAST(({b}) AS DATE), CAST(({a}) AS DATE)) AS BIGINT)"
    if unit == "MONTH":
        return (f"(timestampdiff(MONTH, {a}, {b})"
                f" - 12 * timestampdiff(YEAR, {a}, {b}))")
    if unit == "DAYTIME":
        return f"timestampdiff(DAY, {a}, {b})"
    return f"timestampdiff({unit}, {a}, {b})"


def _build_date_trunc(args: list[str]) -> str:
    # Zeta DATE_TRUNC(ts, 'UNIT') (sql-functions.md:692) vs Spark
    # date_trunc('UNIT', ts): swap only when the unit is in Zeta position.
    if len(args) == 2 and _QUOTED.fullmatch(args[1]) and not _QUOTED.fullmatch(args[0]):
        return f"date_trunc({args[1]}, {args[0]})"
    return f"date_trunc({', '.join(args)})"


def _build_extract(args: list[str]) -> str:
    # Zeta EXTRACT (func_datetime.conf:53 uses MILLISECOND, DAYOFWEEK,
    # DAYOFYEAR; all return ints). Spark lacks MILLISECOND/DAYOFYEAR and
    # returns SECOND as decimal-with-fraction — shim those three, pass
    # everything else through.
    m = re.match(r"(\w+)\s+FROM\s+(.*)", args[0].strip(), re.S | re.I) if args else None
    if not m:
        return f"extract({', '.join(args)})"
    field, x = m.group(1).upper(), m.group(2)
    if field == "MILLISECOND":
        return f"(CAST(extract(SECOND FROM {x}) * 1000 AS BIGINT) % 1000)"
    if field == "DAYOFYEAR":
        return f"extract(DOY FROM {x})"
    if field == "DAYOFWEEK":
        # Zeta is ISO Monday=1 (DayOfWeek.getValue, DateTimeFunction.java:329;
        # func_datetime.conf:291 expects Thursday=4); Spark's is Sunday=1.
        return f"(weekday({x}) + 1)"
    if field == "SECOND":
        return f"CAST(FLOOR(extract(SECOND FROM {x})) AS BIGINT)"
    return f"extract({field} FROM {x})"


def _build_trunc(args: list[str]) -> str:
    # Zeta TRUNC|TRUNCATE is numeric-only (sql-functions.md:626-634);
    # leave Spark's date form TRUNC(date, 'fmt') untouched.
    if len(args) == 2 and _QUOTED.fullmatch(args[1]):
        return f"trunc({', '.join(args)})"
    return f"TRUNCATE({', '.join(args)})"


def _build_trim(name: str):
    # Zeta/H2 LTRIM|RTRIM|TRIM(str, trimChars) vs Spark's
    # (trimChars, str) — swap the 2-arg form (func_string.conf:57).
    def build(args: list[str]) -> str:
        if len(args) == 2 and not args[0].upper().startswith(("LEADING", "TRAILING", "BOTH")):
            return f"{name}({args[1]}, {args[0]})"
        return f"{name}({', '.join(args)})"

    return build


def _build_regexp_replace(args: list[str]) -> str:
    # Zeta REGEXP_REPLACE(s, pattern, rep, flagsString) — Spark's 4th
    # arg is a position int; fold literal flags into an inline (?i)
    # group (func_string.conf:57 uses 'i').
    if len(args) == 4 and _QUOTED.fullmatch(args[3]):
        flags = args[3][1:-1]
        if flags and not flags.isdigit():
            pat = args[1]
            if _QUOTED.fullmatch(pat):
                pat = f"'(?{flags}){pat[1:-1]}'"
            else:
                pat = f"concat('(?{flags})', {pat})"
            return f"regexp_replace({args[0]}, {pat}, {args[2]})"
    return f"regexp_replace({', '.join(args)})"


def _build_regexp_substr(args: list[str]) -> str:
    # Zeta REGEXP_SUBSTR(s, patt[, pos, occurrence, flags, group]) —
    # map the group-extracting form onto regexp_extract; other
    # positions/occurrences beyond 1 are unsupported here.
    if len(args) >= 6:
        return f"regexp_extract({args[0]}, {args[1]}, {args[5]})"
    return f"regexp_substr({', '.join(args)})"


def _build_regexp_like(args: list[str]) -> str:
    # Zeta REGEXP_LIKE(s, pattern, flagsString) — fold literal flags
    # into an inline group (Spark's regexp_like is 2-arg).
    if len(args) == 3 and _QUOTED.fullmatch(args[2]):
        flags = args[2][1:-1]
        pat = args[1]
        if flags:
            pat = (f"'(?{flags}){pat[1:-1]}'" if _QUOTED.fullmatch(pat)
                   else f"concat('(?{flags})', {pat})")
        return f"regexp_like({args[0]}, {pat})"
    return f"regexp_like({', '.join(args)})"


def _build_week(args: list[str]) -> str:
    # Zeta WEEK = WeekFields.ISO.weekOfYear + 1 (DateTimeFunction.java:537-545)
    # — DAY-OF-YEAR-based ISO week (week 0 = days before the year's first
    # ISO week), then an off-by-one bump; NOT Spark's weekofyear
    # (week-based-year). func_datetime.conf:week(2021-04-08) expects 15,
    # weekofyear gives 14. d0 = weekday of Jan 1 (Mon=0); week 1 includes
    # Jan 1 only if d0 <= 3 (first partial week has >= 4 days).
    x = args[0]
    d0 = f"weekday(trunc(CAST(({x}) AS DATE), 'YEAR'))"
    return (f"CAST(floor((dayofyear({x}) + {d0} - 1) / 7)"
            f" + IF({d0} <= 3, 1, 0) + 1 AS INT)")


def _build_parsedatetime(default_fn: str):
    # Zeta PARSEDATETIME/TO_DATE return type sniffs the FORMAT literal
    # (ZetaSQLType.java:459-471): contains "yy" and "mm" -> DATETIME,
    # "yy" only -> DATE, "mm" only -> TIME (mm = minutes, so any format
    # with a time-of-day component yields a timestamp).
    def build(args: list[str]) -> str:
        if len(args) == 2 and _QUOTED.fullmatch(args[1]):
            fmt = args[1][1:-1]
            if "yy" in fmt and "mm" in fmt:
                return f"to_timestamp({args[0]}, {args[1]})"
            if "yy" in fmt:
                return f"to_date({args[0]}, {args[1]})"
            if "mm" in fmt:
                return f"to_time({args[0]}, {args[1]})"
        return f"{default_fn}({', '.join(args)})"

    return build


def _build_from_unixtime(args: list[str]) -> str:
    # Zeta FROM_UNIXTIME(epoch, fmt, zoneString) formats in the given
    # zone (func_from_unixtime.conf:45); Spark's 2-arg form uses the
    # session zone (UTC here), so shift explicitly.
    if len(args) == 3:
        return (f"date_format(convert_timezone('UTC', {args[2]}, "
                f"timestamp_seconds({args[0]})), {args[1]})")
    return f"from_unixtime({', '.join(args)})"


def _raw_string_literals(sql: str) -> str:
    """Zeta (JSqlParser) string literals are RAW — '\\d{4}' is a
    4-char regex — while Spark's parser processes backslash escapes.
    Double every backslash inside single-quoted literals so the string
    Spark's parser produces equals the raw Zeta one
    (sql_transform/func_string.conf:57 regexp patterns)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            out.append(sql[i:j + 1].replace("\\", "\\\\"))
            i = j + 1
        else:
            out.append(sql[i])
            i += 1
    return "".join(out)


_LATERAL_RE = re.compile(
    r"LATERAL\s+VIEW(\s+OUTER)?\s+EXPLODE\s*\(", re.I)


def rewrite_aliasless_lateral(sql: str, base_cols: list[str]) -> str:
    """Zeta accepts ``LATERAL VIEW EXPLODE(e) as X`` with no view alias,
    and the exploded column REPLACES a same-named source column
    (sql_transform/explode_transform.conf:61). Spark requires a view
    alias and keeps both columns (ambiguous ``*``). Rewrite each
    aliasless view to a unique alias + fresh column name, and expand a
    leading ``SELECT *`` to base-columns-minus-replaced plus the
    exploded names — matching Zeta's projection."""
    out, views, pos, k = [], [], 0, 0
    while True:
        m = _LATERAL_RE.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            break
        args, end = _split_call_args(sql, sql.index("(", m.end() - 1))
        alias_m = re.match(r"\s+as\s+(\w+)", sql[end:], re.I)
        # Aliasless only when the token after EXPLODE(...) is the bare
        # keyword `as`; `v AS col` (Spark form) does not match here.
        if not alias_m:
            out.append(sql[pos:end])
            pos = end
            continue
        col = alias_m.group(1)
        outer = " OUTER" if m.group(1) else ""
        fresh = f"__lv_c{k}"
        expr = ", ".join(args)
        if not outer:
            # Zeta's non-OUTER explode SKIPS null elements
            # (ZetaSQLFunction.transformExplodeValue:796-798); Spark
            # keeps them as null rows.
            expr = f"filter(({expr}), __x -> __x IS NOT NULL)"
        out.append(sql[pos:m.start()])
        out.append(f"LATERAL VIEW{outer} EXPLODE({expr}) "
                   f"__lv_{k} AS {fresh}")
        views.append((col, fresh))
        pos = end + alias_m.end()
        k += 1
    sql = "".join(out)
    if views:
        star = re.match(r"(\s*SELECT\s+)\*(\s+FROM\b)", sql, re.I)
        if star:
            replaced = {c for c, _ in views}
            proj = [c for c in base_cols if c not in replaced]
            proj += [f"{fresh} AS {col}" for col, fresh in views]
            sql = star.group(1) + ", ".join(proj) + sql[star.end(1) + 1:]
    return sql


# Zeta ARRAY() numeric promotion lattice (ArrayFunction.getNumericCommonType:
# Double > Float > Long > Integer > Short); anything non-numeric mixed in
# (or left standing alone as a non-primitive) stringifies.
_NUM_RANK = {"smallint": 0, "int": 1, "bigint": 2, "float": 3, "double": 4}
_ARRAY_ELEM_TYPES = {"string", "boolean", "smallint", "int", "bigint",
                     "float", "double"}
_DEC_LIT = re.compile(r"[+-]?\d+\.\d+([eE][+-]?\d+)?")
_CAST_AS = re.compile(
    r"\s+AS\s+(TIMESTAMP|DATETIME|DATE|TIME)\s*$", re.I | re.S)


# Text the precheck reads past: string literals (blanked to '') and
# back-quoted identifiers (blanked to ``, a name that is never unknown).
_QUOTED_TEXT = re.compile(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\""
                          r"|`(?:[^`]|``)*`")
# A dotted chain `a.b...` starting at an unquoted identifier (not a
# field of an earlier chain, not the tail of a number), plus the `(`
# that makes it a qualified function name.
_DOTTED_CHAIN = re.compile(
    r"(?<![\w.`$])([A-Za-z_]\w*)(?:\.(?:[A-Za-z_]\w*|``))+(\s*\()?")
_LAMBDA_PARAMS = re.compile(r"\(([\w\s,]*)\)\s*->|(\w+)\s*->")
# Chain heads that resolve without naming the frame: the qualified
# spellings of session variables (system.session.v, session.v).
_VARIABLE_HEADS = frozenset({"system", "session"})


def _blank_quoted(text: str) -> str:
    return _QUOTED_TEXT.sub(
        lambda m: "``" if m.group().startswith("`") else "''", text)


def _lambda_params(sql: str) -> set[str]:
    """Lower-cased lambda parameter names anywhere in `sql`."""
    out: set[str] = set()
    for m in _LAMBDA_PARAMS.finditer(_blank_quoted(sql)):
        out.update(p.strip().lower() for p in (m.group(1) or m.group(2)).split(","))
    return out - {""}


def _dotted_heads(expr: str, lambdas: set[str]) -> set[str]:
    """Lower-cased heads of the dotted references `a.b...` in `expr`
    that need the frame to resolve: a column (struct field access), a
    qualifier or a metadata column. Lambda parameters, session-variable
    qualifiers and qualified function names (`db.fn(`) are left out.
    Text the check cannot judge reports nothing: a subquery binds its
    own qualifiers and a comment can hide anything."""
    text = _blank_quoted(expr)
    if "--" in text or "/*" in text or re.search(r"\bselect\b", text, re.I):
        return set()
    heads = {m.group(1).lower() for m in _DOTTED_CHAIN.finditer(text)
             if not m.group(2)}
    return heads - lambdas - _VARIABLE_HEADS


def _frame_names(df) -> set[str] | None:
    """Lower-cased names an expression over `df` can start a dotted
    reference with: its output and metadata columns and every part of
    their qualifiers. None when the session has temporary variables
    (an unqualified variable resolves like a column)."""
    session = df.sparkSession._jsparkSession
    if not session.sessionState().catalogManager().tempVariableManager().isEmpty():
        return None
    plan = df._jdf.queryExecution().analyzed()
    names: set[str] = set()
    for attrs in (plan.output(), plan.metadataOutput()):
        it = attrs.iterator()
        while it.hasNext():
            names.update(p.lower() for p in it.next().qualifiedName().split("."))
    return names


def rewrite_typed_zeta(sql: str, df) -> str:
    """Rewrites that need the input schema (resolved by probing a
    zero-row plan against ``df``, driver-side analysis only):

    * ``ARRAY(a, b, ...)`` — Zeta picks ONE element type by promoting
      the argument types (ArrayFunction.java:83-141: numeric widening,
      otherwise String); Spark/ANSI least-common-type differs (e.g.
      string+int -> bigint). Rewrite to array(CAST(x AS T)...).
    * ``CAST(x AS DATE|TIME|TIMESTAMP)`` on NUMERIC x — Zeta decodes
      yyyymmdd ints -> DATE, hhmmss ints -> TIME, epoch-millis longs ->
      TIMESTAMP (SystemFunction.castAs:130-180); Spark rejects or (for
      timestamps) reads SECONDS.

    A site that cannot be typed is passed through unchanged. A site
    whose expressions name a qualifier ``df`` does not have (the other
    side of a join) is known untypable without asking Spark, so it is
    never probed.
    """
    lambdas = _lambda_params(sql)

    @functools.cache
    def frame_names() -> set[str] | None:
        return _frame_names(df)

    def resolvable(e: str) -> bool:
        heads = _dotted_heads(e, lambdas)
        if not heads:
            return True
        names = frame_names()
        return names is None or heads <= names

    def probe(exprs: list[str]) -> list[str] | None:
        if not all(map(resolvable, exprs)):
            return None
        try:
            plan = df.limit(0).selectExpr(
                *[f"({e}) AS __p{i}" for i, e in enumerate(exprs)])
            return [dt for _, dt in plan.dtypes]
        except Exception:
            return None

    def elem_kind(dtype: str, raw: str) -> str:
        base = dtype.split("(")[0]
        if base == "decimal":
            # JSqlParser sees a numeric literal as DoubleValue; a
            # decimal-typed COLUMN is BigDecimal -> String in Zeta.
            return "double" if _DEC_LIT.fullmatch(raw.strip()) else "string"
        return {"tinyint": "smallint"}.get(base, base)

    def build_array(args: list[str]) -> str:
        if not args:
            return "array()"
        dtypes = probe(args)
        if dtypes is None:
            return f"array({', '.join(args)})"
        tgt = None
        for dt, raw in zip(dtypes, args):
            k = elem_kind(dt, raw)
            if k == "void":  # NULL literals don't vote (getClassType)
                continue
            if tgt is None or tgt == k:
                tgt = k
            elif tgt in _NUM_RANK and k in _NUM_RANK:
                tgt = k if _NUM_RANK[k] > _NUM_RANK[tgt] else tgt
            else:
                tgt = "string"
        tgt = tgt if tgt in _ARRAY_ELEM_TYPES else "string"
        return ("array(" +
                ", ".join(f"CAST(({a}) AS {tgt})" for a in args) + ")")

    def build_cast(args: list[str]) -> str:
        passthru = f"CAST({', '.join(args)})"
        m = _CAST_AS.search(args[0]) if len(args) == 1 else None
        if not m:
            return passthru
        expr, target = args[0][: m.start()], m.group(1).upper()
        dtypes = probe([expr])
        if dtypes is None:
            return passthru
        base = dtypes[0].split("(")[0]
        numeric = base in ("tinyint", "smallint", "int", "bigint", "decimal")
        if target in ("TIMESTAMP", "DATETIME"):
            if numeric:  # epoch millis (castAs:150-155)
                return f"timestamp_millis(CAST(({expr}) AS BIGINT))"
            return f"CAST(({expr}) AS TIMESTAMP)"
        if target == "DATE" and numeric:  # yyyymmdd (castAs:158-166)
            return f"to_date(CAST(({expr}) AS STRING), 'yyyyMMdd')"
        if target == "TIME" and numeric:  # hhmmss (castAs:175-183)
            return ("to_time(lpad(CAST((" + expr + ") AS STRING), 6, '0'), "
                    "'HHmmss')")
        return passthru

    sql = _rewrite_calls(sql, "ARRAY", build_array)
    sql = _rewrite_calls(sql, "CAST", build_cast)
    return sql


# -- zeta_compat: exact arithmetic/dateadd dialect parity ---------------
#
# The three documented deviations between Spark's evaluator and Zeta's
# (ZetaSQLFunction.executeBinaryExpr:601-683 + ZetaSQLType:215-250 +
# the DATEADD result-type rule at ZetaSQLType:478-485), closed by a
# schema-aware rewrite behind the Sql transform's `zeta_compat` flag:
#   1. int/int (and long) division truncates (Java integer division);
#      Spark's `/` is fractional -> rewrite to DIV with a result cast.
#   2. DECIMAL division rounds RoundingMode.UP (away from zero) at the
#      result scale max(s_l, s_r); Spark rounds HALF_EVEN at its own
#      scale -> rewrite to CEIL/FLOOR(q, scale) by sign + CAST.
#   3. DATEADD whose first argument is a DATE returns DATE (result has
#      the type of arg 0); the Spark rewrite returns TIMESTAMP ->
#      wrap in CAST(... AS DATE).

_COMPAT_KEYWORDS = frozenset(
    "SELECT FROM WHERE AND OR NOT CASE WHEN THEN ELSE END AS ON JOIN "
    "INNER LEFT RIGHT FULL OUTER CROSS GROUP BY ORDER HAVING LIMIT "
    "UNION ALL DISTINCT IN IS NULL LIKE BETWEEN EXISTS OVER PARTITION "
    "ASC DESC CAST INTERVAL TRUE FALSE DIV".split())

_COMPAT_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
_COMPAT_NUM = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")


def _compat_primary(sql: str, i: int) -> tuple[int, int] | None:
    """Span of the primary expression at/after i: optional unary sign,
    then number / quoted string / parenthesized group / identifier
    (with .parts and an optional call-argument group). None when the
    text there is not a primary."""
    n = len(sql)
    while i < n and sql[i].isspace():
        i += 1
    if i >= n:
        return None
    start = i

    def skip_group(j: int) -> int:
        depth = 0
        while j < n:
            c = sql[j]
            if c == "'":
                j += 1
                while j < n and sql[j] != "'":
                    j += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return j

    c = sql[i]
    if c == "(":
        return start, skip_group(i)
    if c == "'":
        j = i + 1
        while j < n and sql[j] != "'":
            j += 1
        return start, j + 1
    if c.isdigit():
        m = _COMPAT_NUM.match(sql, i)
        return start, m.end()
    m = _COMPAT_IDENT.match(sql, i)
    if not m:
        return None
    if m.group(0).upper() in _COMPAT_KEYWORDS:
        return None
    i = m.end()
    while i < n and sql[i] == "." and _COMPAT_IDENT.match(sql, i + 1):
        i = _COMPAT_IDENT.match(sql, i + 1).end()
    j = i
    while j < n and sql[j].isspace():
        j += 1
    if j < n and sql[j] == "(":
        return start, skip_group(j)
    return start, i


def _zeta_kind(dtype: str):
    base = dtype.split("(")[0]
    if base in ("tinyint", "smallint", "int"):
        return ("int", None)
    if base == "bigint":
        return ("long", None)
    if base == "decimal":
        inner = dtype[dtype.index("(") + 1:-1] if "(" in dtype else "10,0"
        p, s = (int(x) for x in inner.split(","))
        return ("decimal", (p, s))
    if base in ("float", "double"):
        return ("double", None)
    return None


def _fold_zeta_kind(lk, rk):
    """Zeta's arithmetic result typing (ZetaSQLType:196-250)."""
    if lk[0] == "decimal" or rk[0] == "decimal":
        lp, ls = lk[1] or (0, 0)
        rp, rs = rk[1] or (0, 0)
        return ("decimal", (max(lp, rp), max(ls, rs)))
    if lk[0] == "double" or rk[0] == "double":
        return ("double", None)
    if lk[0] == "long" or rk[0] == "long":
        return ("long", None)
    return ("int", None)


def rewrite_zeta_compat(sql: str, df) -> str:
    """Schema-aware rewrite to exact Zeta arithmetic/DATEADD semantics
    (run BEFORE rewrite_zeta_sql; enabled by the Sql transform's
    zeta_compat option)."""

    def probe(expr: str) -> str | None:
        try:
            plan = df.limit(0).selectExpr(f"({expr}) AS __zc")
            return plan.dtypes[0][1]
        except Exception:  # noqa: BLE001 - zeta-only spelling: skip
            return None

    def rewrite_operand(text: str) -> str:
        # recurse into parenthesized groups / call args so nested
        # divisions get compat semantics too
        if "(" not in text:
            return text
        lo = text.index("(")
        hi = text.rindex(")")
        if hi < lo:
            return text
        return text[:lo + 1] + _rewrite(text[lo + 1:hi]) + text[hi:]

    def fold_chain(operands: list[str], ops: list[str]) -> str | None:
        kinds = []
        for o in operands:
            dt = probe(o)
            k = _zeta_kind(dt) if dt else None
            if k is None:
                return None
            kinds.append(k)
        acc, kind = operands[0], kinds[0]
        for op, rhs, rk in zip(ops, operands[1:], kinds[1:]):
            res = _fold_zeta_kind(kind, rk)
            if op == "/":
                if res[0] == "int":
                    acc = f"CAST(({acc}) DIV ({rhs}) AS INT)"
                elif res[0] == "long":
                    acc = f"(({acc}) DIV ({rhs}))"
                elif res[0] == "decimal":
                    p, s = res[1]
                    q = f"(CAST(({acc}) AS DOUBLE) / CAST(({rhs}) AS DOUBLE))"
                    # RoundingMode.UP = away from zero at the result
                    # scale (Zeta itself computes via doubleValue())
                    acc = (f"CAST(CASE WHEN {q} >= 0 THEN CEIL({q}, {s}) "
                           f"ELSE FLOOR({q}, {s}) END AS DECIMAL({p},{s}))")
                else:
                    acc = f"(({acc}) / ({rhs}))"
            else:
                acc = f"(({acc}) {op} ({rhs}))"
            kind = res
        return acc

    def _rewrite(s: str) -> str:
        out = []
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            if c == "'":
                j = i + 1
                while j < n and s[j] != "'":
                    j += 1
                out.append(s[i:j + 1])
                i = j + 1
                continue
            kw = _COMPAT_IDENT.match(s, i)
            if kw and kw.group(0).upper() in _COMPAT_KEYWORDS:
                out.append(kw.group(0))
                i = kw.end()
                continue
            p = _compat_primary(s, i)
            if p is None:
                out.append(c)
                i += 1
                continue
            st, end = p
            if st != i:  # leading whitespace stays verbatim
                out.append(s[i:st])
            spans = [(st, end)]
            ops: list[str] = []
            j = end
            while True:
                k = j
                while k < n and s[k].isspace():
                    k += 1
                if k < n and s[k] in "*/%":
                    # '*' here is a multiplication only after a primary,
                    # never SELECT-star (that case has no left operand)
                    q = _compat_primary(s, k + 1)
                    if q is None:
                        break
                    ops.append(s[k])
                    spans.append(q)
                    j = q[1]
                else:
                    break
            operands = [rewrite_operand(s[a:b]) for a, b in spans]
            if "/" in ops:
                folded = fold_chain(operands, ops)
                if folded is not None:
                    out.append(folded)
                    i = j
                    continue
            # not a rewritable chain: emit operands (inner-rewritten)
            # with the original operator text between them
            pieces = [operands[0]]
            for idx in range(len(ops)):
                pieces.append(s[spans[idx][1]:spans[idx + 1][0]])
                pieces.append(operands[idx + 1])
            out.append("".join(pieces))
            i = j
            continue
        return "".join(out)

    def build_dateadd_compat(args: list[str]) -> str:
        call = f"DATEADD({', '.join(args)})"
        if args:
            dt = probe(args[0])
            if dt == "date":
                return f"CAST({call} AS DATE)"
        return call

    sql = _rewrite_calls(sql, "DATEADD", build_dateadd_compat)
    return _rewrite(sql)


def rewrite_zeta_sql(sql: str) -> str:
    out = _raw_string_literals(sql)
    for zeta, spark_name in _NAME_REWRITES.items():
        out = re.sub(rf"\b{zeta}\s*\(", f"{spark_name}(", out, flags=re.I)
    for name_pattern, builder in (
        ("DATEADD|TIMESTAMPADD", _build_dateadd),
        ("DATEDIFF", _build_datediff),
        ("DATE_TRUNC", _build_date_trunc),
        ("TRUNC", _build_trunc),
        ("EXTRACT", _build_extract),
        ("LTRIM", _build_trim("ltrim")),
        ("RTRIM", _build_trim("rtrim")),
        ("TRIM", _build_trim("trim")),
        ("REGEXP_REPLACE", _build_regexp_replace),
        ("REGEXP_SUBSTR", _build_regexp_substr),
        ("REGEXP_LIKE", _build_regexp_like),
        ("FROM_UNIXTIME", _build_from_unixtime),
        ("PARSEDATETIME", _build_parsedatetime("to_timestamp")),
        ("TO_DATE", _build_parsedatetime("to_date")),
        # Zeta SIGN returns int (H2), Spark's returns double.
        ("SIGN", lambda args: f"CAST(sign({', '.join(args)}) AS INT)"),
        # Zeta DAY_OF_WEEK is ISO Monday=1 (DateTimeFunction.java:323-330);
        # Spark's dayofweek is Sunday=1, weekday is Monday=0.
        ("DAY_OF_WEEK", lambda args: f"(weekday({args[0]}) + 1)"),
        ("WEEK", _build_week),
    ):
        out = _rewrite_calls(out, name_pattern, builder)
    # Zeta allows parameterless VARCHAR in CAST (ZetaSQLType.java:68-83);
    # Spark requires a length — map to STRING.
    out = re.sub(r"\bAS\s+VARCHAR\b(?!\s*\()", "AS STRING", out, flags=re.I)
    return out


def _to_char(value, fmt: str | None = None) -> str | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"  # Java Boolean.toString
    if isinstance(value, (datetime, date)) and fmt:
        # Java DateTimeFormatter pattern -> strftime (common subset).
        py = (
            fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
            .replace("HH", "%H").replace("mm", "%M").replace("ss", "%S")
        )
        return value.strftime(py)
    return str(value)


def _insert(s, start, length, addition):
    # H2 INSERT(s, start, len, add): replace len chars at 1-based start.
    if s is None:
        return None
    start = int(start)
    length = int(length)
    return s[: start - 1] + str(addition) + s[start - 1 + length :]


def _is_date(s, fmt: str) -> bool:
    if s is None:
        return False
    # Fraction (S) must be mapped before ss -> %S introduces an 'S'.
    py = (
        fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
        .replace("HH", "%H").replace("mm", "%M")
        .replace("SSS", "%f").replace("S", "%f").replace("ss", "%S")
    )
    try:
        datetime.strptime(s, py)
        return True
    except ValueError:
        return False


def _truncate(x, d: int = 0):
    # H2 TRUNCATE(number, digits): toward zero.
    if x is None:
        return None
    import math

    scale = 10 ** int(d)
    return math.trunc(float(x) * scale) / scale


# ---------------------------------------------------------------------------
# User-defined function SPI — the ZetaUDF analog
# (sql/zeta/ZetaUDF.java:24: functionName/resultType/evaluate, discovered
# via ServiceLoader; docs/en/transform-v2/sql-udf.md). Here a UDF is a
# plain Python callable registered by name; entry-point discovery maps to
# the `seatunnel_spark.udfs` setuptools group when packaged.
# ---------------------------------------------------------------------------

_USER_UDFS: dict[str, tuple] = {}


def register_zeta_udf(name: str, fn, return_type) -> None:
    """Register a user scalar function usable from any Sql transform
    (the ZetaUDF SPI analog). `return_type` is a Spark DataType or DDL
    string ('string', 'bigint', ...). Takes effect on sessions that
    call register_zeta_udfs afterwards, and immediately on the active
    session if one exists."""
    _USER_UDFS[name.upper()] = (fn, return_type)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.udf.register(name.upper(), fn, return_type)


def _example_udf(arg):
    # sql-udf.md's ExampleUDF: prefixes the input (docs example returns
    # "UDF: <value>").
    return None if arg is None else f"UDF: {arg}"


def _keystream(key: str, n: int) -> bytes:
    import hashlib

    out = b""
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"{key}#{counter}".encode()).digest()
        counter += 1
    return out[:n]


def _des_encrypt(key, value):
    """Stand-in for the shipped DesEncrypt ZetaUDF
    (zeta/functions/udf/DesEncrypt.java): deterministic, invertible,
    key-dependent. NOT wire-compatible with DES (no crypto libs in this
    container) — swap for a real DES impl for interop; the SQL surface
    and the decrypt(encrypt(x)) == x contract are identical."""
    if key is None or value is None:
        return None
    import base64

    raw = str(value).encode("utf-8")
    ks = _keystream(str(key), len(raw))
    return base64.b64encode(bytes(a ^ b for a, b in zip(raw, ks))).decode()


def _zeta_hextoraw(s):
    if s is None:
        return None
    if len(s) % 4 != 0:
        raise ValueError("HEXTORAW: length must be a multiple of 4 "
                         "(StringFunction.java:138)")
    return "".join(chr(int(s[i:i + 4], 16)) for i in range(0, len(s), 4))


def _zeta_rawtohex(v):
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return "".join(f"{b:02x}" for b in v)
    return "".join(f"{ord(c):04x}" for c in str(v))


def _des_decrypt(key, value):
    if key is None or value is None:
        return None
    import base64

    raw = base64.b64decode(value)
    ks = _keystream(str(key), len(raw))
    return bytes(a ^ b for a, b in zip(raw, ks)).decode("utf-8")


_REGISTERED_SESSIONS: set[int] = set()


def register_zeta_udfs(spark: SparkSession) -> None:
    """Idempotently register the true-shim functions on a session."""
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    from pyspark.sql.types import BooleanType, DoubleType, StringType

    spark.udf.register("ZETA_TO_CHAR", _to_char, StringType())
    spark.udf.register("INSERT_STR", _insert, StringType())
    spark.udf.register(
        "ZETA_DAYNAME", lambda d: d.strftime("%A") if d is not None else None,
        StringType(),
    )
    spark.udf.register(
        "ZETA_MONTHNAME", lambda d: d.strftime("%B") if d is not None else None,
        StringType(),
    )
    spark.udf.register("IS_DATE", _is_date, BooleanType())
    spark.udf.register("TRUNCATE", _truncate, DoubleType())
    spark.udf.register("EXAMPLE", _example_udf, StringType())
    spark.udf.register("DES_ENCRYPT", _des_encrypt, StringType())
    spark.udf.register("DES_DECRYPT", _des_decrypt, StringType())
    spark.udf.register("ZETA_HEXTORAW", _zeta_hextoraw, StringType())
    spark.udf.register("ZETA_RAWTOHEX", _zeta_rawtohex, StringType())
    for name, (fn, rt) in _USER_UDFS.items():
        spark.udf.register(name, fn, rt)
    _REGISTERED_SESSIONS.add(key)
