"""String-shaping transforms: Replace, Split, JsonPath.

All expressed as Catalyst expressions (regexp_replace / split /
get_json_object) so they stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from seatunnel_spark._pyworker import python_udf
from seatunnel_spark.transforms.base import Transform
from seatunnel_spark.types import parse_type


class ReplaceTransform(Transform):
    """Literal or regex substring replacement on one field.

    Reference: transform/replace/ReplaceTransform.java:35,
    docs/en/transform-v2/replace.md — options replace_field, pattern,
    replacement, is_regex (default false), replace_first (default false).
    """

    NAME = "Replace"

    def apply(self, df: DataFrame) -> DataFrame:
        field = self.require("replace_field")
        pattern = str(self.require("pattern"))
        replacement = str(self.require("replacement"))
        is_regex = bool(self.opt("is_regex", False))
        replace_first = bool(self.opt("replace_first", False))

        if not is_regex:
            # Literal replacement of every occurrence.
            expr = F.replace(F.col(field), F.lit(pattern), F.lit(replacement))
        elif replace_first:
            # Anchor on the first match only: wrap pattern so everything
            # after the first match is preserved verbatim.
            expr = F.regexp_replace(
                F.col(field), f"({pattern})(.*)", re.sub(r"\$", r"\\$", replacement) + "$2"
            )
        else:
            expr = F.regexp_replace(F.col(field), pattern, replacement)
        return df.withColumn(field, expr)


class SplitTransform(Transform):
    """Split a string field into N new fields (null-padded).

    Reference: transform/split/SplitTransform.java:33-80,
    docs/en/transform-v2/split.md — separator, split_field, output_fields.
    The reference pads missing pieces with null and keeps the original field.
    """

    NAME = "Split"

    def apply(self, df: DataFrame) -> DataFrame:
        sep = str(self.require("separator"))
        field = self.require("split_field")
        outputs: list[str] = self.require("output_fields")
        # Literal separator (the reference treats it literally). F.get is
        # the null-safe accessor (reference null-pads missing pieces;
        # plain getItem would throw under Spark 4's ANSI mode).
        parts = F.split(F.col(field), re.escape(sep))
        return df.withColumns(
            {name: F.get(parts, i) for i, name in enumerate(outputs)}
        )


def _lenient_json_value(s: str, i: int = 0):
    """Tolerant JSON reader — the subset json-smart's PERMISSIVE mode
    accepts and the reference's JsonPath (Jayway) therefore extracts
    from: unquoted keys, unquoted values with spaces (read to , } ]),
    single-quoted strings, backslash-quoted wrappers. Returns (value,
    next_index)."""
    n = len(s)

    def ws(i):
        while i < n and s[i] in " \t\r\n":
            i += 1
        return i

    def qstr(i):
        q = s[i]
        i += 1
        out = []
        while i < n and s[i] != q:
            if s[i] == "\\" and i + 1 < n:
                out.append(s[i + 1])
                i += 2
            else:
                out.append(s[i])
                i += 1
        return "".join(out), i + 1

    def bare_value(raw: str):
        raw = raw.strip()
        if raw.startswith('\\"') and raw.endswith('\\"') and len(raw) >= 4:
            return raw[2:-2]
        if len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "\"'":
            return raw[1:-1]
        low = raw.lower()
        if low == "true":
            return True
        if low == "false":
            return False
        if low in ("null", ""):
            return None
        try:
            return int(raw)
        except ValueError:
            try:
                return float(raw)
            except ValueError:
                return raw

    i = ws(i)
    if i >= n:
        return None, i
    c = s[i]
    if c == "{":
        d = {}
        i += 1
        while i < n:
            i = ws(i)
            if i >= n or s[i] == "}":
                i += 1
                break
            if s[i] == ",":
                i += 1
                continue
            if s[i] in "\"'":
                k, i = qstr(i)
            else:
                j = i
                while i < n and s[i] not in ":}":
                    i += 1
                k = s[j:i].strip()
            i = ws(i)
            if i < n and s[i] == ":":
                i += 1
            d[k], i = _lenient_json_value(s, i)
        return d, i
    if c == "[":
        out = []
        i += 1
        while i < n:
            i = ws(i)
            if i >= n or s[i] == "]":
                i += 1
                break
            if s[i] == ",":
                i += 1
                continue
            v, i = _lenient_json_value(s, i)
            out.append(v)
        return out, i
    if c in "\"'":
        # Quoted... unless junk follows before the delimiter (e.g. the
        # bare run  "16: 12"x ) — then fall through to bare handling.
        v, j = qstr(i)
        k = ws(j)
        if k >= n or s[k] in ",}]:":
            return v, j
    j = i
    while i < n and s[i] not in ",}]":
        i += 1
    return bare_value(s[j:i]), i


def _lenient_json_path(s, path):
    if s is None or path is None:
        return None
    import json as _json
    import re as _re

    try:
        doc, _ = _lenient_json_value(str(s))
    except Exception:
        return None
    p = str(path).strip()
    if p.startswith("$"):
        p = p[1:]
    cur = doc
    for name, idx in _re.findall(r"\.([^.\[]+)|\[(\d+)\]", p):
        if name:
            if not isinstance(cur, dict):
                return None
            cur = cur.get(name)
        else:
            k = int(idx)
            if not isinstance(cur, list) or k >= len(cur):
                return None
            cur = cur[k]
        if cur is None:
            return None
    if isinstance(cur, bool):
        return "true" if cur else "false"
    if isinstance(cur, (dict, list)):
        return _json.dumps(cur)
    return None if cur is None else str(cur)


class JsonPathTransform(Transform):
    """Extract JSONPath expressions into typed destination columns.

    Reference: transform/jsonpath/JsonPathTransform.java:48-183,
    docs/en/transform-v2/jsonpath.md — ``columns`` array of
    {src_field, path, dest_field, dest_type}, error handling FAIL/SKIP.

    Implementation: `get_json_object` handles `$.a.b[0]`-style paths
    natively in the JVM; dest_type applies a cast using the schema DSL.
    """

    NAME = "JsonPath"

    def apply(self, df: DataFrame) -> DataFrame:
        columns: list[dict] = self.require("columns")
        out = df
        new_cols = {}
        for spec in columns:
            src = spec["src_field"]
            path = spec["path"]
            dest = spec["dest_field"]
            dest_type = spec.get("dest_type", "string")
            src_col = F.col(src)
            if dict(df.dtypes).get(src) not in ("string",):
                from pyspark.sql import types as T

                src_dt = df.schema[src].dataType
                m = re.match(r"^\$\[(\d+)\]", path)
                if isinstance(src_dt, T.StructType) and m:
                    # Zeta serializes a ROW as a JSON ARRAY of field
                    # values (Object[] fields), so $[i] indexes fields
                    # positionally (nested_row_test.conf:47); to_json
                    # emits an OBJECT -> rewrite the root index to the
                    # i-th field name.
                    path = "$." + src_dt.names[int(m.group(1))] + path[m.end():]
                src_col = F.to_json(src_col)
            # Strict JVM-side extraction first; the Python lenient
            # reader (json-smart-permissive analog) only evaluates on
            # rows where strict parsing yielded nothing.
            lenient = python_udf(_lenient_json_path, "string")
            extracted = F.coalesce(
                F.get_json_object(src_col, path),
                lenient(src_col, F.lit(path)),
            )
            dt = parse_type(dest_type)
            if dt.simpleString() != "string":
                # try_cast: malformed values become null (the reference's
                # SKIP error-handling), instead of failing under ANSI mode.
                extracted = extracted.try_cast(dt)
            new_cols[dest] = extracted
        out = out.withColumns(new_cols)
        if str(self.opt("row_error_handle_way", "FAIL")).upper() == "SKIP_ROW":
            out = out.na.drop(subset=list(new_cols))
        return out
