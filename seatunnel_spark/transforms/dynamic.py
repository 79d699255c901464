"""DynamicCompile — user-supplied code appending computed columns.

Reference: transform/dynamiccompile/DynamicCompileTransform.java:38-86
(docs/en/transform-v2/dynamic-compile.md): the reference compiles
user Java/Groovy at runtime and reflects two methods out of it —
`getInlineOutputColumns(CatalogTable)` declaring the produced columns
and `getInlineOutputFieldValues(SeaTunnelRowAccessor)` computing their
per-row values; same-named columns replace the original in place, new
ones append (common/MultipleFieldOutputTransform.java:95-117).

The PySpark-native equivalent takes user *Python* source defining a
function, applied as a vectorized pandas transform (preferred) or a
row map. For config compatibility with existing JAVA/GROOVY jobs, a
constrained interpreter recognizes the documented inline protocol
(PhysicalColumn.of declarations + `fieldValues[i] = <expr>`
assignments where expr is a literal, `inputRow.getField(n)`, or
`HttpUtil.get(url)`) and compiles it to native Column expressions —
arbitrary JVM code is out of scope (no JVM compiler here; use Python
source instead).

Options:
  source_code     : str — python source defining `transform(pdf)` (pandas
                    DataFrame -> pandas DataFrame) or `transform_row(row)`
                    (dict -> dict), or a JAVA/GROOVY inline-protocol class
  compile_language: 'PYTHON' (default) | 'JAVA' | 'GROOVY'
  compile_pattern : 'SOURCE_CODE' (inline) | 'ABSOLUTE_PATH' (file path)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.transforms.base import Transform

# BasicType/LocalTimeType constant -> schema-DSL type string
# (api/table/type/BasicType.java, LocalTimeType.java)
_JVM_TYPES = {
    "STRING_TYPE": "string",
    "BOOLEAN_TYPE": "boolean",
    "BYTE_TYPE": "tinyint",
    "SHORT_TYPE": "smallint",
    "INT_TYPE": "int",
    "LONG_TYPE": "bigint",
    "FLOAT_TYPE": "float",
    "DOUBLE_TYPE": "double",
    "VOID_TYPE": "null",
    "LOCAL_DATE_TYPE": "date",
    "LOCAL_TIME_TYPE": "time",
    "LOCAL_DATE_TIME_TYPE": "timestamp",
}


def _parse_inline_jvm(code: str):
    """Parse the inline-protocol subset of a JAVA/GROOVY snippet.

    Returns (columns, values) where columns is [(name, type_str)] from
    the `PhysicalColumn.of("name", BasicType.X_TYPE, ...)` declarations
    in getInlineOutputColumns, and values[i] describes the expression
    assigned to `fieldValues[i]`: ('lit', value) | ('field', ordinal) |
    ('http', url). Raises ValueError on anything outside the subset.
    """
    cols = [
        (m.group(1), _JVM_TYPES[m.group(2)])
        for m in re.finditer(
            r'PhysicalColumn\s*\.\s*of\s*\(\s*"([^"]+)"\s*,'
            r"\s*(?:BasicType|LocalTimeType)\s*\.\s*(\w+)",
            code,
        )
    ]
    if not cols:
        raise ValueError(
            "DynamicCompile JAVA/GROOVY: no PhysicalColumn.of(...) declarations "
            "found — only the inline getInlineOutputColumns/"
            "getInlineOutputFieldValues protocol is supported"
        )
    # local vars bound to HttpUtil.get("...") (the documented HTTP example)
    http_vars = {
        m.group(1): m.group(2)
        for m in re.finditer(
            r'(\w+)\s*=\s*HttpUtil\s*\.\s*get\s*\(\s*"([^"]+)"\s*\)', code
        )
    }
    values: dict[int, tuple] = {}
    for m in re.finditer(r"fieldValues\s*\[\s*(\d+)\s*\]\s*=\s*([^;\n]+)", code):
        idx, expr = int(m.group(1)), m.group(2).strip().rstrip(";").strip()
        if re.fullmatch(r'"(?:[^"\\]|\\.)*"', expr):
            values[idx] = ("lit", expr[1:-1])
        elif re.fullmatch(r"-?\d+", expr):
            values[idx] = ("lit", int(expr))
        elif re.fullmatch(r"-?\d*\.\d+[fFdD]?", expr):
            values[idx] = ("lit", float(expr.rstrip("fFdD")))
        elif re.fullmatch(r"(?:true|false)", expr):
            values[idx] = ("lit", expr == "true")
        elif re.fullmatch(r"null", expr):
            values[idx] = ("lit", None)
        elif (fm := re.fullmatch(r"inputRow\s*\.\s*getField\s*\(\s*(\d+)\s*\)", expr)):
            values[idx] = ("field", int(fm.group(1)))
        elif (hm := re.fullmatch(r'HttpUtil\s*\.\s*get\s*\(\s*"([^"]+)"\s*\)', expr)):
            values[idx] = ("http", hm.group(1))
        elif expr in http_vars:
            values[idx] = ("http", http_vars[expr])
        else:
            raise ValueError(
                f"DynamicCompile JAVA/GROOVY: unsupported fieldValues expression "
                f"{expr!r} — supported: literals, inputRow.getField(n), "
                f"HttpUtil.get(url); for anything else supply Python source"
            )
    if sorted(values) != list(range(len(cols))):
        raise ValueError(
            f"DynamicCompile JAVA/GROOVY: {len(cols)} output columns declared "
            f"but fieldValues indexes {sorted(values)} assigned"
        )
    return cols, [values[i] for i in range(len(cols))]


class DynamicCompileTransform(Transform):
    NAME = "DynamicCompile"

    def _load_code(self) -> str:
        pattern = str(self.opt("compile_pattern", "SOURCE_CODE")).upper()
        if pattern == "ABSOLUTE_PATH":
            with open(self.require("absolute_path")) as f:
                return f.read()
        return self.require("source_code")

    def _apply_inline_jvm(self, df: DataFrame, code: str) -> DataFrame:
        from seatunnel_spark.net import apply_host_aliases
        from seatunnel_spark.types import parse_type

        cols, values = _parse_inline_jvm(code)
        for (name, type_str), spec in zip(cols, values):
            kind, arg = spec
            if kind == "lit":
                expr = F.lit(arg)
            elif kind == "field":
                expr = F.col(df.columns[arg])
            else:  # http — fetched once on the driver; the value is
                # row-invariant, so one GET replaces the reference's
                # per-row call (HttpUtil.get in a row loop would be N
                # network calls for the same constant at scale)
                import urllib.request

                with urllib.request.urlopen(  # noqa: S310
                    apply_host_aliases(arg), timeout=30
                ) as resp:
                    expr = F.lit(resp.read().decode())
            # withColumn = MultipleFieldOutputTransform semantics:
            # replace same-named in place, append new at end
            df = df.withColumn(name, expr.cast(parse_type(type_str)))
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        language = str(self.opt("compile_language", "PYTHON")).upper()
        if language in ("JAVA", "GROOVY"):
            return self._apply_inline_jvm(df, self._load_code())
        namespace: dict = {}
        exec(self._load_code(), namespace)  # noqa: S102 — explicit user-code feature
        if "transform" in namespace:
            fn = namespace["transform"]
            probe = fn(df.limit(100).toPandas())
            schema = df.sparkSession.createDataFrame(probe).schema
            return map_in_pandas(df, lambda it: (fn(pdf) for pdf in it),
                                 schema=schema)
        if "transform_row" in namespace:
            fn = namespace["transform_row"]

            def _map_rows(iterator):
                import pandas as pd

                for pdf in iterator:
                    yield pd.DataFrame([fn(r) for r in pdf.to_dict("records")])

            import pandas as pd

            probe = pd.DataFrame(
                [fn(r) for r in df.limit(100).toPandas().to_dict("records")]
            )
            schema = df.sparkSession.createDataFrame(probe).schema
            return map_in_pandas(df, _map_rows, schema=schema)
        raise ValueError(
            "DynamicCompile: source must define transform(pdf) or transform_row(row)"
        )
