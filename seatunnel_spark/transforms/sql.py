"""Sql transform — the query surface.

Reference: transform/sql/SQLTransform.java:47-108 with the Zeta
interpreter (sql/zeta/ZetaSQLEngine.java). The reference accepts ONLY
single-table SELECT/WHERE/LATERAL VIEW and rejects joins, GROUP BY,
ORDER BY, LIMIT, subqueries (ZetaSQLEngine.java:144-157).

The rebuild is a strict superset: the query runs through spark.sql()
against a temp view, so joins/aggregates/windows/set-ops come free via
Catalyst. Zeta-dialect function names that Spark doesn't know are
rewritten by seatunnel_spark.functions.zeta_sql_compat() first, so
reference job configs run unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from seatunnel_spark.functions import (
    register_zeta_udfs,
    rewrite_aliasless_lateral,
    rewrite_typed_zeta,
    rewrite_zeta_sql,
)
from seatunnel_spark.transforms.base import Transform


class SqlTransform(Transform):
    """Options (docs/en/transform-v2/sql.md): ``query`` (required);
    the input table is referenced by its plugin_input name (or any
    placeholder; we alias the view both ways)."""

    NAME = "Sql"

    def __init__(self, options: dict | None = None):
        super().__init__(options)
        self.input_name = (options or {}).get("plugin_input") or (options or {}).get(
            "source_table_name"
        )

    def apply(self, df: DataFrame) -> DataFrame:
        query = self.require("query")
        spark = df.sparkSession
        register_zeta_udfs(spark)
        sql = query
        if str(self.opt("zeta_compat", "")).lower() in ("true", "1", "yes"):
            # exact Zeta arithmetic/DATEADD dialect parity (truncating
            # integer division, RoundingMode.UP decimal division,
            # DATE-in DATE-out DATEADD) — schema-aware, so it runs
            # against the input frame before the textual rewrites
            from seatunnel_spark.functions import rewrite_zeta_compat

            sql = rewrite_zeta_compat(sql, df)
        sql = rewrite_zeta_sql(sql)
        sql = rewrite_typed_zeta(sql, df)
        sql = rewrite_aliasless_lateral(sql, df.columns)
        sql = self._carry_meta_columns(sql, df)
        # Register the input under its DAG name plus the reference's
        # pseudo-table names so SELECT ... FROM <anything declared> works.
        for n in {self.input_name, "dual", "input"} - {None}:
            df.createOrReplaceTempView(n)
        return spark.sql(sql)

    @staticmethod
    def _carry_meta_columns(sql: str, df: DataFrame) -> str:
        """Changelog metadata (__row_kind/__table_id/__event_ts/
        __offset) rides OUTSIDE the projected fields in the reference
        (SQLTransform maps the payload but the SeaTunnelRow keeps its
        RowKind/tableId) — a CDC pipeline's `SELECT cols FROM t` must
        not strip the row kind. For the reference-shaped row-mapping
        query (single SELECT, no aggregation/set-op/join — everything
        Zeta itself accepts) the meta columns are appended to the
        projection; queries outside that shape (our superset) keep
        their explicit output."""
        import re

        from seatunnel_spark.types import (
            EVENT_TS_COL, ROW_KIND_COL, TABLE_ID_COL)

        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL, EVENT_TS_COL,
                            "__offset") if c in df.columns]
        if not meta:
            return sql
        if re.search(r"\bgroup\s+by\b|\bjoin\b|\bdistinct\b|\bunion\b"
                     r"|\bintersect\b|\bexcept\b|\bselect\b.*\bselect\b"
                     r"|\b(?:count|sum|avg|min|max|first|last|collect_"
                     r"list|collect_set)\s*\(",
                     sql, re.I | re.S):
            return sql
        m = re.match(r"(\s*select\s+)(.+?)(\s+from\s+.*)$", sql,
                     re.I | re.S)
        if not m:
            return sql
        proj = m.group(2)
        # Only a bare `*` / `t.*` projection ITEM means SELECT-star (the
        # view carries meta, so * already includes it); an asterisk used
        # as multiplication (`a * b AS x`) must still get meta appended.
        items = [p.strip() for p in proj.split("--")[0].split(",")]
        if any(re.fullmatch(r"(?:[\w.`\"]+\.)?\*", p) for p in items):
            return sql
        add = [c for c in meta if not re.search(rf"\b{c}\b", proj)]
        if not add:
            return sql
        return m.group(1) + proj + ", " + ", ".join(add) + m.group(3)
