"""The benchmark's workloads. Each one writes its seeded inputs, then
hands the runner a fixed list of ops; one pass over the list is a
round. An op runs one user-visible unit of work to completion and
returns its output row count; `check` tests that count on every op and
`verify` compares the full output with an independent DuckDB result
once, on the warm-up pass.

The workloads (BENCHMARK.json lists etl_fanout and dataops, with
one-line reasons; conf_small_jobs runs by name but is not listed, see
README.md):
  etl_fanout       sources and sinks do the work; two sinks share one
                   upstream, so the upstream is scanned twice per op
  dataops          iterative graph loops (many small Spark jobs, the
                   driver gap between them) and the operators whose
                   executor work runs in Arrow / pandas Python workers;
                   no sources or sinks of the job engine
  conf_small_jobs  driver-side parsing, planning and the fixed Spark
                   cost of a job dominate; every job has one sink
"""

from __future__ import annotations

import contextlib
import os
import sys
from dataclasses import dataclass
from typing import Callable

import datagen

# selfcheck's order-insensitive digest is the repository's comparison
# rule for a Spark result against DuckDB; the benchmark uses the same.
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from selfcheck import table_digest  # noqa: E402


@dataclass
class Op:
    """`run` is the timed unit of work; `count` turns its result into
    output rows outside the timed window (reading sink files back);
    `check` tests that count and `verify` the full output."""

    name: str
    run: Callable[[], object]
    rows_in: int
    check: Callable[[int], str | None]
    verify: Callable[[], str | None]
    count: Callable[[object], int] = lambda rows: rows


@dataclass
class Ctx:
    spark: object
    data_dir: str
    out_dir: str
    seed: int
    tracer: object
    defects: set


def _compare(label: str, cols: list[str], rows: list[tuple],
             want_cols: list[str], want_n: int, want_digest: str) -> str | None:
    if len(rows) != want_n:
        return f"{label}: {len(rows)} rows, DuckDB has {want_n}"
    if sorted(cols) != sorted(want_cols):
        return f"{label}: columns {sorted(cols)} != {sorted(want_cols)}"
    if table_digest(cols, rows) != want_digest:
        return f"{label}: rows differ from DuckDB (digest)"
    return None


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, f)
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


# --------------------------------------------------------------------------
# etl_fanout
# --------------------------------------------------------------------------

_ETL_SQL_ZETA = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
       UCASE(o.o_orderpriority) AS priority,
       DATEDIFF(o.o_orderdate, l.l_shipdate) AS ship_days,
       l.l_extendedprice * (1 - l.l_discount) AS revenue,
       CONCAT(l.l_returnflag, l.l_linestatus) AS flags
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 25
"""

# The same result in DuckDB's dialect, with the Replace step inlined.
_ETL_SQL_DUCK = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
       replace(upper(o.o_orderpriority), '-', ' ') AS priority,
       date_diff('day', CAST(o.o_orderdate AS DATE),
                 CAST(l.l_shipdate AS DATE)) AS ship_days,
       l.l_extendedprice * (1 - l.l_discount) AS revenue,
       concat(l.l_returnflag, l.l_linestatus) AS flags
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 25
"""

_ETL_HOCON = """
env {
  job.mode = "BATCH"
}
source {
  LocalFile {
    plugin_output = "lineitem"
    path = "%(data)s/lineitem.parquet"
    file_format_type = "parquet"
  }
  LocalFile {
    plugin_output = "orders"
    path = "%(data)s/orders.parquet"
    file_format_type = "parquet"
  }
}
transform {
  Sql {
    plugin_input = "lineitem"
    plugin_output = "joined"
    query = \"\"\"%(sql)s\"\"\"
  }
  Replace {
    plugin_input = "joined"
    plugin_output = "clean"
    replace_field = "priority"
    pattern = "-"
    replacement = " "
  }
}
sink {
  LocalFile {
    plugin_input = "clean"
    path = "%(out)s/parquet"
    file_format_type = "parquet"
    data_save_mode = "DROP_DATA"
  }
  LocalFile {
    plugin_input = "clean"
    path = "%(out)s/csv"
    file_format_type = "csv"
    data_save_mode = "DROP_DATA"
  }
}
"""

_ETL_COLUMNS = ["l_orderkey", "l_linenumber", "o_custkey", "priority",
                "ship_days", "revenue", "flags"]
_SINK_READERS = {
    "parquet": "read_parquet('%s/*.parquet')",
    "csv": "read_csv('%s/part-*', header = false, names = " +
           str(_ETL_COLUMNS) + ")",
}


class EtlFanout:
    name = "etl_fanout"
    tpch_sf = 0.01
    nominal_round_s = 1.0
    warmup_s = 12.0

    def inputs(self, data_dir: str, seed: int) -> dict:
        return datagen.write(data_dir, seed, tpch_sf=self.tpch_sf, parts=8)

    def ops(self, ctx: Ctx, sizes: dict) -> list[Op]:
        from seatunnel_spark.job.engine import JobEngine
        from seatunnel_spark.job.spec import JobSpec

        out = os.path.join(ctx.out_dir, "etl")
        text = _ETL_HOCON % {"data": ctx.data_dir, "out": out,
                             "sql": _ETL_SQL_ZETA}
        con = _duck(ctx.data_dir)
        want_cols, want_rows = _fetch(con, _ETL_SQL_DUCK)
        want_n, want_digest = len(want_rows), table_digest(want_cols, want_rows)
        del want_rows
        defects = ctx.defects

        def run() -> None:
            engine = JobEngine(ctx.spark)
            engine.run(JobSpec.from_hocon(text))
            # Two sinks on one input share one metrics key, so the
            # engine keeps a single rows_written for both of them.
            if len(engine.metrics) < 2:
                defects.add(
                    "JobEngine.metrics keeps one rows_written for two "
                    "LocalFile sinks on the same input (key "
                    f"{sorted(engine.metrics)}); sink rows are read back "
                    "from the files instead")

        def count(_) -> int:
            return sum(con.execute(
                f"SELECT count(*) FROM {reader % f'{out}/{kind}'}"
            ).fetchone()[0] for kind, reader in _SINK_READERS.items())

        def check(rows: int) -> str | None:
            want = len(_SINK_READERS) * want_n
            return None if rows == want else \
                f"{rows} rows in the sinks, {want} expected from DuckDB"

        def verify() -> str | None:
            run()
            for kind, reader in _SINK_READERS.items():
                cols, rows = _fetch(con, f"SELECT * FROM {reader % f'{out}/{kind}'}")
                bad = _compare(f"{kind} sink", cols, rows, want_cols,
                               want_n, want_digest)
                if bad:
                    return bad
            return None

        rows_in = sizes["lineitem"]["rows"] + sizes["orders"]["rows"]
        return [Op("fanout_job", run, rows_in, check, verify, count)]


# --------------------------------------------------------------------------
# conf_small_jobs
# --------------------------------------------------------------------------

_FAKE = """
source {
  FakeSource {
    plugin_output = "fake"
    row.num = %(rows)d
    seed = %(seed)d
    %(extra)s
    schema = {
      fields {
        id = bigint
        name = string
        age = int
        score = double
      }
    }
  }
}
"""


def _assert_rows(n: int, field: str) -> str:
    return """
sink {
  Assert {
    rules {
      row_rules = [
        { rule_type = MIN_ROW, rule_value = %(n)d },
        { rule_type = MAX_ROW, rule_value = %(n)d }
      ]
      field_rules = [
        { field_name = "%(f)s", field_value = [{ rule_type = NOT_NULL }] }
      ]
    }
  }
}
""" % {"n": n, "f": field}


def _local_sink(path: str, fmt: str) -> str:
    return """
sink {
  LocalFile {
    path = "%s"
    file_format_type = "%s"
    data_save_mode = "DROP_DATA"
  }
}
""" % (path, fmt)


def small_jobs(rng, out_dir: str) -> list[tuple[str, str, int, str | None]]:
    """(name, HOCON text, input rows, DuckDB reader of the LocalFile
    sink's output, or None where an Assert sink checks the job).
    The ten jobs get the row counts 100, 200, ..., 1000 in a seeded
    order, so every seed feeds a round the same 5500 rows."""
    jobs = []
    sizes = iter(int(n) for n in rng.permutation(range(100, 1001, 100)))

    def add(name, transform, sink_field=None, extra="", sink_fmt=None):
        n = next(sizes)
        seed = int(rng.integers(0, 1 << 30))
        src = _FAKE % {"rows": n, "seed": seed, "extra": extra}
        reader = None
        if sink_fmt:
            path = os.path.join(out_dir, name)
            sink = _local_sink(path, sink_fmt)
            reader = {"csv": f"read_csv('{path}/part-*', header = false)",
                      "parquet": f"read_parquet('{path}/*.parquet')"}[sink_fmt]
        else:
            sink = _assert_rows(n, sink_field)
        text = 'env {\n  job.mode = "BATCH"\n}\n' + src + \
            "transform {\n" + transform + "\n}\n" + sink
        jobs.append((name, text, n, reader))

    add("sql_zeta", """
  Sql {
    query = \"\"\"select id, ucase(name) as uname, concat(name, '!') as bang,
      age * 2 as age2, case when score > 50 then 'hi' else 'lo' end as band
      from fake where id >= 0\"\"\"
  }""", "uname")
    add("field_mapper", """
  FieldMapper {
    field_mapper = { id = id, name = new_name, age = age }
  }""", "new_name")
    add("replace", """
  Replace {
    replace_field = "name"
    pattern = "a"
    replacement = "A"
  }""", "name")
    add("split", """
  Split {
    separator = " "
    split_field = "name"
    output_fields = [first_name, last_name]
  }""", "first_name",
        extra='string.template = ["Ann Lee", "Bo Chen", "Cy Diaz", "Di Eze"]')
    add("jsonpath", """
  JsonPath {
    columns = [
      { src_field = "name", path = "$.a.b", dest_field = "ab" }
    ]
  }""", "ab",
        extra='string.template = ["{\\"a\\":{\\"b\\":1}}", '
              '"{\\"a\\":{\\"b\\":\\"x\\"}}"]')
    add("copy", """
  Copy {
    fields { name_copy = name }
  }""", "name_copy")
    add("filter_fields", """
  Filter {
    include_fields = [id, name]
  }""", sink_fmt="csv")
    add("field_rename", """
  FieldRename {
    convert_case = "UPPER"
    prefix = "F_"
  }""", sink_fmt="parquet")
    add("rowkind", """
  RowKindExtractor {
    custom_field_name = "row_kind"
    transform_type = "FULL"
  }""", "row_kind")
    # multi-table: two FakeSource tables routed through TableRename
    n = next(sizes)
    n1, n2 = n // 2, n - n // 2
    s1, s2 = int(rng.integers(0, 1 << 30)), int(rng.integers(0, 1 << 30))
    text = """
env {
  job.mode = "BATCH"
}
source {
  FakeSource {
    plugin_output = "fake"
    tables_configs = [
      { row.num = %d, seed = %d, schema = { table = "db.orders",
        fields { id = bigint, name = string } } },
      { row.num = %d, seed = %d, schema = { table = "db.users",
        fields { id = bigint, age = int } } }
    ]
  }
}
transform {
  TableRename {
    convert_case = "UPPER"
    prefix = "T_"
  }
}
""" % (n1, s1, n2, s2) + _assert_rows(n1 + n2, "id")
    jobs.append(("table_rename_multi", text, n1 + n2, None))
    return jobs


class ConfSmallJobs:
    name = "conf_small_jobs"
    nominal_round_s = 2.0
    warmup_s = 15.0

    def inputs(self, data_dir: str, seed: int) -> dict:
        return {}

    def ops(self, ctx: Ctx, sizes: dict) -> list[Op]:
        import numpy as np

        from seatunnel_spark.job.engine import JobEngine
        from seatunnel_spark.job.spec import JobSpec

        con = _duck(ctx.data_dir)
        rng = np.random.default_rng(ctx.seed)
        ops = []
        for name, text, n, reader in small_jobs(rng, os.path.join(
                ctx.out_dir, "small")):

            def run(text=text) -> None:
                JobEngine(ctx.spark).run(JobSpec.from_hocon(text))

            def count(_, reader=reader, n=n) -> int:
                if reader is None:
                    return n  # the Assert sink raised otherwise
                return con.execute(
                    f"SELECT count(*) FROM {reader}").fetchone()[0]

            def check(rows: int, n=n) -> str | None:
                return None if rows == n else f"{rows} rows out, {n} in"

            def verify(run=run, count=count, check=check) -> str | None:
                return check(count(run()))

            ops.append(Op(name, run, n, check, verify, count))
        return ops


# --------------------------------------------------------------------------
# dataops
# --------------------------------------------------------------------------

# tables each query reads: its logical input rows are theirs
_QUERY_TABLES = {
    "sim_topk": ("embeddings",),
    "sim_hard_negatives_ivf": ("embeddings",),
    "q_bfs_hops": ("lineitem", "orders"),
}


class Dataops:
    """Rounds over `__spark_entry__` queries that call the dataops
    operators, forced by writing every column to the noop sink."""

    # q_bfs_hops keeps getting faster for 20-30 s after the checked
    # pass (2.7 -> 1.8 s per op); 20 s leaves the steep part of it
    # and keeps a run near a minute
    warmup_s = 20.0

    def __init__(self, name: str, queries: list[str], nominal_round_s: float,
                 tpch_sf: float = 0.0, n_vecs: int = 0):
        self.name, self.queries = name, queries
        self.nominal_round_s = nominal_round_s
        self.tpch_sf, self.n_vecs = tpch_sf, n_vecs

    def inputs(self, data_dir: str, seed: int) -> dict:
        return datagen.write(data_dir, seed, tpch_sf=self.tpch_sf,
                             n_vecs=self.n_vecs)

    def ops(self, ctx: Ctx, sizes: dict) -> list[Op]:
        from pyspark.sql import Observation, functions as F

        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        con = _duck(ctx.data_dir)
        ops = []
        for name in self.queries:
            expected: dict[str, int] = {}

            def run(name=name) -> int:
                with ctx.tracer.span("dataops.op", name):
                    obs = Observation()
                    (qs[name](ctx.spark, ctx.data_dir)
                     .observe(obs, F.count(F.lit(1)).alias("n"))
                     .write.format("noop").mode("overwrite").save())
                    return obs.get["n"]

            def check(rows: int, expected=expected) -> str | None:
                want = expected.get("rows")
                if want is not None and rows != want:
                    return f"{rows} rows, DuckDB oracle has {want}"
                return None

            def verify(name=name, expected=expected) -> str | None:
                sdf = qs[name](ctx.spark, ctx.data_dir)
                cols = sdf.columns
                rows = [tuple(r) for r in sdf.collect()]
                want_cols, want_rows = _fetch(con, oracles[name])
                expected["rows"] = len(want_rows)
                return _compare(name, cols, rows, want_cols, len(want_rows),
                                table_digest(want_cols, want_rows))

            rows_in = sum(sizes[t]["rows"] for t in _QUERY_TABLES[name])
            ops.append(Op(name, run, rows_in, check, verify))
        return ops


WORKLOADS = {
    w.name: w for w in [
        EtlFanout(),
        ConfSmallJobs(),
        # Three ops of clearly different cost, so the median op is
        # always the middle one (with four, op_p50_s fell between two
        # of them); the cheapest first, as the cold op.
        Dataops("dataops",
                ["sim_topk", "sim_hard_negatives_ivf", "q_bfs_hops"], 3.2,
                tpch_sf=0.001, n_vecs=500),
    ]
}


class NullTracer:
    """Stands in for the tracer in untraced runs."""

    @staticmethod
    def span(name: str, detail: str = "", root: bool = False):
        return contextlib.nullcontext()
