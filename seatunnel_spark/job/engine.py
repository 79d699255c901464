"""Job engine: spec -> named-DataFrame DAG -> sinks.

This is the whole "LogicalDag / ExecutionPlan / PhysicalPlan" stack of
the reference (SURVEY.md §3.1: LogicalDagGenerator.java,
ExecutionPlanGenerator.java, PhysicalPlanGenerator.java) collapsed to
~100 lines, because DataFrames ARE a lazy logical DAG and Catalyst +
the Spark scheduler are the execution/physical layers:

  * operator chaining        -> whole-stage codegen (free)
  * shuffle-edge insertion   -> Catalyst exchange planning (free)
  * per-vertex parallelism   -> spark.sql.shuffle.partitions / AQE (free)
  * checkpoint coordination  -> Structured Streaming checkpointLocation

A batch DAG table that two or more sinks consume is persisted before
the first sink writes and released after the last one (also when a
sink raises) when computing it again would re-run a shuffle or a
broadcast (a join, an aggregate, a window, a global sort) or could
give other rows (a nondeterministic plan): the shared upstream is then
read once, and every sink writes the same snapshot of it — the
reference's one-source, N-sinks fan-out. A deterministic
scan/filter/project table is scanned once per sink instead: caching
it measured slower than scanning its columnar files again (sf1
lineitem read by two file sinks, 4 cores, 1g heap: 14.1 s cached vs
9.5 s). Streaming tables and multi-table groups are written as they
are.

Multi-table jobs: a source may return a dict {table_id: DataFrame};
the engine tags each with __table_id and unions by superset schema —
the reference's MultiTableManager.mergeSchema
(seatunnel-translation-spark-common/.../MultiTableManager.java:47-131).
"""

from __future__ import annotations

import logging
import re
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from seatunnel_spark.job.spec import Block, JobSpec
from seatunnel_spark.sources import get_source
from seatunnel_spark.transforms import get_transform
from seatunnel_spark.sinks import get_sink
from seatunnel_spark.types import TABLE_ID_COL

log = logging.getLogger(__name__)

# An operator line of a physical plan's tree string that is an exchange:
# a shuffle, a broadcast, or a reused one.
_EXCHANGE_NODE = re.compile(r"^[\s:+|-]*\w*Exchange\b", re.M)


def _worth_persisting(df: DataFrame) -> bool:
    """Whether sinks that share `df` should read one cached copy of it:
    computing it again would re-run a shuffle or a broadcast, or could
    give other rows."""
    qe = df._jdf.queryExecution()
    return (not qe.analyzed().deterministic()
            or bool(_EXCHANGE_NODE.search(qe.executedPlan().toString())))


def merge_multi_table(tables: dict[str, DataFrame]) -> DataFrame:
    """Union a dict of tables into one routed DataFrame (superset schema)."""
    tagged = [
        df.withColumn(TABLE_ID_COL, F.lit(tid)) for tid, df in tables.items()
    ]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


class JobEngine:
    def __init__(self, spark: SparkSession | None = None):
        from seatunnel_spark.session import get_spark

        self.spark = spark or get_spark()

    # -- planning ---------------------------------------------------------
    def build_tables(self, spec: JobSpec, streaming: bool) -> dict[str, DataFrame]:
        """Resolve the named-table DAG: sources then transforms in declared
        order (the reference topo-sorts LogicalVertices; declaration order
        plus name resolution gives the same result for valid configs)."""
        tables: dict[str, DataFrame] = {}
        self._groups: dict[str, dict[str, DataFrame]] = {}
        self._table_ids: dict[str, str] = {}
        self._source_keys: dict[str, list[str]] = {}
        self._source_ddl: dict[str, dict] = {}
        self._job_sources: list = []
        for blk in spec.sources:
            opts = dict(blk.options)
            if streaming:
                # env-level speed limit (docs/en/concept/speed-limit.md)
                # propagates to each source's per-trigger cap.
                for env_key in ("read_limit.rows_per_second",
                                "read_limit.bytes_per_second"):
                    if env_key in spec.env:
                        opts.setdefault(env_key, spec.env[env_key])
            src = get_source(blk.plugin, opts)
            try:
                tid = src.table_id()
            except Exception:  # noqa: BLE001 — placeholder nicety only
                tid = None
            if tid:
                self._table_ids[blk.output] = tid.split(".")[-1]
            # source-declared primary key (schema { primaryKey {
            # columnNames = [...] } }) — keyed sinks without their own
            # primary-keys option inherit it, like the reference's
            # CatalogTable.primaryKey flowing into SupportSaveMode
            # sinks. tables_configs declare one per table.
            def _pk_of(schema_opt):
                pk = ((schema_opt or {}).get("primaryKey") or {})
                cols = pk.get("columnNames") or []
                return [str(c) for c in cols] or None

            tcs = opts.get("tables_configs")
            if tcs:
                per = {str((tc.get("schema") or {}).get("table")): k
                       for tc in tcs
                       if (k := _pk_of(tc.get("schema")))
                       and (tc.get("schema") or {}).get("table")}
                if per:
                    self._source_keys[blk.output] = per
            elif _pk_of(opts.get("schema")):
                self._source_keys[blk.output] = _pk_of(opts.get("schema"))
            self._job_sources.append(src)
            df = src.read_stream(self.spark) if streaming else src.read(self.spark)
            # keys the source DISCOVERED while reading (live CDC reads
            # the MySQL table's PRIMARY index) — conf-declared keys win
            dk = getattr(src, "discovered_keys", None)
            if dk and blk.output not in self._source_keys:
                self._source_keys[blk.output] = (
                    next(iter(dk.values())) if len(set(
                        map(tuple, dk.values()))) == 1 else dk)
            # schema-change DDL the source decoded mid-stream, for
            # evolution-capable sinks (drop/rename/modify can't be
            # frame-diffed — the reference pipes SchemaChangeEvents)
            sd = getattr(src, "ddl_events", None)
            if sd:
                self._source_ddl[blk.output] = sd
            # env.parallelism (the reference's job-wide setting): bound
            # source partitioning. parallelism=1 additionally preserves
            # changelog ROW ORDER end-to-end — the reference's
            # single-writer semantics that keyed sinks (Redis DEL-after-
            # SET, ES delete-after-upsert) depend on.
            par = spec.env.get("parallelism")
            if par and not streaming:
                if isinstance(df, dict):
                    df = {k: v.coalesce(int(par)) for k, v in df.items()}
                elif not df.isStreaming:
                    df = df.coalesce(int(par))
            if isinstance(df, dict):
                # Multi-table source: remember the per-table group so
                # transforms can run per table (the reference's
                # AbstractMultiCatalogTransform routing).
                self._groups[blk.output] = df
                df = merge_multi_table(df)
            tables[blk.output] = df
            self._register_view(blk.output, df)
        pending = list(spec.transforms)
        progress = True
        while pending and progress:
            progress = False
            for blk in list(pending):
                if all(i in tables for i in blk.inputs):
                    tables[blk.output] = self._apply_transform(blk, tables)
                    self._register_view(blk.output, tables[blk.output])
                    pending.remove(blk)
                    progress = True
        if pending:
            missing = {i for b in pending for i in b.inputs if i not in tables}
            raise ValueError(f"unresolvable transform inputs: {sorted(missing)}")
        return tables

    @staticmethod
    def _register_view(name: str, df: DataFrame) -> None:
        """Make a DAG table visible to Sql transforms by its name
        (`__`-prefixed names are generated, not user-declared)."""
        if not name.startswith("__"):
            df.createOrReplaceTempView(name)

    def _restore_views(self, blk: Block, tables: dict[str, DataFrame],
                       passed: DataFrame | None) -> None:
        """A Sql transform registers the frame it was handed under its
        input's name and the pseudo-tables `dual`/`input`. Where that
        frame is not the DAG table of that name (a per-table group
        frame, a union of several inputs), put the DAG table back."""
        for name in {*blk.inputs[:1], "dual", "input"} & tables.keys():
            if tables[name] is not passed:
                self._register_view(name, tables[name])

    # Transforms that operate ON the table-routing itself: in grouped
    # (multi-table) mode they rewrite the table->DataFrame dict keys.
    _TABLE_LEVEL = {"TableMerge", "TableRename"}

    @staticmethod
    def _table_opts(opts: dict, tid: str) -> dict | None:
        """Per-table effective config (AbstractMultiCatalogTransform.java:
        47-78): a `table_transform` entry keyed by table_path REPLACES the
        base config; otherwise the base config applies when the table id
        matches `table_match_regex` (default .*); otherwise identity."""
        import re

        for e in opts.get("table_transform", []) or []:
            if e.get("table_path") == tid:
                return {k: v for k, v in e.items() if k != "table_path"}
        if re.fullmatch(opts.get("table_match_regex", ".*"), tid):
            return {k: v for k, v in opts.items()
                    if k not in ("table_match_regex", "table_transform")}
        return None

    def _apply_transform(self, blk: Block, tables: dict[str, DataFrame]) -> DataFrame:
        opts = dict(blk.options)
        opts.setdefault("plugin_input", blk.inputs[0] if blk.inputs else None)
        input_name = blk.inputs[0] if blk.inputs else None
        if len(blk.inputs) == 1 and input_name in self._groups:
            group_out: dict[str, DataFrame] = {}
            for tid, tdf in self._groups[input_name].items():
                eff = self._table_opts(opts, tid)
                if blk.plugin == "TableRename":
                    from seatunnel_spark.transforms.basic import convert_table_id

                    new_tid = convert_table_id(tid, eff) if eff else tid
                    group_out[new_tid] = tdf
                elif blk.plugin == "TableMerge":
                    import re

                    target = ".".join(
                        p for p in [opts.get("database"), opts.get("schema"),
                                    opts.get("table")] if p) or tid
                    new_tid = (target if re.search(
                        opts.get("table_match_regex", ".*"), tid) else tid)
                    if new_tid in group_out:  # shards union into one table
                        group_out[new_tid] = group_out[new_tid].unionByName(
                            tdf, allowMissingColumns=True)
                    else:
                        group_out[new_tid] = tdf
                elif eff is None:
                    group_out[tid] = tdf  # IdentityTransform
                else:
                    eff.setdefault("plugin_input", opts.get("plugin_input"))
                    group_out[tid] = get_transform(blk.plugin, eff).apply(tdf)
            self._restore_views(blk, tables, None)
            self._groups[blk.output] = group_out
            return merge_multi_table(group_out)
        t = get_transform(blk.plugin, opts)
        if len(blk.inputs) > 1:
            # N-ary input (TableMerge across separate DAG branches): union first.
            df = merge_multi_table({name: tables[name] for name in blk.inputs})
        else:
            df = tables[blk.inputs[0]]
        out = t.apply(df)
        self._restore_views(blk, tables, df)
        return out

    # -- execution --------------------------------------------------------
    def run(self, spec: JobSpec) -> dict[str, DataFrame]:
        """Execute with `job.retry.times` / `job.retry.interval.seconds`
        (EnvCommonOptions.java:48-58). Deviation from the reference's
        default: Zeta retries 3× unless told otherwise; a library call
        fails fast unless the job opts in — set job.retry.times for the
        Zeta behavior."""
        retries = int(spec.env.get("job.retry.times", 0) or 0)
        interval = float(spec.env.get("job.retry.interval.seconds", 3) or 0)
        attempt = 0
        while True:
            try:
                return self._run_once(spec)
            except Exception:
                attempt += 1
                if attempt > retries:
                    raise
                # a failed streaming attempt may leave sibling queries
                # running; stop them before the re-run
                for q in self.spark.streams.active:
                    q.stop()
                if interval:
                    time.sleep(interval)

    def _sink_inputs(self, spec: JobSpec, blk: Block,
                     tables: dict[str, DataFrame]) -> list[str]:
        """The DAG tables sink `blk` writes: its plugin_input names, or
        the last table built when it names none."""
        names = []
        for name in blk.inputs or [next(reversed(tables))]:
            if name not in tables:
                # a plugin_input naming a table no block declared
                # (read_from_paimon_with_hdfs_ha_to_assert.conf:
                # plugin_input=paimon_source with no matching
                # plugin_output) — the reference's order-based
                # connection only applies to single-source pipelines;
                # in a multi-source job a dangling name is a typo that
                # must not silently rebind to another source's data
                if len(spec.sources) > 1:
                    raise ValueError(
                        f"plugin_input {name!r} matches no declared "
                        f"plugin_output (have: {list(tables)}) in a "
                        "multi-source job")
                name = next(reversed(tables))
            names.append(name)
        return names

    def _shared_upstreams(self, writes: list[tuple[Block, list[str]]],
                          tables: dict[str, DataFrame]) -> list[str]:
        """DAG tables that two or more sink writes read and that are
        worth persisting for them, multi-table groups left out (their
        sinks write the per-table frames)."""
        uses = Counter(name for _, names in writes for name in names)
        return [name for name, n in uses.items()
                if n > 1 and name not in self._groups
                and _worth_persisting(tables[name])]

    def _poll_observation(self, key: str, plugin: str, name: str,
                          obs) -> None:
        """Record a sink's rows_written. Observation.get BLOCKS until
        the SQL-execution event fires, and a sink that ran an RDD-level
        action (or none) never produces one, so the JVM side is polled
        non-blockingly: a mis-declared sink degrades to a missing
        metric and a warning, not a deadlock."""
        try:
            jo = getattr(obs, "_jo", None)
            for _ in range(50):
                if jo is not None and not jo.getOrEmpty().isEmpty():
                    self.metrics[key] = obs.get["rows"]
                    return
                time.sleep(0.1)
            log.warning("sink %s on table %r: no rows_written metric, its "
                        "write ran no observed Spark action", plugin, name)
        except Exception as e:  # noqa: BLE001 — a metric, not the job
            log.warning("sink %s on table %r: rows_written metric "
                        "unavailable: %s", plugin, name, e)

    def _write_sinks(self, spec: JobSpec, writes: list[tuple[Block, list[str]]],
                     tables: dict[str, DataFrame], streaming: bool):
        """Hand each sink its tables; returns the streaming query
        handles and the (metric key, plugin, table, Observation) of
        each observed batch write."""
        handles = []
        observations: list[tuple[str, str, str, object]] = []
        # the n-th sink of one plugin on one table (n > 1) gets its
        # own metric key, Plugin#n.table.rows_written
        ordinal: Counter = Counter()
        for blk, names in writes:
            sink = get_sink(blk.plugin, blk.options)
            for name in names:
                ordinal[blk.plugin, name] += 1
                n = ordinal[blk.plugin, name]
                key = (f"{blk.plugin}{f'#{n}' if n > 1 else ''}."
                       f"{name}.rows_written")
                df = tables[name]
                if not getattr(sink, "WANTS_CHANGELOG_META", False):
                    pos = [c for c in ("__offset", "__event_ts")
                           if c in df.columns]
                    if pos:
                        df = df.drop(*pos)
                # Multi-table jobs: expose the per-table group so sinks
                # (Assert tables_configs, per-table writers) see each
                # table's own clean schema, not the merged superset.
                groups = self._groups.get(name)
                if groups and not getattr(sink, "WANTS_CHANGELOG_META",
                                          False):
                    groups = {
                        k: v.drop(*[c for c in ("__offset", "__event_ts")
                                    if c in v.columns])
                        for k, v in groups.items()}
                sink.table_groups = groups
                # ${table_name} resolves from the source's declared
                # catalog table when it has one, else the DAG name
                # (sink-options-placeholders.md TablePath semantics).
                sink.input_name = self._table_ids.get(name) or name
                sink.source_keys = self._source_keys.get(name)
                sink.source_ddl = self._source_ddl.get(name)
                if streaming and df.isStreaming:
                    ckpt = spec.env.get("checkpoint.dir")
                    handles.append(sink.write_stream(df, checkpoint=ckpt))
                elif not sink.wants_observation():
                    sink.write(df)
                else:
                    # Sink row metrics ride the job itself via the
                    # Observation API — no second scan, no listener
                    # callback server (the reference's metrics surface,
                    # seatunnel-api/.../common/metrics/, in Spark idiom).
                    from pyspark.sql import Observation

                    obs = Observation()
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    sink.write(df)
                    observations.append((key, blk.plugin, name, obs))
        return handles, observations

    def _run_once(self, spec: JobSpec) -> dict[str, DataFrame]:
        streaming = spec.mode == "STREAMING"
        tables = self.build_tables(spec, streaming)
        writes = [(blk, self._sink_inputs(spec, blk, tables))
                  for blk in spec.sinks]
        self.metrics: dict[str, int] = {}
        persisted: list[DataFrame] = []
        try:
            if not streaming:
                for name in self._shared_upstreams(writes, tables):
                    persisted.append(tables[name].persist())
            handles, observations = self._write_sinks(
                spec, writes, tables, streaming)
        finally:
            for df in persisted:
                df.unpersist()
        for key, plugin, name, obs in observations:
            self._poll_observation(key, plugin, name, obs)
        if streaming:
            timeout = spec.env.get("streaming.await.timeout")
            for i, h in enumerate(handles):
                h.awaitTermination(int(timeout) if timeout else None)
                prog = h.lastProgress
                if prog:
                    self.metrics[f"stream{i}.numInputRows"] = sum(
                        s.get("numInputRows", 0) for s in prog.get("sources", [])
                    ) or prog.get("numInputRows", 0)
        # post-job source hooks (e.g. Kafka group-offset commit on
        # checkpoint completion): only after every sink finished
        for src in getattr(self, "_job_sources", []):
            cb = getattr(src, "on_job_complete", None)
            if cb is not None:
                cb()
        return tables


def run_job(cfg: dict | JobSpec, spark: SparkSession | None = None) -> dict[str, DataFrame]:
    spec = cfg if isinstance(cfg, JobSpec) else JobSpec.from_dict(cfg)
    return JobEngine(spark).run(spec)
