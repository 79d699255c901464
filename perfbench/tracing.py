"""Spans for the traced run.

A span is recorded around each call into a layer of the program (the
public entry points of seatunnel_spark.session, .job, .sources,
.transforms and .sinks, and the __spark_entry__ queries that call
.dataops). Spans stay in memory and are written out when the run ends.

Spark jobs are attributed to the innermost open span through the job
group local property. At each span's end the listener bus is drained
and the status store is read for that span's jobs, so the 1000-stage
retention of the store only has to cover one span.
"""

from __future__ import annotations

import contextlib
import os
import time

import procfs

SPARK_KEYS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
              "input_records", "output_records", "output_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self._counted_stages: set[int] = set()
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def _group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, detail: str = "", root: bool = False):
        opened = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "detail": detail, "op": self.op_id,
               "opened": opened}
        self.spans.append(rec)
        self.stack.append(sid)
        self._group(sid)
        if root:
            rec["pyworker_cpu0"] = procfs.pyworker_cpu_s(os.getpid())
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._bus.waitUntilEmpty(30_000)
            rec["spark"] = self._spark_of(f"perfbench-{sid}")
            if root:
                rec["pyworker_cpu_s"] = (procfs.pyworker_cpu_s(os.getpid())
                                         - rec.pop("pyworker_cpu0"))
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)
            rec["closed"] = time.perf_counter()

    def _spark_of(self, group: str) -> dict:
        """Status-store totals of the jobs that ran in `group`."""
        out = dict.fromkeys(SPARK_KEYS, 0)
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in self._counted_stages:
                    continue
                try:
                    s = self._store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted or never run
                    continue
                done = s.numCompleteTasks()
                if done == 0:
                    continue  # skipped: its output was reused
                self._counted_stages.add(stage_id)
                out["stages"] += 1
                out["tasks"] += done
                out["exec_run_s"] += s.executorRunTime() / 1e3
                out["exec_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_records"] += s.inputRecords()
                out["output_records"] += s.outputRecords()
                out["output_bytes"] += s.outputBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += (s.memoryBytesSpilled()
                                       + s.diskBytesSpilled())
        return out

    # -- wrapping the program's entry points ------------------------------

    def _wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped

    def install(self) -> None:
        """Wrap the job layer's entry points and the plugin factories
        the engine calls, so every Source.read, Transform.apply and
        Sink.write runs inside a span."""
        from seatunnel_spark.job import engine, spec

        self._saved = [
            (spec.JobSpec, "from_hocon", spec.JobSpec.__dict__["from_hocon"]),
            (engine.JobEngine, "build_tables", engine.JobEngine.build_tables),
            (engine.JobEngine, "run", engine.JobEngine.run),
            (engine, "get_source", engine.get_source),
            (engine, "get_transform", engine.get_transform),
            (engine, "get_sink", engine.get_sink),
        ]
        spec.JobSpec.from_hocon = classmethod(self._wrap(
            "job.parse", spec.JobSpec.__dict__["from_hocon"].__func__))
        engine.JobEngine.build_tables = self._wrap(
            "job.plan", engine.JobEngine.build_tables)
        engine.JobEngine.run = self._wrap("job.run", engine.JobEngine.run)

        def plugin_factory(layer, method, factory):
            def make(plugin, options):
                inst = factory(plugin, options)
                orig = getattr(inst, method)
                path = options.get("path")
                detail = f"{plugin}:{path}" if path else plugin

                def call(*args, **kwargs):
                    with self.span(f"{layer}.{method}", detail) as rec:
                        out = orig(*args, **kwargs)
                    if layer == "sinks" and path:
                        rec["files"] = files_under(path)
                    return out

                setattr(inst, method, call)
                return inst
            return make

        engine.get_source = plugin_factory("sources", "read", engine.get_source)
        engine.get_transform = plugin_factory("transforms", "apply",
                                              engine.get_transform)
        engine.get_sink = plugin_factory("sinks", "write", engine.get_sink)

    def uninstall(self) -> None:
        for owner, attr, value in self._saved:
            setattr(owner, attr, value)


def files_under(path: str) -> int:
    """Data files a file sink left under `path` (not _SUCCESS/.crc)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n
