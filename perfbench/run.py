"""seatunnel-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives the program through
its public API at local[nproc], one op in flight (a closed loop with a
single client). The run:

  1. times set-up: process start until get_spark() returns (setup_s);
  2. writes the workload's inputs from --seed;
  3. times the workload's first op in the fresh session (cold_op_s);
  4. warm-up: every op once with its full output checked against
     DuckDB, then whole rounds for the workload's warm-up time (not
     timed);
  5. times whole rounds over the op set, as many as fill --seconds at
     the workload's nominal round time, checking every op's row count.

With --trace 0 the last stdout line carries the end-to-end metrics.
With --trace 1 the run measures an untraced window, then a traced one
of the same length with spans around every layer call, then one round
at local[1]; the last line carries the per-layer metrics. Everything a
run measured is also written to .bench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import layers
import procfs
import stats
import tracing

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "1g"
REQUIRED = ("seatunnel_spark/__init__.py", "__spark_entry__.py",
            "tools/selfcheck.py")


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment(work: str) -> None:
    """Point every process of the run at the checkout: the package on
    PYTHONPATH for the whole tree (Python workers import it), and
    Spark's and Python's scratch space inside the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def _spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _git_commit() -> str | None:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _source_digest() -> str:
    """sha256 over the program's Python sources: the checkout is not
    always a git repository, so this identifies the code measured."""
    import hashlib

    h = hashlib.sha256()
    files = ["__spark_entry__.py"]
    for d, _, fs in os.walk(os.path.join(ROOT, "seatunnel_spark")):
        files += [os.path.relpath(os.path.join(d, f), ROOT)
                  for f in fs if f.endswith(".py")]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _why(e: Exception) -> str:
    first = str(e).splitlines()[0][:300] if str(e) else ""
    return f"{type(e).__name__}: {first}"


class Runner:
    def __init__(self, spark, ctx, failures):
        self.spark, self.ctx, self.failures = spark, ctx, failures
        self.records: list[dict] = []

    def timed(self, op) -> dict:
        """Run one op inside cache_scope, timing only the op; release
        its caches afterwards, outside the timed window."""
        from seatunnel_spark.dataops import cache_scope

        rec = {"name": op.name, "rows_in": op.rows_in, "ok": False}
        tr = self.ctx.tracer
        tr.op_id = len(self.records)
        t0 = time.perf_counter()
        try:
            with cache_scope():
                with tr.span("op", op.name, root=True) as span:
                    t0 = time.perf_counter()
                    result = op.run()
                    rec["wall_s"] = time.perf_counter() - t0
                if span is not None:
                    rec["span"] = span["id"]
            rec["persisted_rdds_after"] = (
                self.spark.sparkContext._jsc.sc().getPersistentRDDs().size())
            rec["rows"] = op.count(result)
            bad = op.check(rec["rows"])
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            bad = _why(e)
            rec.setdefault("wall_s", time.perf_counter() - t0)  # until it failed
        finally:
            self.spark.catalog.clearCache()
        if bad:
            self.failures.fail(op.name, bad)
        else:
            self.failures.ok()
            rec["ok"] = True
        self.records.append(rec)
        return rec

    def verify_pass(self, ops) -> None:
        from seatunnel_spark.dataops import cache_scope

        for op in ops:
            try:
                with cache_scope():
                    bad = op.verify()
            except Exception as e:  # noqa: BLE001 — counted, the run goes on
                bad = _why(e)
            finally:
                self.spark.catalog.clearCache()
            if bad:
                self.failures.fail(op.name, f"verify: {bad}")
            else:
                self.failures.ok()

    def rounds(self, ops, n: int) -> list[list[dict]]:
        return [[self.timed(op) for op in ops] for _ in range(n)]


def _summary(rounds: list[list[dict]]) -> dict:
    good = [r for rnd in rounds for r in rnd if r["ok"]]
    times = [r["wall_s"] for r in good]
    tail_v, tail_p, n = stats.tail(times)
    return {
        "round_s": stats.median([sum(r["wall_s"] for r in rnd)
                                 for rnd in rounds]),
        "rounds": len(rounds),
        "op_p50_s": stats.median(times),
        "op_tail_s": tail_v, "tail_pct": tail_p, "ops": n,
        "rows_per_s": sum(r["rows_in"] for r in good) / sum(times),
        "rows_in": sum(r["rows_in"] for r in good),
    }


def _stop() -> None:
    """Stop Spark and wait for the JVM and every Python worker."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while (left := procfs.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while procfs.descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    args = _args()
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work)

    load_start = os.getloadavg()
    steal_start = procfs.steal_s()
    from seatunnel_spark.session import get_spark

    t_get = time.perf_counter()
    spark = get_spark("perfbench", _spark_conf(work))
    get_spark_s = time.perf_counter() - t_get
    setup_s = procfs.process_age_s()
    try:
        return _measure(args, spark, work, setup_s, get_spark_s,
                        (load_start, steal_start))
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spark, work, setup_s, get_spark_s, start) -> int:
    from workloads import WORKLOADS, Ctx, NullTracer

    spark.sparkContext.setLogLevel("ERROR")
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir, exist_ok=True)
    phases = {"setup": setup_s}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    sizes = wl.inputs(data_dir, args.seed)
    failures = stats.Failures()
    ctx = Ctx(spark, data_dir, os.path.join(work, "out"), args.seed,
              NullTracer(), set())
    ops = wl.ops(ctx, sizes)
    runner = Runner(spark, ctx, failures)

    phase("inputs")
    cold = runner.timed(ops[0])
    phase("cold_op")
    runner.verify_pass(ops)
    phase("verify")
    # Untimed rounds after the checked pass: the JVM keeps speeding the
    # rounds up for 10-25 s after it (etl_fanout 1.45 -> 1.0 s, dataops
    # 4.7 -> 3.3 s, conf_small_jobs 2.3 -> 1.9 s per round on a 4-core
    # host); timing that slope made runs of the same code disagree.
    runner.rounds(ops, max(1, round(wl.warmup_s / wl.nominal_round_s)))
    phase("warm_up")

    rss = procfs.RssSampler(os.getpid()).start()
    # A fixed number of rounds (at least two), sized from --seconds and
    # the workload's warm round time on a 4-core host: every run with the
    # same settings times the same ops, so the tail is the same rank.
    n_rounds = max(2, round(args.seconds / wl.nominal_round_s))
    untraced = runner.rounds(ops, n_rounds)
    peak_rss = rss.stop()
    summ = _summary(untraced)
    phase("measure")

    sc = spark.sparkContext
    meta = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": _git_commit(), "source_sha256": _source_digest(),
        "nproc": os.cpu_count(),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": __import__("pyspark").__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "inputs": sizes,
        "input_rows": sum(t["rows"] for t in sizes.values()),
        "input_bytes": sum(t["bytes"] for t in sizes.values()),
        "load_start": list(start[0]),
        "timed_rounds": n_rounds,
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_op_s": (cold["wall_s"], "s"),
        "round_s": (summ["round_s"], "s"),
        "op_p50_s": (summ["op_p50_s"], "s"),
        "op_tail_s": (summ["op_tail_s"], "s"),
        "rows_per_s": (summ["rows_per_s"], "rows/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "failed_ratio": (failures.ratio, "ratio"),
    }
    per_layer = {}
    if args.trace:
        per_layer, trace_out, spans = _traced(n_rounds, spark, runner, ops,
                                              ctx, summ, get_spark_s, work)
        phase("trace")
    meta["load_end"] = list(os.getloadavg())
    meta["steal_s"] = procfs.steal_s() - start[1]
    meta["phases_s"] = phases

    print(f"perfbench {args.workload} seed={args.seed} "
          f"nproc={meta['nproc']} defaultParallelism="
          f"{meta['default_parallelism']} shuffle.partitions="
          f"{meta['shuffle_partitions']} driver.memory={meta['driver_memory']} "
          f"pyspark={meta['pyspark']} java={meta['java']} "
          f"commit={meta['git_commit']} source={meta['source_sha256']} "
          f"load={meta['load_start'][0]:.2f}->{meta['load_end'][0]:.2f} "
          f"steal={meta['steal_s']:.1f}s")
    print(f"  inputs: {meta['input_rows']} rows, {meta['input_bytes']} bytes "
          f"{json.dumps(sizes)}")
    for name, (v, unit) in e2e.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{summ['tail_pct']:.1f} of {summ['ops']} ops)"
        elif name == "round_s":
            note = f"  (median of {summ['rounds']} rounds)"
        elif name == "rows_per_s":
            note = f"  ({summ['rows_in']} input rows over {summ['ops']} ops)"
        print(f"  {name:<14} {_fmt(v):>12} {unit}{note}")
    by_name: dict[str, list[dict]] = {}
    for r in (r for rnd in untraced for r in rnd if r["ok"]):
        by_name.setdefault(r["name"], []).append(r)
    for name, rs in by_name.items():
        print(f"  op {name:<24} median {_fmt(stats.median([r['wall_s'] for r in rs]))} s"
              f" over {len(rs)}, {rs[0]['rows']} rows out")
    print("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    for op, why in failures.reasons:
        print(f"  FAILED {op}: {why}")
    for d in sorted(ctx.defects):
        print(f"  program defect: {d}")
    if args.trace:
        for line in trace_out:
            print(line)

    results = os.path.join(os.path.dirname(work), "results")
    os.makedirs(results, exist_ok=True)
    artifact = {"meta": meta,
                "end_to_end": {k: {"value": v, "unit": u}
                               for k, (v, u) in e2e.items()},
                "summary": summ, "failures": failures.reasons,
                "defects": sorted(ctx.defects),
                "ops": runner.records}
    if args.trace:
        artifact["per_layer"] = per_layer
        artifact["spans"] = spans
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    if args.trace:
        metrics = {k: {"value": v, "unit": layers.LAYER_METRICS[k][0]}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k != "failed_ratio"}
    print(json.dumps({"correct": failures.failed == 0,
                      "attempted": failures.attempted,
                      "failed": failures.failed, "metrics": metrics}))
    return 0


def _traced(n_rounds, spark, runner, ops, ctx, summ, get_spark_s, work):
    """Traced window, then one round at local[1]. Returns the per-layer
    metrics, the lines that print them and the spans."""
    from seatunnel_spark.session import get_spark

    tracer = tracing.Tracer(spark)
    ctx.tracer = tracer
    tracer.install()
    first = len(runner.records)
    try:
        traced = runner.rounds(ops, n_rounds)
    finally:
        tracer.uninstall()
    t_summ = _summary(traced)
    traced_ops = [r for r in runner.records[first:] if r["ok"] and "span" in r]
    cores = spark.sparkContext.defaultParallelism
    m, self_time = layers.compute(tracer.spans, traced_ops, cores)
    m["session.get_spark_s"] = get_spark_s
    m["tracing_overhead_s"] = t_summ["round_s"] - summ["round_s"]

    # one round at local[1], in the same (warm) JVM
    from workloads import NullTracer

    ctx.tracer = NullTracer()
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark1 = get_spark("perfbench-1core", _spark_conf(work))
    spark1.sparkContext.setLogLevel("ERROR")
    ctx.spark = runner.spark = spark1
    one = runner.rounds(ops, 1)
    m["speedup_vs_1core"] = (sum(r["wall_s"] for r in one[0])
                             / summ["round_s"])

    out = [f"  traced: {len(traced_ops)} ops in {len(traced)} rounds; "
           f"round_s traced {_fmt(t_summ['round_s'])} s vs untraced "
           f"{_fmt(summ['round_s'])} s"]
    out.append(f"  {'per-layer metric (per op)':<30} {'value':>12} "
               f"{'unit':<6} moves / on workload (bypassed by)")
    for name, (unit, _, moves, where) in layers.LAYER_METRICS.items():
        out.append(f"  {name:<30} {_fmt(m[name]):>12} {unit:<6} "
                   f"{moves} / {where}")
    out.append("  self time per op by layer: " + ", ".join(
        f"{k} {_fmt(v)} s" for k, v in self_time.items()))
    for name, row in layers.per_op_name(tracer.spans, traced_ops).items():
        out.append(f"  op {name:<24} {_fmt(row['wall_s'])} s, "
                   f"{_fmt(row['jobs'])} Spark jobs")
    ordered = {k: m[k] for k in layers.LAYER_METRICS}
    return ordered, out, tracer.spans


if __name__ == "__main__":
    sys.exit(main())
