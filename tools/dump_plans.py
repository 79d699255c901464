"""Dump formatted physical plans of declared queries.

    python tools/dump_plans.py [--sf-dir DIR]
    python tools/dump_plans.py --out plans/rNN --tag before|after \\
        [--rounds] [--sf-dir DIR] query [query ...]

Without --out, writes every bench query's plan to PLANS.md — the audit
artifact for the 100 TB design review: each plan should show pushed
filters, pruned ReadSchema, map-side partial aggregation, broadcast
(not sort-merge) joins for dims, and no cartesian products.

With --out, writes <out>/<query>_<tag>.txt per named query: the
before/after evidence files an optimization write-up cites. --rounds
instead writes <out>/<query>_rounds_<tag>.txt with the plan of every
localCheckpoint job the query runs: the iterative graph loops execute
their rounds while the query is built and return a scan of the final
checkpoint, so the plan of the returned frame shows none of them.

The sf directory defaults to $SPARK_GRAFT_SF_DIR, else
/root/testdata/sf0.1. AQE re-plans at runtime, so these are the static
plans Catalyst commits to before adaptive refinement.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# patch the CLASSIC DataFrame (pyspark 4 routes pyspark.sql.DataFrame
# calls through this concrete subclass — patching the abstract base
# captures nothing)
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from seatunnel_spark.session import get_spark  # noqa: E402


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted").rstrip()


def _plans_md(spark, qs, sf_dir: str) -> None:
    import bench

    out = ["# PLANS — formatted physical plans of the bench queries",
           "",
           f"Data: `{sf_dir}`. Generated by `tools/dump_plans.py`; "
           "AQE re-plans at runtime, so these are the static plans "
           "Catalyst commits to before adaptive refinement.",
           ""]
    for name in bench.BENCH_QUERIES:
        out.append(f"## {name}\n\n```\n{_plan(qs[name](spark, sf_dir))}\n```\n")
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(bench.BENCH_QUERIES)} plans)")


def _round_plans(spark, query) -> list[str]:
    """Plans of every localCheckpoint job `query()` runs."""
    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def _spy(self, eager=True, storageLevel=None):
        try:
            captured.append(_plan(self))
        except Exception as ex:  # capture is best effort
            captured.append(f"<explain failed: {ex}>")
        return orig(self, eager, storageLevel)

    DataFrame.localCheckpoint = _spy
    try:
        query()
    finally:
        DataFrame.localCheckpoint = orig
        spark.catalog.clearCache()
    return captured


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", help="directory for per-query plan files")
    p.add_argument("--tag", help="file suffix, e.g. before or after")
    p.add_argument("--rounds", action="store_true",
                   help="dump each localCheckpoint job's plan")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("queries", nargs="*")
    a = p.parse_args()
    if a.out is None and (a.tag or a.rounds or a.queries):
        p.error("--tag, --rounds and query names need --out")
    if a.out is not None and not (a.tag and a.queries):
        p.error("--out needs --tag and at least one query")
    spark = get_spark("dump-plans",
                      {"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if a.out is None:
        _plans_md(spark, qs, a.sf_dir)
        return
    os.makedirs(a.out, exist_ok=True)
    for name in a.queries:
        if a.rounds:
            plans = _round_plans(spark, lambda: qs[name](spark, a.sf_dir))
            path = os.path.join(a.out, f"{name}_rounds_{a.tag}.txt")
            with open(path, "w") as f:
                for i, plan in enumerate(plans):
                    f.write(f"{'=' * 24} checkpoint job {i} {'=' * 24}\n")
                    f.write(plan + "\n")
            print(f"wrote {path} ({len(plans)} checkpoint jobs)")
        else:
            path = os.path.join(a.out, f"{name}_{a.tag}.txt")
            with open(path, "w") as f:
                f.write(_plan(qs[name](spark, a.sf_dir)) + "\n")
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
