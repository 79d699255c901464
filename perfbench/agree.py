"""Run the benchmark over several seeds and check that its end-to-end
metrics are steady enough for their bounds in BENCHMARK.json.

    python3 perfbench/agree.py run OUT.jsonl --workload W --seeds 1-10 [--trace 0]
    python3 perfbench/agree.py check FIRST.jsonl [SECOND.jsonl]

`run` appends one JSON line per run (workload, seed, the run's last
stdout line). `check` prints, per workload and metric, the median, the
quartile spread as a share of the median and the metric's bound; given
two files it also applies stats.agreement to them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def _bench() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(out: str, workload: str, seeds: str, trace: int) -> int:
    bench = _bench()
    for seed in _seeds(seeds):
        cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(trace)]
        t0 = time.time()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        rec = {"workload": workload, "seed": seed, "exit": p.returncode,
               "wall_s": time.time() - t0,
               "result": json.loads(lines[-1]) if p.returncode == 0 else None}
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"{workload} seed {seed}: exit {p.returncode} "
              f"in {rec['wall_s']:.1f} s", flush=True)
    return 0


def _load(path: str) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["result"] is None:
                continue
            m = out.setdefault(rec["workload"], {})
            for k, v in rec["result"]["metrics"].items():
                m.setdefault(k, []).append(v["value"])
    return out


def check(first: str, second: str | None) -> int:
    metrics = _bench()["end_to_end"]
    a = _load(first)
    b = _load(second) if second else None
    bad = 0
    for wl, vals in a.items():
        runs = len(vals[metrics[0]["name"]])
        print(f"{wl} ({runs} runs)")
        if runs < 2:
            continue
        for m in metrics:
            v = vals[m["name"]]
            sp = stats.spread(v)
            flag = "" if sp <= m["bound"] / 3 else (
                "  > bound/3" if sp <= m["bound"] else "  > BOUND")
            print(f"  {m['name']:<12} median {stats.median(v):<12.5g} "
                  f"spread {sp:.3f} bound {m['bound']}{flag}")
        if b is not None and wl in b:
            for p in stats.agreement(vals, b[wl], metrics):
                print(f"  DISAGREE {p}")
                bad += 1
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("check")
    c.add_argument("first")
    c.add_argument("second", nargs="?")
    a = p.parse_args()
    if a.cmd == "run":
        return run(a.out, a.workload, a.seeds, a.trace)
    return check(a.first, a.second)


if __name__ == "__main__":
    sys.exit(main())
