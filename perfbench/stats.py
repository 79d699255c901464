"""The benchmark's arithmetic, kept free of Spark so it can be tested
on its own: summaries of op times, failure accounting, span self
time and the check that two sets of runs agree."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of `values` that
    still has TAIL_BEYOND samples above it. With n samples that is the
    (n - TAIL_BEYOND)-th smallest, at percentile 100 * (n - 10) / n.
    Fewer than TAIL_BEYOND + 1 samples have no such percentile; the
    maximum is returned at percentile 100 and the caller prints n."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_BEYOND
    if k < 1:
        return s[-1], 100.0, n
    return s[k - 1], 100.0 * k / n, n


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


@dataclass
class Failures:
    """Counts attempted and failed ops. An exception and a wrong output
    both count as a failure; each is kept with its op and reason."""

    attempted: int = 0
    failed: int = 0
    reasons: list[tuple[str, str]] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, op: str, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.append((op, reason))

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its children cover. Spans are dicts with `id`,
    `parent` (None at the root), `start` and `end`; a child's optional
    `opened`/`closed` widen what it covers to include the tracer's own
    bookkeeping around it, which is then charged to no layer."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.get("opened", c["start"]), s["start"]),
                      min(c.get("closed", c["end"]), s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def agreement(first: dict[str, list[float]], second: dict[str, list[float]],
              metrics: list[dict]) -> list[str]:
    """Check two sets of runs of one workload the way the benchmark's
    bounds are meant: each metric's quartile spread within its bound in
    both sets (set-up time excepted: a run launches one JVM, so it has
    one sample), and the second median no worse than the first by more
    than the bound. `first`/`second` map metric name to its per-run
    values; `metrics` are BENCHMARK.json's end_to_end entries. Returns
    one line per violation."""
    problems = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        if name != "setup_s":
            for label, vals in (("first", a), ("second", b)):
                sp = spread(vals)
                if sp > bound:
                    problems.append(f"{name}: {label} spread {sp:.3f} > "
                                    f"bound {bound}")
        ma, mb = median(a), median(b)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        if worse > bound:
            problems.append(f"{name}: second median {mb:.4g} worse than "
                            f"first {ma:.4g} by {worse:.3f} > {bound}")
    return problems
