"""Self-check harness — mirrors the driver's DuckDB-oracle comparison.

For each entry in __spark_entry__.queries(): run the Spark DataFrame
and the oracle SQL at sf0.01, then compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted by stringified values — strict equality, which predicts
whatever hash the driver uses).

Usage: python tools/selfcheck.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

# the checkout this file belongs to, ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))  # 3.0 == 3 regardless of engine float/int typing
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (datetime.datetime,)):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    import duckdb

    import __spark_entry__ as entry
    from seatunnel_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) — {len(s_rows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} != {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} != {sorted(d_cols)}")
        if not problems:
            hs = table_digest(s_cols, s_rows)
            hd = table_digest(d_cols, d_rows)
            if hs != hd:
                problems.append(f"hash {hs} != {hd}")
                # show first differing line for debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("\x1f".join(canon(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"   spark : {a[:220]}")
                        print(f"   duckdb: {b[:220]}")
                        break
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} ({dt:.1f}s)")
        else:
            print(f"OK   {name}: {len(s_rows)} rows ({dt:.1f}s)")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
