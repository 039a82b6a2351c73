"""Local simulation of the driver's correctness gate: run every
__spark_entry__.queries() entry against its oracle_sql() in DuckDB at a
given sf dir and compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified with
float rounding). Usage: python scripts/gate_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

# the repo root on the driver's path and, through PYTHONPATH, on the Python
# workers' (their kernels import igd_spark), from any working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod  # noqa: E402
from igd_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_val(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_val(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cores=8, shuffle_partitions=8, app="gate_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # entries returning persisted frames (dedup family) must not
            # accumulate executor storage across a 275-entry sweep
            sdf.unpersist(blocking=False)
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            fails.append(name)
            continue
        if name not in oq:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oq[name])
            dcols = [c for c in rel.columns]
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            fails.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {scols} vs {dcols}")
        else:
            hs, hd = value_hash(scols, srows), value_hash(dcols, drows)
            if hs != hd:
                problems.append(f"hash {hs} vs {hd}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            fails.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
