"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark at the given SF dir, runs the matching
oracle SQL in DuckDB over the same parquet files, and compares:
row count, sorted column names, and an order-insensitive value hash
(rows stringified, per-row joined, multiset-hashed).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from big_data_computing_final_project_spark.catalog import TABLES  # noqa: E402
from big_data_computing_final_project_spark.plans import all_oracles, all_queries  # noqa: E402
from big_data_computing_final_project_spark.session import get_spark  # noqa: E402


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # repr of a double is its shortest round-trip form — equal doubles
        # stringify identically on both engines
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = sorted(
        hashlib.md5("|".join(_canon(r[i]) for i in order).encode()).hexdigest() for r in rows
    )
    return hashlib.md5("\n".join(hashes).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = all_queries(), all_oracles()
    n_pass = n_fail = n_noracle = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]", flush=True)
            n_noracle += 1
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            # HUGEINT columns (un-cast integer SUMs, `//` on window sums)
            # survive fetchall() as exact Python ints but coerce to float64
            # in any pandas-based harness ("2.0" vs "2" -> hash mismatch).
            # The external driver canonicalizes via pandas, so ban them here:
            # every integer aggregate in an oracle must CAST(... AS BIGINT).
            hug = [c for c, t in zip(ddf.columns, ddf.types)
                   if str(t) in ("HUGEINT", "UHUGEINT")]
            if hug:
                print(f"FAIL  {name}: oracle emits HUGEINT cols {hug} "
                      "(cast to BIGINT; pandas harnesses read these as float64)", flush=True)
                n_fail += 1
                continue
            drows = ddf.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}", flush=True)
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh = frame_digest(scols, [tuple(r) for r in srows])
            dh = frame_digest(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show first differing row (canonical form) for debugging
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ss = sorted("|".join(_canon(r[i]) for i in order) for r in srows)
                ds = sorted("|".join(_canon(r[i]) for i in dorder) for r in drows)
                for a, b in zip(ss, ds):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems), flush=True)
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]", flush=True)
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
