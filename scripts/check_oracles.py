"""Replicates the driver's correctness gate locally: runs every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compares row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [name ...]

Each ``ok`` line carries the Spark side's ``value_hash`` and
``row_order_hash``: run it in two checkouts and ``diff`` the output to
check that a change leaves every entry's rows and row order as they were.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fluent_plugin_elasticsearch_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def row_order_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-SENSITIVE hash (rows in output order, columns sorted by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("|".join(_norm(r[i]) for i in order).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def _norm(v) -> str:
    if hasattr(v, "tolist"):  # numpy scalar OR array from pandas itertuples
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_norm(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar from pandas itertuples
        v = v.item()
    if v is None or v != v:  # None or NaN
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark(app_name="check_oracles", cores=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle — rows-only check) "
                  f"value_hash={value_hash(srows, scols)} "
                  f"row_order_hash={row_order_hash(srows, scols)}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if not problems:
            # order-insensitive hash AND order-sensitive hash: the driver's
            # compare is row-order-sensitive, and it fetches DuckDB results
            # through pandas (where e.g. sum()'s HUGEINT becomes float64) —
            # fetching via .df() above reproduces that representation.
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"value hash {sh} vs {oh}")
            # row-order hash is informational only: driver-r01 evidence
            # (upsert_merge/rollup_counts green with no ORDER BY) shows the
            # driver hash is order-insensitive; the pandas fetch above is
            # what actually matters (HUGEINT→float64 reprs).
            sh2, oh2 = row_order_hash(srows, scols), row_order_hash(orows, ocols)
            if sh2 != oh2:
                print(f"note  {name}: row order differs between engines (driver hash is order-insensitive; ok)")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            if srows and orows:
                print(f"      spark[0]={srows[0]}  oracle[0]={orows[0]}")
            failures += 1
        else:
            print(f"ok    {name}: rows={len(srows)} value_hash={sh} "
                  f"row_order_hash={sh2}")
    spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
