"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` in DuckDB at sf0.01,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [names...]
       [--json OUT.json]   # also write a driver-format correctness artifact
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too (the extraction and
# parser UDFs): put this checkout first on their path as well
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from __spark_entry__ import oracle_sql, queries  # noqa: E402

from shacl_validator_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "events", "documents"]


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = queries()
    oracles = oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": f"{type(e).__name__}: {e}"}
            continue
        if name not in oracles:
            print(f"okro {name}: rows-only ({len(srows)} rows)")
            records[name] = {"rows_only": True, "spark_rows": len(srows), "err": None}
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": f"duckdb: {e}"}
            continue
        scols_l = [c.lower() for c in scols]
        rec = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols_l) == sorted(dcols),
            "hash_match": False,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        records[name] = rec
        if sorted(scols_l) != sorted(dcols):
            failures.append((name, f"schema {scols_l} vs {dcols}"))
            print(f"FAIL {name}: schema {scols_l} vs {dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rows {len(srows)} vs {len(drows)}"))
            print(f"FAIL {name}: rows {len(srows)} vs {len(drows)}")
            continue
        sh = table_hash(srows, scols_l)
        dh = table_hash(drows, dcols)
        if sh != dh:
            failures.append((name, "value hash mismatch"))
            print(f"FAIL {name}: value hash mismatch ({len(srows)} rows)")
            # show a small diff
            order_s = sorted(range(len(scols_l)), key=lambda i: scols_l[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s_set = {"|".join(norm_cell(r[i]) for i in order_s) for r in srows}
            d_set = {"|".join(norm_cell(r[i]) for i in order_d) for r in drows}
            print("  cols:", [scols_l[i] for i in order_s])
            print("  only-spark:", sorted(s_set - d_set)[:3])
            print("  only-duck :", sorted(d_set - s_set)[:3])
        else:
            rec["hash_match"] = True
            print(f"OK   {name}: {len(srows)} rows hash={sh}")
    print(f"\n{len(failures)} failures")
    for n, msg in failures:
        print(" -", n, msg)
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {json_out} ({len(records)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
