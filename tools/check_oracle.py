"""Local simulator of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, schema (column names), and an
order-insensitive value hash (rows sorted, columns sorted by name, values
stringified). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from opengxt_spark.session import get_spark  # noqa: E402
from opengxt_spark.world import TABLES  # noqa: E402


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:32s} rows={len(srows):7d} (rows-only, no oracle) "
                  f"spark={t_spark:.1f}s")
            records[name] = {
                "rows_match": len(srows) > 0,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(srows),
                "oracle_rows": None,
                "err": None if srows else "zero rows",
            }
            if not srows:
                failures.append((name, "zero rows"))
            continue
        t0 = time.time()
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        t_duck = time.time() - t0
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        sh = table_hash(scols, srows)
        oh = table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK  " if (ok_rows and ok_schema and ok_hash) else "FAIL"
        print(
            f"{name:32s} {status} rows {len(srows)}/{len(orows)} "
            f"schema={'=' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash {sh}/{oh} spark={t_spark:.1f}s duck={t_duck:.1f}s"
        )
        records[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_schema,
            "hash_match": ok_hash,
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            "err": None,
        }
        if status == "FAIL":
            failures.append((name, f"rows {len(srows)}/{len(orows)} hash {sh}/{oh}"))
            if ok_rows and ok_schema and not ok_hash:
                # show a few differing rows for debugging
                sset = {tuple(norm_cell(v) for v in r) for r in srows}
                oset = {tuple(norm_cell(v) for v in r) for r in orows}
                print("  spark-only:", list(sset - oset)[:3])
                print("  duck-only :", list(oset - sset)[:3])
    out = os.environ.get("ORACLE_JSON_OUT")
    if out:
        import json

        with open(out, "w") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {out} ({len(records)} queries)")
        missing = sorted(set(qs) - set(records))
        if not only and missing:
            # a full-run artifact must cover the whole registry
            print("MISSING FROM ARTIFACT:", missing)
            return 1
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
