"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB at the given sf dir, then compares row count, column names/types, and
an order-insensitive value hash (columns sorted by name, every value
stringified, rows sorted). Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem documents".split()


def norm_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    # query names are POSITIONAL; tolerate a stray --only (a recurring typo
    # that used to filter everything out silently)
    argv = [a for a in sys.argv[1:] if a != "--only"]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from kgx_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR unknown query name(s): {sorted(unknown)}")
        return 2

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:28s} spark error: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP  {name:28s} rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:28s} duckdb error: {str(e)[:200]}")
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        dt = time.time() - t0
        print(f"{status}  {name:28s} rows={len(srows)}/{len(orows)} cols={'=' if ok_cols else scols + ocols} hash={'=' if ok_hash else sh + '!=' + oh} {dt:.1f}s")
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_cols and ok_count:
                # show a few differing rows for debugging
                sset = {tuple(norm_value(v) for v in r) for r in srows}
                oset = {tuple(norm_value(v) for v in r) for r in orows}
                so = sorted(sset - oset)[:3]
                os_ = sorted(oset - sset)[:3]
                print(f"      spark-only: {so}")
                print(f"      oracle-only: {os_}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
