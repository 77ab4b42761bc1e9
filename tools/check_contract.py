"""Driver-contract self-check: runs every queries() entry at a given sf and
compares it against its oracle_sql() via DuckDB the same way the driver does
(row count + sorted-column-name order-insensitive value hash).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from scientific_papers_ocr_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.md5()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    if isinstance(v, bool):
        return int(v)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(app_name="contract-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            if not srows:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            # Type sweep first: DuckDB HUGEINT/UHUGEINT/DECIMAL outputs survive
            # .fetchall() as Python ints (so this tool alone would pass) but
            # degrade to float64/decimal128 through the driver's pandas/Arrow
            # fetch path and hash-mismatch Spark's int64 — the exact failure
            # that kept `sessionize` red for three rounds.  Fail loudly here so
            # no new oracle reintroduces the class.
            bad_types = [
                (c, t)
                for c, t, *_ in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
                if any(x in t.upper() for x in ("HUGEINT", "DECIMAL"))
            ]
            if bad_types:
                print(
                    f"FAIL  {name}: oracle emits driver-unsafe types "
                    f"{bad_types} — CAST to BIGINT/DOUBLE in the SQL"
                )
                failures += 1
                continue
            ddf = con.execute(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = [tuple(r) for r in ddf.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_hash = ok_schema and value_hash(srows, scols) == value_hash(drows, dcols)
        status = "OK  " if (ok_count and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status}  {name}: rows {len(srows)}/{len(drows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} [{time.time()-t0:.1f}s]"
        )
        if not ok_hash and ok_schema and srows and drows:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_set = sorted(tuple(_norm(r[i]) for i in order) for r in srows)
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            d_set = sorted(tuple(_norm(r[i]) for i in dorder) for r in drows)
            for a, b in zip(s_set[:2000], d_set[:2000]):
                if a != b:
                    print(f"      first diff:\n      spark : {a}\n      duckdb: {b}")
                    break
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
