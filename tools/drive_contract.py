"""Emulate the driver's correctness gate at sf0.01: run every queries()
entry in Spark AND its oracle_sql() in DuckDB, compare row count +
sorted-column value hash."""
from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataproject_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# DuckDB result types that round-trip identically through EVERY fetch
# path (fetchall / arrow / pandas). Anything else — HUGEINT above all —
# can be value-equal under fetchall() yet hash-differently under an
# arrow/pandas fetch (HUGEINT → decimal128 → "83.0" vs Spark's "83"):
# exactly the r10–r12 span_dedup_report/span_dedup_stats red cells,
# which were bit-exact under this mirror's fetchall() for three rounds.
# fetchall() cannot see that class of bug, so the mirror now fails any
# oracle whose DESCRIBE schema leaves this set.
PORTABLE_DUCKDB_TYPES = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",
    "JSON",  # proven green on the driver (energy_timeline_nested)
}


def unportable_cols(con, sql):
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return [(r[0], r[1]) for r in rows if r[1] not in PORTABLE_DUCKDB_TYPES]


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(r[i] for i in order) for r in rows)
    return out


def vhash(rows):
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def main():
    spark = get_spark("drive-contract")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_rows_only = n_fail = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: spark_rows={len(srows)}")
            n_rows_only += 1
            continue
        try:
            bad = unportable_cols(con, oracles[name])
            if bad:
                print(f"FAIL {name}: non-portable oracle result types {bad}")
                n_fail += 1
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        sc = canon(cols, srows)
        oc = canon(ocols, orows)
        rows_match = len(sc) == len(oc)
        schema_match = sorted(cols) == sorted(ocols)
        hash_match = vhash(sc) == vhash(oc)
        if rows_match and schema_match and hash_match:
            n_pass += 1
        else:
            n_fail += 1
            print(
                f"FAIL {name}: rows {len(sc)} vs {len(oc)}, "
                f"schema_match={schema_match}, hash_match={hash_match}"
            )
            if rows_match and schema_match:
                for a, b in zip(sc, oc):
                    if repr(a) != repr(b):
                        print(f"  first diff: spark={a!r} oracle={b!r}")
                        break
    print(f"\npass={n_pass} rows_only={n_rows_only} fail={n_fail} total={len(qs)}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
