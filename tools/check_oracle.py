"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and (where present)
its ``oracle_sql()`` twin on DuckDB over the same parquet tables, comparing
row count, column names, integer column types, and an order-insensitive
canonicalized value multiset. Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

Exits non-zero when a query fails, when a query name is not registered, or
when an absolute ``sf_dir`` is not a directory — a typo never passes by
running nothing.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import traceback

# the checkout this script lives in, not whatever is installed or on cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from rdfcmap_spark.session import build_session
from rdfcmap_spark.sources.tables import TABLES


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            f = float(v)
            return canon(f)
    except Exception:
        pass
    return str(v)


#: Spark integer types (``DataType.simpleString``)
_SPARK_INTS = {"tinyint", "smallint", "int", "bigint"}


def widened_int_columns(spark_schema, duck_cols, duck_types):
    """Columns Spark returns as an integer type but DuckDB as HUGEINT or
    DECIMAL (e.g. an uncast ``sum(BIGINT)``). The value comparison coerces
    such numbers, so without this check the oracle's type would go unseen."""
    spark_t = {f.name: f.dataType.simpleString() for f in spark_schema}
    return [
        f"{c}: spark {spark_t[c]} vs duck {t}"
        for c, t in zip(duck_cols, map(str, duck_types))
        if spark_t.get(c) in _SPARK_INTS and (t == "HUGEINT" or t.startswith("DECIMAL"))
    ]


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1].startswith("/") else "/root/testdata/sf0.01"
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    elif args and args[0].startswith("/"):
        sys.exit(f"check_oracle: sf_dir {args[0]} is not a directory")
    queries = entrymod.queries()
    unknown = [a for a in args if a not in queries]
    if unknown:
        sys.exit(f"check_oracle: unknown query name(s): {' '.join(unknown)}")
    only = set(args)

    spark = build_session(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = df.collect()
            spark_cols = df.columns
            spark_schema = df.schema
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = [c for c in rel.columns]
            duck_types = rel.types
            duck_rows = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: DUCKDB ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        widened = widened_int_columns(spark_schema, duck_cols, duck_types)
        if widened:
            problems.append("types " + "; ".join(widened))
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            ms_s = rows_to_multiset(spark_cols, [tuple(r) for r in spark_rows])
            ms_d = rows_to_multiset(duck_cols, duck_rows)
            if ms_s != ms_d:
                diff_s = [r for r in ms_s if r not in set(map(tuple, ms_d))][:3]
                diff_d = [r for r in ms_d if r not in set(map(tuple, ms_s))][:3]
                problems.append(f"values spark_only={diff_s} duck_only={diff_d}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spark_rows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
