"""Local replica of the driver's correctness gate: run every catalog
query on Spark AND its DuckDB oracle at sf0.01, compare row count,
column names, and order-insensitive values tagged with their column's
type (see ``norm_cell``).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Runs ``local[N]`` with N from ``SPARK_GRAFT_CPUS``, else the cores this
process may use. Spark's console progress bar is off, so every gate's
result line survives line-based filters, and the run ends with a
per-gate summary table (gate, status, rows, seconds).
"""

from __future__ import annotations

import os
import sys
import time
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cartography_spark.queries import ORACLES, QUERIES
from cartography_spark.session import get_spark

TABLES = ("region nation customer supplier part orders lineitem events documents embeddings").split()


# Cells are compared as (kind, is_null, text). The kind comes from the
# column's declared type on each engine, so an int never equals a float,
# a Decimal/HUGEINT, or a bool. An array column raises instead: the
# correctness gate's canonical sort cannot hash an array cell.
_DUCK_KINDS = {
    "BOOLEAN": "bool", "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str",
    "DATE": "date", "BLOB": "bytes", "HUGEINT": "decimal", "UHUGEINT": "decimal",
    **dict.fromkeys(("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                     "USMALLINT", "UINTEGER", "UBIGINT"), "int"),
    **dict.fromkeys(("TIMESTAMP", "TIMESTAMP WITH TIME ZONE"), "ts"),
}


def spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return "decimal"
    for kind, types in (
        ("bool", T.BooleanType), ("int", T.IntegralType), ("float", T.FractionalType),
        ("str", T.StringType), ("ts", (T.TimestampType, T.TimestampNTZType)),
        ("date", T.DateType), ("bytes", T.BinaryType), ("array", T.ArrayType),
    ):
        if isinstance(dt, types):
            return kind
    raise TypeError(f"no comparison kind for Spark type {dt.simpleString()}")


def duck_kind(t) -> str:
    name = str(t)
    if name.endswith("]"):
        return "array"
    if name.startswith("DECIMAL"):
        return "decimal"
    if name not in _DUCK_KINDS:
        raise TypeError(f"no comparison kind for DuckDB type {name}")
    return _DUCK_KINDS[name]


def norm_cell(v, kind: str) -> tuple[str, bool, str]:
    if kind == "array":
        raise TypeError("unhashable array cell: serialize it to a string")
    if v is None:
        return (kind, True, "")
    if kind == "float":
        # The correctness gate's float rule is not in this repo, so floats
        # keep the lenient %.6g rendering; only the kind is strict.
        return (kind, False, f"{v:.6g}")
    if kind == "decimal":
        return (kind, False, format(Decimal(v).normalize(), "f"))
    if kind == "bytes":
        return (kind, False, bytes(v).hex())
    return (kind, False, str(v))


def norm_rows(cols, kinds, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i], kinds[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="oracle-check",
        cores=cores,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # Page-count-keyed gates: ORACLES serves their driver-scale
    # (500-page) twins; rebuild them at THIS run's page count so the local
    # gate stays valid at any sf_dir instead of spuriously failing above
    # sf0.01.
    from cartography_spark.queries.catalog import _pages_n
    from cartography_spark.queries.oracles import SF_KEYED_ORACLES

    n_pages = _pages_n(sf_dir)
    oracles = {**ORACLES, **{g: build(n_pages) for g, build in SF_KEYED_ORACLES.items()}}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    summary = []  # (gate, status, rows, seconds)
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_kinds = [spark_kind(f.dataType) for f in sdf.schema.fields]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            summary.append((name, "FAIL", "-", time.time() - t0))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            summary.append((name, "ROWS", len(s_rows), time.time() - t0))
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(sql)
            d_cols = [c for c in rel.columns]
            d_kinds = [duck_kind(t) for t in rel.types]
            d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            summary.append((name, "FAIL", len(s_rows), time.time() - t0))
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0]}")
            continue
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            print(f"FAIL  {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            ok = False
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
        else:
            try:
                a = norm_rows(s_cols, s_kinds, s_rows)
                b = norm_rows(d_cols, d_kinds, d_rows)
            except TypeError as e:
                ok = False
                print(f"FAIL  {name}: {e}")
            else:
                if a != b:
                    ok = False
                    diff_a = [r for r in a if r not in set(map(tuple, b))][:3]
                    diff_b = [r for r in b if r not in set(map(tuple, a))][:3]
                    print(f"FAIL  {name}: value mismatch; "
                          f"spark-only={diff_a} duck-only={diff_b}")
        summary.append((name, "OK" if ok else "FAIL", len(s_rows), time.time() - t0))
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
    width = max([len(g) for g, *_ in summary] + [4])
    print(f"\n{'gate':<{width}}  status  {'rows':>8}  {'seconds':>8}")
    for gate, status, rows, secs in summary:
        print(f"{gate:<{width}}  {status:<6}  {rows:>8}  {secs:>8.1f}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
