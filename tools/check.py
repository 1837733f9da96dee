#!/usr/bin/env python3
"""Dev-only harness (NOT part of the library): replicate the driver's
correctness gate locally. Runs DuckDB oracle SQL from Verify's
oracle_sql.json against the same parquet tables and compares with the
Spark results Verify wrote.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math, datetime
from decimal import Decimal
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_spark(outdir, name):
    # Read EVERY part file — Verify coalesces to 1 today, but a future
    # multi-part write must not silently compare a subset.
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def canon(v):
    """Type-SENSITIVE canonical form, mirroring the driver's hash: the
    driver distinguishes Decimal('243') from 243 and -0.0 from 0.0,
    so Python == is not enough (Decimal(243) == 243 is True)."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return ("float", "-0.0")
        return ("float", repr(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    # Spark writes ns timestamps (pandas.Timestamp), DuckDB returns us
    # (datetime) — the driver's hash treats them as equal values (q30 is
    # green there), so normalize both to one form. Timestamp subclasses
    # datetime, so this catches both; check datetime before date.
    if isinstance(v, datetime.datetime):
        return ("ts", v.to_pydatetime().isoformat()
                if hasattr(v, "to_pydatetime") else v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, canon(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    prefixes = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    n_pass = n_fail = 0
    for name in sorted(oracle):
        # full name or exact qNN, as Verify's selector (SparkEntry.selects)
        if prefixes and not any(p in (name, name.split("_")[0]) for p in prefixes):
            continue
        sql = oracle[name]
        spark_tbl = load_spark(outdir, name)
        if spark_tbl is None:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            duck = con.sql(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        s_cols = sorted(spark_tbl.column_names)
        d_cols = sorted(duck.column_names)
        if s_cols != d_cols:
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            n_fail += 1
            continue
        s_rows = [[canon(spark_tbl.column(c)[i].as_py()) for c in s_cols]
                  for i in range(spark_tbl.num_rows)]
        d_rows = [[canon(duck.column(c)[i].as_py()) for c in d_cols]
                  for i in range(duck.num_rows)]
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            i, a, b = bad
            print(f"FAIL {name}: row {i} differs\n  spark={a}\n  duck ={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
            n_pass += 1
    # queries without oracle: rows-only
    for d in sorted(glob.glob(f"{outdir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name not in oracle:
            tbl = load_spark(outdir, name)
            n = tbl.num_rows if tbl is not None else 0
            print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
