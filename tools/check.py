#!/usr/bin/env python3
"""Dev-only harness (NOT part of the library): replicate the driver's
correctness gate locally. Runs DuckDB oracle SQL from Verify's
oracle_sql.json against the same parquet tables and compares with the
Spark results Verify wrote.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [selector]

The optional selector is Verify's: comma-separated full names or exact
qNNs; an entry that picks no query is an error. Each query is checked in
a child process whose resident memory is watched: a replay that runs
away is killed and prints as that query's FAIL line, and the summary
still prints.
"""
import sys, json, glob, math, datetime
import multiprocessing
from decimal import Decimal
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Resident-memory cap of each query's checking process. An address-space
# rlimit does not fit: DuckDB reserves far more than it touches (q288
# reserves over 6 GiB at sf0.001 to peak at 1.5 GiB resident).
REPLAY_RSS_BYTES = 4 << 30


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


def connect(sfdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


def check_one(sfdir, outdir, name, sql):
    """(passed, report line) for one query with oracle SQL."""
    spark_tbl = load_spark(outdir, name)
    if spark_tbl is None:
        return False, f"FAIL {name}: no spark output"
    con = connect(sfdir)
    try:
        duck = con.sql(sql).arrow()
    except Exception as e:
        return False, f"FAIL {name}: oracle error {e}"
    s_cols = sorted(spark_tbl.column_names)
    d_cols = sorted(duck.column_names)
    if s_cols != d_cols:
        return False, f"FAIL {name}: columns spark={s_cols} duck={d_cols}"
    s_rows = [[canon(spark_tbl.column(c)[i].as_py()) for c in s_cols]
              for i in range(spark_tbl.num_rows)]
    d_rows = [[canon(duck.column(c)[i].as_py()) for c in d_cols]
              for i in range(duck.num_rows)]
    if len(s_rows) != len(d_rows):
        return False, f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return False, f"FAIL {name}: row {i} differs\n  spark={a}\n  duck ={b}"
    return True, f"PASS {name} ({len(s_rows)} rows)"


def check_child(conn, sfdir, outdir, name, sql):
    """Child process body: check one query, send (passed, line)."""
    try:
        conn.send(check_one(sfdir, outdir, name, sql))
    except BaseException as e:
        conn.send((False, f"FAIL {name}: check error {e!r}"))


def rss_bytes(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def check_isolated(sfdir, outdir, name, sql):
    """check_one in a child process, killed past REPLAY_RSS_BYTES."""
    recv, send = multiprocessing.Pipe(duplex=False)
    p = multiprocessing.get_context("fork").Process(
        target=check_child, args=(send, sfdir, outdir, name, sql))
    p.start()
    send.close()
    result = None
    while result is None and p.is_alive():
        if recv.poll(0.05):
            result = recv.recv()
        elif rss_bytes(p.pid) > REPLAY_RSS_BYTES:
            p.kill()
            result = (False, f"FAIL {name}: replay killed past "
                             f"{REPLAY_RSS_BYTES >> 20} MiB resident")
    p.join()
    if result is None:
        try:
            result = recv.recv()
        except EOFError:
            result = (False, f"FAIL {name}: replay died (exit code {p.exitcode})")
    return result


def main(sfdir, outdir):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    outputs = [d.rstrip("/").split("/")[-1] for d in sorted(glob.glob(f"{outdir}/*/"))]
    selector = ([e.strip() for e in sys.argv[3].split(",") if e.strip()]
                if len(sys.argv) > 3 else None)

    def picked(name):
        # full name or exact qNN, as Verify's selector (SparkEntry.selector)
        return any(e in (name, name.split("_")[0]) for e in selector)

    if selector:
        known = set(oracle) | set(outputs)
        unmatched = [e for e in selector if not any(
            e in (n, n.split("_")[0]) for n in known)]
        if unmatched:
            print(f"selector entries match no query: {', '.join(unmatched)}")
            return 2
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if selector and not picked(name):
            continue
        ok, line = check_isolated(sfdir, outdir, name, oracle[name])
        print(line, flush=True)
        if ok:
            n_pass += 1
        else:
            n_fail += 1
    # queries without oracle: rows-only
    for name in outputs:
        if name not in oracle:
            tbl = load_spark(outdir, name)
            n = tbl.num_rows if tbl is not None else 0
            print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
