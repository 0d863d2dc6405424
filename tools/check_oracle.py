#!/usr/bin/env python3
"""Local differential check: Spark (Verify output) vs DuckDB oracle.

Mimics the driver's harness: registers each corpus table as a DuckDB
view over the sf parquet, runs every oracle_sql.json entry, and compares
against the Spark parquet result — columns sorted by name, rows sorted,
values stringified. Usage: check_oracle.py <sfDir> <verifyOutDir>

Each oracle runs in its own short-lived forked process with its own
DuckDB connection, so the memory one oracle's query held is returned to
the system when it ends: the differential's peak is that of the largest
single oracle, not the sum of what earlier oracles left resident.

TYPE FIDELITY (round-11 hardening): the Spark side is read NATIVELY with
pyarrow and the oracle side is fetched as an Arrow table — decimals stay
decimal128 end-to-end and are stringified as exact digits. The previous
version round-tripped BOTH sides through DuckDB + pandas float64, which
masked any value above float64's 2^53 exact range (both sides identically
lossy -> false "OK" while the driver's native read of the Spark parquet
diverged; see p11_hll_distinct, round 10).
"""
import datetime
import glob
import json
import multiprocessing
import shutil
import sys
import tempfile
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# DuckDB's default memory limit is 80% of the host's memory; under this
# one its buffer manager spills to a temporary directory instead.
# Measured at sf0.01: t41's oracle fails under a 2 GB limit, and w75's
# and w75b's under 4 GB.
MEMORY_LIMIT = "5GB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Exact, side-independent string for one cell value."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        s = format(v, "f")                     # never scientific notation
        if "." in s:
            s = s.rstrip("0").rstrip(".")      # scale-independent digits
        return "0" if s == "-0" else s
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)                         # shortest round-trip form
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:               # normalize tz-aware to UTC-naive
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def norm_table(tbl: pa.Table):
    cols = sorted(tbl.column_names)
    recs = tbl.select(cols).to_pylist()
    rows = [[canon(r[c]) for c in cols] for r in recs]
    rows.sort()
    return cols, rows


def main(sf_dir, out_dir):
    spill = tempfile.mkdtemp(prefix="check_oracle_duckdb_", dir="/tmp")
    try:
        check(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def check_one(sf_dir, out_dir, spill, name, sql):
    """(ok, report line) for one oracle, on a connection of its own."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return False, f"FAIL {name}: no spark output"
    con = duckdb.connect(config={
        "memory_limit": MEMORY_LIMIT, "temp_directory": spill})
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        scols, srows = norm_table(
            pa.concat_tables([pq.read_table(f) for f in files],
                             promote_options="default"))
        ocols, orows = norm_table(con.sql(sql).fetch_arrow_table())
    except Exception as e:
        return False, f"FAIL {name}: {e}"
    finally:
        con.close()
    if [c.lower() for c in scols] != [c.lower() for c in ocols]:
        return False, f"FAIL {name}: cols spark={scols} oracle={ocols}"
    if srows != orows:
        diff = next((i, a, b) for i, (a, b) in
                    enumerate(zip(srows + [['<eof>']], orows + [['<eof>']]))
                    if a != b)
        return False, (f"FAIL {name}: {len(srows)} vs {len(orows)} rows; "
                       f"first diff at {diff[0]}:\n  spark : {diff[1]}\n"
                       f"  oracle: {diff[2]}")
    return True, f"OK   {name} ({len(srows)} rows)"


def _child(conn, args):
    conn.send(check_one(*args))
    conn.close()


def isolated(args):
    """check_one in a forked process that exits when it is done."""
    ctx = multiprocessing.get_context("fork")
    recv, send = ctx.Pipe(duplex=False)
    proc = ctx.Process(target=_child, args=(send, args))
    proc.start()
    send.close()
    try:
        result = recv.recv()
    except EOFError:
        result = None
    proc.join()
    if result is None:
        return False, f"FAIL {args[3]}: oracle process died (exit {proc.exitcode})"
    return result


def check(sf_dir, out_dir, spill):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name in sorted(oracle):
        ok, line = isolated((sf_dir, out_dir, spill, name, oracle[name]))
        print(line, flush=True)
        failures += 0 if ok else 1
    extra = [q for q in glob.glob(f"{out_dir}/*/") if
             q.rstrip('/').rsplit('/', 1)[-1] not in oracle]
    for q in extra:
        print(f"INFO rows-only (no oracle): {q.rstrip('/').rsplit('/',1)[-1]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
