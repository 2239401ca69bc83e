#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare: reads the
Verify.scala dump (per-query parquet + oracle_sql.json), runs each
oracle SQL against the sf dir's parquet tables, and compares row count,
column names, and an ordered-row value hash.

With --against, compares two Verify dumps instead: every query in
either dump, oracled or not, must have the same columns and the same
rows in the same order (same row canonicalization as the oracle
compare). A query present in only one dump is reported and counts as a
failure.

Usage: oracle_check.py <verify_out_dir> <sf_dir> [query ...]
       oracle_check.py <verify_out_dir> --against <other_verify_dir> [query ...]
"""
import sys, os, json, glob, hashlib, decimal
import duckdb


def canon(v):
    # Decimals (DuckDB ROUND etc.) must hash like the parquet floats
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v)  # full precision: shortest round-tripping form
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_hash(rows):
    return hashlib.md5(
        "\n".join("|".join(canon(v) for v in r) for r in rows).encode()).hexdigest()


def read_dump(con, dump, name):
    """(column names, rows in file order) of one query's Verify output."""
    files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files for {name} in {dump}")
    rows = con.execute(
        "SELECT * FROM parquet_scan([" + ",".join(f"'{f}'" for f in files) + "])").fetchall()
    return [d[0] for d in con.description], rows


def compare(name, got_cols, got, want_cols, want):
    """Print OK/FAIL for one query; return True when identical."""
    rows_ok = len(want) == len(got)
    schema_ok = [c.lower() for c in want_cols] == [c.lower() for c in got_cols]
    hash_ok = row_hash(want) == row_hash(got)
    if rows_ok and schema_ok and hash_ok:
        print(f"OK  {name}: {len(got)} rows")
        return True
    print(f"FAIL {name}: rows {len(got)}/{len(want)} schema={schema_ok} hash={hash_ok}")
    if rows_ok and schema_ok:
        for i, (a, b) in enumerate(zip(got, want)):
            if [canon(v) for v in a] != [canon(v) for v in b]:
                print(f"  first diff row {i}: got={a} want={b}")
                break
    return False


def queries_in(dump):
    return {os.path.basename(d) for d in glob.glob(f"{dump}/*") if os.path.isdir(d)}


def against(con, out, other, only):
    mine, theirs = queries_in(out), queries_in(other)
    fails = 0
    for name in sorted(mine | theirs):
        if only and name not in only:
            continue
        if name not in mine or name not in theirs:
            fails += 1
            print(f"ONLY {name}: in {out if name in mine else other}")
            continue
        try:
            gcols, got = read_dump(con, out, name)
            wcols, want = read_dump(con, other, name)
            fails += not compare(name, gcols, got, wcols, want)
        except Exception as e:
            fails += 1
            print(f"ERR  {name}: {e}")
    return fails


def oracles(con, out, sf, only):
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    for t in ["documents", "lineitem", "orders", "customer", "part", "events", "embeddings"]:
        p = f"{sf}/{t}.parquet"
        if not os.path.exists(p):
            print(f"WARN missing table {t} in {sf}; oracles using it will ERR")
            continue
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{pat}')")
    fails = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            want = con.execute(sql).fetchall()
            wcols = [d[0] for d in con.description]
            gcols, got = read_dump(con, out, name)
            fails += not compare(name, gcols, got, wcols, want)
        except Exception as e:
            fails += 1
            print(f"ERR  {name}: {e}")
    return fails


def main(argv):
    con = duckdb.connect()
    if len(argv) >= 3 and argv[1] == "--against":
        fails = against(con, argv[0], argv[2], set(argv[3:]))
    else:
        fails = oracles(con, argv[0], argv[1], set(argv[2:]))
    print("FAILURES:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
