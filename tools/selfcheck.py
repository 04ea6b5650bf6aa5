#!/usr/bin/env python3
"""Dev-only self-check harness (mirrors the driver's t2 gate).

NOT part of the library: uses driver-side python deps (duckdb, pyarrow)
to compare `graft.Verify` parquet output against the DuckDB oracle SQL
before the driver does. Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out

The compare is deliberately STRICTER than the driver's:
  - Arrow schema types must match exactly (column name -> arrow type,
    including decimal precision/scale and int width). Round 1 showed the
    driver hash is type-sensitive even when schema_match (names) passes.
  - Rows are compared IN FILE ORDER (every query carries a total ORDER
    BY on both engines), then again order-insensitively to distinguish
    "wrong order" from "wrong values".
Each gate's line ends with the seconds its oracle SQL took in DuckDB,
and the total is printed before the pass/fail summary.
A green selfcheck should imply a green driver gate.
"""
import json
import sys
import time

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.17g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(table):
    """Arrow table -> (sorted (name,type) pairs, rows-in-file-order)."""
    cols = sorted(table.column_names)
    typed = [(c, str(table.schema.field(c).type)) for c in cols]
    pydata = {c: table.column(c).to_pylist() for c in cols}
    n = table.num_rows
    rows = [tuple(norm_cell(pydata[c][i]) for c in cols) for i in range(n)]
    return typed, rows


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    oracle_s = 0.0
    for name, sql in sorted(oracles.items()):
        try:
            spark_tbl = pq.read_table(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            duck_tbl, err = con.execute(sql).fetch_arrow_table(), None
        except Exception as e:
            err = e
        secs = time.monotonic() - t0
        oracle_s += secs
        took = f"[oracle {secs:.2f} s]"
        if err is not None:
            print(f"FAIL {name}: oracle SQL error: {err} {took}")
            n_fail += 1
            continue
        stypes, srows = canon(spark_tbl)
        dtypes, drows = canon(duck_tbl)
        if stypes != dtypes:
            diff = [(a, b) for a, b in zip(stypes, dtypes) if a != b]
            print(f"FAIL {name}: arrow types differ: {diff or (stypes, dtypes)} {took}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)} {took}")
            n_fail += 1
            continue
        if srows != drows:
            if sorted(srows) == sorted(drows):
                bad = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
                print(f"FAIL {name}: values match but ROW ORDER differs "
                      f"({len(bad)} positions; first at {bad[0]}) {took}")
            else:
                ss, ds = sorted(srows), sorted(drows)
                bad = [i for i, (a, b) in enumerate(zip(ss, ds)) if a != b]
                print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ {took}; first: ")
                i = bad[0]
                print(f"   cols : {[c for c, _ in stypes]}")
                print(f"   spark: {ss[i]}")
                print(f"   duck : {ds[i]}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(srows)} rows) {took}")
        n_pass += 1
    import os
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if os.path.isdir(path) and d not in oracles:
            try:
                n = pq.read_table(path).num_rows
                print(f"INFO {d}: no oracle, {n} rows (driver records rows-only)")
            except Exception as e:
                print(f"FAIL {d}: no oracle, unreadable: {e}")
                n_fail += 1
    # r8 lesson: a crashing query silently fell out of the artifact (89
    # correctness rows for 90 declared queries). Verify now writes a
    # manifest of declared/failed; every declared query must have a
    # readable parquet output here, oracle or not.
    manifest_path = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        for name, msg in sorted(manifest.get("failed", {}).items()):
            print(f"FAIL {name}: Verify recorded a crash: {msg}")
            n_fail += 1
        for name in manifest.get("declared", []):
            if name in manifest.get("failed", {}):
                continue
            path = os.path.join(out_dir, name)
            if not os.path.isdir(path):
                print(f"FAIL {name}: declared in SparkEntry.queries but no output dir")
                n_fail += 1
    else:
        print("WARN no _manifest.json — cannot check declared-vs-produced "
              "(stale Verify build?)")
        n_fail += 1
    print(f"== oracle SQL {oracle_s:.1f} s total ==")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
