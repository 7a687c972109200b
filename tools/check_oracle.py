#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir> [artifact.json]
       python3 tools/check_oracle.py <verify_out_dir> --against <other_verify_out_dir>

Reads <out>/oracle_sql.json, registers each test table as a DuckDB view
over <sf_dir>/<name>.parquet, runs every oracle, loads the matching
Spark-written parquet, sorts columns by name and rows by all values,
and compares cell-by-cell (floats exactly — determinism is the point).

With a third argument, additionally writes a machine-readable per-query
artifact in the driver's CORRECTNESS_r{N}.json shape (rows_match /
schema_match / hash_match / spark_rows / oracle_rows / err) plus an
`oracle_sec` wall-time field per query and a `_meta` summary — the
builder-side correctness record the r16 verdict asked for, so an empty
driver artifact can never again leave a round unadjudicable. Per-query
DuckDB wall times double as the oracle COST instrument (the sf0.01
replay ran ~25 min in r16; a time-budgeted harness is the suspected
cause of the empty driver gate).

With --against, no oracle runs: every query output of the first dump is
compared with the same query's output in the second dump under the same
canonical ordering, and must be equal value for value. Run Verify twice
on one SF at two SPARK_GRAFT_CPUS values and compare the dumps: outputs
must not depend on core count or partitioning.
"""
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # decimals -> float-compatible string; timestamps/dates -> isoformat
    import decimal
    import datetime
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def load(con, out_dir, name):
    df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    return canon(df.fetchall(), [d[0] for d in df.description])


def against(out_dir, other_dir):
    con = duckdb.connect()
    names = sorted(set(json.load(open(f"{out_dir}/oracle_sql.json"))) |
                   set(json.load(open(f"{other_dir}/oracle_sql.json"))))
    n_pass = n_fail = 0
    for name in names:
        try:
            (ac, arows), (bc, brows) = (load(con, out_dir, name),
                                        load(con, other_dir, name))
        except Exception as e:
            print(f"FAIL {name}: read error: {e}")
            n_fail += 1
            continue
        if ac != bc or arows != brows:
            diff = next((i for i, (a, b) in enumerate(zip(arows, brows))
                         if a != b), min(len(arows), len(brows)))
            print(f"FAIL {name}: columns {ac} vs {bc}, rows {len(arows)} vs "
                  f"{len(brows)}, first diff row {diff}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"{n_pass} equal, {n_fail} differ ({out_dir} vs {other_dir})")
    sys.exit(1 if n_fail else 0)


def main():
    if len(sys.argv) == 4 and sys.argv[2] == "--against":
        against(sys.argv[1], sys.argv[3])
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    artifact_path = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    t_total0 = time.monotonic()
    results = {}

    def rec(name, rows_match, schema_match, hash_match,
            spark_rows, oracle_rows, err, secs):
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
            "oracle_sec": round(secs, 3)}

    for name, sql in sorted(oracles.items()):
        t0 = time.monotonic()
        try:
            odf = con.sql(sql)
            ocols = [d[0] for d in odf.description]
            orows = odf.fetchall()
            sdf = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            scols = [d[0] for d in sdf.description]
            srows = sdf.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            rec(name, False, False, False, None, None,
                str(e)[:300], time.monotonic() - t0)
            n_fail += 1
            continue
        secs = time.monotonic() - t0
        oc, orows = canon(orows, ocols)
        sc, srows = canon(srows, scols)
        if oc != sc:
            print(f"FAIL {name}: columns oracle={oc} spark={sc}")
            rec(name, len(orows) == len(srows), False, False,
                len(srows), len(orows), "schema mismatch", secs)
            n_fail += 1
            continue
        if len(orows) != len(srows):
            print(f"FAIL {name}: rows oracle={len(orows)} spark={len(srows)}")
            rec(name, False, True, False, len(srows), len(orows),
                "row count mismatch", secs)
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(orows, srows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: first diff row {bad[0]}:\n  oracle={bad[1]}\n  spark ={bad[2]}")
            rec(name, True, True, False, len(srows), len(orows),
                f"value diff at row {bad[0]}", secs)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(orows)} rows, {secs:.1f}s)")
            rec(name, True, True, True, len(srows), len(orows), None, secs)
            n_pass += 1
    total_sec = time.monotonic() - t_total0
    slow = sorted(results.items(), key=lambda kv: -kv[1]["oracle_sec"])[:10]
    print("\nslowest oracles: " + ", ".join(
        f"{k}={v['oracle_sec']:.1f}s" for k, v in slow))
    print(f"{n_pass} pass, {n_fail} fail ({total_sec:.0f}s total DuckDB wall)")
    if artifact_path:
        out = dict(results)
        out["_meta"] = {"sf_dir": sf_dir, "n_pass": n_pass,
                        "n_fail": n_fail, "total_sec": round(total_sec, 1)}
        with open(artifact_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"artifact -> {artifact_path}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
