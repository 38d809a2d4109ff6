#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate:
run graft.Verify output parquet vs DuckDB oracle SQL on the same tables.
An oracle with no output dir (the entry threw in Verify) and an output
dir with no oracle both count as failures. A fitted-model entry that
threw leaves neither; Verify's own exit status reports it.
Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, os, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    outputs = {n for n in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(oracle.keys() - outputs):
        print(f"FAIL {name}: oracle but no output (did it fail in Verify?)")
        n_fail += 1
    for name in sorted(outputs):
        d = os.path.join(out_dir, name)
        try:
            got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
            got_cols = sorted(got.columns)
            got_rows = sorted(
                tuple(norm(v) for v in row)
                for row in con.sql(
                    f"SELECT {','.join(got_cols)} FROM '{d}/*.parquet'"
                ).fetchall())
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"FAIL {name}: output but no oracle ({len(got_rows)} rows)")
            n_fail += 1
            continue
        try:
            exp = con.sql(oracle[name])
            exp_cols = sorted(exp.columns)
            exp_rows = sorted(
                tuple(norm(v) for v in row)
                for row in con.sql(
                    f"SELECT {','.join(exp_cols)} FROM ({oracle[name]})"
                ).fetchall())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
            n_fail += 1
        elif got_rows != exp_rows:
            diff = [(a, b) for a, b in zip(got_rows, exp_rows) if a != b]
            print(f"FAIL {name}: {len(got_rows)} vs {len(exp_rows)} rows, "
                  f"first diffs: {diff[:3]}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(got_rows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
