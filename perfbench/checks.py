"""Output checks for entry workloads, run after the harness JVM exits.

Every operation that wrote rows is compared, with the row normalization
of scripts/check_oracle.py (imported, not copied):
- the first successful pass of an entry that has oracle SQL must equal
  DuckDB's answer on the same generated input;
- every pass must equal the entry's first successful pass (bench-only
  twins have no oracle; this is their check).
"""
import hashlib
import importlib.util
import os
import sys

import duckdb

TABLES = ["documents", "embeddings", "events", "orders", "customer"]


def _norm_fn(root):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def _rows(con, sql, norm):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    return cols, sorted(tuple(norm(v) for v in r) for r in con.sql(
        f"SELECT {','.join(cols)} FROM ({sql})").fetchall())


def _digest(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def check_outputs(res, data, root):
    """Ids of operations whose written rows are wrong."""
    written = [o for o in res["ops"] if o["error"] is None and o["out"]]
    if not written:
        return set()
    norm = _norm_fn(root)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = res.get("oracle_sql", {})
    wrong, first = set(), {}
    for o in sorted(written, key=lambda o: o["id"]):
        name = o["name"]
        try:
            got = _rows(con, f"SELECT * FROM read_parquet('{o['out']}/*.parquet')",
                        norm)
        except duckdb.Error as e:
            # an entry that wrote zero rows may leave no part files
            got = (None, str(e)[:80])
        d = _digest(*got)
        if name not in first:
            if name in oracle:
                want = _rows(con, oracle[name], norm)
                if got != want:
                    wrong.add(o["id"])
                    print(f"[perfbench] {name} pass {o['pass']}: "
                          f"{len(got[1])} rows differ from the oracle's "
                          f"{len(want[1])}", flush=True, file=sys.stderr)
                    continue
            first[name] = d
        elif d != first[name]:
            wrong.add(o["id"])
            print(f"[perfbench] {name} pass {o['pass']}: output differs "
                  "from the first pass", flush=True, file=sys.stderr)
    return wrong
