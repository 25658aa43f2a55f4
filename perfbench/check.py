"""Correctness checks, run after the JVM has exited, outside every timed region.

* ``queries``: each query's full result, written as parquet, must pass the
  repository's own oracle gate, ``tools/check_oracle.py``: the program's
  DuckDB oracle SQL (``SparkEntry.oracleSql``) run over the same generated
  tables must give the same columns, compatible types, the same row count
  and the same values in any row order.
* ``ingest``: every micro-batch's observed ``graft_etl`` counts and the
  rows each parquet route holds for that batch must equal the generator's
  known counts for the file the batch carried.

Each function returns ``{operation: None | error text}``.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb


def queries(root, data_dir, results_dir, oracle, order, errors):
    """``errors``: the JVM's error text for each query of the pass that
    wrote ``results_dir``."""
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data_dir, results_dir],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=120)
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name, _, why = rest.partition("  ")
            verdict[name] = None if word == "PASS" else why or "FAIL"
    out = {}
    for name in order:
        if errors.get(name):
            out[name] = "failed: " + errors[name]
        elif name not in oracle:
            out[name] = "no oracle SQL"
        else:
            out[name] = verdict.get(
                name, f"no verdict from tools/check_oracle.py (exit {r.returncode})")
    return out


ROUTES = {"sword_purchases": "sword", "guild_joins": "guild", "default_events": None}


def _route_counts(con, sink, route):
    files = glob.glob(os.path.join(sink, route, "batch_id=*", "*.parquet"))
    if not files:
        return {}
    rows = con.execute(
        "SELECT batch_id, count(*) FROM read_parquet(?, hive_partitioning = true) GROUP BY 1",
        [files]).fetchall()
    return {int(b): n for b, n in rows}


def ingest(sink, batches, manifest, prefix="batch"):
    """``batches``: the JVM's per-batch records; ``manifest``: file → counts."""
    con = duckdb.connect()
    routes = {r: _route_counts(con, sink, r) for r in ROUTES}
    out = {}
    for b in batches:
        m = manifest[b["file"]]
        want = {"n_parsed": m["events"], "n_valid": m["sword"] + m["guild"],
                "n_malformed": m["malformed"]}
        errs = [f"{k}: observed={b['observed'].get(k)} generated={v}"
                for k, v in want.items() if b["observed"].get(k) != v]
        for route, kind in ROUTES.items():
            n, expect = routes[route].get(b["batch"], 0), (m[kind] if kind else 0)
            if n != expect:
                errs.append(f"{route}: rows={n} generated={expect}")
        out[f"{prefix}-{b['batch']}"] = "; ".join(errs) or None
    return out
