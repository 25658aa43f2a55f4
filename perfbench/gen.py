"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed:

* the star schema, ``events``, ``documents`` and ``embeddings`` tables, one
  single-row-group parquet file each, with the column names, types and value
  distributions of the harness test data the queries were written against
  (TESTDATA.md);
* for ``ingest``, a pool of Kafka-frame-shaped parquet files (``value``
  binary, ``timestamp``) of Gen-2 JSON game events with fixed shares of
  sword, guild, default and malformed events, plus a manifest of the exact
  per-file counts the checks compare against.

The same (seed, scale) always yields byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch micros


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_and_corpus(out, seed, sf, docs=None):
    """Write the ten tables for scale factor ``sf`` into directory ``out``;
    ``docs`` overrides the document count."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = docs or max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    p = lambda name: os.path.join(out, name + ".parquet")

    _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    _write(p("nation"), {"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    ord_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + ord_days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    ship_days = rng.integers(1, 2499, n_line)  # 1995-01-02 .. 2001-11-04
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + ship_days * DAY_US)})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(p("documents"), _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def _documents(rng, n):
    """Random-word documents; 5 % are near-duplicates (an earlier-drawn
    document plus the token ``dup``) and a few are exact copies, so the
    dedup and clustering queries have real work to find."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    order = rng.permutation(n)
    n_near, n_exact = n // 20, max(2, n // 600)
    for i in range(n_near):
        texts[order[i]] = texts[order[n_near + n_exact + i]] + " dup"
    for i in range(n_exact):
        texts[order[n_near + i]] = texts[order[2 * n_near + n_exact + i]]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


# Fixed event shares of every ingest file: sword, guild, default, malformed.
SHARES = {"sword": 0.40, "guild": 0.30, "default": 0.20, "malformed": 0.10}
DIRECTIONS = ["increase", "decrease"]
SWORDS = ["wood", "iron", "gold", "steel"]
GUILDS = ["starter guild", "knights", "mages"]
MALFORMED = ['{"direction": "increase"}', "not json at all",
             '{"event_type": 7', "", '{"Host": "x", "event_detail": "none"}']


def _event_json(kind, host, r):
    if kind == "sword":
        return ('{"Accept": "*/*", "Host": "%s", "User-Agent": "graft-gen/1.0", '
                '"event_type": "sword_event", "direction": "%s", "event_detail": "%s"}'
                % (host, DIRECTIONS[r % 2], SWORDS[r % 4]))
    if kind == "guild":
        return ('{"Accept": "*/*", "Host": "%s", "User-Agent": "graft-gen/1.0", '
                '"event_type": "guild_event", "direction": "%s", "event_detail": "%s"}'
                % (host, DIRECTIONS[r % 2], GUILDS[r % 3]))
    if kind == "default":
        return '{"Accept": "*/*", "Host": "%s", "event_type": "default"}' % host
    return MALFORMED[r % len(MALFORMED)]


def ingest_pool(out, seed, n_files, events_per_file):
    """Write ``n_files`` Kafka-frame-shaped parquet files and a manifest.

    ``malformed`` counts the events whose JSON parses to a null
    ``event_type`` — the program's ``n_malformed`` observation."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    counts = {k: int(round(v * events_per_file)) for k, v in SHARES.items()}
    counts["sword"] += events_per_file - sum(counts.values())
    kinds = [k for k, c in counts.items() for _ in range(c)]
    files = []
    for f in range(n_files):
        perm = rng.permutation(len(kinds))
        pick = rng.integers(0, 1 << 30, len(kinds))
        hosts = rng.integers(1, 51, len(kinds))
        values = [_event_json(kinds[j], f"player-{hosts[i]}", int(pick[i])).encode()
                  for i, j in enumerate(perm)]
        base = EPOCH_2024 + f * 60_000_000
        name = f"pool-{f:03d}.parquet"
        _write(os.path.join(out, name), {
            "value": pa.array(values, pa.binary()),
            "timestamp": pa.array(base + np.arange(len(values)) * 1000,
                                  pa.timestamp("us", tz="UTC"))})
        files.append({"file": name, "events": len(values), **counts})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(files, fh)
    return files
