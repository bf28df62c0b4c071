"""Generate the tables the sweeps read.

The tables are the synthetic tables of FIXTURES.md part B (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), reproduced value for
value: the same seed, the same draws in the same order, the same column
types (timestamps as microseconds without time zone), one parquet file per
table, one row group per file. They depend only on `TABLE_SEED` and the
scale factor: every benchmark run on every commit reads the same bytes, and
the workload seed varies only what each workload says it varies.

    python3 perfbench/gen_tables.py <out_dir> [<scale factor>]
    python3 perfbench/gen_tables.py --compare <reference_dir> <scale factor>

`--compare` checks the generated tables against reference parquet files of
the same scale factor (schema and every value) and exits non-zero on a
difference.
"""
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# Index order matters: the draws pick by position.
WORDS = ("the a spark query table join group filter window data order customer part "
         "line fast slow big small hash sort merge scan agg stream batch vector key "
         "value row column").split()
COLORS = "red blue small large hot cold old new".split()
THINGS = "anvil widget gizmo bolt gear plate rod ring".split()
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def tables(sf, seed=TABLE_SEED):
    """Every table, drawn in one fixed order from one generator."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{COLORS[c]} {THINGS[s]}" for c, s in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499)})
    # seconds drawn as doubles, taken to whole nanoseconds, stored as microseconds
    ns = (np.sort(rng.uniform(0, 30 * 86400, n_evt)) * 1e9).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (ns // 1000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_cust // 10, n_evt).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    dups = rng.choice(n_doc, size=n_doc // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n_doc, len(dups))):  # near-duplicates
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    e = rng.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write(out_dir, sf):
    """Write every table into `out_dir` atomically; a complete directory is reused."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def compare(ref_dir, sf):
    """Names of the tables that differ from `<ref_dir>/<name>.parquet`."""
    bad = []
    for name, tbl in tables(sf).items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet")).replace_schema_metadata(None)
        if not tbl.equals(ref):
            bad.append(name)
    return bad


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        bad = compare(sys.argv[2], float(sys.argv[3]))
        print(f"tables differing from {sys.argv[2]}: {bad or 'none'}")
        sys.exit(1 if bad else 0)
    t0 = dt.datetime.now()
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
    print(f"tables in {sys.argv[1]} ({(dt.datetime.now() - t0).total_seconds():.1f} s)")
