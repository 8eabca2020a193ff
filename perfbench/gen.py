"""Input tables for the benchmark, equal in content to the engine's
test fixtures.

The engine's declared queries and their DuckDB oracles were written and
tuned on ten parquet tables generated with seed 42 at scale factors
0.001, 0.01 and 0.1 (TESTDATA.md; schemas in FIXTURES.md section B).
Those tables are not part of the repository. `tables(sf)` regenerates
them: the draw order, value domains and category lists below were
recovered from the tables themselves, and at all three scale factors
every column of every table equals the fixture's, value for value.
What that means for the workloads (sf0.01 / sf0.1):

- documents: 500 / 5000 rows; 10-99 words drawn uniformly from a
  30-word vocabulary; exactly 5% are near-duplicates, made by replacing
  a document's text with another's plus the word "dup";
- embeddings: 500 / 2000 unit vectors of 64 float32 dimensions, iid
  Gaussian before normalisation, labels uniform over 10 classes (no
  cluster structure: a vector's nearest neighbour shares its label 10%
  of the time);
- events: 10 k / 100 k over 30 days, 150 / 1500 users;
- TPC-H-style lineitem 60 k / 600 k rows, orders 15 k / 150 k.

The content is a fixed function of `sf`; `seed` only permutes the row
order of every table. Every oracled query is order-insensitive, so one
set of oracle answers holds for every seed while the engine still sees
a different physical layout per seed. Files are written as the fixtures
are: one row group, snappy, pandas schema metadata.

Usage: python3 gen.py OUT_DIR SF SEED
       python3 gen.py --compare FIXTURE_DIR SF   (check the claim above)
"""
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]
LANGS = ["en"] * 9 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
DAY_1995 = np.datetime64("1995-01-01", "us")
DAY_2024 = np.datetime64("2024-01-01", "us")


def _pick(values, idx):
    return np.array(values)[idx]


def tables(sf):
    """name -> pandas DataFrame, deterministic in `sf`."""
    rng = np.random.default_rng(CONTENT_SEED)

    def n(base):
        return int(round(base * sf))

    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_evt, n_users = n(1_500_000), n(6_000_000), n(1_000_000), n(15_000)
    n_doc, n_vec = max(500, n(50_000)), max(500, n(20_000))
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    adjective = _pick(ADJECTIVES, rng.integers(0, 8, n_part))
    noun = _pick(NOUNS, rng.integers(0, 8, n_part))
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adjective, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": DAY_1995 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, n_line)),
        "l_shipdate": DAY_1995 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")})
    seconds = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": DAY_2024 + ((seconds * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_evt)),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, 30, rng.integers(10, 100))]) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n_doc)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def write(out_dir, sf, seed):
    """Write every table to OUT_DIR/<name>.parquet, rows permuted by `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed)
    for name, df in tables(sf).items():
        df = df.iloc[order.permutation(len(df))].reset_index(drop=True)
        t = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def write_feed(data_dir, feed_dir):
    """The ingest stream's input: the documents with doc_id % 6 = 1, 3
    and 5 as three JSON-lines files with increasing modification times,
    so a file source replays them in that order, one per micro-batch."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    for i, k in enumerate((1, 3, 5)):
        path = os.path.join(feed_dir, f"b{i}", "part-0.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for d in docs:
                if d["doc_id"] % 6 == k:
                    f.write(json.dumps(d) + "\n")
        t = 1_000_000_000 + i * 60
        os.utime(path, (t, t))


def compare(fixture_dir, sf):
    """Print, per table, whether `tables(sf)` equals the fixture file
    in FIXTURE_DIR (schema and every value, rows matched by position)."""
    same = True
    for name, df in tables(sf).items():
        want = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        got = pa.Table.from_pandas(df, preserve_index=False)
        eq = got.schema.remove_metadata() == want.schema.remove_metadata() and got.equals(want)
        same &= eq
        print(f"{name:12s} {want.num_rows:8d} rows  {'equal' if eq else 'DIFFERENT'}")
    return same


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        sys.exit(0 if compare(sys.argv[2], float(sys.argv[3])) else 1)
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
