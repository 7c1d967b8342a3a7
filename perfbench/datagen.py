"""Seeded fixture generator for the benchmark.

Writes under <out_dir>:

- `tables/`: the ten tables the engine's keys read (`region nation
  customer supplier part orders lineitem events documents embeddings`),
  one parquet file each, with the schemas and value domains of the
  repository's test fixtures (see FIXTURES.md);
- `slices/`: the rows the metastore-roundtrip workload commits — the
  orders of one seeded 40-day window and their lineitems, with a unique
  `id`, integer money in cents, and a `slice` number (id % 10) that
  names the INSERT which lands them.

The same (seed, sf) always gives the same content.

    python3 perfbench/datagen.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
DIM = 64

MS_PER_DAY = 86_400_000
ORDER_DAY0 = 9131            # 1995-01-01 in days since epoch
ORDER_DAYS = 2404            # .. 2001-08-01
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _ts_ms(days):
    return pa.array(days.astype(np.int64) * MS_PER_DAY, pa.timestamp("ms"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return cols


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(root, seed, sf=0.01):
    """Write the fixture tables and the roundtrip slices under `root`."""
    out_dir = os.path.join(root, "tables")
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    orders = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_ms(ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = _write(out_dir, "lineitem", {
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
        "l_shipdate": _ts_ms(ORDER_DAY0 + rng.integers(1, ORDER_DAYS + 95,
                                                       n_line))})
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev)) + EVENTS_T0_US
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        # every 20th doc is a near-duplicate of an earlier one, marked
        # with a trailing "dup" token — dedup keys need real collisions
        if i >= 20 and i % 20 == 8:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                 int(rng.integers(8, 80)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_doc).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_doc, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels})
    _slices(os.path.join(root, "slices"), rng, orders, lines)


def _slices(out_dir, rng, orders, lines):
    os.makedirs(out_dir)
    day0 = ORDER_DAY0 + int(rng.integers(0, ORDER_DAYS - 40))
    odays = orders["o_orderdate"].cast(pa.int64()).to_numpy() // MS_PER_DAY
    sel = (odays >= day0) & (odays < day0 + 40)
    oid = orders["o_orderkey"][sel]
    _write(out_dir, "orders", {
        "id": oid,
        "orderdate": orders["o_orderdate"].filter(pa.array(sel)),
        "price_c": np.round(orders["o_totalprice"][sel] * 100).astype(np.int64),
        "qty": (orders["o_custkey"][sel] % 50).astype(np.int32),
        "slice": (oid % 10).astype(np.int32)})
    lsel = np.isin(lines["l_orderkey"], oid)
    lid = np.nonzero(lsel)[0].astype(np.int64)
    _write(out_dir, "lineitem", {
        "id": lid,
        "orderkey": lines["l_orderkey"][lsel],
        "price_c": np.round(lines["l_extendedprice"][lsel] * 100).astype(np.int64),
        "qty": lines["l_quantity"][lsel].astype(np.int32),
        "slice": (lid % 10).astype(np.int32)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
