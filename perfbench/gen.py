"""Seeded input generator for the benchmark.

Writes the engine's input tables as parquet, with the schemas and value
distributions of the repository's TPC-H-like fixtures (TESTDATA.md):
a star schema (region, nation, customer, supplier, part, orders,
lineitem), an `events` stream table, a `documents` corpus and an
`embeddings` table. The same seed always gives byte-identical tables.

The corpus keeps the fixture's construction: 10-100 tokens drawn from a
30-word vocabulary, 5% near-duplicates (a copy of another document with
" dup" appended) and 0.3% exact copies. A corpus at a multiple of
the fixture's size is generated the same way, never by suffixing tokens,
so every curation gate keeps the share of rows it keeps on the fixture.
"""
from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 24 * 3600 * 10**6

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]
ALL_TABLES = STAR_TABLES + ["events", "documents", "embeddings"]


def _days(rng, day0: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(day0.isoformat(), "D")
    d = base + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, SHIP_DAY0, SHIP_DAYS, n_line)})
    return t


def events_table(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def corpus(rng, n: int) -> tuple[pa.Table, dict]:
    """`n` documents in the fixture's construction; returns the table and
    its duplicate shares."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # near-duplicates: 5% of documents become a copy of another document
    # with " dup" appended; 0.3% become an exact copy
    picked = rng.permutation(n)
    n_near, n_exact = round(0.05 * n), round(0.003 * n)
    near = np.zeros(n, bool)
    near[picked[:n_near]] = True
    src = rng.integers(0, n, n)
    for k, i in enumerate(picked[:n_near + n_exact]):
        j = src[i] if src[i] != i else (i + 1) % n
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    tab = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    distinct = len(set(texts))
    stats = {"docs": n, "exact_dup_share": round(1 - distinct / n, 4),
             "near_dup_share": round(float(near.mean()), 4)}
    return tab, stats


def embeddings_table(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel(), pa.float32()), 64).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out: Path, seed: int, sf: float, tables: list[str],
             docs_multiple: float = 1.0) -> dict:
    """Write `tables` at scale factor `sf` under `out`; the corpus holds
    `docs_multiple` times the fixture's document count at that scale."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    info: dict = {"seed": seed, "sf": sf}
    made: dict[str, pa.Table] = {}
    if set(tables) & set(STAR_TABLES):
        made.update(star_tables(rng, sf))
    if "events" in tables:
        made["events"] = events_table(rng, sf)
    if "documents" in tables:
        n_docs = int(round(max(500, 50_000 * sf) * docs_multiple))
        made["documents"], info["corpus"] = corpus(rng, n_docs)
    if "embeddings" in tables:
        made["embeddings"] = embeddings_table(rng, int(max(500, 20_000 * sf)))
    for name in tables:
        pq.write_table(made[name], out / f"{name}.parquet")
    info["rows"] = {name: made[name].num_rows for name in tables}
    return info
