"""Seeded synthetic inputs for the benchmark.

Every table has the schema and value domains of the repository's
TPC-H-ish test set described in TESTDATA.md (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), so
every registered query and its DuckDB oracle run unchanged on it. Row counts scale with ``sf`` exactly
like the test set (sf0.1: 150k orders, 600k lineitems, 5k documents,
2k embeddings). The same ``(seed, sf)`` always yields the same bytes.

Nothing here imports Spark: tables are built with numpy and written
with pyarrow, so input generation is cheap and independent of the
program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "rod"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]  # en ~ 40%
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = (np.datetime64("2001-08-01") - ORDER_DAY0).astype(int) + 1
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = (np.datetime64("2001-11-04") - SHIP_DAY0).astype(int) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts in [lo, hi] (stored exactly as cents)."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(day0, ndays: int, rng, n: int) -> np.ndarray:
    return (day0 + rng.integers(0, ndays, n)).astype("datetime64[us]")


def _pick(rng, choices: list[str], n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tpch_tables(
    seed: int, sf: float, names: tuple[str, ...] | None = None
) -> dict[str, pa.Table]:
    """region .. lineitem plus events, sized like the test set at
    ``sf``. ``names`` restricts the output; each table draws from its
    own random stream, so a subset is identical to the same tables of
    the full set."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    def region(rng):
        return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}

    def nation(rng):
        return {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }

    def customer(rng):
        return {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }

    def supplier(rng):
        return {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }

    def part(rng):
        adj = _pick(rng, PART_ADJ, n_part)
        noun = _pick(rng, PART_NOUN, n_part)
        return {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0,
        }

    def orders(rng):
        return {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, STATUSES, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(ORDER_DAY0, ORDER_DAYS, rng, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }

    def lineitem(rng):
        return {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_li),
            "l_linestatus": _pick(rng, LINE_STATUSES, n_li),
            "l_shipdate": _days(SHIP_DAY0, SHIP_DAYS, rng, n_li),
        }

    def events(rng):
        ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
        return {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": EVENT_T0 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }

    builders = [region, nation, customer, supplier, part, orders, lineitem, events]
    return {
        b.__name__: pa.table(b(np.random.default_rng([seed, 10 + i])))
        for i, b in enumerate(builders)
        if names is None or b.__name__ in names
    }


def documents(seed: int, n_docs: int, near_frac: float = 0.05) -> pa.Table:
    """``n_docs`` documents of 10..100 words from a 30-word vocabulary;
    ``near_frac`` of them are an earlier document plus a ``dup``
    suffix (the test set's near-duplicate shape)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    n_near = int(n_docs * near_frac)
    targets = rng.choice(np.arange(n_docs // 2, n_docs), n_near, replace=False)
    for j in targets:
        src = texts[int(rng.integers(0, n_docs // 2))]
        texts[j] = src + (" dup dup" if rng.random() < 0.1 else " dup")
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with ten random labels."""
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def make_sf_dir(seed: int, sf: float, out_dir: str) -> str:
    """A complete sf directory (all ten tables) under ``out_dir``."""
    tables = tpch_tables(seed, sf)
    tables["documents"] = documents(seed, max(int(50_000 * sf), 50))
    tables["embeddings"] = embeddings(seed, max(int(20_000 * sf), 20))
    write_tables(tables, out_dir)
    return out_dir

