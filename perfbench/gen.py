"""Seeded input generator for the benchmark (numpy + pyarrow, never Spark).

Writes corpora with the schema of the engine's test corpus (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) and the value domains its queries filter on.  The engine
under test never builds its own inputs: everything here is plain numpy
drawn from one ``numpy.random.Generator`` per seed, written by pyarrow,
so the same seed gives byte-identical files on the same library versions.

Scale follows the test corpus: at ``sf`` a table has ``BASE_ROWS[t] * sf``
rows (documents and embeddings never drop below 500 rows, as there).
``copies > 1`` writes the five keyed TPC-H tables as that many key-shifted
copies, one parquet file per copy, in a directory named ``<table>.parquet``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
#: tables replicated by ``copies``
KEYED = ("customer", "supplier", "part", "orders", "lineitem")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EMB_DIM = 64
EMB_LABELS = 10


def rows(table: str, sf: float) -> int:
    n = max(1, int(round(BASE_ROWS[table] * sf)))
    return max(n, 500) if table in ("documents", "embeddings") else n


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, n_days + 1, n) * np.timedelta64(86_400_000_000, "us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables at ``sf`` (keys 0-based, as in the corpus)."""
    n_c, n_s, n_p = rows("customer", sf), rows("supplier", sf), rows("part", sf)
    n_o, n_l = rows("orders", sf), rows("lineitem", sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_c, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, 5, n_c)),
    })
    sk = np.arange(n_s, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    pk = np.arange(n_p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names).take(rng.integers(0, len(names), n_p)),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]).take(rng.integers(0, 25, n_p)),
        "p_type": pa.array(PART_TYPES).take(rng.integers(0, 6, n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        # as in TPC-H, no order names a customer whose key is a multiple
        # of three, so a third of the customers have no orders
        "o_custkey": rng.choice(ck[ck % 3 != 0] if n_c > 2 else ck, n_o),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n_o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2403, n_o),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, n_o)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_l)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_l)),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2497, n_l),
    })
    return out


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = rows("events", sf)
    step = 30 * 86_400_000_000 // n
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    ).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, max(rows("customer", sf) // 10, 1), n),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()],
    })


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words texts; about one in eight is a near-copy of an earlier
    text (a few words replaced), so the dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)).tolist():
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k).tolist()))
    return texts


def documents_table(rng: np.random.Generator, n: int, id0: int = 0) -> pa.Table:
    texts = document_texts(rng, n)
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": pa.array(LANGS).take(rng.integers(0, len(LANGS), n)),
        "source": [f"src{i % 20}" for i in ids.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embedding_vectors(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``EMB_LABELS`` fixed centres (the centres come
    from a constant seed, so every corpus shares its clusters)."""
    centres = np.random.default_rng(7).normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    v = centres[labels] + rng.normal(0.0, 1.2, (n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def embeddings_table(vec: np.ndarray, labels: np.ndarray, id0: int = 0) -> pa.Table:
    flat = pa.array(vec.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": np.arange(id0, id0 + len(vec), dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(vec) * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
        ),
        "label": labels,
    })


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(rng.permutation(table.num_rows))


def write_corpus(out_dir: str, seed: int, sf: float, copies: int = 1) -> None:
    """One full corpus under ``out_dir``; row order is seeded too."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    n_c, n_s, n_p, n_o = (tables[t].num_rows for t in ("customer", "supplier", "part", "orders"))
    shifts = {"c_custkey": n_c, "o_custkey": n_c, "s_suppkey": n_s, "l_suppkey": n_s,
              "p_partkey": n_p, "l_partkey": n_p, "o_orderkey": n_o, "l_orderkey": n_o}
    for name, tab in tables.items():
        tab = shuffled(rng, tab)
        if copies == 1 or name not in KEYED:
            write(tab, f"{out_dir}/{name}.parquet")
            continue
        for i in range(copies):
            cols = {c: pc.add(tab[c], i * shifts[c]) if c in shifts else tab[c]
                    for c in tab.column_names}
            write(pa.table(cols), f"{out_dir}/{name}.parquet/part-{i:02d}.parquet")
    write(shuffled(rng, events_table(rng, sf)), f"{out_dir}/events.parquet")
    write(shuffled(rng, documents_table(rng, rows("documents", sf))), f"{out_dir}/documents.parquet")
    vec, lab = embedding_vectors(rng, rows("embeddings", sf))
    write(shuffled(rng, embeddings_table(vec, lab)), f"{out_dir}/embeddings.parquet")


def write_cdc(path: str, orders: pa.Table, rng: np.random.Generator, share: float = 0.01) -> None:
    """A change-data slice of ``orders``: ``share`` of its rows, four in five
    updates of existing keys (new price and status), one in five inserts of
    new keys."""
    n = max(5, int(orders.num_rows * share))
    n_upd = n * 4 // 5
    upd = orders.take(rng.choice(orders.num_rows, n_upd, replace=False))
    top = pc.max(orders["o_orderkey"]).as_py() + 1
    ins_keys = top + rng.choice(10 * n, n - n_upd, replace=False).astype(np.int64)
    fresh = pa.table({
        "o_orderkey": np.concatenate([upd["o_orderkey"].to_numpy(), ins_keys]),
        "o_custkey": np.concatenate([upd["o_custkey"].to_numpy(), rng.integers(0, 100, n - n_upd)]),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.concat_arrays([
            upd["o_orderdate"].combine_chunks(),
            _days(rng, dt.date(2001, 8, 2), 30, n - n_upd),
        ]),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, n)),
    })
    write(fresh, path)
