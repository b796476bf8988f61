import hashlib
import os

import pyarrow.parquet as pq

from perfbench import gen


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_files(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 5, 0.001, copies=2)
    gen.write_corpus(str(tmp_path / "b"), 5, 0.001, copies=2)
    gen.write_corpus(str(tmp_path / "c"), 6, 0.001, copies=2)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert digest(tmp_path / "a") != digest(tmp_path / "c")


def test_copies_are_key_shifted(tmp_path):
    gen.write_corpus(str(tmp_path), 1, 0.001, copies=3)
    orders = pq.read_table(tmp_path / "orders.parquet")
    lineitem = pq.read_table(tmp_path / "lineitem.parquet")
    n_o = gen.rows("orders", 0.001)
    assert orders.num_rows == 3 * n_o
    keys = sorted(orders["o_orderkey"].to_pylist())
    assert keys == list(range(3 * n_o))
    assert set(lineitem["l_orderkey"].to_pylist()) <= set(keys)
    assert len(os.listdir(tmp_path / "lineitem.parquet")) == 3


def test_cdc_slice_updates_and_inserts(tmp_path):
    import numpy as np

    orders = gen.tpch_tables(np.random.default_rng(1), 0.01)["orders"]
    gen.write_cdc(str(tmp_path / "cdc.parquet"), orders, np.random.default_rng(2))
    cdc = pq.read_table(tmp_path / "cdc.parquet")
    keys = cdc["o_orderkey"].to_pylist()
    assert len(keys) == len(set(keys)) == orders.num_rows // 100
    old = set(orders["o_orderkey"].to_pylist())
    assert sum(k in old for k in keys) == len(keys) * 4 // 5
    assert cdc.schema == orders.schema
