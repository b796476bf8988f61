"""A corpus table's schema is inferred once per corpus version: a table
rewritten inside a live session with a changed schema is re-inferred
(through ``queries.t`` and through ``NaiveDB.register_sf_dir``), and a
path the session memo cannot fingerprint is re-inferred on every read."""

from __future__ import annotations

import hashlib
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from naive_query_engine_spark import NaiveDB, memo
from naive_query_engine_spark.queries import QUERIES, t

from .conftest import live_copy, normalize


def _add_column(path) -> None:
    """Append a BIGINT column to a parquet table."""
    tbl = pq.read_table(path)
    pq.write_table(tbl.append_column("extra", pa.array(range(tbl.num_rows), pa.int64())), path)


def _nanos_through_pandas(path) -> None:
    """Write the table back through pandas with nanosecond timestamps:
    the TIMESTAMP(NANOS) layout of earlier corpus generations."""
    pdf = pd.read_parquet(path)
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    pdf.to_parquet(path, index=False)


def _hash(df) -> str:
    return hashlib.sha256(normalize(df.toPandas()).to_csv(index=False).encode()).hexdigest()


REWRITES = {
    "orders": (_add_column, "SELECT * FROM orders"),
    "events": (
        _nanos_through_pandas,
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, min(ts) AS first, max(ts) AS last "
        "FROM events GROUP BY event_type",
    ),
}


@pytest.mark.parametrize("table", sorted(REWRITES))
def test_rewritten_table_is_reinferred(spark, tmp_path, table):
    rewrite, sql = REWRITES[table]
    live = live_copy(tmp_path)
    d = str(live)
    old = t(spark, d, table).schema
    db = NaiveDB(spark)
    db.register_sf_dir(d)
    first = _hash(db.run_sql(sql))

    rewrite(live / f"{table}.parquet")
    shutil.copytree(live, tmp_path / "fresh")
    fresh = str(tmp_path / "fresh")

    new = t(spark, d, table).schema
    assert new == t(spark, fresh, table).schema
    assert new != old
    q = "q04_order_priority" if table == "orders" else "window_range_frame"
    assert _hash(QUERIES[q].fn(spark, d)) == _hash(QUERIES[q].fn(spark, fresh))

    db.register_sf_dir(d)
    second = _hash(db.run_sql(sql))
    fresh_db = NaiveDB(spark)
    fresh_db.register_sf_dir(fresh)
    assert second == _hash(fresh_db.run_sql(sql))
    # the events rewrite changes the encoding, not the values
    assert (second == first) == (table == "events")


def test_unfingerprinted_path_is_reinferred_on_every_read(spark, tmp_path, monkeypatch):
    """With no fingerprint to protect it, no schema is served from the memo."""
    monkeypatch.setattr(memo, "fingerprint", lambda sf_dir: ())
    live = live_copy(tmp_path)
    d = str(live)
    before = memo.stats().get("corpus_schema", (0, 0))
    assert "extra" not in t(spark, d, "orders").columns
    _add_column(live / "orders.parquet")
    assert "extra" in t(spark, d, "orders").columns
    assert memo.stats().get("corpus_schema", (0, 0)) == before
