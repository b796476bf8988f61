"""The session memo (``naive_query_engine_spark.memo``): key shape, no
disk writes, cold == warm per operator family, persisted memory released
by ``clear()``, stale-source rebuilds, and the guard that no operator
module keeps a cache of its own."""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pandas as pd
import pytest

from naive_query_engine_spark import memo
from naive_query_engine_spark.queries import QUERIES

from .conftest import SF_SMOKE, live_copy, normalize

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "naive_query_engine_spark")

#: one registered consumer per memo family, and the entry it must hit warm
FAMILIES = {
    "dedup": ("dedup_minhash_lsh", "minhash_signatures"),
    "text": ("text_bm25_topk", "bm25_side_tables"),
    "clustering": ("dedup_connected_components", "near_dup_components"),
    "multimodal": ("multimodal_image_phash_dedup", "ahash_table"),
    "similarity": ("similarity_pq_adc_topk", "pq_substrate"),
    "kmeans": ("embedding_centroid_drift_check", "frozen_assignment"),
}


def _result_hash(spark, name: str, sf_dir: str) -> str:
    pdf = normalize(QUERIES[name].fn(spark, sf_dir).toPandas())
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def _delta(before: dict, name: str) -> tuple[int, int]:
    builds, hits = memo.stats().get(name, (0, 0))
    b0, h0 = before.get(name, (0, 0))
    return builds - b0, hits - h0


def test_default_and_explicit_default_share_one_entry(spark):
    @memo.session_memo("test_key_shape")
    def build(spark, sf_dir, n=3):
        return spark.range(n)

    before = memo.stats()
    build(spark, SF_SMOKE)
    build(spark, SF_SMOKE, 3)
    build(spark, SF_SMOKE, n=3)
    assert _delta(before, "test_key_shape") == (1, 2)
    build(spark, SF_SMOKE, 4)
    assert _delta(before, "test_key_shape") == (2, 2)
    memo.clear("test_key_shape")
    build(spark, SF_SMOKE)
    assert _delta(before, "test_key_shape") == (3, 2)
    memo.clear("test_key_shape")


def _files_under(root: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        if "__pycache__" not in d and ".git" not in d.split(os.sep)
        for f in files
    }


def test_memo_writes_no_files(spark):
    repo = os.path.dirname(PKG)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    before = _files_under(repo), _files_under(wh)
    memo.clear()
    from naive_query_engine_spark.operators.text import cached_bm25_side_tables

    for _ in range(2):
        dl, dfreq = cached_bm25_side_tables(spark, SF_SMOKE)
        dl.count(), dfreq.count()
    assert (_files_under(repo), _files_under(wh)) == before


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_cold_equals_warm_and_warm_hits(spark, family):
    name, entry = FAMILIES[family]
    memo.clear()
    before = memo.stats()
    cold = _result_hash(spark, name, SF_SMOKE)
    assert _delta(before, entry)[0] == 1, f"{name} did not build {entry}"
    before = memo.stats()
    warm = _result_hash(spark, name, SF_SMOKE)
    assert _delta(before, entry) == (0, 1), f"{name} rebuilt {entry} warm"
    assert all(b == 0 for b, _ in (_delta(before, n) for n in memo.stats()))
    assert cold == warm


def test_clear_releases_persisted_frames(spark):
    from naive_query_engine_spark.operators.text import (
        cached_bm25_side_tables,
        cached_tf_index,
    )

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    memo.clear()
    before = persisted()
    dl, dfreq = cached_bm25_side_tables(spark, SF_SMOKE)
    cached_tf_index(spark, SF_SMOKE).count(), dl.count(), dfreq.count()
    assert len(persisted() - before) == 3
    memo.clear()
    assert persisted() == before


@pytest.mark.parametrize(
    "table, query, before",
    [
        ("documents", "dedup_minhash_lsh", ()),
        # a per-call persist of the same scan must not leak the old data
        # into the rebuilt entry through Spark's plan-matching cache
        ("embeddings", "similarity_pq_adc_topk", ("embedding_label_knn_disagreement",)),
    ],
)
def test_rewritten_source_is_rebuilt(spark, tmp_path, table, query, before):
    """A corpus rewritten in place inside a live session must be re-read:
    the second answer equals the one a fresh session gives for the new
    data (a path nothing was ever built for), not the old corpus's."""
    live = live_copy(tmp_path)
    for name in before:
        QUERIES[name].fn(spark, str(live)).count()
    first = _result_hash(spark, query, str(live))

    rows = pd.read_parquet(live / f"{table}.parquet")
    subset = rows.sample(frac=0.5, random_state=7).sort_index()
    subset.to_parquet(live / f"{table}.parquet", index=False)
    shutil.copytree(live, tmp_path / "fresh")

    second = _result_hash(spark, query, str(live))
    assert second != first
    assert second == _result_hash(spark, query, str(tmp_path / "fresh"))


def test_rewritten_source_behind_file_uri_is_rebuilt(spark, tmp_path):
    """A ``file:`` URI sf_dir is fingerprinted like its local path, so a
    rewrite is noticed (the URI string once gave every such path the same
    empty fingerprint and the stale entry was served)."""
    live = live_copy(tmp_path)
    uri = f"file://{live}"
    first = _result_hash(spark, "dedup_minhash_lsh", uri)

    rows = pd.read_parquet(live / "documents.parquet")
    rows.sample(frac=0.5, random_state=7).sort_index().to_parquet(live / "documents.parquet", index=False)
    shutil.copytree(live, tmp_path / "fresh")

    second = _result_hash(spark, "dedup_minhash_lsh", uri)
    assert second != first
    assert second == _result_hash(spark, "dedup_minhash_lsh", str(tmp_path / "fresh"))
    assert memo.fingerprint(uri) == memo.fingerprint(f"file:{live}") == memo.fingerprint(str(live)) != ()


def test_no_operator_module_keeps_its_own_cache():
    cache_dict = re.compile(r"^_\w*_CACHE\s*[:=]", re.M)
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            src = open(path, encoding="utf-8").read()
            assert not cache_dict.search(src), f"{path}: module-level _*_CACHE dict"
            if path != os.path.join(PKG, "memo.py"):
                assert "applicationId" not in src, f"{path}: keys on applicationId"
