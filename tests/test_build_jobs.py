"""Building a query's DataFrame starts no Spark job once the session has
read its tables: each corpus table's schema is inferred once per corpus
version (``sources.read_corpus_table``), not by a parquet-inference job on
every read."""

from __future__ import annotations

import os
import re

from naive_query_engine_spark import memo
from naive_query_engine_spark.queries import QUERIES

from .conftest import SF_SMOKE

TPCH = sorted(n for n in QUERIES if re.fullmatch(r"q\d\d_\w+", n))


def _jobs_to_build(spark, group: str) -> tuple[int, list]:
    """Spark jobs started while building (not running) the 22 TPC-H
    analogs, and the frames built."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        frames = [QUERIES[n].fn(spark, SF_SMOKE) for n in TPCH]
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), frames


def test_warm_build_starts_no_job(spark):
    assert len(TPCH) == 22
    memo.clear("corpus_schema")
    cold, frames = _jobs_to_build(spark, "build-cold")
    warm, _ = _jobs_to_build(spark, "build-warm")
    tables = {os.path.basename(f) for df in frames for f in df.inputFiles()}
    assert 0 < cold <= len(tables), f"{cold} jobs for {len(tables)} tables"
    assert warm == 0
