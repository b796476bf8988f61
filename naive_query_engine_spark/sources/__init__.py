"""Table sources and sinks.

Reference surface (SURVEY §2.1):
- ``CsvTable``   — src/datasource/csv.rs:23-101   → :func:`read_csv`
- ``MemTable``   — src/datasource/memory.rs:13-46 → :func:`memory_table`
- ``EmptyTable`` — src/datasource/empty.rs:16-40  → :func:`empty_table`
- sinks: none in the reference (pretty-print only, src/utils.rs:11-13);
  here ``df.write.*`` is the superset → :func:`write_table`

Design notes (scale):
- Reads are **lazy**; schema inference is the only registration-time work,
  and a corpus table pays it once per corpus version (the reference's
  catalog likewise registers a table once and serves its schema on every
  lookup, catalog.rs:20-65).  The reference eagerly materializes the whole
  CSV at registration (csv.rs:53-75) — at 100 TB that is not an option,
  and laziness costs us nothing observable: a bad file still fails fast,
  at the first read of each corpus version, where its schema is inferred.
- Column pruning / predicate pushdown reach the scan via Catalyst; the
  reference's CsvTable *ignores* its projection argument (csv.rs:94-96),
  ours prunes for real (see tests/test_plans.py).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import memo

#: canonical test-corpus tables (TESTDATA.md)
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    delimiter: str = ",",
    infer_schema: bool = True,
    schema: StructType | str | None = None,
) -> DataFrame:
    """CSV source (reference: CsvConfig {has_header, delimiter, ...}, csv.rs:30-40).

    Inference samples the whole file (strictly better than the reference's
    3-row sample, csv.rs:37); pass an explicit ``schema`` to skip the
    inference pass entirely — the right call on a 100 TB dataset.
    """
    reader = (
        spark.read.option("header", header)
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet source — the scale-path format (columnar, statistics, pushdown)."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """JSON-lines source (not in the reference; free via Spark)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — Spark's second columnar format (statistics + predicate
    pushdown like parquet; interchange with Hive-era warehouses)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-oriented text source (one ``value`` string column; ``whole``
    reads each file as a single row) — the raw-corpus ingestion format."""
    return spark.read.text(path, wholetext=whole)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML source (built into Spark 4 — no spark-xml package needed):
    one row per ``row_tag`` element, attributes surfaced as ``_attr``
    columns.  The feed/sitemap/legacy-interchange ingestion format."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows") -> None:
    """XML sink (round-trips with :func:`read_xml`)."""
    df.write.format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).mode("overwrite").save(path)


def memory_table(
    spark: SparkSession,
    data: Iterable,
    schema: StructType | str | None = None,
) -> DataFrame:
    """In-memory table from rows + schema (reference: MemTable, memory.rs:13-46)."""
    return spark.createDataFrame(data, schema=schema)


def empty_table(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """Zero-row table with a declared schema (reference: EmptyTable, empty.rs:16-40)."""
    return spark.createDataFrame([], schema=schema)


@memo.session_memo("corpus_schema")
def _corpus_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Spark's own parquet inference (a one-task job reading a footer)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


def read_corpus_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test-corpus table: a fresh lazy relation on every call
    (self-joins need fresh attribute ids), read with a schema inferred
    once per corpus version.

    The schema is a ``corpus_schema`` entry of the session memo, so a
    rewritten ``sf_dir`` re-infers and ``memo.clear()`` drops it; a read
    of a table the session has seen starts no Spark job.  A path the memo
    cannot fingerprint (remote or missing) is inferred on every read: a
    stale schema would silently drop or null columns.

    Corpus timestamps are naive (no-timezone) microseconds, which Spark
    >= 3.4 reads as TIMESTAMP_NTZ — the exact analog of DuckDB's naive
    TIMESTAMP, with no session-timezone dependence.  Earlier corpus
    generations stored ``events.ts`` as TIMESTAMP(NANOS), which Spark's
    reader rejects; that case is still normalized (legacy conf reads raw
    nanos as long, then truncate to microseconds)."""
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    infer = _corpus_schema if memo.fingerprint(sf_dir) else _corpus_schema.__wrapped__
    df = spark.read.schema(infer(spark, sf_dir, name)).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def register_sf_dir(spark: SparkSession, sf_dir: str, tables: Iterable[str] = TPCH_TABLES) -> None:
    """Register every test-corpus parquet table under ``sf_dir`` as a temp view."""
    for name in tables:
        read_corpus_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) table.

    Bucketing is THE co-located-join primitive at scale: two tables
    bucketed by their join key with the same bucket count join without any
    Exchange — the shuffle is paid once at write time, then amortized over
    every subsequent join/aggregation on that key.  (Verified by plan
    assertion in tests/test_bucketing.py.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Sink. The reference has none (results only pretty-print); at scale the
    sink's partitioning layout is a first-class design choice, so expose it."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def _atomic_replace_dir(new_dir: str, target: str) -> None:
    """Swap ``new_dir`` into ``target``'s place via two renames.  At no
    point is the only copy of the data deleted before its replacement is
    in place: a crash before the second rename leaves the original
    recoverable at ``*.old-*`` (and the swap rolls back on rename
    failure).  Requires both paths on the same filesystem — callers stage
    the new write as a SIBLING of the target, never in /tmp."""
    import os
    import shutil
    import uuid

    old = target.rstrip("/") + ".old-" + uuid.uuid4().hex[:8]
    os.rename(target, old)
    try:
        os.rename(new_dir, target)
    except BaseException:
        os.rename(old, target)
        raise
    shutil.rmtree(old, ignore_errors=True)


def compact_table(spark: SparkSession, path: str, target_partitions: int) -> None:
    """Small-files compaction: rewrite a parquet dataset into
    ``target_partitions`` files.  Streaming sinks and incremental loads
    accrete small files; periodic compaction keeps scan task counts sane.
    The compacted copy is staged to a sibling directory and atomically
    renamed over the target — a crash mid-compaction never destroys the
    live dataset."""
    import shutil
    import uuid

    tmp = path.rstrip("/") + ".new-" + uuid.uuid4().hex[:8]
    try:
        spark.read.parquet(path).repartition(target_partitions).write.mode(
            "overwrite"
        ).parquet(tmp)
        _atomic_replace_dir(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Incremental load: replace ONLY the partitions present in ``df``
    (dynamic partition overwrite) — the daily-reload primitive; untouched
    partitions keep their data."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """MERGE/upsert into a parquet dataset: rows in ``updates`` replace
    target rows with the same key; everything else is kept.

    This is the CDC-apply primitive.  On a lakehouse table (Delta/Iceberg,
    not available in this container) this is a metadata-level MERGE that
    rewrites only matching files; the parquet fallback here rewrites the
    dataset (correct, but O(table) — partition the target and use
    ``overwrite_partitions`` to bound the rewrite in production)."""
    target = spark.read.parquet(target_path)
    kept = target.join(updates.select(*key_cols), key_cols, "left_anti")
    merged = kept.unionByName(updates)
    # stage to a sibling dir (the plan reads the files being replaced),
    # then atomically rename over the target — crash-safe, no window
    # where the dataset exists only as deleted files
    import shutil
    import uuid

    tmp = target_path.rstrip("/") + ".new-" + uuid.uuid4().hex[:8]
    try:
        merged.write.mode("overwrite").parquet(tmp)
        _atomic_replace_dir(tmp, target_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
