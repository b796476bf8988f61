"""The benchmark's workloads.  Each one is a closed loop with one client:
the next operation starts when the previous one has returned.

A workload writes its inputs (``prepare``, untimed), builds what the
program needs before the first operation (``setup``, part of
``setup_s``), then runs halves: ``run_pass(p, "cold")`` is the first
visit of corpus ``p`` and ``run_pass(p, "warm")`` repeats its operations.
The ops are recorded by the tracer; ``check`` compares every output with
DuckDB after the timed phase.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import check, gen

#: the 22 TPC-H analogs of the query registry
TPCH = [f"q{i:02d}" for i in range(1, 23)]
OLAP_SF, OLAP_COPIES = 0.001, 8
#: curation operators run cold then warm on every new corpus
CURATION_OPS = (
    "dedup_minhash_lsh",
    "multimodal_audio_vad_segments",
)
CURATION_SF = 0.01
#: the engine's vector quantization scale (floor(v * QUANT) per element)
QUANT = 1_000_000
INDEX = "bench_ivf_index"
INDEX_CELLS = 32
ARRIVALS = 8
LOOKUP_EXTRA = 8


class Olap:
    """The 22 TPC-H analogs, in a seeded order per pass, over a corpus of
    ``OLAP_COPIES`` key-shifted copies (one file per copy).  The first pass
    is the session's first run of each query; later passes are warm."""

    name = "olap_x8"
    #: one corpus for the whole run; after the cold pass, warm passes only
    fresh_corpus = False
    warm_halves = 1

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        from naive_query_engine_spark.queries import QUERIES

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.corpus = f"{work_dir}/corpus"
        self.names = sorted(q for q in QUERIES if q.split("_")[0] in TPCH)
        if len(self.names) != len(TPCH):
            raise RuntimeError(f"expected {len(TPCH)} TPC-H analogs, found {len(self.names)}")
        self.specs = QUERIES
        self.outputs: dict[str, object] = {}
        self.checks: list[dict] = []
        self.gen_s = 0.0  # input generation after set-up (none here)

    @staticmethod
    def prepare(work_dir: str, seed: int) -> None:
        gen.write_corpus(f"{work_dir}/corpus", seed, OLAP_SF, OLAP_COPIES)

    def setup(self) -> None:
        """Nothing beyond the session: queries read the corpus files directly."""

    def _query(self, name: str, kind: str, p: int) -> None:
        with self.tracer.op(name, kind, p) as rec:
            with self.tracer.layer(rec, "queries"):
                df = self.specs[name].fn(self.spark, self.corpus)
            with self.tracer.layer(rec, "sink"):
                out = df.toPandas()
            rec["rows"] = len(out)
        if rec["error"] is None and kind == "cold":
            self.outputs[name] = out
        elif rec["error"] is None:
            why = check.frames_match(out, self.outputs[name]) if name in self.outputs else "no cold output"
            self.checks.append({"what": f"{name} pass {p} warm == cold", "error": why})

    def run_pass(self, p: int, kind: str) -> None:
        """One pass over the 22 queries, in an order seeded by the half."""
        half = self.tracer.half
        for i in np.random.default_rng([self.seed, half]).permutation(len(self.names)):
            self._query(self.names[i], kind, half)

    def check(self) -> list[dict]:
        con = check.corpus_connection(self.corpus)
        try:
            for name, out in self.outputs.items():
                want = con.execute(self.specs[name].oracle).fetchdf()
                self.checks.append({"what": f"{name} vs DuckDB", "error": check.frames_match(out, want)})
        finally:
            con.close()
        return self.checks


class Curation:
    """Each pass receives a corpus the session has never seen.  Its cold
    half runs ``CURATION_OPS`` on it and ingests the corpus's micro-batch
    into the maintained state: ``upsert`` of new vectors into the IVF
    index, a ``lookup`` of their neighbours through ``NaiveDB.run_sql``,
    and a ``merge`` of a change slice of orders into a parquet table.  Its
    warm half runs ``CURATION_OPS`` again on the same corpus."""

    name = "curation"
    #: every cold half gets a new corpus; two warm halves follow each, so
    #: the warm figure is their mean (a third half would cost ~3 s of the
    #: run budget and, for Gaussian noise, lower its spread no further)
    fresh_corpus = True
    warm_halves = 2

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        from naive_query_engine_spark.engine import NaiveDB
        from naive_query_engine_spark.queries import QUERIES

        self.spark, self.tracer, self.seed, self.work_dir = spark, tracer, seed, work_dir
        self.specs = QUERIES
        self.db = NaiveDB(spark)
        self.orders = f"{work_dir}/ingest/orders"
        self.cold: dict[tuple[int, str], object] = {}
        self.checks: list[dict] = []
        self.cdc_paths: list[str] = []
        self.arrival_paths: list[str] = []
        self.gen_s = 0.0  # input generation after set-up: each pass's corpus

    # -- inputs -----------------------------------------------------------
    @staticmethod
    def prepare(work_dir: str, seed: int) -> None:
        """The index's base vectors and the orders table the merges update."""
        rng = np.random.default_rng([seed, 0])
        vec, lab = gen.embedding_vectors(rng, gen.rows("embeddings", CURATION_SF))
        gen.write(gen.embeddings_table(vec, lab), f"{work_dir}/ingest/base.parquet")
        orders = gen.tpch_tables(rng, CURATION_SF)["orders"]
        gen.write(orders, f"{work_dir}/ingest/orders_initial.parquet")
        gen.write(orders, f"{work_dir}/ingest/orders/part-00000.parquet")

    def _prepare_pass(self, p: int) -> str:
        """Pass ``p``'s corpus, new vectors and change slice."""
        t0 = time.perf_counter()
        d = f"{self.work_dir}/pass{p}"
        gen.write_corpus(f"{d}/corpus", self.seed * 1000 + p + 1, CURATION_SF)
        rng = np.random.default_rng([self.seed, p + 1])
        vec, lab = gen.embedding_vectors(rng, ARRIVALS)
        first = gen.rows("embeddings", CURATION_SF) + p * ARRIVALS
        self.arrival_paths.append(f"{d}/arrivals.parquet")
        gen.write(gen.embeddings_table(vec, lab, first), self.arrival_paths[-1])
        self.cdc_paths.append(f"{d}/cdc.parquet")
        gen.write_cdc(self.cdc_paths[-1], pq.read_table(f"{self.work_dir}/ingest/orders_initial.parquet"), rng)
        self.gen_s += time.perf_counter() - t0
        return f"{d}/corpus"

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        """Build the maintained IVF index over the base vectors."""
        from naive_query_engine_spark.operators.kmeans import build_ivf_vector_index

        base = self.spark.read.parquet(f"{self.work_dir}/ingest/base.parquet")
        build_ivf_vector_index(self.spark, base.select("vec_id", "embedding"), INDEX,
                               k_cells=INDEX_CELLS)

    # -- operations -----------------------------------------------------------
    def _curate(self, name: str, corpus: str, kind: str, p: int) -> None:
        with self.tracer.op(name, kind, p) as rec:
            with self.tracer.layer(rec, "queries"):
                df = self.specs[name].fn(self.spark, corpus)
            with self.tracer.layer(rec, "sink"):
                out = df.toPandas()
            rec["rows"] = len(out)
        if rec["error"] is None and kind == "cold":
            self.cold[(p, name)] = (corpus, out)
        elif rec["error"] is None:
            cold = self.cold.get((p, name))
            why = check.frames_match(out, cold[1]) if cold else "no cold output"
            self.checks.append({"what": f"{name} pass {p} warm == cold", "error": why})

    def _upsert(self, p: int) -> None:
        from naive_query_engine_spark.operators.kmeans import upsert_ivf_vector_index

        with self.tracer.op("upsert", "cold", p) as rec:
            arrivals = self.spark.read.parquet(self.arrival_paths[p]).select("vec_id", "embedding")
            with self.tracer.layer(rec, "kmeans"):
                res = upsert_ivf_vector_index(self.spark, INDEX, arrivals)
            rec["result"] = {
                "n_arrivals": res["n_arrivals"],
                "touched_cells": len(res["touched_cells"]),
                "index_cells": INDEX_CELLS,
                "edges_written": res["n_edges_written"],
                "compacted_cells": len(res["compacted_cells"]),
            }
            if res["n_arrivals"] != ARRIVALS:
                raise RuntimeError(f"upsert took {res['n_arrivals']} of {ARRIVALS} arrivals")
        wh = f"{self.work_dir}/warehouse"
        rec["files_written"] = files_since(f"{wh}/{INDEX}", rec["start"]) + files_since(
            f"{wh}/{INDEX}_assign", rec["start"]
        )

    def _lookup(self, p: int) -> None:
        rng = np.random.default_rng([self.seed, p, 2])
        first = gen.rows("embeddings", CURATION_SF) + p * ARRIVALS
        ids = list(range(first, first + ARRIVALS)) + sorted(
            rng.choice(gen.rows("embeddings", CURATION_SF), LOOKUP_EXTRA, replace=False).tolist()
        )
        sql = f"SELECT vec_a, vec_b FROM {INDEX} WHERE vec_a IN ({', '.join(map(str, ids))})"
        with self.tracer.op("lookup", "cold", p) as rec:
            with self.tracer.layer(rec, "engine"):
                df = self.db.run_sql(sql)
            with self.tracer.layer(rec, "sink"):
                out = df.toPandas()
            rec["rows"] = len(out)
        if rec["error"] is None:
            self.checks.append({"what": f"lookup pass {p} vs DuckDB",
                                "error": self._lookup_oracle(sql, out)})

    def _lookup_oracle(self, sql: str, out) -> str | None:
        import duckdb

        wh = f"{self.work_dir}/warehouse/{INDEX}"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW {INDEX} AS SELECT * FROM read_parquet("
                        f"'{wh}/*/*.parquet', hive_partitioning = true)")
            return check.frames_match(out, con.execute(sql).fetchdf())
        finally:
            con.close()

    def _merge(self, p: int) -> None:
        from naive_query_engine_spark import sources

        with self.tracer.op("merge", "cold", p) as rec:
            with self.tracer.layer(rec, "sources"):
                cdc = self.spark.read.parquet(self.cdc_paths[p])
                sources.merge_upsert(self.spark, self.orders, cdc, ["o_orderkey"])
        rec["files_written"] = files_since(self.orders, rec["start"])

    def run_pass(self, p: int, kind: str) -> None:
        """The cold half on a new corpus ``p``, or a warm half on it."""
        corpus = self._prepare_pass(p) if kind == "cold" else f"{self.work_dir}/pass{p}/corpus"
        for name in CURATION_OPS:
            self._curate(name, corpus, kind, p)
        if kind == "cold":
            self._upsert(p)
            self._lookup(p)
            self._merge(p)

    # -- checks ---------------------------------------------------------------
    def check(self) -> list[dict]:
        for (p, name), (corpus, out) in sorted(self.cold.items()):
            con = check.corpus_connection(corpus)
            try:
                want = con.execute(self.specs[name].oracle).fetchdf()
            finally:
                con.close()
            self.checks.append({"what": f"{name} pass {p} vs DuckDB",
                                "error": check.frames_match(out, want)})
        self.checks.append({"what": "merged orders vs DuckDB", "error": self._check_orders()})
        self.checks.append({"what": "maintained index == rebuild", "error": self._check_index()})
        return self.checks

    def _check_orders(self) -> str | None:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE want AS SELECT * FROM read_parquet("
                        f"'{self.work_dir}/ingest/orders_initial.parquet')")
            for path in self.cdc_paths:
                con.execute(f"DELETE FROM want WHERE o_orderkey IN "
                            f"(SELECT o_orderkey FROM read_parquet('{path}'))")
                con.execute(f"INSERT INTO want SELECT * FROM read_parquet('{path}')")
            got = con.execute(f"SELECT * FROM read_parquet('{self.orders}/*.parquet')").fetchdf()
            return check.frames_match(got, con.execute("SELECT * FROM want").fetchdf())
        finally:
            con.close()

    def _check_index(self) -> str | None:
        """The maintained edges and assignment, read from their files,
        equal a from-scratch numpy build over every vector under the
        index's frozen centroids."""
        import duckdb

        wh = f"{self.work_dir}/warehouse/{INDEX}"
        con = duckdb.connect()
        try:
            cent = con.execute(f"SELECT c_label, centroid FROM read_parquet('{wh}_centroids/*.parquet') "
                               "ORDER BY c_label").fetchall()
            top_k = con.execute(f"SELECT top_k FROM read_parquet('{wh}_conf/*.parquet')").fetchone()[0]
            edges = set(con.execute(f"SELECT vec_a, vec_b, cell FROM read_parquet('{wh}/*/*.parquet', "
                                    "hive_partitioning = true)").fetchall())
            assign = dict(con.execute(f"SELECT vec_id, cell FROM read_parquet('{wh}_assign/*/*.parquet', "
                                      "hive_partitioning = true)").fetchall())
        finally:
            con.close()
        vecs = pq.read_table(f"{self.work_dir}/ingest/base.parquet")
        for path in self.arrival_paths:
            vecs = pa.concat_tables([vecs, pq.read_table(path)])
        ids = vecs["vec_id"].to_numpy()
        want_assign, want_edges = ivf_rebuild(
            ids, np.stack(vecs["embedding"].to_numpy(zero_copy_only=False)),
            [c for _, c in cent], [label for label, _ in cent], top_k,
        )
        if assign != want_assign:
            return f"assignment: {len(assign)} maintained vs {len(want_assign)} rebuilt rows"
        if not edges or edges != want_edges:
            return f"edges: {len(edges)} maintained vs {len(want_edges)} rebuilt, {len(edges ^ want_edges)} differ"
        return None


def ivf_rebuild(ids, vectors, centroids, labels, top_k: int):
    """Reference IVF index state: quantize (floor(v * 1e6)), assign each
    vector to its nearest centroid by exact integer L2 (lowest label on a
    tie), and keep the mutual top-``top_k`` cosine pairs within each cell
    (ranked by cosine descending, then neighbour id)."""
    q = np.floor(vectors.astype(np.float64) * QUANT).astype(np.int64)
    cents = np.array(centroids, dtype=np.int64)
    d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = np.array(labels)[np.argmin(d2, axis=1)]
    norm = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    top: dict[int, set] = {}
    for c in np.unique(cell):
        members = np.flatnonzero(cell == c)
        dots = (q[members] @ q[members].T).astype(np.float64)
        cos = dots / (norm[members][:, None] * norm[members][None, :])
        for i, a in enumerate(members):
            ranked = sorted((-cos[i, j], int(ids[b])) for j, b in enumerate(members) if b != a)
            top[int(ids[a])] = {b for _, b in ranked[:top_k]}
    cell_of = {int(i): int(c) for i, c in zip(ids, cell)}
    edges = {(a, b, cell_of[a]) for a, nb in top.items() for b in nb if a < b and a in top.get(b, ())}
    return cell_of, edges


WORKLOADS = {w.name: w for w in (Olap, Curation)}


def files_since(path: str, t: float) -> int:
    """Parquet files under ``path`` last modified at or after ``t``."""
    n = 0
    for root, _, files in os.walk(path):
        n += sum(
            1 for f in files
            if f.endswith(".parquet") and os.path.getmtime(os.path.join(root, f)) >= t
        )
    return n
