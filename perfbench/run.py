"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_x8 --seed 1 --seconds 20 --trace 0

One process, one closed-loop client, ``local[nproc]``.  The run writes its
inputs from ``--seed`` (untimed), starts the session and the workload's
set-up (``setup_s``), runs one cold half and its warm halves, then more
passes while fewer than ``--seconds`` have passed (a half is never cut
short), checks every output against DuckDB, and prints every metric by
name with its unit and sample count.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics from the Spark event log
and the benchmark's spans (``--trace 1``).

The only settings passed to the engine are deployment ones: the core
count (``SPARK_GRAFT_CPUS``), a warehouse, local and temp directory per
run, and, when tracing, the event-log keys.  A fuller artifact (host
facts, per-op timings and per-op layer figures) is written to
``.perfbench/artifacts/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import stats, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "op_geomean_s": "s"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.output_mb": "MB",
    "sources.files_written": "count",
    "operators.python_share": "%",
    "operators.python_start_share": "%",
    "operators.python_mb": "MB",
    "memo.cold_jobs": "count",
    "memo.warm_jobs": "count",
    "memo.cached_mb_delta": "MB",
    "memo.cached_mb": "MB",
    "kmeans.touched_cell_share": "%",
    "kmeans.edges_written": "count",
    "kmeans.compacted_cells": "count",
    "engine.run_sql_share": "%",
}
#: engine settings the benchmark may pass: deployment only, never tuning
DEPLOYMENT_KEYS = ("spark.sql.warehouse.dir",)
TRACE_KEYS = (
    "spark.eventLog.enabled",
    "spark.eventLog.dir",
    "spark.eventLog.compress",
    "spark.eventLog.rolling.enabled",
)


def engine_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": f"{run_dir}/warehouse"}
    if traced:
        os.makedirs(f"{run_dir}/events", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def deployment_env(run_dir: str) -> dict[str, str]:
    """Environment for the engine: all cores, and every scratch file of
    Spark, Python and the JVM inside the run directory."""
    for d in ("local", "tmp"):
        os.makedirs(f"{run_dir}/{d}", exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": f"{run_dir}/local",
        "TMPDIR": f"{run_dir}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }


def git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    try:
        with open(f"{ROOT}/.git/HEAD", encoding="utf-8") as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(f"{ROOT}/.git/{head[5:]}", encoding="utf-8") as fh:
                return fh.read().strip()
        return head
    except OSError:
        return "unknown"


def host_facts() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": os.getloadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": git_commit(),
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / trace.MB


def halves(ops: list[dict]) -> tuple[list[list[dict]], list[list[dict]]]:
    """Op records grouped into cold halves and warm halves, in run order."""
    groups: dict[int, list[dict]] = {}
    for r in ops:
        groups.setdefault(r["half"], []).append(r)
    cold = [g for g in groups.values() if g[0]["kind"] == "cold"]
    warm = [g for g in groups.values() if g[0]["kind"] == "warm"]
    return cold, warm


def end_to_end(setup_s: float, ops: list[dict]) -> tuple[dict, dict]:
    cold, warm = halves(ops)
    by_op: dict[str, list[float]] = {}
    for r in ops:
        by_op.setdefault(f"{r['kind']}:{r['op']}", []).append(r["wall_s"])
    walls = [r["wall_s"] for r in ops]
    tail = stats.supported_percentile(len(walls))
    values = {
        "setup_s": setup_s,
        "cold_pass_s": statistics.median(sum(r["wall_s"] for r in g) for g in cold),
        "warm_pass_s": statistics.median(sum(r["wall_s"] for r in g) for g in warm),
        "op_geomean_s": stats.geomean([statistics.median(v) for v in by_op.values()]),
    }
    samples = {"setup_s": 1, "cold_pass_s": len(cold), "warm_pass_s": len(warm),
               "op_geomean_s": len(walls)}
    summary = {
        "samples": samples,
        "op_latency_s": {"n": len(walls), "p50": stats.percentile(walls, 50),
                         **({f"p{tail}": stats.percentile(walls, tail)} if tail else {})},
        "op_median_s": {k: statistics.median(v) for k, v in sorted(by_op.items())},
    }
    return values, summary


def per_layer(workload: str, session_s: float, ops: list[dict], events: dict,
              cache: dict) -> tuple[dict, list[dict]]:
    """Per-layer figures over the first cold and the first warm half."""
    cold, warm = halves(ops)
    scope = cold[0] + warm[0]
    rows = []
    for r in scope:
        layers = trace.op_layers(workload, r, events)
        rows.append({"op": r["op"], "kind": r["kind"], "half": r["half"], "wall_s": r["wall_s"],
                     "span_s": r["layers"], **layers})
    tot = {f: sum(x["total"].get(f, 0.0) for x in rows) for f in trace.TASK_FIELDS}

    def jobs(sel):
        return sum(x["total"].get("jobs", 0) for x in rows if sel(x))

    def share(part, whole):
        return 100.0 * part / whole if whole else 0.0

    upserts = [r["result"] for r in scope if r["op"] == "upsert" and "result" in r]
    lookups = [r for r in scope if r["op"] == "lookup"]
    m = {
        "session.start_s": session_s,
        "queries.build_s": sum(r["layers"].get("queries", 0.0) for r in scope),
        "queries.build_jobs": sum(x["layers"].get("queries", {}).get("jobs", 0) for x in rows),
        "spark.jobs": jobs(lambda x: True),
        "spark.stages": sum(x["total"].get("stages", 0) for x in rows),
        "spark.task_run_s": tot["task_run_s"],
        "spark.task_cpu_s": tot["task_cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_read_mb": tot["shuffle_read_mb"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.spill_mb": tot["spill_mb"],
        "spark.idle_s": sum(x["idle_s"] for x in rows),
        "sources.input_mb": tot["input_mb"],
        "sources.input_rows": tot["input_rows"],
        "sources.output_mb": tot["output_mb"],
        "sources.files_written": sum(r.get("files_written", 0) for r in scope),
        "operators.python_share": share(tot["python_run_s"], tot["task_run_s"]),
        "operators.python_start_share": share(tot["python_start_s"], tot["task_run_s"]),
        "operators.python_mb": tot["python_mb"],
        "memo.cold_jobs": jobs(lambda x: x["kind"] == "cold"),
        "memo.warm_jobs": jobs(lambda x: x["kind"] == "warm"),
        "memo.cached_mb_delta": cache["after_cold"] - cache["before_cold"],
        "memo.cached_mb": cache["end"],
        "kmeans.touched_cell_share": share(sum(u["touched_cells"] for u in upserts),
                                           sum(u["index_cells"] for u in upserts)),
        "kmeans.edges_written": sum(u["edges_written"] for u in upserts),
        "kmeans.compacted_cells": sum(u["compacted_cells"] for u in upserts),
        "engine.run_sql_share": share(sum(r["layers"].get("engine", 0.0) for r in lookups),
                                      sum(r["wall_s"] for r in lookups)),
    }
    return m, rows


def tracing_overhead(workload: str, seed: int, values: dict) -> dict | None:
    """Traced minus untraced end-to-end, against the untraced artifact of
    the same workload and seed in the checkout (None when there is none)."""
    try:
        with open(f"{WORK}/artifacts/{workload}-trace0.json", encoding="utf-8") as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        return None
    if base.get("seed") != seed:
        return None
    return {k: values[k] - base["end_to_end"][k] for k in ("cold_pass_s", "warm_pass_s", "op_geomean_s")}


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = f"{WORK}/runs/{run_id}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(deployment_env(run_dir))
    facts = host_facts()
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare(run_dir, args.seed)
        gen_s = time.perf_counter() - t0

        from naive_query_engine_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=engine_conf(run_dir, args.trace))
        session_s = time.perf_counter() - t0
        tracer = trace.Tracer(args.workload, run_id, spark.sparkContext, bool(args.trace))
        w = wl(spark, tracer, run_dir, args.seed)
        t1 = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t0
        workload_setup_s = time.perf_counter() - t1

        cache = {"before_cold": cached_mb(spark)}
        begin = time.perf_counter()
        corpus = 0
        w.run_pass(corpus, "cold")
        cache["after_cold"] = cached_mb(spark)
        while True:
            for _ in range(w.warm_halves):
                tracer.half += 1
                w.run_pass(corpus, "warm")
            if time.perf_counter() - begin >= args.seconds:
                break
            if w.fresh_corpus:
                corpus += 1
                tracer.half += 1
                w.run_pass(corpus, "cold")
        timed_s = time.perf_counter() - begin
        cache["end"] = cached_mb(spark)
        t0 = time.perf_counter()
        checks = w.check()
        check_s = time.perf_counter() - t0
        stop_spark(spark)
        spark = None

        ops = tracer.ops
        for r in ops:
            if r["error"]:
                checks.append({"what": f"{trace.op_tag(r)} ran", "error": r["error"]})
        values, summary = end_to_end(setup_s, ops)
        result = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": facts, "gen_s": gen_s + w.gen_s, "session_start_s": session_s,
            "workload_setup_s": workload_setup_s, "timed_s": timed_s, "check_s": check_s,
            "end_to_end": values, "summary": summary, "checks": checks,
            "ops": ops,
        }
        if args.trace:
            logs = os.listdir(f"{run_dir}/events")
            with open(f"{run_dir}/events/{logs[0]}", encoding="utf-8") as fh:
                events = trace.parse_event_log(fh)
            layer_values, rows = per_layer(args.workload, session_s, ops, events, cache)
            result.update({
                "per_layer": layer_values, "per_op_layers": rows,
                "self_s": trace.self_times(tracer.spans), "spans": tracer.spans,
                "tracing_overhead_s": tracing_overhead(args.workload, args.seed, values),
            })
        facts["loadavg_after"] = os.getloadavg()
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(f"{ROOT}/naive_query_engine_spark/__init__.py"):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    os.makedirs(f"{WORK}/artifacts", exist_ok=True)
    with open(f"{WORK}/artifacts/{args.workload}-trace{args.trace}.json", "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, default=str)

    failed = [c for c in result["checks"] if c["error"]]
    for c in failed:
        print(f"check failed: {c['what']}: {c['error']}")
    n = result["summary"]["samples"]
    for k, v in result["end_to_end"].items():
        print(f"{k} = {v:.4f} {END_TO_END_UNITS[k]} (samples: {n[k]})")
    lat = result["summary"]["op_latency_s"]
    print("op latency s: " + ", ".join(f"{k}={v:.4f}" if k != "n" else f"n={v}" for k, v in lat.items()))
    if args.trace:
        for k, v in result["per_layer"].items():
            print(f"{k} = {v:.4f} {PER_LAYER_UNITS[k]}")
        print(f"tracing overhead s: {result['tracing_overhead_s']}")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result["end_to_end"].items()}
    attempted = len(result["checks"])
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
