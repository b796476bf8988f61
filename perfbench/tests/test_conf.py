"""The benchmark passes the engine deployment settings only."""

import os
import re

from perfbench import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_engine_conf_holds_deployment_keys_only(tmp_path):
    assert set(run.engine_conf(str(tmp_path), traced=False)) == set(run.DEPLOYMENT_KEYS)
    traced = run.engine_conf(str(tmp_path), traced=True)
    assert set(traced) == set(run.DEPLOYMENT_KEYS) | set(run.TRACE_KEYS)
    assert traced["spark.eventLog.compress"] == "false"
    assert traced["spark.eventLog.rolling.enabled"] == "false"


def test_no_other_spark_key_in_benchmark_sources():
    """Every ``spark.*`` string in the benchmark is a deployment or event-log
    key, a per-layer metric name, or the job-description property read back
    from the event log; no source sets session conf another way."""
    allowed = (set(run.DEPLOYMENT_KEYS) | set(run.TRACE_KEYS) | set(run.PER_LAYER_UNITS)
               | {"spark.job.description"})
    found = set()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), encoding="utf-8") as fh:
                src = fh.read()
            found |= set(re.findall(r"[\"'](spark\.[A-Za-z0-9_.]+)[\"']", src))
            for call in (".conf.set(", ".config(", "SparkSession.builder"):
                assert call not in src, (name, call)
    assert found <= allowed, found - allowed


def test_environment_sets_cores_and_scratch_dirs_only(tmp_path):
    env = run.deployment_env(str(tmp_path))
    assert set(env) == {"SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS"}
    assert env["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))
    assert all(str(tmp_path) in v for k, v in env.items() if k != "SPARK_GRAFT_CPUS")
