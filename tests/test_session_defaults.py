"""Focused tests for session._spark_defaults_value (ADVICE r12 #1).

The parser must honour every java.util.Properties separator style Spark
itself accepts — `key value`, `key=value`, `key = value`, `key: value` —
without ever leaking the separator into the value (a leading '=' would be
prepended into spark.driver.extraJavaOptions and kill the driver JVM).
Pure-Python: no SparkSession needed.
"""

from __future__ import annotations

import naive_query_engine_spark.session as session

KEY = "spark.driver.extraJavaOptions"


def _parse(tmp_path, monkeypatch, line: str) -> str:
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir(exist_ok=True)
    (conf_dir / "spark-defaults.conf").write_text(line + "\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.delenv("SPARK_HOME", raising=False)
    return session._spark_defaults_value(KEY)


def test_whitespace_separator(tmp_path, monkeypatch):
    assert _parse(tmp_path, monkeypatch, f"{KEY} -Xmx4g") == "-Xmx4g"


def test_equals_no_spaces(tmp_path, monkeypatch):
    assert _parse(tmp_path, monkeypatch, f"{KEY}=-Xmx4g") == "-Xmx4g"


def test_equals_with_spaces_does_not_leak_separator(tmp_path, monkeypatch):
    # the ADVICE r12 #1 regression: 'key = value' used to return '= value'
    assert _parse(tmp_path, monkeypatch, f"{KEY} = -Xmx4g") == "-Xmx4g"


def test_colon_separator(tmp_path, monkeypatch):
    assert _parse(tmp_path, monkeypatch, f"{KEY}: -Xmx4g") == "-Xmx4g"


def test_value_containing_equals_is_preserved(tmp_path, monkeypatch):
    # only ONE leading separator may be consumed — a -Dfoo=bar value keeps
    # its '=' and a '=-D...' value loses only the separator
    assert (
        _parse(tmp_path, monkeypatch, f"{KEY} = -Dfoo=bar -Xmx4g")
        == "-Dfoo=bar -Xmx4g"
    )
    assert _parse(tmp_path, monkeypatch, f"{KEY}==x") == "=x"


def test_last_occurrence_wins_and_bare_key_clears(tmp_path, monkeypatch):
    two = f"{KEY} -Xmx2g\n{KEY} = -Xmx8g"
    assert _parse(tmp_path, monkeypatch, two) == "-Xmx8g"
    cleared = f"{KEY} -Xmx2g\n{KEY}"
    assert _parse(tmp_path, monkeypatch, cleared) == ""


def test_prefix_key_is_not_matched(tmp_path, monkeypatch):
    # a longer key sharing the prefix must not be read as ours
    assert _parse(tmp_path, monkeypatch, f"{KEY}.extra -Xmx4g") == ""


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master URL."""

    master_url = None

    def appName(self, _name):
        return self

    def master(self, url):
        _RecordingBuilder.master_url = url
        return self

    def config(self, _key, _value):
        return self

    def getOrCreate(self):
        return None


def test_default_master_uses_every_host_cpu(monkeypatch):
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    assert _RecordingBuilder.master_url == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    session.get_spark()
    assert _RecordingBuilder.master_url == "local[7]"
