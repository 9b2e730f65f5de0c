"""get_spark's defaults, checked on the builder calls it makes."""

from beats_spark import session


class _Builder:
    def __init__(self):
        self.master_url = None
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return "session"


def test_get_spark_defaults_to_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the local master uses this host's cores."""
    b = _Builder()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", b)
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    assert session.get_spark() == "session"
    assert b.master_url == "local[3]"
    assert b.conf["spark.sql.shuffle.partitions"] == "3"


def test_get_spark_env_and_explicit_master(monkeypatch):
    b = _Builder()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setattr(session.SparkSession, "builder", b)
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    session.get_spark()
    assert b.master_url == "local[2]"
    session.get_spark(master="local[5]")
    assert b.master_url == "local[5]"
    assert b.conf["spark.sql.shuffle.partitions"] == "5"
