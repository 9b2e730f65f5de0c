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


def _ram(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_get_spark_sizes_driver_memory_from_ram(monkeypatch):
    """The default driver heap is a quarter of physical RAM, between 1g and
    8g; SPARK_DRIVER_MEMORY and then extra_conf override it."""
    b = _Builder()
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", b)
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    for gib, want in ((15, "3840m"), (64, "8192m"), (2, "1024m")):
        _ram(monkeypatch, gib)
        session.get_spark()
        assert b.conf["spark.driver.memory"] == want
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    session.get_spark()
    assert b.conf["spark.driver.memory"] == "5g"
    session.get_spark(extra_conf={"spark.driver.memory": "3g"})
    assert b.conf["spark.driver.memory"] == "3g"


def test_get_spark_turns_off_call_site_capture(monkeypatch):
    """PySpark's per-Column-call call-site capture is off by default and
    extra_conf turns it back on."""
    b = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", b)
    monkeypatch.setattr(session, "ship_package", lambda spark: None)
    key = "spark.python.sql.dataFrameDebugging.enabled"
    session.get_spark()
    assert b.conf[key] == "false"
    session.get_spark(extra_conf={key: "true"})
    assert b.conf[key] == "true"


def test_ship_package_removes_its_zip_at_exit(tmp_path):
    """The zip handed to addPyFile exists while the driver process runs and
    is gone once it exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import os, sys, types\n"
        "from beats_spark import session\n"
        "seen = []\n"
        "sc = types.SimpleNamespace(addPyFile=seen.append)\n"
        "session.ship_package(types.SimpleNamespace(sparkContext=sc))\n"
        "assert os.path.isfile(seen[0])\n"
        "print(seen[0])\n"
    )
    env = {**os.environ, "PYTHONPATH": repo, "TMPDIR": str(tmp_path)}
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    zip_path = out.stdout.strip()
    assert zip_path.startswith(str(tmp_path)) and zip_path.endswith(".zip")
    assert not os.path.exists(zip_path)
