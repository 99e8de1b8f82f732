"""The driver JVM's class-data-sharing archive (``session.build_session``).

The unit tests run no JVM: they give ``build_session`` a fake Spark home, JDK
and cache directory and capture what it hands to ``getOrCreate``. The
subprocess test starts real driver JVMs in child processes with their own
cache directory: one records the archive, the next maps it, and one more
starts from the archive with its header zeroed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from metas_judiciarias_etl_spark import session
from metas_judiciarias_etl_spark.session import build_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAGIC = b"\xa8\xab\x0b\xf0"


@pytest.fixture
def fake(tmp_path, monkeypatch):
    """A fake Spark home, JDK and cache; returns what ``getOrCreate`` saw."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"x" * 10)
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    for var in session._CLASSPATH_ENV + ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    seen: dict = {}

    def get_or_create(builder):
        seen["options"] = dict(builder._options)
        seen["SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    seen["home"], seen["java"], seen["cache"] = home, str(jdk / "bin" / "java"), tmp_path / "cache"
    return seen


def test_conf_file_disables_cds(fake, monkeypatch, caplog):
    conf = fake["home"] / "conf"
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    with caplog.at_level("INFO", logger=session.__name__):
        build_session(extra_conf={"spark.driver.extraJavaOptions": "-Dx=1"})
    assert fake["SPARK_CONF_DIR"] == str(conf)
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert "spark.driver.defaultJavaOptions" not in fake["options"]
    assert fake["options"]["spark.driver.extraJavaOptions"] == "-Dx=1"
    assert "holds configuration files" in caplog.text
    assert not (fake["cache"] / "metas-spark").exists()


def test_key_tracks_jar_size_and_mtime(fake):
    jar = fake["home"] / "jars" / "b.jar"
    keys = [session._cds_key(fake["java"], str(fake["home"]))]
    jar.write_bytes(b"x" * 11)
    keys.append(session._cds_key(fake["java"], str(fake["home"])))
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    keys.append(session._cds_key(fake["java"], str(fake["home"])))
    assert len(set(keys)) == 3
    assert session._cds_key(fake["java"], str(fake["home"])) == keys[-1]


def test_only_a_finished_recording_is_promoted(tmp_path):
    stem = str(tmp_path / "spark-k")
    killed = tmp_path / "spark-k.11.tmp"
    killed.write_bytes(bytes(4096))  # a dump cut short: header still zero
    assert session._archive_option(stem) == f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.tmp"
    assert os.listdir(tmp_path) == ["spark-k.11.tmp"]

    (tmp_path / "spark-k.12.tmp").write_bytes(MAGIC + bytes(4092))
    archive = f"{stem}.4096.jsa"
    assert session._archive_option(stem) == f"-XX:SharedArchiveFile={archive}"
    with open(archive, "rb") as fh:
        assert fh.read(4) == MAGIC
    session._archive_option(stem)
    assert os.listdir(tmp_path) == ["spark-k.4096.jsa"]


def test_truncated_archive_is_dropped(tmp_path):
    stem = str(tmp_path / "spark-k")
    with open(f"{stem}.4096.jsa", "wb") as fh:
        fh.write(MAGIC + bytes(1020))
    assert session._archive_option(stem) == f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.tmp"
    assert os.listdir(tmp_path) == []


def test_caller_java_options_reach_the_builder(fake):
    extra = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x -XX:-UsePerfData",
        "spark.driver.defaultJavaOptions": "-Dcaller=1",
    }
    build_session(extra_conf=dict(extra))
    opts = fake["options"]
    assert opts["spark.driver.extraJavaOptions"] == extra["spark.driver.extraJavaOptions"]
    default = opts["spark.driver.defaultJavaOptions"].split()
    assert default[0] == "-Dcaller=1"
    assert "-Xlog:all=warning:stderr" in default
    assert any(o.startswith("-XX:ArchiveClassesAtExit=") for o in default)
    cds = fake["cache"] / "metas-spark" / "cds"
    assert fake["SPARK_CONF_DIR"] == str(cds / "conf")
    assert os.listdir(cds / "conf") == []
    assert "SPARK_CONF_DIR" not in os.environ


CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from metas_judiciarias_etl_spark.session import build_session

spark = build_session(app_name="cds-test", master="local[1]", shuffle_partitions=1, extra_conf={
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[2],
})
jvm = spark._jvm
print(json.dumps({
    "sum": spark.range(1000).selectExpr("sum(id * 3) AS s").first()["s"],
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "classpath": jvm.java.lang.System.getProperty("java.class.path"),
}), flush=True)
spark.stop()
gateway = SparkContext._gateway
proc = gateway.proc
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""


def _child(tmp_path) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    jtmp = tmp_path / "jvm-tmp"
    jtmp.mkdir(exist_ok=True)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, REPO, str(jtmp)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["sum"] == 3 * 999 * 1000 // 2
    assert result["tmpdir"] == str(jtmp)
    return result


def test_record_then_map_then_survive_corruption(tmp_path):
    cds = tmp_path / "cache" / "metas-spark" / "cds"

    first = _child(tmp_path)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    (recording,) = [n for n in os.listdir(cds) if n.endswith(".tmp")]
    with open(cds / recording, "rb") as fh:
        assert fh.read(4) == MAGIC
    size = os.path.getsize(cds / recording)

    second = _child(tmp_path)
    archive = str(cds / f"{recording.split('.')[0]}.{size}.jsa")
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert sorted(os.listdir(cds)) == ["conf", os.path.basename(archive)]
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    mapped = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", "-cp", second["classpath"], "-version"],
        capture_output=True, text=True, timeout=120,
    )
    assert mapped.returncode == 0, mapped.stdout + mapped.stderr

    os.chmod(archive, 0o644)  # the JVM writes its archives read-only
    with open(archive, "r+b") as fh:
        fh.write(bytes(4096))  # a corrupt header: the JVM loads classes normally
    third = _child(tmp_path)
    assert f"-XX:SharedArchiveFile={archive}" in third["args"]
