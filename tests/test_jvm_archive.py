"""Lifecycle of the driver JVM's class-data archive (session._archive_launch).

Each launch runs ``get_spark`` in a fresh Python process with its own
``XDG_CACHE_HOME``, so the archive cache here is private to the test and
the shared test session is untouched. Five driver JVMs in all.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs one driver JVM through get_spark and prints what it saw. "owner"
# ends it with session.stop_spark; "harness" waits for the JVM the way a
# benchmark harness does, without promoting anything.
SCRIPT = r"""
import json, sys
from pyspark import SparkContext
from cds_etl_spark import session

spark = session.get_spark("jvm_archive_test", cores=1)
jvm = spark.sparkContext._jvm
out = {
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "rows": spark.range(2000).selectExpr("sum(id * id) AS s").collect()[0][0],
    "conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "probe": jvm.java.lang.System.getProperty("cds_etl_spark.probe"),
    "counters": session.jvm_counters(spark),
}
gateway = SparkContext._gateway
out["pid"] = gateway.proc.pid
if sys.argv[1] == "owner":
    out["exit"] = session.stop_spark(spark)
else:
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    out["exit"] = gateway.proc.wait()
print("RESULT " + json.dumps(out))
"""

EXPECTED_ROWS = sum(i * i for i in range(2000))


def launch(cache, mode, heap="1g", **env):
    e = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM=heap)
    e.pop("PYSPARK_SUBMIT_ARGS", None)
    e.update(env)
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT, mode], cwd=ROOT, env=e,
        capture_output=True, text=True, timeout=240,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "[cds]" not in done.stdout
    line = [ln for ln in done.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    assert out["exit"] == 0 and out["rows"] == EXPECTED_ROWS
    return out


def files(cache):
    d = os.path.join(cache, "cds_etl_spark")
    return sorted(n for n in os.listdir(d) if n != "conf")


def archive_args(out):
    return [a for a in out["args"] if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]


def test_archive_lifecycle(tmp_path):
    cache = tmp_path / "xdg"
    d = cache / "cds_etl_spark"

    # No archive: a normal start that dumps; its owner promotes the dump.
    first = launch(cache, "owner")
    [dump] = archive_args(first)
    assert dump.startswith("-XX:ArchiveClassesAtExit=") and dump.endswith(".part")
    assert first["conf_dir"] == str(d / "conf")
    assert first["counters"]["shared_archive"] == ""
    [jsa1] = glob.glob(str(d / "*.jsa"))
    key1 = os.path.basename(jsa1)[: -len(".jsa")]
    assert files(cache) == [f"{key1}.cp", f"{key1}.jsa", f"{key1}.ok"]

    # A changed key (the heap size) dumps again; a harness that only
    # waits for the JVM leaves the dump unpromoted, and the old archive stays.
    second = launch(cache, "harness", heap="2g")
    [dump] = archive_args(second)
    part = dump.split("=", 1)[1]
    key2 = os.path.basename(part).split(".", 1)[0]
    assert key2 != key1 and os.path.exists(part) and os.path.exists(jsa1)

    # The next start proves the dump by a trial, promotes it, deletes the
    # old key's files, and maps the archive.
    log = tmp_path / "classload-%p.log"
    third = launch(
        cache, "harness", heap="2g",
        JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}",
    )
    jsa2 = str(d / f"{key2}.jsa")
    assert archive_args(third) == [f"-XX:SharedArchiveFile={jsa2}"]
    assert third["counters"]["shared_archive"] == jsa2
    assert files(cache) == [f"{key2}.cp", f"{key2}.jsa", f"{key2}.ok"]
    with open(tmp_path / f"classload-{third['pid']}.log") as f:
        assert "source: shared objects file (top)" in f.read()

    # A garbage archive and a truncated dump are never given to a JVM:
    # the dump fails its trial and is deleted, the unpromoted archive is
    # deleted, the key is stamped failed, and the JVM starts plainly.
    with open(jsa2, "rb") as f:
        good = f.read()
    truncated = d / f"{key2}.jsa.4242.part"
    truncated.write_bytes(good[: len(good) // 3])
    os.chmod(jsa2, 0o644)  # the JVM writes archives read-only
    with open(jsa2, "r+b") as f:
        f.seek(4096)
        f.write(os.urandom(4096))
    del good
    fourth = launch(cache, "owner", heap="2g")
    assert archive_args(fourth) == [] and fourth["counters"]["shared_archive"] == ""
    assert files(cache) == [f"{key2}.cp", f"{key2}.failed"]


def test_real_conf_dir_is_left_alone(tmp_path):
    """A conf dir with a real spark-defaults.conf: no archive option, the
    user's SPARK_CONF_DIR and extraJavaOptions reach the JVM unchanged."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Dcds_etl_spark.probe=kept\n"
    )
    out = launch(tmp_path / "xdg", "owner", SPARK_CONF_DIR=str(conf))
    assert archive_args(out) == []
    assert out["conf_dir"] == str(conf) and out["probe"] == "kept"
    assert not (tmp_path / "xdg").exists()


@pytest.mark.parametrize("env, skipped", [
    ({}, False),
    ({"PYSPARK_SUBMIT_ARGS": "--driver-java-options -Dcds_etl_spark.probe=kept pyspark-shell"}, True),
    ({"HADOOP_CONF_DIR": "/etc/hadoop"}, True),
])
def test_archive_skipped_for_foreign_launch_settings(tmp_path, env, skipped):
    """Flags placed after get_spark's own, or classpath entries of their
    own, turn the archive off; decided without launching a JVM."""
    e = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), **env)
    for v in ("PYSPARK_SUBMIT_ARGS", "HADOOP_CONF_DIR"):
        if v not in env:
            e.pop(v, None)
    code = "from cds_etl_spark import session; print(session._archive_launch('1g'))"
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=e, capture_output=True, text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert (done.stdout.strip() == "None") == skipped


def test_jvm_counters(spark):
    from cds_etl_spark.session import jvm_counters

    c = jvm_counters(spark)
    assert set(c) == {"jit_compile_s", "classes_loaded", "shared_archive"}
    assert c["jit_compile_s"] >= 0 and c["classes_loaded"] > 0
    assert isinstance(c["shared_archive"], str)


if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
    pytestmark = pytest.mark.skip(reason="no java")
