"""Session factory confs that only take effect at session build, and the
driver JVM's class-data-sharing archive."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_warm_round(spark):
    # 150 plans whose literals are inlined into the generated code, so
    # each one is a distinct whole-stage class: more than Spark's default
    # cache of 100, fewer than get_spark's maxEntries.
    plans = [spark.range(8).selectExpr(f"id * {i} + {i}") for i in range(150)]

    def run():
        for df in plans:
            df.write.format("noop").mode("overwrite").save()

    run()
    warm = _compiles(spark)
    run()
    assert _compiles(spark) == warm


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One get_spark session per process; it prints what it saw, then waits
# for a line on stdin before exiting (a miss builds the archive at exit).
_CHILD = r"""
import json, os, sys
from data_integration_and_visualization_uc3m_spark.session import get_spark
spark = get_spark("archive-lifecycle", master="local[1]", shuffle_partitions=1)
conf = spark.sparkContext.getConf()
print(json.dumps({
    "rows": spark.range(7).count(),
    "java_options": conf.get("spark.driver.extraJavaOptions", ""),
    "probe": conf.get("spark.graft.probe", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}), flush=True)
sys.stdin.readline()
"""


def _start(env):
    return subprocess.Popen(
        [sys.executable, "-c", _CHILD], cwd=env["XDG_CACHE_HOME"], env=env, text=True,
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )


def _report(proc):
    return json.loads(proc.stdout.readline())


def _finish(proc):
    proc.stdin.write("\n")
    proc.stdin.close()
    assert proc.wait(timeout=300) == 0


def _run(env):
    proc = _start(env)
    report = _report(proc)
    _finish(proc)
    return report


def _archives(cache):
    return sorted(glob.glob(os.path.join(cache, "*.jsa")))


def _complete(path):
    return path.endswith(f"-{os.path.getsize(path)}.jsa")


def test_archive_lifecycle(tmp_path):
    cache = str(tmp_path / "xdg" / "spark_graft")
    templates = tmp_path / "conf-templates"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("spark.graft.probe t\n")
    logs = tmp_path / "class-load"
    logs.mkdir()
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")}
    (tmp_path / "xdg").mkdir()
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "XDG_CACHE_HOME": str(tmp_path / "xdg"),
        "SPARK_CONF_DIR": str(templates),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "JDK_JAVA_OPTIONS": f"-Xlog:class+load=info:file={logs}/%p.log",
    })

    # Two concurrent misses start as without an archive and build one
    # as they exit: nothing is published while they run, and each
    # published file is whole from the moment it appears.
    first, second = _start(env), _start(env)
    for report in (_report(first), _report(second)):
        assert report["rows"] == 7
        assert "Archive" not in report["java_options"]
        assert report["conf_dir"] == str(templates)
    assert _archives(cache) == []
    for proc in (first, second):
        proc.stdin.write("\n")
        proc.stdin.close()
    deadline = time.monotonic() + 600
    while first.poll() is None or second.poll() is None:
        assert time.monotonic() < deadline
        for path in _archives(cache):
            try:
                assert _complete(path), path
            except FileNotFoundError:
                pass  # replaced by the other publisher
        time.sleep(0.05)
    assert first.returncode == second.returncode == 0
    [archive] = _archives(cache)
    assert _complete(archive)
    assert glob.glob(os.path.join(cache, "*.tmp")) == []

    # A hit maps the archive: Spark's classes load from it.
    for log in logs.iterdir():
        log.unlink()
    report = _run(env)
    assert f'-XX:SharedArchiveFile="{archive}"' in report["java_options"]
    assert report["conf_dir"] == str(templates)
    sources = [line for log in logs.iterdir() for line in log.read_text().splitlines()
               if " org.apache.spark.SparkContext source:" in line]
    assert len(sources) == 1
    assert sources[0].endswith("source: shared objects file (top)")

    # A truncated archive is never mapped (the JVM would die of SIGBUS):
    # the session starts as a miss and publishes a whole one. The
    # truncated file replaces the archive rather than cutting it in
    # place, which would crash the previous JVM if it still maps it.
    with open(archive, "rb") as whole:
        (tmp_path / "cut").write_bytes(whole.read(os.path.getsize(archive) // 2))
    os.replace(tmp_path / "cut", archive)
    report = _run(env)
    assert report["rows"] == 7
    assert "Archive" not in report["java_options"]
    [archive] = _archives(cache)
    assert _complete(archive)

    # A conf directory holding a real file keeps its setting, and the
    # JVM starts without the archive.
    real = tmp_path / "conf-real"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("spark.graft.probe applied\n")
    inode = os.stat(archive).st_ino
    report = _run({**env, "SPARK_CONF_DIR": str(real)})
    assert report["rows"] == 7
    assert report["probe"] == "applied"
    assert "Archive" not in report["java_options"]
    assert report["conf_dir"] == str(real)
    assert _archives(cache) == [archive] and os.stat(archive).st_ino == inode
