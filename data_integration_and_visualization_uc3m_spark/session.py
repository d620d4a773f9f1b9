"""SparkSession factory tuned for both local testing and cluster scale.

The reference is a single-threaded pandas process
(``crime_immigration_etl.py:385-406``); here the execution substrate is
Spark, so the session carries the scale-relevant configuration:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — this is what lets the same plan run at sf0.001
  and at 100 TB without code changes.
- ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a
  real cluster AQE coalesces from a deliberately-high initial number.
- Arrow enabled for any pandas interop (XLSX bridge, ``toPandas`` egress).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) and are cluster-location-independent.

Driver JVM start-up from a class-data-sharing archive. Starting the
driver JVM is most of :func:`get_spark`'s wall time (6.4–8.4 s on
4 vCPU). When ``get_spark`` launches the JVM itself, it starts it from
an application class-data-sharing (AppCDS) archive, which cuts that
start by more than half:

- The archive lives in ``$XDG_CACHE_HOME/spark_graft/`` (by default
  ``~/.cache/spark_graft/``) as ``spark-<key>-<bytes>.jsa``, about
  170 MB. So the engine now writes outside the checkout, once per user.
  ``<key>`` hashes the Java runtime (``java.home`` and its ``release``
  file) and the launch classpath (each Spark jar's name, size and
  mtime). ``<bytes>`` is the archive's size, so a truncated file is
  never mapped: the JVM dies of ``SIGBUS`` on one.
- On a miss the session starts as it would without an archive. At
  interpreter exit a child process runs a short session whose JVM has
  ``-XX:ArchiveClassesAtExit`` set and dumps its classes into a staging
  file as it exits, which adds 25–30 s to that exit. A JVM that records
  its classes starts about a third slower, which is why the caller's
  own JVM never does. The staging file is renamed into place only if
  the JVM exited cleanly. The rename is atomic, so a reader never maps
  a partial archive. The same locked step deletes every other archive,
  so a Spark or JDK upgrade leaves one archive, not two.
- CDS refuses a classpath holding a non-empty directory. The conf
  directories on it (``SPARK_CONF_DIR`` or ``$SPARK_HOME/conf``, plus
  ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` when set) usually hold only
  ``*.template`` files. So the archive is built and used with them
  pointed at an empty directory in the cache, and the caller's
  environment is restored once the gateway is up. When one holds a
  real file, when ``SPARK_DIST_CLASSPATH`` is set, or when the cache
  cannot be written, the JVM starts as it would without the archive.
- To clear the cache, delete the directory
  (``rm -r ~/.cache/spark_graft``); the next session rebuilds it.
  Delete, never truncate or rewrite the file in place: running JVMs map
  it, and cutting it under them kills them with ``SIGBUS``. A JVM that
  finds the archive unusable (say, a classpath that no longer matches)
  starts without it.

A driver-owned session (one the caller built, or a ``spark-submit``
whose gateway already runs) gets none of this, as with
``spark.sql.codegen.cache.maxEntries``: its JVM is already up.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session.

    Used both by :func:`get_spark` and defensively on driver-provided
    sessions (the harness constructs its own ``SparkSession``).
    Only touches confs that are safe to set at runtime.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The testdata events table stores ts as parquet TIMESTAMP(NANOS),
    # which Spark cannot map natively (PARQUET_TYPE_ILLEGAL). Read the
    # raw int64 nanos and convert with exact integer division (see
    # sources.readers.load_table) — same truncation DuckDB applies.
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "spark_graft")


def _templates_only(path: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(path))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _launch_key(spark_home: str) -> str | None:
    """Hash of the Java runtime the launcher will run and of the jars on
    its classpath; None when either cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    java_home = os.path.realpath(java_home)
    digest = hashlib.sha256(java_home.encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as release:
            digest.update(release.read())
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        for jar in jars:
            st = jar.stat()
            digest.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _shared_archive(cache: str) -> tuple[str | None, dict[str, str]]:
    """The class-data-sharing archive in ``cache`` to start the driver
    JVM from, and the environment its classpath needs. On a miss the
    archive is built at interpreter exit and this start gets
    ``(None, {})``, as does a launch whose classpath cannot be shared."""
    dirs = {
        v: os.environ[v]
        for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
        if os.environ.get(v)
    }
    spark_home = _find_spark_home()
    dirs.setdefault("SPARK_CONF_DIR", os.path.join(spark_home, "conf"))
    if os.environ.get("SPARK_DIST_CLASSPATH") or not all(
        map(_templates_only, dirs.values())
    ):
        return None, {}
    key = _launch_key(spark_home)
    if key is None or '"' in cache:  # the JVM option quotes the path
        return None, {}
    empty = os.path.join(cache, "empty-conf")
    env = {v: empty for v in dirs}
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK | os.X_OK):
            return None, {}
        for path in glob.glob(os.path.join(cache, f"spark-{key}-*.jsa")):
            if path.endswith(f"-{os.path.getsize(path)}.jsa"):
                return path, env
            os.remove(path)  # truncated: mapping it would crash the JVM
        for path in glob.glob(os.path.join(cache, "spark-*.*.tmp")):
            pid = path.rsplit(".", 2)[1]
            if pid.isdigit() and not _pid_alive(int(pid)):
                os.remove(path)  # left by a process that died before publishing
    except OSError:
        return None, {}
    atexit.register(_build_at_exit, cache, key, env)
    return None, {}


def _build_archive(staging: str) -> int:
    """Run a short session whose JVM dumps the classes it loaded into
    ``staging`` as it exits, and return the JVM's exit status. The
    session starts, and plans and runs a parquet round trip, an
    Arrow-built local relation, a broadcast join, an aggregate and a
    window."""
    import tempfile

    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    option = f'-XX:ArchiveClassesAtExit="{staging}"'
    builder = _builder("archive", "local[1]", 1)
    spark = tune(builder.config("spark.driver.extraJavaOptions", option).getOrCreate())
    with tempfile.TemporaryDirectory() as root:
        spark.range(1000).selectExpr(
            "id", "id % 7 AS k", "CAST(id AS STRING) AS s", "id / 3.0 AS d"
        ).write.parquet(root + "/t")
        t = spark.read.parquet(root + "/t")
        keys = spark.createDataFrame(pa.table({"k": list(range(7))}))
        out = (
            t.join(F.broadcast(keys), "k")
            .join(t.groupBy("k").agg(F.sum("d").alias("sd")), "k")
            .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        )
        out.write.format("noop").mode("overwrite").save()
        out.toPandas()
    proc = SparkContext._gateway.proc
    proc.stdin.close()  # the gateway exits on EOF, and the JVM dumps
    return proc.wait(timeout=120)


def _build_at_exit(cache: str, key: str, env: dict[str, str]) -> None:
    """Build the archive in a child process, then publish it with an
    atomic rename, so a reader never maps a partial file, and delete
    every other archive. A JVM that records its classes starts about a
    third slower, so the caller's own JVM never does."""
    staging = os.path.join(cache, f"spark-{key}.{os.getpid()}.tmp")
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    build = (
        f"import sys\nsys.path.insert(0, {package_root!r})\n"
        f"from {__name__} import _build_archive\n"
        f"raise SystemExit(_build_archive({staging!r}))"
    )
    try:
        # stdout too: the dump warns there about each class it cannot archive
        built = subprocess.run(
            [sys.executable, "-c", build],
            cwd=cache, env={**os.environ, **env}, timeout=300, stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        ).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        built = False
    try:
        if not built:
            os.remove(staging)
            return
        final = os.path.join(cache, f"spark-{key}-{os.path.getsize(staging)}.jsa")
        with open(os.path.join(cache, "publish.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            os.replace(staging, final)
            for path in glob.glob(os.path.join(cache, "spark-*.jsa")):
                if path != final:
                    os.remove(path)
    except OSError:
        pass


def _builder(app_name: str, master: str | None, shuffle_partitions: int | None):
    """The session builder with the launch and static confs."""
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{DEFAULT_CPUS}]")
    return (
        builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark keeps at most this many compiled whole-stage codegen
        # classes (default 100). One analytics round needs ~197 and one
        # star pass ~229, so at the default every warm round recompiled
        # them all with Janino and the JIT compiled them again.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )


def get_spark(
    app_name: str = "data_integration_and_visualization_uc3m_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real cluster, leave ``master`` unset and submit
    via ``spark-submit`` so the cluster manager decides.

    The builder carries only launch and static confs; every runtime conf
    comes from :func:`tune`, the one place both this factory and a
    driver-owned session get them. ``spark.sql.codegen.cache.maxEntries``
    is a static SQL conf: it takes effect only on sessions this factory
    builds (the benchmark harnesses and the tests). ``tune`` cannot set
    it, so a driver-owned session keeps Spark's default of 100.
    """
    builder = _builder(app_name, master, shuffle_partitions)
    archive, env = None, {}
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive, env = _shared_archive(_cache_dir())
    if archive is not None:
        builder = builder.config(
            "spark.driver.extraJavaOptions", f'-XX:SharedArchiveFile="{archive}"'
        )
    caller_env = {v: os.environ.get(v) for v in env}
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    finally:
        for v, value in caller_env.items():
            if value is None:
                os.environ.pop(v, None)
            else:
                os.environ[v] = value
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
