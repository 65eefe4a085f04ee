"""SparkSession factory with scale-ready defaults.

The reference engine hand-rolls its runtime (leader election at
file_server/fileserver.py:1075-1079, round-robin task placement at
fileserver.py:340-341, failure rescheduling at fileserver.py:739-790).
All of that is Spark configuration here, not code: AQE re-plans at
runtime, skew joins are auto-split, and shuffle partitioning is sized
for the local harness while remaining overridable for a real cluster.

Driver cold start: the driver JVM starts from a dynamic class-data-
sharing (CDS) archive, so it maps already-parsed Spark classes from one
file instead of loading and verifying them one by one (see
`_class_data_sharing`).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: One dynamic CDS archive per JDK build and Spark jar set, outside the
#: checkout. Deleting the directory is always safe: the next session
#: records a new archive.
CDS_DIR = os.path.join(os.path.expanduser("~"), ".cache", "spark_graft", "cds")

#: First 4 bytes of a finished JDK 17 dynamic archive. The JVM writes
#: the header last, so a dump in progress still starts with zeros.
_CDS_MAGIC = bytes.fromhex("a8ab0bf0")

_JAVA_OPTS = "spark.driver.extraJavaOptions"

#: Recording prints one "Skipping ... Signed JAR" warning per janino
#: class, and a stale archive prints one on rejection; neither matters.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def get_spark(
    app_name: str = "distributed_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) or all
    local cores. On a real cluster, ``master`` comes from spark-submit
    and the local[] default is ignored.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 1)

    # local[N, 3]: up to 3 attempts per task. Plain local[N] runs with
    # maxFailures=1 (any task error fails the job), which hides the
    # failure-recovery semantics the reference hand-rolls (pending-task
    # rescheduling, fileserver.py:739-790) and every real cluster has.
    builder = (
        SparkSession.builder.master(f"local[{cpus}, 3]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join
        # strategy switch — the scale posture for 100 TB inputs.
        #
        # Deliberately NOT set: coalescePartitions.initialPartitionNum.
        # Round 9 shipped it globally at 1024 to fix one super-linear
        # gram shuffle (text_ngram_novelty x1000 slope 2.07 at 32
        # partitions) and it taxed every small exchange in the
        # iterative/many-stage queries 3-4.4x (markov / triangles /
        # pca, bisected in VERDICT r09): each tiny per-round exchange
        # paid 1024 map-side buckets plus AQE re-planning, multiplied
        # by stage count. The engine sizes its compute-expanding
        # exchanges explicitly instead — input-scaled repartition at
        # the exchange that needs width (workload/registry.py
        # wide_shuffle_parts, dedup._pair_shuffle_parts,
        # graph._wedge_shuffle_parts); small exchanges keep the
        # cores-sized default and AQE coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Recursive-CTE scale envelope (session posture, ADVICE r09):
        # cteRecursionRowLimit guards TOTAL emitted rows (default 1M),
        # which a terminating linear recursion outgrows with data size
        # (sql_recursive_hierarchy_rollup first trips it at sf1.0:
        # 200k parts x ~9 digit levels). 100M is the data-size
        # envelope; the actual runaway guard — the depth limit,
        # cteRecursionLevelLimit=100 — stays at its default. Set here
        # rather than inside a query builder so no builder mutates
        # shared-session conf as a side effect (the limit is read at
        # execution time, so restore-after-build is impossible).
        .config("spark.sql.cteRecursionRowLimit", "100000000")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's DataFrame-debugging origin capture walks the Python
        # stack and sends it over py4j on every Column call (24 py4j
        # commands for `F.col("id").alias("a")` against 4 without it),
        # a per-builder driver cost on every query. The trade: analysis
        # errors still raise AnalysisException with the JVM message,
        # but lose the Python `file:line` query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    # Only a launch reads the JVM options; a later call reuses the JVM.
    launch = SparkContext._gateway is None
    with _class_data_sharing(conf) if launch else contextlib.nullcontext():
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _java_release() -> bytes | None:
    """The ``release`` file of the JDK whose java ``spark-class`` runs:
    ``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _cds_key(spark_home: str, release: bytes) -> str:
    """Archive key: the JDK build plus the name, size and mtime of every
    Spark jar. A stale key only costs the gain: the JVM rejects a
    foreign archive and starts normally."""
    h = hashlib.sha256(release)
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"{os.path.basename(jar)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _writer_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _cds_archive(key: str) -> tuple[str | None, bool]:
    """``(archive, recording)`` for ``key`` in `CDS_DIR`.

    First tidies the directory: a finished dump (``<key>.<pid>.tmp``
    starting with the magic) is published with ``os.replace``, temp
    files whose writer is gone are deleted, and so are archives under
    other keys. ``archive`` is the published archive or None;
    ``recording`` tells whether a live process is still recording one,
    in which case this launch neither reads nor records an archive."""
    archive = os.path.join(CDS_DIR, f"{key}.jsa")
    recording = False
    for name in os.listdir(CDS_DIR):
        path = os.path.join(CDS_DIR, name)
        try:
            if name.endswith(".tmp"):
                stem, _, pid = name[: -len(".tmp")].rpartition(".")
                with open(path, "rb") as f:
                    done = f.read(len(_CDS_MAGIC)) == _CDS_MAGIC
                if stem == key and done:
                    os.replace(path, archive)
                elif not pid.isdigit() or not _writer_alive(int(pid)):
                    os.remove(path)
                elif stem == key:
                    recording = True
            elif name.endswith(".jsa") and path != archive:
                os.remove(path)
        except FileNotFoundError:
            pass  # another session published or removed it first
    return (archive if os.path.exists(archive) else None), recording


def _cds_flags(conf_dir: str) -> str | None:
    """Driver JVM options that read or record this box's archive, or
    None to launch without one."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    default_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        # JDK 17 refuses a non-empty directory on the archived class
        # path, and the launcher puts the conf dir first. Swapping in an
        # empty one is only safe while the real one holds templates.
        if any(not n.endswith(".template") for n in os.listdir(default_conf)):
            return None
    except OSError:
        pass
    release = _java_release()
    if release is None:
        return None
    try:
        os.makedirs(conf_dir, exist_ok=True)
        key = _cds_key(spark_home, release)
        archive, recording = _cds_archive(key)
    except OSError:
        return None
    if archive is not None:
        return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}"
    if recording:
        return None
    # Recorded at JVM exit, like JDK 19's -XX:+AutoCreateSharedArchive:
    # the archive holds exactly the classes a real session loads.
    tmp = os.path.join(CDS_DIR, f"{key}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp} {_CDS_QUIET}"


@contextlib.contextmanager
def _class_data_sharing(conf: dict[str, str]):
    """Add the CDS options to ``conf`` and point ``SPARK_CONF_DIR`` at an
    empty directory for the duration of the gateway launch, then
    restore the process environment. Does nothing when the effective
    conf dir holds a real file, so a user's ``spark-defaults.conf`` is
    never hidden."""
    conf_dir = os.path.join(CDS_DIR, "conf")
    flags = _cds_flags(conf_dir)
    if flags is None:
        yield
        return
    opts = conf.get(_JAVA_OPTS)
    conf[_JAVA_OPTS] = f"{opts} {flags}" if opts else flags
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
