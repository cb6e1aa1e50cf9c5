"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config choices below are the ones that
matter on a real cluster (AQE, skew-join handling, partial aggregation
pushdown) and are harmless locally.

A cold driver JVM loads and verifies ~24k Spark/Scala classes from jars on
every start. `get_spark` keeps a JDK 17 class-data archive (AppCDS) per
checkout under ``<package root>/.spark-cds/`` so later starts map those classes
instead: see `_ClassDataArchive` and README "JVM class-data archive".
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shlex
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

# spark.conf key holding the archive state of this driver JVM: "mapped: ...",
# "not mapped, deleted: ...", "training: ..." or "off: <reason>".
CDS_STATE_CONF = "spark.koby.cds"
CDS_SUBDIR = ".spark-cds"
# Bounds on the exit hook of a training run: the driver JVM's exit after
# its stdin closes, then the one-time dump.
JVM_EXIT_TIMEOUT_S = 60
DUMP_TIMEOUT_S = 600


def get_spark(app_name: str = "koby-spark-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Master resolves from SPARK_GRAFT_CPUS (driver contract) or local[*].
    AQE is on so shuffle partition counts coalesce at runtime and skewed
    joins split automatically — both essential at 100 TB, free locally.

    DataFrame debugging is off: with it on (pyspark's default), every
    ``pyspark.sql.functions`` call and Column method walks the Python
    stack and sends its call site to the JVM, ~10 py4j round trips per
    call. pyspark reads the setting once per process, from the first
    active session, so a session the caller built itself (the external
    driver's ``entry(spark)``) keeps its own setting.

    When this call launches the driver JVM, it maps Spark's classes from
    the host's class-data archive, or records the classes this run loads
    so that the archive is built when the process exits (see
    `_ClassDataArchive`). ``spark.conf.get(CDS_STATE_CONF)`` reads the
    outcome.
    """
    # Python workers (pandas_udf / mapInPandas) import this package by name
    # at deserialization time, resolving against the worker's PYTHONPATH —
    # not the driver's sys.path. Pin the package root into PYTHONPATH before
    # the JVM forks workers so queries run regardless of the caller's cwd
    # (on a real cluster the same is done with --py-files / spark.submit.pyFiles).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd, not snappy: persisted indexes and chunk tables ~30% smaller.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Floor the scan split count at the core count: small inputs (few
        # row groups) must not cap parallelism of CPU-bound maps. At scale
        # this is a no-op (splits >> cores); maxPartitionBytes still bounds
        # the per-split size.
        .config(
            "spark.sql.files.minPartitionNum",
            str(int(cpus) if cpus else (os.cpu_count() or 8)),
        )
    )
    # JVM options apply only to a JVM this call launches: not when pyspark
    # already runs one, nor when spark-submit started Python (gateway port).
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    cds = _ClassDataArchive(os.path.join(pkg_root, CDS_SUBDIR))
    if cds.java_option:
        # The *default* driver options: a launcher's --driver-java-options
        # set the *extra* ones, and the driver JVM gets both.
        builder = builder.config("spark.driver.defaultJavaOptions", cds.java_option)
    spark = builder.getOrCreate()
    spark.conf.set(CDS_STATE_CONF, cds.started(spark))
    return spark


class _ClassDataArchive:
    """The checkout's AppCDS archive of the driver JVM's classes (JEP 350).

    One archive per (``java.home``, classpath) key, ``<key>.jsa`` in
    ``cds_dir``. With it, the driver starts with
    ``-XX:SharedArchiveFile``; after start the JVM's own
    ``UseSharedSpaces``/``SharedArchiveFile`` flags tell whether it was
    mapped, and one that was not is deleted: a rejected archive also
    drops the JDK's default one, so it is slower than none. Without one,
    the driver records ``-XX:DumpLoadedClassList`` and an exit hook
    builds a static archive from that list (``-Xshare:dump``) once the
    driver JVM has exited: one process per checkout pays the dump, after its
    own work. JDK 17 dumps nothing while a non-empty directory is on the
    classpath, and ``SPARK_CONF_DIR`` is on it: the archive is used only
    when that directory holds nothing but ``*.template`` files, and the
    driver then gets an empty one of its own. Deleting ``cds_dir`` resets
    everything."""

    def __init__(self, cds_dir: str):
        self.java_option = ""
        self.state = ""
        self.classlist = ""
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        kept = sorted(
            f for f in (os.listdir(conf_dir) if os.path.isdir(conf_dir) else [])
            if not f.endswith(".template")
        )
        if kept:
            self.state = (
                f"off: {conf_dir} holds {kept[0]}; JDK 17 dumps no archive "
                "with a non-empty directory on the classpath"
            )
            return
        java = (
            os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java")
        )
        if java is None:
            self.state = "off: no java on PATH"
            return
        empty_conf = os.path.join(cds_dir, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        os.environ["SPARK_CONF_DIR"] = empty_conf
        # The launcher's classpath: the conf dir, then SPARK_HOME/jars/*
        # (a classpath wildcard expands to the .jar files only).
        self.key = _archive_key(
            os.path.dirname(os.path.dirname(os.path.realpath(java))),
            [empty_conf, *glob.glob(os.path.join(spark_home, "jars", "*.jar"))],
        )
        self.jsa = os.path.join(cds_dir, f"{self.key}.jsa")
        self.failed = os.path.join(cds_dir, f"{self.key}.failed")
        self.lock = os.path.join(cds_dir, f"{self.key}.lock")
        if os.path.exists(self.jsa):
            self.java_option = shlex.quote(f"-XX:SharedArchiveFile={self.jsa}")
        elif os.path.exists(self.failed):
            self.state = f"off: the last dump failed, see {self.failed}"
        elif _lock_is_held(self.lock):
            self.state = "off: another process is building the archive"
        else:
            self.classlist = os.path.join(cds_dir, f"{self.key}.{os.getpid()}.classlist")
            self.java_option = shlex.quote(f"-XX:DumpLoadedClassList={self.classlist}")

    def started(self, spark: SparkSession) -> str:
        """The archive state of the JVM ``spark`` runs on; deletes an
        archive the JVM did not map, and arms the exit hook of a run that
        records its class list."""
        if not self.java_option:
            return self.state
        jvm = spark._jvm
        if not self.classlist:
            bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
                jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
            )
            if (
                bean.getVMOption("UseSharedSpaces").getValue() == "true"
                and bean.getVMOption("SharedArchiveFile").getValue() == self.jsa
            ):
                return f"mapped: {self.jsa}"
            _remove(self.jsa)
            return f"not mapped, deleted: {self.jsa}"
        system = jvm.java.lang.System
        java_home = system.getProperty("java.home")
        class_path = system.getProperty("java.class.path")
        proc = spark.sparkContext._gateway.proc
        if _archive_key(os.path.realpath(java_home), class_path.split(os.pathsep)) != self.key:
            # Something (SPARK_DIST_CLASSPATH, --driver-class-path, ...)
            # changed the classpath: an archive under this key would never
            # be found for it.
            atexit.register(self._discard_classlist, proc)
            return "off: the driver's classpath is not SPARK_CONF_DIR + SPARK_HOME/jars"
        atexit.register(self._build, proc, java_home, class_path)
        return f"training: {self.classlist}"

    def _discard_classlist(self, proc) -> None:
        _wait_for_exit(proc)
        _remove(self.classlist)

    def _build(self, proc, java_home: str, class_path: str) -> None:
        """Exit hook of a training run: wait for the driver JVM to exit
        (the class list is complete only then), then dump the archive
        under an O_EXCL lock and move it into place. Writes nothing to
        stdout, and leaves no process running."""
        if not _wait_for_exit(proc):
            _remove(self.classlist)
            return
        try:
            fd = os.open(self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            _remove(self.classlist)
            return
        tmp = f"{self.jsa}.{os.getpid()}.tmp"
        log = f"{self.jsa}.{os.getpid()}.log"
        try:
            os.write(fd, str(os.getpid()).encode())
            if os.path.exists(self.jsa):
                return
            with open(log, "w") as out:
                try:
                    code = subprocess.run(
                        [
                            os.path.join(java_home, "bin", "java"), "-Xshare:dump",
                            f"-XX:SharedClassListFile={self.classlist}",
                            f"-XX:SharedArchiveFile={tmp}",
                            "-XX:-UsePerfData",
                            # The driver's module graph (Spark's launcher adds it).
                            "--add-modules=jdk.incubator.vector",
                            "-cp", class_path,
                        ],
                        stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
                        timeout=DUMP_TIMEOUT_S,
                    ).returncode
                except subprocess.TimeoutExpired:
                    out.write(f"timed out after {DUMP_TIMEOUT_S} s\n")
                    code = None
            if code == 0:
                os.replace(tmp, self.jsa)
            else:
                # Kept, so later starts skip training until cds_dir is reset.
                os.replace(log, self.failed)
        finally:
            os.close(fd)
            for p in (tmp, log, self.classlist, self.lock):
                _remove(p)


def _archive_key(java_home: str, class_path: list[str]) -> str:
    """Key of an archive: the JDK and every classpath entry, with each
    jar's size and mtime (the checks the JVM itself makes on mapping)."""
    entries = []
    for p in sorted({os.path.normpath(p) for p in class_path if p}):
        st = os.stat(p) if os.path.isfile(p) else None
        entries.append([p, st.st_size, st.st_mtime_ns] if st else [p])
    blob = json.dumps([os.path.normpath(java_home), entries])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _lock_is_held(lock: str) -> bool:
    """Whether a live process holds ``lock``; a lock left by a process
    that died is removed."""
    try:
        with open(lock) as f:
            pid = f.read()
    except FileNotFoundError:
        return False
    if not pid.isdigit():
        return True  # its creator has not written its pid yet
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        _remove(lock)
        return False
    except PermissionError:
        pass
    return True


def _wait_for_exit(proc) -> bool:
    """Stop the caller's SparkContext if it is still running, close the
    driver JVM's stdin (its gateway exits on EOF) and wait, bounded; kill
    it past the bound. True when it exited by itself."""
    if SparkContext._active_spark_context is not None:
        # Stopped from Python, so no pyspark thread is left reading a
        # socket the exiting JVM closes.
        SparkContext._active_spark_context.stop()
    if proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
        return True
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return False


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
