"""SparkSession factory with scale-oriented defaults and a class-data-sharing
archive for the driver JVM.

Defaults are tuned for correctness-at-scale first:

* AQE on (runtime re-planning: skew-join splitting, partition coalescing,
  broadcast demotion/promotion) — the reference corpus has a 525x file-size
  spread (SURVEY.md §4.2), and at 100 TB any static plan is wrong somewhere.
* ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable across
  environments (and match the DuckDB oracle, which is TZ-naive).
* Arrow enabled for the few Pandas-UDF paths (multimodal stubs) and fast
  ``toPandas`` at the driver edge.
* Shuffle partitions default to the local core count; on a real cluster this
  is expected to be overridden (AQE coalescing makes over-provisioning cheap:
  set it to ~2-3x total cores and let AQE shrink).

Class-data sharing (JEP 350). The reference ETL runs once per extract, so a
whole fresh JVM is what its user pays for, and a fresh JVM spends seconds
parsing and verifying Spark's classes. ``build_session`` therefore starts the
driver JVM from a dynamic CDS archive, which maps those classes already
parsed:

* **Where.** ``$XDG_CACHE_HOME/metas-spark/cds/`` (``~/.cache/metas-spark/cds/``
  when the variable is unset), outside any checkout. The archive's name hashes
  the real path of the ``java`` that ``spark-class`` runs
  (``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``), that JDK's ``release``
  file, and the name, size and mtime of every file in ``$SPARK_HOME/jars``.
  A new JDK or Spark install therefore gets a new archive.
* **First run.** With no archive for the key, the JVM records one at exit
  (``-XX:ArchiveClassesAtExit``) into ``spark-<key>.<pid>.tmp``. The dump
  takes about 12 s after the session stops and writes ~150 MB. The next
  ``build_session`` promotes the file to ``spark-<key>.<size>.jsa``, but only
  when it begins with the dynamic-archive magic: the JVM writes the header
  last, so a killed or unfinished dump is never used. Every later JVM maps
  the archive (``-XX:SharedArchiveFile``). An archive whose size no longer
  matches its name is deleted and recorded again, because JDK 17 dies of
  SIGBUS mapping a truncated one. Any other stale or mismatched archive is
  rejected by the JVM itself (``-Xshare:auto``), which then loads classes
  normally.
* **Skipped** when the driver JVM is already running, when the cache
  directory is not writable or its path holds whitespace, when the JDK's
  ``release`` file or the Spark jars cannot be read, and when the class path
  would hold a directory with files in it: a dynamic dump refuses such a
  class path at JVM exit with an error on stdout. The launcher puts
  ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``) first on the class path,
  so when that directory holds only ``*.template`` files it is swapped for an
  empty directory beside the archive for the launch only; any other file
  there, or a class path entry from ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
  ``SPARK_DIST_CLASSPATH``, ``SPARK_PREPEND_CLASSES`` or
  ``spark.driver.extraClassPath``, turns CDS off, and the reason is logged at
  INFO.
* The JVM's own log goes to stderr (``-Xlog:all=warning:stderr``), so the
  recording's ~900 warnings at exit never follow a program's last stdout line.

Deleting the directory is always safe: the next session records again.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shutil

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# First bytes of a finished dynamic CDS archive: magic 0xf00baba8, little-endian.
_ARCHIVE_MAGIC = b"\xa8\xab\x0b\xf0"
# Launcher inputs that add class path entries beyond the conf dir and the jars.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")


class _NoCDS(Exception):
    """Why the driver JVM starts without a CDS archive."""


def build_session(
    app_name: str = "metas-judiciarias-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    On a cluster, ``master`` is normally left to spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``, or to the number of cores this
    process may run on when the variable is unset. The same count is the
    default shuffle partition count.

    When this call launches the driver JVM, it starts the JVM from the CDS
    archive for this JDK and Spark jar set, or records that archive at JVM
    exit when none exists yet (see the module docstring for where it lives,
    the first-run cost and when CDS is skipped). The options go through
    ``spark.driver.defaultJavaOptions``, after any value ``extra_conf`` gives
    it, so a caller's ``spark.driver.extraJavaOptions`` is left as it is.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Files: pack many small files per task (the reference corpus is 90
        # files, median 2.2 MB) but cap split size so one 118 MB file still
        # splits across tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    conf = dict(extra_conf or {})
    try:
        cds_options, conf_dir = _cds_launch(conf)
    except _NoCDS as why:
        log.info("driver JVM starts without a CDS archive: %s", why)
        conf_dir = None
    else:
        caller = conf.get("spark.driver.defaultJavaOptions")
        conf["spark.driver.defaultJavaOptions"] = f"{caller} {cds_options}" if caller else cds_options
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _cds_launch(conf: dict[str, str]) -> tuple[str, str]:
    """Java options and ``SPARK_CONF_DIR`` for a driver JVM launched with CDS.

    Raises ``_NoCDS`` with the reason when the JVM must start without it.
    """
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        raise _NoCDS("the driver JVM is already running")
    extra_cp = [k for k in _CLASSPATH_ENV if os.environ.get(k)]
    if conf.get("spark.driver.extraClassPath"):
        extra_cp.append("spark.driver.extraClassPath")
    if extra_cp:
        raise _NoCDS(f"{', '.join(extra_cp)} adds to the class path")
    spark_home = _find_spark_home()
    user_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(user_conf) and any(not n.endswith(".template") for n in os.listdir(user_conf)):
        raise _NoCDS(f"{user_conf} holds configuration files")
    cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(cache_home, "metas-spark", "cds")
    if any(c.isspace() for c in cache):
        raise _NoCDS(f"{cache!r} holds whitespace")
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError as e:
        raise _NoCDS(f"cannot create {empty_conf}: {e}") from None
    if not os.access(cache, os.W_OK):
        raise _NoCDS(f"{cache} is not writable")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise _NoCDS("no java on PATH")
    stem = os.path.join(cache, f"spark-{_cds_key(os.path.realpath(java), spark_home)}")
    return f"-Xlog:disable -Xlog:all=warning:stderr {_archive_option(stem)}", empty_conf


def _cds_key(java: str, spark_home: str) -> str:
    """Hash of the JDK (``java``'s real path and its ``release`` file) and of
    the ``(name, size, mtime_ns)`` of every file in ``spark_home/jars``."""
    h = hashlib.sha256(java.encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            h.update(fh.read())
        for entry in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
            st = entry.stat()
            h.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError as e:
        raise _NoCDS(f"cannot key the archive: {e}") from None
    return h.hexdigest()[:20]


def _archive_option(stem: str) -> str:
    """``-XX:SharedArchiveFile`` for the archive of ``stem``, after promoting a
    finished recording to it; else ``-XX:ArchiveClassesAtExit`` to record it.

    A recording ``<stem>.<pid>.tmp`` is promoted only when it begins with the
    archive magic, and it is named ``<stem>.<size>.jsa``. An archive whose
    size no longer matches its name is deleted: JDK 17 dies of SIGBUS when it
    maps a truncated archive, where it falls back from other faulty ones.
    Once the archive exists, every leftover recording is redundant.
    """
    archive = _archive(stem)
    for tmp in glob.glob(glob.escape(stem) + ".*.tmp"):
        with contextlib.suppress(FileNotFoundError):  # a concurrent session took it
            if archive is not None:
                os.remove(tmp)
            elif _finished(tmp):
                dest = f"{stem}.{os.path.getsize(tmp)}.jsa"
                os.replace(tmp, dest)
                archive = dest
    if archive is not None:
        return f"-XX:SharedArchiveFile={archive}"
    return f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.tmp"


def _archive(stem: str) -> str | None:
    for path in glob.glob(glob.escape(stem) + ".*.jsa"):
        size = path[len(stem) + 1 : -len(".jsa")]
        with contextlib.suppress(FileNotFoundError):
            if size.isdigit() and os.path.getsize(path) == int(size):
                return path
            os.remove(path)
    return None


def _finished(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(len(_ARCHIVE_MAGIC)) == _ARCHIVE_MAGIC
