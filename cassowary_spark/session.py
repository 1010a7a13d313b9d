"""SparkSession factory and the package's transport to Python workers.

One place to encode the engine's execution posture (SURVEY.md §4):
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (vectorized Python exchange), UTC session time
zone (oracle comparability), shuffle partitions sized for the local
rig but overridable for cluster deploys via ``SPARK_GRAFT_CPUS``, and
no per-Column call-site capture (cheaper plan building; errors lose
their "DataFrame query context" call-site lines, see ``get_spark``).

Workers get this package as one zip per SparkContext
(``ship_package``), so every pickled function of it travels by
reference, and every process that imports it skips re-reading
unchanged zip archives (``_stat_gate_zip_invalidation``).
"""

from __future__ import annotations

import compileall
import hashlib
import importlib.util
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def get_spark(app_name: str = "cassowary_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults; on a real cluster the master/memory settings
    come from spark-submit and everything else here still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — dynamic coalescing, skew-join
        # splitting, broadcast conversion once real sizes are known.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width: match local cores (not the 200 default).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # UTC so timestamp semantics match the DuckDB oracle exactly.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM exchange (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Let Python DataSources (sources/sstable) receive pushed filters.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No per-Column call-site capture: with it on, every PySpark
        # Column function walks the Python stack and makes about five
        # extra py4j calls, which tripled the JVM round trips of
        # building a plan (952 vs 262 for q_tpch_q1). The trade: an
        # error raised in a session built here carries no "DataFrame
        # query context" call-site lines. A SparkSession built
        # elsewhere keeps them. PySpark caches the setting
        # per process, at its first Column call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Cap plan-string rendering (SQL-listener events re-render the
        # physical plan per execution): an iterative job whose rounds
        # each embed a wide upstream tree can otherwise OOM the driver
        # INSIDE explainString — observed at sf10 before the CC
        # edge-frame checkpoint landed. 8 MB keeps explain() useful
        # while bounding the allocation.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns once per unpartitioned window per execution;
    # plancheck.sp_windows_total already counts those windows from the
    # plan text, so the lines only bury the rest of the log.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_shipped_zip: str | None = None


def package_zip(pkg_dir: str = PACKAGE_DIR) -> str:
    """The package at ``pkg_dir`` as a zip of compiled modules; return its path.

    The name is a digest of every ``.py`` file's relative path and
    bytes and of the interpreter's bytecode magic number, so an edited
    tree gets a new zip and an unchanged one reuses the zip already in
    ``tempfile.gettempdir()``. A new zip is written under a
    process-unique name and moved into place, so no process ever reads
    half a file. ``PyZipFile.writepy`` stores the ``.pyc``
    of each module (PySpark already requires the driver's Python minor
    version on the workers), so no worker compiles anything;
    ``compileall`` first refreshes any ``__pycache__`` entry whose
    recorded source stamp is out of date, because ``writepy`` trusts a
    ``.pyc`` that is merely newer than its source.
    """
    h = hashlib.sha256(importlib.util.MAGIC_NUMBER)
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                h.update(os.path.relpath(full, pkg_dir).encode() + b"\0")
                with open(full, "rb") as fh:
                    h.update(fh.read())
    name = os.path.basename(pkg_dir.rstrip(os.sep))
    path = os.path.join(tempfile.gettempdir(), f"{name}-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        compileall.compile_dir(pkg_dir, quiet=1)
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.PyZipFile(tmp, "w") as zf:
            zf.writepy(pkg_dir)
        os.replace(tmp, path)
    return path


def ship_package(spark: SparkSession) -> None:
    """Put this package on the Python path of ``spark``'s workers.

    Idempotent per SparkContext: the zip (``package_zip``, built once
    per process) is added with ``addPyFile`` only if that context does
    not hold it yet. Call it before anything captures the context's
    Python includes: a UDF or DataSource is wrapped with the include
    list of the moment (``pyspark.sql.udf._wrap_function``). The
    registry's query wrapper and ``register_sstable_source`` call it,
    the two ways a driver session reaches the engine.
    """
    global _shipped_zip
    if _shipped_zip is None:
        _shipped_zip = package_zip()
    sc = spark.sparkContext
    if os.path.basename(_shipped_zip) not in sc._python_includes:
        sc.addPyFile(_shipped_zip)


def _stat_gate_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` skip unchanged zip archives.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python-worker task and every data-source planner call. Workers
    import pyspark from ``pyspark.zip`` (and this package from its
    shipped zip), and on CPython 3.11 every ``zipimporter`` in
    ``sys.path_importer_cache`` (the archive root, one per imported
    subpackage, py4j) then re-reads its archive's whole central
    directory: 0.14-0.21 CPU-s per task, more than an 8-key lookup
    spends decoding. The wrapper installed here re-reads an archive
    only when its ``(st_mtime_ns, st_size)`` differs from what that
    importer saw at its last read in this process, so an importer's
    first invalidation after installation still reads, and a rewritten
    archive is still picked up. A zip added later (``addPyFile``) gets
    a new importer, which reads its directory when it is created.

    Called once, when ``cassowary_spark`` is imported: a worker imports
    the package when it unpickles a module-level function or class of
    it (the SSTable source, a UDF or fold whose closure reaches a
    package helper). A nested UDF that touches no package global is
    pickled whole and imports nothing, so its worker is gated only if
    it ran package code before. The guard lives on the class, so a
    second call in one process is a no-op. Does nothing where
    ``zipimporter.invalidate_caches`` does not exist.
    """
    import functools
    import zipimport

    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if original is None or getattr(cls, "_stat_gated", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (AttributeError, OSError, TypeError):
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            original(self)
            self._read_stamp = stamp

    cls.invalidate_caches = invalidate_caches
    cls._stat_gated = True
