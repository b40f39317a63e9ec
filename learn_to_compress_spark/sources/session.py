"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 1000-executor / 100 TB target and merely
*tested* on local[k]: AQE with skew-join handling on (long conversations
hot-spot a hash partition — BASELINE.json north_star), Arrow batches sized to
one column chunk so each pandas-UDF batch is exactly one encode unit, and
shuffle partitions sized to cores locally (cluster deploys override via
spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CHUNK_ROWS = 65536

_MALLOC_BIG = str(1 << 30)


def tune_malloc() -> None:
    """Keep large buffers inside the reused glibc heap.

    The encode/decode kernels allocate multi-MB numpy buffers per column
    chunk. glibc serves >128 KB requests via mmap and returns them to the OS
    on free, so EVERY chunk re-faults its pages; on virtualized hosts with
    slow first-touch faults (this sandbox: ~140 µs/page) that multiplies
    kernel time by ~5-20×. Raising the mmap/trim thresholds makes the heap
    retain and reuse those pages — each worker pays the fault cost once.

    Applied three ways: ``mallopt`` for the current process, environment for
    the forked JVM → python workers, and (in :func:`get_spark`)
    ``spark.executorEnv.*`` for real cluster deployments.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", _MALLOC_BIG)
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", _MALLOC_BIG)
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(1 << 30))  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: env vars still cover child processes


tune_malloc()


def get_spark(
    master: str | None = None,
    app_name: str = "learn-to-compress-spark",
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 2)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(chunk_rows))
        # 64 MB scan splits: at bench scale (~2 GB input) this yields ≈ one
        # scan task per core; on a cluster it is simply Spark's default ÷2
        .config("spark.sql.files.maxPartitionBytes", "67108864")
        # single-JVM local mode runs every task in the driver: size the heap
        # for 32 concurrent task buffers, not for a thin coordinator
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # worker-side malloc tuning (see tune_malloc): without it every
        # column-chunk buffer is a fresh mmap whose page faults dominate
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", _MALLOC_BIG)
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", _MALLOC_BIG)
    )
    # shuffle/spill dir override (a scaling run can point it at tmpfs so
    # the single box's disk doesn't masquerade as a scaling ceiling; on a
    # real cluster each executor has its own local disks)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def package_digest() -> str:
    """Content digest of the package sources — used to invalidate shipped
    zips and cached chunk stores when the engine changes."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    digest = hashlib.sha1()
    for dirpath, _dirs, files in sorted(os.walk(pkg_dir)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                st = os.stat(full)
                digest.update(
                    f"{os.path.relpath(full, root)}:{st.st_mtime_ns}:{st.st_size};".encode()
                )
    return digest.hexdigest()[:12]


def build_pyfiles_zip() -> str:
    """Build (or reuse) the package zip for ``spark-submit --py-files``;
    returns its path. Content-addressed by :func:`package_digest`."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    sources = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                sources.append(os.path.join(dirpath, fn))
    zpath = os.path.join(
        tempfile.gettempdir(), f"learn_to_compress_spark_pkg_{package_digest()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath + ".tmp", "w") as zf:
            for full in sorted(sources):
                zf.write(full, os.path.relpath(full, root))
        os.replace(zpath + ".tmp", zpath)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    contract): zip ``learn_to_compress_spark`` and ``addPyFile`` it, so
    kernels unpickle on workers regardless of their cwd/PYTHONPATH."""
    spark.sparkContext.addPyFile(build_pyfiles_zip())
