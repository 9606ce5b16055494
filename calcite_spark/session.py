"""SparkSession factory ≈ Calcite's CalciteConnection/DataContext
(reference: core/src/main/java/org/apache/calcite/jdbc/, DataContext.java:43).

One tuned session per process. Config choices are scale-aware defaults:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to local cores (on a real cluster this would be
2-3× total cores; AQE coalesces down), Arrow enabled for the Pandas-UDF
slow path, session timezone pinned to UTC so timestamps agree with
UTC-naive parquet readers (DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce by the advisory partition SIZE, not up to defaultParallelism:
    # tiny shuffles collapse to few tasks (less scheduler overhead), huge
    # shuffles still split by size. This is the setting Spark's AQE docs
    # recommend for efficiency, and the right 100 TB posture — partition
    # count follows data volume, not core count.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Calcite TIMESTAMP is zone-less (SqlTypeName.TIMESTAMP); parquet
    # timestamps in the testdata are instants — keep inference as-is but
    # pin datetime arithmetic to proleptic Gregorian like DuckDB.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # 100 TB posture: broadcast only genuinely small sides; AQE converts
    # to broadcast at runtime when post-shuffle stats allow.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.ui.explainMode": "formatted",
    # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's
    # vectorized reader; read as long nanos, Catalog converts to
    # timestamp (see catalog.NANOS_TS_COLS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _host_heap() -> str:
    """Half of the memory this process can have: the smaller of physical
    RAM and every memory limit of its cgroups. A fixed heap larger than
    the host lets the kernel OOM-kill the JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = min([phys, *_cgroup_limits()])
    return f"{max(limit // 2 >> 20, 512)}m"


def _cgroup_limits():
    """The cgroup memory limits set on this process: v2 `memory.max` and
    v1 `memory.limit_in_bytes`, read at the process's own cgroup path
    (from /proc/self/cgroup) and at each parent up to the root."""
    try:
        with open("/proc/self/cgroup") as f:
            entries = [ln.split(":", 2) for ln in f.read().splitlines()]
    except OSError:
        return
    for _, controllers, path in entries:
        if not controllers:
            roots, name = ("/sys/fs/cgroup", "/sys/fs/cgroup/unified"), "memory.max"
        elif "memory" in controllers.split(","):
            roots, name = ("/sys/fs/cgroup/memory",), "memory.limit_in_bytes"
        else:
            continue
        while True:
            for root in roots:
                try:
                    with open(f"{root}{path.rstrip('/')}/{name}") as f:
                        value = f.read().strip()
                except OSError:
                    continue
                if value.isdigit():  # "max" when unlimited
                    yield int(value)
            if path in ("/", ""):
                break
            path = os.path.dirname(path)


def get_spark(app_name: str = "calcite_spark", extra_conf: dict | None = None) -> SparkSession:
    """Create or reuse the process-wide SparkSession.

    ``local[$SPARK_GRAFT_CPUS]`` by default, else one slot per core this
    process may run on, read when the session is built; the shuffle
    partition count follows the same number. On a real cluster the caller
    passes master via spark-submit and this builder only applies SQL conf
    (the shuffle partition count is then the Catalog's defaultParallelism).
    """
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_MASTER_SET"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config("spark.sql.shuffle.partitions", cpus)
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_heap(),
        )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make `calcite_spark` importable inside Python workers regardless of
    the driver's cwd (the verify driver runs from its own directory).

    Pandas-UDF closures (match_recognize, multimodal decode) reference
    module-level helpers, which cloudpickle serializes BY REFERENCE — the
    worker then imports calcite_spark. Zip the package once and
    sc.addPyFile it; cached per session.
    """
    if getattr(spark, "_calcite_spark_shipped", False):
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # fingerprint the source tree into the zip name: a stale cached zip
    # (from a run before the package changed) must never be shipped
    import zlib

    stamp = 0
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                st = os.stat(full)
                key = f"{os.path.relpath(full, pkg_dir)}:{int(st.st_mtime)}:{st.st_size}"
                stamp = zlib.crc32(key.encode(), stamp)
    zip_path = os.path.join(tempfile.gettempdir(), f"calcite_spark_pkg_{stamp:08x}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path + ".tmp", "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "calcite_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark._calcite_spark_shipped = True
