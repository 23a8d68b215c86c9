"""SparkSession factory and the driver's table names.

The reference boots one long-running Spark app per pipeline stage
(``SparkStreamingApp.java:217-285`` in /root/reference); here a single
SparkSession hosts every operator, and "applications" collapse into
DataFrame plans (SURVEY §3.2).

Scale notes: configs below are tuned so the same code runs on
``local[N]`` for tests and on a multi-executor cluster unchanged —
AQE handles partition coalescing and skew joins at runtime, and
``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# BLAS/OMP thread pinning itself lives in the package __init__ (it
# must precede numpy's first import under EVERY import order, not
# just session-first ones); the executorEnv mirror below covers
# deployments whose workers do not inherit the driver env.
_BLAS_ENV_VARS = ("OPENBLAS_NUM_THREADS", "OPENBLAS64_NUM_THREADS",
                  "OMP_NUM_THREADS", "MKL_NUM_THREADS")

# the directory holding this package: put on the Python workers' path
# so they can import the worker daemon
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Size the single-JVM local heap to the HOST, not to the harness
    box (ADVICE r10): a multi-hundred-query session wants headroom
    (24g on the 128 GiB harness), but baking 24g in OOM-kills the
    session on developer/CI hosts with less RAM or a tighter cgroup
    limit. Take 1/4 of the effective memory ceiling (min of
    /proc/meminfo MemTotal and the cgroup-v2 limit when one is set),
    clamped to [4g, 24g]; SPARK_GRAFT_DRIVER_MEM overrides."""
    ceiling = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    ceiling = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    # cgroup limit candidates (ADVICE r11: the root v2 file alone
    # misses cgroup v1 AND non-root v2 slices — resolve the process's
    # OWN slice from /proc/self/cgroup first, then fall back to the
    # root v2 file and the v1 hierarchy):
    candidates = []
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                parts = line.strip().split(":", 2)
                if len(parts) != 3:
                    continue
                hier, controllers, path = parts
                path = path.rstrip("/")
                if hier == "0":  # v2 unified: limits walk UP the slice
                    p = path
                    while True:
                        candidates.append(f"/sys/fs/cgroup{p}/memory.max")
                        if not p:
                            break
                        p = p.rsplit("/", 1)[0]
                elif "memory" in controllers.split(","):  # v1
                    p = path
                    while True:
                        candidates.append(
                            f"/sys/fs/cgroup/memory{p}/memory.limit_in_bytes"
                        )
                        if not p:
                            break
                        p = p.rsplit("/", 1)[0]
    except OSError:
        pass
    candidates += [
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ]
    for cand in candidates:
        try:
            with open(cand) as f:
                raw = f.read().strip()
        except OSError:
            continue
        # v2 "no limit" is the literal "max"; v1's is a huge sentinel
        # (PAGE_COUNTER_MAX) — treat anything >= 2^60 as unlimited
        if raw == "max":
            continue
        try:
            lim = int(raw)
        except ValueError:
            continue
        if lim >= 1 << 60:
            continue
        ceiling = lim if ceiling is None else min(ceiling, lim)
    if ceiling is None:
        return "8g"
    quarter_gb = ceiling // (4 * 1024**3)
    # the 4g floor must itself respect the ceiling (ADVICE r11 review:
    # on a 2-3 GiB cgroup, max(4, 0) would request a heap LARGER than
    # the whole limit — the exact OOM-kill this function exists to
    # avoid); leave the JVM at most ~3/4 of the ceiling, never below 1g
    cap_gb = max(1, (ceiling * 3 // 4) // 1024**3)
    return f"{min(min(24, max(4, quarter_gb)), cap_gb)}g"


def _default_local_dir() -> str | None:
    """Pick the scratch directory for shuffle files, spills and the
    DISK_ONLY staging blocks (guide §6 / §2.1: most of a shuffle's
    wall cost is the downstream fetch+read, and on this harness all of
    it goes through spark.local.dir). The Spark default is /tmp, which
    here sits on the disk-backed root fs: bench runs showed transient
    multi-second windows with wall advancing at ~1 busy core, zero
    hypervisor steal and a healthy plan — dirty-page writeback stalls,
    not compute. A roomy tmpfs (/dev/shm, 126 GiB on the harness)
    removes that failure mode entirely for sf0.1-scale shuffle volume
    (hundreds of MB live at once; staging blocks are unpersisted
    inside each query's window).

    Deployment posture: this is a LOCAL-mode ergonomics default, not a
    cluster setting — real clusters configure fast local disks via
    SPARK_LOCAL_DIRS, which (like an explicit spark.local.dir or
    SPARK_GRAFT_LOCAL_DIR) takes precedence. Guarded: only used when
    /dev/shm is writable with >= 32 GiB free, so a RAM-tight host
    falls back to the Spark default rather than trading I/O stalls
    for an OOM kill."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.environ.get("SPARK_LOCAL_DIRS"):  # Spark's own env wins anyway
        return None
    try:
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        if free >= 32 * 1024**3:
            path = f"/dev/shm/spark-local-{os.getuid()}"
            os.makedirs(path, exist_ok=True)
            return path
    except OSError:
        pass
    return None


def get_spark(app_name: str = "las_vpe_platform_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    UTC session timezone keeps timestamp semantics identical to the
    DuckDB oracle; Arrow is on for every pandas-UDF boundary.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (guide §2.5 — scale-adaptive partitioning): let AQE
        # re-optimize INSIDE persisted plans too. The staging contract
        # persists multi-consumer subtrees (operators/staging.py), and
        # with this off (the Spark default, kept for consumers that
        # depend on a cached plan's outputPartitioning — nothing here
        # does) every cached subtree keeps its full pre-AQE partition
        # fan-out: measured on q127, the staged rank table's Arrow
        # position pass ran one python-worker task per shuffle
        # partition (~0.25 CPU-s each) for a few-thousand-row frame.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single-JVM local mode hosts driver + all executor threads in
        # one heap; a multi-hundred-query session accretes broadcast
        # blocks and codegen classes, so give it headroom — sized to
        # the HOST's memory (quarter of the ceiling, clamped; 24g on
        # the 128 GiB harness box, smaller on dev/CI hosts — ADVICE
        # r10); a cluster deployment sizes executors separately
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # r12 (guide §1/§7 — classify, then fix): a session executing
        # hundreds of UNIQUE queries compiles thousands of generated
        # whole-stage-codegen classes; the JVM's default reserved code
        # cache (240m total, ~116m for the profiled segment) saturates
        # mid-catalog — measured 13 -> 64 MB profiled occupancy after
        # just 40/262 bench entries — and the resulting sweep/deopt/
        # recompile storms burned 20-30 s of JIT-compiler-thread CPU
        # inside single query windows (zero steal, zero iowait, high
        # cpu-over-wall; bench.py's jvm_churn channel now measures
        # this). Reserving 1g (virtual until committed) fits the whole
        # catalog's compiled code; same posture as raising it on
        # executors for codegen-heavy clusters. Env-overridable.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODE_CACHE", "1g"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODE_CACHE", "1g"),
        )
        # r12 (guide §7.3 — driver-side plan cost is real cost): by
        # default PySpark 4 captures the python call site for EVERY
        # DataFrame API call (two extra py4j round-trips each) to
        # enrich error messages; a 262-query build pays thousands of
        # such round-trips per bench run (~35% of measured per-entry
        # plan-construction wall). Error enrichment only — results
        # and plans are identical with it off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the driver's events table is TIMESTAMP(NANOS); read as long,
        # sources.tables.load_table converts to micros (DuckDB-identical)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split medium files so narrow pipelines over few-file tables
        # still parallelize; at cluster scale files are many and this
        # only bounds the per-task read
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        # every Python worker forks from worker_daemon, which stops
        # zipimport re-reading pyspark.zip's directory at the start of
        # each task (125-460 ms per task on a 4-core host; see that
        # module). The daemon must be importable by the workers: this
        # factory only builds local[N] masters, so the driver's source
        # tree is the workers' tree, and its root goes on their path.
        .config("spark.python.daemon.module", "las_vpe_platform_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    _local_dir = _default_local_dir()
    if _local_dir:
        builder = builder.config("spark.local.dir", _local_dir)
    # mirror the RESOLVED BLAS/OMP env (package-__init__ pin or the
    # user's explicit opt-in — never a hard-coded "1", ADVICE r11
    # review) onto executors for deployments whose python workers do
    # not inherit the driver env (standalone / YARN)
    for _v in _BLAS_ENV_VARS:
        if _v in os.environ:
            builder = builder.config(f"spark.executorEnv.{_v}", os.environ[_v])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# application ids, not id(sc): CPython reuses the id of a stopped,
# collected context, and a restarted session must ship the zip again
_PYFILES_SENT: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via addPyFile.

    Any operator built on mapInPandas/pandas_udf pickles closures that
    reference this package by module name; workers spawned by a session
    that didn't pip-install the package (e.g. the external driver) can
    only resolve it if the zip rides along. Idempotent per application;
    each application writes its own zip, so concurrent processes never
    rewrite one another's.
    """
    import atexit
    import shutil
    import tempfile
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_SENT:
        return
    pkg_dir = Path(__file__).resolve().parent
    zdir = tempfile.mkdtemp(prefix=f"las_vpe_platform_spark-{key}-")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = Path(zdir) / "las_vpe_platform_spark_pyfiles.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
    sc.addPyFile(str(zpath))
    _PYFILES_SENT.add(key)

