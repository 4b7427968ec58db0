"""SparkSession construction tuned for the engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime coalesce + skew-join), shuffle partitions sized to the
parallelism actually available, UTC session timezone so timestamp
semantics match the DuckDB oracle and any downstream warehouse.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs that are safe (and desirable) to apply to an
# externally-provided session too — e.g. the driver's.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let the planner SEE a cached plan's output partitioning under
    # AQE. Default false hides it (InMemoryTableScan reports Unknown),
    # so every iterative operator that persists a repartitioned
    # loop-invariant frame (pagerank's edge list, triangle_count's
    # oriented edges) pays an ENSURE_REQUIREMENTS re-shuffle of the
    # big side per consumer — the exact shuffle the persist exists to
    # remove (guide §2.4). Scale-independent: the win grows with the
    # edge set. Trade-off is AQE may serve the cache at its original
    # partition count rather than coalescing; our persisted frames are
    # explicitly repartitioned to cluster width, where that is what we
    # want anyway.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


# Sessions we've already shipped the package zip to, keyed by
# (applicationId, startTime) — never by object id, which CPython
# recycles across garbage-collected contexts.
_SHIPPED: set[tuple] = set()

# This process's package zip (built once per process; a fresh mkstemp
# path so a stale or foreign /tmp file from an earlier run/pid can
# never be shipped in place of the current code).
_PKG_ZIP: list[str] = []


def _package_zip() -> str:
    if _PKG_ZIP:
        return _PKG_ZIP[0]
    import tempfile
    import zipfile as _zf

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix="github_etl_spark_pkg_", suffix=".zip")
    os.close(fd)
    with _zf.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    _PKG_ZIP.append(zip_path)
    return zip_path


def export_pythonpath() -> None:
    """Prepend the package parent to PYTHONPATH for Python workers.

    Batch task workers get the package via addPyFile; the STREAMING
    data-source planner worker honors only PYTHONPATH. Exporting here
    (called from tune(), i.e. also for externally-provided sessions)
    covers workers spawned after this point — workers launch lazily, so
    in practice that is all of them."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )


def ship_package(spark: SparkSession) -> None:
    """Make `github_etl_spark` importable on executors via addPyFile.

    Python-executed operators (mapInPandas / applyInPandas closures)
    unpickle by importing this package in the worker process. When the
    driving session was created by an external harness whose
    PYTHONPATH doesn't include the repo (it sys.path-inserts on the
    driver only), workers would fail the import — shipping a zip of the
    package with the job fixes that for any deployment, which is also
    exactly how this code reaches a real cluster's executors.
    """
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime)
    if key in _SHIPPED:
        return
    try:
        sc.addPyFile(_package_zip())
    except Exception:
        # Some managed deployments forbid addPyFile; workers must then
        # already have the package installed.
        pass
    _SHIPPED.add(key)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Called at the top of every public query entry point so that the
    driver-owned session gets the same semantics our own sessions do
    (most importantly UTC timestamps for oracle parity — SURVEY.md
    §7.4 risk 1).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment — keep going; individual
            # queries avoid depending on any single conf for correctness.
            pass
    export_pythonpath()
    ship_package(spark)
    return spark


def get_spark(app_name: str = "github_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a local session sized to this machine.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (bench contract).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    export_pythonpath()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Managed tables (bucketed layouts) land in tmp, not the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/github_etl_spark_warehouse"
            ),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def scoped_checkpoint_dir(spark: SparkSession, path: str | None):
    """Set the session checkpoint dir for the duration of an EAGER
    checkpointing operation, restoring the previous state (including
    "unset") afterward — a per-call directory must not leak into later
    operators' reliable-vs-local checkpoint selection (they pick the
    reliable path whenever a session dir is visible).

    ``path=None`` is a no-op. Note: Spark resolves a configured dir to
    a per-context UUID subdirectory, so "restore" re-points the parent
    at the previously RESOLVED dir — subsequent checkpoints land one
    level deeper under the original root, which is harmless (same
    filesystem, same visibility).
    """
    if path is None:
        yield
        return
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    sc.setCheckpointDir(path)
    try:
        yield
    finally:
        if before is not None:
            sc.setCheckpointDir(before)
        else:
            # Clearing an unset dir has no public API; reach the Scala
            # setter through py4j. If a Spark upgrade renames/hides it,
            # degrade to LEAVING the dir set (a documented, harmless
            # leak: later operators just keep the reliable path) — a
            # restore failure must never mask the checkpointed
            # operator's successful result out of this finally block.
            try:
                getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                    sc._jvm.scala.Option.empty()
                )
            except Exception:  # noqa: BLE001 — py4j raises broadly
                import warnings

                warnings.warn(
                    "scoped_checkpoint_dir: could not restore the unset "
                    f"checkpoint dir; leaving it at {path!r}",
                    RuntimeWarning,
                    stacklevel=2,
                )


@contextmanager
def persisted(df):
    """Persist ``df`` for the block and unpersist it on the way out,
    raised or not — the one release idiom for frames a block consumes
    more than once. Stack several with ``contextlib.ExitStack``; they
    are released in reverse order."""
    try:
        yield df.persist()
    finally:
        df.unpersist()


def run_concurrently(fns, max_workers: int) -> list:
    """Call every ``fn`` in ``fns`` on its own driver thread, at most
    ``max_workers`` at a time, and return their results in order.

    Spark runs jobs submitted from separate threads side by side, so
    independent small jobs overlap instead of queueing behind each
    other's fixed cost. Each call runs through
    `pyspark.util.inheritable_thread_target` with its own copy of the
    caller's local properties and tags: the job group, description and
    tags reach every thread (so `cancelJobGroup` and `interruptTag`
    still stop the work), and a thread that sets its own job group
    leaves the others' alone.

    Every call finishes before this returns; the first failure in
    submission order is then re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=max(1, max_workers)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(session)(fn)) for fn in fns
        ]
    return [f.result() for f in futures]


def release(df) -> None:
    """Free everything ``df`` holds: its CacheManager entry, the blocks
    of the RDD an eager checkpoint materialized, and the files of a
    reliable checkpoint. The one release call for dead frames.

    ``unpersist()`` alone frees none of a checkpoint's storage: the
    CacheManager holds no entry for it, so a localCheckpoint's blocks
    stay in ``getPersistentRDDs`` until JVM garbage collection wakes
    the ContextCleaner, and a reliable checkpoint's files stay on disk
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    false) — one full working-table copy per round of an iterative
    operator.

    Call it only once ``df`` is truly dead (the next round's checkpoint
    is materialized, or the result was collected): a frame that still
    reads it would lose its blocks.

    Reaches the checkpointed RDD through py4j (LogicalRDD → rdd) and
    deletes files via the Hadoop FileSystem; any failure there — plan
    shape changed in a Spark upgrade, local-mode quirks, permission —
    degrades to the cleaner-or-app-end leak with a warning, never an
    error (same degrade contract as scoped_checkpoint_dir's restore)."""
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        rdd = plan.rdd()
        rdd.unpersist(False)
        opt = rdd.getCheckpointFile()
        if not opt.isDefined():
            return
        sc = df.sparkSession.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(opt.get())
        jpath.getFileSystem(sc._jsc.hadoopConfiguration()).delete(jpath, True)
    except Exception as e:  # noqa: BLE001 — py4j raises broadly
        import warnings

        warnings.warn(
            f"release: could not free checkpoint data ({e}); it remains "
            "until the cleaner or app end",
            RuntimeWarning,
            stacklevel=2,
        )


def eager_checkpoint(df):
    """Materialize ``df`` and truncate its lineage, reliable when a
    session checkpoint dir is configured (setCheckpointDir at startup,
    the production default), executor-local blocks otherwise — the ONE
    implementation of the selection idiom every iterative operator
    uses (connected components, PageRank, BPE learn, surrogate keys);
    policy changes (e.g. cleanup interaction with ``release``) belong
    here, not in per-operator copies."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
