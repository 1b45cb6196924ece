"""SparkSession factory and runtime-conf guard.

Two consumers:

* our own tests / ``bench.py`` — ``get_spark()`` builds the session;
* the driver harness — it owns the session and calls ``queries()``
  callables; there we may only adjust *runtime* confs, via
  ``ensure_runtime_confs(spark)``.

Config rationale (written for the 100 TB target, exercised on local[N]):

* **AQE on** (+ partition coalescing + skew-join): at cluster scale this
  right-sizes post-shuffle partitions and splits skewed join partitions
  at runtime — the single highest-leverage knob for ad-hoc analytics.
* **shuffle.partitions = cores** locally, so every shuffle stage —
  streaming stages above all, which AQE does not coalesce — runs in
  one task wave: a width above the core count makes a second wave of
  the same per-task fixed cost (on 4 cores, 8 partitions ran the
  station dedup stage as two task waves). On a 1000-executor cluster
  set ~2-3× total cores and let AQE coalesce down per stage. A
  streaming checkpoint keeps the width it recorded.
* **Session timezone pinned UTC** so timestamp rendering matches the
  DuckDB oracle (naive-UTC) and is cluster-node independent.
* **Arrow enabled** — every Python-boundary crossing (pandas UDFs,
  ``toPandas``) is Arrow-batched, never row-pickled.
* **nanosAsLong** — the ``events`` table stores TIMESTAMP(NANOS), which
  Spark's vectorized parquet reader otherwise rejects; we read nanos as
  int64 and normalize to micros in ``io.load_table`` (lossless for our
  derivations, which are ≥ second granularity).
"""

from __future__ import annotations

import logging
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Confs that are runtime-settable and required for correct/deterministic
# results regardless of who built the session (e.g. the driver harness).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet uses TIMESTAMP(NANOS); see module docstring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet footer min/max → MIN/MAX/COUNT answered from metadata
    "spark.sql.parquet.aggregatePushdown": "true",
    # functions/scalar.py builds derivations as SQL text; its string
    # literals (r'...' regexes) parse as written only in the default mode
    "spark.sql.parser.escapedStringLiterals": "false",
}


_shipped_sessions: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (mapInPandas / pandas
    UDF workers unpickle module-level functions by reference). The
    cluster-idiomatic move is ``--py-files``; for an externally built
    session the runtime equivalent is ``addPyFile`` with a package zip.
    Idempotent per session."""
    key = id(spark.sparkContext)
    if key in _shipped_sessions:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as exc:
        # e.g. Spark Connect — workers then need PYTHONPATH instead
        log.warning("addPyFile(%s) failed: %s", zip_path, exc)
    _shipped_sessions.add(key)


def materialize(df, tag: str):
    """Materialization seam for iterative / reused frames (k-means
    rounds, label propagation, LSH candidate sets, memoized derived
    tables).

    Default: eager ``localCheckpoint`` — right for local sessions and
    the driver harness (no filesystem config needed), but the blocks
    live on executors and die with them.

    Set ``SPARK_GRAFT_CHECKPOINT_DIR`` (an HDFS/S3/DBFS path on a real
    cluster) to instead write the frame as parquet under
    ``<dir>/<tag>-<semanticHash>`` and read it back: durable across
    executor loss, reusable across jobs, and the path is
    plan-addressed so successive iteration states never clobber each
    other (each round's plan hashes differently).
    """
    base = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not base:
        return df.localCheckpoint(eager=True)
    try:
        key = f"{tag}-{df.semanticHash() & 0xFFFFFFFF:08x}"
    except Exception:
        key = tag
    path = f"{base.rstrip('/')}/{key}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime confs this engine relies on; safe on any session."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # Static conf on this build — get_spark() sets it at build
            # time; an externally built session keeps its value. Name
            # the key so environment drift is loud, not silent.
            log.warning("runtime conf %s=%s not applied: %s", key, value, exc)
    _ship_package(spark)
    return spark


#: Ceiling on the default driver heap, in MiB.
_DRIVER_MEMORY_CAP_MB = 32 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` for `get_spark`: ``VSP_DRIVER_MEMORY`` when
    set, else a quarter of physical RAM capped at 32g. The heap shares
    the machine with the Python workers and the page cache; a fixed 32g
    exceeds the RAM of a small machine, whose kernel then kills the JVM
    once the heap grows past it."""
    override = os.environ.get("VSP_DRIVER_MEMORY")
    if override:
        return override
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return "4g"  # no sysconf (non-POSIX): a heap any test box holds
    return f"{max(1, min(_DRIVER_MEMORY_CAP_MB, ram_mb // 4))}m"


def get_spark(
    app_name: str = "video-stream-processor-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a local[N] session with the engine's defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)  # one task wave; see module docstring
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # Local right-sizing: the test-SF parquet files are ≤ ~15 MB, so
        # the 128 MB default split gives a local[32] session 1-3 scan
        # tasks per table. 16 MB splits spread scans across cores
        # (q1 -20% at sf0.1). Cluster deployments against TB-scale
        # inputs should keep the 128 MB+ default — this is sized to the
        # local fixture files, hence get_spark-only (never forced onto
        # an externally built session by ensure_runtime_confs).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("VSP_MAX_PARTITION_BYTES", "16m"),
        )
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
