"""SparkSession factory tuned for this engine.

The reference delegates execution to BigQuery and only configures
concurrency/timeout/priority (test_profiles/profiles.yml:11-13). Here Spark
*is* the engine, so session-level tuning is where those knobs land:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — the
  100 TB story: plans written here must survive scale-up without hand-tuned
  partition counts.
- ``spark.sql.sources.partitionOverwriteMode=dynamic`` — the native
  equivalent of the reference's dynamic ``insert_overwrite`` merge
  (bq_insert_overwrite, manifest.json:1@34992).
- FAIR scheduler — inter-model parallelism (profiles.yml ``threads: 4``)
  maps to concurrent Spark jobs from a thread pool.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — back-compat with earlier
  driver testdata that stored ``events.ts`` as parquet TIMESTAMP(NANOS)
  (current fixtures store TIMESTAMP(µs), where this config is a no-op).
  The source layer (sources/catalog.py) normalizes conditionally: a BIGINT
  ``ts`` is treated as nanos-since-epoch and truncated to microseconds,
  matching DuckDB's TIMESTAMP_NS→TIMESTAMP cast; a native timestamp passes
  through unchanged.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  and oracle-comparable.
- ``spark.sql.codegen.cache.maxEntries=2000`` (static, set when the
  session is created). Whole-stage codegen keeps its compiled classes in
  one JVM-wide LRU of 100 entries by default, below the engine's working
  set: one process of the benchmark's ``corpus_curation`` workload
  compiles 149 distinct classes, ``ci_slim`` 144 (set-up, warm-up and
  two cycles with their verification). At 100, every warm op recompiled
  its classes on the driver: ``minhash_clusters`` 64-69 per call,
  ``cc_star_chain`` 49, ``kmeans`` 15, ``nightly_job`` 17-44. At 2000
  they compile none. A tier-1 run, which builds most plans once,
  compiles 3,215 classes at 100 and 2,262 at 2000. SCALE.md "Codegen
  cache" has the measurements.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: otherwise
  pyspark walks the Python stack and sends the call site over py4j on
  every Column/DataFrame call, about half of a corpus op's round trips.
  The cost: a runtime error's DataFrame context no longer names the
  Python line that built the failing expression. Measured with the cache
  sizing in SCALE.md "Codegen cache".
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "dbt_ci_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    Safe to call when a session already exists (e.g. under the driver's
    verify harness): ``getOrCreate`` reuses it, and the configs below that
    are dynamic (AQE, overwrite mode, timezone) are re-applied via
    ``spark.conf`` so behavior is consistent either way.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(master or default_master())
        # Local mode runs driver+executors in one JVM; the 1g default heap
        # causes constant GC under the hash/shuffle-heavy operators. Both
        # confs are static (read once per JVM), so they are set only when
        # creating the session.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        ).config("spark.sql.codegen.cache.maxEntries", "2000")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Re-assert dynamic confs in case we attached to a pre-existing session.
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    spark.sparkContext.setLogLevel("ERROR")
    ensure_checkpoint_dir(spark)
    return spark


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set a reliable-checkpoint directory if the context has none.

    :func:`checkpoint` writes here. Locally this is a temp dir; on a
    real cluster, point it at HDFS/S3 via an explicit
    ``sc.setCheckpointDir`` before any query runs (this helper respects
    a pre-set dir).

    Disk hygiene for long-lived sessions (bench loops, daily admissions):
    the owned temp dir is removed at interpreter exit, and
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
    :func:`get_spark`) lets the ContextCleaner delete individual
    checkpoint files once their RDDs are GC'd, so repeated iterative
    operators don't accumulate unbounded checkpoint state mid-session.
    """
    sc = spark.sparkContext
    existing = sc.getCheckpointDir()
    if existing:
        return existing
    # The fallback is a DRIVER-LOCAL temp dir — a valid reliable-
    # checkpoint location only when executors share the driver's
    # filesystem (local mode). On a multi-node master, silently falling
    # back would make every eager checkpoint write to a path the
    # executors cannot all see; fail loudly instead (ADVICE r14).
    master = sc.master or ""
    if not master.startswith("local"):
        raise RuntimeError(
            "no checkpoint dir set and the master is non-local "
            f"({master!r}): a driver-local temp dir is not a valid "
            "reliable-checkpoint location on a cluster — call "
            "sc.setCheckpointDir with an HDFS/S3 path before any query "
            "runs (see this module's docstring)"
        )
    path = tempfile.mkdtemp(prefix="dbt_ci_demo_spark_ckpt_")
    sc.setCheckpointDir(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# Materialization policy: the package's only persist/checkpoint calls.
# SCALE.md "Materialization policy" has the rationale and measurements.
# ---------------------------------------------------------------------------


@contextmanager
def pinned(*dfs: DataFrame) -> Iterator[None]:
    """Cache ``dfs`` (default storage level, lineage kept) for the block
    and unpersist them on exit, also when the block raises. Frames are
    persisted in argument order, so a later frame derived from an
    earlier one caches over the earlier cache, and released in reverse."""
    try:
        for df in dfs:
            df.persist()
        yield
    finally:
        for df in reversed(dfs):
            df.unpersist()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager reliable checkpoint: ``df``'s rows written to the session's
    checkpoint dir, lineage truncated to those files. The one cut for
    every corpus-sized frame; it pins nothing in executor storage."""
    ensure_checkpoint_dir(df.sparkSession)
    return df.checkpoint(eager=True)


def pin_small(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint of a k-row table: the rows materialize inside
    the first action and every later reference reads them. A shuffle-free
    plan runs no job here; under AQE a plan with an exchange runs its
    shuffle map stages now (finalizing the adaptive plan), and only the
    final stage waits. The truncated lineage may outlive the call, so this is for
    k-row tables only: a lost block fails the action, and the retry
    re-derives k rows. The blocks are freed by the ContextCleaner once
    the frame is garbage-collected."""
    return df.localCheckpoint(eager=False)
