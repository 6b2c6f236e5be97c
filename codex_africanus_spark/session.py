"""SparkSession factory tuned for this engine.

Local mode mirrors the driver harness (local[32], single JVM). The configs
are chosen for 100 TB-scale habits even though tests run locally:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  replaces the reference's hand-tuned chunking (`--row-chunks`,
  /root/reference/africanus/rime/examples/predict.py:141).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- Arrow enabled: every pandas-UDF escape hatch is Arrow-batched.
- nanosAsLong: the driver's parquet uses TIMESTAMP(NANOS), which Spark's
  vectorized reader does not support natively; we read exact integer
  nanoseconds instead (no precision loss, unlike micros truncation).
- session timezone pinned UTC so timestamp arithmetic is engine-independent.
- PySpark's DataFrame call-site capture off
  (`spark.python.sql.dataFrameDebugging.enabled=false`). With it on, every
  `F.*` function and Column operator wraps its one JVM call in about four
  more py4j round trips: `getActiveSession`, a conf read, and an origin
  set/clear. One build plus collect of `corrupt_vis_apply_gains` at
  sf0.001 took 4,350-4,530 round trips with capture on and 1,420-1,450
  with it off (4-vCPU Xeon VM, warm session).
  What is lost: a DataFrame error no longer names the Python file and line
  that built the failing expression; its error class and message are
  unchanged. The conf is static, and PySpark reads it once per process
  (the first time any DataFrame API runs with a session active). To debug
  with call sites, build the session in a fresh process with it back on:
  `SparkSession.builder.config("spark.python.sql.dataFrameDebugging.enabled",
  "true")`, or `--conf spark.python.sql.dataFrameDebugging.enabled=true`
  on spark-submit. A session built by a caller (as `__spark_entry__`
  receives one) keeps whatever it was built with: `configure_session`
  cannot change it.
- Python workers fork from this engine's daemon
  (`spark.python.daemon.module=codex_africanus_spark.worker_daemon`).
  Spark puts `$SPARK_HOME/python/lib/pyspark.zip`, the py4j zip and the
  spark-core jar first on every worker's path. The zip holds no `.pyc`,
  so each new worker compiled `pyspark.worker` and the Arrow serializers
  from source, and PySpark's `importlib.invalidate_caches()` on every task
  made each of the 16 cached zip importers of a warm worker (the jar's
  5,359 entries twice) re-read its archive. The daemon takes those three
  entries and their importers off the path, so pyspark loads from its
  installed copy, and imports the worker's modules (`pyspark.worker`, the
  Arrow serializers, numpy, pandas, pyarrow) once before it forks.
  On `corrupt_vis_apply_gains` over 20k vis rows (4-vCPU Xeon VM), the
  Python workers' CPU per warm execution fell from 0.96-1.17 to
  0.21-0.26 s, about 0.2 CPU-s for each of its four Python tasks, and
  per cold execution from 3.3-4.1 to 0.9-1.1 s.
  It keeps Spark's path when SPARK_HOME is unset, `pyspark.zip` is not
  on the path, the installed pyspark or py4j does not resolve from a
  directory, or the installed `pyspark/version.py` differs from the
  zip's. `spark.executorEnv.PYTHONPATH` is set to the directory holding
  this package, so workers find the daemon whatever the driver's working
  directory. A session built by a caller (`__spark_entry__`) keeps
  Spark's own daemon: the conf is static.

Every engine conf but the driver memory (`SPARK_DRIVER_MEMORY`) lives in
`SESSION_CONFS`, which `get_spark`, `configure_session` and
`tools/profile_bench.py` all read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# the directory holding this package, on the Python workers' path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (key, value, scope). Scope says where an entry applies:
#   "sql"    every session, ours or one handed in (runtime SQL confs);
#   "local"  local masters only: bench-scale I/O and parallelism knobs;
#   "static" only a session this engine builds (static confs cannot be
#            set on a running session).
# A value of None stands for the session's core count.
SESSION_CONFS: tuple[tuple[str, str | None, str], ...] = (
    ("spark.sql.adaptive.enabled", "true", "sql"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true", "sql"),
    ("spark.sql.adaptive.skewJoin.enabled", "true", "sql"),
    # guide §3.1/§9: let the planner pick shuffled-hash join when its
    # size conditions hold instead of always sort-merge — drops both
    # sort passes from fact⋈fact joins (measured at sf10: q5's
    # lineitem⋈orders). Scale-safe: SHJ is only chosen when the
    # build side fits the per-partition hash-map bound; SMJ remains
    # the fallback for genuinely large both-sides joins.
    ("spark.sql.join.preferSortMergeJoin", "false", "sql"),
    # AQE twin of the same choice for runtime-sized shuffles
    ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m", "sql"),
    ("spark.sql.session.timeZone", "UTC", "sql"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true", "sql"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true", "sql"),
    ("spark.sql.parquet.mergeSchema", "false", "sql"),
    # Local-bench-only I/O knobs (r13 verdict item 2): the testdata
    # tables are single small parquet files, so an 8 MB split target
    # restores scan parallelism on 32 cores. On a real cluster an
    # 8 MB target would be ~12.5M tasks per 100 TB scan — keep the
    # 128 MB default there (guide §6 even recommends raising it).
    ("spark.sql.files.maxPartitionBytes", "8m", "local"),
    ("spark.sql.files.openCostInBytes", "1m", "local"),
    # the driver's session keeps the 200/400 default; at bench
    # scale the right pre-AQE width is the core count (AQE still
    # coalesces down, but over-wide shuffles pay task-launch
    # overhead in the iterative solvers' per-iteration joins).
    # Cluster deployments size this from data volume instead.
    ("spark.sql.shuffle.partitions", None, "local"),
    # call-site capture off: see the module docstring
    ("spark.python.sql.dataFrameDebugging.enabled", "false", "static"),
    # Python workers fork from this engine's daemon: see the module docstring
    ("spark.python.daemon.module", "codex_africanus_spark.worker_daemon", "static"),
    ("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT, "static"),
    ("spark.ui.enabled", "false", "static"),
)


def session_confs(cpus: str, *, local: bool = True, static: bool = True) -> list[tuple[str, str]]:
    """`SESSION_CONFS` as (key, value) pairs for a session on `cpus` cores;
    `local`/`static` select whether those scopes are included."""
    scopes = {"sql"} | ({"local"} if local else set()) | ({"static"} if static else set())
    return [(k, str(cpus) if v is None else v) for k, v, scope in SESSION_CONFS if scope in scopes]


def session_builder(app_name: str, cpus: str | None = None) -> SparkSession.Builder:
    """A local-mode builder carrying every entry of `SESSION_CONFS`."""
    cpus = cpus or DEFAULT_CPUS
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in session_confs(cpus):
        builder = builder.config(k, v)
    return builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))


def get_spark(app_name: str = "codex_africanus_spark", cpus: str | None = None) -> SparkSession:
    spark = session_builder(app_name, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime confs to a session built by a caller
    (`__spark_entry__` receives one). Static confs, call-site capture
    among them, keep the values it was built with."""
    try:
        is_local = spark.conf.get("spark.master", "").startswith("local")
    except Exception:
        is_local = False
    for k, v in session_confs(DEFAULT_CPUS, local=is_local, static=False):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable at runtime in some deployments; fine
    return spark
