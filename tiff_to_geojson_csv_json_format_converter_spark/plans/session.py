"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and
merely *also* works on local[N]:

- AQE on (runtime coalescing + skew-join splitting for the dense-tile
  skew the synthetic layout deliberately contains)
- Arrow on, large batches (the decode UDFs move pixels JVM<->Python in
  few large Arrow batches, not rows)
- zstd parquet, 128 MB target file partitions
- on ``local[...]`` masters, Python workers fork from
  ``plans.worker_daemon``, which cuts the per-task Python constant

Every Arrow UDF task pays a fixed Python CPU cost in its worker. For
an identity ``mapInArrow`` (4-core host, Python 3.11, ``local[2]``,
reused workers; CPU of a worker between consecutive tasks) it is 0.28 s
with the stock ``pyspark.daemon``:

- ~0.23 s ``importlib.invalidate_caches()`` at task start, which makes
  each of the worker's 16 zip importers re-read pyspark.zip's directory;
- ~0.044 s the daemon's ``gc.collect()`` after the task, a walk of every
  object the worker holds;
- the rest, ~3 ms: socket handshake, reading and unpickling the
  command, opening the Arrow streams.

``plans.worker_daemon`` removes the first two: 0.003 s per task. The
per-task wall time of the same stage over a JVM-only one (perfbench's
``spark.py_task_fixed_ms``, ``local[4]``) fell from 58-73 ms to
14-17 ms; the rest is JVM-side task launch and the handshake. It is
set only for ``local[...]`` masters. On a cluster the daemon starts
before the executor can import the application's ``--py-files``, so it
could not import this package; there the stock daemon runs.

On ``local[...]`` masters the driver JVM, which then runs every task,
compiles with C2 (tier 4) thresholds 3x the JVM's
(``spark.driver.defaultJavaOptions``). Early in a JVM most JIT work is
C2 compiling warm-but-not-hot methods that a short run never repays.
C1 still compiles on the JVM's schedule, so new code, Spark's generated
classes too, leaves the interpreter as early as before; the cost is a
little more JVM CPU in code that stays in C1 longer. Scaling every tier
(``-XX:CompileThresholdScaling=3``) saved as much CPU but slowed
``bench.py``'s best-of-3 suite ~9 %; raising only the C1 thresholds,
or ``-XX:Tier4LoadFeedback=1``, saved nothing. The runs are in
CHANGES.md.

The key reaches only a JVM that ``get_spark`` launches. A JVM that
``spark-submit`` already started ignores it, so ``BENCH/run_bench.sh``
passes ``DRIVER_JIT_OPTIONS`` itself. Cluster masters do not get it:
there the key is the administrators' (``spark-defaults.conf``) and the
policy was not measured. ``extra_conf`` replaces the key; a caller's
``spark.driver.extraJavaOptions`` is appended after it.

Two other JIT flags were measured and rejected (perfbench
``--seconds 2``, seed 21, one run per flag and workload, 4-core host).
``-XX:TieredStopAtLevel=1`` (C1 only) cut ``spatial_query``'s
``pass_cpu_s`` from 9.68 to 6.91 s, but its pass wall time rose from
~3.3 to ~4.7 s; on ``ingest_tiles`` it raised ``pass_cpu_s`` from
10.41 to 12.57 s, and ``zonal_stats`` from 0.99 to 2.18 s.
``-XX:CICompilerCount=2`` stayed within noise on both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# the local driver JVM's JIT policy: the tier-4 (C2) thresholds 3x the
# JVM's 5000 / 600 / 15000 / 40000 (module docstring)
DRIVER_JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800"
                      " -XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000")
# the directory holding this package, so Python workers can import it
# whatever the working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(
    app_name: str = "tiff2geo-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # glibc: serve large allocations from the brk heap and never trim it
    # back. numpy routes big-array mallocs through mmap by default, and
    # every mmap/munmap cycle re-faults the pages on first touch; on
    # lazy-paging hosts (firecracker-style microVMs, also some
    # overcommitted cloud nodes) that costs ~75us/page — measured here
    # as a 40x slowdown (2 GB fresh-out multiply: 40 s vs 1 s into a
    # reused buffer). Keeping the heap means a worker's second task
    # reuses already-faulted pages. Must be set BEFORE the JVM forks the
    # python worker daemons; respects pre-set values.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(2 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(2 << 30))
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_conf(master: str | None, shuffle_partitions: int | None = None,
                 extra_conf: dict | None = None) -> dict:
    """The Spark conf ``get_spark`` sets for ``master`` (None: chosen by
    the launcher); ``extra_conf`` overrides any key."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # JVM<->Python pipelining: cap batches by BYTES, not just records.
        # Image rows are ~0.1-1 MB; the 64 MB default turns a whole input
        # partition into one batch, serializing producer and consumer
        # (measured 5-10x wall-clock loss on 16-32 cores). 4 MB keeps
        # ~30 image rows or ~90k point rows per batch — streaming overlap
        # for both row shapes.
        "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if master == "local" or (master or "").startswith("local["):
        # a cluster's executors import --py-files only after their daemon
        # has started, so the daemon module is a local-only setting
        conf["spark.python.daemon.module"] = f"{__package__}.worker_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_ROOT
        conf["spark.driver.defaultJavaOptions"] = DRIVER_JIT_OPTIONS
    if extra_conf:
        conf.update(extra_conf)
    return conf
