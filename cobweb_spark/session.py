"""SparkSession factory with the engine's standard configuration.

Everything here is plain upstream Spark configuration: AQE on (runtime
re-planning, skew-join splitting), Arrow on (all our Python touchpoints are
pandas UDFs / mapInPandas). Master and heap sizes default from the host
(cores usable by this process, physical RAM); every ``SPARK_GRAFT_*``
variable overrides its default. On a real cluster these come from
spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# JVM heap (driver and, under local-cluster, each executor) as a share of
# physical RAM: the Python workers, the Arrow buffers and the OS page cache
# of the parquet inputs live outside the heap
HEAP_RAM_FRACTION = 0.25


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_heap_mb() -> int:
    """Default JVM heap: ``HEAP_RAM_FRACTION`` of physical RAM, >= 1 GiB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1024, int(ram * HEAP_RAM_FRACTION) >> 20)


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the cobweb_spark package to executor Python workers.

    Our pandas UDFs reference module functions by name, so workers must be
    able to import ``cobweb_spark`` even when the driver process was
    launched from a different working directory (the spark-submit
    ``--py-files`` path on a real cluster). Idempotent per session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_cobweb_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "cobweb_spark_pkg.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, repo_root))
    sc.addPyFile(zip_path)
    sc._cobweb_shipped = True


def get_spark(
    app_name: str = "cobweb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS') or host_cores()}]"
    )
    heap = host_heap_mb()
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap}m"),
        )
        # pin a real initial heap (half the maximum): with -Xms at the 1g
        # default, the first big Arrow wave rides the heap-expansion
        # boundary and G1 intermittently stalls the stage ~100s (observed
        # ~50% of runs)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_OPTS", f"-Xms{heap // 2}m"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXECUTOR_OPTS", f"-Xms{heap // 2}m"),
        )
        # ignored under local[*] (driver heap rules); REQUIRED under
        # local-cluster: the [n,cores,mem] spec caps the worker, but the
        # executor still requests spark.executor.memory (default 1g —
        # which the -Xms pin above would exceed, death-looping the
        # executor launch)
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", f"{heap}m"),
        )
        .config("spark.memory.fraction", "0.7")
        # shuffle/spill to tmpfs when available: local-mode shuffles on a
        # slow disk serialize the whole pipeline regardless of core count
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm")
                else "/tmp",
            ),
        )
        .config(
            "spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024)
        )
        # hash joins over sort-merge: the per-wave frontier⋈corpus joins
        # hit a hash-partitioned cached side — SMJ would re-sort the whole
        # corpus every wave, SHJ just builds a map over the frontier side
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.shuffledHashJoinFactor", "1")
        # Python stages have high per-byte cost: small splits / advisory
        # sizes keep Arrow-UDF parallelism at core count instead of
        # 128MB-file-split count. (4MB splits were tried to chase idle
        # cores at local[32] and made everything slower — per-task
        # scheduling overhead beats the extra parallelism here.)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # the default 4MB open-cost FLOORS split sizes: a 73MB
        # single-file corpus scanned on 32 cores gets 19 four-MB splits
        # instead of the 32 the minPartitionNum target asks for, leaving
        # a third of the cores idle under the Python extraction stage
        # (round 7, measured: 8.2s -> 6.1s for the full-corpus extract).
        # 1MB still amortizes a local file open; the corpus files here
        # are row-group-dense (~1.4MB groups), so finer splits stay real.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(8 * 1024 * 1024),
        )
        # python-worker daemon with numpy (ONLY) preloaded before the
        # first fork (cobweb_spark/pydaemon.py): worker respawns after
        # unclean releases then cost a fork instead of an import storm.
        # pandas/pyarrow are NOT preloaded — libarrow's jemalloc
        # background thread is a fork hazard (sporadic worker crashes +
        # task-retry storms; see pydaemon docstring). The executor-side
        # Python must be able to import the module — PYTHONPATH carries
        # the repo (sandbox) / the --py-files zip (cluster).
        # SPARK_GRAFT_PY_DAEMON=pyspark.daemon reverts.
        .config(
            "spark.python.daemon.module",
            os.environ.get("SPARK_GRAFT_PY_DAEMON", "cobweb_spark.pydaemon"),
        )
        # crashed workers print a Python traceback instead of the opaque
        # "exited unexpectedly" — negligible overhead, saved a round of
        # forensics once already
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config(
            "spark.sql.execution.pyspark.udf.faulthandler.enabled", "true"
        )
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
