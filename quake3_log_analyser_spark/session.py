"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case too: AQE on (runtime re-plan + skew-join
splitting + partition coalescing), shuffle partitions sized to the
parallelism at hand, Arrow enabled for every pandas-UDF boundary, and UTC
pinned so results compare bit-stably against external oracles.

Every Python worker task costs a fixed 0.1-0.2 CPU-s whatever its row
count: on Python 3.11, ``importlib.invalidate_caches()`` in the worker's
``setup_spark_files`` re-reads the directory of ``pyspark.zip`` once per
zip importer (about 16) on every task.  On small and medium inputs that
fixed cost outweighs the Arrow parse kernels, so plans keep Python stages
few (one fused fold stage, not a parse stage plus a grouped-map stage),
and driver-side tables are built by ``local_table`` as Arrow local
relations, which start no Python worker at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The driver JVM's options, for a one-shot job: one fresh JVM per run that
# pays set-up and the first call once, runs a few warm calls and exits.
# get_spark passes them on a plain-Python launch; under spark-submit the
# driver JVM is already running, so the submit command passes the same
# string as --driver-java-options (README.md, jobs/run_pipeline.py).
# Figures: CPU per JVM thread of a fresh get_spark(), then after four
# kills and four full-menu summaries in the same JVM; 4-core host, JDK 17.
DRIVER_JAVA_OPTS = " ".join((
    # the throughput collector: G1 live-locked under 32 executor threads
    # of allocation-heavy work (83 s against 2 s for the same job).  The
    # JVM sizes its GC threads from the cores it may use (4 here); a fixed
    # 16, set for those 32 executor threads, spent 1.9-4.4 s of GC-thread
    # CPU against 1.5-2.2 s
    "-XX:+UseParallelGC",
    # JDK 17 starts the metaspace high-water mark at ~21 MB, so loading
    # Spark's classes took three "Pause Full (Metadata GC Threshold)"
    # collections in set-up and a fourth in the first calls; at 256m
    # there are none, and GC threads spend 1.5-2.2 s instead of 3.5-3.8 s
    "-XX:MetaspaceSize=256m",
    # C2 thresholds ~10x the JDK 17 defaults (5000 / 600 / 15000 / 40000):
    # Spark's one-time start-up code no longer buys C2 compiles, while
    # code that runs rep after rep still reaches C2.  CPU of live C2
    # threads plus exited threads (mostly C2): 5.8-6.8 s -> 1.5-2.0 s in
    # set-up, 38-42 s -> 18-19 s by the end of the calls.  C1 only
    # (TieredStopAtLevel=1) set up faster but cost warm kills reps a
    # third more CPU
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=400000",
))


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on (its
    CPU affinity, as ``nproc`` counts them, not the host's core count).

    One shuffle partition per core locally; on a real cluster this should
    be ~2-3x total executor cores (or left to AQE's coalescing with a high
    initial value)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the memory this process may
    use, capped at 24g.

    The limit is the cgroup's (v2 ``memory.max`` or v1
    ``memory.limit_in_bytes``) when one is set below physical RAM, else
    physical RAM.  The heap is only part of the JVM's resident set (the
    Python workers, Arrow buffers and off-heap shuffle come on top), so a
    heap as large as the host gets the JVM killed by the kernel instead
    of collecting its garbage."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" when there is no limit
            avail = min(avail, int(raw))
        break
    return f"{min(24 * 1024, avail // 2 // 2**20)}m"


def local_table(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-side table as an Arrow local relation.

    ``spark.createDataFrame(list_of_tuples, ...)`` builds a PythonRDD, so
    every action over it runs a Python task per partition (4 on
    ``local[4]``), each paying the fixed worker-task cost in the module
    docstring.  Handing Spark a ``pyarrow.Table`` instead plans as
    ``LocalTableScan`` and starts no Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


def _submitted_master() -> str | None:
    """Master set by ``spark-submit --master``.  ``None`` when launched
    as a plain Python process.

    Under spark-submit, PythonRunner starts the JVM first and hands the
    user's Python a live py4j gateway via ``PYSPARK_GATEWAY_PORT``; the
    submitted conf lives in that JVM's system properties (NOT in a fresh
    Python-side ``SparkConf()``, which is empty until the gateway is
    attached).  Plain Python has no gateway env, and probing must not
    launch a JVM just to discover there is no submitted master."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark.core.context import SparkContext

    SparkContext._ensure_initialized()  # attaches, does not launch
    jvm = SparkContext._jvm
    if jvm is None:  # pragma: no cover - connect/remote-only mode
        return None
    return jvm.System.getProperty("spark.master")


def get_spark(
    app_name: str = "quake3_log_analyser_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Honor spark-submit's --master: a job launched via
    # ``spark-submit --py-files pipeline.zip jobs/run_pipeline.py`` must
    # run at the cluster size the operator chose, not a hard-coded
    # local[N].  Only when no master was submitted (library / pytest /
    # bench use) does the local[cpus] default apply.  An explicit
    # ``cpus=`` argument still wins — callers like perfbench pin their
    # parallelism deliberately.
    submitted = _submitted_master() if cpus is None else None
    cpus = cpus or default_cpus()
    if shuffle_partitions is None:
        if submitted is not None:
            import re

            m = re.fullmatch(r"local\[(\d+)\]", submitted)
            # local[K] -> K; anything else (yarn, k8s, local[*]) leaves
            # shuffle sizing to the submitted conf / AQE coalescing
            shuffle_partitions = int(m.group(1)) if m else None
        else:
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(submitted or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner choose a shuffled-hash join when its size
        # conditions hold (guide §3.1/§9): no sort on either side, build
        # side bounded by the planner's per-partition size gate, AQE
        # skew-split applies to SHJ as to SMJ.  Measured r7 (paired,
        # in-session): LSH band join −5%, hot-fingerprint survivor join
        # −3%; env-overridable for deployments that prefer SMJ's
        # graceful spill on misestimated stats.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # permissive parse semantics (null-on-bad-cast) mirror the
        # reference's Option-returning number parser
        # (deserializer_logs.rs:163-169); explicit try_-functions are used
        # in hot paths regardless.
        .config("spark.sql.ansi.enabled", "false")
        # the staged parse chain carries ~60 columns; fusing it into one
        # whole-stage-codegen method exceeds janino's 64 KB limit (and WSCG's
        # variable mode cannot split expressions into sub-methods), so every
        # compile attempt burns ~60 s before falling back to interpreted
        # eval.  Capping maxFields makes wide stages use per-operator
        # projection codegen (which DOES split methods and compiles), while
        # narrow stages — scans, aggregates, joins — keep full WSCG fusion.
        .config("spark.sql.codegen.maxFields", "40")
        # align Spark's WSCG bail-out with HotSpot's -XX:DontCompileHugeMethods
        # threshold (8000 bytecodes): a generated whole-stage method between
        # 8 KB and the 64 KB default COMPILES under janino but HotSpot
        # refuses to JIT it, so the fused stage runs interpreted bytecode
        # forever.  Measured on the no-exchange bucketed session-first plan
        # (window + fenced expr parse + two aggregation levels fused into
        # one stage): 25-30 s default vs 15 s with the 8000 cap at 16M
        # turns x 16 cores.  Over-limit stages fall back to per-operator
        # codegen, which HotSpot does JIT; under-limit stages keep fusion.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # report the (conv_id, turn_idx) sort order of one-file-per-bucket
        # bucketed tables so the sessionize window skips its Sort entirely
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # v2 file-output commit: tasks move their files into the final
        # directory at task-commit time instead of the driver serially
        # renaming every file at job commit — the fan-out sink write
        # (tasks x sinks files) is commit-bound, not byte-bound (17 MB in
        # ~320 files locally; at cluster scale the v1 driver rename loop
        # grows with total file count while v2 stays parallel).  The
        # weaker job-level atomicity is the standard trade on
        # HDFS-semantics filesystems; object-store deployments should
        # swap in a manifest committer via SPARK_GRAFT_COMMIT_ALGO.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            os.environ.get("SPARK_GRAFT_COMMIT_ALGO", "2"),
        )
        # zstd parquet output (guide §6): markedly better ratio than
        # snappy at similar decode speed — fewer bytes written/stored/
        # rescanned for every materialized sink and index
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # single-node shuffle through the (slow, ~200 MB/s) VM disk is the
        # one serial resource that breaks core-count scaling — put shuffle
        # and spill files on tmpfs.  On a real cluster each node's local
        # NVMe plays this role and scales with the node count.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", DRIVER_JAVA_OPTS),
        )
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
