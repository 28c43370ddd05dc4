"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case too: AQE on (runtime re-plan + skew-join
splitting + partition coalescing), shuffle partitions sized to the
parallelism at hand, Arrow enabled for every pandas-UDF boundary, and UTC
pinned so results compare bit-stably against external oracles.

Every Python worker task has a fixed CPU cost whatever its row count.
Under pyspark's stock daemon on Python 3.11, ``importlib.invalidate_caches()``
in the worker's ``setup_spark_files`` re-reads the directory of
``pyspark.zip`` (1,328 entries) once per zip importer (about 16) on every
task.  A launch from ``get_spark`` runs its workers under
``worker_daemon``, which re-reads an archive only when it has changed:
on a 4-core host a one-row ``mapInArrow`` task on a reused worker cost a
median 0.339 CPU-s of worker CPU with the stock daemon and 0.075 with
``worker_daemon`` (20 tasks each), and the Python layer of a warm
benchmark nightly rep (``parse.python_ms``) fell from 2.19 to 1.21-1.46 s.
The rest still counts on small and medium inputs, so plans keep Python
stages few (one fused fold stage, not a parse stage plus a grouped-map
stage), and driver-side tables are built by ``local_table`` as Arrow
local relations, which start no Python worker at all.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shlex
import shutil
import subprocess
from pathlib import Path
from typing import NamedTuple

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

# JDK 17's dynamic AppCDS (JEP 350): the first plain-Python launch runs
# with -XX:ArchiveClassesAtExit, so its JVM writes the classes it loaded
# to an archive when it exits; later launches map them with
# -XX:SharedArchiveFile instead of loading and verifying them again.
# Perfbench on a 4-core host, medians of 12 nightly and 9 kills pairs
# against the same options without an archive, in CPU-s of the job's
# process tree: set-up 10.4 -> 6.2 (nightly) and 10.9 -> 6.3 (kills), the
# first call 33.5 -> 30.7 and 30.4 -> 26.6, warm reps unchanged.  75% of
# the classes the driver loads in set-up come from the archive, which is
# 164-176 MB.  The run that dumps it sets up in 13.4-13.6 CPU-s, and its
# JVM takes 14 s more to exit.  Perfbench launches plain Python in a local
# dir that persists between runs.  A spark-submit only maps (submit_env):
# README's submit command, whole job, 4 alternating pairs, CPU-s of the
# process tree 42.5 -> 35.9 (kills) and 36.3 -> 29.1 (nightly ops), wall
# 18.4 -> 14.5 s and 21.4 -> 15.8 s, once one plain-Python run dumped in
# the same local dir; that run cost 11-16 CPU-s and wall-s more than a
# submit without the archive, so it pays back after about two submits.
# The dump prints thousands of [warning][cds] lines (signed janino jars,
# pre-JDK-6 generated accessors); cds=error keeps them out of the log, and
# an error, or the [warning][cds,dynamic] line of an archive the JVM
# refuses, still shows.
ARCHIVE_LOG_OPTS = "-Xlog:cds=error"
ARCHIVE_DIR = "class-archive"
# shuffle and spill files go to tmpfs unless configured elsewhere
TMPFS_LOCAL_DIR = "/dev/shm/spark-local"
# the Python workers' daemon on a driver JVM that get_spark launches
WORKER_DAEMON = "quake3_log_analyser_spark.worker_daemon"


class ClassArchive(NamedTuple):
    """The class archive one driver JVM launch maps or dumps."""

    dump_to: str | None  # where the JVM writes one at exit; None to map
    conf_dir: str  # the empty directory the launch uses as SPARK_CONF_DIR
    options: str  # added to the driver's JVM options


def _local_dir() -> str:
    """The directory Spark uses for shuffle and spill files:
    ``SPARK_LOCAL_DIRS`` (its first entry), which Spark puts before
    ``spark.local.dir``, else ``SPARK_GRAFT_LOCAL_DIR``, else tmpfs."""
    dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if dirs:
        return dirs.split(",")[0]
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR", TMPFS_LOCAL_DIR)


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _conf_dir() -> str:
    """The conf directory Spark puts first on the driver's classpath."""
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")


def _java() -> str | None:
    """The ``java`` binary ``bin/spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, spark_home: str, java_opts: str, conf_dir: str) -> str:
    """One archive per JDK build, set of Spark jars, option string and
    conf directory, so an upgrade dumps a fresh archive instead of
    running unshared.  JDK 17 refuses an archive when a classpath jar's
    size or mtime differs, so both are in the key: a re-copied Spark
    dumps afresh too.  It also refuses one dumped with another classpath
    ("APP classpath mismatch"), and the launch's conf directory comes
    first on it: an archive copied or moved with its local directory
    would never map, so the directory's real path is in the key."""
    h = hashlib.sha256()
    jars = Path(spark_home, "jars")
    for f in (Path(java), *(sorted(jars.glob("*.jar")) if jars.is_dir() else ())):
        st = f.stat()
        h.update(f"{f} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(f"{os.path.realpath(conf_dir)}\n".encode())
    h.update(java_opts.encode())
    return h.hexdigest()[:16]


def _holds_files(path: str | None, except_suffix: str | None = None) -> bool:
    """``path`` is a directory with an entry, not counting the ones
    named ``*<except_suffix>``."""
    try:
        names = os.listdir(path) if path else []
    except FileNotFoundError:
        return False
    except OSError:  # unreadable: assume Spark reads what it holds
        return True
    return any(not (except_suffix and n.endswith(except_suffix)) for n in names)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def class_archive() -> ClassArchive | None:
    """The class archive for the next driver JVM launch: map the one of
    this key if a complete one exists, else dump one.

    ``None`` turns the archive off.  JDK 17 neither dumps nor maps while
    a non-empty directory is on the classpath, and Spark puts its conf
    directory first there.  So a launch uses an empty directory as
    ``SPARK_CONF_DIR`` when the configured one holds nothing Spark reads
    (only ``*.template`` files), and runs without the archive otherwise,
    or when ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` holds files.

    Archives live in Spark's local directory (``_local_dir()``), named
    ``<key>-<size>.jsa``: the JVM writes to ``<key>.<pid>.tmp`` and
    ``_end_jvm`` renames it only after a clean exit, so no run maps a
    half-written file.  A file whose size is not the one in its name was
    cut short after the rename, and a JVM that maps it crashes (SIGBUS),
    so it is deleted here; so is the ``.tmp`` of a process that died,
    and every complete archive of this key but the newest (two launches
    that dumped at once)."""
    java = _java()
    if (
        java is None
        or _holds_files(_conf_dir(), except_suffix=".template")
        or any(_holds_files(os.environ.get(v)) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"))
    ):
        return None
    base = os.path.realpath(os.path.join(_local_dir(), ARCHIVE_DIR))
    empty = os.path.join(base, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
    except OSError:
        return None
    if _holds_files(empty):
        return None
    key = archive_key(
        java,
        _spark_home(),
        os.environ.get("SPARK_GRAFT_JAVA_OPTS", DRIVER_JAVA_OPTS),
        empty,
    )
    complete = []
    for f in Path(base).iterdir():
        try:
            if f.suffix == ".jsa" and f.name.startswith(f"{key}-"):
                size = f.stem[len(key) + 1:]
                st = f.stat()
                if size.isdigit() and st.st_size == int(size):
                    complete.append((st.st_mtime_ns, f))
                else:
                    f.unlink()
            elif f.suffix == ".tmp":
                pid = f.stem.rpartition(".")[2]
                if pid.isdigit() and not _pid_alive(int(pid)):
                    f.unlink()
        except OSError:  # another launch deleted it first
            continue
    complete.sort()
    for _, f in complete[:-1]:
        f.unlink(missing_ok=True)
    if complete:
        opts = f"{ARCHIVE_LOG_OPTS} -XX:SharedArchiveFile={complete[-1][1]}"
        return ClassArchive(None, empty, opts)
    tmp = os.path.join(base, f"{key}.{os.getpid()}.tmp")
    opts = f"{ARCHIVE_LOG_OPTS} -XX:ArchiveClassesAtExit={tmp}"
    return ClassArchive(tmp, empty, opts)


def submit_env() -> str:
    """Shell assignments for a ``spark-submit`` command to ``eval``:
    ``ARCHIVE_OPTS``, the options it adds to ``DRIVER_JAVA_OPTS`` to map
    the archive a plain-Python launch dumped, and ``SPARK_CONF_DIR``, the
    empty directory that archive maps with.  With no archive to map,
    ``ARCHIVE_OPTS`` is empty and the conf directory stays as it is.  A
    submitted driver JVM outlives the job's Python, so nothing could move
    a dump into place; it never dumps."""
    archive = class_archive()
    if archive is None or archive.dump_to is not None:
        return "ARCHIVE_OPTS=''"
    return (
        f"export SPARK_CONF_DIR={shlex.quote(archive.conf_dir)}; "
        f"ARCHIVE_OPTS={shlex.quote(archive.options)}"
    )


# the JVM this process started with -XX:ArchiveClassesAtExit, and where it
# dumps; set by get_spark until _end_jvm has moved the archive into place
_dumping: tuple[subprocess.Popen, str] | None = None
_dumped = False
# the dump of a perfbench driver's classes took 14 s wall at exit
_DUMP_WAIT_S = 120.0


def _end_jvm() -> None:
    """Stop the session, end the dumping JVM this process started and
    rename its archive into place.  Run by ``stop_spark``, and at exit,
    so the dump finishes inside the job's own lifetime: the gateway JVM
    exits when its stdin closes, and the dump at exit took seconds."""
    global _dumping, _dumped
    if _dumping is None:
        return
    (proc, tmp), _dumping = _dumping, None
    from pyspark.core.context import SparkContext

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            rc = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        if rc == 0 and os.path.isfile(tmp):
            key = Path(tmp).name.split(".")[0]
            size = os.path.getsize(tmp)
            os.replace(tmp, os.path.join(os.path.dirname(tmp), f"{key}-{size}.jsa"))
            _dumped = True
        else:
            Path(tmp).unlink(missing_ok=True)


def class_archive_state(spark: SparkSession) -> str:
    """``mapped`` when the driver JVM mapped a class archive (its file is
    in ``/proc/<jvm pid>/maps``, not merely named by a flag), ``dumped``
    once this process has ended a JVM that dumped one, else ``none``.

    An archive the JVM was given and refused (a jar or the JDK changed in
    a way the key missed) is deleted, so the next launch dumps afresh
    instead of running unshared from then on."""
    if _dumped:
        return "dumped"
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    flag = "-XX:SharedArchiveFile="
    paths = [a[len(flag):] for a in bean.getInputArguments() if a.startswith(flag)]
    if not paths:
        return "none"
    archive = os.path.realpath(paths[-1])
    try:
        with open(f"/proc/{bean.getPid()}/maps") as fh:
            if archive in fh.read():
                return "mapped"
        os.unlink(archive)
    except OSError:
        pass
    return "none"


def stop_spark(spark: SparkSession) -> str:
    """Stop ``spark`` at the end of a one-shot job and return its
    ``class_archive_state``.  A JVM that this process started to dump an
    archive has exited, and the archive is in place, when this returns."""
    state = class_archive_state(spark)
    spark.stop()
    _end_jvm()
    return "dumped" if _dumped else state


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


def _workers_find_package() -> bool:
    """A Python worker of a JVM launched now can import this package: its
    parent directory is the working directory (``python -m`` puts the
    daemon's, which is this process's, first on ``sys.path``), a
    ``PYTHONPATH`` entry or a site-packages directory.  A driver that
    found the package only through its own ``sys.path`` keeps
    ``pyspark.daemon``, so Python tasks that do not need the package
    still run."""
    import site

    parent = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = (
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    )
    return any(p and os.path.realpath(p) == parent for p in paths)


def _launch(builder: SparkSession.Builder, archive: ClassArchive) -> SparkSession:
    """Start the driver JVM with ``archive.conf_dir`` as its
    ``SPARK_CONF_DIR`` (the launch copies this process's environment)
    and, on a dumping launch, end it at exit."""
    global _dumping
    from pyspark.core.context import SparkContext

    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if archive.dump_to is not None:
        _dumping = (SparkContext._gateway.proc, archive.dump_to)
        atexit.register(_end_jvm)
    return spark


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
        # join strategy stays at Spark's defaults: every pipeline join is
        # an explicit F.broadcast (operators/enrich.py)
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
        # forever.  Measured on a no-exchange bucketed kills plan (raw-text
        # window, expr parse and both aggregation levels fused into one
        # stage; that plan has since been deleted): 25-30 s default vs 15 s
        # with the 8000 cap at 16M turns x 16 cores.  Over-limit stages fall
        # back to per-operator codegen, which HotSpot does JIT; under-limit
        # stages keep fusion.
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
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # single-node shuffle through the (slow, ~200 MB/s) VM disk is the
        # one serial resource that breaks core-count scaling — put shuffle
        # and spill files on tmpfs.  On a real cluster each node's local
        # NVMe plays this role and scales with the node count.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", TMPFS_LOCAL_DIR),
        )
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    from pyspark.core.context import SparkContext

    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", DRIVER_JAVA_OPTS)
    # only a JVM this call launches takes options: not a submitted driver,
    # nor the JVM of an earlier session in this process
    launch = "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None
    archive = class_archive() if launch else None
    if archive is not None:
        java_opts = f"{java_opts} {archive.options}"
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if launch and _workers_find_package():
        # a submitted driver keeps pyspark.daemon: its --py-files reach a
        # worker's sys.path only per task, after the daemon has started
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate() if archive is None else _launch(builder, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark
