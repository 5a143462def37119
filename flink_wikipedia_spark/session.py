"""SparkSession factory.

The reference leaves every runtime knob at Flink defaults
(``DataStreamJob.java:110-143`` sets no parallelism, no checkpointing,
no state backend). We instead pin the configuration that matters for a
large cluster up front:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching. At 100 TB, static
  ``spark.sql.shuffle.partitions`` is always wrong for some stage; AQE
  fixes it per-stage from map-output statistics.
- **UTC session timezone** — windowing/bucketing must be
  timezone-stable or the DuckDB oracle (and any cross-engine consumer)
  diverges.
- **Arrow enabled** — every Python↔JVM crossing (the few we allow) is
  columnar-batched.
- **Shuffle partitions scale with the data, not a constant**: by
  default every exchange starts at a high AQE initial partition count
  and coalesces to the 64 MB advisory size from map-output statistics —
  the same session handles sf0.001 (coalesces to a few tasks) and sf100
  (keeps hundreds, bounding per-task sort/join state) with zero knobs.
  ``get_spark(shuffle_partitions=N)`` pins an exact static count when a
  caller needs one.
- **Streaming checkpoints through FileSystemBasedCheckpointFileManager**
  — Spark's default FileContext-based manager forks a ``readlink``
  process for every checkpoint file it renames when the native Hadoop
  library is absent (offsets, commits, one state delta per state
  partition per trigger). The FileSystem-based manager keeps the same
  no-overwrite guarantee without the fork: JFR forks per flagship
  trigger 85 → 26 at 2 state partitions, none of them ``readlink``;
  ``perfbench`` stream-flagship wall 5.87 → 4.67 s (median of 10
  interleaved pairs on 2 pinned CPUs of a 4-vCPU VM, 10/10 pairs won).
- **A ``file:`` FileSystem that creates files without forking** —
  without libhadoop, Hadoop's ``RawLocalFileSystem.setPermission`` forks
  a ``chmod`` process for every local file create (data and ``.crc``)
  and every ``mkdirs`` with a mode, and no Hadoop or Spark setting
  avoids it. ``java/NoForkLocalFileSystem.java``, the repo's one Java
  source, sets the same bits through ``java.nio``; everything else is
  Hadoop's ``LocalFileSystem``. Its rename replaces an existing file, so
  a state store's ``createAtomic(p, overwriteIfPossible=true)`` onto an
  existing ``p`` writes the new bytes and leaves no ``.tmp``/``.crc``
  behind. The stock ``file:`` class it replaces (Hive's
  ``ProxyLocalFileSystem`` in Spark's Hive-enabled distributions)
  refuses that rename, silently keeps the old bytes and leaks the temp
  file; a session without ``javac`` falls back to that class and keeps
  that behaviour. The class is compiled once, into ``java/build-<key>``
  next to the source, and wired in only when ``get_spark`` launches a
  ``local``/``local-cluster`` JVM. JFR ``chmod`` forks per flagship
  trigger 26.4 → 0; ``perfbench`` stream-flagship CPU 4.07 → 3.22 s
  (median of 25 interleaved pairs on 2 pinned CPUs of a 4-vCPU VM,
  23/25 pairs won), a gap smaller than the parent's own quartile spread
  there (1.00 s), so not a demonstrated gain on that host.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Defaults match the driver environment: local[$SPARK_GRAFT_CPUS] with 32
# threads. On a real cluster, master/partitions come from spark-submit.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Deployment rule from the sf100 forensics (SCALE.md §sf100 forensics,
# logs_r10/forensics_*.json): Q9/Q21 spilled 18-20 GB at 8 GB heap over
# 32 cores and the spill vanished entirely at 1 GB/core with wall
# unchanged — size JVM heap to at least this many MB per concurrent
# task slot.
HEAP_MB_PER_CORE_RULE = 1024


def _parse_mem_mb(mem: str) -> int | None:
    """Spark memory string ("8g", "4096m", "512k", bare bytes) → MB."""
    mem = mem.strip().lower()
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    try:
        if mem and mem[-1] in units:
            return int(float(mem[:-1]) * units[mem[-1]])
        return int(int(mem) / (1024 * 1024))
    except ValueError:
        return None


def heap_rule_warning(master: str, heap_mem: str) -> str | None:
    """The 1 GB/core rule as a checkable statement: returns the warning
    text when the JVM executing tasks has under HEAP_MB_PER_CORE_RULE
    MB of heap per concurrent task slot, else None. Only the masters
    whose heap/core shape this process fully controls are checked —
    local[N] (driver JVM runs all N slots on ``heap_mem``) and
    local-cluster[w,c,m] (each worker JVM: m MB over c slots); under a
    real cluster manager executor sizing belongs to spark-submit."""
    if master.startswith("local["):
        # local[N], local[*], and local[N,maxRetries] all exist
        n = master[len("local[") : -1].split(",")[0].strip()
        if n == "*":
            cores = os.cpu_count() or 1
        elif n.isdigit():
            cores = int(n)
        else:
            return None  # malformed master: let Spark reject it, not us
        mem_mb = _parse_mem_mb(heap_mem)
    elif master.startswith("local-cluster["):
        m = re.fullmatch(
            r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]", master
        )
        if m is None:
            return None
        cores, mem_mb = int(m.group(2)), int(m.group(3))
    else:
        return None
    if mem_mb is None or cores <= 0:
        return None
    per_core = mem_mb // cores
    if per_core >= HEAP_MB_PER_CORE_RULE:
        return None
    return (
        f"flink_wikipedia_spark: {mem_mb} MB heap over {cores} task slots "
        f"= {per_core} MB/core, below the {HEAP_MB_PER_CORE_RULE} MB/core "
        "deployment rule — heavy hash aggregates/joins (TPC-H Q9/Q21 "
        "class) will spill to disk at large scale factors. Measured at "
        "sf100: 18-20 GB spill at 256 MB/core, zero at 1 GB/core "
        "(SCALE.md §sf100 forensics). Raise spark.driver.memory / "
        "executor memory or lower core count."
    )


def get_spark(
    app_name: str = "flink-wikipedia-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Idempotent: Spark returns the active session if one exists, so tests
    and the driver can call this freely.
    """
    if master is None:
        # SPARK_GRAFT_MASTER lets the verify/bench tooling run the same
        # code under multi-JVM masters — local-cluster[N,cores,memMB]
        # spawns real executor processes with serialized exchanges,
        # remote broadcasts, and per-executor Python workers, the class
        # of bug single-JVM local[*] structurally cannot surface.
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_DEFAULT_CPUS}]")
    # When nobody pins a partition count, let AQE size every exchange
    # from map-output statistics: start each shuffle at a HIGH initial
    # partition count and coalesce down by the 64 MB advisory size.
    # Small SFs coalesce to a handful of tasks (measured: bench.py at
    # sf0.1 unchanged); big inputs keep enough partitions that per-task
    # sort/join state stays bounded — the sf100 gauntlet's Q9/Q21 ran
    # 19 M-row partitions into GC thrash and heap OOM under a static
    # count of 32, and 2.4× faster once partition count scaled with the
    # data. A 100 TB cluster tunes the SAME way: high initial, AQE
    # coalesces. An explicit shuffle_partitions stays exact.
    adaptive_initial: int | None = None
    if shuffle_partitions is None:
        shuffle_partitions = int(_DEFAULT_CPUS)
        adaptive_initial = 512

    # Streaming state store: the heap-backed default is ~2× faster while
    # state fits in memory (measured: 33K vs 15K ev/s on the flagship at
    # sf0.1); RocksDB is the right call once keyspace × window count
    # outgrows the heap (bounded memory, spills to local disk). Opt in
    # with SPARK_GRAFT_STATE_STORE=rocksdb for large-state deployments.
    state_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
    if state_store not in ("hdfs", "heap", "rocksdb"):
        # a typo here silently selecting heap is exactly the OOM the
        # opt-in exists to prevent — fail loudly instead
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE={state_store!r}: expected hdfs|heap|rocksdb"
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # --- scale posture (SURVEY.md §4.3(4)) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(adaptive_initial if adaptive_initial else shuffle_partitions),
        )
        # dim tables (region/nation/customer/supplier/part at our SFs) stay
        # broadcastable; 64 MB is a deliberate bump over the 10 MB default —
        # at 100 TB fact scale, broadcasting a 50 MB dim beats shuffling
        # the fact side every time.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let AQE re-size exchanges INSIDE cached plans (off by default).
        # Without it every .persist() compiles at the raw initial
        # partition count with no runtime coalescing — measured on
        # q_pagerank_parts_suppliers' cached edge list at sf0.1: five
        # 512-task stages (~2,560 tasks, 30+ CPU-s of pure per-task
        # floor) collapse to a handful of right-sized tasks with the
        # flag on (wall 3.6 s → 2.7 s median, steady-state 2.3 s). The
        # same map-output statistics AQE uses everywhere size the cache,
        # so the behavior stays scale-adaptive: big inputs keep hundreds
        # of partitions, small ones coalesce (guide §2.4 — the exchange
        # a cache pins is still an exchange worth coalescing).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Scan-parallelism floor (guide §6): openCostInBytes models the
        # seek-equivalent cost of opening one file, and its 4 MB default
        # (tuned for spinning disks) FLOORS maxSplitBytes at 4 MB — a
        # single-file 11 MB table scans as ~3 tasks no matter how many
        # cores sit idle, serializing every scan-dominated aggregate
        # (TPC-H Q1's decimal sums ran on 3 of 32 cores). 128 KB keeps
        # splits sized by totalBytes/minPartitionNum (i.e. by input size
        # over available parallelism — scale-adaptive, not a constant):
        # at 100 TB splits are capped by maxPartitionBytes exactly as
        # before, and tiny-file packing still charges 128 KB per file so
        # a million-small-file scan does not explode into tasks.
        # Re-measured against 4 MB after the scan spread landed and kept
        # (OPTIMIZATION_r15.md §7).
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # --- Python boundary: always Arrow, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame error-context capture (_with_origin)
        # pays ~4 py4j round trips PER DataFrame API call — a
        # getActiveSession, a conf.get, and a PySparkCurrentOrigin
        # set/clear — purely to decorate error messages with the Python
        # call site. Measured on q_ivfpq_search's plan build: 1907 →
        # 1334 round trips with it off (r16 cProfile; every registered
        # query's build shrinks). Pure driver-side overhead, zero effect
        # on results or executed plans at any scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- streaming checkpoints ---
        # Every trigger renames an offsets WAL entry, a commit-log entry
        # and one state delta per state partition into place. Spark's
        # default FileContext-based manager renames through
        # ChecksumFs.renameInternal, whose getFileLinkStatus(dst) forks a
        # `readlink` process per file wherever the native Hadoop library
        # is absent. JFR on the flagship stream with 2 state partitions
        # counted 85 process forks per trigger, 59 of them `readlink`,
        # and each extra state partition adds ~21 (16 `readlink`); with
        # this manager none is `readlink`. The ~26 `chmod` forks per
        # trigger of file creates that remained are gone too wherever
        # _local_fs_confs wires in NoForkLocalFileSystem. The guarantee
        # is the same: on file: both managers check the destination
        # then rename (exists(dst) + rename here), so a second
        # createAtomic(p, overwrite=false) still fails and leaves the
        # first file intact;
        # HDFS rename refuses an existing destination; Hadoop .crc files
        # and Spark's own state-file checksums are still written
        # (ChecksumCheckpointFileManager wraps whichever manager is set).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # events.ts unit handling (NANOS vs MICROS) lives in
        # schemas.load_table, which sniffs the parquet footer and sets
        # spark.sql.legacy.parquet.nanosAsLong only for NANOS files

        # 4g is the production default; the local verify gate collects
        # full results to compare against the oracle, and a map-only
        # 100M-row × 9-col result (q_date_functions at sf100) serializes
        # past 4 GiB — the CHECKER's collect, not the engine, is what
        # needs the headroom, so big-SF gauntlets override via env.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    # SPARK_GRAFT_UI=1 exposes the UI's REST API for the bench
    # instrumentation (bench.py reads /jobs and /stages once, after its
    # timed runs, and attributes each stage to a query by job group).
    # Off by default — gates and tests don't pay for the HTTP server.
    # When on: port 0 (ephemeral — concurrent gates must not fight over
    # 4040) and job/stage retention sized so a full bench suite (~5k
    # stages) keeps every stage until that one read at the end.
    if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes"):
        builder = (
            builder.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedJobs", "100000")
        )
    else:
        builder = builder.config("spark.ui.enabled", "false")
    # Connector jars for the optional real-endpoint integration tests
    # (tests/test_integration_endpoints.py): e.g.
    # SPARK_GRAFT_JARS_PACKAGES="org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2,
    # org.mongodb.spark:mongo-spark-connector_2.13:10.5.0". Must be set
    # BEFORE the first get_spark of the process (jars resolve at JVM start).
    pkgs = os.environ.get("SPARK_GRAFT_JARS_PACKAGES")
    if pkgs:
        builder = builder.config("spark.jars.packages", pkgs)
    if master.startswith("local-cluster["):
        # size each executor to its worker's full memory grant (the
        # third bracket field, MB) — the 1g default would waste 3/4 of
        # a local-cluster[4,8,4096] worker — and pin the executor-side
        # Python to the driver's interpreter so pandas/pyarrow versions
        # can't skew between the two ends of the Arrow boundary.
        m = re.fullmatch(
            r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]", master
        )
        if m is None:
            raise ValueError(
                f"malformed local-cluster master {master!r}: expected "
                "local-cluster[numWorkers,coresPerWorker,memoryPerWorkerMB]"
            )
        mem_mb = int(m.group(3))
        builder = builder.config("spark.executor.memory", f"{mem_mb}m").config(
            "spark.pyspark.python", sys.executable
        )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for key, value in _local_fs_confs(master).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # One startup line when the JVM-heap-per-core shape violates the
    # 1 GB/core deployment rule (sf100 forensics) — the rule travels
    # with the engine, not just the docs. Once per process: every
    # later get_spark reuses the same session anyway. Checked AFTER
    # getOrCreate against the session's EFFECTIVE spark.driver.memory
    # (ADVICE r11): a driver sized by spark-submit --driver-memory, or
    # a pre-existing JVM this call merely re-attached to, may differ
    # from SPARK_GRAFT_DRIVER_MEM — warning with env-var numbers would
    # print MB/core figures that don't match the real heap. The env
    # default stays as the fallback when the conf is unset (plain
    # local[N] sessions report no driver.memory conf entry).
    global _HEAP_RULE_WARNED
    if not _HEAP_RULE_WARNED:
        try:
            effective_mem = spark.conf.get("spark.driver.memory")
        except Exception:
            effective_mem = None
        warning = heap_rule_warning(
            # use the MASTER the session actually runs under, too — a
            # reused session ignores this call's master argument
            spark.sparkContext.master,
            effective_mem
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        if warning is not None:
            print(warning, file=sys.stderr)
        _HEAP_RULE_WARNED = True
    # Any non-single-JVM master (local-cluster, standalone, YARN, k8s)
    # runs Python workers that must IMPORT this package: module-level
    # functions used as UDFs are cloudpickled by reference, not value.
    # Ship the package zip — the programmatic --py-files. (Found by the
    # round-7 local-cluster gauntlet: q_multimodal_decode's module-level
    # mapInPandas fn raised ModuleNotFoundError on remote workers while
    # closure-defined UDFs, pickled by value, sailed through.)
    if not spark.sparkContext.master.startswith("local["):
        _ship_package(spark)
    return spark


_HEAP_RULE_WARNED = False

_SHIPPED_APP_IDS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Zip flink_wikipedia_spark and addPyFile it so executor Python
    workers can unpickle by-reference UDFs. Once per application."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    stage = tempfile.mkdtemp(prefix="fws_pyfiles_")
    archive = shutil.make_archive(
        os.path.join(stage, "flink_wikipedia_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(archive)
    _SHIPPED_APP_IDS.add(app_id)


NOFORK_FS_CLASS = "flink_wikipedia_spark.NoForkLocalFileSystem"
_NOFORK_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "java", "NoForkLocalFileSystem.java"
)
_NOFORK_FS_CLASSFILE = os.path.join("flink_wikipedia_spark", "NoForkLocalFileSystem.class")


def nofork_fs_classes() -> str | None:
    """The class-path directory holding the compiled
    NoForkLocalFileSystem, or None (after one stderr line) when it is
    not available: no Hadoop API jar, no ``javac``, a failed compile or
    a read-only package directory.

    The classes go next to the source, into ``java/build-<key>``, where
    the key hashes the source and the API jar's name (which carries the
    Hadoop version), so an upgrade recompiles. A cold compile takes
    1–2 s; it goes into a temp dir that is then renamed into place, so
    concurrent launches never see half a class file. A compile also
    removes the ``build-*`` directories of other keys, which it
    supersedes; a reused build touches nothing."""

    def unavailable(why: str) -> None:
        print(
            f"flink_wikipedia_spark: {why}; keeping Hadoop's stock file: "
            "FileSystem (forks chmod per local file create)",
            file=sys.stderr,
        )

    jars_dir = os.path.join(_find_spark_home(), "jars")
    api_jars = sorted(glob.glob(os.path.join(jars_dir, "hadoop-client-api-*.jar")))
    if not api_jars:
        return unavailable(f"no hadoop-client-api jar in {jars_dir}")
    with open(_NOFORK_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(api_jars[-1]).encode())
    java_dir = os.path.dirname(_NOFORK_FS_SOURCE)
    final = os.path.join(java_dir, f"build-{key.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(final, _NOFORK_FS_CLASSFILE)):
        return final
    if os.path.lexists(final):
        return unavailable(f"{final} has no compiled class; remove it to rebuild")

    # the JDK Spark launches: $JAVA_HOME first, then PATH
    java_home = os.environ.get("JAVA_HOME")
    javac = java_home and os.path.join(java_home, "bin", "javac")
    if not (javac and os.access(javac, os.X_OK)):
        javac = shutil.which("javac")
    if javac is None:
        return unavailable("no javac found")
    try:
        tmp = tempfile.mkdtemp(prefix=".build-", dir=java_dir)
    except OSError as e:
        return unavailable(f"cannot write to {java_dir} ({e.strerror})")
    try:
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", api_jars[-1], "-d", tmp,
             _NOFORK_FS_SOURCE],
            capture_output=True,
            text=True,
        )
        if done.returncode != 0:
            first = (done.stderr.strip().splitlines() or ["?"])[0]
            return unavailable(f"javac failed ({first})")
        os.chmod(tmp, 0o755)  # mkdtemp's 0700 would hide it from other users
        try:
            os.replace(tmp, final)
        except OSError:
            pass  # a concurrent launch published it first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone already once renamed
    if not os.path.isfile(os.path.join(final, _NOFORK_FS_CLASSFILE)):
        return unavailable(f"could not publish the compiled class to {final}")
    for stale in glob.glob(os.path.join(java_dir, "build-*")):
        if stale != final:
            shutil.rmtree(stale, ignore_errors=True)
    return final


def _launch_settings_elsewhere() -> str:
    """Launch-time settings from outside get_spark that a conf set here
    would replace or be replaced by: PYSPARK_SUBMIT_ARGS (its --conf
    follows ours), SPARK_SUBMIT_OPTS system properties, and the
    spark-defaults.conf / core-site.xml files Spark reads."""
    text = [os.environ.get(v, "") for v in ("PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS")]
    conf_dirs = {
        os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf"),
        os.environ.get("HADOOP_CONF_DIR", ""),
    }
    for d in conf_dirs:
        for name in ("spark-defaults.conf", "core-site.xml"):
            try:
                with open(os.path.join(d, name), encoding="utf-8", errors="replace") as f:
                    text.append(f.read())
            except OSError:
                pass
    return "\n".join(text)


def _local_fs_confs(master: str) -> dict[str, str]:
    """Launch confs that serve ``file:`` through NoForkLocalFileSystem.

    Empty unless this call is about to launch the JVM (no py4j gateway
    yet: a running JVM's class path is fixed, and naming a class it
    cannot load as fs.file.impl breaks every local read and write) under
    a local or local-cluster master (the class dir exists on this host
    only), and nothing outside get_spark sets fs.file.impl or a driver
    or executor class path (never override the one; the other would
    drop our directory or be dropped by it)."""
    from pyspark import SparkContext

    single_host = master == "local" or master.startswith(("local[", "local-cluster["))
    if SparkContext._gateway is not None or not single_host:
        return {}
    elsewhere = _launch_settings_elsewhere()
    if any(k in elsewhere for k in ("fs.file.impl", "extraClassPath", "--driver-class-path")):
        return {}
    classes = nofork_fs_classes()
    if classes is None:
        return {}
    confs = {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": NOFORK_FS_CLASS,
    }
    if master.startswith("local-cluster["):
        confs["spark.executor.extraClassPath"] = classes
    return confs


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
