"""SparkSession factory for the engine.

Single place where execution-relevant configuration lives. The settings
are chosen for correctness-vs-oracle (UTC session time zone, ANSI off so
overflow/parse behavior is permissive like the reference pandas code)
and for scale (AQE on with partition coalescing and skew-join handling,
shuffle partitions sized to the local core count; on a real cluster the
same settings let AQE re-plan to the data).

When ``get_spark`` launches the local driver JVM itself, it starts that
JVM from a JDK class-data-sharing archive (AppCDS) of the classes Spark
loads at start, which roughly halves the JVM's cold start. The archive
lives under ``${XDG_CACHE_HOME:-~/.cache}/cds_etl_spark/``, keyed by the
JDK, the Spark jar set and the driver heap size. The first launch per
key dumps it at JVM exit; a dump is promoted to the archive only once it
is proven to map (see ``_archive_launch``). ``stop_spark`` stops a
session and waits for its JVM, so a run's dump finishes before it
returns; ``jvm_counters`` reads the JVM's JIT time, loaded classes and
archive.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import weakref
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Configs every engine session needs, whether we build the session or an
# external harness hands us one (see `ensure_session_confs`). All of
# these are runtime-settable (non-static) SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    # Oracle comparability: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # The `events` table stores parquet TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type, so read as epoch-nanos long and convert
    # in the catalog layer (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let custom Python DataSources (sources/pysource.py) receive
    # pushed filters — off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce post-shuffle partitions to the advisory size instead of
    # fanning out to maximize parallelism (the Spark docs' recommended
    # production setting): small shuffles collapse to few tasks instead
    # of `shuffle.partitions` mostly-empty ones.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # With parallelismFirst off, coalescing honors the advisory size.
    # The 64 MB default is tuned for IO-bound scans; post-shuffle work
    # here (window sorts, collect_set apply) is CPU-bound, so a 64 MB
    # target collapses small-but-hot shuffles onto one core. 8 MB keeps
    # those parallel (measured ~25% on window/agg shapes at sf0.1)
    # while still coalescing away mostly-empty partitions at scale.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # Cost-based optimization: when catalog tables carry ANALYZE
    # statistics (catalog.analyze_tables), join reordering and
    # broadcast decisions use estimated row counts/NDVs instead of raw
    # file sizes. A no-op for stat-less path reads; at warehouse scale
    # join order chosen from stats is the difference between shuffling
    # the small and the large intermediate.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


# Sub-second local-mode latency profile. On a cluster at real scale the
# defaults above are right: AQE re-plans to the data, shuffle files are
# compressed and checksummed because they cross the network and disks.
# In local[N] on warm sub-second queries those same mechanisms are pure
# fixed cost — AQE inserts a re-planning barrier per stage, and every
# tiny shuffle round-trips through compressed, checksummed files on a
# disk-backed /tmp. Measured on the bench shapes at sf0.1: a two-stage
# job floor of ~140 ms drops to ~64 ms with tmpfs shuffle dirs, no
# shuffle compression, and map-task counts sized to the data.
#
# Static (builder-time only — the shuffle manager reads them at context
# start):
LOCAL_LATENCY_STATIC_CONFS: dict[str, str] = {
    "spark.local.dir": "/dev/shm/cds_etl_spark_local",
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.shuffle.checksum.enabled": "false",
    # FAIR lets a batch of concurrent small jobs share the executor
    # instead of queueing whole-job FIFO — the workload-throughput path
    # (bench submits its 8 queries from threads; measured ~25% off the
    # batch wall time vs FIFO).
    "spark.scheduler.mode": "FAIR",
}
# Runtime-settable part; re-applied by ensure_session_confs when the
# session was built with local_latency=True (marker conf below), so the
# catalog layer re-running ensure_session_confs cannot clobber it back
# to the cluster profile.
LOCAL_LATENCY_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "false",
    # Sub-second local queries shuffle a few thousand rows: 4 reduce
    # tasks beat 8 once several jobs run concurrently (8 jobs x 8 tasks
    # oversubscribes 32 cores; measured on the bench batch).
    "spark.sql.shuffle.partitions": "4",
    # The columnar cache is the bench's buffer pool; dictionary/RLE
    # decompression on every scan is pure per-query cost at this scale
    # (the whole warehouse is ~50 MB). Bigger batches amortize the
    # per-batch codegen loop header; stats stay per-batch for pruning.
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
    "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
    # One scan partition per ingest file (files are ~1-2 MB): keeps the
    # range-layout file boundaries (sorted runs) aligned with cache
    # partitions instead of bin-packing 4 MB "open cost" groups.
    "spark.sql.files.maxPartitionBytes": "2097152",
    "spark.sql.files.openCostInBytes": "262144",
}
# Above this dataset size the sub-second tricks invert: 2 MB scan
# partitions explode into hundreds of tiny tasks (measured 667 on the
# sf10 lineitem — scheduling overhead and stragglers dominate), 4
# reduce tasks throttle real shuffles, and AQE's per-stage barrier is
# noise on multi-hundred-ms queries it can actually improve. The large
# profile keeps the local statics (tmpfs shuffle, FAIR, no compression)
# but restores the scale runtime settings.
#
# Threshold history: an r6 session briefly lowered this to 128 MB on
# the theory that sf1 (~240 MB) analytics queries were mis-served by
# the latency profile; measurement showed the slow sf1 audit numbers
# were ambient contention (the audits use the PLAIN profile, which
# this constant never gates), while the sf1 BENCH point measurably
# prefers the latency profile (0.233 s recorded vs ~0.31 s under the
# scale profile). 512 MB stands: between the sf1 bench regime and the
# multi-GB regime where the latency statics invert.
LOCAL_LATENCY_LARGE_DATA_BYTES = 512 * 1024 * 1024
# …and above THIS size the statics invert too: an uncompressed shuffle
# in RAM-backed /dev/shm is ~3x the compressed on-disk bytes, so a
# multi-GB ingest shuffle evicts the page cache and OOM-kills the JVM
# (observed: sf100's 16 GB/600M-row lineitem range re-layout — ~50 GB
# raw shuffle into tmpfs took the executor down). Past the threshold
# only the FAIR scheduler static survives (the concurrent-batch
# protocol needs it; it costs nothing); shuffle goes back to disk with
# compression, exactly like a cluster deployment.
LOCAL_LATENCY_HUGE_DATA_BYTES = 8 * 1024 * 1024 * 1024
LOCAL_SCALE_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "4194304",
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
    "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
}
_LATENCY_MARKER = "spark.cds_etl.local_latency"

# Streaming state-store backends. HDFS-backed (the Spark default) keeps
# every partition's state map ON HEAP — at 100 TB/day the state of a
# windowed agg or dropDuplicatesWithinWatermark competes with execution
# memory and drives GC. RocksDB keeps state off-heap/on-disk with
# incremental checkpointing (changelog), the production choice for
# large stateful pipelines; Spark ships rocksdbjni in its distribution.
# The provider is a runtime conf read at STREAMING QUERY START, so it
# can be chosen per session (get_spark flag) or flipped before starting
# a query (set_streaming_state_store).
STATE_STORE_PROVIDERS: dict[str, str] = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def set_streaming_state_store(spark: SparkSession, provider: str) -> None:
    """Select the state-store backend for streaming queries STARTED
    after this call (running queries keep the provider recorded in
    their checkpoint)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        STATE_STORE_PROVIDERS[provider],
    )


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Sessions already configured by ensure_session_confs. Identity-keyed
# via weak references (an id is forgotten when its session is garbage
# collected, so a recycled id can't skip a fresh session): every
# conf.set is a py4j round-trip (~1-3 ms under GIL contention), and the
# catalog layer calls ensure_session_confs on EVERY table load —
# unmemoized that put ~20-50 ms of pure client-side chatter into every
# query build (measured: bench q2 plan construction 103 ms -> ~20 ms).
_CONFIGURED_SESSIONS: "weakref.WeakValueDictionary[int, SparkSession]" = (
    weakref.WeakValueDictionary()
)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally created session.

    Idempotent and memoized per Python session object: the confs are
    applied once; later calls are a set-membership check. (Nothing in
    the engine unsets them; an external harness that deliberately
    overrides a conf mid-session keeps its override, same as any
    engine's session variables.)
    """
    if _CONFIGURED_SESSIONS.get(id(spark)) is spark:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A static conf on some build — leave the session's value.
            pass
    marker = spark.conf.get(_LATENCY_MARKER, "false")
    if marker == "large":
        for k, v in LOCAL_SCALE_RUNTIME_CONFS.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    elif marker == "true":
        for k, v in LOCAL_LATENCY_RUNTIME_CONFS.items():
            spark.conf.set(k, v)
    _CONFIGURED_SESSIONS[id(spark)] = spark
    return spark


def _apply_profile(spark: SparkSession, marker: str, n: int) -> None:
    """Align a live session's RUNTIME profile with ``marker``.

    Needed because ``getOrCreate()`` silently ignores builder configs
    when a session already exists in-process — without this, bench
    invoked after another component created the session would keep the
    wrong profile, and ensure_session_confs would then re-apply the
    stale marker's confs forever (ADVICE r5). Static confs (tmpfs
    shuffle dirs, scheduler mode, compression) cannot change on a live
    context; only the runtime-settable set is aligned, which covers
    everything correctness-relevant and the dominant perf knobs.
    """
    spark.conf.set(_LATENCY_MARKER, marker)
    if marker == "large":
        for k, v in LOCAL_SCALE_RUNTIME_CONFS.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    elif marker == "true":
        for k, v in LOCAL_LATENCY_RUNTIME_CONFS.items():
            spark.conf.set(k, v)
    else:
        # Plain profile: restore defaults for every conf a latency
        # profile may have touched, then the engine baseline on top.
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        touched = (
            set(LOCAL_LATENCY_RUNTIME_CONFS) | set(LOCAL_SCALE_RUNTIME_CONFS)
        ) - set(RUNTIME_CONFS) - {"spark.sql.shuffle.partitions"}
        for k in touched:
            try:
                spark.conf.unset(k)
            except Exception:
                pass
        for k, v in RUNTIME_CONFS.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                pass


# JVM class-data archive. Cache files, all named by the archive key:
#   <key>.jsa             the promoted archive; used only while <key>.ok
#                         matches its size and mtime
#   <key>.jsa.<pid>.part  a dump in progress, written by a JVM at exit
#   <key>.cp              the classpath the dumping JVM ran with, for trials
#   <key>.failed          a dump of this key failed its trial: never dump again
#   conf/                 the empty SPARK_CONF_DIR archived launches run with
# The JVM neither dumps nor maps while a non-empty directory is on its
# classpath, and Spark puts the conf dir there; while the real conf dir
# holds only templates, an empty one configures Spark the same way.
# Without the log switches a dump prints ~1,400 [warning][cds] lines to
# stdout (classes it cannot archive, e.g. from signed jars).
_CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# The part the gateway launched by get_spark dumps to at exit, if any.
_DUMP_PART: str | None = None


class _Launch(NamedTuple):
    java_options: str  # for spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR while the gateway launches
    part: str | None  # the dump target when this launch builds the archive


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "cds_etl_spark")


def _java() -> str | None:
    """The java binary spark-class runs, resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str, heap: str) -> str:
    """What an archive is valid for: the JDK build, the jar set on the
    classpath, and the heap size (32 GB or more switches off compressed
    oops)."""
    h = hashlib.sha256(f"{java}\0{heap}\0".encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"{name}\0{os.path.getsize(os.path.join(jars, name))}\0".encode())
    return h.hexdigest()[:16]


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _write(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _stat_stamp(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size} {st.st_mtime_ns}"


def _promoted(jsa: str) -> bool:
    try:
        return _read(jsa[: -len(".jsa")] + ".ok") == _stat_stamp(jsa)
    except OSError:
        return False


def _promote(part: str) -> None:
    """Make a proven dump the archive of its key, and delete every other
    key's files (an archive is ~170 MB)."""
    cache, name = os.path.split(part)
    key = name.split(".", 1)[0]
    jsa = os.path.join(cache, key + ".jsa")
    os.replace(part, jsa)
    _write(os.path.join(cache, key + ".ok"), _stat_stamp(jsa))
    for other in os.listdir(cache):
        if other != "conf" and not other.startswith(key + "."):
            _remove(os.path.join(cache, other))


def _writer_alive(part: str) -> bool:
    """Whether a live process (the JVM dumping it) names ``part``; the
    dumping JVM may outlive the Python process that launched it."""
    needle = part.encode()
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return True  # cannot tell: leave the part alone
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if needle in f.read():
                    return True
        except OSError:
            continue
    return False


def _trial(java: str, heap: str, archive: str, classpath: str | None) -> bool:
    """Whether ``archive`` maps in a JVM with the launch's classpath and
    heap. A truncated archive crashes the JVM at start, so it must never
    reach a real launch."""
    if classpath is None:
        return False
    cmd = [
        java, f"-Xmx{heap}", "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
        *_CDS_LOG_OFF.split(), "-XX:ErrorFile=/dev/null",
        "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version",
    ]
    try:
        done = subprocess.run(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120
        )
    except (OSError, subprocess.SubprocessError):
        return False
    return done.returncode == 0


def _archive_launch(heap: str) -> _Launch | None:
    """The archive options for a driver JVM that get_spark is about to
    launch, or None to launch it as Spark would.

    Before deciding, settles this key's dead dumps: a part whose JVM has
    exited is promoted if it maps (a harness that waits for its JVM
    without ``stop_spark`` leaves it so), and deleted otherwise, with a
    stamp so the key is never dumped again. A ``<key>.jsa`` that was
    not promoted is deleted unused. A new dump starts only when the
    cache is writable, the key has not failed and no live JVM is
    already dumping it.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no new JVM
    # Classpath entries of their own, or flags placed after ours.
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return None
    java = _java()
    spark_home = _find_spark_home()
    user_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if java is None or any(
        not n.endswith(".template")
        for n in (os.listdir(user_conf) if os.path.isdir(user_conf) else ())
    ):
        return None
    cache = _cache_dir()
    conf = os.path.join(cache, "conf")
    try:
        os.makedirs(conf, exist_ok=True)
        key = _archive_key(java, spark_home, heap)
    except OSError:
        return None
    stem = os.path.join(cache, key)
    jsa = stem + ".jsa"
    writable = os.access(cache, os.W_OK)
    busy = False
    for name in sorted(os.listdir(cache)):
        if not (name.startswith(key + ".jsa.") and name.endswith(".part")):
            continue
        part = os.path.join(cache, name)
        if _writer_alive(part):
            busy = True
        elif not writable:
            continue
        elif not _trial(java, heap, part, _read(stem + ".cp")):
            _write(stem + ".failed", "")
            _remove(part)
        elif not _promoted(jsa):
            _promote(part)
        else:
            _remove(part)
    if _promoted(jsa):
        return _Launch(f"-XX:SharedArchiveFile={jsa} {_CDS_LOG_OFF}", conf, None)
    if os.path.exists(jsa) and writable:
        _remove(jsa)
        _remove(stem + ".ok")
    if busy or not writable or os.path.exists(stem + ".failed"):
        return None
    part = f"{jsa}.{os.getpid()}.part"
    return _Launch(f"-XX:ArchiveClassesAtExit={part} {_CDS_LOG_OFF}", conf, part)


def _launch(builder: SparkSession.Builder, heap: str) -> SparkSession:
    """``builder.getOrCreate()``, starting a new driver JVM from the
    class-data archive where ``_archive_launch`` allows."""
    global _DUMP_PART
    launch = _archive_launch(heap)
    if launch is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.extraJavaOptions", launch.java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.part is not None:
        _DUMP_PART = launch.part
        classpath = spark.sparkContext._jvm.java.lang.System.getProperty("java.class.path")
        _write(launch.part.split(".jsa.", 1)[0] + ".cp", classpath)
    return spark


def stop_spark(spark: SparkSession) -> int | None:
    """Stop ``spark``, shut down the driver JVM this process launched and
    wait for it to exit; returns its exit code (None when the JVM is not
    this process's child). A JVM that dumps the class-data archive
    writes it while exiting; when it exits 0 the dump is promoted here.
    A later ``get_spark`` launches a new JVM."""
    global _DUMP_PART
    gateway = SparkContext._gateway
    spark.stop()
    code = None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                code = proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
    part, _DUMP_PART = _DUMP_PART, None
    if part is not None and code == 0 and os.path.exists(part):
        _promote(part)
    return code


def jvm_counters(spark: SparkSession) -> dict:
    """The driver JVM's whole-life JIT compile seconds, loaded-class
    total, and the class-data archive it was given ('' for none)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "shared_archive": hotspot.getVMOption("SharedArchiveFile").getValue(),
    }


def get_spark(
    app_name: str = "cds_etl_spark",
    cores: int | None = None,
    local_latency: bool = False,
    data_bytes: int | None = None,
    streaming_state_store: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    local[N] for tests/bench; on a cluster the master/deploy settings
    come from spark-submit and everything here still applies.

    ``local_latency=True`` selects a local bench profile sized by
    ``data_bytes`` (the working dataset's on-disk size): below
    LOCAL_LATENCY_LARGE_DATA_BYTES the sub-second profile
    (LOCAL_LATENCY_RUNTIME_CONFS), above it the local-statics-plus-
    scale-runtime profile (LOCAL_SCALE_RUNTIME_CONFS) — the same
    latency tricks that win at 50 MB lose at 2 GB (tiny-task
    explosion). Cluster deployments and the oracle tests keep the
    plain scale profile.

    When this call launches the driver JVM (no live gateway, no
    ``PYSPARK_GATEWAY_PORT``), the JVM starts from the class-data
    archive, or dumps it at exit if there is none yet. The archive is
    skipped, and the JVM starts exactly as Spark would, when the conf dir
    holds any file besides ``*.template`` or ``HADOOP_CONF_DIR``,
    ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` or a custom
    ``PYSPARK_SUBMIT_ARGS`` is set. See the module docstring.
    """
    n = cores or default_parallelism()
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if local_latency:
        large = (data_bytes or 0) >= LOCAL_LATENCY_LARGE_DATA_BYTES
        huge = (data_bytes or 0) >= LOCAL_LATENCY_HUGE_DATA_BYTES
        requested = "large" if large else "true"
        builder = builder.config(_LATENCY_MARKER, requested)
        statics = (
            {"spark.scheduler.mode": LOCAL_LATENCY_STATIC_CONFS["spark.scheduler.mode"]}
            if huge
            else LOCAL_LATENCY_STATIC_CONFS
        )
        for k, v in statics.items():
            builder = builder.config(k, v)
    else:
        requested = "false"
    spark = _launch(builder, heap)
    # On a pre-existing session getOrCreate applies only the builder's
    # runtime SQL configs (Spark 4) or none at all (older behavior) —
    # either way the requested profile's conf SET may not be live, and
    # the ensure_session_confs memo would mask that forever (ADVICE
    # r5). get_spark is an explicit profile request and is called
    # rarely (never per-table), so unconditionally re-align the runtime
    # profile and drop the memo.
    _CONFIGURED_SESSIONS.pop(id(spark), None)
    _apply_profile(spark, requested, n)
    if streaming_state_store is not None:
        set_streaming_state_store(spark, streaming_state_store)
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_confs(spark)
