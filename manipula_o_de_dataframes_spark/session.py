"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark guidance: shuffle partitions
sized to cores (not the 200 default), AQE enabled for runtime coalescing
and skew-join handling, Arrow enabled for the pandas-UDF slow path, and a
UTC session timezone so timestamp rendering matches a UTC-naive oracle
(DuckDB) bit-for-bit.

At cluster scale the same builder applies minus ``master``; AQE +
broadcast thresholds are the knobs that matter at 100 TB.

Cold start: ``get_spark`` maps a per-machine class-data-sharing archive
of Spark's classes into the driver JVM (see the section at the end).
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Heap default: SPARK_GRAFT_DRIVER_MEM, else min(4g, RAM/4).

    4g (not bigger) is a measured choice, not a guess: Spark's
    ContextCleaner frees shuffle/broadcast state only when the JVM
    collects the owning weak refs, so an oversized heap lets a long
    multi-query session accumulate driver state between rare GCs — the
    full 95-query bench sweep measured 80 s on 4g vs 190 s on 16g
    (same machine, same code). 1g (the old local-mode default) OOMs
    the 40× scale probes instead; those set SPARK_GRAFT_DRIVER_MEM.
    The RAM clamp keeps the default safe on small hosts.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        quarter_gb = max(1, total_kb // (4 * 1024 * 1024))
        return f"{min(4, quarter_gb)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def get_spark(
    app_name: str = "manipula_o_de_dataframes_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract);
    the default is the cores this process may run on, so a session never
    oversubscribes the host or claims cores it does not have.
    """
    import tempfile  # noqa: PLC0415

    from pyspark import SparkContext  # noqa: PLC0415

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    parts = str(shuffle_partitions or cpus)
    driver_mem = _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Local mode defaults to a 1 GiB JVM heap shared by every worker
        # thread — 32 threads spill and GC-thrash on it long before the
        # machine is loaded (measured: a 24M-row sort-merge join OOMs).
        # Only effective at JVM launch, so it must be set here, not after
        # the first session exists (getOrCreate ignores it then).
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", parts)
        # saveAsTable targets (bucketed tables) land in a temp warehouse,
        # never in the repo working tree.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "manipula_spark_warehouse"),
        )
        # Some fixture generations store events.ts as TIMESTAMP(NANOS),
        # which the parquet reader rejects without this legacy flag;
        # harmless for MICROS fixtures (flag only affects NANOS columns).
        # Declared here (session scope) rather than mutated mid-read;
        # read_table keeps a fallback set for driver-owned sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ContextCleaner is GC-driven: shuffle files, broadcast blocks,
        # and accumulator bookkeeping are only released when the JVM
        # collects the owning weak refs. A big heap (e.g. 16g via the
        # env override) GCs so rarely that a long session accumulates
        # driver state and degrades — measured 2× on a 90-query sweep
        # (late queries up to 8× slower) vs a 1g heap whose frequent
        # GCs kept state tidy. Periodic forced GC (upstream default:
        # 30min) restores the tidy behavior at any heap size.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is not None:  # the JVM is already up
        return builder.getOrCreate()
    return _launch(builder, driver_mem)


# --- class-data sharing (AppCDS) for the driver JVM ---------------------
#
# Most of a cold launch is the JVM loading and verifying about 14.6 k
# Spark classes. A dynamic archive (OpenJDK 13+) holds every class the
# training JVM loaded from the class path, already parsed and verified,
# and a later JVM maps it instead. One archive per machine lives in
# ``cds_cache_dir()``, keyed by the JDK and the Spark jars. Three hazards
# shape the code below:
# - the JVM dies with SIGBUS on a truncated archive (``-Xshare:auto``
#   does not fall back), so an archive is written to a ``.part`` file,
#   published by rename only after the JVM exited 0, and refused unless
#   its size matches the size stored beside it (``.meta``, which also
#   names the JDK and Spark it was trained for); an archive of the right
#   size with corrupt content fails ``-XX:+VerifySharedSpaces`` (a CRC of
#   every region, about 0.2 s a launch) and is not mapped;
# - the JVM refuses to dump when a non-empty directory is on the class
#   path, and ``spark-class`` puts the conf dir there, so both training
#   and mapping launches point ``SPARK_CONF_DIR`` at an empty directory;
# - ``-Xshare:auto`` skips a stale archive silently, so the launch reads
#   the JVM's memory map and deletes an archive that was not mapped;
# - a heap of 32 GiB or more turns off compressed pointers, and such a
#   JVM refuses an archive trained without them, so a big-heap launch
#   runs plain and leaves the archive to the next normal launch.

_CDS_STATE = "off:unlaunched"
_TRAIN_WAIT_S = 60  # bounded wait at exit for the JVM to write its archive
_OOPS_HEAP_LIMIT = 32 << 30  # the JVM turns off compressed pointers at this heap
_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


class CdsPlan(NamedTuple):
    state: str  # "mapped" if the archive maps, "training", or "off:<reason>"
    java_opts: str | None = None
    conf_dir: str | None = None
    archive: str | None = None
    part: str | None = None
    lock: str | None = None
    homes: tuple[str, str] | None = None  # (java_home, spark_home) trained for


def cds_state() -> str:
    """What the running driver JVM got: ``mapped``, ``training`` (it
    writes the archive at exit) or ``off:<reason>``, the reason one of
    ``conf``, ``heap``, ``jdk``, ``cache``, ``busy``, ``unmapped``,
    ``gateway``, ``unlaunched``
    (README, "Cold start")."""
    return _CDS_STATE


def cds_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft")


def _java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def cds_key(java_home: str, spark_home: str) -> str:
    """Digest of ``os.stat`` of what an archive depends on: the JDK's
    class image, VM and base archive, and every Spark jar. Raises
    ``OSError`` when the JDK has no base archive (no dynamic CDS)."""
    paths = [
        os.path.join(java_home, "lib", "modules"),
        os.path.join(java_home, "lib", "server", "libjvm.so"),
        os.path.join(java_home, "lib", "server", "classes.jsa"),
    ] + sorted(glob.glob(os.path.join(spark_home, "jars", "*")))
    h = hashlib.sha1()
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0{st.st_ino}\n".encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _take_lock(lock: str) -> bool:
    """One trainer per key: create ``lock`` holding this pid, clearing a
    lock whose pid is dead. False when a live process holds it."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as fh:
                    holder = int(fh.read().strip() or 0)
            except (OSError, ValueError):
                holder = 0
            if holder and _pid_alive(holder):
                return False
            _unlink(lock)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _unlink(*paths: str) -> None:
    for p in paths:
        try:
            os.unlink(p)
        except OSError:  # gone already, or a cache dir we may not write
            pass


def _conf_is_default(spark_home: str) -> bool:
    """True when the launch's class path holds no user directory: no conf
    dir set by the user, ``$SPARK_HOME/conf`` only templates, and no
    driver Java options in the submit args that would replace ours."""
    if any(os.environ.get(v) for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return False
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "extraJavaOptions" in submit or "driver-java-options" in submit:
        return False
    try:
        names = os.listdir(os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        names = []
    return all(n.endswith(".template") for n in names)


def _read_meta(archive: str) -> dict:
    with open(archive + ".meta") as fh:
        return json.load(fh)


def _heap_bytes(driver_mem: str) -> int:
    """Bytes of a ``spark.driver.memory`` value (``4g``, ``512m``,
    ``40gb``; a bare number is MiB, as Spark reads it)."""
    v = driver_mem.strip().lower().removesuffix("b")
    if v[-1:] in _MEM_UNITS:
        return int(v[:-1]) * _MEM_UNITS[v[-1]]
    return int(v) << 20


def cds_plan(
    cache_dir: str, java_home: str | None, spark_home: str, driver_mem: str = "1g"
) -> CdsPlan:
    """Decide how the next driver JVM launches, with a heap of
    ``driver_mem``: map the archive, train it (taking the key's lock), or
    launch plain with the reason."""
    if not _conf_is_default(spark_home):
        return CdsPlan("off:conf")
    if _heap_bytes(driver_mem) >= _OOPS_HEAP_LIMIT:
        return CdsPlan("off:heap")
    try:
        key = cds_key(java_home or "", spark_home)
    except OSError:
        return CdsPlan("off:jdk")
    conf_dir = os.path.join(cache_dir, "conf")
    archive = os.path.join(cache_dir, f"cds-{key}.jsa")
    try:
        if os.path.getsize(archive) == _read_meta(archive)["size"]:
            opts = f"-XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces"
            plan = CdsPlan("mapped", opts, conf_dir, archive)
        else:
            plan = None
    except (OSError, ValueError, KeyError, TypeError):
        plan = None
    lock = os.path.join(cache_dir, f"cds-{key}.lock")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return CdsPlan("off:conf")
        if plan:
            return plan
        if not _take_lock(lock):
            return CdsPlan("off:busy")
    except OSError:  # the cache dir cannot be made or written
        return CdsPlan("off:cache")
    # Holding the lock: no other process writes this key's files.
    _unlink(archive, archive + ".meta", *glob.glob(os.path.join(cache_dir, f"cds-{key}.*.part")))
    part = os.path.join(cache_dir, f"cds-{key}.{os.getpid()}.part")
    # The dump warns once per class it skips (signed jars, old class
    # files), thousands of lines; errors still print.
    opts = f"-XX:ArchiveClassesAtExit={part} -Xlog:cds=error"
    return CdsPlan("training", opts, conf_dir, archive, part, lock, (java_home, spark_home))


def _orphaned(archive: str) -> bool:
    """True when the JDK and Spark an archive was trained for no longer
    stat to its key (upgraded or removed), or it names none."""
    key = os.path.basename(archive)[len("cds-"):-len(".jsa")]
    try:
        meta = _read_meta(archive)
        return cds_key(meta["java_home"], meta["spark_home"]) != key
    except (OSError, ValueError, KeyError, TypeError):
        return True


def cds_publish(plan: CdsPlan, returncode: int | None) -> bool:
    """After the training JVM exited: publish its archive if it exited 0,
    else delete the part file. On publishing, deletes the archives of
    other keys whose JDK or Spark is gone; another install sharing the
    cache keeps its own. Always releases the lock."""
    try:
        if returncode != 0 or not os.path.exists(plan.part):
            _unlink(plan.part)
            return False
        java_home, spark_home = plan.homes
        meta = {"size": os.path.getsize(plan.part), "java_home": java_home,
                "spark_home": spark_home}
        with open(plan.archive + ".meta.tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(plan.archive + ".meta.tmp", plan.archive + ".meta")
        os.replace(plan.part, plan.archive)
        for other in glob.glob(os.path.join(os.path.dirname(plan.archive), "cds-*.jsa*")):
            if other.endswith(".tmp"):  # another trainer's meta, not yet renamed
                continue
            other_archive = other[: other.index(".jsa") + len(".jsa")]
            if other_archive != plan.archive and _orphaned(other_archive):
                _unlink(other)
        return True
    except OSError:
        _unlink(plan.part, plan.archive + ".meta.tmp")
        return False
    finally:
        _unlink(plan.lock)


def cds_is_mapped(pid: int, archive: str) -> bool:
    """The archive appears in ``/proc/<pid>/maps`` only if the JVM mapped it."""
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return archive in fh.read()
    except OSError:
        return False


def _finish_training(proc: subprocess.Popen, plan: CdsPlan) -> None:
    """At interpreter exit: let the training JVM exit (it does so when
    its stdin closes), wait a bounded time for its archive, publish.
    A SparkContext still live in that JVM is stopped first: otherwise the
    JVM's exit cuts the accumulator server's connection and it prints an
    EOFError."""
    from pyspark import SparkContext  # noqa: PLC0415

    if proc.poll() is None:
        try:
            sc = SparkContext._active_spark_context
            if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
                sc.stop()
            proc.stdin.close()
            proc.wait(timeout=_TRAIN_WAIT_S)
        except Exception:  # noqa: BLE001 - a JVM that does not end in time
            proc.kill()
            proc.wait()
    cds_publish(plan, proc.returncode)


def _launch(builder: SparkSession.Builder, driver_mem: str) -> SparkSession:
    """Launch the driver JVM, with a heap of ``driver_mem``, under the
    class-data-sharing plan."""
    global _CDS_STATE
    from pyspark import SparkContext  # noqa: PLC0415
    from pyspark.find_spark_home import _find_spark_home  # noqa: PLC0415

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        _CDS_STATE = "off:gateway"
        return builder.getOrCreate()
    plan = cds_plan(cds_cache_dir(), _java_home(), _find_spark_home(), driver_mem)
    if plan.java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", plan.java_opts)
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if plan.part:
            cds_publish(plan, None)
        raise
    finally:
        if plan.java_opts:
            del os.environ["SPARK_CONF_DIR"]
    proc = SparkContext._gateway.proc
    if plan.part:
        atexit.register(_finish_training, proc, plan)
    elif plan.archive and not cds_is_mapped(proc.pid, plan.archive):
        _unlink(plan.archive, plan.archive + ".meta")
        plan = plan._replace(state="off:unmapped")
    _CDS_STATE = plan.state
    return spark
