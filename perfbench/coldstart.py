"""Cold session set-up, and the JVM tear-down every run ends with.

    python3 perfbench/coldstart.py DATA_DIR

starts a fresh process that imports the engine, builds the session with
the environment it inherits, runs the warm-up query on ``DATA_DIR``,
stops the JVM and prints one JSON line: ``setup_s`` (process start
until the warm-up query is done) and ``start_s`` (the ``get_spark()``
call alone). ``run.py`` takes the median of its own set-up and the
probes' as ``setup_s``.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``, so
    that set-up time includes interpreter start."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


# Process start on the ``perf_counter`` clock.
T_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def setup(data_dir: str):
    """Build the session and run the warm-up query. Returns the session
    and the seconds ``get_spark()`` took. The warm-up is one of the paper
    pipelines: a one-scan warm-up leaves the JIT so cold that the first
    warm pass still reads about 1.5x the later ones."""
    from manipula_o_de_dataframes_spark import plans
    from manipula_o_de_dataframes_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    noop(plans.abc_classification(spark, data_dir))
    return spark, start_s


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == pid:
                out.append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    return alive


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait until
    the JVM and every process it started have ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    kids = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    SparkContext._gateway = SparkContext._jvm = None
    # The gateway server exits when its stdin closes.
    try:
        proc.stdin.close()
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    for pid in _wait_gone(kids, 10):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(kids, 5)


def main() -> int:
    sys.path.insert(0, ROOT)
    try:
        _spark, start_s = setup(sys.argv[1])
        setup_s = time.perf_counter() - T_START
    finally:
        stop_jvm()
    print(json.dumps({"setup_s": setup_s, "start_s": start_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
