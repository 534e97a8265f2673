"""The driver JVM's class-data-sharing archive (``session.py``).

The tests drive the archive logic on fake JDK and Spark trees in a tmp
dir. Only one starts a JVM, a sub-second one on Spark's launcher jar
alone; the last test checks what the suite's own session got.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pytest

from manipula_o_de_dataframes_spark import session


@pytest.fixture
def trees(tmp_path, monkeypatch):
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    jdk = tmp_path / "jdk"
    (jdk / "lib" / "server").mkdir(parents=True)
    for f in ("lib/modules", "lib/server/libjvm.so", "lib/server/classes.jsa"):
        (jdk / f).write_bytes(b"x")
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    cache = tmp_path / "cache"
    return str(cache), str(jdk), str(spark)


def _train(plan: session.CdsPlan, size: int = 4096) -> None:
    """What a training JVM leaves behind, published after a clean exit."""
    with open(plan.part, "wb") as fh:
        fh.write(b"\0" * size)
    assert session.cds_publish(plan, 0)


def test_first_launch_trains_then_maps(trees):
    cache, jdk, spark = trees
    plan = session.cds_plan(cache, jdk, spark)
    assert plan.state == "training"
    assert plan.java_opts.startswith(f"-XX:ArchiveClassesAtExit={plan.part} ")
    assert plan.conf_dir.startswith(cache) and os.listdir(plan.conf_dir) == []
    _train(plan)
    hit = session.cds_plan(cache, jdk, spark)
    assert hit.state == "mapped"
    assert hit.java_opts == f"-XX:SharedArchiveFile={plan.archive} -XX:+VerifySharedSpaces"
    assert not os.path.exists(plan.lock)


def test_truncated_archive_is_never_passed(trees):
    cache, jdk, spark = trees
    plan = session.cds_plan(cache, jdk, spark)
    _train(plan)
    with open(plan.archive, "r+b") as fh:
        fh.truncate(1024)
    again = session.cds_plan(cache, jdk, spark)
    assert again.state == "training"
    assert "SharedArchiveFile" not in again.java_opts
    assert not os.path.exists(plan.archive)


def test_jvm_refuses_a_corrupt_archive_of_the_right_size(trees):
    from pyspark.find_spark_home import _find_spark_home

    cache, jdk, spark = trees
    java = os.path.join(session._java_home(), "bin", "java")
    main = ["-cp", glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))[0],
            "org.apache.spark.launcher.Main"]  # prints its usage and exits

    def launch(opts: str) -> str:
        cmd = [java, *opts.split(), "-Xlog:cds=info", *main]
        return subprocess.run(cmd, capture_output=True, text=True).stdout

    plan = session.cds_plan(cache, jdk, spark)
    launch(plan.java_opts)
    assert session.cds_publish(plan, 0)
    hit = session.cds_plan(cache, jdk, spark)
    out = launch(hit.java_opts)
    assert "Mapped dynamic region" in out and "Unable to use shared archive" not in out
    os.chmod(plan.archive, 0o644)
    with open(plan.archive, "r+b") as fh:
        fh.seek(os.path.getsize(plan.archive) // 2)
        fh.write(b"\xff" * 4096)
    assert session.cds_plan(cache, jdk, spark).state == "mapped"  # same size
    assert "Unable to use shared archive" in launch(hit.java_opts)


def test_changed_jar_stat_gives_new_key(trees):
    _cache, jdk, spark = trees
    before = session.cds_key(jdk, spark)
    with open(os.path.join(spark, "jars", "spark-core.jar"), "ab") as fh:
        fh.write(b"more")
    assert session.cds_key(jdk, spark) != before


def test_jdk_without_base_archive_is_off(trees):
    cache, jdk, spark = trees
    os.unlink(os.path.join(jdk, "lib", "server", "classes.jsa"))
    assert session.cds_plan(cache, jdk, spark).state == "off:jdk"


def test_second_process_finding_the_lock_launches_plain(trees):
    cache, jdk, spark = trees
    first = session.cds_plan(cache, jdk, spark)
    assert first.state == "training"
    # The lock holds this (live) pid: a second launch must not train.
    second = session.cds_plan(cache, jdk, spark)
    assert second == session.CdsPlan("off:busy")
    # A lock whose pid is dead is cleared, and the launch trains.
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(first.lock, "w") as fh:
        fh.write(str(dead.pid))
    assert session.cds_plan(cache, jdk, spark).state == "training"


def _fake_jvm(code: int) -> subprocess.Popen:
    """A stand-in gateway: exits with ``code`` when its stdin closes."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"],
        stdin=subprocess.PIPE,
    )


def test_part_is_published_only_after_a_clean_exit(trees):
    cache, jdk, spark = trees
    plan = session.cds_plan(cache, jdk, spark)
    with open(plan.part, "wb") as fh:
        fh.write(b"\0" * 100)
    session._finish_training(_fake_jvm(1), plan)
    assert not os.path.exists(plan.part) and not os.path.exists(plan.archive)
    assert not os.path.exists(plan.lock)

    plan = session.cds_plan(cache, jdk, spark)
    with open(plan.part, "wb") as fh:
        fh.write(b"\0" * 100)
    session._finish_training(_fake_jvm(0), plan)
    assert os.path.getsize(plan.archive) == 100
    assert session._read_meta(plan.archive) == {"size": 100, "java_home": jdk, "spark_home": spark}
    assert not os.path.exists(plan.part) and not os.path.exists(plan.lock)


def test_publishing_keeps_other_installs_archives(trees, tmp_path):
    """Two Spark installs share one cache: each keeps its archive while
    its jars are there, and publishing deletes an archive whose install
    is gone or unnamed, but not a meta file another trainer is writing."""
    cache, jdk, spark = trees
    other = tmp_path / "spark-other"
    (other / "jars").mkdir(parents=True)
    (other / "jars" / "spark-core.jar").write_bytes(b"another jar")
    theirs = session.cds_plan(cache, jdk, str(other))
    _train(theirs)
    unnamed = os.path.join(cache, "cds-0123456789abcdef.jsa")
    in_flight = os.path.join(cache, "cds-fedcba9876543210.jsa.meta.tmp")
    for p in (unnamed, in_flight):
        with open(p, "w") as fh:
            fh.write("1")
    ours = session.cds_plan(cache, jdk, spark)
    _train(ours)
    assert os.path.exists(theirs.archive) and os.path.exists(theirs.archive + ".meta")
    assert not os.path.exists(unnamed) and os.path.exists(in_flight)
    assert session.cds_plan(cache, jdk, str(other)).state == "mapped"

    os.unlink(other / "jars" / "spark-core.jar")  # that install is removed
    os.unlink(ours.archive)
    _train(session.cds_plan(cache, jdk, spark))
    assert not glob.glob(theirs.archive + "*")


def test_big_heap_launches_plain_and_keeps_the_archive(trees):
    """A heap of 32 GiB or more turns off the JVM's compressed pointers,
    and such a JVM refuses the archive: the launch runs plain instead of
    mapping it, and the archive survives for the next normal launch."""
    cache, jdk, spark = trees
    plan = session.cds_plan(cache, jdk, spark, "40g")
    assert plan == session.CdsPlan("off:heap")
    assert not os.path.exists(cache)  # trains nothing, takes no lock
    _train(session.cds_plan(cache, jdk, spark, "2g"))
    for big in ("32g", "32768m", "40GB", "32768"):
        assert session.cds_plan(cache, jdk, spark, big) == session.CdsPlan("off:heap"), big
    assert session.cds_plan(cache, jdk, spark, "31g").state == "mapped"


def test_conf_dir_with_a_real_file_is_off_conf(trees, monkeypatch):
    cache, jdk, spark = trees
    (open(os.path.join(spark, "conf", "spark-defaults.conf"), "w")).close()
    assert session.cds_plan(cache, jdk, spark) == session.CdsPlan("off:conf")
    os.unlink(os.path.join(spark, "conf", "spark-defaults.conf"))
    monkeypatch.setenv("SPARK_CONF_DIR", os.path.join(spark, "conf"))
    assert session.cds_plan(cache, jdk, spark) == session.CdsPlan("off:conf")


def test_unwritable_cache_dir_launches_plain(trees, tmp_path):
    """A cache dir that cannot be made (a read-only or missing home)
    gives ``off:cache``; the launch goes on without the archive."""
    _cache, jdk, spark = trees
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert session.cds_plan(str(blocker / "spark-graft"), jdk, spark) == session.CdsPlan("off:cache")


def test_suite_session_maps_or_trains_the_archive(spark):
    from pyspark.find_spark_home import _find_spark_home

    state = session.cds_state()
    if state == "off:conf":
        assert not session._conf_is_default(_find_spark_home())
    elif state == "off:cache":
        with pytest.raises(OSError):
            os.makedirs(session.cds_cache_dir(), exist_ok=True)
            tempfile.TemporaryFile(dir=session.cds_cache_dir()).close()
    else:
        # off:busy: another process was writing this machine's archive
        assert state in ("mapped", "training", "off:busy"), state
