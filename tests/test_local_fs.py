"""The session's ``file://`` filesystem (``ilogtail_spark/jvm``): Hadoop's
checksummed local filesystem, setting permissions with chmod(2) in the
JVM instead of a forked ``chmod`` per written file and directory."""

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from ilogtail_spark import session
from ilogtail_spark.session import JVM_JAR, LOCAL_FS_CLASS, LOCAL_FS_CONTEXT_CLASS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _hpath(spark, path):
    return spark._jvm.org.apache.hadoop.fs.Path(str(path))


def _run(code, tmp_path, umask=-1, **env):
    """Run ``code`` in a fresh Python process (its own JVM) from the repo
    root, with a small driver heap and its own transcripts cache."""
    env = {
        **os.environ,
        "SPARK_DRIVER_MEM": "1g",
        "ILOGTAIL_SPARK_CACHE": str(tmp_path / "cache"),
        **env,
    }
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT, env=env, umask=umask, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_session_file_filesystem_is_the_jvm_chmod_one(spark):
    assert _local_fs(spark).getClass().getName() == LOCAL_FS_CLASS
    assert spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl") == LOCAL_FS_CLASS


def _modes(root):
    """{path: permission bits} of ``root`` and everything under it."""
    paths = [str(root)]
    for d, dnames, fnames in os.walk(root):
        paths += [os.path.join(d, n) for n in dnames + fnames]
    return {p: stat.S_IMODE(os.stat(p).st_mode) for p in paths}


def _logging_chmod(tmp_path):
    """A ``PATH`` whose first ``chmod`` logs each call to the returned
    file and then runs the real one."""
    real = shutil.which("chmod")
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "chmod.log"
    shim = bin_dir / "chmod"
    shim.write_text(f'#!/bin/sh\necho "chmod $*" >> "{log}"\nexec {real} "$@"\n')
    shim.chmod(0o755)
    return f"{bin_dir}{os.pathsep}{os.environ['PATH']}", log


def test_cli_forks_no_chmod(tmp_path, sf_dir):
    """A whole CLI request with a logging ``chmod`` first on ``PATH``
    logs nothing. The one line logged is Hadoop's own shell ``chmod``,
    run afterwards to show the JVM finds the logging one. The process
    umask is 077, so the output's modes come from the filesystem's
    permission calls with Hadoop's default umask, 022."""
    path, log = _logging_chmod(tmp_path)
    out = tmp_path / "out"
    control = str(out / "metrics" / "_SUCCESS")
    _run(
        f"""
        import contextlib, io
        import run_pipeline
        from ilogtail_spark.session import get_spark

        spark = get_spark("fork-count")
        with contextlib.redirect_stdout(io.StringIO()):
            run_pipeline.main(["--input", {sf_dir!r}, "--output", {str(out)!r}])
        spark._jvm.org.apache.hadoop.fs.FileUtil.chmod({control!r}, "644")
        spark.stop()
        """,
        tmp_path,
        umask=0o077,
        PATH=path,
    )
    assert log.read_text().splitlines() == [f"chmod 644 {control}"]
    assert sorted(p.name for p in (out / "routed").iterdir() if p.is_dir()) == [
        "default", "sink_all", "sink_errors", "sink_parse_fail", "sink_tools",
    ]
    modes = _modes(out)
    assert {m for p, m in modes.items() if os.path.isdir(p)} == {0o755}
    assert {m for p, m in modes.items() if not os.path.isdir(p)} == {0o644}


def test_streaming_checkpoint_forks_no_chmod(tmp_path):
    """Structured Streaming writes its checkpoint and ``_spark_metadata``
    logs through ``FileContext``, whose ``file://`` class is
    ``LOCAL_FS_CONTEXT_CLASS``: a one-batch ``trigger(once=True)``
    parquet-to-parquet stream forks no ``chmod`` (the one line logged is
    the control), and under umask 077 every directory and file it writes
    has the modes Hadoop's umask 022 gives, ``.crc`` files included."""
    path, log = _logging_chmod(tmp_path)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    control = os.path.join(out, "_spark_metadata", "0")
    printed = _run(
        f"""
        from ilogtail_spark.session import get_spark

        spark = get_spark("stream-fork-count", cores=1)
        spark.range(10).write.parquet({src!r})
        query = (
            spark.readStream.schema("id bigint").parquet({src!r})
            .writeStream.format("parquet").option("checkpointLocation", {ckpt!r})
            .trigger(once=True).start({out!r})
        )
        query.awaitTermination()
        jvm = spark._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
        print(spark.read.parquet({out!r}).count(), fc.getDefaultFileSystem().getClass().getName())
        spark._jvm.org.apache.hadoop.fs.FileUtil.chmod({control!r}, "644")
        spark.stop()
        """,
        tmp_path,
        umask=0o077,
        PATH=path,
    )
    assert printed.split()[-2:] == ["10", LOCAL_FS_CONTEXT_CLASS]
    assert log.read_text().splitlines() == [f"chmod 644 {control}"]
    for root in (out, ckpt):
        modes = _modes(root)
        assert any(p.endswith(".crc") for p in modes), root
        assert {m for p, m in modes.items() if os.path.isdir(p)} == {0o755}, root
        assert {m for p, m in modes.items() if not os.path.isdir(p)} == {0o644}, root


def test_written_modes_follow_the_hadoop_umask(spark, tmp_path):
    umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark._jsc.hadoopConfiguration()
    ).toShort()
    out = tmp_path / "t"
    spark.range(20).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(str(out))
    modes = _modes(out)
    dirs = {p: m for p, m in modes.items() if os.path.isdir(p)}
    files = {p: m for p, m in modes.items() if p not in dirs}
    assert len(dirs) == 3  # the table and k=0, k=1
    assert any(f.endswith(".crc") for f in files) and any(f.endswith("_SUCCESS") for f in files)
    assert set(files.values()) == {0o666 & ~umask}
    assert set(dirs.values()) == {0o777 & ~umask}


def test_set_permission_keeps_the_sticky_bit(spark, tmp_path):
    d = tmp_path / "shared"
    d.mkdir()
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission("1777")
    _local_fs(spark).setPermission(_hpath(spark, d), perm)
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777


def test_set_permission_on_a_missing_path_raises(spark, tmp_path):
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission("644")
    with pytest.raises(Py4JJavaError) as err:
        _local_fs(spark).setPermission(_hpath(spark, tmp_path / "absent"), perm)
    exc = err.value.java_exception
    assert spark._jvm.java.lang.Class.forName("java.io.IOException").isInstance(exc)
    assert exc.getClass().getName() == "java.nio.file.NoSuchFileException"


def test_rename_does_not_replace_an_existing_file(spark, tmp_path):
    """As with Hive's ``ProxyLocalFileSystem``, which the ``file`` scheme
    resolves to without the class, and as on HDFS."""
    fs = _local_fs(spark)
    (tmp_path / "a").write_text("a")
    (tmp_path / "b").write_text("b")
    assert not fs.rename(_hpath(spark, tmp_path / "a"), _hpath(spark, tmp_path / "b"))
    assert (tmp_path / "a").read_text() == "a" and (tmp_path / "b").read_text() == "b"
    assert fs.rename(_hpath(spark, tmp_path / "a"), _hpath(spark, tmp_path / "c"))
    assert (tmp_path / "c").read_text() == "a" and not (tmp_path / "a").exists()


def test_a_corrupted_part_file_fails_its_checksum(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(50).selectExpr("id", "repeat('x', 3) AS s").coalesce(1).write.parquet(str(out))
    (part,) = [p for p in os.listdir(out) if p.endswith(".parquet")]
    assert os.path.exists(out / f".{part}.crc")
    data = bytearray((out / part).read_bytes())
    data[len(data) // 2] ^= 0xFF
    (out / part).write_bytes(bytes(data))
    with pytest.raises(Exception, match="Checksum"):
        spark.read.parquet(str(out)).collect()


def test_use_local_fs_appends_to_a_callers_classpath(monkeypatch):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = {"spark.driver.extraClassPath": "lib/a.jar"}
    session._use_jvm_jar(conf)
    assert conf == {
        "spark.driver.extraClassPath": f"lib/a.jar{os.pathsep}{JVM_JAR}",
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS_CONTEXT_CLASS,
    }
    conf = {}
    session._use_jvm_jar(conf)
    assert conf["spark.driver.extraClassPath"] == JVM_JAR
    # under spark-submit the launcher owns the classpath
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = {}
    session._use_jvm_jar(conf)
    assert conf == {}


def test_session_in_a_jvm_without_the_jar_keeps_the_stock_filesystem(tmp_path):
    """A JVM started without the jar cannot load the class: ``get_spark``
    neither changes an active session nor names the class for a new
    one, and both write parquet with the stock filesystem."""
    out = _run(
        f"""
        from pyspark.sql import SparkSession
        from ilogtail_spark.session import LOCAL_FS_CLASS, get_spark

        def fs_class(spark):
            jvm = spark._jvm
            fs = jvm.org.apache.hadoop.fs.FileSystem.get(
                jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
            return fs.getClass().getName()

        plain = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
        assert get_spark("guard") is plain
        assert plain.sparkContext.getConf().get("spark.hadoop.fs.file.impl") is None
        plain.stop()
        spark = get_spark("guard", cores=1)
        assert spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl") is None
        assert fs_class(spark) != LOCAL_FS_CLASS
        spark.range(10).write.parquet({str(tmp_path / "t")!r})
        print(spark.read.parquet({str(tmp_path / "t")!r}).count(), fs_class(spark))
        spark.stop()
        """,
        tmp_path,
    )
    rows, fs_class = out.split()[-2:]
    assert rows == "10" and fs_class != LOCAL_FS_CLASS


@pytest.mark.skipif(
    not (shutil.which("javac") and shutil.which("jar")),
    reason="rebuilding the jar needs a JDK's javac and jar on PATH",
)
def test_committed_jar_is_rebuilt_byte_for_byte(tmp_path):
    subprocess.run(
        [os.path.join(ROOT, "ilogtail_spark", "jvm", "build.sh"), str(tmp_path)],
        check=True, capture_output=True, timeout=300,
    )

    def classes(path):
        with zipfile.ZipFile(path) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    committed = classes(JVM_JAR)
    assert {n.split("/")[-1].split("$")[0].removesuffix(".class") for n in committed} == {
        "NioLocalFileSystem", "NioLocalFs", "RegexMatch", "SlsLogGroup", "Strptime",
    }
    assert (tmp_path / "ilogtail-jvm.jar").read_bytes() == open(JVM_JAR, "rb").read()
    assert classes(tmp_path / "ilogtail-jvm.jar") == committed
