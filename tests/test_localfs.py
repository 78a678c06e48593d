"""The local-filesystem binding (``multi_table_plugins_spark/jvm``): Hadoop's
``file:`` FileSystem and FileContext set mode bits in-process instead of
forking ``chmod`` per file, and keep everything else — modes, checksum
files, checksum verification — as Hadoop's default local filesystem does."""

import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from multi_table_plugins_spark import session
from multi_table_plugins_spark.session import LOCALFS_CONF, LOCALFS_JAR, local_fs_class

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FS_CLASS = LOCALFS_CONF["spark.hadoop.fs.file.impl"]
FC_CLASS = LOCALFS_CONF["spark.hadoop.fs.AbstractFileSystem.file.impl"]


def _bound_fs(spark):
    """The session's ``file:`` FileSystem, asserted to be the binding."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == FS_CLASS
    return fs


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _procs_started() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no processes line in /proc/stat")


def test_file_scheme_resolves_to_binding(spark):
    assert local_fs_class(spark) == FS_CLASS
    jvm = spark.sparkContext._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == FC_CLASS


def test_modes_match_hadoop_default_local_fs(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    default = jvm.org.apache.hadoop.fs.LocalFileSystem()
    default.initialize(jvm.java.net.URI("file:///"), conf)
    modes = {}
    for name, fs in (("bound", _bound_fs(spark)), ("default", default)):
        d = tmp_path / name
        assert fs.mkdirs(Path(str(d / "dir")))
        fs.create(Path(str(d / "dir" / "f.bin"))).close()
        sticky = Path(str(d / "sticky"))
        fs.mkdirs(sticky)
        fs.setPermission(sticky, jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
        modes[name] = {
            "dir": _mode(d / "dir"),
            "file": _mode(d / "dir" / "f.bin"),
            "crc": _mode(d / "dir" / ".f.bin.crc"),
            "sticky": _mode(d / "sticky"),
        }
    assert modes["bound"] == modes["default"]
    assert modes["bound"]["dir"] == 0o755 and modes["bound"]["file"] == 0o644
    assert modes["bound"]["sticky"] == 0o1777


def test_file_context_writes_checksummed_files(spark, tmp_path):
    """The FileContext API (streaming checkpoints) goes through the binding
    and still writes a ``.crc`` next to each file, at the default mode."""
    jvm = spark.sparkContext._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == FC_CLASS
    p = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt" / "0"))
    flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.CreateOpts, 1
    )
    opts[0] = jvm.org.apache.hadoop.fs.Options.CreateOpts.createParent()
    out = fc.create(p, flags, opts)
    out.write(bytearray(b"v1\n"))
    out.close()
    assert (tmp_path / "ckpt" / "0").read_bytes() == b"v1\n"
    assert (tmp_path / "ckpt" / ".0.crc").exists()
    assert _mode(tmp_path / "ckpt" / "0") == 0o644


def test_checksums_written_and_verified(spark, tmp_path):
    _bound_fs(spark)
    out = str(tmp_path / "csv")
    spark.range(2000).selectExpr("id", "id * 7 AS v").coalesce(1).write.csv(out)
    (data,) = [f for f in os.listdir(out) if f.startswith("part-")]
    assert os.path.exists(os.path.join(out, f".{data}.crc"))
    assert spark.read.csv(out).count() == 2000
    path = os.path.join(out, data)
    raw = bytearray(open(path, "rb").read())
    raw[len(raw) // 2] ^= 0x01
    with open(path, "wb") as f:
        f.write(raw)
    with pytest.raises(Exception, match="(?i)checksum"):
        spark.read.csv(out).collect()


def test_partitioned_write_forks_less_than_one_process_per_file(spark, tmp_path):
    _bound_fs(spark)
    df = spark.range(6400).selectExpr("id", "id % 64 AS p").repartition(1)
    df.write.partitionBy("p").parquet(str(tmp_path / "warm"))
    before = _procs_started()
    df.write.partitionBy("p").parquet(str(tmp_path / "out"))
    started = _procs_started() - before
    assert sum(n.startswith("p=") for n in os.listdir(tmp_path / "out")) == 64
    # Hadoop's default forks chmod for each data file, .crc and directory
    assert started < 64, started


def test_link_status_matches_hadoop_default(spark, tmp_path):
    """Link targets are read in-process, and the statuses are Hadoop's:
    the same fields for a symlink, a dangling symlink and a regular file,
    and the same FileNotFoundException for a missing path."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    bound = _bound_fs(spark).getRawFileSystem()
    assert bound.getClass().getName() == "mtp.localfs.NioRawLocalFileSystem"
    default = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    default.initialize(jvm.java.net.URI("file:///"), conf)
    (tmp_path / "file").write_bytes(b"12345")
    os.symlink("file", tmp_path / "link")
    os.symlink(str(tmp_path / "gone"), tmp_path / "dangling")
    for name in ("link", "dangling", "file"):
        p = Path(str(tmp_path / name))
        got, want = bound.getFileLinkStatus(p), default.getFileLinkStatus(p)
        assert got.toString() == want.toString(), name
        assert got.isSymlink() == (name != "file")
        if got.isSymlink():
            assert bound.getLinkTarget(p).toString() == default.getLinkTarget(p).toString()
    assert bound.getFileLinkStatus(Path(str(tmp_path / "link"))).getLen() == 5
    missing = Path(str(tmp_path / "missing"))
    errors = []
    for fs in (bound, default):
        with pytest.raises(Exception, match="FileNotFoundException") as e:
            fs.getFileLinkStatus(missing)
        errors.append(str(e.value).splitlines()[-1])
    assert errors[0] == errors[1]


_STREAM_PROBE = """
import os, sys
from multi_table_plugins_spark.feed import FeedSpec, generate_feed
from multi_table_plugins_spark.session import get_spark
from multi_table_plugins_spark.streaming import run_cdc_stream

work = sys.argv[1]
generate_feed(os.path.join(work, "feed"), FeedSpec(
    n_events=3000, n_tables=2, keys_per_table=200, n_files=3, seed=3))
spark = get_spark("readlink-probe", cores=2, shuffle_partitions=4)
q = run_cdc_stream(
    spark, os.path.join(work, "feed"), os.path.join(work, "wh"),
    os.path.join(work, "ckpt"), app_id="probe", max_files_per_trigger=1, n_buckets=2)
q.awaitTermination(300)
print("batches", sum(1 for p in q.recentProgress if p["numInputRows"]))
jvm = spark.sparkContext._jvm
os.symlink(os.path.join(work, "feed"), os.path.join(work, "link"))
hadoop = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
hadoop.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
# Hadoop's own class execs readlink once here: proves the shim is on PATH
hadoop.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(os.path.join(work, "link")))
spark.stop()
"""


def test_available_now_stream_execs_no_readlink(tmp_path):
    """Checkpoint renames go through the FileContext link status; a
    several-batch stream must exec no ``readlink``. A ``readlink`` shim
    first on the JVM's PATH logs every exec."""
    shim = tmp_path / "bin"
    shim.mkdir()
    log = tmp_path / "readlink.log"
    (shim / "readlink").write_text(
        f'#!/bin/sh\necho "$*" >> "{log}"\nexec {shutil.which("readlink")} "$@"\n'
    )
    (shim / "readlink").chmod(0o755)
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(
        PATH=f"{shim}{os.pathsep}{env['PATH']}",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _STREAM_PROBE, str(tmp_path)], capture_output=True,
        text=True, env=env, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "batches 3" in proc.stdout, proc.stdout
    execs = log.read_text().splitlines()
    assert execs == [str(tmp_path / "link")], execs


def test_class_missing_from_running_jvm_keeps_default(spark, monkeypatch, caplog):
    monkeypatch.setitem(
        session.LOCALFS_CONF, "spark.hadoop.fs.file.impl", "mtp.localfs.Missing"
    )
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session._local_fs_conf({}) == {}
    assert "--driver-class-path" in caplog.text


def test_conf_merges_caller_classpath(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = session._local_fs_conf({"spark.driver.extraClassPath": "/srv/lib/a.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        ["/srv/lib/a.jar", LOCALFS_JAR]
    )
    assert conf["spark.hadoop.fs.file.impl"] == FS_CLASS


def test_package_from_zip_takes_warning_path(tmp_path):
    """Imported from a --py-files zip the jar is not on disk: the conf
    falls back to Hadoop's default with a warning instead of failing."""
    zpath = str(tmp_path / "mtp.zip")
    pkg = os.path.join(REPO, "multi_table_plugins_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" not in root:
                for f in files:
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env["PYTHONPATH"] = zpath
    code = (
        "import os\n"
        "from multi_table_plugins_spark import session\n"
        "assert '.zip' in session.__file__, session.__file__\n"
        "assert not os.path.isfile(session.LOCALFS_JAR)\n"
        "print(session._local_fs_conf({}))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "{}"
    assert "--driver-class-path" in proc.stderr


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_jar_rebuilds_to_the_committed_classes(tmp_path):
    build = os.path.join(REPO, "multi_table_plugins_spark", "jvm", "build.sh")
    subprocess.run(["bash", build, str(tmp_path)], check=True, timeout=300)

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {
                n: z.read(n) for n in z.namelist() if n.endswith(".class")
            }

    committed = classes(LOCALFS_JAR)
    assert committed and classes(str(tmp_path / "mtp-localfs.jar")) == committed
