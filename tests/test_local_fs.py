"""Pin the fork-free ``file:`` FileSystem that get_spark wires in
(session.py, java/NoForkLocalFileSystem.java).

Without libhadoop, Hadoop's RawLocalFileSystem.setPermission forks a
``chmod`` process for every local file create and every mkdirs with a
mode — ~26 per flagship stream trigger. NoForkLocalFileSystem sets the
same bits through java.nio. These tests pin four things: no ``chmod``
is forked by a get_spark session's batch and stream writes; modes,
``.crc`` sidecars and the sticky-bit fallback match the stock class;
rename replaces an existing file, so an overwriting checkpoint write
leaves no temp file behind; the wiring never points fs.file.impl at a
class the JVM cannot load.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

from flink_wikipedia_spark import session
from flink_wikipedia_spark.session import NOFORK_FS_CLASS, nofork_fs_classes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHMOD_SHIM = """#!/bin/sh
echo "$@" >> "{log}"
exec /bin/chmod "$@"
"""

_FORK_SCRIPT = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from flink_wikipedia_spark.session import get_spark
from flink_wikipedia_spark.streaming.pipeline import build_flagship_stream
from flink_wikipedia_spark.streaming.sinks import ParquetSink
from flink_wikipedia_spark.streaming.sources import file_source

work, log = sys.argv[2], sys.argv[3]

def forks():
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return f.read().splitlines()

spark = get_spark("nofork-test", master="local[2]", shuffle_partitions=2)
spark.range(100).write.parquet(work + "/batch")
src = work + "/src"
os.makedirs(src)
base = time.time() - 600
for i, minute in enumerate((1, 9)):
    ev = {"id": i, "domain": "en.wikipedia.org", "namespace": "main namespace",
          "title": "t", "timestamp": f"2024-01-01T10:0{minute}:00Z",
          "user_name": "u", "user_type": "human", "old_length": 10,
          "new_length": 25}
    p = os.path.join(src, f"{i:03d}.json")
    with open(p, "w") as f:
        f.write(json.dumps(ev) + "\n")
    os.utime(p, (base + i * 10, base + i * 10))
q = build_flagship_stream(
    spark, file_source(spark, src, max_files_per_trigger=1),
    ParquetSink(work + "/out"), work + "/ck",
)
q.awaitTermination()
triggers = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
session_forks = forks()
# control: Hadoop's stock raw FS, same JVM and conf, forks once per create
jvm = spark.sparkContext._jvm
raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
raw.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
raw.create(jvm.org.apache.hadoop.fs.Path("file://" + work + "/control")).close()
print("RESULT " + json.dumps({
    "triggers": triggers,
    "epochs": sorted(os.listdir(work + "/out")),
    "session_forks": session_forks,
    "control_forks": forks()[len(session_forks):],
}))
"""


def test_get_spark_writes_fork_no_chmod(tmp_path):
    """A get_spark session's parquet write and a 2-trigger flagship
    stream into ParquetSink fork no ``chmod`` (a ``chmod`` shim first on
    PATH logs every call); a stock RawLocalFileSystem create in the same
    JVM logs exactly one, so the shim does see Hadoop's forks."""
    shim_dir, work = tmp_path / "bin", tmp_path / "work"
    shim_dir.mkdir()
    work.mkdir()
    log = tmp_path / "chmod.log"
    shim = shim_dir / "chmod"
    shim.write_text(_CHMOD_SHIM.format(log=log))
    shim.chmod(0o755)
    env = dict(os.environ, PATH=f"{shim_dir}{os.pathsep}{os.environ['PATH']}")
    proc = subprocess.run(
        [sys.executable, "-c", _FORK_SCRIPT, REPO, str(work), str(log)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])
    assert res["triggers"] == 2 and res["epochs"], res
    assert res["session_forks"] == [], res["session_forks"][:10]
    assert len(res["control_forks"]) == 1 and res["control_forks"][0].endswith(
        "/control"
    ), res["control_forks"]


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_local_fs_class_matches_stock_modes_rename_and_sticky(spark, tmp_path):
    """The fixture session's file: FileSystem is NoForkLocalFileSystem
    through both FileSystem.get and FileSystem.getLocal (which casts to
    LocalFileSystem). Against the class file: resolves without it, the
    same creates and mkdirs give the same modes and .crc sidecars.
    Renames are Hadoop's LocalFileSystem's: a rename onto an existing
    file replaces it, which Hive's ProxyLocalFileSystem (the stock
    file: class in Spark's Hive-enabled distributions) refuses.
    setPermission sets exact bits and a sticky-bit mode falls back to
    the stock path."""
    jvm = spark.sparkContext._jvm
    H = jvm.org.apache.hadoop
    uri = jvm.java.net.URI("file:///")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert H.fs.FileSystem.get(uri, hconf).getClass().getName() == NOFORK_FS_CLASS
    assert H.fs.FileSystem.getLocal(hconf).getClass().getName() == NOFORK_FS_CLASS

    # a Hadoop umask unlike the process umask (022 here), so a no-op
    # override would leave 0644/0755 and fail
    conf = H.conf.Configuration(hconf)
    conf.set("fs.permissions.umask-mode", "027")
    stock_conf = H.conf.Configuration(conf)
    stock_conf.unset("fs.file.impl")
    fs = H.fs.FileSystem.newInstance(uri, conf)
    stock = H.fs.FileSystem.newInstance(uri, stock_conf)
    hadoop = H.fs.LocalFileSystem()
    hadoop.initialize(uri, conf)
    assert fs.getClass().getName() == NOFORK_FS_CLASS
    assert stock.getClass().getName() != NOFORK_FS_CLASS
    umask = H.fs.permission.FsPermission.getUMask(conf).toShort()
    assert umask == 0o027

    def exercise(fs, root):
        def P(*parts):
            return H.fs.Path(str(root.joinpath(*parts)))

        def modes():
            return {
                os.path.relpath(os.path.join(dp, n), root): _mode(os.path.join(dp, n))
                for dp, dns, fns in os.walk(root)
                for n in dns + fns
            }

        fs.mkdirs(P("d", "e"))
        fs.create(P("f")).close()
        fs.create(P("g")).close()
        created = modes()
        renames = (fs.rename(P("g"), P("f")), fs.rename(P("f"), P("h")))
        return created, renames, modes()

    ours = exercise(fs, tmp_path / "ours")
    assert ours[0] == exercise(stock, tmp_path / "stock")[0]
    assert ours == exercise(hadoop, tmp_path / "hadoop")
    created, renames, modes = ours
    dir_mode, file_mode = 0o777 & ~umask, 0o666 & ~umask
    assert created == {
        "d": dir_mode, "d/e": dir_mode,
        "f": file_mode, ".f.crc": file_mode,
        "g": file_mode, ".g.crc": file_mode,
    }
    assert renames == (True, True)  # g replaces f, then f moves to h
    assert modes == {"d": dir_mode, "d/e": dir_mode, "h": file_mode, ".h.crc": file_mode}

    def perm(mode):
        return H.fs.permission.FsPermission(jvm.java.lang.Short.valueOf(str(mode)))

    h, d = tmp_path / "ours" / "h", tmp_path / "ours" / "d"
    fs.setPermission(H.fs.Path(str(h)), perm(0o604))
    assert _mode(h) == 0o604
    fs.setPermission(H.fs.Path(str(h)), perm(0o640))
    assert _mode(h) == 0o640
    fs.setPermission(H.fs.Path(str(d)), perm(0o1777))
    assert _mode(d) == 0o1777
    fs.close()
    stock.close()
    hadoop.close()


def test_checkpoint_overwrite_replaces_file_and_leaves_no_temp(spark, tmp_path):
    """Through the session's checkpoint manager (newHadoopConf carries
    checkpointFileManagerClass) on this FS: two createAtomic(p, true)
    writes, the way state stores rewrite a delta or snapshot, leave the
    second bytes and no .tmp or .crc orphan. createAtomic(q, false)
    onto an existing q still raises and keeps the first bytes."""
    jvm = spark.sparkContext._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    root = tmp_path / "ck"
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    mgr = manager.create(jvm.org.apache.hadoop.fs.Path(str(root)), hconf)

    def write(name, data, overwrite):
        out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(str(root / name)), overwrite)
        out.write(data)
        out.close()

    write("p", b"first", True)
    after_first = sorted(os.listdir(root))
    write("p", b"second", True)
    assert (root / "p").read_bytes() == b"second"
    assert sorted(os.listdir(root)) == after_first == [".p.crc", "p"]

    write("q", b"first", False)
    with pytest.raises(Py4JJavaError):
        write("q", b"second", False)
    assert (root / "q").read_bytes() == b"first"


_VANILLA_FIRST = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from flink_wikipedia_spark.session import get_spark

SparkSession.builder.master("local[1]").getOrCreate().stop()
spark = get_spark("vanilla-first", master="local[1]", shuffle_partitions=1)
jvm = spark.sparkContext._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
print("FS " + fs.getClass().getName())  # the install's stock class
print("IMPL " + str(spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl", None)))
spark.range(5).write.parquet(sys.argv[2])
print("ROWS " + str(spark.read.parquet(sys.argv[2]).count()))
"""


def test_jvm_launched_elsewhere_keeps_stock_fs(tmp_path):
    """get_spark on a JVM some other session launched (its class path is
    fixed) leaves fs.file.impl unset: stock FS, and writes still work."""
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_FIRST, REPO, str(tmp_path / "out")],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout.splitlines()
    assert next(l for l in out if l.startswith("FS ")) != f"FS {NOFORK_FS_CLASS}"
    assert "IMPL None" in out
    assert "ROWS 5" in out


def _source_copy(tmp_path, monkeypatch):
    """Point the helper at a copy of the Java source, so its build
    directory lands under tmp_path instead of the package."""
    java = tmp_path / "java"
    java.mkdir()
    shutil.copy(session._NOFORK_FS_SOURCE, java)
    monkeypatch.setattr(
        session, "_NOFORK_FS_SOURCE", str(java / "NoForkLocalFileSystem.java")
    )
    return java


def _no_javac(tmp_path, monkeypatch):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    monkeypatch.setenv("PATH", str(tmp_path / "no-bin"))


def test_no_javac_means_not_available(tmp_path, monkeypatch, capsys):
    """No javac reachable and nothing compiled yet: the helper returns
    None and says so on one stderr line (no JVM started)."""
    java = _source_copy(tmp_path, monkeypatch)
    _no_javac(tmp_path, monkeypatch)
    assert nofork_fs_classes() is None
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and "javac" in err[0], err
    assert os.listdir(java) == ["NoForkLocalFileSystem.java"]


def test_classes_compiled_once_then_reused(tmp_path, monkeypatch, capsys):
    """The first call compiles into a build directory next to the source
    and leaves no temp dir behind; later calls reuse it with no javac. A
    build directory without the class is reported, not put on a class
    path, and nothing is left behind either. A compile removes the
    build directory of a superseded key."""
    java = _source_copy(tmp_path, monkeypatch)
    stale = java / "build-0000000000000000"
    (stale / "flink_wikipedia_spark").mkdir(parents=True)
    classes = nofork_fs_classes()
    assert not stale.exists()
    assert classes is not None and os.path.dirname(classes) == str(java)
    assert os.path.isfile(os.path.join(classes, session._NOFORK_FS_CLASSFILE))
    assert _mode(classes) == 0o755
    assert sorted(os.listdir(java)) == sorted(
        ["NoForkLocalFileSystem.java", os.path.basename(classes)]
    )
    _no_javac(tmp_path, monkeypatch)
    assert nofork_fs_classes() == classes
    assert capsys.readouterr().err == ""

    os.remove(os.path.join(classes, session._NOFORK_FS_CLASSFILE))
    assert nofork_fs_classes() is None
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and os.path.basename(classes) in err[0], err
    assert sorted(os.listdir(java)) == sorted(
        ["NoForkLocalFileSystem.java", os.path.basename(classes)]
    )


def test_wiring_guards(monkeypatch):
    """Confs are added only for a JVM this call launches under a
    single-host master, and never when an fs.file.impl or a class path
    is set outside get_spark (PYSPARK_SUBMIT_ARGS here)."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    confs = session._local_fs_confs("local[2]")
    assert confs["spark.hadoop.fs.file.impl"] == NOFORK_FS_CLASS
    assert "spark.executor.extraClassPath" not in confs
    cluster = session._local_fs_confs("local-cluster[2,1,1024]")
    assert cluster["spark.executor.extraClassPath"] == confs["spark.driver.extraClassPath"]
    assert session._local_fs_confs("spark://host:7077") == {}
    for args in (
        "--conf spark.hadoop.fs.file.impl=org.example.FS pyspark-shell",
        "--driver-class-path lib/x.jar pyspark-shell",
        "--conf spark.driver.extraClassPath=lib/x pyspark-shell",
    ):
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args)
        assert session._local_fs_confs("local[2]") == {}, args
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._local_fs_confs("local[2]") == {}
