"""The in-JVM local file system (``jvm/NioLocalFileSystem.java``).

``get_spark`` registers it for local masters so that Hadoop's local file
system stops forking ``chmod`` for every permission it sets and
``readlink`` for every FileContext link check. These pins check that
nothing forks any more and that what the stock classes did on disk
(mode bits, ``.crc`` checksums, Hive's rename guard, symlink status) is
unchanged.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap

import pytest

from event_data_etl_gcs_spark import session
from event_data_etl_gcs_spark.session import NIO_FS_CLASS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no JDK compiler: the session keeps the stock file system"
)


def _run_child(code: str, env: dict[str, str] | None = None) -> str:
    """Run ``code`` in a fresh Python (and so a fresh JVM); returns stdout."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **(env or {})}
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def _modes(root: str) -> tuple[set[int], set[int]]:
    """(file modes, directory modes) of everything under ``root``."""
    files, dirs = set(), {stat.S_IMODE(os.stat(root).st_mode)}
    for d, subdirs, names in os.walk(root):
        dirs |= {stat.S_IMODE(os.stat(os.path.join(d, s)).st_mode) for s in subdirs}
        files |= {stat.S_IMODE(os.stat(os.path.join(d, n)).st_mode) for n in names}
    return files, dirs


@needs_javac
def test_etl_forks_no_chmod_or_readlink(tmp_path):
    """A batch Sparkify run and two incremental drains, with ``chmod`` and
    ``readlink`` on PATH replaced by wrappers that log each call: the log
    stays empty. The stock classes fork both hundreds of times here."""
    bindir, log = tmp_path / "bin", tmp_path / "forks.log"
    bindir.mkdir()
    for tool in ("chmod", "readlink"):
        wrapper = bindir / tool
        wrapper.write_text(f'#!/bin/sh\necho "{tool} $*" >> {log}\nexec {shutil.which(tool)} "$@"\n')
        wrapper.chmod(0o755)
    out = _run_child(
        f"""
        import os
        from perfbench import gen
        from event_data_etl_gcs_spark.plans.sparkify import run_pipeline
        from event_data_etl_gcs_spark.session import get_spark
        from event_data_etl_gcs_spark.streaming.incremental import run_incremental_available_now

        work = {str(tmp_path)!r}
        facts = gen.sparkify(os.path.join(work, "in"), 11, n_events=2000, n_files=4, n_songs=200, n_users=40)
        spark = get_spark(master="local[2]")
        print(spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
        run_pipeline(spark, facts["song_dir"], facts["log_dir"], os.path.join(work, "batch"))
        raw = os.path.join(work, "raw")
        os.makedirs(raw)
        for files in (facts["log_files"][:2], facts["log_files"][2:]):
            for src in files:
                os.link(src, os.path.join(raw, os.path.basename(src)))
            run_incremental_available_now(spark, raw, os.path.join(work, "inc"), os.path.join(work, "ckpt"))
        spark.stop()
        """,
        env={"PATH": f"{bindir}{os.pathsep}{os.environ['PATH']}"},
    )
    assert out.split()[-1] == NIO_FS_CLASS
    assert os.listdir(tmp_path / "inc")
    assert not log.exists(), log.read_text()[:2000]


@needs_javac
def test_vanilla_first_session_keeps_stock_fs(tmp_path):
    """A JVM started by a bare builder has no shim on its classpath, so a
    later ``get_spark`` in it must not register one."""
    out = _run_child(
        f"""
        from pyspark.sql import SparkSession
        from event_data_etl_gcs_spark.session import get_spark

        SparkSession.builder.master("local[2]").getOrCreate().stop()
        spark = get_spark(master="local[2]")
        path = {str(tmp_path / "t")!r}
        spark.range(100).write.parquet(path)
        print(spark.read.parquet(path).count(), spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
        spark.stop()
        """
    )
    assert out.split()[-2:] == ["100", "None"]


def test_no_javac_keeps_stock_fs(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert session._nio_fs_classes() is None
    assert not os.path.exists(tmp_path / ".cache" / "event_data_etl_gcs_spark")


@needs_javac
def test_classes_compile_once_into_user_cache(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    first = session._nio_fs_classes()
    assert first is not None and first.startswith(str(tmp_path / ".cache"))
    assert os.path.isfile(os.path.join(first, *NIO_FS_CLASS.split(".")) + ".class")
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]
    monkeypatch.setattr(session, "subprocess", None)  # a second compile would fail
    assert session._nio_fs_classes() == first


# --- semantics, in the suite's shared session ---------------------------------


@pytest.fixture(scope="module")
def hadoop(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if conf.get("fs.file.impl") != NIO_FS_CLASS:
        pytest.skip("the shared session runs the stock local file system")
    return spark.sparkContext._jvm, conf


def _fs(hadoop, path):
    jvm, conf = hadoop
    return jvm.org.apache.hadoop.fs.Path(str(path)).getFileSystem(conf)


def test_partitioned_write_modes_and_checksums(spark, hadoop, tmp_path):
    out = str(tmp_path / "t")
    spark.range(200).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(out)
    assert _modes(out) == ({0o644}, {0o755})
    data = [
        os.path.join(d, n)
        for d, _, names in os.walk(out)
        for n in names
        if not n.startswith((".", "_"))
    ]
    assert len(data) >= 3
    for f in data:
        assert os.path.isfile(os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")), f


def test_checkpoint_modes(spark, hadoop, tmp_path):
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    spark.range(50).selectExpr("id % 20 AS k").write.json(src)
    (
        spark.readStream.schema("k LONG")
        .json(src)
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
        .awaitTermination()
    )
    assert spark.read.parquet(out).count() == 20
    assert {"offsets", "commits", "sources", "state"} <= set(os.listdir(ckpt))
    assert _modes(ckpt) == ({0o644}, {0o755})
    assert _modes(out) == ({0o644}, {0o755})


def test_flipped_byte_fails_checksum(spark, hadoop, tmp_path):
    out = str(tmp_path / "t")
    spark.range(1000).coalesce(1).write.parquet(out)
    (part,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
    with open(os.path.join(out, part), "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(out).collect()


def test_rename_onto_existing_file_is_refused(hadoop, tmp_path):
    jvm = hadoop[0]
    for n in ("a", "b"):
        (tmp_path / n).write_text(n)
    fs = _fs(hadoop, tmp_path)
    assert fs.getClass().getName() == NIO_FS_CLASS
    P = jvm.org.apache.hadoop.fs.Path
    assert not fs.rename(P(str(tmp_path / "a")), P(str(tmp_path / "b")))
    assert (tmp_path / "a").read_text() == "a" and (tmp_path / "b").read_text() == "b"
    assert fs.rename(P(str(tmp_path / "a")), P(str(tmp_path / "c")))
    assert (tmp_path / "c").read_text() == "a"


def test_file_context_link_status(hadoop, tmp_path):
    jvm, conf = hadoop
    (tmp_path / "target").write_text("x")
    os.symlink(tmp_path / "target", tmp_path / "link")
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == NIO_FS_CLASS + "$Fs"
    P = jvm.org.apache.hadoop.fs.Path
    st = fc.getFileLinkStatus(P(str(tmp_path / "link")))
    assert st.isSymlink()
    assert st.getSymlink().toUri().getPath() == str(tmp_path / "target")
    st = fc.getFileLinkStatus(P(str(tmp_path)))
    assert st.isDirectory() and not st.isSymlink()
    st = fc.getFileLinkStatus(P(str(tmp_path / "target")))
    assert st.isFile() and not st.isSymlink() and st.getLen() == 1


def test_set_permission_modes(hadoop, tmp_path):
    jvm = hadoop[0]
    fs = _fs(hadoop, tmp_path)
    P, Perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    d, f = tmp_path / "d", tmp_path / "f"
    d.mkdir()
    f.write_text("x")
    fs.setPermission(P(str(f)), Perm("640"))
    assert stat.S_IMODE(os.stat(f).st_mode) == 0o640
    # The sticky bit is beyond what the in-JVM path sets; it still applies.
    fs.setPermission(P(str(d)), Perm("1755"))
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1755
