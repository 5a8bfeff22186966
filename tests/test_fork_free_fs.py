"""The fork-free local filesystem (session.py docstring): a session that
get_session launches from the class-data-sharing archive writes the raw
zone, the staging CSV and a streaming checkpoint without forking chmod(1),
and every mode it leaves on disk is the one Hadoop's stock local
filesystem leaves."""

from __future__ import annotations

import json
import os
import re
import stat
import subprocess
import sys

import pytest

from e2e_etl_pipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM = "e2e_etl_pipeline_spark.ForkFreeLocalFileSystem"

# The daily job, then the streaming restart key, in a session get_session
# launches. Set-up forks chmod once for the shipped package zip (Spark's
# a+x on a fetched file), so the log starts empty after a warm-up job.
JOB = """
import datetime as dt, json, os, sys
from e2e_etl_pipeline_spark import registry, shipping
from e2e_etl_pipeline_spark.pipeline.offers import offers_to_staging_csv, parse_offers
from e2e_etl_pipeline_spark.session import get_session
from e2e_etl_pipeline_spark.sources.acquire import fetched_documents
from e2e_etl_pipeline_spark.sources.raw_zone import read_latest, write_raw

out, sf_dir, extra = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
spark = get_session("fork-free-probe", extra)
registry.load_all()
shipping.ensure_package_shipped(spark)
spark.range(4).count()
open(os.environ["CHMOD_LOG"], "w").close()
targets = [("jjit", "waw", "junior"), ("ppl", "gd", "senior")]
write_raw(fetched_documents(spark, targets, dt.date(2024, 8, 1)), os.path.join(out, "zone"))
offers_to_staging_csv(parse_offers(read_latest(spark, os.path.join(out, "zone"))), os.path.join(out, "staging"))
registry.QUERIES["q_stream_restart"](spark, sf_dir).collect()
print(json.dumps(spark._jsc.hadoopConfiguration().get("fs.file.impl")))
"""

# A random id in a part file's name.
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _tree(root) -> dict[str, int]:
    """Relative name (random ids masked) → st_mode, for every path under root."""
    modes = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            modes[_UUID.sub("<id>", os.path.relpath(path, root))] = os.lstat(path).st_mode
    return modes


def _run_job(tmp_path, name: str, sf_dir: str, extra: dict) -> tuple[list[str], dict[str, int], str]:
    """(chmod(1) calls the job made, the tree it wrote, the session's fs.file.impl)."""
    bin_dir, out, log = tmp_path / f"{name}-bin", tmp_path / name, tmp_path / f"{name}.chmod.log"
    bin_dir.mkdir()
    chmod = bin_dir / "chmod"
    chmod.write_text('#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec /bin/chmod "$@"\n')
    chmod.chmod(0o755)
    env = dict(
        os.environ,
        CHMOD_LOG=str(log),
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
        TMPDIR=str(tmp_path),
    )
    proc = subprocess.run(
        [sys.executable, "-c", JOB, str(out), sf_dir, json.dumps(extra)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return log.read_text().splitlines(), _tree(out), json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def jobs(tmp_path_factory, sf_dir):
    """The job on the fork-free filesystem, and again with the caller naming
    Hadoop's stock LocalFileSystem (which keeps it)."""
    cds = session._class_data_sharing({})  # noqa: SLF001
    if cds is None or cds.recording:
        pytest.skip("get_session launches without an archive here, so on Hadoop's stock filesystem")
    tmp = tmp_path_factory.mktemp("fork-free")
    return (
        _run_job(tmp, "shim", sf_dir, {}),
        _run_job(tmp, "stock", sf_dir, {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}),
    )


def test_the_daily_job_and_a_stream_restart_fork_no_chmod(jobs):
    (chmods, _, impl), _ = jobs
    assert impl == SHIM
    assert chmods == []


def test_a_callers_filesystem_is_kept_and_forks(jobs):
    """The control: the gate can fail. A caller's fs.file.impl wins, and
    Hadoop's stock filesystem forks chmod for the job's files."""
    _, (chmods, _, impl) = jobs
    assert impl == "org.apache.hadoop.fs.LocalFileSystem"
    assert len(chmods) > 0


def test_both_filesystems_leave_the_same_tree(jobs):
    (_, shim, _), (_, stock, _) = jobs
    assert any(name.endswith(".crc") for name in shim) and any(name.endswith("_SUCCESS") for name in shim)
    assert {k: oct(v) for k, v in shim.items()} == {k: oct(v) for k, v in stock.items()}


@pytest.fixture(scope="module")
def hadoop(spark, tmp_path_factory):
    """(jvm, the jar's class loader) for the checkout's source, compiled by
    the session's own code into a scratch cache."""
    from pyspark.find_spark_home import _find_spark_home

    jar = session._fork_free_jar(str(tmp_path_factory.mktemp("jar")), "test", _find_spark_home())  # noqa: SLF001
    if jar is None:
        pytest.skip("no javac")
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    jvm = gateway.jvm
    urls = gateway.new_array(jvm.java.net.URL, 1)
    urls[0] = jvm.java.io.File(jar).toURI().toURL()
    loader = jvm.java.net.URLClassLoader(urls, jvm.java.lang.Thread.currentThread().getContextClassLoader())
    return gateway, loader


def _new(gateway, loader, name: str, *args):
    """An instance of the jar's class ``name``, through its constructor
    taking ``args``' exact classes."""
    jvm = gateway.jvm
    types = gateway.new_array(jvm.java.lang.Class, len(args))
    values = gateway.new_array(jvm.java.lang.Object, len(args))
    for i, a in enumerate(args):
        types[i], values[i] = a.getClass(), a
    return loader.loadClass(name).getDeclaredConstructor(types).newInstance(values)


def _filesystems(gateway, loader, conf, raw: bool):
    """(the shim, Hadoop's stock filesystem), initialized with ``conf``."""
    jvm = gateway.jvm
    shim = _new(gateway, loader, SHIM + "$Raw" if raw else SHIM)
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem() if raw else jvm.org.apache.hadoop.fs.LocalFileSystem()
    for fs in (shim, stock):
        fs.initialize(jvm.java.net.URI("file:///"), conf)
    return shim, stock


def test_every_mode_lands_as_chmod_sets_it(hadoop, tmp_path):
    """0000-0777 on a file, on a directory, and on a directory inside a
    set-group-ID directory (chmod(1) keeps that bit under an octal mode,
    NIO would clear it): the shim's setPermission leaves the stock st_mode."""
    gateway, loader = hadoop
    jvm = gateway.jvm
    shim, stock = _filesystems(gateway, loader, jvm.org.apache.hadoop.conf.Configuration(), raw=True)
    parent = tmp_path / "setgid"
    parent.mkdir()
    parent.chmod(0o2775)
    differ = []
    for mode in range(0o1000):
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
        got = []
        for side, fs in (("shim", shim), ("stock", stock)):
            paths = (tmp_path / f"{side}-{mode:o}", tmp_path / f"{side}-{mode:o}.d", parent / f"{side}-{mode:o}")
            paths[0].touch()
            for d in paths[1:]:
                d.mkdir()
            for path in paths:
                fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), perm)
            got.append(tuple(os.stat(p).st_mode for p in paths))
        if got[0] != got[1] or stat.S_IMODE(got[0][0]) != mode:
            differ.append((oct(mode), got))
    assert differ == []
    assert stat.S_IMODE(os.stat(parent / "shim-755").st_mode) == 0o2755


def test_the_sticky_bit_is_kept(hadoop, tmp_path):
    gateway, loader = hadoop
    jvm = gateway.jvm
    shim, _ = _filesystems(gateway, loader, jvm.org.apache.hadoop.conf.Configuration(), raw=True)
    shim.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path)), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777))
    assert stat.S_IMODE(os.stat(tmp_path).st_mode) == 0o1777


def test_a_create_modes_permission_sets_its_masked_mode(hadoop, tmp_path):
    """FileContext hands the filesystem an FsCreateModes, whose toString is
    not a mode string: both filesystems set its masked mode."""
    gateway, loader = hadoop
    jvm = gateway.jvm
    perms = jvm.org.apache.hadoop.fs.permission
    modes = perms.FsCreateModes.applyUMask(perms.FsPermission(0o666), perms.FsPermission(0o027))
    for side, fs in zip(("shim", "stock"), _filesystems(gateway, loader, jvm.org.apache.hadoop.conf.Configuration(), raw=True)):
        path = tmp_path / side
        path.touch()
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), modes)
        assert stat.S_IMODE(os.stat(path).st_mode) == 0o640, side


def test_a_missing_path_raises_an_io_exception(hadoop, tmp_path):
    from py4j.protocol import Py4JJavaError

    gateway, loader = hadoop
    jvm = gateway.jvm
    io_exception = jvm.java.lang.Class.forName("java.io.IOException")
    for fs in _filesystems(gateway, loader, jvm.org.apache.hadoop.conf.Configuration(), raw=True):
        with pytest.raises(Py4JJavaError) as err:
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing")), jvm.org.apache.hadoop.fs.permission.FsPermission(0o644))
        assert io_exception.isInstance(err.value.java_exception)


@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
def test_the_umask_is_honoured(hadoop, tmp_path, api):
    """fs.permissions.umask-mode=077: a created file, its checksum file and
    a made directory get the same modes (0600, 0600, 0700) through the shim
    as through the stock filesystem, by either Hadoop API."""
    gateway, loader = hadoop
    jvm = gateway.jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.set("fs.permissions.umask-mode", "077")
    if api == "FileSystem":
        sides = _filesystems(gateway, loader, conf, raw=False)
    else:
        uri = jvm.java.net.URI("file:///")
        shim = _new(gateway, loader, SHIM + "$Fs", uri, conf)
        stock = jvm.org.apache.hadoop.fs.AbstractFileSystem.createFileSystem(uri, conf)
        assert stock.getClass().getName() == "org.apache.hadoop.fs.local.LocalFs"
        sides = [jvm.org.apache.hadoop.fs.FileContext.getFileContext(afs, conf) for afs in (shim, stock)]
    trees = []
    for side, fs in zip(("shim", "stock"), sides):
        root = tmp_path / side
        path = jvm.org.apache.hadoop.fs.Path(str(root / "d" / "f"))
        if api == "FileSystem":
            fs.mkdirs(path.getParent())
            fs.create(path).close()
        else:
            fs.mkdir(path.getParent(), jvm.org.apache.hadoop.fs.permission.FsPermission(0o777), True)
            flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
            fs.create(path, flags, gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)).close()
        trees.append({k: oct(stat.S_IMODE(v)) for k, v in _tree(root).items()})
    assert trees[0] == trees[1] == {"d": "0o700", "d/f": "0o600", "d/.f.crc": "0o600"}


def test_the_filecontext_shim_answers_as_localfs(hadoop):
    """Under its checksums, the shim's FileContext filesystem takes the
    names and gives the server defaults Hadoop's LocalFs does (a ``:`` in a
    path component, a 64 MB block)."""
    gateway, loader = hadoop
    jvm = gateway.jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    uri = jvm.java.net.URI("file:///")
    root = jvm.org.apache.hadoop.fs.Path("/")
    answers = []
    stock = jvm.org.apache.hadoop.fs.AbstractFileSystem.createFileSystem(uri, conf)
    for fs in (_new(gateway, loader, SHIM + "$Fs", uri, conf), stock):
        d = fs.getRawFs().getServerDefaults(root)
        answers.append((fs.getRawFs().isValidName("/chk/a:b"), fs.getUriDefaultPort(), d.getBlockSize(),
                        d.getBytesPerChecksum(), d.getReplication(), d.getFileBufferSize(), fs.supportsSymlinks()))
    assert answers[0] == answers[1], answers
