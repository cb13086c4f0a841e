"""drop_zip_importers: after it, importlib.invalidate_caches() (which
PySpark's worker calls before every task) has no zip directory to re-read,
and imports from the zip still work.  The engine's worker daemon: it
writes only its port to stdout, and the sessions of ``get_spark`` fork
their workers from it with its heap frozen."""

import importlib
import json
import os
import struct
import subprocess
import sys
import zipfile
import zipimport

import pytest

from fuzzy_search_spark.spark.worker import drop_zip_importers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "fuzzy_search_spark.spark.daemon"


def _zip_importers():
    return [path for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)]


def test_drop_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/first.py", "VALUE = 1\n")
        zf.writestr("zpkg/sub/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zpkg.sub.first").VALUE == 1
        assert _zip_importers()

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads, "invalidate_caches() re-read no zip directory"

        reads.clear()
        drop_zip_importers()
        assert _zip_importers() == []
        importlib.invalidate_caches()
        assert reads == []
        # the rebuilt importer serves the archive from zipimport's own
        # directory cache: still no read
        assert importlib.import_module("zpkg.sub.second").VALUE == 2
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        drop_zip_importers()


def test_daemon_writes_only_its_port():
    """The JVM reads a 4-byte port from the daemon's stdout: the preloaded
    imports print nothing before it, and closing stdin stops the daemon
    without a further byte."""
    with subprocess.Popen([sys.executable, "-m", DAEMON], cwd=REPO,
                          stdin=subprocess.PIPE,
                          stdout=subprocess.PIPE) as proc:
        try:
            head = proc.stdout.read(4)
            rest, _ = proc.communicate(timeout=60)
        finally:
            proc.kill()
    assert len(head) == 4
    assert 1 <= struct.unpack("!i", head)[0] <= 65535
    assert rest == b""


def test_daemon_key_follows_where_the_package_comes_from(tmp_path):
    """A package the driver imported from a directory points the workers at
    the engine's daemon; one imported from an archive (the --py-files
    shape) leaves the key out, since a task puts the archive on sys.path
    only after the daemon has started.  A caller's conf wins either way."""
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        root = os.path.join(REPO, "fuzzy_search_spark")
        for folder, _, files in os.walk(root):
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(folder, name)
                    zf.write(path, os.path.relpath(path, REPO))
    probe = ("import json, sys\n"
             "from fuzzy_search_spark.spark.session import _session_conf\n"
             "print(json.dumps([_session_conf().get(sys.argv[1]),\n"
             "                  _session_conf({sys.argv[1]: 'x'})[sys.argv[1]]]))")
    key = "spark.python.daemon.module"

    def keys(path):
        out = subprocess.run(
            [sys.executable, "-c", probe, key], cwd=tmp_path, check=True,
            env=dict(os.environ, PYTHONPATH=path), stdout=subprocess.PIPE)
        return json.loads(out.stdout)

    assert keys(REPO) == [DAEMON, "x"]
    assert keys(str(archive)) == [None, "x"]


@pytest.mark.spark
def test_workers_fork_from_the_frozen_daemon():
    """A get_spark session's Python workers are forks of the engine's
    daemon, and they inherit its frozen heap."""
    from fuzzy_search_spark.spark.session import get_spark

    def worker_state(batches):
        import gc

        import pandas as pd

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            parent = fh.read().split(b"\0")
        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                            "parent": [b" ".join(parent).decode()]})

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = get_spark(master="local[2]", app_name="worker-tests")
    try:
        rows = spark.range(2, numPartitions=2).mapInPandas(
            worker_state, "frozen long, parent string").collect()
    finally:
        spark.stop()
    assert len(rows) == 2
    for row in rows:
        assert row.frozen > 0
        assert f" -m {DAEMON} " in f" {row.parent} "
