"""The Python worker's per-task set-up in local sessions: workers come
from ``dnscrawler_spark.worker_daemon`` (a zip's index is re-read only
when the zip changed) and talk to the JVM over Unix domain sockets. A
small Python task cost ~80 ms before its UDF ran without the two."""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pandas as pd

from dnscrawler_spark import session, worker_daemon


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_zip_index_reread_only_when_changed(tmp_path, monkeypatch):
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {"wd_zmod_a.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(zp)
    try:
        assert importlib.import_module("wd_zmod_a").X == 1
        importer = sys.path_importer_cache[zp]
        importlib.invalidate_caches()  # the first one reads and stamps
        files = importer._files
        for _ in range(3):
            importlib.invalidate_caches()
        assert importer._files is files, "an unchanged zip was re-read"

        _write_zip(zp, {"wd_zmod_a.py": "X = 1\n", "wd_zmod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("wd_zmod_b").Y == 2
    finally:
        for name in ("wd_zmod_a", "wd_zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zp, None)


def test_workers_use_unix_sockets_and_cached_zip_index(spark):
    def report(batches):
        for _ in batches:
            patched = zipimport.zipimporter.invalidate_caches.__code__.co_filename
            yield pd.DataFrame(
                {
                    "unix": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")],
                    "invalidate": [patched],
                }
            )

    rows = (
        spark.range(1)
        .mapInPandas(report, "unix string, invalidate string")
        .collect()
    )
    assert rows[0]["unix"].lower() == "true"
    assert rows[0]["invalidate"].endswith(
        os.path.join("dnscrawler_spark", "worker_daemon.py")
    )


def test_socket_dir_falls_back_to_tcp_when_too_long():
    tmp = tempfile.gettempdir()
    assert session.unix_socket_conf(tmp) == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": tmp,
    }
    # 64 bytes of directory + Spark's 43-byte socket name = 107, the cap
    assert session.unix_socket_conf("/" + "d" * 63)
    assert session.unix_socket_conf("/" + "d" * 64) == {}
    assert session.unix_socket_conf(os.path.join(tmp, "x" * 100)) == {}


def test_daemon_needs_the_package_on_the_worker_path(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._worker_imports_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._worker_imports_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._worker_imports_package()
