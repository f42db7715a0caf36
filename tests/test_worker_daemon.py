"""The Python worker daemon ``session.get_spark`` installs
(``worker_daemon/fbqc_daemon.py``): zip importers re-read an archive's
directory only when the archive changed."""

import importlib.util
import os
import zipfile
import zipimport

from flink_big_query_connector_spark import session

DAEMON_PATH = os.path.join(session._DAEMON_DIR, "fbqc_daemon.py")


def test_python_tasks_run_under_the_daemon(spark):
    def _task_probe(_):  # nested: pickled by value for the workers
        import os
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        yield os.path.basename(sys.argv[0]), fn.__module__, fn.__name__

    assert spark.conf.get("spark.python.daemon.module") == "fbqc_daemon"
    got = set(
        spark.sparkContext.parallelize(range(4), 4)
        .mapPartitions(_task_probe)
        .collect()
    )
    assert got == {("fbqc_daemon.py", "__main__", "invalidate_caches")}


def _load_daemon(monkeypatch):
    """Import the daemon module without running the daemon; the patch it
    makes to ``zipimporter`` is undone when the test ends."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    spec = importlib.util.spec_from_file_location("fbqc_daemon", DAEMON_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    mod = _load_daemon(monkeypatch)
    rereads = []

    def counting_reread(self):
        rereads.append(self.archive)
        return original(self)

    original = mod._reread
    monkeypatch.setattr(mod, "_reread", counting_reread)

    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert rereads == [archive]  # the first call stamps; unchanged after
    assert importer.find_spec("a") is not None

    _write_zip(archive, ["a", "b"])  # a new archive: inode, size, mtime
    importer.invalidate_caches()
    assert len(rereads) == 2
    assert importer.find_spec("b") is not None

    os.remove(archive)
    importer.invalidate_caches()  # a missing archive reads as empty
    assert len(rereads) == 3
    assert importer.find_spec("a") is None
