"""The worker start-up hook ``session.add_worker_hook`` installs
(``worker_daemon/sitecustomize.py``): zip importers re-read an archive's
directory only when the archive changed, in every Python process Spark
starts — DataSource planner workers, task workers, and sessions the caller
built."""

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from flink_big_query_connector_spark import session

HOOK_PATH = os.path.join(session._HOOK_DIR, "sitecustomize.py")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = "sitecustomize.invalidate_caches"


def probe_reports(spark):
    """Which ``zipimporter.invalidate_caches`` each kind of Python process
    runs, as ``{where: "module.name"}``: the planner workers that call a
    DataSource's ``schema()`` and ``partitions()``, its read tasks, and an
    RDD task.  The classes are nested so that they pickle by value."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    def report():
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return f"{fn.__module__}.{fn.__name__}"

    class Part(InputPartition):
        def __init__(self, planned):
            super().__init__(0)
            self.planned = planned

    class Reader(DataSourceReader):
        def __init__(self, schema):
            self.schema_report = schema.fieldNames()[0]

        def partitions(self):
            return [Part(report()), Part(report())]

        def read(self, partition):
            yield (partition.planned, report())

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "hook_probe"

        def schema(self):
            return f"`{report()}` string, task string"

        def reader(self, schema):
            return Reader(schema)

    spark.dataSource.register(Probe)
    df = spark.read.format("hook_probe").load()
    rows = df.collect()
    rdd = spark.sparkContext.parallelize(range(2), 2)
    return {
        "schema": sorted({df.columns[0]}),
        "partitions": sorted({r[0] for r in rows}),
        "read": sorted({r[1] for r in rows}),
        "rdd": sorted(set(rdd.map(lambda _: report()).collect())),
    }


def test_planner_workers_and_tasks_run_the_hook(spark):
    assert probe_reports(spark) == {
        "schema": [PATCHED],
        "partitions": [PATCHED],
        "read": [PATCHED],
        "rdd": [PATCHED],
    }


_CALLER_SESSION = f"""
import json, sys
sys.path[:0] = [{REPO!r}, {os.path.dirname(os.path.abspath(__file__))!r}]
from pyspark.sql import SparkSession
from flink_big_query_connector_spark.sources import bq_datasource
from test_worker_daemon import probe_reports
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
bq_datasource.register(spark)
print(json.dumps(probe_reports(spark)))
spark.stop()
"""


def test_caller_built_session_gets_the_hook_from_register(tmp_path):
    """A plain ``SparkSession`` (no ``get_spark``) gets the hook once
    ``register()`` ran; its own process, so its JVM starts fresh."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _CALLER_SESSION],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "schema": [PATCHED],
        "partitions": [PATCHED],
        "read": [PATCHED],
        "rdd": [PATCHED],
    }


def test_hook_runs_a_shadowed_sitecustomize(tmp_path):
    """A ``sitecustomize`` later on ``sys.path`` still runs, after the
    patch; without one the hook runs alone."""
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import zipimport\n"
        "print('shadowed ran', zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    check = (
        "import sitecustomize, zipimport\n"
        "fn = zipimport.zipimporter.invalidate_caches\n"
        "print(fn.__module__, sitecustomize.shadowed is not None)\n"
    )

    def run(*path):
        env = {**os.environ, "PYTHONPATH": os.pathsep.join(path)}
        return subprocess.run(
            [sys.executable, "-c", check],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.splitlines()

    hook = session._HOOK_DIR
    assert run(hook, hook, str(other)) == [
        "shadowed ran sitecustomize",
        "sitecustomize True",
    ]
    assert run(hook) == ["sitecustomize False"]


def _load_hook(monkeypatch):
    """Import the hook module under another name; the patch it makes to
    ``zipimporter`` is undone when the test ends."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    spec = importlib.util.spec_from_file_location("fbqc_worker_hook", HOOK_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    mod = _load_hook(monkeypatch)
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
