"""What ``session.add_worker_hook`` gives every Python process Spark
starts — DataSource planner workers, task workers, the streaming source
runner, and those of sessions the caller built: the start-up hook
(``worker_daemon/sitecustomize.py``), whose zip importers re-read an
archive's directory only when the archive changed, and the package itself,
imported by reference.  Also how ``ensure_package_on_executors`` ships the
package to a non-local master."""

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

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


def connector_round_trip(spark, root):
    """Drive the connector through every kind of Python process Spark
    starts for it and report what each saw: a DSv2 write (task workers,
    planner workers), a 4-partition batch read, a ``readStream`` (the
    driver-side streaming source runner), and a ``BufferedStreamSink``
    replay whose appends must trim on ALREADY_EXISTS.  Nested functions
    pickle by value, so only the package travels by reference."""
    from pyspark import cloudpickle

    from flink_big_query_connector_spark.sources import bq_datasource as dsrc
    from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
    from flink_big_query_connector_spark.streaming.config import WriterSettings
    from flink_big_query_connector_spark.streaming.sinks import (
        BufferedStreamSink,
        write_with_retry,
    )

    # the reader declares pushFilters(), which a plain session refuses
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id % 7 as string) AS name")
    df.write.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", "p/d/t"
    ).mode("overwrite").save()

    back = (
        spark.read.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .option("partitions", "4")
        .load()
    )
    read = [back.rdd.getNumPartitions(), back.count(), back.groupBy().sum("id").first()[0]]

    stream = (
        spark.readStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("fresh_process_stream")
        .option("checkpointLocation", root + "-ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.table("fresh_process_stream").count()
    finally:
        q.stop()

    settings = WriterSettings(retry_count=5, retry_pause_s=0.0)
    events = df.repartition(4)

    def write_only(pid, rows):
        rows = [r.asDict() for r in rows]
        if rows:
            client = FakeBigQuery(root)
            name = client.create_write_stream(
                "events", "BUFFERED", name=f"events/streams/b3-p{pid}"
            )
            write_with_retry(client, "events", name, rows, 0, settings)
        return iter(())

    events.rdd.mapPartitionsWithIndex(write_only).collect()
    sink = BufferedStreamSink(root, "events", settings)
    before = FakeBigQuery(root).table_count("events")
    sink.write_batch(events, 3)  # the replay: every append trims

    def package_file(_):
        import flink_big_query_connector_spark as pkg

        return pkg.__file__

    return {
        "read": read,
        "streamed": streamed,
        "replay": [before, FakeBigQuery(root).table_count("events"), sink.is_committed(3)],
        "by_value": sorted(
            m
            for m in cloudpickle.list_registry_pickle_by_value()
            if m.startswith("flink_big_query_connector_spark")
        ),
        "worker_package": sorted(
            set(spark.sparkContext.parallelize([0], 1).map(package_file).collect())
        ),
    }


def run_caller_session(tmp_path, body):
    """Run ``body`` after ``register()`` in a plain ``SparkSession`` (no
    ``get_spark``) in its own process, so its JVM starts fresh.  The
    process runs in ``tmp_path`` with ``PYTHONPATH`` unset and its own temp
    directory, so its workers cannot find the package through their
    working directory.  Returns the JSON ``body`` prints last and the temp
    directory."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = f"""
import json, sys
sys.path[:0] = [{REPO!r}, {os.path.dirname(os.path.abspath(__file__))!r}]
from pyspark.sql import SparkSession
from flink_big_query_connector_spark.sources import bq_datasource
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
bq_datasource.register(spark)
{body}
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), tmp


def test_caller_built_session_gets_the_hook_from_register(tmp_path):
    """A plain ``SparkSession`` gets the hook once ``register()`` ran."""
    report, _ = run_caller_session(
        tmp_path,
        "from test_worker_daemon import probe_reports\n"
        "print(json.dumps(probe_reports(spark)))",
    )
    assert report == {
        "schema": [PATCHED],
        "partitions": [PATCHED],
        "read": [PATCHED],
        "rdd": [PATCHED],
    }


@pytest.fixture(scope="module")
def fresh_process(tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("fresh")
    return run_caller_session(
        tmp_path,
        "from test_worker_daemon import connector_round_trip\n"
        f"print(json.dumps(connector_round_trip(spark, {str(tmp_path / 'bq')!r})))",
    )


def test_fresh_process_imports_the_package_by_reference(fresh_process):
    """Write, partitioned read, stream read and the ALREADY_EXISTS trim
    all run in one process that registered the DataSource, with the
    package imported from the driver's source tree, not pickled by value."""
    report, _ = fresh_process
    assert report == {
        "read": [4, 1000, sum(range(1000))],
        "streamed": 1000,
        "replay": [0, 1000, True],
        "by_value": [],
        "worker_package": [
            os.path.join(REPO, "flink_big_query_connector_spark", "__init__.py")
        ],
    }


def test_local_session_leaves_no_package_zip(fresh_process):
    """A ``local`` master ships no package zip: the session's temp
    directory holds no ``fbqc_pkg_*.zip`` after it started and stopped."""
    _, tmp = fresh_process
    assert not list(tmp.glob("fbqc_pkg_*.zip"))


_CLUSTER_STUB = f"""
import json, os, sys, zipfile
sys.path.insert(0, {REPO!r})
from flink_big_query_connector_spark import session

class Context:
    master = "spark://h:7077"

    def __init__(self, environment):
        self.environment = environment
        self._python_includes = []
        self.added = []

    def addPyFile(self, path):
        self.added.append(path)
        self._python_includes.append(os.path.basename(path))

class Session:
    def __init__(self, environment):
        self.sparkContext = Context(environment)

a, b = Session({{}}), Session({{"PYTHONPATH": "/elsewhere"}})
for s in (a, b, a, b):
    session.ensure_package_on_executors(s)
with zipfile.ZipFile(a.sparkContext.added[0]) as zf:
    names = zf.namelist()
print(json.dumps({{
    "added": [a.sparkContext.added, b.sparkContext.added],
    "paths": [a.sparkContext.environment["PYTHONPATH"],
              b.sparkContext.environment["PYTHONPATH"]],
    "names": sorted(names),
    "exists": os.path.exists(a.sparkContext.added[0]),
}}))
"""


def test_non_local_master_ships_one_zip_removed_at_exit(tmp_path):
    """On a non-local master every context gets the package by
    ``addPyFile``, once; all contexts of a process share one zip of the
    package's ``.py`` files, which the exit hook removes."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", _CLUSTER_STUB],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    (zip_a,), (zip_b,) = report["added"]
    assert zip_a == zip_b
    assert os.path.dirname(zip_a) == str(tmp_path)
    assert report["exists"] and not os.path.exists(zip_a)
    pkg = os.path.join(REPO, "flink_big_query_connector_spark")
    assert report["names"] == sorted(
        os.path.relpath(os.path.join(base, fn), REPO)
        for base, _dirs, files in os.walk(pkg)
        for fn in files
        if fn.endswith(".py")
    )
    hook = session._HOOK_DIR
    assert report["paths"] == [
        os.pathsep.join([hook, REPO]),
        os.pathsep.join([hook, "/elsewhere", REPO]),
    ]


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
