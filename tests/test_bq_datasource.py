"""The fakebigquery Python DataSource: batch/streaming writes, partitioned
reads, filter pushdown, and 2PC visibility semantics.

Mirrors the reference's sink contract tests (`BigQueryDefaultSinkTest.java`,
`BigQueryBufferedSinkTest.java`) on Spark's native connector surface.
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_big_query_connector_spark.sources import bq_datasource as dsrc
from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery


SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("score", DoubleType()),
    ]
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "bq")


@pytest.fixture(autouse=True)
def _register(spark):
    dsrc.register(spark)


def _sample_df(spark, n=100):
    return spark.createDataFrame(
        [Row(id=i, name=f"name_{i % 7}", score=float(i) / 2) for i in range(n)],
        SCHEMA,
    )


def _write(df, root, table, mode="overwrite"):
    df.write.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", table
    ).mode(mode).save()


def _read(spark, root, table, **opts):
    r = spark.read.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", table
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_roundtrip(spark, root):
    df = _sample_df(spark)
    _write(df, root, "p/d/t")
    back = _read(spark, root, "p/d/t")
    assert back.schema == SCHEMA
    assert sorted(back.collect()) == sorted(df.collect())


def test_append_mode_accumulates(spark, root):
    df = _sample_df(spark, 10)
    _write(df, root, "p/d/t")
    _write(df, root, "p/d/t", mode="append")
    assert _read(spark, root, "p/d/t").count() == 20


def test_overwrite_replaces(spark, root):
    _write(_sample_df(spark, 50), root, "p/d/t")
    _write(_sample_df(spark, 10), root, "p/d/t", mode="overwrite")
    assert _read(spark, root, "p/d/t").count() == 10


def test_read_partition_planning(spark, root):
    """Reads split into (stream, row-range) splits honoring `partitions`."""
    _write(_sample_df(spark, 1000).repartition(1), root, "p/d/t")
    back = _read(spark, root, "p/d/t", partitions=6)
    assert back.rdd.getNumPartitions() >= 6
    assert back.count() == 1000


def test_filter_pushdown_results(spark, root):
    df = _sample_df(spark, 200)
    _write(df, root, "p/d/t")
    back = _read(spark, root, "p/d/t")
    got = back.filter(
        (F.col("score") > 10.0) & F.col("name").isin("name_1", "name_2")
    )
    want = df.filter(
        (F.col("score") > 10.0) & F.col("name").isin("name_1", "name_2")
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_filter_pushdown_reaches_reader(spark, root):
    """Supported predicates vanish from the Spark plan (evaluated reader-side,
    the row-restriction analogue of the Storage READ API)."""
    _write(_sample_df(spark, 50), root, "p/d/t")
    back = _read(spark, root, "p/d/t").filter(F.col("id") > 25)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" not in plan or "GreaterThan" in plan
    assert back.count() == 24


def test_chunked_appends_bounded(spark, root):
    """Writer chunks by count: 100 rows at batch_rows=30 -> >=4 appends."""
    df = _sample_df(spark, 100).repartition(1)
    (
        df.write.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .option("batch_rows", "30")
        .mode("overwrite")
        .save()
    )
    assert _read(spark, root, "p/d/t").count() == 100


def test_streaming_write_exactly_once_visibility(spark, root, tmp_path):
    """AvailableNow stream through the 2PC writer: all rows visible after
    the epoch commit, none before via only_visible=true on orphans."""
    src_dir = str(tmp_path / "src")
    _sample_df(spark, 60).coalesce(2).write.parquet(src_dir)
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q = (
        stream.writeStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/st")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _read(spark, root, "p/d/st").count() == 60


def test_streaming_write_restart_no_duplicates(spark, root, tmp_path):
    """Kill the 2PC streaming write mid-run and restart from the same
    checkpoint: the visible row set equals the input exactly — replayed
    epochs re-write into fresh buffered streams, orphans stay unflushed,
    and committed batches are not re-committed."""
    src_dir = str(tmp_path / "src")
    df = _sample_df(spark, 90)
    # three files -> three micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        df.filter((F.col("id") % 3) == i).coalesce(1).write.parquet(
            f"{src_dir}/part{i}"
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/part*")
    )
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            stream.writeStream.format(dsrc.SOURCE_NAME)
            .option("root", root)
            .option("table", "p/d/rst")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    # wait for at least one committed batch, then kill mid-stream
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.2)
    q.stop()
    q2 = (
        stream.writeStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/rst")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    back = _read(spark, root, "p/d/rst")
    assert back.count() == 90
    assert back.select("id").distinct().count() == 90


def test_unflushed_buffered_rows_invisible(spark, root):
    """Rows appended to a buffered stream without FlushRows stay invisible
    to the reader (the crash-before-commit case)."""
    _write(_sample_df(spark, 20), root, "p/d/t")
    bq = FakeBigQuery(root)
    s = bq.create_write_stream("p/d/t", "BUFFERED")
    bq.append("p/d/t", s, [{"id": 999, "name": "orphan", "score": 0.0}], offset=0)
    assert _read(spark, root, "p/d/t").count() == 20
    assert _read(spark, root, "p/d/t", only_visible="false").count() == 21


def test_schema_persisted_and_loaded(spark, root):
    _write(_sample_df(spark, 5), root, "p/d/t")
    back = spark.read.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", "p/d/t"
    ).load()
    assert [f.name for f in back.schema.fields] == ["id", "name", "score"]


def test_write_retries_transient_failures(spark, root):
    """The connector write path runs the A12 retry machine: scripted
    UNAVAILABLE failures are absorbed and every row lands exactly once
    per attempted append."""
    bq = FakeBigQuery(root)
    bq.script_append_failures(["UNAVAILABLE", "UNAVAILABLE"])
    _write(_sample_df(spark, 40).repartition(1), root, "p/d/t")
    assert _read(spark, root, "p/d/t").count() == 40


def test_write_splits_oversized_batch(spark, root):
    """A scripted 'MessageSize is too large' makes the writer split the
    chunk recursively (A14) — no rows lost, no duplicates."""
    bq = FakeBigQuery(root)
    bq.script_append_failures(
        ["INVALID_ARGUMENT"], message="MessageSize is too large"
    )
    _write(_sample_df(spark, 50).repartition(1), root, "p/d/t")
    assert _read(spark, root, "p/d/t").count() == 50


def test_append_with_new_column_evolves_schema(spark, root):
    """Additive schema evolution on append (the SchemaTools.updateTable
    add-only diff): a later write with an extra column widens the table;
    earlier rows read back NULL for it; a narrower later write never drops
    columns."""
    _write(_sample_df(spark, 10), root, "p/d/t")
    wider = _sample_df(spark, 5).withColumn("extra", F.col("id") * 2)
    _write(wider, root, "p/d/t", mode="append")
    back = _read(spark, root, "p/d/t")
    assert [f.name for f in back.schema.fields] == ["id", "name", "score", "extra"]
    assert back.count() == 15
    assert back.filter(F.col("extra").isNull()).count() == 10
    assert back.filter(F.col("extra") == F.col("id") * 2).count() == 5
    narrower = _sample_df(spark, 3).select("id")
    _write(narrower, root, "p/d/t", mode="append")
    back2 = _read(spark, root, "p/d/t")
    assert [f.name for f in back2.schema.fields] == ["id", "name", "score", "extra"]
    assert back2.count() == 18
    assert back2.filter(F.col("name").isNull()).count() == 3


def test_stream_read_rate_limited(spark, root, tmp_path):
    """max_rows_per_trigger bounds each micro-batch's admitted rows (the
    maxOffsetsPerTrigger analogue): a 100-row backlog drains in >= 4
    batches of <= 30 rows, with nothing lost or duplicated."""
    _write(_sample_df(spark, 100), root, "p/d/t")
    stream = (
        spark.readStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .option("max_rows_per_trigger", "30")
        .load()
    )
    name = "dsv2_rate_limited_test"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 100
        batch_rows = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(batch_rows) >= 4
        assert max(batch_rows) <= 30
    finally:
        q.stop()


def test_two_throttled_readers_each_see_full_table(spark, root, tmp_path):
    """Concurrent throttled queries over one table must not split the
    stream: the admission cursor is scoped per query via cursor_id."""
    _write(_sample_df(spark, 60), root, "p/d/shared")

    def run(qid: str) -> int:
        stream = (
            spark.readStream.format(dsrc.SOURCE_NAME)
            .option("root", root)
            .option("table", "p/d/shared")
            .option("max_rows_per_trigger", "25")
            .option("cursor_id", qid)
            .load()
        )
        name = f"dsv2_cursor_{qid}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{qid}"))
            .start()
        )
        try:
            q.processAllAvailable()
            return spark.table(name).count()
        finally:
            q.stop()

    # sequential start, but both cursors live in the same backend dir —
    # a shared cursor would leave reader B seeing 0 new rows
    assert run("qa") == 60
    assert run("qb") == 60


def test_typed_roundtrip_arrow_fast_path(spark, root):
    """date/timestamp/decimal/array columns survive the C++ JSON parse +
    Arrow cast read path bit-exactly."""
    from datetime import date, datetime
    from decimal import Decimal
    from pyspark.sql.types import ArrayType, DateType, DecimalType, TimestampType

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("d", DateType()),
            StructField("ts", TimestampType()),
            StructField("dec", DecimalType(14, 4)),
            StructField("arr", ArrayType(DoubleType())),
        ]
    )
    rows = [
        Row(
            id=i,
            d=date(2024, 1, 1 + i % 28),
            ts=datetime(2024, 1, 1, 12, 30, i % 60, 123456),
            dec=Decimal(f"{i}.{i % 10}001"),
            arr=[float(i), i / 3.0, None],
        )
        for i in range(50)
    ] + [Row(id=999, d=None, ts=None, dec=None, arr=None)]
    df = spark.createDataFrame(rows, schema)
    _write(df, root, "p/d/typed")
    back = _read(spark, root, "p/d/typed")
    assert back.schema == schema
    assert sorted(back.collect()) == sorted(df.collect())
    # pushed date comparison evaluated arrow-side
    got = back.filter(F.col("d") >= date(2024, 1, 15)).count()
    want = df.filter(F.col("d") >= date(2024, 1, 15)).count()
    assert got == want > 0


def test_missing_table_raises(spark, root):
    with pytest.raises(Exception, match="no schema"):
        _read(spark, root, "p/d/absent").count()


def test_stream_read_incremental(spark, root, tmp_path):
    """readStream over the backend: each micro-batch covers the newly
    VISIBLE delta per write stream; appends made while the query runs are
    picked up by later triggers, and unflushed buffered rows never appear."""
    _write(_sample_df(spark, 30), root, "p/d/t")
    stream = (
        spark.readStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .option("stream_rows_per_partition", "10")
        .load()
    )
    name = "dsv2_stream_read_test"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 30
        bq = FakeBigQuery(root)
        from flink_big_query_connector_spark.sources.fake_bigquery import (
            default_stream_name,
        )
        bq.append(
            "p/d/t",
            default_stream_name("p/d/t"),
            [{"id": 100 + i, "name": "late", "score": 1.0} for i in range(5)],
            offset=-1,
        )
        # buffered-but-unflushed rows must NOT enter any epoch
        s = bq.create_write_stream("p/d/t", "BUFFERED")
        bq.append("p/d/t", s, [{"id": 999, "name": "orphan", "score": 0.0}], offset=0)
        q.processAllAvailable()
        assert spark.table(name).count() == 35
        # flushing makes them visible to the NEXT trigger
        bq.flush_rows("p/d/t", s, 0)
        q.processAllAvailable()
        assert spark.table(name).count() == 36
    finally:
        q.stop()


# -- server-side field list (selected_fields analogue) ------------------------


def test_fields_option_narrows_schema_and_order(spark, root):
    """``fields=`` is the Storage READ API ``selected_fields`` analogue:
    the catalog schema narrows before the reader exists, in the requested
    order, so unlisted columns never cross the Arrow boundary.  (Python
    DSv2 has no pruneColumns hook — a post-load .select() cannot do
    this; the column-width contract is documented on the DataSource.)"""
    _write(_sample_df(spark), root, "p/d/t")
    back = _read(spark, root, "p/d/t", fields="score,id")
    assert [f.name for f in back.schema.fields] == ["score", "id"]
    assert back.schema["id"].dataType == LongType()
    assert back.schema["score"].dataType == DoubleType()
    got = {r["id"]: r["score"] for r in back.collect()}
    assert got == {i: float(i) / 2 for i in range(100)}


def test_fields_option_composes_with_filter_pushdown(spark, root):
    _write(_sample_df(spark), root, "p/d/t")
    back = _read(spark, root, "p/d/t", fields="id").filter("id < 10")
    assert sorted(r["id"] for r in back.collect()) == list(range(10))


def test_fields_option_unknown_column_raises(spark, root):
    _write(_sample_df(spark), root, "p/d/t")
    with pytest.raises(Exception, match="unknown columns"):
        _read(spark, root, "p/d/t", fields="id,nope").collect()


def test_explicit_narrow_schema_prunes_equivalently(spark, root):
    """The second server-side pruning path: an explicit narrow schema is
    the reader schema, so the Arrow parse materializes only its fields
    (unexpected_field_behavior='ignore')."""
    _write(_sample_df(spark), root, "p/d/t")
    back = (
        spark.read.format(dsrc.SOURCE_NAME)
        .schema("name string")
        .option("root", root)
        .option("table", "p/d/t")
        .load()
    )
    assert back.columns == ["name"]
    assert set(r["name"] for r in back.collect()) == {
        f"name_{i}" for i in range(7)
    }


# -- wildcard tables (_TABLE_SUFFIX analogue) ---------------------------------


def _write_sharded(spark, root):
    for sfx in ("a", "b", "c"):
        df = spark.createDataFrame(
            [Row(id=i, name=f"{sfx}{i}") for i in range(10)],
            "id long, name string",
        )
        _write(df, root, f"p/d/ev_{sfx}")


def test_wildcard_read_unions_tables_with_suffix(spark, root):
    _write_sharded(spark, root)
    back = _read(spark, root, "p/d/ev_*")
    assert back.columns == ["id", "name", "_table_suffix"]
    rows = back.collect()
    assert len(rows) == 30
    assert {r["_table_suffix"] for r in rows} == {"a", "b", "c"}
    # row-level integrity: name encodes its own shard
    assert all(r["name"].startswith(r["_table_suffix"]) for r in rows)


def test_wildcard_suffix_filter_prunes_tables_at_planning(spark, root):
    """The wildcard's scale payoff: a supported comparison on the
    pseudo-column removes whole tables from the split plan, not just
    rows from the scan."""
    from pyspark.sql.datasource import EqualTo

    _write_sharded(spark, root)
    # end to end
    got = _read(spark, root, "p/d/ev_*").filter("_table_suffix = 'b'")
    assert sorted(r["name"] for r in got.collect()) == [
        f"b{i}" for i in range(10)
    ]
    # split planning: only ev_b's streams are planned
    schema = dsrc.FakeBigQueryDataSource(
        {"root": root, "table": "p/d/ev_*"}
    ).schema()
    reader = dsrc.FakeBigQueryReader(
        schema, {"root": root, "table": "p/d/ev_*"}
    )
    leftover = reader.pushFilters([EqualTo(("_table_suffix",), "b")])
    assert list(leftover) == []
    tables = {p.table for p in reader.partitions()}
    assert tables == {"p/d/ev_b"}


def test_wildcard_mismatched_schemas_raise(spark, root):
    _write_sharded(spark, root)
    _write(
        spark.createDataFrame([Row(other=1.5)], "other double"),
        root,
        "p/d/ev_zzz",
    )
    with pytest.raises(Exception, match="mismatched"):
        _read(spark, root, "p/d/ev_*").collect()


def test_wildcard_fields_option_composes(spark, root):
    _write_sharded(spark, root)
    back = _read(spark, root, "p/d/ev_*", fields="_table_suffix,id")
    assert back.columns == ["_table_suffix", "id"]
    assert len(back.collect()) == 30
    only_sfx = _read(spark, root, "p/d/ev_*", fields="_table_suffix")
    assert sorted(r[0] for r in only_sfx.collect()) == ["a"] * 10 + [
        "b"
    ] * 10 + ["c"] * 10


def test_wildcard_write_rejected(spark, root):
    df = spark.createDataFrame([Row(id=1)], "id long")
    with pytest.raises(Exception, match="wildcard"):
        _write(df, root, "p/d/ev_*")


# -- one JSON row form across writers ------------------------------------------


def _stored_lines(root, table):
    bq = FakeBigQuery(root)
    lines = []
    for stream in bq.list_streams(table):
        data_path, _ = bq._stream_paths(table, stream)
        with open(data_path) as f:
            lines.extend(line.rstrip("\n") for line in f)
    return lines


def test_sink_and_dsv2_writer_store_identical_lossless_lines(
    spark, root, tmp_path
):
    """The JVM ``to_json`` sinks and the Arrow DSv2 writer store ONE text
    form per row: a microsecond TIMESTAMP as UTC with an explicit offset,
    a TIMESTAMP_NTZ without one, and both keep all six fractional digits
    through the write and the read-back."""
    from datetime import date, datetime, timezone

    from flink_big_query_connector_spark.streaming.config import WriterSettings
    from flink_big_query_connector_spark.streaming.sinks import (
        BufferedStreamSink,
    )

    schema = (
        "ts timestamp, ntz timestamp_ntz, d date, n bigint, x double, "
        "s string"
    )
    row = (
        datetime(2026, 1, 1, 0, 0, 0, 123456, tzinfo=timezone.utc),
        datetime(2026, 1, 1, 0, 0, 0, 123456),
        date(2026, 1, 1),
        7,
        1.5,
        "a",
    )
    df = spark.createDataFrame([row], schema)

    sink_root = str(tmp_path / "sink")
    BufferedStreamSink(
        sink_root, "p/d/t", WriterSettings(retry_pause_s=0.0)
    ).write_batch(df, 0)
    _write(df, root, "p/d/t")

    sink_lines = _stored_lines(sink_root, "p/d/t")
    dsv2_lines = _stored_lines(root, "p/d/t")
    assert sink_lines == dsv2_lines == [
        '{"ts":"2026-01-01T00:00:00.123456+00:00",'
        '"ntz":"2026-01-01T00:00:00.123456","d":"2026-01-01",'
        '"n":7,"x":1.5,"s":"a"}'
    ]
    for r in (sink_root, root):
        back = (
            spark.read.format(dsrc.SOURCE_NAME).schema(schema)
            .option("root", r).option("table", "p/d/t").load().collect()
        )
        assert back == df.collect()
        assert back[0]["ts"].microsecond == 123456
        assert back[0]["ntz"].microsecond == 123456


def test_sink_written_struct_decimal_and_nan_read_back(spark, root):
    """A BufferedStreamSink table with a struct (holding a microsecond
    TIMESTAMP), a DECIMAL and a DOUBLE reads back equal.  With finite
    doubles the split reader parses every column with Arrow, struct and
    decimal included; a NaN — which ``to_json`` can only write quoted —
    sends the split to the row path, which reads the same values."""
    from datetime import datetime, timezone
    from decimal import Decimal

    from flink_big_query_connector_spark.streaming.sinks import (
        BufferedStreamSink,
    )

    schema = (
        "id bigint, st struct<a: bigint, t: timestamp>, "
        "dec decimal(20,6), x double"
    )
    ts = datetime(2026, 1, 1, 0, 0, 0, 123456, tzinfo=timezone.utc)
    rows = [
        (1, (2, ts), Decimal("12345678901234.123456"), 1.5),
        (2, None, None, None),
        (3, (None, None), Decimal("-0.000001"), -2.25),
    ]
    nan_row = (4, (5, ts), Decimal("0"), float("nan"))
    for table, extra in (("p/d/finite", []), ("p/d/nan", [nan_row])):
        df = spark.createDataFrame(rows + extra, schema)
        BufferedStreamSink(root, table).write_batch(df.coalesce(1), 0)
        back = (
            spark.read.format(dsrc.SOURCE_NAME).schema(schema)
            .option("root", root).option("table", table).load()
        )
        assert back.count() == df.count()
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0

        bq = FakeBigQuery(root)
        (stream,) = bq.list_streams(table)
        split = dsrc._RangeSplit(
            stream, 0, bq.get_write_stream(table, stream).flushed
        )
        out = list(dsrc._read_split(root, table, df.schema, [], split))
        arrow = all(hasattr(item, "to_pylist") for item in out)
        assert arrow == (not extra), table

        split3 = (
            spark.read.format(dsrc.SOURCE_NAME).schema(schema)
            .option("root", root).option("table", table)
            .option("partitions", 3).load()
        )
        assert split3.exceptAll(df).count() == 0
        assert df.exceptAll(split3).count() == 0


# -- byte-ranged split reads ---------------------------------------------------


def _write_appends(df, root, table, batch_rows):
    """Load ``df`` through the DSv2 writer in appends of ``batch_rows``."""
    df.write.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", table
    ).option("batch_rows", str(batch_rows)).mode("append").save()


def test_split_reads_parse_only_the_appends_holding_their_rows(
    spark, root, monkeypatch
):
    """A 16-split scan of one 12-append stream parses at most one extra
    append at each end of a split, not the whole stream per split; and a
    split stays on the Arrow path when an append outside its range is
    junk."""
    import pyarrow as pa
    import pyarrow.json as pj

    n, batch = 240, 20
    _write_appends(_sample_df(spark, n).coalesce(1), root, "p/d/t", batch)
    reader = dsrc.FakeBigQueryReader(
        SCHEMA, {"root": root, "table": "p/d/t", "partitions": "16"}
    )
    splits = reader.partitions()
    assert len(splits) == 16

    parsed = []
    read_json = pj.read_json

    def counting_read_json(*args, **kwargs):
        tbl = read_json(*args, **kwargs)
        parsed.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(pj, "read_json", counting_read_json)
    out = [b for split in splits for b in reader.read(split)]
    assert sorted(r["id"] for b in out for r in b.to_pylist()) == list(range(n))
    assert sum(parsed) <= n + 2 * len(splits) * batch

    bq = FakeBigQuery(root)
    (stream,) = bq.list_streams("p/d/t")
    data_path, _ = bq._stream_paths("p/d/t", stream)
    with open(data_path, "r+b") as f:  # junk over row 0, same length
        first = f.readline()
        f.seek(0)
        f.write(b"#" * (len(first) - 1))
    last = splits[-1]
    assert last.start >= batch
    out = list(reader.read(last))
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    assert sum(b.num_rows for b in out) == last.end - last.start


def test_split_reads_invariant_in_split_count(spark, root):
    """A multi-append table of non-ASCII strings (byte offsets differ from
    character offsets) reads identically through a pushed filter at 1, 3
    and 16 splits and as a wildcard read."""
    words = ["żółw", "日本語", "emoji 🚀", "plain"]
    df = spark.createDataFrame(
        [Row(id=i, name=f"{words[i % 4]}_{i}", score=i / 4) for i in range(200)],
        SCHEMA,
    )
    _write_appends(df.repartition(3), root, "p/d/uni_a", 15)
    keep = (F.col("score") > 12.3) & F.col("name").startswith("日")
    want = sorted(df.filter(keep).collect())
    assert want
    for parts in (1, 3, 16):
        got = _read(spark, root, "p/d/uni_a", partitions=parts).filter(keep)
        assert sorted(got.collect()) == want, parts
    wild = _read(spark, root, "p/d/uni_*", partitions=16).filter(keep)
    assert sorted(wild.drop(dsrc.SUFFIX_COL).collect()) == want


def test_buffered_stream_flushed_mid_append_reads_flushed_prefix(spark, root):
    """Rows past the flush point in a flushed append stay invisible at
    every split count; ``only_visible=false`` reads the whole stream."""
    table = "p/d/buf"
    dsrc._save_schema(root, table, SCHEMA)
    bq = FakeBigQuery(root)
    s = bq.create_write_stream(table, "BUFFERED")
    for k in range(3):
        bq.append(table, s, [
            {"id": 10 * k + i, "name": "ü", "score": 0.5} for i in range(10)
        ], 10 * k)
    bq.flush_rows(table, s, 16)
    for parts in (1, 3, 16):
        got = _read(spark, root, table, partitions=parts).collect()
        assert sorted(r.id for r in got) == list(range(17)), parts
    every = _read(spark, root, table, partitions=3, only_visible="false")
    assert sorted(r.id for r in every.collect()) == list(range(30))


def test_stream_read_batches_starting_mid_append_read_each_row_once(
    spark, root, tmp_path
):
    """Micro-batches of 25 rows over appends of 10, split into partitions
    of 7 rows, start and end inside appends; every row arrives once."""
    _write_appends(_sample_df(spark, 100).coalesce(1), root, "p/d/t", 10)
    stream = (
        spark.readStream.format(dsrc.SOURCE_NAME)
        .option("root", root)
        .option("table", "p/d/t")
        .option("max_rows_per_trigger", "25")
        .option("stream_rows_per_partition", "7")
        .load()
    )
    name = "dsv2_mid_append_batches"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r.id for r in spark.table(name).collect())
        assert got == list(range(100))
        batch_rows = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert batch_rows and max(batch_rows) <= 25
    finally:
        q.stop()
