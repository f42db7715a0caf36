"""FakeBigQuery backend semantics (the MockJsonClientProvider analogue)."""

import json
import os

import pytest

from flink_big_query_connector_spark.sources.fake_bigquery import (
    DEFAULT_STREAM,
    FakeBigQuery,
)
from flink_big_query_connector_spark.streaming.errors import (
    BigQueryError,
    MessageTooLargeError,
    OffsetAlreadyExistsError,
    OffsetOutOfRangeError,
    StatusCode,
    StreamFinalizedError,
    StreamNotFoundError,
)


def rows(n, start=0):
    return [{"value": i} for i in range(start, start + n)]


def test_default_stream_append_visible(bq):
    bq.append("t1", DEFAULT_STREAM, rows(3))
    assert bq.table_count("t1") == 3
    assert bq.read_rows("t1") == rows(3)


def test_default_stream_rejects_explicit_offset(bq):
    """Storage API semantics: offsets are only meaningful on BUFFERED
    (and PENDING/COMMITTED) streams; the default stream rejects them with
    INVALID_ARGUMENT instead of silently ignoring the offset."""
    import pytest

    from flink_big_query_connector_spark.streaming.errors import (
        BigQueryError,
        StatusCode,
    )

    bq.append("t1", DEFAULT_STREAM, rows(2))  # offset -1: fine
    with pytest.raises(BigQueryError) as e:
        bq.append("t1", DEFAULT_STREAM, rows(2), 2)
    assert e.value.code == StatusCode.INVALID_ARGUMENT
    assert bq.table_count("t1") == 2  # rejected append stored nothing


def test_buffered_stream_offsets(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    assert bq.append("t1", s, rows(2), 0) == 2
    assert bq.append("t1", s, rows(2, 2), 2) == 4
    # buffered rows invisible until flushed
    assert bq.table_count("t1") == 0
    bq.flush_rows("t1", s, 3)
    assert bq.table_count("t1") == 4


def test_offset_already_exists_carries_expected_actual(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(4), 0)
    with pytest.raises(OffsetAlreadyExistsError) as e:
        bq.append("t1", s, rows(4), 2)
    assert e.value.expected_offset == 2
    assert e.value.actual_offset == 4


def test_offset_out_of_range(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    with pytest.raises(OffsetOutOfRangeError):
        bq.append("t1", s, rows(1), 5)


def test_finalized_stream_rejects_appends(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.finalize_stream("t1", s)
    with pytest.raises(StreamFinalizedError):
        bq.append("t1", s, rows(1), 0)


def test_get_write_stream_not_found(bq):
    with pytest.raises(StreamNotFoundError):
        bq.get_write_stream("t1", "missing")


def test_message_size_limit(bq):
    big = [{"value": "x" * 11_000_000}]
    with pytest.raises(MessageTooLargeError):
        bq.append("t1", DEFAULT_STREAM, big)


def test_scripted_failures_fifo(bq):
    bq.script_append_failures(["UNAVAILABLE", "OK"])
    with pytest.raises(BigQueryError) as e:
        bq.append("t1", DEFAULT_STREAM, rows(1))
    assert e.value.code == StatusCode.UNAVAILABLE
    bq.append("t1", DEFAULT_STREAM, rows(1))  # second entry is OK
    assert bq.table_count("t1") == 1


def test_flush_replay_tolerated(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(3), 0)
    bq.flush_rows("t1", s, 2)
    bq.flush_rows("t1", s, 2)  # committer replay: ALREADY_EXISTS tolerated
    assert bq.table_count("t1") == 3


def test_cross_handle_durability(tmp_path):
    root = str(tmp_path / "bq")
    FakeBigQuery(root).append("t1", DEFAULT_STREAM, rows(2))
    assert FakeBigQuery(root).table_count("t1") == 2


# -- committed byte length and the append index --------------------------------


def _range_values(bq, table, stream, start, end):
    """(first_row, end_row) of the range ``read_range`` serves for rows
    [start, end), after checking the range holds exactly those rows."""
    first, end_row, data = bq.read_range(table, stream, start, end)
    lines = data.decode("utf-8").split("\n")
    assert lines.pop() == ""
    assert [json.loads(x)["value"] for x in lines] == list(range(first, end_row))
    return first, end_row


def test_append_drops_uncommitted_tail(bq):
    """An append that dies after its data write but before its ``.meta``
    commit leaves bytes past the committed length.  The next append
    truncates them, so every row lands at its own offset."""
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(3), 0)
    data, _ = bq._stream_paths("t1", s)
    with open(data, "ab") as f:
        f.write(b'{"value": 99}\n\xff\xfe not json')
    bq.append("t1", s, rows(2, 3), 3)
    bq.flush_rows("t1", s, 4)
    assert bq.read_rows("t1") == rows(5)
    assert _range_values(bq, "t1", s, 3, 5) == (3, 5)
    assert _range_values(bq, "t1", s, 0, 5) == (0, 5)


def test_read_range_covers_only_the_appends_holding_the_rows(bq):
    """A range runs from the last append boundary at or before ``start``
    to the first at or after ``end``, counted in bytes of UTF-8 text.  A
    lost or torn index record widens a range and never misplaces one."""
    s = bq.create_write_stream("t1", "BUFFERED")
    for k in range(4):
        bq.append("t1", s, [{"value": 10 * k + i, "s": "żółć日本🚀"}
                            for i in range(10)], 10 * k)
    assert _range_values(bq, "t1", s, 0, 10) == (0, 10)
    assert _range_values(bq, "t1", s, 13, 27) == (10, 30)
    assert _range_values(bq, "t1", s, 20, 21) == (20, 30)
    assert _range_values(bq, "t1", s, 39, 40) == (30, 40)
    with pytest.raises(OffsetOutOfRangeError):
        bq.read_range("t1", s, 39, 41)

    idx = bq._index_path("t1", s)
    with open(idx, "r+b") as f:
        f.truncate(2 * 16 + 5)  # records for rows 10 and 20, then a torn one
    assert _range_values(bq, "t1", s, 13, 27) == (10, 40)
    # the next append drops the torn record and adds its own (row 50)
    bq.append("t1", s, [{"value": 40 + i} for i in range(10)], 40)
    assert _range_values(bq, "t1", s, 3, 12) == (0, 20)
    assert _range_values(bq, "t1", s, 41, 45) == (20, 50)

    os.remove(idx)  # no index records: one range from byte 0
    assert _range_values(bq, "t1", s, 41, 45) == (0, 50)


@pytest.mark.parametrize("stream_type", ["DEFAULT", "BUFFERED"])
def test_stream_without_byte_length_reads_and_appends(bq, stream_type):
    """A stream whose ``.meta`` has no ``bytes`` and which has no ``.idx``
    (the layout before either existed) reads as one range from byte 0 and
    takes further appends.  Its committed length is counted from the first
    ``offset`` lines, so a tail past them is still dropped."""
    s = DEFAULT_STREAM if stream_type == "DEFAULT" else "t1/streams/old"
    data, meta = bq._stream_paths("t1", s)
    os.makedirs(os.path.dirname(data))
    with open(data, "w", encoding="utf-8") as f:
        for r in rows(3):
            f.write(json.dumps({**r, "s": "żółć"}) + "\n")
        f.write('{"value": 99}\n')  # written, never committed
    with open(meta, "w") as f:
        json.dump({"type": stream_type, "offset": 3, "flushed": 3,
                   "finalized": False, "table": "t1"}, f)
    assert not os.path.exists(bq._index_path("t1", s))

    assert _range_values(bq, "t1", s, 1, 2) == (0, 3)
    bq.append("t1", s, rows(2, 3), -1 if stream_type == "DEFAULT" else 3)
    if stream_type == "BUFFERED":
        bq.flush_rows("t1", s, 4)
    assert [r["value"] for r in bq.read_rows("t1")] == list(range(5))
    # the old rows have no index record: one range holds them and the new
    assert _range_values(bq, "t1", s, 1, 2) == (0, 5)
    assert _range_values(bq, "t1", s, 3, 5) == (0, 5)
