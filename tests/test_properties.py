"""Property-based tests (hypothesis) — invariants the example-based suite
can't sweep: arbitrary batch shapes for the chunker, arbitrary replay
points for the offset-trim logic, arbitrary schemas for the type mapping.
(The reference has no property tests at all — SURVEY §5.1.)"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from flink_big_query_connector_spark.schema.transformer import (
    bq_schema_to_struct_type,
    struct_type_to_bq_schema,
)
from flink_big_query_connector_spark.streaming.batching import (
    chunk_rows,
    json_size_of,
)
from flink_big_query_connector_spark.streaming.config import BatchTriggerSettings

# ---------------------------------------------------------------------------
# chunk_rows invariants (reference BatchTrigger semantics)
# ---------------------------------------------------------------------------

rows_strategy = st.lists(
    st.fixed_dictionaries(
        {"k": st.integers(0, 9), "v": st.text(max_size=40)}
    ),
    max_size=120,
)


@settings(max_examples=200, deadline=None)
@given(
    rows=rows_strategy,
    max_count=st.integers(1, 20),
    max_bytes=st.integers(10, 2000),
)
def test_chunker_partitions_losslessly_and_respects_bounds(
    rows, max_count, max_bytes
):
    settings_ = BatchTriggerSettings(max_count=max_count, max_bytes=max_bytes)
    chunks = list(chunk_rows(rows, settings_))
    # lossless, order-preserving partition
    assert [r for c in chunks for r in c] == rows
    assert all(c for c in chunks)
    for i, c in enumerate(chunks):
        # count bound is hard
        assert len(c) <= max_count
        # a chunk smaller than max_count must have fired on bytes —
        # accumulated size crossed the bound — unless it is the tail
        if len(c) < max_count and i < len(chunks) - 1:
            assert sum(json_size_of(r) for r in c) >= max_bytes
        # the size trigger fires ON the crossing element: every proper
        # prefix stays under the byte bound
        acc = 0
        for r in c[:-1]:
            acc += json_size_of(r)
            assert acc < max_bytes


# ---------------------------------------------------------------------------
# ALREADY_EXISTS trim: replay from any point is exactly-once
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    n_rows=st.integers(1, 30),
    replay_from=st.integers(0, 29),
)
def test_offset_trim_replay_is_exactly_once(tmp_path_factory, n_rows, replay_from):
    from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
    from flink_big_query_connector_spark.streaming.config import WriterSettings
    from flink_big_query_connector_spark.streaming.sinks import write_with_retry

    replay_from = min(replay_from, n_rows)
    bq = FakeBigQuery(str(tmp_path_factory.mktemp("bq")))
    table = "p.d.trim"
    stream = bq.create_write_stream(table, "BUFFERED")
    rows = [{"i": i} for i in range(n_rows)]
    # first attempt persisted a prefix, then "crashed"
    if replay_from:
        bq.append(table, stream, rows[:replay_from], 0)
    # full replay at offset 0: trim must skip the stored prefix
    write_with_retry(bq, table, stream, rows, 0, WriterSettings())
    bq.flush_rows(table, stream, n_rows - 1)
    got = [r["i"] for r in bq.read_rows(table)]
    assert got == list(range(n_rows))


# ---------------------------------------------------------------------------
# schema mapping round-trip
# ---------------------------------------------------------------------------

scalar_types = st.sampled_from(
    ["BOOL", "BYTES", "DATE", "DATETIME", "FLOAT64", "INT64", "STRING",
     "TIMESTAMP", "NUMERIC", "JSON", "GEOGRAPHY", "TIME"]
)


def field_strategy(depth: int = 2):
    names = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
    scalar = st.builds(
        lambda n, t, m: {"name": n, "type": t, "mode": m},
        names,
        scalar_types,
        st.sampled_from(["NULLABLE", "REQUIRED", "REPEATED"]),
    )
    if depth == 0:
        return scalar
    nested = st.builds(
        lambda n, fs, m: {
            "name": n, "type": "STRUCT", "mode": m, "fields": fs
        },
        names,
        st.lists(field_strategy(depth - 1), min_size=1, max_size=3,
                 unique_by=lambda f: f["name"]),
        st.sampled_from(["NULLABLE", "REQUIRED", "REPEATED"]),
    )
    return st.one_of(scalar, nested)


@settings(max_examples=150, deadline=None)
@given(
    fields=st.lists(field_strategy(), min_size=1, max_size=5,
                    unique_by=lambda f: f["name"])
)
def test_bq_schema_round_trip_preserves_structure(fields):
    schema = {"fields": fields}
    struct = bq_schema_to_struct_type(schema)
    back = struct_type_to_bq_schema(struct)

    def norm(f):
        out = {
            "name": f["name"],
            "mode": f.get("mode") or "NULLABLE",
        }
        # lossy-by-design carriers (SURVEY §1.2): GEOGRAPHY/TIME/JSON ride
        # as STRING, FLOAT64 returns as its canonical name
        t = f["type"]
        out["type"] = {"GEOGRAPHY": "STRING", "TIME": "STRING",
                       "JSON": "STRING"}.get(t, t)
        if t == "STRUCT":
            out["fields"] = [norm(x) for x in f["fields"]]
        return out

    def norm_back(f):
        out = {"name": f["name"], "mode": f.get("mode") or "NULLABLE",
               "type": f["type"]}
        if f["type"] == "STRUCT":
            out["fields"] = [norm_back(x) for x in f["fields"]]
        return out

    assert [norm_back(f) for f in back["fields"]] == [norm(f) for f in fields]


# ---------------------------------------------------------------------------
# connector serialization round-trip (DSv2 line form -> split reader)
# ---------------------------------------------------------------------------

import json
import math
import shutil
import tempfile

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_RT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("score", DoubleType()),
    ]
)


def _roundtrip_rows(rows):
    """Serialize like the DSv2 writers, append to the backend, read back
    through the connector's split reader (Arrow parse, row path for what
    Arrow rejects)."""
    from flink_big_query_connector_spark.sources import bq_datasource as dsrc
    from flink_big_query_connector_spark.sources.fake_bigquery import (
        FakeBigQuery,
        default_stream_name,
    )

    root = tempfile.mkdtemp(prefix="rt_prop_")
    try:
        bq = FakeBigQuery(root)
        table = "p/d/t"
        payload = [
            json.dumps(r, separators=(",", ":"), default=dsrc._json_default)
            for r in rows
        ]
        bq.append(table, default_stream_name(table), payload, offset=-1)
        split = dsrc._RangeSplit(default_stream_name(table), 0, len(rows))
        out = []
        for item in dsrc._read_split(root, table, _RT_SCHEMA, [], split):
            if hasattr(item, "to_pylist"):
                out.extend(
                    (d["id"], d["name"], d["score"]) for d in item.to_pylist()
                )
            else:
                out.append(item)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "id": st.one_of(
                    st.none(), st.integers(-(2**63), 2**63 - 1)
                ),
                "name": st.one_of(st.none(), st.text(max_size=60)),
                "score": st.one_of(
                    st.none(),
                    st.floats(allow_nan=True, allow_infinity=True),
                ),
            }
        ),
        min_size=1,
        max_size=30,
    )
)
def test_connector_roundtrip_preserves_values(rows):
    """Every (int64, unicode text, double incl. NaN/±Inf, NULL) row
    survives the JSON-lines write -> Arrow read bit-exactly, including
    the bare NaN/Infinity tokens ``json.dumps`` writes."""
    got = _roundtrip_rows(rows)
    assert len(got) == len(rows)
    for g, r in zip(got, rows):
        for v_got, v_want in zip(g, (r["id"], r["name"], r["score"])):
            assert _same_value(v_got, v_want), (g, r)


@settings(max_examples=200, deadline=None)
@given(
    key=st.text(min_size=0, max_size=40),
)
def test_cms_buckets_in_range_and_python_mirror(key):
    """Every CMS bucket lies in [0, WIDTH) at every depth, and the
    Python-side arithmetic mirrors the engine formula exactly (the
    property the count-min oracle depends on)."""
    import hashlib

    from flink_big_query_connector_spark.operators.hashing import P
    from flink_big_query_connector_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_SEEDS,
        CMS_WIDTH,
    )

    h60 = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    h = h60 % P
    for d in range(CMS_DEPTH):
        a, b = CMS_SEEDS[d]
        bucket = ((a * h + b) % P) % CMS_WIDTH
        assert 0 <= bucket < CMS_WIDTH
        assert a * h + b < 2**63  # the no-overflow discipline


@settings(max_examples=100, deadline=None)
@given(payload=st.binary(min_size=0, max_size=200))
def test_phash_is_60_bits_and_stable(payload):
    """The perceptual-hash stand-in stays inside 60 bits (signed-long
    safe) for ANY payload and is a pure function of the bytes."""
    import base64

    from flink_big_query_connector_spark.operators.multimodal import (
        PHASH_BITS,
    )

    def phash(buf: bytes) -> int:
        b64 = base64.b64encode(buf).decode("ascii")
        n = len(b64)
        if n == 0:
            return 0
        codes = [ord(b64[(j * n) // PHASH_BITS]) for j in range(PHASH_BITS)]
        mean = sum(codes) / float(PHASH_BITS)
        v = 0
        for j, c in enumerate(codes):
            if c >= mean:
                v |= 1 << j
        return v

    v = phash(payload)
    assert 0 <= v < (1 << PHASH_BITS)
    assert v == phash(payload)


# -- Round-7 primitives: pure-Python properties ------------------------------


@settings(deadline=None)  # first example pays the plans-module import
@given(
    x1=st.integers(0, (1 << 16) - 1),
    y1=st.integers(0, (1 << 16) - 1),
    x2=st.integers(0, (1 << 16) - 1),
    y2=st.integers(0, (1 << 16) - 1),
    px=st.integers(0, (1 << 16) - 1),
    py=st.integers(0, (1 << 16) - 1),
)
def test_zvalue_corner_bound_contains_every_box_point(x1, y1, x2, y2, px, py):
    """The b01_zorder_layout read path relies on per-coordinate Morton
    monotonicity: for ANY box and any point inside it,
    z(xmin,ymin) <= z(px,py) <= z(xmax,ymax).  A broken interleave would
    silently drop rows from the box query; hypothesis hunts the bound."""
    from flink_big_query_connector_spark.plans.relational import _zvalue_py

    xlo, xhi = sorted((x1, x2))
    ylo, yhi = sorted((y1, y2))
    # clamp the probe point into the box
    px = min(max(px, xlo), xhi)
    py = min(max(py, ylo), yhi)
    assert _zvalue_py(xlo, ylo) <= _zvalue_py(px, py) <= _zvalue_py(xhi, yhi)


@given(
    weights=st.lists(st.integers(0, 1000), min_size=1, max_size=200),
    k=st.integers(1, 50),
)
def test_madow_boundary_rule_picks_exactly_k(weights, k):
    """The llm_sample_weighted stratum rule — n_picks per item =
    ((cum+w)*k) div W − (cum*k) div W over an exclusive prefix sum —
    must hand out EXACTLY k picks in total whenever W > 0 (the strata
    tile the weight line), zero-weight items never picked.  This is the
    pure-integer invariant the Spark/DuckDB twins both implement."""
    W = sum(weights)
    if W == 0:
        return
    cum = 0
    total_picks = 0
    for w in weights:
        picks = ((cum + w) * k) // W - (cum * k) // W
        if w == 0:
            assert picks == 0
        total_picks += picks
        cum += w
    assert total_picks == k
