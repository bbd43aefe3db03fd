"""The vectorized Arrow record encoder (functions/avro_codec.py
``compile_encoder``) against the per-record oracle ``encode_record``,
and the sinks that run on it: a differential property test over
generated schemas (pure pyarrow, no Spark per example), a
``read_container`` round trip of ``write_avro_files``, exact longs
above 2^53 and null party ids through all four sinks, and a guard that
keeps the per-row encode out of the sink modules."""

from __future__ import annotations

import ast
import base64
import os
import sys

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from divolte_collector_spark.functions.avro_codec import (
    compile_encoder,
    decode_record,
    encode_record,
    read_container,
)

# store factories close over tmp paths and ride into executor workers
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# --- differential property test ---------------------------------------------

_PRIMITIVES = ["boolean", "int", "long", "float", "double", "string", "bytes"]

#: the Arrow type Spark hands a column of each Avro type over as
_SPARK_ARROW = {
    "boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
    "float": pa.float32(), "double": pa.float64(), "string": pa.string(),
    "bytes": pa.binary(),
}


def _arrow(t):
    if isinstance(t, list):
        return _arrow([b for b in t if b != "null"][0])
    if isinstance(t, str):
        return _SPARK_ARROW[t]
    kind = t["type"]
    if kind == "record":
        return pa.struct([(f["name"], _arrow(f["type"])) for f in t["fields"]])
    if kind == "array":
        return pa.list_(_arrow(t["items"]))
    if kind == "map":
        return pa.map_(pa.string(), _arrow(t["values"]))
    return pa.string() if kind == "enum" else pa.binary()  # enum / fixed


_long_text = st.builds(lambda c, n: c * n, st.characters(), st.integers(16384, 17000))
_PRIM_VALUES = {
    "boolean": st.booleans(),
    "int": st.integers(-(2**31), 2**31 - 1) | st.sampled_from([-(2**31), 2**31 - 1]),
    "long": st.integers(-(2**63), 2**63 - 1)
    | st.sampled_from([-(2**63), 2**63 - 1, 2**53 + 1, -(2**53) - 1]),
    "float": st.floats(width=32)
    | st.sampled_from([float("nan"), float("inf"), float("-inf")]),
    "double": st.floats()
    | st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0]),
    "string": st.text(max_size=20) | st.sampled_from(["", "é", "日本語"]) | _long_text,
    "bytes": st.binary(max_size=20)
    | st.builds(lambda n: b"\xff" * n, st.integers(16384, 17000)),
}

def _field_types(depth=0):
    """A field type: a primitive, a [null, T] union (either order) or,
    above the leaves, a record/array/map/enum/fixed."""
    prim = st.sampled_from(_PRIMITIVES)
    unions = prim.flatmap(lambda t: st.sampled_from([["null", t], [t, "null"]]))
    leaves = prim | unions
    if depth >= 2:
        return leaves
    inner = st.deferred(lambda: _field_types(depth + 1))
    nested = st.one_of(
        st.lists(inner, min_size=1, max_size=3).map(
            lambda ts: {
                "type": "record", "name": "R",
                "fields": [{"name": f"f{i}", "type": t} for i, t in enumerate(ts)],
            }
        ),
        inner.map(lambda t: {"type": "array", "items": t}),
        inner.map(lambda t: {"type": "map", "values": t}),
        st.just({"type": "enum", "name": "E", "symbols": ["A", "B", "É"]}),
        st.just({"type": "fixed", "name": "F", "size": 3}),
    )
    return leaves | nested | nested.map(lambda t: ["null", t])


def _values(t):
    if isinstance(t, list):
        branch = [b for b in t if b != "null"][0]
        return st.none() | _values(branch)
    if isinstance(t, str):
        return _PRIM_VALUES[t]
    kind = t["type"]
    if kind == "record":
        return st.fixed_dictionaries(
            {f["name"]: _values(f["type"]) for f in t["fields"]}
        )
    if kind == "array":
        return st.lists(_values(t["items"]), max_size=3)
    if kind == "map":
        return st.dictionaries(st.text(max_size=5), _values(t["values"]), max_size=3)
    if kind == "enum":
        return st.sampled_from(t["symbols"])
    return st.binary(min_size=t["size"], max_size=t["size"])


@st.composite
def _schema_and_rows(draw):
    types = draw(st.lists(_field_types(), min_size=1, max_size=5))
    schema = {
        "type": "record", "name": "Gen",
        "fields": [{"name": f"c{i}", "type": t} for i, t in enumerate(types)],
    }
    rows = draw(
        st.lists(
            st.fixed_dictionaries({f"c{i}": _values(t) for i, t in enumerate(types)}),
            max_size=6,
        )
    )
    return schema, rows


@settings(max_examples=150, deadline=None)
@given(_schema_and_rows())
def test_encoder_matches_encode_record(case):
    schema, rows = case
    batch = pa.RecordBatch.from_pydict(
        {
            f["name"]: pa.array([r[f["name"]] for r in rows], _arrow(f["type"]))
            for f in schema["fields"]
        }
    )
    encoded = compile_encoder(schema)(batch)
    assert encoded.type == pa.binary()
    assert encoded.to_pylist() == [encode_record(schema, r) for r in rows]


def test_missing_column_takes_schema_default():
    schema = {
        "type": "record", "name": "D",
        "fields": [
            {"name": "s", "type": "string", "default": "dflt"},
            {"name": "flag", "type": "boolean", "default": True},
            {"name": "n", "type": "long", "default": -3},
            {"name": "opt", "type": ["null", "string"], "default": None},
        ],
    }
    encoded = compile_encoder(schema)(pa.RecordBatch.from_pydict({"other": [1]}))
    assert encoded.to_pylist() == [encode_record(schema, {})]


def test_null_in_non_null_field_raises():
    schema = {"type": "record", "name": "N", "fields": [{"name": "s", "type": "string"}]}
    with pytest.raises(ValueError, match="non-null"):
        compile_encoder(schema)(pa.RecordBatch.from_pydict({"s": ["a", None]}))


# --- the sinks on the encoder -------------------------------------------------

_BIG = 2**53 + 1
_SCHEMA = {
    "type": "record",
    "name": "Exact",
    "fields": [
        {"name": "party_id", "type": ["null", "string"], "default": None},
        {"name": "event_id", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "d", "type": ["null", "double"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
    ],
}
_ROWS = [
    ("a", "e0", _BIG, 1.5, ["x"], {"k": 1}),
    ("b", "e1", None, None, [], {}),
    ("c", "e2", _BIG, -0.25, ["é", ""], {"k": -(2**63), "j": 2**63 - 1}),
    (None, "e3", -_BIG, float("inf"), ["y"], {}),
]


def _expected():
    names = [f["name"] for f in _SCHEMA["fields"]]
    return {r[1]: dict(zip(names, r)) for r in _ROWS}


def _frame(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        _ROWS,
        "party_id string, event_id string, n long, d double, "
        "tags array<string>, attrs map<string,long>",
    ).withColumn(
        "client_time",
        F.timestamp_millis(
            F.lit(1500000000000) + F.substring("event_id", 2, 1).cast("long") * 1001
        ),
    )


def _read_files(paths):
    got = {}
    for p in paths:
        with open(p, "rb") as fh:
            _, records = read_container(fh.read())
        got.update({r["event_id"]: r for r in records})
    return got


def test_write_avro_files_roundtrip_exact(spark, tmp_path):
    """read_container gives back every row exactly: longs above 2^53
    next to nulls, nested arrays and maps, one file per roll bucket."""
    from divolte_collector_spark.streaming.sinks import write_avro_files

    out = str(tmp_path / "out")
    manifest = write_avro_files(_frame(spark), _SCHEMA, out, batch_tag="0")
    assert sum(n for _, n in manifest) == len(_ROWS)
    assert sorted(os.listdir(out)) == sorted(name for name, _ in manifest)
    assert _read_files([os.path.join(out, name) for name, _ in manifest]) == _expected()


def test_gcs_write_avro_files_exact_long(spark, tmp_path):
    from divolte_collector_spark.streaming.gcs import (
        FilesystemObjectStore,
        gcs_write_avro_files,
    )

    root = str(tmp_path / "bucket")
    manifest = gcs_write_avro_files(
        _frame(spark), _SCHEMA,
        store_factory=lambda r=root: FilesystemObjectStore(r),
        batch_tag="0", sync_every=1,
    )
    store = FilesystemObjectStore(root)
    got = {}
    for name, _ in manifest:
        got.update({r["event_id"]: r for r in read_container(store.get(name))[1]})
    assert got == _expected()


def test_roll_runs_keeps_null_bucket():
    from divolte_collector_spark.streaming.sinks import UNKNOWN_ROLL, roll_runs

    batch = pa.record_batch({"_roll": ["b", None, "a", "b"]})
    encoded = pa.array([b"0", b"1", b"2", b"3"], pa.binary())
    got = {roll: recs.to_pylist() for roll, recs in roll_runs(batch, encoded)}
    assert got == {"a": [b"2"], "b": [b"0", b"3"], UNKNOWN_ROLL: [b"1"]}


def _null_roll_frame(spark):
    """Rows whose roll buckets are b, null, a, b (``client_time`` null
    for e1)."""
    from pyspark.sql import functions as F

    ms = {"e0": 1500000002000, "e2": 1500000001000, "e3": 1500000002000}
    when = F.lit(None).cast("long")
    for eid, t in ms.items():
        when = F.when(F.col("event_id") == eid, F.lit(t)).otherwise(when)
    return _frame(spark).withColumn("client_time", F.timestamp_millis(when))


def test_write_avro_files_keeps_null_roll_rows(spark, tmp_path):
    from divolte_collector_spark.streaming.sinks import write_avro_files

    out = str(tmp_path / "out")
    manifest = write_avro_files(_null_roll_frame(spark), _SCHEMA, out, batch_tag="0")
    assert sum(n for _, n in manifest) == len(_ROWS)
    assert any(name.startswith("unknown-divolte-tracking-") for name, _ in manifest)
    assert _read_files([os.path.join(out, name) for name, _ in manifest]) == _expected()


def test_gcs_write_avro_files_keeps_null_roll_rows(spark, tmp_path):
    from divolte_collector_spark.streaming.gcs import (
        FilesystemObjectStore,
        gcs_write_avro_files,
    )

    root = str(tmp_path / "bucket")
    manifest = gcs_write_avro_files(
        _null_roll_frame(spark), _SCHEMA,
        store_factory=lambda r=root: FilesystemObjectStore(r),
        batch_tag="0",
    )
    assert sum(n for _, n in manifest) == len(_ROWS)
    store = FilesystemObjectStore(root)
    got = {}
    for name, _ in manifest:
        got.update({r["event_id"]: r for r in read_container(store.get(name))[1]})
    assert got == _expected()


def test_kafka_frame_exact_long_and_null_party(spark):
    from divolte_collector_spark.sources.kafka_source import decode_kafka_events
    from divolte_collector_spark.streaming.sinks import kafka_frame

    framed = kafka_frame(_frame(spark), _SCHEMA).collect()
    got = {}
    for row in framed:
        rec = decode_record(_SCHEMA, bytes(row.value))
        got[rec["event_id"]] = rec
        party = rec["party_id"]
        assert (row.key is None) if party is None else bytes(row.key) == party.encode()
    assert got == _expected()

    # the consumer-side audit counts a null party under a null key as kept
    topic = spark.createDataFrame(
        [(r.key, r.value, "t", 0, i) for i, r in enumerate(framed)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    checked = decode_kafka_events(topic, _SCHEMA, verify_key=True).collect()
    assert [r._key_matches for r in checked] == [True] * len(_ROWS)


def test_pubsub_messages_exact_long_and_null_party(spark):
    from divolte_collector_spark.streaming.sinks import pubsub_messages

    from pyspark.sql import functions as F

    frame = _frame(spark).withColumn(
        "client_time",
        F.when(F.col("event_id") != "e1", F.col("client_time")),
    )
    msgs = pubsub_messages(frame, _SCHEMA, confluent_id=0x2A).collect()
    got = {}
    for m in msgs:
        rec = decode_record(_SCHEMA, bytes(m.data))
        got[rec["event_id"]] = rec
        assert m.partyIdentifier == rec["party_id"]  # None stays None
        assert m.eventIdentifier == rec["event_id"]
        assert m.schemaConfluentId == "0x2a"
        assert len(base64.urlsafe_b64decode(m.schemaFingerprint)) == 32
    assert got == _expected()
    by_eid = {m.eventIdentifier: m for m in msgs}
    assert by_eid["e1"].timestamp is None  # null client_time
    assert by_eid["e0"].timestamp == "2017-07-14T02:40:00.000000Z"
    assert by_eid["e2"].timestamp == "2017-07-14T02:40:02.002000Z"


# --- guard: no row path in the sink modules -----------------------------------

_SINK_MODULES = ["sinks.py", "gcs.py"]


@pytest.mark.parametrize("module", _SINK_MODULES)
def test_sinks_have_no_row_path(module):
    """The sinks encode through compile_encoder only: no pandas
    ``to_dict`` rows and no per-row ``encode_record`` loop."""
    import divolte_collector_spark.streaming as streaming

    path = os.path.join(os.path.dirname(streaming.__file__), module)
    with open(path) as fh:
        tree = ast.parse(fh.read())

    def called(node, name):
        return any(
            isinstance(n, ast.Call)
            and (getattr(n.func, "attr", None) == name or getattr(n.func, "id", None) == name)
            for n in ast.walk(node)
        )

    assert not called(tree, "to_dict"), f"{module} calls to_dict("
    loops = (ast.For, ast.While, ast.ListComp, ast.GeneratorExp, ast.SetComp, ast.DictComp)
    for node in ast.walk(tree):
        if isinstance(node, loops):
            assert not called(node, "encode_record"), (
                f"{module}:{node.lineno} encodes records one by one"
            )
