"""Unit tests for the vendored minimal protobuf runtime
(skills_vectors_spark/_vendor/google/protobuf/_minirt.py).

Golden wire bytes here are hand-derived from the public encoding spec
(https://protobuf.dev/programming-guides/encoding/), so the encoder is
pinned to the format the JVM's real protobuf-java parses — the full
engine-level validation is the live transformWithStateInPandas query
(test_rows_only.py::test_stream_transform_state_matches_batch), where
the JVM state server accepts every request this runtime serializes.
"""

from __future__ import annotations

import pytest

from skills_vectors_spark import protocompat

pytestmark = pytest.mark.skipif(
    not protocompat.ensure_local(), reason="protobuf shim failed to load"
)


def _sm():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_varint_roundtrip_boundaries():
    from google.protobuf._minirt import read_varint, write_varint

    for v in (0, 1, 127, 128, 300, 2**31 - 1, 2**63 - 1, 2**64 - 1):
        out = bytearray()
        write_varint(out, v)
        got, pos = read_varint(bytes(out), 0)
        assert got == v and pos == len(out)
    # two's-complement encoding of negatives
    out = bytearray()
    write_varint(out, -1)
    assert bytes(out) == b"\xff" * 9 + b"\x01"


def test_golden_bytes_nested_oneof():
    sm = _sm()
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    # SetHandleState{state=2} = 08 02; wrapped f1 = 0a 02 08 02;
    # wrapped f2 = 12 04 0a 02 08 02
    assert req.SerializeToString() == bytes.fromhex("12040a020802")


def test_golden_bytes_string_and_bytes_fields():
    sm = _sm()
    call = sm.StateCallCommand()
    call.stateName = "hi"
    # field 1 string "hi" -> 0a 02 68 69
    assert call.SerializeToString() == bytes.fromhex("0a026869")
    upd = sm.ValueStateUpdate(value=b"\x00\xff")
    # field 1 bytes -> 0a 02 00 ff
    assert upd.SerializeToString() == bytes.fromhex("0a0200ff")


def test_empty_oneof_member_still_serializes():
    """Selecting an EMPTY message in a oneof must emit the field tag,
    otherwise the JVM cannot tell which method was called."""
    sm = _sm()
    call = sm.ValueStateCall(stateName="s", get=sm.Get())
    data = call.SerializeToString()
    # field 1 "s" = 0a 01 73 ; field 3 (get) empty message = 1a 00
    assert data == bytes.fromhex("0a01731a00")


def test_read_only_submessage_access_is_not_serialized():
    sm = _sm()
    call = sm.StateCallCommand(stateName="x")
    _ = call.ttl.durationMs  # read-only touch
    assert b"\x22" not in call.SerializeToString()  # no field-4 tag
    call.ttl.durationMs = 9
    assert call.ttl.durationMs == 9
    out = sm.StateCallCommand()
    out.ParseFromString(call.SerializeToString())
    assert out.ttl.durationMs == 9 and out.stateName == "x"


def test_parse_negative_int64_and_defaults():
    sm = _sm()
    msg = sm.StateResponseWithLongTypeVal(value=-5)
    back = sm.StateResponseWithLongTypeVal()
    back.ParseFromString(msg.SerializeToString())
    assert back.value == -5
    assert back.statusCode == 0 and back.errorMessage == ""


def test_parse_repeated_messages_and_bytes():
    sm = _sm()
    # StateResponseWithTimer.timer (field 3) with two TimerInfo rows
    ti1 = bytes.fromhex("104d")  # timestampMs=77
    ti2 = bytes.fromhex("0a0161102a")  # key=b'a', timestampMs=42
    payload = b"\x1a" + bytes([len(ti1)]) + ti1 + b"\x1a" + bytes([len(ti2)]) + ti2
    resp = sm.StateResponseWithTimer()
    resp.ParseFromString(payload)
    assert [t.timestampMs for t in resp.timer] == [77, 42]
    assert resp.timer[1].key == b"a"
    # repeated bytes (StateResponseWithListGet.value, field 3)
    lg = sm.StateResponseWithListGet()
    # value=[b'a', b'b'] then requireNextFetch=true (field 4 varint 1).
    # The r5 form of this hex carried a trailing junk byte (tag with
    # field number 0 / wire type 1) that the then-lenient skip path
    # swallowed past the buffer end; skip_field now raises on it.
    lg.ParseFromString(bytes.fromhex("1a01611a01622001"))
    assert list(lg.value) == [b"a", b"b"]
    assert lg.requireNextFetch is True


def test_unknown_fields_are_skipped():
    sm = _sm()
    resp = sm.StateResponse()
    # unknown field 15 varint, then statusCode=3
    resp.ParseFromString(bytes.fromhex("78ff010803"))
    assert resp.statusCode == 3


def test_truncated_length_delimited_raises():
    sm = _sm()
    lg = sm.StateResponseWithListGet()
    # field 3 (bytes) declares length 5 but only 1 payload byte follows
    with pytest.raises(ValueError, match="truncated"):
        lg.ParseFromString(bytes.fromhex("1a0561"))
    # truncated unknown length-delimited field must raise too (skip path)
    resp = sm.StateResponse()
    with pytest.raises(ValueError, match="truncated"):
        resp.ParseFromString(bytes.fromhex("7a0561"))


def test_descriptor_parse_covers_all_state_messages():
    sm = _sm()
    for name in (
        "StateRequest",
        "StateResponse",
        "StatefulProcessorCall",
        "StateVariableRequest",
        "ValueStateCall",
        "ListStateCall",
        "MapStateCall",
        "TimerRequest",
        "KeyAndValuePair",
        "TTLConfig",
    ):
        cls = getattr(sm, name)
        assert cls.DESCRIPTOR.fields, name
    assert (sm.PRE_INIT, sm.CREATED, sm.INITIALIZED, sm.CLOSED) == (0, 1, 2, 5)


def test_vendor_zip_importable_standalone(tmp_path):
    """The package archive alone on PYTHONPATH imports google.protobuf:
    from the archive's own root copy when no real wheel exists, which
    is how a task worker gets it."""
    import os
    import subprocess
    import sys

    import skills_vectors_spark
    from skills_vectors_spark import deploy

    zpath = str(tmp_path / "pkg.zip")
    deploy._build_archive(os.path.dirname(skills_vectors_spark.__file__), zpath)
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import google.protobuf as p; "
            "from google.protobuf import descriptor, descriptor_pool; "
            "from google.protobuf.internal import builder; "
            "from skills_vectors_spark import protocompat; "
            "print(p.__file__, protocompat.real_protobuf())",
        ],
        capture_output=True,
        text=True,
        env={"PYTHONPATH": zpath, "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    origin, real = r.stdout.split()
    wheel = protocompat.real_protobuf()
    assert origin.startswith(zpath) != wheel, r.stdout
    # a google.protobuf served from the archive is not a real wheel: the
    # driver imports it from there once addPyFile put the archive on
    # its sys.path, and must still point StreamingPythonRunner's
    # driver-side worker at the vendor dir
    assert real == str(wheel), r.stdout


def test_tws_row_ships_one_archive(spark, sf_dir):
    """A session that ran a transformWithState row holds exactly one
    addPyFile archive: the package's, carrying the protobuf runtime."""
    from skills_vectors_spark.streaming.windows import stream_transform_typecounts

    assert stream_transform_typecounts(spark, sf_dir).count() > 0
    assert len(spark.sparkContext._python_includes) == 1


# ---------------------------------------------------- property tests

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip_property(v):
    from google.protobuf._minirt import read_varint, write_varint

    out = bytearray()
    write_varint(out, v)
    got, pos = read_varint(bytes(out), 0)
    assert got == v and pos == len(out)


@settings(max_examples=200, deadline=None)
@given(
    status=st.integers(min_value=-(2**31), max_value=2**31 - 1),
    err=st.text(max_size=40),
    value=st.binary(max_size=60),
)
def test_state_response_roundtrip_property(status, err, value):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    msg = sm.StateResponse(statusCode=status, errorMessage=err, value=value)
    back = sm.StateResponse()
    back.ParseFromString(msg.SerializeToString())
    assert back.statusCode == status
    assert back.errorMessage == err
    assert back.value == value


@settings(max_examples=200, deadline=None)
@given(
    name=st.text(max_size=30),
    schema=st.text(max_size=30),
    ttl=st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
)
def test_state_call_command_roundtrip_property(name, schema, ttl):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    cmd = sm.StateCallCommand()
    cmd.stateName = name
    cmd.schema = schema
    if ttl is not None:
        cmd.ttl.durationMs = ttl
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.stateName == name and back.schema == schema
    if ttl is not None:
        assert back.ttl.durationMs == ttl
    else:
        assert not back.HasField("ttl")


@settings(max_examples=100, deadline=None)
@given(values=st.lists(st.binary(max_size=30), max_size=10), fetch=st.booleans())
def test_repeated_bytes_roundtrip_property(values, fetch):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    put = sm.ListStatePut(value=values, fetchWithArrow=fetch)
    back = sm.ListStatePut()
    back.ParseFromString(put.SerializeToString())
    assert list(back.value) == values
    assert back.fetchWithArrow == fetch
