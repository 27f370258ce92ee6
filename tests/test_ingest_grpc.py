"""gRPC ingest transport: proto3 wire codec (always tested) and the
grpcio-served endpoint (env-gated like the Kafka broker tests).

The codec must interoperate with the reference's generated Go client
(github.com/topfreegames/protos eventsgateway/grpc), so the golden
bytes below are pinned against the proto3 wire spec by hand:
tag = (field << 3) | wire_type; strings/messages length-delimited;
int64 varint; map<string,string> as repeated (key=1, value=2) entries.
"""

from __future__ import annotations

import random
import string

import pytest

from eventsgateway_spark.ingest_grpc import (
    decode_event_pb,
    decode_send_events_request,
    decode_send_events_request_full,
    decode_send_events_response,
    encode_event_pb,
    encode_send_event_response,
    encode_send_events_request,
    encode_send_events_response,
    grpc_available,
    serve_ingest_grpc,
)

GOLDEN_EVENT = {
    "id": "a",
    "name": "n",
    "topic": "t",
    "props": {"k": "v"},
    "timestamp": 1_690_000_000_000,
}
# 0a 01 61        field 1 (id) LEN "a"
# 12 01 6e        field 2 (name) LEN "n"
# 1a 01 74        field 3 (topic) LEN "t"
# 22 06 0a016b 120176   field 4 (props) LEN entry{key="k", value="v"}
# 28 8088e6de9731 field 5 (timestamp) varint 1690000000000
GOLDEN_BYTES = bytes.fromhex("0a016112016e1a017422060a016b120176288088e6de9731")


def test_event_golden_bytes():
    assert encode_event_pb(GOLDEN_EVENT) == GOLDEN_BYTES
    assert decode_event_pb(GOLDEN_BYTES) == GOLDEN_EVENT


def test_event_proto3_defaults_and_empty_encoding():
    # proto3 omits default values entirely: all-defaults -> zero bytes
    empty = {"id": "", "name": "", "topic": "", "props": {}, "timestamp": 0}
    assert encode_event_pb(empty) == b""
    assert decode_event_pb(b"") == empty
    assert encode_send_event_response() == b""


def test_event_round_trip_unicode_and_negative_ts():
    ev = {
        "id": "идент",
        "name": "évènt-ünïcode",
        "topic": "t/1",
        "props": {"ключ": "значение", "": "empty-key-ok", "z": ""},
        "timestamp": -5,
    }
    raw = encode_event_pb(ev)
    assert decode_event_pb(raw) == ev
    # negative int64 encodes as 10-byte two's-complement varint
    assert raw.endswith(bytes([0x28]) + b"\xfb\xff\xff\xff\xff\xff\xff\xff\xff\x01")


def test_event_decoder_skips_unknown_fields():
    # future field 7 (varint), field 8 (LEN), field 9 (fixed64), field
    # 10 (fixed32) interleaved with known fields: parser must skip all
    extra = (
        bytes([7 << 3 | 0, 42])
        + bytes([8 << 3 | 2, 3]) + b"abc"
        + bytes([9 << 3 | 1]) + b"\x00" * 8
        + bytes([10 << 3 | 5]) + b"\x00" * 4
    )
    raw = GOLDEN_BYTES[:3] + extra + GOLDEN_BYTES[3:]
    assert decode_event_pb(raw) == GOLDEN_EVENT


def test_request_id_retry_golden_and_round_trip():
    """SendEventsRequest carries the batch uuid + retry count the
    reference client stamps (client/async.go:204,254); golden bytes pin
    the encoder's id=1/retry=2/events=3 numbering."""
    raw = encode_send_events_request([GOLDEN_EVENT], request_id="req-1", retry=2)
    golden = (
        bytes([1 << 3 | 2, 5]) + b"req-1"          # id = 1 (LEN)
        + bytes([2 << 3 | 0, 2])                    # retry = 2 (varint)
        + bytes([3 << 3 | 2, len(GOLDEN_BYTES)]) + GOLDEN_BYTES  # events = 3
    )
    assert raw == golden
    full = decode_send_events_request_full(raw)
    assert full == {"id": "req-1", "retry": 2, "events": [GOLDEN_EVENT]}
    # defaults omitted on the wire
    assert encode_send_events_request([], request_id="", retry=0) == b""


def test_request_decode_is_layout_tolerant():
    """The decoder classifies fields by wire shape, so every plausible
    revision of the un-vendored public proto decodes identically:
    events-only (events=1), id-first (id=1,retry=2,events=3), and
    events-second (id=1,events=2,retry=3)."""
    ev_frame = bytes([2, len(GOLDEN_BYTES)]) + GOLDEN_BYTES  # wt2 + len, tag byte varies
    uuid_id = "3f2a9c1e-7b4d-4e61-9a0f-5c8d2e6b1a44"
    layouts = [
        bytes([1 << 3 | 2, len(GOLDEN_BYTES)]) + GOLDEN_BYTES,  # events = 1 only
        (bytes([1 << 3 | 2, len(uuid_id)]) + uuid_id.encode()   # id=1, retry=2, events=3
         + bytes([2 << 3 | 0, 7])
         + bytes([3 << 3 | 2, len(GOLDEN_BYTES)]) + GOLDEN_BYTES),
        (bytes([1 << 3 | 2, len(uuid_id)]) + uuid_id.encode()   # id=1, events=2, retry=3
         + bytes([2 << 3 | 2, len(GOLDEN_BYTES)]) + GOLDEN_BYTES
         + bytes([3 << 3 | 0, 7])),
    ]
    for raw in layouts:
        full = decode_send_events_request_full(raw)
        assert full["events"] == [GOLDEN_EVENT], raw.hex()
    assert decode_send_events_request_full(layouts[0]) == {
        "id": "", "retry": 0, "events": [GOLDEN_EVENT]
    }
    for raw in layouts[1:]:
        full = decode_send_events_request_full(raw)
        assert (full["id"], full["retry"]) == (uuid_id, 7)
    # an explicit empty submessage at the events field is an
    # all-defaults Event, not a request id
    empty_ev = bytes([3 << 3 | 2, 0])
    assert decode_send_events_request_full(empty_ev)["events"] == [
        {"id": "", "name": "", "topic": "", "props": {}, "timestamp": 0}
    ]
    assert ev_frame  # silence lint: documentation variable


def test_request_strict_probe_rejects_id_like_payloads():
    """The Event probe must never swallow a request id: uuids and other
    printable strings decode to out-of-range tags and fall back to the
    id slot; a real Event always passes."""
    from eventsgateway_spark.ingest_grpc import _len_field

    for s in ["3f2a9c1e-7b4d-4e61-9a0f-5c8d2e6b1a44", "abcDEF123", "x",
              "req_99", "0123456789" * 4]:
        raw = _len_field(1, s.encode())
        full = decode_send_events_request_full(raw)
        assert full["id"] == s and full["events"] == []
    # strict mode itself: unknown field or malformed map entry raises
    with pytest.raises(ValueError):
        decode_event_pb(bytes([7 << 3 | 0, 42]), strict=True)
    with pytest.raises(ValueError):
        decode_event_pb(bytes([4 << 3 | 2, 2, 7 << 3 | 0, 1]), strict=True)


def test_request_response_round_trip():
    random.seed(11)

    def rnd(n):
        return "".join(random.choices(string.ascii_letters + "é中", k=n))

    events = [
        {
            "id": rnd(12),
            "name": rnd(6),
            "topic": rnd(4),
            "props": {rnd(3): rnd(9) for _ in range(random.randrange(4))},
            "timestamp": random.randrange(1, 2**53),
        }
        for _ in range(25)
    ]
    assert decode_send_events_request(encode_send_events_request(events)) == events

    fails = [0, 3, 127, 128, 2**40]
    packed = encode_send_events_response(fails)
    assert decode_send_events_response(packed) == fails
    # a compliant parser must also accept the unpacked encoding
    unpacked = b"".join(
        bytes([1 << 3 | 0]) + _uv(i) for i in fails
    )
    assert decode_send_events_response(unpacked) == fails
    assert encode_send_events_response([]) == b""
    assert decode_send_events_response(b"") == []


def _uv(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


@pytest.mark.skipif(not grpc_available(), reason="grpcio not installed")
def test_grpc_end_to_end(spark):
    """Drive the served gRPC endpoint through the same bus→ETL path as
    the HTTP integration test: good events land as Avro payloads, bad
    ones come back as FailureIndexes / FAILED_PRECONDITION."""
    import grpc

    captured = []
    server, port = serve_ingest_grpc(spark, sink=captured.append)
    try:
        channel = grpc.insecure_channel(f"127.0.0.1:{port}")
        send_events = channel.unary_unary(
            "/eventsgateway.GRPCForwarder/SendEvents",
            request_serializer=lambda b: b,
            response_deserializer=lambda b: b,
        )
        events = [
            GOLDEN_EVENT,
            {"id": "", "name": "x", "topic": "t", "props": {}, "timestamp": 5},
        ]
        resp = send_events(
            encode_send_events_request(events, request_id="batch-1", retry=1)
        )
        assert decode_send_events_response(resp) == [1]
        assert len(captured) == 1
        # retry label recorded like the reference's metrics interceptor
        assert server.request_counts[("SendEvents", True)] == 1

        from eventsgateway_spark.sources.avro_codec import decode_event

        rec = decode_event(captured[0].column("value")[0].as_py())
        assert rec["id"] == "a" and rec["clientTimestamp"] == 1_690_000_000_000

        send_event = channel.unary_unary(
            "/eventsgateway.GRPCForwarder/SendEvent",
            request_serializer=lambda b: b,
            response_deserializer=lambda b: b,
        )
        assert send_event(encode_event_pb(GOLDEN_EVENT)) == b""
        with pytest.raises(grpc.RpcError) as exc:
            send_event(
                encode_event_pb({"id": "x", "name": "n", "topic": "t",
                                 "props": {}, "timestamp": 0})
            )
        assert exc.value.code() == grpc.StatusCode.FAILED_PRECONDITION
    finally:
        server.stop(0)
