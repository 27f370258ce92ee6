"""Network-facing ingest endpoint — S1 served, not just in-process.

The reference's S1 is a *served* gRPC API: `SendEvent` / `SendEvents`
registered on a socket (server/app/server.go:47-65, server/app/app.go:255),
with batch failures reported back as per-request indexes
(`SendEventsResponse.FailureIndexes`, server/sender/kafka.go:44-68).
This module closes that last behavioral seam with a dependency-free
stdlib HTTP server (the same pattern as the Prometheus endpoint,
streaming/metrics_http.py): a game client — or curl — gets a socket.

    POST /send-events   {"events": [{id,name,topic,props,timestamp}..]}
        -> 200 {"failure_indexes": [..]}     (mirrors SendEventsResponse)
    POST /send-event    {id,name,topic,props,timestamp}
        -> 200 {}  on success
        -> 422 {"error": "<reject_reason>"}  (mirrors the gRPC
           FailedPrecondition error of server/sender/kafka.go:89-94)
    GET  /healthz       -> 200 ok            (app healthcheck analog)

Like the reference server (server/sender/kafka.go:44-120), a request
is validated, enriched, routed, Avro-encoded and size-limited in plain
Python (``ingest``) — no Spark job runs on the RPC path; Spark is the
bus's downstream consumer (``run_etl``). The reject rules are those of
``transforms.REJECT_RULES`` and the bytes those of the Avro codec, the
same two sources the Spark plan ``gateway.ingest`` (backfill) compiles,
so both paths agree event for event (tests/test_property.py).

Sink contract: ``sink`` receives a request's accepted payloads as ONE
``pyarrow.Table`` with ``kafka.PAYLOAD_ARROW_SCHEMA`` (topic, key=None,
value), in request order, and is not called when every event was
rejected; ``FileBus(...).produce`` publishes it as one parquet file. A
served real-Kafka sink needs a producer client library that is not
installed, so it is out of scope (backfill reaches Kafka through
``kafka.write_payloads_kafka``). Bulk backfill goes through the
file/Kafka source path (gateway.Gateway.flush docstring), not here.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

import pyarrow as pa
from pyspark.sql import SparkSession

from eventsgateway_spark.operators import transforms
from eventsgateway_spark.sources.avro_codec import encode_event
from eventsgateway_spark.sources.kafka import PAYLOAD_ARROW_SCHEMA

#: Per-request ceiling (the reference's per-RPC granularity); bulk
#: backfill uses the file/Kafka source path, the boundary
#: Gateway.MAX_FLUSH_ROWS also enforces.
MAX_REQUEST_EVENTS = 10_000

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


def _wire_row(ev) -> dict | str:
    """One JSON event → a wire row (the five wire fields, absent ones
    None), or its FRAMING failure (the gRPC analog is a deserialization
    error), indexed like any reject instead of failing the request: a
    non-object, a non-string id/name/topic or a timestamp outside int64
    is ``malformed_event``, non-object ``props`` ``malformed_props``."""
    if not isinstance(ev, dict):
        return "malformed_event"
    row = {f: ev.get(f) for f in ("id", "name", "topic")}
    if any(v is not None and not isinstance(v, str) for v in row.values()):
        return "malformed_event"
    props = ev.get("props") or {}
    if not isinstance(props, dict):
        return "malformed_props"
    # non-string prop values keep their JSON form ("true", "null",
    # '{"b": 1}') — Python str() would store reprs ('True', "{'b': 1}")
    # no JSON consumer can round-trip
    row["props"] = {
        str(k): (v if isinstance(v, str) else json.dumps(v))
        for k, v in props.items()
    }
    ts = ev.get("timestamp")
    try:
        # booleans are ints in Python — JSON true must not become
        # timestamp 1; floats (ms since epoch) truncate
        ts = None if isinstance(ts, bool) else int(ts)
    except (TypeError, ValueError):
        ts = None  # the P1 rules reject it as missing_timestamp
    except OverflowError:  # ±Infinity
        return "malformed_event"
    if ts is not None and not _INT64_MIN <= ts <= _INT64_MAX:
        return "malformed_event"
    row["timestamp"] = ts
    return row


def ingest(
    events: list,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
    server_ts: int | None = None,
) -> tuple[pa.Table, dict[int, str]]:
    """The server pipeline in process, per event: frame → validate (P1)
    → enrich (P5) → route (P6) → Avro-encode → size-limit (P2). Returns
    (accepted payloads, reject reason by request index). ``server_ts``
    pins serverTimestamp (default: now, one value per request as
    current_timestamp is one per Spark plan)."""
    if server_ts is None:
        server_ts = int(time.time() * 1000)
    topics: list[bytes] = []  # UTF-8, taken as is by the string column
    values: list[bytes] = []
    reasons: dict[int, str] = {}
    for i, ev in enumerate(events):
        row = _wire_row(ev)
        if isinstance(row, str):
            reasons[i] = row
            continue
        reason = transforms.reject_reason(row)
        if reason is None:
            try:
                value = encode_event(
                    row["id"], row["name"], row["props"], server_ts, row["timestamp"]
                )
                topic = (transforms.TOPIC_PREFIX + row["topic"]).encode()
            except UnicodeEncodeError:  # a lone surrogate: "\ud800" is valid JSON
                reasons[i] = "malformed_event"
                continue
            reason = transforms.reject_reason({"value": value}, max_message_bytes)
        if reason is not None:
            reasons[i] = reason
            continue
        topics.append(topic)
        values.append(value)
    table = pa.table(
        [topics, pa.nulls(len(values), pa.binary()), values],
        schema=PAYLOAD_ARROW_SCHEMA,
    )
    return table, reasons


def ingest_events(
    spark: SparkSession | None,
    events: list,
    sink: Callable[[pa.Table], None] | None = None,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
) -> tuple[list[int], dict[int, str]]:
    """Run one request through ``ingest``, hand the accepted payloads to
    ``sink`` (module docstring) and return (failure_indexes,
    reason_by_index); ``spark`` is unused (no Spark job runs) and kept
    for the transports' call shape. The indexes are sorted and unique:
    the semantics, not the goroutine-append order, of FailureIndexes."""
    payloads, reasons = ingest(events, max_message_bytes)
    if sink is not None and payloads.num_rows:
        sink(payloads)
    return sorted(reasons), reasons


def serve_ingest(
    spark: SparkSession | None,
    sink: Callable[[pa.Table], None] | None = None,
    port: int = 0,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
    host: str = "127.0.0.1",
) -> tuple[ThreadingHTTPServer, int]:
    """Serve the ingest API on a daemon thread; returns (server,
    bound_port). ``port=0`` binds an ephemeral port; call
    ``server.shutdown()`` to stop. ``sink`` receives each request's
    accepted payloads as a ``pyarrow.Table`` (module docstring), e.g.
    ``FileBus(...).produce``; ``None`` validates/encodes without
    delivering. ``host`` defaults to loopback (safe for tests); a deployed
    endpoint binds "0.0.0.0" (config key ``server.host``) — the
    served-S1 purpose needs a reachable socket, not just localhost."""

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, obj: dict | str) -> None:
            body = (
                obj.encode() if isinstance(obj, str) else json.dumps(obj).encode()
            )
            self.send_response(code)
            self.send_header(
                "Content-Type",
                "text/plain" if isinstance(obj, str) else "application/json",
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path.rstrip("/") == "/healthz".rstrip("/"):
                self._reply(200, "ok")
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):  # noqa: N802
            # a chunked or length-less POST would read as an EMPTY body
            # and be acked 200 with nothing ingested (and desync the
            # next keep-alive request): require a Content-Length
            if "chunked" in self.headers.get("Transfer-Encoding", "").lower():
                self._reply(411, {"error": "chunked encoding not supported"})
                return
            raw_len = self.headers.get("Content-Length")
            if raw_len is None:
                self._reply(411, {"error": "Content-Length required"})
                return
            try:
                payload = json.loads(self.rfile.read(int(raw_len)) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._reply(400, {"error": "invalid json"})
                return
            path = self.path.rstrip("/")
            try:
                if path == "/send-events":
                    if not isinstance(payload, dict):
                        self._reply(400, {"error": "body must be an object"})
                        return
                    events = payload.get("events", [])
                    if not isinstance(events, list):
                        self._reply(400, {"error": "events must be a list"})
                        return
                    if len(events) > MAX_REQUEST_EVENTS:
                        self._reply(413, {
                            "error": f"more than {MAX_REQUEST_EVENTS} events "
                            "in one request; use the file/Kafka source "
                            "path for backfill"
                        })
                        return
                    fail, _ = ingest_events(spark, events, sink, max_message_bytes)
                    self._reply(200, {"failure_indexes": fail})
                elif path == "/send-event":
                    fail, reasons = ingest_events(
                        spark, [payload], sink, max_message_bytes
                    )
                    if fail:
                        # single-event failure -> error response, like the
                        # gRPC SendEvent FailedPrecondition path
                        self._reply(422, {"error": reasons[0]})
                    else:
                        self._reply(200, {})
                else:
                    self._reply(404, {"error": "not found"})
            except Exception as ex:  # pipeline failure -> 500, keep serving
                self._reply(500, {"error": str(ex)[:500]})

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]
