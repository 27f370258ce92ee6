"""Ingest-path transforms (SURVEY §2.2 P1-P6, §2.4 A4).

The reference implements these as imperative Go on a per-event basis in
the gRPC server (server/sender/kafka.go); here each is a declarative
DataFrame→DataFrame function so Catalyst fuses them into the scan and
the whole validate→enrich→route path stays inside whole-stage codegen.

All DataFrame functions accept either a batch or a streaming DataFrame
with the wire-event schema (schemas.WIRE_EVENT_SCHEMA). The reject
rules (P1, P2) are one table, REJECT_RULES, that compiles both to the
Spark Columns of validate()/size_limit() and to the pure-Python
reject_reason() the served endpoints run in process (ingest_http.py).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable, Mapping, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eventsgateway_spark.schemas import WIRE_EVENT_SCHEMA

#: Default producer limit — reference server/app/app.go:94
#: ("kafka.producer.maxMessageBytes"); tests use 30,000
#: (server/config/test.yaml).
DEFAULT_MAX_MESSAGE_BYTES = 1_000_000

#: Kafka topic prefix — reference server/app/app.go:100 / README
#: ("sv-uploads-<topic>").
TOPIC_PREFIX = "sv-uploads-"


class ValidationSplit(NamedTuple):
    valid: DataFrame
    quarantine: DataFrame


# Value operations the reject checks are written in. Each works on a
# Spark Column (building an expression) and on a plain Python value
# (evaluating it), so one check serves both ingest paths.


def _is_null(v):
    return v.isNull() if isinstance(v, Column) else v is None


def _byte_len(v):
    return F.length(v) if isinstance(v, Column) else len(v)


def _has_null_value(m):
    """True when a props map carries a NULL value. The Avro map is
    string→string (schemas.py mirrors the reference proto): a null
    value crashes BOTH encoders at execution time, so it must be a
    reject reason, not a batch-killing executor error."""
    if isinstance(m, Column):
        return m.isNotNull() & F.exists(F.map_values(m), lambda v: v.isNull())
    return m is not None and any(v is None for v in m.values())


class RejectRule(NamedTuple):
    reason: str
    field: str
    #: ``check(value, max_bytes)`` — true when the event is rejected
    check: Callable


#: THE ingest reject rules, in the order they are checked; the first
#: rule that fires names the reject reason. P1 — the reference rejects
#: events missing id/topic/name or with a zero timestamp
#: (server/sender/kafka.go:89-94); null prop VALUES are rejected too
#: because the wire map type cannot encode them. P2 — the encoded
#: payload (``value``) must stay under the producer's message limit
#: (server/sender/kafka.go:76-82), so that rule runs after the
#: enrich (P5) / route (P6) / encode stages. The Spark plan
#: (validate, size_limit) and the in-process path (reject_reason) are
#: both derived from this table.
REJECT_RULES: tuple[RejectRule, ...] = (
    RejectRule("missing_id", "id", lambda v, _: _is_null(v) | (v == "")),
    RejectRule("missing_topic", "topic", lambda v, _: _is_null(v) | (v == "")),
    RejectRule("missing_name", "name", lambda v, _: _is_null(v) | (v == "")),
    RejectRule("missing_timestamp", "timestamp", lambda v, _: _is_null(v) | (v == 0)),
    RejectRule("null_prop_value", "props", lambda v, _: _has_null_value(v)),
    RejectRule("too_large", "value", lambda v, max_bytes: _byte_len(v) >= max_bytes),
)


def _split(df: DataFrame, rules, max_bytes: int, col=F.col) -> ValidationSplit:
    """Apply ``rules`` (fields read through ``col``): rows no rule fires
    on are valid; the rest are quarantined with the first firing rule's
    reason. The valid filter is the plain NOT(any rule) predicate, so
    Catalyst can still push it into a scan."""
    conds = [(r.check(col(r.field), max_bytes), r.reason) for r in rules]
    reason = F.when(*conds[0])
    for cond, why in conds[1:]:
        reason = reason.when(cond, why)
    bad = reduce(operator.or_, (cond for cond, _ in conds))
    return ValidationSplit(
        valid=df.filter(~bad),
        quarantine=df.filter(bad).withColumn("reject_reason", reason),
    )


def reject_reason(
    row: Mapping, max_bytes: int = DEFAULT_MAX_MESSAGE_BYTES
) -> str | None:
    """Pure-Python twin of the Spark plan: the first REJECT_RULES
    reason that fires on ``row``, or None. Only the rules whose field
    ``row`` carries are checked — a wire row (all five wire fields,
    absent ones as None) gets the P1 rules, ``{"value": payload}`` the
    P2 rule — exactly as validate() and size_limit() split them."""
    for r in REJECT_RULES:
        if r.field in row and r.check(row[r.field], max_bytes):
            return r.reason
    return None


def validate(df: DataFrame) -> ValidationSplit:
    """P1 + A4 — split into (valid, quarantine). The reference returns
    failure indexes to the client (server/app/server.go:59-65); the
    engine's analog is a quarantine side-output the caller can sink,
    tagged with the rejection reason."""
    wire = set(WIRE_EVENT_SCHEMA.fieldNames())
    rules = [r for r in REJECT_RULES if r.field in wire]
    return _split(df, rules, DEFAULT_MAX_MESSAGE_BYTES)


def enrich(df: DataFrame) -> DataFrame:
    """P5 — stamp ``serverTimestamp = now()`` in epoch millis (ingest /
    processing time; reference server/sender/kafka.go:108) and map the
    wire ``timestamp`` to ``clientTimestamp`` (event time).

    Id stamping is split exactly like the reference: the *client* side
    (Gateway.send_at, mirroring client/client.go:232) assigns uuids, and
    the *server* side rejects id-less events in validate() — so no uuid
    backfill happens here."""
    return df.withColumn(
        "serverTimestamp", F.unix_millis(F.current_timestamp())
    ).withColumnRenamed("timestamp", "clientTimestamp")


def route_topic(df: DataFrame) -> DataFrame:
    """P6 — per-event physical topic: ``sv-uploads-`` + topic
    (server/forwarder/kafka.go:65, server/app/app.go:100). Spark's Kafka
    sink honors a per-row ``topic`` column, so routing is a projection,
    not a fan-out loop."""
    return df.withColumn("sink_topic", F.concat(F.lit(TOPIC_PREFIX), F.col("topic")))


def to_storage(df: DataFrame) -> DataFrame:
    """Proto→Avro projection: keep the five stored fields, drop the
    routing topic (server/sender/kafka.go:102-117 — `Topic` exists only
    on the wire)."""
    return df.select("id", "name", "props", "serverTimestamp", "clientTimestamp")


def size_limit(df: DataFrame, payload_col: str, max_bytes: int = DEFAULT_MAX_MESSAGE_BYTES) -> ValidationSplit:
    """P2 — drop events whose encoded payload is ≥ max_bytes
    (server/sender/kafka.go:76-82). Applied after encoding, on the
    binary column, like the reference checks len(Avro bytes)."""
    rules = [r for r in REJECT_RULES if r.field == "value"]
    return _split(df, rules, max_bytes, lambda _: F.col(payload_col))


def derive_date_partitions(df: DataFrame, ts_col: str = "clientTimestamp") -> DataFrame:
    """P4 — the notebook's year/month/day derivation from event-time
    epoch millis (.ipynb:103-106): partitioning is by *client* time, so
    late or clock-skewed events land in old partitions by design."""
    d = F.to_date(F.from_unixtime(F.col(ts_col) / 1000))
    return (
        df.withColumn("year", F.date_format(d, "yyyy"))
        .withColumn("month", F.date_format(d, "MM"))
        .withColumn("day", F.date_format(d, "dd"))
    )


def flatten_envelope(df: DataFrame, struct_col: str = "event") -> DataFrame:
    """P3 — `event.*` → top-level columns with lowercase names
    (.ipynb:97-107)."""
    flat = df.select(f"{struct_col}.*")
    return flat.select([F.col(c).alias(c.lower()) for c in flat.columns])
