"""Seeded input generators for every workload.

Three generators, each a pure function of ``seed`` (and a size):

* ``request_batches`` — the served-ingest traffic: 50-event
  ``/send-events`` batches shaped like the reference load test (11
  uuid->uuid props, half on the default topic, half on one of 7 random
  topics), with a fixed seeded share of invalid or oversized events
  whose indexes are the expected ``failure_indexes``.
* ``write_wire_file`` — the backfill input: one parquet file of
  wire-schema events whose event times span several days.
* ``write_tables`` — the query inputs: TPC-H-like tables plus the
  ``events``, ``documents`` and ``embeddings`` tables, with the same
  schemas and value shapes as the engine's test fixtures.

The engine only ever sees what these functions write or return.
"""

from __future__ import annotations

import os
import random
import uuid

import numpy as np

DEFAULT_TOPIC = "default-topic"
# the reference load test's random topics (tools/runner.go)
RANDOM_TOPICS = ["clemente", "sussie", "fay", "mallie", "vern", "kramer", "costanza"]
EVENT_NAME = "load test event"
PROPS_PAIRS = 11
#: size limit the served endpoint runs with (the reference's test
#: config); an "oversized" event carries one prop value this long
MAX_MESSAGE_BYTES = 30_000
#: share of each kind of bad event in the ingest traffic
INVALID_KINDS = {"empty_id": 0.02, "empty_name": 0.02, "no_timestamp": 0.02,
                 "oversized": 0.01}
DAY_MS = 86_400_000
#: backfill event times start here and spread over BACKFILL_DAYS days
BACKFILL_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
BACKFILL_DAYS = 5


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _event(rng: random.Random, ts_ms: int) -> dict:
    topic = DEFAULT_TOPIC if rng.random() < 0.5 else rng.choice(RANDOM_TOPICS)
    return {
        "id": _uuid(rng),
        "name": EVENT_NAME,
        "topic": topic,
        "props": {_uuid(rng): _uuid(rng) for _ in range(PROPS_PAIRS)},
        "timestamp": ts_ms,
    }


def _spoil(rng: random.Random, ev: dict) -> str | None:
    """Turn ``ev`` into an invalid event with the seeded probabilities;
    returns the kind, or None when the event stays valid."""
    x = rng.random()
    for kind, share in INVALID_KINDS.items():
        if x < share:
            break
        x -= share
    else:
        return None
    if kind == "empty_id":
        ev["id"] = ""
    elif kind == "empty_name":
        ev["name"] = ""
    elif kind == "no_timestamp":
        del ev["timestamp"]
    else:
        ev["props"]["blob"] = "a" * (MAX_MESSAGE_BYTES + 1)
    return kind


def request_batches(seed: int, n_requests: int, batch: int = 50,
                    base_ts_ms: int = BACKFILL_EPOCH_MS):
    """``n_requests`` lists of ``batch`` events plus, per request, the
    sorted indexes of the invalid ones (the exact expected
    ``failure_indexes``). Client timestamps are fixed by the seed, so
    the same seed gives byte-identical request bodies."""
    rng = random.Random(seed)
    out = []
    for r in range(n_requests):
        events, bad = [], []
        for i in range(batch):
            ev = _event(rng, base_ts_ms + r * 1000 + i)
            if _spoil(rng, ev):
                bad.append(i)
            events.append(ev)
        out.append((events, bad))
    return out


def wire_events(seed: int, n: int) -> tuple[list[tuple], list[int]]:
    """``n`` wire-schema rows ``(id, name, topic, props, timestamp)``
    for the backfill, with event times over ``BACKFILL_DAYS`` days, and
    the row indexes of the invalid ones."""
    rng = random.Random(seed)
    rows, bad = [], []
    for i in range(n):
        ts = BACKFILL_EPOCH_MS + rng.randrange(BACKFILL_DAYS * DAY_MS)
        ev = _event(rng, ts)
        if _spoil(rng, ev):
            bad.append(i)
        rows.append((ev["id"], ev["name"], ev["topic"], ev["props"],
                     ev.get("timestamp")))
    return rows, bad


def write_wire_file(path: str, rows: list[tuple]) -> None:
    """Write wire rows as one parquet file with the engine's wire
    schema (id, name, topic, props map, timestamp bigint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "id": pa.array(cols[0], pa.string()),
            "name": pa.array(cols[1], pa.string()),
            "topic": pa.array(cols[2], pa.string()),
            "props": pa.array([list(p.items()) for p in cols[3]],
                              pa.map_(pa.string(), pa.string())),
            "timestamp": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
_PART_ADJ = "red new hot small cold large old blue".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
_SEGMENTS = "MACHINERY FURNITURE BUILDING AUTOMOBILE HOUSEHOLD".split()
_PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
_PTYPES = "MEDIUM STANDARD LARGE PROMO SMALL ECONOMY".split()
_EVENT_TYPES = "signup error click view purchase".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _documents(rng, n: int):
    texts = []
    for i in range(n):
        dup_kind = rng.random()
        if texts and dup_kind < 0.002:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        if texts and dup_kind < 0.05:
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
            continue
        k = int(rng.integers(8, 96))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables as ``<out_dir>/<name>.parquet``;
    returns the row count of each."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    n_users = max(150, int(15_000 * sf))
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": _REGIONS})
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = size["customer"]
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n)})
    n = size["supplier"]
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = size["part"]
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})
    n = size["orders"]
    # a third of the customers place no orders (anti-join queries)
    buyers = size["customer"] * 2 // 3
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, buyers, n).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": rng.choice(_PRIORITIES, n)})
    n = size["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, size["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, size["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, size["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n)})
    n = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = size["documents"]
    texts = _documents(rng, n)
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = size["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
