"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per workload and mode (several minutes
in all); ``-k 'not smoke'`` runs only the fast tests.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- generators ---------------------------------------------------------------


def test_request_batches_are_deterministic_per_seed():
    a = datagen.request_batches(7, 5)
    assert a == datagen.request_batches(7, 5)
    assert a != datagen.request_batches(8, 5)
    assert all(len(events) == 50 for events, _ in a)


def test_request_batches_expected_failures_are_exactly_the_spoiled_events():
    for events, bad in datagen.request_batches(3, 40):
        spoiled = [
            i for i, e in enumerate(events)
            if e["id"] == "" or e["name"] == "" or "timestamp" not in e
            or "blob" in e["props"]
        ]
        assert bad == spoiled


def test_request_events_have_the_reference_load_test_shape():
    events = [e for batch, _ in datagen.request_batches(5, 40) for e in batch]
    valid = [e for e in events if "blob" not in e["props"]]
    assert all(len(e["props"]) == datagen.PROPS_PAIRS for e in valid)
    default = sum(e["topic"] == datagen.DEFAULT_TOPIC for e in events) / len(events)
    assert 0.4 < default < 0.6
    assert {e["topic"] for e in events} - {datagen.DEFAULT_TOPIC} <= set(datagen.RANDOM_TOPICS)
    share = sum(1 for _, bad in datagen.request_batches(5, 40) for _ in bad) / len(events)
    assert 0.03 < share < 0.12


def test_wire_events_are_deterministic_and_span_several_days():
    rows, bad = datagen.wire_events(11, 2000)
    assert (rows, bad) == datagen.wire_events(11, 2000)
    days = {r[4] // datagen.DAY_MS for r in rows if r[4] is not None}
    assert len(days) == datagen.BACKFILL_DAYS
    assert bad and all(rows[i][4] is None or rows[i][0] == "" or rows[i][1] == ""
                       or "blob" in rows[i][3] for i in bad)


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        import pyarrow.parquet as pq

        h.update(name.encode())
        h.update(pq.read_table(os.path.join(d, name)).to_pandas().to_json().encode())
    return h.hexdigest()


def test_query_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    sizes = datagen.write_tables(str(a), 5, 0.001)
    datagen.write_tables(str(b), 5, 0.001)
    datagen.write_tables(str(c), 6, 0.001)
    assert sizes["lineitem"] == 6000 and sizes["region"] == 5
    assert _digest(a) == _digest(b) != _digest(c)


# -- statistics ---------------------------------------------------------------


@pytest.mark.parametrize("n,p", [(19, None), (20, None), (39, None), (40, 75),
                                 (99, 75), (100, 90), (199, 90), (200, 95),
                                 (999, 95), (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([3.0], 99) == 3.0
    s = stats.summary(xs)
    assert s == {"n": 100, "p50": 50.5, "p90": 90}


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    sp = [
        {"id": 1, "name": "a.x", "start": 0.0, "end": 10.0, "parent": None, "rid": None},
        {"id": 2, "name": "b.y", "start": 1.0, "end": 3.0, "parent": 1, "rid": None},
        {"id": 3, "name": "b.y", "start": 2.0, "end": 5.0, "parent": 1, "rid": None},
        {"id": 4, "name": "c.z", "start": 8.0, "end": 12.0, "parent": 1, "rid": None},
        {"id": 5, "name": "d.w", "start": 2.5, "end": 2.75, "parent": 3, "rid": None},
    ]
    st = spans.self_times(sp)
    assert st[1] == pytest.approx(10 - 4 - 2)  # [1,5] and [8,10] inside the parent
    assert st[3] == pytest.approx(3 - 0.25)
    table = spans.self_time_table(sp)
    assert table["b.y"]["count"] == 2
    assert table["b.y"]["total_s"] == pytest.approx(5.0)
    assert table["b.y"]["self_s"] == pytest.approx(4.75)


def test_wrapped_calls_nest_and_unwrap():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = spans.Tracer()
    t.wrap(Box, "outer", "layer.outer", rid_of=lambda a, k: "r1")
    t.wrap(Box, "inner", "layer.inner", nested_only=True)
    assert Box().inner() == 1 and not t.spans  # not nested: no span
    assert Box().outer() == 2
    names = {s["name"]: s for s in t.spans}
    assert names["layer.inner"]["parent"] == names["layer.outer"]["id"]
    assert names["layer.inner"]["rid"] == "r1"
    t.unwrap_all()
    Box().outer()
    assert len(t.spans) == 2


def test_parse_metric_reads_spark_formatted_values():
    assert probes.parse_metric("20") == 20
    assert probes.parse_metric("total (min, med, max (stageId: taskId))\n8.7 s (1 s)") == 8.7
    assert probes.parse_metric("total (min, med, max)\n633 ms (1 ms)") == pytest.approx(0.633)
    assert probes.parse_metric("total (min, med, max)\n3.9 KiB (1 B)") == pytest.approx(3.9 * 1024)
    assert probes.parse_metric("total (min, med, max)\n1.5 m (1 s)") == 90


def test_a_process_the_jvm_is_spawning_does_not_count_the_jvm_twice(monkeypatch):
    me = os.getpid()
    monkeypatch.setattr(probes, "_ppid", lambda pid: pid + 1)
    monkeypatch.setattr(probes, "_comm", lambda pid: "java")
    assert probes.rss_bytes(me) == 0
    monkeypatch.setattr(probes, "_comm", lambda pid: "java" if pid == me else "python3")
    assert probes.rss_bytes(me) > 0


# -- smoke runs -------------------------------------------------------------------

SMOKE = [(w, t) for w in workloads.WORKLOADS for t in (0, 1)]


@pytest.mark.parametrize("workload,trace", SMOKE)
def test_smoke_run_prints_every_named_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0


def test_without_the_engine_the_benchmark_fails_fast(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
