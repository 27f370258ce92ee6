"""The workloads. Each one makes its inputs from the seed, sets the system
up once, runs for the window, checks every output, and returns its
end-to-end and per-layer numbers.

End-to-end metrics (every workload reports all four):

    setup_s         process start to ready, less input generation:
                    interpreter, imports, JVM launch, session start and
                    the workload's warm-up (for ingest also the server
                    bound, the stream started, the warm-up requests and
                    the stream drained after them)
    latency_p50_ms  typical time of one operation as its caller waits for
                    it: the median /send-events RPC timed from its due
                    time (ingest), the median bulk landing (backfill),
                    the median over every timed query run, including the
                    release after it (query)
    ready_s         time from input to readable result: median event
                    freshness, from the request's due time to the commit
                    of the micro-batch holding the event (ingest); median
                    time from a landing's start to the commit of its
                    batch (backfill); one pass over the query list, as
                    the sum of per-query medians (query)
    peak_rss_mb     peak resident memory of the process tree under test
                    (this process, the JVM and the Python workers; not the
                    load generator), summed as Pss so that pages forked
                    workers share are counted once, over set-up and the
                    timed window; the untimed correctness checks are left
                    out
"""

from __future__ import annotations

import gc
import json
import os
import random
import subprocess
import sys
import time
from collections import Counter

import datagen
import probes
from stats import median, summary

#: the whole driver heap is committed and touched at JVM start, so peak
#: RSS does not depend on when the collector chose to grow the heap; it
#: moves with memory outside the fixed heap (Python driver and workers,
#: JVM metaspace, threads, direct buffers)
DRIVER_MEM = "2g"
SESSION_CONFS = {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
#: the timed query list (registry prefixes): one query from each registry
#: module but ext_pipeline and ext_curation, small enough that a checked
#: cold pass and two timed passes fit one run. The dedup row is q31
#: (MinHash-LSH banding join): q32, the connected-component loop, takes
#: about 6 s a run on 4 cores and would not fit.
QUERY_LIST = ("q09", "q54", "q22", "q31", "q38", "q79", "q82")
#: registry module of each query in the list, for the per-module totals
QUERY_MODULES = ("relational", "events", "advanced", "ext_dedup", "ext_similarity",
                 "ext_text", "ext_sampling")
#: results checked for shape only: approximate by design, no exact oracle
APPROX_ROWS = ("q23", "q50", "q79")
#: timed passes run until the window has passed and at least this many
#: are complete (the checked pass before them has warmed every query)
MIN_PASSES = 2
#: scale of the generated query tables (TPC-H-like scale factor)
QUERY_SF = 0.1

#: ingest: open-loop request rate (requests/s) and connections. The rate
#: keeps a request's two Spark jobs and the micro-batch it triggers
#: clear of the next request on 4 cores (closed loop, one connection
#: serves about 0.8 requests/s).
INGEST_RATE = 0.5
INGEST_CONNECTIONS = 4
#: warm-up requests sent one after another during set-up, from a seed
#: stream disjoint from the measured one; the stream is drained after
#: them. A fresh server's request latency keeps falling until it has
#: handled about 15 requests (by some 15% after the first few); with
#: less warm-up the measured window holds part of that fall, and its
#: median moves with where the fall ends.
INGEST_WARMUP = 14
#: backfill: wire events per landing, and the warm-up landing size
BACKFILL_EVENTS = 20_000
WARMUP_EVENTS = 500

PER_LAYER = (
    ["session.cold_start_s",
     "ingest_http.busy_ms_p50", "ingest_http.wait_ms_p50",
     "ingest_http.jobs_per_request", "ingest_http.tasks_per_request",
     "gateway.plan_ms",
     "python.total_s", "python.boot_s", "python.rows", "python.bytes_sent",
     "kafka.produce_ms_p50", "kafka.files", "kafka.bytes",
     "pipeline.batches", "pipeline.trigger_ms_p50", "pipeline.add_batch_ms_p50",
     "pipeline.planning_ms_p50", "pipeline.wal_commit_ms_p50",
     "pipeline.rows_per_batch_p50", "pipeline.backlog_files_max",
     "lakehouse.files", "lakehouse.bytes", "lakehouse.partitions",
     "queries.build_s", "queries.action_s"]
    + [f"{m}.s" for m in QUERY_MODULES]
    + [f"{q}.s" for q in QUERY_LIST]
    + ["util.unpin_s", "util.persisted_rdds_max", "util.cached_bytes_max",
       "spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.run_s",
       "spark.gc_s", "spark.slot_util", "spark.shuffle_write_bytes",
       "spark.shuffle_read_bytes", "spark.input_bytes", "spark.spill_bytes"]
)


def _p50(xs, scale=1.0):
    return median(xs) * scale if xs else 0.0


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


class Workload:
    """Shared flow: inputs → set-up → window → checks."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: seed, seconds, tracer, tmp, rss
        self.seed = ctx.seed
        self.tracer = ctx.tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer = dict.fromkeys(PER_LAYER, 0.0)
        self.figures: dict = {}  # workload-specific figures for the summary

    # -- hooks -----------------------------------------------------------
    def inputs(self):
        pass

    def setup(self):
        raise NotImplementedError

    def teardown(self):
        pass

    def measure(self) -> dict:
        raise NotImplementedError

    # -- helpers ---------------------------------------------------------
    def fail(self, n: int, why: str):
        self.failed += n
        if len(self.notes) < 20:
            self.notes.append(why)

    def start_session(self):
        from eventsgateway_spark import session

        t0 = time.time()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench", **SESSION_CONFS)
        self.layer["session.cold_start_s"] = time.time() - t0

    def window_end(self):
        """Close the memory window; the checks after it are left out."""
        self.peak_rss = max(self.peak_rss, self.ctx.rss.stop())

    def run(self) -> dict:
        t0 = time.time()
        self.inputs()
        # set-up runs from process start, less input generation
        t_setup = process_start_time() + (time.time() - t0)
        self.setup()
        setup_s = time.time() - t_setup
        self.peak_rss = 0
        e2e = self.measure()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = self.peak_rss / (1 << 20)
        self.figures["setup_s"] = e2e["setup_s"]
        self.figures["peak_rss_mb"] = e2e["peak_rss_mb"]
        return e2e

    # -- per-layer readers (traced runs) -----------------------------------
    def counters_start(self):
        if not self.tracer.enabled:
            return
        self._counters = probes.SparkCounters(self.spark)
        self._c0 = self._counters.snapshot()
        self._exec0 = probes.sql_max_execution_id(self.spark)

    def counters_end(self):
        if not self.tracer.enabled:
            return
        c1 = self._counters.snapshot()
        stages = self._counters.stages_since(self._c0["max_stage_id"])
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.layer.update(probes.spark_layer(self._c0, c1, stages, cores))
        self.layer.update(probes.python_layer(self.spark, self._exec0))


# ---------------------------------------------------------------------------
# ingest: served /send-events with a continuous run_etl
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Open-loop 50-event /send-events batches at INGEST_RATE requests/s
    from a separate process, a FileBus sink, and a continuous run_etl
    draining the bus into the lakehouse table in this process."""

    name = "ingest"

    def inputs(self):
        self.n_requests = max(1, round(INGEST_RATE * self.ctx.seconds))
        self.batches = datagen.request_batches(self.seed, self.n_requests)
        self.warmup = datagen.request_batches(self.seed + 1_000_003, INGEST_WARMUP)

    def setup(self):
        from eventsgateway_spark import ingest_http
        from eventsgateway_spark.sources.kafka import FileBus
        from eventsgateway_spark.streaming.pipeline import run_etl

        self.start_session()
        d = self.ctx.tmp
        self.bus_root, self.table = os.path.join(d, "bus"), os.path.join(d, "table")
        self.ckpt = os.path.join(d, "ckpt")
        self.progress: list[dict] = []
        if self.tracer.enabled:
            self._trace_hooks()
        self.bus = FileBus(self.spark, self.bus_root)
        self.query = run_etl(self.spark, self.bus.consume_stream(), self.table,
                             self.ckpt, trigger_once=False)
        self.server, self.port = ingest_http.serve_ingest(
            self.spark, self.bus.produce, max_message_bytes=datagen.MAX_MESSAGE_BYTES)
        warm_ms = []
        for events, bad in self.warmup:
            t0 = time.time()
            status, fail = _post(self.port, events)
            warm_ms.append(round((time.time() - t0) * 1000))
            if status != 200 or fail != bad:
                raise RuntimeError(f"warm-up request failed: {status} {fail} != {bad}")
        self.query.processAllAvailable()
        self.figures["warmup_ms"] = warm_ms

    def _trace_hooks(self):
        from eventsgateway_spark import ingest_http
        from eventsgateway_spark.sources.kafka import FileBus

        from loadgen import request_key

        tracer = self.tracer
        orig_ingest_events = ingest_http.ingest_events

        def ingest_events(spark, events, *a, **kw):
            rid = request_key(events) if events and isinstance(events[0], dict) else None
            spark.sparkContext.setJobGroup(rid or "none", "perfbench request")
            with tracer.span("ingest_http.ingest_events", rid):
                return orig_ingest_events(spark, events, *a, **kw)

        tracer.replace(ingest_http, "ingest_events", ingest_events)
        tracer.wrap(ingest_http, "ingest", "gateway.ingest")
        tracer.wrap(FileBus, "produce", "kafka.produce")
        # the session's concrete DataFrame class (Spark 4 subclasses it)
        tracer.wrap(type(self.spark.range(1)), "collect", "ingest_http.verdict_collect",
                    nested_only=True)
        probes.progress_listener(self.spark, self.progress)

    def teardown(self):
        self.server.shutdown()
        self.server.server_close()
        self.query.stop()

    def _backlog_sampler(self, stop, out):
        while not stop.wait(0.25):
            produced = len(probes.data_files(self.bus_root))
            out.append(produced - probes.source_log_files(self.ckpt))

    def measure(self):
        import threading

        self.counters_start()
        stop, backlog = threading.Event(), []
        sampler = None
        if self.tracer.enabled:
            sampler = threading.Thread(target=self._backlog_sampler, args=(stop, backlog),
                                       daemon=True)
            sampler.start()
        out = os.path.join(self.ctx.tmp, "loadgen.json")
        start = time.time() + 1.0
        here = os.path.dirname(os.path.abspath(__file__))
        proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "loadgen.py"), "--port", str(self.port),
             "--seed", str(self.seed), "--rate", str(INGEST_RATE),
             "--requests", str(self.n_requests),
             "--start", repr(start),
             "--connections", str(INGEST_CONNECTIONS), "--out", out])
        self.ctx.rss.exclude.add(proc.pid)
        try:
            proc.wait(timeout=self.n_requests / INGEST_RATE + 120)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        self.query.processAllAvailable()
        self.window_end()
        if sampler:
            stop.set()
            sampler.join()
        self.counters_end()
        with open(out) as f:
            records = json.load(f)
        return self._check(records, backlog)

    def _check(self, records, backlog):
        from pyspark.sql import functions as F

        # the warm-up requests are checked too: their verdicts in set-up,
        # their landed events here
        self.attempted = len(records) + len(self.warmup)
        rows = (self.spark.read.parquet(self.table)
                .select("id", "name", "props", "clientTimestamp",
                        F.input_file_name().alias("file")).collect())
        landed: dict[str, list] = {}
        for r in rows:
            landed.setdefault(r["id"], []).append(r)
        commit = {}
        for _, t, files in probes.sink_log(self.table):
            for f in files:
                commit[f] = t
        expected = {}
        for events, bad in self.warmup:
            acked = [ev for i, ev in enumerate(events) if i not in bad]
            expected.update((ev["id"], (ev, None)) for ev in acked)
            if not all(landed.get(ev["id"]) and _same_event(landed[ev["id"]][0], ev)
                       for ev in acked):
                self.fail(1, "warm-up request: acked events missing or changed")
        rpc_ms, fresh_s = [], []
        for rec in records:
            events, bad = self.batches[rec["i"]]
            if rec.get("status") != 200 or rec.get("failure_indexes") != bad:
                self.fail(1, f"request {rec['i']}: status {rec.get('status')} "
                             f"failure_indexes {rec.get('failure_indexes')} != {bad}")
                continue
            rpc_ms.append((rec["done"] - rec["due"]) * 1000)
            ok = True
            for i, ev in enumerate(events):
                if i in bad:
                    continue
                expected[ev["id"]] = (ev, rec)
                got = landed.get(ev["id"])
                if not got or not _same_event(got[0], ev):
                    ok = False
                    continue
                t = commit.get(os.path.basename(got[0]["file"]))
                if t is None:
                    ok = False
                    continue
                fresh_s.append(t - rec["due"])
            if not ok:
                self.fail(1, f"request {rec['i']}: acked events missing or changed")
        extra = [i for i in landed if i not in expected]
        if extra:
            self.fail(len(extra), f"{len(extra)} landed events were never sent")
        dups = sum(len(v) - 1 for v in landed.values())
        if not rpc_ms:
            raise RuntimeError("no request succeeded")
        late = [r["late"] * 1000 for r in records]
        rpc, fresh = summary(rpc_ms), summary(fresh_s)
        self.figures.update({
            "rate_rps": INGEST_RATE, "requests": len(records),
            "warmup_requests": INGEST_WARMUP,
            "rpc_ms": rpc, "fresh_s": fresh, "duplicates": dups,
            "late_ms_p50": median(late), "late_ms_max": max(late),
            "events_landed": len(fresh_s),
            "rpc_samples_ms": [round(x) for x in rpc_ms],
        })
        if self.tracer.enabled:
            self._layers(records, backlog)
        return {"latency_p50_ms": rpc["p50"], "ready_s": fresh["p50"] if fresh_s else 0.0}

    def _layers(self, records, backlog):
        spans = [s for s in self.tracer.spans if s["name"] == "ingest_http.ingest_events"]
        by_rid = {s["rid"]: s for s in spans}
        busy, wait = [], []
        for rec in records:
            s = by_rid.get(rec["key"])
            if s is None or "done" not in rec:
                continue
            busy.append((s["end"] - s["start"]) * 1000)
            wait.append((rec["done"] - rec["due"] - (s["end"] - s["start"])) * 1000)
        groups = self._counters.jobs_by_group(self._c0["max_job_id"])
        keys = [r["key"] for r in records]
        jobs = [len(groups.get(k, [])) for k in keys]
        tasks = [sum(groups.get(k, [])) for k in keys]
        self.layer.update({
            "ingest_http.busy_ms_p50": _p50(busy),
            "ingest_http.wait_ms_p50": _p50(wait),
            "ingest_http.jobs_per_request": _p50(jobs),
            "ingest_http.tasks_per_request": _p50(tasks),
            **stream_layers(self.tracer, self.progress, self.bus_root, self.table,
                            max(backlog, default=0), since=records[0]["due"]),
        })


def stream_layers(tracer, progress, bus_root, table, backlog_max, since) -> dict:
    """The gateway, kafka, pipeline and lakehouse figures shared by the
    two landing workloads: medians of the spans and of the micro-batches
    that took rows in from ``since`` on (each micro-batch is also
    recorded as a span), and listings of the bus and the table."""
    prog = []
    for p in progress:
        start = _iso_ts(p["timestamp"])
        if p["numInputRows"] > 0 and start >= since:
            prog.append(p)
            tracer.add("pipeline.micro_batch", start,
                       start + p["durationMs"].get("triggerExecution", 0) / 1000,
                       rid=p["batchId"])
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    bus, tbl = probes.listing(bus_root), probes.listing(table)
    return {
        "gateway.plan_ms": _p50(tracer.durations("gateway.ingest", since), 1000),
        "kafka.produce_ms_p50": _p50(tracer.durations("kafka.produce", since), 1000),
        "kafka.files": bus["files"], "kafka.bytes": bus["bytes"],
        "pipeline.batches": len(prog),
        "pipeline.trigger_ms_p50": _p50(dur("triggerExecution")),
        "pipeline.add_batch_ms_p50": _p50(dur("addBatch")),
        "pipeline.planning_ms_p50": _p50(dur("queryPlanning")),
        "pipeline.wal_commit_ms_p50": _p50(dur("walCommit")),
        "pipeline.rows_per_batch_p50": _p50([p["numInputRows"] for p in prog]),
        "pipeline.backlog_files_max": backlog_max,
        "lakehouse.files": tbl["files"], "lakehouse.bytes": tbl["bytes"],
        "lakehouse.partitions": tbl["partitions"],
    }


def _iso_ts(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _post(port: int, events: list[dict]):
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    conn.request("POST", "/send-events", json.dumps({"events": events}),
                 {"Content-Type": "application/json"})
    resp = conn.getresponse()
    body = json.loads(resp.read())
    conn.close()
    return resp.status, body.get("failure_indexes")


def _same_event(row, ev: dict) -> bool:
    return (row["name"] == ev["name"] and dict(row["props"]) == ev["props"]
            and row["clientTimestamp"] == ev["timestamp"])


# ---------------------------------------------------------------------------
# backfill: bulk landing of a wire file
# ---------------------------------------------------------------------------


class Backfill(Workload):
    """gateway.ingest → FileBus.produce → run_etl(trigger_once) → table,
    over a seeded wire file whose event times span several days."""

    name = "backfill"

    def inputs(self):
        d = os.path.join(self.ctx.tmp, "inputs")
        os.makedirs(d)
        rows, bad = datagen.wire_events(self.seed, BACKFILL_EVENTS)
        self.wire = os.path.join(d, "wire.parquet")
        datagen.write_wire_file(self.wire, rows)
        bad = set(bad)
        self.expected = Counter(
            (r[0], r[1], tuple(sorted(r[3].items())), r[4])
            for i, r in enumerate(rows) if i not in bad)
        warm_rows, _ = datagen.wire_events(self.seed + 1_000_003, WARMUP_EVENTS)
        self.warm_wire = os.path.join(d, "warm.parquet")
        datagen.write_wire_file(self.warm_wire, warm_rows)

    def setup(self):
        self.start_session()
        self.progress: list[dict] = []
        if self.tracer.enabled:
            from eventsgateway_spark import gateway
            from eventsgateway_spark.sources.kafka import FileBus

            self.tracer.wrap(gateway, "ingest", "gateway.ingest")
            self.tracer.wrap(FileBus, "produce", "kafka.produce")
            probes.progress_listener(self.spark, self.progress)
        self._land(self.warm_wire, os.path.join(self.ctx.tmp, "warmup"))

    def _land(self, wire: str, d: str):
        from eventsgateway_spark import gateway
        from eventsgateway_spark.sources.kafka import FileBus
        from eventsgateway_spark.streaming.pipeline import run_etl

        bus = FileBus(self.spark, os.path.join(d, "bus"))
        res = gateway.ingest(self.spark, self.spark.read.parquet(wire),
                             max_message_bytes=datagen.MAX_MESSAGE_BYTES)
        bus.produce(res.payloads)
        q = run_etl(self.spark, bus.consume_stream(), os.path.join(d, "table"),
                    os.path.join(d, "ckpt"), trigger_once=True)
        with self.tracer.span("pipeline.run_etl"):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def measure(self):
        self.counters_start()
        took, ready, dirs = [], [], []
        t_start = time.time()
        t_end = t_start + self.ctx.seconds
        while not took or time.time() < t_end:
            d = os.path.join(self.ctx.tmp, f"landing{len(took)}")
            t0 = time.time()
            with self.tracer.span("backfill.landing", rid=len(took)):
                self._land(self.wire, d)
            took.append(time.time() - t0)
            log = probes.sink_log(os.path.join(d, "table"))
            ready.append(max(t for _, t, _ in log) - t0 if log else 0.0)
            dirs.append(d)
        self.window_end()
        self.counters_end()
        self.attempted = len(dirs)
        for d in dirs:
            got = Counter(
                (r["id"], r["name"], tuple(sorted(r["props"].items())), r["clientTimestamp"])
                for r in self.spark.read.parquet(os.path.join(d, "table"))
                .select("id", "name", "props", "clientTimestamp").collect())
            if got != self.expected:
                self.fail(1, f"{d}: {sum(got.values())} rows landed, "
                             f"{sum(self.expected.values())} expected")
        n_valid = sum(self.expected.values())
        self.figures.update({"events_per_s": n_valid / median(took), "landings": len(took),
                           "events_per_landing": n_valid})
        if self.tracer.enabled:
            # every landing starts from an empty bus, so the backlog is
            # the whole produced file set of the last one
            last = dirs[-1]
            self.layer.update(stream_layers(
                self.tracer, self.progress, os.path.join(last, "bus"),
                os.path.join(last, "table"),
                probes.listing(os.path.join(last, "bus"))["files"], since=t_start))
        return {"latency_p50_ms": median(took) * 1000, "ready_s": median(ready)}


# ---------------------------------------------------------------------------
# query: registry queries over generated tables
# ---------------------------------------------------------------------------


class QuerySet(Workload):
    """QUERY_LIST at QUERY_SF, in a seeded shuffled order per pass. One
    untimed pass checks every output against its DuckDB oracle (which
    also warms the session); then timed passes run until the window has
    passed and at least MIN_PASSES are complete."""

    name = "query"

    def inputs(self):
        self.data = os.path.join(self.ctx.tmp, "tables")
        self.sizes = datagen.write_tables(self.data, self.seed, QUERY_SF)

    def setup(self):
        self.start_session()
        from eventsgateway_spark.queries import QUERIES

        by_prefix = {n.split("_", 1)[0]: n for n in QUERIES}
        self.names = [by_prefix[p] for p in QUERY_LIST]
        for t in self.sizes:  # open every table: listing and footer
            self.spark.read.parquet(os.path.join(self.data, f"{t}.parquet")).schema
        if self.tracer.enabled:
            from eventsgateway_spark.queries import _util

            for n in self.names:
                self.tracer.wrap(QUERIES, n, "queries.build", rid_of=lambda a, k, n=n: n,
                                 item=True)
            self.tracer.wrap(_util, "unpin_all", "_util.unpin_all")

    def _oracle(self):
        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tests"))
        from oracle_harness import compare_spark_duckdb

        from eventsgateway_spark.queries import ORACLE_SQL, QUERIES
        from eventsgateway_spark.queries import _util

        con = duckdb.connect()
        for t in self.sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data, t + '.parquet')}'")
        order = list(self.names)
        random.Random(self.seed).shuffle(order)
        for n in order:
            self.attempted += 1
            try:
                df = QUERIES[n](self.spark, self.data)
                if n.split("_", 1)[0] in APPROX_ROWS or n not in ORACLE_SQL:
                    if not df.columns or not df.limit(1).collect():
                        raise AssertionError("empty result")
                else:
                    compare_spark_duckdb(df, con, ORACLE_SQL[n])
            except Exception as ex:
                self.fail(1, f"{n}: {str(ex)[:300]}")
            finally:
                _util.unpin_all()
        con.close()

    def measure(self):
        from eventsgateway_spark.queries import QUERIES
        from eventsgateway_spark.queries import _util

        # the memory window covers set-up and the timed passes, not the
        # checked pass (DuckDB and the collected results live in this
        # process)
        self.peak_rss = self.ctx.rss.restart()
        t0 = time.time()
        self._oracle()
        self.figures["checked_pass_s"] = time.time() - t0
        gc.collect()
        self.ctx.rss.restart()
        self.counters_start()
        counters = self._counters if self.tracer.enabled else None
        jvm_gc = self.spark.sparkContext._jvm.System.gc
        samples: dict[str, list[float]] = {n: [] for n in self.names}
        storage = []
        t_end = time.time() + self.ctx.seconds
        passes = 0
        while passes < MIN_PASSES or time.time() < t_end:
            order = list(self.names)
            random.Random(self.seed * 1000 + passes).shuffle(order)
            for n in order:
                t0 = time.perf_counter()
                with self.tracer.span("queries.op", rid=n):
                    df = QUERIES[n](self.spark, self.data)
                    with self.tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                    if counters:
                        storage.append(counters.storage())
                    _util.unpin_all()
                samples[n].append(time.perf_counter() - t0)
                self.attempted += 1
                gc.collect()
                jvm_gc()
            passes += 1
        self.window_end()
        self.counters_end()
        per_query = {n: median(v) for n, v in samples.items()}
        set_s = sum(per_query.values())
        self.figures.update({
            "query_set_s": set_s, "passes": passes, "queries": len(self.names),
            "per_query_s": {n.split("_", 1)[0]: round(v, 4) for n, v in per_query.items()},
            "samples_s": {n.split("_", 1)[0]: [round(x, 4) for x in v]
                          for n, v in samples.items()},
        })
        if self.tracer.enabled:
            self._layers(per_query, storage)
        every = [x for v in samples.values() for x in v]
        return {"latency_p50_ms": median(every) * 1000, "ready_s": set_s}

    def _layers(self, per_query, storage):
        from eventsgateway_spark.queries import QUERIES

        ops = [s for s in self.tracer.spans if s["name"] == "queries.op"]
        module = {n: QUERIES[n].__module__.rsplit(".", 1)[1] for n in self.names}
        for s in ops:
            key = f"{module[s['rid']]}.s"
            if key in self.layer:
                self.layer[key] += s["end"] - s["start"]
        for n, v in per_query.items():
            key = f"{n.split('_', 1)[0]}.s"
            if key in self.layer:
                self.layer[key] = v
        def timed(name):  # spans inside the timed passes' query ops
            return sum(s["end"] - s["start"] for s in self.tracer.spans
                       if s["name"] == name and s["parent"] is not None)

        self.layer["queries.build_s"] = timed("queries.build")
        self.layer["queries.action_s"] = timed("queries.action")
        self.layer["util.unpin_s"] = timed("_util.unpin_all")
        self.layer["util.persisted_rdds_max"] = max((r for r, _ in storage), default=0)
        self.layer["util.cached_bytes_max"] = max((b for _, b in storage), default=0)


WORKLOADS = {w.name: w for w in (Ingest, Backfill, QuerySet)}
