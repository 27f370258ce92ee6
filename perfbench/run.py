"""Benchmark of the events engine: served ingest, bulk backfill and a
registry query set, each checked for correctness.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see workloads.py):

    ingest      open-loop 50-event /send-events batches from a separate
                process into ingest_http.serve_ingest with a FileBus sink,
                drained by a continuous run_etl into the lakehouse table
    backfill    a seeded wire file through gateway.ingest, FileBus.produce
                and run_etl(trigger_once=True) into the table
    query       one registry query from each of seven query modules
                (relational, events, advanced and the [EXT] dedup,
                similarity, text and sampling families), sized so that a
                checked cold pass and two timed passes fit one run

BENCHMARK.json lists the workloads whose runs fit the benchmark's time
budget (ingest and query); backfill runs the same way from the CLI.

With ``--trace 0`` the last stdout line is one JSON object whose metrics
are the end-to-end ones; with ``--trace 1`` the layer entry points are
wrapped at start-up, spans are kept in memory and written to
``.perfbench_out/trace-<workload>-<seed>.json`` with a self-time table,
and the metrics are the per-layer ones. A traced run also prints its
overhead against the untraced run of the same workload and seed, when
that run's result is in ``.perfbench_out/``. A human summary (with the
figures under their workload-specific names, tails chosen by sample
count, and failures) goes to stderr.

Run hygiene, identical for every run: local[nproc], a driver heap that
fits a small host, and a fresh working directory under
``.perfbench_tmp/`` holding the Spark local dirs, bus, tables,
checkpoints and inputs, deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    def __init__(self, seed, seconds, tracer, tmp, rss):
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.tmp, self.rss = tmp, rss


def _hygiene(tmp: str, driver_mem: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(tmp)


def _stop_spark(spark, probes) -> None:
    """Stop the session, the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    kids = set(probes.process_tree(os.getpid())) - {os.getpid()}
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while kids and time.time() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "eventsgateway_spark")):
        print(f"error: engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import probes
    from spans import Tracer, self_time_table
    from workloads import DRIVER_MEM, PER_LAYER, WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"error: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    rss = probes.RssSampler().start()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer(enabled=bool(a.trace))
    ctx = Context(a.seed, a.seconds, tracer, tmp, rss)
    wl = WORKLOADS[a.workload](ctx)
    try:
        _hygiene(tmp, DRIVER_MEM)
        e2e = wl.run()
    finally:
        try:
            if getattr(wl, "teardown", None) and wl.spark is not None:
                try:
                    wl.teardown()
                except Exception:
                    pass
            tracer.unwrap_all()
            _stop_spark(wl.spark, probes)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass

    base = os.path.join(out_dir, f"{a.workload}-{a.seed}")
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "end_to_end": e2e, "figures": wl.figures,
               "attempted": wl.attempted, "failed": wl.failed,
               "failed_ratio": wl.failed / max(wl.attempted, 1), "failures": wl.notes}
    if a.trace:
        summary["per_layer"] = wl.layer
        untraced = base + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                ref = json.load(f)["end_to_end"]
            summary["trace_overhead"] = {k: e2e[k] - ref[k] for k in e2e if k in ref}
        tracer.dump(f"{out_dir}/trace-{a.workload}-{a.seed}.json",
                    {"per_layer": wl.layer, "end_to_end": e2e,
                     "trace_overhead": summary.get("trace_overhead")})
        summary["self_time"] = {k: round(v["self_s"], 4) for k, v in
                                self_time_table(tracer.spans).items()}
    with open(base + f"-trace{a.trace}.json", "w") as f:
        json.dump(summary, f, indent=1, default=str)
    print(json.dumps(summary, indent=1, default=str), file=sys.stderr)

    units = {"setup_s": "s", "latency_p50_ms": "ms", "ready_s": "s", "peak_rss_mb": "MB"}
    if a.trace:
        metrics = {k: {"value": float(wl.layer[k]), "unit": _layer_unit(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": wl.failed == 0, "attempted": max(wl.attempted, 1),
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("_bytes_max"):
        return "bytes"
    if name.endswith("slot_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
