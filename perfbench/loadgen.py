"""Open-loop HTTP load generator for the ``ingest`` workload.

Runs in its own process, against a server warmed up beforehand.
Request ``i`` is due at ``start + i / rate`` whatever happened to
earlier requests, because game clients are independent; at most
``--connections`` requests are in flight, so when the server stalls,
later requests leave late and their lateness is recorded. Each record
holds the due, send and done times (wall clock, so the parent can
compare them with file times), the HTTP status and the response's
``failure_indexes``.

    python3 perfbench/loadgen.py --port P --seed S --rate R --requests N \
        --start T --out results.json
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def request_key(events: list[dict]) -> str:
    """Identifies a request on both sides: its first event's first
    prop key (a seeded uuid, unique per request)."""
    return next(iter(events[0]["props"]))


def run(port: int, seed: int, rate: float, n: int, start: float,
        connections: int) -> list[dict]:
    """Records of ``n`` requests."""
    batches = datagen.request_batches(seed, n)
    bodies = [json.dumps({"events": ev}).encode() for ev, _ in batches]
    todo: queue.Queue = queue.Queue()
    records: list[dict | None] = [None] * n

    def worker():
        while True:
            item = todo.get()
            if item is None:
                todo.task_done()
                return
            i, due = item
            sent = time.time()
            rec = {"i": i, "key": request_key(batches[i][0]), "due": due,
                   "sent": sent, "late": sent - due}
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                conn.request("POST", "/send-events", bodies[i],
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                payload = resp.read()
                conn.close()
                rec["status"] = resp.status
                rec["failure_indexes"] = json.loads(payload).get("failure_indexes")
            except Exception as ex:  # recorded, counted as failed
                rec["status"] = -1
                rec["error"] = repr(ex)[:300]
            rec["done"] = time.time()
            records[i] = rec
            todo.task_done()

    threads = [threading.Thread(target=worker) for _ in range(connections)]
    for t in threads:
        t.start()
    for i in range(n):
        due = start + i / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        todo.put((i, due))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join()
    return records


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--requests", type=int, required=True)
    ap.add_argument("--start", type=float, required=True,
                    help="wall-clock time the first request is due")
    ap.add_argument("--connections", type=int, default=4)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    records = run(a.port, a.seed, a.rate, a.requests, a.start, a.connections)
    with open(a.out + ".tmp", "w") as f:
        json.dump(records, f)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
