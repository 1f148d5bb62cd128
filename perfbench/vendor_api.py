"""Loopback vendor API for the ``vendor_etl`` workload, run as its own
process so its work never shares the driver's interpreter.

    python3 perfbench/vendor_api.py --seed 7

prints ``READY <port>`` once listening, then serves
:class:`gen.VendorUniverse` until terminated or until its stdin closes,
so it ends with the benchmark run that started it even if that run is
killed. Paths carry a pass prefix (``/p<n>/vendors?...``,
``/p<n>/vendors/<code>``, ``/p<n>/reviews/<code>``,
``/p<n>/ratings/<code>``) so each pass sees the seed's fault schedule
afresh and its requests are counted apart. ``GET /__stats`` returns the
per-pass counters (requests, faults by status, bytes sent, handler busy
seconds) and the most connections that were ever open at once.

At most as many connections as the process has CPUs are open at any
time: that many threads each accept one connection, answer it and close
it; the rest wait in the listen backlog.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import threading
import time
from collections import defaultdict
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, urlsplit

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import REVIEWS_LIMIT, VendorUniverse  # noqa: E402


class Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.passes: dict[str, dict] = defaultdict(
            lambda: {"requests": 0, "faults": defaultdict(int), "bytes": 0, "busy_s": 0.0}
        )
        self.seen: set[tuple[str, str]] = set()
        self.open = 0
        self.max_open = 0

    def first_request(self, pass_id: str, path: str) -> bool:
        with self.lock:
            key = (pass_id, path)
            if key in self.seen:
                return False
            self.seen.add(key)
            return True

    def record(self, pass_id: str, status: int, nbytes: int, busy: float) -> None:
        with self.lock:
            p = self.passes[pass_id]
            p["requests"] += 1
            p["bytes"] += nbytes
            p["busy_s"] += busy
            if status != 200:
                p["faults"][str(status)] += 1

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "passes": {k: dict(v, faults=dict(v["faults"])) for k, v in self.passes.items()},
                "max_open": self.max_open,
            }


def make_handler(universe: VendorUniverse, stats: Stats):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *args):  # keep stderr quiet
            pass

        def _send(self, status: int, payload) -> int:
            body = b"" if payload is None else json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return len(body)

        def do_GET(self):
            t0 = time.perf_counter()
            url = urlsplit(self.path)
            parts = [p for p in url.path.split("/") if p]
            if parts == ["__stats"]:
                self._send(200, stats.snapshot())
                return
            if len(parts) < 2 or not parts[0].startswith("p"):
                self._send(404, None)
                return
            pass_id, rest = parts[0], parts[1:]
            status, payload = self._route(pass_id, rest, parse_qs(url.query), self.path)
            n = self._send(status, payload)
            stats.record(pass_id, status, n, time.perf_counter() - t0)

        def _route(self, pass_id, rest, q, raw_path):
            fault_key = raw_path.split("/", 2)[2]
            if stats.first_request(pass_id, fault_key):
                status = universe.fault(fault_key)
                if status is not None:
                    return status, None
            if rest == ["vendors"]:
                return 200, universe.listing(
                    q["city_id"][0], int(q["offset"][0]), int(q["limit"][0])
                )
            if len(rest) != 2:
                return 404, None
            kind, code = rest
            if kind == "vendors":
                d = universe.details(code)
                return (400, None) if d is None else (200, {"data": d})
            if kind == "reviews":
                return 200, {"data": universe.reviews(code)[:REVIEWS_LIMIT]}
            if kind == "ratings":
                r = universe.ratings(code)
                return (400, None) if r is None else (200, {"data": r})
            return 404, None

    return Handler


def serve(seed: int, sizes: tuple[int, ...] | None) -> None:
    universe = VendorUniverse(seed, sizes)
    stats = Stats()
    handler = make_handler(universe, stats)
    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    sock.bind(("127.0.0.1", 0))
    sock.listen(128)

    def worker():
        while True:
            conn, addr = sock.accept()
            with stats.lock:
                stats.open += 1
                stats.max_open = max(stats.max_open, stats.open)
            try:
                handler(conn, addr, None)
            except OSError:
                pass  # client went away mid-answer; nothing to serve
            finally:
                conn.close()
                with stats.lock:
                    stats.open -= 1

    for _ in range(len(os.sched_getaffinity(0))):
        threading.Thread(target=worker, daemon=True).start()
    print(f"READY {sock.getsockname()[1]}", flush=True)
    sys.stdin.read()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sizes", default="", help="vendors per city, comma separated")
    args = ap.parse_args()
    sizes = tuple(int(x) for x in args.sizes.split(",") if x) or None
    serve(args.seed, sizes)


if __name__ == "__main__":
    main()
