"""JSON-RPC chain provider, run as its own process (the load generator of
the ETL workloads).

Serves ``eth_blockNumber`` and ``eth_getLogs`` from an in-memory chain
(``chain.py``) with no injected delay, on at most ``--max-conns``
concurrent connections. Two extra methods belong to the benchmark, not
to the program under test: ``bench_setHead`` moves the head, and
``bench_counters`` returns and zeroes the counters of calls, blocks
requested, rows served and handler busy time.

    python3 perfbench/provider.py --spec '<ChainSpec JSON>' --max-conns 4

prints ``http://127.0.0.1:<port>/`` on its first stdout line and serves
until its stdin closes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chain import Chain, ChainSpec  # noqa: E402


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> dict:
        """Zero the counters; returns their values before."""
        with self.lock:
            old = getattr(self, "values", {})
            self.values = {
                "getlogs_calls": 0,
                "head_calls": 0,
                "blocks_requested": 0,
                "rows_served": 0,
                "busy_s": 0.0,
            }
        return old

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                self.values[k] += v


class BoundedServer(ThreadingHTTPServer):
    """At most ``max_conns`` requests in flight; further connections wait
    in the listen backlog."""

    daemon_threads = True
    request_queue_size = 128

    def __init__(self, addr, handler, max_conns: int):
        super().__init__(addr, handler)
        self.slots = threading.BoundedSemaphore(max_conns)

    def process_request(self, request, client_address):
        self.slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()


def make_handler(chain: Chain, state: dict, counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            t0 = time.perf_counter()
            method, params = body["method"], body.get("params") or []
            if method == "eth_blockNumber":
                result = state["head"]
                counters.add(head_calls=1)
            elif method == "eth_getLogs":
                lo, hi = int(params[0]["fromBlock"]), int(params[0]["toBlock"])
                result = chain.logs(lo, min(hi, state["head"]))
            elif method == "bench_setHead":
                state["head"] = int(params[0])
                result = state["head"]
            elif method == "bench_counters":
                result = counters.reset()
            else:
                self.send_error(404, "unknown method")
                return
            payload = json.dumps({"jsonrpc": "2.0", "id": body.get("id"), "result": result}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            if method == "eth_getLogs":
                counters.add(
                    getlogs_calls=1,
                    blocks_requested=hi - lo + 1,
                    rows_served=len(result),
                    busy_s=time.perf_counter() - t0,
                )

        def log_message(self, *args):
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True, help="ChainSpec fields as JSON")
    ap.add_argument("--max-conns", type=int, required=True)
    args = ap.parse_args()
    chain = Chain(ChainSpec.from_json(json.loads(args.spec)))
    state = {"head": chain.spec.start_block - 1}
    server = BoundedServer(
        ("127.0.0.1", 0), make_handler(chain, state, Counters()), args.max_conns
    )
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"http://127.0.0.1:{server.server_address[1]}/", flush=True)
    sys.stdin.read()  # parent closes stdin (or exits) to stop us
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
