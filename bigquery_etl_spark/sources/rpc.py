"""JSON-RPC block source client (SURVEY.md §2 A1+A3, live form).

The reference polls an Ethereum JSON-RPC provider for the chain head and
fetches event logs per block range (ref main.py:200-201 getBlock, and
the getLogs calls inside its export job, main.py:147-155). This module
is the transport for the same dataflow, pointed at any JSON-RPC-over-
HTTP endpoint:

- ``http_head_fn(url)``      → callable returning the current head (A1 poll)
- ``http_range_fetcher(url)``→ a ``RangeFetcher`` for ``block_range_source``
  — called once per ≤max_blocks_per_call chunk INSIDE executor tasks, so
  fetch parallelism scales with the cluster, not a driver thread pool
  (the 5-worker pool generalized).

stdlib urllib only; retries with exponential backoff because at fleet
scale a provider WILL throttle (each task retries independently; the
runner's error containment handles terminal failures by leaving the
cursor unmoved, ref main.py:217-220).

Tests drive these against an in-process stub server
(tests/test_rpc_incremental.py) — no real network, same code path.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable


def _rpc_call(url: str, method: str, params: list, retries: int = 3, timeout: float = 10.0):
    payload = json.dumps(
        {"jsonrpc": "2.0", "id": 1, "method": method, "params": params}
    ).encode()
    last: Exception | None = None
    for attempt in range(retries):
        try:
            req = urllib.request.Request(
                url, data=payload, headers={"Content-Type": "application/json"}
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = json.loads(resp.read())
            if "error" in body and body["error"]:
                raise RuntimeError(f"rpc error: {body['error']}")
            return body["result"]
        except Exception as exc:  # noqa: BLE001 — retried, then surfaced
            last = exc
            if attempt < retries - 1:
                time.sleep(0.05 * 2**attempt)
    raise RuntimeError(f"rpc call {method} failed after {retries} tries: {last!r}")


def http_head_fn(url: str, retries: int = 3) -> Callable[[], int]:
    """A1: poll the chain head (ref main.py:200-201)."""

    def head() -> int:
        return int(_rpc_call(url, "eth_blockNumber", [], retries=retries))

    return head


def http_range_fetcher(url: str, retries: int = 3) -> Callable[[int, int], list[dict]]:
    """A3/A4: fetch event logs for an inclusive block range. The address/
    topic filter lives server-side in the params (source-side predicate
    pushdown, like the reference's filtered getLogs request)."""

    def fetch(start_block: int, end_block: int) -> list[dict]:
        return _rpc_call(
            url,
            "eth_getLogs",
            [{"fromBlock": start_block, "toBlock": end_block}],
            retries=retries,
        )

    return fetch
