"""Fixed-rate open-loop HTTP client for ``POST /search``.

Request ``i`` is due at ``start + i / rate`` whether or not earlier
requests have finished (independent users, not callers waiting on each
other). At most ``max_conns`` requests are in flight; a request waiting
for a free connection is still timed from when it was due, so a stall
shows in the latency of every request queued behind it. Lateness is how
far after its due time each request was actually sent.
"""

from __future__ import annotations

import asyncio
import json
import time


async def _post(host: str, port: int, body: bytes, timeout: float) -> tuple[int, bytes]:
    reader, writer = await asyncio.wait_for(asyncio.open_connection(host, port), timeout)
    try:
        writer.write(
            b"POST /search HTTP/1.1\r\nHost: %s\r\nContent-Type: application/json\r\n"
            b"Content-Length: %d\r\nConnection: close\r\n\r\n%s"
            % (host.encode(), len(body), body)
        )
        await writer.drain()
        raw = await asyncio.wait_for(reader.read(), timeout)
    finally:
        writer.close()
        try:
            await writer.wait_closed()
        except ConnectionError:
            pass
    head, _, payload = raw.partition(b"\r\n\r\n")
    status = int(head.split(b" ", 2)[1]) if head.startswith(b"HTTP/") else 0
    return status, payload


async def _run(host, port, requests, rate, max_conns, timeout):
    sem = asyncio.Semaphore(max_conns)
    start = time.perf_counter() + 0.25  # time to schedule every request first
    results = [None] * len(requests)

    async def one(i: int, req: dict):
        due = start + i / rate
        delay = due - time.perf_counter()
        if delay > 0:
            await asyncio.sleep(delay)
        async with sem:
            sent = time.perf_counter()
            try:
                status, payload = await _post(host, port, json.dumps(req).encode(), timeout)
                body = json.loads(payload) if status == 200 else None
            except (OSError, asyncio.TimeoutError, ValueError):
                status, body = 0, None
            done = time.perf_counter()
        results[i] = {
            "latency_ms": (done - due) * 1000.0,
            "service_ms": (done - sent) * 1000.0,
            "late_ms": (sent - due) * 1000.0,
            "due_s": due - start,
            "status": status,
            "body": body,
        }

    await asyncio.gather(*(one(i, r) for i, r in enumerate(requests)))
    return results


def run_open_loop(host: str, port: int, requests: list[dict], rate: float,
                  max_conns: int, timeout: float = 10.0) -> list[dict]:
    """Send ``requests`` at ``rate`` per second; one result dict per
    request, in order."""
    return asyncio.run(_run(host, port, requests, rate, max_conns, timeout))


def post_once(host: str, port: int, req: dict, timeout: float = 10.0):
    """-> (status, decoded body or None)."""
    async def go():
        status, payload = await _post(host, port, json.dumps(req).encode(), timeout)
        return status, (json.loads(payload) if status == 200 else None)
    return asyncio.run(go())
