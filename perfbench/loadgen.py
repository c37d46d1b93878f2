"""Load models: an open loop at a fixed rate, a closed-loop burst, and the
one-at-a-time schedule of traced runs.

Each drives a ``send(request, req_id)`` callable and returns one record
per request: when it was due, when it was sent, when it finished, and its
result or error.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor


def _run(send, req, req_id: str, due: float) -> dict:
    sent = time.perf_counter()
    rec = {"req": req, "id": req_id, "due": due, "sent": sent}
    try:
        rec["result"] = send(req, req_id)
    except Exception as exc:  # a failed request is a result, not a crash
        rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
    rec["done"] = time.perf_counter()
    return rec


def open_loop(send, requests, interval_s: float, seconds: float, clients: int,
              gate=None, prefix: str = "o") -> tuple[list[dict], float]:
    """Sends ``requests`` in order, one every ``interval_s`` seconds, from
    at most ``clients`` threads, until ``seconds`` of schedule have passed.
    A request that finds every client busy queues, and its latency counts
    from when it was due.

    With a ``gate`` (see ``workloads.Gate``), requests fall due only
    between merge commits: the schedule stops while a writer holds the
    gate and resumes, shifted by the pause, once it is released. Returns
    the records and the total pause."""
    futures = []
    paused = 0.0
    with ThreadPoolExecutor(clients) as pool:
        t0 = time.perf_counter()
        for i, req in enumerate(requests):
            due = t0 + paused + i * interval_s
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            if gate is not None:
                waited = gate.wait_idle()
                paused += waited
                due += waited
            if due - t0 - paused >= seconds:
                break
            lag = time.perf_counter() - due
            futures.append((pool.submit(_run, send, req, f"{prefix}{i}", due), lag))
    out = []
    for fut, lag in futures:
        rec = fut.result()
        rec["lag"] = lag
        out.append(rec)
    return out, paused


def closed_loop(send, requests, clients: int, seconds: float,
                prefix: str = "c") -> tuple[list[dict], float]:
    """``clients`` threads each send their next request as soon as the
    previous one returns, until ``seconds`` have passed or ``requests``
    run out; requests in flight at the deadline finish. Returns the
    records and the wall time from start to the last completion."""
    it = iter(enumerate(requests))
    lock = threading.Lock()
    out: list[dict] = []
    t0 = time.perf_counter()

    def client():
        while True:
            with lock:
                nxt = next(it, None) if time.perf_counter() - t0 < seconds else None
            if nxt is None:
                return
            i, req = nxt
            rec = _run(send, req, f"{prefix}{i}", time.perf_counter())
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = max((r["done"] for r in out), default=t0) - t0
    return sorted(out, key=lambda r: r["sent"]), wall


def sequential(send, requests, prefix: str, start: int = 0) -> list[dict]:
    """One request at a time, in order: the schedule of traced runs, so two
    runs with one seed send the same requests against the same cache
    states."""
    return [_run(send, req, f"{prefix}{start + i}", time.perf_counter())
            for i, req in enumerate(requests)]
