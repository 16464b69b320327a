"""HTTP load generators: open loop at a fixed rate, closed loop at peak.

Both run on one asyncio thread, so the generator is a single sender thread
however many requests are in flight. Open loop sends request i at
start + i/rate whatever the server is doing and times it from that due
time, so a stall is charged to every request it delays; how late the
generator itself sent each request is recorded apart. Closed loop runs
`clients` callers that each send their next request when the previous one
answers, and measures the throughput they reach.
"""

from __future__ import annotations

import asyncio
import json
import time
from dataclasses import dataclass

REQUEST_TIMEOUT_S = 60.0


@dataclass
class Outcome:
    kind: str
    query: dict
    status: int = 0              # 0: no HTTP answer (timeout, refused)
    payload: dict | None = None
    latency_s: float = 0.0       # from due time (open loop) or send
    service_s: float = 0.0       # from send to answer
    late_s: float = 0.0          # send time minus due time
    error: str = ""
    parent: int | None = None            # index of the page-1 request
    parent_outcome: "Outcome | None" = None


async def _post(port: int, query: dict) -> tuple[int, dict | None]:
    body = json.dumps(query).encode()
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    try:
        writer.write(b"POST /search HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                     b"Content-Type: application/json\r\n"
                     b"Connection: close\r\n"
                     + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
        await writer.drain()
        status = int((await reader.readline()).split()[1])
        length = None
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b"\n", b""):
                break
            name, _, value = line.decode("latin-1").partition(":")
            if name.strip().lower() == "content-length":
                length = int(value)
        raw = (await reader.readexactly(length) if length is not None
               else await reader.read())
        return status, json.loads(raw) if raw else None
    finally:
        writer.close()
        try:
            await writer.wait_closed()
        except OSError:
            pass


async def _send(port: int, out: Outcome, due: float) -> None:
    sent = time.perf_counter()
    out.late_s = max(0.0, sent - due)
    try:
        out.status, out.payload = await asyncio.wait_for(
            _post(port, out.query), REQUEST_TIMEOUT_S)
    except (OSError, asyncio.TimeoutError, ValueError, IndexError) as e:
        out.error = repr(e)
    done = time.perf_counter()
    out.service_s = done - sent
    out.latency_s = done - due


def open_loop(port: int, requests: list[dict], rate: float) -> list[Outcome]:
    """Send requests[i] at start + i/rate. A follow-up (parent set) is due
    at its own slot but cannot leave before its parent answered; it is
    skipped, and not counted, when the parent returned no `next` cursor."""

    async def main() -> list[Outcome]:
        outs = [Outcome(r["kind"], dict(r["query"]), parent=r["parent"])
                for r in requests]
        done = [asyncio.Event() for _ in requests]
        start = time.perf_counter() + 0.05

        async def one(i: int) -> None:
            due = start + i / rate
            await asyncio.sleep(max(0.0, due - time.perf_counter()))
            out = outs[i]
            p = out.parent
            if p is not None:
                await done[p].wait()
                nxt = (outs[p].payload or {}).get("next")
                if outs[p].status != 200 or not nxt:
                    out.status = -1       # not sent
                    done[i].set()
                    return
                out.query["after"] = nxt
                out.parent_outcome = outs[p]
                due = max(due, time.perf_counter())
            await _send(port, out, due)
            done[i].set()

        await asyncio.gather(*(one(i) for i in range(len(requests))))
        return outs

    return [o for o in asyncio.run(main()) if o.status != -1]


def closed_loop(port: int, requests: list[dict], clients: int,
                seconds: float) -> tuple[list[Outcome], float]:
    """`clients` callers drain `requests` in order until `seconds` pass.
    Returns the outcomes and the throughput (answers per second)."""

    async def main() -> tuple[list[Outcome], float]:
        outs: list[Outcome] = []
        by_index: dict[int, Outcome] = {}
        cursor = iter(range(len(requests)))
        start = time.perf_counter()
        deadline = start + seconds

        async def caller() -> None:
            for i in cursor:
                if time.perf_counter() >= deadline:
                    return
                r = requests[i]
                out = Outcome(r["kind"], dict(r["query"]), parent=r["parent"])
                if r["parent"] is not None:
                    par = by_index.get(r["parent"])
                    nxt = par and par.status == 200 and (par.payload or {}).get("next")
                    if not nxt:
                        continue
                    out.query["after"] = nxt
                    out.parent_outcome = par
                await _send(port, out, time.perf_counter())
                by_index[i] = out
                outs.append(out)

        await asyncio.gather(*(caller() for _ in range(clients)))
        return outs, len(outs) / (time.perf_counter() - start)

    return asyncio.run(main())
