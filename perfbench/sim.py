"""Device simulator and load receiver, one single-threaded asyncio process.

    python3 perfbench/sim.py --seed 1 --devices 4000 --fetch-delay 0.25 \\
        --sink-delay 0.08 --fail-every 0

Prints the TCP port it listens on (127.0.0.1) as its first stdout line.

- ``GET /device/<i>`` answers device ``i``'s seeded CpuStats JSON after
  ``--fetch-delay`` seconds (the engine's extract fan-out calls this).
- ``POST /load`` is the sink endpoint: after ``--sink-delay`` seconds it
  answers HTTP 500 to POSTs the seeded schedule picks (one in every
  ``--fail-every``) and 200 to the rest.  An acknowledged body is checked
  row by row against the golden transform; the receiver keeps counts and
  a per-device ack count, never the bodies, so its memory stays flat.
- ``GET /stats`` returns the counters of the window since the previous
  ``/stats`` call and starts a new window.

Running apart from the engine keeps the simulator's CPU out of the
engine's process tree.  It exits when its stdin closes.
"""

from __future__ import annotations

import argparse
import asyncio
import base64
import json
import os
import sys
import threading
import time

import inputs


class Gauge:
    """In-flight count of one request kind: peak, and the time-weighted
    mean over the span from the first start to the last end."""

    def __init__(self) -> None:
        self.count = 0
        self.now = 0
        self.peak = 0
        self.area = 0.0
        self.first = None
        self.last = None
        self._t = 0.0

    def _advance(self, t: float) -> None:
        self.area += self.now * (t - self._t)
        self._t = t

    def enter(self) -> None:
        t = time.monotonic()
        if self.first is None:
            self.first = self._t = t
        self._advance(t)
        self.now += 1
        self.count += 1
        self.peak = max(self.peak, self.now)

    def leave(self) -> None:
        t = time.monotonic()
        self._advance(t)
        self.now -= 1
        self.last = t

    def summary(self) -> dict:
        span = (self.last - self.first) if self.count and self.last else 0.0
        return {
            "count": self.count,
            "inflight_peak": self.peak,
            "inflight_mean": self.area / span if span > 0 else 0.0,
            "span_s": span,
        }


class Window:
    """Counters of one measurement window (one ETL run)."""

    def __init__(self, n_devices: int) -> None:
        self.fetch = Gauge()
        self.post = Gauge()
        self.posts_failed = 0
        self.rows_posted = 0
        self.rows_acked = 0
        self.bytes_acked = 0
        self.first_ack_t = None
        self.acked = bytearray(n_devices)
        self.mismatches = 0
        self.examples: list[str] = []

    def summary(self) -> dict:
        return {
            "fetch": self.fetch.summary(),
            "post": self.post.summary(),
            "posts_failed": self.posts_failed,
            "rows_posted": self.rows_posted,
            "rows_acked": self.rows_acked,
            "bytes_acked": self.bytes_acked,
            "first_ack_t": self.first_ack_t,
            "acked": base64.b64encode(bytes(self.acked)).decode("ascii"),
            "mismatches": self.mismatches,
            "examples": self.examples,
        }


class Sim:
    def __init__(self, args: argparse.Namespace) -> None:
        self.stats = inputs.device_stats(args.devices, args.seed)
        self.golden = [inputs.golden_indicators(s) for s in self.stats]
        self.fetch_delay = args.fetch_delay
        self.sink_delay = args.sink_delay
        self.schedule = inputs.failure_schedule(args.seed, args.fail_every)
        self.window = Window(args.devices)

    def device(self, target: str) -> tuple[int, bytes]:
        i = int(target.rsplit("/", 1)[1])
        stats = dict(zip(inputs.STAT_FIELDS, self.stats[i]))
        stats["cpu_number"] = "0"
        return 200, json.dumps(stats).encode()

    def check(self, w: Window, rows: list) -> None:
        for row in rows:
            i = inputs.device_id(row["name"])
            w.acked[i] = min(255, w.acked[i] + 1)
            if row["indicators"] != self.golden[i] or row["cpu_number"] != "0":
                w.mismatches += 1
                if len(w.examples) < 3:
                    w.examples.append(json.dumps(row)[:300])

    async def load(self, body: bytes) -> int:
        w = self.window
        seq = w.post.count - 1
        rows = json.loads(body)
        w.rows_posted += len(rows)
        if self.sink_delay:
            await asyncio.sleep(self.sink_delay)
        if self.schedule[seq % len(self.schedule)]:
            w.posts_failed += 1
            return 500
        self.check(w, rows)
        w.rows_acked += len(rows)
        w.bytes_acked += len(body)
        if w.first_ack_t is None:
            w.first_ack_t = time.monotonic()
        return 200

    async def route(self, method: str, target: str, body: bytes) -> tuple[int, bytes]:
        w = self.window
        if method == "GET" and target.startswith("/device/"):
            w.fetch.enter()
            try:
                if self.fetch_delay:
                    await asyncio.sleep(self.fetch_delay)
                return self.device(target)
            finally:
                w.fetch.leave()
        if method == "POST" and target == "/load":
            w.post.enter()
            try:
                return await self.load(body), b"{}"
            finally:
                w.post.leave()
        if method == "GET" and target == "/stats":
            self.window = Window(len(self.stats))
            return 200, json.dumps(w.summary()).encode()
        return 404, b"{}"

    async def handle(self, reader, writer) -> None:
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                method, target, _ = lines[0].split(" ", 2)
                headers = {}
                for line in lines[1:]:
                    if ":" in line:
                        k, v = line.split(":", 1)
                        headers[k.strip().lower()] = v.strip()
                size = int(headers.get("content-length", "0"))
                body = await reader.readexactly(size) if size else b""
                status, payload = await self.route(method, target, body)
                writer.write(
                    b"HTTP/1.1 %d X\r\nContent-Type: application/json\r\n"
                    b"Content-Length: %d\r\n\r\n" % (status, len(payload))
                    + payload
                )
                await writer.drain()
                if headers.get("connection", "").lower() == "close":
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


def exit_with_parent() -> None:
    """Exit when stdin, a pipe from the benchmark, closes: the simulator
    does not outlive a benchmark that was killed."""
    sys.stdin.read()
    os._exit(0)


async def serve(args: argparse.Namespace) -> None:
    threading.Thread(target=exit_with_parent, daemon=True).start()
    sim = Sim(args)
    server = await asyncio.start_server(sim.handle, "127.0.0.1", 0, backlog=1024)
    print(server.sockets[0].getsockname()[1], flush=True)
    async with server:
        await server.serve_forever()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--devices", type=int, required=True)
    ap.add_argument("--fetch-delay", type=float, default=0.0)
    ap.add_argument("--sink-delay", type=float, default=0.0)
    ap.add_argument("--fail-every", type=int, default=0)
    asyncio.run(serve(ap.parse_args()))


if __name__ == "__main__":
    sys.exit(main())
