"""Mock OpenAI-compatible LLM service for the ``mr_http`` workload.

One asyncio thread serves ``POST .../chat/completions``: it waits a
fixed injected latency and answers with the last user message, so the
pipeline's outputs are checkable.  In-flight calls cost it no threads.

Counters (``GET /stats``): calls, failed calls, TCP connections that
carried calls, request body bytes, in-flight high-water mark, the
time integral of calls in flight, and the service's own CPU time.
``POST /mark`` starts a new observation window: it resets the
high-water mark to the current in-flight count and forgets the first
call's arrival time.  Both return a snapshot.

Run: ``python3 mock_llm.py --latency-ms 20 --port-file PATH``; the
chosen port is written to PATH once the socket listens.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import time


class Stats:
    def __init__(self):
        self.calls = 0
        self.failed = 0
        self.conns = 0
        self.req_bytes = 0
        self.inflight = 0
        self.max_inflight = 0
        self.inflight_area = 0.0  # integral of in-flight calls over seconds
        self.first_call_ts: float | None = None
        self._t = time.monotonic()

    def _tick(self) -> None:
        now = time.monotonic()
        self.inflight_area += self.inflight * (now - self._t)
        self._t = now

    def enter(self, nbytes: int) -> None:
        self._tick()
        self.calls += 1
        self.req_bytes += nbytes
        self.inflight += 1
        self.max_inflight = max(self.max_inflight, self.inflight)
        if self.first_call_ts is None:
            self.first_call_ts = time.time()

    def leave(self, ok: bool) -> None:
        self._tick()
        self.inflight -= 1
        if not ok:
            self.failed += 1

    def mark(self) -> None:
        self.max_inflight = self.inflight
        self.first_call_ts = None

    def snapshot(self) -> dict:
        self._tick()
        return {
            "calls": self.calls,
            "failed": self.failed,
            "conns": self.conns,
            "req_bytes": self.req_bytes,
            "max_inflight": self.max_inflight,
            "inflight_area": self.inflight_area,
            "first_call_ts": self.first_call_ts,
            "cpu_s": time.process_time(),
            "ts": time.time(),
        }


def _reply(messages: list[dict]) -> bytes:
    users = [m["content"] for m in messages if m.get("role") == "user"]
    out = {
        "object": "chat.completion",
        "choices": [{"index": 0, "message": {"role": "assistant", "content": users[-1]},
                     "finish_reason": "stop"}],
    }
    return json.dumps(out, ensure_ascii=False).encode()


class MockLlm:
    def __init__(self, latency_s: float):
        self.latency_s = latency_s
        self.stats = Stats()

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        counted = False
        try:
            while True:
                line = await reader.readline()
                if not line.strip():
                    break
                method, path, version = line.decode("latin-1").split()
                headers = {}
                while (h := await reader.readline()) not in (b"\r\n", b"\n", b""):
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", 0)))
                if path.endswith("/chat/completions") and method == "POST":
                    if not counted:
                        self.stats.conns += 1
                        counted = True
                    status, payload = await self._complete(body)
                elif path == "/stats":
                    status, payload = 200, json.dumps(self.stats.snapshot()).encode()
                elif path == "/mark" and method == "POST":
                    self.stats.mark()
                    status, payload = 200, json.dumps(self.stats.snapshot()).encode()
                else:
                    status, payload = 404, b"{}"
                close = headers.get("connection", "").lower() == "close" or version == "HTTP/1.0"
                writer.write(
                    f"HTTP/1.1 {status} {'OK' if status == 200 else 'ERR'}\r\n"
                    f"Content-Type: application/json\r\nContent-Length: {len(payload)}\r\n"
                    f"Connection: {'close' if close else 'keep-alive'}\r\n\r\n".encode() + payload
                )
                await writer.drain()
                if close:
                    break
        except (ConnectionError, ValueError, asyncio.IncompleteReadError):
            pass
        finally:
            writer.close()

    async def _complete(self, body: bytes) -> tuple[int, bytes]:
        self.stats.enter(len(body))
        ok = False
        try:
            await asyncio.sleep(self.latency_s)
            payload = _reply(json.loads(body)["messages"])
            ok = True
            return 200, payload
        except (ValueError, KeyError, IndexError, TypeError):
            return 400, b'{"error": "bad request"}'
        finally:
            self.stats.leave(ok)

    async def serve(self, port_file: str) -> None:
        server = await asyncio.start_server(self.handle, "127.0.0.1", 0, backlog=512)
        tmp = port_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(server.sockets[0].getsockname()[1]))
        os.replace(tmp, port_file)
        stop = asyncio.Event()
        loop = asyncio.get_running_loop()
        for sig in (signal.SIGTERM, signal.SIGINT):
            loop.add_signal_handler(sig, stop.set)
        async with server:
            await stop.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--latency-ms", type=float, required=True)
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    asyncio.run(MockLlm(args.latency_ms / 1000).serve(args.port_file))


if __name__ == "__main__":
    main()
