"""The mock LLM service's counters are exact for a known call sequence."""

import json
import os
import socket
import subprocess
import sys
import threading
import time
import urllib.request

import pytest

MOCK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mock_llm.py")


@pytest.fixture()
def mock(tmp_path):
    port_file = str(tmp_path / "port")
    proc = subprocess.Popen([sys.executable, MOCK, "--latency-ms", "300", "--port-file", port_file])
    try:
        deadline = time.monotonic() + 20
        while not os.path.exists(port_file):
            assert proc.poll() is None and time.monotonic() < deadline, "mock did not start"
            time.sleep(0.02)
        with open(port_file) as f:
            yield int(f.read())
    finally:
        proc.terminate()
        assert proc.wait(timeout=10) == 0


def _body(text):
    return json.dumps({"model": "m", "messages": [{"role": "system", "content": "s"},
                                                  {"role": "user", "content": text}]}).encode()


def _request(body, keep_alive):
    head = (f"POST /v1/chat/completions HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n"
            f"Content-Length: {len(body)}\r\nConnection: {'keep-alive' if keep_alive else 'close'}\r\n\r\n")
    return head.encode() + body


def _read_response(f):
    status = f.readline().split()[1]
    length = 0
    while (line := f.readline()) not in (b"\r\n", b""):
        if line.lower().startswith(b"content-length:"):
            length = int(line.split(b":")[1])
    return int(status), f.read(length)


def _stats(port, path="/stats"):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method="POST" if path == "/mark" else "GET")
    with urllib.request.urlopen(req, timeout=10) as r:
        return json.loads(r.read())


def test_counters_for_a_known_call_sequence(mock):
    bodies = [_body("one"), _body("two"), _body("thr\"ee")]
    # three calls on one keep-alive connection
    with socket.create_connection(("127.0.0.1", mock)) as s, s.makefile("rb") as f:
        for i, b in enumerate(bodies):
            s.sendall(_request(b, keep_alive=i < 2))
            status, payload = _read_response(f)
            assert status == 200
            assert json.loads(payload)["choices"][0]["message"]["content"] == json.loads(b)["messages"][-1]["content"]
    # one malformed call on its own connection
    with socket.create_connection(("127.0.0.1", mock)) as s, s.makefile("rb") as f:
        s.sendall(_request(b"{not json", keep_alive=False))
        assert _read_response(f)[0] == 400
    st = _stats(mock)
    assert (st["calls"], st["failed"], st["conns"]) == (4, 1, 2)
    assert st["req_bytes"] == sum(map(len, bodies)) + len(b"{not json")
    assert st["max_inflight"] == 1
    assert st["first_call_ts"] is not None


def test_concurrent_calls_and_mark(mock):
    assert _stats(mock, "/mark")["max_inflight"] == 0
    results = []

    def call():
        req = urllib.request.Request(f"http://127.0.0.1:{mock}/v1/chat/completions", data=_body("x"),
                                     headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req, timeout=10) as r:
            results.append(r.status)

    threads = [threading.Thread(target=call) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    st = _stats(mock)
    assert results == [200, 200, 200]
    assert (st["calls"], st["conns"], st["max_inflight"]) == (3, 3, 3)
    # three calls of 0.3 s each were in flight; allow for scheduling slack only upward
    assert 0.9 <= st["inflight_area"] < 1.2
    after = _stats(mock, "/mark")
    assert after["max_inflight"] == 0 and after["first_call_ts"] is None and after["calls"] == 3
