"""A fake InfluxDB ``/write`` endpoint served from the benchmark process.

Stdlib HTTP/1.1 server with keep-alive. At most ``max_conns`` connections
are served at once; the rest wait in the listen backlog. Every line of every POST is parsed as
line protocol; a POST with any malformed line is answered 400 and counted
as rejected, like a real InfluxDB. Each accepted line is recorded with its
series, timestamp and receipt time, and, when present, its ``seq`` field,
which the stream workload uses to match a line to its generated document.
"""

from __future__ import annotations

import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# measurement[,tag=v...] field=v[,field=v...] timestamp, with \-escapes and
# double-quoted string field values.
_KEY = r"(?:[^ ,=\\]|\\.)+"
_FIELD_VALUE = r'(?:"(?:[^"\\]|\\.)*"|[^ ,"]+)'
LINE_RE = re.compile(
    rf"((?:[^ ,\\]|\\.)+)(?:,{_KEY}={_KEY})* "
    rf"{_KEY}={_FIELD_VALUE}(?:,{_KEY}={_FIELD_VALUE})* (-?\d+)"
)
_SEQ_RE = re.compile(r"[ ,]seq=(\d+)i")


class Received:
    """Counters and per-line records since the last :meth:`reset`."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.posts = 0
            self.rejected = 0
            self.connections = 0
            self.bytes = 0
            self.busy_s = 0.0
            #: (series, timestamp string, receipt time.monotonic())
            self.lines: list[tuple[str, str, float]] = []
            #: seq -> first receipt time (stream documents)
            self.seq_first: dict[int, float] = {}

    def counters(self) -> dict:
        with self.lock:
            return {
                "posts": self.posts,
                "rejected": self.rejected,
                "connections": self.connections,
                "bytes": self.bytes,
                "lines": len(self.lines),
                "busy_s": self.busy_s,
            }


class _Handler(BaseHTTPRequestHandler):
    server: "FakeInflux"
    # keep-alive, as a real InfluxDB serves it; an idle connection is closed
    # after ``timeout`` seconds so that it gives its slot back
    protocol_version = "HTTP/1.1"
    timeout = 5

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def do_POST(self) -> None:
        t0 = time.monotonic()
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        rec = self.server.received
        if not self.path.startswith("/write"):
            self._reply(404)
            return
        now = time.monotonic()
        parsed, seqs = [], []
        ok = True
        for line in body.decode("utf-8").splitlines():
            if not line:
                continue
            m = LINE_RE.fullmatch(line)
            if m is None:
                ok = False
                break
            parsed.append((m.group(1), m.group(2), now))
            s = _SEQ_RE.search(line)
            if s is not None:
                seqs.append(int(s.group(1)))
        with rec.lock:
            rec.posts += 1
            rec.bytes += len(body)
            if ok:
                rec.lines.extend(parsed)
                for s in seqs:
                    rec.seq_first.setdefault(s, now)
            else:
                rec.rejected += 1
            rec.busy_s += time.monotonic() - t0
        self._reply(204 if ok else 400)

    def _reply(self, code: int) -> None:
        self.send_response(code)
        self.send_header("Content-Length", "0")
        self.end_headers()


class FakeInflux(ThreadingHTTPServer):
    """``with FakeInflux(max_conns) as srv:`` serves on ``srv.url``."""

    daemon_threads = True
    request_queue_size = 256

    def __init__(self, max_conns: int) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.received = Received()
        self._slots = threading.BoundedSemaphore(max_conns)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def process_request(self, request, client_address) -> None:
        self._slots.acquire()
        with self.received.lock:
            self.received.connections += 1
        try:
            super().process_request(request, client_address)
        except BaseException:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address) -> None:
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()

    def __enter__(self) -> "FakeInflux":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
        self.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
