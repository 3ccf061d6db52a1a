"""Local Jira search endpoint serving a seeded corpus over the wire
contract `sources/jira_source.py` reads: GET /rest/api/2/search with
`jql=project = X ...`, `startAt`, `maxResults`, answering
`{"total", "startAt", "maxResults", "issues"}`.

Pages of `page_size` issues are rendered to bytes up front, so a request
costs a dict lookup and a socket write; `busy_s` (handler time) shows
whether the endpoint, rather than the scan, is the bottleneck. Each
connection gets a thread, so concurrency is bounded by the scan's task
slots plus the driver's probes.

`visible[project]` is the advertised `total`; the incremental workload
raises it before each restart to grow the corpus.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class Counters:
    def __init__(self) -> None:
        self.requests = 0
        self.probes = 0
        self.bytes = 0
        self.busy_s = 0.0
        self.pages: set[tuple[str, int]] = set()

    def snapshot(self) -> dict:
        return {
            "requests": self.requests,
            "probes": self.probes,
            "pages": len(self.pages),
            "bytes": self.bytes,
            "busy_s": self.busy_s,
        }


class SearchEndpoint:
    def __init__(self, corpus: dict[str, list[dict]], page_size: int):
        self.corpus = corpus
        self.page_size = page_size
        self.visible = {p: len(v) for p, v in corpus.items()}
        self.counters = Counters()
        self._lock = threading.Lock()
        # issues-array bytes per aligned full page, and for the total probe
        self._pages = {
            (p, s): json.dumps(v[s : s + page_size]).encode()
            for p, v in corpus.items()
            for s in range(0, len(v) - page_size + 1, page_size)
        }
        self._probe = {p: json.dumps(v[:1]).encode() for p, v in corpus.items()}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.0"

            def log_message(self, *a):  # noqa: N802
                pass

            def do_GET(self):  # noqa: N802
                t0 = time.perf_counter()
                status, body = outer.respond(self.path)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with outer._lock:
                    outer.counters.busy_s += time.perf_counter() - t0

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server.server_port}"

    def respond(self, path: str) -> tuple[int, bytes]:
        parsed = urlparse(path)
        if parsed.path != "/rest/api/2/search":
            return 404, b"{}"
        q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        jql = q.get("jql", "")
        project = jql.split("=", 1)[1].split("ORDER")[0].strip() if "=" in jql else ""
        if project not in self.corpus:
            return 400, b'{"errorMessages": ["unknown project"]}'
        start, n = int(q.get("startAt", 0)), int(q.get("maxResults", 50))
        total = self.visible[project]
        end = min(start + n, total)
        if n == 1 and start == 0 and total:
            issues = self._probe[project]
        elif n == self.page_size and end - start == n and (project, start) in self._pages:
            issues = self._pages[(project, start)]
        else:
            issues = json.dumps(self.corpus[project][start:end]).encode()
        body = b'{"total": %d, "startAt": %d, "maxResults": %d, "issues": %s}' % (
            total,
            start,
            n,
            issues,
        )
        with self._lock:
            c = self.counters
            c.requests += 1
            c.bytes += len(body)
            if n == 1:
                c.probes += 1
            else:
                c.pages.add((project, start))
        return 200, body

    def reset_counters(self) -> Counters:
        with self._lock:
            old, self.counters = self.counters, Counters()
        return old

    def __enter__(self) -> SearchEndpoint:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)
