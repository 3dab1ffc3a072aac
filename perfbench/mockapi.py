"""In-process GitHub REST mock serving pre-rendered responses.

Every body is rendered to bytes once, before any pass is timed, so the
server's own cost per request is a dict lookup and a socket write. It
serves the five endpoints the connector calls (PR listing with
``Link`` pagination, commit list, commit detail, reviews, issue
comments) and counts what it serves, which is how the ``sources``
layer is measured: requests, error responses, bytes, and the busy
window (first connection opened to last closed) with the mean number
of connections open in it.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def _render(prs: list[dict], repo: str, per_page: int) -> tuple[dict, dict]:
    """(listing pages by number, child bodies by path) for one repo."""
    pulls = [
        {k: pr[k] for k in (
            "number", "title", "state", "created_at", "updated_at",
            "merged_at", "labels",
        )}
        for pr in prs
    ]
    pages = {
        p + 1: json.dumps(pulls[i : i + per_page]).encode()
        for p, i in enumerate(range(0, max(len(pulls), 1), per_page))
    }
    children = {}
    for pr in prs:
        n = pr["number"]
        commits = pr["commit_data"]
        children[f"/repos/{repo}/pulls/{n}/commits"] = json.dumps(
            [{"sha": c["sha"], "commit": c["commit"]} for c in commits]
        ).encode()
        for c in commits:
            children[f"/repos/{repo}/commits/{c['sha']}"] = json.dumps(c).encode()
        children[f"/repos/{repo}/pulls/{n}/reviews"] = json.dumps(
            pr["reviewer_data"]
        ).encode()
        children[f"/repos/{repo}/issues/{n}/comments"] = json.dumps(
            pr["comment_data"]
        ).encode()
    return pages, children


class MockGithub:
    """Serves ``repos`` ({"owner/name": [enriched PR dicts]}) on an
    ephemeral localhost port until ``close()``."""

    def __init__(self, repos: dict[str, list[dict]], per_page: int = 100):
        self.per_page = per_page
        self.pages: dict[str, dict[int, bytes]] = {}
        self.children: dict[str, bytes] = {}
        for repo, prs in repos.items():
            self.pages[repo], kids = _render(prs, repo, per_page)
            self.children.update(kids)
        self._lock = threading.Lock()
        self.reset()
        mock = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def handle(self):
                # The whole connection, from accept to close: a request
                # is "in flight" while its connection is open.
                t0 = time.perf_counter()
                self.status, self.nbytes = 0, 0
                super().handle()
                mock._record(t0, time.perf_counter(), self.status, self.nbytes)

            def do_GET(self):
                status, body, headers = mock._route(self.path, self.headers["Host"])
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.send_header("X-RateLimit-Remaining", "4999")
                for k, v in headers.items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)
                self.status, self.nbytes = status, len(body)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"

    def _route(self, raw_path: str, host: str) -> tuple[int, bytes, dict]:
        parsed = urlparse(raw_path)
        path = parsed.path.rstrip("/")
        parts = path.strip("/").split("/")
        if len(parts) == 4 and parts[0] == "repos" and parts[3] == "pulls":
            repo = f"{parts[1]}/{parts[2]}"
            pages = self.pages.get(repo)
            if pages is None:
                return 404, b'{"message": "Not Found"}', {}
            q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            page = int(q.get("page", "1"))
            last = len(pages)
            base = f"http://{host}/repos/{repo}/pulls?state=all&per_page={self.per_page}"
            links = [f'<{base}&page={last}>; rel="last"']
            if page < last:
                links.insert(0, f'<{base}&page={page + 1}>; rel="next"')
            return 200, pages.get(page, b"[]"), {"Link": ", ".join(links)}
        body = self.children.get(path)
        if body is None:
            return 404, b'{"message": "Not Found"}', {}
        return 200, body, {}

    def _record(self, t0: float, t1: float, status: int, nbytes: int) -> None:
        with self._lock:
            self.requests += 1
            self.errors += status >= 400
            self.response_bytes += nbytes
            self.open_s += t1 - t0
            self.first = t0 if self.first is None else min(self.first, t0)
            self.last = t1 if self.last is None else max(self.last, t1)

    def reset(self) -> None:
        """Zero the counters (called at the start of each pass)."""
        with self._lock:
            self.requests = 0
            self.errors = 0
            self.response_bytes = 0
            self.open_s = 0.0
            self.first = None
            self.last = None

    def stats(self) -> dict:
        with self._lock:
            busy = (self.last - self.first) if self.first is not None else 0.0
            return {
                "requests": self.requests,
                "retries": self.errors,
                "response_bytes": self.response_bytes,
                "busy_s": busy,
                "in_flight_mean": self.open_s / busy if busy > 0 else 0.0,
            }

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
