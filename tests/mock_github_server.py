"""Deterministic in-process GitHub API mock for connector tests.

Stdlib-only (http.server in a daemon thread). Serves the five endpoints
the connector uses, with RFC-5988 Link pagination (`next` AND `last`),
rate-limit headers, and scriptable fault injection:

- first request to page 2 of the PR list → one 403 rate-limit response
  (reset ≈ now) before succeeding,
- first request to commit detail sha "pr3-c0" → one 500 before
  succeeding.

`MockGithub(delay_s=...)` holds every request that long before
answering, `peak_inflight` is the most requests it has had in flight
at once — together they show whether a client's requests overlap, and
by how much — and `served` lists every requested path in arrival
order.

Dataset (seedless, closed-form): N_PRS PRs; PR i has 2 commits × 2
files, reviews on odd i (one APPROVED, one COMMENTED), comments
referencing the first review id (or an unmatched id on even i).
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

N_PRS = 7
PER_PAGE_DEFAULT = 30


def _pr(i: int) -> dict:
    merged = i % 2 == 0
    return {
        "number": i,
        "title": f"Bug {i} fix widget" if i % 2 else f"Refactor module {i}",
        "state": "closed" if merged else "open",
        "created_at": f"2026-01-{i:02d}T10:00:00Z",
        "updated_at": f"2026-01-{i:02d}T12:00:00Z",
        "merged_at": f"2026-01-{i:02d}T13:00:00Z" if merged else None,
        "labels": [{"name": f"area-{i % 3}"}] if i % 3 else [],
        "user": {"login": f"author{i}"},
    }


def _commit_list(i: int) -> list[dict]:
    return [
        {
            "sha": f"pr{i}-c{j}",
            "commit": {"author": {"name": f"dev{j}", "date": f"2026-01-{i:02d}T0{j}:00:00Z"}},
        }
        for j in range(2)
    ]


def _commit_detail(sha: str) -> dict:
    m = re.match(r"pr(\d+)-c(\d+)", sha)
    i, j = int(m.group(1)), int(m.group(2))
    return {
        "sha": sha,
        "commit": {"author": {"name": f"dev{j}", "date": f"2026-01-{i:02d}T0{j}:00:00Z"}},
        "files": [
            {"filename": f"src/f{j}_{k}.py", "additions": 10 * i + k, "deletions": k}
            for k in range(2)
        ],
    }


def _reviews(i: int) -> list[dict]:
    if i % 2 == 0:
        return []
    return [
        {"id": 1000 + i, "user": {"login": "rev1"}, "state": "APPROVED",
         "submitted_at": f"2026-01-{i:02d}T14:00:00Z"},
        {"id": 2000 + i, "user": {"login": "rev2"}, "state": "COMMENTED",
         "submitted_at": f"2026-01-{i:02d}T15:00:00Z"},
        # Null user — the connector must drop this one (F1).
        {"id": 3000 + i, "user": None, "state": "DISMISSED",
         "submitted_at": f"2026-01-{i:02d}T16:00:00Z"},
    ]


def _comments(i: int) -> list[dict]:
    review_fk = 1000 + i if i % 2 else 999999  # odd: matches; even: dangling
    return [
        {"id": 10 * i + 1, "user": {"login": f"c{i}"}, "body": f"comment on {i}",
         "created_at": f"2026-01-{i:02d}T17:00:00Z",
         "pull_request_review_id": review_fk},
        # Empty body — dropped by the connector (F2).
        {"id": 10 * i + 2, "user": {"login": f"c{i}"}, "body": "",
         "created_at": f"2026-01-{i:02d}T18:00:00Z",
         "pull_request_review_id": None},
    ]


class _Handler(BaseHTTPRequestHandler):
    faults: dict[str, bool] = {}
    fault_lock = threading.Lock()
    # Extra PR numbers appended to the listing after the base N_PRS —
    # lets streaming tests grow the corpus mid-test (server-side state,
    # visible to executor processes).
    extra_prs: list[int] = []
    # PR numbers whose child endpoints 404 (vanished mid-scan).
    gone_prs: set[int] = set()
    # Commit shas whose detail endpoint 404s (gc'd after force-push).
    gone_shas: set[str] = set()
    # PR numbers whose commit listing answers 403 (no rate-limit or
    # Retry-After header, so the client does not retry).
    forbidden_prs: set[int] = set()
    served: list[str] = []
    # Seconds every request is held before it is answered.
    delay_s = 0.0
    inflight = 0
    peak_inflight = 0

    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        with _Handler.fault_lock:
            _Handler.inflight += 1
            _Handler.served.append(urlparse(self.path).path)
            _Handler.peak_inflight = max(_Handler.peak_inflight, _Handler.inflight)
        try:
            if _Handler.delay_s:
                time.sleep(_Handler.delay_s)
            self._route()
        finally:
            with _Handler.fault_lock:
                _Handler.inflight -= 1

    def _send(self, obj, status=200, extra_headers=None):
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-RateLimit-Remaining", "4999")
        for k, v in (extra_headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _trip_once(self, key: str) -> bool:
        with _Handler.fault_lock:
            if not _Handler.faults.get(key):
                _Handler.faults[key] = True
                return True
        return False

    def _route(self):
        parsed = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        parts = parsed.path.strip("/").split("/")

        # /repos/{owner}/{name}/...
        if len(parts) >= 4 and parts[0] == "repos":
            sub = parts[3]
            if sub == "pulls" and len(parts) == 4:
                return self._pulls(parsed.path, q)
            if sub == "pulls" and len(parts) == 6 and parts[5] == "commits":
                n = int(parts[4])
                if n in _Handler.gone_prs:  # vanished PR: children 404
                    return self._send({"message": "Not Found"}, status=404)
                if n in _Handler.forbidden_prs:
                    return self._send({"message": "Forbidden"}, status=403)
                return self._send(_commit_list(n))
            if sub == "pulls" and len(parts) == 6 and parts[5] == "reviews":
                n = int(parts[4])
                if n == 5 and self._trip_once("secondary429"):
                    return self._send(
                        {"message": "abuse"},
                        status=429,
                        extra_headers={"Retry-After": "1"},
                    )
                return self._send(_reviews(n))
            if sub == "issues" and len(parts) == 6 and parts[5] == "comments":
                return self._send(_comments(int(parts[4])))
            if sub == "commits" and len(parts) == 5:
                sha = parts[4]
                if sha in _Handler.gone_shas:
                    return self._send({"message": "Not Found"}, status=404)
                if sha == "pr3-c0" and self._trip_once("commit500"):
                    return self._send({"message": "flaky"}, status=500)
                return self._send(_commit_detail(sha))
        return self._send({"message": "not found"}, status=404)

    def _pulls(self, path, q):
        page = int(q.get("page", "1"))
        per_page = int(q.get("per_page", str(PER_PAGE_DEFAULT)))
        if page == 2 and self._trip_once("ratelimit"):
            return self._send(
                {"message": "rate limited"},
                status=403,
                extra_headers={
                    "X-RateLimit-Remaining": "0",
                    "X-RateLimit-Reset": str(time.time() + 0.5),
                },
            )
        state = q.get("state", "open")
        prs = [_pr(i) for i in range(1, N_PRS + 1)] + [
            _pr(i) for i in _Handler.extra_prs
        ]
        if state != "all":
            prs = [p for p in prs if p["state"] == state]
        if q.get("direction", "asc") == "desc":  # created == number order
            prs = list(reversed(prs))
        start, end = (page - 1) * per_page, page * per_page
        last = max((len(prs) + per_page - 1) // per_page, 1)
        links = []
        base = f"http://{self.headers['Host']}{path}"
        common = f"state={state}&per_page={per_page}"
        if page < last:
            links.append(f'<{base}?{common}&page={page + 1}>; rel="next"')
        links.append(f'<{base}?{common}&page={last}>; rel="last"')
        return self._send(prs[start:end], extra_headers={"Link": ", ".join(links)})


class MockGithub:
    """Context manager: serves on an ephemeral localhost port, holding
    each request ``delay_s`` seconds before it answers."""

    def __init__(self, delay_s: float = 0.0):
        self.delay_s = delay_s

    @property
    def peak_inflight(self) -> int:
        return _Handler.peak_inflight

    @property
    def served(self) -> list[str]:
        return list(_Handler.served)

    def add_pr(self, number: int) -> None:
        _Handler.extra_prs.append(number)

    def mark_gone(self, number: int) -> None:
        _Handler.gone_prs.add(number)

    def mark_sha_gone(self, sha: str) -> None:
        _Handler.gone_shas.add(sha)

    def mark_forbidden(self, number: int) -> None:
        _Handler.forbidden_prs.add(number)

    def __enter__(self):
        _Handler.faults = {}
        _Handler.extra_prs = []
        _Handler.gone_prs = set()
        _Handler.gone_shas = set()
        _Handler.forbidden_prs = set()
        _Handler.served = []
        _Handler.delay_s = self.delay_s
        _Handler.inflight = 0
        _Handler.peak_inflight = 0
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        return self

    def __exit__(self, *exc):
        self.server.shutdown()
        self.server.server_close()
