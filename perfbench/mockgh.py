"""Benchmark-owned mock of the five GitHub REST endpoints the connector
reads, run as its own process:

    python3 perfbench/mockgh.py --seed 7

It prints ``PORT <n>`` on its first stdout line, then serves until
stdin closes. Data comes from ``ghdata``:
seeded, repos of uneven size, Link pagination (``next`` and ``last``)
on the pull listing and child listings, and no faults. Every request
sleeps ``DELAY_S`` before answering, on one of at most nproc handler
threads.

``GET /__stats`` returns the request counts per endpoint, the number
of repeated requests (a retry asks for a URL already served), the body
bytes served, and the time-weighted mean of requests in flight;
``GET /__reset`` zeroes them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlencode, urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ghdata import github_repos, pr_shape  # noqa: E402

ENDPOINTS = ("pulls", "pull_commits", "commit", "reviews", "comments")
# Fixed per-request delay: a stand-in for network latency that makes
# serial scans and serial child fetches show in run time.
DELAY_S = 0.002


class Stats:
    """Request counters and the in-flight integral, under one lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.calls = dict.fromkeys(ENDPOINTS, 0)
        self.seen: set[str] = set()
        self.retries = 0
        self.bytes = 0
        self.inflight = 0
        self.area = 0.0  # integral of in-flight count over time
        self.first = None
        self.last = None

    def _advance(self, now: float) -> None:
        if self.last is not None:
            self.area += self.inflight * (now - self.last)
        self.last = now

    def begin(self, endpoint: str, url: str) -> None:
        with self.lock:
            now = time.perf_counter()
            if self.first is None:
                self.first = now
            self._advance(now)
            self.inflight += 1
            self.calls[endpoint] += 1
            if url in self.seen:
                self.retries += 1
            self.seen.add(url)

    def end(self, nbytes: int) -> None:
        with self.lock:
            self._advance(time.perf_counter())
            self.inflight -= 1
            self.bytes += nbytes

    def snapshot(self) -> dict:
        with self.lock:
            span = (self.last - self.first) if self.first is not None else 0.0
            return {
                "calls": dict(self.calls),
                "retries": self.retries,
                "bytes": self.bytes,
                "inflight_mean": self.area / span if span > 0 else 0.0,
            }


def _sha(repo: str, number: int, j: int) -> str:
    """40 hex digits; the first 12 encode (number, j) for the detail route."""
    tail = hashlib.sha1(f"{repo}:{number}:{j}".encode()).hexdigest()
    return f"{number:010x}{j:02x}{tail[:28]}"


def _iso(day: int, hour: int) -> str:
    return f"2026-{1 + day // 28:02d}-{1 + day % 28:02d}T{hour:02d}:00:00Z"


class Dataset:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.repos = github_repos(seed)

    def pr(self, repo: str, number: int) -> dict:
        day = number % 300
        merged = number % 3 != 0
        title = (
            f"Bug {1_000_000 + number * 7} - fix widget {number}"
            if number % 2
            else f"Refactor module {number}"
        )
        return {
            "number": number,
            "title": title,
            "state": "closed" if merged else "open",
            "created_at": _iso(day, 8),
            "updated_at": _iso(day, 12),
            "merged_at": _iso(day, 13) if merged else None,
            "labels": [{"name": f"area-{number % 4}"}] if number % 4 else [],
            "user": {"login": f"author{number % 17}"},
        }

    def commits(self, repo: str, number: int) -> list[dict]:
        files = pr_shape(self.seed, repo, number)["files"]
        return [
            {
                "sha": _sha(repo, number, j),
                "commit": {
                    "author": {"name": f"dev{(number + j) % 11}", "date": _iso(number % 300, j)}
                },
            }
            for j in range(len(files))
        ]

    def commit_detail(self, repo: str, sha: str) -> dict:
        number, j = int(sha[:10], 16), int(sha[10:12], 16)
        n_files = pr_shape(self.seed, repo, number)["files"][j]
        return {
            **self.commits(repo, number)[j],
            "files": [
                {"filename": f"src/m{number % 13}/f{j}_{k}.py",
                 "additions": 3 * number + k, "deletions": k}
                for k in range(n_files)
            ],
        }

    def reviews(self, repo: str, number: int) -> list[dict]:
        s = pr_shape(self.seed, repo, number)
        states = ("APPROVED", "CHANGES_REQUESTED", "COMMENTED", "DISMISSED")
        out = [
            {"id": number * 100 + k, "user": {"login": f"rev{(number + k) % 7}"},
             "state": states[(number + k) % 4], "submitted_at": _iso(number % 300, 14 + k)}
            for k in range(s["reviews"])
        ]
        out += [
            {"id": number * 100 + 50 + k, "user": None, "state": "COMMENTED",
             "submitted_at": _iso(number % 300, 20)}
            for k in range(s["null_reviews"])
        ]
        return out

    def comments(self, repo: str, number: int) -> list[dict]:
        s = pr_shape(self.seed, repo, number)
        out = [
            {"id": number * 100 + k, "user": {"login": f"c{(number + k) % 5}"},
             "body": "looks good " * (1 + k), "created_at": _iso(number % 300, 15 + k),
             "pull_request_review_id": number * 100 + k if k < s["reviews"] else None}
            for k in range(s["comments"])
        ]
        out += [
            {"id": number * 100 + 60 + k, "user": {"login": "c0"}, "body": "",
             "created_at": _iso(number % 300, 21), "pull_request_review_id": None}
            for k in range(s["empty_comments"])
        ]
        return out


def _page(items: list, q: dict, base: str) -> tuple[list, dict]:
    """Slice one page and build its Link header (``next`` and ``last``)."""
    per_page = max(1, int(q.get("per_page", "30")))
    page = max(1, int(q.get("page", "1")))
    last = max((len(items) + per_page - 1) // per_page, 1)
    common = {k: v for k, v in q.items() if k != "page"}
    links = []
    if page < last:
        links.append(f'<{base}?{urlencode({**common, "page": page + 1})}>; rel="next"')
    links.append(f'<{base}?{urlencode({**common, "page": last})}>; rel="last"')
    return items[(page - 1) * per_page : page * per_page], {"Link": ", ".join(links)}


def make_handler(data: Dataset, stats: Stats):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, obj, status=200, headers=None):
            body = json.dumps(obj).encode()
            self.sent = len(body)
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.send_header("X-RateLimit-Remaining", "4999")
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def _route(self, parts: list[str]):
            """(endpoint, repo, handler) for a /repos/{o}/{n}/... path."""
            if len(parts) < 4 or parts[0] != "repos":
                return None
            repo = f"{parts[1]}/{parts[2]}"
            if repo not in data.repos:
                return None
            if parts[3] == "pulls" and len(parts) == 4:
                return "pulls", repo, None
            if parts[3] == "pulls" and len(parts) == 6:
                return {"commits": "pull_commits", "reviews": "reviews"}.get(parts[5]), repo, int(parts[4])
            if parts[3] == "issues" and len(parts) == 6 and parts[5] == "comments":
                return "comments", repo, int(parts[4])
            if parts[3] == "commits" and len(parts) == 5:
                return "commit", repo, parts[4]
            return None

        def do_GET(self):
            parsed = urlparse(self.path)
            if parsed.path == "/__stats":
                return self._send(stats.snapshot())
            if parsed.path == "/__reset":
                with stats.lock:
                    stats.reset()
                return self._send({})
            route = self._route(parsed.path.strip("/").split("/"))
            if route is None or route[0] is None:
                return self._send({"message": "Not Found"}, status=404)
            endpoint, repo, key = route
            stats.begin(endpoint, self.path)
            self.sent = 0
            try:
                time.sleep(DELAY_S)
                q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                base = f"http://{self.headers['Host']}{parsed.path}"
                if endpoint == "pulls":
                    items = [data.pr(repo, i) for i in range(1, data.repos[repo] + 1)]
                    if q.get("state", "open") != "all":
                        items = [p for p in items if p["state"] == q.get("state", "open")]
                    if q.get("direction", "asc") == "desc":
                        items.reverse()
                    page, links = _page(items, q, base)
                    return self._send(page, headers=links)
                if endpoint == "commit":
                    return self._send(data.commit_detail(repo, key))
                items = {
                    "pull_commits": data.commits,
                    "reviews": data.reviews,
                    "comments": data.comments,
                }[endpoint](repo, key)
                page, links = _page(items, q, base)
                return self._send(page, headers=links)
            finally:
                stats.end(self.sent)

    return Handler


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a fixed pool of handler threads."""

    request_queue_size = 128

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    stats = Stats()
    server = PooledHTTPServer(
        ("127.0.0.1", 0),
        make_handler(Dataset(args.seed), stats),
        len(os.sched_getaffinity(0)),
    )
    # A short poll interval keeps shutdown, which set-up times, quick.
    thread = threading.Thread(target=server.serve_forever, args=(0.05,), daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # the parent closes stdin to stop the server
    server.shutdown()
    server.server_close()
    thread.join()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
