"""Driver-coordinated rate budget for the GitHub connector
(SURVEY.md §7.4 risk 4).

GitHub's 5,000 req/h budget is per token, but the connector fans out
page + child fetches across executors; per-task self-throttling (react
to 403s) burns budget discovering the limit and cannot partition it
fairly. This module centralizes the budget in a token bucket served
from the DRIVER over plain HTTP (stdlib only — the driver is already
network-reachable from every executor in any Spark deployment):

    executors ──GET /acquire──▶ driver TokenBucketServer

`/acquire` either grants a permit immediately or returns the seconds
to wait; the client sleeps and retries, so a burst of tasks smooths to
the configured rate instead of stampeding the API. One round-trip per
API request is noise next to the API call itself.

Scale notes: a single ThreadingHTTPServer comfortably serves the
≤5,000 grants/hour the budget itself caps the demand at — the budget,
not the server, is the bottleneck by construction. For multi-token
fleets run one bucket per token. The bucket is deliberately
approximate under concurrency (atomic under a lock, no fairness
queue): the API's own limiter remains the backstop via the client's
403 handling.
"""

from __future__ import annotations

import hmac
import json
import secrets
import threading
import time
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class TokenBucket:
    """Classic token bucket: `rate` permits/sec refill up to `capacity`.

    `clock` is injectable for tests. `try_acquire` never blocks — it
    returns 0.0 on success or the seconds until a permit will exist.
    """

    def __init__(self, rate: float, capacity: float, clock=time.monotonic):
        self.rate = float(rate)
        self.capacity = float(capacity)
        self.clock = clock
        self._tokens = float(capacity)
        self._last = clock()
        self._lock = threading.Lock()

    def _refill(self) -> None:
        now = self.clock()
        self._tokens = min(
            self.capacity, self._tokens + (now - self._last) * self.rate
        )
        self._last = now

    def try_acquire(self) -> float:
        with self._lock:
            self._refill()
            if self._tokens >= 1:
                self._tokens -= 1
                return 0.0
            return (1 - self._tokens) / self.rate


class _Handler(BaseHTTPRequestHandler):
    bucket: TokenBucket = None  # set by server factory
    secret: str = ""  # set by server factory

    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        parsed = urllib.parse.urlparse(self.path)
        if parsed.path != "/acquire":
            self.send_response(404)
            self.end_headers()
            return
        # Shared-secret gate: without it any network peer that can reach
        # the port could drain the fleet's request budget.
        supplied = urllib.parse.parse_qs(parsed.query).get("s", [""])[0]
        if not hmac.compare_digest(supplied, self.secret):
            self.send_response(403)
            self.end_headers()
            return
        wait = self.bucket.try_acquire()  # bound subclass's bucket
        body = json.dumps({"wait": wait}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class TokenBucketServer:
    """Serves one bucket on an ephemeral driver port (daemon thread).

    Binds loopback by default — correct for local mode and safe by
    default elsewhere; on a real cluster pass the driver's listen
    address (`spark.driver.host`'s interface) as `bind` so executors
    can reach it. Every grant requires the per-server shared secret
    (query param `s`), so a reachable port alone can't drain the
    budget.
    """

    def __init__(
        self,
        requests_per_hour: float,
        burst: float | None = None,
        bind: str = "127.0.0.1",
    ):
        rate = requests_per_hour / 3600.0
        self.bucket = TokenBucket(rate, burst if burst is not None else max(rate * 10, 1.0))
        self.secret = secrets.token_hex(16)
        handler = type(
            "_BoundHandler", (_Handler,), {"bucket": self.bucket, "secret": self.secret}
        )
        self.server = ThreadingHTTPServer((bind, 0), handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def port(self) -> int:
        return self.server.server_address[1]

    def url_for(self, host: str) -> str:
        return f"http://{host}:{self.port}"

    def client(self, host: str) -> "BudgetClient":
        return BudgetClient(self.url_for(host), secret=self.secret)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class BudgetClient:
    """Executor-side permit client. Picklable (URL only).

    Fail-open: if the driver bucket is unreachable (server gone during
    teardown), proceed without a permit — the API's own rate limiter
    and the client's 403 handling are the backstop; stalling every
    executor on a dead coordinator would be worse.
    """

    def __init__(self, url: str, secret: str = ""):
        self.url = url.rstrip("/")
        self.secret = secret
        self.max_wait = 900.0

    def acquire(self) -> None:
        deadline = time.monotonic() + self.max_wait
        acquire_url = self.url + "/acquire?s=" + urllib.parse.quote(self.secret)
        while True:
            try:
                with urllib.request.urlopen(acquire_url, timeout=10) as r:
                    wait = float(json.loads(r.read().decode()).get("wait", 0.0))
            except Exception:
                return  # fail-open
            if wait <= 0:
                return
            if time.monotonic() + wait > deadline:
                return  # budget exhausted beyond patience — let the API decide
            time.sleep(min(wait, 30.0))
