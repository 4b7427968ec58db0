"""GitHub App authentication (SURVEY.md §2.9 T3, reference
main.py:36-164): short-lived RS256 app JWT → installation access
token, with the reference's two caches — repo→installation-id (never
expires) and installation-id→token (1 h TTL, refreshed 60 s early to
absorb clock skew).

RS256 is implemented directly on `cryptography` (PyJWT isn't in the
image): sign SHA-256 of `b64url(header).b64url(payload)` with RSA
PKCS#1 v1.5 — the JWS compact serialization. Import-gated so the rest
of the connector works tokenless/static-token where `cryptography` is
absent.

Distribution note: auth state is per-process. Executors each hold
their own caches (fine — tokens are reusable across holders); at
5000 req/h the *rate budget* is the shared resource, not the token
(SURVEY.md §7.4 risk 4).
"""

from __future__ import annotations

import base64
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field

try:
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding

    _HAVE_CRYPTO = True
except ImportError:  # pragma: no cover
    _HAVE_CRYPTO = False

JWT_IAT_BACKDATE_S = 60  # clock-skew absorption (reference main.py:57)
JWT_TTL_S = 540  # 9 min; GitHub max is 10 (reference main.py:58)
TOKEN_REFRESH_MARGIN_S = 60  # refresh 60 s before expiry (reference main.py:120)

# Serializes the check-and-mint of `InstallationAuth.token`: a scan
# task fetches children on several threads, and each would otherwise
# mint its own token. Module-level, not an attribute, so the provider
# stays picklable into read tasks; mints are rare, so one lock for
# every installation costs nothing.
_TOKEN_LOCK = threading.Lock()


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode("ascii")


def generate_app_jwt(app_id: str, private_key_pem: str, now: float | None = None) -> str:
    """Signed RS256 app JWT: iss=app_id, iat backdated 60 s, 9 min TTL."""
    if not _HAVE_CRYPTO:  # pragma: no cover
        raise NotImplementedError(
            "GitHub App auth needs the 'cryptography' package for RS256"
        )
    t = int(time.time() if now is None else now)
    header = {"alg": "RS256", "typ": "JWT"}
    payload = {"iat": t - JWT_IAT_BACKDATE_S, "exp": t + JWT_TTL_S, "iss": app_id}
    signing_input = (
        _b64url(json.dumps(header, separators=(",", ":")).encode())
        + "."
        + _b64url(json.dumps(payload, separators=(",", ":")).encode())
    )
    key = serialization.load_pem_private_key(private_key_pem.encode(), password=None)
    sig = key.sign(signing_input.encode(), padding.PKCS1v15(), hashes.SHA256())
    return signing_input + "." + _b64url(sig)


@dataclass
class InstallationAuth:
    """Installation-token provider with the reference's cache contract.

    `headers()` is what the connector calls before every request (the
    refresh_auth closure analog, reference main.py:843-869): it returns
    a valid Authorization header, minting a new JWT + token only when
    the cached token is inside its 60 s expiry margin.

    `http_get_json` / `http_post_json` are injectable for tests; the
    defaults use stdlib urllib against the real endpoints.
    """

    app_id: str
    private_key_pem: str
    repo: str
    api_url: str = "https://api.github.com"
    clock: object = time.time
    http_get_json: object = None
    http_post_json: object = None
    _installation_id: int | None = field(default=None, init=False)
    _token: str | None = field(default=None, init=False)
    _expires_at: float = field(default=0.0, init=False)

    def _request_json(self, method: str, url: str, jwt_token: str) -> dict:
        req = urllib.request.Request(
            url,
            method=method,
            headers={
                "Authorization": f"Bearer {jwt_token}",
                "Accept": "application/vnd.github+json",
                "X-GitHub-Api-Version": "2022-11-28",
            },
        )
        with urllib.request.urlopen(req, timeout=30) as resp:  # pragma: no cover
            return json.loads(resp.read().decode())

    def _get(self, url: str, jwt_token: str) -> dict:
        fn = self.http_get_json
        return fn(url, jwt_token) if fn else self._request_json("GET", url, jwt_token)

    def _post(self, url: str, jwt_token: str) -> dict:
        fn = self.http_post_json
        return fn(url, jwt_token) if fn else self._request_json("POST", url, jwt_token)

    def installation_id(self, jwt_token: str) -> int:
        """repo→installation id; cached forever ("never changes",
        reference main.py:96-116)."""
        if self._installation_id is None:
            data = self._get(f"{self.api_url}/repos/{self.repo}/installation", jwt_token)
            self._installation_id = int(data["id"])
        return self._installation_id

    def token(self) -> str:
        with _TOKEN_LOCK:
            return self._token_locked()

    def _token_locked(self) -> str:
        now = self.clock()
        if self._token is not None and self._expires_at > now + TOKEN_REFRESH_MARGIN_S:
            return self._token
        jwt_token = generate_app_jwt(self.app_id, self.private_key_pem, now)
        inst = self.installation_id(jwt_token)
        data = self._post(
            f"{self.api_url}/app/installations/{inst}/access_tokens", jwt_token
        )
        self._token = data["token"]
        expires = data.get("expires_at")
        if isinstance(expires, (int, float)):
            self._expires_at = float(expires)
        else:
            # ISO-8601 "2026-01-15T13:00:00Z" per the API
            import datetime as _dt

            self._expires_at = _dt.datetime.fromisoformat(
                str(expires).replace("Z", "+00:00")
            ).timestamp()
        return self._token

    def headers(self) -> dict[str, str]:
        return {"Authorization": f"Bearer {self.token()}"}
