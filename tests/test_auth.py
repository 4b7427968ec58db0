"""GitHub App auth (sources/auth.py): JWT claims/signature and the
two-level token cache contract (reference behaviors re-asserted:
9-min JWT with 60 s iat backdate, installation-id cached forever,
token refreshed inside the 60 s expiry margin)."""

from __future__ import annotations

import base64
import json

import pytest

cryptography = pytest.importorskip("cryptography")

from cryptography.hazmat.primitives import hashes, serialization  # noqa: E402
from cryptography.hazmat.primitives.asymmetric import padding, rsa  # noqa: E402

from github_etl_spark.sources.auth import (  # noqa: E402
    InstallationAuth,
    generate_app_jwt,
)


@pytest.fixture(scope="module")
def keypair():
    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    pem = key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    ).decode()
    return key, pem


def _b64pad(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def test_jwt_claims_and_signature(keypair):
    key, pem = keypair
    tok = generate_app_jwt("12345", pem, now=1_700_000_000)
    head_b64, payload_b64, sig_b64 = tok.split(".")
    assert json.loads(_b64pad(head_b64)) == {"alg": "RS256", "typ": "JWT"}
    payload = json.loads(_b64pad(payload_b64))
    assert payload == {
        "iat": 1_700_000_000 - 60,
        "exp": 1_700_000_000 + 540,
        "iss": "12345",
    }
    # Round-trip: verify the signature with the public key.
    key.public_key().verify(
        _b64pad(sig_b64),
        f"{head_b64}.{payload_b64}".encode(),
        padding.PKCS1v15(),
        hashes.SHA256(),
    )


class _FakeApi:
    """Counts installation lookups and token mints."""

    def __init__(self):
        self.gets = 0
        self.posts = 0
        self.token_expiry = "2026-01-15T13:00:00Z"

    def get_json(self, url, jwt_token):
        assert url.endswith("/repos/acme/widgets/installation")
        self.gets += 1
        return {"id": 777}

    def post_json(self, url, jwt_token):
        assert url.endswith("/app/installations/777/access_tokens")
        self.posts += 1
        return {"token": f"tok-{self.posts}", "expires_at": self.token_expiry}


def _auth(api, pem, t0):
    clockbox = {"t": t0}
    auth = InstallationAuth(
        app_id="12345",
        private_key_pem=pem,
        repo="acme/widgets",
        api_url="https://example.invalid",
        clock=lambda: clockbox["t"],
        http_get_json=api.get_json,
        http_post_json=api.post_json,
    )
    return auth, clockbox


def test_token_cached_until_margin(keypair):
    _, pem = keypair
    api = _FakeApi()
    # expires 2026-01-15T13:00:00Z = epoch 1768482000
    t0 = 1768482000 - 3600  # one hour before expiry
    auth, clock = _auth(api, pem, t0)

    assert auth.token() == "tok-1"
    assert auth.token() == "tok-1"  # cached
    assert (api.gets, api.posts) == (1, 1)

    clock["t"] = 1768482000 - 120  # still outside the 60 s margin
    assert auth.token() == "tok-1"
    assert api.posts == 1

    clock["t"] = 1768482000 - 30  # inside the margin → refresh
    assert auth.token() == "tok-2"
    assert api.posts == 2
    assert api.gets == 1  # installation id never re-fetched


def test_headers_shape(keypair):
    _, pem = keypair
    api = _FakeApi()
    auth, _ = _auth(api, pem, 1768482000 - 3600)
    assert auth.headers() == {"Authorization": "Bearer tok-1"}


def test_concurrent_token_calls_mint_once(keypair):
    """Threads fetching children in one task share the provider: while
    one mints, the others wait for its token instead of minting their
    own."""
    import sys
    import threading
    import time

    _, pem = keypair
    api = _FakeApi()

    def slow_post(url, jwt_token):
        time.sleep(0.2)
        return api.post_json(url, jwt_token)

    auth, _ = _auth(api, pem, 1768482000 - 3600)
    auth.http_post_json = slow_post
    start = threading.Barrier(8)
    got = []

    def call():
        start.wait()
        got.append(auth.token())

    threads = [threading.Thread(target=call) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == ["tok-1"] * 8
    assert (api.gets, api.posts) == (1, 1)
