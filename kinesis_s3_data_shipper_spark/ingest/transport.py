"""Production HTTP transport for the payload sink.

The reference ships through one process-wide urllib3 pool with the
ingest URL and bearer-token headers built up front
(kinesis-to-humio.py:19-28, 151-158, 289). Here the same pattern runs
per EXECUTOR: a module-level pool cache keyed by base URL, so every
partition delivered on an executor reuses one keep-alive pool instead
of opening a connection per payload — at 1000 executors that is 1000
pools, not 1000×partitions sockets.

``http_transport_factory`` returns a ``TransportFactory`` (see
``sink.py``) so the sink never imports urllib3 itself and tests keep
injecting recording transports.
"""

from __future__ import annotations

from collections.abc import Callable

#: Executor-local pool cache. Populated lazily inside the worker
#: process (never pickled — the factory closure only carries strings).
_POOLS: dict[str, object] = {}


def _pool(base_url: str):
    import urllib3
    if base_url not in _POOLS:
        _POOLS[base_url] = urllib3.PoolManager(
            maxsize=4, retries=False, timeout=urllib3.Timeout(total=30.0))
    return _POOLS[base_url]


def build_url(base_url: str, url_path: str) -> str:
    """Join host and endpoint path (reference parity: humio_url K:19-21
    joins host + /api/v1/ingest/humio-structured)."""
    return base_url.rstrip("/") + "/" + url_path.lstrip("/")


def build_headers(token: str | None, idempotency_key: str) -> dict[str, str]:
    """Content-Type + bearer auth (reference parity: humio_headers
    K:25-28) + the idempotency key that makes replays safe."""
    headers = {"Content-Type": "application/json",
               "X-Idempotency-Key": idempotency_key}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    return headers


def http_transport_factory(base_url: str,
                           token: str | None = None) -> Callable[[], Callable[[dict], int]]:
    """TransportFactory for ``send_payloads``: per-executor pooled POST.

    The returned closure captures only (base_url, token) strings, so it
    pickles cleanly to executors; the pool is created lazily worker-side.
    """

    def factory() -> Callable[[dict], int]:
        def send(request: dict) -> int:
            from urllib3.exceptions import ProtocolError
            from urllib3.exceptions import TimeoutError as PoolTimeout
            url = build_url(base_url, request["url_path"])
            try:
                resp = _pool(base_url).request(
                    "POST", url,
                    body=request["body"].encode("utf-8"),
                    headers=build_headers(token, request["idempotency_key"]))
            except (ProtocolError, PoolTimeout) as e:
                # The pool retries nothing (retries=False): hand reset,
                # refused and timed-out connections to the sink's retry
                # loop as the builtin it retries.
                raise ConnectionError(f"POST {url}: {e}") from e
            # preload_content (default) drains the body, returning the
            # keep-alive socket to the pool.
            return int(resp.status)
        return send

    return factory
