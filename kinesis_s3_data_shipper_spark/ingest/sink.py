"""Batched HTTP-shaped sink with idempotency keys and bounded retry.

The reference POSTs each payload to Humio's structured-ingest endpoint
through one pooled urllib3 manager (kinesis-to-humio.py:151-158, 289)
and — its known delivery flaw — marks the whole FILE done even when a
batch failed (K:158 sets a flag; K:172-174 records anyway), so failed
batches are silently lost on re-run. This sink fixes that:

- every payload carries an idempotency key (sha256 of the payload), so
  retries/replays are safe for an idempotent receiver;
- a send failure after retries raises, failing the Spark task → task
  retry → at-least-once WITH the failed batch re-sent, never dropped;
- one transport per partition (executor-side connection reuse, the
  pooled-manager pattern, but per executor instead of per process).

Delivery is a lazy pass-through (``deliver_payloads``): a
``mapInArrow`` that POSTs each Arrow batch of payload rows and then
yields it unchanged, so the POSTs run inside whatever job consumes the
rows — the shipper's ``<output>_payloads`` write, which therefore
commits only when every POST succeeded.

The transport is injected (``Callable[[dict], int]`` returning an HTTP
status) so tests run a recording transport and production plugs in an
http.client/urllib3 pool without this module importing either.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

TransportFactory = Callable[[], Callable[[dict], int]]
#: Transport failures a later attempt can get past: the connection was
#: reset, refused or timed out. Transports raise these builtins rather
#: than their HTTP client's own exceptions.
RETRYABLE_ERRORS = (ConnectionError, TimeoutError)


def payload_key(payload: str) -> str:
    return hashlib.sha256(payload.encode()).hexdigest()


def deliver_partition(rows: Iterable, transport: Callable[[dict], int], *,
                      max_retries: int = 3, backoff_s: float = 0.2) -> int:
    """Send every payload row; raise if any batch is undeliverable.

    A transport may raise ``RETRYABLE_ERRORS`` (a reset, refused or
    timed-out connection); those retry in the same bounded backoff as
    a retryable status."""
    sent = 0
    for row in rows:
        request = {
            "url_path": "/api/v1/ingest/humio-structured",
            "idempotency_key": payload_key(row.payload),
            "body": row.payload,
        }
        for attempt in range(max_retries + 1):
            try:
                status = transport(request)
                cause = f"status {status}"
            except RETRYABLE_ERRORS as e:
                status, cause = 0, repr(e)  # 0: no response at all
            if 200 <= status < 300:
                sent += 1
                break
            # Permanent client errors (bad auth/payload) can't succeed
            # on retry — fail fast instead of burning the backoff loop
            # per row before Spark's own task retry multiplies it.
            # 408 (timeout) and 429 (throttle) stay retryable.
            permanent = 400 <= status < 500 and status not in (408, 429)
            if permanent or attempt == max_retries:
                raise RuntimeError(
                    f"undeliverable batch ({cause}"
                    f"{', permanent' if permanent else ''}) for "
                    f"{row.file}#{row.block_index}.{row.batch_id}")
            time.sleep(backoff_s * (2 ** attempt))
    return sent


def deliver_payloads(payloads: DataFrame,
                     transport_factory: TransportFactory) -> DataFrame:
    """``payloads`` with every row POSTed before it is passed on: one
    transport per partition, each Arrow batch delivered by
    ``deliver_partition`` and then yielded unchanged. Lazy: the POSTs
    run in the job that consumes the result."""
    from pyspark.sql import Row

    def post(batches: Iterator) -> Iterator:
        transport = transport_factory()
        for batch in batches:
            deliver_partition((Row(**r) for r in batch.to_pylist()),
                              transport)
            yield batch

    return payloads.mapInArrow(post, payloads.schema)


def send_payloads(payloads: DataFrame,
                  transport_factory: TransportFactory) -> int:
    """Deliver every payload row now, in one job with no shuffle (a
    ``count()`` would add an aggregation stage); returns the number
    sent."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sent = Observation("sent")
    (deliver_payloads(payloads, transport_factory)
     .observe(sent, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return sent.get["n"]
