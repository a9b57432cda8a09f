"""Transport layer for side-effecting sinks.

The reference's uploaders are Beam DoFns wrapping Google API clients; the
executable spec for each lives in its mocked-API unit tests (they assert the
exact request payload). Here the transport is an injectable strategy so:

- ``MockTransport`` captures payloads for tests (per-executor, returned via
  the success rows themselves — no driver-side globals)
- ``DryRunTransport`` logs and accepts everything
- the real Google Ads / CM / GA / GA4 / DV360 / AppsFlyer adapters live
  in ``sinks/adapters.py`` — lazy client-library imports, injectable
  service/HTTP seams, request-golden tests in tests/test_adapters.py

A transport receives one chunk (list of row dicts) and returns the list of
ACCEPTED row dicts — partial failure is modeled by returning a subset
(reference success-filter semantics J3,
google_ads_offline_conversions_uploader.py:154-161).
"""

from __future__ import annotations

import time
from typing import Any, Callable

Row = dict[str, Any]


class TransportError(RuntimeError):
    """A whole-chunk failure (retryable)."""


class Transport:
    """Strategy interface. Subclasses must be picklable (they're shipped to
    executors inside the foreachPartition closure)."""

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        raise NotImplementedError

    def open(self, context: dict[str, Any]) -> None:
        """Called once per partition before the first chunk (client setup —
        the per-worker client cache of reference abstract_uploader.py:43-44)."""

    def close(self, context: dict[str, Any]) -> None:
        """Called once per partition after the last chunk (the reference's
        finish_bundle deferred-job hook, abstract_uploader.py:49-56)."""

    def before_run(self, context: dict[str, Any]) -> None:
        """Called ONCE, driver-side, before any partition uploads — the
        hook for run-level preparation like the GA data-import eraser
        (reference google_analytics_data_import_eraser.py:26-125, which
        deletes all prior uploads of the data source before the uploader
        step of the same branch) or the customer-match REPLACE remove_all
        (abstract_uploader.py:244-249)."""


class DryRunTransport(Transport):
    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        return payload


class MockTransport(Transport):
    """Deterministic test transport.

    ``fail_predicate(row) -> bool`` marks individual rows as rejected
    (partial failure). ``fail_chunks_until_attempt`` makes the first N-1
    attempts of every chunk raise, to exercise retry.
    """

    def __init__(
        self,
        fail_predicate: Callable[[Row], bool] | None = None,
        fail_chunks_until_attempt: int = 1,
    ):
        self.fail_predicate = fail_predicate
        self.fail_chunks_until_attempt = fail_chunks_until_attempt
        self._attempts: dict[int, int] = {}

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        chunk_id = context.get("chunk_index", 0)
        self._attempts[chunk_id] = self._attempts.get(chunk_id, 0) + 1
        if self._attempts[chunk_id] < self.fail_chunks_until_attempt:
            raise TransportError(f"injected failure, attempt {self._attempts[chunk_id]}")
        if self.fail_predicate is None:
            return payload
        return [r for r in payload if not self.fail_predicate(r)]


class ConcurrentSendTransport(Transport):
    """Bounded-concurrency per-row dispatch — the reference's async
    AppsFlyer uploader re-expressed (appsflyer_s2s_uploader_async.py:
    101-139: one asyncio task per element gathered under a shared HTTP
    session, per-element retry ≤3 with linear backoff on EXCEPTIONS only,
    then a post-batch sleep stretching the batch to ≥ n/rate seconds).

    Here the dispatch is a thread pool (aiohttp is not in this
    environment and the send is I/O-bound, so threads are equivalent);
    ``max_concurrency`` bounds in-flight sends per partition — total
    in-flight against the API is max_concurrency × upload partitions,
    both knobs explicit. The post-batch pacing is the sink executor's,
    from the destination's RATE_LIMITS budget. Subclasses implement
    ``send_one(row, context) -> bool`` (True accepted, False
    rejected-no-retry, raise to retry).
    """

    def __init__(self, max_concurrency: int = 8, max_retries: int = 3):
        self.max_concurrency = max_concurrency
        self.max_retries = max_retries

    def send_one(self, row: Row, context: dict[str, Any]) -> bool:
        raise NotImplementedError

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        from concurrent.futures import ThreadPoolExecutor

        def attempt(row: Row) -> Row | None:
            for r in range(1, self.max_retries + 1):
                try:
                    return row if self.send_one(row, context) else None
                except Exception:
                    if r < self.max_retries:
                        time.sleep(min(0.05 * r, 1.0))
            return None

        with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
            results = list(pool.map(attempt, payload))
        return [r for r in results if r is not None]
