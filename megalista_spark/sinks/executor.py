"""The generic sink executor — the one genuinely custom physical operator.

Reference behaviors folded in (SURVEY §4 "custom pieces"):
- fixed-size chunking per partition (reference _BatchElements,
  batches_from_executions.py:113-131) with 1-based ``iteration`` —
  deterministic chunk index within a partition
- per-destination batch sizes (processing_steps.py:100-558; BATCH_SIZES)
- retry ≤ 3 with backoff (uploaders/utils.py:27,91-104)
- client-per-partition lifecycle with open/close hooks (the reference's
  per-worker caches + finish_bundle deferred jobs,
  abstract_uploader.py:43-56)
- client-side rate limiting (appsflyer_s2s_uploader_async.py:131-139):
  a destination's budget is split evenly across its upload tasks, and a
  chunk of n rows takes at least n / per-task rate seconds
- per-batch error isolation: a failing chunk records an error and the
  partition continues (safe_process, uploaders/utils.py:69-88)
- partial-failure success semantics: the executor RETURNS a DataFrame of
  accepted rows so downstream (control-table append, summary) stays
  relational (J3)

Scale design: the upload is `mapInPandas`-free and collect-free — each
partition streams its rows through the transport and yields accepted rows
back as Arrow batches. Parallelism is bounded by `repartition(n)` before
calling run() (API quota control), not by driver-side loops. Errors travel
in-band as a struct column, so one action produces both the success rows
and the error records (no second pass over the source).
"""

from __future__ import annotations

import itertools
import time
from collections import Counter
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.models.execution import DestinationType
from megalista_spark.sinks.transports import Transport

MAX_RETRIES = 3  # reference uploaders/utils.py:27

# Per-destination upload batch sizes (reference processing_steps.py +
# third_party/steps.py:31; default batches_from_executions.py:147).
DEFAULT_BATCH_SIZE = 5000
BATCH_SIZES: dict[DestinationType, int] = {
    DestinationType.ADS_OFFLINE_CONVERSION: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_CALLS: 2000,
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: 2000,
    DestinationType.ADS_SSD_UPLOAD: 5000,
    DestinationType.ADS_SSI_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: 5000,
    DestinationType.GA_USER_LIST_UPLOAD: 5_000_000,
    DestinationType.GA_DATA_IMPORT: 1_000_000,
    DestinationType.GA_MEASUREMENT_PROTOCOL: 20,
    DestinationType.GA_4_MEASUREMENT_PROTOCOL: 20,
    DestinationType.CM_OFFLINE_CONVERSION: 1000,
    DestinationType.APPSFLYER_S2S_EVENTS: 1000,
}

# Events/second budget per destination, for all its upload tasks together.
RATE_LIMITS: dict[DestinationType, float] = {
    # reference appsflyer_s2s_uploader_async.py:137
    DestinationType.APPSFLYER_S2S_EVENTS: 500.0,
}

_STATUS_COL = "__megalista_status"
_ERROR_COL = "__megalista_error"


def _freeze(v: Any) -> Any:
    """Hashable canonical form of a row dict (nested dicts/lists allowed)
    for value-level accepted-row matching."""
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


@dataclass
class SinkResult:
    """Outcome of one sink run: accepted rows + error records."""

    success: DataFrame
    errors: DataFrame


class SinkExecutor:
    """Runs a transport over a DataFrame in fixed-size chunks per partition."""

    def __init__(
        self,
        transport: Transport,
        batch_size: int = DEFAULT_BATCH_SIZE,
        max_retries: int = MAX_RETRIES,
        rate_limit_per_sec: float | None = None,
        max_parallelism: int | None = None,
        context: dict[str, Any] | None = None,
    ):
        self.transport = transport
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.rate_limit_per_sec = rate_limit_per_sec
        self.max_parallelism = max_parallelism
        self.context = context or {}

    @classmethod
    def for_destination(
        cls, transport: Transport, destination_type: DestinationType, **kw: Any
    ) -> "SinkExecutor":
        kw.setdefault("batch_size", BATCH_SIZES.get(destination_type, DEFAULT_BATCH_SIZE))
        kw.setdefault("rate_limit_per_sec", RATE_LIMITS.get(destination_type))
        kw.setdefault("context", {"destination_type": destination_type.value})
        return cls(transport, **kw)

    def run(self, df: DataFrame) -> SinkResult:
        """One pass: upload, return (success rows, error records).

        The returned success DataFrame has the input schema; errors carry
        (partition_id, chunk_index, attempt_count, message).
        """
        if self.max_parallelism is not None:
            df = df.repartition(self.max_parallelism)

        # run-level preparation (e.g. GA data-import erase, customer-match
        # REPLACE remove_all) happens exactly once, before any upload
        self.transport.before_run(dict(self.context))

        transport = self.transport
        batch_size = self.batch_size
        max_retries = self.max_retries
        base_context = dict(self.context)
        rdd = df.rdd
        # the destination's budget is shared by the upload tasks that run
        # at once: no more than the partitions, nor than the task slots
        running = min(
            rdd.getNumPartitions(), df.sparkSession.sparkContext.defaultParallelism
        )
        task_rate = (self.rate_limit_per_sec or 0) / max(running, 1)

        in_schema = df.schema
        out_schema = T.StructType(
            list(in_schema.fields)
            + [
                T.StructField(_STATUS_COL, T.StringType(), False),
                T.StructField(_ERROR_COL, T.StringType(), True),
            ]
        )
        in_cols = [f.name for f in in_schema.fields]

        def process_partition(rows: Iterator[Any]) -> Iterator[tuple]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else -1
            ctx = dict(base_context)
            ctx["partition_id"] = pid
            transport.open(ctx)
            try:
                chunk_index = 0
                while True:
                    chunk = list(itertools.islice(rows, batch_size))
                    if not chunk:
                        break
                    chunk_index += 1
                    ctx["chunk_index"] = chunk_index
                    ctx["iteration"] = chunk_index  # reference Batch.iteration
                    dict_chunk = [r.asDict(recursive=True) for r in chunk]
                    started = time.monotonic()
                    accepted: list[dict] | None = None
                    err: str | None = None
                    for attempt in range(1, max_retries + 1):
                        try:
                            accepted = transport.send(dict_chunk, ctx)
                            break
                        except Exception as exc:  # error isolation: chunk-level
                            err = f"{type(exc).__name__}: {exc}"
                            if attempt < max_retries:
                                time.sleep(min(0.05 * attempt, 1.0))
                    if task_rate:  # post-batch floor (reference :131-136)
                        done_at = started + len(dict_chunk) / task_rate
                        time.sleep(max(0.0, done_at - time.monotonic()))
                    if accepted is None:
                        # whole chunk failed after retries → error records
                        for d in dict_chunk:
                            yield tuple(d.get(c) for c in in_cols) + ("error", err)
                        continue
                    # Accepted-row matching: identity fast path (transports
                    # that return the same dict objects), with a value-level
                    # multiset fallback for transports that return
                    # equal-but-reconstructed dicts — the Transport contract
                    # only promises "the ACCEPTED row dicts", not the same
                    # objects.
                    accepted_ids = {id(d) for d in accepted}
                    rebuilt = Counter(
                        _freeze(d) for d in accepted if id(d) not in {id(c) for c in dict_chunk}
                    )
                    for d in dict_chunk:
                        ok = id(d) in accepted_ids
                        if not ok and rebuilt:
                            key = _freeze(d)
                            if rebuilt.get(key, 0) > 0:
                                rebuilt[key] -= 1
                                ok = True
                        yield tuple(d.get(c) for c in in_cols) + (
                            "ok" if ok else "rejected",
                            None,
                        )
            finally:
                transport.close(ctx)

        tagged = rdd.mapPartitions(process_partition).toDF(out_schema)
        # One lineage, two lazily-derived views; caller actions decide when
        # the upload actually runs. Cache so success+errors don't re-upload.
        tagged = tagged.cache()
        success = tagged.where(F.col(_STATUS_COL) == "ok").select(*in_cols)
        errors = (
            tagged.where(F.col(_STATUS_COL) == "error")
            .select(
                F.lit(base_context.get("destination_type", "")).alias("destination"),
                F.col(_ERROR_COL).alias("message"),
            )
        )
        return SinkResult(success=success, errors=errors)
