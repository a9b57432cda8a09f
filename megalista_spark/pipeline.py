"""The full pipeline run — the Spark shape of the reference's main.run()
(megalista_dataflow/main.py:53-121 + steps/processing_steps.py:661-673).

Reference DAG: config → group executions by source → 18 parallel
per-destination branches (filter, read, validate, dedup, transform, batch,
upload, control-write) → consolidate summary → exit 1 if any error.

Spark shape:
- the config plane stays on the driver (it is tiny);
- each source is READ ONCE, in the calling thread (reference reads per
  source group; SURVEY §4 "read-once-per-source"): ``read_raw`` fixes its
  file listing and schema, with one schema-inference job, and every branch
  of the source plans from that one DataFrame. It is not cached, so each
  branch's upload scans only the columns its projection keeps, and lists
  no files and infers no schema again. A source none of whose branches
  plans from that scan (``DataSource.uses_scan``: a BigQuery source whose
  branches are all transactional) is not scanned, and a failed scan fails
  only the branches that use it;
- each branch is lazy DataFrame work ending in one upload action, which
  returns the branch's row, accepted and error counts. In a transactional
  branch the upload tasks also stage the keys they got accepted under the
  control table, one completed file per partition, and the driver then
  commits every completed file by rename (``DataSource.record_uploaded``),
  so the branch runs no second Spark job; the branch then releases the
  upload's cache;
- branches run at once on a driver thread pool, as the reference's
  parallel Beam branches do, except where they share state: branches that
  share a control table (a transactional branch's source) or a destination
  (``before_run`` side effects, the rate budget) form one chain and run in
  config order. Each chain thread inherits the caller's job group and
  local properties; the FIFO scheduler gives free task slots to later jobs;
- each branch runs inside a try/except — a failing branch records an
  error and the run continues (reference safe_process error isolation,
  uploaders/utils.py:69-88);
- the run summary is a driver-side list of per-branch results in config
  order, with one JSON log line per branch and one per run; exit code 1
  if any branch recorded errors (reference main.py:106-121).
"""

from __future__ import annotations

import json
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from megalista_spark.functions.hashing import ads_pii_expressions, dv_pii_expressions
from megalista_spark.models.execution import (
    DestinationType,
    Execution,
    TransactionalType,
    group_executions_by_source,
)
from megalista_spark.schema.registry import (
    SCHEMAS,
    SchemaValidationError,
    aggregate_custom_variables,
    get_schema,
)
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import DryRunTransport, Transport
from megalista_spark.sources.data_source import get_data_source

_log = logging.getLogger("megalista_spark.run")

# Per-destination-family row transform applied between schema projection
# and upload (reference: hashing mappers + data treatments).
_TRANSFORMS: dict[DestinationType, Callable[[DataFrame], DataFrame]] = {
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_SSD_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_SSI_UPLOAD: ads_pii_expressions,
    DestinationType.ADS_ENHANCED_CONVERSION: ads_pii_expressions,
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: ads_pii_expressions,
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: dv_pii_expressions,
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: dv_pii_expressions,
    DestinationType.CM_OFFLINE_CONVERSION: aggregate_custom_variables,
}
_PII_TRANSFORMS = (ads_pii_expressions, dv_pii_expressions)


def _hash_enabled(execution: Execution) -> bool:
    """Hash toggle (reference abstract_list_pii_hashing_mapper.py:53-63):
    destination metadata[2] equal to 'false' in any case means the rows are
    already hashed; an absent or empty value means hash."""
    md = execution.destination.metadata
    return len(md) < 3 or str(md[2] or "").strip().lower() != "false"


def _transactional_type(execution: Execution) -> TransactionalType:
    schema = SCHEMAS.get(execution.destination.destination_type)
    return schema.transactional_type if schema else TransactionalType.NOT_TRANSACTIONAL


def _chain_keys(execution: Execution) -> set[tuple[str, str]]:
    """The shared state a branch touches: its destination and, when it is
    transactional, its source's control table."""
    keys = {("destination", execution.destination.name)}
    if _transactional_type(execution) != TransactionalType.NOT_TRANSACTIONAL:
        keys.add(("control", execution.source.name))
    return keys


def _chains(keys: dict[int, set[tuple[str, str]]]) -> list[list[int]]:
    """Branches joined by any shared key, each chain in ascending order and
    the chains ordered by their first branch."""
    chain_of: dict[tuple[str, str], int] = {}
    chains: dict[int, list[int]] = {}
    for i, ks in keys.items():
        merged = [i]
        for c in {chain_of[k] for k in ks if k in chain_of}:
            merged += chains.pop(c)
        chains[i] = sorted(merged)
        for j in merged:
            for k in keys[j]:
                chain_of[k] = i
    return sorted(chains.values())


@dataclass
class BranchResult:
    execution: Execution
    rows_read: int = 0
    rows_uploaded: int = 0  # the upload's SinkResult.accepted
    errors: list[str] = field(default_factory=list)
    seconds: float = 0.0  # wall time of the branch

    @property
    def ok(self) -> bool:
        return not self.errors


@dataclass
class RunResult:
    branches: list[BranchResult]
    seconds: float = 0.0  # wall time of the run

    @property
    def exit_code(self) -> int:
        """Any error anywhere → 1 (reference main.py:106-121)."""
        return 0 if all(b.ok for b in self.branches) else 1

    def summary(self) -> list[dict[str, Any]]:
        """Distinct per (source, destination) — the reference's LastStep
        CombineGlobally keeps first execution per key (last_step.py:26-56)."""
        seen: dict[tuple[str, str], dict[str, Any]] = {}
        for b in self.branches:
            key = b.execution.key
            if key not in seen:
                seen[key] = {
                    "source": key[0],
                    "destination": key[1],
                    "rows_read": b.rows_read,
                    "rows_uploaded": b.rows_uploaded,
                    "ok": b.ok,
                }
        return list(seen.values())


class Pipeline:
    """``bq_ops_dataset`` (``--bq_ops_dataset``) holds the control tables of
    BigQuery sources; transactional BigQuery sources require it."""

    def __init__(
        self,
        spark: SparkSession,
        executions: list[Execution],
        transport_factory: Callable[[Execution], Transport] | None = None,
        error_notifier=None,
        bq_ops_dataset: str = "",
    ):
        self.spark = spark
        self.executions = executions
        self.bq_ops_dataset = bq_ops_dataset
        self.transport_factory = transport_factory or (lambda e: DryRunTransport())
        if error_notifier is None:
            from megalista_spark.notifiers import LoggingErrorNotifier

            error_notifier = LoggingErrorNotifier()
        self.error_notifier = error_notifier

    def run(self) -> RunResult:
        started = time.perf_counter()
        results: list[BranchResult | None] = []
        todo: dict[int, tuple[Execution, Any, DataFrame | None]] = {}  # by results index
        for execs in group_executions_by_source(self.executions).values():
            ds = get_data_source(self.spark, execs[0].source, self.bq_ops_dataset)
            scans = [ds.uses_scan(_transactional_type(e)) for e in execs]
            raw = failed = None
            if any(scans):
                try:
                    raw = ds.read_raw()
                except Exception as exc:
                    failed = f"source read failed: {exc}"
            for e, scan in zip(execs, scans):
                if scan and failed:
                    results.append(BranchResult(e, errors=[failed]))
                else:
                    todo[len(results)] = (e, ds, raw)
                    results.append(None)

        sc = self.spark.sparkContext

        def run_chain(chain: list[int]) -> None:
            for i in chain:
                e, ds, raw = todo[i]
                sc.setJobDescription(f"{e.source.name} → {e.destination.name}")
                results[i] = self._run_branch(e, ds, raw)

        chains = _chains({i: _chain_keys(e) for i, (e, _, _) in todo.items()})
        if chains:
            with ThreadPoolExecutor(min(len(chains), sc.defaultParallelism)) as pool:
                # wrapped per chain in this thread, so each chain runs with
                # its own copy of the caller's job group and local properties
                futures = [
                    pool.submit(inheritable_thread_target(self.spark)(run_chain), c)
                    for c in chains
                ]
                for f in futures:
                    f.result()
        run = RunResult(results, time.perf_counter() - started)
        failed = [b for b in results if not b.ok]
        _log.info(json.dumps({
            "branches": len(run.branches),
            "failed_branches": len(failed),
            "seconds": round(run.seconds, 3),
        }))
        if failed:
            # end-of-run notification (reference GmailNotifier shape)
            self.error_notifier.notify(failed)
        return run

    def _run_branch(self, execution: Execution, ds, raw: DataFrame | None) -> BranchResult:
        started = time.perf_counter()
        res = BranchResult(execution)
        dtype = execution.destination.destination_type
        try:
            schema = get_schema(dtype)
            txn = schema.transactional_type
            # first: a control table pyarrow cannot open fails the branch
            # before anything is read or sent
            staging = ds.key_staging(txn)
            df = ds.retrieve_data(schema, txn, raw)
            transform = _TRANSFORMS.get(dtype)
            if transform in _PII_TRANSFORMS:
                df = transform(df, hash_enabled=_hash_enabled(execution))
            elif transform is not None:
                df = transform(df)
            sink = SinkExecutor.for_destination(
                self.transport_factory(execution), dtype
            )
            outcome = sink.run(df, staging)
            try:
                res.rows_read = outcome.rows
                res.rows_uploaded = outcome.accepted
                res.errors.extend(outcome.error_messages)
                if txn != TransactionalType.NOT_TRANSACTIONAL:
                    # U20/D5: persist successfully-uploaded keys
                    res.errors.extend(ds.record_uploaded(txn, outcome))
            finally:
                outcome.release()
        except SchemaValidationError as exc:
            res.errors.append(str(exc))
        except Exception as exc:  # branch isolation (safe_process)
            res.errors.append(f"{type(exc).__name__}: {exc}")
        res.seconds = time.perf_counter() - started
        _log.info(json.dumps({
            "source": execution.source.name,
            "destination": execution.destination.name,
            "rows_read": res.rows_read,
            "rows_uploaded": res.rows_uploaded,
            "errors": len(res.errors),
            "seconds": round(res.seconds, 3),
        }))
        return res


def run_from_config(
    spark: SparkSession,
    config_path: str,
    transport_factory: Callable[[Execution], Transport] | None = None,
    error_notifier=None,
) -> RunResult:
    """python -m entry point shape: config file → full run."""
    from megalista_spark.sources.config_json import load_executions_from_json

    executions = load_executions_from_json(config_path)
    return Pipeline(spark, executions, transport_factory, error_notifier).run()
