"""The full pipeline run — the Spark shape of the reference's main.run()
(megalista_dataflow/main.py:53-121 + steps/processing_steps.py:661-673).

Reference DAG: config → group executions by source → 18 parallel
per-destination branches (filter, read, validate, dedup, transform, batch,
upload, control-write) → consolidate summary → exit 1 if any error.

Spark shape:
- the config plane stays on the driver (it is tiny);
- each source is READ ONCE and cached across the branches that share it
  (reference reads per source group; SURVEY §4 "read-once-per-source");
- each branch is lazy DataFrame work ending in one upload action, which
  returns the branch's row, accepted and error counts; a transactional
  branch then appends its accepted keys from the cached upload, and the
  branch releases that cache;
- each branch runs inside a try/except — a failing branch records an
  error and the run continues (reference safe_process error isolation,
  uploaders/utils.py:69-88);
- the run summary is a driver-side list of per-branch results; exit code 1
  if any branch recorded errors (reference main.py:106-121).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from megalista_spark.functions.hashing import ads_pii_expressions, dv_pii_expressions
from megalista_spark.models.execution import (
    DestinationType,
    Execution,
    TransactionalType,
    group_executions_by_source,
)
from megalista_spark.schema.registry import (
    SchemaValidationError,
    aggregate_custom_variables,
    get_schema,
)
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import DryRunTransport, Transport
from megalista_spark.sources.data_source import get_data_source

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


@dataclass
class BranchResult:
    execution: Execution
    rows_read: int = 0
    rows_uploaded: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


@dataclass
class RunResult:
    branches: list[BranchResult]

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
    BigQuery sources and selects BigQuery-native dedup for them."""

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
        results: list[BranchResult] = []
        for source_name, execs in group_executions_by_source(self.executions).items():
            ds = get_data_source(self.spark, execs[0].source, self.bq_ops_dataset)
            try:
                raw = ds.read_raw()
            except Exception as exc:
                for e in execs:
                    results.append(
                        BranchResult(e, errors=[f"source read failed: {exc}"])
                    )
                continue
            # read-once-per-source: cache only when >1 branch shares the scan
            if len(execs) > 1:
                raw = raw.cache()
            for e in execs:
                results.append(self._run_branch(e, ds, raw))
            if len(execs) > 1:
                raw.unpersist()
        failed = [b for b in results if not b.ok]
        if failed:
            # end-of-run notification (reference GmailNotifier shape)
            self.error_notifier.notify(failed)
        return RunResult(results)

    def _run_branch(self, execution: Execution, ds, raw: DataFrame) -> BranchResult:
        res = BranchResult(execution)
        dtype = execution.destination.destination_type
        try:
            schema = get_schema(dtype)
            txn = schema.transactional_type
            df = ds.retrieve_data(schema, txn, raw)
            transform = _TRANSFORMS.get(dtype)
            if transform in _PII_TRANSFORMS:
                df = transform(df, hash_enabled=_hash_enabled(execution))
            elif transform is not None:
                df = transform(df)
            sink = SinkExecutor.for_destination(
                self.transport_factory(execution), dtype
            )
            outcome = sink.run(df)
            try:
                res.rows_read = outcome.rows
                res.rows_uploaded = outcome.accepted
                res.errors.extend(outcome.error_messages)
                if txn != TransactionalType.NOT_TRANSACTIONAL and res.rows_uploaded > 0:
                    # U20/D5: persist successfully-uploaded keys
                    res.errors.extend(ds.record_uploaded(txn, outcome.success))
            finally:
                outcome.release()
        except SchemaValidationError as exc:
            res.errors.append(str(exc))
        except Exception as exc:  # branch isolation (safe_process)
            res.errors.append(f"{type(exc).__name__}: {exc}")
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
