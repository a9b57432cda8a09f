"""Google Ads Customer Match transport — the reference's most stateful
uploader (uploaders/google_ads/customer_match/abstract_uploader.py:33-281),
re-expressed against the engine's Transport lifecycle:

- user-list lookup by name / create-if-missing, cached per partition
  (reference _user_list_id_cache, :43,58-71)
- offline-user-data-job cached per (list, operator) (reference _job_cache,
  :44,163-182); all cached jobs RUN at partition end (finish_bundle, :49-56)
- operator translation ADD/REMOVE/REPLACE → create/remove/create (:184-190)
- REPLACE issues remove_all exactly once per RUN (:244-249 does it on
  batch.iteration == 1 — valid in Beam's sequential bundles; a parallel
  executor must hoist it to the run level → ``before_run``)
- one operation per (row, identifier), each with a single-element
  user_identifiers list (:250-258)
- consent from destination metadata[5..6] (:198-211)

The Google Ads API client is injectable (the real google-ads lib is not in
this environment); ``FakeAdsClient`` in tests asserts the exact call
sequence, mirroring the reference's mocked-API tests.
"""

from __future__ import annotations

from typing import Any, Protocol

from megalista_spark.models.execution import Execution
from megalista_spark.sinks.transports import Transport

Row = dict[str, Any]

OPERATOR_TRANSLATION = {"ADD": "create", "REMOVE": "remove", "REPLACE": "create"}


class AdsApiClient(Protocol):
    """Injectable slice of the Google Ads API surface this transport needs."""

    def get_user_list(self, customer_id: str, list_name: str) -> str | None: ...

    def create_user_list(self, customer_id: str, list_definition: Row) -> str: ...

    def create_offline_user_data_job(
        self, customer_id: str, list_resource_name: str, consents: Row
    ) -> str: ...

    def add_job_operations(self, job_resource_name: str, operations: list[Row]) -> list[int]:
        """Returns indices of FAILED operations (partial failure)."""
        ...

    def run_job(self, job_resource_name: str) -> None: ...


class CustomerMatchTransport(Transport):
    def __init__(
        self,
        execution: Execution,
        row_keys: list[str],
        list_definition: Row,
        client: AdsApiClient,
    ):
        self.execution = execution
        self.row_keys = row_keys
        self.list_definition = list_definition
        self.client = client
        self._list_cache: dict[str, str] = {}
        self._job_cache: dict[tuple[str, str], str] = {}

    # -- metadata accessors (positions per reference abstract_uploader.py) --

    @property
    def list_name(self) -> str:
        return self.execution.destination.metadata[0]

    @property
    def operator(self) -> str:
        return OPERATOR_TRANSLATION[self.execution.destination.metadata[1]]

    @property
    def is_replace(self) -> bool:
        return self.execution.destination.metadata[1] == "REPLACE"

    @property
    def customer_id(self) -> str:
        return self.execution.account_config.google_ads_account_id

    def consents(self) -> Row:
        md = self.execution.destination.metadata
        if len(md) >= 7 and md[5] and md[6]:
            return {"consent": {"ad_user_data": md[5], "ad_personalization": md[6]}}
        return {}

    # ------------------------------------------------------------ lifecycle

    def _ensure_list(self) -> str:
        name = self.list_name
        if name not in self._list_cache:
            resource = self.client.get_user_list(self.customer_id, name)
            if resource is None:
                resource = self.client.create_user_list(
                    self.customer_id, self.list_definition
                )
            self._list_cache[name] = resource
        return self._list_cache[name]

    def _ensure_job(self, list_resource: str) -> str:
        key = (list_resource, self.operator)
        if key not in self._job_cache:
            self._job_cache[key] = self.client.create_offline_user_data_job(
                self.customer_id, list_resource, self.consents()
            )
        return self._job_cache[key]

    def before_run(self, context: dict[str, Any]) -> None:
        """REPLACE semantics: clear the list once per run, before any
        parallel partition uploads (see module docstring on iteration==1).

        The removal runs in a DEDICATED job that is created, populated and
        run to completion here on the driver (a job can only be run once
        against the real API); each partition creates, populates and runs
        only jobs it owns."""
        if self.is_replace:
            list_resource = self._ensure_list()
            removal_job = self.client.create_offline_user_data_job(
                self.customer_id, list_resource, self.consents()
            )
            self.client.add_job_operations(removal_job, [{"remove_all": True}])
            self.client.run_job(removal_job)

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        list_resource = self._ensure_list()
        job = self._ensure_job(list_resource)
        operations: list[Row] = []
        op_owner: list[int] = []  # operation index → payload row index
        for i, row in enumerate(payload):
            for key in self.row_keys:
                if row.get(key) is not None:
                    operations.append(
                        {self.operator: {"user_identifiers": [{key: row[key]}]}}
                    )
                    op_owner.append(i)
        failed_ops = set(self.client.add_job_operations(job, operations))
        failed_rows = {op_owner[j] for j in failed_ops}
        return [r for i, r in enumerate(payload) if i not in failed_rows]

    def close(self, context: dict[str, Any]) -> None:
        """finish_bundle: run every cached job once per partition."""
        for job in self._job_cache.values():
            self.client.run_job(job)
        self._job_cache.clear()
