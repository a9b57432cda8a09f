"""CustomerMatchTransport lifecycle against a fake Ads API client —
mirrors the reference's mocked-API uploader tests (call sequences and
exact operation payloads)."""

from __future__ import annotations

from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
)
from megalista_spark.sinks.customer_match import CustomerMatchTransport
from megalista_spark.sinks.executor import SinkExecutor


class FakeAdsClient:
    def __init__(self, existing_lists=()):
        self.lists = {name: f"userLists/{name}" for name in existing_lists}
        self.calls: list[tuple] = []
        self.jobs: dict[str, list] = {}
        self._job_n = 0

    def get_user_list(self, customer_id, list_name):
        self.calls.append(("get_user_list", customer_id, list_name))
        return self.lists.get(list_name)

    def create_user_list(self, customer_id, list_definition):
        name = list_definition["name"]
        self.calls.append(("create_user_list", customer_id, name))
        self.lists[name] = f"userLists/{name}"
        return self.lists[name]

    def create_offline_user_data_job(self, customer_id, list_resource, consents):
        self._job_n += 1
        job = f"jobs/{self._job_n}"
        self.calls.append(("create_job", customer_id, list_resource, consents))
        self.jobs[job] = []
        return job

    def add_job_operations(self, job, operations):
        self.calls.append(("add_ops", job, operations))
        self.jobs[job].extend(operations)
        return []  # no partial failures

    def run_job(self, job):
        self.calls.append(("run_job", job))


def make_execution(operator="ADD", consents=("GRANTED", "DENIED")):
    return Execution(
        AccountConfig(google_ads_account_id="123-456"),
        Source("s", SourceType.FILE, ("PARQUET", "/tmp/x")),
        Destination(
            "d",
            DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD,
            ("My List", operator, "true", "", "", *consents),
        ),
    )


def make_transport(client, operator="ADD"):
    return CustomerMatchTransport(
        make_execution(operator),
        row_keys=["hashed_email", "hashed_phone_number"],
        list_definition={"name": "My List", "upload_key_type": "CONTACT_INFO"},
        client=client,
    )


def test_add_flow_creates_missing_list_and_per_identifier_ops():
    client = FakeAdsClient()
    t = make_transport(client)
    accepted = t.send(
        [
            {"hashed_email": "he1", "hashed_phone_number": "hp1"},
            {"hashed_email": "he2", "hashed_phone_number": None},
        ],
        {"chunk_index": 1},
    )
    t.close({})
    assert len(accepted) == 2
    kinds = [c[0] for c in client.calls]
    assert kinds == ["get_user_list", "create_user_list", "create_job", "add_ops", "run_job"]
    # consent threaded from metadata[5..6] (reference :198-211)
    assert client.calls[2][3] == {
        "consent": {"ad_user_data": "GRANTED", "ad_personalization": "DENIED"}
    }
    # one operation per (row, identifier), single-element user_identifiers
    ops = client.calls[3][2]
    assert ops == [
        {"create": {"user_identifiers": [{"hashed_email": "he1"}]}},
        {"create": {"user_identifiers": [{"hashed_phone_number": "hp1"}]}},
        {"create": {"user_identifiers": [{"hashed_email": "he2"}]}},
    ]


def test_existing_list_not_recreated_and_job_cached():
    client = FakeAdsClient(existing_lists=["My List"])
    t = make_transport(client)
    t.send([{"hashed_email": "a"}], {})
    t.send([{"hashed_email": "b"}], {})
    t.close({})
    kinds = [c[0] for c in client.calls]
    assert kinds.count("create_user_list") == 0
    assert kinds.count("create_job") == 1  # cached per (list, operator)
    assert kinds.count("run_job") == 1  # finish_bundle runs once


def test_replace_issues_remove_all_once_per_run(spark):
    client = FakeAdsClient(existing_lists=["My List"])
    t = make_transport(client, operator="REPLACE")
    df = spark.createDataFrame(
        [(f"he{i}",) for i in range(20)], ["hashed_email"]
    )
    result = SinkExecutor(t, batch_size=5).run(df.repartition(4))
    assert result.success.count() == 20
    remove_alls = [
        c for c in client.calls if c[0] == "add_ops" and c[2] == [{"remove_all": True}]
    ]
    assert len(remove_alls) == 1
    # remove_all happened before any data operation
    first_add = next(i for i, c in enumerate(client.calls) if c[0] == "add_ops")
    assert client.calls[first_add][2] == [{"remove_all": True}]


def test_replace_removal_job_is_driver_owned_and_run_before_sends():
    # the removal job is created, populated AND run on the driver, so a
    # partition never shares its job resource (a job can only be run once
    # against the real API)
    client = FakeAdsClient(existing_lists=["My List"])
    t = make_transport(client, operator="REPLACE")
    t.before_run({})
    kinds = [c[0] for c in client.calls]
    assert kinds == ["get_user_list", "create_job", "add_ops", "run_job"]
    assert client.calls[2][2] == [{"remove_all": True}]
    # a partition send afterwards creates and runs its OWN job
    t.send([{"hashed_email": "x"}], {})
    t.close({})
    run_jobs = [c[1] for c in client.calls if c[0] == "run_job"]
    assert len(run_jobs) == 2 and run_jobs[0] != run_jobs[1]


def test_remove_operator_translation():
    client = FakeAdsClient(existing_lists=["My List"])
    t = make_transport(client, operator="REMOVE")
    t.send([{"hashed_email": "x"}], {})
    ops = [c for c in client.calls if c[0] == "add_ops"][0][2]
    assert ops == [{"remove": {"user_identifiers": [{"hashed_email": "x"}]}}]


class PartialFailClient(FakeAdsClient):
    def add_job_operations(self, job, operations):
        super().add_job_operations(job, operations)
        # fail the first operation
        return [0] if operations and "remove_all" not in operations[0] else []


def test_partial_failure_maps_ops_back_to_rows():
    client = PartialFailClient(existing_lists=["My List"])
    t = make_transport(client)
    accepted = t.send(
        [{"hashed_email": "bad"}, {"hashed_email": "good"}], {}
    )
    assert [r["hashed_email"] for r in accepted] == ["good"]
