"""Control-plane model: accounts, sources, destinations, executions.

Semantics derived from the reference's models
(/root/reference/megalista_dataflow/models/execution.py:21-468), re-expressed
as plain dataclasses — the Beam wrapper/coder machinery is unnecessary in
Spark (Tungsten handles serialization; the config plane is tiny and stays on
the driver).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum
from typing import Sequence


class DestinationType(Enum):
    """All destination types the engine supports.

    Parity with reference models/execution.py:21-45 (22 enum values,
    18 wired to steps).
    """

    CM_OFFLINE_CONVERSION = "CM_OFFLINE_CONVERSION"
    ADS_OFFLINE_CONVERSION = "ADS_OFFLINE_CONVERSION"
    ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID = "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID"
    ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID = (
        "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID"
    )
    ADS_OFFLINE_CONVERSION_CALLS = "ADS_OFFLINE_CONVERSION_CALLS"
    ADS_ENHANCED_CONVERSION_LEADS = "ADS_ENHANCED_CONVERSION_LEADS"
    ADS_SSD_UPLOAD = "ADS_SSD_UPLOAD"
    ADS_SSI_UPLOAD = "ADS_SSI_UPLOAD"
    ADS_ENHANCED_CONVERSION = "ADS_ENHANCED_CONVERSION"
    ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD = "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"
    ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD = (
        "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD"
    )
    ADS_CUSTOMER_MATCH_USER_ID_UPLOAD = "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD"
    GA_USER_LIST_UPLOAD = "GA_USER_LIST_UPLOAD"
    APPSFLYER_S2S_EVENTS = "APPSFLYER_S2S_EVENTS"
    GA_MEASUREMENT_PROTOCOL = "GA_MEASUREMENT_PROTOCOL"
    GA_DATA_IMPORT = "GA_DATA_IMPORT"
    GA_4_MEASUREMENT_PROTOCOL = "GA_4_MEASUREMENT_PROTOCOL"
    DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD = "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"
    DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD = "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD"


class SourceType(Enum):
    """Reference models/execution.py:53-54."""

    BIG_QUERY = "BIG_QUERY"
    FILE = "FILE"


class TransactionalType(Enum):
    """Selects the dedup key for the control-table anti-join.

    Reference models/execution.py:57-70.
    """

    NOT_TRANSACTIONAL = ()
    UUID = ("uuid",)
    GCLID_TIME = ("gclid", "time")
    ORDER_ID_TIME = ("order_id", "time")

    @property
    def keys(self) -> tuple[str, ...]:
        return self.value


# Days a control table keeps uploaded keys: BigQuery expires older
# partitions, the parquet table stops reading them (reference
# big_query_data_source.py:125,132,139).
RETENTION_DAYS = 15

_NON_DIGITS = re.compile(r"[^0-9]")


def filter_text_only_numbers(text: str) -> str:
    """Strip every non-digit (reference utils/utils.py:18-20)."""
    return _NON_DIGITS.sub("", text)


@dataclass(frozen=True)
class AccountConfig:
    """Reference models/execution.py:73-160 — account ids are
    numeric-filtered on construction."""

    google_ads_account_id: str = ""
    mcc: bool = False
    google_analytics_account_id: str = ""
    campaign_manager_profile_id: str = ""
    app_id: str = ""

    def __post_init__(self) -> None:
        object.__setattr__(
            self,
            "google_ads_account_id",
            filter_text_only_numbers(self.google_ads_account_id),
        )
        object.__setattr__(
            self,
            "campaign_manager_profile_id",
            filter_text_only_numbers(self.campaign_manager_profile_id),
        )


@dataclass(frozen=True)
class Source:
    """Reference models/execution.py:163-213.

    metadata: [dataset, table] for BIG_QUERY; [file_type, path] for FILE.
    """

    name: str
    source_type: SourceType
    metadata: tuple[str, ...]

    def __post_init__(self) -> None:
        object.__setattr__(self, "name", self.name.strip())
        object.__setattr__(
            self, "metadata", tuple(m.strip() if isinstance(m, str) else m for m in self.metadata)
        )

    @property
    def path(self) -> str:
        """Table path / file path, per source type."""
        if self.source_type == SourceType.FILE:
            return self.metadata[1]
        return ".".join(self.metadata[:2])

    @property
    def file_format(self) -> str:
        return str(self.metadata[0]).lower() if self.metadata else "parquet"


@dataclass(frozen=True)
class Destination:
    """Reference models/execution.py:216-267 — positional metadata list
    whose meaning varies per destination type."""

    name: str
    destination_type: DestinationType
    metadata: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "name", self.name.strip())
        object.__setattr__(
            self, "metadata", tuple(m.strip() if isinstance(m, str) else m for m in self.metadata)
        )


@dataclass(frozen=True)
class Execution:
    """(account_config, source, destination) — one job.

    Reference models/execution.py:270-318.
    """

    account_config: AccountConfig
    source: Source
    destination: Destination

    @property
    def key(self) -> tuple[str, str]:
        return (self.source.name, self.destination.name)


def group_executions_by_source(
    executions: Sequence[Execution],
) -> dict[str, list[Execution]]:
    """Group jobs sharing a source so the source is read once.

    Reference steps/load_executions_step.py:25-31 + G1 in SURVEY §2.4.
    The config plane is tiny, so this is a driver-side dict, not a shuffle.
    """
    grouped: dict[str, list[Execution]] = {}
    for e in executions:
        grouped.setdefault(e.source.name, []).append(e)
    return grouped
