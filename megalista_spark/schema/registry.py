"""Declarative per-destination schema registry.

Re-expresses the reference's ``_dtypes`` dict
(/root/reference/megalista_dataflow/data_sources/data_schemas.py:25-286):

- column names may be REGEXES ('cd\\d+' for GA custom dimensions, '.*'
  wildcards for GA4 / user-list / enhanced-conversion schemas)
- ``required`` columns must be present in the source
- ``groups`` are "at least one of" constraints (e.g. CM conversions need one
  of [gclid, mobileDeviceId, encryptedUserId, matchId, dclid],
  data_schemas.py:44-46)
- projection keeps ONLY columns matching a declared pattern — column pruning
  is part of the semantics (unexpected columns are dropped before upload,
  data_schemas.py:359-371)
- declared non-string types are cast (data_schemas.py:376-387)

In Spark this resolves against ``df.columns`` (schema-on-read) and produces
a plain ``df.select(...)`` + casts — which Catalyst pushes down to the scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from megalista_spark.models.execution import DestinationType, TransactionalType


class SchemaValidationError(ValueError):
    """Raised when a source table fails a destination's schema contract."""


@dataclass(frozen=True)
class ColumnSpec:
    name: str  # literal name or regex pattern
    required: bool = False
    data_type: str = "string"
    is_pattern: bool = False  # treat name as a regex

    def matches(self, col: str) -> bool:
        if self.is_pattern:
            return re.fullmatch(self.name, col) is not None
        return self.name == col


@dataclass(frozen=True)
class DestinationSchema:
    destination_type: DestinationType
    columns: tuple[ColumnSpec, ...]
    groups: tuple[tuple[str, ...], ...] = ()
    transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL

    # ---- validation (reference data_schemas.py:291-341) ----

    def missing_required(self, df_columns: list[str]) -> list[str]:
        missing = []
        for spec in self.columns:
            if not spec.required:
                continue
            if not any(spec.matches(c) for c in df_columns):
                missing.append(spec.name)
        return missing

    def unsatisfied_groups(self, df_columns: list[str]) -> list[tuple[str, ...]]:
        out = []
        for group in self.groups:
            if not any(c in df_columns for c in group):
                out.append(group)
        return out

    def validate(self, df_columns: list[str]) -> None:
        """Human-readable combined error (reference data_schemas.py:334-354)."""
        problems = []
        missing = self.missing_required(df_columns)
        if missing:
            problems.append(f"missing required columns: {missing}")
        bad_groups = self.unsatisfied_groups(df_columns)
        for g in bad_groups:
            problems.append(f"at least one of {list(g)} must be present")
        if problems:
            raise SchemaValidationError(
                f"{self.destination_type.value}: " + "; ".join(problems)
            )

    # ---- projection (reference data_schemas.py:359-371) ----

    def resolve_columns(self, df_columns: list[str]) -> list[str]:
        """Columns of the source that match a declared pattern, in source order."""
        return [c for c in df_columns if any(s.matches(c) for s in self.columns)]

    def apply(self, df: DataFrame, validate: bool = True) -> DataFrame:
        """validate → project → cast. The whole contract as one Catalyst-
        optimizable transformation (select reaches the parquet scan)."""
        if validate:
            self.validate(df.columns)
        keep = self.resolve_columns(df.columns)
        out = df.select(*keep)
        for spec in self.columns:
            if spec.data_type == "string" or spec.is_pattern:
                continue
            if spec.name in keep:
                out = out.withColumn(spec.name, F.col(spec.name).cast(spec.data_type))
        return out


def _c(name: str, required: bool = False, data_type: str = "string", pattern: bool = False) -> ColumnSpec:
    return ColumnSpec(name=name, required=required, data_type=data_type, is_pattern=pattern)


_CONSENT = (_c("consent_ad_user_data"), _c("consent_ad_personalization"))

# Registry — parity with reference data_schemas.py:25-286.
SCHEMAS: dict[DestinationType, DestinationSchema] = {
    DestinationType.CM_OFFLINE_CONVERSION: DestinationSchema(
        DestinationType.CM_OFFLINE_CONVERSION,
        columns=(
            _c("uuid", required=True),
            _c("gclid"),
            _c("mobileDeviceId"),
            _c("encryptedUserId"),
            _c("matchId"),
            _c("dclid"),
            _c("value", data_type="int"),
            _c("quantity", data_type="int"),
            _c("timestamp"),
            _c("customVariables.type"),
            _c("customVariables.value"),
            _c(r"customVariables\..*", pattern=True),
            _c("type"),
            _c("ordinal"),
        ),
        groups=(("gclid", "mobileDeviceId", "encryptedUserId", "matchId", "dclid"),),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.ADS_OFFLINE_CONVERSION: DestinationSchema(
        DestinationType.ADS_OFFLINE_CONVERSION,
        columns=(
            _c("gclid", required=True),
            _c("time", required=True),
            _c("amount", required=True),
            _c("external_attribution_credit"),
            _c("external_attribution_model"),
            *_CONSENT,
        ),
        transactional_type=TransactionalType.GCLID_TIME,
    ),
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID: DestinationSchema(
        DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID,
        columns=(
            _c("gclid", required=True),
            _c("time", required=True),
            _c("conversion_time", required=True),
            _c("amount"),
        ),
        transactional_type=TransactionalType.GCLID_TIME,
    ),
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID: DestinationSchema(
        DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID,
        columns=(
            _c("order_id", required=True),
            _c("time", required=True),
            _c("amount"),
        ),
        transactional_type=TransactionalType.ORDER_ID_TIME,
    ),
    DestinationType.ADS_OFFLINE_CONVERSION_CALLS: DestinationSchema(
        DestinationType.ADS_OFFLINE_CONVERSION_CALLS,
        columns=(
            _c("uuid", required=True),  # the transactional dedup key
            _c("caller_id", required=True),
            _c("call_time", required=True),
            _c("time", required=True),
            _c("amount", required=True),
            *_CONSENT,
        ),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: DestinationSchema(
        DestinationType.ADS_ENHANCED_CONVERSION_LEADS,
        columns=(
            _c("uuid", required=True),
            _c("time", required=True),
            _c("amount", required=True),
            _c("email"),
            _c("phone"),
            _c("external_attribution_credit"),
            _c("external_attribution_model"),
            *_CONSENT,
        ),
        groups=(("email", "phone"),),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.ADS_SSD_UPLOAD: DestinationSchema(
        DestinationType.ADS_SSD_UPLOAD,
        columns=(
            _c("email"),
            _c("phone"),
            _c("mailing_address_first_name"),
            _c("mailing_address_last_name"),
            _c("mailing_address_country"),
            _c("mailing_address_zip"),
            _c("time", required=True),
            _c("amount", required=True),
        ),
        groups=(("email", "phone", "mailing_address_first_name"),),
    ),
    DestinationType.ADS_SSI_UPLOAD: DestinationSchema(
        DestinationType.ADS_SSI_UPLOAD,
        columns=(
            _c("email"),
            _c("phone"),
            _c("mailing_address_first_name"),
            _c("mailing_address_last_name"),
            _c("mailing_address_country"),
            _c("mailing_address_zip"),
            _c("time", required=True),
            _c("amount", required=True),
            _c("currency_code", required=True),
            _c("custom_value"),
        ),
        groups=(("email", "phone", "mailing_address_first_name"),),
    ),
    DestinationType.ADS_ENHANCED_CONVERSION: DestinationSchema(
        DestinationType.ADS_ENHANCED_CONVERSION,
        columns=(_c(".*", pattern=True),),
    ),
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: DestinationSchema(
        DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD,
        columns=(
            _c("email"),
            _c("phone"),
            _c("mailing_address_first_name"),
            _c("mailing_address_last_name"),
            _c("mailing_address_country"),
            _c("mailing_address_zip"),
        ),
        groups=(("email", "phone", "mailing_address_first_name"),),
    ),
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: DestinationSchema(
        DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD,
        columns=(_c("mobile_device_id", required=True),),
    ),
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: DestinationSchema(
        DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD,
        columns=(_c("user_id", required=True),),
    ),
    DestinationType.GA_USER_LIST_UPLOAD: DestinationSchema(
        DestinationType.GA_USER_LIST_UPLOAD,
        columns=(_c(".*", pattern=True),),
    ),
    DestinationType.APPSFLYER_S2S_EVENTS: DestinationSchema(
        DestinationType.APPSFLYER_S2S_EVENTS,
        columns=(
            _c("uuid", required=True),
            _c("appsflyer_id", required=True),
            _c("customer_user_id"),
            _c("ip"),
            _c(r"device_ids_.*", pattern=True),
            _c("event_eventName", required=True),
            _c("event_eventCurrency"),
            _c("event_eventTime"),
            _c("event_eventValue"),
        ),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.GA_MEASUREMENT_PROTOCOL: DestinationSchema(
        DestinationType.GA_MEASUREMENT_PROTOCOL,
        columns=(
            _c("uuid", required=True),
            _c("client_id"),
            _c("user_id"),
            _c("event_category", required=True),
            _c("event_action", required=True),
            _c("event_label"),
            _c("event_value"),
            _c(r"c[dm]\d+", pattern=True),
            _c("campaign_source"),
            _c("campaign_medium"),
        ),
        groups=(("client_id", "user_id"),),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.GA_DATA_IMPORT: DestinationSchema(
        DestinationType.GA_DATA_IMPORT,
        columns=(_c(r"cd\d+", pattern=True),),
    ),
    DestinationType.GA_4_MEASUREMENT_PROTOCOL: DestinationSchema(
        DestinationType.GA_4_MEASUREMENT_PROTOCOL,
        columns=(
            _c("uuid", required=True),
            _c("app_instance_id"),
            _c("client_id"),
            _c("name"),
            _c("user_id"),
            _c(".*", pattern=True),
        ),
        groups=(("app_instance_id", "client_id"),),
        transactional_type=TransactionalType.UUID,
    ),
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: DestinationSchema(
        DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD,
        columns=(
            _c("email"),
            _c("phone"),
            _c("mailing_address_first_name"),
            _c("mailing_address_last_name"),
            _c("mailing_address_country_name"),
            _c("mailing_address_zip_name"),
        ),
        groups=(("email", "phone", "mailing_address_first_name"),),
    ),
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: DestinationSchema(
        DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD,
        columns=(_c("mobile_device_id", required=True),),
    ),
}


def get_schema(destination_type: DestinationType) -> DestinationSchema:
    return SCHEMAS[destination_type]


def aggregate_custom_variables(df: DataFrame, key: str = "uuid") -> DataFrame:
    """Campaign Manager customVariables nesting (SURVEY P7).

    Reference data_schemas.py:392-413: rows sharing a uuid each carry one
    (customVariables.type, customVariables.value) pair; the treatment
    collapses them to ONE row per remaining-column-combination whose
    ``customVariables`` is the array of {type,value} structs of the whole
    uuid group.

    Spark-first: groupBy(uuid).agg(sort_array(collect_list(struct(...))))
    + rejoin + dropDuplicates — a single shuffle on the group key, no
    Python. sort_array makes the array order deterministic (the reference
    inherits pandas group order, which is source order — unspecified for a
    distributed read).
    """
    tcol, vcol = "customVariables.type", "customVariables.value"
    if not set([tcol, vcol]).issubset(df.columns):
        return df
    t, v = F.col(f"`{tcol}`"), F.col(f"`{vcol}`")
    agg = (
        df.where(t.isNotNull())
        .groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(t.alias("type"), v.alias("value")))
            ).alias("customVariables")
        )
    )
    rest = df.drop(tcol, vcol).dropDuplicates()
    return rest.join(agg, on=key, how="left")
