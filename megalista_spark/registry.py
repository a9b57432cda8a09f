"""Extension surface: register a new destination in one call.

The reference's extension point is the THIRD_PARTY_STEPS list — a new
DestinationType + schema entry + step + uploader wired in
third_party/__init__.py:1-6 and consumed at processing_steps.py:669-671.
Here the same contract is a single registration that plugs into every
registry the pipeline consults:

    register_destination(
        "MY_CRM_UPLOAD",
        schema=DestinationSchema(...),
        batch_size=500,
        transform=my_transform,         # optional DataFrame -> DataFrame
        rate_limit_per_sec=100,         # optional, events/s in total
    )

After registration the destination type is usable from config files,
``Pipeline`` routes to it, and the sink executor applies its batch size
and rate limit.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from megalista_spark.models.execution import DestinationType
from megalista_spark.schema.registry import SCHEMAS, DestinationSchema
from megalista_spark.sinks.executor import BATCH_SIZES, DEFAULT_BATCH_SIZE, RATE_LIMITS


def register_destination(
    name: str,
    schema: DestinationSchema,
    batch_size: int = DEFAULT_BATCH_SIZE,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    rate_limit_per_sec: float | None = None,
) -> DestinationType:
    """Add a destination type at runtime. Returns the (possibly new) enum
    member; idempotent for repeated registration under the same name."""
    try:
        dtype = DestinationType[name]
    except KeyError:
        # extend the enum in place (Python enums are closed; the documented
        # aliasing trick keeps identity semantics for lookups by name)
        dtype = object.__new__(DestinationType)
        dtype._name_ = name
        dtype._value_ = name
        DestinationType._member_map_[name] = dtype
        DestinationType._value2member_map_[name] = dtype
        DestinationType._member_names_.append(name)

    # the registration may carry a schema built for a placeholder type;
    # rebind it to the real enum member
    if schema.destination_type is not dtype:
        schema = DestinationSchema(
            destination_type=dtype,
            columns=schema.columns,
            groups=schema.groups,
            transactional_type=schema.transactional_type,
        )
    SCHEMAS[dtype] = schema
    BATCH_SIZES[dtype] = batch_size
    if rate_limit_per_sec is not None:
        RATE_LIMITS[dtype] = rate_limit_per_sec
    if transform is not None:
        from megalista_spark.pipeline import _TRANSFORMS

        _TRANSFORMS[dtype] = transform
    return dtype
