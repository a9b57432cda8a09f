from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
    TransactionalType,
)

__all__ = [
    "AccountConfig",
    "Destination",
    "DestinationType",
    "Execution",
    "Source",
    "SourceType",
    "TransactionalType",
]
